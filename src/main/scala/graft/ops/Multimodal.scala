package graft.ops

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque `binary` payloads + typed metadata,
  * processed by batched per-partition codecs — the shape an image/audio/
  * video feature-extraction stage takes at 100 TB (codec libraries run
  * inside `mapPartitions`, one initialization per partition, never per
  * row; the driver never sees payload bytes).
  *
  * The IMAGE path is REAL: a deterministic PNG is synthesized per
  * document (every channel of every pixel is an integer function of
  * `(doc_id, x, y)`), encoded and decoded with JDK ImageIO
  * (`javax.imageio`, module java.desktop — no external dependency), and
  * the graded q25 aggregates the DECODED pixel statistics. The DuckDB
  * oracle recomputes the same integers arithmetically from `doc_id`, so
  * a decode that misread any pixel, dimension, or channel would
  * hash-mismatch — the planted-value pattern q48 uses for PII. Resize is
  * a real `Graphics2D` rescale through the same encode/decode pair.
  *
  * The AUDIO path is real the same way (see [[AudioCodec]]): 16-bit PCM
  * WAVs synthesized per document, round-tripped through JDK
  * `javax.sound.sampled.AudioSystem`, graded as q62.
  *
  * Video frame extraction remains a byte-level stand-in (`sampleFrames`
  * — no video codec ships with the JDK): the flatMap-over-partitions
  * plumbing is real and tested, the "frames" are fixed-size byte slices.
  */
object Multimodal {

  // ImageIO defaults to a DISK-backed stream cache: every
  // ImageIO.read/write on a non-file stream round-trips the payload
  // through a temp file (guide §1.2 "per-task work"). All payloads
  // here are in-memory byte arrays, so the temp file is pure overhead
  // — and at high task concurrency the create/delete traffic
  // serializes on the filesystem (q25's 8-core run was FASTER than
  // its 32-core run before this). Memory-backed caching decodes the
  // identical bytes; set once per JVM at first codec use (this object
  // initializes before any method on it or its nested codecs runs,
  // driver or executor).
  ImageIO.setUseCache(false)

  final case class MediaMeta(mime: String, source: String, lang: String)
  final case class MediaRow(doc_id: Long, content: Array[Byte], meta: MediaMeta)
  final case class ImageFeatures(doc_id: Long, lang: String, width: Long,
      height: Long, n_pixels: Long, sum_red: Long, sum_green: Long,
      sum_blue: Long)

  /** Deterministic PNG codec. Dimensions and channel values are integer
    * functions of `(doc_id, x, y)` — the formulas q25's oracle SQL
    * mirrors (`4 + doc_id % 5` wide, `3 + doc_id % 4` tall, channels
    * linear in doc_id/x/y mod 256). PNG is lossless and the image is
    * `TYPE_INT_RGB`, so the decoded pixels are bit-identical to the
    * encoded ones on any JVM.
    */
  object ImageCodec {
    def width(docId: Long): Int = (4 + docId % 5).toInt
    def height(docId: Long): Int = (3 + docId % 4).toInt
    def red(docId: Long, x: Int, y: Int): Int =
      ((docId * 31 + x * 7 + y * 13) % 256).toInt
    def green(docId: Long, x: Int, y: Int): Int =
      ((docId * 17 + x * 3 + y * 5) % 256).toInt
    def blue(docId: Long, x: Int, y: Int): Int =
      ((docId * 11 + x + y) % 256).toInt

    def encode(docId: Long): Array[Byte] = {
      val w = width(docId)
      val h = height(docId)
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          img.setRGB(x, y,
            (red(docId, x, y) << 16) | (green(docId, x, y) << 8) |
              blue(docId, x, y))
          x += 1
        }
        y += 1
      }
      toPng(img)
    }

    /** Real ImageIO decode: dimensions + per-channel pixel sums. */
    def decode(docId: Long, lang: String, bytes: Array[Byte]): ImageFeatures = {
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      val w = img.getWidth
      val h = img.getHeight
      var (sr, sg, sb) = (0L, 0L, 0L)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          sr += (rgb >> 16) & 0xff
          sg += (rgb >> 8) & 0xff
          sb += rgb & 0xff
          x += 1
        }
        y += 1
      }
      ImageFeatures(docId, lang, w.toLong, h.toLong, w.toLong * h, sr, sg, sb)
    }

    def toPng(img: BufferedImage): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      ImageIO.write(img, "png", out)
      out.toByteArray
    }
  }

  /** Synthesize the image table from `documents`: one real PNG per
    * document (encoded inside the partition — the driver never holds
    * payload bytes), with typed metadata.
    */
  def imageTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"))
      .as[(Long, String, String)]
      .mapPartitions { rows =>
        rows.map { case (id, source, lang) =>
          MediaRow(id, ImageCodec.encode(id), MediaMeta("image/png", source, lang))
        }
      }
  }

  /** Batched feature extraction: one codec per partition (the expensive
    * init — codec contexts, model weights — is amortized), rows streamed
    * through a REAL ImageIO decode. This is the Scala analogue of a
    * pandas-batched UDF over `mapInPandas`.
    */
  def decodeImages(spark: SparkSession, dir: String): Dataset[ImageFeatures] = {
    import spark.implicits._
    imageTable(spark, dir).mapPartitions { rows =>
      val codec = ImageCodec // per-partition init point
      rows.map(r => codec.decode(r.doc_id, r.meta.lang, r.content))
    }
  }

  /** Real image resize: decode, `Graphics2D` rescale to the target
    * dimensions, re-encode — partition-batched like the decode.
    */
  def resizeImages(spark: SparkSession, media: Dataset[MediaRow],
      targetW: Int, targetH: Int): Dataset[MediaRow] = {
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val img = ImageIO.read(new ByteArrayInputStream(r.content))
        val scaled = new BufferedImage(targetW, targetH,
          BufferedImage.TYPE_INT_RGB)
        val g = scaled.createGraphics()
        try g.drawImage(img, 0, 0, targetW, targetH, null)
        finally g.dispose()
        r.copy(content = ImageCodec.toPng(scaled))
      }
    }
  }

  final case class AudioFeatures(doc_id: Long, lang: String,
      n_samples: Long, sum_abs: Long, peak: Long, n_zero_cross: Long)

  /** Deterministic WAV codec — the AUDIO path is REAL in the same sense
    * the image path is: a 16-bit PCM mono WAV is synthesized per
    * document (every sample an integer function of `(doc_id, i)`),
    * encoded and decoded through JDK `javax.sound.sampled.AudioSystem`
    * (module java.desktop — no external dependency), and the graded q62
    * aggregates features of the DECODED samples. PCM is lossless, so a
    * decode that misread the header, frame size, or byte order would
    * shift every sample and hash-mismatch against the oracle's
    * arithmetic recomputation.
    */
  object AudioCodec {
    private val Format = new javax.sound.sampled.AudioFormat(
      8000f, 16, 1, true, false) // 16-bit signed PCM, mono, little-endian

    def nSamples(docId: Long): Int = (50 + docId % 32).toInt
    def sample(docId: Long, i: Int): Int =
      ((docId * 131 + i.toLong * 37) % 65536).toInt - 32768

    def encode(docId: Long): Array[Byte] = {
      val n = nSamples(docId)
      val pcm = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        val s = sample(docId, i)
        pcm(i * 2) = (s & 0xff).toByte // little-endian
        pcm(i * 2 + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      val out = new ByteArrayOutputStream()
      val stream = new javax.sound.sampled.AudioInputStream(
        new ByteArrayInputStream(pcm), Format, n.toLong)
      javax.sound.sampled.AudioSystem.write(stream,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }

    /** Real AudioSystem decode: parse the WAV container, stream the PCM
      * frames, and fold sample statistics. Zero crossings are strict
      * sign flips (`s_{i-1} * s_i < 0`); zero-valued samples break a
      * flip, mirroring the oracle's predicate exactly.
      */
    def decode(docId: Long, lang: String, bytes: Array[Byte]): AudioFeatures = {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new ByteArrayInputStream(bytes))
      val frameBytes = in.getFormat.getFrameSize
      val buf = in.readAllBytes()
      in.close()
      val n = buf.length / frameBytes
      var (sumAbs, peak, crossings) = (0L, 0L, 0L)
      var prev = 0
      var i = 0
      while (i < n) {
        val s = ((buf(i * 2 + 1) << 8) | (buf(i * 2) & 0xff))
        sumAbs += math.abs(s.toLong)
        if (math.abs(s.toLong) > peak) peak = math.abs(s.toLong)
        if (i > 0 && prev.toLong * s < 0) crossings += 1
        prev = s
        i += 1
      }
      AudioFeatures(docId, lang, n.toLong, sumAbs, peak, crossings)
    }
  }

  /** Synthesize the audio table from `documents`: one real WAV per
    * document, encoded inside the partition like [[imageTable]].
    */
  def audioTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"))
      .as[(Long, String, String)]
      .mapPartitions { rows =>
        rows.map { case (id, source, lang) =>
          MediaRow(id, AudioCodec.encode(id), MediaMeta("audio/wav", source, lang))
        }
      }
  }

  /** Partition-batched WAV decode, the audio twin of [[decodeImages]]. */
  def decodeAudio(spark: SparkSession, dir: String): Dataset[AudioFeatures] = {
    import spark.implicits._
    audioTable(spark, dir).mapPartitions { rows =>
      val codec = AudioCodec // per-partition init point
      rows.map(r => codec.decode(r.doc_id, r.meta.lang, r.content))
    }
  }

  /** Real audio downsample: decode the WAV, keep every `factor`-th PCM
    * sample (decimation — the honest no-filter resample), re-encode —
    * the audio twin of [[resizeImages]], partition-batched.
    */
  def decimateAudio(spark: SparkSession, media: Dataset[MediaRow],
      factor: Int): Dataset[MediaRow] = {
    import spark.implicits._
    require(factor >= 1, s"factor must be >= 1, got $factor")
    media.mapPartitions { rows =>
      rows.map { r =>
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new ByteArrayInputStream(r.content))
        val fmt = in.getFormat
        val buf = in.readAllBytes()
        in.close()
        val frameBytes = fmt.getFrameSize
        val n = buf.length / frameBytes
        val kept = (0 until n by factor).toArray
        val outPcm = new Array[Byte](kept.length * frameBytes)
        var i = 0
        while (i < kept.length) {
          System.arraycopy(buf, kept(i) * frameBytes, outPcm,
            i * frameBytes, frameBytes)
          i += 1
        }
        val outFmt = new javax.sound.sampled.AudioFormat(
          fmt.getSampleRate / factor, fmt.getSampleSizeInBits,
          fmt.getChannels, true, fmt.isBigEndian)
        val out = new ByteArrayOutputStream()
        val stream = new javax.sound.sampled.AudioInputStream(
          new ByteArrayInputStream(outPcm), outFmt, kept.length.toLong)
        javax.sound.sampled.AudioSystem.write(stream,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
        r.copy(content = out.toByteArray)
      }
    }
  }

  /** Per-language aggregate of the DECODED audio features (graded q62). */
  def audioStats(spark: SparkSession, dir: String): DataFrame =
    decodeAudio(spark, dir).toDF()
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("n_samples")).as("sum_samples"),
        sum(col("sum_abs")).as("sum_abs"),
        max(col("peak")).as("max_peak"),
        sum(col("n_zero_cross")).as("sum_zero_cross"))
      .orderBy("lang")

  final case class MediaFrame(doc_id: Long, frame_idx: Int, frame: Array[Byte])

  /** STAND-IN frame sampling: the JDK has no video codec, so "frames"
    * are fixed-size byte slices of the payload with every `every`-th
    * slice emitted. The flatMap-over-partitions shape (one output row
    * per kept frame) is exactly what a real video decoder plugs into.
    */
  def sampleFrames(spark: SparkSession, media: Dataset[MediaRow],
      frameSize: Int, every: Int): Dataset[MediaFrame] = {
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        r.content.grouped(frameSize).zipWithIndex.collect {
          case (frame, idx) if idx % every == 0 =>
            MediaFrame(r.doc_id, idx, frame)
        }
      }
    }
  }

  /** Per-language aggregate of the DECODED image features (graded q25). */
  def featureStats(spark: SparkSession, dir: String): DataFrame =
    decodeImages(spark, dir).toDF()
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("width")).as("sum_width"),
        sum(col("height")).as("sum_height"),
        sum(col("n_pixels")).as("sum_pixels"),
        sum(col("sum_red")).as("sum_red"),
        sum(col("sum_green")).as("sum_green"),
        sum(col("sum_blue")).as("sum_blue"))
      .orderBy("lang")

  final case class ImageHash(doc_id: Long, w: Long, h: Long, dhash: Long)
  final case class AudioFp(doc_id: Long, fp: Long)

  /** TEXTURED PCM formulas for the q130 corpus — q62's near-linear ramp
    * replaced by a cubed-and-shifted mix, `((id·131 + i·37 + 11)³ div
    * 4096) mod 2¹⁶`, whose sign bits are near-uniform AND decorrelated
    * across ids (measured: 10 background Hamming-≤3 pairs over 510
    * clips, vs >10k under any id-additive formula — linear-in-id PCM
    * shifts every sample equally, so sign patterns barely move). Max
    * intermediate (6.6e5)³ ≈ 2.8e17 fits int64 at every test scale;
    * the formula is fixture SYNTHESIS only — the operator consumes
    * whatever PCM the decoder yields. Same 16-bit arithmetic, same WAV
    * round-trip, same oracle-replayability.
    */
  private[ops] object TexturedAudio {
    def nSamples(docId: Long): Int = AudioCodec.nSamples(docId)
    def sample(docId: Long, i: Int, pert: Boolean): Int = {
      val t = docId * 131 + i.toLong * 37 + 11
      val base = (t * t * t / 4096) % 65536
      val v = if (pert && i == 0) (base + 500) % 65536 else base
      v.toInt - 32768
    }

    def encode(docId: Long, pert: Boolean): Array[Byte] = {
      val n = nSamples(docId)
      val pcm = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        val s = sample(docId, i, pert)
        pcm(i * 2) = (s & 0xff).toByte
        pcm(i * 2 + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      val out = new ByteArrayOutputStream()
      val stream = new javax.sound.sampled.AudioInputStream(
        new ByteArrayInputStream(pcm),
        new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false),
        n.toLong)
      javax.sound.sampled.AudioSystem.write(stream,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
  }

  /** Decode a WAV and fingerprint its first `AudioFpBits` samples: one
    * bit per sample's SIGN (`s(i) ≥ 0`) — the zero-crossing signature,
    * the simplest member of the acoustic-fingerprint family (Shazam /
    * Chromaprint quantize richer spectra the same way: a waveform
    * reduced to robust bits), tolerant of small amplitude retouches
    * because a ±ε nudge flips a bit only when the sample sits within ε
    * of zero. Every fixture clip has ≥ 50 samples, so the 48-bit
    * fingerprint is defined for all of them and every pair is
    * comparable.
    */
  private[ops] val AudioFpBits = 48

  private[ops] def audioFpOf(bytes: Array[Byte]): Long = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new ByteArrayInputStream(bytes))
    val buf = in.readAllBytes()
    in.close()
    def s(i: Int): Int = (buf(i * 2 + 1) << 8) | (buf(i * 2) & 0xff)
    var fp = 0L
    var i = 0
    while (i < AudioFpBits) {
      if (s(i) >= 0) fp |= 1L << i
      i += 1
    }
    fp
  }

  /** The q130 corpus: every document's textured clip plus, for each
    * `doc_id % 50 == 0`, its one-sample-retouched clone under
    * `doc_id + 10⁶` — then decode-and-fingerprint, partition-batched.
    */
  def audioFingerprints(spark: SparkSession, dir: String): Dataset[AudioFp] = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.flatMap { id =>
          val base = AudioFp(id, audioFpOf(TexturedAudio.encode(id, pert = false)))
          if (id % 50 == 0)
            Seq(base, AudioFp(id + 1000000L,
              audioFpOf(TexturedAudio.encode(id, pert = true))))
          else Seq(base)
        }
      }
  }

  /** Graded q130: AUDIO NEAR-DUPLICATE report via the banded acoustic
    * fingerprint — q129's discipline on the DECODED PCM path, closing
    * the dedup family across every modality the engine carries (text
    * q17/q19, embeddings q30, images q129, audio here). The 48-bit
    * fingerprints band into 4 × 12 bits; Hamming ≤ 3 pairs must share
    * a band (pigeonhole), the popcount verify runs on candidates only,
    * and the graded output is the single-row corpus report whose exact
    * counts against the oracle's brute-force all-pairs scan prove the
    * banding lossless.
    */
  def audioNearDups(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame = {
    val fps = CachedStages.data(audioFingerprints(spark, dir).toDF())
    def bands(side: String): DataFrame = fps
      .select(col("doc_id").as(s"id_$side"), col("fp").as(s"fp_$side"),
        explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("bv", expr(s"shiftright(fp_$side, CAST(band * 12 AS INT)) & 4095"))
    val pairs = bands("a").join(bands("b"), Seq("band", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "fp_a", "fp_b").distinct()
      .withColumn("hamming",
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
    val n = fps.agg(count(lit(1)).as("n_clips"))
    n.crossJoin(pairs.agg(
        coalesce(count(lit(1)), lit(0L)).as("n_pairs"),
        coalesce(sum(col("hamming")), lit(0L)).as("sum_hamming"),
        coalesce(sum((col("id_b") - col("id_a") === 1000000L).cast("long")),
          lit(0L)).as("n_planted")))
      .select("n_clips", "n_pairs", "sum_hamming", "n_planted")
  }

  /** TEXTURED pixel formulas for the q129 corpus — q25's linear
    * gradients made nonlinear with an `x·y` cross term per channel.
    * The q25 images are pure gradients, on which ANY
    * adjacent-comparison hash degenerates (every bit says "right is
    * brighter"); the cross term gives each image a distinct texture so
    * the dHash space is actually discriminative. Same mod-256 integer
    * arithmetic, same oracle-replayability.
    */
  private[ops] object TexturedCodec {
    def red(id: Long, x: Int, y: Int): Int =
      ((id * 31 + x * 7 + y * 13 + x.toLong * y * 29) % 256).toInt
    def green(id: Long, x: Int, y: Int): Int =
      ((id * 17 + x * 3 + y * 5 + x.toLong * y * 23) % 256).toInt
    def blue(id: Long, x: Int, y: Int): Int =
      ((id * 11 + x + y + x.toLong * y * 19) % 256).toInt

    /** pert: shift pixel (0,0)'s red by +40 mod 256 — the one-pixel
      * retouch the planted clone carries.
      */
    def encode(baseId: Long, pert: Boolean): Array[Byte] = {
      val w = ImageCodec.width(baseId)
      val h = ImageCodec.height(baseId)
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val r = if (pert && x == 0 && y == 0)
            ((baseId * 31 + 40) % 256).toInt
          else red(baseId, x, y)
          img.setRGB(x, y, (r << 16) | (green(baseId, x, y) << 8) |
            blue(baseId, x, y))
          x += 1
        }
        y += 1
      }
      ImageCodec.toPng(img)
    }
  }

  /** The q129 corpus: every document's textured image plus, for each
    * `doc_id % 50 == 0`, its one-pixel-retouched clone under
    * `doc_id + 10⁶` (the dedup family's planting convention; the clone
    * carries the BASE image's dims and texture).
    */
  def imageTableWithClones(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"))
      .as[(Long, String, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, source, lang) =>
          val base = MediaRow(id, TexturedCodec.encode(id, pert = false),
            MediaMeta("image/png", source, lang))
          if (id % 50 == 0)
            Seq(base, MediaRow(id + 1000000L,
              TexturedCodec.encode(id, pert = true),
              MediaMeta("image/png", source, lang)))
          else Seq(base)
        }
      }
  }

  /** Difference hash of a DECODED image: integer luma
    * `299·r + 587·g + 114·b` per pixel, one bit per horizontally
    * adjacent pair (`luma(x+1,y) > luma(x,y)`), packed row-major into a
    * bigint (≤ (w−1)·h ≤ 42 bits at the fixture dims). dHash is THE
    * standard perceptual image fingerprint (the pHash family): robust
    * to re-encoding and small retouches because single-channel changes
    * flip at most the bits whose comparisons cross them.
    */
  private[ops] def dHashOf(img: BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    def luma(x: Int, y: Int): Long = {
      val rgb = img.getRGB(x, y)
      299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
        114L * (rgb & 0xff)
    }
    var hash = 0L
    var idx = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w - 1) {
        if (luma(x + 1, y) > luma(x, y)) hash |= 1L << idx
        idx += 1
        x += 1
      }
      y += 1
    }
    hash
  }

  /** Decode-and-hash, partition-batched like every codec stage. */
  def imageDHashes(spark: SparkSession, dir: String): Dataset[ImageHash] = {
    import spark.implicits._
    imageTableWithClones(spark, dir).mapPartitions { rows =>
      rows.map { r =>
        val img = ImageIO.read(new ByteArrayInputStream(r.content))
        ImageHash(r.doc_id, img.getWidth.toLong, img.getHeight.toLong,
          dHashOf(img))
      }
    }
  }

  /** Graded q129: IMAGE NEAR-DUPLICATE report via banded dHash — the
    * multimodal member of the dedup family (q17 exact text, q19 MinHash
    * text, q30 embedding cosine — this one runs on DECODED PIXELS, so
    * it catches the re-encoded/retouched copies none of the others can
    * see). Same-dimension images band their ≤44-bit hash space into 4
    * slices; a pair within Hamming ≤ `maxHamming` = 3 must agree on
    * ≥ 1 band (pigeonhole — the q31 SimHash discipline), so the
    * equi-join on `(w, h, band, value)` is LOSSLESS for the threshold
    * and never all-pairs. The graded output is the per-dimension
    * REPORT — image count, near-dup pair count, Hamming mass, and
    * planted-clone recovery — report-sized at any corpus scale, and an
    * exact count match against the oracle's deliberately-unmirrored
    * brute-force within-dims scan (the q38 pattern) PROVES the banding
    * drops nothing (the verify filter means banding can only lose
    * pairs, never invent them — equal counts ⇒ lossless).
    *
    * Scale shape: ONE decode pass (mapPartitions codec) emits 4 band
    * rows per image; candidates equi-join on the band key; the exact
    * popcount verify runs only on candidates; the rollup is a ≤
    * |dims|-row aggregate. At 100 TB the hash index is 28 bytes/image.
    * Small images carry few dHash bits (9 at the 4×3 floor), so SOME
    * non-planted background pairs are genuine hash neighbours — the
    * report counts them honestly rather than pretending a 9-bit space
    * separates everything.
    */
  def imageNearDups(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame = {
    val hashes = CachedStages.data(imageDHashes(spark, dir).toDF())
    def bands(side: String): DataFrame = hashes
      .select(col("doc_id").as(s"id_$side"), col("w"), col("h"),
        col("dhash").as(s"dh_$side"),
        explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("bv", expr(s"shiftright(dh_$side, CAST(band * 11 AS INT)) & 2047"))
    val pairs = bands("a").join(bands("b"), Seq("w", "h", "band", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "w", "h", "dh_a", "dh_b").distinct()
      .withColumn("hamming",
        bit_count(col("dh_a").bitwiseXOR(col("dh_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
    val report = pairs.groupBy("w", "h")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("hamming")).as("sum_hamming"),
        sum((col("id_b") - col("id_a") === 1000000L).cast("long"))
          .as("n_planted"))
    hashes.groupBy("w", "h").agg(count(lit(1)).as("n_images"))
      .join(report, Seq("w", "h"), "left")
      .na.fill(0L, Seq("n_pairs", "sum_hamming", "n_planted"))
      .select("w", "h", "n_images", "n_pairs", "sum_hamming", "n_planted")
      .orderBy("w", "h")
  }
}
