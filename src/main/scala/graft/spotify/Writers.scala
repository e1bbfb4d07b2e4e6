package graft.spotify

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** Zoned sinks (`scripts/load.py`): timestamped outputs in
  * raw/processed/final plus a stable "latest" pointer.
  *
  * Differences from the reference, on purpose (SURVEY.md §2.7):
  *  - tables land as timestamped *directories* of part-files, because a
  *    distributed writer cannot produce one file without a `coalesce(1)`
  *    bottleneck;
  *  - the latest-pointer is an overwritten `latest/<name>` directory
  *    (object-store safe) instead of a symlink — the reference's symlink
  *    (`load.py:166-195`) has no equivalent on S3/GCS; on a local
  *    filesystem we additionally keep its `<name>_latest.csv` symlink
  *    behavior (always `.csv`-suffixed even for parquet, `load.py:181`).
  */
object Writers {

  val TimestampFmt: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")

  def timestamp(): String = LocalDateTime.now().format(TimestampFmt)

  /** Raw-zone sink (`load.py:56-79`): the raw document is ONE json object
    * per run, so it is written driver-side verbatim, not via a
    * distributed writer. Returns the written path.
    */
  def writeRawJson(json: String, rawDir: String, prefix: String = "spotify_raw",
      ts: String = timestamp()): String = {
    Files.createDirectories(Paths.get(rawDir))
    val path = Paths.get(rawDir, s"${prefix}_$ts.json")
    Files.writeString(path, json)
    path.toString
  }

  /** Unsupported output formats throw (`load.py:114-116`). */
  def checkFormat(format: String): Unit =
    if (!Seq("csv", "parquet", "json").contains(format))
      throw new IllegalArgumentException(s"Formato no soportado: $format")

  /** Table sink (`load.py:81-121`): writes `df` to
    * `{prefix}_{name}_{ts}.{format}` under the zone dir in one Spark job,
    * which also counts its rows (an `Observation` on the written plan, so
    * no separate count runs). A table with rows gets the zone's
    * latest-pointer; returns its row count and the written path. An empty
    * table (`load.py:100-102`) leaves no output directory and no pointer,
    * and returns `(0, None)`. `format` must pass `checkFormat`.
    */
  def writeTable(df: DataFrame, zoneDir: String, name: String,
      format: String = "csv", prefix: String = "spotify",
      ts: String = timestamp()): (Long, Option[String]) = {
    val out = s"$zoneDir/${prefix}_${name}_$ts.$format"
    val observed = Observation(s"${name}_rows")
    val w = df.observe(observed, count(lit(1)).as("rows")).write.mode("overwrite")
    format match {
      case "csv" => w.option("header", "true").csv(out)
      case "parquet" => w.parquet(out)
      case "json" => w.json(out)
    }
    val rows = observed.get("rows").asInstanceOf[Long]
    if (rows == 0) {
      FileUtils.deleteDirectory(new File(out))
      (0L, None)
    } else {
      updateLatest(zoneDir, name, out)
      (rows, Some(out))
    }
  }

  /** A second zone's copy of a table `writeTable` wrote: copies every file
    * of the `written` directory, on the driver, into
    * `{prefix}_{name}_{ts}.{format}` under `zoneDir`, points that zone's
    * latest-pointer at the copy and returns its path. The copy's file
    * names and bytes are the written ones, and no Spark job runs; the
    * reference writes the same frame a second time (`load.py:123-164`).
    */
  def copyTable(written: String, zoneDir: String, name: String,
      format: String, prefix: String, ts: String): String = {
    val out = Paths.get(zoneDir, s"${prefix}_${name}_$ts.$format")
    FileUtils.deleteDirectory(out.toFile) // overwrite, as the write does
    FileUtils.copyDirectory(new File(written), out.toFile)
    updateLatest(zoneDir, name, out.toString)
    out.toString
  }

  /** Latest-pointer (`load.py:166-195`): object-store-safe manifest plus
    * the reference's local symlink (`{name}_latest.csv` regardless of
    * format — faithfully odd, `load.py:181`).
    */
  private def updateLatest(zoneDir: String, name: String, target: String): Unit = {
    val manifest = Paths.get(zoneDir, "latest", s"$name.path")
    Files.createDirectories(manifest.getParent)
    val tmp = Files.createTempFile(manifest.getParent, name, ".tmp")
    Files.writeString(tmp, target)
    Files.move(tmp, manifest, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    val link = Paths.get(zoneDir, s"${name}_latest.csv")
    try {
      Files.deleteIfExists(link)
      Files.createSymbolicLink(link, Paths.get(target).toAbsolutePath)
    } catch { case _: Exception => () } // non-POSIX FS: manifest suffices
  }

  /** Resolve the latest output for a table, newest-mtime fallback mirror
    * of `dags/spotify_etl_dag.py:150-153`.
    */
  def latestPath(zoneDir: String, name: String): Option[String] = {
    val manifest = Paths.get(zoneDir, "latest", s"$name.path")
    if (Files.exists(manifest)) Some(Files.readString(manifest))
    else {
      val dir = Paths.get(zoneDir)
      if (!Files.exists(dir)) None
      else {
        import scala.jdk.CollectionConverters._
        // Anchor the match to `_{name}_<timestamp>` so name="tracks" does
        // not also match spotify_tracks_with_features_* outputs.
        val pattern = (".*_" + java.util.regex.Pattern.quote(name) +
          "_\\d{8}_\\d{6}(\\.[A-Za-z0-9]+)?$").r
        val stream = Files.list(dir)
        try {
          stream.iterator.asScala
            .filter(p => pattern.matches(p.getFileName.toString))
            .toSeq.sortBy(p => Files.getLastModifiedTime(p).toMillis)
            .lastOption.map(_.toString)
        } finally stream.close()
      }
    }
  }
}
