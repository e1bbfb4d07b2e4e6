package graft.spotify

import graft.SparkSpec
import java.nio.file.{Files, LinkOption, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.storage.StorageLevel

/** End-to-end offline runs: explicit raw file, and the synthesized-empty
  * fallback (`dags/spotify_etl_dag.py:137-176` semantics).
  */
class PipelineSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def tmpConfigFile(base: String, format: String = "parquet"): String = {
    val yaml = s"""output:
                  |  base_dir: $base
                  |  format: $format
                  |""".stripMargin
    val p = Files.createTempFile("cfg", ".yaml")
    Files.writeString(p, yaml)
    p.toString
  }

  private def tmpConfig(base: String, format: String = "parquet"): AppConfig =
    AppConfig.load(Some(tmpConfigFile(base, format)), env = Map.empty)

  test("offline run with explicit raw file writes processed+final zones") {
    val base = Files.createTempDirectory("graft_run").toString
    val res = Pipeline.run(spark, tmpConfig(base),
      rawPathOverride = Some(fixturePath("spotify_raw_fixture.json")))
    assert(res.status == "success", res.error)
    assert(res.stats("albums") == 2)
    assert(res.stats("tracks") == 3)
    assert(res.stats("audio_features") == 2)
    assert(res.stats("tracks_with_features") == 3)
    assert(res.stats("categories") == 0)
    // categories is empty -> skipped by the empty-table guard (load.py:100-102)
    assert(!res.outputs.keySet.exists(_.endsWith("/categories")))
    // a written table is readable back and latest-pointer resolves
    val albumsOut = res.outputs(s"$base/processed/albums")
    assert(spark.read.parquet(albumsOut).count() == 2)
    assert(Writers.latestPath(s"$base/processed", "albums").contains(albumsOut))
  }

  test("no client, no raw file: synthesizes empty dataset and succeeds") {
    val base = Files.createTempDirectory("graft_empty").toString
    val res = Pipeline.run(spark, tmpConfig(base))
    assert(res.status == "success", res.error)
    assert(res.stats.values.forall(_ == 0))
    assert(res.outputs.isEmpty) // all tables empty -> all writes skipped
    assert(res.rawPath.exists(p => Files.exists(Paths.get(p))))
  }

  test("unsupported output format fails the run, not the JVM") {
    val base = Files.createTempDirectory("graft_bad").toString
    val res = Pipeline.run(spark, tmpConfig(base, format = "xml"),
      rawPathOverride = Some(fixturePath("spotify_raw_fixture.json")))
    assert(res.status == "failed")
    assert(res.error.exists(_.contains("Formato no soportado")))
  }

  test("unsupported output format fails an all-empty run before extraction") {
    val base = Files.createTempDirectory("graft_bad_empty").toString
    val res = Pipeline.run(spark, tmpConfig(base, format = "xml"))
    assert(res.status == "failed")
    assert(res.error.exists(_.contains("Formato no soportado")))
    // checked before the offline fallback would synthesize a raw file
    assert(!Files.exists(Paths.get(base, "raw")))
  }

  /** One entry per scan of the raw fixture in `plan`: the cache whose
    * fill runs it, or None for a scan outside any cache. */
  private def rawScans(plan: SparkPlan, via: Option[AnyRef] = None): Seq[Option[AnyRef]] =
    collectWithSubqueries(plan) {
      case s: FileSourceScanExec if s.relation.location.rootPaths
          .exists(_.getName == "spotify_raw_fixture.json") => Seq(via)
      case i: InMemoryTableScanExec =>
        rawScans(i.relation.cachedPlan, Some(i.relation.cacheBuilder))
    }.flatten

  /** Nothing a run over the fixture started is left: no RDD persisted
    * since `persisted` was read, no cached plan for the parsed fixture or
    * any table over it (a later run would reuse one), no worker thread. */
  private def assertReleased(persisted: collection.Set[Int]): Unit = {
    assert((spark.sparkContext.getPersistentRDDs.keySet -- persisted).isEmpty)
    val raw = Pipeline.readRaw(spark, fixturePath("spotify_raw_fixture.json"))
    assert((raw +: Transforms.all(spark, raw).values.toSeq)
      .forall(_.storageLevel == StorageLevel.NONE))
    assert(!Thread.getAllStackTraces.keySet.asScala
      .exists(t => t.isAlive && t.getName.startsWith("spotify-pipeline-")))
  }

  test("run: caller's job group on every job, raw parsed once, nothing left behind") {
    val base = Files.createTempDirectory("graft_shape").toString
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val (res, jobs, plans) = observed {
      spark.sparkContext.setJobGroup("spec-run", "pipeline under test")
      try Pipeline.run(spark, tmpConfig(base),
        rawPathOverride = Some(fixturePath("spotify_raw_fixture.json")))
      finally spark.sparkContext.clearJobGroup()
    }
    assert(res.status == "success", res.error)
    // (a) the chains' threads inherit the caller's local properties
    assert(jobs.nonEmpty)
    assert(jobs.forall(_.properties.getProperty("spark.jobGroup.id") == "spec-run"),
      jobs.map(j => j.jobId -> j.properties.getProperty("spark.jobGroup.id")))
    // (b) every plan reads the raw file through one cache, which fills once
    val scans = plans.flatMap(qe => rawScans(qe.executedPlan))
    assert(scans.nonEmpty)
    assert(!scans.contains(None), "raw file scanned outside the cache")
    assert(scans.distinct.size == 1, s"raw file read by ${scans.distinct.size} caches")
    // (c) caches released and worker threads ended
    assertReleased(persisted)
  }

  test("run: a failed zone write fails the run after every chain has finished") {
    val base = Files.createTempDirectory("graft_fail").toString
    // a regular file where the processed zone's directory should be
    Files.writeString(Paths.get(base, "processed"), "")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val res = Pipeline.run(spark, tmpConfig(base),
      rawPathOverride = Some(fixturePath("spotify_raw_fixture.json")))
    assert(res.status == "failed")
    assert(res.error.isDefined)
    assertReleased(persisted)
  }

  test("run: one Spark write per non-empty table, and no count job") {
    val base = Files.createTempDirectory("graft_jobs").toString
    val (res, jobs, plans) = observed {
      Pipeline.run(spark, tmpConfig(base),
        rawPathOverride = Some(fixturePath("spotify_raw_fixture.json")))
    }
    assert(res.status == "success", res.error)
    val nonEmpty = res.stats.count(_._2 > 0)
    assert(nonEmpty == 4, res.stats)
    // one write command per non-empty table, all into the processed zone
    val writes = plans.map(_.logical).collect {
      case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toUri.getPath
    }
    assert(writes.size == nonEmpty, plans.map(_.logical.nodeName))
    assert(writes.forall(_.startsWith(s"$base/processed/")), writes)
    // no exchange, so no broadcast: the merged view's join runs inside the
    // document's one partition
    val exchanges = plans.flatMap(qe => collectWithSubqueries(qe.executedPlan) {
      case e: Exchange => e.nodeName
    })
    assert(exchanges.isEmpty, exchanges)
    // every job runs inside one of those writes' SQL executions: no count
    // and no other action runs one of its own
    val executions = jobs.map(j => Option(j.properties.getProperty("spark.sql.execution.id")))
    assert(!executions.contains(None))
    assert(executions.distinct.size == nonEmpty, executions)
    // and each write runs one job besides AQE's reads of the raw cache
    // (jobs whose final RDD is the cached one)
    val writeJobs = jobs.filterNot(_.stageInfos.maxBy(_.stageId).rddInfos.head.storageLevel.isValid)
    assert(writeJobs.map(_.properties.getProperty("spark.sql.execution.id")).sorted ==
      executions.flatten.distinct.sorted, jobs.map(j => j.jobId -> j.stageInfos.map(
        _.rddInfos.map(r => s"${r.name}:${r.storageLevel.description}"))))
  }

  private def listing(dir: Path): Seq[Path] = {
    val entries = Files.list(dir)
    try entries.iterator.asScala.toSeq finally entries.close()
  }

  /** File name -> bytes of every file in `dir` (hidden checksums too). */
  private def contents(dir: Path): Map[String, Seq[Byte]] =
    listing(dir).map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq).toMap

  for (format <- Seq("csv", "parquet"))
    test(s"run ($format): the final zone holds the processed zone's files; each zone points into itself") {
      val base = Files.createTempDirectory(s"graft_zones_$format").toString
      val res = Pipeline.run(spark, tmpConfig(base, format),
        rawPathOverride = Some(fixturePath("spotify_raw_fixture.json")))
      assert(res.status == "success", res.error)
      val tables = res.stats.collect { case (t, n) if n > 0 => t }
      assert(tables.size == 4, res.stats)
      tables.foreach { t =>
        val proc = Paths.get(res.outputs(s"$base/processed/$t"))
        val fin = Paths.get(res.outputs(s"$base/final/$t"))
        assert(proc.getParent == Paths.get(base, "processed") &&
          proc.getFileName.toString.matches(s"spotify_${t}_\\d{8}_\\d{6}\\.$format"), proc)
        assert(fin.getParent == Paths.get(base, "final") &&
          fin.getFileName.toString.matches(s"spotify_final_${t}_\\d{8}_\\d{6}\\.$format"), fin)
        val written = contents(proc)
        assert(written.keySet.exists(_.startsWith("part-")), written.keySet)
        assert(contents(fin) == written, t)
        for (out <- Seq(proc, fin)) {
          val zone = out.getParent
          assert(Files.readString(zone.resolve(s"latest/$t.path")) == out.toString)
          assert(Files.readSymbolicLink(zone.resolve(s"${t}_latest.csv")) == out.toAbsolutePath)
        }
      }
    }

  test("run: a table empty only at run time leaves no output in either zone") {
    // releases with tracks, but every audio-feature entry is null: the
    // features table is empty only once the filter has run
    val track = (id: String, n: Int) =>
      s"""{"id": "$id", "name": "T$n", "track_number": $n, "duration_ms": 1000,
         | "explicit": false, "artists": [{"id": "ar1", "name": "X"}],
         | "external_urls": {"spotify": "https://t/$id"}}""".stripMargin
    val doc = s"""{"extraction_timestamp": "2024-06-01T12:00:00Z",
      | "releases": [{"album_id": "a1", "album_name": "A", "album_type": "album",
      |   "release_date": "2024-01-01", "total_tracks": 2, "popularity": 5,
      |   "artists": [{"id": "ar1", "name": "X"}],
      |   "tracks": [${track("t1", 1)}, ${track("t2", 2)}]}],
      | "audio_features": [null, null], "categories": []}""".stripMargin
    val raw = Files.createTempFile("raw_null_features", ".json")
    Files.writeString(raw, doc)
    val base = Files.createTempDirectory("graft_runtime_empty").toString
    val res = Pipeline.run(spark, tmpConfig(base), rawPathOverride = Some(raw.toString))
    assert(res.status == "success", res.error)
    assert(res.stats("audio_features") == 0)
    assert(res.stats("albums") == 1 && res.stats("tracks") == 2)
    assert(res.stats("tracks_with_features") == 2)
    for (zone <- Seq("processed", "final")) {
      val dir = Paths.get(base, zone)
      val names = listing(dir).map(_.getFileName.toString)
      assert(!names.exists(_.contains("_audio_features_")), names)
      assert(!Files.exists(dir.resolve("latest/audio_features.path")))
      assert(!Files.exists(dir.resolve("audio_features_latest.csv"), LinkOption.NOFOLLOW_LINKS))
      Seq("albums", "tracks", "tracks_with_features").foreach { t =>
        assert(Writers.latestPath(dir.toString, t).contains(res.outputs(s"$base/$zone/$t")))
      }
      val merged = spark.read.parquet(res.outputs(s"$base/$zone/tracks_with_features"))
      assert(merged.count() == 2)
      Seq("danceability", "energy", "loudness", "tempo").foreach { c =>
        assert(merged.filter(merged(c).isNotNull).isEmpty, c)
      }
    }
  }

  test("CLI: offline run exits 0 and renders the full run report") {
    val base = Files.createTempDirectory("graft_cli").toString
    val (code, summary) = Main.runCli(
      Array("--config", tmpConfigFile(base)), spark,
      rawPathOverride = Some(fixturePath("spotify_raw_fixture.json")),
      env = Map.empty)
    assert(code == 0, summary)
    // the DAG notification's content (spotify_etl_dag.py:276-322):
    // status + elapsed, per-table counts, output locations
    assert(summary.contains("ETL completed in"))
    assert(summary.contains("albums: 2 rows"))
    assert(summary.contains("tracks: 3 rows"))
    assert(summary.contains("audio_features: 2 rows"))
    assert(summary.contains("tracks_with_features: 3 rows"))
    assert(summary.contains(s"wrote $base/processed/albums -> "))
    assert(summary.contains(s"wrote $base/final/tracks_with_features -> "))
  }

  test("CLI: unsupported output format exits 1 with the failure report") {
    val base = Files.createTempDirectory("graft_cli_bad").toString
    val (code, summary) = Main.runCli(
      Array("--config", tmpConfigFile(base, format = "xml")), spark,
      rawPathOverride = Some(fixturePath("spotify_raw_fixture.json")),
      env = Map.empty)
    assert(code == 1)
    assert(summary.contains("ETL failed"), summary)
    assert(summary.contains("Formato no soportado"), summary)
  }

  test("config: env overrides yaml, dot-path defaults work") {
    val cfg = AppConfig.load(None, env = Map("SPOTIFY_OUTPUT_FORMAT" -> "parquet"))
    assert(cfg.getString("output.format") == "parquet") // env wins
    assert(cfg.getString("output.base_dir", "x") == "data") // default yaml
    assert(cfg.getInt("parameters.limit", 99) == 10)
    assert(cfg.getString("missing.path", "fallback") == "fallback")
    // null-valued yaml keys (parameters.country: null) behave as absent
    assert(cfg.get("parameters.country").isEmpty)
    assert(cfg.getString("parameters.country", null) == null)
  }

  test("offline client extraction composes the raw document") {
    val releases = """{"albums": {"items": [
        {"id": "a1", "name": "A", "type": "album", "release_date": "2020",
         "total_tracks": 1, "artists": [{"id": "ar1", "name": "X"}],
         "images": [{"url": "http://img"}],
         "external_urls": {"spotify": "http://alb"},
         "available_markets": ["US"]}]}}"""
    val tracks = """{"items": [{"id": "t1", "name": "T", "track_number": 1,
        "duration_ms": 1000, "explicit": false, "artists": [],
        "external_urls": {"spotify": "http://trk"}}]}"""
    val artist = """{"id": "ar1", "name": "X", "popularity": 5,
        "genres": ["g"], "followers": {"total": 1}}"""
    val feats = """{"audio_features": [{"id": "t1", "danceability": 0.5,
        "energy": 0.5, "loudness": -5, "tempo": 100}]}"""
    val cats = """{"categories": {"items": [{"id": "c", "name": "C", "href": "h"}]}}"""
    val client = new SpotifyClient(new OfflineTransport(Map(
      "/browse/new-releases" -> releases,
      "/albums/a1/tracks" -> tracks,
      "/artists/ar1" -> artist,
      "/audio-features" -> feats,
      "/browse/categories" -> cats)))
    val json = client.extractFullDataset()
    val p = Files.createTempFile("raw", ".json")
    Files.writeString(p, json)
    val tables = Transforms.all(spark, Pipeline.readRaw(spark, p.toString), Some("2024-01-01"))
    assert(tables("albums").count() == 1)
    assert(tables("tracks").count() == 1)
    assert(tables("audio_features").count() == 1)
    val a = tables("albums").head
    assert(a.getAs[String]("main_artist_id") == "ar1")
    assert(a.getAs[String]("artist_genres") == "g")
  }

  test("fetch seam runs executor-side: one transport per partition over an id frame") {
    // the SURVEY §7.3 scale-out shape for a large id space: the id
    // DataFrame is partitioned, and each partition builds ONE transport +
    // client (the expensive init) and streams its ids through it — the
    // same client the driver-side extraction uses, verbatim
    import spark.implicits._
    val responses = (1 to 8).map { i =>
      s"/artists/ar$i" ->
        s"""{"id": "ar$i", "name": "Artist$i", "popularity": $i}"""
    }.toMap
    val inits = spark.sparkContext.longAccumulator("transport_inits")
    val ids = spark.createDataset((1 to 8).map(i => s"ar$i") :+ "ar_missing")
      .repartition(4)
    val fetched = ids.mapPartitions { it =>
      inits.add(1) // per-PARTITION init point, executor-side
      val client = new SpotifyClient(new OfflineTransport(responses))
      it.map { id =>
        val node = client.getArtistInfo(id)
        (id, node.map(_.path("name").asText).orNull,
          node.map(_.path("popularity").asInt).getOrElse(-1))
      }
    }.collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(fetched.size == 9)
    (1 to 8).foreach { i =>
      assert(fetched(s"ar$i") == ((s"Artist$i", i)), s"ar$i")
    }
    // error->None semantics survive the executor-side path
    assert(fetched("ar_missing") == ((null, -1)))
    // exactly one transport per (non-empty) partition, not one per id
    assert(inits.value == 4L, s"expected 4 partition inits, got ${inits.value}")
  }
}
