package graft.spotify

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The E→T→L driver (`scripts/etl_pipeline.py:184-237`) as a Spark
  * program. Stages hand off lazy DataFrames; executors run only at the
  * table writes (SURVEY.md §3.1), one per table, concurrently. Offline
  * mode (no transport, a pre-existing raw file, or nothing at all)
  * mirrors the DAG's test-mode fallback lattice
  * (`dags/spotify_etl_dag.py:137-176`):
  * explicit path → newest raw file → synthesized empty dataset.
  */
object Pipeline {

  final case class RunResult(
      status: String,
      elapsedSec: Double,
      rawPath: Option[String],
      stats: Map[String, Long],
      outputs: Map[String, String],
      error: Option[String] = None)

  val emptyRawJson: String =
    """{"extraction_timestamp": null, "releases": [], "audio_features": [], "categories": []}"""

  /** The raw document as a frame. The file is ONE pretty-printed document
    * (`load.py:73`), read whole by one task; `coalesce(1)` states that
    * single partition in the plan, so a join between two of its tables
    * needs no exchange (`Transforms.all`).
    */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.raw)
      .option("multiLine", "true")
      .json(path)
      .coalesce(1)

  /** Full run. `client=None` + no raw file ⇒ empty-dataset offline run.
    *
    * The output format is checked first, before extraction and any Spark
    * work. The raw document is parsed once, into a cache every table reads.
    * Each table then runs on its own thread, concurrently with the others,
    * and costs one Spark job: its processed-zone write, which also counts
    * its rows (`Writers.writeTable`). The final zone gets a driver-side copy
    * of the written files (`Writers.copyTable`). A table with 0 rows leaves
    * no output in either zone (`load.py:100-102`); the count is its `stats`
    * entry. `run` waits for every table, on failure as well, before it
    * releases the cache; the first failed table, in table order, fails the
    * run.
    */
  def run(spark: SparkSession, config: AppConfig,
      client: Option[SpotifyClient] = None,
      rawPathOverride: Option[String] = None): RunResult = {
    val t0 = System.nanoTime()
    val base = config.getString("output.base_dir", "data")
    val rawDir = s"$base/${config.getString("output.raw_dir", "raw")}"
    val procDir = s"$base/${config.getString("output.processed_dir", "processed")}"
    val finalDir = s"$base/${config.getString("output.final_dir", "final")}"
    val format = config.getString("output.format", "csv")
    val ts = Writers.timestamp()
    try {
      Writers.checkFormat(format)
      // extract (or offline fallback)
      val rawPath = rawPathOverride
        .orElse(client.map { c =>
          val json = c.extractFullDataset(
            config.getInt("parameters.limit", 10),
            Option(config.getString("parameters.country", null)))
          Writers.writeRawJson(json, rawDir, ts = ts)
        })
        .orElse(Writers.latestPath(rawDir, "raw").filter(p =>
          java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
        .getOrElse(Writers.writeRawJson(emptyRawJson, rawDir, ts = ts))

      // transform
      val raw = readRaw(spark, rawPath)
      val tables0 = Transforms.all(spark, raw)
      val tables =
        if (config.getBoolean("transformations.merge_tracks_features", true)) tables0
        else tables0 - "tracks_with_features"

      // The tables all read the parsed document, so it is cached; the
      // tables themselves are each read once, by their one write.
      raw.persist()
      try {
        val done = concurrently(tables.toSeq.map { case (name, df) => () =>
          // a local relation (categories) is checked for rows without a job
          val (rows, written) =
            if (df.isLocal && df.isEmpty) (0L, None)
            else Writers.writeTable(df, procDir, name, format, "spotify", ts)
          (name -> rows, written.toSeq.flatMap { path =>
            Seq(s"$procDir/$name" -> path,
              s"$finalDir/$name" -> Writers.copyTable(path, finalDir, name,
                format, "spotify_final", ts))
          })
        })
        RunResult("success", (System.nanoTime() - t0) / 1e9, Some(rawPath),
          done.map(_._1).toMap, done.flatMap(_._2).toMap)
      } finally raw.unpersist()
    } catch {
      case e: Exception =>
        RunResult("failed", (System.nanoTime() - t0) / 1e9, None,
          Map.empty, Map.empty, Some(e.getMessage))
    }
  }

  /** Runs each task on a thread of its own, one per task, and waits for
    * all of them; returns their results in task order, or throws the first
    * failed task's error. The threads are started by the calling thread,
    * so they inherit its Spark local properties (job group, scheduler
    * pool), and all of them have ended when this returns.
    */
  private def concurrently[T](tasks: Seq[() => T]): Seq[T] = {
    val results = new Array[Try[T]](tasks.size)
    val threads = tasks.zipWithIndex.map { case (task, i) =>
      new Thread(() => {
        results(i) = try Success(task()) catch { case t: Throwable => Failure(t) }
      }, s"spotify-pipeline-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    results.toSeq.map(_.get)
  }
}
