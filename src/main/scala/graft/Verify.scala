package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.filter(kv => Harness.selected(kv._1)).foreach { case (name, fn) =>
      // each dump is self-contained, so nothing live is dropped
      Harness.cleanup(spark)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.toString).take(800)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    def obj(kvs: Iterable[(String, String)]): String = kvs
      .map { case (k, v) => s"${Harness.json(k)}: ${Harness.json(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(SparkEntry.oracleSql.filter(kv => Harness.selected(kv._1))))
    // A query that threw has no output dir, which a checker iterating
    // over outputs would silently SKIP (round 9: 17 analysis errors
    // left zero trace in the correctness artifact). errors.json makes
    // every registered-but-undumped query and its error part of the
    // dump itself; check_oracle.py folds it into the FAIL report.
    Files.writeString(Paths.get(s"$outDir/errors.json"), obj(errors))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
    spark.stop()
  }
}
