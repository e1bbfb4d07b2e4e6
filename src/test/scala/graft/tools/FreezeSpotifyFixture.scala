package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.Harness
import graft.spotify.Schemas

/** Dev tool (test scope, not library surface): freezes the checked-in
  * raw Spotify JSON fixture (`src/test/resources/spotify_raw_fixture
  * .json`, the `extract.py:271-276` document shape) into ONE parquet
  * file at `fixtures/spotify_raw.parquet`, written with the pinned
  * [[Schemas.raw]] types so the graded q252/q253 queries and their
  * DuckDB oracles read IDENTICAL arrow types (int32 total_tracks /
  * track_number, int64 duration_ms, bool explicit) — the driver's
  * hash compare is type-sensitive.
  *
  * Regenerate with:
  *   sbt "Test/runMain graft.tools.FreezeSpotifyFixture"
  */
object FreezeSpotifyFixture {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(cpus = 2)
    val raw = spark.read.schema(Schemas.raw)
      .option("multiLine", value = true)
      .json("src/test/resources/spotify_raw_fixture.json")
    val tmp = Files.createTempDirectory("spotify_fixture").toString
    raw.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written under $tmp"))
    Files.createDirectories(Paths.get("fixtures"))
    Files.copy(part, Paths.get("fixtures/spotify_raw.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    println(s"wrote fixtures/spotify_raw.parquet (${raw.count()} doc)")
    spark.stop()
  }
}
