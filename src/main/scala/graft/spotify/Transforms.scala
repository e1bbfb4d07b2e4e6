package graft.spotify

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's normalization semantics (`scripts/transform.py`) as
  * pure `DataFrame => DataFrame` transforms.
  *
  * Where the reference row-loops in pandas (`transform.py:43-58,75-89,
  * 105-115`), each rule here is one Catalyst expression, so the whole
  * flatten runs inside whole-stage codegen and scales horizontally —
  * there is no per-row Python, no UDF, no collect.
  *
  * Every default/null rule is encoded exactly (SURVEY.md §1.3, §7.3):
  *  - `main_artist_id/name`: `artists[0]`, null when the array is empty
  *    (`transform.py:51-52`);
  *  - `artist_genres`: `", "`-joined, `""` when details/genres are absent
  *    (`transform.py:53,66`);
  *  - track `artists`: per-element default `"Unknown Artist"`, joined
  *    `", "`, `""` for a missing array (`transform.py:77`);
  *  - `explicit` defaults false (`transform.py:85`), `popularity` 0
  *    (`extract.py:240`);
  *  - null audio-feature entries are filtered (`transform.py:106`);
  *  - the merge left-joins on `track_id` and drops the right-side
  *    `extraction_date` (suffix-then-drop, `transform.py:156-165`).
  */
object Transforms {

  /** `extraction_date` stamp (`transform.py:56,87,113`). Injectable so
    * tests and the oracle harness stay deterministic; production uses
    * the current date exactly like the reference.
    */
  def extractionDate(fixed: Option[String]): org.apache.spark.sql.Column =
    fixed.map(lit).getOrElse(date_format(current_date(), "yyyy-MM-dd"))

  /** One row per album with the 12 flat columns (`transform.py:38-68`). */
  def albums(raw: DataFrame, date: Option[String] = None): DataFrame =
    raw.select(explode(col("releases")).as("a"))
      .select(
        col("a.album_id"),
        col("a.album_name"),
        col("a.album_type"),
        col("a.release_date"),
        col("a.total_tracks"),
        coalesce(col("a.popularity"), lit(0)).as("popularity"),
        // try_element_at, not element_at: ANSI mode (Spark 4 default)
        // throws on an empty array; the reference rule is null
        // (transform.py:51-52).
        try_element_at(col("a.artists"), lit(1)).getField("id")
          .as("main_artist_id"),
        try_element_at(col("a.artists"), lit(1)).getField("name")
          .as("main_artist_name"),
        coalesce(array_join(col("a.main_artist_details.genres"), ", "), lit(""))
          .as("artist_genres"),
        col("a.image_url"),
        col("a.spotify_url"),
        extractionDate(date).as("extraction_date"))

  /** One row per (album, track) — the nested loop at `transform.py:75-89`
    * as an inner explode (zero-track albums were already dropped at
    * extraction, `extract.py:220-221`).
    */
  def tracks(raw: DataFrame, date: Option[String] = None): DataFrame =
    raw.select(explode(col("releases")).as("a"))
      .select(col("a.album_id"), explode(col("a.tracks")).as("t"))
      .select(
        col("t.id").as("track_id"),
        col("t.name").as("track_name"),
        col("album_id"),
        coalesce(
          array_join(expr(
            "transform(t.artists, x -> coalesce(x.name, 'Unknown Artist'))"),
            ", "),
          lit("")).as("artists"),
        col("t.track_number"),
        col("t.duration_ms"),
        coalesce(col("t.explicit"), lit(false)).as("explicit"),
        col("t.external_urls.spotify").as("spotify_url"),
        extractionDate(date).as("extraction_date"))

  /** One row per non-null audio-feature entry (`transform.py:98-115`). */
  def audioFeatures(raw: DataFrame, date: Option[String] = None): DataFrame =
    raw.select(explode(col("audio_features")).as("f"))
      .filter(col("f").isNotNull)
      .select(
        col("f.id").as("track_id"),
        col("f.danceability"),
        col("f.energy"),
        col("f.loudness"),
        col("f.tempo"),
        extractionDate(date).as("extraction_date"))

  /** tracks ⟕ audio_features on track_id; the right-side extraction_date
    * is suffixed `_audio` then dropped (`transform.py:156-165`), leaving
    * 9 + 4 columns. The features side of this join is small relative to
    * tracks (≤1 row per track), so Catalyst broadcast-hashes it.
    */
  def mergeTracksFeatures(tracks: DataFrame, features: DataFrame): DataFrame =
    tracks.join(
      features.withColumnRenamed("extraction_date", "extraction_date_audio"),
      Seq("track_id"), "left")
      .drop("extraction_date_audio")

  /** All five outputs (`transform.py:170-178`), in the reference's order:
    * albums, tracks, audio_features, always-empty categories, and the
    * merged view. categories is an empty local relation, which is
    * checked for rows without a job.
    */
  def all(spark: SparkSession, raw: DataFrame,
      date: Option[String] = None): ListMap[String, DataFrame] = {
    val t = tracks(raw, date)
    val f = audioFeatures(raw, date)
    ListMap(
      "albums" -> albums(raw, date),
      "tracks" -> t,
      "audio_features" -> f,
      "categories" -> spark.createDataFrame(
        java.util.List.of[Row](), Schemas.categories),
      // hash-joined inside the document's one partition (`Pipeline.readRaw`):
      // no exchange, and no broadcast, whose driver-side relation (a 16 MB
      // page for a few thousand feature rows) would outlive the run until
      // Spark's ContextCleaner removes it after a GC
      "tracks_with_features" -> mergeTracksFeatures(t, f.hint("shuffle_hash")))
  }
}
