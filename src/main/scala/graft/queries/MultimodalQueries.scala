package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables

import graft.queries.Oracle.{Fixture, Sql, fixturePath}

/** Media queries: packed image/audio and video decode, each checked
  * against a committed expectation fixture (m1, m2), and the
  * exotic-codec quarantine rule (m3), which the oracle states from
  * doc_id alone.
  */
object MultimodalQueries {

  private val M1FixturePath: String = fixturePath("m1_expected.parquet")
  private val M2FixturePath: String = fixturePath("m2_expected.parquet")

  /** Multimodal pipeline: pack → batched REAL decode (jpeg/png pixels,
    * wav PCM) → rollup per format, CHECKED row-by-row against the
    * committed decode-expectation fixture (GenFixtures): `n_match`
    * counts rows whose live-decoded feature vector and packed width
    * equal the fixture's — so the DuckDB oracle, which recomputes the
    * whole aggregate from the fixture alone (media decode is not
    * SQL-expressible; the fixture is the hashable surface), hash-fails
    * if any decode diverges (n_match < n_media, and avg_f0 moves).
    */
  def m1Multimodal(spark: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.packDocuments(Tables.documents(spark, dir))
    val fixture = spark.read
      .parquet(M1FixturePath)
      .select($"doc_id", $"width".as("exp_width"), $"features".as("exp_features"))
    graft.multimodal.Multimodal
      .extractFeatures(media, "media")
      .join(broadcast(fixture), $"media_id" === $"doc_id", "left")
      .groupBy($"meta.format".as("format"))
      .agg(
        count(lit(1)).as("n_media"),
        round(avg(element_at($"features", 1)), 6).as("avg_f0"),
        round(avg($"meta.width"), 2).as("avg_width"),
        count(when($"features" <=> $"exp_features" && $"meta.width" <=> $"exp_width", 1)).as("n_match")
      )
      .orderBy("format")
  }

  /** Video pipeline: pack documents as MJPEG AVIs → REAL container
    * parse + per-frame JPEG decode ([[graft.multimodal.Multimodal.videoStats]])
    * → per-frame-count rollup, CHECKED row-by-row against the committed
    * decode-expectation fixture (GenFixtures) exactly like m1:
    * `n_match` counts videos whose live frame count AND mean frame
    * features equal the fixture's, so the DuckDB oracle (which
    * recomputes the aggregate from the fixture alone — video decode is
    * not SQL-expressible) hash-fails if any decode diverges.
    */
  def m2VideoFrames(spark: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.packVideos(Tables.documents(spark, dir))
    val fixture = spark.read
      .parquet(M2FixturePath)
      .select($"doc_id", $"n_frames".as("exp_n_frames"), $"features".as("exp_features"))
    graft.multimodal.Multimodal
      .videoStats(media, "media", maxFrames = 8)
      .join(broadcast(fixture), $"media_id" === $"doc_id", "left")
      .groupBy($"n_frames")
      .agg(
        count(lit(1)).as("n_videos"),
        round(avg(element_at($"features", 1)), 6).as("avg_f0"),
        count(when($"features" <=> $"exp_features" && $"n_frames" <=> $"exp_n_frames", 1)).as("n_match")
      )
      .orderBy("n_frames")
  }

  /** m3 — the exotic-codec QUARANTINE contract, hash-pinned: a
    * mixed-codec media table ([[graft.multimodal.Multimodal.packVideosMixed]])
    * plants undecodable payloads by doc_id rule (%7==0 a non-RIFF
    * "h264" stream, %7==3 a truncated AVI), [[graft.multimodal.Multimodal.videoStats]]
    * decodes the rest for REAL, and the aggregate groups by the
    * quarantined flag. Because quarantine is a pure function of doc_id
    * by construction, DuckDB recomputes BOTH groups relationally —
    * n_videos from the %7 rule, sum_frames from the %6+2 frame rule for
    * the decodable group — so a decoder that silently emits features
    * for garbage (or quarantines a valid AVI) breaks the hash.
    */
  def m3VideoQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.packVideosMixed(Tables.documents(spark, dir))
    graft.multimodal.Multimodal
      .videoStats(media, "media", maxFrames = 8)
      .groupBy($"n_frames".isNull.as("quarantined"))
      .agg(
        count(lit(1)).as("n_videos"),
        coalesce(sum($"n_frames"), lit(0)).cast("long").as("sum_frames")
      )
      .orderBy("quarantined")
  }

  /** The m1 fixture: per doc_id, the packed media's format and width and
    * the REAL decode features (pure functions of doc_id).
    */
  def m1Expected(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal
      .extractFeatures(graft.multimodal.Multimodal.packDocuments(Tables.documents(spark, dir)), "media")
      .select(
        $"media_id".as("doc_id"),
        $"meta.format".as("format"),
        $"meta.width".as("width"),
        element_at($"features", 1).as("f0"),
        $"features"
      )
      .orderBy("doc_id")

  /** The m2 fixture: per doc_id, the packed video's frame count and mean
    * frame features from the REAL container parse and JPEG decode.
    */
  def m2Expected(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal
      .videoStats(graft.multimodal.Multimodal.packVideos(Tables.documents(spark, dir)), "media", maxFrames = 8)
      .select(
        $"media_id".as("doc_id"),
        $"n_frames",
        element_at($"features", 1).as("f0"),
        $"features"
      )
      .orderBy("doc_id")

  val defs: List[QueryDef] = List(
    // M1 — media decode is not SQL-expressible, but it doesn't need to
    // be: the committed decode-expectation fixture (GenFixtures; pure
    // function of doc_id) is the hashable surface. The oracle recomputes
    // the per-format aggregate from the fixture alone; the Spark query
    // decodes LIVE and counts fixture matches, so any decode divergence
    // breaks the hash (n_match drops below n_media, avg_f0 moves).
    QueryDef("m1_multimodal", m1Multimodal, Fixture(M1FixturePath,
      s"""SELECT f.format,
         |  CAST(count(*) AS BIGINT) AS n_media,
         |  round(avg(CAST(f.f0 AS DOUBLE)), 6) AS avg_f0,
         |  round(avg(f.width), 2) AS avg_width,
         |  CAST(count(*) AS BIGINT) AS n_match
         |FROM read_parquet('${M1FixturePath}') f
         |JOIN documents d ON d.doc_id = f.doc_id
         |GROUP BY f.format ORDER BY f.format""".stripMargin, m1Expected)),
    // M2 — same fixture-oracle technique for the VIDEO modality: the
    // committed decode-expectation fixture (GenFixtures; pure function
    // of doc_id, real AVI parse + JPEG frame decode) is the hashable
    // surface. The Spark query parses and decodes LIVE and counts
    // fixture matches on (frame count, mean frame features); the oracle
    // recomputes the per-frame-count aggregate from the fixture alone,
    // scale-filtered by joining documents.
    QueryDef("m2_video_frames", m2VideoFrames, Fixture(M2FixturePath,
      s"""SELECT f.n_frames,
         |  CAST(count(*) AS BIGINT) AS n_videos,
         |  round(avg(CAST(f.f0 AS DOUBLE)), 6) AS avg_f0,
         |  CAST(count(*) AS BIGINT) AS n_match
         |FROM read_parquet('${M2FixturePath}') f
         |JOIN documents d ON d.doc_id = f.doc_id
         |GROUP BY f.n_frames ORDER BY f.n_frames""".stripMargin, m2Expected)),
    // M3 — the quarantine contract: undecodability is planted by a
    // doc_id rule (%7==0 non-RIFF "h264", %7==3 truncated AVI), so the
    // oracle recomputes both groups WITHOUT a decoder — the quarantined
    // count from the %7 rule, the decodable group's frame sum from the
    // %6+2 synthesis rule. A decoder that fakes features for garbage or
    // quarantines a valid AVI shifts a group and breaks the hash.
    QueryDef("m3_video_quarantine", m3VideoQuarantine, Sql(
      """SELECT (doc_id % 7) IN (0, 3) AS quarantined,
        |  CAST(count(*) AS BIGINT) AS n_videos,
        |  CAST(coalesce(sum(CASE WHEN (doc_id % 7) IN (0, 3) THEN NULL
        |                         ELSE doc_id % 6 + 2 END), 0) AS BIGINT) AS sum_frames
        |FROM documents
        |GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
