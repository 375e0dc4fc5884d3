package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** #30h `mm_keyframe_select` — per-video KEYFRAME selection: the
  * [[K]] most mutually-diverse sampled frames, by greedy farthest-point
  * selection over frame-digest Hamming distance (the `sample_kcenter`
  * coreset rule applied WITHIN each video instead of across a corpus).
  * This is the thumbnail / training-frame curation primitive: a
  * contrastive video-text pipeline trains on a few frames per clip, and
  * taking the FIRST k frames of a static-shot video feeds the model k
  * near-copies — farthest-point picks the frames that actually differ
  * (scene changes, motion), which is why production samplers run exactly
  * this rule over perceptual hashes.
  *
  * Declared selection rule, exact and total: seed = the lowest
  * frame_idx; each later round adds the frame maximizing its minimum
  * Hamming distance to the already-selected set, ties to the lowest
  * frame_idx. Distances are bit_count(h XOR h') over a 60-bit digest
  * prefix (15 hex chars — BIGINT-safe in both engines; with a real
  * decoder h becomes a perceptual hash and nothing else changes). Every
  * comparison is integer, so the greedy trajectory is bit-reproducible
  * under any partitioning and the oracle unrolls the identical K−1
  * rounds. Videos with fewer than K sampled frames select them all.
  *
  * Scale: frames are bounded per video (the `mm_frame_sample` stride
  * contract), so each round is one (doc_id)-keyed join of the frame set
  * against the ≤K-row selected set, a map-side min, and a per-video
  * row_number on the bounded candidate frame — K−1 rounds of uniform-key
  * hash joins, nothing quadratic in videos, nothing driver-side. */
object Keyframes extends graft.QueryModule {

  val K = 3

  /** Selection core over an explicit (doc_id, frame_idx, h) frame set —
    * split out so the spec can plant digest patterns with a hand-computed
    * greedy trajectory. */
  private[multimodal] def keyframesOf(frames0: DataFrame): DataFrame = {
    val frames = graft.CacheRegistry.track(frames0)
    val seed = frames.groupBy(col("doc_id")).agg(min(col("frame_idx")).as("frame_idx"))
      .join(frames, Seq("doc_id", "frame_idx"))
      .select(col("doc_id"), col("frame_idx"), col("h"),
        lit(0L).as("sel_round"), lit(null).cast("long").as("min_dist"))
    var sel = seed
    for (t <- 1 until K) {
      val cand = frames.join(sel.select(col("doc_id"), col("frame_idx")),
        Seq("doc_id", "frame_idx"), "left_anti")
      val scored = cand.join(sel.select(col("doc_id"), col("h").as("sh")), Seq("doc_id"))
        .groupBy(col("doc_id"), col("frame_idx"), col("h"))
        .agg(min(expr("bit_count(h ^ sh)")).cast("long").as("mind"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("mind").desc, col("frame_idx"))
      val pick = scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("frame_idx"), col("h"),
          lit(t.toLong).as("sel_round"), col("mind").as("min_dist"))
      // lineage cut per round (the emb_mmr greedy-loop contract): each
      // round references `sel` twice (anti-join + distance join), so an
      // uncut plan holds ~3^K copies of the seed subtree — measured 72
      // Exchanges in the K=3 plan before this cut. sel is ≤ K rows per
      // video: the checkpoint is output-sized. (r15)
      sel = sel.unionByName(pick).localCheckpoint(true)
    }
    sel.select(col("doc_id"), col("sel_round"), col("frame_idx"), col("min_dist"))
      .orderBy(col("doc_id"), col("sel_round"))
  }

  def keyframes(s: SparkSession, dir: String): DataFrame =
    keyframesOf(MultimodalQueries.sampledFrames(s, dir)
      .select(col("doc_id"), col("frame_idx"),
        expr("cast(conv(substring(frame_digest, 1, 15), 16, 10) as bigint)").as("h")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_keyframe_select" -> (keyframes _))

  val oracles: Map[String, String] = Map(
    "mm_keyframe_select" -> {
      val rounds = (1 until K).map { t =>
        s"""c$t AS (SELECT f.doc_id, f.frame_idx, f.h,
           |  min(bit_count(xor(f.h, s.h)))::BIGINT AS mind
           | FROM fr f JOIN s${t - 1} s ON s.doc_id = f.doc_id
           | WHERE NOT EXISTS (SELECT 1 FROM s${t - 1} x
           |  WHERE x.doc_id = f.doc_id AND x.frame_idx = f.frame_idx)
           | GROUP BY 1, 2, 3),
           |p$t AS (SELECT doc_id, frame_idx, h, ${t}::BIGINT AS sel_round,
           |  mind AS min_dist FROM (
           |  SELECT *, row_number() OVER (PARTITION BY doc_id
           |    ORDER BY mind DESC, frame_idx) AS rn FROM c$t) z WHERE rn = 1),
           |s$t AS (SELECT doc_id, frame_idx, h, sel_round, min_dist FROM s${t - 1}
           | UNION ALL SELECT doc_id, frame_idx, h, sel_round, min_dist FROM p$t)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH fr AS MATERIALIZED (SELECT doc_id, frame_idx,
         |  ('0x' || substr(frame_digest, 1, 15))::UBIGINT::BIGINT AS h
         | FROM (${MultimodalQueries.frameSampleOracle}) tq),
         |s0 AS (SELECT f.doc_id, f.frame_idx, f.h, 0::BIGINT AS sel_round,
         |  CAST(NULL AS BIGINT) AS min_dist
         | FROM fr f JOIN (SELECT doc_id, min(frame_idx) AS mf FROM fr GROUP BY 1) m
         |  ON m.doc_id = f.doc_id AND m.mf = f.frame_idx),
         |$rounds
         |SELECT doc_id, sel_round, frame_idx, min_dist
         |FROM s${K - 1} ORDER BY doc_id, sel_round""".stripMargin
    })
}
