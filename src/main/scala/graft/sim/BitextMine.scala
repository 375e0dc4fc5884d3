package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.DedupQueries.{cosine, cosineSql}
import graft.functions.HashExprs

/** #24o `emb_bitext_mine` — margin-based parallel-pair mining
  * (Artetxe & Schwenk, ACL 2019; the CCMatrix/LASER primitive)
  * (SURVEY.md §2).
  *
  * The op that builds the parallel corpora multilingual LLMs train on:
  * given embeddings of language-A and language-B sentences in a shared
  * space, raw cosine retrieval is broken by HUBS — density-region vectors
  * that are everyone's nearest neighbor (Radovanović et al., JMLR 2010) —
  * so A&S score each candidate pair by its MARGIN over the competition:
  *
  *   margin(x,y) = cos(x,y) / (mean top-k cos(x,·)/2 + mean top-k cos(y,·)/2)
  *
  * A hub's high cosine is discounted by its own high neighborhood mean; a
  * genuine translation pair towers over both sides' other candidates.
  * Per source the best-margin target is emitted, `accepted` iff margin ≥
  * [[MarginTau]] (the CCMatrix-style threshold), `mutual` iff the pair is
  * also the target's best (A&S "intersection" strategy).
  *
  * Language sides: `label` [[LangA]] vs [[LangB]] of the embeddings table
  * (the stand-in for langid-partitioned encoder output; `ann_filtered`'s
  * label-slice convention).
  *
  * Candidate generation composes the family's hyperplane-LSH index
  * (`ann_lsh_bucketed`): both language slices are banded map-side by the
  * compiled `HyperplaneBands` expression and candidates are same-(band,key)
  * cross-language pairs — ONE equi-join, no broadcast needed on either
  * side (BOTH language slices are full corpora at 100 TB — this is the op
  * where the brute broadcast pattern of `ann_topk_brute` is structurally
  * unavailable, exactly why CCMatrix runs its k-NN through FAISS). The
  * margin's top-k statistics are computed over the SAME retrieved
  * candidate set (the approximate-kNN margin of CCMatrix §4.3 — the
  * denominator sees what retrieval sees).
  *
  * Determinism: cosines are round-4 then lifted to exact integer
  * ten-thousandths; top-k sums are BIGINT (order-independent), and
  * margin = 2·c·kx·ky / (Sx·ky + Sy·kx) is ONE fixed-form IEEE division
  * of exact integers (round 6). Candidates are restricted to cos > 0
  * (declared: mining considers positively-similar candidates only), so
  * the denominator is strictly positive. Ties break by id everywhere.
  *
  * Scale: band/hash map-side in one pass over each slice; the candidate
  * equi-join keys on (band, bkey) — uniform 4-bit-band keys; the top-k
  * stats are two per-vector windows over candidate rows (candidate mass
  * is band-collision-bounded, the `dedup_embedding_lsh` posture); the
  * readout is one per-source argmax window. No all-pairs anywhere. */
object BitextMine extends graft.QueryModule {

  val LangA = 0
  val LangB = 1
  val K = 4
  val MarginTau = 1.06

  /** Margin mining over a scored candidate set: `cand` has columns
    * (src_id, tgt_id, cos4) with cos4 the round-4 cosine, one row per
    * cross-language candidate pair, all cos4 > 0. Exposed for the spec's
    * planted-geometry tests (the margin math independent of retrieval). */
  def mineFromCandidates(cand: DataFrame): DataFrame = {
    val c = cand.withColumn("c", round(col("cos4") * 10000).cast("long"))
    val wSrc = Window.partitionBy(col("src_id")).orderBy(col("c").desc, col("tgt_id"))
    val wTgt = Window.partitionBy(col("tgt_id")).orderBy(col("c").desc, col("src_id"))
    val ranked = c
      .withColumn("r_src", row_number().over(wSrc))
      .withColumn("r_tgt", row_number().over(wTgt))
    val srcStats = ranked.filter(col("r_src") <= K)
      .groupBy(col("src_id")).agg(sum(col("c")).as("s_src"), count(lit(1)).as("k_src"))
    val tgtStats = ranked.filter(col("r_tgt") <= K)
      .groupBy(col("tgt_id")).agg(sum(col("c")).as("s_tgt"), count(lit(1)).as("k_tgt"))
    val scored = c.join(srcStats, Seq("src_id")).join(tgtStats, Seq("tgt_id"))
      .withColumn("margin", round(
        (lit(2L) * col("c") * col("k_src") * col("k_tgt")).cast("double") /
          (col("s_src") * col("k_tgt") + col("s_tgt") * col("k_src")).cast("double"), 6))
    val wBestSrc = Window.partitionBy(col("src_id")).orderBy(col("margin").desc, col("tgt_id"))
    val wBestTgt = Window.partitionBy(col("tgt_id")).orderBy(col("margin").desc, col("src_id"))
    scored
      .withColumn("rn_src", row_number().over(wBestSrc))
      .withColumn("rn_tgt", row_number().over(wBestTgt))
      .filter(col("rn_src") === 1)
      .select(col("src_id"), col("tgt_id"), col("cos4").as("cosine"),
        col("margin"), (col("margin") >= MarginTau).as("accepted"),
        (col("rn_tgt") === 1).as("mutual"))
      .orderBy(col("src_id"))
  }

  /** The LSH-banded cross-language candidate set over the embeddings
    * table (shared by the query entry and the spec's replay). */
  private[sim] def lshCandidates(s: SparkSession, dir: String): DataFrame = {
    // the staged `sim/bandIndex` rung carries the label column exactly for
    // this consumer (cross-language banding needs it)
    val banded = SimArtifacts.stagedBandIndex(s, dir)
      .select(col("vec_id"), col("label"), col("emb"), posexplode(col("bands")))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bkey"))
    val a = banded.filter(col("label") === LangA)
      .select(col("vec_id").as("src_id"), col("emb").as("src_emb"), col("band"), col("bkey"))
    val b = banded.filter(col("label") === LangB)
      .select(col("vec_id").as("tgt_id"), col("emb").as("tgt_emb"), col("band"), col("bkey"))
    a.join(b, Seq("band", "bkey"))
      .select(col("src_id"), col("tgt_id"),
        round(cosine(col("src_emb"), col("tgt_emb")), 4).as("cos4"))
      .dropDuplicates("src_id", "tgt_id")
      .filter(col("cos4") > 0)
  }

  def bitextMine(s: SparkSession, dir: String): DataFrame =
    mineFromCandidates(lshCandidates(s, dir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_bitext_mine" -> (bitextMine _))

  /** Full oracle: the hyperplane sign matrix is the fixed operator
    * parameter (literal); everything data-dependent — banding, the
    * cross-language candidate join, cosines, integer top-k sums, the
    * margin division, both argmax windows — is recomputed by DuckDB. */
  val oracles: Map[String, String] = Map(
    "emb_bitext_mine" ->
      s"""WITH ${HashExprs.hyperplaneChainSql},
         |lab AS (SELECT vec_id, label FROM embeddings),
         |cand0 AS (SELECT DISTINCT a.vec_id AS src_id, b.vec_id AS tgt_id
         | FROM bd a JOIN lab la ON la.vec_id = a.vec_id AND la.label = $LangA
         | JOIN bd b ON a.band = b.band AND a.bkey = b.bkey
         | JOIN lab lb ON lb.vec_id = b.vec_id AND lb.label = $LangB),
         |sc0 AS (SELECT src_id, tgt_id,
         |  round(${cosineSql("ae.emb", "be.emb")}, 4) AS cos4
         | FROM cand0 JOIN e ae ON ae.vec_id = cand0.src_id
         | JOIN e be ON be.vec_id = cand0.tgt_id),
         |cand AS (SELECT src_id, tgt_id, cos4,
         |  round(cos4 * 10000)::BIGINT AS c FROM sc0 WHERE cos4 > 0),
         |rk AS (SELECT *,
         |  row_number() OVER (PARTITION BY src_id ORDER BY c DESC, tgt_id) AS r_src,
         |  row_number() OVER (PARTITION BY tgt_id ORDER BY c DESC, src_id) AS r_tgt
         | FROM cand),
         |ss AS (SELECT src_id, sum(c)::BIGINT AS s_src, count(*)::BIGINT AS k_src
         | FROM rk WHERE r_src <= $K GROUP BY src_id),
         |ts AS (SELECT tgt_id, sum(c)::BIGINT AS s_tgt, count(*)::BIGINT AS k_tgt
         | FROM rk WHERE r_tgt <= $K GROUP BY tgt_id),
         |mg AS (SELECT cand.src_id, cand.tgt_id, cand.cos4,
         |  round((2 * c * k_src * k_tgt)::DOUBLE /
         |        (s_src * k_tgt + s_tgt * k_src)::DOUBLE, 6) AS margin
         | FROM cand JOIN ss ON ss.src_id = cand.src_id
         | JOIN ts ON ts.tgt_id = cand.tgt_id),
         |fin AS (SELECT *,
         |  row_number() OVER (PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS rn_src,
         |  row_number() OVER (PARTITION BY tgt_id ORDER BY margin DESC, src_id) AS rn_tgt
         | FROM mg)
         |SELECT src_id, tgt_id, cos4 AS cosine, margin,
         | (margin >= $MarginTau) AS accepted, (rn_tgt = 1) AS mutual
         |FROM fin WHERE rn_src = 1 ORDER BY src_id""".stripMargin)
}
