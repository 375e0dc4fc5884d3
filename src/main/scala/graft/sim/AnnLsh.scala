package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.DedupQueries.cosine
import graft.functions.HashExprs

/** LSH-bucketed approximate nearest neighbours (SURVEY.md §2 #25).
  *
  * Random-hyperplane LSH: 16 sign bits per vector (plane p's component for
  * dimension d is ±1 from splitmix64(p·1000003 + d), so the planes are
  * deterministic and identical on every executor with no broadcast of plane
  * matrices needed). Bits are grouped into 4 bands of 4; a corpus vector is
  * a candidate for a query if any band matches (OR-amplification).
  * Candidates are ranked by exact cosine, top-10 kept.
  *
  * The signature is the compiled HyperplaneBands expression — one JVM call
  * per row (the interpreted-HOF formulation costs 16 planes × 64 dims of
  * interpreted eval per row, the SURVEY §6 trap).
  *
  * Scale: the corpus is hashed map-side in one pass; the only shuffle is the
  * (band, key) equi-join against the tiny broadcast query set — versus the
  * brute-force full scan per query. Recall is measured against the brute
  * baseline in AnnLshSpec.
  *
  * Hot buckets: unlike the dedup band SELF-joins (capped by
  * `MinHashLsh.MaxBandBucket` — their per-bucket pair mass is quadratic),
  * this join is corpus × broadcast-query: a bucket of m corpus vectors
  * costs m × |probes landing there| — LINEAR in the corpus for a bounded
  * query batch, by construction. A cap here would only trade away recall,
  * so none is applied; the scale lever for bucket density is band width
  * (more sign bits per band as the corpus grows), not occupancy cuts.
  */
object AnnLsh extends graft.QueryModule {

  val Planes = 16
  val BandBits = 4
  val NumBands = Planes / BandBits

  def annTopkLsh(s: SparkSession, dir: String): DataFrame = {
    // the banded signature table is the staged `sim/bandIndex` rung —
    // one corpus scan + sign-bit pass per session, not one per consumer
    val banded = SimArtifacts.banded(s, dir)
    val q = banded.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("band"), col("bkey"))
    val c = banded.select(col("vec_id").as("n_id"), col("emb").as("n_emb"), col("band"), col("bkey"))
    // cosine BEFORE the distinct: a pair matching in k bands is scored k
    // times (cheap map-side flops) but the dedup/rank shuffle then carries
    // 24-byte (q_id, n_id, cosine) rows instead of two 64-dim arrays —
    // at scale the shuffle, not the arithmetic, is the bottleneck
    val candidates = c.join(broadcast(q), Seq("band", "bkey"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine", round(cosine(col("q_emb"), col("n_emb")), 4))
      .select("q_id", "n_id", "cosine")
      .dropDuplicates("q_id", "n_id")
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
    candidates
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select("q_id", "n_id", "rank", "cosine")
      .orderBy(col("q_id"), col("rank"))
  }

  /** #25g Multi-probe LSH (Lv et al., VLDB 2007): recall without more
    * hash tables. Single-probe LSH only finds neighbours whose band value
    * matches EXACTLY; a near neighbour one sign-bit away in every band is
    * invisible, and the classic fix — more tables — multiplies the
    * corpus-side index size. Multi-probe instead perturbs the QUERY's band
    * values: each band probes its own bucket plus all [[BandBits]]
    * Hamming-1 perturbations (5 keys per band), because the buckets most
    * likely to hold a missed neighbour are exactly the ones whose key
    * differs in the single least-confident bit. The corpus side — the
    * expensive side at 100 TB — is hashed and laid out IDENTICALLY to
    * `ann_lsh_bucketed`: same one-pass compiled `HyperplaneBands` index,
    * same (band, key) equi-join; only the tiny broadcast probe set fans
    * out ×5. Candidate recall is therefore a strict superset of
    * single-probe's (spec-pinned, along with the recall@10 ordering). */
  def annTopkMultiprobe(s: SparkSession, dir: String): DataFrame = {
    val banded = SimArtifacts.banded(s, dir)
    val q = banded.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("band"),
        explode(expr("array(bkey, bkey ^ 1, bkey ^ 2, bkey ^ 4, bkey ^ 8)")).as("bkey"))
    val c = banded.select(col("vec_id").as("n_id"), col("emb").as("n_emb"), col("band"), col("bkey"))
    val candidates = c.join(broadcast(q), Seq("band", "bkey"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine", round(cosine(col("q_emb"), col("n_emb")), 4))
      .select("q_id", "n_id", "cosine")
      .dropDuplicates("q_id", "n_id")
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
    candidates
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select("q_id", "n_id", "rank", "cosine")
      .orderBy(col("q_id"), col("rank"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_lsh_bucketed" -> (annTopkLsh _),
    "ann_multiprobe" -> (annTopkMultiprobe _))

  private def topkSql(qCte: String): String =
    s"""WITH ${HashExprs.hyperplaneChainSql},
       |$qCte,
       |cand AS (SELECT DISTINCT q.q_id, c.vec_id AS n_id
       | FROM bd c JOIN q ON c.band = q.band AND c.bkey = q.bkey AND q.q_id != c.vec_id),
       |sc AS (SELECT q_id, n_id,
       |  round(${graft.dedup.DedupQueries.cosineSql("qe.emb", "ne.emb")}, 4) AS cosine
       | FROM cand JOIN e qe ON qe.vec_id = cand.q_id JOIN e ne ON ne.vec_id = cand.n_id),
       |rk AS (SELECT q_id, n_id, cosine,
       |  row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank FROM sc)
       |SELECT q_id, n_id, rank::BIGINT AS rank, cosine FROM rk
       |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  /** Full oracles: the hyperplane sign matrix is a fixed parameter embedded
    * as a literal (HashExprs.hyperplaneSignsSql); everything data-dependent
    * — dot products, sign bits, band keys, candidate join, exact-cosine
    * rank — is recomputed by DuckDB. The multiprobe query side fans each
    * band key out to its 4 Hamming-1 perturbations, exactly like the Spark
    * probe explode. */
  val oracles: Map[String, String] = Map(
    "ann_lsh_bucketed" -> topkSql(
      "q AS (SELECT vec_id AS q_id, band, bkey FROM bd WHERE vec_id < 10)"),
    "ann_multiprobe" -> topkSql(
      """q AS (SELECT DISTINCT vec_id AS q_id, band, xor(bkey, pr) AS bkey
        | FROM bd CROSS JOIN (SELECT unnest([0,1,2,4,8]) AS pr) prs
        | WHERE vec_id < 10)""".stripMargin))
}
