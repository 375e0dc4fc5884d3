package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.DedupQueries.cosineSql

/** Product-quantization ANN (SURVEY.md §2 #24e) — the memory-bounded scale
  * path beside IVF and hyperplane LSH: exhaustive asymmetric-distance scan
  * over COMPRESSED codes (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011).
  *
  * The 64-dim embedding splits into [[NSub]]=8 subspaces of [[SubDim]]=8
  * dims; each subvector quantizes to its best-cosine entry of a 16-entry
  * per-subspace codebook, so a vector stores as 8 small codes — 8 bytes of
  * code against 512 bytes of raw doubles, the 64× compression that lets a
  * 100 TB corpus's index live in cluster memory. A query precomputes one
  * tiny lookup table (dot of its subvector with every codebook entry:
  * 8×16 dots), and every candidate scores with m array reads + adds
  * instead of a 64-wide dot product — the ADC scan, one compiled
  * `PqScore` call per pair, map-side against the broadcast query set.
  *
  * Determinism contract (full DuckDB oracle): codebooks are the first
  * [[NBooks]] vectors' subvectors (the AnnIvf convention — a real
  * deployment k-means-trains them offline); code assignment ranks by
  * round(cosine, 6) with lowest entry winning ties (the TopCells
  * comparator); ADC accumulates in ascending-subspace order, which the
  * oracle replays as an explicit 8-term left-to-right sum — bit-identical
  * doubles in both engines, rounded at 4 for the output.
  *
  * This is deliberately an APPROXIMATE ranking: the spec measures recall
  * against `ann_topk_brute` and the oracle pins the PQ semantics
  * themselves, so correctness means "exactly the approximation specified",
  * not "equals exact search".
  */
object AnnPq extends graft.QueryModule {

  val SubDim = 8
  val NSub = Kmeans.Dim / SubDim
  val NBooks = 16
  val NQueries = 10
  val TopK = 10

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  def annTopkPq(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))

    val n = e.count()
    if (n == 0)
      return e.select(col("vec_id").as("q_id"), col("vec_id").as("n_id"),
        lit(0L).as("rank"), lit(0.0).as("score")).filter(lit(false))

    // codebooks: the first NBooks vectors' subvectors, a driver-side model
    // artifact exactly like AnnIvf's centroid matrix (offline-trained in a
    // real deployment; deterministic here so the oracle replays it)
    val books = math.min(NBooks.toLong, n).toInt
    val seedRows = e.filter(col("vec_id") < books)
      .select(col("vec_id"), col("emb")).collect().sortBy(_.getLong(0))
    require(seedRows.map(_.getLong(0)).toSeq == (0L until books.toLong),
      s"expected codebook vec_ids 0..${books - 1}")
    val seeds = seedRows.map(_.getSeq[Double](1).toArray)
    val cb: Array[Array[Array[Double]]] = Array.tabulate(NSub) { sub =>
      seeds.map(_.slice(sub * SubDim, (sub + 1) * SubDim))
    }

    // encode the corpus: one compiled TopCells argmax per subspace against
    // the broadcast codebook literal — map-side, zero shuffle; at scale
    // this projection is what materializes as the persisted code index
    val codeCols = (0 until NSub).map { sub =>
      element_at(graft.functions.HashExprs.topCells(
        slice(col("emb"), sub * SubDim + 1, SubDim),
        typedlit(cb(sub).map(_.toSeq).toSeq), 1), 1)
    }
    val codes = e.select(col("vec_id").as("n_id"), array(codeCols: _*).as("codes"))

    // per-query LUT, computed driver-side from the bounded query set (the
    // per-query cost a real serving path pays at query arrival)
    import s.implicits._
    val lut = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id"), col("emb")).collect().sortBy(_.getLong(0))
      .map { r =>
        val q = r.getSeq[Double](1).toArray
        (r.getLong(0), Seq.tabulate(NSub) { sub =>
          val qs = q.slice(sub * SubDim, (sub + 1) * SubDim)
          cb(sub).map(c => dot(qs, c)).toSeq
        })
      }.toSeq
    val qDf = lut.toDF("q_id", "lut")

    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
    codes.join(broadcast(qDf), col("q_id") =!= col("n_id"))
      .withColumn("score",
        round(graft.functions.HashExprs.pqScore(col("codes"), col("lut")), 4))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("n_id"), col("rank"), col("score"))
      .orderBy(col("q_id"), col("rank"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_pq" -> (annTopkPq _))

  private def booksSql = s"(SELECT least($NBooks, count(*)) FROM e)"

  /** The 8-term left-to-right ADC sum: each max(CASE) picks the single
    * per-subspace dot, added in ascending-subspace order — the same
    * association the compiled PqScore loop uses. */
  private def adcSumSql: String =
    (0 until NSub).map(sub => s"max(CASE WHEN s = $sub THEN dp END)").mkString(" + ")

  val oracles: Map[String, String] = Map(
    "ann_pq" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |sub AS (SELECT range AS s FROM range($NSub)),
         |cb AS (
         | SELECT sub.s, e.vec_id AS c_id,
         |  list_slice(e.emb, sub.s * $SubDim + 1, sub.s * $SubDim + $SubDim) AS c_emb
         | FROM e CROSS JOIN sub WHERE e.vec_id < $booksSql),
         |vsub AS (
         | SELECT e.vec_id, sub.s,
         |  list_slice(e.emb, sub.s * $SubDim + 1, sub.s * $SubDim + $SubDim) AS v_emb
         | FROM e CROSS JOIN sub),
         |codes AS (
         | SELECT vec_id, s, c_id AS code FROM (
         |  SELECT vsub.vec_id, vsub.s, cb.c_id,
         |   row_number() OVER (PARTITION BY vsub.vec_id, vsub.s
         |     ORDER BY round(${cosineSql("vsub.v_emb", "cb.c_emb")}, 6) DESC, cb.c_id) AS r
         |  FROM vsub JOIN cb ON vsub.s = cb.s) t
         | WHERE r = 1),
         |d AS (
         | SELECT q.vec_id AS q_id, codes.vec_id AS n_id, codes.s,
         |  list_dot_product(
         |   list_slice(q.emb, codes.s * $SubDim + 1, codes.s * $SubDim + $SubDim),
         |   cb.c_emb) AS dp
         | FROM codes
         | JOIN cb ON cb.s = codes.s AND cb.c_id = codes.code
         | CROSS JOIN (SELECT vec_id, emb FROM e WHERE vec_id < $NQueries) q
         | WHERE q.vec_id != codes.vec_id),
         |sc AS (
         | SELECT q_id, n_id, round($adcSumSql, 4) AS score
         | FROM d GROUP BY q_id, n_id)
         |SELECT q_id, n_id, rank, score FROM (
         | SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
         | FROM sc) t
         |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin)
}
