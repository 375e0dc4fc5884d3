package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.DedupQueries.cosineSql

/** IVFADC: inverted-file routing + product-quantization scoring on
  * RESIDUALS (SURVEY.md §2 #25f) — the composition Jégou et al. present as
  * the deployable system (TPAMI 2011 §IV), and the shape FAISS ships as
  * `IndexIVFPQ`. `ann_ivf` prunes candidates but scores raw vectors;
  * `ann_pq` compresses vectors but scans all of them; this operator does
  * both: a query probes nprobe cells and scores only those cells' members
  * against 8-byte codes.
  *
  * Residual trick: PQ quantizes r = v − cent(cell(v)), not v — residuals
  * concentrate near 0 so a shared 16-entry codebook covers them far better
  * than raw vectors. Scoring uses dot-linearity:
  *   dot(q, v) = dot(q, cent) + dot(q, r) ≈ dot(q, cent) + Σ_s lut[s][code_s]
  * where lut[s][c] = dot(q_sub_s, cb[s][c]) is per-QUERY (not per-cell,
  * because the cell term splits out exactly) — one tiny broadcast LUT and
  * one exact per-(query,cell) constant `cterm`.
  *
  * Scale: cell assignment and the per-subspace residual encode are one
  * map-side compiled pass (`TopCells` + `VecSub` inside whole-stage
  * codegen) — at 100 TB this projection is the persisted index build. The
  * probe is a broadcast equi-join on cell id; per-query work is
  * O(N·nprobe/cells) candidates × (m adds each), reading 8-byte codes
  * instead of 512-byte vectors.
  *
  * Determinism contract (full DuckDB oracle): cells and their centroids
  * follow the `ann_ivf` convention (first √(n/2) vectors, best-cosine
  * assignment, round-6 HALF_UP, lowest id on ties); PQ codebooks are the
  * residuals of the NEXT [[NBooks]] vectors (vec_id ∈ [cells,
  * cells+NBooks) — the first `cells` vectors are their own centroids, so
  * their residuals are identically zero and would degenerate the
  * codebook); code assignment ranks by round-6 cosine with NaN (zero
  * residual) ranked LAST in both engines (Spark: TopCells maps NaN to
  * −∞; DuckDB: 0/0 is NULL, `DESC NULLS LAST`); the score accumulates as
  * cterm + (ascending-subspace ADC sum), the exact association both
  * engines compute, rounded at 4.
  */
object AnnIvfPq extends graft.QueryModule {

  val SubDim = AnnPq.SubDim
  val NSub = AnnPq.NSub
  val NBooks = AnnPq.NBooks
  val NProbe = AnnIvf.NProbe
  val NQueries = 10
  val TopK = 10

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Driver-side replica of the TopCells ranking (round-6 HALF_UP cosine,
    * NaN → ranked last, lowest cell on ties) for the bounded seed/query
    * sets — the same BigDecimal calls HashRuntime.topCells makes. */
  private def topCellsLocal(v: Array[Double], cents: Array[Array[Double]], k: Int): Seq[Int] = {
    val scored = cents.zipWithIndex.map { case (c, i) =>
      val na = dot(v, v); val nb = dot(c, c)
      val raw = dot(v, c) / (math.sqrt(na) * math.sqrt(nb))
      val s = if (java.lang.Double.isNaN(raw)) Double.NegativeInfinity
        else java.math.BigDecimal.valueOf(raw)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      (s, i)
    }
    scored.sortBy { case (s, i) => (-s, i) }.take(k).map(_._2).toSeq
  }

  def annTopkIvfPq(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    import graft.functions.HashExprs.{topCells, vecSub, pqScore}
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))

    def empty = e.select(col("vec_id").as("q_id"), col("vec_id").as("n_id"),
      lit(0L).as("rank"), lit(0.0).as("score")).filter(lit(false))

    val n = e.count()
    if (n == 0) return empty
    val cells = math.min(AnnIvf.cellsFor(n), n).toInt
    val books = math.min(NBooks.toLong, n - cells).toInt
    // corpus no bigger than the cell floor: every vector is its own
    // centroid, there are no seed vectors left to build codebooks from —
    // no codes, no rankable candidates (the oracle's empty cb CTE agrees)
    if (books <= 0) return empty

    val seedRows = e.filter(col("vec_id") < (cells + books).toLong)
      .select(col("vec_id"), col("emb")).collect().sortBy(_.getLong(0))
    require(seedRows.map(_.getLong(0)).toSeq == (0L until (cells + books).toLong),
      s"expected contiguous vec_ids 0..${cells + books - 1}")
    val cents = seedRows.take(cells).map(_.getSeq[Double](1).toArray)

    // codebooks: residuals of the next NBooks vectors w.r.t. their own
    // assigned cell, sliced per subspace — a driver-side model artifact
    // like AnnIvf's centroid matrix (offline-trained in a real deployment)
    val cb: Array[Array[Array[Double]]] = {
      val res = seedRows.drop(cells).map { r =>
        val v = r.getSeq[Double](1).toArray
        val c = cents(topCellsLocal(v, cents, 1).head)
        Array.tabulate(v.length)(i => v(i) - c(i))
      }
      Array.tabulate(NSub)(sub => res.map(_.slice(sub * SubDim, (sub + 1) * SubDim)))
    }

    // index build: one map-side compiled pass — cell route, then per-
    // subspace residual encode against the broadcast codebook literals
    val assigned = CentroidAssign.withBestCell(e, cents)
      .select(col("vec_id"), col("emb"), col("cell"), col("c_emb"))
    val centOfCell = col("c_emb")
    val codeCols = (0 until NSub).map { sub =>
      element_at(topCells(
        vecSub(slice(col("emb"), sub * SubDim + 1, SubDim),
          slice(centOfCell, sub * SubDim + 1, SubDim)),
        typedlit(cb(sub).map(_.toSeq).toSeq), 1), 1)
    }
    val codes = assigned.select(col("vec_id").as("n_id"), col("cell"),
      array(codeCols: _*).as("codes"))

    // per-query artifacts: nprobe best cells, the exact centroid term for
    // each, and one LUT over the raw query subvectors (dot-linearity)
    val qRows = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id"), col("emb")).collect().sortBy(_.getLong(0))
    import s.implicits._
    val probes = qRows.toSeq.flatMap { r =>
      val q = r.getSeq[Double](1).toArray
      val lut = Seq.tabulate(NSub) { sub =>
        val qs = q.slice(sub * SubDim, (sub + 1) * SubDim)
        cb(sub).map(c => dot(qs, c)).toSeq
      }
      topCellsLocal(q, cents, NProbe).map { cell =>
        (r.getLong(0), cell.toLong, dot(q, cents(cell)), lut)
      }
    }
    val qDf = probes.toDF("q_id", "cell", "cterm", "lut")

    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
    codes.join(broadcast(qDf), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("score", round(col("cterm") + pqScore(col("codes"), col("lut")), 4))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("n_id"), col("rank"), col("score"))
      .orderBy(col("q_id"), col("rank"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_ivfpq" -> (annTopkIvfPq _))

  private def cellsSql: String =
    s"(SELECT least(greatest(${AnnIvf.MinCells}, ceil(sqrt(count(*) / 2.0))::BIGINT), count(*)) FROM e)"

  /** cterm + (ascending-subspace ADC sum), parenthesized to the same
    * association the Spark side computes (cterm + PqScore's loop). */
  private def scoreSql: String = {
    val adc = (0 until NSub).map(sub => s"max(CASE WHEN s = $sub THEN dp END)").mkString(" + ")
    s"round(cterm + ($adc), 4)"
  }

  val oracles: Map[String, String] = Map(
    "ann_ivfpq" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |cents AS (SELECT vec_id AS c_id, emb AS c_emb FROM e WHERE vec_id < $cellsSql),
         |sub AS (SELECT range AS s FROM range($NSub)),
         |assigned AS (
         | SELECT vec_id, emb, cell, c_emb FROM (
         |  SELECT e.vec_id, e.emb, cents.c_id AS cell, cents.c_emb,
         |   row_number() OVER (PARTITION BY e.vec_id
         |     ORDER BY round(${cosineSql("e.emb", "cents.c_emb")}, 6) DESC NULLS LAST, cents.c_id) AS r
         |  FROM e CROSS JOIN cents) t
         | WHERE r = 1),
         |cb AS (
         | SELECT sub.s, a.vec_id - $cellsSql AS b_id,
         |  list_transform(range($SubDim),
         |    i -> a.emb[sub.s * $SubDim + i + 1] - a.c_emb[sub.s * $SubDim + i + 1]) AS b_emb
         | FROM assigned a CROSS JOIN sub
         | WHERE a.vec_id >= $cellsSql AND a.vec_id < $cellsSql + $NBooks),
         |codes AS (
         | SELECT vec_id, cell, s, b_id AS code FROM (
         |  SELECT a.vec_id, a.cell, cb.s, cb.b_id,
         |   row_number() OVER (PARTITION BY a.vec_id, cb.s
         |     ORDER BY round(${cosineSql(
             s"list_transform(range($SubDim), i -> a.emb[cb.s * $SubDim + i + 1] - a.c_emb[cb.s * $SubDim + i + 1])",
             "cb.b_emb")}, 6) DESC NULLS LAST, cb.b_id) AS r
         |  FROM assigned a CROSS JOIN cb) t
         | WHERE r = 1),
         |probes AS (
         | SELECT q_id, q_emb, cell, cterm FROM (
         |  SELECT e.vec_id AS q_id, e.emb AS q_emb, cents.c_id AS cell,
         |   list_dot_product(e.emb, cents.c_emb) AS cterm,
         |   row_number() OVER (PARTITION BY e.vec_id
         |     ORDER BY round(${cosineSql("e.emb", "cents.c_emb")}, 6) DESC NULLS LAST, cents.c_id) AS r
         |  FROM e CROSS JOIN cents WHERE e.vec_id < $NQueries) t
         | WHERE r <= $NProbe),
         |d AS (
         | SELECT probes.q_id, codes.vec_id AS n_id, probes.cterm, codes.s,
         |  list_dot_product(
         |   list_slice(probes.q_emb, codes.s * $SubDim + 1, codes.s * $SubDim + $SubDim),
         |   cb.b_emb) AS dp
         | FROM probes
         | JOIN codes ON codes.cell = probes.cell AND codes.vec_id != probes.q_id
         | JOIN cb ON cb.s = codes.s AND cb.b_id = codes.code),
         |sc AS (
         | SELECT q_id, n_id, $scoreSql AS score
         | FROM d GROUP BY q_id, n_id, cterm)
         |SELECT q_id, n_id, rank, score FROM (
         | SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
         | FROM sc) t
         |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin)
}
