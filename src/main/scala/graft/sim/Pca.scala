package graft.sim

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.Tables

/** #24f PCA whitening projection for embedding corpora (SURVEY.md §2).
  *
  * The decorrelating cousin of `emb_project`'s random JL map: project
  * every embedding onto the top [[PcDims]] principal axes of the corpus
  * itself. Real pipelines run exactly this before cosine dedup / ANN
  * (PCA-whitened vectors make inner-product search better conditioned —
  * Jégou et al.'s PQ work assumes it), and the residual spectrum is the
  * standard intrinsic-dimension diagnostic for an embedding dump.
  *
  * Distribution shape, in three strictly-bounded stages:
  *   1. one pass over the corpus accumulates the moment triple
  *      (n, Σx, upper-tri Σxxᵀ) through a typed mergeable [[MomentAgg]] —
  *      partial per partition, ~17 KB of state each, one reduce; the
  *      corpus never shuffles (the KMV/Misra-Gries partial-aggregate
  *      posture applied to second moments);
  *   2. the 64×64 covariance eigenproblem is solved driver-side by cyclic
  *      Jacobi — O(d³) on a d×d matrix is microseconds and independent of
  *      corpus size (the Kmeans K×Dim-on-the-driver contract);
  *   3. the centered projection constant-folds the eigenvectors into the
  *      expression tree exactly like `emb_project`'s JL matrix: 512 fused
  *      multiply-adds per row in one whole-stage-codegen map pass, the
  *      mean folded into a per-component additive constant — no join, no
  *      shuffle, no HOF.
  *
  * No SQL oracle (an eigensolver is not SQL-expressible) ⇒ rows-only in
  * the driver gate; PcaSpec independently pins orthonormality, the eigen
  * equation on a driver-side covariance replay, spectral ordering against
  * per-column score variance, and the projection arithmetic itself. */
object Pca extends graft.QueryModule {

  val PcDims = 8
  val EmbDims = 64

  /** Moment buffer layout: [n, Σx(64), upper-tri Σxxᵀ(2080)]. */
  private val SumOff = 1
  private val GramOff = 1 + EmbDims
  private val BufLen = GramOff + EmbDims * (EmbDims + 1) / 2

  final class MomentAgg extends Aggregator[Seq[Float], Array[Double], Array[Double]] {
    def zero: Array[Double] = new Array[Double](BufLen)
    def reduce(b: Array[Double], x: Seq[Float]): Array[Double] = {
      b(0) += 1.0
      var i = 0
      var g = GramOff
      while (i < EmbDims) {
        val xi = x(i).toDouble
        b(SumOff + i) += xi
        var j = i
        while (j < EmbDims) { b(g) += xi * x(j).toDouble; j += 1; g += 1 }
        i += 1
      }
      b
    }
    def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      var i = 0
      while (i < BufLen) { a(i) += b(i); i += 1 }
      a
    }
    def finish(b: Array[Double]): Array[Double] = b
    def bufferEncoder: Encoder[Array[Double]] = Encoders.kryo
    def outputEncoder: Encoder[Array[Double]] = Encoders.kryo
  }

  /** Cyclic Jacobi eigensolver for a symmetric matrix — deterministic
    * rotation order, fixed sweep cap, convergence on the off-diagonal
    * norm. Returns (eigenvalues, eigenvectors as rows) sorted by
    * descending eigenvalue, each vector sign-normalized so its largest-
    * magnitude entry is positive (first index wins ties). */
  private[sim] def jacobiEigen(m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = m.length
    val a = Array.tabulate(n, n)((i, j) => m(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-22) {
      off = 0.0
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          off += apq * apq
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
              case tt if tt == 0.0 => 1.0 // theta == 0 ⇒ 45° rotation
              case tt => tt
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val sn = t * c
            var k = 0
            while (k < n) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - sn * akq
              a(k)(q) = sn * akp + c * akq
              k += 1
            }
            k = 0
            while (k < n) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - sn * aqk
              a(q)(k) = sn * apk + c * aqk
              val vkp = v(p)(k); val vkq = v(q)(k)
              v(p)(k) = c * vkp - sn * vkq
              v(q)(k) = sn * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until n).sortBy(i => (-a(i)(i), i))
    val vals = order.map(i => a(i)(i)).toArray
    val vecs = order.map { i =>
      val row = v(i).clone()
      val jmax = row.indices.maxBy(j => (math.abs(row(j)), -j))
      if (row(jmax) < 0) row.map(-_) else row
    }.toArray
    (vals, vecs)
  }

  /** One corpus pass → (n, mean, top-PcDims eigenpairs of the sample
    * covariance). Exposed for the spec's independent checks. */
  private[graft] def trainedModel(s: SparkSession, dir: String): Option[(Long, Array[Double], Array[Double], Array[Array[Double]])] = {
    import s.implicits._
    val moments = Tables.embeddings(s, dir)
      .select(col("embedding")).as[Seq[Float]]
      .select(new MomentAgg().toColumn).head()
    val n = moments(0).toLong
    if (n < 2) return None
    val mean = Array.tabulate(EmbDims)(i => moments(SumOff + i) / n)
    val cov = Array.ofDim[Double](EmbDims, EmbDims)
    var g = GramOff
    var i = 0
    while (i < EmbDims) {
      var j = i
      while (j < EmbDims) {
        val c = (moments(g) - n * mean(i) * mean(j)) / (n - 1.0)
        cov(i)(j) = c; cov(j)(i) = c
        j += 1; g += 1
      }
      i += 1
    }
    val (vals, vecs) = jacobiEigen(cov)
    Some((n, mean, vals.take(PcDims), vecs.take(PcDims)))
  }

  /** `emb_pca`: every vector's coordinates on the corpus' top principal
    * axes, plus each axis' share of total variance (constant per axis,
    * carried per row for checkability). */
  def embPca(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir)
    trainedModel(s, dir) match {
      case None =>
        val cols = col("vec_id") +: (0 until PcDims).map(k => lit(0.0).as(s"p$k"))
        base.limit(0).select(cols: _*)
      case Some((_, mean, _, vecs)) =>
        val scores = (0 until PcDims).map { k =>
          val w = vecs(k)
          val shift = (0 until EmbDims).map(j => mean(j) * w(j)).sum
          round((0 until EmbDims)
            .map(j => col("embedding").getItem(j).cast("double") * lit(w(j)))
            .reduce(_ + _) - lit(shift), 6).as(s"p$k")
        }
        base.select(col("vec_id") +: scores: _*).orderBy(col("vec_id"))
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_pca" -> (embPca _))

  /** MODEL-AS-LITERAL oracle (`graft.OracleContext`): the learned mean ·
    * eigenvector products interpolate as double literals (shortest-repr
    * rendering round-trips bit-exactly through DuckDB's correctly-rounded
    * parser), and the projection replays as the IDENTICAL left-associated
    * 64-term sum the Spark plan folds — so the gate hash-checks the whole
    * centering+projection arithmetic cross-engine. Training (the Jacobi
    * eigensolver) stays covered by PcaSpec's independent checks and the
    * frozen canary. A `def`: the literals must train on the corpus the
    * dump targets, known only at Verify time. */
  def oracles: Map[String, String] = Map(
    "emb_pca" -> graft.OracleContext.rendered { (s, dir) =>
      trainedModel(s, dir) match {
        case None =>
          "SELECT vec_id, " +
            (0 until PcDims).map(k => s"0.0 AS p$k").mkString(", ") +
            " FROM embeddings WHERE false"
        case Some((_, mean, _, vecs)) =>
          val scoreCols = (0 until PcDims).map { k =>
            val w = vecs(k)
            val shift = (0 until EmbDims).map(j => mean(j) * w(j)).sum
            val terms = (0 until EmbDims)
              .map(j => s"embedding[${j + 1}]::DOUBLE * ${w(j)}")
              .mkString(" + ")
            s"round($terms - $shift, 6) AS p$k"
          }
          s"""SELECT vec_id, ${scoreCols.mkString(",\n ")}
             |FROM embeddings ORDER BY vec_id""".stripMargin
      }
    })
}
