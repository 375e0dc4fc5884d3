package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #24m `emb_whiten` — PCA WHITENING of the embedding corpus: every
  * vector's coordinates on the top [[Pca.PcDims]] principal axes, each
  * axis scaled to UNIT sample variance (w_k = (x − μ)·v_k/√λ_k), plus the
  * per-row Mahalanobis distance in that subspace. `emb_pca` rotates;
  * this rotates AND equalizes — the preprocessing PQ/IVFPQ assume (Jégou
  * et al. TPAMI 2011: product quantizers balance sub-space energies only
  * after whitening) and the standard fix for anisotropic cosine scores
  * before `dedup_embedding_cosine`-style thresholds.
  *
  * The Mahalanobis readout is the deploy-side win: in whitened
  * coordinates the squared norm Σw_k² IS the Mahalanobis distance of the
  * top-subspace projection, so `maha2 > 20.09` (the χ²₈ 0.99 quantile,
  * declared) flags embedding-space outliers — mojibake clusters, image
  * embeddings in a text dump — with a statistically calibrated threshold
  * instead of an eyeballed cosine cut (`emb_outliers`' centroid-distance
  * cousin, but calibrated and axis-fair).
  *
  * Determinism and scale are `emb_pca`'s contract verbatim: one corpus
  * pass for the moments (typed mergeable Aggregator, corpus never
  * shuffles), driver-side Jacobi on the 64×64 covariance, and the
  * whitening weights v_k/√λ_k CONSTANT-FOLDED into 512 fused
  * multiply-adds per row — no join, no shuffle, no HOF; `maha2` is the
  * left-associated sum of squares of the ALREADY-ROUNDED coordinates
  * (one more fixed-form layer, replayed identically in SQL), so the gate
  * hash-checks whitening end to end under the MODEL-AS-LITERAL oracle.
  * An axis with λ ≤ 1e−12 (degenerate corpus) emits NULL instead of an
  * exploding 1/√λ, and drops out of maha2 (declared). */
object Whiten extends graft.QueryModule {

  val MahaOutlier = 20.09 // χ²(PcDims=8) 0.99 quantile, declared constant
  val MinVar = 1e-12

  def embWhiten(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir)
    Pca.trainedModel(s, dir) match {
      case None =>
        val cols = col("vec_id") +: (0 until Pca.PcDims).map(k => lit(0.0).as(s"w$k")) :+
          lit(0.0).as("maha2") :+ lit(false).as("is_outlier")
        base.limit(0).select(cols: _*)
      case Some((_, mean, vals, vecs)) =>
        val scores: Seq[Column] = (0 until Pca.PcDims).map { k =>
          if (vals(k) <= MinVar) lit(null).cast("double").as(s"w$k")
          else {
            val sd = math.sqrt(vals(k))
            val w = vecs(k).map(_ / sd)
            val shift = (0 until Pca.EmbDims).map(j => mean(j) * w(j)).sum
            round((0 until Pca.EmbDims)
              .map(j => col("embedding").getItem(j).cast("double") * lit(w(j)))
              .reduce(_ + _) - lit(shift), 6).as(s"w$k")
          }
        }
        val valid = (0 until Pca.PcDims).filter(k => vals(k) > MinVar)
        val maha =
          if (valid.isEmpty) lit(null).cast("double")
          else round(valid.map(k => col(s"w$k") * col(s"w$k"))
            .reduce(_ + _), 6)
        base.select(col("vec_id") +: scores: _*)
          .withColumn("maha2", maha)
          .withColumn("is_outlier",
            coalesce(col("maha2") > MahaOutlier, lit(false)))
          .orderBy(col("vec_id"))
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_whiten" -> (embWhiten _))

  /** MODEL-AS-LITERAL oracle (the `emb_pca` convention): whitened weights
    * and shifts interpolate as shortest-repr double literals, projection
    * replays as the identical left-associated 64-term sum, and maha2 as
    * the left-associated sum of squares of the rounded coordinate
    * columns in a wrapping SELECT. */
  def oracles: Map[String, String] = Map(
    "emb_whiten" -> graft.OracleContext.rendered { (s, dir) =>
      Pca.trainedModel(s, dir) match {
        case None =>
          "SELECT vec_id, " +
            (0 until Pca.PcDims).map(k => s"0.0 AS w$k").mkString(", ") +
            ", 0.0 AS maha2, false AS is_outlier FROM embeddings WHERE false"
        case Some((_, mean, vals, vecs)) =>
          val scoreCols = (0 until Pca.PcDims).map { k =>
            if (vals(k) <= MinVar) s"CAST(NULL AS DOUBLE) AS w$k"
            else {
              val sd = math.sqrt(vals(k))
              val w = vecs(k).map(_ / sd)
              val shift = (0 until Pca.EmbDims).map(j => mean(j) * w(j)).sum
              val terms = (0 until Pca.EmbDims)
                .map(j => s"embedding[${j + 1}]::DOUBLE * ${w(j)}")
                .mkString(" + ")
              s"round($terms - $shift, 6) AS w$k"
            }
          }
          val valid = (0 until Pca.PcDims).filter(k => vals(k) > MinVar)
          val mahaExpr =
            if (valid.isEmpty) "CAST(NULL AS DOUBLE)"
            else s"round(${valid.map(k => s"w$k * w$k").mkString(" + ")}, 6)"
          s"""SELECT *, coalesce(maha2 > $MahaOutlier, false) AS is_outlier
             |FROM (SELECT vec_id, ${scoreCols.mkString(",\n  ")},
             |  $mahaExpr AS maha2
             | FROM embeddings) z ORDER BY vec_id""".stripMargin
      }
    })
}
