package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #24l `emb_quantize_int8` — per-dimension affine INT8 quantization of the
  * embedding corpus: the storage/serving compression step every
  * billion-vector deployment applies before its ANN index (4× smaller than
  * float32, 8× than float64; PQ (`ann_pq`) is the sub-byte sibling, this is
  * the lossless-enough baseline).
  *
  * Scheme: per dimension d, calibration range [mn_d, mx_d] = exact corpus
  * min/max (order-independent aggregates — no float-sum drift), scale_d =
  * (mx_d - mn_d)/255; code = round((x - mn_d)/scale_d) ∈ [0, 255]
  * (HALF_UP in both engines); a constant dimension (scale 0) codes to 0
  * and dequantizes to mn_d exactly. Per-vector fidelity is the MAX
  * absolute reconstruction error over dims — max is order-independent, so
  * no summation-order trap (the `emb_dim_stats` lesson), rounded to 9.
  *
  * Scale: calibration is ONE map-side-combinable 2×Dim aggregate (the
  * bounded model artifact — 2×Dim doubles to the driver, shipped back as
  * a literal); quantization is one map-side `transform` pass inside
  * codegen — zero joins, zero shuffles beyond the output sort.
  */
object QuantizeInt8 extends graft.QueryModule {

  val Dim = Kmeans.Dim

  def quantize(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val statCols = (1 to Dim).flatMap(i =>
      Seq(min(element_at(col("emb"), i)), max(element_at(col("emb"), i))))
    val statRow = e.agg(statCols.head, statCols.tail: _*).collect()
    if (statRow.isEmpty || statRow.head.isNullAt(0))
      return e.select(col("vec_id"), lit("").as("codes"),
        lit(0.0).as("max_abs_err")).filter(lit(false))
    val r = statRow.head
    val mins = Array.tabulate(Dim)(i => r.getDouble(2 * i))
    val scales = Array.tabulate(Dim)(i => (r.getDouble(2 * i + 1) - mins(i)) / 255.0)
    val minsLit = typedlit(mins.toSeq)
    val scalesLit = typedlit(scales.toSeq)

    def code(x: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) = {
      val mn = element_at(minsLit, (i + 1).cast("int"))
      val sc = element_at(scalesLit, (i + 1).cast("int"))
      when(sc === 0.0, lit(0L)).otherwise(round((x - mn) / sc).cast("long"))
    }
    def dequant(q: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) = {
      val mn = element_at(minsLit, (i + 1).cast("int"))
      val sc = element_at(scalesLit, (i + 1).cast("int"))
      mn + q.cast("double") * sc
    }
    e.select(col("vec_id"),
        zip_with(col("emb"), sequence(lit(0), lit(Dim - 1)),
          (x, i) => code(x, i)).as("codes"),
        col("emb"))
      .withColumn("max_abs_err",
        round(array_max(zip_with(col("codes"), sequence(lit(0), lit(Dim - 1)),
          (q, i) => abs(dequant(q, i) -
            element_at(col("emb"), (i + 1).cast("int"))))), 9))
      // Driver-gate convention (etl/EtlQueries.scala:118): the pandas
      // row-sort cannot hash array cells, so the oracle-visible column is
      // the '|'-joined scalar; the array form stays internal.
      .select(col("vec_id"),
        array_join(col("codes").cast("array<string>"), "|").as("codes"),
        col("max_abs_err"))
      .orderBy(col("vec_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_quantize_int8" -> (quantize _))

  val oracles: Map[String, String] = Map(
    "emb_quantize_int8" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |x AS (SELECT vec_id, unnest(emb) AS v, generate_subscripts(emb, 1) AS d FROM e),
         |cal AS MATERIALIZED (SELECT d, min(v) AS mn, (max(v) - min(v)) / 255.0 AS sc
         | FROM x GROUP BY d),
         |q AS (SELECT x.vec_id, x.d,
         |  CASE WHEN cal.sc = 0.0 THEN 0 ELSE round((x.v - cal.mn) / cal.sc)::BIGINT END AS code,
         |  CASE WHEN cal.sc = 0.0 THEN 0.0
         |       ELSE abs(cal.mn + round((x.v - cal.mn) / cal.sc) * cal.sc - x.v) END AS err
         | FROM x JOIN cal ON x.d = cal.d)
         |SELECT vec_id, string_agg(code::VARCHAR, '|' ORDER BY d) AS codes,
         | round(max(err), 9) AS max_abs_err
         |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin)
}
