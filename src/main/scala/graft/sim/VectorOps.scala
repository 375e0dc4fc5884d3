package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Embedding maintenance ops (SURVEY.md §2 #24b): L2 normalization and
  * symmetric int8 quantization — the two transforms every embedding corpus
  * goes through before ANN serving. Map-side only, no shuffle at any scale.
  */
object VectorOps extends graft.QueryModule {

  /** #24b: per-vector L2 norm, normalized (rounded) vector, and int8
    * quantization scale + codes. Array-valued results are emitted as
    * '|'-joined strings (unit components scaled to 1e-5 integer grid) so the
    * driver's row-sort/hash — which cannot hash array cells — stays happy;
    * `n_dims` keeps the structural check. */
  def embNormalize(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    val emb = col("embedding").cast("array<double>")
    Tables.embeddings(s, dir)
      .select(col("vec_id"), emb.as("emb"))
      .withColumn("norm",
        sqrt(aggregate(col("emb"), lit(0.0), (acc, x) => acc + x * x)))
      .withColumn("unit",
        array_join(transform(col("emb"),
          x => round(x / col("norm") * lit(100000.0)).cast("long")), "|"))
      .withColumn("maxabs", aggregate(col("emb"), lit(0.0), (acc, x) => greatest(acc, abs(x))))
      .withColumn("q8",
        array_join(transform(col("emb"),
          x => round(x * lit(127.0) / col("maxabs")).cast("long")), "|"))
      .select(col("vec_id"), size(col("emb")).cast("long").as("n_dims"),
        round(col("norm"), 6).as("norm"),
        col("unit"), round(col("maxabs"), 6).as("maxabs"), col("q8"))
      .orderBy(col("vec_id"))
  }

  /** #24c Random-projection dimensionality reduction (Johnson-
    * Lindenstrauss): 64-dim embeddings × a deterministic 8×64 matrix —
    * the cheap pre-ANN compression step. The matrix entries are derived
    * from a hash recurrence and constant-folded into the expression tree,
    * so the whole projection is one map-side whole-stage-codegen pass
    * (512 fused multiply-adds per row, no HOF, no shuffle). At 100 TB the
    * matrix rides the closure as 2 KB of literals — nothing is joined.
    * Both engines evaluate the identical left-associated sum, so doubles
    * match bit-for-bit before rounding. */
  private val ProjDims = 8
  private val EmbDims = 64
  /** splitmix64-style finalizer — a structured LCG here makes the 8 rows
    * shifted copies of one lattice (near-degenerate projection); full bit
    * mixing keeps them effectively independent. The double round-trips
    * exactly into the oracle SQL via shortest-representation printing. */
  private def weight(k: Int, j: Int): Double = {
    var x = k.toLong * EmbDims + j + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^= (x >>> 31)
    (x & 0xFFFFFL).toDouble / 0x80000L.toDouble - 1.0
  }

  /** Test seam: EmbProjectSpec recomputes the projection independently. */
  private[sim] def testWeight(k: Int, j: Int): Double = weight(k, j)

  def embProject(s: SparkSession, dir: String): DataFrame = {
    val projections = (0 until ProjDims).map { k =>
      round((0 until EmbDims)
        .map(j => col("embedding").getItem(j).cast("double") * lit(weight(k, j)))
        .reduce(_ + _), 6).as(s"p$k")
    }
    Tables.embeddings(s, dir)
      .select(col("vec_id") +: projections: _*)
      .orderBy(col("vec_id"))
  }

  /** #28l Balanced-class downsampling over the labeled embedding corpus —
    * the class-rebalancing step before contrastive/classifier training
    * (a skewed label mix trains a skewed model; the standard fix caps
    * every class at the MINORITY class size). Selection is a
    * content-stable hash order (md5 of vec_id — reproducible on any
    * engine and cluster size, the `sample_stratified` contract), keeping
    * exactly min-class-count rows per label. The exact per-label rank is
    * the oracle-able toy-scale tail; at 100 TB the documented swap is a
    * per-label hash-threshold from one approx-quantile pass (the
    * `emb_outliers` pattern), which drops the per-label sort for a
    * map-side filter. */
  def sampleBalanced(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
    val minc = e.groupBy(col("label")).agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("min_n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("label"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    if (graft.ScaleMode.approx(s)) {
      // 100 TB path (spark.graft.scale.approx=true): the exact per-label
      // rank is unbounded on a skewed majority label; but the sort key IS
      // a uniform hash, so "the min_n smallest hashes of label L" lives
      // almost surely below the analytic threshold 2·(min_n/n_L) of hash
      // space (Chernoff; 2× slack). Pre-filtering on that threshold
      // bounds each label's window input to ~2·min_n rows, after which
      // the SAME rank+trim runs — output identical to exact mode unless
      // the 2× slack ever undershoots (vanishing at scale, absent on the
      // driver corpora; spec-pinned in ScaleModeSpec).
      val h = conv(substring(md5(col("vec_id").cast("string")), 1, 15), 16, 10)
        .cast("long") // top 60 bits of the sort key, uniform on [0, 16^15)
      val hSpace = 1152921504606846976.0 // 16^15
      val perLabel = e.groupBy(col("label")).agg(count(lit(1)).as("n_l"))
      val pre = e
        .join(broadcast(perLabel), Seq("label"))
        .crossJoin(broadcast(minc))
        .filter(h <= (lit(2.0) * col("min_n") / col("n_l") * hSpace).cast("long"))
      pre
        .withColumn("pick_rank", row_number().over(w).cast("long"))
        .filter(col("pick_rank") <= col("min_n"))
        .select(col("vec_id"), col("label"), col("pick_rank"))
        .orderBy(col("vec_id"))
    } else
      e.crossJoin(broadcast(minc))
        .withColumn("pick_rank", row_number().over(w).cast("long"))
        .filter(col("pick_rank") <= col("min_n"))
        .select(col("vec_id"), col("label"), col("pick_rank"))
        .orderBy(col("vec_id"))
  }

  /** #24j `emb_dim_stats` — per-dimension embedding QA (the collapsed /
    * exploded dimension audit): a dimension whose variance is ~0 is dead
    * weight in every cosine (and a symptom of a broken encoder export); a
    * dimension with outsized variance dominates distances and wants
    * whitening (`emb_pca`'s trigger). Emits per dim: n, mean, variance,
    * share of total variance, and dead/dominant flags.
    *
    * Determinism: components quantize to a 10^-6 integer grid FIRST
    * (round(x·10⁶) BIGINT — a corpus-order-dependent float Σ would differ
    * between engines and even between Spark runs), so the moment sums are
    * exact integers and every emitted double is one fixed-form expression.
    * The moment chain runs in DECIMAL(38,0) (DuckDB: HUGEINT) — the sf1
    * insurance run proved the old n·Σ(x·10⁶)² < 2^63 BIGINT contract
    * breaks at 20k vectors (the 64-dim window total overflowed), and
    * 38 digits carry corpora past 10¹⁵ vectors; the dominant flag
    * compares in doubles OVER those exact integers (identical IEEE ops
    * cross-engine). dead: exact integer vnum = 0.
    *
    * Scale posture: one corpus pass, posexplode ×Dims the only multiplier,
    * ONE map-side-combinable |Dims|-key aggregate; the variance totals are
    * a window over the |Dims|-row aggregate. */
  val DominantX = 4L

  def embDimStats(s: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(s, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        // widen float→double FIRST (exact) so both engines quantize the
        // identical double; float-domain arithmetic would round differently
        round(col("x").cast("double") * 1000000).cast("long").as("xi"))
    val m = q.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("xi")).as("sx"),
        sum(col("xi") * col("xi")).as("sxx"))
    // var numerator n·Σx² − (Σx)² in 10^-12 units — EXACT DECIMAL(38,0):
    // at sf1 (20k vectors) n·sxx alone reaches ~6·10^18 and the 64-dim
    // total overflows BIGINT (the sf1 insurance run caught the throw), so
    // the moment chain widens to decimals (DuckDB mirrors with HUGEINT)
    val vnum = col("n").cast("decimal(38,0)") * col("sxx").cast("decimal(38,0)") -
      col("sx").cast("decimal(38,0)") * col("sx").cast("decimal(38,0)")
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    m.withColumn("vnum", vnum)
      .withColumn("tot_vnum", sum(col("vnum")).over(w))
      .withColumn("n_dims", count(lit(1)).over(w))
      .select(col("dim"), col("n"),
        round(col("sx").cast("double") / col("n") / 1000000.0, 6).as("mean"),
        round(col("vnum").cast("double") / col("n") / col("n") / 1e12, 6).as("variance"),
        when(col("tot_vnum") > 0,
          round(col("vnum").cast("double") / col("tot_vnum"), 4)).as("var_share"),
        (col("vnum") === 0).as("dead"),
        (col("vnum").cast("double") * col("n_dims") >
          col("tot_vnum").cast("double") * DominantX).as("dominant"))
      .orderBy(col("dim"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_normalize" -> (embNormalize _),
    "emb_project"   -> (embProject _),
    "emb_dim_stats" -> (embDimStats _),
    "sample_balanced" -> (sampleBalanced _))

  private def projSql(k: Int): String =
    "round(" + (0 until EmbDims)
      .map(j => s"embedding[${j + 1}]::DOUBLE * (${weight(k, j)})")
      .mkString(" + ") + s", 6) AS p$k"

  val oracles: Map[String, String] = Map(
    "emb_dim_stats" ->
      s"""WITH q AS (SELECT unnest(
         |    list_transform(embedding::DOUBLE[],
         |      x -> round(x * 1000000)::BIGINT)) AS xi,
         |  unnest(range(0, len(embedding))) AS dim
         | FROM embeddings),
         |m AS (SELECT dim, count(*)::BIGINT AS n, sum(xi)::BIGINT AS sx,
         |  sum(xi * xi)::BIGINT AS sxx
         | FROM q GROUP BY dim),
         |v AS (SELECT *, (n::HUGEINT * sxx - sx::HUGEINT * sx) AS vnum,
         |  sum((n::HUGEINT * sxx - sx::HUGEINT * sx)) OVER () AS tot_vnum,
         |  count(*) OVER ()::BIGINT AS n_dims
         | FROM m)
         |SELECT dim, n,
         | round(sx::DOUBLE / n / 1000000.0, 6) AS mean,
         | round(vnum::DOUBLE / n / n / 1e12, 6) AS variance,
         | CASE WHEN tot_vnum > 0 THEN round(vnum::DOUBLE / tot_vnum, 4) END AS var_share,
         | (vnum = 0) AS dead,
         | (vnum::DOUBLE * n_dims > tot_vnum::DOUBLE * $DominantX) AS dominant
         |FROM v ORDER BY dim""".stripMargin,
    "sample_balanced" ->
      """WITH c AS (SELECT label, count(*)::BIGINT AS n
        |  FROM embeddings GROUP BY label),
        |m AS (SELECT min(n) AS min_n FROM c),
        |r AS (SELECT vec_id, label,
        |  row_number() OVER (PARTITION BY label
        |    ORDER BY md5(vec_id::VARCHAR), vec_id) AS pick_rank
        | FROM embeddings)
        |SELECT vec_id, label, pick_rank FROM r, m
        |WHERE pick_rank <= min_n ORDER BY vec_id""".stripMargin,
    "emb_project" ->
      s"""SELECT vec_id, ${(0 until ProjDims).map(projSql).mkString(",\n ")}
         |FROM embeddings ORDER BY vec_id""".stripMargin,
    "emb_normalize" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |n AS (SELECT vec_id, emb,
        |  sqrt(list_dot_product(emb, emb)) AS norm,
        |  list_max(list_transform(emb, x -> abs(x))) AS maxabs
        | FROM e)
        |SELECT vec_id, len(emb)::BIGINT AS n_dims, round(norm, 6) AS norm,
        | array_to_string(list_transform(emb, x -> round(x / norm * 100000.0)::BIGINT), '|') AS unit,
        | round(maxabs, 6) AS maxabs,
        | array_to_string(list_transform(emb, x -> round(x * 127.0 / maxabs)::BIGINT), '|') AS q8
        |FROM n ORDER BY vec_id""".stripMargin)
}
