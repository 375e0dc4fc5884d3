package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** #28ag `sample_curriculum` — curriculum ordering for training
  * (Bengio et al., ICML 2009; the modern anneal: order/stage data by
  * difficulty so early steps see fluent text and the decay phase sees
  * the hard tail) (SURVEY.md §2).
  *
  * The deploy-side consumer of the corpus-LM score: every document gets
  * a DIFFICULTY (exact integer milli-bits per bigram — the
  * `text_lm_score` whole-bit surprisal chain, composed via the
  * REGISTERED query so curriculum and gate can never disagree), a
  * curriculum STAGE (1 = easiest … [[Stages]] = hardest), and a SHARD.
  * Trainers consume shards in (stage, shard) lexicographic order — the
  * WebDataset convention: an explicit global row number is pointless
  * (shuffle buffers randomize within shard anyway) and a global
  * row_number is the one thing that cannot scale (a single-partition
  * sort); (stage, shard) IS the curriculum order, and shard counts give
  * the manifest.
  *
  * Stages are VALUE-quantiles, not rank-quantiles (the CCNet /
  * `text_perplexity_buckets` discipline): the difficulty histogram is
  * value-bounded (milli-bits ∈ [0, 64000] — at most 64001 distinct
  * values regardless of corpus size), so the three stage thresholds
  * come off a running-sum window over the BOUNDED histogram (declared
  * bounded single-partition class), and every equal-difficulty document
  * lands in the same stage (rank-quantiles would split ties by id —
  * meaningless for training). Threshold rule: t_k = smallest difficulty
  * with 4·cum ≥ k·n (exact integer cross-multiply); stage = 1 + |{k :
  * difficulty > t_k}|.
  *
  * Determinism: difficulty = (total_bits·1000) div n_bigrams is exact
  * integer arithmetic on the lm chain's exact integers (0 when no
  * bigrams — undecodably short docs train first, where they do least
  * harm); the shard is the house 40-bit md5 hash of the doc id mod
  * [[Shards]].
  *
  * Scale: the lm chain's own posture + ONE map-side histogram aggregate
  * + the bounded-histogram window + a 3-row broadcast threshold join +
  * a map-side shard hash. Nothing global, nothing driver-side. */
object Curriculum extends graft.QueryModule {

  val Stages = 4
  val Shards = 64L

  def curriculum(s: SparkSession, dir: String): DataFrame = {
    val scored = LmScore.queries("text_lm_score")(s, dir)
      .select(col("doc_id"), col("n_bigrams"), col("total_bits"))
      .withColumn("diff_mbits",
        when(col("n_bigrams") > 0,
          expr("(total_bits * 1000L) div n_bigrams")).otherwise(lit(0L)))
    val sc = graft.CacheRegistry.track(scored)
    val n = sc.count()
    val hist = sc.groupBy(col("diff_mbits")).agg(count(lit(1)).as("c"))
    val wVal = Window.orderBy(col("diff_mbits"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("c")).over(wVal))
    val thresholds = (1 until Stages).map { k =>
      cum.filter(col("cum") * 4 >= lit(k) * n)
        .agg(min(col("diff_mbits")).as("t")).select(lit(k).as("k"), col("t"))
    }.reduce(_.unionByName(_))
    val hSql = "cast(conv(substring(md5(cast(doc_id as string)), 1, 10), 16, 10) as bigint)"
    sc.join(broadcast(thresholds), col("diff_mbits") > col("t"), "left")
      .groupBy(col("doc_id"), col("diff_mbits"))
      .agg(count(col("k")).as("n_above"))
      .select(col("doc_id"), col("diff_mbits"),
        (col("n_above") + 1L).as("stage"),
        expr(s"$hSql % $Shards").as("shard"))
      .orderBy(col("stage"), col("shard"), col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_curriculum" -> (curriculum _))

  /** Oracle composes the REGISTERED text_lm_score oracle verbatim (the
    * `graph_modularity` one-source-of-truth discipline), then replays
    * thresholds, stages, and shards. */
  val oracles: Map[String, String] = Map(
    "sample_curriculum" -> {
      val lm = LmScore.oracles("text_lm_score")
      s"""WITH lm AS (SELECT * FROM (\n$lm\n) lm0),
         |sc AS (SELECT doc_id,
         |  CASE WHEN n_bigrams > 0 THEN (total_bits * 1000) // n_bigrams
         |   ELSE 0 END::BIGINT AS diff_mbits
         | FROM lm),
         |n AS (SELECT count(*)::BIGINT AS n FROM sc),
         |hist AS (SELECT diff_mbits, count(*)::BIGINT AS c FROM sc GROUP BY 1),
         |cum AS (SELECT diff_mbits,
         |  sum(c) OVER (ORDER BY diff_mbits ROWS UNBOUNDED PRECEDING) AS cum
         | FROM hist),
         |th AS (${(1 until Stages).map(k =>
             s"SELECT $k AS k, min(diff_mbits) AS t FROM cum, n WHERE cum.cum * 4 >= $k * n.n")
             .mkString("\n UNION ALL ")}),
         |st AS (SELECT sc.doc_id, sc.diff_mbits, count(th.k)::BIGINT AS n_above
         | FROM sc LEFT JOIN th ON sc.diff_mbits > th.t
         | GROUP BY 1, 2)
         |SELECT doc_id, diff_mbits, (n_above + 1)::BIGINT AS stage,
         | ('0x' || substr(md5(doc_id::VARCHAR), 1, 10))::BIGINT % $Shards AS shard
         |FROM st ORDER BY stage, shard, doc_id""".stripMargin
    })
}
