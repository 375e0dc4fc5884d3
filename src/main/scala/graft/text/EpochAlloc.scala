package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** #28af `sample_epoch_alloc` — data-constrained epoch allocation
  * (Muennighoff et al., NeurIPS 2023: "Scaling Data-Constrained
  * Language Models") (SURVEY.md §2).
  *
  * The budgeting table a data-constrained training run reads before its
  * first step: fresh data is worth more than repeated data, repeats
  * decay in value (the paper's central fit: ~4 epochs ≈ fresh, beyond
  * that near-zero), so given a TOKEN BUDGET the planner must decide how
  * many epochs each domain runs and where the fractional tail lands.
  * Per (domain, epoch ≤ [[MaxEpochs]]) the marginal VALUE-PER-TOKEN is
  * the declared geometric decay [[EpochWeights]] (8/8, 4/8, 2/8, 1/8 —
  * the stand-in for the paper's fitted RD* decay; swap the four
  * constants to re-fit), so greedy-by-density allocation reduces to
  * EPOCH ROUNDS: all domains' epoch r fills before any epoch r+1, and
  * within a round domains fill in source order until the budget
  * [[BudgetNum]]/[[BudgetDen]] × corpus-tokens cuts — the straddling
  * domain takes a fractional epoch, later ones take none. Emitted per
  * domain: corpus tokens, allocated tokens, realized epochs, full
  * epochs, and EFFECTIVE tokens (value-weighted — the paper's currency
  * for "how much fresh-equivalent data did repeats buy").
  *
  * Determinism: token counts, the running cumulative, takes, and the
  * value-weighted sum are all exact BIGINTs (effective tokens carried
  * in eighths); `epochs` and `effective_tokens` are one fixed-form
  * division each (round 4). The greedy order key (epoch, source) is a
  * total order.
  *
  * Scale: one map-side token count per doc → |domains| rows; the greedy
  * is a running-sum window over the |domains|×[[MaxEpochs]] microframe
  * (≤ 80 rows — the declared bounded single-partition class, like
  * `text_perplexity_buckets`' histogram window); the budget is a
  * one-row broadcast cross. Corpus-proportional work is exactly one
  * aggregate pass. */
object EpochAlloc extends graft.QueryModule {

  val MaxEpochs = 4
  val BudgetNum = 5L
  val BudgetDen = 2L
  /** Marginal value of epoch r in eighths of a fresh-data token. */
  val EpochWeights = Seq(8L, 4L, 2L, 1L)

  def epochAlloc(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(s, dir)
      .select(col("source"), size(split(col("text"), "\\s+")).cast("long").as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("tok"))
    val tot = per.agg(sum(col("tok")).as("total"))
    val wgtExpr = expr(
      s"CASE r WHEN 1 THEN ${EpochWeights(0)} WHEN 2 THEN ${EpochWeights(1)} " +
        s"WHEN 3 THEN ${EpochWeights(2)} ELSE ${EpochWeights(3)} END")
    val rounds = per.crossJoin(broadcast(tot))
      .withColumn("budget", expr(s"(total * $BudgetNum) div $BudgetDen"))
      .select(col("source"), col("tok"), col("budget"),
        explode(sequence(lit(1), lit(MaxEpochs))).as("r"))
    // epoch rounds in (r, source) order; the running sum decides each take
    val wOrd = Window.orderBy(col("r"), col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rounds
      .withColumn("cum", sum(col("tok")).over(wOrd))
      .withColumn("take", greatest(lit(0L),
        least(col("tok"), col("budget") - (col("cum") - col("tok")))))
      .withColumn("wgt", wgtExpr.cast("long"))
      .groupBy(col("source"))
      .agg(max(col("tok")).as("n_tokens"),
        sum(col("take")).as("alloc_tokens"),
        sum(when(col("take") === col("tok"), 1L).otherwise(0L)).as("epochs_full"),
        sum(col("take") * col("wgt")).as("eff8"))
      .select(col("source"), col("n_tokens"), col("alloc_tokens"), col("epochs_full"),
        round(col("alloc_tokens").cast("double") / col("n_tokens").cast("double"), 4)
          .as("epochs"),
        round(col("eff8").cast("double") / 8.0, 4).as("effective_tokens"))
      .orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_epoch_alloc" -> (epochAlloc _))

  val oracles: Map[String, String] = Map(
    "sample_epoch_alloc" ->
      s"""WITH d AS (SELECT source, len(regexp_split_to_array(text, '\\s+'))::BIGINT AS nt
         | FROM documents),
         |p AS (SELECT source, sum(nt)::BIGINT AS tok FROM d GROUP BY source),
         |t AS (SELECT (sum(tok) * $BudgetNum) // $BudgetDen AS budget FROM p),
         |rounds AS (SELECT p.source, p.tok, t.budget, r
         | FROM p, t, (SELECT unnest(range(1, ${MaxEpochs + 1})) AS r) rs),
         |g AS (SELECT *, sum(tok) OVER (ORDER BY r, source
         |   ROWS UNBOUNDED PRECEDING) AS cum FROM rounds),
         |tk AS (SELECT source, tok,
         |  greatest(0, least(tok, budget - (cum - tok)))::BIGINT AS take,
         |  (CASE r WHEN 1 THEN ${EpochWeights(0)} WHEN 2 THEN ${EpochWeights(1)}
         |    WHEN 3 THEN ${EpochWeights(2)} ELSE ${EpochWeights(3)} END)::BIGINT AS wgt
         | FROM g)
         |SELECT source, max(tok)::BIGINT AS n_tokens,
         | sum(take)::BIGINT AS alloc_tokens,
         | sum(CASE WHEN take = tok THEN 1 ELSE 0 END)::BIGINT AS epochs_full,
         | round(sum(take)::DOUBLE / max(tok)::DOUBLE, 4) AS epochs,
         | round(sum(take * wgt)::DOUBLE / 8.0, 4) AS effective_tokens
         |FROM tk GROUP BY source ORDER BY source""".stripMargin)
}
