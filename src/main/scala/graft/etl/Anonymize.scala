package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #14d k-anonymity suppression over quasi-identifiers (SURVEY.md §2).
  *
  * Event logs released for analytics or model training leak identity
  * through quasi-identifier (QI) combinations even with direct ids
  * removed (Sweeney 2002: 87% of the US population is unique on
  * {zip, birthdate, sex}). This operator enforces k-anonymity with a
  * two-level generalization ladder, the standard privacy gate before a
  * log stream enters a training corpus — the reference publishes crash
  * records with fine-grained location+time QIs, which is exactly the
  * release shape that needs this gate at scale.
  *
  * QI here: (event_type, day, cohort) with cohort = user_id div
  * [[CohortWidth]]. Ladder:
  *   - level `full`: the row's exact QI group has ≥ [[K]] members;
  *   - level `coarse`: otherwise, the cohort column is generalized away
  *     and the row survives if its residual (event_type, day) group —
  *     counted over the rows that NEEDED coarsening — has ≥ [[K]]
  *     members;
  *   - suppressed: residual group still < K ⇒ the row is dropped
  *     entirely (standard suppression, the bounded information-loss
  *     fallback of Mondrian-style recoding).
  *
  * Scale posture: two map-side-combinable groupBy counts on uniform QI
  * keys plus fact⋈aggregate hash joins back (the aggregate side is
  * |distinct QI| rows, but no broadcast is assumed — the join keys are
  * the group keys themselves, so co-partitioning is free). One fact
  * scan feeds the level-0 count and the tagging join via the tracked
  * cache; no windows over the full fact stream, no driver state. */
object Anonymize extends graft.QueryModule {

  val K = 5L
  /** Narrow enough that the test corpora (user_id range is small there)
    * exercise all three ladder outcomes — full, coarse, suppressed. */
  val CohortWidth = 5L

  def kAnonymize(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), to_date(col("ts")).as("day"),
        (expr(s"user_id div $CohortWidth")).as("cohort"))
    // persist: feeds the level-0 group count and the tagging join
    val base = graft.CacheRegistry.track(ev)
    val g0 = base.groupBy(col("event_type"), col("day"), col("cohort"))
      .agg(count(lit(1)).as("n0"))
    // persist: the fact-sized tagging join has two consumers (full +
    // needCoarse) — untracked, the join AND the g0 aggregate run twice
    val tagged = graft.CacheRegistry.track(
      base.join(g0, Seq("event_type", "day", "cohort")))
    val full = tagged.filter(col("n0") >= K)
      .select(col("event_id"), col("event_type"), col("day"), col("cohort"),
        lit("full").as("anon_level"))
    val needCoarse = tagged.filter(col("n0") < K)
    val g1 = needCoarse.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n1"))
    val coarse = needCoarse.join(g1, Seq("event_type", "day"))
      .filter(col("n1") >= K)
      .select(col("event_id"), col("event_type"), col("day"),
        lit(null).cast("long").as("cohort"), lit("coarse").as("anon_level"))
    full.unionByName(coarse).orderBy(col("event_id"))
  }

  /** #14e l-diversity release audit (Machanavajjhala et al., ICDE 2006):
    * k-anonymity alone is open to the homogeneity attack — a QI group of
    * k rows that all share ONE sensitive value identifies the sensitive
    * value of everyone in it. This audits each QI group (day, cohort) for
    * distinct l-diversity over the sensitive attribute (event_type —
    * "what the user did"): released iff the group has ≥ [[K]] rows AND
    * ≥ [[DivL]] distinct sensitive values. The group-level gate a release
    * pipeline runs AFTER `etl_k_anonymize`'s row-level ladder.
    *
    * Scale: the distinct count is the two-level (QI, sensitive) → QI
    * aggregate (no distinct expand — `etl_dq_report`'s uniqueness trick),
    * both levels map-side combinable on uniform keys; output is
    * |distinct QI| rows. One fact scan, no joins. */
  val DivL = 3L

  def lDiversity(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .select(to_date(col("ts")).as("day"),
        expr(s"user_id div $CohortWidth").as("cohort"), col("event_type"))
      .groupBy(col("day"), col("cohort"), col("event_type"))
      .agg(count(lit(1)).as("nv"))
      .groupBy(col("day"), col("cohort"))
      .agg(sum(col("nv")).as("n_rows"), count(lit(1)).as("n_sensitive"))
      .withColumn("released", col("n_rows") >= K && col("n_sensitive") >= DivL)
      .orderBy(col("day"), col("cohort"))
  }

  /** #14f Deterministic pseudonymization — the direct-identifier step the
    * QI gates above assume has already happened: user_id is replaced by a
    * salted-hash token that is STABLE (same user ⇒ same token on every
    * engine and every run, so joins and session analyses still line up
    * across released tables) yet not reversible without the salt. Pure
    * map-side codegen projection, zero shuffle at any scale; the salt is
    * a release-version literal, so rotating it re-keys the whole release
    * (the GDPR-style unlinkability knob). The spec pins injectivity on
    * the test corpus (a collision in 128-bit md5 space is a data bug, not
    * a birthday risk, at any realistic user count). */
  val PseudoSalt = "graft-release-1"

  def pseudonymize(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .select(col("event_id"),
        substring(md5(concat(lit(PseudoSalt), lit(":"), col("user_id").cast("string"))), 1, 16)
          .as("user_pseudo"),
        col("event_type"), to_date(col("ts")).as("day"))
      .orderBy(col("event_id"))
  }

  /** #14g Right-to-be-forgotten deletion audit — the compliance report a
    * GDPR/CCPA erasure run must produce BEFORE the rewrite executes: given
    * the deletion list (here the deterministic `user_id % 50 == 7` cohort
    * standing in for a request table), per month: rows to erase, rows
    * retained, affected users, and the erased share. The deletion itself
    * is the reference's partitioned-rewrite path (`WarehouseSink.merge`
    * rewrites whole partitions); this operator is the pre-flight scope
    * audit that sizes it — and at 100 TB the month key IS the partition
    * key, so the report tells you exactly which partitions get rewritten.
    * One fact scan, one map-side-combinable month aggregate (the deletion
    * membership is a per-row predicate here; a real request table joins
    * broadcast or Bloom, `etl_ingest_bloom`'s path). */
  val ErasureCohortMod = 50L
  val ErasureCohortRem = 7L

  def gdprDeleteAudit(s: SparkSession, dir: String): DataFrame = {
    val isDel = col("user_id") % ErasureCohortMod === ErasureCohortRem
    // two-level (month, user) → month aggregate: distinct users without a
    // distinct expand (the etl_dq_report uniqueness trick)
    Tables.events(s, dir)
      .select(date_trunc("month", col("ts")).cast("date").as("month"),
        col("user_id"), isDel.as("del"))
      .groupBy(col("month"), col("user_id"), col("del"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("month"))
      .agg(
        sum(when(col("del"), col("c")).otherwise(0L)).as("n_erase"),
        sum(when(col("del"), 0L).otherwise(col("c"))).as("n_retain"),
        sum(when(col("del"), 1L).otherwise(0L)).as("n_users_erased"))
      .withColumn("erased_share",
        round(col("n_erase").cast("double") / (col("n_erase") + col("n_retain")), 4))
      .orderBy(col("month"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_k_anonymize" -> (kAnonymize _),
    "etl_l_diversity" -> (lDiversity _),
    "etl_pseudonymize" -> (pseudonymize _),
    "etl_gdpr_delete" -> (gdprDeleteAudit _))

  val oracles: Map[String, String] = Map(
    "etl_gdpr_delete" ->
      s"""WITH e AS (SELECT date_trunc('month', ts)::DATE AS month, user_id,
         |  (user_id % $ErasureCohortMod = $ErasureCohortRem) AS del FROM events),
         |u AS (SELECT month, user_id, del, count(*)::BIGINT AS c
         | FROM e GROUP BY 1, 2, 3),
         |g AS (SELECT month,
         |  sum(CASE WHEN del THEN c ELSE 0 END)::BIGINT AS n_erase,
         |  sum(CASE WHEN del THEN 0 ELSE c END)::BIGINT AS n_retain,
         |  sum(CASE WHEN del THEN 1 ELSE 0 END)::BIGINT AS n_users_erased
         | FROM u GROUP BY month)
         |SELECT month, n_erase, n_retain, n_users_erased,
         | round(n_erase::DOUBLE / (n_erase + n_retain), 4) AS erased_share
         |FROM g ORDER BY month""".stripMargin,
    "etl_pseudonymize" ->
      s"""SELECT event_id,
         | substr(md5('$PseudoSalt' || ':' || user_id::VARCHAR), 1, 16) AS user_pseudo,
         | event_type, ts::DATE AS day
         |FROM events ORDER BY event_id""".stripMargin,
    "etl_l_diversity" ->
      s"""WITH v AS (SELECT ts::DATE AS day, user_id // $CohortWidth AS cohort,
         |  event_type, count(*)::BIGINT AS nv
         | FROM events GROUP BY 1, 2, 3),
         |g AS (SELECT day, cohort, sum(nv)::BIGINT AS n_rows,
         |  count(*)::BIGINT AS n_sensitive
         | FROM v GROUP BY 1, 2)
         |SELECT day, cohort, n_rows, n_sensitive,
         | (n_rows >= $K AND n_sensitive >= $DivL) AS released
         |FROM g ORDER BY day, cohort""".stripMargin,
    "etl_k_anonymize" ->
      s"""WITH ev AS (SELECT event_id, event_type, ts::DATE AS day,
         |  user_id // $CohortWidth AS cohort FROM events),
         |g0 AS (SELECT event_type, day, cohort, count(*) AS n0
         | FROM ev GROUP BY 1, 2, 3),
         |t AS (SELECT ev.*, g0.n0 FROM ev
         | JOIN g0 USING (event_type, day, cohort)),
         |nc AS (SELECT * FROM t WHERE n0 < $K),
         |g1 AS (SELECT event_type, day, count(*) AS n1 FROM nc GROUP BY 1, 2)
         |SELECT event_id, event_type, day, cohort, 'full' AS anon_level
         | FROM t WHERE n0 >= $K
         |UNION ALL
         |SELECT nc.event_id, nc.event_type, nc.day, NULL::BIGINT AS cohort,
         |  'coarse' AS anon_level
         | FROM nc JOIN g1 USING (event_type, day) WHERE g1.n1 >= $K
         |ORDER BY event_id""".stripMargin)
}
