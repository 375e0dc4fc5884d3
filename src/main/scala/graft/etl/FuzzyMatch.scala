package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.FuzzyJoin

/** #14c Fuzzy vehicle-type crosswalk (SURVEY.md §2).
  *
  * The reference's crosswalk is an exact-alias lookup
  * (`vehicletypecrosswalk/`, main.py:1082-1102) and its audit
  * (`check_vehicletypes.py` → `etl_crosswalk_audit`) exists precisely
  * because the feed constantly invents unmapped variants — most of them
  * typos of known aliases ("sedna", "bycicle"). This operator closes that
  * loop: every free-form value resolves to the CLOSEST crosswalk alias
  * within Levenshtein distance 2 (ties to the lexicographically smallest
  * alias), or to no class at all when nothing is that near — the human
  * remediation step the audit feeds, as a deterministic operator.
  *
  * Built on [[graft.operators.FuzzyJoin.bestMatch]] (FastSS deletion-
  * neighborhood blocking): the match runs once per DISTINCT raw value,
  * then the distinct-vocabulary-sized mapping broadcasts back onto the
  * fact stream — the fact table is scanned once and never shuffled.
  */
object FuzzyMatch extends graft.QueryModule {

  val MaxDist = 2

  /** Raw feed vocabulary derived from event_id (Synth convention): typos
    * at distance 1-2 of crosswalk aliases, exact hits, and junk nothing is
    * within distance 2 of. "sbu" ties between "bus" and "suv" at 2 —
    * pinning the alphabetical tie-break on real data. */
  private[etl] val RawVocab = Seq(
    "sedna", "bycicle", "scootr", "sbu", "truk", "vann",
    "e-scoter", "bas", "sedan", "golfcart", "tracktor", "mopd", "")

  def fuzzyCrosswalk(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.events(s, dir)
      .select(col("event_id"), Synth.pick(col("event_id"), RawVocab).as("raw_vt"))
      .where(col("raw_vt") =!= "")
    val dim = EtlQueries.crosswalkDim(s)
    val mapping = FuzzyJoin.bestMatch(raw, "raw_vt", dim, "alias", MaxDist)
      .join(dim, "alias")
      .select(col("raw_vt"), col("alias").as("matched_alias"),
        col("cls").as("matched_cls"), col("dist"))
    raw.join(broadcast(mapping), Seq("raw_vt"), "left")
      .select(col("event_id"), col("raw_vt"), col("matched_alias"),
        col("matched_cls"), col("dist"))
      .orderBy(col("event_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_fuzzy_crosswalk" -> (fuzzyCrosswalk _))

  val oracles: Map[String, String] = {
    val aliasRowsSql = EtlQueries.CrosswalkAliases
      .flatMap { case (c, as) => as.map(a => s"('$c', '$a')") }.mkString(", ")
    Map("etl_fuzzy_crosswalk" ->
      s"""WITH raw AS (
         | SELECT event_id, ${Synth.pickSql("event_id", RawVocab)} AS raw_vt
         | FROM events),
         |r AS (SELECT * FROM raw WHERE raw_vt != ''),
         |al AS (SELECT * FROM (VALUES $aliasRowsSql) t(cls, alias)),
         |cand AS (
         | SELECT d.raw_vt, al.alias, al.cls,
         |  levenshtein(d.raw_vt, al.alias)::BIGINT AS dist
         | FROM (SELECT DISTINCT raw_vt FROM r) d CROSS JOIN al
         | WHERE levenshtein(d.raw_vt, al.alias) <= $MaxDist),
         |best AS (
         | SELECT raw_vt, alias, cls, dist FROM (
         |  SELECT *, row_number() OVER (PARTITION BY raw_vt
         |    ORDER BY dist, alias) AS rn
         |  FROM cand) WHERE rn = 1)
         |SELECT r.event_id, r.raw_vt, b.alias AS matched_alias,
         | b.cls AS matched_cls, b.dist
         |FROM r LEFT JOIN best b USING (raw_vt)
         |ORDER BY r.event_id""".stripMargin)
  }
}
