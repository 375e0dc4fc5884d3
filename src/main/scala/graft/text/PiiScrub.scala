package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** PII scrubbing (SURVEY.md §2 #27b / #27g): regex redaction + counts for
  * the five classes a production corpus scrub takes before pretraining —
  * emails, phones, SSN-shaped ids, IPv4 addresses, and credit-card
  * numbers — plus `text_pii_audit`, the standing per-class corpus report
  * a data-governance review reads (which classes occur, in how many
  * documents, at what rate).
  *
  * Patterns use only character classes and bounded quantifiers so Java
  * regex (Spark) and RE2 (DuckDB) agree exactly; matching is declared
  * SHAPE-BASED (an IPv4-shaped `999.999.999.999` still redacts — over-
  * redaction is the safe direction for training-data hygiene). Credit
  * cards add the one semantic check that is pure integer arithmetic and
  * therefore FULL-oracle-able: the Luhn checksum (ISO/IEC 7812) — every
  * 13-16 digit run is redacted (conservative), but `n_ccs` counts only
  * Luhn-VALID runs, and the audit reports shape vs Luhn-valid separately
  * (the gap between them is the false-positive mass a reviewer inspects).
  * Digit runs longer than 16 chunk greedily left-to-right (both engines'
  * regex semantics, declared).
  *
  * Replacement order is declared and fixed (EMAIL → PHONE → SSN → IP →
  * CC) so the digest is stable; the shapes are mutually non-overlapping
  * (dashes vs dots vs contiguous digits), so order affects no current
  * class pair. Map-side only; the audit adds one 6-key aggregate. */
object PiiScrub extends graft.QueryModule {

  val EmailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"
  val PhonePat = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val SsnPat = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
  val IpPat = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
  val CcPat = "[0-9]{13,16}"

  /** Luhn checksum of a digit-run column (ISO/IEC 7812): from the right,
    * double every second digit, fold >9 by subtracting 9, valid iff the
    * total is ≡ 0 mod 10. Pure integer arithmetic over substr — the same
    * expression replays in the oracle. */
  private def luhnOk(c: Column): Column = {
    val total = aggregate(
      sequence(lit(1), length(c)),
      lit(0L),
      (acc, i) => {
        val d = substr(c, i, lit(1)).cast("long")
        val fromRight = length(c) - i // 0 for rightmost
        val dd = when(fromRight % 2 === 1,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
        acc + dd
      })
    total % 10 === 0
  }

  def scrub(df: DataFrame): DataFrame =
    df
      .withColumn("n_emails", size(regexp_extract_all(col("text"), lit(EmailPat), lit(0))).cast("long"))
      .withColumn("n_phones", size(regexp_extract_all(col("text"), lit(PhonePat), lit(0))).cast("long"))
      .withColumn("n_ssns", size(regexp_extract_all(col("text"), lit(SsnPat), lit(0))).cast("long"))
      .withColumn("n_ips", size(regexp_extract_all(col("text"), lit(IpPat), lit(0))).cast("long"))
      .withColumn("n_cc_shape", size(regexp_extract_all(col("text"), lit(CcPat), lit(0))).cast("long"))
      .withColumn("n_ccs",
        size(filter(regexp_extract_all(col("text"), lit(CcPat), lit(0)), luhnOk(_)))
          .cast("long"))
      .withColumn("clean_text",
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(col("text"), EmailPat, "<EMAIL>"),
                PhonePat, "<PHONE>"),
              SsnPat, "<SSN>"),
            IpPat, "<IP>"),
          CcPat, "<CC>"))

  def piiScrub(s: SparkSession, dir: String): DataFrame =
    scrub(Tables.documents(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ssns"),
        col("n_ips"), col("n_ccs"), md5(col("clean_text")).as("clean_digest"))
      .orderBy(col("doc_id"))

  /** #27g `text_pii_audit` — the standing corpus-level PII report: one row
    * per class with the documents touched, total hits, and document rate.
    * `cc_shape` vs `cc_luhn_valid` are separate rows by design — their gap
    * is the shape-only false-positive mass. One map pass for the per-doc
    * counts, one 6-key aggregate, one broadcast one-row total. */
  def piiAudit(s: SparkSession, dir: String): DataFrame = {
    val perDoc = scrub(Tables.documents(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ssns"),
        col("n_ips"), col("n_cc_shape"), col("n_ccs"))
    val long = perDoc.select(col("doc_id"), expr(
      """stack(6,
        | 'cc_luhn_valid', n_ccs,
        | 'cc_shape', n_cc_shape,
        | 'email', n_emails,
        | 'ip', n_ips,
        | 'phone', n_phones,
        | 'ssn', n_ssns) AS (pii_class, n)""".stripMargin))
    val tot = Tables.documents(s, dir).agg(count(lit(1)).as("n_total"))
    long.groupBy(col("pii_class"))
      .agg(sum(col("n")).as("n_hits"),
        sum(when(col("n") > 0, 1L).otherwise(0L)).as("n_docs"))
      .crossJoin(broadcast(tot))
      .select(col("pii_class"), col("n_docs"), col("n_hits"),
        when(col("n_total") > 0,
          round(col("n_docs").cast("double") / col("n_total"), 4))
          .otherwise(lit(0.0)).as("doc_rate"))
      .orderBy(col("pii_class"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_pii_scrub" -> (piiScrub _),
    "text_pii_audit" -> (piiAudit _))

  /** Shared Luhn-count CTEs: per doc, total digit-run occurrences (`ncs`)
    * and Luhn-valid occurrences (`ncl`). Distinct candidates carry their
    * occurrence count so a number appearing twice counts twice. */
  private val luhnCtes =
    s"""cc AS (SELECT doc_id, cand, count(*) AS occ FROM (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '$CcPat')) AS cand
       |  FROM documents) GROUP BY 1, 2),
       |ccd AS (SELECT doc_id, cand, occ,
       |  unnest(range(1, length(cand) + 1)) AS i FROM cc),
       |lu AS (SELECT doc_id, cand, occ, sum(
       |   CASE WHEN (length(cand) - i) % 2 = 1
       |    THEN CASE WHEN 2 * d > 9 THEN 2 * d - 9 ELSE 2 * d END
       |    ELSE d END) AS s
       | FROM (SELECT *, substring(cand, i, 1)::BIGINT AS d FROM ccd)
       | GROUP BY 1, 2, 3),
       |nlu AS (SELECT doc_id,
       |  sum(CASE WHEN s % 10 = 0 THEN occ ELSE 0 END)::BIGINT AS ncl,
       |  sum(occ)::BIGINT AS ncs FROM lu GROUP BY doc_id)""".stripMargin

  private val cleanSql =
    s"""regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |   regexp_replace(text, '$EmailPat', '<EMAIL>', 'g'),
       |   '$PhonePat', '<PHONE>', 'g'),
       |  '$SsnPat', '<SSN>', 'g'),
       | '$IpPat', '<IP>', 'g'),
       |'$CcPat', '<CC>', 'g')""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_pii_scrub" ->
      s"""WITH $luhnCtes
         |SELECT d.doc_id,
         | len(regexp_extract_all(d.text, '$EmailPat'))::BIGINT AS n_emails,
         | len(regexp_extract_all(d.text, '$PhonePat'))::BIGINT AS n_phones,
         | len(regexp_extract_all(d.text, '$SsnPat'))::BIGINT AS n_ssns,
         | len(regexp_extract_all(d.text, '$IpPat'))::BIGINT AS n_ips,
         | coalesce(nlu.ncl, 0)::BIGINT AS n_ccs,
         | md5(${cleanSql.replace("text,", "d.text,")}) AS clean_digest
         |FROM documents d LEFT JOIN nlu ON nlu.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "text_pii_audit" ->
      s"""WITH $luhnCtes,
         |perdoc AS (SELECT d.doc_id,
         |  len(regexp_extract_all(d.text, '$EmailPat'))::BIGINT AS e,
         |  len(regexp_extract_all(d.text, '$PhonePat'))::BIGINT AS p,
         |  len(regexp_extract_all(d.text, '$SsnPat'))::BIGINT AS sn,
         |  len(regexp_extract_all(d.text, '$IpPat'))::BIGINT AS ip,
         |  coalesce(nlu.ncs, 0)::BIGINT AS ccs,
         |  coalesce(nlu.ncl, 0)::BIGINT AS ccl
         | FROM documents d LEFT JOIN nlu ON nlu.doc_id = d.doc_id),
         |long AS (
         | SELECT doc_id, 'cc_luhn_valid' AS pii_class, ccl AS n FROM perdoc
         | UNION ALL SELECT doc_id, 'cc_shape', ccs FROM perdoc
         | UNION ALL SELECT doc_id, 'email', e FROM perdoc
         | UNION ALL SELECT doc_id, 'ip', ip FROM perdoc
         | UNION ALL SELECT doc_id, 'phone', p FROM perdoc
         | UNION ALL SELECT doc_id, 'ssn', sn FROM perdoc),
         |tot AS (SELECT count(*)::BIGINT AS n_total FROM documents)
         |SELECT pii_class, sum(CASE WHEN n > 0 THEN 1 ELSE 0 END)::BIGINT AS n_docs,
         | sum(n)::BIGINT AS n_hits,
         | CASE WHEN (SELECT n_total FROM tot) > 0
         |  THEN round(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END)::DOUBLE
         |   / (SELECT n_total FROM tot), 4)
         |  ELSE 0.0 END AS doc_rate
         |FROM long GROUP BY pii_class
         |ORDER BY pii_class""".stripMargin)
}
