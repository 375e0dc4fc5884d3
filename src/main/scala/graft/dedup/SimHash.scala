package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** SimHash near-duplicate detection (SURVEY.md §2 #22).
  *
  * 64-bit SimHash per document: each bit is the sign of the ±1 vote sum of
  * the token hashes at that bit position. Near-dups are pairs within
  * Hamming distance ≤ 3, found without an all-pairs scan by the 4-band
  * pigeonhole: two hashes within distance 3 must agree exactly on at least
  * one of four 16-bit bands, so the self-join is an equi-join on
  * (band, 16-bit key) — a uniform-key shuffle, sub-quadratic at scale.
  *
  * The bit arithmetic is expressed in Spark SQL (nested lambda aggregates)
  * so the whole computation stays inside whole-stage codegen.
  */
object SimHash extends graft.QueryModule {

  /** Per-document simhash plus Hamming-≤3 near-dup pairs via 16-bit bands.
    * The hash is the compiled SimHash64 expression (see HashExprs); the
    * repartition barrier stops Catalyst re-inlining it into each band row. */
  def nearDupPairs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.functions.HashExprs.simhash64(split(col("text"), "\\s+")).as("simhash"))
      .repartition(col("doc_id"))
    val banded = docs
      .select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bkey", expr("(shiftright(simhash, band * 16) & 65535L)"))
    val a = banded.select(col("doc_id").as("a_id"), col("simhash").as("a_sh"), col("band"), col("bkey"))
    val b = banded.select(col("doc_id").as("b_id"), col("simhash").as("b_sh"), col("band"), col("bkey"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        expr("bit_count(a_sh ^ b_sh)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy(col("a_id"), col("b_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_simhash" -> (nearDupPairs _))

  /** Full oracle: the md5-based token hash (HashExprs.md5u64) replays per
    * bit in SQL — per (doc, bit) vote counts, then the signed-BIGINT
    * simhash, then an all-pairs Hamming join. All-pairs is exact here, not
    * a different answer: with 4 bands of 16 bits, Hamming ≤ 3 touches at
    * most 3 bands, so every qualifying pair also agrees on ≥1 band — the
    * banded plan and the all-pairs oracle select identical pairs (the
    * oracle just doesn't need to be sub-quadratic at sf0.1). */
  val oracles: Map[String, String] = Map(
    "dedup_simhash" ->
      s"""WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS tok
         | FROM documents),
         |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS th FROM t),
         |v AS (SELECT doc_id, b, count(*) AS n, sum(((th >> b) & 1)::BIGINT) AS c
         | FROM h CROSS JOIN (SELECT unnest(range(0,64))::INTEGER AS b) bs
         | GROUP BY doc_id, b),
         |sh AS (SELECT doc_id,
         |  sum(CASE WHEN 2*c >= n THEN
         |    CASE WHEN b = 63 THEN -9223372036854775808 ELSE (1::BIGINT << b) END
         |  ELSE 0 END)::BIGINT AS simhash
         | FROM v GROUP BY doc_id)
         |SELECT a.doc_id AS a_id, x.doc_id AS b_id,
         | bit_count(xor(a.simhash, x.simhash))::BIGINT AS hamming
         |FROM sh a JOIN sh x ON a.doc_id < x.doc_id
         |WHERE bit_count(xor(a.simhash, x.simhash)) <= 3
         |ORDER BY a_id, b_id""".stripMargin)
}
