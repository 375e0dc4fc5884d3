package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal near-duplicate detection (SURVEY.md §2 #30c) — the perceptual
  * step past `mm_binary_meta`'s exact digests: media payloads that are the
  * SAME content with small differences (re-encode, crop, watermark —
  * here: edited byte payloads) must pair even though their md5s differ.
  *
  * Pipeline: opaque binary payload → 64-bit perceptual fingerprint
  * (`PHash64`, compiled, map-side; see HashExprs for why the fingerprint is
  * byte-n-gram SimHash and not a positional dHash grid) → Hamming-≤3 pairs
  * via the same 16-bit 4-band pigeonhole as `dedup_simhash`: two hashes
  * within distance 3 must agree exactly on one of four bands, so candidate
  * generation is an equi-join on (band, 16-bit key) — uniform shuffle keys,
  * sub-quadratic, no all-pairs scan. With a real image decoder the ONLY
  * change is the fingerprint expression's input (decoded raster instead of
  * raw payload); the banding, join, and verify are media-agnostic.
  *
  * Oracle (MODEL-AS-LITERAL, the `dedup_cdc_chunks` precedent): the
  * PHash64 fingerprint loop is not SQL-expressible (why the op was
  * rows-only through r13), but the 64-bit digest per payload is
  * deterministic given the bytes. At dump time the per-doc digests are
  * read off the engine's own compiled expression and interpolated as
  * VALUES; DuckDB then INDEPENDENTLY replays everything downstream —
  * 4-band pigeonhole explode, 16-bit band keys, the band equi-join,
  * distinct pairs, `bit_count(xor)` Hamming, and the ≤3 threshold — so
  * the whole candidate-generation + verify chain is hash-checked
  * cross-engine. The fingerprint recurrence itself stays covered by
  * PhashNearDupSpec's replica + the frozen canary.
  */
object PhashNearDup extends graft.QueryModule {

  /** Pigeonhole-guaranteed detection bound: ≤3 bit flips cannot touch all
    * four 16-bit bands. */
  val MaxHamming = 3

  /** Payloads shorter than the fingerprint window carry no 4-grams — PHash64
    * maps them all to 0, which would pair every tiny/empty payload with
    * every other at Hamming 0. They are excluded: "too small to assess
    * similarity" is the honest verdict, same as an image decoder rejecting
    * a truncated file. */
  val MinPayloadBytes = 4L

  def phashPairs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    // payload: the UTF-8 bytes stand in for media bytes (no media libs in
    // this container) — same convention as mm_binary_meta
    val media = Tables.documents(s, dir)
      .filter(octet_length(encode(col("text"), "UTF-8")) >= MinPayloadBytes)
      .select(col("doc_id"),
        graft.functions.HashExprs.phash64(encode(col("text"), "UTF-8")).as("phash"))
      .repartition(col("doc_id")) // barrier: keep one phash eval per row
    val banded = media
      .select(col("doc_id"), col("phash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bkey", expr("(shiftright(phash, band * 16) & 65535L)"))
    val a = banded.select(col("doc_id").as("a_id"), col("phash").as("a_ph"), col("band"), col("bkey"))
    val b = banded.select(col("doc_id").as("b_id"), col("phash").as("b_ph"), col("band"), col("bkey"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        expr("bit_count(a_ph ^ b_ph)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= MaxHamming)
      .orderBy(col("a_id"), col("b_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_phash_neardup" -> (phashPairs _))

  /** Dump-time digest table → VALUES; see the class doc. */
  private def phashOracleSql(s: SparkSession, dir: String): String = {
    graft.functions.HashExprs.register(s)
    val digests = Tables.documents(s, dir)
      .filter(octet_length(encode(col("text"), "UTF-8")) >= MinPayloadBytes)
      .select(col("doc_id"),
        graft.functions.HashExprs.phash64(encode(col("text"), "UTF-8")).as("phash"))
      .collect()
    if (digests.isEmpty)
      return """SELECT NULL::BIGINT AS a_id, NULL::BIGINT AS b_id,
                | NULL::BIGINT AS hamming WHERE 1=0""".stripMargin
    // ::HUGEINT::BIGINT: a digest of exactly Long.MinValue would otherwise
    // fail DuckDB's literal parse (unary minus binds after the BIGINT cast
    // and |MinValue| overflows); via HUGEINT the negate happens in range
    val values = digests
      .map(r => s"(${r.getLong(0)},${r.getLong(1)}::HUGEINT::BIGINT)").mkString(",")
    s"""WITH ph(doc_id, phash) AS (VALUES $values),
       |bb AS (SELECT doc_id, phash, band,
       |  ((phash >> (band * 16)::INT) & 65535) AS bkey
       | FROM ph, (SELECT unnest(range(0, 4))::INT AS band) bs),
       |pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |  bit_count(xor(a.phash, b.phash))::BIGINT AS hamming
       | FROM bb a JOIN bb b ON a.band = b.band AND a.bkey = b.bkey
       |  AND a.doc_id < b.doc_id)
       |SELECT a_id, b_id, hamming FROM pairs
       |WHERE hamming <= $MaxHamming
       |ORDER BY a_id, b_id""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "mm_phash_neardup" -> graft.OracleContext.rendered(phashOracleSql))
}
