package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** MinHash + LSH near-duplicate detection (SURVEY.md §2 #21).
  *
  * Pipeline (all codegen'd compiled expressions, no UDFs):
  *   shingle → base hash (md5u64 → mod P) → K permuted minima (signature)
  *   → 16 bands of 4 → band-bucket self-join → verified Jaccard.
  *
  * Scale: signatures are computed map-side in one pass over the corpus; the
  * only shuffle is the band-bucket exchange, whose keys are uniform by
  * construction (hash buckets), so no skew. Candidate verification joins
  * shingle sets back by doc_id — at 100 TB that join is a shuffle of the
  * candidate subset only, which LSH has already cut to ~O(dups), not O(n²).
  */
object MinHashLsh extends graft.QueryModule {

  val K = 64          // signature length
  val Bands = 16      // 16 bands × r=4 rows; s-curve threshold ≈ (1/16)^(1/4) ≈ 0.5
  val RowsPerBand = K / Bands

  /** Declared per-bucket occupancy cap for the batch band self-joins (the
    * `dedup_containment` df≤20 / `StreamNearDup.MaxPerBucket` discipline
    * applied to this family). A band bucket is a CONTENT hash — on a real
    * crawl a million byte-identical boilerplate docs share every band
    * bucket, and an uncapped self-join detonates into a 10¹²-pair task.
    * Buckets above the cap are excluded from candidate generation: their
    * members are (near-)byte-identical mass whose handling is EXACT
    * dedup's job (`dedup_exact` runs first in `CorpusPipeline.cleaned` and
    * still reports every such group); the LSH pass exists for the
    * non-identical near-dup tail, where occupancy is small by construction
    * (measured ≤16 at sf0.1 vs the 4096 cap). Candidate-pair mass is
    * thereby ≤ cap·|banded rows| — linear in the corpus. Mirrored in every
    * SQL oracle; `LshHotBucketSpec` plants a 5k-identical-doc corpus and
    * pins the linear regime. */
  val MaxBandBucket = 4096L

  /** The band-bucket key for band `band` of signature column `sig` — ONE
    * definition shared by the batch LSH family and StreamNearDup, so the
    * banding scheme cannot silently diverge between them. */
  def bandKey(band: org.apache.spark.sql.Column, sig: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    xxhash64(band, slice(sig, band * RowsPerBand + 1, lit(RowsPerBand)))

  /** Candidate pairs via banded signatures, then exact-Jaccard verification.
    *
    * The signature is the compiled MinHashSignature expression (one JVM call
    * per row — see HashExprs for why the lambda formulation is ~1000×
    * slower), and a repartition barrier sits between signature computation
    * and the band explode so Catalyst cannot re-inline the sketch into all
    * 16 band projections. */
  def nearDupPairs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    // ONE sketch pass per session: shingles + signatures come from the
    // staged frame shared with dedup_ngram_jaccard / dedup_edit_distance
    // (DedupQueries.stagedSketch — an eager localCheckpoint, so the band
    // explode below reads checkpoint blocks and Catalyst cannot re-inline
    // the sketch into the 16 band projections; the old repartition barrier
    // is no longer needed)
    val staged = DedupQueries.stagedSketch(s, dir)
    val docs = staged.select(col("doc_id"), col("sh"))
    val sigs = staged.select(col("doc_id"), col("sig"))
    val banded = sigs
      .select(col("doc_id"), explode(sequence(lit(0), lit(Bands - 1))).as("band"), col("sig"))
      .select(col("doc_id"), col("band"), bandKey(col("band"), col("sig")).as("bkey"))
    // hot-bucket cap (MaxBandBucket): the over-cap ledger is tiny by
    // definition (each entry accounts for >cap rows), so it broadcasts
    val hot = banded.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("occ")).filter(col("occ") > MaxBandBucket)
      .select(col("band"), col("bkey"))
    val cool = banded.join(broadcast(hot), Seq("band", "bkey"), "left_anti")
    val a = cool.select(col("doc_id").as("a_id"), col("band"), col("bkey"))
    val b = cool.select(col("doc_id").as("b_id"), col("band"), col("bkey"))
    // persist: the banded self-join is the dominant cost and the candidate
    // list feeds THREE consumers (two id-set union branches + the pair
    // join) — uncached, each would re-run the banding (at warehouse scale
    // this cache is a parquet staging table); tracked in CacheRegistry so
    // the session releases it once the query completes
    val candidates = graft.CacheRegistry.track(
      a.join(b, Seq("band", "bkey"))
        .filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id").distinct())
    // verify-side prune: broadcast the candidate id set and semi-join it
    // against the shingle table BEFORE the pair joins, so non-candidate
    // docs' shingle sets never shuffle (ids are 8 bytes — broadcastable
    // even when the pair list is large; past that, drop the hint and it
    // degrades to an id-only shuffle semi-join, still never the sets)
    val candIds = candidates.select(col("a_id").as("doc_id"))
      .union(candidates.select(col("b_id").as("doc_id"))).distinct()
    val pruned = docs.join(broadcast(candIds), Seq("doc_id"), "left_semi")
    val shA = pruned.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val shB = pruned.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    candidates.join(shA, "a_id").join(shB, "b_id")
      .withColumn("jaccard",
        round(graft.functions.HashExprs.jaccardSim(col("a_sh"), col("b_sh")), 4))
      .filter(col("jaccard") >= 0.10)
      .select("a_id", "b_id", "jaccard")
      .orderBy(col("a_id"), col("b_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_minhash_lsh" -> (nearDupPairs _))

  /** DuckDB CTE chain `d → s → bh → mh → sig → band`: the exact md5-based
    * MinHash signatures (see HashExprs.md5u64) and their 16 band slices for
    * every document. `band.bs` is the r=4 signature slice itself — two docs
    * share an LSH bucket iff some band's slices are equal, which is what
    * `bandKey`'s xxhash64 encodes (collision probability 2⁻⁶⁴, below the
    * oracle's resolution), so the slice-equality join replays the bucket
    * join without needing xxhash64 in SQL. */
  lazy val sigChainSql: String =
    s"""d AS (SELECT doc_id, ${DedupQueries.shinglesSql} AS sh FROM documents),
       |s AS (SELECT doc_id, unnest(sh) AS g FROM d),
       |bh AS (SELECT doc_id,
       |  ('0x' || substr(md5(g), 1, 16))::UBIGINT % ${graft.functions.HashExprs.MinHashP} AS base
       | FROM s),
       |mh AS (SELECT doc_id, k,
       |  min(((2*k+1)*base + 40503*k + 13) % ${graft.functions.HashExprs.MinHashP})::BIGINT AS m
       | FROM bh CROSS JOIN (SELECT unnest(range(0, $K)) AS k) ks GROUP BY doc_id, k),
       |sig AS (SELECT doc_id, list(m ORDER BY k) AS sig FROM mh GROUP BY doc_id),
       |band AS (SELECT doc_id, b, list_slice(sig, $RowsPerBand*b+1, $RowsPerBand*b+$RowsPerBand) AS bs
       | FROM sig CROSS JOIN (SELECT unnest(range(0, $Bands)) AS b) bands)""".stripMargin

  private val jacSql =
    "round(len(list_intersect(da.sh, db.sh))::DOUBLE / " +
      "len(list_distinct(list_concat(da.sh, db.sh))), 4)"

  val oracles: Map[String, String] = Map(
    "dedup_minhash_lsh" ->
      s"""WITH $sigChainSql,
         |bocc AS (SELECT b, bs FROM band GROUP BY b, bs HAVING count(*) <= $MaxBandBucket),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, x.doc_id AS b_id
         | FROM band a JOIN bocc o ON a.b = o.b AND a.bs = o.bs
         | JOIN band x ON a.b = x.b AND a.bs = x.bs AND a.doc_id < x.doc_id)
         |SELECT c.a_id, c.b_id, $jacSql AS jaccard
         |FROM cand c JOIN d da ON da.doc_id = c.a_id JOIN d db ON db.doc_id = c.b_id
         |WHERE $jacSql >= 0.10
         |ORDER BY a_id, b_id""".stripMargin)
}
