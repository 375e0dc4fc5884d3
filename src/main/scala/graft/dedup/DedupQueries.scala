package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication operators (SURVEY.md §2 #19-23).
  *
  * Scale posture: exact dedup is a hash groupBy (map-side combinable, one
  * shuffle on the digest). Near-dup detection never goes all-pairs — pairs
  * are generated only inside small blocks (language × length bucket here;
  * MinHash/LSH bands in MinHashLsh.scala for the general case), which is the
  * standard sub-quadratic shape at 100 TB.
  */
object DedupQueries extends graft.QueryModule {

  /** Distinct 3-word shingles of a document — compiled expression (see
    * HashExprs.Shingles for why the lambda version is O(words²)). Callers
    * must have run HashExprs.register on the session. */
  def shingles(c: Column): Column = graft.functions.HashExprs.shingles3(c)

  /** #19 Exact dedup: content digest → group, min-id winner. */
  def exact(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper_id"))
      .orderBy(col("content_hash"))
  }

  /** #20 N-gram Jaccard near-dup pairs within (lang, length-bucket) blocks.
    *
    * Candidate generation is MinHash-banded at b=64, r=1 — a pair is a
    * candidate iff it agrees on ANY of the 64 signature components (miss
    * probability (1-j)^64 ≤ 0.12% at j=0.10; empirically recall 1.0 on the
    * driver corpora, so the DuckDB blocked-join oracle stays an exact
    * match). The block keys (lang, length-bucket) join in alongside the
    * component, so the old blocked semantics are preserved — but the plan
    * never does the block-quadratic self-join that melts on a monolingual
    * 100 TB corpus: the equi-join keys are (lang, lb, component, hash),
    * uniform by construction, and only verified candidates fetch shingle
    * sets back. */
  /** Session-scoped staged MinHash sketch — (doc_id, lang, lb, sh, sig)
    * per document, computed ONCE per (corpus dir, content fingerprint) and
    * shared by every consumer of the word-shingle signature family:
    * `dedup_ngram_jaccard` / `dedup_edit_distance` (via
    * [[bandedCandidates]]) and `dedup_minhash_lsh`'s band frame. The
    * shingle+md5 sketch is each op's dominant corpus pass; a nightly
    * pipeline stages it as a parquet table between jobs, and in-session
    * the staging is an eager localCheckpoint registered with
    * [[graft.StagedArtifacts]] (the artifact outlives any one query —
    * CacheRegistry's per-query release deliberately does not touch it —
    * and a corpus REWRITE both recomputes on the new file-listing
    * fingerprint and unpersists the superseded checkpoint's blocks;
    * `clearSketchCache()` is the explicit invalidation). */
  def clearSketchCache(): Unit = graft.StagedArtifacts.clear("dedup/")

  private[graft] def docFp(s: SparkSession, dir: String): String =
    graft.sources.TableFingerprint.of(s, s"$dir/documents.parquet")

  private[graft] def stagedSketch(s: SparkSession, dir: String): DataFrame =
    graft.StagedArtifacts.stage(s, s"dedup/sketch#$dir", docFp(s, dir)) {
      graft.functions.HashExprs.register(s)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") / lit(100)).cast("long").as("lb"),
          shingles(col("text")).as("sh"))
        .withColumn("sig", graft.functions.HashExprs.minhashSig(col("sh")))
        .localCheckpoint(true)
    }

  /** Session-scoped staged collision counts — (a_id, b_id, nm) for every
    * occupancy-capped banded collision pair (nm = matching signature
    * components ≥ 1): the SECOND staging level after [[stagedSketch]].
    * The banded self-join + pair aggregate is the dominant shuffle of
    * both word-shingle near-dup ops; `dedup_ngram_jaccard` (nm ≥
    * [[MinBandMatches]]) and `dedup_edit_distance` (nm ≥
    * [[EditMinBandMatches]]) are FILTERS of the same staged frame, so the
    * pair shuffle runs once per (corpus, fingerprint) per session. Same
    * lifecycle contract as the sketch cache ([[clearSketchCache]]
    * invalidates both; supersede evicts). Pair mass is linear by the
    * hot-bucket cap, so the staged frame is O(corpus), never O(n²). */
  private[graft] def bandedPairCounts(s: SparkSession, dir: String): DataFrame =
    graft.StagedArtifacts.stage(s, s"dedup/pairCounts#$dir", docFp(s, dir)) {
      graft.functions.HashExprs.register(s)
      // the staged sketch is already materialized — the posexplode
      // feeding the hot-bucket ledger and both self-join sides reads
      // checkpoint blocks, never re-running the shingle+signature pass
      val banded = stagedSketch(s, dir)
        .select(col("doc_id"), col("lang"), col("lb"), posexplode(col("sig")))
        .withColumnsRenamed(Map("pos" -> "band", "col" -> "hval"))
      // hot-bucket cap (MinHashLsh.MaxBandBucket — the shared declared
      // metric): buckets holding (near-)byte-identical mass are exact
      // dedup's job; excluding them keeps candidate mass linear
      val hot = banded.groupBy(col("lang"), col("lb"), col("band"), col("hval"))
        .agg(count(lit(1)).as("occ")).filter(col("occ") > MinHashLsh.MaxBandBucket)
        .select(col("lang"), col("lb"), col("band"), col("hval"))
      val cool = banded.join(broadcast(hot), Seq("lang", "lb", "band", "hval"), "left_anti")
      val a = cool.select(col("doc_id").as("a_id"), col("lang"), col("lb"), col("band"), col("hval"))
      val b = cool.select(col("doc_id").as("b_id"), col("lang"), col("lb"), col("band"), col("hval"))
      // the dedup groupBy doubles as COLLISION COUNTING (C2LSH-style
      // amplification): consumers threshold nm — same shuffle as a
      // plain distinct, and the count makes the frame reusable across
      // every amplification level
      a.join(b, Seq("lang", "lb", "band", "hval"))
        .filter(col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("nm"))
        .localCheckpoint(true)
    }

  /** Session-staged INVERTED SHINGLE-DIGEST INDEX — (doc_id, lang, lb, ns,
    * g) with one row per (document, distinct shingle), g the md5u64 digest
    * ([[md5Key]]) and ns the doc's shingle-set size: the ladder's 4th rung.
    * `dedup_containment` and `dedup_recall_eval` each need the corpus
    * exploded and digest-hashed — the md5-per-shingle pass dominates both
    * (the explode itself is cheap off the checkpointed sketch; the hash is
    * not) — so it stages once per (corpus, fingerprint) like its siblings
    * and both consumers read 8-byte digest rows from checkpoint blocks.
    * At 100 TB this IS the inverted-index table a dedup pipeline persists
    * next to the sketch. Same lifecycle (supersede evicts, clear
    * invalidates); row count = total distinct shingles, O(corpus). */
  private[graft] def stagedInvIndex(s: SparkSession, dir: String): DataFrame =
    graft.StagedArtifacts.stage(s, s"dedup/invIndex#$dir", docFp(s, dir)) {
      // bh (the 0..99 block-hash bucket behind [[evalSamplePct]]) is
      // computed per DOC here, before the explode, so sampling consumers
      // filter on a plain long instead of re-hashing the block key per
      // shingle row per join side
      stagedSketch(s, dir)
        .select(col("doc_id"), col("lang"), col("lb"),
          size(col("sh")).cast("long").as("ns"),
          (call_function("conv",
            substring(md5(concat_ws("#", col("lang"), col("lb"))), 1, 6),
            lit(16), lit(10)).cast("long") % 100L).as("bh"),
          explode(col("sh")).as("gs"))
        .select(col("doc_id"), col("lang"), col("lb"), col("ns"), col("bh"),
          md5Key(col("gs")).as("g"))
        .localCheckpoint(true)
    }

  /** Banded, occupancy-capped candidate pairs within (lang, length-bucket)
    * blocks — the one candidate generator shared by `dedup_ngram_jaccard`
    * and `dedup_edit_distance` (each applies its own verify metric): a
    * threshold filter over the staged [[bandedPairCounts]] frame. */
  private[dedup] def bandedCandidates(s: SparkSession, dir: String,
      minMatches: Int = MinBandMatches): DataFrame =
    bandedPairCounts(s, dir)
      .filter(col("nm") >= minMatches)
      .select("a_id", "b_id")

  /** Collision-count amplification for the r=1 banding: candidates must
    * agree on at least this many of the 64 signature components. One
    * collision admits ~25k pairs per 5k docs (80 verify); two cuts the
    * verify mass 3.5×, while P(miss) at the j=0.10 output threshold is
    * ≈1% (binomial(64, j), <0.1% at j≥0.13) and 0 empirically on every
    * gate corpus — true near-dup pairs there share ≥7 components. The
    * oracle counts collisions identically (HAVING count(*) >= 2), so the
    * engines share the EXACT candidate set either way. */
  val MinBandMatches = 2

  /** The edit-distance op's stricter amplification: its output contract
    * (edit ratio ≤ 0.2) implies word-shingle Jaccard ≳ 0.5 for any pair it
    * can emit (a 20%-of-chars localized rewrite breaks ≲ half the word
    * shingles), where E[component matches] ≳ 32 of 64 — so requiring 4 is
    * recall-free for THIS verify metric while cutting the Levenshtein DP
    * mass ~9× (Spark's per-call DP is the dominant verify cost, ~1 ms per
    * candidate pair). The edit oracle counts with the same threshold. */
  val EditMinBandMatches = 4

  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    val d = stagedSketch(s, dir).select(col("doc_id"), col("sh"))
    val candidates = bandedCandidates(s, dir)
    // broadcast-semi prune: only candidate docs' shingle sets are fetched
    // into the verify joins — the corpus-wide shingle table never shuffles
    val candIds = candidates.select(col("a_id").as("doc_id"))
      .union(candidates.select(col("b_id").as("doc_id"))).distinct()
    val pruned = d.select(col("doc_id"), col("sh"))
      .join(broadcast(candIds), Seq("doc_id"), "left_semi")
    val shA = pruned.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val shB = pruned.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    candidates.join(shA, "a_id").join(shB, "b_id")
      .withColumn("jaccard",
        round(graft.functions.HashExprs.jaccardSim(col("a_sh"), col("b_sh")), 4))
      .filter(col("jaccard") >= 0.10)
      .select("a_id", "b_id", "jaccard")
      .orderBy(col("a_id"), col("b_id"))
  }

  /** #20i Character-level near-dup verify (`dedup_edit_distance`): the
    * localized-edit noise class (corrections, template fills, OCR patches
    * confined to a few spans) where token Jaccard is blunt — two docs can
    * share 90% of shingles at wildly different edit costs. Candidates are
    * the SAME banded+capped generator as `dedup_ngram_jaccard` (word-level
    * banding, so the pass targets docs that still share most word
    * shingles; per-word character noise would need char-gram banding — a
    * documented non-goal here); verify is Levenshtein under TWO declared
    * bounds: [[MaxAbsEdit]] absolute (Spark's threshold'd DP early-exits
    * past it — the bounded-compute contract at 100 TB, where an unbounded
    * O(len²) cell sweep on a pathological candidate is the hazard) and
    * [[MaxEditRatio]] relative (scale-free near-dup cut; the corpus
    * measures bimodal: ≤0.03 for true near-dups, ≥0.5 for block noise).
    * Distances are code-point Levenshtein in Spark vs byte-based in
    * DuckDB — identical on the (all-ASCII) gate corpora; the divergence
    * is declared and the spec pins code-point semantics driver-side. */
  val MaxAbsEdit = 256
  val MaxEditRatio = 0.2

  def editDistance(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val candidates = bandedCandidates(s, dir, EditMinBandMatches)
    // broadcast-semi prune: only candidate docs' texts enter the verify
    val candIds = candidates.select(col("a_id").as("doc_id"))
      .union(candidates.select(col("b_id").as("doc_id"))).distinct()
    val pruned = d.join(broadcast(candIds), Seq("doc_id"), "left_semi")
    val tA = pruned.select(col("doc_id").as("a_id"), col("text").as("a_text"))
    val tB = pruned.select(col("doc_id").as("b_id"), col("text").as("b_text"))
    val mx = greatest(length(col("a_text")), length(col("b_text")))
    candidates.join(tA, "a_id").join(tB, "b_id")
      .withColumn("edit_dist",
        levenshtein(col("a_text"), col("b_text"), MaxAbsEdit).cast("long"))
      .filter(col("edit_dist") >= 0L && // -1 = DP exceeded MaxAbsEdit
        col("edit_dist").cast("double") <= mx.cast("double") * lit(MaxEditRatio))
      .withColumn("edit_ratio",
        when(mx === 0, lit(0.0))
          .otherwise(round(col("edit_dist").cast("double") / mx, 4)))
      .select("a_id", "b_id", "edit_dist", "edit_ratio")
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Cosine over widened doubles — compiled CosineSim expression, which
    * reproduces the sequential-sum order of DuckDB's list_dot_product
    * formula bit for bit. Callers must have run HashExprs.register. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.HashExprs.cosineSim(a.cast("array<double>"), b.cast("array<double>"))

  /** #23 Embedding near-dup pairs: cosine ≥ 0.35 within COMPUTED cells —
    * the trained `emb_kmeans` cluster assignment, not a data column. A
    * low-cardinality data block (language, label) is block-quadratic on a
    * monolingual 100 TB corpus; k-means cells grow with K, so the
    * per-cell pair count stays bounded and the cell id is derived from
    * content, available on any corpus. The oracle replays the identical
    * Lloyd chain (`Kmeans.chainSql`) so both engines block identically.
    * Inherits the kmeans determinism contract: init seeds are the first
    * kFor(n) vectors, so vec_ids 0..k-1 must exist (the driver corpus
    * guarantees dense ids; a sparse-id corpus would re-key first). */
  def embeddingCosine(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    val asgn = graft.sim.Kmeans.assignments(s, dir)
    val a = asgn.select(col("vec_id").as("a_id"), col("cluster"), col("emb").as("a_emb"))
    val b = asgn.select(col("vec_id").as("b_id"), col("cluster"), col("emb").as("b_emb"))
    a.join(b, Seq("cluster"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cosine", round(cosine(col("a_emb"), col("b_emb")), 4))
      .filter(col("cosine") >= 0.35)
      .select("a_id", "b_id", "cluster", "cosine")
      .orderBy(col("a_id"), col("b_id"))
  }

  /** #23b Embedding near-dup at scale: hyperplane-LSH bucketed candidates
    * (any of 4 bands matching), exact-cosine verified — the path that
    * replaces #23's label-blocked all-pairs join on a 100 TB corpus where
    * a block key like language is catastrophically low-cardinality. No
    * blocks at all: candidates come from the banded signature equi-join
    * (uniform keys), scored map-side before the pair dedup. Rows-only by
    * design (probabilistic recall, measured vs the exact blocked pairs in
    * EmbeddingLshSpec); emitted pairs are exact (cosine verified). */
  def embeddingLsh(s: SparkSession, dir: String): DataFrame = {
    // banded signatures come from the staged `sim/bandIndex` rung (one
    // sign-bit pass per session across all five LSH consumers)
    val banded = graft.sim.SimArtifacts.banded(s, dir)
    // hot-bucket cap (MinHashLsh.MaxBandBucket, the shared declared
    // metric): a bucket of near-identical embeddings is exact/semantic
    // dedup's job — excluding over-cap buckets keeps the self-join's pair
    // mass linear. The ledger aggregate carries only (band, bkey) — the
    // embedding payload never enters it.
    val hot = banded.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("occ")).filter(col("occ") > MinHashLsh.MaxBandBucket)
      .select(col("band"), col("bkey"))
    val cool = banded.join(broadcast(hot), Seq("band", "bkey"), "left_anti")
    val a = cool.select(col("vec_id").as("a_id"), col("emb").as("a_emb"), col("band"), col("bkey"))
    val b = cool.select(col("vec_id").as("b_id"), col("emb").as("b_emb"), col("band"), col("bkey"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cosine", round(cosine(col("a_emb"), col("b_emb")), 4))
      .select("a_id", "b_id", "cosine")
      .dropDuplicates("a_id", "b_id")
      .filter(col("cosine") >= 0.35)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** #20c Benchmark decontamination: flag corpus documents whose 3-gram
    * shingles overlap a benchmark set (doc_id < 10 stands in for the eval
    * suite) above a containment threshold — the standard pre-training
    * hygiene pass. The benchmark shingle set is a one-row aggregate,
    * broadcast to every partition; the corpus never shuffles. */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    val d = Tables.documents(s, dir).select(col("doc_id"), shingles(col("text")).as("sh"))
    val bench = d.filter(col("doc_id") < 10)
      .select(explode(col("sh")).as("shingle"))
      .agg(array_sort(collect_set(col("shingle"))).as("bench_sh"))
    d.crossJoin(broadcast(bench))
      .select(col("doc_id"),
        size(col("sh")).cast("long").as("n_shingles"),
        size(array_intersect(col("sh"), col("bench_sh"))).cast("long").as("n_overlap"))
      .withColumn("containment", round(col("n_overlap").cast("double") / col("n_shingles"), 4))
      .withColumn("contaminated", col("doc_id") < 10 || col("containment") >= 0.5 || col("n_overlap") >= 20)
      .orderBy(col("doc_id"))
  }

  /** #20d Duplicated-passage detection (the span-level exact dedup of
    * arXiv:2107.06499 "Deduplicating Training Data Makes Language Models
    * Better", re-expressed set-wise instead of via suffix arrays): slide a
    * 16-word window every 8 words, digest each span, and report digests
    * that recur in more than one document. The aggregation is the scalable
    * two-level rewrite — (digest, doc) partial then digest final — so no
    * distinct-expand of the exploded span stream; the explode is the only
    * row multiplier and shuffle keys (digests) are uniform. */
  def spans(s: SparkSession, dir: String): DataFrame = {
    val ws = split(col("text"), "\\s+")
    Tables.documents(s, dir)
      .select(col("doc_id"), ws.as("w"))
      .withColumn("nw", size(col("w")).cast("long"))
      .filter(col("nw") >= 16L)
      .withColumn("st", explode(sequence(lit(0L), col("nw") - 16L, lit(8L))))
      .select(col("doc_id"),
        md5(array_join(slice(col("w"), (col("st") + 1L).cast("int"), lit(16)), " ")).as("span_digest"))
      .groupBy(col("span_digest"), col("doc_id"))
      .agg(count(lit(1)).as("occ"))
      .groupBy(col("span_digest"))
      .agg(count(lit(1)).as("n_docs"), sum(col("occ")).as("n_occurrences"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("span_digest"))
  }

  /** #20b Asymmetric containment near-subset pairs — the case Jaccard
    * structurally misses: a short document quoted wholesale inside a long
    * one has Jaccard |A∩B|/|A∪B| ≈ |A|/|B| (tiny) but containment
    * |A∩B|/|A| ≈ 1. Real training corpora are full of these (boilerplate
    * wrappers, doc-in-doc aggregation pages, quote farms), and they evade
    * both the banded-Jaccard and the exact-hash families.
    *
    * Candidates come from an INVERTED SHINGLE INDEX with a document-
    * frequency cap, not bands: a shingle occurring in ≤ [[ContainDfCap]]
    * docs pairs every pair of its holders; ubiquitous shingles (stop-
    * phrase boilerplate) carry no identity signal and are dropped — which
    * both bounds the pair mass (Σ_g df(g)² ≤ cap · Σ_g df(g), linear in
    * corpus size × cap) and is the declared metric: containment over RARE
    * shingles. That makes the operator exact w.r.t. its metric, so the
    * oracle is a FULL replay (no recall argument needed, unlike LSH).
    *
    * Scale: explode → df count (map-side combinable) → semi-filter → the
    * g-keyed self-join fans out ≤ cap per key with uniform keys → pair
    * count aggregate. No broadcast requirement, no driver state; the
    * df-cap is the knob that keeps the self-join linear at 100 TB.
    * Docs under [[ContainMinShingles]] rare shingles are excluded — a
    * 2-shingle doc "contained" anywhere is noise, not duplication. */
  /** The cross-engine 64-bit shingle key: first 8 md5 bytes as one word
    * (built from codegen'd builtins — conv on two 8-hex halves, shiftleft
    * never ANSI-overflows; the DuckDB twin is
    * `('0x' || substr(md5(g),1,16))::UBIGINT`, the same bit pattern).
    * Keying the inverted index on it instead of the raw shingle STRING
    * shrinks the hot self-join/groupBy keys from ~40 bytes to 8 — the
    * declared metric is containment over md5u64-keyed rare shingles, so
    * both engines group identically even under (2^-64) digest collisions. */
  private def md5Key(c: Column): Column = {
    val hex = md5(c.cast("binary"))
    call_function("shiftleft",
      call_function("conv", substring(hex, 1, 8), lit(16), lit(10)).cast("long"), lit(32))
      .bitwiseOR(call_function("conv", substring(hex, 9, 8), lit(16), lit(10)).cast("long"))
  }

  def containment(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    // the exploded, digest-hashed index comes from the session-staged
    // 4th rung (ONE explode+md5 pass shared with dedup_recall_eval);
    // the ContainMinShingles floor is a row filter on the carried ns —
    // the df count and the rare join both read 8-byte checkpoint rows
    val inv = stagedInvIndex(s, dir)
      .filter(col("ns") >= ContainMinShingles)
      .select(col("doc_id"), col("g"))
    val dfCapped = inv.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= ContainDfCap).select("g")
    // persist: three consumers (per-doc rare counts + both self-join sides)
    val rare = graft.CacheRegistry.track(inv.join(dfCapped, Seq("g")))
    val rareN = rare.groupBy(col("doc_id")).agg(count(lit(1)).as("n_rare"))
    val a = rare.select(col("doc_id").as("a_id"), col("g"))
    val b = rare.select(col("doc_id").as("b_id"), col("g"))
    // shared-count is SYMMETRIC: count each unordered pair once (a < b —
    // halves the dominant pair shuffle+aggregate), then emit both
    // directions before the per-direction denominator join
    val sym = a.join(b, Seq("g")).filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("shared"))
    // both directions via a map-side explode, NOT a self-union: the union
    // referenced `sym` twice, re-running the dominant pair join + count
    // aggregate a second time (r15; guide §2.4 — the plan held the rare
    // self-join subtree twice). The explode emits the swapped row in the
    // same pass; row set identical.
    val both = sym.select(explode(array(
        struct(col("a_id"), col("b_id"), col("shared")),
        struct(col("b_id").as("a_id"), col("a_id").as("b_id"), col("shared"))))
        .as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"),
        col("p.shared").as("shared"))
    both
      .join(rareN.withColumnRenamed("doc_id", "a_id"), Seq("a_id"))
      .withColumn("containment", col("shared").cast("double") / col("n_rare"))
      .filter(col("containment") >= ContainTau)
      .select("a_id", "b_id", "shared", "containment")
      .orderBy(col("a_id"), col("b_id"))
  }

  val ContainDfCap = 20L
  val ContainMinShingles = 8
  val ContainTau = 0.5

  /** #20k `dedup_recall_eval` — measured recall of the banded candidate
    * generator against the exact blocked ground truth, per language: the
    * `ann_recall_eval` discipline applied to the dedup sketch. Every
    * near-dup op in this family is "exact w.r.t. its declared metric",
    * and the one probabilistic step — the b=64/r=1 banding with
    * [[MinBandMatches]] collision amplification — has its miss rate
    * CLAIMED from binomial theory and spot-checked in specs; this
    * operator makes the measurement a standing, oracle-checked query
    * (the audit a production dedup pipeline runs per corpus drop before
    * trusting its candidate generator).
    *
    * Ground truth is the blocked all-pairs Jaccard (≥ 0.10 within
    * (lang, length-bucket) blocks) — block-quadratic BY DEFINITION
    * (it is what banding exists to avoid). That is affordable precisely
    * because blocks are bounded at gate scale; a 100 TB run evaluates on
    * a hash-sample of blocks: with `spark.graft.scale.approx=true` the
    * same entry point compiles the genuine [[EvalSamplePctApprox]]%-of-
    * blocks sample (an md5 block-key predicate — blocks are the sampling
    * unit because recall is a within-block property, so a sampled block
    * contributes its COMPLETE truth), conf-off runs [[EvalSamplePct]]=100
    * — every block, the oracle-checked exact contract the driver gate
    * exercises. ScaleModeSpec pins both forms. Recall is exact integer
    * counts + one rounded division. */
  val EvalSamplePct = 100L

  /** The conf-on block-sample rate: ~¼ of blocks, plenty for a recall
    * audit (the gate corpora measure recall 1.0; at 100 TB the binomial
    * CI at thousands of sampled true pairs is tighter than any decision
    * threshold) at ¼ the block-quadratic truth cost. */
  val EvalSamplePctApprox = 25L

  private def evalSamplePct(s: SparkSession): Long =
    if (graft.ScaleMode.approx(s)) EvalSamplePctApprox else EvalSamplePct

  def recallEval(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    // EXACT truth via the session-staged inverted shingle index (the
    // ladder's 4th rung, shared with dedup_containment), not the blocked
    // all-pairs array intersect: shingle sets are DISTINCT, so the
    // per-pair shared count i from a (lang, lb, digest)-keyed self-join
    // IS |A∩B|, and j = i/(|A|+|B|−i) — identical value, identical
    // round-4, but the work is Σ_g df_block(g)² (co-occurring pairs
    // weighted by shared shingles; measured 75k at sf0.1) instead of
    // Σ C(n_block,2) (588k) — pairs sharing nothing never materialize.
    // Digest-keyed like dedup_containment (8-byte shuffle keys, oracle
    // twins the same UBIGINT digest, so both engines agree even under
    // 2⁻⁶⁴ collisions — the declared-metric convention). The block
    // sample predicate ([[evalSamplePct]]: 100 = every block in the
    // oracle-checked exact form; the `scale.approx` conf compiles the
    // genuine [[EvalSamplePctApprox]]-of-100 hash-block sample — the
    // declared 100 TB audit) filters the index rows before any join.
    val inv = stagedInvIndex(s, dir).filter(col("bh") < evalSamplePct(s))
    // per-doc set sizes ride the index rows (ns), so the truth join needs
    // no separate sizes frame: min() collapses the per-pair constant
    val ia = inv.select(col("doc_id").as("a_id"), col("lang"), col("lb"),
      col("g"), col("ns").as("na"))
    val ib = inv.select(col("doc_id").as("b_id"), col("lang"), col("lb"),
      col("g"), col("ns").as("nb"))
    val truth = graft.CacheRegistry.track(
      ia.join(ib, Seq("lang", "lb", "g"))
        .filter(col("a_id") < col("b_id"))
        .groupBy(col("lang"), col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("i"), min(col("na")).as("na"), min(col("nb")).as("nb"))
        .filter(round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 4)
          >= 0.10)
        .select(col("lang"), col("a_id"), col("b_id")))
    val found = bandedCandidates(s, dir)
    val hits = truth.join(found, Seq("a_id", "b_id"), "left_semi")
      .groupBy(col("lang")).agg(count(lit(1)).as("n_hit"))
    truth.groupBy(col("lang")).agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("lang"), "left")
      .select(col("lang"), col("n_true"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall", round(col("n_hit").cast("double") / col("n_true"), 4))
      .orderBy(col("lang"))
  }

  /** #20f Corpus rewrite after span dedup — the step arXiv:2107.06499
    * actually ships: duplicated passages are REMOVED from the corpus and
    * the surviving text is re-emitted (detection alone — `dedup_spans` —
    * only tells you where the duplication is). Each document is cut into
    * consecutive disjoint [[RewriteSpan]]-word chunks; a chunk instance
    * survives iff it is the global FIRST occurrence of its digest (the
    * (doc_id, position) lexicographic minimum — so repeated boilerplate
    * keeps exactly one copy corpus-wide, including within-document
    * repeats), and each document's cleaned text is the ordered join of
    * its surviving chunks.
    *
    * Scale: explode is the only row multiplier (×n_chunks on documents,
    * the same mass as the corpus itself), the keeper choice is one
    * map-side-combinable min-aggregate on the digest (the (doc_id, pos)
    * pair packs into one BIGINT — [[RewritePosCap]] bounds chunk position,
    * a per-DOCUMENT length bound, not a corpus bound), and reassembly is
    * one groupBy(doc_id) whose state is bounded by document length. Two
    * uniform shuffles total; no driver state, no self-join. */
  val RewriteSpan = 8
  val RewritePosCap = 1000000L // chunks per doc; 8M-word docs before overflow

  /** Disjoint [[RewriteSpan]]-word chunk instances (doc_id, pos, chunk,
    * digest, k) — the one shared chunking definition behind
    * `dedup_rewrite` and `text_boilerplate` (the two removal rules differ,
    * the cut points must not). */
  private def chunkInstances(docs: DataFrame): DataFrame = {
    val ws = split(col("text"), "\\s+")
    docs
      .select(col("doc_id"), ws.as("w"))
      .withColumn("nc", ceil(size(col("w")).cast("double") / RewriteSpan).cast("long"))
      .filter(col("nc") >= 1L) // sequence(0, -1) would step backwards
      .select(col("doc_id"), col("w"), posexplode(sequence(lit(0L), col("nc") - 1L)))
      .select(col("doc_id"), col("pos"),
        array_join(slice(col("w"), (col("pos") * RewriteSpan + 1L).cast("int"),
          lit(RewriteSpan)), " ").as("chunk"))
      .withColumn("digest", md5(col("chunk")))
      .withColumn("k", col("doc_id") * RewritePosCap + col("pos"))
  }

  def rewrite(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // persist: feeds the global keeper aggregate AND the survivor join
    val inst = graft.CacheRegistry.track(chunkInstances(docs))
    val keeper = inst.groupBy(col("digest")).agg(min(col("k")).as("k0"))
    val kept = inst.join(keeper,
      inst("digest") === keeper("digest") && col("k") === col("k0"))
      .select(col("doc_id"), col("pos"), col("chunk"))
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("chunk")))),
          x => x.getField("chunk")), " ").as("cleaned_text"))
    // the doc roster and chunk counts come from the cached instance frame
    // (every doc has ≥1 chunk instance), NOT a second corpus scan — a doc
    // that loses every chunk to earlier keepers still gets its empty row
    val perDoc = inst.groupBy(col("doc_id"))
      .agg((max(col("pos")) + 1L).as("n_chunks"))
    perDoc
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
      .orderBy(col("doc_id"))
  }

  /** #20l `dedup_rewrite_exact` — EXACT-BOUNDARY duplicated-passage
    * removal: the boundary-extension step of ExactSubstr (arXiv:2107.06499
    * §4) that `dedup_rewrite`'s disjoint chunks miss. A duplicated run at
    * a non-chunk-aligned offset leaves its first/last partial chunks alive
    * under the stride-[[RewriteSpan]] cut; here windows slide at STRIDE 1,
    * so every [[RewriteSpan]]-word substring is digest-checked at every
    * offset and a word is removed iff SOME covering window instance is a
    * non-first duplicate (global first-occurrence-wins on the packed
    * (doc_id, pos) key, the `dedup_rewrite` convention). A duplicated
    * passage of length ≥ [[RewriteSpan]] is therefore removed to the exact
    * word: interior words always have a fully-inside matching window,
    * while words outside the passage are covered only by straddling
    * windows whose digests are unique. Self-overlapping periodic repeats
    * (e.g. "a a a a …") can erode into the kept first copy — the
    * documented over-removal ExactSubstr's released tool also accepts.
    *
    * Scale: stride-1 windows cost ×[[RewriteSpan]] the chunk pass's rows —
    * the classical price of exact boundaries (the reference point is the
    * paper's suffix array; the distributed form is this digest
    * equi-join). Still strictly linear: one map-side-combinable min
    * aggregate on the digest, one uniform digest join back, removed word
    * positions collapse per doc (collect_set bounded by document length),
    * and reassembly is a map-side higher-order filter — no self-join, no
    * driver state.
    *
    * Packing bound: the first-occurrence key reuses [[RewritePosCap]] on
    * stride-1 WORD positions, so the per-document limit here is 1M WORDS
    * — tighter than the chunk pass's bound (1M chunks ≈ 8M words). Past
    * it the packed (doc_id, pos) key collides across documents and the
    * global first occurrence can be mis-selected; documents.text at every
    * driver SF tops out orders of magnitude below the bound, and a 100 TB
    * deployment with longer docs should raise the cap (or split the key)
    * rather than rely on silent wraparound. */
  def rewriteExact(s: SparkSession, dir: String): DataFrame = {
    val L = RewriteSpan
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), "\\s+").as("w"))
    // persist: feeds the keeper aggregate AND the join back
    val wins = graft.CacheRegistry.track(docs
      .withColumn("nw", size(col("w")).cast("long"))
      .filter(col("nw") >= L)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0L), col("nw") - L)).as("pos"))
      .select(col("doc_id"), col("pos"),
        md5(array_join(slice(col("w"), (col("pos") + 1L).cast("int"), lit(L)), " ")).as("dg"))
      .withColumn("k", col("doc_id") * RewritePosCap + col("pos")))
    val k0 = wins.groupBy(col("dg")).agg(min(col("k")).as("k0"))
    val removedByDoc = wins.join(k0, Seq("dg"))
      .filter(col("k") =!= col("k0"))
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (L - 1L))).as("wpos"))
      .groupBy(col("doc_id")).agg(collect_set(col("wpos")).as("rp"))
    val rp = coalesce(col("rp"), array().cast("array<long>"))
    val keptArr = transform(
      filter(sequence(lit(0L), size(col("w")).cast("long") - 1L),
        i => !array_contains(rp, i)),
      i => element_at(col("w"), (i + 1L).cast("int")))
    docs.join(removedByDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("w")).cast("long").as("n_words"),
        size(keptArr).cast("long").as("n_kept"),
        array_join(keptArr, " ").as("cleaned_text"))
      .orderBy(col("doc_id"))
  }

  /** #20h Boilerplate removal by document frequency — the CCNet/RefinedWeb
    * cleaning rule (Wenzek et al. 2020 dedup §4.1; Penedo et al. 2023 line
    * dedup): a segment that recurs across ≥ [[BoilerMinDocs]] DISTINCT
    * documents is template text (header/footer/nav), and EVERY instance is
    * dropped — including the first. The deliberate contrast with
    * `dedup_rewrite`: first-occurrence-wins keeps one copy of genuinely
    * duplicated content; boilerplate must not survive even once. Same
    * shared [[chunkInstances]] cut points.
    *
    * Scale: the df count is the two-level (digest, doc) → digest aggregate
    * (no distinct expand), the boilerplate digest set is the df-filtered
    * tail (tiny relative to the corpus), and instances drop via one
    * left-anti hash join on uniform digest keys — at 100 TB the anti-join
    * build side rides a broadcast or Bloom sketch (`etl_ingest_bloom`'s
    * path). Reassembly state is bounded by document length. */
  val BoilerMinDocs = 3L

  def boilerplate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // persist: feeds the df aggregate, the anti-join probe side, and the
    // per-doc chunk roster
    val inst = graft.CacheRegistry.track(chunkInstances(docs))
    val boiler = inst.groupBy(col("digest"), col("doc_id")).agg(count(lit(1)).as("occ"))
      .groupBy(col("digest")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= BoilerMinDocs).select(col("digest"))
    val kept = inst.join(boiler, Seq("digest"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("chunk")))),
          x => x.getField("chunk")), " ").as("cleaned_text"))
    val perDoc = inst.groupBy(col("doc_id")).agg((max(col("pos")) + 1L).as("n_chunks"))
    perDoc.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
      .orderBy(col("doc_id"))
  }

  /** #20g Content-defined-chunk dedup — the boundary-shift-resistant
    * sibling of `dedup_spans`/`dedup_rewrite`. Fixed word windows break
    * when one word is inserted: every downstream window shifts and no
    * digest matches again. Chunking on CONTENT-derived boundaries
    * ([[graft.functions.CdcChunks]]: gear rolling hash, boundary where the
    * low bits vanish — FastCDC at word granularity) re-synchronizes right
    * after an edit, so near-identical documents still share most chunk
    * digests. Same report shape as `dedup_spans` for direct comparison.
    *
    * Scale: the chunker is one compiled call per row inside whole-stage
    * codegen; explode is the only multiplier and the digest groupBy is
    * map-side combinable — identical posture to the span pass. The rolling
    * recurrence is sequential per document, which is why it lives in a
    * compiled Expression and NOT in SQL: no DuckDB oracle exists (rows-
    * only), CdcChunksSpec replays the recurrence driver-side instead. */
  def cdcDedup(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(graft.functions.HashExprs.cdcChunks(col("text"))).as("chunk"))
      .select(col("doc_id"), md5(col("chunk")).as("chunk_digest"))
      .groupBy(col("chunk_digest"), col("doc_id"))
      .agg(count(lit(1)).as("occ"))
      .groupBy(col("chunk_digest"))
      .agg(count(lit(1)).as("n_docs"), sum(col("occ")).as("n_occurrences"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("chunk_digest"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_spans"            -> (spans _),
    "dedup_rewrite"          -> (rewrite _),
    "dedup_rewrite_exact"    -> (rewriteExact _),
    "text_boilerplate"       -> (boilerplate _),
    "dedup_cdc_chunks"       -> (cdcDedup _),
    "dedup_exact"            -> (exact _),
    "text_decontaminate"     -> (decontaminate _),
    "dedup_ngram_jaccard"    -> (ngramJaccard _),
    "dedup_edit_distance"    -> (editDistance _),
    "dedup_containment"      -> (containment _),
    "dedup_embedding_cosine" -> (embeddingCosine _),
    "dedup_embedding_lsh"    -> (embeddingLsh _),
    "dedup_recall_eval"      -> (recallEval _))

  private val w = "regexp_split_to_array(text, '\\s+')"
  /** DuckDB distinct 3-shingle list (1-indexed lists). */
  val shinglesSql: String =
    s"list_distinct(list_transform(range(1, len($w) - 1), " +
      s"i -> $w[i] || ' ' || $w[i+1] || ' ' || $w[i+2]))"
  def cosineSql(a: String, b: String): String =
    s"(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))))"

  /** The banded+capped candidate replay (relations `d` with per-doc
    * shingles/text and `cand` with a_id < b_id) — ONE chain shared by the
    * `dedup_ngram_jaccard` and `dedup_edit_distance` oracles so the
    * candidate semantics (b=64/r=1 banding, (lang, lb) blocks,
    * MaxBandBucket occupancy cap) cannot drift between them. */
  private[dedup] def bandedCandChainSql(minMatches: Int): String =
    s"""d AS (SELECT doc_id, lang, (n_chars // 100) AS lb, $shinglesSql AS sh, text FROM documents),
       |s AS (SELECT doc_id, lang, lb, unnest(sh) AS g FROM d),
       |bh AS (SELECT doc_id, lang, lb,
       |  ('0x' || substr(md5(g), 1, 16))::UBIGINT % ${graft.functions.HashExprs.MinHashP} AS base
       | FROM s),
       |mh AS (SELECT doc_id, lang, lb, k,
       |  min(((2*k+1)*base + 40503*k + 13) % ${graft.functions.HashExprs.MinHashP})::BIGINT AS m
       | FROM bh CROSS JOIN (SELECT unnest(range(0, ${MinHashLsh.K})) AS k) ks
       | GROUP BY doc_id, lang, lb, k),
       |occ AS (SELECT lang, lb, k, m FROM mh GROUP BY lang, lb, k, m
       | HAVING count(*) <= ${MinHashLsh.MaxBandBucket}),
       |cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
       | FROM mh a
       | JOIN occ o ON a.lang = o.lang AND a.lb = o.lb AND a.k = o.k AND a.m = o.m
       | JOIN mh b ON a.lang = b.lang AND a.lb = b.lb AND a.k = b.k AND a.m = b.m
       |  AND a.doc_id < b.doc_id
       | GROUP BY 1, 2 HAVING count(*) >= $minMatches)""".stripMargin

  /** MODEL-AS-LITERAL oracle for `dedup_cdc_chunks` (the `graft
    * .OracleContext` precedent, VERDICT r12 #8): the gear-hash boundary
    * recurrence is sequential per document (why the op was rows-only),
    * but the boundary TABLE it produces is just (doc_id, word-range)
    * rows — deterministic given the text. At dump time the ranges are
    * read off the engine's own compiled chunker (cumulative chunk word
    * counts; the recurrence itself stays covered by CdcChunksSpec's
    * driver replay + the frozen canary) and interpolate as VALUES;
    * DuckDB then INDEPENDENTLY reconstructs each chunk's text from the
    * document text and the range, digests it, and replays the whole
    * per-doc occurrence → cross-doc aggregate → n_docs>1 filter chain —
    * so everything AFTER the recurrence is hash-checked cross-engine. */
  private def cdcOracleSql(s: SparkSession, dir: String): String = {
    graft.functions.HashExprs.register(s)
    val ranges = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(graft.functions.HashExprs.cdcChunks(col("text"))))
      .select(col("doc_id"), col("pos"),
        size(split(col("col"), " ", -1)).cast("long").as("wc"))
      .withColumn("endw", sum(col("wc")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("pos"))))
      .select(col("doc_id"), (col("endw") - col("wc") + 1L).as("a"), col("endw").as("b"))
      .collect()
    if (ranges.isEmpty)
      return """SELECT NULL::VARCHAR AS chunk_digest, NULL::BIGINT AS n_docs,
                | NULL::BIGINT AS n_occurrences, NULL::BIGINT AS min_doc,
                | NULL::BIGINT AS max_doc WHERE 1=0""".stripMargin
    val values = ranges
      .map(r => s"(${r.getLong(0)},${r.getLong(1)},${r.getLong(2)})")
      .mkString(",")
    s"""WITH rg(doc_id, a, b) AS (VALUES $values),
       |w AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM documents),
       |ch AS (SELECT rg.doc_id,
       |  md5(array_to_string(list_slice(w.ws, rg.a::INT, rg.b::INT), ' ')) AS chunk_digest
       | FROM rg JOIN w ON w.doc_id = rg.doc_id),
       |pd AS (SELECT chunk_digest, doc_id, count(*)::BIGINT AS occ
       | FROM ch GROUP BY 1, 2)
       |SELECT chunk_digest, count(*)::BIGINT AS n_docs, sum(occ)::BIGINT AS n_occurrences,
       | min(doc_id)::BIGINT AS min_doc, max(doc_id)::BIGINT AS max_doc
       |FROM pd GROUP BY chunk_digest HAVING count(*) > 1
       |ORDER BY chunk_digest""".stripMargin
  }

  def oracles: Map[String, String] = staticOracles ++ Map(
    "dedup_cdc_chunks" -> graft.OracleContext.rendered(cdcOracleSql))

  private val staticOracles: Map[String, String] = Map(
    "dedup_spans" ->
      s"""WITH ww AS (SELECT doc_id, $w AS ws FROM documents WHERE len($w) >= 16),
         |sp AS (SELECT doc_id, unnest(range(0, len(ws) - 15, 8)) AS st, ws FROM ww),
         |d AS (SELECT doc_id,
         |  md5(array_to_string(list_slice(ws, st + 1, st + 16), ' ')) AS span_digest
         | FROM sp),
         |pd AS (SELECT span_digest, doc_id, count(*) AS occ
         | FROM d GROUP BY 1, 2)
         |SELECT span_digest, count(*) AS n_docs, sum(occ)::BIGINT AS n_occurrences,
         | min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM pd GROUP BY span_digest HAVING count(*) > 1
         |ORDER BY span_digest""".stripMargin,
    "dedup_rewrite" ->
      s"""WITH ww AS (SELECT doc_id, $w AS w FROM documents),
         |ch AS (SELECT doc_id, w,
         |  unnest(range(0, CAST(ceil(len(w) / ${RewriteSpan}.0) AS BIGINT))) AS pos
         | FROM ww),
         |d AS (SELECT doc_id, pos,
         |  array_to_string(list_slice(w, pos * $RewriteSpan + 1, pos * $RewriteSpan + $RewriteSpan), ' ') AS chunk
         | FROM ch),
         |i AS (SELECT *, md5(chunk) AS digest, doc_id * $RewritePosCap + pos AS k FROM d),
         |keep AS (SELECT digest, min(k) AS k0 FROM i GROUP BY digest),
         |kept AS (SELECT i.doc_id, i.pos, i.chunk
         | FROM i JOIN keep ON keep.digest = i.digest AND i.k = keep.k0),
         |rb AS (SELECT doc_id, count(*) AS n_kept,
         |  string_agg(chunk, ' ' ORDER BY pos) AS cleaned_text
         | FROM kept GROUP BY doc_id)
         |SELECT ww.doc_id, CAST(ceil(len(ww.w) / ${RewriteSpan}.0) AS BIGINT) AS n_chunks,
         | coalesce(rb.n_kept, 0)::BIGINT AS n_kept,
         | coalesce(rb.cleaned_text, '') AS cleaned_text
         |FROM ww LEFT JOIN rb ON rb.doc_id = ww.doc_id
         |ORDER BY ww.doc_id""".stripMargin,
    "dedup_rewrite_exact" ->
      s"""WITH ww AS MATERIALIZED (SELECT doc_id, $w AS w FROM documents),
         |wins AS MATERIALIZED (SELECT doc_id, pos,
         |  md5(array_to_string(list_slice(w, pos + 1, pos + $RewriteSpan), ' ')) AS dg,
         |  doc_id * $RewritePosCap + pos AS k
         | FROM (SELECT doc_id, w,
         |   unnest(range(0, greatest(len(w) - ${RewriteSpan - 1}, 0))) AS pos FROM ww) t),
         |k0 AS (SELECT dg, min(k) AS k0 FROM wins GROUP BY dg),
         |rem AS (SELECT DISTINCT wins.doc_id, wins.pos + u.r AS wpos
         | FROM wins JOIN k0 USING (dg)
         | CROSS JOIN (SELECT unnest(range(0, $RewriteSpan)) AS r) u
         | WHERE wins.k != k0.k0),
         |rpd AS (SELECT doc_id, list(wpos) AS rp FROM rem GROUP BY doc_id)
         |SELECT ww.doc_id, len(ww.w)::BIGINT AS n_words,
         | len(list_filter(range(0, len(ww.w)),
         |   i -> NOT list_contains(coalesce(rpd.rp, []), i)))::BIGINT AS n_kept,
         | coalesce(array_to_string(list_transform(list_filter(range(0, len(ww.w)),
         |   i -> NOT list_contains(coalesce(rpd.rp, []), i)),
         |   i -> ww.w[i + 1]), ' '), '') AS cleaned_text
         |FROM ww LEFT JOIN rpd ON rpd.doc_id = ww.doc_id
         |ORDER BY ww.doc_id""".stripMargin,
    "text_boilerplate" ->
      s"""WITH ww AS (SELECT doc_id, $w AS w FROM documents),
         |ch AS (SELECT doc_id, w,
         |  unnest(range(0, CAST(ceil(len(w) / ${RewriteSpan}.0) AS BIGINT))) AS pos
         | FROM ww),
         |i AS (SELECT doc_id, pos,
         |  array_to_string(list_slice(w, pos * $RewriteSpan + 1, pos * $RewriteSpan + $RewriteSpan), ' ') AS chunk,
         |  md5(array_to_string(list_slice(w, pos * $RewriteSpan + 1, pos * $RewriteSpan + $RewriteSpan), ' ')) AS digest
         | FROM ch),
         |bo AS (SELECT digest FROM (
         |  SELECT digest, count(DISTINCT doc_id) AS nd FROM i GROUP BY digest) t
         | WHERE nd >= $BoilerMinDocs),
         |kept AS (SELECT * FROM i WHERE digest NOT IN (SELECT digest FROM bo)),
         |rb AS (SELECT doc_id, count(*) AS n_kept,
         |  string_agg(chunk, ' ' ORDER BY pos) AS cleaned_text
         | FROM kept GROUP BY doc_id)
         |SELECT ww.doc_id, CAST(ceil(len(ww.w) / ${RewriteSpan}.0) AS BIGINT) AS n_chunks,
         | coalesce(rb.n_kept, 0)::BIGINT AS n_kept,
         | (CAST(ceil(len(ww.w) / ${RewriteSpan}.0) AS BIGINT) - coalesce(rb.n_kept, 0))::BIGINT AS n_dropped,
         | coalesce(rb.cleaned_text, '') AS cleaned_text
         |FROM ww LEFT JOIN rb ON rb.doc_id = ww.doc_id
         |ORDER BY ww.doc_id""".stripMargin,
    "text_decontaminate" ->
      s"""WITH d AS (SELECT doc_id, $shinglesSql AS sh FROM documents),
         |bench AS (SELECT list_distinct(flatten(list(sh))) AS bench_sh FROM d WHERE doc_id < 10)
         |SELECT doc_id, len(sh)::BIGINT AS n_shingles,
         | len(list_intersect(sh, bench_sh))::BIGINT AS n_overlap,
         | round(len(list_intersect(sh, bench_sh))::DOUBLE / len(sh), 4) AS containment,
         | (doc_id < 10 OR round(len(list_intersect(sh, bench_sh))::DOUBLE / len(sh), 4) >= 0.5
         |   OR len(list_intersect(sh, bench_sh)) >= 20) AS contaminated
         |FROM d CROSS JOIN bench ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, count(*) AS n_copies, min(doc_id) AS keeper_id
        |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin,
    "dedup_ngram_jaccard" ->
      // banded-candidate replay (b=64, r=1, per-(lang, lb) blocks) WITH the
      // MaxBandBucket occupancy cap AND the collision count — the exact
      // candidate set the Spark plan generates, so even the cap's
      // exact-dedup-first regime and any banding recall miss are mirrored
      s"""WITH ${bandedCandChainSql(MinBandMatches)}
         |SELECT c.a_id, c.b_id,
         | round(len(list_intersect(da.sh, db.sh))::DOUBLE / len(list_distinct(list_concat(da.sh, db.sh))), 4) AS jaccard
         |FROM cand c JOIN d da ON da.doc_id = c.a_id JOIN d db ON db.doc_id = c.b_id
         |WHERE round(len(list_intersect(da.sh, db.sh))::DOUBLE / len(list_distinct(list_concat(da.sh, db.sh))), 4) >= 0.10
         |ORDER BY a_id, b_id""".stripMargin,
    "dedup_edit_distance" ->
      s"""WITH ${bandedCandChainSql(EditMinBandMatches)}
         |SELECT c.a_id, c.b_id, levenshtein(da.text, db.text)::BIGINT AS edit_dist,
         | CASE WHEN greatest(len(da.text), len(db.text)) = 0 THEN 0.0
         |      ELSE round(levenshtein(da.text, db.text)::DOUBLE
         |             / greatest(len(da.text), len(db.text)), 4) END AS edit_ratio
         |FROM cand c JOIN d da ON da.doc_id = c.a_id JOIN d db ON db.doc_id = c.b_id
         |WHERE levenshtein(da.text, db.text) <= $MaxAbsEdit
         |  AND levenshtein(da.text, db.text)::DOUBLE
         |      <= $MaxEditRatio * greatest(len(da.text), len(db.text))
         |ORDER BY a_id, b_id""".stripMargin,
    "dedup_recall_eval" ->
      s"""WITH ${bandedCandChainSql(MinBandMatches)},
         |ds AS (SELECT * FROM d
         | WHERE ('0x' || substr(md5(lang || '#' || lb), 1, 6))::UBIGINT % 100 < $EvalSamplePct),
         |inv AS (SELECT doc_id, lang, lb,
         |  ('0x' || substr(md5(g), 1, 16))::UBIGINT AS g
         | FROM (SELECT doc_id, lang, lb, unnest(sh) AS g FROM ds)),
         |sz AS (SELECT doc_id, len(sh)::BIGINT AS ns FROM ds),
         |shared AS (SELECT a.lang, a.doc_id AS a_id, b.doc_id AS b_id,
         |  count(*)::BIGINT AS i
         | FROM inv a JOIN inv b ON a.lang = b.lang AND a.lb = b.lb AND a.g = b.g
         |  AND a.doc_id < b.doc_id
         | GROUP BY 1, 2, 3),
         |truth AS MATERIALIZED (
         | SELECT sh.lang, sh.a_id, sh.b_id
         | FROM shared sh JOIN sz sa ON sa.doc_id = sh.a_id
         |  JOIN sz sb ON sb.doc_id = sh.b_id
         | WHERE round(sh.i / (sa.ns + sb.ns - sh.i)::DOUBLE, 4) >= 0.10),
         |hits AS (SELECT t.lang, count(*)::BIGINT AS n_hit
         | FROM truth t JOIN cand c ON t.a_id = c.a_id AND t.b_id = c.b_id
         | GROUP BY t.lang),
         |tr AS (SELECT lang, count(*)::BIGINT AS n_true FROM truth GROUP BY lang)
         |SELECT tr.lang, tr.n_true, coalesce(hits.n_hit, 0)::BIGINT AS n_hit,
         | round(coalesce(hits.n_hit, 0) / tr.n_true::DOUBLE, 4) AS recall
         |FROM tr LEFT JOIN hits USING (lang)
         |ORDER BY tr.lang""".stripMargin,
    "dedup_containment" ->
      s"""WITH d AS (SELECT doc_id, $shinglesSql AS sh FROM documents),
         |inv AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 16))::UBIGINT AS g
         | FROM (SELECT doc_id, unnest(sh) AS g FROM d
         |        WHERE len(sh) >= $ContainMinShingles)),
         |dft AS (SELECT g FROM inv GROUP BY g HAVING count(*) <= $ContainDfCap),
         |rare AS (SELECT inv.doc_id, inv.g FROM inv JOIN dft USING (g)),
         |rn AS (SELECT doc_id, count(*)::BIGINT AS n_rare FROM rare GROUP BY doc_id),
         |sh2 AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*)::BIGINT AS shared
         | FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id != b.doc_id
         | GROUP BY a.doc_id, b.doc_id)
         |SELECT a_id, b_id, shared, shared::DOUBLE / n_rare AS containment
         |FROM sh2 JOIN rn ON rn.doc_id = sh2.a_id
         |WHERE shared::DOUBLE / n_rare >= $ContainTau
         |ORDER BY a_id, b_id""".stripMargin,
    "dedup_embedding_cosine" ->
      s"""WITH ${graft.sim.Kmeans.chainSql}
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.cluster,
         | round(${cosineSql("a.emb", "b.emb")}, 4) AS cosine
         |FROM asgn a JOIN asgn b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |WHERE round(${cosineSql("a.emb", "b.emb")}, 4) >= 0.35
         |ORDER BY a_id, b_id""".stripMargin,
    "dedup_embedding_lsh" ->
      s"""WITH ${graft.functions.HashExprs.hyperplaneChainSql},
         |bocc AS (SELECT band, bkey FROM bd GROUP BY band, bkey
         | HAVING count(*) <= ${MinHashLsh.MaxBandBucket}),
         |cand AS (SELECT DISTINCT a.vec_id AS a_id, x.vec_id AS b_id
         | FROM bd a JOIN bocc o ON a.band = o.band AND a.bkey = o.bkey
         | JOIN bd x ON a.band = x.band AND a.bkey = x.bkey AND a.vec_id < x.vec_id)
         |SELECT c.a_id, c.b_id, round(${cosineSql("ea.emb", "eb.emb")}, 4) AS cosine
         |FROM cand c JOIN e ea ON ea.vec_id = c.a_id JOIN e eb ON eb.vec_id = c.b_id
         |WHERE round(${cosineSql("ea.emb", "eb.emb")}, 4) >= 0.35
         |ORDER BY a_id, b_id""".stripMargin)
}
