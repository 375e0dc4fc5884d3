package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.streaming.StreamNearDup

/** Incremental batch near-dup against a persisted signature store
  * (SURVEY.md §2 #21c) — dedup today's ingest against the warehouse WITHOUT
  * re-sketching history: the composition of the reference's incremental
  * fetch (main.py:79-132, windowed `$where` pulls of only new/changed rows)
  * with MinHash near-dup detection.
  *
  * The store persists exactly the rows the streaming state holds
  * (`StreamNearDup.banded`: bkey, doc_id, sig — K longs per doc per band,
  * never text or shingle sets) as a parquet table. A batch run:
  *   1. bands ONLY the new batch (one sketch pass over new docs);
  *   2. joins it against stored buckets ∪ its own bands on the band key
  *      (new docs can near-dup history or each other);
  *   3. emits DISTINCT (doc_id, earlier_id) pairs at estimated Jaccard ≥
  *      `StreamNearDup.SimThreshold` — the family's shared decision rule,
  *      scored by the compiled `sig_match_count`;
  *   4. appends the batch bands to the store for the next run.
  *
  * Contract (IncrementalNearDupSpec): prior-run pairs ∪ incremental pairs
  * ≡ the from-scratch batch twin on the combined corpus — EXACTLY, because
  * the store keeps every history signature (unlike the stream's
  * MaxPerBucket recall trade) and the banding is the shared
  * `MinHashLsh.bandKey`.
  *
  * Scale: history enters the plan as ONE pre-sketched columnar scan — no
  * text, no shingling; that cost was paid once at its own ingest. The only
  * shuffle is the band-key join, uniform by construction. At 100 TB the
  * store is just another warehouse table; bucketing it by bkey
  * (operators/Bucketing) makes the daily join co-located.
  */
object IncrementalNearDup extends graft.QueryModule {

  /** Build/replace the signature store from a history corpus
    * (doc_id, text). One sketch pass, written banded. */
  def buildStore(docs: DataFrame, path: String): Unit = {
    graft.functions.HashExprs.register(docs.sparkSession)
    StreamNearDup.banded(docs).write.mode("overwrite").parquet(path)
  }

  /** Step 4: fold a processed batch's bands into the store so the next
    * batch sees them as history. */
  def appendToStore(docs: DataFrame, path: String): Unit = {
    graft.functions.HashExprs.register(docs.sparkSession)
    StreamNearDup.banded(docs).write.mode("append").parquet(path)
  }

  /** Near-dup pairs of `batch` docs (doc_id, text) against the store and
    * each other. The batch banding is persisted (two consumers: the later
    * side and its own union into the earlier side) and released by the
    * session via CacheRegistry. */
  def pairsVsStore(s: SparkSession, batch: DataFrame, storePath: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    val newBanded = graft.CacheRegistry.track(StreamNearDup.banded(batch))
    val earlier = s.read.parquet(storePath).unionByName(newBanded)
      .select(col("bkey"), col("doc_id").as("earlier_id"), col("sig").as("a_sig"))
    val later = newBanded
      .select(col("bkey"), col("doc_id"), col("sig").as("b_sig"))
    val est = round(
      graft.functions.HashExprs.sigMatchCount(col("a_sig"), col("b_sig"))
        .cast("double") / MinHashLsh.K, 4)
    later.join(earlier, Seq("bkey"))
      .filter(col("earlier_id") < col("doc_id"))
      .withColumn("est_jaccard", est)
      .filter(col("est_jaccard") >= StreamNearDup.SimThreshold)
      .select("doc_id", "earlier_id", "est_jaccard")
      .distinct()
      .orderBy(col("doc_id"), col("earlier_id"))
  }

  /** The driver split: history = the first 80% of doc_ids (already
    * ingested and banded into the store), batch = the last 20% (today's
    * pull). */
  def splitId(maxId: Long): Long = (maxId + 1) * 4 / 5

  /** Store build memoized per corpus dir, like any offline warehouse
    * artifact (the Kmeans centroid-cache pattern): several queries in one
    * session share the store; `clearStoreCache()` invalidates. The key
    * carries the documents table's content fingerprint (TableFingerprint —
    * same contract as the centroid cache), so a rewritten corpus at the
    * same path rebuilds instead of serving stale signatures. */
  private val storeCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]()

  def clearStoreCache(): Unit = storeCache.clear()

  private def storeFor(s: SparkSession, dir: String): (Long, String) = {
    val fp = graft.sources.TableFingerprint.of(s, s"$dir/documents.parquet")
    val key = s"$dir#$fp"
    // evict stores superseded by a corpus rewrite (fingerprint changed) —
    // entry AND on-disk signatures, so a long-lived session doesn't
    // accumulate one orphaned store per rewrite
    val it = storeCache.keySet().iterator()
    while (it.hasNext) {
      val k = it.next()
      if (k != key && k.startsWith(dir + "#")) {
        val old = storeCache.remove(k)
        if (old != null) {
          val p = new org.apache.hadoop.fs.Path(old._2)
          p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        }
      }
    }
    storeCache.computeIfAbsent(key, _ => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val maxId = Option(docs.agg(max(col("doc_id"))).head.get(0))
        .map(_.asInstanceOf[Long]).getOrElse(-1L)
      val split = splitId(maxId)
      val path = java.nio.file.Files.createTempDirectory("graft_sigstore")
        .resolve("sigstore").toString
      buildStore(docs.filter(col("doc_id") < split), path)
      (split, path)
    })
  }

  /** `dedup_incremental`: the new batch deduped against the persisted
    * store. Rows-only for the driver (MinHash is not SQL-expressible); the
    * store≡scratch equivalence and the two-FileScan plan are spec-pinned. */
  def incremental(s: SparkSession, dir: String): DataFrame = {
    val (split, path) = storeFor(s, dir)
    val batch = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") >= split)
    pairsVsStore(s, batch, path)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_incremental" -> (incremental _))

  /** Full oracle: the store holds EVERY history signature, so
    * store-incremental ≡ banding the whole corpus and keeping pairs whose
    * later side is in the batch (doc_id ≥ the 80% split). The signature
    * chain is MinHashLsh.sigChainSql (the shared md5-based replay); the
    * estimator is the matching-component count over the two K=64 sigs. */
  val oracles: Map[String, String] = Map(
    "dedup_incremental" ->
      s"""WITH ${MinHashLsh.sigChainSql},
         |sp AS (SELECT (max(doc_id)+1)*4//5 AS sp FROM documents),
         |cand AS (SELECT DISTINCT l.doc_id AS doc_id, e.doc_id AS earlier_id
         | FROM band l JOIN band e ON l.b = e.b AND l.bs = e.bs CROSS JOIN sp
         | WHERE l.doc_id >= sp.sp AND e.doc_id < l.doc_id),
         |m AS (SELECT c.doc_id, c.earlier_id,
         |  round(list_sum(list_transform(range(1, ${MinHashLsh.K + 1}),
         |    i -> CASE WHEN sl.sig[i] = se.sig[i] THEN 1 ELSE 0 END))::DOUBLE
         |    / ${MinHashLsh.K}, 4) AS est_jaccard
         | FROM cand c JOIN sig sl ON sl.doc_id = c.doc_id
         |   JOIN sig se ON se.doc_id = c.earlier_id)
         |SELECT doc_id, earlier_id, est_jaccard FROM m
         |WHERE est_jaccard >= ${StreamNearDup.SimThreshold}
         |ORDER BY doc_id, earlier_id""".stripMargin)
}
