package graft.dedup

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{CacheRegistry, TestSpark}
import graft.streaming.StreamNearDup

/** Contract of the persisted-signature-store near-dup:
  *  1. store-based incremental ≡ from-scratch on the combined corpus;
  *  2. the plan reads ONE new-batch file scan and ONE store file scan —
  *     history text is never re-scanned or re-sketched;
  *  3. cross-batch and intra-batch near-dups both surface, and a store
  *     append makes a processed batch visible to the next one. */
class IncrementalNearDupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = TestSpark.sf
  import spark.implicits._

  private def docsDf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")

  test("store-based incremental equals from-scratch on the combined corpus") {
    IncrementalNearDup.clearStoreCache()
    val full = StreamNearDup.nearDupBatch(spark, sf)
    val maxId = graft.Tables.documents(spark, sf)
      .agg(max(col("doc_id"))).head.getLong(0)
    val split = IncrementalNearDup.splitId(maxId)
    val expected = full.filter(col("doc_id") >= split).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = SparkEntry_incremental().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    CacheRegistry.releaseAll()
    assert(got == expected,
      s"incremental diverged: only-incremental=${got -- expected}, missing=${expected -- got}")
    // the prior run covers exactly the rest: history-only pairs
    val priorExpected = full.filter(col("doc_id") < split).count()
    assert(priorExpected + expected.size == full.count(),
      "prior-run pairs ∪ incremental pairs must partition the from-scratch set")
    CacheRegistry.releaseAll()
  }

  private def SparkEntry_incremental() =
    graft.SparkEntry.queries("dedup_incremental")(spark, sf)

  test("plan: one new-batch FileScan (pushed split filter) + one store FileScan") {
    IncrementalNearDup.clearStoreCache()
    val p = SparkEntry_incremental().queryExecution.executedPlan.toString
    CacheRegistry.releaseAll()
    // the batch banding is cached; InMemoryRelation reprints its cached
    // plan under every consumer, so count DISTINCT FileScan lines
    def scans(token: String) = p.linesIterator
      .filter(l => l.contains("FileScan") && l.contains(token))
      .map(l => l.substring(l.indexOf("FileScan"))).toSet
    assert(scans("documents.parquet").size == 1,
      s"one batch scan (cached banding), history never re-scanned; got\n$p")
    assert(scans("sigstore").size == 1, s"exactly one store scan; got\n$p")
    assert(scans("documents.parquet").forall(_.contains("GreaterThanOrEqual(doc_id")),
      "every documents scan must carry the pushed batch-split filter — an " +
        "unfiltered scan would mean history text is being re-read")
    assert(p.contains("InMemoryRelation"),
      "the batch banding must be computed once and cached, not re-sketched per consumer")
  }

  test("foreachBatch ingest loop: stream dedups against the growing store ≡ from-scratch") {
    // the full production loop the operator exists for: docs ARRIVE as a
    // stream; every micro-batch is (1) deduped against the persisted store,
    // (2) folded into it — so the union of per-batch pairs must equal the
    // from-scratch batch twin over everything that arrived
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamNearDup.Doc
    val base = (0 until 120).map(i => s"word$i").mkString(" ")
    val all = Seq(
      0L -> base, 1L -> (0 until 120).map(i => s"alt$i").mkString(" "),
      10L -> (base + " tail one"), 11L -> (0 until 120).map(i => s"beta$i").mkString(" "),
      20L -> (base + " tail two"), 21L -> ((0 until 120).map(i => s"beta$i").mkString(" ") + " coda"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_incr_stream")
      .resolve("sigstore").toString
    IncrementalNearDup.buildStore(docsDf(Seq.empty[(Long, String)]), tmp)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Doc]
    val gathered = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = stream.toDS().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Doc], _: Long) =>
        val b = batch.toDF()
        gathered ++= IncrementalNearDup.pairsVsStore(spark, b, tmp)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        CacheRegistry.releaseAll()
        IncrementalNearDup.appendToStore(b, tmp)
        ()
      }
      .start()
    try {
      all.grouped(2).foreach { chunk =>
        stream.addData(chunk.map { case (id, t) => Doc(id, t) })
        q.processAllAvailable()
      }
    } finally q.stop()

    val tmpDocs = java.nio.file.Files.createTempDirectory("graft_incr_stream_docs").toString
    docsDf(all).write.mode("overwrite").parquet(s"$tmpDocs/documents.parquet")
    val scratch = StreamNearDup.nearDupBatch(spark, tmpDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    CacheRegistry.releaseAll()
    assert(gathered.toSet == scratch,
      s"missing=${scratch -- gathered.toSet} extra=${gathered.toSet -- scratch}")
    assert(gathered.nonEmpty)
  }

  test("a rewritten corpus at the same path rebuilds the store (content key)") {
    val dirPath = java.nio.file.Files.createTempDirectory("graft_incr_fp")
    val dir = dirPath.toString
    val mk = (tag: String) => (0L until 20L).map(i => (i, (0 until 80)
      .map(j => s"$tag${i % 4}_$j").mkString(" ")))
    docsDf(mk("alpha")).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val before = graft.SparkEntry.queries("dedup_incremental")(spark, dir).collect()
      .map(_.toString).toSeq
    CacheRegistry.releaseAll()
    // same path, same row count — only content changes; the store must
    // retrain, not serve alpha signatures against beta docs
    docsDf(mk("beta")).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val after = graft.SparkEntry.queries("dedup_incremental")(spark, dir).collect()
      .map(_.toString).toSeq
    CacheRegistry.releaseAll()
    // both corpora have 4 near-identical doc groups spanning the 16/4 split,
    // so both runs find pairs — but against THEIR OWN store
    assert(before.nonEmpty && after.nonEmpty)
    val batchVsScratch = StreamNearDup.nearDupBatch(spark, dir)
      .filter(col("doc_id") >= IncrementalNearDup.splitId(19L)).collect()
      .map(_.toString).toSeq
    CacheRegistry.releaseAll()
    assert(after == batchVsScratch,
      "post-rewrite incremental must match from-scratch on the NEW corpus")
  }

  test("a superseded store and a cleared store are deleted from disk") {
    val dir = java.nio.file.Files.createTempDirectory("graft_incr_release").toString
    val mk = (tag: String) => (0L until 10L).map(i => (i, s"$tag$i some shared words"))
    def storeRoot(path: String) = new java.io.File(path).getParentFile
    docsDf(mk("alpha")).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val (_, first) = IncrementalNearDup.storeFor(spark, dir)
    assert(new java.io.File(first).isDirectory)
    assert(IncrementalNearDup.storeFor(spark, dir)._2 == first, "an unchanged corpus keeps its store")
    docsDf(mk("beta")).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val (_, second) = IncrementalNearDup.storeFor(spark, dir)
    assert(second != first && new java.io.File(second).isDirectory)
    assert(!storeRoot(first).exists, s"superseded store left on disk: $first")
    IncrementalNearDup.clearStoreCache()
    assert(!storeRoot(second).exists, s"cleared store left on disk: $second")
  }

  test("cross-batch, intra-batch, and appended-store dups all surface") {
    // varied vocabulary → a large distinct-shingle set, so a small suffix
    // edit keeps true Jaccard ≈ 0.95 and the K=64 estimate far above 0.5
    val base = (0 until 120).map(i => s"token$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("graft_incr_spec")
      .resolve("sigstore").toString
    // history: doc 0 (near-dup target), doc 1 (unrelated)
    IncrementalNearDup.buildStore(docsDf(Seq(
      0L -> base,
      1L -> (0 until 120).map(i => s"other$i").mkString(" "))), tmp)
    // batch 1: doc 10 ≈ doc 0 (cross), docs 12/13 near-identical (intra),
    // doc 14 unrelated to everything
    val batch1 = docsDf(Seq(
      10L -> (base + " extra tail"),
      12L -> (0 until 120).map(i => s"fox$i").mkString(" "),
      13L -> ((0 until 120).map(i => s"fox$i").mkString(" ") + " coda"),
      14L -> (0 until 120).map(i => s"novel$i").mkString(" ")))
    val got1 = IncrementalNearDup.pairsVsStore(spark, batch1, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    CacheRegistry.releaseAll()
    assert(got1.contains((10L, 0L)), s"cross-batch pair missing: $got1")
    assert(got1.contains((13L, 12L)), s"intra-batch pair missing: $got1")
    assert(!got1.exists(p => p._1 == 14L || p._2 == 14L), s"unrelated doc paired: $got1")
    assert(!got1.exists(p => p._1 == 1L || p._2 == 1L), s"unrelated history paired: $got1")

    // fold batch 1 into the store; batch 2 must see ITS docs as history
    IncrementalNearDup.appendToStore(batch1, tmp)
    val batch2 = docsDf(Seq(20L -> (base + " another small suffix")))
    val got2 = IncrementalNearDup.pairsVsStore(spark, batch2, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    CacheRegistry.releaseAll()
    assert(got2.contains((20L, 0L)) && got2.contains((20L, 10L)),
      s"appended batch must be visible as history: $got2")
  }
}
