package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** The StagedArtifacts SUPERSEDE-EVICTION contract, end to end: a session
  * that rewrites its corpus mid-flight must (a) recompute the staged
  * artifact from the new content, (b) release the superseded checkpoint's
  * blocks (gone from `sc.getPersistentRDDs` — the leak a nightly session
  * re-ingesting a mutating corpus cannot afford), and (c) leave every
  * OTHER staged entry untouched (same object, still persisted). The same
  * memo holds the driver-side models: concurrent resolvers share one build,
  * a supersede releases the old value once, and a rewritten table retrains
  * its k-means centroids and BPE dictionary. */
class StagedEvictionSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def checkpointRddId(df: DataFrame): Int =
    df.queryExecution.logical.collect { case lr: LogicalRDD => lr.rdd.id }.head

  private def writeDocs(dir: String, texts: Seq[String]): Unit = {
    import spark.implicits._
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "synth", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("corpus rewrite recomputes, evicts the stale checkpoint, spares siblings") {
    val dir = java.nio.file.Files.createTempDirectory("staged_evict").toString
    val sibling = java.nio.file.Files.createTempDirectory("staged_keep").toString
    val words = (1 to 40).map(i => s"w$i").mkString(" ")
    writeDocs(dir, Seq(s"first corpus $words", s"second doc $words"))
    writeDocs(sibling, Seq(s"sibling corpus $words"))

    val v1 = graft.dedup.DedupQueries.stagedSketch(spark, dir)
    val keep = graft.dedup.DedupQueries.stagedSketch(spark, sibling)
    val (v1Id, keepId) = (checkpointRddId(v1), checkpointRddId(keep))
    assert(spark.sparkContext.getPersistentRDDs.contains(v1Id),
      "staging must persist the checkpoint")
    assert(v1.count() == 2)

    // same fingerprint → the staged frame itself, zero recompute
    assert(graft.dedup.DedupQueries.stagedSketch(spark, dir) eq v1)

    // REWRITE the corpus (3 docs now — the count proves recompute)
    writeDocs(dir, Seq(s"new corpus $words", s"new doc $words", s"third $words"))
    val v2 = graft.dedup.DedupQueries.stagedSketch(spark, dir)

    // (a) the new fingerprint recomputed from the new content
    assert(!(v2 eq v1), "rewritten corpus must re-stage")
    assert(v2.count() == 3, "staged frame must reflect the new corpus")
    // (b) the superseded checkpoint's blocks are gone
    assert(!spark.sparkContext.getPersistentRDDs.contains(v1Id),
      "stale checkpoint must be unpersisted on supersede")
    assert(spark.sparkContext.getPersistentRDDs.contains(checkpointRddId(v2)))
    // (c) the sibling artifact was never touched
    assert(graft.dedup.DedupQueries.stagedSketch(spark, sibling) eq keep)
    assert(spark.sparkContext.getPersistentRDDs.contains(keepId),
      "unrelated staged entries keep their blocks")

    // explicit invalidation releases everything in the family
    graft.dedup.DedupQueries.clearSketchCache()
    assert(!spark.sparkContext.getPersistentRDDs.contains(keepId))
  }

  test("nested staging never deadlocks or recursive-updates (a rung builds its parent)") {
    // the ladder's real shape: building one artifact stages another. The
    // map's bin locks must never be held during a build — with
    // computeIfAbsent/compute this threw IllegalStateException(Recursive
    // update) whenever the two keys collided in a bin (found by the full
    // suite on the empty-corpus fixture). Exercise MANY nested pairs so a
    // bin collision is certain regardless of hashing.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    (0 until 64).foreach { i =>
      val outer = StagedArtifacts.stage(spark, s"nestSpec/outer$i", "fp") {
        val inner = StagedArtifacts.stage(spark, s"nestSpec/inner$i", "fp") {
          Seq(i.toLong).toDF("v").localCheckpoint(true)
        }
        inner.select((col("v") + 1L).as("v")).localCheckpoint(true)
      }
      assert(outer.head().getLong(0) == i + 1L)
    }
    StagedArtifacts.clear("nestSpec/")
  }

  test("two threads resolving one name at one fingerprint build once and share the value") {
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val resolve: java.util.concurrent.Callable[Array[Long]] = () => {
        start.await()
        StagedArtifacts.memo[Array[Long]](spark, "memoSpec/shared", "fp", _ => ()) {
          builds.incrementAndGet()
          Thread.sleep(200) // hold the build so the other resolver arrives mid-build
          Array(42L)
        }
      }
      val (a, b) = (pool.submit(resolve), pool.submit(resolve))
      start.countDown()
      assert(a.get() eq b.get(), "both resolvers must get the one built value")
      assert(builds.get == 1, s"one fingerprint must build once, built ${builds.get}")
    } finally {
      pool.shutdown()
      StagedArtifacts.clear("memoSpec/")
    }
  }

  test("a supersede releases the old value exactly once; clear releases the current one") {
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    def resolve(fp: String): String =
      StagedArtifacts.memo[String](spark, "memoSpec/released", fp,
        v => released.synchronized(released += v))(s"value@$fp")
    assert(resolve("fpA") == "value@fpA")
    assert(resolve("fpA") == "value@fpA")
    assert(released.isEmpty, "a hit releases nothing")
    assert(resolve("fpB") == "value@fpB")
    assert(resolve("fpB") == "value@fpB")
    assert(released.toSeq == Seq("value@fpA"), s"released $released")
    StagedArtifacts.clear("memoSpec/")
    assert(released.toSeq == Seq("value@fpA", "value@fpB"), s"released $released")
    StagedArtifacts.clear("memoSpec/")
    assert(released.size == 2, "a cleared entry is gone, so it cannot release twice")
  }

  test("an in-place table rewrite retrains the k-means centroids and the BPE dictionary") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("staged_models").toString
    def writeEmb(seed: Double): Unit =
      spark.range(40).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(graft.sim.Kmeans.Dim)),
          d => sin(col("id") * d.cast("double") * seed)).as("embedding"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def centroids() = graft.sim.Kmeans.trainedCentroids(spark, dir, graft.sim.Kmeans.Iters,
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb")))
    writeEmb(0.37)
    writeDocs(dir, Seq("aa ab aa", "ab ab ba"))
    val c1 = centroids()
    val d1 = graft.text.BpeTrain.wordCounts(spark, dir)
    assert(centroids() eq c1, "an unchanged table must serve the trained centroids")
    assert(graft.text.BpeTrain.wordCounts(spark, dir) eq d1)

    writeEmb(0.61) // same path and row count: only the values move
    writeDocs(dir, Seq("cc cd cc", "dd cc"))
    val c2 = centroids()
    val d2 = graft.text.BpeTrain.wordCounts(spark, dir)
    assert(!(c2 eq c1) && !c2.map(_.toSeq).sameElements(c1.map(_.toSeq)),
      "rewritten embeddings must retrain the centroids")
    assert(d2.toSeq == Seq("cc" -> 3L, "cd" -> 1L, "dd" -> 1L),
      s"rewritten documents must rebuild the dictionary, got ${d2.toSeq}")
    graft.sim.Kmeans.clearCache()
    assert(centroids().map(_.toSeq).sameElements(c2.map(_.toSeq)),
      "the retrained model is the one a cold session trains")
    graft.text.BpeTrain.clearTokenizerCache()
  }
}
