package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.LogicalRDD

/** The one session-artifact memo: every artifact graft builds once and
  * shares across queries — staged ladder rungs, trained models, tokenizer
  * dictionaries, the incremental near-dup signature store — resolves here.
  *
  * KEY. An entry is keyed on (appId, artifact name) and carries its input's
  * content fingerprint (normally `sources.TableFingerprint`, a file
  * listing) as a VALUE. Resolving a name at the entry's fingerprint returns
  * the built value: one `ConcurrentHashMap.get` plus a string compare, zero
  * recompute. Spark writes fresh part-file names on every overwrite, so a
  * rewrite in place — even a same-size one — changes the fingerprint.
  *
  * BUILD ONCE. The build runs OUTSIDE the map's bin locks (a ladder rung
  * builds by staging its parent rung — a nested resolve — and
  * ConcurrentHashMap.compute forbids that recursion; a multi-iteration
  * training job is also far too long for a bin lock). Each entry memoizes
  * its value under its own monitor, so concurrent resolvers of ONE
  * artifact at one fingerprint run the build once and share its result,
  * while different artifacts (including a rung and its parent) never share
  * a lock — the ladder is a DAG, so no cycle exists.
  *
  * SUPERSEDE. A resolve at a new fingerprint installs a fresh entry in the
  * stale one's place and calls the stale value's `release` (if it ever
  * built) exactly once before the fresh build's result is handed out: a
  * checkpointed rung unpersists its blocks, the signature store deletes
  * its directory, a driver-side model just drops its reference. Entries
  * for other names — including other dirs of the same family — are never
  * touched. `clear(prefix)` drops and releases every entry whose name
  * starts with `prefix`; it is the explicit-invalidation hook behind the
  * per-family `clear*Cache()` entry points, so each family's names start
  * with a prefix no other family's do. `StagedEvictionSpec` proves the
  * contract end to end.
  *
  * SUPERSEDE vs IN-FLIGHT READERS (contract, not a bug): release is
  * immediate by design — the stale data is wrong by definition, and a
  * nightly session cannot afford to pin 100 TB-scale checkpoint blocks
  * behind a grace period. A `localCheckpoint` truncates lineage, so a
  * reader that obtained the OLD fingerprint's frame and is still running
  * jobs on it when a supersede lands will fail ("checkpoint block not
  * found") rather than silently recompute. Callers that rewrite an
  * artifact's source concurrently with readers of the old generation must
  * quiesce those readers first (the gate and every in-repo consumer run
  * read-then-supersede sequentially; `clear(prefix)` has the same
  * semantics). Readers at the SAME fingerprint are always safe — supersede
  * only fires on a fingerprint change. */
object StagedArtifacts {

  private final class Entry[T](val fingerprint: String, build0: () => T,
      release: T => Unit) {
    private var built: Option[T] = None
    /** Memoized build — at most one builder runs per entry. */
    def value: T = synchronized {
      if (built.isEmpty) built = Some(build0())
      built.get
    }
    /** Release the value if (and only if) this entry ever built. */
    def releaseIfBuilt(): Unit = synchronized(built.foreach(release))
  }

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[String, Entry[_]]()

  /** Resolve artifact `name` at content `fingerprint`: the built value on
    * a hit, else `build` (run once, outside the map's locks) with the
    * superseded value, if any, passed to its entry's `release`. */
  def memo[T](s: SparkSession, name: String, fingerprint: String,
      release: T => Unit)(build: => T): T = {
    val key = s"${s.sparkContext.applicationId}#$name"
    while (true) {
      val cur = entries.get(key)
      if (cur != null && cur.fingerprint == fingerprint)
        return cur.asInstanceOf[Entry[T]].value
      val fresh = new Entry[T](fingerprint, () => build, release)
      val installed =
        if (cur == null) entries.putIfAbsent(key, fresh) == null
        else entries.replace(key, cur, fresh)
      if (installed) {
        if (cur != null) cur.releaseIfBuilt()
        return fresh.value
      }
      // lost the install race — re-read and re-decide
    }
    throw new IllegalStateException("unreachable")
  }

  /** A staged ladder rung: [[memo]] over an eagerly-materialized frame
    * (`build` normally ends in `localCheckpoint(true)`) whose release
    * unpersists the checkpoint's blocks.
    *
    * DISK MODE (opt-in): when `spark.graft.stageDir` (conf) or
    * `SPARK_GRAFT_STAGE_DIR` (env) names a directory, rungs persist there
    * as parquet under `<dir>/<artifact>/fp=<md5(fingerprint)>` — the
    * "nightly pipeline writes staging tables" posture made literal. A
    * restarted session (or another session sharing the dir) finds
    * yesterday's rung on disk and reads it instead of rebuilding; a new
    * fingerprint writes its own rung and DELETES superseded fingerprint
    * dirs of the same artifact (supersede-overwrite, the eviction contract
    * on disk). Completion is judged by Spark's `_SUCCESS` marker, so a
    * torn write rebuilds instead of serving partial data. */
  def stage(s: SparkSession, name: String, fingerprint: String)
      (build: => DataFrame): DataFrame =
    memo[DataFrame](s, name, fingerprint, unpersistCheckpoint) {
      stageRoot(s) match {
        case Some(root) => diskResolve(s, root, name, fingerprint, () => build)
        case None => build
      }
    }

  /** Whether disk-mode staging is active for this session (the registry's
    * storage column reads this). */
  private[graft] def diskMode(s: SparkSession): Boolean = stageRoot(s).isDefined

  private def stageRoot(s: SparkSession): Option[String] =
    Option(s.conf.get("spark.graft.stageDir", null))
      .orElse(sys.env.get("SPARK_GRAFT_STAGE_DIR"))
      .filter(_.nonEmpty)

  /** Disk-mode resolution: read the rung if a COMPLETE parquet for this
    * fingerprint exists; otherwise build, persist, evict superseded
    * fingerprint dirs, release the build's checkpoint blocks (the parquet
    * is now the authority), and serve the read-back frame.
    *
    * All probes and deletions go through Hadoop's `FileSystem` resolved
    * FROM the stage path itself — so a non-local stage dir (`hdfs://`,
    * `s3a://`) gets the same reuse and supersede-eviction semantics as
    * `file:`; a `java.io.File` probe would silently never see a remote
    * `_SUCCESS` and rebuild + rewrite the rung every session while stale
    * fingerprint dirs accumulate forever. */
  private def diskResolve(s: SparkSession, root: String, name: String,
      fingerprint: String, build: () => DataFrame): DataFrame = {
    import org.apache.hadoop.fs.Path
    val safeName = name.replaceAll("[^A-Za-z0-9._-]", "_")
    val fpHash = java.security.MessageDigest.getInstance("MD5")
      .digest(fingerprint.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val artDir = new Path(root, safeName)
    val fs = artDir.getFileSystem(s.sparkContext.hadoopConfiguration)
    val path = new Path(artDir, s"fp=$fpHash")
    if (!fs.exists(new Path(path, "_SUCCESS"))) {
      val built = build()
      built.write.mode("overwrite").parquet(path.toString)
      unpersistCheckpoint(built)
      // supersede-overwrite: stale fingerprints of THIS artifact only
      val stale =
        if (fs.exists(artDir)) fs.listStatus(artDir).toSeq else Seq.empty
      stale.map(_.getPath)
        .filter(p => p.getName.startsWith("fp=") && p.getName != s"fp=$fpHash")
        .foreach(p => fs.delete(p, true): Unit)
    }
    s.read.parquet(path.toString)
  }

  /** Drop (and release) every entry whose artifact name starts with
    * `prefix`. Empty prefix clears everything. */
  def clear(prefix: String = ""): Unit = {
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.substring(e.getKey.indexOf('#') + 1).startsWith(prefix)) {
        e.getValue.releaseIfBuilt()
        it.remove()
      }
    }
  }

  /** Release the checkpoint blocks behind a `localCheckpoint`ed frame: the
    * frame's logical plan IS the `LogicalRDD` over the persisted RDD, so
    * unpersisting that RDD frees the blocks (non-blocking; the entry is
    * gone from `sc.getPersistentRDDs` synchronously). */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ =>
    }
}
