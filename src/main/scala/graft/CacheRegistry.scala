package graft

import org.apache.spark.sql.Dataset

/** Release contract for intra-query `persist()` sites.
  *
  * Several operators persist an intermediate that feeds multiple consumers
  * inside ONE returned plan (LSH band-join candidates, near-dup signature
  * frames). The result DataFrame is lazy, so the operator cannot unpersist
  * after its terminal consumer — only the caller knows when the query is
  * done. This registry is that contract: operators `track` what they
  * persist, and entry points (Verify, Bench, GenPlanFiles, any pipeline runner)
  * call `releaseAll()` once each query completes. Without it a long-lived
  * session accumulates dead cached tables that pin executor storage memory
  * until LRU eviction — exactly the leak a daily 100 TB pipeline session
  * cannot afford. CacheReleaseSpec asserts the invariant end to end.
  */
object CacheRegistry {

  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()

  /** Persist (MEMORY_AND_DISK, the Dataset default) and register for
    * release. Returns the dataset for inline use. */
  def track[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist()
    tracked.add(ds)
    ds
  }

  /** Unpersist every tracked dataset (non-blocking). Idempotent; call after
    * the terminal consumer of each query. */
  def releaseAll(): Unit = {
    var ds = tracked.poll()
    while (ds != null) {
      ds.unpersist(blocking = false)
      ds = tracked.poll()
    }
  }
}
