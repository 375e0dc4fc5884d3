package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-dup cluster resolution (SURVEY.md §2 #20b): connected components
  * over the verified near-dup pair graph, assigning every clustered
  * document its canonical representative (min doc_id in the component) —
  * the "keep one per duplicate cluster" step every training-data dedup
  * pipeline ends with.
  *
  * Spark-side: min-label propagation — iterative broadcast-free joins with
  * a localCheckpoint per round (bounds lineage), converging in component-
  * diameter iterations. Near-dup components are tiny by construction
  * (near-identical docs), so convergence is fast; the join shuffles only
  * the edge set, which LSH has already cut to ~O(dups). The oracle is a
  * recursive CTE computing the same transitive closure in DuckDB.
  */
object DedupClusters extends graft.QueryModule {

  /** Connected components of an undirected edge list (u, v). The edge set
    * is materialized once up front (one checkpoint — its producer may be an
    * expensive near-dup join); each round is then a single join+agg over the
    * tiny edge/label sets, carrying the previous label so convergence is
    * checked on the same materialized frame instead of an extra join. */
  /** Below this edge count the component labels are computed as a driver
    * union-find over the collected edge list — the bounded-model-artifact
    * contract (`Kmeans`' K×Dim centroids, BPE's vocab): ≤2²⁰ edges is
    * ≤16 MB, and the iterative join loop's per-round job floor (~0.3 s ×
    * 2 jobs × log-diameter rounds in local mode, scheduler RPCs at
    * cluster scale) dwarfs a single collect at that size. Above the bound
    * the distributed min-label/pointer-doubling loop runs unchanged —
    * near-dup and core-point graphs are sparse, but at 100 TB they are not
    * driver-sized, and the loop is the path that survives there.
    * `ConnectedComponentsSpec` pins both paths to identical labels. */
  val SmallGraphEdges: Long = 1L << 20

  def connectedComponents(pairs: DataFrame, maxIters: Int = 20,
      materialized: Boolean = false,
      smallGraphEdges: Long = SmallGraphEdges): DataFrame = {
    val spark = pairs.sparkSession
    // The per-iteration frames are tiny (near-dup graphs are sparse), so
    // whole-stage codegen buys nothing here but costs a janino compile per
    // unique plan per iteration — painful under sbt's layered classloader.
    // Run the loop interpreted, restore afterwards.
    // materialize the (possibly expensive) pair-producing plan with codegen
    // ON, before switching the tiny iteration loop to interpreted mode —
    // unless the caller already staged it (`materialized`), in which case a
    // second checkpoint would only add a copy job
    val edges =
      if (materialized) pairs.toDF("a", "b")
      else pairs.toDF("a", "b").localCheckpoint(true)
    // edges are materialized (staged or just checkpointed) — the count is a
    // block-metadata read, not a recompute of the producer
    val nEdges = edges.count()
    if (nEdges <= smallGraphEdges) return unionFind(spark, edges)
    graft.InterpretedLoop.run(spark, nEdges) {
      val sym = edges.union(edges.select(col("b"), col("a"))).toDF("u", "v")
      var labels = sym.select(col("u").as("id")).distinct()
        .withColumn("label", col("id"))
        .localCheckpoint(true)
      var iter = 0
      var converged = false
      while (!converged && iter < maxIters) {
        val neighborMin = sym.join(labels, sym("v") === labels("id"))
          .groupBy(sym("u").as("nid"))
          .agg(min(col("label")).as("nlabel"))
        val viaNeighbor = labels.join(neighborMin, labels("id") === neighborMin("nid"), "left")
          .select(col("id"), col("label").as("old"),
            least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
        // pointer doubling: resolve each label through the label table too,
        // halving the rounds a long chain needs (diameter → log diameter)
        val lbl2 = viaNeighbor.select(col("id").as("pid"), col("label").as("plabel"))
        val next = viaNeighbor.join(lbl2, viaNeighbor("label") === lbl2("pid"), "left")
          .select(col("id"), col("old"),
            least(col("label"), coalesce(col("plabel"), col("label"))).as("label"))
          .localCheckpoint(true)
        converged = next.filter(col("label") =!= col("old")).isEmpty
        labels = next.select("id", "label")
        iter += 1
      }
      labels
    }
  }

  /** Driver union-find over a bounded edge list (the small-graph path of
    * [[connectedComponents]]): path-halving find + union-by-min keeps the
    * exact min-label semantics of the distributed loop — every node that
    * appears in an edge gets the minimum id of its component. */
  private def unionFind(spark: SparkSession,
      edges: DataFrame): DataFrame = {
    import spark.implicits._
    val es = edges.select(col("a").cast("long"), col("b").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { // path halving
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp)
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // union by MIN root — the label contract
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val nodes = es.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
    nodes.map(n => (n, find(n))).toSeq.toDF("id", "label")
  }

  /** The verified near-dup pair graph as a session-scoped staging artifact
    * ([[graft.StagedArtifacts]]): the banded candidate join + Jaccard
    * verify (the dominant cost) runs ONCE per (corpus dir, content
    * fingerprint) and every consumer in the session — `dedup_clusters`,
    * `text_pipeline_report`, `CorpusPipeline.cleaned` — reads the
    * materialized edge list. This is exactly how a nightly pipeline stages
    * it (a parquet table between jobs); in-session the staging is an eager
    * localCheckpoint, which CacheRegistry's per-query release deliberately
    * does not touch. `clearCache()` is the explicit invalidation. */
  def clearCache(): Unit = graft.StagedArtifacts.clear("dedupClusters/")

  private[graft] def verifiedPairs(s: SparkSession, dir: String): DataFrame =
    graft.StagedArtifacts.stage(s, s"dedupClusters/verifiedPairs#$dir",
      graft.sources.TableFingerprint.of(s, s"$dir/documents.parquet")) {
      DedupQueries.ngramJaccard(s, dir).select("a_id", "b_id")
        .localCheckpoint(true)
    }

  /** #20b: canonical doc per near-dup cluster, over the same verified
    * pair set as dedup_ngram_jaccard (staged once per session — above). */
  def clusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = verifiedPairs(s, dir)
    connectedComponents(pairs, materialized = true)
      .select(col("id").as("doc_id"), col("label").as("canonical"))
      .orderBy(col("doc_id"))
  }

  /** #20c `dedup_weights` — soft-dedup reweighting: every document gets
    * its near-dup cluster's canonical id, the cluster SIZE, and the
    * keep/drop verdict — the artifact behind "count duplicates once but
    * weight the keeper by multiplicity" (the alternative to hard dropping
    * when duplication frequency itself is signal, and the starting point
    * of any dedup-rate ablation). Singletons are their own cluster of
    * size 1, so the output covers the WHOLE corpus, unlike
    * `dedup_clusters` which reports only clustered docs.
    *
    * Rides the session-staged verified pair graph (one near-dup detection
    * pass per session feeds clusters, weights, and the pipeline report);
    * the size readout is one |clusters|-key map-side-combinable aggregate
    * joined back on the canonical label. Exact integers only. */
  def weights(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir).select(col("doc_id"))
    val lab = connectedComponents(verifiedPairs(s, dir), materialized = true)
      .withColumnsRenamed(Map("id" -> "doc_id", "label" -> "canonical"))
    val all = graft.CacheRegistry.track(
      docs.join(lab, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("canonical"), col("doc_id")).as("canonical")))
    val sizes = all.groupBy(col("canonical")).agg(count(lit(1)).as("csize"))
    all.join(sizes, Seq("canonical"))
      .select(col("doc_id"), col("canonical"), col("csize"),
        (col("doc_id") === col("canonical")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** #28t `sample_split_group` — GROUP-aware train/val/test split: every
    * member of a near-dup cluster lands on the same side. `sample_split`
    * closes the exact-dup contamination hole by hashing content; this
    * closes the NEAR-dup hole (the paraphrased/template-varied page whose
    * twin a content hash cannot see — splitting those across train/test
    * grades the model on memorized near-copies, the contamination class
    * arXiv:2107.06499 measures). The split unit is the cluster: bucket =
    * md5 of the CANONICAL id in `sample_split`'s exact 2²⁰ space, same
    * 90/5/5 thresholds, singletons keyed by their own id — so the two
    * split operators agree on policy and differ only in unit.
    *
    * Rides the session-staged verified pair graph like `dedup_weights`
    * (one near-dup pass per session feeds clusters, weights, and this);
    * past the label join the assignment is one map-side projection. The
    * oracle composes the shared recursive cluster chain with
    * `sample_split`'s bucket CASE — both halves are the registered
    * definitions, so the operator cannot drift from either parent. */
  def splitGroup(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    val lab = connectedComponents(verifiedPairs(s, dir), materialized = true)
      .withColumnsRenamed(Map("id" -> "doc_id", "label" -> "canonical"))
    val bucket = conv(substring(md5(col("canonical").cast("string")), 1, 6), 16, 10)
      .cast("long") % graft.text.SampleSplit.Buckets
    docs.join(lab, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("canonical"), col("doc_id")).as("canonical"))
      .withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < graft.text.SampleSplit.TrainThreshold, "train")
          .when(col("bucket") < graft.text.SampleSplit.ValThreshold, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("lang"), col("canonical"), col("split"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_clusters" -> (clusters _),
    "dedup_weights" -> (weights _),
    "sample_split_group" -> (splitGroup _))

  private val pairsSql: String =
    s"""SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |FROM d a JOIN d b ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
       |WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.10""".stripMargin

  /** The cluster-resolution CTE chain (relations `d` with per-doc shingles
    * and `clust` with doc_id → canonical) — shared by the `dedup_clusters`
    * oracle and the pipeline attrition report so the two cannot drift. Must
    * follow a `WITH RECURSIVE`. */
  private[graft] val clustersCteSql: String =
    s"""d AS (SELECT doc_id, lang, (n_chars // 100) AS lb, ${DedupQueries.shinglesSql} AS sh FROM documents),
       |pairs AS ($pairsSql),
       |edges AS (SELECT a_id AS u, b_id AS v FROM pairs UNION ALL SELECT b_id, a_id FROM pairs),
       |reach(u, v) AS (
       | SELECT u, v FROM edges
       | UNION
       | SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |nodes AS (SELECT DISTINCT u FROM edges),
       |clust AS (
       | SELECT n.u AS doc_id, least(n.u, min(r.v)) AS canonical
       | FROM nodes n JOIN reach r ON r.u = n.u
       | GROUP BY n.u)""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_clusters" ->
      s"""WITH RECURSIVE
         |$clustersCteSql
         |SELECT doc_id, canonical FROM clust ORDER BY doc_id""".stripMargin,
    "dedup_weights" ->
      s"""WITH RECURSIVE
         |$clustersCteSql,
         |allc AS (SELECT dd.doc_id, coalesce(c.canonical, dd.doc_id) AS canonical
         | FROM documents dd LEFT JOIN clust c ON c.doc_id = dd.doc_id),
         |sz AS (SELECT canonical, count(*)::BIGINT AS csize FROM allc GROUP BY canonical)
         |SELECT a.doc_id, a.canonical, sz.csize, (a.doc_id = a.canonical) AS keep
         |FROM allc a JOIN sz USING (canonical) ORDER BY a.doc_id""".stripMargin,
    "sample_split_group" ->
      s"""WITH RECURSIVE
         |$clustersCteSql,
         |allc AS (SELECT dd.doc_id, dd.lang, coalesce(c.canonical, dd.doc_id) AS canonical
         | FROM documents dd LEFT JOIN clust c ON c.doc_id = dd.doc_id),
         |b AS (SELECT doc_id, lang, canonical,
         |  ('0x' || substr(md5(canonical::VARCHAR), 1, 6))::BIGINT
         |    % ${graft.text.SampleSplit.Buckets} AS bucket
         | FROM allc)
         |SELECT doc_id, lang, canonical,
         | CASE WHEN bucket < ${graft.text.SampleSplit.TrainThreshold} THEN 'train'
         |      WHEN bucket < ${graft.text.SampleSplit.ValThreshold} THEN 'val'
         |      ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin)
}
