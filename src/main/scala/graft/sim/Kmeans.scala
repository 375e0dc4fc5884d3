package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.DedupQueries.{cosine, cosineSql}

/** Distributed spherical k-means over the embedding corpus (SURVEY.md §2
  * #25c) — the clustering primitive behind SemDeDup-style semantic curation
  * and IVF centroid training (the offline step `AnnIvf` assumes).
  *
  * Determinism contract (the DuckDB oracle must replay every iteration):
  * centroids initialize from the first K vectors; each Lloyd iteration
  * assigns by cosine (scores rounded to 6, lowest cell wins ties — the
  * `TopCells` comparator) and recomputes centroids as per-dimension means
  * rounded to 6 decimals. Rounding the means is what makes the two engines
  * agree: raw double sums differ by ~1e-15 with summation order, rounded
  * means are identical, so every subsequent assignment is identical.
  *
  * Scale: per iteration, assignment is one compiled map-side pass against a
  * broadcast K×Dim literal (no join, no shuffle), and the recompute is one
  * K-key hash aggregation with map-side partial averages — K×Dim doubles
  * ever reach the driver, same as MLlib KMeans ships its model. Iteration
  * count is fixed and small; nothing grows with corpus size except the one
  * scan per iteration.
  */
object Kmeans extends graft.QueryModule {

  /** K scales with corpus size — the SemDeDup paper's own answer to the
    * per-cluster quadratic term (arXiv:2303.09540 uses ~100k clusters over
    * ~1e9 embeddings): √(n/8)-style, floored at the small-corpus K. With K
    * ∝ √n the expected within-cluster pair count Σ(n/K)²·K = n²/K grows
    * only ~n^1.5, not n². The oracle replays the SAME formula via a scalar
    * subquery (`kSql` below), so the two engines agree at every scale
    * factor, not just the driver's verify corpus. */
  def kFor(n: Long): Int = math.max(MinK, math.ceil(math.sqrt(n / 8.0)).toInt)

  /** kFor in DuckDB: both engines compute ceil(sqrt(n/8.0)) through the
    * same correctly-rounded double ops, so the Ks are identical. */
  private def kSql: String =
    s"(SELECT greatest($MinK, ceil(sqrt(count(*) / 8.0))::BIGINT) FROM e)"

  val MinK = 8
  val Iters = 2
  val Dim = 64

  // cell assignment is CentroidAssign.withBestCell — the compiled TopCells
  // literal under the size threshold, the broadcast centroid relation above

  def embKmeans(s: SparkSession, dir: String): DataFrame =
    run(s, dir, Iters).select(col("vec_id"), col("cluster"), col("cos_center"))
      .orderBy(col("vec_id"))

  /** Final cluster assignments with embeddings — the computed blocking cell
    * that within-cluster consumers (`dedup_semantic` here,
    * `dedup_embedding_cosine` in DedupQueries) join inside. */
  def assignments(s: SparkSession, dir: String): DataFrame =
    run(s, dir, Iters).select(col("vec_id"), col("cluster"), col("emb"))

  /** Trained centroids are a tiny offline ARTIFACT (K×Dim doubles) — real
    * pipelines train once and every consumer (SemDeDup, cosine dedup, IVF)
    * reuses the model rather than re-running Lloyd. Training is fully
    * deterministic, so memoizing per (corpus dir, iters, row count) changes
    * no result — it removes the redundant re-train when several queries
    * share one session (exactly the shape of a daily pipeline run). The
    * key carries a CONTENT fingerprint (file names, sizes, mtimes of the
    * embeddings table), so any rewrite of the data — even an in-place
    * same-size one — retrains: Spark writes fresh UUID part-file names on
    * every overwrite, so the fingerprint cannot miss it. `clearCache()`
    * remains for explicit invalidation. Supersede-evicting like the
    * checkpointed staging rungs ([[graft.StagedArtifacts]]'s contract):
    * the MODEL identity (dir, iters, subset) is the map key and the
    * fingerprint a value check, so a rewritten corpus replaces the stale
    * model instead of accumulating one dead entry per rewrite (driver
    * arrays, not executor blocks — a bound on map growth, not storage). */
  private final class ModelEntry(val fingerprint: String,
      build0: () => Array[Array[Double]]) {
    private var built: Array[Array[Double]] = null
    /** Memoized train — at most one trainer runs per entry, under the
      * entry's OWN monitor, never the map's bin locks (the
      * [[graft.StagedArtifacts]] Entry pattern: CHM.compute bodies must be
      * short, and a multi-iteration Spark job is not). */
    def value: Array[Array[Double]] = synchronized {
      if (built == null) built = build0()
      built
    }
  }

  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, ModelEntry]()

  def clearCache(): Unit = centroidCache.clear()

  private def contentKey(s: SparkSession, dir: String): String =
    graft.sources.TableFingerprint.of(s, s"$dir/embeddings.parquet")

  private[graft] def trainedCentroids(s: SparkSession, dir: String, iters: Int,
      e: DataFrame, subset: String = "all"): Array[Array[Double]] = {
    val n = e.count()
    // empty corpus: no model to train (and nothing to key a cache on) —
    // callers emit a schema-complete empty frame
    if (n == 0) return Array.empty
    val fp = s"$n#${contentKey(s, dir)}"
    def train(): Array[Array[Double]] = {
      // a corpus smaller than the K floor trains with every vector as a
      // centroid — the oracle's `WHERE vec_id < kSql` yields the same n
      // rows, so the engines agree instead of Spark throwing on the
      // missing init ids (found by round-6 review: 7-vector history)
      val k = math.min(kFor(n), n).toInt
      val init = e.filter(col("vec_id") < k)
        .select(col("vec_id"), col("emb")).collect()
        .sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
      require(init.length == k, s"expected $k init vectors with vec_id < $k")

      var cents = init
      for (_ <- 1 to iters) {
        val dims = (1 to Dim).map(i => round(avg(element_at(col("emb"), i)), 6))
        val rows = CentroidAssign.withBestCell(e, cents).select(col("cell"), col("emb"))
          .groupBy(col("cell")).agg(dims.head, dims.tail: _*)
          .collect()
        // empty cells keep their previous centroid (mirrored by the oracle's
        // COALESCE over a LEFT JOIN)
        val next = cents.map(_.clone())
        rows.foreach { r =>
          next(r.getLong(0).toInt) = Array.tabulate(Dim)(i => r.getDouble(i + 1))
        }
        cents = next
      }
      cents
    }
    // install-then-train outside the map's locks (StagedArtifacts pattern):
    // colliding trains of UNRELATED models no longer block each other for
    // whole multi-iteration Spark jobs under a shared bin lock.
    val key = s"$dir#$iters#$subset"
    while (true) {
      val cur = centroidCache.get(key)
      if (cur != null && cur.fingerprint == fp) return cur.value
      val fresh = new ModelEntry(fp, () => train())
      val installed =
        if (cur == null) centroidCache.putIfAbsent(key, fresh) == null
        else centroidCache.replace(key, cur, fresh)
      if (installed) return fresh.value
      // lost the install race — re-read and re-decide
    }
    throw new IllegalStateException("unreachable")
  }

  /** Assignment after `iters` Lloyd rounds, keeping the embedding column so
    * downstream consumers (SemDeDup) can join within clusters. */
  private[sim] def run(s: SparkSession, dir: String, iters: Int): DataFrame = {
    graft.functions.HashExprs.register(s)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))

    val cents = trainedCentroids(s, dir, iters, e)
    if (cents.isEmpty)
      // empty corpus: schema-complete empty assignments, not a throw
      return e.select(col("vec_id"), lit(0L).as("cluster"),
        lit(0.0).as("cos_center"), col("emb")).filter(lit(false))
    assigned(e, cents)
  }

  /** The one assignment definition every consumer shares: cluster by the
    * compiled TopCells argmax against the broadcast centroid literal, plus
    * the round-4 cos_center the oracles mirror. */
  private def assigned(e: DataFrame, cents: Array[Array[Double]]): DataFrame =
    CentroidAssign.withBestCell(e, cents)
      .select(col("vec_id"), col("cell").as("cluster"), col("cos_center"), col("emb"))

  /** #25d `emb_incremental_assign`: a NEW embedding batch (the last 20% of
    * vec_ids — today's ingest) assigned against the model trained on
    * HISTORY ONLY — the composition of incremental ingest with the
    * train-once model artifact: the daily batch must not perturb the
    * shipped centroids (re-training is a deliberate offline event, which
    * `ts_anomaly`-style drift monitoring triggers), so cluster ids stay
    * STABLE for every downstream consumer keyed on them. Map-side compiled
    * assignment against the broadcast K×Dim literal, zero shuffle before
    * the output sort; the oracle replays the history-only Lloyd chain. */
  def incrementalAssign(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    val all = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val maxId = Option(all.agg(max(col("vec_id"))).head.get(0))
      .map(_.asInstanceOf[Long]).getOrElse(-1L)
    // the one 80/20 ingest-split definition, shared with the near-dup store
    val split = graft.dedup.IncrementalNearDup.splitId(maxId)
    val cents = trainedCentroids(s, dir, Iters,
      all.filter(col("vec_id") < split), subset = s"hist$split")
    if (cents.isEmpty)
      return all.select(col("vec_id"), lit(0L).as("cluster"), lit(0.0).as("cos_center"))
        .filter(lit(false))
    assigned(all.filter(col("vec_id") >= split), cents)
      .select(col("vec_id"), col("cluster"), col("cos_center"))
      .orderBy(col("vec_id"))
  }

  /** One Lloyd iteration in SQL: assign against `prev`, average per dim,
    * carry empty cells forward. */
  private def iterSql(n: Int, prev: String): String = {
    val dims = (1 to Dim).map(i => s"round(avg(emb[$i]), 6)").mkString(", ")
    s"""a$n AS (
       | SELECT vec_id, emb, c_id AS cell FROM (
       |  SELECT e.vec_id, e.emb, $prev.c_id,
       |   row_number() OVER (PARTITION BY e.vec_id
       |     ORDER BY round(${cosineSql("e.emb", s"$prev.c_emb")}, 6) DESC, $prev.c_id) AS r
       |  FROM e CROSS JOIN $prev) t
       | WHERE r = 1),
       |m$n AS (SELECT cell AS c_id, [$dims] AS c_emb FROM a$n GROUP BY cell),
       |c$n AS (SELECT $prev.c_id AS c_id, COALESCE(m$n.c_emb, $prev.c_emb) AS c_emb
       | FROM $prev LEFT JOIN m$n ON m$n.c_id = $prev.c_id)""".stripMargin
  }

  /** The WITH-body the cluster-blocked oracles share (also
    * `dedup_embedding_cosine` in DedupQueries): every Lloyd iteration plus
    * the final assignment (`asgn`: vec_id, cluster, emb, c_emb). `eWhere`
    * scopes the training corpus (history-only for the incremental path) —
    * kSql counts over `e`, so K follows the scoped corpus automatically. */
  private[graft] def chainSqlFrom(eWhere: String): String = {
    val iters = (1 to Iters).map(n => iterSql(n, s"c${n - 1}")).mkString(",\n")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings $eWhere),
       |c0 AS (SELECT vec_id AS c_id, emb AS c_emb FROM e WHERE vec_id < $kSql),
       |$iters,
       |asgn AS (
       | SELECT vec_id, c_id AS cluster, emb, c_emb FROM (
       |  SELECT e.vec_id, fc.c_id, e.emb, fc.c_emb,
       |   row_number() OVER (PARTITION BY e.vec_id
       |     ORDER BY round(${cosineSql("e.emb", "fc.c_emb")}, 6) DESC, fc.c_id) AS r
       |  FROM e CROSS JOIN c$Iters fc) t
       | WHERE r = 1)""".stripMargin
  }

  private[graft] def chainSql: String = chainSqlFrom("")

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) semantic dedup: the
    * trained clusters are the blocks; within a cluster a vector is dropped
    * when a lower-id vector sits above the cosine threshold. Pairwise work
    * is confined to clusters — K grows with the corpus, so the per-cluster
    * quadratic term stays bounded; this is the published algorithm's shape,
    * not a shortcut. The within-cluster join shuffles on the cluster key
    * once; the keep decision is a left-anti join on vec_id. */
  val SemTau = 0.35

  def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    val asgn = run(s, dir, Iters).select(col("vec_id"), col("cluster"), col("emb"))
    val a = asgn.select(col("vec_id").as("a_id"), col("cluster"), col("emb").as("a_emb"))
    val b = asgn.select(col("vec_id").as("b_id"), col("cluster"), col("emb").as("b_emb"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("a_id") < col("b_id"))
      .filter(round(cosine(col("a_emb"), col("b_emb")), 4) >= SemTau)
      .select(col("b_id").as("vec_id")).distinct()
    asgn.join(dropped.withColumn("d", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("d").isNull.as("kept"))
      .orderBy(col("vec_id"))
  }

  /** #25g `emb_outliers`: distance-to-centroid outlier flagging — the
    * embedding-space data-cleaning pass that precedes SemDeDup in real
    * pipelines (mislabeled/garbage vectors sit far from every cluster
    * center and poison both dedup blocks and ANN training). A vector's
    * score is its round-4 cosine to its own trained centroid (the shared
    * `assigned` definition); the bottom [[OutlierPct]]% by exact global
    * (score, vec_id) rank are flagged. The exact global rank is the
    * oracle-able toy-scale tail; with `spark.graft.scale.approx=true`
    * (graft.ScaleMode) the same entry point swaps it for one mergeable
    * `percentile_approx` threshold + a distributed filter — no
    * single-partition window anywhere in the plan. The two modes disagree
    * only on rows AT the threshold score (the exact rank splits score
    * ties by vec_id; the threshold flags the whole tie group) —
    * spec-pinned in ScaleModeSpec. */
  val OutlierPct = 5L // percent, via rank * (100/pct) <= n

  def outlierFlags(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val asgn = run(s, dir, Iters).select(col("vec_id"), col("cluster"), col("cos_center"))
    if (graft.ScaleMode.approx(s)) {
      val thr = asgn.agg(percentile_approx(col("cos_center"),
        lit(OutlierPct / 100.0), lit(graft.ScaleMode.SketchAccuracy)).as("thr"))
      return asgn.crossJoin(broadcast(thr))
        .select(col("vec_id"), col("cluster"), col("cos_center"),
          (col("cos_center") <= col("thr")).as("is_outlier"))
        .orderBy(col("vec_id"))
    }
    val wRank = Window.orderBy(col("cos_center"), col("vec_id"))
    val wAll = Window.partitionBy()
    asgn
      .withColumn("rk", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wAll))
      .select(col("vec_id"), col("cluster"), col("cos_center"),
        (col("rk") * (100L / OutlierPct) <= col("n")).as("is_outlier"))
      .orderBy(col("vec_id"))
  }

  /** #25h `emb_drift`: embedding-distribution drift between history and
    * the new ingest batch, per cluster of the HISTORY-trained model — the
    * monitor that tells an embedding pipeline when the train-once model
    * (`emb_incremental_assign`'s contract) has gone stale and a deliberate
    * re-train is due (the `ts_anomaly` role, in embedding space). Both
    * splits are assigned with the SAME frozen model (map-side compiled
    * argmax, stable cluster ids), then one K-key aggregate counts each
    * side, and each cluster's new-batch occupancy is scored against its
    * history share: a per-cluster one-df chi-square term
    * (o−e)²/e with e = N_new·n_hist/N_hist. All counts are exact BIGINTs,
    * e and the term are one fixed-form IEEE expression over them
    * (`stats_corr`'s determinism contract), so the oracle replays the
    * history-scoped Lloyd chain + both assignments exactly. New mass in a
    * dead cell (n_hist = 0) is definitionally drift. One embeddings pass;
    * nothing but K rows ever shuffles. */
  val DriftChi2 = 8.0

  def drift(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HashExprs.register(s)
    val all = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val maxId = Option(all.agg(max(col("vec_id"))).head.get(0))
      .map(_.asInstanceOf[Long]).getOrElse(-1L)
    val split = graft.dedup.IncrementalNearDup.splitId(maxId)
    val cents = trainedCentroids(s, dir, Iters,
      all.filter(col("vec_id") < split), subset = s"hist$split")
    if (cents.isEmpty)
      return all.select(col("vec_id").as("cluster"), lit(0L).as("n_hist"),
        lit(0L).as("n_new"), lit(0.0).as("share_hist"), lit(0.0).as("share_new"),
        lit(0.0).as("chi2"), lit(false).as("drifted")).filter(lit(false))
    // persist: the K-row aggregate feeds the totals AND the cross join —
    // untracked, the embeddings scan + assignment would run twice
    val per = graft.CacheRegistry.track(
      CentroidAssign.withBestCell(all, cents)
        .select(col("cell").as("cluster"),
          (col("vec_id") >= split).as("is_new"))
        .groupBy(col("cluster"))
        .agg(sum(when(col("is_new"), 0L).otherwise(1L)).as("n_hist"),
          sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new")))
    val tot = per.agg(sum(col("n_hist")).as("nh"), sum(col("n_new")).as("nn"))
    val e = (col("nn") * col("n_hist")).cast("double") / col("nh")
    // count shares are exact rationals that CAN land on a 5th-decimal
    // half (n/t = 0.01775 hit at sf1), where the engines' round()
    // disagree on the binary double — so round-4 is done in exact
    // integer half-up arithmetic: floor((2n·10⁴ + t)/(2t)), then one
    // exact small-integer division (the emb_mmr integer-score lesson)
    per.crossJoin(broadcast(tot))
      .withColumn("share_hist",
        expr("((2 * n_hist * 10000 + nh) div (2 * nh)) / 10000.0D"))
      .withColumn("share_new",
        when(col("nn") > 0,
          expr("((2 * n_new * 10000 + nn) div (2 * nn)) / 10000.0D"))
          .otherwise(lit(0.0)))
      .withColumn("chi2",
        when(col("n_hist") > 0 && col("nn") > 0,
          round((col("n_new") - e) * (col("n_new") - e) / e, 4)))
      .withColumn("drifted",
        (col("n_hist") === 0 && col("n_new") > 0) ||
          coalesce(col("chi2") >= DriftChi2, lit(false)))
      .select("cluster", "n_hist", "n_new", "share_hist", "share_new", "chi2", "drifted")
      .orderBy(col("cluster"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_kmeans" -> (embKmeans _),
    "emb_outliers" -> (outlierFlags _),
    "emb_drift" -> (drift _),
    "dedup_semantic" -> (semanticDedup _),
    "emb_incremental_assign" -> (incrementalAssign _))

  private val splitSql = "(SELECT ((max(vec_id) + 1) * 4) // 5 FROM embeddings)"

  val oracles: Map[String, String] = Map(
    "emb_outliers" ->
      s"""WITH $chainSql,
         |r AS (SELECT vec_id, cluster,
         |  round(${cosineSql("emb", "c_emb")}, 4) AS cos_center FROM asgn),
         |k AS (SELECT *, row_number() OVER (ORDER BY cos_center, vec_id) AS rk,
         |  count(*) OVER () AS n FROM r)
         |SELECT vec_id, cluster, cos_center,
         | (rk * ${100L / OutlierPct} <= n) AS is_outlier
         |FROM k ORDER BY vec_id""".stripMargin,
    "emb_kmeans" ->
      s"""WITH $chainSql
         |SELECT vec_id, cluster,
         | round(${cosineSql("emb", "c_emb")}, 4) AS cos_center
         |FROM asgn ORDER BY vec_id""".stripMargin,
    "emb_drift" ->
      s"""WITH ${chainSqlFrom(s"WHERE vec_id < $splitSql")},
         |eall AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |aall AS (
         | SELECT vec_id, c_id AS cluster FROM (
         |  SELECT eall.vec_id, fc.c_id,
         |   row_number() OVER (PARTITION BY eall.vec_id
         |     ORDER BY round(${cosineSql("eall.emb", "fc.c_emb")}, 6) DESC, fc.c_id) AS r
         |  FROM eall CROSS JOIN c$Iters fc) t
         | WHERE r = 1),
         |per AS (SELECT cluster,
         |  sum(CASE WHEN vec_id < $splitSql THEN 1 ELSE 0 END)::BIGINT AS n_hist,
         |  sum(CASE WHEN vec_id >= $splitSql THEN 1 ELSE 0 END)::BIGINT AS n_new
         | FROM aall GROUP BY cluster),
         |tt AS (SELECT sum(n_hist)::BIGINT AS nh, sum(n_new)::BIGINT AS nn FROM per),
         |sc AS (SELECT cluster, n_hist, n_new,
         |  ((2 * n_hist * 10000 + nh) // (2 * nh)) / 10000.0 AS share_hist,
         |  CASE WHEN nn > 0 THEN ((2 * n_new * 10000 + nn) // (2 * nn)) / 10000.0
         |   ELSE 0.0 END AS share_new,
         |  CASE WHEN n_hist > 0 AND nn > 0
         |   THEN round((n_new - (nn * n_hist)::DOUBLE / nh)
         |     * (n_new - (nn * n_hist)::DOUBLE / nh)
         |     / ((nn * n_hist)::DOUBLE / nh), 4) END AS chi2
         | FROM per, tt)
         |SELECT cluster, n_hist, n_new, share_hist, share_new, chi2,
         | ((n_hist = 0 AND n_new > 0) OR coalesce(chi2 >= $DriftChi2, false)) AS drifted
         |FROM sc ORDER BY cluster""".stripMargin,
    "emb_incremental_assign" ->
      s"""WITH ${chainSqlFrom(s"WHERE vec_id < $splitSql")},
         |b AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
         | WHERE vec_id >= $splitSql),
         |basgn AS (
         | SELECT vec_id, c_id AS cluster, emb, c_emb FROM (
         |  SELECT b.vec_id, fc.c_id, b.emb, fc.c_emb,
         |   row_number() OVER (PARTITION BY b.vec_id
         |     ORDER BY round(${cosineSql("b.emb", "fc.c_emb")}, 6) DESC, fc.c_id) AS r
         |  FROM b CROSS JOIN c$Iters fc) t
         | WHERE r = 1)
         |SELECT vec_id, cluster, round(${cosineSql("emb", "c_emb")}, 4) AS cos_center
         |FROM basgn ORDER BY vec_id""".stripMargin,
    "dedup_semantic" ->
      s"""WITH $chainSql,
         |dropped AS (
         | SELECT DISTINCT b.vec_id FROM asgn a JOIN asgn b
         |  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  AND round(${cosineSql("a.emb", "b.emb")}, 4) >= $SemTau)
         |SELECT asgn.vec_id, asgn.cluster,
         | (dropped.vec_id IS NULL) AS kept
         |FROM asgn LEFT JOIN dropped ON asgn.vec_id = dropped.vec_id
         |ORDER BY asgn.vec_id""".stripMargin)
}
