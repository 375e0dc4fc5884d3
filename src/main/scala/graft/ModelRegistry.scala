package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** #40 `model_registry` — the deploy-side inventory of every TRAINED
  * artifact the engine ships: the table a team audits before promoting a
  * model or re-pointing a nightly pipeline at a new corpus. One row per
  * artifact with its kind, content fingerprint, size, and storage tier:
  *
  *  - `classifier/quality_weights` — the trained quality gate
  *    (`text_quality_classifier`'s 12-step GD weights, the array the
  *    streaming scorer broadcasts).
  *  - `embedding/kmeans_centroids` / `embedding/pca_model` — the K×Dim
  *    Lloyd centroids and the mean + top-eigenpair PCA model.
  *  - `tokenizer/bpe_vocab` / `tokenizer/unigram_vocab` — the two trained
  *    tokenizer tables (fingerprinted over their full published output).
  *  - `dedup/sketch`, `dedup/pairCounts`, `dedup/invIndex`,
  *    `dedupClusters/verifiedPairs` — the 4-rung staged dedup ladder;
  *    their fingerprint is md5 of the staging content fingerprint, i.e.
  *    EXACTLY the `fp=<hash>` directory name disk-mode staging writes, so
  *    a registry row can be matched against the staging dir ls-listing.
  *  - `graph/vertices`, `graph/citation`, `graph/simpleEdges`,
  *    `graph/adjacency`, `graph/directedSimple` — the 5-rung staged graph
  *    ladder the 16 link-graph operators share (same fingerprint scheme).
  *  - `text/lmBigrams`, `text/lmScored` — the staged LM ladder shared by
  *    the four bigram-LM consumers (same fingerprint scheme).
  *  - `text/winnowFp` — the staged winnowing fingerprint index shared by
  *    `text_winnow` and `dedup_winnow_pairs` (same fingerprint scheme).
  *  - `sim/knnGraph`, `sim/bandIndex` — the NN-descent neighbor graph and
  *    the hyperplane banded-signature table (five LSH consumers), keyed
  *    on the embeddings fingerprint.
  *
  * The registry BUILDS what it reports (each artifact resolves through
  * its session memo / staging rung — already-built artifacts are free, a
  * cold session pays the build once, the `etl_run_report` composition
  * contract), so the output is deterministic for a corpus regardless of
  * which queries ran earlier in the session. `storage` says where each
  * artifact lives right now: driver-memoized models are `memory`; staged
  * rungs are `disk` when `spark.graft.stageDir`/`SPARK_GRAFT_STAGE_DIR`
  * is active, else `memory`.
  *
  * Driver check is rows-only (documented in §2): the rows are fingerprints
  * of EM/GD/Lloyd-trained artifacts — the same data-dependent training
  * chains that make their parent operators rows-only — so no static SQL
  * can state them. Trust instead: `ModelRegistrySpec` recomputes every
  * fingerprint independently through the public seams and proves
  * memory-mode ≡ disk-mode row-for-row (storage column aside), and
  * `RowsOnlyCanarySpec` pins the complete frozen-fixture output.
  *
  * Scale: model artifacts are driver-sized by contract (weights ≤ 67
  * longs, centroids K×64, vocab ≤ a few hundred rows — the bounded
  * model-artifact collect precedent); rung row counts are distributed
  * counts of already-checkpointed frames. Nothing corpus-sized ever
  * reaches the driver. */
object ModelRegistry extends QueryModule {

  private def md5hex(x: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Canonical fingerprint of a driver-side double matrix: 9-sig-digit
    * scientific rendering, row-major, one string. */
  private def matFp(m: Seq[Array[Double]]): String =
    md5hex(m.map(_.map(d => f"$d%.9e").mkString(",")).mkString(";"))

  /** Canonical fingerprint of a bounded model-table: every row rendered
    * (nulls as "∅"), sorted, one md5. The collect is bounded by the
    * model-size contract of the callers. */
  private def frameFp(df: DataFrame): (String, Long) = {
    val rendered = df.collect()
      .map(_.toSeq.map(v => if (v == null) "∅" else v.toString).mkString("|"))
      .sorted
    (md5hex(rendered.mkString("\n")), rendered.length.toLong)
  }

  def modelRegistry(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    functions.HashExprs.register(s) // the trainers' compiled expressions
    val rungStorage = if (StagedArtifacts.diskMode(s)) "disk" else "memory"
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, String, String, Long, String)]

    val w = text.QualityClassifier.modelFor(s, dir)
    if (w.nonEmpty)
      rows += (("classifier/quality_weights", "logreg_weights",
        md5hex(w.mkString("|")), w.length.toLong, "memory"))

    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val cents = sim.Kmeans.trainedCentroids(s, dir, sim.Kmeans.Iters, emb)
    if (cents.nonEmpty)
      rows += (("embedding/kmeans_centroids", "kmeans_model",
        matFp(cents.toSeq), cents.length.toLong, "memory"))

    sim.Pca.trainedModel(s, dir).foreach { case (_, mean, vals, vecs) =>
      rows += (("embedding/pca_model", "pca_eigenpairs",
        matFp(Seq(mean, vals) ++ vecs.toSeq), vals.length.toLong, "memory"))
    }

    val (bFp, bN) = frameFp(text.BpeTrain.bpeVocab(s, dir))
    if (bN > 0) rows += (("tokenizer/bpe_vocab", "bpe_merges", bFp, bN, "memory"))
    val (uFp, uN) = frameFp(text.UnigramTrain.unigramVocab(s, dir))
    if (uN > 0) rows += (("tokenizer/unigram_vocab", "unigram_lm", uFp, uN, "memory"))

    // staged dedup ladder: fingerprint = md5(content fp) = the disk-mode
    // `fp=<hash>` directory name; size = distributed count of the rung
    val rungFp = md5hex(dedup.DedupQueries.docFp(s, dir))
    def rung(name: String, df: DataFrame): Unit =
      rows += ((name, "staged_rung", rungFp, df.count(), rungStorage))
    rung("dedup/sketch", dedup.DedupQueries.stagedSketch(s, dir))
    rung("dedup/pairCounts", dedup.DedupQueries.bandedPairCounts(s, dir))
    rung("dedup/invIndex", dedup.DedupQueries.stagedInvIndex(s, dir))
    rung("dedupClusters/verifiedPairs", dedup.DedupClusters.verifiedPairs(s, dir))

    // staged graph ladder (r13 verdict task #1): the shared citation graph
    // the 16-operator family consumes — one distinct edge shuffle per
    // (corpus, fingerprint) per session
    rung("graph/vertices", graph.GraphArtifacts.stagedVertices(s, dir))
    rung("graph/citation", graph.GraphArtifacts.stagedCitation(s, dir))
    rung("graph/simpleEdges", graph.GraphArtifacts.stagedSimpleEdges(s, dir))
    rung("graph/adjacency", graph.GraphArtifacts.stagedAdjacency(s, dir))
    rung("graph/directedSimple", graph.GraphArtifacts.stagedDirectedSimple(s, dir))

    // staged LM ladder (r13 verdict task #8): the bigram stream + per-doc
    // add-one scores shared by text_lm_score / text_lm_eval /
    // text_perplexity_buckets / sample_curriculum
    rung("text/lmBigrams", text.LmScore.stagedBigrams(s, dir))
    rung("text/lmScored", text.LmScore.stagedScored(s, dir))

    // staged winnowing index (r15 rung, registered r16 — the deferred
    // inventory item, canary re-pinned in lockstep): the per-doc selected
    // fingerprints shared by text_winnow / dedup_winnow_pairs
    rung("text/winnowFp", text.TextQueries.winnowFingerprints(s, dir))

    // staged knn graph (r14) + banded signature index (r15): keyed on the
    // EMBEDDINGS fingerprint — the rungs whose corpus is the vector table
    val embFp = md5hex(sources.TableFingerprint.of(s, s"$dir/embeddings.parquet"))
    rows += (("sim/knnGraph", "staged_rung", embFp,
      sim.AnnKnnGraph.queries("ann_knn_graph")(s, dir).count(), rungStorage))
    rows += (("sim/bandIndex", "staged_rung", embFp,
      sim.SimArtifacts.stagedBandIndex(s, dir).count(), rungStorage))

    rows.toSeq.toDF("artifact", "kind", "fingerprint", "n_items", "storage")
      .orderBy(col("artifact"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "model_registry" -> (modelRegistry _))

  val oracles: Map[String, String] = Map.empty
}
