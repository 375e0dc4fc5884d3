package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{CacheRegistry, Tables}

/** #28w `text_quality_classifier` — the TRAINED discriminative quality gate
  * (CCNet, Wenzek et al. 2020 §3; GPT-3, Brown et al. 2020 appendix A):
  * hashed n-gram features + logistic regression, positives = the corpus
  * slice the heuristic gates already trust, negatives = the rest of the
  * pool. The industry-standard step between the heuristic filters
  * (`text_gopher_filter`, `text_quality`) and distributionally-targeted
  * sampling (DSIR — `sample_importance`): heuristics encode what a human
  * wrote down, the classifier generalizes it (a doc that passes no single
  * hand rule but "reads like" the trusted slice scores high, and vice
  * versa).
  *
  * Reference tie-in: the reference normalizes and gates records with
  * hand-coded CASE rules (`main.py:185-298`); this is that gate's learned
  * form over documents.
  *
  * Drift-proof composition (the `etl_run_report`/`stats_sketch_eval`
  * discipline): the training LABEL re-runs `text_gopher_filter`'s
  * registered query (keep ∧ lang='en'), and the oracle embeds gopher's
  * registered oracle — the classifier's target cannot drift from the
  * audited heuristic it distills.
  *
  * Determinism (the `emb_kmeans`/`graph_pagerank` fixed-iteration
  * discipline, fully integerized so the WHOLE training chain is
  * hash-checked in DuckDB):
  *  - features: hashed-BIGRAM signed sums (`text_hash_embed`'s 40-bit
  *    md5-prefix hash, [[Dims]] buckets, ±1 second-hash sign —
  *    `HashEmbed.scala` convention), L2-normalized then INTEGERIZED as
  *    x4i = round(w_raw·10⁴/√Σw², 0) BIGINT ∈ [−10⁴, 10⁴];
  *  - weights: BIGINT in 10⁻⁹ units (w9i), zero-initialized;
  *  - margin: Σ w9i·x4i + w9i_bias·10⁴ — an EXACT BIGINT sum
  *    (≤ 64·10¹³ ≪ 2⁶³), order-independent under any partitioning; the
  *    only floats are one fixed-form sigmoid per (doc, iter) — p6 =
  *    round(σ(margin/10¹³)·10⁶) BIGINT — and one division per weight
  *    update;
  *  - gradient: G_j = Σ_docs (p6 − 10⁶·y)·x4i — exact BIGINT again;
  *  - update ([[Lr]] = 4, [[Iters]] full-batch GD steps): w9i −=
  *    round(G_j·4/(10·n)) — HALF_UP on both sides (driver BigDecimal =
  *    DuckDB round); ×4 is a power of two, so the product stays exact.
  *  - verdict: pred = margin ≥ 0 — an exact integer compare (σ ≥ ½ ⟺
  *    margin ≥ 0), so the decision boundary cannot float-drift.
  *
  * Scale: training is 2 aggregates per iteration — a per-doc sparse
  * dot-product (map-side combinable on doc_id) and a ≤[[BiasDim]]+1-row
  * gradient aggregate collected to the driver (the `emb_kmeans` bounded
  * model artifact pattern); at 100 TB a team trains on a fixed sample of
  * the pool (the classifier needs ~10⁶ docs, not the corpus) and the
  * SCORING pass — one broadcast of 67 longs, one map-side margin per doc —
  * is embarrassingly parallel with zero shuffles beyond the feature
  * aggregate. The trained model memoizes per corpus fingerprint (the
  * `Kmeans.trainedCentroids` install-then-train pattern: entries build
  * outside the map's bin locks). */
object QualityClassifier extends graft.QueryModule {

  /** Hashed-bigram feature buckets (dense aux features live above). */
  val Dims = 64
  /** Aux feature ids: scaled log-length and uniq-ratio (CCNet-style doc
    * stats beside the hashed n-grams — composed from
    * `text_gopher_filter`'s registered outputs), then the bias. */
  val LenDim = 64
  val UniqDim = 65
  val BiasDim = 66
  /** Full-batch gradient-descent steps (fixed — the oracle unrolls them). */
  val Iters = 12
  /** Learning rate (4.0 is inside GD's stability bound for ||x|| <= 2
    * features and reaches planted-corpus separation within [[Iters]]). */
  val Lr = 4

  // ---- shared integer scales (names mirror the oracle) -------------------
  private val FScale = 10000L // x4i units: 1e-4
  private val PScale = 1000000L // p6 units: 1e-6
  private val MScale = 1.0e13 // margin units: w9i(1e-9) × x4i(1e-4)

  def clearCache(): Unit = graft.StagedArtifacts.clear("model/qualityClf/")

  /** Sparse integerized features: (doc_id, dim, x4i) — hashed bigrams on
    * dims 0..63 plus the two dense aux stats. */
  private def features(s: SparkSession, dir: String): DataFrame = {
    val ws = filter(split(lower(col("text")), "\\s+"), t => t =!= "")
    // sequence(1, 0) would DESCEND in Spark — guard short docs explicitly
    val bigrams = when(size(ws) >= 2,
      transform(sequence(lit(1), size(ws) - 1),
        i => concat(element_at(ws, i), lit(" "), element_at(ws, i + 1))))
      .otherwise(array().cast("array<string>"))
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(bigrams).as("t"))
    val hSql = "cast(conv(substring(md5(t), 1, 10), 16, 10) as bigint)"
    val wRaw = tok
      .select(col("doc_id"), expr(s"$hSql % $Dims").as("dim"),
        expr(s"(($hSql div $Dims) % 2) * 2 - 1").as("sign"))
      .groupBy(col("doc_id"), col("dim"))
      .agg(sum(col("sign")).as("w_raw"))
      .filter(col("w_raw") =!= 0)
    val byDoc = Window.partitionBy(col("doc_id"))
    val bigramFeat = wRaw
      .withColumn("ss", sum(col("w_raw") * col("w_raw")).over(byDoc))
      .select(col("doc_id"), col("dim"),
        round(col("w_raw").cast("double") * lit(FScale.toDouble) /
          sqrt(col("ss").cast("double")), 0).cast("long").as("x4i"))
    // dense doc-stat features, BY COMPOSITION from the registered gopher
    // query (n_words, round-4 uniq_ratio): length signal the L2-normalized
    // bigram profile erases, uniqueness the quality gates key on
    val g = TextQueries.queries("text_gopher_filter")(s, dir)
      .select(col("doc_id"), col("n_words"), col("uniq_ratio"))
    val auxFeat = g.select(col("doc_id"),
        least(round(log(col("n_words").cast("double") + lit(1.0)) * lit(1000.0), 0)
          .cast("long"), lit(FScale)).as("len_x"),
        round(col("uniq_ratio") * lit(FScale.toDouble), 0).cast("long").as("uniq_x"))
      .select(col("doc_id"), explode(map(
        lit(LenDim.toLong), col("len_x"),
        lit(UniqDim.toLong), col("uniq_x"))).as(Seq("dim", "x4i")))
    bigramFeat.unionAll(auxFeat)
  }

  /** Training labels by composition: y = 1 iff `text_gopher_filter` keeps
    * the doc AND lang = 'en' (the trusted slice), else 0. */
  private def labels(s: SparkSession, dir: String): DataFrame = {
    val keep = TextQueries.queries("text_gopher_filter")(s, dir)
      .select(col("doc_id"), col("keep"))
    Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      .join(keep, Seq("doc_id"))
      .select(col("doc_id"),
        when(col("keep") && col("lang") === "en", 1L).otherwise(0L).as("y"))
  }

  private def sigmoid(marginInt: Column): Column =
    lit(1.0) / (lit(1.0) + exp(-(marginInt.cast("double") / lit(MScale))))

  /** Per-doc exact-integer margin under driver-held weights. */
  private def margins(feat: DataFrame, lab: DataFrame,
      w: Array[Long]): DataFrame = {
    val wArr = array((0 until BiasDim).map(j => lit(w(j))): _*)
    val mf = feat.groupBy(col("doc_id"))
      .agg(sum(element_at(wArr, col("dim").cast("int") + 1) * col("x4i")).as("mf"))
    lab.join(mf, Seq("doc_id"), "left")
      .select(col("doc_id"), col("y"),
        (coalesce(col("mf"), lit(0L)) + lit(w(BiasDim) * FScale)).as("mi"))
  }

  /** [[Iters]] full-batch GD steps; returns the 65 integerized weights. */
  private def train(feat: DataFrame, lab: DataFrame, n: Long): Array[Long] = {
    def r0(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val w = Array.fill(BiasDim + 1)(0L)
    for (_ <- 1 to Iters) {
      val p = margins(feat, lab, w)
        .select(col("doc_id"), col("y"),
          round(sigmoid(col("mi")) * lit(PScale.toDouble), 0).cast("long").as("p6"))
      val resid = (col("p6") - col("y") * lit(PScale))
      // ≤ Dims+1 rows — the bounded model-artifact collect (kmeans pattern)
      val g = feat.join(p, Seq("doc_id")).groupBy(col("dim"))
        .agg(sum(resid * col("x4i")).as("g"))
        .unionAll(p.agg(sum(resid * lit(FScale)).as("g"))
          .select(lit(BiasDim.toLong).as("dim"), col("g")))
        .collect()
      g.foreach { r =>
        if (!r.isNullAt(1))
          w(r.getLong(0).toInt) -=
            r0(r.getLong(1) * Lr.toDouble / (10.0 * math.max(n, 1L)))
      }
    }
    w
  }

  private def trainedWeights(s: SparkSession, dir: String, feat: DataFrame,
      lab: DataFrame, n: Long): Array[Long] = {
    val fp = s"$n#${graft.sources.TableFingerprint.of(s, s"$dir/documents.parquet")}"
    graft.StagedArtifacts.memo[Array[Long]](s, s"model/qualityClf/$dir", fp, _ => ())(
      train(feat, lab, n))
  }

  /** The trained model for `dir` (memoized; empty array on empty corpus) —
    * the seam the streaming scorer ([[graft.streaming.StreamQualityScore]])
    * loads its broadcast weights through. */
  private[graft] def modelFor(s: SparkSession, dir: String): Array[Long] = {
    val feat = CacheRegistry.track(features(s, dir))
    val lab = CacheRegistry.track(labels(s, dir))
    val n = lab.count()
    if (n == 0) Array.empty else trainedWeights(s, dir, feat, lab, n)
  }

  /** SINGLE-PASS map-side margin of one document text under weights `w` —
    * the compiled [[graft.functions.QualityMargin]] expression computing
    * the whole feature+margin chain (bigram signed sums, per-row L2
    * integerization, aux stats, bias) in one JVM call per row, numerically
    * IDENTICAL to [[margins]]'s distributed explode→groupBy→window chain
    * (StreamQualityScoreSpec pins equality doc-by-doc). This is what makes
    * scoring STREAM-COMPATIBLE: no shuffle, no window, no state — one
    * codegen'd expression per record. (A nested-lambda formulation of the
    * same math hits the §6 interpreted-HOF re-evaluation trap: the token
    * array is recomputed per bucket — O(Dims·words²) regex work per doc.) */
  private[graft] def mapSideMargin(w: Array[Long], text: Column): Column =
    graft.functions.HashExprs.qualityMargin(text, w)

  /** Score round-6 + verdict from an exact-integer margin column. */
  private[graft] def readout(mi: Column): Seq[Column] = Seq(
    mi.as("margin_i"), round(sigmoid(mi), 6).as("score"), (mi >= 0L).as("pred"))

  def qualityClassifier(s: SparkSession, dir: String): DataFrame = {
    val feat = CacheRegistry.track(features(s, dir))
    val lab = CacheRegistry.track(labels(s, dir))
    val n = lab.count()
    if (n == 0)
      // empty corpus: no model to train — schema-complete empty result
      return lab.select(col("doc_id"), col("y").as("label"),
        lit(0L).as("margin_i"), lit(0.0).as("score"), lit(false).as("pred"))
    val w = trainedWeights(s, dir, feat, lab, n)
    margins(feat, lab, w)
      .select(col("doc_id"), col("y").as("label"), col("mi").as("margin_i"),
        round(sigmoid(col("mi")), 6).as("score"),
        (col("mi") >= 0L).as("pred"))
      .orderBy(col("doc_id"))
  }

  /** #28y `text_classifier_eval` — the eval-family audit for the trained
    * gate (the `ann_recall_eval`/`stats_sketch_eval` discipline applied to
    * the classifier): confusion counts and guarded metrics of the model's
    * verdicts against its own training labels, as ONE standing
    * oracle-checked row. Drift-proof composition: re-runs the registered
    * classifier query (training included); the oracle embeds the
    * registered classifier oracle. Train-set metrics are the honest claim
    * here (the gate's labels ARE the distilled heuristic — what a team
    * checks is how faithfully the learned surface reproduces it); guards:
    * precision NULL when nothing is predicted positive, recall NULL when
    * no positives exist — identical CASE on both engines. */
  def classifierEval(s: SparkSession, dir: String): DataFrame = {
    val scored = qualityClassifier(s, dir)
    val tp = sum(when(col("label") === 1L && col("pred"), 1L).otherwise(0L))
    val fp = sum(when(col("label") === 0L && col("pred"), 1L).otherwise(0L))
    val fn = sum(when(col("label") === 1L && !col("pred"), 1L).otherwise(0L))
    val tn = sum(when(col("label") === 0L && !col("pred"), 1L).otherwise(0L))
    scored.agg(count(lit(1)).as("n_docs"), tp.as("tp"), fp.as("fp"),
        fn.as("fn"), tn.as("tn"))
      .select(col("n_docs"), col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("n_docs") > 0L,
          round((col("tp") + col("tn")).cast("double") / col("n_docs"), 4))
          .as("accuracy"),
        when(col("tp") + col("fp") > 0L,
          round(col("tp").cast("double") / (col("tp") + col("fp")), 4))
          .as("precision"),
        when(col("tp") + col("fn") > 0L,
          round(col("tp").cast("double") / (col("tp") + col("fn")), 4))
          .as("recall"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_quality_classifier" -> (qualityClassifier _),
    "text_classifier_eval" -> (classifierEval _))

  // ---- DuckDB replay of the full training chain --------------------------

  private def iterSql(t: Int): String = {
    val prev = s"w${t - 1}"
    s"""m$t AS (SELECT l.doc_id, l.y, COALESCE(f.mf, 0) + wb.w * $FScale AS mi
       | FROM lab l
       | LEFT JOIN (SELECT f.doc_id, sum(w.w * f.x4i)::BIGINT AS mf
       |   FROM feat f JOIN $prev w ON w.dim = f.dim GROUP BY 1) f USING (doc_id)
       | CROSS JOIN (SELECT w FROM $prev WHERE dim = $BiasDim) wb),
       |p$t AS MATERIALIZED (SELECT doc_id, y,
       |  round(1.0 / (1.0 + exp(-(mi::DOUBLE / $MScale))) * $PScale.0)::BIGINT AS p6
       | FROM m$t),
       |g$t AS (SELECT f.dim, sum((p.p6 - p.y * $PScale) * f.x4i)::BIGINT AS g
       |  FROM feat f JOIN p$t p USING (doc_id) GROUP BY 1
       |  UNION ALL
       |  SELECT $BiasDim::BIGINT, sum((p6 - y * $PScale) * $FScale)::BIGINT FROM p$t),
       |w$t AS MATERIALIZED (SELECT w.dim,
       |  (w.w - CAST(round(COALESCE(g.g, 0) * $Lr.0 / (10.0 * greatest(nn.n, 1))) AS BIGINT))::BIGINT AS w
       | FROM $prev w LEFT JOIN g$t g USING (dim) CROSS JOIN nn)""".stripMargin
  }

  private val fin = Iters + 1

  /** The registered classifier oracle, extracted so `text_classifier_eval`
    * embeds it VERBATIM (the drift-proof discipline). */
  private[graft] def classifierOracle: String =
      s"""WITH lab AS MATERIALIZED (
         | SELECT g.doc_id,
         |  (CASE WHEN g.keep AND d.lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS y
         | FROM (${TextQueries.oracles("text_gopher_filter")}) g
         | JOIN documents d USING (doc_id)),
         |tok AS (SELECT doc_id,
         |  list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '') AS ws
         | FROM documents),
         |bg AS (SELECT doc_id,
         |  unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])) AS t
         | FROM tok),
         |wr AS (SELECT doc_id,
         |  ('0x' || substr(md5(t), 1, 10))::BIGINT % $Dims AS dim,
         |  sum((('0x' || substr(md5(t), 1, 10))::BIGINT // $Dims) % 2 * 2 - 1)::BIGINT AS w_raw
         | FROM bg GROUP BY 1, 2),
         |gf AS (SELECT doc_id, n_words, uniq_ratio
         | FROM (${TextQueries.oracles("text_gopher_filter")}) t),
         |feat AS MATERIALIZED (
         | SELECT doc_id, dim,
         |  round(w_raw::DOUBLE * $FScale.0 / sqrt(ss::DOUBLE), 0)::BIGINT AS x4i
         | FROM (SELECT *, sum(w_raw * w_raw) OVER (PARTITION BY doc_id) AS ss
         |       FROM wr WHERE w_raw != 0) f
         | UNION ALL
         | SELECT doc_id, $LenDim::BIGINT,
         |  least(round(ln(n_words::DOUBLE + 1.0) * 1000.0, 0)::BIGINT, $FScale) FROM gf
         | UNION ALL
         | SELECT doc_id, $UniqDim::BIGINT,
         |  round(uniq_ratio * $FScale.0, 0)::BIGINT FROM gf),
         |nn AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM lab),
         |w0 AS (SELECT unnest(range(0, ${BiasDim + 1}))::BIGINT AS dim, 0::BIGINT AS w),
         |${(1 to Iters).map(iterSql).mkString(",\n")},
         |m$fin AS (SELECT l.doc_id, l.y, COALESCE(f.mf, 0) + wb.w * $FScale AS mi
         | FROM lab l
         | LEFT JOIN (SELECT f.doc_id, sum(w.w * f.x4i)::BIGINT AS mf
         |   FROM feat f JOIN w$Iters w ON w.dim = f.dim GROUP BY 1) f USING (doc_id)
         | CROSS JOIN (SELECT w FROM w$Iters WHERE dim = $BiasDim) wb)
         |SELECT doc_id, y AS label, mi AS margin_i,
         | round(1.0 / (1.0 + exp(-(mi::DOUBLE / $MScale))), 6) AS score,
         | mi >= 0 AS pred
         |FROM m$fin
         |ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_quality_classifier" -> classifierOracle,
    "text_classifier_eval" ->
      s"""WITH sc AS (SELECT * FROM ($classifierOracle) t),
         |c AS (SELECT count(*)::BIGINT AS n_docs,
         |  sum(CASE WHEN label = 1 AND pred THEN 1 ELSE 0 END)::BIGINT AS tp,
         |  sum(CASE WHEN label = 0 AND pred THEN 1 ELSE 0 END)::BIGINT AS fp,
         |  sum(CASE WHEN label = 1 AND NOT pred THEN 1 ELSE 0 END)::BIGINT AS fn,
         |  sum(CASE WHEN label = 0 AND NOT pred THEN 1 ELSE 0 END)::BIGINT AS tn
         | FROM sc)
         |SELECT n_docs, tp, fp, fn, tn,
         | CASE WHEN n_docs > 0
         |   THEN round((tp + tn)::DOUBLE / n_docs, 4) END AS accuracy,
         | CASE WHEN tp + fp > 0
         |   THEN round(tp::DOUBLE / (tp + fp), 4) END AS precision,
         | CASE WHEN tp + fn > 0
         |   THEN round(tp::DOUBLE / (tp + fn), 4) END AS recall
         |FROM c""".stripMargin)
}
