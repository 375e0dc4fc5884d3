package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal binary-column plumbing (SURVEY.md §2 #30).
  *
  * Media payloads are opaque `binary` columns with typed metadata. Here the
  * "payload" is the UTF-8 encoding of the document text (the container has
  * no media libs), and the decode step is a deterministic stub — but the
  * Spark-side plumbing (binary column, byte length, digest, derived
  * dimensions, batched partition-wise processing in BinaryPipeline) is real.
  */
object MultimodalQueries extends graft.QueryModule {

  /** #30 Binary metadata projection: encode→bytes→digest→stub-decoded dims. */
  def binaryMeta(s: SparkSession, dir: String): DataFrame = {
    val bin = encode(col("text"), "UTF-8")
    Tables.documents(s, dir)
      .select(col("doc_id"),
        octet_length(bin).cast("long").as("byte_len"),
        md5(col("text")).as("digest"),
        col("source"))
      // stubbed deterministic "decode": dimensions derived from payload size
      // and id — stands in for image decode (width/height/frames).
      .withColumn("width", lit(32L) + col("byte_len") % 64)
      .withColumn("height", lit(32L) + col("doc_id") % 48)
      .withColumn("n_frames", lit(1L) + col("doc_id") % 3)
      .withColumn("media_type",
        when(col("doc_id") % 3 === 0, lit("image"))
          .when(col("doc_id") % 3 === 1, lit("audio"))
          .otherwise(lit("video")))
      .orderBy(col("doc_id"))
  }

  /** #30b Frame sampling: one row per sampled frame of each "video" payload.
    * The payload is chunked into `n_frames` equal character ranges and every
    * `Stride`-th frame is materialized with its range and content digest —
    * the exact row shape a real ffmpeg-backed `mapPartitions` decode would
    * emit (BinaryPipeline holds the batched plumbing). Explode is the only
    * row-multiplier; everything else is map-side arithmetic, so the plan is
    * scan → project → generate with no shuffle. */
  val Stride = 4L

  /** Sampled frames WITHOUT the presentation sort — the shared producer:
    * frameSample adds the global orderBy for its own output contract;
    * frameOverlap consumes the unsorted rows (its distinct/join would
    * destroy the sort anyway, so paying the range-partition Exchange there
    * would be pure waste). */
  private[multimodal] def sampledFrames(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .filter(col("doc_id") % 3 === 2)
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("chars"),
        (lit(8L) + col("doc_id") % 25).as("n_frames"))
    base
      .select(col("doc_id"), col("text"), col("chars"), col("n_frames"),
        explode(sequence(lit(0L), col("n_frames") - 1, lit(Stride))).as("frame_idx"))
      .withColumn("start_pos", expr("1 + (frame_idx * chars) div n_frames"))
      .withColumn("end_pos", expr("((frame_idx + 1) * chars) div n_frames"))
      .withColumn("frame_text",
        expr("substring(text, int(start_pos), int(greatest(0, end_pos - start_pos + 1)))"))
      .withColumn("frame_digest", md5(col("frame_text")))
      .select(col("doc_id"), col("frame_idx"), col("n_frames"),
        col("start_pos"), col("end_pos"), col("frame_digest"), col("frame_text"))
  }

  def frameSample(s: SparkSession, dir: String): DataFrame =
    sampledFrames(s, dir).drop("frame_text").orderBy(col("doc_id"), col("frame_idx"))

  /** #30d Frame-overlap video near-dup: pairs of "videos" sharing at least
    * `MinSharedFrames` sampled-frame content digests (a shared frame is
    * tens of identical content bytes — already strong evidence; the
    * emitted count lets consumers apply a stricter cut) — the frame-level
    * complement to `mm_phash_neardup`'s whole-payload fingerprint (same
    * footage re-cut or re-containered shares frames even when the payload
    * bytes diverge). Per-doc digests are DISTINCT first (a video repeating
    * a frame internally must not inflate the pair count), then the
    * self-join keys on the digest — uniform md5 keys, only genuinely
    * matching frames ever join, no all-pairs scan. With a real decoder the
    * digest becomes a per-frame perceptual hash; the join shape is
    * unchanged. */
  val MinSharedFrames = 1L

  def frameOverlap(s: SparkSession, dir: String): DataFrame = {
    val frames = sampledFrames(s, dir).select(col("doc_id"), col("frame_digest")).distinct()
    val a = frames.select(col("doc_id").as("a_id"), col("frame_digest"))
    val b = frames.select(col("doc_id").as("b_id"), col("frame_digest"))
    a.join(b, "frame_digest")
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("shared_frames"))
      .filter(col("shared_frames") >= MinSharedFrames)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** #30e Media curation gate — the LAION-style keep/drop verdict over the
    * decoded metadata (the `text_gopher_filter` pattern for media): size
    * floors, aspect-ratio bounds, payload floor, and exact-duplicate
    * payloads (digest groupBy, min-id keeper survives — every later copy
    * is a drop reason). Each failed rule lands in an auditable reasons
    * list. Scale: metadata rules are pure map-side projections; the dup
    * check is one map-side-combinable digest aggregate joined back on
    * uniform md5 keys — the only exchange. */
  def qualityGate(s: SparkSession, dir: String): DataFrame = {
    val meta = graft.CacheRegistry.track(
      binaryMeta(s, dir).select(col("doc_id"), col("media_type"),
        col("byte_len"), col("width"), col("height"), col("digest")))
    val dup = meta.groupBy(col("digest"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper_id"))
    meta.join(dup, Seq("digest"))
      .withColumn("reasons", concat_ws("|",
        when(col("width") < 64 || col("height") < 40, lit("too_small")),
        when(col("width") > col("height") * 2 || col("height") > col("width") * 2,
          lit("bad_aspect")),
        when(col("byte_len") < 120, lit("payload_too_small")),
        when(col("n_copies") > 1 && col("doc_id") =!= col("keeper_id"),
          lit("duplicate_payload"))))
      .withColumn("keep", col("reasons") === "")
      .select("doc_id", "media_type", "byte_len", "width", "height", "keep", "reasons")
      .orderBy(col("doc_id"))
  }

  /** #30f Scene / shot-boundary detection over the sampled frames — the
    * segmentation pass a video curation pipeline runs between frame
    * sampling and per-scene dedup/captioning (a real decoder compares
    * per-frame COLOR histograms; the deterministic stand-in compares
    * letter-class histograms of the frame payload — same feature shape,
    * same math). Per consecutive sampled-frame pair within a video:
    * 4-bucket histogram L1 distance as an exact integer, boundary where
    * dist > (combined letter mass)/4, the comparison done by integer
    * cross-multiplication (no float anywhere). The first frame of a video
    * has no predecessor: dist null, never a boundary.
    *
    * Scale: explode is the only row multiplier (shared `sampledFrames`
    * geometry), histograms are map-side codegen regexp counts, and the lag
    * window partitions by doc over ≤ n_frames rows — one doc_id exchange. */
  def sceneDetect(s: SparkSession, dir: String): DataFrame = {
    def bucket(pat: String) =
      length(regexp_replace(col("frame_text"), pat, "")).cast("long")
    val h = sampledFrames(s, dir)
      .select(col("doc_id"), col("frame_idx"),
        bucket("[^a-g]").as("h1"), bucket("[^h-n]").as("h2"),
        bucket("[^o-u]").as("h3"), bucket("[^v-z]").as("h4"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    val withPrev = h
      .withColumn("p1", lag(col("h1"), 1).over(w))
      .withColumn("p2", lag(col("h2"), 1).over(w))
      .withColumn("p3", lag(col("h3"), 1).over(w))
      .withColumn("p4", lag(col("h4"), 1).over(w))
    withPrev
      .withColumn("dist", abs(col("h1") - col("p1")) + abs(col("h2") - col("p2")) +
        abs(col("h3") - col("p3")) + abs(col("h4") - col("p4")))
      .withColumn("is_boundary", coalesce(
        lit(4L) * col("dist") > col("h1") + col("h2") + col("h3") + col("h4") +
          col("p1") + col("p2") + col("p3") + col("p4"), lit(false)))
      .select(col("doc_id"), col("frame_idx"), col("dist"), col("is_boundary"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** #30g Scene-level video near-dup — segments from `mm_scene_detect`
    * carrying content digests, paired scene-to-scene: the case
    * `mm_frame_overlap`'s whole-video distinct-digest count DILUTES
    * (re-cut footage with an inserted/replaced intro shares most scenes,
    * but its shared-frame count mixes into the whole-video total with no
    * segment identity). Drift-proof composition: re-runs the registered
    * `mm_frame_sample` and `mm_scene_detect` queries; the oracle embeds
    * both registered oracles. Scene id = running boundary count per video;
    * scene digest = md5 of the ordered frame-digest chain; per-video
    * scenes DISTINCT first (internal repeats must not inflate pairs), then
    * one uniform digest equi-join — only genuinely matching scenes join,
    * no all-pairs scan. Verdict is exact-integer: near-dup iff shared
    * scenes cover ≥ half the smaller video (2·shared ≥ min(nₐ, n_b));
    * the round-4 Jaccard rides along for auditability. Scale: the scene
    * aggregate state is bounded by frames-per-video; the pair join keys on
    * md5; the ≤|videos|-row scene counts broadcast back. */
  def sceneNearDup(s: SparkSession, dir: String): DataFrame = {
    val frames = frameSample(s, dir)
      .select(col("doc_id"), col("frame_idx"), col("frame_digest"))
    val bounds = sceneDetect(s, dir)
      .select(col("doc_id"), col("frame_idx"), col("is_boundary"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scenes = frames.join(bounds, Seq("doc_id", "frame_idx"))
      .withColumn("scene_id", sum(col("is_boundary").cast("long")).over(w))
      .groupBy(col("doc_id"), col("scene_id"))
      .agg(md5(array_join(transform(
        array_sort(collect_list(struct(col("frame_idx"), col("frame_digest")))),
        x => x.getField("frame_digest")), "")).as("scene_digest"))
    val perDoc = graft.CacheRegistry.track(
      scenes.select(col("doc_id"), col("scene_digest")).distinct())
    val counts = perDoc.groupBy(col("doc_id")).agg(count(lit(1)).as("n_scenes"))
    val a = perDoc.select(col("doc_id").as("a_id"), col("scene_digest"))
    val b = perDoc.select(col("doc_id").as("b_id"), col("scene_digest"))
    a.join(b, "scene_digest")
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("shared_scenes"))
      .join(broadcast(counts.select(col("doc_id").as("a_id"),
        col("n_scenes").as("n_scenes_a"))), Seq("a_id"))
      .join(broadcast(counts.select(col("doc_id").as("b_id"),
        col("n_scenes").as("n_scenes_b"))), Seq("b_id"))
      .select(col("a_id"), col("b_id"), col("shared_scenes"),
        col("n_scenes_a"), col("n_scenes_b"),
        round(col("shared_scenes").cast("double") /
          (col("n_scenes_a") + col("n_scenes_b") - col("shared_scenes")), 4)
          .as("scene_jaccard"),
        (lit(2L) * col("shared_scenes") >= least(col("n_scenes_a"), col("n_scenes_b")))
          .as("is_neardup"))
      .orderBy(col("a_id"), col("b_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_binary_meta" -> (binaryMeta _),
    "mm_frame_sample" -> (frameSample _),
    "mm_quality_gate" -> (qualityGate _),
    "mm_scene_detect" -> (sceneDetect _),
    "mm_scene_neardup" -> (sceneNearDup _),
    "mm_frame_overlap" -> (frameOverlap _))

  /** Registered oracles of the frame/scene chain, extracted so the
    * `mm_scene_neardup` composition embeds them VERBATIM (the drift-proof
    * discipline). */
  private[multimodal] def frameSampleOracle: String =
    s"""WITH $frameCteSql
       |SELECT doc_id, frame_idx, n_frames, start_pos, end_pos,
       | md5(substr(text, start_pos::INT, greatest(0, end_pos - start_pos + 1)::INT)) AS frame_digest
       |FROM g ORDER BY doc_id, frame_idx""".stripMargin

  private def sceneDetectOracle: String =
    s"""WITH $frameCteSql,
       |ft AS (SELECT doc_id, frame_idx,
       |  substr(text, start_pos::INT, greatest(0, end_pos - start_pos + 1)::INT) AS t
       | FROM g),
       |h AS (SELECT doc_id, frame_idx,
       |  length(regexp_replace(t, '[^a-g]', '', 'g'))::BIGINT AS h1,
       |  length(regexp_replace(t, '[^h-n]', '', 'g'))::BIGINT AS h2,
       |  length(regexp_replace(t, '[^o-u]', '', 'g'))::BIGINT AS h3,
       |  length(regexp_replace(t, '[^v-z]', '', 'g'))::BIGINT AS h4
       | FROM ft),
       |p AS (SELECT *,
       |  lag(h1) OVER w AS p1, lag(h2) OVER w AS p2,
       |  lag(h3) OVER w AS p3, lag(h4) OVER w AS p4
       | FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx))
       |SELECT doc_id, frame_idx,
       | (abs(h1-p1) + abs(h2-p2) + abs(h3-p3) + abs(h4-p4))::BIGINT AS dist,
       | coalesce(4 * (abs(h1-p1) + abs(h2-p2) + abs(h3-p3) + abs(h4-p4))
       |   > h1+h2+h3+h4+p1+p2+p3+p4, false) AS is_boundary
       |FROM p ORDER BY doc_id, frame_idx""".stripMargin

  val oracles: Map[String, String] = Map(
    "mm_binary_meta" ->
      """SELECT doc_id, octet_length(encode(text))::BIGINT AS byte_len, md5(text) AS digest, source,
        | 32 + octet_length(encode(text))::BIGINT % 64 AS width,
        | 32 + doc_id % 48 AS height,
        | 1 + doc_id % 3 AS n_frames,
        | CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_quality_gate" ->
      """WITH m AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio'
        |   ELSE 'video' END AS media_type,
        |  octet_length(encode(text))::BIGINT AS byte_len,
        |  32 + octet_length(encode(text))::BIGINT % 64 AS width,
        |  32 + doc_id % 48 AS height,
        |  md5(text) AS digest
        | FROM documents),
        |d AS (SELECT digest, count(*) AS n_copies, min(doc_id) AS keeper_id
        | FROM m GROUP BY digest),
        |r AS (SELECT m.*, concat_ws('|',
        |  CASE WHEN m.width < 64 OR m.height < 40 THEN 'too_small' END,
        |  CASE WHEN m.width > m.height * 2 OR m.height > m.width * 2 THEN 'bad_aspect' END,
        |  CASE WHEN m.byte_len < 120 THEN 'payload_too_small' END,
        |  CASE WHEN d.n_copies > 1 AND m.doc_id != d.keeper_id THEN 'duplicate_payload' END
        | ) AS reasons
        | FROM m JOIN d USING (digest))
        |SELECT doc_id, media_type, byte_len, width, height,
        | (reasons = '') AS keep, reasons
        |FROM r ORDER BY doc_id""".stripMargin,
    "mm_frame_sample" -> frameSampleOracle,
    "mm_scene_detect" -> sceneDetectOracle,
    "mm_scene_neardup" ->
      s"""WITH fs AS MATERIALIZED (SELECT doc_id, frame_idx, frame_digest
         | FROM ($frameSampleOracle) tf),
         |sd AS MATERIALIZED (SELECT doc_id, frame_idx, is_boundary
         | FROM ($sceneDetectOracle) ts),
         |sc AS (SELECT f.doc_id, f.frame_idx, f.frame_digest,
         |  sum(CASE WHEN s.is_boundary THEN 1 ELSE 0 END) OVER (
         |    PARTITION BY f.doc_id ORDER BY f.frame_idx
         |    ROWS UNBOUNDED PRECEDING) AS scene_id
         | FROM fs f JOIN sd s ON s.doc_id = f.doc_id AND s.frame_idx = f.frame_idx),
         |dg AS MATERIALIZED (SELECT DISTINCT doc_id, scene_digest FROM (
         |  SELECT doc_id, md5(string_agg(frame_digest, '' ORDER BY frame_idx)) AS scene_digest
         |  FROM sc GROUP BY doc_id, scene_id) t),
         |cnt AS MATERIALIZED (SELECT doc_id, count(*)::BIGINT AS n_scenes FROM dg GROUP BY 1),
         |pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*)::BIGINT AS shared_scenes
         | FROM dg a JOIN dg b ON a.scene_digest = b.scene_digest AND a.doc_id < b.doc_id
         | GROUP BY 1, 2)
         |SELECT pr.a_id, pr.b_id, pr.shared_scenes,
         | ca.n_scenes AS n_scenes_a, cb.n_scenes AS n_scenes_b,
         | round(pr.shared_scenes::DOUBLE /
         |   (ca.n_scenes + cb.n_scenes - pr.shared_scenes), 4) AS scene_jaccard,
         | 2 * pr.shared_scenes >= least(ca.n_scenes, cb.n_scenes) AS is_neardup
         |FROM pr
         |JOIN cnt ca ON ca.doc_id = pr.a_id
         |JOIN cnt cb ON cb.doc_id = pr.b_id
         |ORDER BY a_id, b_id""".stripMargin,
    "mm_frame_overlap" ->
      s"""WITH $frameCteSql,
         |fd AS (SELECT DISTINCT doc_id,
         |  md5(substr(text, start_pos::INT, greatest(0, end_pos - start_pos + 1)::INT)) AS digest
         | FROM g)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*)::BIGINT AS shared_frames
         |FROM fd a JOIN fd b ON a.digest = b.digest AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= $MinSharedFrames
         |ORDER BY a_id, b_id""".stripMargin)

  /** The sampled-frame CTE (relation `g`: doc_id, frame_idx, n_frames,
    * start/end positions, text) shared by the mm_frame_sample and
    * mm_frame_overlap oracles so the frame geometry cannot drift. */
  private def frameCteSql: String =
    s"""v AS (
       | SELECT doc_id, text, length(text)::BIGINT AS chars, 8 + doc_id % 25 AS n_frames
       | FROM documents WHERE doc_id % 3 = 2),
       |f AS (
       | SELECT doc_id, text, chars, n_frames, unnest(range(0, n_frames, $Stride)) AS frame_idx
       | FROM v),
       |g AS (
       | SELECT doc_id, frame_idx, n_frames, text,
       |  1 + (frame_idx * chars) // n_frames AS start_pos,
       |  ((frame_idx + 1) * chars) // n_frames AS end_pos
       | FROM f)""".stripMargin
}
