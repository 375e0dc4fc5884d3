package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator for the SCALING.md study: writes
  * `documents` / `embeddings` / `events` tables at FACTOR × the sf0.1 row
  * counts, matching the driver testdata's distributional shape so measured
  * scaling exponents reflect the OPERATORS, not a changed workload:
  *
  *  - documents: uniform 30-word vocabulary (the sf0.1 vocabulary),
  *    uniform 10–100-word lengths, the sf0.1 lang mix (~40% en, ~15%
  *    each de/zh/fr/es), `src{id%20}` sources, and the same planted
  *    duplicate structure at the same RATES — ~5% near-dup twins (an
  *    earlier doc's text + " dup", the testdata's own marker convention)
  *    and ~1/312 exact copies.
  *  - embeddings: 64-dim, per-dim zero-mean bell-shaped (sum of three
  *    hash-uniforms, std ≈ 0.125 matching the original), label = id % 5.
  *  - events: ts monotone over the same 30-day window at FACTOR× density,
  *    10·FACTOR× users, the 5 event types uniform, value ~ Exp(mean 50)
  *    (the original's mean ≈ stddev ≈ 50 signature), `{"k": n}` props.
  *
  * Everything is a pure column expression of the row id via xxhash64 —
  * no RNG state, no driver data, identical bytes on every run. Usage:
  * `runMain graft.ScaleGen <outDir> [factor]` (default 10 ⇒ "sf1"). */
object ScaleGen {

  val Vocab: Seq[String] = Seq(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch")

  private def h(cols: Column*): Column = abs(xxhash64(cols: _*))

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("scaledata/sf1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = GraftSession.local(GraftSession.cpus)

    val nDocs = 5000L * factor
    val nVecs = 2000L * factor
    val nEvents = 100000L * factor

    // ---- documents -------------------------------------------------
    val vocabArr = array(Vocab.map(lit): _*)
    def wc(id: Column): Column = pmod(h(id, lit("wc")), lit(91)) + 10
    def gen(id: Column): Column = array_join(
      transform(sequence(lit(1), wc(id).cast("int")),
        p => element_at(vocabArr, (pmod(h(id, p), lit(30)) + 1).cast("int"))),
      " ")
    // ~5% near-dup twins: doc 20k+19 = doc 20k's text + " dup"
    def genWithNear(id: Column): Column =
      when(id % 20 === 19, concat(gen(id - 19), lit(" dup"))).otherwise(gen(id))
    // ~1/312 exact copies of an earlier doc (through the near-dup rule,
    // so the copy really is byte-identical to the live source text)
    val docId = col("id")
    val text = when(docId % 312 === 311, genWithNear(docId - 311))
      .otherwise(genWithNear(docId))
    val langIdx = pmod(h(docId, lit("lang")), lit(20))
    val lang = when(langIdx < 8, "en").when(langIdx < 11, "de")
      .when(langIdx < 14, "zh").when(langIdx < 17, "fr").otherwise("es")
    spark.range(nDocs)
      .select(docId.as("doc_id"), text.as("text"), lang.as("lang"),
        concat(lit("src"), (docId % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    // ---- embeddings ------------------------------------------------
    def u(id: Column, j: Column, k: Int): Column =
      (pmod(h(id, j, lit(k)), lit(2001)) - 1000).cast("double") / 1000.0
    val emb = transform(sequence(lit(0), lit(63)),
      j => ((u(col("id"), j, 1) + u(col("id"), j, 2) + u(col("id"), j, 3)) / 8.0)
        .cast("float"))
    spark.range(nVecs)
      .select(col("id").as("vec_id"), emb.as("embedding"),
        (col("id") % 5).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // ---- events ----------------------------------------------------
    val baseUs = 1704067200000000L // 2024-01-01T00:00:00Z in micros
    val spanUs = 30L * 24 * 3600 * 1000000L
    val stepUs = spanUs / nEvents
    val tsUs = lit(baseUs) + col("id") * stepUs +
      pmod(h(col("id"), lit("jit")), lit(stepUs))
    val types = array(Seq("click", "view", "signup", "error", "purchase").map(lit): _*)
    val uni = (pmod(h(col("id"), lit("val")), lit(1000000)) + 1).cast("double") / 1000000.0
    spark.range(nEvents)
      .select(col("id").as("event_id"),
        timestamp_micros(tsUs).as("ts"),
        pmod(h(col("id"), lit("u")), lit(1500L * factor)).as("user_id"),
        element_at(types, (pmod(h(col("id"), lit("t")), lit(5)) + 1).cast("int")).as("event_type"),
        round(-log(uni) * 50.0, 2).as("value"),
        concat(lit("{\"k\": "), pmod(h(col("id"), lit("k")), lit(90)), lit("}")).as("props"))
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // the remaining star-schema tables are not exercised by the scale
    // study's operator set; copy them from sf0.1 so the dir is complete
    val src = "/root/testdata/sf0.1"
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      .foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      }
    println(s"[scalegen] wrote $outDir: docs=$nDocs vecs=$nVecs events=$nEvents")
    spark.stop()
  }
}
