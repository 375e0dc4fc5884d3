package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{CacheRegistry, SparkEntry}

/** The benchmark's JVM side. `perfbench/run.py` launches it once per run:
  *
  *   graftbench.Main <workload> <seed> <seconds> <trace 0|1> <sf> <workDir>
  *     <inputsDir> <digests.tsv> <result.json> [--inputs-s S] [--plant-fail KEY]
  *     [--perturb KEY] [--make-digests] [--bridge]
  *
  * It starts a session over the inputs run.py generated, warms the workload
  * with one checked pass (or night), then times whole passes until
  * `seconds` have elapsed, and writes every measurement to `result.json`.
  * One JVM, `local[<available cores>]`, one driver thread issuing work back
  * to back: a closed loop with one client. */
object Main {

  /** Catalog keys each read-only workload runs. A full measurement, 70 runs,
    * must finish in 3420 s, about 48 s a run with JVM start and warm-up,
    * so each workload is a fixed subset of its family chosen so that every
    * layer metric has keys. crash_queries holds the etl_* keys that map to
    * main.py steps, less the two CDC keys (the nightly workload runs them
    * as hops) and the Bloom variant of ingest dedup, plus the two other
    * distance queries. staged_loops holds graph loops behind the
    * interpreted-loop gate (bfs, labelprop), the ScopedConf loop (anf) and
    * the dedup keys that build and reuse the staged MinHash ladder.
    * `--bridge` times all 42 etl_* keys once instead. */
  val Reference: Seq[String] = Seq("etl_ingest_dedup", "etl_normalize", "etl_array_parse",
    "etl_json_flatten", "etl_geo_bbox", "etl_zone_assign", "etl_zone_polygon", "etl_zone_multi",
    "etl_intersection_crashcount", "etl_vehicle_crosswalk", "etl_blame_allocation",
    "etl_upsert_merge")
  val Extended: Seq[String] = Seq("etl_nearest_intersection", "etl_geo_cluster")
  val GeoContainment: Set[String] = Set("etl_zone_assign", "etl_zone_polygon", "etl_zone_multi")
  val GeoDistance: Set[String] =
    Set("etl_intersection_crashcount", "etl_nearest_intersection", "etl_geo_cluster")
  val Staged: Seq[String] = Seq("graph_bfs", "graph_labelprop", "graph_anf",
    "dedup_clusters", "dedup_minhash_lsh", "dedup_incremental")

  def keysOf(workload: String, bridge: Boolean): Seq[String] = workload match {
    case "crash_queries" if bridge => SparkEntry.queries.keys.filter(_.startsWith("etl_")).toSeq.sorted
    case "crash_queries" => Reference ++ Extended
    case "staged_loops" => Staged
    case _ => Nil
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      // the posture of graft.Bench: shuffle partitions = cores, size-based
      // AQE coalescing with an 8 MB advisory, UTC
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Harrell-Davis estimate of the `p` quantile: a weighted mean of all
    * order statistics, with Beta((n+1)p, (n+1)(1-p)) weights. A run's pass
    * holds 6 to 14 samples, where the plain sample quantile jumps between
    * neighbouring queries; this estimate moves smoothly. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val n = s.size
    if (n <= 1) s.headOption.getOrElse(0.0)
    else {
      val (a, b) = (p * (n + 1), (1 - p) * (n + 1))
      val steps = 400 * n
      // cumulative Beta(a, b) mass on a grid, by the trapezoid rule
      val pdf = (0 to steps).map { k =>
        val x = k.toDouble / steps
        if (x == 0.0 || x == 1.0) 0.0 else math.exp((a - 1) * math.log(x) + (b - 1) * math.log(1 - x))
      }
      val cdf = pdf.sliding(2).scanLeft(0.0)((c, w) => c + (w(0) + w(1)) / 2).toIndexedSeq
      val total = cdf.last
      (1 to n).map(i => (cdf(i * 400) - cdf((i - 1) * 400)) / total * s(i - 1)).sum
    }
  }

  /** The tail as (value, percentile): the highest percentile with at least
    * ten samples beyond it. A run's single timed pass holds fewer than 40
    * samples, where that percentile would sit at or below the upper
    * quartile, so the upper quartile is reported instead. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = if (xs.size < 40) 75.0 else 100.0 * (xs.size - 10) / xs.size
    (quantile(xs, p / 100), p)
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }

  /** digests.tsv rows for scale `sf`: key -> (row count, digest). */
  def readDigests(path: String, sf: Double): Map[String, (Long, String)] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else scala.io.Source.fromFile(path).getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t"))
      .filter(f => f(0).toDouble == sf)
      .map(f => f(1) -> ((f(2).toLong, f(3))))
      .toMap

  def main(argv: Array[String]): Unit = {
    val bootS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val Array(workload, seedS, secondsS, traceS, sfS, work, dataDir, digestPath, outPath) =
      argv.take(9)
    val flags = argv.drop(9)
    def flag(n: String): Option[String] =
      flags.sliding(2).collectFirst { case Array(`n`, v) => v }
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val sf = sfS.toDouble
    val makeDigests = flags.contains("--make-digests")
    val bridge = flags.contains("--bridge")
    val inputsS = flag("--inputs-s").map(_.toDouble).getOrElse(0.0)
    val cpus = Runtime.getRuntime.availableProcessors()
    require(Seq("nightly", "crash_queries", "staged_loops").contains(workload),
      s"unknown workload $workload")

    // ---- set-up: the session over the inputs run.py generated ----
    val s0 = System.nanoTime()
    val spark = session(cpus, work)
    val sessionS = (System.nanoTime() - s0) / 1e9
    val soda = if (workload == "nightly") Nightly.planted(s"$dataDir/soda/planted.tsv") else null
    val tracer = new Tracer(spark, traced)
    val run = new Run(tracer)
    val plantFail = flag("--plant-fail")
    val perturb = flag("--perturb")
    def query(key: String): (SparkSession, String) => DataFrame =
      if (plantFail.contains(key)) (_, _) => throw new IllegalStateException("planted failure")
      else SparkEntry.queries(key)

    val layer: Map[String, String] = (Reference.map(_ -> "etl.reference") ++
      Extended.map(_ -> "etl.extended") ++
      Staged.map(k => k -> (if (k.startsWith("graph_")) "graph.loops" else "dedup.ladder"))).toMap
    val order = new Random(seed).shuffle(keysOf(workload, bridge))
    val digests = readDigests(digestPath, sf)
    val bad = scala.collection.mutable.Set.empty[String]
    val made = scala.collection.mutable.ArrayBuffer.empty[String]

    // ---- warm-up: one checked pass (or night), untimed, in the timed order ----
    val warm0 = System.nanoTime()
    val nightly = new Nightly(spark, run, dataDir, seed)
    var nights = 0
    def oneNight(timed: Boolean): Map[String, Double] = {
      nights += 1
      val dir = s"$work/night-$nights"
      try nightly.night(dir, soda, timed)
      finally deleteTree(Paths.get(dir))
    }
    val nightStats = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    if (workload == "nightly") oneNight(timed = false)
    else order.foreach { key =>
      // the warm-up collects each output for its digest
      val out = run.op(key, "digest", timed = false) {
        val rows = query(key)(spark, dataDir).collect()
        if (perturb.contains(key)) rows.drop(1) else rows
      }
      CacheRegistry.releaseAll()
      out match {
        case None => bad += key
        case Some(rows) =>
          val (n, d) = Digest.of(rows)
          if (makeDigests || bridge) made += s"$sf\t$key\t$n\t$d"
          else digests.get(key) match {
            case Some((wantN, wantD)) =>
              val ok = n == wantN && d == wantD
              run.check(s"digest:$key", ok, s"$n rows digest $d, expected $wantN rows digest $wantD")
              if (!ok) bad += key
            case None =>
              run.check(s"digest:$key", ok = false, s"no digest recorded for $key at sf $sf")
              bad += key
          }
      }
    }
    val warmupS = (System.nanoTime() - warm0) / 1e9
    // settle before timing: collect the warm-up's garbage and give the JIT
    // compiler queue and Spark's context cleaner a moment to drain, so the
    // first timed operations do not pay for the warm-up; then reset the
    // resident-memory high-water mark, so both memory figures cover the
    // timed region only
    System.gc()
    Thread.sleep(250)
    Files.writeString(Paths.get("/proc/self/clear_refs"), "5")
    LiveHeap.start()

    // ---- timed region: whole passes until `seconds` have elapsed ----
    val t0 = System.nanoTime()
    var passes = 0
    val passTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val bridgeRows = scala.collection.mutable.ArrayBuffer.empty[String]
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (passes == 0 || elapsed < seconds) {
      passes += 1
      if (workload == "nightly") {
        val before = run.ops.size
        nightStats += oneNight(timed = true)
        passTimes += run.ops.drop(before).flatMap(_.seconds).sum
      } else {
        var sum = 0.0
        order.foreach { key =>
          val l = layer.getOrElse(key, "etl.extended")
          if (bad(key)) run.add(Op(key, l, timed = true, None, "output check failed"))
          else run.op(key, l, timed = true)(noop(query(key)(spark, dataDir)))
            .foreach(_ => sum += run.ops.last.seconds.get)
          CacheRegistry.releaseAll()
        }
        passTimes += sum
      }
    }
    val timedWall = elapsed
    val peakRss = peakRssMb()
    val liveHeap = LiveHeap.stopMb()
    val persistedAfter = spark.sparkContext.getPersistentRDDs.size

    // ---- bridge to history: count() beside the noop sink, min of 2 ----
    if (bridge) order.foreach { key =>
      def best(action: DataFrame => Unit): Double = (1 to 2).map { _ =>
        val s = System.nanoTime()
        action(query(key)(spark, dataDir))
        CacheRegistry.releaseAll()
        (System.nanoTime() - s) / 1e9
      }.min
      val cnt = best(df => { df.count(); () })
      val snk = best(noop)
      bridgeRows += f""""$key":{"count_s":$cnt%.4f,"sink_s":$snk%.4f}"""
    }

    // ---- metrics ----
    val timedOps = run.ops.filter(_.timed)
    val samples = timedOps.flatMap(_.seconds).toSeq
    val (tailV, tailP) = tail(samples)
    val inputBytes =
      if (workload == "nightly")
        dirBytes(Paths.get(s"$dataDir/events.parquet")) + dirBytes(Paths.get(soda.a.path)) +
          dirBytes(Paths.get(soda.b.path))
      else 0L
    val okShare = (run.attempted - run.failed).toDouble / math.max(1, run.attempted)
    val e2e = scala.collection.mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> ((bootS + sessionS + warmupS) -> "s"),
      "inputs_s" -> (inputsS -> "s"),
      "jvm_boot_s" -> (bootS -> "s"),
      "session_s" -> (sessionS -> "s"),
      "warmup_s" -> (warmupS -> "s"),
      "pass_s" -> (median(passTimes.toSeq) -> "s"),
      "query_p50_s" -> (quantile(samples, 0.5) -> "s"),
      "query_tail_s" -> (tailV -> "s"),
      "query_tail_pct" -> (tailP -> "%"),
      "query_samples" -> (samples.size.toDouble -> "count"),
      "live_heap_mb" -> (liveHeap -> "MB"),
      "peak_rss_mb" -> (peakRss -> "MB"),
      "ok_share" -> (okShare -> "share"))

    // per-layer: medians over passes of each layer's per-pass seconds
    val layers = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    def perPass(l: String): Double =
      timedOps.filter(_.layer == l).flatMap(_.seconds).sum / passes
    def keySum(keys: Iterable[String]): Double =
      timedOps.filter(o => keys.exists(_ == o.name)).flatMap(_.seconds).sum / passes
    workload match {
      case "nightly" =>
        Seq("sources.ingest", "sources.merge_first", "sources.merge_replay",
          "sources.merge_delta", "operators.zorder", "operators.compact", "etl.enrich",
          "etl.cdc", "etl.tally", "etl.backlog").foreach(l => layers(l + "_s") = perPass(l) -> "s")
        layers("operators.compact_files_out") =
          median(nightStats.map(_.getOrElse("operators.compact_files_out", 0.0)).toSeq) -> "count"
        val stored = median(nightStats.map(_.getOrElse("stored_bytes", 0.0)).toSeq)
        layers("sources.stored_bytes_per_input_byte") = stored / math.max(1L, inputBytes) -> "ratio"
        layers("sources.stored_mb") = stored / 1048576.0 -> "MB"
        layers("sources.input_mb") = inputBytes / 1048576.0 -> "MB"
      case "crash_queries" =>
        layers("etl.reference_s") = perPass("etl.reference") -> "s"
        layers("etl.extended_s") = perPass("etl.extended") -> "s"
        layers("etl.blame_allocation_s") = keySum(Seq("etl_blame_allocation")) -> "s"
        layers("geo.containment_s") = keySum(GeoContainment) -> "s"
        layers("geo.distance_s") = keySum(GeoDistance) -> "s"
      case _ =>
        layers("graph.loops_s") = perPass("graph.loops") -> "s"
        layers("dedup.ladder_s") = perPass("dedup.ladder") -> "s"
        layers("cache.persisted_after_release") = persistedAfter.toDouble -> "count"
    }
    if (traced) {
      // counters of the timed operations only, summed over their spans: the
      // output checks between a night's hops are not the program's work
      val spans = tracer.spans.toSeq
      def spanSum(ss: Seq[Span], k: String): Double = ss.map(_.counters.getOrElse(k, 0.0)).sum
      val d = spans.flatMap(_.counters.keys).distinct.map(k => k -> spanSum(spans, k)).toMap
        .withDefaultValue(0.0)
      val opWall = spans.map(s => (s.endNs - s.startNs) / 1e9).sum
      val p = passes.toDouble
      val mb = 1048576.0
      if (workload == "nightly") {
        layers("sources.bytes_written_mb") =
          spanSum(spans.filter(_.name.startsWith("sources.")), "output_b") / p / mb -> "MB"
        // rows the next-day merge wrote, per delta row
        layers("sources.delta_rewrite_ratio") =
          spanSum(spans.filter(_.name.startsWith("sources.merge_delta:")), "output_rows") /
            math.max(1.0, nightStats.map(_("delta_rows")).sum) -> "ratio"
      }
      if (workload == "staged_loops")
        layers("staged.jobs_per_query") = d("jobs") / math.max(1, samples.size) -> "count"
      layers("plan.analysis_ms") = d("analysis_ms") / p -> "ms"
      layers("plan.optimization_ms") = d("optimization_ms") / p -> "ms"
      layers("plan.planning_ms") = d("planning_ms") / p -> "ms"
      layers("plan.executions") = d("executions") / p -> "count"
      layers("codegen.compile_ms") = d("compile_ms") / p -> "ms"
      layers("codegen.compiles") = d("compiles") / p -> "count"
      layers("engine.jobs") = d("jobs") / p -> "count"
      layers("engine.stages") = d("stages") / p -> "count"
      layers("engine.tasks") = d("tasks") / p -> "count"
      layers("engine.sched_delay_s") = d("sched_delay_ms") / 1e3 / p -> "s"
      layers("engine.task_run_s") = d("task_run_ms") / 1e3 / p -> "s"
      layers("engine.task_cpu_s") = d("task_cpu_ns") / 1e9 / p -> "s"
      layers("engine.core_busy_share") = d("task_run_ms") / 1e3 / (opWall * cpus) -> "share"
      layers("engine.gc_s") = d("gc_ms") / 1e3 / p -> "s"
      layers("engine.shuffle_read_mb") = d("shuffle_read_b") / mb / p -> "MB"
      layers("engine.shuffle_write_mb") = d("shuffle_write_b") / mb / p -> "MB"
      layers("engine.spill_mb") = d("spill_b") / mb / p -> "MB"
      layers("engine.input_mb") = d("input_b") / mb / p -> "MB"
      layers("engine.output_mb") = d("output_b") / mb / p -> "MB"
    }

    // ---- result ----
    def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
    def str(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => " "
        case c => c.toString
      } + "\""
    def metrics(m: collection.Map[String, (Double, String)]): String =
      m.map { case (k, (v, u)) => s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
        .mkString("{", ",", "}")
    val opsJson = run.ops.map { o =>
      s"""{"name":${str(o.name)},"layer":${str(o.layer)},"timed":${o.timed},""" +
        s""""seconds":${o.seconds.map(num).getOrElse("null")},"error":${str(o.error)}}"""
    }.mkString("[", ",", "]")
    val checksJson = run.checks.map { case (n, ok, d) =>
      s"""{"name":${str(n)},"ok":$ok,"detail":${str(d)}}"""
    }.mkString("[", ",", "]")
    val json =
      s"""{"workload":${str(workload)},"seed":$seed,"sf":$sf,"cpus":$cpus,""" +
        s""""max_heap_mb":${Runtime.getRuntime.maxMemory / 1048576},"passes":$passes,""" +
        s""""timed_wall_s":$timedWall,""" +
        s""""attempted":${run.attempted},"failed":${run.failed},""" +
        s""""end_to_end":${metrics(e2e)},"per_layer":${metrics(layers)},""" +
        s""""bridge":${bridgeRows.mkString("{", ",", "}")},"ops":$opsJson,"checks":$checksJson,""" +
        s""""spans":${tracer.json}}"""
    Files.writeString(Paths.get(outPath), json + "\n")
    if (makeDigests || bridge)
      Files.writeString(Paths.get(s"$work/digests.tsv"), made.mkString("", "\n", "\n"))
    spark.stop()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally st.close()
    }
}
