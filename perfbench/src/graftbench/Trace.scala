package graftbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters summed from Spark's own listeners: a `SparkListener` for
  * jobs, stages and task metrics, a `QueryExecutionListener` for the
  * planning phases of every query execution, and the codegen compiler's
  * process-wide totals. Registered only in the traced run. */
final class EngineListener extends SparkListener with QueryExecutionListener {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = c.synchronized { c(k) = c(k) + v }

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      add("task_run_ms", m.executorRunTime)
      add("task_cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
      add("spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("input_b", m.inputMetrics.bytesRead)
      add("output_b", m.outputMetrics.bytesWritten)
      add("output_rows", m.outputMetrics.recordsWritten)
      // the Spark UI's scheduler delay: task wall time not spent
      // deserializing, running, serializing or fetching the result
      if (info != null && info.finishTime > 0)
        add("sched_delay_ms", math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val p = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { ph =>
      p.get(ph).foreach(s => add(s"${ph}_ms", s.durationMs.toDouble))
    }
    add("executions", 1)
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    add("executions", 1)

  def snapshot(): Map[String, Double] = c.synchronized(c.toMap) ++ Map(
    "compile_ms" -> CodeGenerator.compileTime / 1e6,
    "compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)
}

/** One timed span: a layer call made by the harness, with its parent span
  * and, in the traced run, the engine counters it accumulated. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    counters: Map[String, Double])

/** In-memory span recorder. Untraced it only reads the clock; traced it also
  * drains the listener bus at each boundary so a span's counters are its
  * own. Spans are written out when the run ends. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  val listener: Option[EngineListener] =
    if (!traced) None
    else {
      val l = new EngineListener
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
      Some(l)
    }
  val spans = mutable.ArrayBuffer.empty[Span]
  private var current = -1
  private var lastId = 0

  def counters(): Map[String, Double] = listener match {
    case Some(l) => BenchBus.drain(spark.sparkContext); l.snapshot()
    case None => Map.empty
  }

  def span[T](name: String)(body: => T): T = {
    val parent = current
    lastId += 1
    val id = lastId
    val c0 = counters()
    val t0 = System.nanoTime()
    current = id
    try body
    finally {
      val t1 = System.nanoTime()
      current = parent
      val c1 = counters()
      spans += Span(id, parent, name, t0, t1,
        c1.map { case (k, v) => k -> (v - c0.getOrElse(k, 0.0)) })
    }
  }

  def json: String = spans.map { s =>
    val cs = s.counters.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},""" +
      s""""end_ns":${s.endNs},"counters":{$cs}}"""
  }.mkString("[", ",\n", "]")
}
