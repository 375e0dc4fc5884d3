package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** One operation the harness issued: a query, a hop or a digest check.
  * `seconds` is None when the operation failed: a failure is never a
  * timing sample. */
final case class Op(name: String, layer: String, timed: Boolean, seconds: Option[Double],
    error: String)

/** The run's record: every operation attempted and every output check. */
final class Run(val tracer: Tracer) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]

  /** Runs `body` as one operation; a timed one inside a span named after
    * `layer`. */
  def op[T](name: String, layer: String, timed: Boolean)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    try {
      val r = if (timed) tracer.span(s"$layer:$name")(body) else body
      add(Op(name, layer, timed, Some((System.nanoTime() - t0) / 1e9), ""))
      Some(r)
    } catch {
      case NonFatal(e) =>
        add(Op(name, layer, timed, None, s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        None
    }
  }

  def add(o: Op): Unit = ops += o

  /** An output check; a failed or throwing check counts as a failed
    * operation. */
  def check(name: String, ok: => Boolean, detail: => String): Unit = {
    val (passed, why) =
      try { val b = ok; (b, if (b) "" else detail) }
      catch { case NonFatal(e) => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    checks += ((name, passed, why))
  }

  def attempted: Int = ops.size + checks.size
  def failed: Int = ops.count(_.seconds.isEmpty) + checks.count(!_._2)
}
