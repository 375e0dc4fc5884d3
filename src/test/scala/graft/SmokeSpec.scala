package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every declared query runs at sf0.001, returns rows, and is stable across
  * two executions (the driver's hash compare requires determinism). */
class SmokeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs, non-empty, deterministic") {
      val r1 = fn(spark, TestSpark.sf).collect()
      assert(r1.nonEmpty, s"$name returned no rows at sf0.001")
      val r2 = fn(spark, TestSpark.sf).collect()
      assert(r1.toSeq == r2.toSeq, s"$name is not deterministic")
    }
  }
}
