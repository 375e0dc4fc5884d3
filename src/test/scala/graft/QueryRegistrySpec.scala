package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The registry is one list of modules: a key two modules register fails
  * loudly instead of one shadowing the other, and oracles render when read,
  * so model-as-literal oracles see the context Verify sets. */
class QueryRegistrySpec extends AnyFunSuite {

  private class Stub(keys: String*) extends QueryModule {
    val queries: Map[String, (SparkSession, String) => DataFrame] =
      keys.map(k => k -> ((s: SparkSession, _: String) => s.emptyDataFrame)).toMap
    val oracles: Map[String, String] = Map.empty
  }
  private object StubA extends Stub("shared", "a_only")
  private object StubB extends Stub("shared", "b_only")

  test("a key registered twice fails with both module names") {
    for (modules <- Seq(Seq(StubA, StubB), Seq(StubA, StubA))) {
      val e = intercept[IllegalStateException](SparkEntry.union(modules)(_.queries))
      val named = modules.map(m => m.getClass.getName.stripSuffix("$"))
      assert(e.getMessage == s"key 'shared' is registered by both ${named(0)} and ${named(1)}")
    }
  }

  test("model-as-literal oracles render once OracleContext is set") {
    val before = OracleContext.get
    // read first without a context, so a registry or module that cached
    // its oracles fails below
    assert(before.nonEmpty || SparkEntry.oracleSql.values.exists(_ == OracleContext.Placeholder))
    OracleContext.set(TestSpark.spark, TestSpark.sf)
    try {
      val placeholders = SparkEntry.oracleSql.collect {
        case (k, v) if v == OracleContext.Placeholder => k
      }
      assert(placeholders.isEmpty, s"unrendered oracles: $placeholders")
    } finally {
      OracleContext.restore(before)
      CacheRegistry.releaseAll()
    }
  }
}
