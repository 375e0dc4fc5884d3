package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (Test / fork := true),
  * on every core the forked JVM sees: build.sbt caps each test group's
  * processor count at its share of the machine. */
object TestSpark {
  lazy val spark: SparkSession =
    GraftSession.local(Runtime.getRuntime.availableProcessors())
  val sf: String = "/root/testdata/sf0.001"
}
