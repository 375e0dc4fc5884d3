package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built: Bench, Verify, GenPlanFiles,
  * ScaleGen and the test suite share this posture, so a plan pinned by a
  * spec or dumped as evidence is the plan the bench runs.
  *
  * AQE coalesces shuffle partitions by size rather than to the core count
  * (`parallelismFirst=false`, Spark's documented posture for a busy
  * cluster): sub-second stages collapse to one task. The 8 MB advisory is
  * a local-scale value, so sf0.1 stages coalesce the way 100 TB stages
  * would at 64–256 MB. */
object GraftSession {

  /** Cores for the mains' sessions: `SPARK_GRAFT_CPUS`, else every core
    * the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
