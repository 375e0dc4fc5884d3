package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Dumps `.explain("formatted")` of named queries, or of every registered
  * query when none is named, to `<outDir>/<name><suffix>.txt` — the
  * optimization-round evidence files (`plans/r15/<query>_before.txt` /
  * `_after.txt`).
  *
  * Usage: sbt "runMain graft.GenPlanFiles <outDir> <suffix> [q1 q2 ...]"
  * Data dir from $SPARK_GRAFT_SF_DIR (default sf0.1); the session is
  * [[GraftSession]]'s, so dumped plans carry the same partitioning/AQE
  * decisions the bench executes. */
object GenPlanFiles {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    Files.createDirectories(outDir)
    val suffix = args(1)
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus)
    // NonFatal only + nonzero exit on any failure (r15 ADVICE): a
    // swallowed error with exit 0 silently produces missing/stale plan
    // evidence files
    var failed = 0
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, dir)
        val txt = df.queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        Files.writeString(outDir.resolve(s"$n$suffix.txt"), txt)
        println(s"WROTE $n$suffix.txt (${txt.length} chars)")
      } catch { case scala.util.control.NonFatal(e) =>
        failed += 1; println(s"FAILED $n: $e")
      }
      finally CacheRegistry.releaseAll()
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
