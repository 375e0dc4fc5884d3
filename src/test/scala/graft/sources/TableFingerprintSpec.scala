package graft.sources

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** `TableFingerprint` sees every file of a table, nested ones included, so
  * caches keyed on it cannot serve entries for a partitioned table whose
  * data changed under the same top-level listing. */
class TableFingerprintSpec extends AnyFunSuite {
  private val spark = graft.TestSpark.spark

  /** The top-level-only listing the fingerprint used before it recursed. */
  private def flatListing(path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(_.isFile).sortBy(_.getPath.getName)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .mkString(",")
  }

  test("rewriting one partition of a year=/month= table changes the fingerprint") {
    val path = java.nio.file.Files.createTempDirectory("graft_fp_part").toString + "/t.parquet"
    spark.range(120).selectExpr("id", "2020 + id % 2 AS year", "1 + id % 3 AS month")
      .write.partitionBy("year", "month").parquet(path)
    val before = TableFingerprint.of(spark, path)
    val topLevelBefore = flatListing(path)
    assert(before.contains("year=2020/month=2/part-"), before)
    assert(!before.contains(path), "entries are relative to the table root")

    spark.range(7).write.mode("overwrite").parquet(s"$path/year=2020/month=2")
    val after = TableFingerprint.of(spark, path)
    assert(after != before)
    assert(flatListing(path) == topLevelBefore, "the top-level files alone cannot see the rewrite")
  }

  test("a flat table keeps its top-level fingerprint string") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fp_flat").toString
    spark.range(50).repartition(3).write.parquet(s"$dir/t.parquet")
    assert(TableFingerprint.of(spark, s"$dir/t.parquet") == flatListing(s"$dir/t.parquet"))
    val singleFile = s"${graft.TestSpark.sf}/events.parquet"
    assert(TableFingerprint.of(spark, singleFile) == flatListing(singleFile))
    assert(TableFingerprint.of(spark, singleFile).startsWith("events.parquet:"))
  }
}
