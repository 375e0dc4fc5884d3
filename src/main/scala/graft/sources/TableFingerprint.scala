package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** File-level content fingerprint of a parquet table: paths, sizes, and
  * mtimes of its files — a listing, not a data scan (the same check a table
  * format does against its snapshot id). Spark writes fresh UUID part-file
  * names on every overwrite, so ANY rewrite of the data — even an in-place
  * same-size one — changes the fingerprint. The listing is recursive, with
  * each path relative to the table root, so rewriting one partition of a
  * `year=/month=` table changes it too; a flat table's entries are its bare
  * file names. Used to key derived-artifact caches (trained centroids,
  * signature stores, inferred schemas) so they can never serve results for
  * data that is no longer there. */
object TableFingerprint {

  def of(s: SparkSession, path: String): String = {
    val root = new Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    def files(dir: Path, prefix: String): Seq[(String, FileStatus)] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val rel = prefix + st.getPath.getName
        if (st.isDirectory) files(st.getPath, rel + "/")
        else if (st.isFile) Seq(rel -> st)
        else Nil
      }
    files(root, "").sortBy(_._1)
      .map { case (rel, st) => s"$rel:${st.getLen}:${st.getModificationTime}" }
      .mkString(",")
  }
}
