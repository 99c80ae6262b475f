package graft.tables

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one place a path string becomes a Hadoop [[FileSystem]] handle —
  * resolved from the path URI (`file:`/`hdfs:`/`s3a:` all take the same
  * code), configured from the session. Every maintenance operator goes
  * through here; `java.io.File` never touches table storage — only local
  * scratch directories, which [[rmTree]] removes. */
private[graft] object Hfs {
  def fsFor(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Best-effort recursive delete of a local directory (or file). */
  def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmTree)); f.delete(): Unit
  }
}
