package graft

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

/** The local filesystem under the `flaky` scheme, with one-shot injected
  * failures: [[FlakyFileSystem.failOnce]] makes the next `exists` or
  * `listStatus` on a path ending in a given suffix throw an IOException,
  * as a remote store's transient error would.
  */
class FlakyFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("flaky:///")
  override def getScheme: String = "flaky"
  override def exists(f: Path): Boolean = {
    FlakyFileSystem.trip("exists", f)
    super.exists(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    FlakyFileSystem.trip("listStatus", f)
    super.listStatus(f)
  }
}

object FlakyFileSystem {
  private val armed = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Registers the scheme with the session; returns `dir` under it. */
  def path(spark: org.apache.spark.sql.SparkSession, dir: String): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.flaky.impl", classOf[FlakyFileSystem].getName)
    s"flaky://$dir"
  }

  /** The next `op` ("exists" or "listStatus") on a path ending in `suffix` fails. */
  def failOnce(op: String, suffix: String): Unit = armed.put(op, suffix)

  def armedOps: Int = armed.size

  private def trip(op: String, f: Path): Unit = {
    val suffix = armed.get(op)
    if (suffix != null && f.toString.endsWith(suffix) && armed.remove(op, suffix))
      throw new java.io.IOException(s"injected $op failure on $f")
  }
}
