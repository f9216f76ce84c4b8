package graft.iceberg

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Driver-side Hadoop configuration resolution: prefer the active Spark
  * session's conf (it carries the user's fs.* settings and credentials for
  * hdfs:// / s3a:// paths) and fall back to a bare `Configuration` only
  * when no session exists (e.g. plain-JVM CLI usage, where local files are
  * the norm). A fresh `new Configuration()` at an hdfs/s3a call site would
  * silently ignore the session's settings.
  *
  * Also the table format's one file opener: every read of a metadata
  * document, manifest list, manifest, Puffin file or Avro data file goes
  * through [[open]] (or [[readFully]] for a whole document). */
object HadoopConfs {
  def active(): Configuration =
    scala.util.Try(SparkSession.active.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  def fileSystemFor(p: String): FileSystem = fileSystemFor(new Path(p), active())

  /** Executor-side variant: resolve against a SHIPPED configuration (see
    * [[SerializableHadoopConf]]) — `SparkSession.active` does not exist on
    * executors, and a fresh `new Configuration()` there would drop the
    * session's fs.* settings and credentials. `FileSystem.get` caches per
    * (scheme, authority, ugi), so per-file calls are cheap. A path with
    * no scheme is a local path. */
  def fileSystemFor(p: Path, conf: Configuration): FileSystem =
    FileSystem.get(p.toUri match {
      case u if u.getScheme == null => new java.net.URI("file:///")
      case u => u
    }, conf)

  /** Open `p` on its own filesystem (any scheme and authority). */
  def open(p: String, conf: Configuration = active()): FSDataInputStream = {
    val hp = new Path(p)
    fileSystemFor(hp, conf).open(hp)
  }

  def length(p: String, conf: Configuration = active()): Long = {
    val hp = new Path(p)
    fileSystemFor(hp, conf).getFileStatus(hp).getLen
  }

  /** The whole of `p`, read at its known length (one status call and one
    * positioned read; no growing buffer). */
  def readFully(p: String, conf: Configuration = active()): Array[Byte] = {
    val buf = new Array[Byte](Math.toIntExact(length(p, conf)))
    val in = open(p, conf)
    try in.readFully(0, buf) finally in.close()
    buf
  }
}
