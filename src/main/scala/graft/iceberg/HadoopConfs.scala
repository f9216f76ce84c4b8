package graft.iceberg

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.parquet.hadoop.util.{HadoopOutputFile, HadoopStreams}
import org.apache.parquet.io.{OutputFile, PositionOutputStream}
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
  * through [[open]] (or [[readFully]] for a whole document).
  *
  * And its one filesystem resolver, [[fileSystemFor]]. A `file:` path gets
  * the engine's own local filesystem, because Hadoop's forks a process per
  * file it creates: without libhadoop, `RawLocalFileSystem.setPermission`
  * runs `chmod`, once for the file and once for its `.crc` sidecar, which
  * made the chmod forks the largest fixed cost of a commit. The engine's
  * filesystem is Hadoop's `LocalFileSystem` over a raw layer that sets the
  * same mode bits (after the conf umask, as Hadoop applies it) through
  * `Files.setPosixFilePermissions`. The bytes, the `.crc` sidecars and the
  * modes on disk are Hadoop's; only a mode NIO cannot express (the sticky
  * bit) or a store without POSIX attributes still goes through Hadoop's own
  * `setPermission`. It also keeps the rename rule of the `file:` class
  * Hadoop resolves (see [[EngineLocalFs]]). A conf that names an
  * `fs.file.impl`, a `file:` class other than `LocalFileSystem` or Hive's
  * subclass of it, and every other scheme resolve through
  * `FileSystem.get` as before. */
object HadoopConfs {
  def active(): Configuration =
    scala.util.Try(SparkSession.active.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  def fileSystemFor(p: String): FileSystem = fileSystemFor(new Path(p), active())

  /** Executor-side variant: resolve against a SHIPPED configuration (see
    * [[SerializableHadoopConf]]) — `SparkSession.active` does not exist on
    * executors, and a fresh `new Configuration()` there would drop the
    * session's fs.* settings and credentials. `FileSystem.get` caches per
    * (scheme, authority, ugi), so per-file calls are cheap; the engine's
    * local filesystem is built once per JVM, from the first conf that
    * asks for it, as `FileSystem.get` builds its cached one. A path with
    * no scheme is a local path. */
  def fileSystemFor(p: Path, conf: Configuration): FileSystem = {
    val u = p.toUri
    if (u.getScheme == null || (u.getScheme == "file" && u.getAuthority == null))
      engineLocal(conf).getOrElse(FileSystem.get(new java.net.URI("file:///"), conf))
    else FileSystem.get(u, conf)
  }

  @volatile private var local: Option[FileSystem] = _

  private def engineLocal(conf: Configuration): Option[FileSystem] =
    if (conf.get("fs.file.impl") != null) None
    else {
      if (local == null) synchronized {
        if (local == null) local = {
          val hadoops = FileSystem.getFileSystemClass("file", conf)
          val proxy = hadoops.getName == "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem"
          Option.when(hadoops == classOf[LocalFileSystem] || proxy) {
            val fs = new EngineLocalFs(refuseFileDst = proxy)
            fs.setConf(conf)
            fs.initialize(new java.net.URI("file:///"), conf)
            fs
          }
        }
      }
      local
    }

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

  /** A parquet file to write on [[fileSystemFor]]'s filesystem, created
    * with `HadoopOutputFile`'s arguments (`HadoopOutputFile.fromPath`
    * resolves its own filesystem). */
  def parquetOutput(p: Path, conf: Configuration): OutputFile = new OutputFile {
    private val fs = fileSystemFor(p, conf)
    private def create(overwrite: Boolean, blockSizeHint: Long): PositionOutputStream =
      HadoopStreams.wrap(fs.create(p, overwrite, 4096, fs.getDefaultReplication(p),
        math.max(fs.getDefaultBlockSize(p), blockSizeHint)))
    override def create(blockSizeHint: Long): PositionOutputStream = create(false, blockSizeHint)
    override def createOrOverwrite(blockSizeHint: Long): PositionOutputStream =
      create(true, blockSizeHint)
    override def supportsBlockSize: Boolean =
      HadoopOutputFile.getBlockFileSystems.contains(fs.getUri.getScheme)
    override def defaultBlockSize: Long = fs.getDefaultBlockSize(p)
    override def getPath: String = p.toString
  }
}

/** The engine's local filesystem: Hadoop's checksummed `LocalFileSystem`
  * over [[NioPermissionsRawFs]]. `refuseFileDst` keeps the rule of Hive's
  * `ProxyLocalFileSystem`, which hive-exec registers for `file:` and whose
  * one override makes `rename` onto an existing file return false (the
  * plain raw rename would replace it). */
private[iceberg] final class EngineLocalFs(refuseFileDst: Boolean)
    extends LocalFileSystem(new NioPermissionsRawFs) {
  override def rename(src: Path, dst: Path): Boolean =
    !(refuseFileDst && isExistingFile(dst)) && super.rename(src, dst)

  private def isExistingFile(p: Path): Boolean =
    try getFileStatus(p).isFile catch { case _: java.io.FileNotFoundException => false }
}

/** `RawLocalFileSystem` whose `setPermission` (the one call its create and
  * mkdirs make to set a mode) changes the mode in-process. */
private final class NioPermissionsRawFs extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val bits = java.util.EnumSet.noneOf(classOf[java.nio.file.attribute.PosixFilePermission])
      // values() runs OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
      java.nio.file.attribute.PosixFilePermission.values().zipWithIndex.foreach {
        case (b, i) => if ((mode & (0x100 >> i)) != 0) bits.add(b)
      }
      try java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }
}
