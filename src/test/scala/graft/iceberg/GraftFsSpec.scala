package graft.iceberg

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** A filesystem with an authority, for tests: `graftfs://<a>/p` is the
  * local file `<root of a>/p`, each authority on its own local directory
  * ([[GraftFs.mount]]). Registered through `fs.graftfs.impl`. */
class GraftFs extends FileSystem {
  private var uri: URI = _
  private var local: FileSystem = _

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    uri = URI.create(s"graftfs://${name.getAuthority}/")
    local = FileSystem.getLocal(conf)
  }

  override def getScheme: String = "graftfs"
  override def getUri: URI = uri
  override def getWorkingDirectory: Path = new Path(uri)
  override def setWorkingDirectory(dir: Path): Unit = ()

  private def root: String = GraftFs.roots(uri.getAuthority)
  private def toLocal(p: Path): Path = new Path(root + makeQualified(p).toUri.getPath)
  private def fromLocal(p: Path): Path = {
    val rel = p.toUri.getPath.stripPrefix(root)
    new Path(uri.getScheme, uri.getAuthority, if (rel.isEmpty) "/" else rel)
  }
  private def mapped(st: FileStatus): FileStatus = {
    val s = new FileStatus(st)
    s.setPath(fromLocal(st.getPath))
    s
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    local.open(toLocal(f), bufferSize)
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    local.create(toLocal(f), permission, overwrite, bufferSize, replication,
      blockSize, progress)
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    local.append(toLocal(f), bufferSize, progress)
  override def rename(src: Path, dst: Path): Boolean = local.rename(toLocal(src), toLocal(dst))
  override def delete(f: Path, recursive: Boolean): Boolean = local.delete(toLocal(f), recursive)
  override def listStatus(f: Path): Array[FileStatus] = local.listStatus(toLocal(f)).map(mapped)
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    local.mkdirs(toLocal(f), permission)
  override def getFileStatus(f: Path): FileStatus = mapped(local.getFileStatus(toLocal(f)))
}

object GraftFs {
  @volatile private[iceberg] var roots: Map[String, String] = Map.empty
  def mount(authority: String, localRoot: String): Unit = synchronized {
    roots += authority -> localRoot
  }
}

/** The table format on a filesystem with an authority: the same DML,
  * DV-merge, expiry and orphan-sweep sequence on `graftfs://a/t` — and
  * the SQL UPDATE, MERGE, DELETE and rewrite procedures through a catalog
  * whose warehouse is `graftfs://a/wh` — give the answers they give on a
  * local directory, and a twin table at `graftfs://b` (the same path
  * component on another authority) is neither read nor touched. */
class GraftFsSpec extends SparkSpec {

  private val schema = IcebergSchema(0, Seq(
    IcebergField(1, "k", required = false, "long"),
    IcebergField(2, "v", required = false, "string")))

  private def rows(from: Long, until: Long) = {
    import spark.implicits._
    (from until until).map(k => (k, s"v$k")).toDF("k", "v")
  }

  private def keys(dir: String): Seq[Long] =
    GraftTable.read(spark, GraftTable.latestMetadataPath(dir))
      .select("k").collect().map(_.getLong(0)).sorted.toSeq

  private def seed(dir: String, uuid: String): Unit = {
    GraftTable.create(dir, schema, tableUuid = uuid, timestampMs = 1700000000000L)
    GraftTable.append(spark, dir, rows(0, 40))
    GraftTable.append(spark, dir, rows(40, 80))
  }

  /** create → append → v2 DELETE → read; upgrade; two v3 DELETEs over
    * the file the v2 delete addresses (the first merges its parquet
    * positions into a DV, the second merges that DV); expiry; the orphan
    * sweep. Returns every answer in order. */
  private def sequence(dir: String): Seq[Any] = {
    seed(dir, "b6b9a6a1-0000-4000-8000-0000000af501")
    GraftTable.deleteWhere(spark, dir, col("k") < 10L)
    val afterV2 = keys(dir)
    GraftTable.upgradeFormatVersion(dir, 3)
    GraftTable.deleteWhere(spark, dir, col("k").between(10L, 14L))
    val afterDv1 = keys(dir)
    GraftTable.deleteWhere(spark, dir,
      col("k").between(15L, 19L) || col("k").between(40L, 44L))
    val afterDv2 = keys(dir)
    // one live DV per covered file, naming it as its manifest does
    val entries = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
      .currentSnapshot.toSeq.flatMap(s => ManifestListReader.read(s.manifestList.get))
      .flatMap(i => ManifestWriter.read(i.path)).filter(_.status != 2)
    val dvs = entries.filter(_.fileFormat == "PUFFIN")
    val dataPaths = entries.filter(_.content == 0).map(_.filePath).toSet
    assert(dvs.flatMap(_.referencedDataFile).forall(dataPaths), dvs)
    val dvCounts = dvs.map(_.recordCount).sorted
    GraftTable.expireSnapshots(spark, dir, keepLast = 1)
    val afterExpiry = keys(dir)
    val snapshots = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir)).snapshots.size
    val fs = HadoopConfs.fileSystemFor(dir)
    val debris = new Path(s"$dir/data/zz-orphan.parquet")
    val out = fs.create(debris)
    out.write("never committed".getBytes); out.close()
    val swept = GraftTable.removeOrphanFiles(spark, dir)
    Seq(afterV2, afterDv1, afterDv2, dvCounts, afterExpiry, snapshots, swept,
      fs.exists(debris), keys(dir))
  }

  /** (relative path, length, mtime) of every file under `root`. */
  private def tree(root: String): Set[(String, Long, Long)] = {
    val base = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(base)
    try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map { p =>
      (base.relativize(p).toString, java.nio.file.Files.size(p),
        java.nio.file.Files.getLastModifiedTime(p).toMillis)
    }.toSet
    finally walk.close()
  }

  test("DML, DV merge, expiry and the orphan sweep on graftfs://a match a " +
      "local directory and leave graftfs://b alone") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-graftfs").toString
    GraftFs.mount("a", s"$tmp/a")
    GraftFs.mount("b", s"$tmp/b")
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftfs.impl", classOf[GraftFs].getName)
    try {
      seed("graftfs://b/t", "b6b9a6a1-0000-4000-8000-0000000af502")
      val twinBefore = tree(s"$tmp/b")
      assert(keys("graftfs://b/t") == (0L until 80L))

      val onA = sequence("graftfs://a/t")
      val onLocal = sequence(s"$tmp/local/t")
      val live = (20L until 80L).filterNot(k => k >= 40L && k <= 44L)
      assert(onLocal(2) == live, onLocal)
      assert(onLocal(6) == 1L && onLocal(7) == false, onLocal)
      assert(onA == onLocal)

      assert(tree(s"$tmp/b") == twinBefore, "a graftfs://a operation touched graftfs://b")
      assert(keys("graftfs://b/t") == (0L until 80L))
    } finally hc.unset("fs.graftfs.impl")
  }

  /** Merge-on-read UPDATE, MERGE and DELETE, then both rewrite
    * procedures, through catalog `cat`; the table's rows after each. */
  private def sqlSequence(cat: String): Seq[Seq[(Long, String)]] = {
    def rowsNow() = spark.sql(s"SELECT k, v FROM $cat.db.t").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) TBLPROPERTIES (" +
      "'write.update.mode'='merge-on-read', 'write.delete.mode'='merge-on-read', " +
      "'write.merge.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, concat('v', id) FROM range(0, 40)")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, concat('v', id) FROM range(40, 80)")
    spark.sql(s"UPDATE $cat.db.t SET v = 'u' WHERE k % 7 = 0")
    val afterUpdate = rowsNow()
    spark.sql(s"""MERGE INTO $cat.db.t t
      USING (SELECT id AS k, 'm' AS v FROM range(75, 85)) s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *""")
    val afterMerge = rowsNow()
    spark.sql(s"DELETE FROM $cat.db.t WHERE k < 5")
    spark.sql(s"CALL $cat.system.rewrite_position_delete_files(table => 'db.t')")
    val afterDeletes = rowsNow()
    spark.sql(s"CALL $cat.system.rewrite_data_files(table => 'db.t')")
    Seq(afterUpdate, afterMerge, afterDeletes, rowsNow())
  }

  test("SQL UPDATE, MERGE, DELETE and the rewrite procedures on a graftfs://a " +
      "warehouse match a local one and leave graftfs://b alone") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-graftfs-sql").toString
    GraftFs.mount("a", s"$tmp/a")
    GraftFs.mount("b", s"$tmp/b")
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftfs.impl", classOf[GraftFs].getName)
    def catalog(name: String, warehouse: String): Unit = {
      spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse)
    }
    try {
      seed("graftfs://b/wh/db/t", "b6b9a6a1-0000-4000-8000-0000000af503")
      val twinBefore = tree(s"$tmp/b")
      catalog("gfs_a", "graftfs://a/wh")
      catalog("gfs_local", s"$tmp/local/wh")
      val onA = sqlSequence("gfs_a")
      val onLocal = sqlSequence("gfs_local")
      val want = (0L until 85L).map(k =>
        (k, if (k >= 75L) "m" else if (k % 7 == 0) "u" else s"v$k")).filter(_._1 >= 5L)
      assert(onLocal.last == want, onLocal.last)
      assert(onA == onLocal)
      assert(HadoopConfs.fileSystemFor("graftfs://a/wh/db/t")
        .exists(new Path("graftfs://a/wh/db/t/data")))
      assert(tree(s"$tmp/b") == twinBefore, "a graftfs://a operation touched graftfs://b")
      assert(keys("graftfs://b/wh/db/t") == (0L until 80L))
    } finally hc.unset("fs.graftfs.impl")
  }
}
