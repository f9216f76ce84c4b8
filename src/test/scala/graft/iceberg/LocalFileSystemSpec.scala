package graft.iceberg

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The engine's local filesystem ([[HadoopConfs.fileSystemFor]] on a
  * `file:` path) leaves on disk exactly what Hadoop's resolved one does,
  * and a table's commits start no process. */
class LocalFileSystemSpec extends SparkSpec {

  private val hadoopFs = FileSystem.get(new java.net.URI("file:///"), new Configuration())
  private val engineFs = HadoopConfs.fileSystemFor(new Path("file:///"), new Configuration())

  private def tmp(tag: String): String = Files.createTempDirectory(s"graft-lfs-$tag").toString

  private def mode(p: String): (Set[java.nio.file.attribute.PosixFilePermission], Int) =
    (Files.getPosixFilePermissions(Paths.get(p)).asScala.toSet,
      Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int])

  private def bytes(p: String): Seq[Byte] = Files.readAllBytes(Paths.get(p)).toSeq

  test("the engine's filesystem is its own only for file: paths") {
    assert(engineFs.isInstanceOf[EngineLocalFs], engineFs.getClass)
    assert(!hadoopFs.isInstanceOf[EngineLocalFs], hadoopFs.getClass)
    assert(HadoopConfs.fileSystemFor(tmp("bare")) eq engineFs)
    val counted = new Configuration()
    counted.set("fs.file.impl", classOf[CommitIoCountingFs].getName)
    counted.setBoolean("fs.file.impl.disable.cache", true)
    assert(HadoopConfs.fileSystemFor(new Path("file:///tmp"), counted).getClass ==
      classOf[CommitIoCountingFs])
  }

  test("bytes, .crc sidecars and modes equal Hadoop's for files and mkdirs") {
    val payload = Array.tabulate[Byte](200000)(i => (i * 31 + i / 7).toByte)
    val (a, b) = (tmp("hadoop"), tmp("engine"))
    def writeAll(fs: FileSystem, dir: String): Unit = {
      val out = fs.create(new Path(s"$dir/d/f.bin"), true)
      try out.write(payload) finally out.close()
      val perm = fs.create(new Path(s"$dir/d/g.bin"), new FsPermission("640"), true,
        4096, 1.toShort, 32L << 20, null)
      try perm.write(payload, 0, 1000) finally perm.close()
      assert(fs.mkdirs(new Path(s"$dir/x/y/z")))
      // the sticky bit is a mode NIO cannot set: Hadoop's own path sets it
      assert(fs.mkdirs(new Path(s"$dir/s")))
      fs.setPermission(new Path(s"$dir/s"), new FsPermission(Integer.parseInt("1777", 8).toShort))
    }
    writeAll(hadoopFs, a)
    writeAll(engineFs, b)
    for (f <- Seq("d/f.bin", "d/.f.bin.crc", "d/g.bin", "d/.g.bin.crc")) {
      assert(bytes(s"$b/$f") == bytes(s"$a/$f"), f)
      assert(mode(s"$b/$f") == mode(s"$a/$f"), f)
    }
    for (d <- Seq("d", "x", "x/y", "x/y/z", "s")) assert(mode(s"$b/$d") == mode(s"$a/$d"), d)
    assert((mode(s"$b/s")._2 & Integer.parseInt("1000", 8)) != 0, "sticky bit")
    assert(mode(s"$b/d/g.bin")._1.map(_.toString) ==
      Set("OWNER_READ", "OWNER_WRITE", "GROUP_READ"))
  }

  test("rename onto an existing file returns false and leaves both files") {
    for (fs <- Seq(hadoopFs, engineFs)) {
      val d = tmp("rename")
      Files.write(Paths.get(s"$d/src"), "src".getBytes)
      Files.write(Paths.get(s"$d/dst"), "dst".getBytes)
      assert(!fs.rename(new Path(s"$d/src"), new Path(s"$d/dst")), fs.getClass)
      assert(new String(Files.readAllBytes(Paths.get(s"$d/src"))) == "src")
      assert(new String(Files.readAllBytes(Paths.get(s"$d/dst"))) == "dst")
      assert(fs.rename(new Path(s"$d/src"), new Path(s"$d/moved")))
      assert(Files.exists(Paths.get(s"$d/moved")) && !Files.exists(Paths.get(s"$d/src")))
    }
  }

  /** The command lines of the processes this JVM starts while `op` runs. */
  private def processesStarted(op: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try op finally rec.stop()
    val f = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(f)
      jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(f) }
  }

  private def naming(cmds: Seq[String], dir: String): Seq[String] = {
    val canonical = new java.io.File(dir).getCanonicalPath
    cmds.filter(c => c.contains(dir) || c.contains(canonical))
  }

  private def catalog(name: String): String = {
    val wh = tmp(name)
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    s"$wh/db/t"
  }

  private def commitsStartNoProcess(name: String, version: Int): Unit = {
    val dir = catalog(name)
    val control = tmp(s"$name-control")
    val cmds = processesStarted {
      spark.sql(s"CREATE TABLE $name.db.t (k BIGINT, v STRING) TBLPROPERTIES (" +
        s"'format-version'='$version', 'write.delete.mode'='merge-on-read', " +
        "'write.update.mode'='merge-on-read')")
      GraftTable.append(spark, dir, spark.range(0, 40).select(col("id").as("k"),
        concat(lit("v"), col("id")).as("v")))
      spark.sql(s"INSERT INTO $name.db.t SELECT id, 'w' FROM range(40, 80)")
      spark.sql(s"CALL $name.system.rewrite_data_files(table => 'db.t')")
      spark.sql(s"DELETE FROM $name.db.t WHERE k % 7 = 0")
      spark.sql(s"UPDATE $name.db.t SET v = 'u' WHERE k % 5 = 1")
      // an equality delete, then its resolution into position deletes
      GraftTable.upsert(spark, dir, spark.range(2, 4).select(col("id").as("k"),
        lit("x").as("v")), Seq("k"))
      spark.sql(s"CALL $name.system.rewrite_position_delete_files(table => 'db.t')")
      spark.sql(s"CALL $name.system.expire_snapshots('db.t', 1)")
      spark.sql(s"CALL $name.system.rewrite_manifests(table => 'db.t')")
      // Hadoop's own filesystem, in the same recording: what a fork looks like
      hadoopFs.create(new Path(s"$control/f"), true).close()
    }
    if (!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded)
      assert(naming(cmds, control).nonEmpty, cmds.mkString("\n"))
    assert(naming(cmds, dir).isEmpty, naming(cmds, dir).mkString("\n"))
    val rows = spark.sql(s"SELECT k, v FROM $name.db.t").collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == (0L until 80L).filter(_ % 7 != 0))
    assert(rows.count(_.getString(1) == "u") == (0L until 80L).count(k => k % 7 != 0 && k % 5 == 1))
    assert(rows.filter(_.getString(1) == "x").map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
  }

  test("a v2 table's commits, merge-on-read DML and maintenance start no process") {
    commitsStartNoProcess("lfs2", 2)
  }

  test("a v3 table's deletion-vector commits start no process") {
    commitsStartNoProcess("lfs3", 3)
    val dir = s"${spark.conf.get("spark.sql.catalog.lfs3.warehouse")}/db/t"
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val deletes = meta.currentSnapshot.toSeq
      .flatMap(s => ManifestListReader.read(s.manifestList.get))
      .filter(_.content == 1).flatMap(i => ManifestWriter.read(i.path))
      .filter(_.status != 2)
    assert(deletes.nonEmpty && deletes.forall(_.fileFormat == "PUFFIN"),
      deletes.map(e => (e.fileFormat, e.filePath)))
  }
}
