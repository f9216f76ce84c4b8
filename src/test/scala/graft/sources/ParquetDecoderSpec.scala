package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.iceberg._

/** Characterization of the graft-table parquet decoder: the values of
  * every column it serves (`_file`, `_pos`, `_row_id`,
  * `_last_updated_sequence_number`, `delete_file_path`, initial
  * defaults, renamed and nested columns) under every delete kind, and
  * the route each scan takes. A scan whose data files are all parquet
  * decodes columnar batches (a ColumnarToRow node sits above the
  * BatchScan); a scan holding an Avro file emits rows. */
class ParquetDecoderSpec extends SparkSpec {

  private def freshCatalog(name: String): String = {
    val wh = java.nio.file.Files.createTempDirectory(s"graft-$name").toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    wh
  }

  private def isColumnar(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("ColumnarToRow")

  /** Live data-file paths of the table's head snapshot, with their
    * manifest entries. */
  private def liveData(dir: String): Seq[ManifestWriter.EntryData] =
    TableMetadata.parseFile(GraftTable.latestMetadataPath(dir)).currentSnapshot.toSeq
      .flatMap(s => ManifestListReader.read(s.manifestList.get))
      .flatMap(i => ManifestWriter.read(i.path))
      .filter(e => e.status != 2 && e.content == 0)

  test("v3 lineage columns over a DV, a materialized-lineage file and a first_row_id file") {
    val wh = freshCatalog("pdec1")
    spark.sql("CREATE TABLE pdec1.db.t (k BIGINT, v STRING) TBLPROPERTIES (" +
      "'format-version'='3', 'commit-timestamp-ms'='1700000000000')")
    val dir = s"$wh/db/t"
    def rows(from: Long, until: Long): DataFrame =
      spark.range(from, until).coalesce(1).select(col("id").as("k"),
        concat(lit("v"), col("id")).as("v"))
    GraftTable.append(spark, dir, rows(0, 10))
    spark.sql("DELETE FROM pdec1.db.t WHERE k = 2")
    spark.sql("CALL pdec1.system.rewrite_data_files(table => 'db.t')")
    GraftTable.append(spark, dir, rows(10, 20))
    spark.sql("DELETE FROM pdec1.db.t WHERE k IN (5, 12)")
    val entries = liveData(dir)
    assert(entries.size == 2)
    val rewritten = entries.find(_.firstRowId.isEmpty).get.filePath
    val appended = entries.find(_.firstRowId.isDefined).get
    // the rewrite claims no id block: the counter stood at 10
    assert(appended.firstRowId.contains(10L), appended.firstRowId)

    val df = spark.sql("SELECT k, _file, _pos, _row_id, _last_updated_sequence_number " +
      "FROM pdec1.db.t")
    val got = df.collect().map { r =>
      val tag = r.getString(1) match {
        case `rewritten` => "R"
        case p if p == appended.filePath => "B"
        case other => other
      }
      (r.getLong(0), tag, r.getLong(2), r.getLong(3), r.getLong(4))
    }.sortBy(_._1).toSeq
    val want =
      Seq(0L, 1L, 3L, 4L, 6L, 7L, 8L, 9L).map { k =>
        // the rewritten file holds the 9 survivors of k = 2 in key order
        // and carries their original ids and sequence
        val pos = if (k < 2) k else k - 1
        (k, "R", pos, k, 1L)
      } ++ (10L until 20L).filterNot(_ == 12L).map { k =>
        (k, "B", k - 10L, k, 4L)
      }
    assert(got == want, got.mkString("\n"))
    assert(isColumnar(df), df.queryExecution.executedPlan.toString)
  }

  test("struct and map columns under position and equality deletes") {
    val wh = freshCatalog("pdec2")
    // partitioned: the upsert's task writers stamp the data file's stats
    spark.sql("CREATE TABLE pdec2.db.t (k INT, p INT, s STRUCT<a: INT, b: STRING>, " +
      "m MAP<STRING, INT>) PARTITIONED BY (p) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql("INSERT INTO pdec2.db.t SELECT CAST(id AS INT), CAST(id % 2 AS INT), " +
      "named_struct('a', CAST(id * 10 AS INT), 'b', concat('b', id)), " +
      "map(concat('m', id), CAST(id AS INT)) FROM range(0, 12)")
    spark.sql("DELETE FROM pdec2.db.t WHERE k IN (1, 4, 9)")
    val dir = s"$wh/db/t"
    GraftTable.upsert(spark, dir, spark.sql("SELECT 6 AS k, 0 AS p, " +
      "named_struct('a', 600, 'b', 'up') AS s, map('up', 6) AS m"), Seq("k"))
    val df = spark.sql("SELECT k, s, m FROM pdec2.db.t")
    val got = df.collect().map(r => (r.getInt(0), r.getStruct(1).getInt(0),
      r.getStruct(1).getString(1), r.getMap[String, Int](2).toMap)).sortBy(_._1).toSeq
    val want = (0 until 12).filterNot(Set(1, 4, 9)).map { k =>
      if (k == 6) (6, 600, "up", Map("up" -> 6))
      else (k, k * 10, s"b$k", Map(s"m$k" -> k))
    }
    assert(got == want, got.mkString("\n"))
    // the struct's children alone, through the same selection
    val sb = spark.sql("SELECT k, s.b FROM pdec2.db.t").collect()
      .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    assert(sb == want.map(w => (w._1, w._3)))
    assert(isColumnar(df), df.queryExecution.executedPlan.toString)
  }

  test("upsert into an unpartitioned struct/map table bounds only its primitive columns") {
    val wh = freshCatalog("pdec2u")
    spark.sql("CREATE TABLE pdec2u.db.t (k INT, s STRUCT<a: INT, b: STRING>, " +
      "m MAP<STRING, INT>)")
    spark.sql("INSERT INTO pdec2u.db.t SELECT CAST(id AS INT), " +
      "named_struct('a', CAST(id * 10 AS INT), 'b', concat('b', id)), " +
      "map(concat('m', id), CAST(id AS INT)) FROM range(0, 6)")
    val dir = s"$wh/db/t"
    GraftTable.upsert(spark, dir, spark.sql("SELECT 2 AS k, " +
      "named_struct('a', 200, 'b', 'up') AS s, map('up', 2) AS m UNION ALL SELECT 9, " +
      "named_struct('a', 900, 'b', 'new'), map('new', 9)"), Seq("k"))
    val got = spark.sql("SELECT k, s, m FROM pdec2u.db.t").collect()
      .map(r => (r.getInt(0), r.getStruct(1).getInt(0), r.getStruct(1).getString(1),
        r.getMap[String, Int](2).toMap)).sortBy(_._1).toSeq
    val want = ((0 until 6) :+ 9).map {
      case 2 => (2, 200, "up", Map("up" -> 2))
      case 9 => (9, 900, "new", Map("new" -> 9))
      case k => (k, k * 10, s"b$k", Map(s"m$k" -> k))
    }
    assert(got == want, got.mkString("\n"))
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val k = meta.currentSchema.fields.find(_.name == "k").get.id
    val upserted = liveData(dir).filter(_.filePath.contains("/upsert-"))
    assert(upserted.size == 1, upserted.map(_.filePath))
    // no bound for the struct, the map or their children
    assert(upserted.head.lowerBounds.keySet == Set(k), upserted.head.lowerBounds.keySet)
    assert(upserted.head.upperBounds.keySet == Set(k), upserted.head.upperBounds.keySet)
  }

  test("initial-default column reads its default beside a pending delete") {
    freshCatalog("pdec3")
    spark.sql("CREATE TABLE pdec3.db.t (k BIGINT) TBLPROPERTIES " +
      "('write.delete.mode'='merge-on-read')")
    spark.sql("INSERT INTO pdec3.db.t VALUES (1), (2), (3), (4), (5)")
    spark.sql("ALTER TABLE pdec3.db.t ADD COLUMN region STRING DEFAULT 'emea'")
    spark.sql("INSERT INTO pdec3.db.t VALUES (6, 'apac'), (7, NULL)")
    spark.sql("DELETE FROM pdec3.db.t WHERE k = 2")
    val df = spark.sql("SELECT k, region FROM pdec3.db.t")
    val got = df.collect().map(r => (r.getLong(0), Option(r.getString(1))))
      .sortBy(_._1).toSeq
    assert(got == Seq((1L, Some("emea")), (3L, Some("emea")), (4L, Some("emea")),
      (5L, Some("emea")), (6L, Some("apac")), (7L, None)), got.mkString(", "))
    assert(isColumnar(df), df.queryExecution.executedPlan.toString)
  }

  test("an equality delete written before RENAME COLUMN still applies") {
    val wh = freshCatalog("pdec4")
    spark.sql("CREATE TABLE pdec4.db.t (k INT, name STRING)")
    spark.sql("INSERT INTO pdec4.db.t SELECT CAST(id AS INT), concat('n', id) " +
      "FROM range(0, 10)")
    val dir = s"$wh/db/t"
    GraftTable.upsert(spark, dir, spark.sql("SELECT 3 AS k, 'three' AS name"), Seq("k"))
    spark.sql("ALTER TABLE pdec4.db.t RENAME COLUMN k TO key")
    val df = spark.sql("SELECT key, name FROM pdec4.db.t")
    val got = df.collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == (0 until 10).map(k => (k, if (k == 3) "three" else s"n$k")),
      got.mkString(", "))
    // the equality column unselected: the delete still applies
    assert(spark.sql("SELECT name FROM pdec4.db.t").collect().map(_.getString(0))
      .sorted.toSeq == ((0 until 10).filterNot(_ == 3).map(k => s"n$k") :+ "three").sorted)
    assert(isColumnar(df), df.queryExecution.executedPlan.toString)
  }

  test("decimal and binary equality keys delete by value") {
    val wh = freshCatalog("pdec5")
    spark.sql("CREATE TABLE pdec5.db.t (d DECIMAL(10, 2), b BINARY, v STRING)")
    spark.sql("INSERT INTO pdec5.db.t SELECT CAST(id AS DECIMAL(10, 2)) / 4, " +
      "unhex(concat('ab', lpad(hex(id), 4, '0'))), concat('v', id) FROM range(0, 8)")
    val dir = s"$wh/db/t"
    GraftTable.upsert(spark, dir, spark.sql(
      "SELECT CAST(0.75 AS DECIMAL(10, 2)) AS d, unhex('ff') AS b, 'dec' AS v"), Seq("d"))
    GraftTable.upsert(spark, dir, spark.sql(
      "SELECT CAST(9.00 AS DECIMAL(10, 2)) AS d, unhex('ab0005') AS b, 'bin' AS v"),
      Seq("b"))
    val df = spark.sql("SELECT d, b, v FROM pdec5.db.t")
    val got = df.collect().map(r => (r.getDecimal(0).toPlainString,
      r.getAs[Array[Byte]](1).map(b => f"$b%02x").mkString, r.getString(2))).sortBy(_._3).toSeq
    val want = ((0 until 8).filterNot(Set(3, 5)).map(i =>
      (java.math.BigDecimal.valueOf(i * 25L, 2).toPlainString, f"ab$i%04x", s"v$i")) ++
      Seq(("0.75", "ff", "dec"), ("9.00", "ab0005", "bin"))).sortBy(_._3)
    assert(got == want, got.mkString("\n"))
    assert(isColumnar(df), df.queryExecution.executedPlan.toString)
  }

  test("a parquet+Avro table with deletes emits rows through the row adapter") {
    val wh = freshCatalog("pdec6")
    spark.sql("CREATE TABLE pdec6.db.n (n_nationkey INT, n_name STRING) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_nationkey",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("n_name",
        org.apache.spark.sql.types.StringType)))
    val nation = Tables.load(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name")).orderBy("n_nationkey").collect().toSeq
    AvroDataFiles.write(s"$wh/src/part-00000.avro", schema, nation.take(10))
    spark.sql(s"""CALL pdec6.system.add_files(
      table => 'db.n', source_dir => '$wh/src', format => 'avro')""")
    spark.sql("INSERT INTO pdec6.db.n SELECT /*+ REPARTITION(1) */ n_nationkey, n_name " +
      "FROM VALUES " + nation.drop(10).map(r => s"(${r.getInt(0)}, '${r.getString(1)}')")
      .mkString(", ") + " AS s(n_nationkey, n_name)")
    spark.sql("DELETE FROM pdec6.db.n WHERE n_nationkey IN (2, 17)")
    val dir = s"$wh/db/n"
    GraftTable.upsert(spark, dir,
      spark.sql("SELECT 20 AS n_nationkey, 'TWENTY' AS n_name"), Seq("n_nationkey"))
    val df = spark.sql("SELECT n_nationkey, n_name, _file, _pos FROM pdec6.db.n")
    val got = df.collect().map(r => (r.getInt(0), r.getString(1),
      r.getString(2).split('.').last, r.getLong(3))).sortBy(_._1).toSeq
    val parquetPos = nation.drop(10).map(_.getInt(0)).zipWithIndex.toMap
    val want = nation.map(r => (r.getInt(0), r.getString(1)))
      .filterNot(r => r._1 == 2 || r._1 == 17).map {
        case (20, _) => (20, "TWENTY", "parquet", 0L)
        case (k, n) if k < 10 => (k, n, "avro", k.toLong)
        case (k, n) => (k, n, "parquet", parquetPos(k).toLong)
      }
    assert(got == want, got.mkString("\n"))
    assert(!isColumnar(df), df.queryExecution.executedPlan.toString)
  }

  test("position_deletes serves delete_file_path beside each (file_path, pos)") {
    val wh = freshCatalog("pdec7")
    spark.sql("CREATE TABLE pdec7.db.t (k BIGINT) TBLPROPERTIES " +
      "('write.delete.mode'='merge-on-read')")
    val dir = s"$wh/db/t"
    GraftTable.append(spark, dir, spark.range(0, 20).coalesce(1).toDF("k"))
    spark.sql("DELETE FROM pdec7.db.t WHERE k IN (3, 11)")
    spark.sql("DELETE FROM pdec7.db.t WHERE k = 17")
    val dataFile = liveData(dir).head.filePath
    val delFiles = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
      .currentSnapshot.toSeq.flatMap(s => ManifestListReader.read(s.manifestList.get))
      .flatMap(i => ManifestWriter.read(i.path))
      .filter(e => e.status != 2 && e.content == 1).map(_.filePath)
    assert(delFiles.size == 2)
    val df = spark.sql(
      "SELECT file_path, pos, delete_file_path FROM pdec7.db.t.position_deletes")
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(_._2).toSeq
    assert(got.map(_._1).forall(p => PathId(p) == PathId(dataFile)), got)
    assert(got.map(_._2) == Seq(3L, 11L, 17L))
    // the two positions of the first DELETE share one delete file
    assert(got(0)._3 == got(1)._3 && got(0)._3 != got(2)._3 &&
      got.map(_._3).toSet == delFiles.toSet, got.mkString("\n"))
    assert(isColumnar(df), df.queryExecution.executedPlan.toString)
  }

  test("nanosecond timestamps read as long nanos beside _pos") {
    val wh = freshCatalog("pdec8")
    GraftTable.create(s"$wh/db/t", IcebergSchema(0, Seq(
      IcebergField(1, "id", required = false, fieldType = "long"),
      IcebergField(2, "ts", required = false, fieldType = "timestamp_ns"),
      IcebergField(3, "mystery", required = false, fieldType = "unknown"))),
      tableUuid = "d8d9a6a1-0000-4000-8000-0000000dec08",
      timestampMs = 1700000000000L, formatVersion = 3)
    val base = 1704067200000000007L
    spark.sql(s"INSERT INTO pdec8.db.t SELECT /*+ REPARTITION(1) */ id, " +
      s"$base + id, NULL FROM range(0, 5)")
    val df = spark.sql("SELECT id, ts, mystery, _pos FROM pdec8.db.t")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.isNullAt(2)))
      .sortBy(_._1).toSeq
    assert(got == (0L until 5L).map(i => (i, base + i, true)), got.mkString(", "))
    assert(isColumnar(df), df.queryExecution.executedPlan.toString)
  }

  test("a column the file stores as another type fails, naming the column and the file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pdec9").toString
    GraftTable.create(dir, IcebergSchema(0, Seq(
      IcebergField(1, "k", required = false, fieldType = "long"))),
      tableUuid = "d8d9a6a1-0000-4000-8000-0000000dec09", timestampMs = 1700000000000L)
    val foreign = s"$dir/data/foreign.parquet"
    ParquetFiles.writeOne(spark.range(0, 3).select(col("id").cast("string").as("k")), foreign)
    GraftTable.commitAppendFiles(dir, Seq(GraftTable.PendingFile(
      foreign, 3L, HadoopConfs.length(foreign), Map.empty, Map.empty)))
    val e = intercept[Exception](spark.read.format("graft-table")
      .option("metadata", GraftTable.latestMetadataPath(dir)).load().collect())
    val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" / ")
    assert(msg.contains("column [k]") && msg.contains("foreign.parquet"), msg)
  }

  test("_pos and _row_id stay file-absolute across row-group splits") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pdec10").toString
    GraftTable.create(dir, IcebergSchema(0, Seq(
      IcebergField(1, "id", required = false, fieldType = "long"))),
      tableUuid = "d8d9a6a1-0000-4000-8000-0000000dec10", timestampMs = 1700000000000L,
      formatVersion = 3)
    // rows in id order, so row index == id; small row groups
    spark.range(0, 20000).coalesce(1).write
      .option("parquet.block.size", "16384").option("parquet.page.size", "4096")
      .parquet(s"$dir/tmpdir")
    val fs = HadoopConfs.fileSystemFor(dir)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/tmpdir")).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet")).get
    val f = s"$dir/data/d.parquet"
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/data"))
    fs.rename(part, new org.apache.hadoop.fs.Path(f))
    GraftTable.commitAppendFiles(dir, Seq(GraftTable.PendingFile(
      f, 20000L, HadoopConfs.length(f), Map.empty, Map.empty)))
    GraftTable.deleteWhere(spark, dir, col("id").isin(1L, 7777L, 19999L))
    val df = spark.read.format("graft-table")
      .option("metadata", GraftTable.latestMetadataPath(dir))
      .option("split-size", "4096").load()
      .select(col("id"), col("_pos"), col("_row_id"))
    assert(df.rdd.getNumPartitions > 1, "expected row-group splits")
    val got = df.agg(count(lit(1)), sum(col("id")),
      count(when(col("_pos") =!= col("id") || col("_row_id") =!= col("id"), 1))).head()
    assert(got == Row(19997L, (0L until 20000L).sum - 1L - 7777L - 19999L, 0L), got)
    assert(isColumnar(df), df.queryExecution.executedPlan.toString)
  }

  test("a position-delete file of several row groups removes more than one batch of rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pdec11").toString
    GraftTable.create(dir, IcebergSchema(0, Seq(
      IcebergField(1, "id", required = false, fieldType = "long"))),
      tableUuid = "d8d9a6a1-0000-4000-8000-0000000dec11", timestampMs = 1700000000000L)
    GraftTable.append(spark, dir, spark.range(0, 20000, 1, 1).toDF("id"))
    val f = liveData(dir).map(_.filePath) match { case Seq(p) => p }
    // every even position of the data file (10,000 of them), plus rows
    // addressing another file that must not apply, in small row groups
    val tmp = s"$dir/tmpdel"
    spark.range(0, 20000, 2).select(lit(f).as("file_path"), col("id").as("pos"))
      .union(spark.range(1, 20000, 2)
        .select(lit(s"$dir/data/other.parquet").as("file_path"), col("id").as("pos")))
      .coalesce(1).sortWithinPartitions("file_path", "pos")
      .write.option("parquet.block.size", "16384").option("parquet.page.size", "4096")
      .parquet(tmp)
    val fs = HadoopConfs.fileSystemFor(dir)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp)).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet")).get
    val del = s"$dir/data/del.parquet"
    fs.rename(part, new org.apache.hadoop.fs.Path(del))
    val groups = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(del), HadoopConfs.active()))
      try r.getRowGroups.size finally r.close()
    }
    assert(groups > 1, s"$groups row groups")
    GraftTable.commitDeltaFiles(dir, Nil, Seq(GraftTable.PendingFile(
      del, 20000L, HadoopConfs.length(del), Map.empty, Map.empty)), Set(f))
    val got = spark.read.format("graft-table")
      .option("metadata", GraftTable.latestMetadataPath(dir)).load()
      .agg(count(lit(1)), sum(col("id")), count(when(col("id") % 2 === 0, 1))).head()
    assert(got == Row(10000L, (1L until 20000L by 2).sum, 0L), got)
  }
}
