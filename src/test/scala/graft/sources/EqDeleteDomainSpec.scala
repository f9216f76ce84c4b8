package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSpec, Tables}
import graft.iceberg._

/** Equality-delete value-domain correctness across data-file formats:
  * the keys a delete file decodes to must compare equal against the
  * values the parquet, Avro and ORC readers decode, for every key type
  * (int, string, binary, date, timestamp; decimal on parquet) and for a
  * key widened after the delete was written — including BINARY keys,
  * where a raw Array[Byte] inside the tuple would compare by reference
  * and silently never delete. */
class EqDeleteDomainSpec extends SparkSpec {

  private def fresh(tag: String): String = {
    val d = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-spec-eqd-$tag-${graft.Scratch.procToken}").toString
    graft.TmpOutputs.deleteRecursively(java.nio.file.Paths.get(d))
    d
  }

  test("binary-keyed upsert deletes the old row (content comparison, not reference)") {
    import spark.implicits._
    val dir = fresh("bin")
    GraftTable.create(dir, IcebergSchema(0, Seq(
      IcebergField(1, "k", required = false, "binary"),
      IcebergField(2, "v", required = false, "string"))),
      tableUuid = "d8d9a6a1-0000-4000-8000-0000000000e1", timestampMs = 1700000000000L)
    GraftTable.append(spark, dir,
      Seq((Array[Byte](1, 2, 3), "old"), (Array[Byte](9, 9), "keep")).toDF("k", "v"))
    GraftTable.upsert(spark, dir,
      Seq((Array[Byte](1, 2, 3), "new")).toDF("k", "v"), Seq("k"))
    val metaPath = GraftTable.latestMetadataPath(dir)
    val rows = spark.read.format("graft-table").option("metadata", metaPath).load()
      .collect().map(r => (r.getAs[Array[Byte]](0).toSeq, r.getString(1)))
      .sortBy(_._2).toSeq
    assert(rows == Seq((Seq[Byte](9, 9), "keep"), (Seq[Byte](1, 2, 3), "new")),
      s"binary equality delete must replace the old row: $rows")
  }

  private def importedTable(tag: String, format: String): (String, String) = {
    val wh = fresh(tag)
    val cat = s"g_eqd_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.db.n (n_nationkey INT, n_name STRING)")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_nationkey",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("n_name",
        org.apache.spark.sql.types.StringType)))
    val rows = Tables.load(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name")).orderBy("n_nationkey")
      .collect().toSeq
    if (format == "avro")
      AvroDataFiles.write(s"$wh/src/part-00000.avro", schema, rows)
    else
      OrcDataFiles.write(s"$wh/src/part-00000.orc", schema, rows)
    spark.sql(s"""CALL $cat.system.add_files(
      table => 'db.n', source_dir => '$wh/src', format => '$format')""")
    (cat, s"$wh/db/n")
  }

  test("streaming-shape upsert applies equality deletes inside the Avro reader") {
    import spark.implicits._
    val (cat, dir) = importedTable("avro", "avro")
    GraftTable.upsert(spark, dir,
      Seq((7, "AVRO_NEW")).toDF("n_nationkey", "n_name"), Seq("n_nationkey"))
    val got = spark.sql(s"""SELECT COUNT(*) AS n,
      MAX(CASE WHEN n_nationkey = 7 THEN n_name END) AS name7 FROM $cat.db.n""").head()
    assert(got.getLong(0) == 25L && got.getString(1) == "AVRO_NEW", got.toString)
  }

  test("rewrite_position_delete_files resolves eq deletes addressing imported files") {
    import spark.implicits._
    val (cat, dir) = importedTable("avrorw", "avro")
    GraftTable.upsert(spark, dir,
      Seq((3, "X")).toDF("n_nationkey", "n_name"), Seq("n_nationkey"))
    GraftTable.rewritePositionDeleteFiles(spark, dir)
    // the equality delete became a position delete against the Avro
    // file: the old key-3 row stays deleted, the upserted one stays live
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val deletes = ManifestListReader.read(meta.currentSnapshot.get.manifestList.get)
      .filter(_.content == 1).flatMap(i => ManifestWriter.read(i.path))
      .filter(_.status != 2)
    assert(deletes.nonEmpty && deletes.forall(_.content == 1), deletes.map(_.content))
    val got = spark.sql(s"""SELECT COUNT(*) AS n,
      COLLECT_LIST(CASE WHEN n_nationkey = 3 THEN n_name END) AS names3
      FROM $cat.db.n""").head()
    assert(got.getLong(0) == 25L && got.getSeq[String](1) == Seq("X"), got.toString)
  }

  test("streaming-shape upsert applies equality deletes inside the ORC reader") {
    import spark.implicits._
    val (cat, dir) = importedTable("orc", "orc")
    GraftTable.upsert(spark, dir,
      Seq((7, "ORC_NEW")).toDF("n_nationkey", "n_name"), Seq("n_nationkey"))
    val got = spark.sql(s"""SELECT COUNT(*) AS n,
      MAX(CASE WHEN n_nationkey = 7 THEN n_name END) AS name7 FROM $cat.db.n""").head()
    assert(got.getLong(0) == 25L && got.getString(1) == "ORC_NEW", got.toString)
  }

  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case d: java.sql.Date => d.toLocalDate
    case t: java.sql.Timestamp => t.toInstant
    case x => x
  }

  /** Key types of the parity cases: (name, type, the upserted key, a key
    * that stays). The dates and timestamps straddle the epoch. */
  private val keyTypes: Seq[(String, DataType, Any, Any)] = Seq(
    ("int", IntegerType, 7, -8),
    ("string", StringType, "k7", "k8"),
    ("binary", BinaryType, Array[Byte](1, 2, 3), Array[Byte](9, 9)),
    ("date", DateType, java.sql.Date.valueOf("2024-02-29"),
      java.sql.Date.valueOf("1969-12-31")),
    ("timestamp", TimestampType,
      java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T12:34:56.789012Z")),
      java.sql.Timestamp.from(java.time.Instant.parse("1969-12-31T23:59:58.250Z"))),
    ("decimal", DecimalType(10, 2), new java.math.BigDecimal("12.34"),
      new java.math.BigDecimal("-0.50")))

  /** A two-row catalog table (`k` of type `dt`, `v` string) whose one data
    * file is `format`, upserted on `k`; returns what it reads back. */
  private def upsertThenRead(format: String, name: String, dt: DataType,
      old: Any, keep: Any): Seq[(Any, String)] = {
    val tag = s"${format}_$name"
    val wh = fresh(tag)
    val cat = s"g_eqd_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.db.t (k ${dt.sql}, v STRING)")
    val dir = s"$wh/db/t"
    val schema = StructType(Seq(StructField("k", dt), StructField("v", StringType)))
    val rows = Seq(Row(old, "old"), Row(keep, "keep"))
    format match {
      case "parquet" => GraftTable.append(spark, dir, spark.createDataFrame(rows.asJava, schema))
      case _ =>
        val src = s"$wh/src/part-00000.$format"
        if (format == "avro") AvroDataFiles.write(src, schema, rows)
        else OrcDataFiles.write(src, schema, rows)
        spark.sql(s"""CALL $cat.system.add_files(
          table => 'db.t', source_dir => '$wh/src', format => '$format')""")
    }
    GraftTable.upsert(spark, dir,
      spark.createDataFrame(Seq(Row(old, "new")).asJava, schema), Seq("k"))
    spark.sql(s"SELECT k, v FROM $cat.db.t").collect()
      .map(r => (norm(r.get(0)), r.getString(1))).sortBy(_._2).toSeq
  }

  for {
    format <- Seq("parquet", "avro", "orc")
    (name, dt, old, keep) <- keyTypes
    if format == "parquet" || name != "decimal" // Avro/ORC fixtures carry no decimals
  } test(s"a $name-keyed upsert replaces its row in a $format data file") {
    val got = upsertThenRead(format, name, dt, old, keep)
    assert(got == Seq((norm(keep), "keep"), (norm(old), "new")), got)
  }

  test("an equality delete written while its key was INT applies after widening to BIGINT") {
    import spark.implicits._
    val wh = fresh("widen")
    spark.conf.set("spark.sql.catalog.g_eqd_widen", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g_eqd_widen.warehouse", wh)
    spark.sql("CREATE TABLE g_eqd_widen.db.t (k INT, v STRING)")
    val dir = s"$wh/db/t"
    GraftTable.append(spark, dir, Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
    // the equality-delete file stores k as INT32
    GraftTable.upsert(spark, dir, Seq((2, "B")).toDF("k", "v"), Seq("k"))
    spark.sql("ALTER TABLE g_eqd_widen.db.t ALTER COLUMN k TYPE BIGINT")
    spark.sql("INSERT INTO g_eqd_widen.db.t VALUES (5000000000, 'd')")
    val got = spark.sql("SELECT k, v FROM g_eqd_widen.db.t").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq((1L, "a"), (2L, "B"), (3L, "c"), (5000000000L, "d")), got)
    val deletes = ManifestListReader.read(TableMetadata.parseFile(
        GraftTable.latestMetadataPath(dir)).currentSnapshot.get.manifestList.get)
      .filter(_.content == 1).flatMap(i => ManifestWriter.read(i.path))
      .filter(e => e.status != 2 && e.content == 2)
    assert(deletes.size == 1, deletes.map(_.filePath))
  }
}
