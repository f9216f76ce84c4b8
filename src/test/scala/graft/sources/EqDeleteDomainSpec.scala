package graft.sources

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.iceberg._

/** Equality-delete value-domain correctness across data-file formats:
  * the shared RowEqDeletes sets must compare equal against values
  * decoded by the parquet row route, the Avro reader, and the ORC
  * reader — including BINARY keys, where a raw Array[Byte] inside the
  * tuple would compare by reference and silently never delete. */
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
}
