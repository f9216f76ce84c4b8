package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.iceberg._

/** The vectorized DSv2 scan route: a scan over parquet data files
  * decodes whole ColumnarBatches through Spark's own
  * VectorizedParquetRecordReader, deletes and metadata columns included.
  * Route assertions read the executed plan: a columnar DSv2 scan puts a
  * ColumnarToRow node above the BatchScan, a row-based one doesn't. */
class ColumnarScanSpec extends SparkSpec {

  private val T0 = 1700000000000L

  private val nationSchema = IcebergSchema(0, Seq(
    IcebergField(1, "n_nationkey", required = false, "int"),
    IcebergField(2, "n_name", required = false, "string"),
    IcebergField(3, "n_regionkey", required = false, "int")))

  private def freshNationTable(uuidTail: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-columnar").toString
    GraftTable.create(dir, nationSchema,
      tableUuid = s"b6b9a6a1-0000-4000-8000-0000000000$uuidTail", timestampMs = T0)
    Tables.load(spark, sfDir, "nation").write.format("graft-table")
      .option("metadata", GraftTable.latestMetadataPath(dir))
      .mode("append").save()
    dir
  }

  private def isColumnar(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("ColumnarToRow")

  test("clean scans decode through the vectorized columnar route, values exact") {
    val dir = freshNationTable("c1")
    val df = spark.read.format("graft-table")
      .option("metadata", GraftTable.latestMetadataPath(dir)).load()
    assert(isColumnar(df), df.queryExecution.executedPlan.toString)
    val got = df.select("n_nationkey", "n_name", "n_regionkey")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).sortBy(_._1)
    val want = Tables.load(spark, sfDir, "nation")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).sortBy(_._1)
    assert(got.toSeq == want.toSeq)
  }

  test("position deletes apply on the columnar route — deleted rows excluded") {
    val dir = freshNationTable("c2")
    GraftTable.deleteWhere(spark, dir, col("n_regionkey") === 2)
    val mor = spark.read.format("graft-table")
      .option("metadata", GraftTable.latestMetadataPath(dir)).load()
    // vectorized MOR: pending POSITION deletes keep the columnar route,
    // the reader drops deleted row-ids by batch selection
    assert(isColumnar(mor), mor.queryExecution.executedPlan.toString)
    val got = mor.select("n_nationkey", "n_name", "n_regionkey")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).sortBy(_._1)
    val want = Tables.load(spark, sfDir, "nation").filter(col("n_regionkey") =!= 2)
      .select("n_nationkey", "n_name", "n_regionkey")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).sortBy(_._1)
    assert(got.toSeq == want.toSeq, "columnar MOR must exclude exactly the deleted rows")
  }

  test("equality deletes apply on the columnar route — upserted key resolves") {
    // vectorized equality MOR: the delete file's schema is its equality
    // column list; the batch projection widens to cover it and the
    // selection drops matching tuples — the scan STAYS columnar
    val dir = freshNationTable("c6")
    import spark.implicits._
    GraftTable.upsert(spark, dir,
      Seq((0, "UPSERTED", 9)).toDF("n_nationkey", "n_name", "n_regionkey"),
      Seq("n_nationkey"))
    val eq = spark.read.format("graft-table")
      .option("metadata", GraftTable.latestMetadataPath(dir)).load()
    assert(isColumnar(eq), eq.queryExecution.executedPlan.toString)
    assert(eq.filter(col("n_nationkey") === 0).collect()
      .map(_.getAs[String]("n_name")).toSeq == Seq("UPSERTED"))
    assert(eq.count() == Tables.load(spark, sfDir, "nation").count(),
      "one old row dies, one replacement survives")
    // widened projection: the query never selects the equality column —
    // the reader must still read it to evaluate the delete, and the
    // output batch must NOT leak it
    val names = eq.select("n_name").collect().map(_.getString(0)).sorted
    val want = (Tables.load(spark, sfDir, "nation")
      .filter(col("n_nationkey") =!= 0)
      .select("n_name").collect().map(_.getString(0)) :+ "UPSERTED").sorted
    assert(names.toSeq == want.toSeq)
  }

  test("metadata columns decode on the columnar route") {
    val clean = freshNationTable("c3")
    val withFile = spark.read.format("graft-table")
      .option("metadata", GraftTable.latestMetadataPath(clean)).load()
      .select(col("_file"), col("n_nationkey"))
    assert(isColumnar(withFile), "_file is a constant vector of the batch")
    assert(withFile.select("_file").distinct().count() >= 1)
  }

  test("columnar MOR applies position deletes correctly across row-group splits") {
    // a deleted row-id is FILE-absolute; a row-group split's batches must
    // offset by the split's first-row index (rowStart), or deletes land
    // on the wrong rows in every group but the first
    val dir = java.nio.file.Files.createTempDirectory("graft-colmor").toString
    val tmp = s"$dir/tmpdir"
    spark.range(0, 20000).orderBy(col("id")).select(col("id"), (col("id") * 2).as("v"))
      .coalesce(1).write
      .option("parquet.block.size", "16384").option("parquet.page.size", "4096")
      .mode("overwrite").parquet(tmp)
    val fs = HadoopConfs.fileSystemFor(dir)
    val partFile = fs.listStatus(new org.apache.hadoop.fs.Path(tmp)).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet")).get
    val f = s"$dir/data/d.parquet"
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/data"))
    fs.rename(partFile, new org.apache.hadoop.fs.Path(f))
    val m = s"$dir/m-data.avro"
    ManifestWriter.write(m, Seq(ManifestWriter.EntryData(
      1, 1L, f, 20000L, HadoopConfs.length(f),
      Map.empty, Map.empty, content = 0, sequenceNumber = Some(1L))))
    val list = s"$dir/snap-1-list.avro"
    ManifestListWriter.write(list, Seq(m), 1L, addedDataFilesCount = 1)
    val schema = IcebergSchema(0, Seq(
      IcebergField(1, "id", required = false, "long"),
      IcebergField(2, "v", required = false, "long")))
    val meta = LakehouseExec.baseMetadata(dir).copy(
      tableUuid = "b6b9a6a1-0000-4000-8000-0000000000c7",
      currentSchemaId = Some(0), schemas = Seq(schema))
    MetadataWriter.write(s"$dir/v1.metadata.json", MetadataWriter.commitSnapshot(meta,
      Snapshot(1L, None, T0 + 1000, Some("append"),
        Map("added-data-files" -> "1"), Some(list), Some(0)), None))
    // rows are written in id order, so row index == id: delete ids spread
    // across distinct row groups (early, middle, last)
    GraftTable.deleteWhere(spark, dir,
      col("id").isin(0L, 1L, 7777L, 13000L, 19999L))
    val df = spark.read.format("graft-table")
      .option("metadata", GraftTable.latestMetadataPath(dir))
      .option("split-size", "4096").load()
    assert(isColumnar(df), df.queryExecution.executedPlan.toString)
    assert(df.rdd.getNumPartitions > 1, "expected row-group splits")
    val row = df.agg(count(lit(1)), sum(col("id")).cast("long")).head()
    assert(row.getLong(0) == 19995L)
    assert(row.getLong(1) == (0L until 20000L).sum - (0L + 1L + 7777L + 13000L + 19999L))
  }

  test("columnar row-group splits select exactly one group per partition") {
    val dir = java.nio.file.Files.createTempDirectory("graft-colsplit").toString
    val tmp = s"$dir/tmpdir"
    spark.range(0, 20000).orderBy(col("id")).select(col("id"), (col("id") * 2).as("v"))
      .coalesce(1).write
      .option("parquet.block.size", "16384").option("parquet.page.size", "4096")
      .mode("overwrite").parquet(tmp)
    val fs = HadoopConfs.fileSystemFor(dir)
    val partFile = fs.listStatus(new org.apache.hadoop.fs.Path(tmp)).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet")).get
    val f = s"$dir/data/d.parquet"
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/data"))
    fs.rename(partFile, new org.apache.hadoop.fs.Path(f))
    val m = s"$dir/m-data.avro"
    ManifestWriter.write(m, Seq(ManifestWriter.EntryData(
      1, 1L, f, 20000L, HadoopConfs.length(f),
      Map.empty, Map.empty, content = 0, sequenceNumber = Some(1L))))
    val list = s"$dir/snap-1-list.avro"
    ManifestListWriter.write(list, Seq(m), 1L, addedDataFilesCount = 1)
    val schema = IcebergSchema(0, Seq(
      IcebergField(1, "id", required = false, "long"),
      IcebergField(2, "v", required = false, "long")))
    val meta = LakehouseExec.baseMetadata(dir).copy(
      tableUuid = "b6b9a6a1-0000-4000-8000-0000000000c4",
      currentSchemaId = Some(0), schemas = Seq(schema))
    val metaPath = s"$dir/v1.metadata.json"
    MetadataWriter.write(metaPath, MetadataWriter.commitSnapshot(meta,
      Snapshot(1L, None, T0 + 1000, Some("append"),
        Map("added-data-files" -> "1"), Some(list), Some(0)), None))
    val df = spark.read.format("graft-table")
      .option("metadata", metaPath).option("split-size", "4096").load()
    assert(isColumnar(df), df.queryExecution.executedPlan.toString)
    assert(df.rdd.getNumPartitions > 1, "expected row-group splits")
    // midpoint selection must yield every row exactly once across splits
    val row = df.agg(count(lit(1)), countDistinct(col("id")),
      sum(col("id")).cast("long")).head()
    assert(row.getLong(0) == 20000L && row.getLong(1) == 20000L)
    assert(row.getLong(2) == (0L until 20000L).sum)
  }

  test("schema evolution null-fills through the columnar route") {
    val dir = freshNationTable("c5")
    GraftTable.evolveSchema(dir, IcebergSchema(1, nationSchema.fields :+
      IcebergField(4, "n_comment", required = false, "string")))
    val df = spark.read.format("graft-table")
      .option("metadata", GraftTable.latestMetadataPath(dir)).load()
      .select(col("n_nationkey"), col("n_comment"))
    assert(isColumnar(df), df.queryExecution.executedPlan.toString)
    val rows = df.collect()
    assert(rows.length == Tables.load(spark, sfDir, "nation").count().toInt)
    assert(rows.forall(_.isNullAt(1)), "pre-evolution files must null-fill")
  }
}
