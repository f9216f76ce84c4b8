package graft.iceberg

import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

import graft.SparkSpec
import graft.iceberg.IcebergTypes._

/** The full scan-planning loop the reference's bound decoding exists to
  * enable (SURVEY.md §4): data files described in manifests with genuine
  * encoded bound statistics, a predicate pruned against the decoded
  * bounds at planning, and ONLY the surviving files read back.
  * This is what "plan proportional to metadata, scan proportional to the
  * predicate" means at 100 TB.
  */
class PrunedReadSpec extends SparkSpec {

  test("DSv2 scan reports file-length statistics to Catalyst") {
    val df = spark.read.format("graft-manifest")
      .option("metadata", graft.operators.IcebergQueries.FixtureMetadata)
      .load(graft.operators.IcebergQueries.FixtureManifest)
    val stats = df.queryExecution.optimizedPlan.stats
    val onDisk = new java.io.File(graft.operators.IcebergQueries.FixtureManifest).length()
    assert(stats.sizeInBytes.toLong == onDisk,
      s"sizeInBytes ${stats.sizeInBytes} != manifest length $onDisk")
    // metadata-sized relation ⇒ joins against it broadcast without hints
    val joined = spark.range(1000).toDF("id")
      .join(df.select(org.apache.spark.sql.functions.col("status")),
        org.apache.spark.sql.functions.col("id") ===
          org.apache.spark.sql.functions.col("status"))
    joined.collect()
    assert(joined.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "manifest side should broadcast from reported stats")
  }

  private val entrySchema: Schema = {
    val kv = SchemaBuilder.record("kv").fields()
      .name("key").`type`().intType().noDefault()
      .name("value").`type`().bytesType().noDefault()
      .endRecord()
    val bounds = Schema.createArray(kv)
    bounds.addProp("logicalType", "map")
    SchemaBuilder.record("manifest_entry").fields()
      .name("status").`type`().intType().noDefault()
      .name("data_file").`type`(SchemaBuilder.record("r2").fields()
        .name("file_path").`type`().stringType().noDefault()
        .name("record_count").`type`().longType().noDefault()
        .name("lower_bounds").`type`(bounds).noDefault()
        .name("upper_bounds").`type`(bounds).noDefault()
        .endRecord()).noDefault()
      .endRecord()
  }

  test("the scan planner keeps the file at a bound and all files unbounded") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = java.nio.file.Files.createTempDirectory("graft-planned").toString
    GraftTable.create(dir, IcebergSchema(0, Seq(IcebergField(1, "v", required = false, "long"))),
      tableUuid = "5ca90000-0000-4000-8000-0000000000p1", timestampMs = 1700000000000L)
    // three data files, value ranges [0,99], [100,199], [200,299]
    val ranges = Seq((0L, 99L), (100L, 199L), (200L, 299L))
    ranges.foreach { case (lo, hi) =>
      GraftTable.append(spark, dir, spark.range(lo, hi + 1, 1, 1).toDF("v")) }
    val path = GraftTable.latestMetadataPath(dir)
    val meta = TableMetadata.parseFile(path)
    val files = meta.currentSnapshot.toSeq.flatMap(s => ManifestListReader.read(s.manifestList.get))
      .flatMap(i => ManifestWriter.read(i.path)).sortBy(_.recordCount)
      .map(e => SingleValueCodec.decode(TLong, e.lowerBounds(1)) -> e.filePath).toMap
    val base = spark.read.format("graft-table").option("metadata", path).load()
    def planned(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
        .flatMap(_.scan.toBatch.planInputPartitions().toSeq)
        .collect { case p: graft.sources.GraftTableInputPartition => p.filePath }.toSet

    // predicate: 120 <= v <= 150 -> only the middle file qualifies
    val between = base.filter(col("v").between(120L, 150L))
    assert(planned(between) == Set(files(100L)))
    assert(between.count() == 31)
    // unbounded predicate keeps everything (conservative pruning)
    assert(planned(base) == files.values.toSet)
    assert(planned(base.filter(col("v").isNotNull)) == files.values.toSet)
    // boundary inclusivity: lower == a file's max keeps that file
    val edge = base.filter(col("v") >= 199L)
    assert(planned(edge) == Set(files(100L), files(200L)))
    assert(edge.count() == 101)
    val (rows, _, _) = GraftTable.readWhereRange(spark, path, 1, Some(199L), None)
    assert(rows.count() == 101)
  }

  test("DSv2 filter pushdown on virtual stat columns drops all-pruned manifests at planning") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dsv2-push").toString

    def writeManifest(path: String, files: Seq[(String, Long, Long)]): Unit = {
      val writer = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](entrySchema))
      writer.create(entrySchema, new java.io.File(path))
      val dfSchema = entrySchema.getField("data_file").schema()
      val boundsSchema = dfSchema.getField("lower_bounds").schema()
      def kvArr(id: Int, v: Long) = {
        val rec = new GenericData.Record(boundsSchema.getElementType)
        rec.put("key", id)
        rec.put("value", ByteBuffer.wrap(SingleValueCodec.encode(TLong, v)))
        new GenericData.Array[GenericRecord](boundsSchema, Seq(rec.asInstanceOf[GenericRecord]).asJava)
      }
      files.foreach { case (p, lo, hi) =>
        val df = new GenericData.Record(dfSchema)
        df.put("file_path", p); df.put("record_count", hi - lo + 1)
        df.put("lower_bounds", kvArr(1, lo)); df.put("upper_bounds", kvArr(1, hi))
        val e = new GenericData.Record(entrySchema)
        e.put("status", 1); e.put("data_file", df)
        writer.append(e)
      }
      writer.close()
    }
    writeManifest(s"$dir/mA.avro", Seq(("a0.parquet", 0L, 99L), ("a1.parquet", 100L, 199L)))
    writeManifest(s"$dir/mB.avro", Seq(("b0.parquet", 1000L, 1999L)))

    val metaPath = s"$dir/metadata.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(metaPath),
      """{"format-version":1,"schema":{"type":"struct","schema-id":0,"fields":[
        |  {"id":1,"name":"v","required":true,"type":"long"}]}}""".stripMargin)

    import org.apache.spark.sql.functions.col
    val base = spark.read.format("graft-manifest")
      .option("metadata", metaPath)
      .load(s"$dir/mA.avro", s"$dir/mB.avro")

    // virtual columns are typed and decoded from the bound blobs
    val all = base.select(col("data_file.file_path"), col("lower_v"), col("upper_v"))
      .orderBy(col("lower_v")).collect()
    assert(all.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("a0.parquet", 0L, 99L), ("a1.parquet", 100L, 199L), ("b0.parquet", 1000L, 1999L)))

    // selective predicate: only manifest B can match → one InputPartition
    val pruned = base.filter(col("upper_v") >= 1000 || col("upper_v").isNull)
      .select(col("data_file.file_path").as("file_path"))
    assert(pruned.rdd.getNumPartitions == 1,
      s"expected planning-time manifest pruning, got ${pruned.rdd.getNumPartitions} partitions")
    assert(pruned.collect().map(_.getString(0)).toSeq == Seq("b0.parquet"))
    // the pushed filter is visible in the scan description
    assert(pruned.queryExecution.executedPlan.toString.contains("PushedFilters"),
      pruned.queryExecution.executedPlan.toString)

    // row-level skip inside a surviving manifest: a1 matches, a0 filtered at decode
    val rows = base.filter(col("lower_v") >= 100 && col("upper_v") <= 199)
      .select(col("data_file.file_path").as("file_path")).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a1.parquet"))

    // limit pushdown (--head parity): the scan stops decoding per
    // partition and advertises the pushed limit
    val limited = base.select(col("data_file.file_path")).limit(1)
    assert(limited.queryExecution.executedPlan.toString.contains("PushedLimit: 1"),
      limited.queryExecution.executedPlan.toString)
    assert(limited.collect().length == 1)
  }
}
