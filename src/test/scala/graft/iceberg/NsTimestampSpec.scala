package graft.iceberg

import org.apache.spark.sql.Row

import graft.SparkSpec
import graft.iceberg.IcebergTypes._

/** Iceberg v3 type-system completion: nanosecond timestamps
  * (`timestamp_ns`/`timestamptz_ns` — LongType nanos in Spark, LE-long
  * bound codec, TIMESTAMP(NANOS) parquet annotation on write), the
  * null-only `unknown` type, and the geo types' parse/storage contract.
  */
class NsTimestampSpec extends SparkSpec {

  test("v3 type strings parse and render; v3-only detection") {
    assert(IcebergTypes.fromString("timestamp_ns") == TTimestampNs)
    assert(IcebergTypes.fromString("timestamptz_ns") == TTimestamptzNs)
    assert(IcebergTypes.fromString("unknown") == TUnknown)
    assert(IcebergTypes.fromString("geometry") == TGeometry(None))
    assert(IcebergTypes.fromString("geometry(srid:3857)") ==
      TGeometry(Some("srid:3857")))
    assert(IcebergTypes.fromString("geography(OGC:CRS84, spherical)") ==
      TGeography(Some("OGC:CRS84"), Some("spherical")))
    // names round-trip through the parser (metadata re-serialization)
    Seq(TTimestampNs, TTimestamptzNs, TUnknown, TGeometry(Some("srid:3857")),
      TGeography(Some("OGC:CRS84"), Some("spherical"))).foreach(t =>
      assert(IcebergTypes.fromString(t.name) == t, t.name))
    Seq(TTimestampNs, TTimestamptzNs, TUnknown, TGeometry(None),
      TGeography(None, None), TVariant).foreach(t =>
      assert(IcebergTypes.isV3Only(t), t.name))
    assert(IcebergTypes.isV3Only(TList(1, TVariant)))
    assert(!IcebergTypes.isV3Only(TLong))
    assert(!IcebergTypes.isV3Only(TList(1, TLong)))
  }

  test("single-value codec: ns timestamps are LE long nanos; unknown/geo refuse") {
    val ns = 1704844800123456789L
    val b = SingleValueCodec.encode(TTimestampNs, ns)
    assert(b.length == 8)
    assert(SingleValueCodec.decode(TTimestampNs, b) == ns)
    assert(SingleValueCodec.decode(TTimestamptzNs,
      SingleValueCodec.encode(TTimestamptzNs, ns)) == ns)
    // same wire shape as long (LE) — a foreign reader sees plain int64
    assert(b.sameElements(SingleValueCodec.encode(TLong, ns)))
    intercept[IllegalArgumentException](SingleValueCodec.encode(TUnknown, 1L))
    intercept[IllegalArgumentException](SingleValueCodec.decode(TUnknown, b))
    // geo bounds are bounding-box corners: GeoPoint round-trips as a WKB
    // point; anything else still refuses
    intercept[IllegalArgumentException](
      SingleValueCodec.encode(TGeometry(None), Array[Byte](1)))
    val corner = GeoPoint(-12.5, 44.25)
    val wkb = SingleValueCodec.encode(TGeometry(None), corner)
    assert(wkb.sameElements(graft.functions.GeoAlgos.pointWkb(-12.5, 44.25)))
    assert(SingleValueCodec.decode(TGeography(None, None), wkb) == corner)
    // a non-point WKB bound refuses at decode (garbage must never prune)
    intercept[IllegalArgumentException](
      SingleValueCodec.decode(TGeometry(None), Array[Byte](1, 2, 0, 0, 0)))
  }

  test("create gates v3-only types on format-version") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nsgate").toString
    val schema = IcebergSchema(0, Seq(
      IcebergField(1, "ts", required = false, fieldType = "timestamp_ns")))
    val e = intercept[IllegalArgumentException](GraftTable.create(
      s"$dir/t2", schema, tableUuid = "u-1", timestampMs = 1700000000000L))
    assert(e.getMessage.contains("format-version 3"))
    // and v3 succeeds
    GraftTable.create(s"$dir/t3", schema, tableUuid = "u-2",
      timestampMs = 1700000000000L, formatVersion = 3)
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(s"$dir/t3"))
    assert(meta.formatVersion == 3 && meta.nextRowId.contains(0L))
    assert(meta.currentSchema.fields.head.fieldType == "timestamp_ns")
  }

  test("ns table round-trips: NANOS annotation, values, bound pruning; unknown null-fills") {
    val wh = java.nio.file.Files.createTempDirectory("graft-nsrt").toString
    spark.conf.set("spark.sql.catalog.gns",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gns.warehouse", wh)
    GraftTable.create(s"$wh/db/t", IcebergSchema(0, Seq(
      IcebergField(1, "id", required = false, fieldType = "long"),
      IcebergField(2, "ts", required = false, fieldType = "timestamp_ns"),
      IcebergField(3, "tz", required = false, fieldType = "timestamptz_ns"),
      IcebergField(4, "mystery", required = false, fieldType = "unknown"))),
      tableUuid = "u-3", timestampMs = 1700000000000L, formatVersion = 3)
    val base = 1704067200000000000L // 2024-01-01T00:00:00Z in nanos
    // two inserts → two files with disjoint ns ranges (for pruning)
    spark.sql(s"""INSERT INTO gns.db.t
      SELECT id, $base + id * 1000000000, $base + id * 1000000000 + 1, NULL
      FROM range(0, 100)""")
    spark.sql(s"""INSERT INTO gns.db.t
      SELECT id, $base + id * 1000000000, $base + id * 1000000000 + 1, NULL
      FROM range(1000000, 1000100)""")
    // values round-trip exactly (nanosecond precision preserved)
    assert(spark.sql("SELECT min(ts), max(tz), count(*) FROM gns.db.t").head() ==
      Row(base, base + 1000100L * 1000000000L - 1000000000L + 1, 200L))
    assert(spark.sql("SELECT count(mystery) FROM gns.db.t").head() == Row(0L))
    // the written file carries the real TIMESTAMP(NANOS) annotation
    val dataFile = new java.io.File(s"$wh/db/t/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dataFile.getAbsolutePath),
        HadoopConfs.active()))
    try {
      val md: org.apache.parquet.schema.GroupType =
        footer.getFileMetaData.getSchema
      val ann = md.getType("ts").asPrimitiveType().getLogicalTypeAnnotation
        .asInstanceOf[org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]
      assert(ann.getUnit.toString == "NANOS" && !ann.isAdjustedToUTC)
      val annTz = md.getType("tz").asPrimitiveType().getLogicalTypeAnnotation
        .asInstanceOf[org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]
      assert(annTz.getUnit.toString == "NANOS" && annTz.isAdjustedToUTC)
      // no column was written for the unknown field
      assert(!md.containsField("mystery"))
    } finally footer.close()
    // ns-bound pruning: a predicate inside the first file's range plans
    // fewer partitions than the full scan
    val all = spark.sql("SELECT id FROM gns.db.t")
    val pruned = spark.sql(
      s"SELECT id FROM gns.db.t WHERE ts < ${base + 500L * 1000000000L}")
    assert(pruned.rdd.getNumPartitions < all.rdd.getNumPartitions,
      s"${pruned.rdd.getNumPartitions} vs ${all.rdd.getNumPartitions}")
    assert(pruned.count() == 100L)
  }

  test("v3 rewrites keep TIMESTAMP(NANOS): bin-pack compaction, merge, unpartitioned upsert") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-nsrw").toString
    GraftTable.create(dir, IcebergSchema(0, Seq(
      IcebergField(1, "id", required = false, fieldType = "long"),
      IcebergField(2, "ts", required = false, fieldType = "timestamp_ns"))),
      tableUuid = "u-4", timestampMs = 1700000000000L, formatVersion = 3)
    val base = 1704067200000000007L // sub-microsecond digits must survive
    def rows(ids: Seq[Long], shift: Long) = ids.map(i => (i, base + i * 1000000000L + shift))
    GraftTable.append(spark, dir, rows(0L until 10L, 0L).toDF("id", "ts"))
    GraftTable.append(spark, dir, rows(10L until 20L, 0L).toDF("id", "ts"))
    /** Asserts the live files named `prefix…` annotate `ts` as NANOS and
      * the table reads back `expected`. */
    def check(prefix: String, expected: Seq[(Long, Long)]): Unit = {
      val files = ManifestListReader.read(TableMetadata.parseFile(
          GraftTable.latestMetadataPath(dir)).currentSnapshot.get.manifestList.get)
        .filter(_.content == 0).flatMap(i => ManifestWriter.read(i.path))
        .filter(e => e.status != 2 && e.content == 0).map(_.filePath)
        .filter(f => new org.apache.hadoop.fs.Path(f).getName.startsWith(prefix))
      assert(files.nonEmpty, s"no live $prefix file")
      files.foreach { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f), HadoopConfs.active()))
        try {
          val md: org.apache.parquet.schema.GroupType = r.getFooter.getFileMetaData.getSchema
          val ann = md.getType("ts").asPrimitiveType().getLogicalTypeAnnotation
          assert(ann != null && ann.toString.contains("NANOS"), s"$f: ts is $ann")
        } finally r.close()
      }
      val got = GraftTable.read(spark, GraftTable.latestMetadataPath(dir))
        .select("id", "ts").as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == expected)
    }
    GraftTable.compact(spark, dir)
    check("compacted-", rows(0L until 20L, 0L))
    GraftTable.merge(spark, dir, rows(Seq(3L), 5L).toDF("id", "ts"), Seq("id"))
    check("merged-", rows(0L until 20L, 0L).map(r => if (r._1 == 3L) (3L, r._2 + 5L) else r))
    GraftTable.upsert(spark, dir, rows(Seq(4L, 25L), 9L).toDF("id", "ts"), Seq("id"))
    check("upsert-", (rows(0L until 20L, 0L) ++ rows(Seq(25L), 9L)).map {
      case (3L, t) => (3L, t + 5L)
      case (4L, t) => (4L, t + 9L)
      case r => r
    })
  }
}
