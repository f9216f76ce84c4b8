package graft.sources

import org.apache.spark.sql.Row

import graft.SparkSpec

/** `write.format.default` task writers: avro/orc files written by the
  * engine, read back through the per-format scan routes, with inline
  * bound stats proving manifest-level pruning is format-independent. */
class FormatDefaultWriteSpec extends SparkSpec {

  private def mkCatalog(name: String): String = {
    val wh = java.nio.file.Files.createTempDirectory(s"graft-$name").toString
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    wh
  }

  test("avro writes round-trip and their inline bounds prune") {
    val wh = mkCatalog("fwa")
    spark.sql("CREATE TABLE fwa.db.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('write.format.default'='avro', " +
      "'commit-timestamp-ms'='1700000000000')")
    // two inserts with disjoint key ranges → two avro files with
    // disjoint manifest bounds
    spark.sql("INSERT INTO fwa.db.t SELECT id, concat('v', id) FROM range(0, 100)")
    spark.sql("INSERT INTO fwa.db.t " +
      "SELECT id, concat('v', id) FROM range(1000, 1100)")
    val files = new java.io.File(s"$wh/db/t/data").listFiles().map(_.getName)
      .filterNot(_.startsWith(".")) // hadoop local-FS .crc sidecars
    assert(files.nonEmpty && files.forall(_.endsWith(".avro")), files.toSeq)
    assert(spark.sql("SELECT count(*), sum(k) FROM fwa.db.t").head() ==
      Row(200L, 109900L))
    assert(spark.sql("SELECT v FROM fwa.db.t WHERE k = 1042").head() ==
      Row("v1042"))
    // manifest bounds are format-independent: the disjoint range prunes
    val all = spark.sql("SELECT v FROM fwa.db.t")
    val pruned = spark.sql("SELECT v FROM fwa.db.t WHERE k < 100")
    assert(pruned.rdd.getNumPartitions < all.rdd.getNumPartitions)
    assert(pruned.count() == 100L)
  }

  test("orc writes round-trip values including dates and timestamps") {
    mkCatalog("fwo")
    spark.sql("CREATE TABLE fwo.db.t (k BIGINT, d DATE, ts TIMESTAMP_NTZ) " +
      "TBLPROPERTIES ('write.format.default'='orc', " +
      "'commit-timestamp-ms'='1700000000000')")
    spark.sql("""INSERT INTO fwo.db.t VALUES
      (1, DATE'2024-03-01', TIMESTAMP_NTZ'2024-03-01 12:34:56.789'),
      (2, DATE'1969-07-20', TIMESTAMP_NTZ'1969-07-20 20:17:40.000'),
      (3, NULL, NULL)""")
    val got = spark.sql(
      "SELECT k, CAST(d AS STRING), CAST(ts AS STRING) FROM fwo.db.t ORDER BY k")
      .collect().toSeq
    assert(got == Seq(
      Row(1L, "2024-03-01", "2024-03-01 12:34:56.789"),
      Row(2L, "1969-07-20", "1969-07-20 20:17:40"),
      Row(3L, null, null)), got.toString)
  }

  test("partitioned avro write keeps per-tuple files and summaries") {
    mkCatalog("fwp")
    spark.sql("CREATE TABLE fwp.db.t (k BIGINT, r BIGINT) " +
      "PARTITIONED BY (r) TBLPROPERTIES ('write.format.default'='avro', " +
      "'commit-timestamp-ms'='1700000000000')")
    spark.sql("INSERT INTO fwp.db.t SELECT id, id % 3 FROM range(0, 30)")
    assert(spark.sql("SELECT r, count(*) FROM fwp.db.t GROUP BY r ORDER BY r")
      .collect().toSeq == Seq(Row(0L, 10L), Row(1L, 10L), Row(2L, 10L)))
    // partition pruning still works over the avro files
    val one = spark.sql("SELECT k FROM fwp.db.t WHERE r = 1")
    assert(one.count() == 10L)
    val all = spark.sql("SELECT k FROM fwp.db.t")
    assert(one.rdd.getNumPartitions < all.rdd.getNumPartitions)
  }

  test("orphan sweep reclaims crashed avro/orc task debris") {
    val wh = mkCatalog("fws")
    spark.sql("CREATE TABLE fws.db.t (k BIGINT) " +
      "TBLPROPERTIES ('write.format.default'='avro', " +
      "'commit-timestamp-ms'='1700000000000')")
    spark.sql("INSERT INTO fws.db.t SELECT id FROM range(0, 10)")
    // crash debris: uncommitted task files in BOTH non-parquet formats
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$wh/db/t/data/w-dead-p00000-t9-f000.avro"),
      Array[Byte](1, 2, 3))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$wh/db/t/data/w-dead-p00001-t9-f000.orc"),
      Array[Byte](4, 5, 6))
    val swept = spark.sql(
      "CALL fws.system.remove_orphan_files(table => 'db.t')").head()
    assert(swept.getInt(0) == 2, swept.toString)
    // committed avro data files survived the sweep
    assert(spark.sql("SELECT count(*), sum(k) FROM fws.db.t").head() ==
      Row(10L, 45L))
  }

  test("v2 and v3 DELETE over avro and orc data files removes exactly the matched rows") {
    for (format <- Seq("avro", "orc"); version <- Seq(2, 3)) {
      val cat = s"fwd_${format}_v$version"
      val wh = mkCatalog(cat)
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) " +
        s"TBLPROPERTIES ('write.format.default'='$format', " +
        s"'format-version'='$version', 'commit-timestamp-ms'='1700000000000')")
      spark.sql(s"INSERT INTO $cat.db.t SELECT id, concat('v', id) FROM range(0, 10)")
      // the pushable DELETE scans the non-parquet files through the
      // table reader; the programmatic one takes the same route
      spark.sql(s"DELETE FROM $cat.db.t WHERE k = 1")
      graft.iceberg.GraftTable.deleteWhere(spark, s"$wh/db/t",
        org.apache.spark.sql.functions.col("v") === "v7")
      val files = spark.sql(s"SELECT file_path FROM $cat.db.t.data_files")
        .collect().map(_.getString(0))
      assert(files.nonEmpty && files.forall(_.endsWith(s".$format")), files.mkString(", "))
      assert(spark.sql(s"SELECT count(*), sum(k) FROM $cat.db.t").head() ==
        Row(8L, 37L), cat)
      assert(spark.sql(s"SELECT k, v FROM $cat.db.t ORDER BY k").collect().toSeq ==
        Seq(0L, 2L, 3L, 4L, 5L, 6L, 8L, 9L).map(k => Row(k, s"v$k")), cat)
    }
  }

  test("avro table: GraftTable.read and rewrite_data_files merge-on-read, then DELETE runs") {
    import spark.implicits._
    import graft.iceberg.GraftTable
    val wh = mkCatalog("fwr")
    spark.sql("CREATE TABLE fwr.db.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('write.format.default'='avro', " +
      "'commit-timestamp-ms'='1700000000000')")
    spark.sql("INSERT INTO fwr.db.t SELECT id, concat('v', id) FROM range(0, 10)")
    val dir = s"$wh/db/t"
    // an equality delete over the avro file: the read applies it
    GraftTable.upsert(spark, dir, Seq((2L, "w2")).toDF("k", "v"), Seq("k"))
    def rows() = GraftTable.read(spark, GraftTable.latestMetadataPath(dir))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val expected = (0L until 10L).map(k => (k, if (k == 2L) "w2" else s"v$k"))
    assert(rows() == expected)
    spark.sql("CALL fwr.system.rewrite_data_files(table => 'db.t')")
    assert(rows() == expected)
    // the compacted files are parquet, which the DELETE scan reads
    spark.sql("DELETE FROM fwr.db.t WHERE k = 1")
    assert(rows() == expected.filterNot(_._1 == 1L))
  }

  test("a bad write.format.default fails the write plan, not a task") {
    mkCatalog("fwb")
    spark.sql("CREATE TABLE fwb.db.t (k BIGINT) " +
      "TBLPROPERTIES ('write.format.default'='feather', " +
      "'commit-timestamp-ms'='1700000000000')")
    val e = intercept[Exception](
      spark.sql("INSERT INTO fwb.db.t VALUES (1)"))
    assert(e.getMessage.toLowerCase.contains("feather"), e.getMessage)
  }
}
