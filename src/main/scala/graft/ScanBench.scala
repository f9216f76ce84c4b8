package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.iceberg._

/** Whole-table scan benchmark: the same full-decode aggregate over the
  * same physical parquet files through Spark's native parquet reader and
  * the `graft-table` DSv2 scan — clean, under position deletes, under an
  * equality delete and under v3 deletion vectors — plus the row-level
  * DML scan shape (`_file`, `_pos` and one column under position
  * deletes) against native parquet's `_metadata.file_path` /
  * `_metadata.row_index`. Also times the v3 `rewritePositionDeleteFiles`
  * that turns the table's deletes into deletion vectors (one run) and a
  * changelog over the table's history. Prints one JSON line: seconds per
  * route (min of `passes`) and each graft route's ratio to its native
  * leg. Run with SPARK_GRAFT_SF_DIR pointing at a TPC-H parquet
  * directory (sf0.1). */
object ScanBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.get("SPARK_GRAFT_SCANBENCH_PASSES").map(_.toInt).getOrElse(3)
    val spark = Sessions.local("graft-scanbench")

    // one graft table over lineitem, written once through the DSv2 writer
    val dir = java.nio.file.Files.createTempDirectory("graft-scanbench").toString
    GraftTable.create(dir, IcebergSchema(0, Seq(
      IcebergField(1, "l_orderkey", required = false, "long"),
      IcebergField(2, "l_partkey", required = false, "long"),
      IcebergField(3, "l_suppkey", required = false, "long"),
      IcebergField(4, "l_linenumber", required = false, "int"),
      IcebergField(5, "l_quantity", required = false, "double"),
      IcebergField(6, "l_extendedprice", required = false, "double"),
      IcebergField(7, "l_discount", required = false, "double"),
      IcebergField(8, "l_tax", required = false, "double"),
      IcebergField(9, "l_returnflag", required = false, "string"),
      IcebergField(10, "l_linestatus", required = false, "string"),
      IcebergField(11, "l_shipdate", required = false, "timestamptz"))),
      tableUuid = java.util.UUID.randomUUID().toString,
      timestampMs = System.currentTimeMillis())
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
      .write.format("graft-table")
      .option("metadata", GraftTable.latestMetadataPath(dir))
      .mode("append").save()
    val metaPath = GraftTable.latestMetadataPath(dir)
    val meta = TableMetadata.parseFile(metaPath)
    val files = ManifestListReader.read(meta.currentSnapshot.get.manifestList.get)
      .flatMap(i => ManifestWriter.read(i.path)).filter(_.content == 0)
      .map(_.filePath)

    // full-decode aggregate: every column participates, so the scan can't
    // cheat with column pruning or count-only fast paths
    def fullDecode(df: DataFrame): Unit = {
      df.agg(count(lit(1)),
        sum(col("l_orderkey") + col("l_partkey") + col("l_suppkey")),
        sum(col("l_quantity") * col("l_extendedprice")
          + col("l_discount") + col("l_tax")),
        sum(col("l_linenumber")),
        min(col("l_returnflag")), max(col("l_linestatus")),
        min(col("l_shipdate"))).head()
    }
    // the row-level DML scan shape: the row coordinate plus one column
    def coordinates(df: DataFrame): Unit = {
      df.agg(count(lit(1)), max(col("_file")), sum(col("_pos")),
        sum(col("l_orderkey"))).head()
    }
    def route(name: String, measure: DataFrame => Unit = fullDecode)(
        mk: () => DataFrame): (String, Double) = {
      measure(mk()) // warm (footers, code paths, JIT)
      val secs = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        measure(mk())
        (System.nanoTime() - t0) / 1e9
      }
      name -> secs.min
    }

    val clean = Seq(
      route("native_parquet")(() => spark.read.parquet(files: _*)),
      route("graft_columnar")(() =>
        spark.read.format("graft-table").option("metadata", metaPath).load()),
      route("native_coordinates", coordinates)(() => spark.read.parquet(files: _*)
        .select(col("_metadata.file_path").as("_file"),
          col("_metadata.row_index").as("_pos"), col("l_orderkey"))))

    // vectorized MOR: ~0.1% of rows position-deleted — the scan must load
    // the delete index and select every batch, the delete-heavy-CDC shape;
    // staying near native here is the contract (< 1.5×)
    GraftTable.deleteWhere(spark, dir, pmod(col("l_orderkey"), lit(1000)) === 0)
    val morMetaPath = GraftTable.latestMetadataPath(dir)
    val withPos = clean ++ Seq(
      route("graft_columnar_mor")(() =>
        spark.read.format("graft-table").option("metadata", morMetaPath).load()),
      route("graft_mor_coordinates", coordinates)(() =>
        spark.read.format("graft-table").option("metadata", morMetaPath).load()
          .select(col("_file"), col("_pos"), col("l_orderkey"))))
    // vectorized EQUALITY MOR on top: a streaming-upsert lands an
    // equality-delete file on l_orderkey — the scan widens its batch
    // projection over the equality column and tests set membership per
    // row (the CDC-upsert table shape); still near native is the contract
    import spark.implicits._
    GraftTable.upsert(spark, dir,
      (1L to 64L).map(k => (k * 7L, k * 7L, k * 7L, 1, 1.0, 1.0, 0.0, 0.0,
        "N", "O", new java.sql.Timestamp(1700000000000L)))
        .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus", "l_shipdate"),
      Seq("l_orderkey"))
    val eqMetaPath = GraftTable.latestMetadataPath(dir)
    val withEq = withPos :+ route("graft_columnar_eqmor")(() =>
      spark.read.format("graft-table").option("metadata", eqMetaPath).load())
    // v3 DELETION-VECTOR MOR: the upgrade-completion path converts every
    // pending delete (the parquet positions AND the equality delete,
    // resolved) into one Roaring bitmap per data file — the scan then
    // reads exactly ONE blob per file and probes it unboxed. The claim
    // to hold: at or below the parquet-position route's cost.
    GraftTable.upgradeFormatVersion(dir, 3)
    val rewriteStart = System.nanoTime()
    GraftTable.rewritePositionDeleteFiles(spark, dir)
    val rewrite = "rewrite_position_delete_files" -> (System.nanoTime() - rewriteStart) / 1e9
    val dvMetaPath = GraftTable.latestMetadataPath(dir)
    // the whole history's changelog: the append's inserts, the position
    // and equality deletes' removed rows, the upsert's inserts
    val results = withEq :+ route("graft_columnar_dvmor")(() =>
      spark.read.format("graft-table").option("metadata", dvMetaPath).load()) :+ rewrite :+
      route("changelog", df => { df.groupBy("_change_type").count().collect(); () })(() =>
        GraftTable.changelog(spark, dir))
    val m = results.toMap
    val line = results.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }
      .mkString("{", ",", ",") +
      s""""columnar_over_native":${f"${m("graft_columnar") / m("native_parquet")}%.2f"},""" +
      s""""columnar_mor_over_native":${
        f"${m("graft_columnar_mor") / m("native_parquet")}%.2f"},""" +
      s""""columnar_eqmor_over_native":${
        f"${m("graft_columnar_eqmor") / m("native_parquet")}%.2f"},""" +
      s""""columnar_dvmor_over_native":${
        f"${m("graft_columnar_dvmor") / m("native_parquet")}%.2f"},""" +
      s""""mor_coordinates_over_native":${
        f"${m("graft_mor_coordinates") / m("native_coordinates")}%.2f"},""" +
      s""""sf":"$sfDir"}"""
    // scalastyle:off println
    println(line)
    // scalastyle:on println
    spark.stop()
  }
}
