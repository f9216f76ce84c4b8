package graft.iceberg

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** One path identity, two forms: the String function and its Column twin
  * agree on every spelling, local spellings collapse to the bare path,
  * and scheme plus authority stay part of the id. */
class PathIdSpec extends SparkSpec {

  // (spelling, id)
  private val spellings = Seq(
    "/p/x.parquet" -> "/p/x.parquet",
    "file:/p/x.parquet" -> "/p/x.parquet",
    "file:///p/x.parquet" -> "/p/x.parquet",
    "/p//x.parquet" -> "/p/x.parquet",
    "file:/p//x.parquet" -> "/p/x.parquet",
    "hdfs://nn:8020/p/x.parquet" -> "hdfs://nn:8020/p/x.parquet",
    "hdfs://nn:8020//p/x.parquet" -> "hdfs://nn:8020/p/x.parquet",
    "s3://b/k/x.parquet" -> "s3://b/k/x.parquet",
    "s3://c/k/x.parquet" -> "s3://c/k/x.parquet",
    "file://host/p/x.parquet" -> "file://host/p/x.parquet",
    "/a b/x.parquet" -> "/a b/x.parquet",
    "file:/a b/x.parquet" -> "/a b/x.parquet",
    "/a%20b%c/x.parquet" -> "/a%20b%c/x.parquet",
    "file:///a%25c/x.parquet" -> "/a%25c/x.parquet",
    "/a+b/x.parquet" -> "/a+b/x.parquet",
    "s3://b/a b+c%d/x.parquet" -> "s3://b/a b+c%d/x.parquet")

  test("the String and Column forms give the same id for every spelling") {
    import spark.implicits._
    val viaColumn = spellings.map(_._1).toDF("p")
      .select(col("p"), PathId.col(col("p")).as("id"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    spellings.foreach { case (p, id) =>
      assert(PathId(p) == id, s"String form of $p")
      assert(viaColumn(p) == id, s"Column form of $p")
    }
  }

  test("local spellings are one id; other authorities and schemes are not") {
    assert(Set("/k", "file:/k", "file:///k").map(PathId(_)) == Set("/k"))
    assert(Set("s3://b/k", "s3://c/k", "/k", "hdfs://b/k").map(PathId(_)).size == 4)
    assert(PathId("s3://b/k") != PathId("b/k"))
  }

  test("the component drops scheme and authority, and nothing else") {
    Seq("/k/x", "file:/k/x", "file:///k/x", "file://localhost/k/x", "s3://b/k/x",
      "s3a://b/k/x", "hdfs://nn:8020/k//x", "hdfs://nn/k/x").foreach(p =>
      assert(PathId.component(p) == "/k/x", p))
    assert(PathId.component("s3://b/a b+c%d/x") == "/a b+c%d/x")
    assert(PathId.component("/a:b/x") == "/a:b/x")
  }

  test("a table created at a file:/// URI reads, appends and deletes") {
    import spark.implicits._
    val local = java.nio.file.Files.createTempDirectory("graft-pathid").toString + "/t"
    val dir = s"file://$local"
    GraftTable.create(dir, IcebergSchema(0, Seq(
      IcebergField(1, "k", required = false, "long"))),
      tableUuid = "b6b9a6a1-0000-4000-8000-0000000a7d01", timestampMs = 1700000000000L)
    GraftTable.append(spark, dir, (0L until 20L).toDF("k"))
    GraftTable.append(spark, dir, (20L until 30L).toDF("k"))
    GraftTable.deleteWhere(spark, dir, col("k") < 5L || col("k") === 25L)
    val keys = GraftTable.read(spark, GraftTable.latestMetadataPath(dir))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(keys == (5L until 30L).filterNot(_ == 25L))
    // the same table through its bare local spelling
    assert(GraftTable.read(spark, GraftTable.latestMetadataPath(local)).count() == 24)
  }
}
