package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.iceberg._

/** Type-widening schema evolution (`ALTER TABLE … ALTER COLUMN c TYPE
  * BIGINT`): the safe promotions only (int→long, float→double), with
  * pre-widening files keeping their narrower physical type and every
  * read route promoting losslessly — Iceberg's widening contract. */
class TypeWideningSpec extends SparkSpec {

  test("int->bigint and float->double widen through SQL; old files promote on read") {
    val wh = java.nio.file.Files.createTempDirectory("graft-widen").toString
    spark.conf.set("spark.sql.catalog.graft_wd",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_wd.warehouse", wh)
    spark.sql("CREATE TABLE graft_wd.db.t (k INT, x FLOAT, name STRING)")
    spark.sql("INSERT INTO graft_wd.db.t VALUES (1, 1.5, 'a'), (2, 2.5, 'b')")
    spark.sql("ALTER TABLE graft_wd.db.t ALTER COLUMN k TYPE BIGINT")
    spark.sql("ALTER TABLE graft_wd.db.t ALTER COLUMN x TYPE DOUBLE")
    // post-widening values exceed int range — only a real widening holds them
    spark.sql("INSERT INTO graft_wd.db.t VALUES (5000000000, 3.25, 'c')")

    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(s"$wh/db/t"))
    assert(meta.currentSchema.fields.map(f => (f.name, f.fieldType)).toSeq ==
      Seq(("k", "long"), ("x", "double"), ("name", "string")))

    val want = Seq((1L, 1.5d, "a"), (2L, 2.5d, "b"), (5000000000L, 3.25d, "c"))
    // DSv2 route (vectorized: clean scan, old INT32/FLOAT files promote)
    val dsv2 = spark.table("graft_wd.db.t")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(dsv2 == want, s"DSv2 route: $dsv2")
    // native route (spark.read.schema(declared) promotion)
    val native = GraftTable.read(spark,
      GraftTable.latestMetadataPath(s"$wh/db/t"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(native == want, s"native route: $native")
    // row-level DELETE keyed on the widened column still resolves
    // (position-delete MOR over mixed-physical files)
    spark.sql("DELETE FROM graft_wd.db.t WHERE k = 2")
    assert(spark.table("graft_wd.db.t").count() == 2)
  }

  test("narrowing and cross-family changes are refused") {
    val wh = java.nio.file.Files.createTempDirectory("graft-widen2").toString
    spark.conf.set("spark.sql.catalog.graft_wd2",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_wd2.warehouse", wh)
    spark.sql("CREATE TABLE graft_wd2.db.t (k BIGINT, name STRING)")
    intercept[Exception](
      spark.sql("ALTER TABLE graft_wd2.db.t ALTER COLUMN k TYPE INT"))
    intercept[Exception](
      spark.sql("ALTER TABLE graft_wd2.db.t ALTER COLUMN name TYPE INT"))
    // schema unchanged after the refusals
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(s"$wh/db/t"))
    assert(meta.currentSchema.fields.map(_.fieldType).toSeq == Seq("long", "string"))
  }
}
