package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.iceberg._

/** RENAME COLUMN end-to-end: field-id rename (metadata-only), pre-rename
  * files resolving through the name history on BOTH scan routes, rename
  * interacting with MOR deletes, and the safety guards. */
class RenameColumnSpec extends SparkSpec {

  private def freshCatalog(tag: String): String = {
    val wh = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-spec-$tag-${graft.Scratch.procToken}").toString
    graft.TmpOutputs.deleteRecursively(java.nio.file.Paths.get(wh))
    spark.conf.set(s"spark.sql.catalog.g_$tag",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.g_$tag.warehouse", wh)
    wh
  }

  test("pre-rename files read on the columnar route; filters prune by id") {
    freshCatalog("rn1")
    Tables.load(spark, sfDir, "nation").createOrReplaceTempView("rn1_src")
    spark.sql("CREATE TABLE g_rn1.db.n (n_nationkey INT, n_name STRING)")
    spark.sql("INSERT INTO g_rn1.db.n SELECT n_nationkey, n_name FROM rn1_src")
    spark.sql("ALTER TABLE g_rn1.db.n RENAME COLUMN n_name TO label")
    // delete-free scan stays columnar (per-file name substitution);
    // exchange-free projection so the non-AQE plan is final
    val plain = spark.sql("SELECT n_nationkey, label FROM g_rn1.db.n")
    assert(plain.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      plain.queryExecution.executedPlan.toString)
    val df = spark.sql("SELECT n_nationkey, label FROM g_rn1.db.n ORDER BY n_nationkey")
    val got = df.collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    val want = Tables.load(spark, sfDir, "nation").orderBy("n_nationkey")
      .collect().map(r => (r.getAs[Int]("n_nationkey"), r.getAs[String]("n_name"))).toSeq
    assert(got == want)
    // a filter on the renamed column still answers correctly (bounds are
    // keyed by field id, untouched by the rename)
    val one = spark.sql("SELECT n_nationkey FROM g_rn1.db.n WHERE label = 'CHINA'")
      .collect().map(_.getInt(0)).toSeq
    assert(one == Tables.load(spark, sfDir, "nation")
      .filter(col("n_name") === "CHINA").collect().map(_.getAs[Int]("n_nationkey")).toSeq)
  }

  test("rename + MOR deletes take the row route and stay correct") {
    freshCatalog("rn2")
    Tables.load(spark, sfDir, "nation").createOrReplaceTempView("rn2_src")
    spark.sql("""CREATE TABLE g_rn2.db.n (n_nationkey INT, n_name STRING)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.sql("INSERT INTO g_rn2.db.n SELECT n_nationkey, n_name FROM rn2_src")
    spark.sql("ALTER TABLE g_rn2.db.n RENAME COLUMN n_name TO label")
    spark.sql("DELETE FROM g_rn2.db.n WHERE n_nationkey IN (3, 7)")
    val got = spark.sql("SELECT COUNT(*) AS n, MAX(label) AS top FROM g_rn2.db.n").head()
    val want = Tables.load(spark, sfDir, "nation")
      .filter(!col("n_nationkey").isin(3, 7))
      .agg(count(lit(1)), max(col("n_name"))).head()
    assert(got.getLong(0) == want.getLong(0) && got.getString(1) == want.getString(1))
  }

  test("rename guards: duplicate and cross-field historical names refuse; rename-back works") {
    freshCatalog("rn3")
    spark.sql("CREATE TABLE g_rn3.db.n (a INT, b STRING)")
    spark.sql("INSERT INTO g_rn3.db.n VALUES (1, 'x'), (2, 'y')")
    intercept[Exception](spark.sql("ALTER TABLE g_rn3.db.n RENAME COLUMN a TO b"))
    spark.sql("ALTER TABLE g_rn3.db.n RENAME COLUMN b TO c")
    // 'b' is now historical FOR FIELD 2 — renaming field 1 onto it must refuse
    intercept[Exception](spark.sql("ALTER TABLE g_rn3.db.n RENAME COLUMN a TO b"))
    // the SAME field may take its old name back
    spark.sql("ALTER TABLE g_rn3.db.n RENAME COLUMN c TO b")
    val got = spark.sql("SELECT a, b FROM g_rn3.db.n ORDER BY a")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((1, "x"), (2, "y")))
  }

  test("programmatic read and upsert resolve renamed columns") {
    freshCatalog("rn4")
    Tables.load(spark, sfDir, "nation").createOrReplaceTempView("rn4_src")
    spark.sql("CREATE TABLE g_rn4.db.n (n_nationkey INT, n_name STRING)")
    spark.sql("INSERT INTO g_rn4.db.n SELECT n_nationkey, n_name FROM rn4_src")
    spark.sql("ALTER TABLE g_rn4.db.n RENAME COLUMN n_name TO label")
    val dir = spark.conf.get("spark.sql.catalog.g_rn4.warehouse") + "/db/n"
    // GraftTable.read resolves each file's own name generation
    val viaApi = GraftTable.read(spark, GraftTable.latestMetadataPath(dir))
    assert(viaApi.columns.toSeq == Seq("n_nationkey", "label"))
    assert(viaApi.where(col("label").isNull).count() == 0)
    assert(viaApi.count() == 25)
  }

  test("pushable DELETE on a renamed column deletes pre-rename rows") {
    val wh = freshCatalog("rn5")
    Tables.load(spark, sfDir, "nation").createOrReplaceTempView("rn5_src")
    spark.sql("CREATE TABLE g_rn5.db.n (n_nationkey INT, n_name STRING)")
    spark.sql("INSERT INTO g_rn5.db.n SELECT n_nationkey, n_name FROM rn5_src")
    spark.sql("ALTER TABLE g_rn5.db.n RENAME COLUMN n_name TO label")
    def names(): Seq[String] = spark.sql("SELECT label FROM g_rn5.db.n")
      .collect().map(_.getString(0)).toSeq
    def nameOf(key: Int): String = Tables.load(spark, sfDir, "nation")
      .filter(col("n_nationkey") === key).head().getAs[String]("n_name")
    val (first, second) = (nameOf(18), nameOf(12))
    // SQL: the predicate pushes whole into GraftTable.deleteWhere
    spark.sql(s"DELETE FROM g_rn5.db.n WHERE label = '$first'")
    assert(!names().contains(first) && names().size == 24, names())
    // the programmatic route resolves the renamed column the same way
    GraftTable.deleteWhere(spark, s"$wh/db/n", col("label") === second)
    assert(!names().contains(second) && names().size == 23, names())
  }
}
