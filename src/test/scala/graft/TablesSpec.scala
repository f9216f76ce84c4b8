package graft

import org.apache.spark.sql.types.{LongType, StringType}

/** `Tables.physicalSchema` caches per JVM, keyed on the file's identity:
  * a `$name.parquet` rewritten in place with another schema reads back
  * under the NEW schema, not the cached one. */
class TablesSpec extends SparkSpec {

  test("a table file rewritten with a different schema reads its new schema") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    val file = s"$dir/t.parquet"
    Seq((1L, "one")).toDF("id", "name").write.parquet(file)
    assert(Tables.physicalSchema(spark, dir, "t").map(_.dataType) == Seq(LongType, StringType))
    Seq(("x", "y", 2L)).toDF("a", "b", "c").write.mode("overwrite").parquet(file)
    val schema = Tables.physicalSchema(spark, dir, "t")
    assert(schema.fieldNames.toSeq == Seq("a", "b", "c"), schema.treeString)
    val row = Tables.load(spark, dir, "t").collect().head
    assert((row.getString(0), row.getString(1), row.getLong(2)) == ("x", "y", 2L))
  }
}
