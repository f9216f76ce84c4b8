package graft.iceberg

import graft.SparkSpec

/** `ParquetFiles.read` reads every path under its own footer schema: files
  * that agree read together, files that disagree are refused by name. */
class ParquetFilesSpec extends SparkSpec {

  test("files sharing column names but not types are refused, naming both and the field") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pqf").toString
    val (a, b, c) = (s"$dir/a.parquet", s"$dir/b.parquet", s"$dir/c.parquet")
    ParquetFiles.writeOne(Seq((1L, "x"), (2L, "y")).toDF("k", "v"), a)
    ParquetFiles.writeOne(Seq(("3", "z")).toDF("k", "v"), b)
    ParquetFiles.writeOne(Seq((4L, "w")).toDF("k", "v"), c)
    assert(ParquetFiles.read(spark, Seq(a, c)).count() == 3)
    val e = intercept[IllegalArgumentException](ParquetFiles.read(spark, Seq(a, c, b)))
    assert(e.getMessage.contains(a) && e.getMessage.contains(b), e.getMessage)
    assert(e.getMessage.contains("field k is bigint vs string"), e.getMessage)
  }
}
