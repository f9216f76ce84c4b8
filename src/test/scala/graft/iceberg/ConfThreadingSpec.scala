package graft.iceberg

import java.net.URI

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** A local filesystem registered under a custom scheme — resolvable ONLY
  * through a Hadoop conf that carries `fs.graftest.impl`. Any open that
  * builds a fresh default `Configuration` instead of threading the
  * session's conf fails with "No FileSystem for scheme: graftest", which
  * is exactly the s3a://-credentials failure mode shrunk to a unit test. */
class GraftTestFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: URI = URI.create("graftest:///")
  override def getScheme: String = "graftest"
}

class ConfThreadingSpec extends SparkSpec {

  private def withTestFs[A](body: => A): A = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftest.impl", classOf[GraftTestFileSystem].getName)
    // defeat the FileSystem instance cache: every get() must construct the
    // FS from ITS OWN conf, so an un-threaded default conf cannot ride on
    // an instance some earlier threaded call already cached
    hc.set("fs.graftest.impl.disable.cache", "true")
    try body
    finally { hc.unset("fs.graftest.impl"); hc.unset("fs.graftest.impl.disable.cache") }
  }

  test("SerializableHadoopConf round-trips custom keys through Java serialization") {
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("graft.test.marker", "42")
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(new SerializableHadoopConf(conf)); oos.close()
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[SerializableHadoopConf]
    assert(back.value.get("graft.test.marker") == "42")
  }

  test("DSv2 manifest scan opens files through the session Hadoop conf") {
    withTestFs {
      val dir = java.nio.file.Files.createTempDirectory("graft-conf").toString
      val p = s"$dir/m0.avro"
      ManifestWriter.write(p, Seq(ManifestWriter.EntryData(
        status = 1, snapshotId = 7L, filePath = "data-0.parquet",
        recordCount = 3L, fileSizeInBytes = 99L,
        lowerBounds = Map.empty, upperBounds = Map.empty)))
      // scheme only resolvable via the session conf: infer, plan, and the
      // serialized executor-side open must all thread it
      val rows = spark.read.format("graft-manifest")
        .load(s"graftest://$p")
        .select(col("data_file.file_path"), col("data_file.record_count"))
        .collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("data-0.parquet", 3L)))
    }
  }

  test("ManifestReader.entries task closures carry the session Hadoop conf") {
    withTestFs {
      val dir = java.nio.file.Files.createTempDirectory("graft-conf2").toString
      val p = s"$dir/m0.avro"
      ManifestWriter.write(p, Seq(ManifestWriter.EntryData(
        status = 1, snapshotId = 7L, filePath = "data-1.parquet",
        recordCount = 5L, fileSizeInBytes = 99L,
        lowerBounds = Map.empty, upperBounds = Map.empty)))
      val n = ManifestReader.entries(spark, Seq(s"graftest://$p")).count()
      assert(n == 1L)
    }
  }

  test("footer schemas convert under the caller's session conf on any thread") {
    // a parquet file WITHOUT Spark's row-metadata key: its BINARY column
    // converts by the session's parquet flags
    val path = java.nio.file.Files.createTempDirectory("graft-conf3").toString + "/raw.parquet"
    val schema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message m { required binary b; }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path)).withType(schema).build()
    try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("b", "x"))
    finally w.close()
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try {
      // a worker thread with no active session — what a pool thread that
      // did not inherit the caller's session sees through SQLConf.get
      @volatile var got: scala.util.Try[org.apache.spark.sql.types.StructType] = null
      val t = new Thread(() => {
        org.apache.spark.sql.SparkSession.clearActiveSession()
        got = scala.util.Try(GraftTable.footerSparkSchema(spark, path))
      })
      t.start(); t.join()
      assert(got.get("b").dataType == org.apache.spark.sql.types.StringType)
    } finally spark.conf.unset("spark.sql.parquet.binaryAsString")
  }
}
