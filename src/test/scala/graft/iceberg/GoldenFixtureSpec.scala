package graft.iceberg

import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IcebergQueries

/** The committed golden manifest must stay what GoldenManifestGenerator
  * writes and what FIXTURES.md §2 records. Both files are read with plain
  * Avro, not graft's readers. Bytes are not compared: the deflate stream
  * may differ between zlib builds. */
class GoldenFixtureSpec extends AnyFunSuite {

  private def contents(f: java.io.File): (Map[String, String], Seq[GenericRecord]) = {
    val r = new DataFileReader[GenericRecord](f, new GenericDatumReader[GenericRecord]())
    try (r.getMetaKeys.asScala.map(k => k -> r.getMetaString(k)).toMap, r.iterator().asScala.toList)
    finally r.close()
  }

  private lazy val committed = contents(new java.io.File(IcebergQueries.FixtureManifest))

  private lazy val regenerated = {
    val dir = java.nio.file.Files.createTempDirectory("graft-golden").toFile
    val f = GoldenManifestGenerator.write(dir)
    try contents(f) finally { f.delete(); dir.delete() }
  }

  test("the generator reproduces the committed manifest's records") {
    assert(regenerated._2 === committed._2)
  }

  test("the generator reproduces the committed manifest's header keys and codec") {
    assert(regenerated._1 === committed._1)
    assert(committed._1.keySet === Set("schema", "avro.schema", "iceberg.schema",
      "format-version", "partition-spec-id", "partition-spec", "avro.codec"))
    assert(committed._1("avro.codec") === "deflate")
    assert(committed._1("format-version") === "1")
  }

  test("the committed manifest's records are FIXTURES.md §2's table") {
    def longs(v: Any): Map[Int, Long] = v.asInstanceOf[java.util.List[GenericRecord]].asScala
      .map(kv => kv.get("key").asInstanceOf[Int] -> kv.get("value").asInstanceOf[Long]).toMap
    def blobs(v: Any): Map[Int, Seq[Byte]] = v.asInstanceOf[java.util.List[GenericRecord]].asScala
      .map { kv =>
        val b = kv.get("value").asInstanceOf[ByteBuffer].duplicate()
        val a = new Array[Byte](b.remaining()); b.get(a)
        kv.get("key").asInstanceOf[Int] -> a.toSeq
      }.toMap
    val dataDir = "file:/tmp/warehouse1148694098868367750.tmp/default/table_2/data"
    val expected = Seq(
      (s"$dataDir/data=a/00000-0-998a7e88-6dd4-459a-aa7a-d7a1f7d2c1cf-00001.parquet", "a", 658L,
        Map(1 -> 52L, 2 -> 52L), Seq[Byte](1, 0, 0, 0, 0, 0, 0, 0), Seq[Byte](0x61)),
      (s"$dataDir/data=b/00001-1-2da6bf06-c914-4a29-ae60-958f47686b04-00001.parquet", "b", 657L,
        Map(1 -> 51L, 2 -> 52L), Seq[Byte](2, 0, 0, 0, 0, 0, 0, 0), Seq[Byte](0x62)))
    val records = committed._2
    assert(records.size === 2)
    records.zip(expected).foreach { case (e, (path, part, size, colSizes, idBound, dataBound)) =>
      assert(e.get("status") === 1)
      assert(e.get("snapshot_id") === 8115727803695877401L)
      val df = e.get("data_file").asInstanceOf[GenericRecord]
      assert(df.get("file_path").toString === path)
      assert(df.get("file_format").toString === "PARQUET")
      assert(df.get("partition").asInstanceOf[GenericRecord].get("data").toString === part)
      assert(df.get("record_count") === 1L)
      assert(df.get("file_size_in_bytes") === size)
      assert(df.get("block_size_in_bytes") === 67108864L)
      assert(longs(df.get("column_sizes")) === colSizes)
      assert(longs(df.get("value_counts")) === Map(1 -> 1L, 2 -> 1L))
      assert(longs(df.get("null_value_counts")) === Map(1 -> 0L, 2 -> 0L))
      assert(longs(df.get("nan_value_counts")) === Map.empty)
      assert(blobs(df.get("lower_bounds")) === Map(1 -> idBound, 2 -> dataBound))
      assert(blobs(df.get("upper_bounds")) === Map(1 -> idBound, 2 -> dataBound))
      assert(df.get("key_metadata") === null)
      assert(df.get("split_offsets").asInstanceOf[java.util.List[Any]].asScala.toSeq === Seq(4L))
      assert(df.get("sort_order_id") === 0)
    }
  }

  test("a golden fixture missing from the classpath fails and names the resource") {
    val e = intercept[IllegalStateException](IcebergQueries.fixturePath("nope.avro"))
    assert(e.getMessage.contains("graft/fixtures/nope.avro"))
  }

  test("a golden fixture inside a jar resolves to a local copy under its own name") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fixture-jar")
    val jar = dir.resolve("fixtures.jar")
    val bytes = "{\"format-version\" : 1}".getBytes("UTF-8")
    val out = new java.util.jar.JarOutputStream(java.nio.file.Files.newOutputStream(jar))
    try {
      out.putNextEntry(new java.util.jar.JarEntry("graft/fixtures/v9.metadata.json"))
      out.write(bytes)
    } finally out.close()
    val loader = new java.net.URLClassLoader(Array(jar.toUri.toURL), null)
    try {
      val path = IcebergQueries.fixturePath("v9.metadata.json", loader)
      assert(new java.io.File(path).isAbsolute)
      assert(new java.io.File(path).getName === "v9.metadata.json")
      assert(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)).toSeq === bytes.toSeq)
    } finally loader.close()
  }
}
