package graft.iceberg

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{CodecFactory, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

/** Writes the golden v1 manifest `1702989a-f66f-423a-aaf1-a01b9a699685-m0.avro`
  * (src/main/resources/graft/fixtures) from the facts FIXTURES.md §2 and the
  * GoldenOracles i01–i12 values record: the writer schema with every field
  * id, Iceberg's record names (`r2`, `r102`, `k<keyId>_v<valueId>`), the
  * deflate codec, the header keys and the two data-file entries.
  *
  * It uses Avro's own GenericDatumWriter/DataFileWriter and encodes the
  * bound blobs by hand (little-endian longs, UTF-8 strings), never graft's
  * ManifestWriter or SingleValueCodec: the fixture checks those codecs, so
  * it must not be made by them. Values no document records are marked
  * placeholders (FIXTURES.md "Placeholders"). GoldenFixtureSpec checks that
  * the committed file still decodes to what this writes.
  *
  * Regenerate with
  * `sbt "Test/runMain graft.iceberg.GoldenManifestGenerator src/main/resources/graft/fixtures"`.
  */
object GoldenManifestGenerator {

  private val FileName = "1702989a-f66f-423a-aaf1-a01b9a699685-m0.avro"

  private val SnapshotId = 8115727803695877401L

  private val DataDir = "file:/tmp/warehouse1148694098868367750.tmp/default/table_2/data"

  /** Not recorded: a fixed, recognisable 16-byte marker instead of a
    * random one. */
  private val SyncMarker: Array[Byte] = "graft-fixture-v1".getBytes(UTF_8)

  private def optional(tpe: String): String = s"""["null", $tpe], "default": null"""

  private def kvMap(keyId: Int, valueId: Int, valueType: String): String =
    s"""{"type": "array", "logicalType": "map", "items": {
       |  "type": "record", "name": "k${keyId}_v$valueId", "fields": [
       |    {"name": "key", "type": "int", "field-id": $keyId},
       |    {"name": "value", "type": "$valueType", "field-id": $valueId}]}}""".stripMargin

  /** The `manifest_entry` writer schema of FIXTURES.md §2. */
  private val schema: Schema = new Schema.Parser().parse(
    s"""{"type": "record", "name": "manifest_entry", "fields": [
       |  {"name": "status", "type": "int", "field-id": 0},
       |  {"name": "snapshot_id", "type": ${optional("\"long\"")}, "field-id": 1},
       |  {"name": "data_file", "field-id": 2, "type": {
       |    "type": "record", "name": "r2", "fields": [
       |      {"name": "file_path", "type": "string", "field-id": 100},
       |      {"name": "file_format", "type": "string", "field-id": 101},
       |      {"name": "partition", "field-id": 102, "type": {
       |        "type": "record", "name": "r102", "fields": [
       |          {"name": "data", "type": ${optional("\"string\"")}, "field-id": 1000}]}},
       |      {"name": "record_count", "type": "long", "field-id": 103},
       |      {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
       |      {"name": "block_size_in_bytes", "type": "long", "field-id": 105},
       |      {"name": "column_sizes", "type": ${optional(kvMap(117, 118, "long"))}, "field-id": 108},
       |      {"name": "value_counts", "type": ${optional(kvMap(119, 120, "long"))}, "field-id": 109},
       |      {"name": "null_value_counts", "type": ${optional(kvMap(121, 122, "long"))}, "field-id": 110},
       |      {"name": "nan_value_counts", "type": ${optional(kvMap(138, 139, "long"))}, "field-id": 137},
       |      {"name": "lower_bounds", "type": ${optional(kvMap(126, 127, "bytes"))}, "field-id": 125},
       |      {"name": "upper_bounds", "type": ${optional(kvMap(129, 130, "bytes"))}, "field-id": 128},
       |      {"name": "key_metadata", "type": ${optional("\"bytes\"")}, "field-id": 131},
       |      {"name": "split_offsets", "type": ${optional(
         """{"type": "array", "items": "long", "element-id": 133}""")}, "field-id": 132},
       |      {"name": "sort_order_id", "type": ${optional("\"int\"")}, "field-id": 140}]}}]}
       |""".stripMargin)

  /** The header keys besides Avro's own `avro.schema`/`avro.codec`. */
  private val headerMeta: Seq[(String, String)] = Seq(
    "schema" -> ("""{"type":"struct","schema-id":0,"fields":[""" +
      """{"id":1,"name":"id","required":false,"type":"long"},""" +
      """{"id":2,"name":"data","required":false,"type":"string"}]}"""),
    // not recorded: Iceberg's JSON of the manifest_entry schema
    "iceberg.schema" -> "placeholder: not recorded",
    "format-version" -> "1",
    "partition-spec-id" -> "0",
    "partition-spec" -> """[{"name":"data","transform":"identity","source-id":2,"field-id":1000}]""")

  /** One data file of FIXTURES.md §2's table. */
  private final case class Entry(path: String, partition: String, fileSize: Long,
      columnSizes: Seq[(Int, Long)], id: Long)

  private val entries: Seq[Entry] = Seq(
    Entry(s"$DataDir/data=a/00000-0-998a7e88-6dd4-459a-aa7a-d7a1f7d2c1cf-00001.parquet",
      "a", 658L, Seq(1 -> 52L, 2 -> 52L), 1L),
    Entry(s"$DataDir/data=b/00001-1-2da6bf06-c914-4a29-ae60-958f47686b04-00001.parquet",
      "b", 657L, Seq(1 -> 51L, 2 -> 52L), 2L))

  /** Iceberg's single-value encodings, by hand: a long is 8 bytes
    * little-endian, a string its UTF-8 bytes. */
  private def longBound(v: Long): ByteBuffer =
    ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(0, v)

  private def stringBound(v: String): ByteBuffer = ByteBuffer.wrap(v.getBytes(UTF_8))

  private def record(r: Entry): GenericRecord = {
    val dataFile = schema.getField("data_file").schema()
    def field(name: String): Schema = dataFile.getField(name).schema()
    def mapOf(name: String, kvs: Seq[(Int, Any)]): GenericData.Array[GenericRecord] = {
      val arr = field(name).getTypes.get(1)
      new GenericData.Array[GenericRecord](arr, kvs.map { case (k, v) =>
        val kv = new GenericData.Record(arr.getElementType)
        kv.put("key", k)
        kv.put("value", v)
        kv: GenericRecord
      }.asJava)
    }
    val partition = new GenericData.Record(field("partition"))
    partition.put("data", r.partition)
    val bounds = Seq(1 -> longBound(r.id), 2 -> stringBound(r.partition))
    val df = new GenericData.Record(dataFile)
    df.put("file_path", r.path)
    df.put("file_format", "PARQUET")
    df.put("partition", partition)
    df.put("record_count", 1L)
    df.put("file_size_in_bytes", r.fileSize)
    df.put("block_size_in_bytes", 67108864L)
    df.put("column_sizes", mapOf("column_sizes", r.columnSizes))
    df.put("value_counts", mapOf("value_counts", Seq(1 -> 1L, 2 -> 1L)))
    df.put("null_value_counts", mapOf("null_value_counts", Seq(1 -> 0L, 2 -> 0L)))
    df.put("nan_value_counts", mapOf("nan_value_counts", Nil))
    // 1-row files: upper bounds equal lower bounds
    df.put("lower_bounds", mapOf("lower_bounds", bounds))
    df.put("upper_bounds", mapOf("upper_bounds", bounds.map { case (k, b) => k -> b.duplicate() }))
    df.put("key_metadata", null)
    df.put("split_offsets", new GenericData.Array[Long](
      field("split_offsets").getTypes.get(1), Seq(4L).asJava))
    df.put("sort_order_id", 0)
    val e = new GenericData.Record(schema)
    e.put("status", 1)
    e.put("snapshot_id", SnapshotId)
    e.put("data_file", df)
    e
  }

  /** Writes the manifest as `dir/FileName` and returns its path. */
  def write(dir: java.io.File): java.io.File = {
    val out = new java.io.File(dir, FileName)
    val writer = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    writer.setCodec(CodecFactory.deflateCodec(CodecFactory.DEFAULT_DEFLATE_LEVEL))
    headerMeta.foreach { case (k, v) => writer.setMeta(k, v) }
    writer.create(schema, new java.io.FileOutputStream(out), SyncMarker)
    try entries.foreach(e => writer.append(record(e)))
    finally writer.close()
    out
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: GoldenManifestGenerator <output directory>")
    println(write(new java.io.File(args(0))).getPath)
  }
}
