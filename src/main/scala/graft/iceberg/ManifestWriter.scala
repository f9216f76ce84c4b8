package graft.iceberg

import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.SchemaBuilder
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

/** Manifest sink: writes `manifest_entry` records — core v1 fields plus
  * the binary bound-statistics maps in Iceberg's map-as-array-of-k/v-
  * records encoding (`logicalType: map`, the same shape the reference
  * decodes, IcebergDatumWriter.java:149-160) — completing the engine's
  * read/write symmetry: SingleValueCodec encodes the bounds this module's
  * reader+BoundDecode decode.
  *
  * Manifests are KB-scale metadata; like Iceberg's own writers this runs
  * one container per call (a distributed commit writes one manifest per
  * task and lists them in a manifest-list — see ManifestListWriter).
  */
object ManifestWriter {

  /** Iceberg's RESERVED field ids for the position-delete file columns
    * (spec §Position Delete Files): bound stats keyed on these let a
    * planner skip delete files whose [min,max] file_path range cannot
    * address a given data file — the mechanism that keeps per-task delete
    * loads proportional to RELEVANT deletes at 10⁵ delete files. */
  val PosDeleteFilePathId: Int = 2147483546
  val PosDeletePosId: Int = 2147483545

  /** The file_path bounds of a position-delete entry as [[PathId]]s —
    * each None when missing or undecodable (it may address any file). */
  def posDeletePathBounds(del: EntryData): (Option[String], Option[String]) = {
    def decode(m: Map[Int, Array[Byte]]): Option[String] =
      m.get(PosDeleteFilePathId).filter(_.nonEmpty)
        .flatMap(b => scala.util.Try(
          SingleValueCodec.decode(IcebergTypes.TString, b).asInstanceOf[String]).toOption)
        .map(PathId(_))
    (decode(del.lowerBounds), decode(del.upperBounds))
  }

  /** `content` is the spec's data_file routing field (id 134): 0 = data,
    * 1 = position deletes, 2 = equality deletes — how a v2 MOR reader
    * tells delete-file kinds apart. Defaults to 0, and manifests written
    * before the field existed read back as 0 via Avro field defaults.
    *
    * `sequenceNumber` is the v2 DATA sequence number (manifest_entry
    * field 3): the commit-order coordinate that scopes delete
    * applicability — a position delete applies to data files with seq <=
    * its own, an equality delete to files with seq STRICTLY lower. None
    * reads back from pre-field manifests (Avro null default); real
    * Iceberg inherits the manifest-list's sequence number in that case. */
  final case class EntryData(
      status: Int,
      snapshotId: Long,
      filePath: String,
      recordCount: Long,
      fileSizeInBytes: Long,
      lowerBounds: Map[Int, Array[Byte]],
      upperBounds: Map[Int, Array[Byte]],
      content: Int = 0,
      sequenceNumber: Option[Long] = None,
      // spec field 101: the data file's serialization (PARQUET / AVRO /
      // ORC / PUFFIN). Manifests written before the field read back as
      // PARQUET via the Avro field default — the only format the engine wrote
      fileFormat: String = "PARQUET",
      // v3 deletion-vector address (spec fields 143/144/145): the data
      // file this DV covers, plus the blob's byte span inside the Puffin
      // file — a reader seeks straight to the bitmap, no footer needed.
      // All-None on every non-DV entry and on pre-v3 manifests (null
      // defaults)
      referencedDataFile: Option[String] = None,
      contentOffset: Option[Long] = None,
      contentSizeInBytes: Option[Long] = None,
      // v3 row lineage (spec field 142): the id of this data file's
      // first row — rows read as first_row_id + pos. None on delete
      // files, on pre-v3 manifests, and on files that MATERIALIZE their
      // lineage as columns (rewrites: the moved rows keep their ids, so
      // a fresh block must not be claimed)
      firstRowId: Option[Long] = None,
      // spec field 110 (null_value_counts): per-field null counts. What
      // lets a reader PROVE a column null-free — e.g. the partition
      // sketch bank scopes an equality delete out of partitions whose
      // key envelope cannot overlap its bounds, which is only sound
      // when the delete file provably holds no NULL key (null matches
      // null in equality-delete semantics, and bounds cannot say).
      // Empty on manifests written before the field — conservative.
      nullValueCounts: Map[Int, Long] = Map.empty)

  /** Spec map-as-array-of-record with a LONG value — the shape of the
    * count maps (109/110/137); int keys per the spec's field-id rule.
    * The record NAME must be k<keyId>_v<valueId>: Avro schema resolution
    * matches union branches by record name, and reference Iceberg
    * writers name these exactly so — any other name makes every foreign
    * manifest with a populated counts map unreadable. */
  private def countsSchema(keyId: Int, valueId: Int): Schema = {
    val kv = SchemaBuilder.record(s"k${keyId}_v$valueId").fields()
      .name("key").prop(AvroConversions.FieldIdKey, keyId.toString)
      .`type`().intType().noDefault()
      .name("value").prop(AvroConversions.FieldIdKey, valueId.toString)
      .`type`().longType().noDefault()
      .endRecord()
    val arr = Schema.createArray(kv)
    arr.addProp("logicalType", "map")
    arr
  }

  private def boundsSchema(name: String, keyId: Int, valueId: Int): Schema = {
    val kv = SchemaBuilder.record(s"k${keyId}_v$valueId").fields()
      .name("key").prop(AvroConversions.FieldIdKey, keyId.toString)
      .`type`().intType().noDefault()
      .name("value").prop(AvroConversions.FieldIdKey, valueId.toString)
      .`type`().bytesType().noDefault()
      .endRecord()
    val arr = Schema.createArray(kv)
    arr.addProp("logicalType", "map")
    arr
  }

  val entrySchema: Schema = SchemaBuilder.record("manifest_entry").fields()
    .name("status").prop(AvroConversions.FieldIdKey, "0").`type`().intType().noDefault()
    .name("snapshot_id").prop(AvroConversions.FieldIdKey, "1")
    .`type`().unionOf().nullType().and().longType().endUnion().nullDefault()
    // data sequence number (spec field 3): null = inherit from the
    // manifest-list entry, as v2 writers do for ADDED entries
    .name("sequence_number").prop(AvroConversions.FieldIdKey, "3")
    .`type`().unionOf().nullType().and().longType().endUnion().nullDefault()
    .name("data_file").prop(AvroConversions.FieldIdKey, "2").`type`(
      SchemaBuilder.record("r2").fields()
        .name("content").prop(AvroConversions.FieldIdKey, "134")
        .`type`().intType().intDefault(0)
        .name("file_path").prop(AvroConversions.FieldIdKey, "100").`type`().stringType().noDefault()
        .name("file_format").prop(AvroConversions.FieldIdKey, "101")
        .`type`().stringType().stringDefault("PARQUET")
        .name("record_count").prop(AvroConversions.FieldIdKey, "103").`type`().longType().noDefault()
        .name("file_size_in_bytes").prop(AvroConversions.FieldIdKey, "104").`type`().longType().noDefault()
        .name("null_value_counts").prop(AvroConversions.FieldIdKey, "110")
        .`type`(Schema.createUnion(Schema.create(Schema.Type.NULL), countsSchema(121, 122)))
        .withDefault(null)
        .name("lower_bounds").prop(AvroConversions.FieldIdKey, "125")
        .`type`(Schema.createUnion(Schema.create(Schema.Type.NULL), boundsSchema("lower", 126, 127)))
        .withDefault(null)
        .name("upper_bounds").prop(AvroConversions.FieldIdKey, "128")
        .`type`(Schema.createUnion(Schema.create(Schema.Type.NULL), boundsSchema("upper", 129, 130)))
        .withDefault(null)
        .name("referenced_data_file").prop(AvroConversions.FieldIdKey, "143")
        .`type`().unionOf().nullType().and().stringType().endUnion().nullDefault()
        .name("content_offset").prop(AvroConversions.FieldIdKey, "144")
        .`type`().unionOf().nullType().and().longType().endUnion().nullDefault()
        .name("content_size_in_bytes").prop(AvroConversions.FieldIdKey, "145")
        .`type`().unionOf().nullType().and().longType().endUnion().nullDefault()
        .name("first_row_id").prop(AvroConversions.FieldIdKey, "142")
        .`type`().unionOf().nullType().and().longType().endUnion().nullDefault()
        .endRecord()).noDefault()
    .endRecord()

  /** Driver-side read of the core entry fields back out of a manifest —
    * the inverse of [[write]], via Avro schema resolution (the container's
    * writer schema may carry many more fields; ours projects the core
    * subset by name). KB-scale metadata: this is the same driver-side
    * boundary Iceberg's planner uses; the distributed path is
    * ManifestReader.entries. */
  def read(path: String): Seq[EntryData] = read(path, HadoopConfs.active())

  /** The same read on a caller's conf (one per planning pass). */
  def read(path: String, conf: org.apache.hadoop.conf.Configuration): Seq[EntryData] = {
    import org.apache.avro.file.DataFileStream
    import org.apache.avro.generic.GenericDatumReader
    val in = new java.io.BufferedInputStream(HadoopConfs.open(path, conf))
    val stream =
      try new DataFileStream[GenericRecord](in,
        new GenericDatumReader[GenericRecord](null: Schema, entrySchema))
      catch { case e: Throwable => in.close(); throw e }
    try {
      val buf = Seq.newBuilder[EntryData]
      while (stream.hasNext) {
        val r = stream.next()
        val df = r.get("data_file").asInstanceOf[GenericRecord]
        def bounds(name: String): Map[Int, Array[Byte]] =
          Option(df.get(name)).map(_.asInstanceOf[java.util.Collection[GenericRecord]]
            .asScala.map { kv =>
              val bb = kv.get("value").asInstanceOf[ByteBuffer].duplicate()
              val arr = new Array[Byte](bb.remaining()); bb.get(arr)
              kv.get("key").asInstanceOf[Int] -> arr
            }.toMap).getOrElse(Map.empty)
        val nullCounts = Option(df.get("null_value_counts"))
          .map(_.asInstanceOf[java.util.Collection[GenericRecord]]
            .asScala.map(kv => kv.get("key").asInstanceOf[Int] ->
              kv.get("value").asInstanceOf[Long]).toMap)
          .getOrElse(Map.empty[Int, Long])
        buf += EntryData(
          r.get("status").asInstanceOf[Int],
          Option(r.get("snapshot_id")).map(_.asInstanceOf[Long]).getOrElse(0L),
          df.get("file_path").toString,
          df.get("record_count").asInstanceOf[Long],
          df.get("file_size_in_bytes").asInstanceOf[Long],
          bounds("lower_bounds"), bounds("upper_bounds"),
          df.get("content").asInstanceOf[Int],
          Option(r.get("sequence_number")).map(_.asInstanceOf[Long]),
          Option(df.get("file_format")).map(_.toString).getOrElse("PARQUET"),
          Option(df.get("referenced_data_file")).map(_.toString),
          Option(df.get("content_offset")).map(_.asInstanceOf[Long]),
          Option(df.get("content_size_in_bytes")).map(_.asInstanceOf[Long]),
          Option(df.get("first_row_id")).map(_.asInstanceOf[Long]),
          nullValueCounts = nullCounts)
      }
      buf.result()
    } finally { stream.close(); in.close() }
  }

  private def boundsArray(schema: Schema, m: Map[Int, Array[Byte]]): GenericData.Array[GenericRecord] = {
    val arr = new GenericData.Array[GenericRecord](schema, java.util.Collections.emptyList[GenericRecord]())
    // deterministic container bytes: entries in key order
    m.toSeq.sortBy(_._1).foreach { case (id, bytes) =>
      val rec = new GenericData.Record(schema.getElementType)
      rec.put("key", id)
      rec.put("value", ByteBuffer.wrap(bytes))
      arr.add(rec)
    }
    arr
  }

  private def countsArray(schema: Schema, m: Map[Int, Long]): GenericData.Array[GenericRecord] = {
    val arr = new GenericData.Array[GenericRecord](schema, java.util.Collections.emptyList[GenericRecord]())
    m.toSeq.sortBy(_._1).foreach { case (id, n) =>
      val rec = new GenericData.Record(schema.getElementType)
      rec.put("key", id)
      rec.put("value", n)
      arr.add(rec)
    }
    arr
  }

  /** Writes one manifest container. `codec` is any Avro container codec
    * name — "null", "deflate" (default, matching Iceberg's own manifest
    * default), "snappy", "zstandard" — the reference wires the same codec
    * set (pom.xml:52-67); readers are codec-transparent (the container
    * header names the codec). Output goes through the session's Hadoop
    * FileSystem so hdfs:// / s3a:// manifest locations resolve. Returns
    * the written file's length in bytes (what its list row records). */
  def write(path: String, entries: Seq[EntryData], codec: String = "deflate"): Long = {
    val dfSchema = entrySchema.getField("data_file").schema()
    val lower = dfSchema.getField("lower_bounds").schema().getTypes.get(1)
    val upper = dfSchema.getField("upper_bounds").schema().getTypes.get(1)
    val counts = dfSchema.getField("null_value_counts").schema().getTypes.get(1)
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](entrySchema))
    w.setCodec(org.apache.avro.file.CodecFactory.fromString(codec))
    val out = HadoopConfs.fileSystemFor(path).create(new org.apache.hadoop.fs.Path(path), true)
    w.create(entrySchema, out)
    try entries.foreach { e =>
      val df = new GenericData.Record(dfSchema)
      df.put("content", e.content)
      df.put("file_path", e.filePath)
      df.put("file_format", e.fileFormat)
      df.put("record_count", e.recordCount)
      df.put("file_size_in_bytes", e.fileSizeInBytes)
      df.put("null_value_counts", countsArray(counts, e.nullValueCounts))
      df.put("lower_bounds", boundsArray(lower, e.lowerBounds))
      df.put("upper_bounds", boundsArray(upper, e.upperBounds))
      df.put("referenced_data_file", e.referencedDataFile.orNull)
      df.put("content_offset", e.contentOffset.map(Long.box).orNull)
      df.put("content_size_in_bytes", e.contentSizeInBytes.map(Long.box).orNull)
      df.put("first_row_id", e.firstRowId.map(Long.box).orNull)
      val rec = new GenericData.Record(entrySchema)
      rec.put("status", e.status)
      rec.put("snapshot_id", e.snapshotId)
      rec.put("sequence_number", e.sequenceNumber.map(Long.box).orNull)
      rec.put("data_file", df)
      w.append(rec)
    } finally w.close()
    out.getPos // the bytes written through the stream, counted as they pass
  }
}
