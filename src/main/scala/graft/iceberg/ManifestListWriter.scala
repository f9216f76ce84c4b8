package graft.iceberg

import java.nio.ByteBuffer

import org.apache.avro.Schema
import org.apache.avro.SchemaBuilder
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

/** Manifest-list sink: writes a snapshot's manifest-list Avro container
  * (the `manifest_file` record set Iceberg stores per snapshot — the core
  * v1 fields; see the fixture metadata's `manifest-list` pointer,
  * src/main/resources/graft/fixtures/v1.metadata.json). The reference
  * only READS containers; the writer completes the two-level planning
  * chain (snapshot → manifest-list → manifests → files) for tables whose
  * list file is absent, and doubles as the library's Avro container sink.
  */
object ManifestListWriter {

  /** One per partition-spec field, in spec-field order: the manifest-level
    * partition summary (spec fields 509-511) a planner consults to skip an
    * ENTIRE manifest — and every file it lists — without opening it. This
    * is the top level of Iceberg's two-level pruning: at 100 TB a scan
    * touches thousands of manifests, and list-level summaries keep the
    * metadata read proportional to the matching manifests, not the table.
    * This is the hand-built lists' shape, both bounds present; a commit
    * lists [[ManifestListReader.FieldSummary]] rows, whose bounds may be
    * absent. */
  final case class FieldSummary(
      containsNull: Boolean, lower: Array[Byte], upper: Array[Byte])

  private val fieldSummarySchema: Schema =
    SchemaBuilder.record("r508").fields()
      .name("contains_null").prop(AvroConversions.FieldIdKey, "509")
      .`type`().booleanType().noDefault()
      .name("lower_bound").prop(AvroConversions.FieldIdKey, "510")
      .`type`().unionOf().nullType().and().bytesType().endUnion().nullDefault()
      .name("upper_bound").prop(AvroConversions.FieldIdKey, "511")
      .`type`().unionOf().nullType().and().bytesType().endUnion().nullDefault()
      .endRecord()

  /** The spec field-ids (500-504) ride on every field as `field-id`
    * props — real Iceberg readers resolve manifest-list columns by id,
    * not name, so a list file without them is only readable by name-based
    * readers like our own MetadataTables. Same interop posture as
    * ManifestWriter.entrySchema. */
  val manifestFileSchema: org.apache.avro.Schema =
    SchemaBuilder.record("manifest_file").fields()
      .name("manifest_path").prop(AvroConversions.FieldIdKey, "500")
      .`type`().stringType().noDefault()
      .name("manifest_length").prop(AvroConversions.FieldIdKey, "501")
      .`type`().longType().noDefault()
      .name("partition_spec_id").prop(AvroConversions.FieldIdKey, "502")
      .`type`().intType().noDefault()
      .name("added_snapshot_id").prop(AvroConversions.FieldIdKey, "503")
      .`type`().longType().noDefault()
      .name("added_data_files_count").prop(AvroConversions.FieldIdKey, "504")
      .`type`().intType().noDefault()
      // v2 routing field (spec id 517): 0 = data manifests, 1 = delete
      // manifests — scan planning reads THIS to know which manifests hold
      // position/equality delete files (the i22 DML write path)
      .name("content").prop(AvroConversions.FieldIdKey, "517")
      .`type`().intType().intDefault(0)
      // v2 sequence numbers (spec ids 515/516): the manifest's own data
      // sequence number — what an entry-level null `sequence_number`
      // INHERITS (a v2 writer leaves ADDED entries null and lets the list
      // carry the commit's number) — and the minimum across its live
      // entries, the coordinate delete-manifest pruning compares against.
      // Default 0 keeps pre-field lists readable (Avro field defaults).
      .name("sequence_number").prop(AvroConversions.FieldIdKey, "515")
      .`type`().longType().longDefault(0)
      .name("min_sequence_number").prop(AvroConversions.FieldIdKey, "516")
      .`type`().longType().longDefault(0)
      // partition summaries (spec field 507): one field_summary per
      // partition-spec field, the list-level pruning dimension
      .name("partitions").prop(AvroConversions.FieldIdKey, "507")
      .`type`(Schema.createUnion(Schema.create(Schema.Type.NULL),
        Schema.createArray(fieldSummarySchema))).withDefault(null)
      .endRecord()

  /** The manifest-list encoder: one `manifest_file` record per row, in
    * order, every field as the row holds it — the row type
    * [[ManifestListReader]] returns, so a commit carries the rows it read
    * unchanged (length, provenance, sequence numbers and summaries,
    * absent bounds included). */
  def write(path: String, rows: Seq[ManifestListReader.ManifestFileInfo]): Unit =
    encode(path, rows, "deflate")

  /** Hand-built lists (fixtures): one row per `manifestPaths` entry,
    * its length read from the file. `contents` marks delete manifests
    * (path → 1); `specIds` records each manifest's partition-spec id;
    * `addedSnapshotIds`/`addedCounts` its provenance (fields 503/504) and
    * `seqNums`/`minSeqNums` its sequence numbers (fields 515/516). Unlisted
    * paths fall back to `snapshotId` — this library assigns sequence
    * numbers equal to snapshot ids — and to `addedDataFilesCount`. */
  def write(path: String, manifestPaths: Seq[String], snapshotId: Long,
      addedDataFilesCount: Int = 2, codec: String = "deflate",
      contents: Map[String, Int] = Map.empty,
      specIds: Map[String, Int] = Map.empty,
      summaries: Map[String, Seq[FieldSummary]] = Map.empty,
      addedSnapshotIds: Map[String, Long] = Map.empty,
      addedCounts: Map[String, Int] = Map.empty,
      seqNums: Map[String, Long] = Map.empty,
      minSeqNums: Map[String, Long] = Map.empty): Unit =
    encode(path, manifestPaths.map { p =>
      val seq = seqNums.getOrElse(p, snapshotId)
      ManifestListReader.ManifestFileInfo(p, HadoopConfs.length(p),
        specIds.getOrElse(p, 0), addedSnapshotIds.getOrElse(p, snapshotId),
        addedCounts.getOrElse(p, addedDataFilesCount), contents.getOrElse(p, 0),
        summaries.get(p).map(_.map(s => ManifestListReader.FieldSummary(
          s.containsNull, Some(s.lower), Some(s.upper)))),
        seq, minSeqNums.getOrElse(p, seq))
    }, codec)

  private def encode(path: String, rows: Seq[ManifestListReader.ManifestFileInfo],
      codec: String): Unit = {
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](manifestFileSchema))
    w.setCodec(org.apache.avro.file.CodecFactory.fromString(codec))
    w.create(manifestFileSchema, HadoopConfs.fileSystemFor(path)
      .create(new org.apache.hadoop.fs.Path(path), true))
    val arrSchema = manifestFileSchema.getField("partitions").schema().getTypes.get(1)
    try rows.foreach { i =>
      val r = new GenericData.Record(manifestFileSchema)
      r.put("manifest_path", i.path)
      r.put("manifest_length", i.length)
      r.put("partition_spec_id", i.specId)
      r.put("added_snapshot_id", i.addedSnapshotId)
      r.put("added_data_files_count", i.addedDataFilesCount)
      r.put("content", i.content)
      r.put("sequence_number", i.sequenceNumber)
      r.put("min_sequence_number", i.minSequenceNumber)
      i.summaries.foreach { fs =>
        val arr = new GenericData.Array[GenericRecord](
          arrSchema, java.util.Collections.emptyList[GenericRecord]())
        fs.foreach { s =>
          val rec = new GenericData.Record(fieldSummarySchema)
          rec.put("contains_null", s.containsNull)
          rec.put("lower_bound", s.lower.map(ByteBuffer.wrap).orNull)
          rec.put("upper_bound", s.upper.map(ByteBuffer.wrap).orNull)
          arr.add(rec)
        }
        r.put("partitions", arr)
      }
      w.append(r)
    } finally w.close()
  }
}
