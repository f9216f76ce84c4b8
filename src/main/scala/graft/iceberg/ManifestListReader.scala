package graft.iceberg

import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}

/** Driver-side reader for a snapshot's manifest-list container — the
  * `manifest_file` records ManifestListWriter emits (core v1 fields, the
  * v2 `content` routing field 517, and the field-507 partition summaries).
  * A manifest-list is KB-scale metadata: one sequential read per snapshot,
  * the same driver boundary Iceberg's own scan planner uses. Lists written
  * before a field existed resolve through Avro defaults (content → 0,
  * partitions → null). */
object ManifestListReader {

  /** One per partition-spec field, in spec-field order — the list-level
    * pruning dimension (spec fields 509-511). */
  final case class FieldSummary(
      containsNull: Boolean, lower: Option[Array[Byte]], upper: Option[Array[Byte]])

  /** `sequenceNumber`/`minSequenceNumber` are the v2 list-level numbers
    * (spec fields 515/516) — an entry-level null sequence number inherits
    * `sequenceNumber`; both read 0 from pre-field lists (Avro defaults). */
  final case class ManifestFileInfo(
      path: String,
      length: Long,
      specId: Int,
      addedSnapshotId: Long,
      addedDataFilesCount: Int,
      content: Int,
      summaries: Option[Seq[FieldSummary]],
      sequenceNumber: Long = 0L,
      minSequenceNumber: Long = 0L)

  private def bytesOf(v: AnyRef): Option[Array[Byte]] = Option(v).map { b =>
    val bb = b.asInstanceOf[ByteBuffer].duplicate()
    val arr = new Array[Byte](bb.remaining()); bb.get(arr); arr
  }

  def read(listPath: String): Seq[ManifestFileInfo] = read(listPath, HadoopConfs.active())

  def read(listPath: String, conf: org.apache.hadoop.conf.Configuration)
      : Seq[ManifestFileInfo] = {
    val in = new java.io.BufferedInputStream(HadoopConfs.open(listPath, conf))
    val stream =
      try new DataFileStream[GenericRecord](in,
        new GenericDatumReader[GenericRecord](
          null: Schema, ManifestListWriter.manifestFileSchema))
      catch { case e: Throwable => in.close(); throw e }
    try {
      val buf = Seq.newBuilder[ManifestFileInfo]
      while (stream.hasNext) {
        val r = stream.next()
        val summaries = Option(r.get("partitions")).map {
          _.asInstanceOf[java.util.Collection[GenericRecord]].asScala.map { s =>
            FieldSummary(s.get("contains_null").asInstanceOf[Boolean],
              bytesOf(s.get("lower_bound")), bytesOf(s.get("upper_bound")))
          }.toSeq
        }
        buf += ManifestFileInfo(
          r.get("manifest_path").toString,
          r.get("manifest_length").asInstanceOf[Long],
          r.get("partition_spec_id").asInstanceOf[Int],
          r.get("added_snapshot_id").asInstanceOf[Long],
          r.get("added_data_files_count").asInstanceOf[Int],
          r.get("content").asInstanceOf[Int],
          summaries,
          r.get("sequence_number").asInstanceOf[Long],
          r.get("min_sequence_number").asInstanceOf[Long])
      }
      buf.result()
    } finally { stream.close(); in.close() }
  }
}
