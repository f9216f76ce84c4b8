package graft.iceberg

import java.nio.ByteBuffer
import java.util.zip.CRC32

/** Iceberg v3 deletion vectors: position deletes as ONE bitmap per data
  * file, stored as `deletion-vector-v1` blobs in a Puffin file instead
  * of (file_path, pos) parquet rows. The spec's blob layout
  * (Delete Formats → Deletion Vectors):
  *
  *   - combined length of the magic and vector, `u32` BIG-endian
  *   - the 4-byte magic sequence `D1 D3 39 64`
  *   - the vector: a portable 64-bit roaring bitmap ([[Roaring64]])
  *   - CRC-32 of (magic ++ vector), `u32` BIG-endian
  *
  * The manifest entry for a DV carries `referenced_data_file` (field
  * 143), `content_offset` (144, the byte offset of the length prefix)
  * and `content_size_in_bytes` (145, the whole blob span) — so a reader
  * seeks STRAIGHT to the bitmap without touching the Puffin footer; the
  * footer is still written spec-complete (blob `referenced-data-file` /
  * `cardinality` properties) for foreign tooling.
  *
  * Why this beats pos-delete parquet at 100 TB: applying deletes becomes
  * an O(1) bitmap probe per row with NO per-task parquet decode of
  * delete rows, the "at most one DV per data file" invariant caps the
  * delete-side read amplification at one blob per task (a long-lived
  * v2 CDC table accretes HUNDREDS of delete files addressing the same
  * hot data file), and a DV write replaces — rather than stacks on —
  * the file's previous delete state. */
object DeletionVectors {

  val BlobType = "deletion-vector-v1"
  private val BlobMagic: Array[Byte] =
    Array(0xD1.toByte, 0xD3.toByte, 0x39.toByte, 0x64.toByte)

  /** A written DV's address: what the manifest entry records. */
  final case class DvRef(referencedDataFile: String, path: String,
      offset: Long, length: Long, cardinality: Long)

  /** Serialize one DV blob body (length prefix + magic + vector + CRC). */
  def encodeBlob(positions: Array[Long]): (Array[Byte], Long) = {
    val bitmap = Roaring64.fromPositions(positions)
    val vector = bitmap.serialize
    val body = ByteBuffer.allocate(4 + 4 + vector.length + 4)
    body.putInt(4 + vector.length) // BIG-endian: ByteBuffer default
    body.put(BlobMagic)
    body.put(vector)
    val crc = new CRC32()
    crc.update(BlobMagic)
    crc.update(vector)
    body.putInt(crc.getValue.toInt)
    (body.array(), bitmap.cardinality)
  }

  /** Decode a blob read back by its manifest address, validating the
    * length prefix, magic and CRC — corruption fails loudly, never as
    * silently-missing deletes. */
  def decodeBlob(bytes: Array[Byte]): Roaring64 = {
    require(bytes.length >= 12, s"deletion-vector blob too short: ${bytes.length}")
    val buf = ByteBuffer.wrap(bytes)
    val combined = buf.getInt
    require(combined == bytes.length - 8,
      s"deletion-vector length prefix $combined != ${bytes.length - 8}")
    val magic = new Array[Byte](4)
    buf.get(magic)
    require(magic.sameElements(BlobMagic),
      s"bad deletion-vector magic ${magic.map(b => f"$b%02X").mkString(" ")}")
    val vectorLen = combined - 4
    val crc = new CRC32()
    crc.update(bytes, 4, 4 + vectorLen)
    val stored = ByteBuffer.wrap(bytes, 8 + vectorLen, 4).getInt
    require(crc.getValue.toInt == stored,
      f"deletion-vector CRC mismatch: stored $stored%08x computed ${crc.getValue.toInt}%08x")
    Roaring64.deserialize(bytes, 8, vectorLen)
  }

  /** Write one Puffin file holding a DV per data file; returns the refs
    * the manifest entries need. Runs wherever the caller is — the
    * distributed delete path calls it from executors, one file per
    * write task. */
  def writeDvFile(path: String, snapshotId: Long,
      dvs: Seq[(String, Array[Long])],
      conf: org.apache.hadoop.conf.Configuration = HadoopConfs.active()): (Seq[DvRef], Long) = {
    val encoded = dvs.map { case (dataFile, positions) =>
      val (body, card) = encodeBlob(positions)
      (dataFile, body, card)
    }
    val blobs = encoded.map { case (dataFile, body, card) =>
      Puffin.Blob(BlobType, Seq.empty, snapshotId, snapshotId,
        Map("referenced-data-file" -> dataFile, "cardinality" -> card.toString),
        body)
    }
    val (refs, size) = Puffin.write(path, blobs,
      Map("snapshot-id" -> snapshotId.toString), conf)
    (refs.zip(encoded).map { case (r, (dataFile, _, card)) =>
      DvRef(dataFile, path, r.offset, r.length, card)
    }, size)
  }

  /** Read the DV addressing one data file by its manifest coordinates.
    * Runs on executors: pass the task's Hadoop conf. */
  def read(path: String, offset: Long, length: Long,
      conf: org.apache.hadoop.conf.Configuration = HadoopConfs.active()): Roaring64 =
    decodeBlob(Puffin.readRange(path, offset, length, conf))

  /** The manifest entry a DV lands as: content=1 (position deletes),
    * PUFFIN format, v3 address triplet, and file_path bound stats under
    * the RESERVED pos-delete field ids (lower == upper == the referenced
    * file) — so every existing path-bound pruning rule (delete-side
    * manifest pruning, per-task mayAddress scoping, replace-commit
    * conflict checks) applies to DVs with zero new code. */
  def entryFor(ref: DvRef, snapshotId: Long, seq: Long,
      fileSize: Long): ManifestWriter.EntryData = {
    val pathBound = SingleValueCodec.encode(IcebergTypes.TString, ref.referencedDataFile)
    ManifestWriter.EntryData(
      status = 1, snapshotId = snapshotId, filePath = ref.path,
      recordCount = ref.cardinality, fileSizeInBytes = fileSize,
      lowerBounds = Map(ManifestWriter.PosDeleteFilePathId -> pathBound),
      upperBounds = Map(ManifestWriter.PosDeleteFilePathId -> pathBound),
      content = 1, sequenceNumber = Some(seq), fileFormat = "PUFFIN",
      referencedDataFile = Some(ref.referencedDataFile),
      contentOffset = Some(ref.offset),
      contentSizeInBytes = Some(ref.length))
  }
}
