package graft.iceberg

import java.nio.{ByteBuffer, ByteOrder}

import com.fasterxml.jackson.databind.ObjectMapper

import scala.jdk.CollectionConverters._

/** The Puffin statistics/index container (Iceberg's puffin-spec):
  *
  *   Magic | blob₁ … blobₙ | Magic | FooterPayload (UTF-8 JSON) |
  *   payload-size (u32 LE) | flags (u32 LE, 0 = uncompressed footer) | Magic
  *
  * with `Magic = "PFA1"` and the footer JSON carrying a `blobs` array
  * (type / fields / snapshot-id / sequence-number / offset / length /
  * properties per blob) plus file-level `properties`. Shared by the
  * table-statistics writer ([[TableStats]]: `graft-ndv-v1` blobs) and
  * the v3 deletion-vector writer ([[DeletionVectors]]:
  * `deletion-vector-v1` blobs). Files are KB-to-MB-scale metadata —
  * whole-file reads are the intended access pattern for the footer;
  * DV readers instead seek straight to (offset, length) recorded in the
  * manifest entry, never touching the footer. */
object Puffin {

  val Magic: Array[Byte] = Array('P', 'F', 'A', '1').map(_.toByte)

  private val mapper = new ObjectMapper()

  /** One blob to write: `body` bytes plus its footer metadata. `codec`
    * (spec `compression-codec`: "lz4" frame or "zstd") compresses the
    * body on write; None writes it raw. */
  final case class Blob(
      blobType: String,
      fields: Seq[Int],
      snapshotId: Long,
      sequenceNumber: Long,
      properties: Map[String, String],
      body: Array[Byte],
      codec: Option[String] = None)

  /** A written blob's location inside the file. `codec` is the spec's
    * per-blob `compression-codec` — readers MUST route the sliced bytes
    * through [[decompress]] before deserializing, or a spec-conformant
    * compressed foreign blob misparses. */
  final case class BlobRef(blobType: String, fields: Seq[Int],
      offset: Long, length: Long, properties: Map[String, String],
      codec: Option[String] = None)

  /** Decode a blob body per its `compression-codec` (puffin-spec): lz4
    * frame and zstd via the libraries Spark itself bundles. An UNKNOWN
    * codec throws — callers decide whether that drops one blob or the
    * whole document. */
  def decompress(codec: Option[String], bytes: Array[Byte]): Array[Byte] =
    codec match {
      case None => bytes
      case Some("lz4") =>
        val in = new net.jpountz.lz4.LZ4FrameInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try in.readAllBytes() finally in.close()
      case Some("zstd") =>
        val in = new com.github.luben.zstd.ZstdInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try in.readAllBytes() finally in.close()
      case Some(other) =>
        throw new IllegalArgumentException(s"unsupported Puffin codec $other")
    }

  private def compress(codec: Option[String], bytes: Array[Byte]): Array[Byte] =
    codec match {
      case None => bytes
      case Some("lz4") =>
        val bos = new java.io.ByteArrayOutputStream()
        val out = new net.jpountz.lz4.LZ4FrameOutputStream(bos)
        try out.write(bytes) finally out.close()
        bos.toByteArray
      case Some("zstd") =>
        com.github.luben.zstd.Zstd.compress(bytes)
      case Some(other) =>
        throw new IllegalArgumentException(s"unsupported Puffin codec $other")
    }

  /** Write a Puffin file; returns (refs in input order, file size).
    * `conf` carries the session's fs.* settings when the caller runs on
    * an EXECUTOR (the distributed DV write path); the default is the
    * driver-side active-session conf. */
  def write(path: String, blobs: Seq[Blob],
      fileProperties: Map[String, String],
      conf: org.apache.hadoop.conf.Configuration = HadoopConfs.active()): (Seq[BlobRef], Long) = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val encoded = blobs.map(b => compress(b.codec, b.body))
    var offset = Magic.length.toLong
    val refs = blobs.zip(encoded).map { case (b, e) =>
      val r = BlobRef(b.blobType, b.fields, offset, e.length.toLong,
        b.properties, b.codec)
      offset += e.length
      r
    }
    val footer = mapper.createObjectNode()
    val blobsMeta = footer.putArray("blobs")
    refs.zip(blobs).foreach { case (r, b) =>
      val m = blobsMeta.addObject()
      m.put("type", r.blobType)
      val fs = m.putArray("fields")
      r.fields.foreach(fs.add)
      m.put("snapshot-id", b.snapshotId)
      m.put("sequence-number", b.sequenceNumber)
      m.put("offset", r.offset)
      m.put("length", r.length)
      r.codec.foreach(m.put("compression-codec", _))
      val props = m.putObject("properties")
      r.properties.toSeq.sortBy(_._1).foreach { case (k, v) => props.put(k, v) }
    }
    val fileProps = footer.putObject("properties")
    (fileProperties + ("created-by" -> "graft")).toSeq.sortBy(_._1)
      .foreach { case (k, v) => fileProps.put(k, v) }
    val payload = footer.toString.getBytes(utf8)
    val tail = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(payload.length).putInt(0).array()
    val out = HadoopConfs.fileSystemFor(new org.apache.hadoop.fs.Path(path), conf)
      .create(new org.apache.hadoop.fs.Path(path), true)
    var size = 0L
    def emit(b: Array[Byte]): Unit = { out.write(b); size += b.length }
    try {
      emit(Magic)
      encoded.foreach(emit)
      emit(Magic); emit(payload); emit(tail); emit(Magic)
    } finally out.close()
    (refs, size)
  }

  /** Whole-file read returning the raw bytes plus the decoded footer
    * blob directory and file properties. */
  def read(path: String): (Array[Byte], Seq[BlobRef], Map[String, String]) = {
    val bytes = HadoopConfs.readFully(path)
    require(bytes.length >= 16 &&
      bytes.take(4).sameElements(Magic) && bytes.takeRight(4).sameElements(Magic),
      s"$path is not a Puffin file")
    val payloadSize = ByteBuffer.wrap(bytes, bytes.length - 12, 4)
      .order(ByteOrder.LITTLE_ENDIAN).getInt
    // flags word (spec): bit 0 = footer payload is lz4-frame compressed;
    // any OTHER bit is from a future spec revision — refuse loudly
    // rather than misparse the directory
    val flags = ByteBuffer.wrap(bytes, bytes.length - 8, 4)
      .order(ByteOrder.LITTLE_ENDIAN).getInt
    require((flags & ~1) == 0, s"$path: unsupported Puffin footer flags $flags")
    val payload0 = java.util.Arrays.copyOfRange(
      bytes, bytes.length - 12 - payloadSize, bytes.length - 12)
    val payload =
      if ((flags & 1) == 0) payload0 else decompress(Some("lz4"), payload0)
    val footer = mapper.readTree(
      new String(payload, java.nio.charset.StandardCharsets.UTF_8))
    def propsOf(n: com.fasterxml.jackson.databind.JsonNode): Map[String, String] =
      Option(n).toSeq.flatMap(_.properties().asScala.map(e => e.getKey -> e.getValue.asText)).toMap
    val refs = Option(footer.get("blobs")).toSeq.flatMap(_.elements().asScala).map { b =>
      BlobRef(
        b.get("type").asText,
        Option(b.get("fields")).toSeq.flatMap(_.elements().asScala.map(_.asInt)).toSeq,
        b.get("offset").asLong, b.get("length").asLong,
        propsOf(b.get("properties")),
        Option(b.get("compression-codec")).map(_.asText))
    }.toSeq
    (bytes, refs, propsOf(footer.get("properties")))
  }

  /** Range read of one blob — the manifest-addressed DV access path
    * (content_offset/content_size_in_bytes land here; no footer read).
    * Runs on executors: `conf` must carry the session's fs settings. */
  def readRange(path: String, offset: Long, length: Long,
      conf: org.apache.hadoop.conf.Configuration = HadoopConfs.active()): Array[Byte] = {
    val in = HadoopConfs.open(path, conf)
    try {
      require(length <= Int.MaxValue, s"blob too large: $length")
      val buf = new Array[Byte](length.toInt)
      in.readFully(offset, buf)
      buf
    } finally in.close()
  }
}
