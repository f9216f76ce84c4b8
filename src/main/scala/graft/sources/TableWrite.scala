package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions => VExpr,
  SortOrder => VSortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

import graft.iceberg.{GraftTable, IcebergType, IcebergTypes, ManifestListReader,
  PartitionTransforms, SingleValueCodec, TableMetadata}

/** The write half of the DSv2 `graft-table` route:
  * `df.write.format("graft-table").option("metadata", <path>).mode("append").save()`.
  *
  * Spark's native distributed write protocol drives it: every TASK
  * streams its rows into parquet files (parquet's example Group writer —
  * snappy, attempt-unique names so speculative or retried attempts never
  * collide), tracking per-column min/max AS IT WRITES; the task's commit
  * message carries (path, rows, bytes, encoded bound stats) per file.
  * The DRIVER's commit lands ONE append snapshot through the
  * OptimisticCommit CAS loop — the same linear history any concurrent
  * GraftTable writer joins — with manifests whose entries carry the
  * task-derived bounds, so files written through Spark are immediately
  * stats-prunable. Aborts delete the orphaned task files. The CAS loop
  * refreshes internally: writing against a stale metadata document is
  * safe (the commit re-derives sequence numbers and carried manifests
  * from the refreshed head).
  *
  * HIDDEN-PARTITIONED tables work too: the Write declares a clustered
  * distribution on the partition SOURCE columns
  * (`RequiresDistributionAndOrdering` — Spark shuffles rows so one
  * task sees one cluster), and each task splits its rows into one file
  * PER transform-space tuple computed row-by-row with the same scalar
  * kernels the read side prunes with; each tuple file commits under its
  * own manifest carrying the field-507 summary, so DSv2-written
  * partitioned data is list-level prunable exactly like
  * GraftTable.append's. Correctness never depends on the distribution —
  * un-clustered rows just mean more (still single-tuple) files. */
class GraftTableWriteBuilder(metadataPath: String, info: LogicalWriteInfo,
    writeBranch: Option[String] = None)
    extends WriteBuilder with SupportsTruncate {

  /** Branch target: the catalog's `t.branch_<name>` identifier wins,
    * else the `branch` write option — either way the commit advances
    * ONLY that ref (write-audit-publish staging; append-only). */
  private def branch: Option[String] =
    writeBranch.orElse(Option(info.options().get("branch")).filter(_.nonEmpty))

  /** `write.format.default` (Iceberg's property, validated eagerly so a
    * typo fails the WRITE PLAN, not a task): an avro- or orc-imported
    * foreign table appends in-kind instead of silently mixing in
    * parquet. */
  private def writeFormat(meta: TableMetadata): String = {
    val f = meta.properties.getOrElse("write.format.default", "parquet")
      .trim.toUpperCase
    require(f == "PARQUET" || f == "AVRO" || f == "ORC",
      s"unsupported write.format.default '$f' — parquet, avro or orc")
    f
  }

  // mode("overwrite") reaches the connector as truncate-then-append —
  // committed as ONE atomic replace snapshot (never a visible empty table)
  private var replace = false
  override def truncate(): WriteBuilder = { replace = true; this }

  private def validated(): (String, StructType, Seq[(Int, String, IcebergType)],
      Option[(Int, Seq[(Int, IcebergType, String, IcebergType)])]) = {
    val meta = TableMetadata.parseFile(metadataPath)
    val tableSchema = GraftTable.sparkSchema(meta)
    val given = info.schema().fieldNames.toSeq
    require(given == tableSchema.fieldNames.toSeq,
      s"schema mismatch: table has ${tableSchema.fieldNames.mkString(",")}, " +
        s"write has ${given.mkString(",")}")
    val tableDir = new org.apache.hadoop.fs.Path(metadataPath).getParent.toString
    (tableDir, tableSchema, GraftTableWrites.fieldsOf(meta.currentSchema),
      GraftTableWrites.partInfoOf(meta, tableSchema))
  }

  override def build(): Write = {
    val (tableDir, tableSchema, fields, part) = validated()
    require(branch.isEmpty || !replace, "branch writes are append-only " +
      "(publish an audited overwrite through main instead)")
    val conf = new graft.iceberg.SerializableHadoopConf(graft.iceberg.HadoopConfs.active())
    val meta = TableMetadata.parseFile(metadataPath)
    // Iceberg's spark.wap.id flavor of write-audit-publish, resolved at
    // PLAN time: the id rides every BATCH commit's summary (the audit
    // trail); the commit is STAGE-ONLY — snapshot in the document, no
    // pointer moves, published later by publish_changes — only when the
    // table itself opted in with write.wap.enabled=true
    val wap = GraftTable.sessionWapId
      .map(id => (id, meta.properties.get("write.wap.enabled").contains("true")))
    // staging combines with overwrite (a staged truncate-overwrite
    // publishes by fast-forward only, like every staged edit) but not
    // with a branch target — a branch IS the other WAP mechanism
    require(wap.forall(!_._2) || branch.isEmpty,
      "a wap.id staged commit targets main's lineage — " +
        "it does not combine with a branch target")
    new Write with RequiresDistributionAndOrdering {
      // cluster by the partition SOURCE columns: same source value →
      // same task → fewer (never wrong) per-tuple files. An unpartitioned
      // table WITH a declared sort order range-distributes on it instead
      // (each task owns a disjoint key range, so its files' bound stats
      // are tight disjoint intervals — what makes the sort order prunable
      // and not merely an aesthetic); otherwise no constraint.
      override def requiredDistribution(): Distribution = part match {
        case Some((_, sf)) =>
          Distributions.clustered(sf.map(f =>
            VExpr.column(tableSchema.fieldNames(f._1))).toArray)
        case None =>
          val ord = requiredOrdering()
          if (ord.nonEmpty) Distributions.ordered(ord)
          else Distributions.unspecified()
      }
      /** The table's declared sort order becomes the write's required
        * (per-task) ordering: files land physically clustered on the
        * sort columns, so their min/max bound stats are TIGHT intervals
        * instead of whole-domain ones — what turns the i35 sort-order
        * metadata into read-side pruning with no rewrite step. Only
        * identity sort fields translate (transform sorts would need the
        * transform evaluated in the plan); a non-identity field ends the
        * prefix — a PREFIX of the declared order still clusters. */
      override def requiredOrdering(): Array[VSortOrder] =
        meta.sortOrders.find(_.orderId == meta.defaultSortOrderId)
          .map(_.fields.takeWhile(f => f.transform == "identity" &&
            meta.currentSchema.fields.exists(_.id == f.sourceId)))
          .getOrElse(Nil)
          .map { f =>
            val name = meta.currentSchema.fields.find(_.id == f.sourceId).get.name
            val dir =
              if (f.direction == "desc")
                org.apache.spark.sql.connector.expressions.SortDirection.DESCENDING
              else org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING
            val nulls =
              if (f.nullOrder == "nulls-last")
                org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_LAST
              else org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST
            VExpr.sort(VExpr.column(name), dir, nulls)
          }.toArray
      override def toBatch: BatchWrite =
        new GraftTableBatchWrite(tableDir, tableSchema, fields, part, replace, conf,
          branch, writeFormat(meta), wap)
      override def toStreaming
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
        require(!replace, "graft-table streaming writes are append-only " +
          "(complete/truncate output modes are not supported)")
        // per-epoch staging has no publish story (each epoch would need
        // its own publish_changes) — refuse loudly rather than silently
        // commit what the session asked to stage
        require(wap.forall(!_._2), "streaming writes do not stage under " +
          "spark.wap.id — unset it, or stream onto a branch and fast_forward")
        new GraftTableStreamingWrite(tableDir, tableSchema, fields, part,
          info.queryId(), conf, writeFormat(meta))
      }
    }
  }
}

/** One written file in a task's commit message. `summary` (partitioned
  * writes) is the file's transform-space tuple as field summaries;
  * `content` is the Iceberg data_file content kind (0 = data, 1 =
  * position deletes — the delta route's delete files). */
case class GraftFileMessage(path: String, rows: Long, bytes: Long,
    lower: Map[Int, Array[Byte]], upper: Map[Int, Array[Byte]],
    summary: Option[Seq[ManifestListReader.FieldSummary]], specId: Int,
    content: Int = 0,
    // v3 row lineage: this data file MATERIALIZES _row_id (an
    // update-written delta file carrying the original rows' ids) — the
    // commit must not claim a fresh id block for it
    carriesLineage: Boolean = false,
    // manifest field 101 — PARQUET unless write.format.default says
    // avro/orc (append-in-kind for imported foreign tables)
    fileFormat: String = "PARQUET",
    // a position-delete file's addressed data files, as its rows spell
    // them — the commit's conflict targets
    targets: Seq[String] = Nil,
    // spec field 110 per bounded field id (parquet files only); entries
    // record it only where a reader needs the null-free proof
    nullCounts: Map[Int, Long] = Map.empty)

case class GraftWriteMessage(files: Seq[GraftFileMessage]) extends WriterCommitMessage

object GraftTableWrites {
  type PartInfo = Option[(Int, Seq[(Int, IcebergType, String, IcebergType)])]

  private val BucketRe = """bucket\[(\d+)\]""".r
  private val TruncateRe = """truncate\[(\d+)\]""".r

  /** The (field id, name, type) triples the task writers bound, for every
    * field of `schema` whose type parses. */
  private[graft] def fieldsOf(schema: graft.iceberg.IcebergSchema)
      : Seq[(Int, String, IcebergType)] =
    schema.fields.flatMap(f => IcebergTypes.fromStringOpt(f.fieldType).map(t => (f.id, f.name, t)))

  /** Partition info per DEFAULT-spec field: (schema index of the source
    * column, source Iceberg type, transform, transform OUTPUT type — the
    * summary's value domain). None for an unpartitioned table. Shared by
    * the DSv2 write builder and the convenience writers (upsert), so
    * every write path splits rows with the same transform kernels and
    * stamps the same field-507 summaries. */
  private[graft] def partInfoOf(meta: TableMetadata,
      tableSchema: StructType): PartInfo = {
    val spec = meta.partitionSpecs.find(_.specId == meta.defaultSpecId)
      .getOrElse(graft.iceberg.PartitionSpec(0, Nil))
    if (spec.fields.isEmpty) None
    else Some((spec.specId, spec.fields.map { pf =>
      val f = meta.currentSchema.fields.find(_.id == pf.sourceId).getOrElse(
        throw new IllegalArgumentException(
          s"partition source field ${pf.sourceId} not in current schema"))
      val t = IcebergTypes.fromString(f.fieldType)
      val out = pf.transform match {
        case "identity" => t
        case BucketRe(_) => IcebergTypes.TInt
        case TruncateRe(_) => t match {
          case IcebergTypes.TInt | IcebergTypes.TLong | IcebergTypes.TString => t
          case other => throw new IllegalArgumentException(
            s"truncate over $other is not supported")
        }
        case "year" | "month" | "day" => IcebergTypes.TInt
        case "hour" => t match {
          case IcebergTypes.TTimestamp | IcebergTypes.TTimestamptz => IcebergTypes.TInt
          case other => throw new IllegalArgumentException(
            s"hour over $other is not supported")
        }
        case other => throw new IllegalArgumentException(
          s"unsupported write transform '$other' — supported: identity, " +
            "bucket[N], truncate[W], year, month, day, hour")
      }
      (tableSchema.fieldIndex(f.name), t, pf.transform, out)
    }))
  }

  /** The CommitResult of the last `graft-table` batch commit ON THIS
    * THREAD. `df.write...save()` runs the whole V2 write — including
    * `BatchWrite.commit` — on the calling thread, so a convenience-API
    * wrapper (GraftTable.append) reads the ACTUAL committed result here
    * instead of re-resolving the head afterwards, which under a
    * concurrent writer could describe someone else's snapshot. */
  private[graft] val lastCommit =
    new ThreadLocal[graft.iceberg.OptimisticCommit.CommitResult]()

  private[sources] def drop(ms: Seq[GraftFileMessage]): Unit =
    ms.foreach(m => graft.iceberg.HadoopConfs.fileSystemFor(m.path)
      .delete(new org.apache.hadoop.fs.Path(m.path), false))

  private[sources] def filesOf(messages: Array[WriterCommitMessage]): Seq[GraftFileMessage] =
    // abort hands null slots for tasks that never committed a message —
    // only the non-null ones have files to account for
    messages.toSeq.filter(_ != null).flatMap(_.asInstanceOf[GraftWriteMessage].files)

  /** The ONE GraftFileMessage → PendingFile mapping — shared by direct
    * commits and the staging catalog, so a field added to either shape
    * cannot silently drop on one path. */
  private[graft] def pending(m: GraftFileMessage): GraftTable.PendingFile =
    GraftTable.PendingFile(
      m.path, m.rows, m.bytes, m.lower, m.upper, m.summary, m.specId,
      fileFormat = m.fileFormat)

  /** The one position-delete file writer: (file_path, pos) rows, already
    * in the (file_path, pos) order the spec requires, land as ONE parquet
    * with bound stats under Iceberg's reserved position-delete field ids
    * (what lets readers scope the delete load per data file). Its message
    * names the distinct data files the rows address. None when there is
    * no row — no file is created. */
  private[graft] def writePositionDeletes(path: String, sorted: Iterator[(String, Long)],
      conf: Configuration): Option[GraftFileMessage] =
    if (!sorted.hasNext) None
    else {
      val fw = new GraftFileWriter(path,
        StructType(Seq(StructField("file_path", StringType), StructField("pos", LongType))),
        Seq((graft.iceberg.ManifestWriter.PosDeleteFilePathId, "file_path", IcebergTypes.TString),
          (graft.iceberg.ManifestWriter.PosDeletePosId, "pos", IcebergTypes.TLong)),
        None, 0, conf)
      // the rows arrive grouped by file_path: each new path is a target
      val targets = Seq.newBuilder[String]
      var last: String = null
      try sorted.foreach { case (f, p) =>
        if (f != last) { targets += f; last = f }
        fw.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(f), p)))
      } catch { case t: Throwable => fw.abort(); throw t }
      Some(fw.finish().copy(content = 1, targets = targets.result()))
    }

  /** The one task-side write loop of the engine's own rewrites (merge,
    * compaction, upsert): each non-empty partition of `df` streams
    * through the task writer — one file per task, or one per
    * transform-space tuple under `part` — with bounds tracked inline.
    * Names are `prefix` made attempt-unique, so a retried or speculative
    * attempt never collides with the winner's file (a loser's file stays
    * an uncommitted orphan for the sweep); a failing task deletes its own
    * files. Returns the winning attempts' messages. A single-file output
    * is `df.repartition(1).sortWithinPartitions(...)`. */
  private[graft] def writeDataFiles(df: org.apache.spark.sql.DataFrame, prefix: String,
      fields: Seq[(Int, String, IcebergType)], part: PartInfo = None): Seq[GraftFileMessage] = {
    val schema = df.schema
    perTask(df, prefix) { (name, rows, conf) =>
      val w = GraftTableDataWriter.create(ord => f"$name-f$ord%03d.parquet",
        schema, fields, part, conf)
      try {
        rows.foreach(w.write)
        w.commit().asInstanceOf[GraftWriteMessage].files
      } catch { case t: Throwable => w.abort(); throw t }
    }
  }

  /** A (file_path, pos) frame as ONE position-delete file: sorted in a
    * single task and written by [[writePositionDeletes]]. None when the
    * frame has no row — no file is created. */
  private[graft] def writePositionDeleteFile(dels: org.apache.spark.sql.DataFrame,
      prefix: String): Option[GraftFileMessage] = {
    import org.apache.spark.sql.functions.col
    perTask(dels.select(col("file_path"), col("pos")).repartition(1)
        .sortWithinPartitions(col("file_path"), col("pos")), prefix) { (name, rows, conf) =>
      writePositionDeletes(s"$name.parquet",
        rows.map(r => (r.getUTF8String(0).toString, r.getLong(1))), conf).toSeq
    }.headOption
  }

  /** Runs `write` over each non-empty partition of `df` in one Spark
    * job, naming its files from `<prefix>-p<partition>-t<attempt>`. */
  private def perTask(df: org.apache.spark.sql.DataFrame, prefix: String)(
      write: (String, Iterator[InternalRow], Configuration) => Seq[GraftFileMessage])
      : Seq[GraftFileMessage] = {
    val conf = new graft.iceberg.SerializableHadoopConf(graft.iceberg.HadoopConfs.active())
    df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
      if (!rows.hasNext) Iterator.empty
      else {
        val att = org.apache.spark.TaskContext.get().taskAttemptId()
        write(f"$prefix-p$pid%05d-t$att", rows, conf.value).iterator
      }
    }.collect().toSeq
  }

  private[sources] def commit(tableDir: String, files: Seq[GraftFileMessage],
      extraSummary: Map[String, String] = Map.empty,
      replace: Boolean = false, branch: Option[String] = None,
      stage: Boolean = false): Unit =
    lastCommit.set(GraftTable.commitAppendFiles(tableDir,
      files.map(pending), extraSummary, replace, branch, stage = stage))
}

class GraftTableBatchWrite(tableDir: String, schema: StructType,
    fields: Seq[(Int, String, IcebergType)], part: GraftTableWrites.PartInfo,
    replace: Boolean,
    hadoopConf: graft.iceberg.SerializableHadoopConf,
    branch: Option[String] = None,
    format: String = "PARQUET",
    // write-audit-publish id captured from the session at PLAN time:
    // (id, stage) — the id always rides the snapshot summary; stage=true
    // (the table opted in via write.wap.enabled) commits stage-only
    wap: Option[(String, Boolean)] = None) extends BatchWrite {

  private val writeUuid = java.util.UUID.randomUUID().toString

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftTableWriterFactory(tableDir, writeUuid, schema, fields, part,
      hadoopConf, format)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val all = GraftTableWrites.filesOf(messages)
    val files = all.filter(_.rows > 0) // empty task partitions add no file
    GraftTableWrites.drop(all.filter(_.rows == 0)) // before commit: no leak on abort
    // an INSERT/append selecting zero rows is a no-op; an OVERWRITE from
    // an empty source still commits (truncate semantics)
    if (files.nonEmpty || replace)
      GraftTableWrites.commit(tableDir, files,
        extraSummary = wap.map(w => "wap.id" -> w._1).toMap,
        replace = replace, branch = branch,
        stage = wap.exists(_._2))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftTableWrites.drop(GraftTableWrites.filesOf(messages))
}

/** Streaming sink: `df.writeStream.format("graft-table")` — every
  * micro-batch (epoch) lands as ONE CAS-committed append snapshot whose
  * summary carries `streaming-query-epoch = <queryId>/<epochId>`. On an
  * epoch REPLAY (restart re-runs the last uncommitted-to-the-source
  * batch), the committed snapshot is found by that tag, the re-written
  * task files are deleted, and NO duplicate snapshot lands — the
  * exactly-once contract, per-epoch idempotent like Iceberg's own
  * streaming writer. Empty epochs commit nothing. */
class GraftTableStreamingWrite(tableDir: String, schema: StructType,
    fields: Seq[(Int, String, IcebergType)], part: GraftTableWrites.PartInfo,
    queryId: String, hadoopConf: graft.iceberg.SerializableHadoopConf,
    format: String = "PARQUET")
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new GraftTableStreamingWriterFactory(tableDir, queryId, schema, fields, part,
      hadoopConf, format)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val all = GraftTableWrites.filesOf(messages)
    val files = all.filter(_.rows > 0)
    val tag = s"$queryId/$epochId"
    val base = TableMetadata.parseFile(GraftTable.latestMetadataPath(tableDir))
    val replayed = base.snapshots.exists(
      _.summary.get("streaming-query-epoch").contains(tag))
    if (files.isEmpty || replayed) GraftTableWrites.drop(all)
    else {
      GraftTableWrites.drop(all.filter(_.rows == 0))
      GraftTableWrites.commit(tableDir, files,
        extraSummary = Map("streaming-query-epoch" -> tag))
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    GraftTableWrites.drop(GraftTableWrites.filesOf(messages))
}

class GraftTableWriterFactory(tableDir: String, writeUuid: String,
    schema: StructType, fields: Seq[(Int, String, IcebergType)],
    part: GraftTableWrites.PartInfo,
    hadoopConf: graft.iceberg.SerializableHadoopConf,
    fileFormat: String = "PARQUET") extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val ext = fileFormat.toLowerCase
    GraftTableDataWriter.create(
      ord => f"$tableDir/data/w-$writeUuid-p${partitionId}%05d-t$taskId-f${ord}%03d.$ext",
      schema, fields, part, hadoopConf.value, fileFormat)
  }
}

class GraftTableStreamingWriterFactory(tableDir: String, queryId: String,
    schema: StructType, fields: Seq[(Int, String, IcebergType)],
    part: GraftTableWrites.PartInfo,
    hadoopConf: graft.iceberg.SerializableHadoopConf,
    fileFormat: String = "PARQUET")
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] = {
    val ext = fileFormat.toLowerCase
    GraftTableDataWriter.create(
      ord => f"$tableDir/data/w-$queryId-e$epochId-p${partitionId}%05d-t$taskId-f${ord}%03d.$ext",
      schema, fields, part, hadoopConf.value, fileFormat)
  }
}

object GraftTableDataWriter {

  /** Minimum FIXED_LEN_BYTE_ARRAY length holding `precision` decimal
    * digits (two's complement) — the Iceberg parquet mapping for
    * `decimal(P,S)`. */
  private[sources] def decimalLen(precision: Int): Int =
    (java.math.BigInteger.TEN.pow(precision)
      .subtract(java.math.BigInteger.ONE).bitLength + 1 + 7) / 8

  /** Unscaled value sign-extended to the type's fixed length. */
  private[sources] def decimalBinary(d: java.math.BigDecimal, precision: Int): Binary = {
    val len = decimalLen(precision)
    val unscaled = d.unscaledValue.toByteArray
    require(unscaled.length <= len, s"decimal $d overflows precision $precision")
    val fixed = Array.fill[Byte](len)(if (d.signum < 0) -1 else 0)
    System.arraycopy(unscaled, 0, fixed, len - unscaled.length, unscaled.length)
    Binary.fromConstantByteArray(fixed)
  }

  def create(pathFor: Int => String, schema: StructType,
      fields: Seq[(Int, String, IcebergType)], part: GraftTableWrites.PartInfo,
      conf: Configuration, format: String = "PARQUET"): DataWriter[InternalRow] =
    part match {
      case None =>
        new GraftTableUnpartitionedWriter(pathFor(0), schema, fields, conf, format)
      case Some((specId, specFields)) =>
        new GraftTablePartitionedWriter(pathFor, schema, fields, specId,
          specFields, conf, format)
    }

  /** Raw JVM value of a primitive field (Spark internal domain:
    * DateType = epoch days, timestamps = epoch micros) — what
    * BoundTracker compares and every format writer encodes from. */
  private[sources] def rawPrim(dt: DataType,
      d: org.apache.spark.sql.catalyst.expressions.SpecializedGetters, i: Int): Any =
    dt match {
      case IntegerType | DateType => d.getInt(i)
      case LongType | TimestampType | TimestampNTZType => d.getLong(i)
      case DoubleType => d.getDouble(i)
      case FloatType => d.getFloat(i)
      case BooleanType => d.getBoolean(i)
      case StringType => d.getUTF8String(i).toString
      case dec: DecimalType =>
        d.getDecimal(i, dec.precision, dec.scale).toJavaBigDecimal
      case BinaryType => d.getBinary(i)
      case other => throw new UnsupportedOperationException(other.toString)
    }

  /** Format dispatch for `write.format.default` — the append-in-kind
    * path for imported foreign tables. */
  private[sources] def fileWriter(format: String, path: String,
      schema: StructType, fields: Seq[(Int, String, IcebergType)],
      summary: Option[Seq[ManifestListReader.FieldSummary]], specId: Int,
      conf: Configuration): TaskFileWriter = format match {
    case "PARQUET" => new GraftFileWriter(path, schema, fields, summary, specId, conf)
    case "AVRO" => new AvroTaskFileWriter(path, schema, fields, summary, specId, conf)
    case "ORC" => new OrcTaskFileWriter(path, schema, fields, summary, specId, conf)
    case other => throw new IllegalArgumentException(
      s"unsupported write.format.default '$other' — parquet, avro or orc")
  }

  /** Raw tracked value → the Iceberg single-value-codec input domain
    * (Spark internal representations: DateType = epoch days,
    * TimestampType = epoch micros). */
  private[sources] def encode(t: IcebergType, dt: DataType, v: Any): Array[Byte] =
    (dt, v) match {
      case (DateType, days: Int) =>
        SingleValueCodec.encode(t, java.time.LocalDate.ofEpochDay(days.toLong))
      case (TimestampNTZType, us: Long) =>
        SingleValueCodec.encode(t,
          java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
            (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC))
      case (TimestampType, us: Long) => t match {
        case IcebergTypes.TTimestamptz => SingleValueCodec.encode(t,
          java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
            Math.floorMod(us, 1000000L) * 1000L))
        case _ => SingleValueCodec.encode(t,
          java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
            (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC))
      }
      case _ => SingleValueCodec.encode(t, v)
    }
}

/** Unpartitioned task writer: one file per task. */
class GraftTableUnpartitionedWriter(path: String, schema: StructType,
    fields: Seq[(Int, String, IcebergType)], conf: Configuration,
    format: String = "PARQUET")
    extends DataWriter[InternalRow] {
  private val fw = GraftTableDataWriter.fileWriter(
    format, path, schema, fields, None, 0, conf)
  override def write(row: InternalRow): Unit = fw.write(row)
  override def commit(): WriterCommitMessage = GraftWriteMessage(Seq(fw.finish()))
  override def abort(): Unit = fw.abort()
  override def close(): Unit = ()
}

/** Partitioned task writer: rows split into one file PER transform-space
  * tuple (computed row-by-row with the read side's scalar kernels —
  * murmur3 bucket, identity); each file's summary is its exact tuple.
  * Open-writer count per task = tuples seen by the task, which the
  * clustered distribution keeps small. */
class GraftTablePartitionedWriter(pathFor: Int => String, schema: StructType,
    fields: Seq[(Int, String, IcebergType)], specId: Int,
    specFields: Seq[(Int, IcebergType, String, IcebergType)], conf: Configuration,
    format: String = "PARQUET")
    extends DataWriter[InternalRow] {

  private val BucketRe = """bucket\[(\d+)\]""".r
  private val TruncateRe = """truncate\[(\d+)\]""".r
  private val writers = scala.collection.mutable.LinkedHashMap
    .empty[Vector[Any], TaskFileWriter]

  private def rawValue(row: InternalRow, idx: Int): Any =
    if (row.isNullAt(idx)) null
    else schema.fields(idx).dataType match {
      case IntegerType | DateType => row.getInt(idx)
      case LongType | TimestampType | TimestampNTZType => row.getLong(idx)
      case StringType => row.getUTF8String(idx).toString
      case DoubleType => row.getDouble(idx)
      case FloatType => row.getFloat(idx)
      case BooleanType => row.getBoolean(idx)
      case d: DecimalType => row.getDecimal(idx, d.precision, d.scale).toJavaBigDecimal
      case other => throw new UnsupportedOperationException(other.toString)
    }

  private def transformed(transform: String, srcType: IcebergType, v: Any): Any =
    if (v == null) null
    else (transform, srcType, v) match {
      case ("identity", _, x) => x
      case (BucketRe(n), IcebergTypes.TInt, x: Int) =>
        PartitionTransforms.bucketLong(x.toLong, n.toInt)
      case (BucketRe(n), IcebergTypes.TLong, x: Long) =>
        PartitionTransforms.bucketLong(x, n.toInt)
      case (BucketRe(n), IcebergTypes.TString, x: String) =>
        PartitionTransforms.bucketString(x, n.toInt)
      case (TruncateRe(w), IcebergTypes.TInt, x: Int) =>
        PartitionTransforms.truncateLong(x.toLong, w.toLong).toInt
      case (TruncateRe(w), IcebergTypes.TLong, x: Long) =>
        PartitionTransforms.truncateLong(x, w.toLong)
      case (TruncateRe(w), IcebergTypes.TString, x: String) =>
        PartitionTransforms.truncateString(x, w.toInt)
      // rawValue hands DATE as epoch-day Int, TIMESTAMP as epoch-micros
      // Long — exactly the domains the ordinal helpers speak
      case ("year", IcebergTypes.TDate, x: Int) => PartitionTransforms.yearOrdinal(x)
      case ("month", IcebergTypes.TDate, x: Int) => PartitionTransforms.monthOrdinal(x)
      case ("day", IcebergTypes.TDate, x: Int) => PartitionTransforms.dayOrdinal(x)
      case ("year", IcebergTypes.TTimestamp | IcebergTypes.TTimestamptz, x: Long) =>
        PartitionTransforms.yearOrdinal(PartitionTransforms.epochDaysOfMicros(x))
      case ("month", IcebergTypes.TTimestamp | IcebergTypes.TTimestamptz, x: Long) =>
        PartitionTransforms.monthOrdinal(PartitionTransforms.epochDaysOfMicros(x))
      case ("day", IcebergTypes.TTimestamp | IcebergTypes.TTimestamptz, x: Long) =>
        PartitionTransforms.dayOrdinal(PartitionTransforms.epochDaysOfMicros(x))
      case ("hour", IcebergTypes.TTimestamp | IcebergTypes.TTimestamptz, x: Long) =>
        PartitionTransforms.hourOrdinal(x)
      case (t, st, _) => throw new UnsupportedOperationException(
        s"transform $t over $st")
    }

  private def summaryOf(tuple: Vector[Any]): Seq[ManifestListReader.FieldSummary] =
    specFields.zip(tuple).map { case ((idx, _, transform, outType), v) =>
      v match {
        case null => ManifestListReader.FieldSummary(containsNull = true,
          Some(Array.empty[Byte]), Some(Array.empty[Byte]))
        case value =>
          // identity tuples stay in Spark's raw domain (days/micros) —
          // encode through the same conversion the bound stats use;
          // transformed tuples encode in the transform's OUTPUT domain
          // (int ordinals/buckets, truncate keeps the source's own type)
          val dt = if (transform == "identity") schema.fields(idx).dataType
            else outType.sparkType
          val b = GraftTableDataWriter.encode(outType, dt, value)
          ManifestListReader.FieldSummary(containsNull = false, Some(b), Some(b))
      }
    }

  override def write(row: InternalRow): Unit = {
    val tuple = specFields.map { case (idx, srcType, transform, _) =>
      transformed(transform, srcType, rawValue(row, idx)) }.toVector
    writers.getOrElseUpdate(tuple, GraftTableDataWriter.fileWriter(format,
      pathFor(writers.size), schema, fields, Some(summaryOf(tuple)), specId, conf))
      .write(row)
  }

  override def commit(): WriterCommitMessage =
    GraftWriteMessage(writers.values.map(_.finish()).toSeq)
  override def abort(): Unit = writers.values.foreach(_.abort())
  override def close(): Unit = ()
}

/** The contract every task-side data-file writer speaks, whatever the
  * format: stream InternalRows, return ONE commit message with inline
  * bound stats (bounds live in MANIFESTS, so they are format-independent
  * — avro/orc files written here prune exactly like parquet ones, which
  * the IMPORT paths cannot promise: avro containers carry no footer
  * stats). */
private[sources] trait TaskFileWriter {
  def write(row: InternalRow): Unit
  def finish(): GraftFileMessage
  def abort(): Unit
}

/** Inline min/max tracking in the raw Spark value domain
  * (Int/Long/Double/Float/Boolean/String; DateType as epoch days,
  * timestamps as epoch micros). Binary columns track nothing — cmp has
  * no byte-array ordering; a fabricated bound would mis-prune, an
  * absent one never does. EXCEPT geometry/geography: the v3 spec's geo
  * bounds are bounding-box corners, so those columns fold per-axis
  * min/max over their WKB POINT values into a lower (min x, min y) /
  * upper (max x, max y) point pair. One non-point (or unparsable) WKB
  * value poisons the column for this FILE — a bbox computed from only
  * the values we understood would claim coverage it cannot prove. */
private[sources] final class BoundTracker(schema: StructType,
    fields: Seq[(Int, String, IcebergType)]) {
  private val mins = Array.fill[Any](schema.fields.length)(null)
  private val maxs = Array.fill[Any](schema.fields.length)(null)
  private val nonNull = new Array[Long](schema.fields.length)

  // schema index → per-axis accumulator [minX, minY, maxX, maxY] for
  // geometry/geography columns; NaN-seeded until the first point lands
  private val geoAcc: Map[Int, Array[Double]] = fields.collect {
    case (_, name, _: IcebergTypes.TGeometry) =>
      schema.fieldIndex(name) -> Array(Double.NaN, Double.NaN, Double.NaN, Double.NaN)
    case (_, name, _: IcebergTypes.TGeography) =>
      schema.fieldIndex(name) -> Array(Double.NaN, Double.NaN, Double.NaN, Double.NaN)
  }.toMap
  private val geoPoisoned =
    scala.collection.mutable.Set.empty[Int]

  private def trackGeo(i: Int, acc: Array[Double], v: Any): Unit =
    if (!geoPoisoned(i)) {
      try {
        val bytes = v.asInstanceOf[Array[Byte]]
        val x = graft.functions.GeoAlgos.pointCoord(bytes, 0)
        val y = graft.functions.GeoAlgos.pointCoord(bytes, 1)
        // a NaN coordinate can't participate in a bbox — poison, same as
        // a non-point shape (the NaN-seeded accumulators update through
        // negated comparisons, which would otherwise latch onto NaN)
        if (x.isNaN || y.isNaN) geoPoisoned += i
        else {
          if (!(acc(0) <= x)) acc(0) = x
          if (!(acc(1) <= y)) acc(1) = y
          if (!(acc(2) >= x)) acc(2) = x
          if (!(acc(3) >= y)) acc(3) = y
        }
      } catch { case _: IllegalArgumentException => geoPoisoned += i }
    }

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Int, y: Int) => x.compareTo(y)
    case (x: Long, y: Long) => x.compareTo(y)
    case (x: Double, y: Double) => x.compareTo(y)
    case (x: Float, y: Float) => x.compareTo(y)
    case (x: Boolean, y: Boolean) => x.compareTo(y)
    case (x: String, y: String) => x.compareTo(y)
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
    case _ => 0
  }

  def track(i: Int, v: Any): Unit = {
    nonNull(i) += 1
    geoAcc.get(i) match {
      case Some(acc) => trackGeo(i, acc, v)
      case None if schema.fields(i).dataType != BinaryType =>
        if (mins(i) == null || cmp(v, mins(i)) < 0) mins(i) = v
        if (maxs(i) == null || cmp(v, maxs(i)) > 0) maxs(i) = v
      case None => ()
    }
  }

  /** Spec field 110 by field id for every primitive field of a file of
    * `rows` rows — nested columns are never tracked, so they get none. */
  def nullCounts(rows: Long): Map[Int, Long] =
    fields.flatMap { case (id, name, _) =>
      val i = schema.fieldIndex(name)
      schema.fields(i).dataType match {
        case _: ArrayType | _: StructType | _: MapType | VariantType => None
        case _ => Some(id -> (rows - nonNull(i)))
      }
    }.toMap

  /** Iceberg single-value-encoded (lower, upper) maps by field id. */
  def lowerUpper(): (Map[Int, Array[Byte]], Map[Int, Array[Byte]]) = {
    val bounds = fields.flatMap { case (id, name, t) =>
      val i = schema.fieldIndex(name)
      geoAcc.get(i) match {
        case Some(acc) =>
          if (geoPoisoned(i) || acc(0).isNaN) Nil
          else Seq((id,
            SingleValueCodec.encode(t, graft.iceberg.GeoPoint(acc(0), acc(1))),
            SingleValueCodec.encode(t, graft.iceberg.GeoPoint(acc(2), acc(3)))))
        case None => (Option(mins(i)), Option(maxs(i))) match {
          case (Some(lo), Some(hi)) =>
            Seq((id, GraftTableDataWriter.encode(t, schema.fields(i).dataType, lo),
              GraftTableDataWriter.encode(t, schema.fields(i).dataType, hi)))
          case _ => Nil
        }
      }
    }
    (bounds.map(b => b._1 -> b._2).toMap, bounds.map(b => b._1 -> b._3).toMap)
  }
}

/** One parquet file: streams rows, tracking min/max and null counts per
  * column inline — the stats Iceberg manifests carry, with no second
  * pass over the written file. Every parquet data and delete file the
  * table code writes goes through it. */
class GraftFileWriter(path: String, schema: StructType,
    fields: Seq[(Int, String, IcebergType)],
    summary: Option[Seq[ManifestListReader.FieldSummary]], specId: Int,
    conf: Configuration) extends TaskFileWriter {

  import org.apache.parquet.schema.Type.Repetition

  private def primBuilder(dt: DataType, colName: String,
      rep: Repetition = Repetition.OPTIONAL)
      : Types.PrimitiveBuilder[org.apache.parquet.schema.PrimitiveType] = dt match {
    case IntegerType => Types.primitive(PrimitiveTypeName.INT32, rep)
    case LongType => Types.primitive(PrimitiveTypeName.INT64, rep)
    case DoubleType => Types.primitive(PrimitiveTypeName.DOUBLE, rep)
    case FloatType => Types.primitive(PrimitiveTypeName.FLOAT, rep)
    case BooleanType => Types.primitive(PrimitiveTypeName.BOOLEAN, rep)
    case StringType => Types.primitive(PrimitiveTypeName.BINARY, rep)
      .as(LogicalTypeAnnotation.stringType())
    case DateType => Types.primitive(PrimitiveTypeName.INT32, rep)
      .as(LogicalTypeAnnotation.dateType())
    case TimestampType => Types.primitive(PrimitiveTypeName.INT64, rep)
      .as(LogicalTypeAnnotation.timestampType(true,
        LogicalTypeAnnotation.TimeUnit.MICROS))
    case TimestampNTZType => Types.primitive(PrimitiveTypeName.INT64, rep)
      .as(LogicalTypeAnnotation.timestampType(false,
        LogicalTypeAnnotation.TimeUnit.MICROS))
    case d: DecimalType => Types.primitive(PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY, rep)
      .length(GraftTableDataWriter.decimalLen(d.precision))
      .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
    case BinaryType => Types.primitive(PrimitiveTypeName.BINARY, rep)
    case other => throw new UnsupportedOperationException(
      s"graft-table DSv2 writer does not encode $other (column $colName)")
  }


  /** Recursive Spark→parquet type mapping: the standard nested layouts
    * Spark's own writer and vectorized reader both speak — 3-level LIST
    * (LIST > repeated "list" > "element"), MAP (MAP > repeated
    * "key_value" > required key + optional value), plain groups for
    * structs. Nesting composes freely (array<struct>, map<string,
    * array<...>>, ...). */
  private def parquetType(dt: DataType, name: String,
      rep: Repetition = Repetition.OPTIONAL): org.apache.parquet.schema.Type =
    dt match {
      case ArrayType(elem, _) =>
        Types.buildGroup(rep).as(LogicalTypeAnnotation.listType())
          .addField(Types.repeatedGroup()
            .addField(parquetType(elem, "element"))
            .named("list"))
          .named(name)
      case st: StructType =>
        val b = Types.buildGroup(rep)
        st.fields.foreach(f => b.addField(parquetType(f.dataType, f.name)))
        b.named(name)
      case MapType(kt, vt, _) =>
        Types.buildGroup(rep).as(LogicalTypeAnnotation.mapType())
          .addField(Types.repeatedGroup()
            .addField(parquetType(kt, "key", Repetition.REQUIRED))
            .addField(parquetType(vt, "value"))
            .named("key_value"))
          .named(name)
      // the unshredded parquet variant layout (spec v1): a VARIANT-
      // annotated group of the two binary halves — value (the encoded
      // datum) and metadata (its dictionary). Spark's own parquet reader
      // reconstructs VariantType from this shape, so the native read
      // route round-trips the column too
      case org.apache.spark.sql.types.VariantType =>
        Types.buildGroup(rep).as(LogicalTypeAnnotation.variantType(1.toByte))
          .addField(primBuilder(BinaryType, "metadata", Repetition.REQUIRED)
            .named("metadata"))
          .addField(primBuilder(BinaryType, "value", Repetition.REQUIRED)
            .named("value"))
          .named(name)
      case prim => primBuilder(prim, name, rep).named(name)
    }

  // v3 nanosecond timestamps surface as LongType in Spark (no ns type
  // there), but the FILE must carry the TIMESTAMP(NANOS) annotation — a
  // foreign spec-conforming reader recovers real nanosecond timestamps,
  // and Spark's own reader maps the annotation back to long under
  // nanosAsLong. Keyed by column name from the table's Iceberg schema.
  private val nsTimestampCols: Map[String, Boolean] = fields.collect {
    case (_, n, IcebergTypes.TTimestampNs) => n -> false
    case (_, n, IcebergTypes.TTimestamptzNs) => n -> true
  }.toMap

  private val msgType: MessageType = {
    val ts: Array[org.apache.parquet.schema.Type] =
      schema.fields
        // v3 `unknown` columns (Spark NullType) are null-only by spec
        // contract and are never stored: no parquet column, and the
        // write loop never sees a non-null value to add. Reads
        // null-fill them like any missing column.
        .filter(_.dataType != NullType)
        .map { f =>
        nsTimestampCols.get(f.name) match {
          case Some(utcAdjusted) if f.dataType == LongType =>
            Types.primitive(PrimitiveTypeName.INT64, Repetition.OPTIONAL)
              .as(LogicalTypeAnnotation.timestampType(utcAdjusted,
                LogicalTypeAnnotation.TimeUnit.NANOS))
              .named(f.name)
          case _ => parquetType(f.dataType, f.name)
        }
      }
    new MessageType("spark_schema",
      ts.toSeq.map(t => t: org.apache.parquet.schema.Type).asJava)
  }

  private val writer = ExampleParquetWriter.builder(
      graft.iceberg.HadoopConfs.parquetOutput(new org.apache.hadoop.fs.Path(path), conf))
    .withConf(conf).withType(msgType)
    .withCompressionCodec(CompressionCodecName.SNAPPY)
    .build()
  private val factory = new SimpleGroupFactory(msgType)
  private var rows = 0L
  private val tracker = new BoundTracker(schema, fields)

  private def primValue(dt: DataType,
      d: org.apache.spark.sql.catalyst.expressions.SpecializedGetters, i: Int): Any =
    GraftTableDataWriter.rawPrim(dt, d, i)

  private def addPrim(g: Group, name: String, dt: DataType, v: Any): Unit = v match {
    case x: Int => g.add(name, x)
    case x: Long => g.add(name, x)
    case x: Double => g.add(name, x)
    case x: Float => g.add(name, x)
    case x: Boolean => g.add(name, x)
    case x: String => g.add(name, Binary.fromString(x))
    case x: java.math.BigDecimal => g.add(name,
      GraftTableDataWriter.decimalBinary(x,
        dt.asInstanceOf[DecimalType].precision))
    case x: Array[Byte] => g.add(name, Binary.fromConstantByteArray(x))
  }

  /** Recursive nested-value write mirroring [[parquetType]]'s layouts.
    * `d` is whichever container holds the value (InternalRow, ArrayData,
    * a MapData's key/value arrays) — all speak SpecializedGetters. */
  private def addField(g: Group, name: String, dt: DataType,
      d: org.apache.spark.sql.catalyst.expressions.SpecializedGetters, i: Int): Unit =
    dt match {
      case ArrayType(elem, _) =>
        val arr = d.getArray(i)
        val outer = g.addGroup(name)
        var j = 0
        while (j < arr.numElements()) {
          val lg = outer.addGroup("list")
          if (!arr.isNullAt(j)) addField(lg, "element", elem, arr, j)
          j += 1
        }
      case st: StructType =>
        val sub = g.addGroup(name)
        val sr = d.getStruct(i, st.fields.length)
        var j = 0
        while (j < st.fields.length) {
          if (!sr.isNullAt(j))
            addField(sub, st.fields(j).name, st.fields(j).dataType, sr, j)
          j += 1
        }
      case MapType(kt, vt, _) =>
        val m = d.getMap(i)
        val outer = g.addGroup(name)
        val keys = m.keyArray()
        val vals = m.valueArray()
        var j = 0
        while (j < m.numElements()) {
          val kv = outer.addGroup("key_value")
          addField(kv, "key", kt, keys, j)
          if (!vals.isNullAt(j)) addField(kv, "value", vt, vals, j)
          j += 1
        }
      case org.apache.spark.sql.types.VariantType =>
        val v = d.get(i, dt).asInstanceOf[org.apache.spark.unsafe.types.VariantVal]
        val sub = g.addGroup(name)
        sub.add("metadata", Binary.fromConstantByteArray(v.getMetadata))
        sub.add("value", Binary.fromConstantByteArray(v.getValue))
      case prim => addPrim(g, name, prim, primValue(prim, d, i))
    }

  def write(row: InternalRow): Unit = {
    val g = factory.newGroup()
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (!row.isNullAt(i)) f.dataType match {
        case _: ArrayType | _: StructType | _: MapType |
             org.apache.spark.sql.types.VariantType =>
          // nested columns carry no bounds (no total order — an
          // element-wise order would mis-prune, same rule as binary;
          // the variant spec defines no ordering either)
          addField(g, f.name, f.dataType, row, i)
        case _ =>
          val v = primValue(f.dataType, row, i)
          addPrim(g, f.name, f.dataType, v)
          tracker.track(i, v)
      }
    }
    writer.write(g)
    rows += 1
  }

  def finish(): GraftFileMessage = {
    writer.close()
    val (lower, upper) = tracker.lowerUpper()
    GraftFileMessage(path, rows,
      graft.iceberg.HadoopConfs.length(path, conf),
      lower, upper, summary, specId, nullCounts = tracker.nullCounts(rows))
  }

  def abort(): Unit = {
    writer.close()
    graft.iceberg.HadoopConfs.fileSystemFor(path)
      .delete(new org.apache.hadoop.fs.Path(path), false)
  }
}

/** One Avro object-container data file — the `write.format.default =
  * 'avro'` task writer, so an avro-imported table (i75) appends
  * in-kind. Layout matches [[graft.iceberg.AvroDataFiles.avroSchema]]
  * (nullable unions, date/timestamp logical types), which is exactly
  * what the AVRO scan route decodes. Inline bound stats track like any
  * other writer — manifests don't care about the data format. */
private[sources] final class AvroTaskFileWriter(path: String,
    schema: StructType, fields: Seq[(Int, String, IcebergType)],
    summary: Option[Seq[ManifestListReader.FieldSummary]], specId: Int,
    conf: Configuration) extends TaskFileWriter {
  import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

  private val avro = graft.iceberg.AvroDataFiles.avroSchema(schema)
  private val writer =
    new org.apache.avro.file.DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](avro))
  writer.setCodec(org.apache.avro.file.CodecFactory.fromString("deflate"))
  // create(overwrite = false): attempt-unique task filenames make
  // collisions impossible; failing loudly beats clobbering
  writer.create(avro, graft.iceberg.HadoopConfs.fileSystemFor(path)
    .create(new org.apache.hadoop.fs.Path(path), false))
  private val tracker = new BoundTracker(schema, fields)
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    val rec = new GenericData.Record(avro)
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (!row.isNullAt(i)) {
        val v = GraftTableDataWriter.rawPrim(f.dataType, row, i)
        tracker.track(i, v)
        rec.put(f.name, v match {
          case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
          case other => other.asInstanceOf[AnyRef]
        })
      }
    }
    writer.append(rec)
    rows += 1
  }

  override def finish(): GraftFileMessage = {
    writer.close()
    val (lower, upper) = tracker.lowerUpper()
    GraftFileMessage(path, rows,
      graft.iceberg.HadoopConfs.length(path, conf),
      lower, upper, summary, specId, fileFormat = "AVRO")
  }

  override def abort(): Unit = {
    writer.close()
    graft.iceberg.HadoopConfs.fileSystemFor(path)
      .delete(new org.apache.hadoop.fs.Path(path), false)
  }
}

/** One ORC data file — the `write.format.default = 'orc'` task writer,
  * appending in-kind to orc-imported tables (i78). Layout matches
  * [[graft.iceberg.OrcDataFiles.orcSchema]] (timestamptz as ORC
  * timestamp-instant), which the ORC stripe-granular scan route
  * decodes. Rows buffer through one VectorizedRowBatch. */
private[sources] final class OrcTaskFileWriter(path: String,
    schema: StructType, fields: Seq[(Int, String, IcebergType)],
    summary: Option[Seq[ManifestListReader.FieldSummary]], specId: Int,
    conf: Configuration) extends TaskFileWriter {
  import org.apache.hadoop.hive.ql.exec.vector.{BytesColumnVector,
    DoubleColumnVector, LongColumnVector, TimestampColumnVector}

  private val orc = graft.iceberg.OrcDataFiles.orcSchema(schema)
  private val writer = {
    val p = new org.apache.hadoop.fs.Path(path)
    org.apache.orc.OrcFile.createWriter(p, org.apache.orc.OrcFile.writerOptions(conf)
      .fileSystem(graft.iceberg.HadoopConfs.fileSystemFor(p, conf)).setSchema(orc))
  }
  private val batch = orc.createRowBatch()
  private val tracker = new BoundTracker(schema, fields)
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    val i = batch.size
    schema.fields.zipWithIndex.foreach { case (f, c) =>
      val vec = batch.cols(c)
      if (row.isNullAt(c)) { vec.noNulls = false; vec.isNull(i) = true }
      else {
        val v = GraftTableDataWriter.rawPrim(f.dataType, row, c)
        tracker.track(c, v)
        (f.dataType, v) match {
          case (IntegerType | DateType, x: Int) =>
            vec.asInstanceOf[LongColumnVector].vector(i) = x.toLong
          case (LongType, x: Long) =>
            vec.asInstanceOf[LongColumnVector].vector(i) = x
          case (BooleanType, x: Boolean) =>
            vec.asInstanceOf[LongColumnVector].vector(i) = if (x) 1L else 0L
          case (FloatType, x: Float) =>
            vec.asInstanceOf[DoubleColumnVector].vector(i) = x.toDouble
          case (DoubleType, x: Double) =>
            vec.asInstanceOf[DoubleColumnVector].vector(i) = x
          case (StringType, x: String) =>
            vec.asInstanceOf[BytesColumnVector].setVal(i,
              x.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          case (BinaryType, x: Array[Byte]) =>
            vec.asInstanceOf[BytesColumnVector].setVal(i, x)
          case (TimestampType | TimestampNTZType, us: Long) =>
            val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
            ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
            vec.asInstanceOf[TimestampColumnVector].set(i, ts)
          case (t, x) => throw new UnsupportedOperationException(
            s"orc task writer: $t <- ${x.getClass.getName}")
        }
      }
    }
    batch.size += 1
    if (batch.size == batch.getMaxSize) { writer.addRowBatch(batch); batch.reset() }
    rows += 1
  }

  override def finish(): GraftFileMessage = {
    if (batch.size > 0) writer.addRowBatch(batch)
    writer.close()
    val (lower, upper) = tracker.lowerUpper()
    GraftFileMessage(path, rows,
      graft.iceberg.HadoopConfs.length(path, conf),
      lower, upper, summary, specId, fileFormat = "ORC")
  }

  override def abort(): Unit = {
    writer.close()
    graft.iceberg.HadoopConfs.fileSystemFor(path)
      .delete(new org.apache.hadoop.fs.Path(path), false)
  }
}

/** Task side of the MERGE-ON-READ row-level write (the `SupportsDelta`
  * route): inserted and updated rows stream into the ordinary task data
  * writers (per-tuple files on partitioned tables), while deleted row
  * ids — the scan's (_file, _pos) coordinates — buffer per task and land
  * as ONE position-delete parquet ([[GraftTableWrites.writePositionDeletes]]).
  * A task's delete volume is its share of the CHANGED rows, so the buffer
  * is O(task delta), never O(table). */
class GraftTableDeltaWriter(pathFor: Int => String, delPath: String,
    schema: StructType, fields: Seq[(Int, String, IcebergType)],
    part: GraftTableWrites.PartInfo, conf: Configuration,
    carryLineage: Boolean = false) extends DeltaWriter[InternalRow] {

  private val data = GraftTableDataWriter.create(pathFor, schema, fields, part, conf)
  // v3 row lineage: UPDATE-written rows keep their identity — the new
  // row version lands in a SEPARATE file materializing the original
  // _row_id (read from the operation's metadata attributes), while pure
  // inserts stay in `data` and claim fresh ids at commit. The carry
  // file's schema appends the lineage column; bound stats still track
  // the table columns only (`fields` excludes it).
  private lazy val carrySchema =
    StructType(schema.fields.toSeq :+ StructField("_row_id", LongType))
  private lazy val carry = GraftTableDataWriter.create(
    i => pathFor(1000 + i), carrySchema, fields, part, conf)
  private var carryUsed = false
  private val deletes = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]

  override def insert(row: InternalRow): Unit = data.write(row)
  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    delete(meta, id)
    if (!carryLineage) insert(row)
    else {
      val rid: Any =
        if (meta.numFields == 0 || meta.isNullAt(0)) null else meta.getLong(0)
      carryUsed = true
      carry.write(new org.apache.spark.sql.catalyst.expressions.JoinedRow(
        row, new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](rid))))
    }
  }
  override def delete(meta: InternalRow, id: InternalRow): Unit =
    deletes += ((id.getUTF8String(0).toString, id.getLong(1)))

  override def commit(): WriterCommitMessage = {
    val dataMsg0 = data.commit().asInstanceOf[GraftWriteMessage]
    val dataMsg =
      if (!carryUsed) dataMsg0
      else GraftWriteMessage(dataMsg0.files ++
        carry.commit().asInstanceOf[GraftWriteMessage].files
          .map(_.copy(carriesLineage = true)))
    deletes.sortInPlace()
    GraftWriteMessage(dataMsg.files ++
      GraftTableWrites.writePositionDeletes(delPath, deletes.iterator, conf))
  }
  override def abort(): Unit = { data.abort(); if (carryUsed) carry.abort() }
  override def close(): Unit = ()
}
