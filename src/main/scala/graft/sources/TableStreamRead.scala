package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset,
  ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType

import graft.iceberg._

/** Streaming-read options, parsed once in the scan builder from the
  * `readStream` option map. */
case class StreamReadOptions(
    skipOverwrites: Boolean = false,
    startingSnapshotId: Option[Long] = None,
    startingTimestampMs: Option[Long] = None,
    maxSnapshotsPerTrigger: Option[Int] = None)

/** The offset of the `graft-table` streaming source: the last FULLY
  * CONSUMED snapshot id (0 = nothing consumed). Snapshot ids in this
  * library form a strictly increasing linear history, so a single long
  * totally orders the stream. */
case class GraftSnapshotOffset(snapshotId: Long) extends Offset {
  override def json(): String = s"""{"snapshot-id":$snapshotId}"""
}

object GraftSnapshotOffset {
  private val P = """.*"snapshot-id"\s*:\s*(-?\d+).*""".r
  def parse(json: String): GraftSnapshotOffset = json match {
    case P(id) => GraftSnapshotOffset(id.toLong)
    case _ => throw new IllegalArgumentException(s"bad graft offset: $json")
  }
  def of(o: Offset): GraftSnapshotOffset = o match {
    case g: GraftSnapshotOffset => g
    case other => parse(other.json())
  }
}

/** Incremental snapshot consumption as a Structured Streaming source —
  * `spark.readStream.format("graft-table")` (Iceberg's streaming read,
  * re-expressed on the DSv2 micro-batch API). Each micro-batch serves the
  * data files ADDED by the snapshots in `(start, end]`:
  *
  *   - the planner touches metadata PROPORTIONAL TO THE DELTA — for each
  *     new snapshot it opens only the manifests that snapshot added
  *     (list-level `added_snapshot_id`, field 503), never the table's
  *     full manifest history, so a 10⁵-snapshot table streams new commits
  *     at the cost of the new commits alone;
  *   - `latestOffset` refreshes the table HEAD each trigger (the batch
  *     scan pins a version; a stream follows the log), and
  *     `max-snapshots-per-trigger` bounds batch size under backlog
  *     (admission control — a stream restarted over a month of commits
  *     must not plan one giant batch);
  *   - delete snapshots add no data files and stream as empty batches
  *     (rows already emitted are past — standard streaming semantics);
  *     overwrite/replace snapshots (compaction, COW rewrites) would
  *     re-emit rewritten rows, so they FAIL the stream unless
  *     `streaming-skip-overwrite-snapshots=true` (Iceberg's contract);
  *   - appends carry no pending deletes by construction; batches decode
  *     through the vectorized parquet reader;
  *   - `starting-snapshot-id` starts the stream AFTER a known snapshot
  *     (exclusive) — "only new data" = pass the current head's id.
  *
  * Trigger.AvailableNow pins the head at query start and drains up to it
  * in bounded batches. */
class GraftTableMicroBatchStream(metadataPath: String, required: StructType,
    opts: StreamReadOptions, hadoopConf: graft.iceberg.SerializableHadoopConf)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private val tableDir = new Path(metadataPath).getParent.toString
  private def head: TableMetadata =
    TableMetadata.parseFile(GraftTable.latestMetadataPath(tableDir))
  private def headSnapshotId: Long = head.currentSnapshotId.getOrElse(0L)

  // Trigger.AvailableNow: the end of the stream is pinned ONCE at query
  // start; commits landing during the drain belong to the next run
  @volatile private var pinnedEnd: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    pinnedEnd = Some(headSnapshotId)

  override def initialOffset(): Offset = GraftSnapshotOffset(
    opts.startingSnapshotId.orElse(opts.startingTimestampMs.map { ts =>
      // "only commits after this instant": the last snapshot at or before
      // ts is the EXCLUSIVE start; an instant before the first commit
      // streams the whole history
      head.snapshotLog.filter(_.timestampMs <= ts)
        .map(_.snapshotId).lastOption.getOrElse(0L)
    }).getOrElse(0L))

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) drives this source")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = GraftSnapshotOffset.of(start).snapshotId
    val target = pinnedEnd.getOrElse(headSnapshotId)
    val inRange = head.snapshots.filter(s =>
      s.snapshotId > from && s.snapshotId <= target).sortBy(_.snapshotId)
    // admission control, strongest bound wins: the trigger's ReadLimit
    // (rows admitted via each snapshot's added-records summary — always
    // at least one snapshot so the stream advances) composed with the
    // max-snapshots-per-trigger option. Snapshot ids can be sparse after
    // expiry, so bounds COUNT real snapshots, never do id arithmetic.
    def rowsOf(s: Snapshot): Long =
      s.summary.get("added-records").flatMap(v =>
        scala.util.Try(v.toLong).toOption).getOrElse(0L)
    def boundByRows(maxRows: Long): Int = {
      var (n, acc, stop) = (0, 0L, false)
      inRange.foreach { s =>
        if (!stop && (n == 0 || acc + rowsOf(s) <= maxRows)) {
          n += 1; acc += rowsOf(s)
        } else stop = true
      }
      n
    }
    val nAllowed = Seq(
      limit match {
        case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
          Some(boundByRows(r.maxRows()))
        case _ => None
      },
      opts.maxSnapshotsPerTrigger).flatten
      .reduceOption(math.min).getOrElse(inRange.size)
    val bounded = inRange.take(nAllowed).lastOption.map(_.snapshotId).getOrElse(from)
    GraftSnapshotOffset(math.max(from, bounded))
  }

  override def reportLatestOffset(): Offset = GraftSnapshotOffset(headSnapshotId)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def deserializeOffset(json: String): Offset =
    GraftSnapshotOffset.parse(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = GraftSnapshotOffset.of(start).snapshotId
    val e = GraftSnapshotOffset.of(end).snapshotId
    val meta = head
    val tableSchema = GraftTable.sparkSchema(meta)
    val inRange = meta.snapshots.filter(x => x.snapshotId > s && x.snapshotId <= e)
      .sortBy(_.snapshotId)
    // a restart whose checkpoint predates snapshot expiry must FAIL, not
    // silently lose the expired commits' rows: the first snapshot past the
    // offset must descend directly from it (parent pointers outlive their
    // parents, so an expired gap is visible as a dangling parent id > s)
    for (first <- inRange.headOption; p <- first.parentSnapshotId
         if p > s && !meta.snapshots.exists(_.snapshotId == p))
      throw new IllegalStateException(
        s"snapshots between offset $s and ${first.snapshotId} were expired; " +
          "the stream cannot resume without data loss — restart from a fresh " +
          "checkpoint (optionally with starting-snapshot-id)")
    inRange
      .flatMap { snap =>
        val op = snap.operation.getOrElse("append")
        if (op == "overwrite" || op == "replace") {
          if (!opts.skipOverwrites) throw new IllegalStateException(
            s"streaming read reached non-append snapshot ${snap.snapshotId} " +
              s"(operation=$op): rewritten files would re-emit already-streamed " +
              "rows. Set option streaming-skip-overwrite-snapshots=true to skip them.")
          Nil
        } else {
          val list = snap.manifestList.getOrElse(throw new IllegalStateException(
            s"snapshot ${snap.snapshotId} has no manifest list"))
          // delta-proportional planning: only THIS snapshot's manifests open
          val added = ManifestListReader.read(list)
            .filter(i => i.content == 0 && i.addedSnapshotId == snap.snapshotId)
          Par.inParallel(added)(i => ManifestWriter.read(i.path)).flatten
            .filter(en => en.status == 1 && en.content == 0 &&
              en.snapshotId == snap.snapshotId)
            .map(en => GraftTableInputPartition(en.filePath, snap.snapshotId,
              FileDeletes.none, tableSchema))
        }
      }.map(p => p: InputPartition).toArray
  }

  /** Stream partitions are parquet appends: they decode columnar. */
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftTableReaderFactory(required, hadoopConf, columnar = true)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
