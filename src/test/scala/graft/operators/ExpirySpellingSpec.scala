package graft.operators

import graft.SparkSpec
import graft.iceberg._

/** Expiry's file-tier difference must compare spellings by their PathId
  * (VERDICT r20 "what's wrong" #3, the r21 fix): if an EXPIRED manifest
  * spells a physical file `file:/p` while a RETAINED manifest (foreign
  * writer, add_files import) spells the same file `/p`, a raw-string diff
  * misses the match and deletes a LIVE file. Mirrors r20's OrphanSweepSpec
  * scheme'd-spelling test, for both the driver-exact leg and the
  * distributed anti-join leg. */
class ExpirySpellingSpec extends SparkSpec {

  /** A table whose snapshot 1 references the shared physical file under
    * `expiredSpelling` (default: `file:`-scheme'd) and snapshot 2 (child of
    * 1) references the SAME file under `retainedSpelling` (default: the
    * plain absolute spelling). Returns (tableDir, sharedPhysicalPath). */
  private def mkAliasedTable(tag: String,
      expiredSpelling: String => String = p => s"file:$p",
      retainedSpelling: String => String = identity): (String, String) = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-exps-$tag").toString + "/t"
    GraftTable.create(dir, IcebergSchema(0, Seq(
      IcebergField(1, "k", required = false, "int"))),
      tableUuid = s"b6b9a6a1-0000-4000-8000-00000000e1f$tag",
      timestampMs = 1700000000000L)
    val fs = HadoopConfs.fileSystemFor(dir)
    val shared = s"$dir/data/shared-00000.parquet"
    val out = fs.create(new org.apache.hadoop.fs.Path(shared))
    out.write("bytes expiry must never reclaim".getBytes); out.close()
    def commit(snapId: Long, parent: Option[Long], spelling: String,
        version: Int): Unit = {
      val manifest = s"$dir/m-$snapId.avro"
      ManifestWriter.write(manifest, Seq(ManifestWriter.EntryData(
        status = 1, snapshotId = snapId, filePath = spelling,
        recordCount = 1L, fileSizeInBytes = 31L,
        lowerBounds = Map.empty, upperBounds = Map.empty,
        sequenceNumber = Some(snapId))))
      val list = s"$dir/snap-$snapId-list.avro"
      ManifestListWriter.write(list, Seq(manifest), snapId, addedDataFilesCount = 1)
      val base = TableMetadata.parseFile(s"$dir/v$version.metadata.json")
      MetadataWriter.write(s"$dir/v${version + 1}.metadata.json",
        MetadataWriter.commitSnapshot(base,
          Snapshot(snapId, parent, 1700000000000L + 1000 * snapId, Some("append"),
            Map("added-data-files" -> "1"), Some(list), Some(0))))
    }
    commit(1L, None, expiredSpelling(shared), 1)
    commit(2L, Some(1L), retainedSpelling(shared), 2)
    (dir, shared)
  }

  test("driver-exact leg: a live file spelled file:/p in the expired " +
      "manifest and /p in the retained one survives expiry") {
    val (dir, shared) = mkAliasedTable("0")
    GraftTable.expireSnapshots(spark, dir, keepLast = 1)
    val fs = HadoopConfs.fileSystemFor(dir)
    assert(fs.exists(new org.apache.hadoop.fs.Path(shared)),
      "expiry deleted a live file through a spelling alias (driver leg)")
    // the expired snapshot's own metadata WAS reclaimed
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/m-1.avro")),
      "the expired-only manifest should be gone")
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    assert(meta.snapshots.map(_.snapshotId) == Seq(2L))
  }

  test("distributed leg (threshold 0): same aliasing, same survival") {
    val (dir, shared) = mkAliasedTable("1")
    spark.conf.set("graft.expiry.distributedSweepBytes", "0")
    try GraftTable.expireSnapshots(spark, dir, keepLast = 1)
    finally spark.conf.unset("graft.expiry.distributedSweepBytes")
    val fs = HadoopConfs.fileSystemFor(dir)
    assert(fs.exists(new org.apache.hadoop.fs.Path(shared)),
      "expiry deleted a live file through a spelling alias (distributed leg)")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/m-1.avro")),
      "the expired-only manifest should be gone")
  }

  test("both legs: a live file spelled /p in the expired manifest and " +
      "file://localhost/p in the retained one survives expiry") {
    // a spelling the path id does not unify (another authority, as with
    // s3 vs s3a or a dropped port) must keep the file, never delete it
    for ((tag, threshold) <- Seq("2" -> None, "3" -> Some("0"))) {
      val (dir, shared) = mkAliasedTable(tag, identity, p => s"file://localhost$p")
      threshold.foreach(spark.conf.set("graft.expiry.distributedSweepBytes", _))
      try GraftTable.expireSnapshots(spark, dir, keepLast = 1)
      finally spark.conf.unset("graft.expiry.distributedSweepBytes")
      val fs = HadoopConfs.fileSystemFor(dir)
      assert(fs.exists(new org.apache.hadoop.fs.Path(shared)),
        s"expiry deleted a live file spelled under another authority (threshold $threshold)")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/m-1.avro")),
        "the expired-only manifest should be gone")
    }
  }
}
