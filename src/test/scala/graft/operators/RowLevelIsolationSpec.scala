package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.iceberg.{GraftTable, HadoopConfs, IcebergField, IcebergSchema, ManifestListWriter,
  ManifestWriter, MetadataWriter, OptimisticCommit, ParquetFiles, Snapshot}

/** Round-9 isolation and edge-case fixes (ADVICE r8):
  *   - a delete file committed between a row-level scan and its replace
  *     commit must ABORT the replace (serializable isolation — the new
  *     deletes would be silently lost for rewritten rows);
  *   - EXISTING entries carried into a new manifest must materialize
  *     their inherited sequence number (inheritance is for ADDED entries
  *     only — a carried null would re-inherit the NEW commit's sequence
  *     and out-sequence pending equality deletes);
  *   - empty writes: INSERT of zero rows is a no-op, INSERT OVERWRITE
  *     from empty truncates, DELETE/TRUNCATE on an empty table succeeds.
  */
class RowLevelIsolationSpec extends SparkSpec {

  private def nationRow(k: Int) =
    graft.Tables.load(spark, sfDir, "nation").filter(col("n_nationkey") === k)

  test("replace commit aborts when a delete file was committed after the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-isol").toString
    GraftTable.create(dir, IcebergSchema(0, Seq(
      IcebergField(1, "n_nationkey", required = false, "int"),
      IcebergField(2, "n_name", required = false, "string"),
      IcebergField(3, "n_regionkey", required = false, "int"))),
      tableUuid = java.util.UUID.randomUUID().toString, timestampMs = 1700000000000L)
    GraftTable.append(spark, dir, nationRow(3).union(nationRow(5)))
    // "scan time": no delete files seen. The replaced group must be the
    // file HOLDING key 5 — append writes at input parallelism now, so
    // the two rows may land in separate task files and the concurrent
    // delete below addresses only key 5's.
    val scannedDeletes = Set.empty[String]
    val dataFile = spark.read.format("graft-table")
      .option("metadata", GraftTable.latestMetadataPath(dir)).load()
      .filter(col("n_nationkey") === 5).select(col("_file")).head().getString(0)
    // a DELETE commits between scan and replace
    GraftTable.deleteWhere(spark, dir, col("n_nationkey") === 5)
    // the rewrite of the scanned group must now conflict
    val out = s"$dir/data/rewrite.parquet"
    ParquetFiles.writeOne(nationRow(3), out)
    val pending = GraftTable.PendingFile(out, 1L, HadoopConfs.length(out),
      Map.empty, Map.empty)
    intercept[OptimisticCommit.CommitConflictException] {
      GraftTable.commitReplaceFiles(dir, Seq(pending),
        Set(dataFile), scannedDeletes)
    }
    // with the delete file in the scanned set the same commit succeeds
    val seen = graft.iceberg.ManifestListReader
      .read(graft.iceberg.TableMetadata
        .parseFile(GraftTable.latestMetadataPath(dir))
        .currentSnapshot.get.manifestList.get)
      .filter(_.content == 1)
      .flatMap(i => ManifestWriter.read(i.path)).map(_.filePath).toSet
    assert(seen.nonEmpty)
    GraftTable.commitReplaceFiles(dir, Seq(pending), Set(dataFile), seen)
    val live = GraftTable.read(spark, GraftTable.latestMetadataPath(dir))
      .select(col("n_nationkey")).collect().map(_.getInt(0)).toSet
    assert(live == Set(3)) // 5 deleted, 3 rewritten
  }

  test("carried EXISTING entries materialize inherited sequence numbers") {
    // fileA holds nation 3 with a NULL entry sequence inheriting the
    // manifest's field-515 seq 2; an equality delete at seq 3 kills it
    // (2 < 3, strict rule). Replacing the OTHER file must not resurrect
    // it: the carried entry's sequence is materialized as 2, not
    // re-inherited from the new manifest's list sequence.
    val dir = java.nio.file.Files.createTempDirectory("graft-carry").toString
    val fA = s"$dir/data/a.parquet"
    ParquetFiles.writeOne(nationRow(3), fA)
    val fB = s"$dir/data/b.parquet"
    ParquetFiles.writeOne(nationRow(5), fB)
    val mA = s"$dir/m-a.avro"
    ManifestWriter.write(mA, Seq(ManifestWriter.EntryData(
      1, 2L, fA, 1L, HadoopConfs.length(fA), Map.empty, Map.empty,
      content = 0, sequenceNumber = None))) // null → inherits list seq 2
    val mB = s"$dir/m-b.avro"
    ManifestWriter.write(mB, Seq(ManifestWriter.EntryData(
      1, 2L, fB, 1L, HadoopConfs.length(fB), Map.empty, Map.empty,
      content = 0, sequenceNumber = Some(2L))))
    val eqF = s"$dir/data/eq.parquet"
    ParquetFiles.writeOne(nationRow(3).select(col("n_name")), eqF)
    val mEq = s"$dir/m-eq.avro"
    ManifestWriter.write(mEq, Seq(ManifestWriter.EntryData(
      1, 3L, eqF, 1L, HadoopConfs.length(eqF), Map.empty, Map.empty,
      content = 2, sequenceNumber = Some(3L))))
    val list = s"$dir/snap-3-list.avro"
    ManifestListWriter.write(list, Seq(mA, mB, mEq), 3L,
      contents = Map(mEq -> 1),
      seqNums = Map(mA -> 2L, mB -> 2L, mEq -> 3L))
    val snap = Snapshot(3L, None, 1700000001000L, Some("append"),
      Map.empty, Some(list), Some(0))
    MetadataWriter.write(s"$dir/v1.metadata.json",
      MetadataWriter.commitSnapshot(LakehouseExec.baseMetadata(dir), snap, None))
    val before = GraftTable.read(spark, GraftTable.latestMetadataPath(dir))
      .select(col("n_nationkey")).collect().map(_.getInt(0)).toSet
    assert(before == Set(5)) // eq delete killed nation 3
    // replace fileB; fileA's entry is carried EXISTING into snapId 4's
    // manifest — a null sequence would re-inherit 4 and escape the delete
    val out = s"$dir/data/b2.parquet"
    ParquetFiles.writeOne(nationRow(5), out)
    GraftTable.commitReplaceFiles(dir,
      Seq(GraftTable.PendingFile(out, 1L, HadoopConfs.length(out), Map.empty, Map.empty)),
      Set(fB), Set(eqF))
    val after = GraftTable.read(spark, GraftTable.latestMetadataPath(dir))
      .select(col("n_nationkey")).collect().map(_.getInt(0)).toSet
    assert(after == Set(5)) // nation 3 STAYS deleted
  }

  test("empty INSERT is a no-op; INSERT OVERWRITE from empty truncates; DELETE on empty succeeds") {
    val wh = java.nio.file.Files.createTempDirectory("graft-empty").toString
    spark.conf.set("spark.sql.catalog.graft_em",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_em.warehouse", wh)
    spark.sql("CREATE TABLE graft_em.db.n (k INT, name STRING)")
    // DELETE FROM / TRUNCATE on a fresh (never-appended) table: no-op
    spark.sql("DELETE FROM graft_em.db.n WHERE k = 1")
    spark.sql("TRUNCATE TABLE graft_em.db.n")
    assert(spark.sql("SELECT COUNT(*) FROM graft_em.db.n").head().getLong(0) == 0L)
    spark.sql("INSERT INTO graft_em.db.n VALUES (1, 'one'), (2, 'two')")
    val vAfterInsert = OptimisticCommit.currentVersion(s"$wh/db/n")
    // zero-row INSERT: no error, no new snapshot
    spark.sql("INSERT INTO graft_em.db.n SELECT k, name FROM graft_em.db.n WHERE k < 0")
    assert(OptimisticCommit.currentVersion(s"$wh/db/n") == vAfterInsert)
    assert(spark.sql("SELECT COUNT(*) FROM graft_em.db.n").head().getLong(0) == 2L)
    // OVERWRITE from an empty source: truncates (one replace snapshot)
    spark.sql("INSERT OVERWRITE graft_em.db.n SELECT k, name FROM graft_em.db.n WHERE k < 0")
    assert(spark.sql("SELECT COUNT(*) FROM graft_em.db.n").head().getLong(0) == 0L)
    assert(OptimisticCommit.currentVersion(s"$wh/db/n") == vAfterInsert + 1)
  }
}
