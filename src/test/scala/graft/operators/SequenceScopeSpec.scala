package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.iceberg.{GraftTable, HadoopConfs, IcebergField, IcebergSchema, ManifestListWriter,
  ManifestWriter, MetadataWriter, ParquetFiles, Snapshot}

/** Sequence-number-scoped delete applicability (Iceberg v2 rule):
  * position deletes apply to data files with seq <= delete seq, equality
  * deletes only to STRICTLY lower seq, each checked on a hand-built
  * table read through GraftTable.read. Covers the manifest_entry field-3
  * round-trip and the i36 end-to-end entry. */
class SequenceScopeSpec extends SparkSpec {

  test("sequence_number round-trips through manifest write/read (and None stays None)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-seq").toString
    val m = s"$dir/m.avro"
    val f = s"$dir/dummy.parquet"
    spark.range(1).write.mode("overwrite").parquet(f)
    ManifestWriter.write(m, Seq(
      ManifestWriter.EntryData(1, 7L, f, 1L, 10L, Map.empty, Map.empty,
        content = 2, sequenceNumber = Some(42L)),
      ManifestWriter.EntryData(1, 7L, f, 1L, 10L, Map.empty, Map.empty)))
    val back = ManifestWriter.read(m)
    assert(back.map(_.sequenceNumber) == Seq(Some(42L), None))
  }

  /** A hand-built v2 table (k string, s long) with one manifest per file:
    * `data` files at their sequence numbers, then the delete files
    * `deletes` builds from the data file paths — (sequence, content 1 =
    * position / 2 = equality, rows). Returns the metadata path. */
  private def seqTable(data: Seq[(Long, Seq[(String, Long)])],
      deletes: Seq[String] => Seq[(Long, Int, DataFrame)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-seqtab").toString
    def entry(f: String, seq: Long, content: Int) = ManifestWriter.EntryData(
      1, seq, f, ParquetFiles.read(spark, Seq(f)).count(), HadoopConfs.length(f),
      Map.empty, Map.empty, content = content, sequenceNumber = Some(seq))
    val dataEntries = data.zipWithIndex.map { case ((seq, rows), i) =>
      val f = s"$dir/data/d$i.parquet"
      ParquetFiles.writeOne(rows.toDF("k", "s"), f)
      entry(f, seq, 0)
    }
    val delEntries = deletes(dataEntries.map(_.filePath)).zipWithIndex.map {
      case ((seq, content, df), i) =>
        val f = s"$dir/data/del$i.parquet"
        ParquetFiles.writeOne(df, f)
        entry(f, seq, content)
    }
    val manifests = (dataEntries ++ delEntries).zipWithIndex.map { case (e, i) =>
      val m = s"$dir/m-$i.avro"
      ManifestWriter.write(m, Seq(e))
      (m, e)
    }
    val snapId = manifests.map(_._2.snapshotId).max
    val list = s"$dir/snap-$snapId-list.avro"
    ManifestListWriter.write(list, manifests.map(_._1), snapId,
      contents = manifests.map { case (m, e) => m -> (if (e.content == 0) 0 else 1) }.toMap,
      seqNums = manifests.map { case (m, e) => m -> e.snapshotId }.toMap,
      addedSnapshotIds = manifests.map { case (m, e) => m -> e.snapshotId }.toMap)
    val v1 = s"$dir/v1.metadata.json"
    MetadataWriter.write(v1, MetadataWriter.commitSnapshot(
      LakehouseExec.baseMetadata(dir).copy(schemas = Seq(IcebergSchema(0, Seq(
        IcebergField(1, "k", required = false, "string"),
        IcebergField(2, "s", required = false, "long"))))),
      Snapshot(snapId, None, 1700000001000L, Some("append"), Map.empty, Some(list), Some(0)),
      None))
    v1
  }

  test("equality deletes scope to strictly lower data sequence numbers") {
    import spark.implicits._
    // delete of k='a' committed at seq 2: kills seq-1 'a' only — the
    // same-commit (seq 2) and later (seq 3) rows survive
    val table = seqTable(
      Seq(1L -> Seq(("a", 1L), ("b", 1L)), 2L -> Seq(("a", 2L)), 3L -> Seq(("a", 3L))),
      _ => Seq((2L, 2, Seq("a").toDF("k"))))
    val live = GraftTable.read(spark, table)
      .orderBy($"s", $"k").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(live.toSeq == Seq(("b", 1L), ("a", 2L), ("a", 3L)))
  }

  test("position deletes scope to lower-or-equal data sequence numbers") {
    import spark.implicits._
    // delete at seq 2 names (f1,0) and (f2,0): (f1,0) dies (1 <= 2),
    // (f2,0) survives (3 > 2) even though the address matches
    val table = seqTable(
      Seq(1L -> Seq(("f1-0", 1L), ("f1-1", 1L)), 3L -> Seq(("f2-0", 3L))),
      paths => Seq((2L, 1, Seq((paths(0), 0L), (paths(1), 0L)).toDF("file_path", "pos"))))
    val live = GraftTable.read(spark, table).select($"k").orderBy($"k")
      .collect().map(_.getString(0))
    assert(live.toSeq == Seq("f1-1", "f2-0"))
  }

  test("entry-level null sequence number inherits the list's field 515") {
    // A foreign v2 writer leaves ADDED entries' sequence_number null and
    // lets the manifest-list carry the commit's number (field 515). The
    // data file here sits at INHERITED seq 2; an equality delete at seq 2
    // must NOT apply (strict rule: 2 < 2 fails). Under the old
    // getOrElse(0) fallback the row read as seq 0 and was wrongly deleted.
    val dir = java.nio.file.Files.createTempDirectory("graft-inherit").toString
    val one = graft.Tables.load(spark, sfDir, "nation")
      .filter(col("n_nationkey") === 3)
    val f = s"$dir/data/d.parquet"
    ParquetFiles.writeOne(one, f)
    val mData = s"$dir/m-data.avro"
    ManifestWriter.write(mData, Seq(ManifestWriter.EntryData(
      1, 2L, f, 1L, HadoopConfs.length(f), Map.empty, Map.empty,
      content = 0, sequenceNumber = None))) // null → must inherit 2
    val eqF = s"$dir/data/eq.parquet"
    ParquetFiles.writeOne(one.select(col("n_name")), eqF)
    val mEq = s"$dir/m-eq.avro"
    ManifestWriter.write(mEq, Seq(ManifestWriter.EntryData(
      1, 2L, eqF, 1L, HadoopConfs.length(eqF), Map.empty, Map.empty,
      content = 2, sequenceNumber = Some(2L))))
    val list = s"$dir/snap-2-list.avro"
    ManifestListWriter.write(list, Seq(mData, mEq), 2L,
      contents = Map(mEq -> 1), seqNums = Map(mData -> 2L, mEq -> 2L))
    val snap = Snapshot(2L, None, 1700000001000L, Some("append"),
      Map.empty, Some(list), Some(0))
    val v1 = s"$dir/v1.metadata.json"
    MetadataWriter.write(v1,
      MetadataWriter.commitSnapshot(LakehouseExec.baseMetadata(dir), snap, None))
    val rows = GraftTable.read(spark, v1).collect()
    assert(rows.length == 1 && rows.head.getAs[Int]("n_nationkey") == 3)
  }

  test("i36: a row appended after an equality-delete commit escapes the delete") {
    val row = LakehouseMaint.seqScopedScan(spark, sfDir).head()
    assert(row.getAs[Int]("n_snapshots") == 3)
    assert(row.getAs[Long]("n_live") == 24L)          // 25 - nation 2
    assert(row.getAs[Long]("n_deleted_key_present") == 0L)
    assert(row.getAs[Long]("n_late_key_present") == 1L) // nation 20 survives
  }
}
