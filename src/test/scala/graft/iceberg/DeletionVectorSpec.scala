package graft.iceberg

import graft.SparkSpec

/** Iceberg v3 deletion vectors end-to-end: the format-version upgrade,
  * DELETE landing Puffin-bitmap DVs instead of position-delete parquet,
  * both scan routes applying them, merge-on-write superseding (at most
  * one live DV per data file), v2→v3 coexistence (parquet deletes merge
  * into the next DV and the union reads correctly), time travel across
  * the supersede, and the blob codec's corruption checks. */
class DeletionVectorSpec extends SparkSpec {

  private def freshCatalog(name: String): String = {
    val wh = java.nio.file.Files.createTempDirectory(s"graft-$name").toString
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    wh
  }

  private def liveDeleteEntries(dir: String): Seq[ManifestWriter.EntryData] = {
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    meta.currentSnapshot.toSeq
      .flatMap(s => ManifestListReader.read(s.manifestList.get))
      .filter(_.content == 1)
      .flatMap(i => ManifestWriter.read(i.path))
      .filter(e => e.status != 2 && e.content == 1)
  }

  test("v3 DELETE lands deletion vectors; scans apply them; merge supersedes") {
    val wh = freshCatalog("dv1")
    spark.sql("CREATE TABLE dv1.db.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('commit-timestamp-ms'='1700000000000')")
    spark.sql("INSERT INTO dv1.db.t SELECT id, concat('v', id) FROM range(0, 50)")
    spark.sql("INSERT INTO dv1.db.t SELECT id, concat('v', id) FROM range(50, 100)")
    val dir = s"$wh/db/t"
    assert(TableMetadata.parseFile(GraftTable.latestMetadataPath(dir)).formatVersion == 2)

    spark.sql("ALTER TABLE dv1.db.t SET TBLPROPERTIES ('format-version'='3')")
    val meta3 = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    assert(meta3.formatVersion == 3, "upgrade must land in the metadata field")
    assert(!meta3.properties.contains("format-version"),
      "format-version is a document field, not a property")

    // first DELETE: filter-expressible predicate -> SupportsDelete -> DV
    spark.sql("DELETE FROM dv1.db.t WHERE k < 10")
    val dels1 = liveDeleteEntries(dir)
    assert(dels1.nonEmpty && dels1.forall(_.fileFormat == "PUFFIN"),
      s"v3 DELETE must land DVs, got ${dels1.map(_.fileFormat)}")
    dels1.foreach { e =>
      assert(e.referencedDataFile.nonEmpty && e.contentOffset.nonEmpty &&
        e.contentSizeInBytes.nonEmpty, s"DV entry missing v3 address: $e")
      // the manifest address really decodes: magic, CRC, cardinality
      val dv = DeletionVectors.read(e.filePath, e.contentOffset.get,
        e.contentSizeInBytes.get)
      assert(dv.cardinality == e.recordCount)
    }
    assert(dels1.map(_.recordCount).sum == 10L)
    // snapshot summary says DVs, and the answer is right on the SQL route
    val meta4 = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val summary = meta4.currentSnapshot.get.summary
    assert(summary.get("added-dvs").exists(_.toInt >= 1), summary.toString)
    assert(spark.sql("SELECT count(*), min(k) FROM dv1.db.t").head() ==
      org.apache.spark.sql.Row(90L, 10L))

    // second DELETE overlapping the same file: MERGE-ON-WRITE — the new
    // DV absorbs the old positions and at most one DV stays per file
    spark.sql("DELETE FROM dv1.db.t WHERE k < 20")
    val dels2 = liveDeleteEntries(dir)
    val perFile = dels2.groupBy(_.referencedDataFile.get)
    assert(perFile.values.forall(_.size == 1),
      s"more than one live DV per file: ${perFile.view.mapValues(_.size).toMap}")
    assert(dels2.map(_.recordCount).sum == 20L,
      "the merged DV must carry the UNION of both deletes")
    assert(spark.sql("SELECT count(*), min(k) FROM dv1.db.t").head() ==
      org.apache.spark.sql.Row(80L, 20L))
    // row route agrees (metadata columns force it off the columnar path)
    assert(spark.sql("SELECT count(_pos) FROM dv1.db.t WHERE k IS NOT NULL")
      .head().getLong(0) == 80L)
    // native read route agrees
    assert(GraftTable.read(spark, GraftTable.latestMetadataPath(dir))
      .count() == 80L)

    // time travel: the pre-merge snapshot still serves the OLD DV state
    val snaps = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
      .snapshots.map(_.snapshotId).sorted
    val afterFirstDelete = snaps(snaps.length - 2)
    assert(spark.sql(
        s"SELECT count(*) FROM dv1.db.t VERSION AS OF $afterFirstDelete")
      .head().getLong(0) == 90L)
  }

  test("v2 parquet position deletes merge into the v3 DV; union reads correctly") {
    val wh = freshCatalog("dv2")
    spark.sql("CREATE TABLE dv2.db.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('commit-timestamp-ms'='1700000000000')")
    // ONE data file, so both deletes address it and the merge is observable
    spark.sql("INSERT INTO dv2.db.t " +
      "SELECT /*+ REPARTITION(1) */ id, concat('v', id) FROM range(0, 40)")
    val dir = s"$wh/db/t"
    // v2 DELETE -> parquet position deletes
    spark.sql("DELETE FROM dv2.db.t WHERE k < 5")
    val v2dels = liveDeleteEntries(dir)
    assert(v2dels.nonEmpty && v2dels.forall(_.fileFormat == "PARQUET"))
    // upgrade, then a v3 DELETE touching the same file
    spark.sql("ALTER TABLE dv2.db.t SET TBLPROPERTIES ('format-version'='3')")
    spark.sql("DELETE FROM dv2.db.t WHERE k >= 35")
    val mixed = liveDeleteEntries(dir)
    val dvs = mixed.filter(_.fileFormat == "PUFFIN")
    assert(dvs.size == 1, s"expected one DV, got $mixed")
    // the DV absorbed the parquet positions (merge), so its cardinality
    // is the full pending set for the file; the parquet entry may stay
    // live — union semantics keep the read correct either way
    assert(dvs.head.recordCount == 10L,
      s"DV must merge the v2 parquet positions: ${dvs.head.recordCount}")
    assert(spark.sql("SELECT count(*), min(k), max(k) FROM dv2.db.t").head() ==
      org.apache.spark.sql.Row(30L, 5L, 34L))
  }

  test("v3 MOR UPDATE lands DVs through the delta route; merge and supersede hold") {
    val wh = freshCatalog("dv5")
    spark.sql("CREATE TABLE dv5.db.t (k BIGINT, v STRING) TBLPROPERTIES (" +
      "'format-version'='3', 'write.update.mode'='merge-on-read', " +
      "'write.merge.mode'='merge-on-read', 'commit-timestamp-ms'='1700000000000')")
    spark.sql("INSERT INTO dv5.db.t " +
      "SELECT /*+ REPARTITION(1) */ id, concat('v', id) FROM range(0, 60)")
    val dir = s"$wh/db/t"
    val originalFiles = {
      val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
      meta.currentSnapshot.toSeq
        .flatMap(s => ManifestListReader.read(s.manifestList.get))
        .filter(_.content == 0).flatMap(i => ManifestWriter.read(i.path))
        .filter(e => e.status != 2 && e.content == 0).map(_.filePath).toSet
    }
    // non-filter-expressible predicate -> the row-level DELTA route
    spark.sql("UPDATE dv5.db.t SET v = 'updated' WHERE k % 10 = 0")
    val dels1 = liveDeleteEntries(dir)
    assert(dels1.nonEmpty && dels1.forall(_.fileFormat == "PUFFIN"),
      s"v3 delta UPDATE must land DVs, got ${dels1.map(e => (e.fileFormat, e.filePath))}")
    assert(dels1.map(_.recordCount).sum == 6L) // k = 0,10,20,30,40,50
    assert(spark.sql("SELECT count(*) FROM dv5.db.t WHERE v = 'updated'")
      .head().getLong(0) == 6L)
    assert(spark.sql("SELECT count(*) FROM dv5.db.t").head().getLong(0) == 60L)
    // no stray task-written position-delete parquet remains on disk
    val strays = new java.io.File(s"$dir/data").listFiles()
      .filter(f => f.getName.contains("delete") && f.getName.endsWith(".parquet"))
    assert(strays.isEmpty, strays.map(_.getName).mkString(","))
    // a second UPDATE hitting the SAME original file merges: still one
    // DV per file, its bitmap the union of both updates' positions
    spark.sql("UPDATE dv5.db.t SET v = 'updated2' WHERE k % 10 = 5")
    val dels2 = liveDeleteEntries(dir)
    assert(dels2.groupBy(_.referencedDataFile.get).values.forall(_.size == 1),
      dels2.map(e => (e.referencedDataFile, e.filePath)).mkString(";"))
    val origDv = dels2.filter(_.referencedDataFile.exists(originalFiles))
    assert(origDv.map(_.recordCount).sum == 12L,
      s"the original file's DV must merge both updates: ${origDv.map(_.recordCount)}")
    assert(spark.sql("SELECT count(*) FROM dv5.db.t").head().getLong(0) == 60L)
    assert(spark.sql("SELECT count(*) FROM dv5.db.t WHERE v = 'updated'")
      .head().getLong(0) == 6L)
    assert(spark.sql("SELECT k FROM dv5.db.t WHERE v = 'updated2' ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(5L, 15L, 25L, 35L, 45L, 55L))
  }

  test("maintenance over DVs: compaction materializes them away, expiry reclaims the puffins") {
    val wh = freshCatalog("dv6")
    spark.sql("CREATE TABLE dv6.db.t (k BIGINT, v STRING) TBLPROPERTIES (" +
      "'format-version'='3', 'commit-timestamp-ms'='1700000000000')")
    spark.sql("INSERT INTO dv6.db.t " +
      "SELECT /*+ REPARTITION(1) */ id, concat('v', id) FROM range(0, 30)")
    val dir = s"$wh/db/t"
    spark.sql("DELETE FROM dv6.db.t WHERE k < 7")
    assert(liveDeleteEntries(dir).exists(_.fileFormat == "PUFFIN"))
    def puffins(): Seq[String] = new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.endsWith(".puffin")).map(_.getName).toSeq
    assert(puffins().nonEmpty)
    // compaction folds the DV into the rewritten file and drops the
    // delete side entirely
    spark.sql("CALL dv6.system.rewrite_data_files(table => 'db.t')")
    assert(liveDeleteEntries(dir).isEmpty,
      liveDeleteEntries(dir).map(_.filePath).mkString(","))
    assert(spark.sql("SELECT count(*), min(k) FROM dv6.db.t").head() ==
      org.apache.spark.sql.Row(23L, 7L))
    // expiry drops the pre-compaction snapshots; the puffin files are
    // then unreachable and physically reclaim
    spark.sql("CALL dv6.system.expire_snapshots(table => 'db.t', retain_last => 1)")
    assert(puffins().isEmpty, puffins().mkString(","))
    assert(spark.sql("SELECT count(*) FROM dv6.db.t").head().getLong(0) == 23L)
  }

  test("orphan sweep reclaims abandoned DV puffins; dry_run only lists") {
    val wh = freshCatalog("dv7")
    spark.sql("CREATE TABLE dv7.db.t (k BIGINT) TBLPROPERTIES (" +
      "'format-version'='3', 'commit-timestamp-ms'='1700000000000')")
    spark.sql("INSERT INTO dv7.db.t SELECT id FROM range(0, 10)")
    spark.sql("DELETE FROM dv7.db.t WHERE k < 3")
    val dir = s"$wh/db/t"
    // simulate a crashed DV write: an uncommitted puffin in data/
    val stray = s"$dir/data/dv-crashed-attempt-0.puffin"
    DeletionVectors.writeDvFile(stray, 99L, Seq(("nowhere.parquet", Array(1L))))
    assert(new java.io.File(stray).exists())
    // dry_run reports it without touching anything
    val dry = spark.sql("CALL dv7.system.remove_orphan_files(" +
      "table => 'db.t', dry_run => true)").head().getInt(0)
    assert(dry == 1, s"dry run must count the stray puffin: $dry")
    assert(new java.io.File(stray).exists(), "dry run must not delete")
    // the real sweep reclaims the stray and spares the COMMITTED DV
    spark.sql("CALL dv7.system.remove_orphan_files(table => 'db.t')")
    assert(!new java.io.File(stray).exists(), "stray puffin must reclaim")
    assert(spark.sql("SELECT count(*), min(k) FROM dv7.db.t").head() ==
      org.apache.spark.sql.Row(7L, 3L), "the live DV must survive the sweep")
  }

  test("DELETE matching nothing on v3 is a metadata no-op") {
    val wh = freshCatalog("dv3")
    spark.sql("CREATE TABLE dv3.db.t (k BIGINT) " +
      "TBLPROPERTIES ('format-version'='3', 'commit-timestamp-ms'='1700000000000')")
    spark.sql("INSERT INTO dv3.db.t SELECT id FROM range(0, 10)")
    val dir = s"$wh/db/t"
    val before = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
      .snapshots.size
    spark.sql("DELETE FROM dv3.db.t WHERE k > 100")
    val after = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
      .snapshots.size
    assert(before == after, "empty DELETE must not commit a snapshot")
    assert(spark.sql("SELECT count(*) FROM dv3.db.t").head().getLong(0) == 10L)
  }

  test("format-version downgrade refuses; CREATE with format-version 3 works") {
    val wh = freshCatalog("dv4")
    spark.sql("CREATE TABLE dv4.db.t (k BIGINT) " +
      "TBLPROPERTIES ('format-version'='3', 'commit-timestamp-ms'='1700000000000')")
    val dir = s"$wh/db/t"
    assert(TableMetadata.parseFile(GraftTable.latestMetadataPath(dir)).formatVersion == 3)
    val e = intercept[Exception](
      spark.sql("ALTER TABLE dv4.db.t SET TBLPROPERTIES ('format-version'='2')"))
    assert(e.getMessage != null)
  }

  test("blob codec refuses corruption") {
    val (body, card) = DeletionVectors.encodeBlob(Array(1L, 5L, 9L))
    assert(card == 3L)
    assert(DeletionVectors.decodeBlob(body).toArray.toSeq == Seq(1L, 5L, 9L))
    // flip a bit inside the vector: CRC must catch it
    val tampered = body.clone()
    tampered(10) = (tampered(10) ^ 0x40).toByte
    intercept[IllegalArgumentException](DeletionVectors.decodeBlob(tampered))
    // bad magic
    val badMagic = body.clone()
    badMagic(4) = 0x00
    intercept[IllegalArgumentException](DeletionVectors.decodeBlob(badMagic))
    // bad length prefix
    val badLen = body.clone()
    badLen(3) = (badLen(3) + 1).toByte
    intercept[IllegalArgumentException](DeletionVectors.decodeBlob(badLen))
  }

  test("a catalog RENAME across namespaces keeps a v3 table's deletion vectors") {
    val wh = freshCatalog("dvren")
    spark.sql("CREATE NAMESPACE dvren.db1")
    spark.sql("CREATE NAMESPACE dvren.db2")
    spark.sql("CREATE TABLE dvren.db1.t (k BIGINT, v STRING)")
    spark.sql("INSERT INTO dvren.db1.t " +
      "SELECT /*+ REPARTITION(1) */ id, concat('v', id) FROM range(0, 40)")
    // a v2 parquet position delete, then a v3 deletion vector
    spark.sql("DELETE FROM dvren.db1.t WHERE k < 5")
    spark.sql("ALTER TABLE dvren.db1.t SET TBLPROPERTIES ('format-version'='3')")
    spark.sql("DELETE FROM dvren.db1.t WHERE k >= 35")
    val before = spark.sql("SELECT k FROM dvren.db1.t").collect().map(_.getLong(0)).sorted
    assert(before.toSeq == (5L until 35L))
    spark.sql("ALTER TABLE dvren.db1.t RENAME TO db2.t2")
    val dir = s"$wh/db2/t2"
    val after = spark.sql("SELECT k FROM dvren.db2.t2").collect().map(_.getLong(0)).sorted
    assert(after.toSeq == before.toSeq)
    // the pre-DV snapshot reads through the rewritten parquet delete
    assert(spark.sql("SELECT count(*) FROM dvren.db2.t2 VERSION AS OF 2")
      .head().getLong(0) == 35L)
    val dvs = liveDeleteEntries(dir).filter(_.fileFormat == "PUFFIN")
    assert(dvs.nonEmpty)
    dvs.foreach { e =>
      assert(e.filePath.startsWith(dir) && e.referencedDataFile.exists(_.startsWith(dir)), e)
    }
  }
}
