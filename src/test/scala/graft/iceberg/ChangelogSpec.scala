package graft.iceberg

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** The CDC changelog contract: replaying the changelog — per ordinal,
  * add the inserts and remove the deletes — reproduces every snapshot
  * state on the consumed ancestry. Covers appends, MOR position-delete
  * DML, equality-delete upserts, COW overwrites (tombstoned files emit
  * delete+insert pairs), and `replace` invisibility (compaction emits
  * nothing). */
class ChangelogSpec extends SparkSpec {

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
    df.select("k", "name", "r").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("changelog replay reproduces every snapshot state; replace emits nothing") {
    val wh = java.nio.file.Files.createTempDirectory("graft-changelog").toString
    spark.conf.set("spark.sql.catalog.gcl", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcl.warehouse", wh)
    Tables.load(spark, sfDir, "nation").createOrReplaceTempView("gcl_nation")
    spark.sql("CREATE TABLE gcl.db.t (k BIGINT, name STRING, r BIGINT)")
    // s1, s2: two appends
    spark.sql("""INSERT INTO gcl.db.t
      SELECT n_nationkey, n_name, n_regionkey FROM gcl_nation WHERE n_nationkey < 10""")
    spark.sql("""INSERT INTO gcl.db.t
      SELECT n_nationkey, n_name, n_regionkey FROM gcl_nation WHERE n_nationkey >= 10""")
    // s3: MOR position-delete DML
    spark.sql("DELETE FROM gcl.db.t WHERE k = 2 OR k = 12")
    // s4: equality-delete upsert (update k=5, insert k=100)
    val dir = s"$wh/db/t"
    import spark.implicits._
    GraftTable.upsert(spark, dir,
      Seq((5L, "UPSERTED", 9L), (100L, "NEW ROW", 9L)).toDF("k", "name", "r"),
      Seq("k"))
    // s5: COW overwrite (UPDATE rewrites the files containing k=7)
    spark.sql("UPDATE gcl.db.t SET name = 'REWRITTEN' WHERE k = 7")
    // s6: compaction — a replace snapshot, logically invisible
    spark.sql("CALL gcl.system.rewrite_data_files(table => 'db.t')")

    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val chain = {
      val b = scala.collection.mutable.ArrayBuffer.empty[Snapshot]
      var cur = meta.currentSnapshot
      while (cur.isDefined) { b += cur.get; cur = cur.get.parentSnapshotId.flatMap(meta.snapshot) }
      b.reverse.toSeq
    }
    assert(chain.size == 6)
    assert(chain.last.operation.contains("replace"))

    val log = GraftTable.changelog(spark, dir).cache()
    try {
      // the replace snapshot contributes nothing
      assert(log.filter(col("_commit_snapshot_id") === chain.last.snapshotId).count() == 0)
      // ordinals are the chain positions of the emitting snapshots
      val byOrdinal = log.select("_change_ordinal", "_commit_snapshot_id").distinct()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      byOrdinal.foreach { case (o, sid) => assert(chain(o).snapshotId == sid) }

      // replay: state after ordinal k == the table read at that snapshot
      var state = Set.empty[(Long, String, Long)]
      chain.zipWithIndex.foreach { case (s, o) =>
        val ins = rowsOf(log.filter(col("_change_ordinal") === o &&
          col("_change_type") === "insert"))
        val del = rowsOf(log.filter(col("_change_ordinal") === o &&
          col("_change_type") === "delete"))
        assert((del -- state).isEmpty,
          s"ordinal $o deletes rows that were not visible: ${del -- state}")
        state = state -- del ++ ins
        val snapState = rowsOf(GraftTable.read(spark,
          GraftTable.latestMetadataPath(dir), snapshotId = Some(s.snapshotId)))
        assert(state == snapState, s"replay diverged at ordinal $o (${s.operation})")
      }
      // the COW overwrite really emitted via tombstones: its ordinal has
      // BOTH deletes and inserts, and the updated row appears post-image
      val cowOrd = chain.indexWhere(_.operation.contains("overwrite")) // first overwrite = upsert? guard below
      val updOrd = chain.zipWithIndex.collect {
        case (s, i) if s.operation.contains("overwrite") => i }.last
      assert(cowOrd >= 0 && updOrd >= 0)
      val updIns = rowsOf(log.filter(col("_change_ordinal") === updOrd &&
        col("_change_type") === "insert"))
      assert(updIns.exists(t => t._1 == 7L && t._2 == "REWRITTEN"))
    } finally log.unpersist()

    // range scoping: (s2, s4] covers exactly s3 and s4, re-based ordinals
    val ranged = GraftTable.changelog(spark, dir,
      startSnapshotId = Some(chain(1).snapshotId),
      endSnapshotId = Some(chain(3).snapshotId))
    val ids = ranged.select("_commit_snapshot_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(chain(2).snapshotId, chain(3).snapshotId))
    assert(ranged.select(max("_change_ordinal")).head.getInt(0) == 1)
    // the MOR delete commit emits exactly its two deleted rows
    val delRows = rowsOf(ranged.filter(col("_commit_snapshot_id") === chain(2).snapshotId &&
      col("_change_type") === "delete"))
    assert(delRows.map(_._1) == Set(2L, 12L))
    // the upsert commit: one eq-deleted pre-image, two inserted rows
    val upsDel = rowsOf(ranged.filter(col("_commit_snapshot_id") === chain(3).snapshotId &&
      col("_change_type") === "delete"))
    val upsIns = rowsOf(ranged.filter(col("_commit_snapshot_id") === chain(3).snapshotId &&
      col("_change_type") === "insert"))
    assert(upsDel.map(_._1) == Set(5L) && upsDel.head._2 != "UPSERTED")
    assert(upsIns == Set((5L, "UPSERTED", 9L), (100L, "NEW ROW", 9L)))

    // a start snapshot off the consumed ancestry refuses loudly
    val err = intercept[IllegalArgumentException] {
      GraftTable.changelog(spark, dir, startSnapshotId = Some(999L))
    }
    assert(err.getMessage.contains("not an ancestor"))

    // the SQL procedure registers the view over the same rows
    val view = spark.sql(
      "CALL gcl.system.create_changelog_view(table => 'db.t', changelog_view => 'tchanges')")
      .head.getString(0)
    assert(view == "tchanges")
    assert(spark.table("tchanges").count() == GraftTable.changelog(spark, dir).count())
  }

  test("v3 deletion-vector commits emit their deletes; merged DVs never double-emit") {
    val wh = java.nio.file.Files.createTempDirectory("graft-changelog-dv").toString
    spark.conf.set("spark.sql.catalog.gcldv", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcldv.warehouse", wh)
    spark.sql("CREATE TABLE gcldv.db.t (k BIGINT, v STRING) TBLPROPERTIES (" +
      "'format-version'='3', 'commit-timestamp-ms'='1700000000000')")
    spark.sql("INSERT INTO gcldv.db.t " +
      "SELECT /*+ REPARTITION(1) */ id, concat('v', id) FROM range(0, 20)")
    // two DV DELETEs; the second MERGES the first file's DV — its bitmap
    // re-asserts positions 0..4, which must NOT re-emit as deletes
    spark.sql("DELETE FROM gcldv.db.t WHERE k < 5")
    spark.sql("DELETE FROM gcldv.db.t WHERE k < 9")
    val dir = s"$wh/db/t"
    val log = GraftTable.changelog(spark, dir)
      .select("k", "_change_type", "_change_ordinal").collect()
    val inserts = log.filter(_.getString(1) == "insert").map(_.getLong(0)).toSet
    assert(inserts == (0L until 20L).toSet)
    val delsByOrdinal = log.filter(_.getString(1) == "delete")
      .groupBy(_.getInt(2)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    assert(delsByOrdinal.values.map(_.size).sum == 9,
      s"merged DV must not double-emit: $delsByOrdinal")
    assert(delsByOrdinal.values.reduce(_ ++ _) == (0L until 9L).toSet)
    // per-commit split: first DELETE emits 0..4, second only 5..8
    val ords = delsByOrdinal.keys.toSeq.sorted
    assert(delsByOrdinal(ords.head) == (0L until 5L).toSet, delsByOrdinal.toString)
    assert(delsByOrdinal(ords.last) == (5L until 9L).toSet, delsByOrdinal.toString)
  }

  test("equality deletes written before and after RENAME COLUMN both emit") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-changelog-rn").toString
    spark.conf.set("spark.sql.catalog.gclrn", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gclrn.warehouse", wh)
    spark.sql("CREATE TABLE gclrn.db.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('commit-timestamp-ms'='1700000000000')")
    spark.sql("INSERT INTO gclrn.db.t SELECT id, concat('v', id) FROM range(0, 10)")
    val dir = s"$wh/db/t"
    // an equality delete on the key under its OLD name, then one under
    // the new name: the two delete files carry different physical names
    GraftTable.upsert(spark, dir, Seq((3L, "A")).toDF("k", "v"), Seq("k"))
    spark.sql("ALTER TABLE gclrn.db.t RENAME COLUMN k TO id")
    GraftTable.upsert(spark, dir, Seq((5L, "B")).toDF("id", "v"), Seq("id"))
    val dels = GraftTable.changelog(spark, dir)
      .filter(col("_change_type") === "delete").orderBy("id")
      .select("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(dels == Seq((3L, "v3"), (5L, "v5")), dels.toString)
  }

  /** A catalog table `db.n` (n_nationkey INT, n_name STRING) whose one
    * data file is the nation rows written as `format` and imported with
    * `add_files`; merge-on-read DML. */
  private def importedTable(format: String): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory(s"graft-changelog-$format").toString
    val cat = s"gcl_$format"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.db.n (n_nationkey INT, n_name STRING) TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read', 'commit-timestamp-ms'='1700000000000')")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_nationkey",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("n_name",
        org.apache.spark.sql.types.StringType)))
    val rows = Tables.load(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name")).orderBy("n_nationkey").collect().toSeq
    if (format == "avro") AvroDataFiles.write(s"$wh/src/part-00000.avro", schema, rows)
    else OrcDataFiles.write(s"$wh/src/part-00000.orc", schema, rows)
    spark.sql(s"""CALL $cat.system.add_files(
      table => 'db.n', source_dir => '$wh/src', format => '$format')""")
    (cat, s"$wh/db/n")
  }

  for (format <- Seq("avro", "orc"))
    test(s"a merge-on-read DELETE and an upsert over an add_files $format table emit their deletes") {
      import spark.implicits._
      val (cat, dir) = importedTable(format)
      val names = Tables.load(spark, sfDir, "nation").collect()
        .map(r => r.getAs[Number]("n_nationkey").intValue -> r.getAs[String]("n_name")).toMap
      spark.sql(s"DELETE FROM $cat.db.n WHERE n_nationkey IN (2, 12)")
      val deletes = ManifestListReader.read(TableMetadata.parseFile(
          GraftTable.latestMetadataPath(dir)).currentSnapshot.get.manifestList.get)
        .filter(_.content == 1).flatMap(i => ManifestWriter.read(i.path))
        .filter(e => e.status != 2 && e.content == 1)
      assert(deletes.nonEmpty, "the DELETE wrote no position delete")
      // key 2 is already deleted: its equality delete matches no visible row
      GraftTable.upsert(spark, dir,
        Seq((7, "NEW7"), (2, "NEW2")).toDF("n_nationkey", "n_name"), Seq("n_nationkey"))
      val log = GraftTable.changelog(spark, dir)
        .select("n_nationkey", "n_name", "_change_type", "_change_ordinal").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getInt(3))).toSet
      // ordinal 0 is the add_files commit
      assert(log.filter(_._4 == 0) ==
        names.map { case (k, n) => (k, n, "insert", 0) }.toSet)
      assert(log.filter(_._4 > 0) == Set(
        (2, names(2), "delete", 1), (12, names(12), "delete", 1),
        (7, names(7), "delete", 2), (7, "NEW7", "insert", 2), (2, "NEW2", "insert", 2)),
        log.filter(_._4 > 0))
    }

  test("an equality delete written before ALTER COLUMN k TYPE BIGINT emits its row") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-changelog-widen").toString
    spark.conf.set("spark.sql.catalog.gclw", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gclw.warehouse", wh)
    spark.sql("CREATE TABLE gclw.db.t (k INT, v STRING) " +
      "TBLPROPERTIES ('commit-timestamp-ms'='1700000000000')")
    spark.sql("INSERT INTO gclw.db.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val dir = s"$wh/db/t"
    // the first equality-delete file stores k as INT32
    GraftTable.upsert(spark, dir, Seq((2, "B")).toDF("k", "v"), Seq("k"))
    spark.sql("ALTER TABLE gclw.db.t ALTER COLUMN k TYPE BIGINT")
    spark.sql("INSERT INTO gclw.db.t VALUES (5000000000, 'd')")
    GraftTable.upsert(spark, dir,
      Seq((3L, "C"), (5000000000L, "D")).toDF("k", "v"), Seq("k"))
    val log = GraftTable.changelog(spark, dir)
      .select("k", "v", "_change_type", "_change_ordinal").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))).toSet
    assert(log.filter(_._3 == "delete") ==
      Set((2L, "b", "delete", 1), (3L, "c", "delete", 3), (5000000000L, "d", "delete", 3)),
      log)
  }
}
