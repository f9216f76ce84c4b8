package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.iceberg._

/** `rewritePositionDeleteFiles` must be a pure PHYSICAL transformation:
  * the MOR read before and after the rewrite returns identical rows,
  * including the sequence-scoping edge cases — a row appended AFTER an
  * equality delete escapes it (strict lower rule), an upsert's own
  * replacement row survives its same-commit delete, and already-applied
  * position deletes stay applied. */
class RewriteDeleteSpec extends SparkSpec {

  private val T0 = 1700000000000L

  test("rewrite preserves MOR semantics exactly across sequence scopes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-rwdel").toString
    GraftTable.create(dir, IcebergSchema(0, Seq(
      IcebergField(1, "k", required = false, "int"),
      IcebergField(2, "v", required = false, "string"))),
      tableUuid = "b6b9a6a1-0000-4000-8000-0000000000r1", timestampMs = T0)
    // snap 1: base rows
    GraftTable.append(spark, dir,
      Seq((1, "one"), (2, "two"), (3, "three")).toDF("k", "v"))
    // snap 2: row-level delete of k=2 → position-delete file
    GraftTable.deleteWhere(spark, dir, col("k") === 2)
    // snap 3: upsert k=3 → equality delete + replacement AT THE SAME
    // sequence (replacement escapes its own delete: strict lower rule)
    GraftTable.upsert(spark, dir, Seq((3, "THREE")).toDF("k", "v"), Seq("k"))
    // snap 4: late append REUSING deleted key 2 — appended after both
    // deletes, so it must survive them (strictly-lower / lower-or-equal
    // scoping), before AND after the rewrite
    GraftTable.append(spark, dir, Seq((2, "two-again"), (4, "four")).toDF("k", "v"))

    def rows(): Seq[(Int, String)] =
      GraftTable.read(spark, GraftTable.latestMetadataPath(dir))
        .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    val before = rows()
    assert(before == Seq((1, "one"), (2, "two-again"), (3, "THREE"), (4, "four")),
      s"fixture MOR semantics wrong before rewrite: $before")

    val result = GraftTable.rewritePositionDeleteFiles(spark, dir)
    // delete side is now ONE position-delete file
    val delEntries = ManifestListReader
      .read(result.metadata.currentSnapshot.get.manifestList.get)
      .filter(_.content == 1)
      .flatMap(i => ManifestWriter.read(i.path)).filter(_.status != 2)
    assert(delEntries.size == 1 && delEntries.head.content == 1,
      s"expected one position-delete file, got $delEntries")
    // and the logical content is bit-identical — on the native route AND
    // the DSv2 columnar route
    assert(rows() == before, "rewrite changed MOR semantics")
    val dsv2 = spark.read.format("graft-table")
      .option("metadata", GraftTable.latestMetadataPath(dir)).load()
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    assert(dsv2 == before, "DSv2 route diverged after rewrite")
  }

  for (version <- Seq(2, 3))
    test(s"a v$version rewrite keeps a widened key's and a pre-RENAME equality delete's rows") {
      import spark.implicits._
      val wh = java.nio.file.Files.createTempDirectory(s"graft-rwdel-v$version").toString
      val cat = s"grw_v$version"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      spark.sql(s"CREATE TABLE $cat.db.t (k INT, v STRING) TBLPROPERTIES (" +
        s"'format-version'='$version', 'commit-timestamp-ms'='$T0')")
      val dir = s"$wh/db/t"
      spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
      GraftTable.deleteWhere(spark, dir, col("k") === 1)
      // the equality-delete file names the key `k` and stores it as INT32
      GraftTable.upsert(spark, dir, Seq((2, "B")).toDF("k", "v"), Seq("k"))
      spark.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN k TO id")
      spark.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN id TYPE BIGINT")
      spark.sql(s"INSERT INTO $cat.db.t VALUES (5000000000, 'e'), (3, 'c2')")
      GraftTable.upsert(spark, dir, Seq((4L, "D")).toDF("id", "v"), Seq("id"))
      def rows(): Seq[(Long, String)] =
        spark.sql(s"SELECT id, v FROM $cat.db.t").collect()
          .map(r => (r.getLong(0), r.getString(1))).sortBy(r => (r._1, r._2)).toSeq
      val before = rows()
      assert(before == Seq((2L, "B"), (3L, "c"), (3L, "c2"), (4L, "D"),
        (5000000000L, "e")), before)
      GraftTable.rewritePositionDeleteFiles(spark, dir)
      val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
      val deletes = ManifestListReader.read(meta.currentSnapshot.get.manifestList.get)
        .filter(_.content == 1).flatMap(i => ManifestWriter.read(i.path))
        .filter(_.status != 2)
      assert(deletes.nonEmpty && deletes.forall(_.content == 1), deletes.map(_.filePath))
      assert(deletes.forall(e => (e.fileFormat == "PUFFIN") == (version == 3)),
        deletes.map(_.fileFormat))
      assert(rows() == before)
    }
}
