package graft.sources

import graft.SparkSpec
import graft.iceberg._

/** A position delete records the data file's path exactly as the manifest
  * spells it (Iceberg's rule for `file_path`), not as Spark's
  * `_metadata.file_path` URL (`file:/…/a%20b%25c/…`). Under a directory
  * whose name holds a space and a `%`, the URL spelling matches no data
  * file at read time and the deleted rows stay live. */
class DeleteSpellingSpec extends SparkSpec {

  private def catalogUnderOddName(name: String): String = {
    val wh = java.nio.file.Files.createTempDirectory(s"graft-$name").toString + "/a b%c"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(wh))
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    wh
  }

  private def liveEntries(dir: String, content: Int): Seq[ManifestWriter.EntryData] =
    TableMetadata.parseFile(GraftTable.latestMetadataPath(dir)).currentSnapshot.toSeq
      .flatMap(s => ManifestListReader.read(s.manifestList.get))
      .filter(_.content == (if (content == 0) 0 else 1))
      .flatMap(i => ManifestWriter.read(i.path))
      .filter(e => e.status != 2 && e.content == content)

  Seq(2, 3).foreach { v =>
    test(s"v$v SQL DELETE under a directory named 'a b%c' removes its rows") {
      val cat = s"delspell$v"
      val wh = catalogUnderOddName(cat)
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) " +
        s"TBLPROPERTIES ('format-version'='$v')")
      spark.sql(s"INSERT INTO $cat.db.t SELECT id, concat('v', id) FROM range(0, 40)")
      spark.sql(s"INSERT INTO $cat.db.t SELECT id, concat('v', id) FROM range(40, 80)")
      spark.sql(s"DELETE FROM $cat.db.t WHERE k BETWEEN 30 AND 49")
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0) == 60)
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t WHERE k BETWEEN 30 AND 49")
        .head().getLong(0) == 0)
      val dir = s"$wh/db/t"
      val dataPaths = liveEntries(dir, 0).map(_.filePath).toSet
      assert(dataPaths.nonEmpty && dataPaths.forall(_.contains("/a b%c/")), dataPaths)
      val deletes = liveEntries(dir, 1)
      val recorded =
        if (v == 2) deletes.flatMap(d => spark.read.parquet(d.filePath)
          .select("file_path").collect().map(_.getString(0))).toSet
        else deletes.flatMap(_.referencedDataFile).toSet
      assert(recorded.nonEmpty && recorded.subsetOf(dataPaths),
        s"delete rows name $recorded, manifests $dataPaths")
    }
  }
}
