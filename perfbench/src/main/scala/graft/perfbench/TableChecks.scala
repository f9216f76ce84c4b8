package graft.perfbench

import java.util.SplittableRandom

import graft.iceberg.{GraftTable, ManifestListReader, ManifestWriter, TableMetadata}

/** Steps both lake workloads take on a graft table: recording its shape,
  * the traced run's decode probe, space amplification, and a checked
  * manifest2json dump. */
object TableChecks {

  /** Table shape facts a traced run reports, tagged `setup` or `end`. */
  def shape(ctx: Ctx, tableDir: String, tag: String): Unit = if (ctx.traced) {
    val s = ctx.probe.head(GraftTable.latestMetadataPath(tableDir))
    ctx.facts.put(s"snapshots_live_$tag", s.snapshots)
    ctx.facts.put(s"manifests_live_$tag", s.manifests)
    ctx.facts.put(s"delete_files_live_$tag", s.deleteFiles)
  }

  private val Agg = Seq("count(*) AS n", "sum(l_quantity)", "sum(l_extendedprice)",
    "sum(l_discount)", "max(l_returnflag)", "max(l_shipdate)")

  /** The same full-decode aggregate through graft-table (deletes applied)
    * and through spark.read.parquet over the live data files, three times
    * each; medians give ns per decoded row and the ratio to native. */
  def decodeProbe(ctx: Ctx, table: String, tableDir: String): Unit = {
    val shape = ctx.probe.head(GraftTable.latestMetadataPath(tableDir))
    def time(df: => org.apache.spark.sql.DataFrame, span: String): (Double, Long) = {
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val n = ctx.tracer.span(span)(df.collect().head.getLong(0))
        ((System.nanoTime() - t0) / 1e6, n)
      }
      (Stats.median(runs.map(_._1)), runs.head._2)
    }
    val (graftMs, liveRows) = time(ctx.spark.table(table).selectExpr(Agg: _*), "sources.decode")
    val (nativeMs, fileRows) = time(
      ctx.spark.read.parquet(shape.liveDataFiles: _*).selectExpr(Agg: _*), "sources.decode_native")
    ctx.facts.put("decode_ns_per_row", graftMs * 1e6 / fileRows)
    ctx.facts.put("decode_over_native", graftMs / nativeMs)
    ctx.facts.put("mor_rows_removed", (fileRows - liveRows).toDouble)
  }

  /** The table's live rows, read through the table format and written
    * once as one parquet file (on first use): the denominator of
    * [[spaceAmp]], and what lake_write's final check reads, so the run
    * scans its merge-on-read table once at the end rather than twice. */
  def liveCopy(ctx: Ctx, table: String): String = {
    val out = s"${ctx.work}/compact"
    if (!new java.io.File(out).exists()) ctx.spark.table(table).coalesce(1).write.parquet(out)
    out
  }

  /** Table bytes on disk over the bytes of its live rows written once. */
  def spaceAmp(ctx: Ctx, table: String, tableDir: String): Double =
    Env.bytesUnder(tableDir).toDouble / Env.bytesUnder(liveCopy(ctx, table))

  final case class Dump(manifest: String, rc: Int, ms: Double, records: Seq[com.fasterxml.jackson.databind.JsonNode])

  /** One of the head's data manifests (seeded pick), with the head's path. */
  def pickManifest(tableDir: String, rnd: SplittableRandom): (String, String) = {
    val head = GraftTable.latestMetadataPath(tableDir)
    val meta = TableMetadata.parseFile(head)
    val infos = ManifestListReader.read(meta.currentSnapshot.get.manifestList.get)
      .filter(_.content == 0)
    (infos(rnd.nextInt(infos.size)).path, head)
  }

  /** Run manifest2json over `manifest` of the table whose head is `head`. */
  def manifestJson(ctx: Ctx, manifest: String, head: String): Dump = {
    val out = new java.io.ByteArrayOutputStream()
    val t0 = System.nanoTime()
    val rc = ctx.tracer.span("cli.manifest2json")(new graft.cli.ManifestToJsonTool().run(ctx.spark,
      System.in, new java.io.PrintStream(out, true, "UTF-8"), System.err, Seq(manifest, head)))
    val ms = (System.nanoTime() - t0) / 1e6
    val d = Dump(manifest, rc, ms, ManifestJson.records(out.toString("UTF-8")))
    if (ctx.probing) ctx.cli.add((ms, d.records.size))
    d
  }

  /** Check a dump against its manifest; `orderkeys` gives a data file's
    * actual (min, max) l_orderkey. */
  def checkDump(d: Dump, rnd: SplittableRandom, orderkeys: String => (Long, Long)): Option[String] =
    if (d.rc != 0) Some(s"manifest2json exited ${d.rc}")
    else ManifestJson.check(d.records, ManifestWriter.read(d.manifest), rnd, orderkeys)

  /** (min, max) l_orderkey of one data file, read through Spark. */
  def orderkeysOf(spark: org.apache.spark.sql.SparkSession)(file: String): (Long, Long) = {
    val r = spark.read.parquet(file).selectExpr("min(l_orderkey)", "max(l_orderkey)").head()
    (r.getLong(0), r.getLong(1))
  }

  /** (min, max) l_orderkey of every live data file of a table's head, in
    * one Spark job, keyed like the manifests' file paths. */
  def orderkeysOfLive(ctx: Ctx, tableDir: String): Map[String, (Long, Long)] = {
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(tableDir))
    val files = ManifestListReader.read(meta.currentSnapshot.get.manifestList.get)
      .flatMap(i => ManifestWriter.read(i.path)).filter(e => e.status != 2 && e.content == 0)
      .map(_.filePath).distinct
    val byUri = files.map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath -> f).toMap
    ctx.spark.read.parquet(files: _*)
      .selectExpr("input_file_name() AS f", "l_orderkey").groupBy("f")
      .agg(org.apache.spark.sql.functions.min("l_orderkey"), org.apache.spark.sql.functions.max("l_orderkey"))
      .collect().map { r =>
        byUri(new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath) -> ((r.getLong(1), r.getLong(2)))
      }.toMap
  }
}
