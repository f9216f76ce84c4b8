package graft.operators

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.iceberg.{ManifestListWriter, ManifestReader, ManifestWriter, MetadataTables, ScanPlanning, TableMetadata}

/** Iceberg-metadata analytics queries over the repo-owned golden fixture
  * pair (src/main/resources/graft/fixtures, FIXTURES.md §1-2): a v1
  * metadata document and the manifest it lists. DuckDB cannot read Avro
  * manifests, so GoldenOracles pins each entry's full expected rows, and
  * the ScalaTest suite asserts the decoded ground truth (status,
  * snapshot_id, bound values) from FIXTURES.md.
  */
object IcebergQueries {

  /** The golden fixture `name` as a plain absolute local file path (callers
    * stat and open it as a file). A resource packed in a jar — sbt's
    * `run`/`runMain` put the main classes and resources on the classpath as
    * one — is copied, under its own name, into a per-process scratch
    * directory. Fails, naming the resource, when it is not on the classpath
    * or is neither a file nor a jar entry. */
  private[graft] def fixturePath(name: String,
      loader: ClassLoader = getClass.getClassLoader): String = {
    val resource = s"graft/fixtures/$name"
    val url = Option(loader.getResource(resource)).getOrElse(
      throw new IllegalStateException(s"golden fixture $resource is not on the classpath"))
    url.getProtocol match {
      case "file" => new java.io.File(url.toURI).getAbsolutePath
      case "jar" =>
        val out = Files.createDirectories(Paths.get(sys.props("java.io.tmpdir"),
          s"graft-fixtures-${graft.Scratch.procToken}")).resolve(name)
        val in = url.openStream()
        try Files.copy(in, out, StandardCopyOption.REPLACE_EXISTING)
        finally in.close()
        out.toAbsolutePath.toString
      case _ =>
        throw new IllegalStateException(s"golden fixture $resource is not a local file: $url")
    }
  }

  lazy val FixtureManifest: String = fixturePath("1702989a-f66f-423a-aaf1-a01b9a699685-m0.avro")
  lazy val FixtureMetadata: String = fixturePath("v1.metadata.json")

  private def meta: TableMetadata = TableMetadata.parseFile(FixtureMetadata)

  type Q = (SparkSession, String) => DataFrame

  /** The files metadata table with decoded bound statistics — the engine's
    * equivalent of the reference's `manifest2json` output. */
  val i01ManifestFiles: Q = (spark, _) =>
    MetadataTables.files(spark, meta, Seq(FixtureManifest))
      .select(col("status"), col("snapshot_id"), col("file_path"),
        col("file_format"), col("partition.data").as("partition_data"),
        col("record_count"), col("file_size_in_bytes"),
        col("lower_bounds").getItem(1).as("lower_id"),
        col("lower_bounds").getItem(2).as("lower_data"),
        col("upper_bounds").getItem(1).as("upper_id"),
        col("upper_bounds").getItem(2).as("upper_data"))
      .orderBy(col("file_path"))

  /** Snapshots metadata table (flattened summary counters). */
  val i02Snapshots: Q = (spark, _) =>
    MetadataTables.snapshots(spark, meta)
      .select(col("snapshot_id"), col("committed_at_ms"), col("operation"),
        element_at(col("summary"), "added-data-files").cast("long").as("added_data_files"),
        element_at(col("summary"), "added-records").cast("long").as("added_records"),
        element_at(col("summary"), "total-files-size").cast("long").as("total_files_size"))
      .orderBy(col("snapshot_id"))

  /** Stats-based file pruning through the DSv2 route: predicate id >= 2
    * keeps only the data file whose upper bound reaches 2 (FIXTURES.md:
    * file 2). `option("metadata", …)` grows typed virtual stat columns
    * (`upper_id` here) and the filter pushes into the source
    * (`SupportsPushDownFilters`): rows are skipped at Avro-decode time and
    * all-pruned manifests produce no InputPartition at all — the isNull arm
    * keeps stats-less files, pruning must be conservative. A graft-table
    * scan applies the same entry-bound rule in its planning pass
    * (`GraftTableScan.plan`, level 2). */
  val i03PrunedScan: Q = (spark, _) =>
    spark.read.format("graft-manifest")
      .option("metadata", FixtureMetadata)
      .load(FixtureManifest)
      .filter(col("upper_id") >= 2 || col("upper_id").isNull)
      .select(col("data_file.file_path").as("file_path"),
        col("data_file.record_count").as("record_count"))
      .orderBy(col("file_path"))

  /** Per-partition file rollup. */
  val i04Partitions: Q = (spark, _) =>
    MetadataTables.partitions(spark, meta, Seq(FixtureManifest))
      .select(col("partition.data").as("partition_data"), col("file_count"),
        col("record_count"), col("total_size_in_bytes"))
      .orderBy(col("partition_data"))

  /** Schema + partition-spec + refs joined into one lineage view. */
  val i05SchemaLineage: Q = (spark, _) => {
    val fields = MetadataTables.schemaFields(spark, meta)
    val specs = MetadataTables.partitionSpecs(spark, meta)
      .select(col("source_id"), col("transform"))
    fields.join(specs, fields("field_id") === specs("source_id"), "left")
      .select(col("schema_id"), col("field_id"), col("name"), col("required"),
        col("type"), coalesce(col("transform"), lit("none")).as("partition_transform"))
      .orderBy(col("schema_id"), col("field_id"))
  }

  /** The DataSource V2 route: `format("graft-manifest")` — Catalyst plans
    * the scan, one partition per manifest, column pruning pushed into the
    * Avro decode as a reader-schema projection. */
  val i06Dsv2Scan: Q = (spark, _) =>
    spark.read.format("graft-manifest").load(FixtureManifest)
      .select(col("status"), col("snapshot_id"),
        col("data_file.file_path").as("file_path"),
        col("data_file.record_count").as("record_count"))
      .orderBy(col("file_path"))

  /** Metadata document through the JSON source (multiLine — the document
    * is one object): snapshot summaries as a DataFrame. Rows-only gate
    * (the oracle tables don't include the metadata document). */
  val i07JsonMetadata: Q = (spark, _) =>
    spark.read.option("multiLine", "true").json(FixtureMetadata)
      .select(explode(col("snapshots")).as("s"))
      .select(col("s.snapshot-id").as("snapshot_id"),
        col("s.timestamp-ms").as("timestamp_ms"),
        col("s.summary.operation").as("operation"),
        col("s.summary.added-records").cast("long").as("added_records"))
      .orderBy(col("snapshot_id"))

  /** Time travel: `snapshotAsOf(ts)` over the snapshot-log, then the full
    * two-level planning chain snapshot → manifest-list → manifests → files
    * with decoded bounds. The fixture's recorded manifest-list path is a
    * dead /tmp location from the reference's own test run, so the entry
    * first (re)writes that KB-sized list container from the metadata —
    * deterministic content, same rows every run. */
  val i08TimeTravel: Q = (spark, _) => {
    val m = meta
    val snap = m.snapshotAsOf(1647666383113L).getOrElse(
      throw new IllegalStateException("fixture snapshot-log empty"))
    // per-process dir: concurrent graft sessions must not truncate a list
    // file another session's tasks are mid-read on
    val dir = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft-i08-${graft.Scratch.procToken}"))
    val listPath = s"$dir/snap-${snap.snapshotId}.avro"
    ManifestListWriter.write(listPath, Seq(FixtureManifest), snap.snapshotId)
    MetadataTables.filesForSnapshot(spark, m, snap.copy(manifestList = Some(listPath)))
      .select(col("status"), col("snapshot_id"), col("file_path"),
        col("record_count"),
        col("lower_bounds").getItem(1).as("lower_id"),
        col("upper_bounds").getItem(1).as("upper_id"))
      .orderBy(col("file_path"))
  }

  /** The history metadata table (snapshot-log with is-current flags) —
    * Iceberg's `table$history` surface. */
  val i09History: Q = (spark, _) =>
    MetadataTables.history(spark, meta)
      .orderBy(col("made_current_at_ms"))

  /** The readable-metrics surface: typed lower/upper stat columns decoded
    * straight off the DSv2 scan (`option("metadata", …)` grows
    * lower_/upper_<col> virtual columns; see ManifestDataSource). What
    * i01 renders as display strings, this exposes as TYPED values a
    * filter can push down on. */
  val i10ReadableMetrics: Q = (spark, _) =>
    spark.read.format("graft-manifest")
      .option("metadata", FixtureMetadata)
      .load(FixtureManifest)
      .select(col("data_file.file_path").as("file_path"),
        col("lower_id"), col("upper_id"), col("lower_data"), col("upper_data"))
      .orderBy(col("file_path"))

  /** Per-column data-quality stats across the table's files: explode the
    * value_counts / null_value_counts maps, roll up per field id, emit the
    * null fraction — the column-health report Iceberg surfaces as part of
    * readable_metrics, computed as plain map-explode analytics over the
    * distributed manifest scan. */
  val i11NullStats: Q = (spark, _) => {
    val files = MetadataTables.files(spark, meta, Seq(FixtureManifest))
    val vals = files.select(explode(col("value_counts")).as(Seq("field_id", "n_values")))
    val nulls = files.select(explode(col("null_value_counts")).as(Seq("field_id", "n_nulls")))
    val v = vals.groupBy(col("field_id")).agg(sum(col("n_values")).as("n_values"))
    val n = nulls.groupBy(col("field_id")).agg(sum(col("n_nulls")).as("n_nulls"))
    v.join(n, Seq("field_id"), "left_outer")
      .select(col("field_id"), col("n_values"),
        coalesce(col("n_nulls"), lit(0L)).as("n_nulls"),
        (coalesce(col("n_nulls"), lit(0L)).cast("double") /
          col("n_values").cast("double")).as("null_fraction"))
      .orderBy(col("field_id"))
  }

  /** Write/read roundtrip: decode the fixture manifest, re-encode its
    * entries (binary bound blobs pass through SingleValueCodec's wire
    * format) into a NEW manifest via ManifestWriter, then run the files
    * metadata table over the rewritten container — output must equal the
    * original fixture's decode, proving the sink and the scan are exact
    * inverses. The 2-entry collect is metadata-scale (same boundary as
    * Iceberg's own manifest rewrite). */
  val i12RoundTrip: Q = (spark, _) => {
    val src = ManifestReader.entries(spark, Seq(FixtureManifest))
      .select(col("status"), col("snapshot_id"),
        col("data_file.file_path"), col("data_file.record_count"),
        col("data_file.file_size_in_bytes"),
        col("data_file.lower_bounds"), col("data_file.upper_bounds"))
      .collect()
    val entries = src.map { r =>
      ManifestWriter.EntryData(
        r.getAs[Int]("status"), r.getAs[Long]("snapshot_id"),
        r.getAs[String]("file_path"), r.getAs[Long]("record_count"),
        r.getAs[Long]("file_size_in_bytes"),
        r.getAs[Map[Int, Array[Byte]]]("lower_bounds"),
        r.getAs[Map[Int, Array[Byte]]]("upper_bounds"))
    }.toSeq
    val dir = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft-i12-${graft.Scratch.procToken}"))
    val path = s"$dir/rewritten.avro"
    ManifestWriter.write(path, entries)
    graft.functions.BoundDecode.withDecodedBounds(
      ManifestReader.entries(spark, Seq(path)), meta.fieldTypes)
      .select(col("status"), col("snapshot_id"),
        col("data_file.file_path").as("file_path"),
        col("data_file.record_count").as("record_count"),
        col("data_file.file_size_in_bytes").as("file_size_in_bytes"),
        col("data_file.lower_bounds").getItem(1).as("lower_id"),
        col("data_file.upper_bounds").getItem(2).as("upper_data"))
      .orderBy(col("file_path"))
  }

  val queries: Map[String, Q] = Map(
    "i12_roundtrip" -> i12RoundTrip,
    "i11_null_stats" -> i11NullStats,
    "i10_readable_metrics" -> i10ReadableMetrics,
    "i09_history" -> i09History,
    "i08_time_travel" -> i08TimeTravel,
    "i06_dsv2_scan" -> i06Dsv2Scan,
    "i07_json_metadata" -> i07JsonMetadata,
    "i01_manifest_files" -> i01ManifestFiles,
    "i02_snapshots" -> i02Snapshots,
    "i03_pruned_scan" -> i03PrunedScan,
    "i04_partitions" -> i04Partitions,
    "i05_schema_lineage" -> i05SchemaLineage)
}
