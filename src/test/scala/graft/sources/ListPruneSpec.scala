package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources

import graft.SparkSpec
import graft.iceberg._
import graft.iceberg.IcebergTypes.TInt

/** Two-level pruning in the DSv2 planner: the `manifest-list` option
  * resolves the manifest set and its field-507 partition summaries, and
  * pushed bound filters drop non-matching manifests at the LIST level —
  * proven by corrupting the pruned manifests on disk: the scan can only
  * succeed if it never opens them. */
class ListPruneSpec extends SparkSpec {

  test("ListPruneEval: existential satisfiability over summary aggregates") {
    val b = Map[String, Any]("lower_k" -> 3, "upper_k" -> 7)
    // exact directions
    assert(ListPruneEval.sat(sources.LessThanOrEqual("lower_k", 2), b) == Some(false))
    assert(ListPruneEval.sat(sources.LessThanOrEqual("lower_k", 3), b) == Some(true))
    assert(ListPruneEval.sat(sources.GreaterThanOrEqual("upper_k", 8), b) == Some(false))
    assert(ListPruneEval.sat(sources.GreaterThanOrEqual("upper_k", 7), b) == Some(true))
    // one-sided directions can prove satisfiable, never empty
    assert(ListPruneEval.sat(sources.GreaterThanOrEqual("lower_k", 99), b).isEmpty)
    assert(ListPruneEval.sat(sources.GreaterThanOrEqual("lower_k", 1), b) == Some(true))
    assert(ListPruneEval.sat(sources.LessThanOrEqual("upper_k", 0), b).isEmpty)
    // equality: impossible beyond the aggregate, provable at it
    assert(ListPruneEval.sat(sources.EqualTo("lower_k", 1), b) == Some(false))
    assert(ListPruneEval.sat(sources.EqualTo("lower_k", 3), b) == Some(true))
    assert(ListPruneEval.sat(sources.EqualTo("upper_k", 9), b) == Some(false))
    // And must not conjoin existential trues into a skip-relevant answer
    val t1 = sources.LessThanOrEqual("lower_k", 5)
    val t2 = sources.GreaterThanOrEqual("upper_k", 5)
    assert(ListPruneEval.sat(sources.And(t1, t2), b).isEmpty)
    assert(ListPruneEval.sat(
      sources.And(t1, sources.LessThanOrEqual("lower_k", 2)), b) == Some(false))
    // Or is exactly decidable from the two sides
    assert(ListPruneEval.sat(sources.Or(
      sources.LessThanOrEqual("lower_k", 2),
      sources.GreaterThanOrEqual("upper_k", 8)), b) == Some(false))
    assert(ListPruneEval.sat(sources.Or(
      sources.LessThanOrEqual("lower_k", 2), t2), b) == Some(true))
    // skippable: conjunctive top level, any definite-false filter skips
    assert(ListPruneEval.skippable(Array(t1, sources.GreaterThanOrEqual("upper_k", 8)), b))
    assert(!ListPruneEval.skippable(Array(t1, t2), b))
    assert(!ListPruneEval.skippable(Array(t1), Map.empty)) // no summary -> never skip
  }

  test("transformValue converts equality predicates into transform space") {
    import graft.iceberg.ScanPlanning.transformValue
    import graft.iceberg.IcebergTypes.{TDate, TLong, TString}
    assert(transformValue("identity", TInt, 7) == Some((TInt, 7)))
    assert(transformValue("bucket[4]", TInt, 17) ==
      Some((TInt, PartitionTransforms.bucketLong(17L, 4))))
    assert(transformValue("bucket[8]", TString, "abc") ==
      Some((TInt, PartitionTransforms.bucketString("abc", 8))))
    assert(transformValue("truncate[10]", TLong, -1L) == Some((TLong, -10L)))
    assert(transformValue("truncate[3]", TString, "iceberg") == Some((TString, "ice")))
    assert(transformValue("year", TDate, 400) == Some((TInt, 1)))
    assert(transformValue("void", TInt, 7).isEmpty) // unknown -> unprunable
  }

  test("i37: bucket-transform pruning opens 1 of 4 manifests for a key predicate") {
    val row = graft.operators.LakehouseMaint.transformPrunedScan(spark, sfDir).head()
    assert(row.getAs[Int]("n_manifests_total") == 4)
    assert(row.getAs[Int]("n_manifests_opened") == 1)
    assert(row.getAs[Long]("n_rows") == 1L)
    assert(row.getAs[Long]("sum_key") == 17L)
  }

  test("manifest-list summaries prune manifests without opening them (corrupted proof)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-listprune").toString
    import spark.implicits._
    val manifests = (0 until 5).map { r =>
      val f = s"$dir/data/r$r.parquet"
      ParquetFiles.writeOne((r * 10 until r * 10 + 5).toDF("k"), f)
      val m = s"$dir/m-$r.avro"
      ManifestWriter.write(m, Seq(ManifestWriter.EntryData(1, 1L, f, 5,
        HadoopConfs.length(f),
        Map(1 -> SingleValueCodec.encode(TInt, r)),
        Map(1 -> SingleValueCodec.encode(TInt, r)))))
      m -> ManifestListWriter.FieldSummary(containsNull = false,
        SingleValueCodec.encode(TInt, r), SingleValueCodec.encode(TInt, r))
    }
    val list = s"$dir/snap-1-list.avro"
    ManifestListWriter.write(list, manifests.map(_._1), 1L,
      summaries = manifests.map { case (m, s) => m -> Seq(s) }.toMap)
    val metaPath = s"$dir/v1.metadata.json"
    MetadataWriter.write(metaPath, TableMetadata(
      formatVersion = 2, tableUuid = "b6b9a6a1-0000-4000-8000-00000000lp01",
      location = dir, lastUpdatedMs = 1700000000000L,
      topLevelSchema = None, currentSchemaId = Some(0),
      schemas = Seq(IcebergSchema(0, Seq(IcebergField(1, "k", required = false, "int")))),
      partitionSpecs = Seq(PartitionSpec(0,
        Seq(PartitionField("k", "identity", 1, 1000)))),
      defaultSpecId = 0, sortOrders = Seq(SortOrder(0, Nil)), defaultSortOrderId = 0,
      properties = Map.empty, currentSnapshotId = None, refs = Nil,
      snapshots = Nil, snapshotLog = Nil, metadataLog = Nil))

    // destroy every manifest the summaries should prune: if the planner
    // opened ANY of them, the scan would throw on the corrupt container
    (1 until 5).foreach { r =>
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/m-$r.avro"),
        "not an avro container".getBytes)
    }

    val survivors = spark.read.format("graft-manifest")
      .option("metadata", metaPath)
      .option("manifest-list", list)
      .load()
      .filter(col("lower_k") <= 0 && col("upper_k") >= 0)
      .select(col("data_file.file_path"))
    assert(survivors.rdd.getNumPartitions == 1,
      "list-level pruning must leave exactly the matching manifest")
    assert(survivors.collect().map(_.getString(0)).toSeq == Seq(s"$dir/data/r0.parquet"))
  }
}
