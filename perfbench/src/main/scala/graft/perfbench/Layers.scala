package graft.perfbench

import scala.jdk.CollectionConverters._

/** The per-layer metrics of a traced run. Each is a mean per op (or per
  * call, commit, batch or row, as its name says) over what the run's
  * listeners and layer probes saw; a layer a run never reached reads 0. */
object Layers {
  import Stats.mean

  def metrics(ctx: Ctx, ops: Int, outRows: Long, gcMs: Double, untracedOpsPerS: Double,
      tracedOpsPerS: Double): Seq[(String, Double, String)] = {
    val c = ctx.opCounters
    val both = Seq(ctx.setupCounters, ctx.opCounters)
    val p = ctx.probe
    def q[T](x: java.util.Collection[T]): Seq[T] = x.asScala.toSeq
    val added = p.added.asScala.values.map(_.asScala.values.toSeq).toSeq
    val pruning = q(p.pruning)
    val attempts = q(ctx.casAttempts)
    val maint = q(ctx.maint)
    val cli = q(ctx.cli)
    val batches = both.map(_.batches.get).sum.toDouble
    def perBatch(k: String) = both.map(_.streamTotal(k)).sum / batches
    def fact(k: String) = Option(ctx.facts.get(k)).getOrElse(0.0)
    Seq(
      ("sources.plan_ms", mean(q(p.planMs)), "ms"),
      ("sources.files_planned", mean(pruning.map(_._1.toDouble)), "count"),
      ("sources.files_live", mean(pruning.map(_._2.toDouble)), "count"),
      ("sources.prune_ratio", mean(pruning.map(x => x._1.toDouble / x._2)), "ratio"),
      ("sources.decode_ns_per_row", fact("decode_ns_per_row"), "ns"),
      ("sources.decode_over_native", fact("decode_over_native"), "ratio"),
      ("sources.mor_rows_removed", fact("mor_rows_removed"), "count"),
      ("sources.files_written_per_commit", mean(added.map(_.size.toDouble)), "count"),
      ("sources.bytes_written_per_commit", mean(added.map(_.sum.toDouble)), "B"),
      ("iceberg.metadata_parse_ms", mean(q(p.parseMs)), "ms"),
      ("iceberg.metadata_bytes", mean(q(p.metadataBytes).map(_.toDouble)), "B"),
      ("iceberg.manifest_list_ms", mean(q(p.listMs)), "ms"),
      ("iceberg.manifest_read_ms", mean(q(p.manifestMs)), "ms"),
      ("iceberg.manifests_per_snapshot", mean(q(p.manifestsPerSnapshot).map(_.toDouble)), "count"),
      ("iceberg.cas_attempts_per_commit", mean(attempts.map(_.toDouble)), "count"),
      ("iceberg.cas_conflicts", attempts.map(_ - 1).sum.toDouble, "count"),
      ("iceberg.commit_driver_ms", mean(q(ctx.commitDriverMs)), "ms"),
      ("iceberg.maint_ms", mean(maint.map(_._1)), "ms"),
      ("iceberg.maint_bytes_rewritten", mean(maint.map(_._2.toDouble)), "B"),
      ("iceberg.snapshots_live_setup", fact("snapshots_live_setup"), "count"),
      ("iceberg.snapshots_live_end", fact("snapshots_live_end"), "count"),
      ("iceberg.manifests_live_setup", fact("manifests_live_setup"), "count"),
      ("iceberg.manifests_live_end", fact("manifests_live_end"), "count"),
      ("iceberg.delete_files_live_setup", fact("delete_files_live_setup"), "count"),
      ("iceberg.delete_files_live_end", fact("delete_files_live_end"), "count"),
      ("cli.manifest2json_ms", mean(cli.map(_._1)), "ms"),
      ("cli.records_per_s", cli.map(_._2).sum / (cli.map(_._1).sum / 1000), "1/s"),
      ("catalyst.analysis_ms", c.analysisMs.sum / ops, "ms"),
      ("catalyst.optimization_ms", c.optimizationMs.sum / ops, "ms"),
      ("catalyst.planning_ms", c.planningMs.sum / ops, "ms"),
      ("spark.jobs_per_op", c.jobs.get.toDouble / ops, "count"),
      ("spark.stages_per_op", c.stages.get.toDouble / ops, "count"),
      ("spark.tasks_per_op", c.tasks.get.toDouble / ops, "count"),
      ("spark.executor_cpu_ms", c.cpuNs.get / 1e6 / ops, "ms"),
      ("spark.shuffle_bytes", c.shuffleBytes.get.toDouble / ops, "B"),
      ("spark.spill_bytes", c.spillBytes.get.toDouble / ops, "B"),
      ("spark.input_rows_per_output_row", c.recordsRead.get.toDouble / outRows, "ratio"),
      ("streaming.wal_commit_ms", perBatch("walCommit"), "ms"),
      ("streaming.query_planning_ms", perBatch("queryPlanning"), "ms"),
      ("streaming.add_batch_ms", perBatch("addBatch"), "ms"),
      ("streaming.commit_offsets_ms", perBatch("commitOffsets"), "ms"),
      ("streaming.batches_per_query", batches / both.map(_.queries.get).sum, "count"),
      ("operators.cpu_ns_per_input_row", c.cpuNs.get.toDouble / c.recordsRead.get, "ns"),
      ("jvm.gc_ms_per_op", gcMs / ops, "ms"),
      ("trace.overhead_pct", (untracedOpsPerS / tracedOpsPerS - 1) * 100, "%"),
      ("trace.spans", ctx.tracer.spans.size.toDouble, "count"))
  }
}
