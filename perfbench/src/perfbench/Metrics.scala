package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

/** Turns the recorded operations into the end-to-end and per-layer
  * metrics. Every workload reports every metric; a layer the workload
  * does not exercise reads 0. */
object Metrics {
  val layers: Seq[String] = Seq("sql", "text", "similarity", "operators", "functions",
    "multimodal", "gold", "plans", "etl", "tables", "streaming")
  val etlStages: Seq[String] = Seq("run_products", "run_orders", "run_order_items", "replay",
    "gold_incremental", "mv_refresh", "maintenance")
  /** Backfill stage -> the operations it groups. */
  val backfillStages: Seq[(String, String => Boolean)] = Seq(
    "run_products" -> (_ == "run_products"), "run_orders" -> (_ == "run_orders"),
    "run_order_items" -> (_ == "run_order_items"), "replay" -> (_ == "replay"),
    "gold" -> (_.startsWith("overwrite.")), "compact_vacuum" -> Set("compact", "vacuum"),
    "cluster_stats" -> Set("optimizeClustered", "writeFileStats", "optimizeZOrder", "writeFileBlooms"),
    "mv" -> Set("mv_date_build", "mv_join_build", "registerJoin"))
  /** LakehouseTable call -> the benchmark operations that make it directly. */
  val tableOps: Seq[(String, String => Boolean)] = Seq(
    "overwrite" -> (_.startsWith("overwrite.")), "compact" -> (_ == "compact"),
    "vacuum" -> (_ == "vacuum"), "optimizeClustered" -> (_ == "optimizeClustered"),
    "optimizeZOrder" -> (_ == "optimizeZOrder"), "writeFileStats" -> (_ == "writeFileStats"),
    "writeFileBlooms" -> (_ == "writeFileBlooms"), "registerAs" -> (_ == "registerAs"),
    "readPruned" -> Set("read_pruned_orders", "read_zorder_insights"),
    "readBloomFiltered" -> (_ == "read_bloom_items"))
  val batchOps: Set[String] = Set("run_products", "run_orders", "run_order_items", "replay",
    "gold_incremental", "mv_refresh")
  val streamPhases: Seq[String] = Seq("addBatch", "queryPlanning", "walCommit", "latestOffset")
  /** Workload figures passed through unchanged (0 where not produced). */
  val passThrough: Seq[String] = Seq("etl.batch_p50_s", "etl.rejected_frac", "tables.write_amp",
    "tables.files_live", "tables.meta_files", "tables.pruned_file_frac", "tables.stored_per_input",
    "plans.mv_hit_frac", "streaming.freshness_p50_s")

  /** Linear-interpolated percentile, as numpy's default. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = (s.size - 1) * p / 100.0
    val lo = r.floor.toInt
    val hi = r.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  final case class Result(e2e: Seq[(String, Double)], layer: Seq[(String, Double)], samples: Int)

  def compute(c: GraftBench.Conf, trace: Trace, setupS: Double,
              out: GraftBench.Outcome): Result = {
    val timed = trace.ops.filter(_.phase == "timed").toSeq
    val client = timed.filter(_.client).map(_.wallS)
    val byName = timed.groupBy(_.name)
    def medianOf(ops: Seq[Op]) = pct(ops.map(_.wallS), 50)
    val e2e = Seq(
      "setup_s" -> setupS,
      "first_pass_s" -> out.firstPassS,
      "suite_s" -> byName.values.map(medianOf).sum,
      "op_p50_ms" -> pct(client, 50) * 1000,
      "peak_rss_mb" -> peakRssMb())

    val stats = timed.flatMap(o => o.stats.map(o -> _))
    val n = stats.size.max(1).toDouble
    def perOp(f: OpStats => Double) = stats.map(s => f(s._2)).sum / n
    val taskS = stats.map(_._2.taskMs).sum / 1000.0
    val wallS = stats.map(_._1.wallS).sum
    val layerMetrics = Seq.newBuilder[(String, Double)]
    layerMetrics ++= Seq(
      "catalyst.plan_ms" -> perOp(_.planMs.toDouble),
      "catalyst.executions" -> perOp(_.executions.toDouble),
      "catalyst.codegen_compiles" -> perOp(_.codegen.toDouble),
      "scheduler.jobs" -> perOp(_.jobs.toDouble),
      "scheduler.stages" -> perOp(_.stages.toDouble),
      "scheduler.tasks" -> perOp(_.tasks.toDouble),
      "scheduler.driver_gap_s" -> stats.map { case (o, s) => s.driverGapS(o.startMs, o.wallS) }.sum / n,
      "executor.task_s" -> perOp(_.taskMs / 1000.0),
      "executor.cpu_s" -> perOp(_.cpuNs / 1e9),
      "executor.gc_s" -> perOp(_.gcMs / 1000.0),
      "executor.spill_mb" -> perOp(_.spillBytes / 1e6),
      "executor.busy_frac" -> (if (wallS > 0) taskS / (wallS * c.cores) else 0.0),
      "shuffle.read_mb" -> perOp(_.shuffleRead / 1e6),
      "shuffle.write_mb" -> perOp(_.shuffleWrite / 1e6))
    layers.foreach { l =>
      val in = timed.filter(_.layer == l)
      layerMetrics += s"$l.wall_s" -> in.groupBy(_.name).values.map(medianOf).sum
      val st = stats.filter(_._1.layer == l)
      layerMetrics += s"$l.self_s" ->
        (if (st.isEmpty) 0.0 else st.map { case (o, s) => s.driverGapS(o.startMs, o.wallS) }.sum / st.size)
    }
    etlStages.foreach(s => layerMetrics += s"etl.stage_s.$s" -> medianOf(byName.getOrElse(s, Nil)))
    val first = trace.ops.filter(_.phase == "first").toSeq
    backfillStages.foreach { case (s, m) =>
      layerMetrics += s"etl.backfill_s.$s" -> (if (c.workload == "lakehouse_etl")
        first.filter(o => m(o.name)).map(_.wallS).sum else 0.0)
    }
    val all = trace.ops.filter(_.phase != "check").toSeq
    tableOps.foreach { case (t, m) =>
      layerMetrics += s"tables.op_ms.$t" -> pct(all.filter(o => m(o.name)).map(_.wallS * 1000), 50)
    }
    val batches = out.extra.getOrElse("batches", 0.0)
    val clientStats = stats.filter(_._1.client)
    CountingFileSystem.kinds.foreach { k =>
      layerMetrics += s"tables.fs_per_op.$k" ->
        (if (clientStats.isEmpty) 0.0 else clientStats.map(_._2.fs.getOrElse(k, 0L)).sum.toDouble / clientStats.size)
      layerMetrics += s"tables.fs_per_batch.$k" -> (if (batches == 0) 0.0 else
        stats.filter(s => batchOps(s._1.name)).map(_._2.fs.getOrElse(k, 0L)).sum / batches)
    }
    val drains = stats.filter(_._1.name == "stream_drain")
    streamPhases.foreach { p =>
      layerMetrics += s"streaming.batch_ms.$p" ->
        (if (drains.isEmpty) 0.0 else drains.map(_._2.streamMs(p)).sum.toDouble / drains.size)
    }
    layerMetrics += "streaming.rows_in" ->
      (if (drains.isEmpty) 0.0 else drains.map(_._2.streamRows).sum.toDouble / drains.size)
    passThrough.foreach(k => layerMetrics += k -> out.extra.getOrElse(k, 0.0))
    layerMetrics += "jvm.gc_s" ->
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0
    layerMetrics += "jvm.heap_peak_mb" -> ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1e6
    layerMetrics += "ops.failed" -> trace.failures.size.toDouble
    Result(e2e, layerMetrics.result(), client.size)
  }

  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ")
  private def obj(kv: Seq[(String, Double)]) =
    kv.map { case (k, v) => "\"" + k + "\": " + (if (v.isNaN || v.isInfinite) "0" else v.toString) }
      .mkString("{", ", ", "}")

  def writeResult(path: String, trace: Trace, out: GraftBench.Outcome, r: Result): Unit = {
    val failed = trace.failures
    val json =
      s"""{"correct": ${out.checksOk}, "attempted": ${trace.ops.size}, "failed": ${failed.size}, """ +
      s""""failed_ops": ${failed.map(o => "\"" + esc(s"${o.name}: ${o.error.get}") + "\"").mkString("[", ", ", "]")}, """ +
      s""""check_notes": ${out.checkNotes.map(n => "\"" + esc(n) + "\"").mkString("[", ", ", "]")}, """ +
      s""""client_samples": ${r.samples}, "extra": ${obj(out.extra.toSeq.sortBy(_._1))}, """ +
      s""""end_to_end": ${obj(r.e2e)}, "per_layer": ${obj(r.layer)}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(path), json.getBytes("UTF-8"))
  }
}
