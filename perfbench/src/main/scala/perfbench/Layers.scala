package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** The per-layer metric catalogue (names and units) and the counters every
  * workload shares. A traced run reports every name here on every workload;
  * a layer the workload never enters reads 0 — the "expected flat" half of
  * the layer → metric map. */
object Layers {
  val ioKinds = Seq("insert", "merge", "update", "delete", "optimize", "checkpoint",
    "vacuum", "history", "read_head", "read_travel")
  val streamOps = Seq("tumbling", "dedup", "tws")

  private val run = Seq(
    "run.jobs" -> "count", "run.tasks" -> "count", "run.exec_run_ms" -> "ms",
    "run.exec_cpu_ms" -> "ms", "run.gc_ms" -> "ms", "run.driver_ms" -> "ms",
    "run.driver_share" -> "ratio", "run.shuffle_write_bytes" -> "bytes",
    "run.input_bytes" -> "bytes", "run.output_bytes" -> "bytes",
    "run.slot_util" -> "ratio", "run.trace_overhead_s" -> "s",
    "run.span_coverage" -> "ratio", "jvm.peak_heap_mib" -> "MiB")
  private val ml = Seq("io.load_s", "ml.uq_fit_s", "ml.uq_transform_s", "ml.feature_stats_s",
    "ml.prepare_s", "ml.rf_fit_s", "ml.eval_s", "ml.cv_s").map(_ -> "s") ++ Seq(
    "ml.rf_fit.jobs" -> "count", "ml.cv.jobs" -> "count", "ml.driver_ms" -> "ms",
    "ml.slot_util" -> "ratio")
  private val io = ioKinds.flatMap(k => Seq(s"io.${k}_p50_s" -> "s", s"io.$k.jobs" -> "count",
    s"io.$k.driver_ms" -> "ms", s"io.$k.fs_ops" -> "count", s"io.$k.bytes_written" -> "bytes")) ++
    Seq("io.log_versions" -> "count", "io.files_live" -> "count",
      "io.write_amp" -> "ratio", "io.space_amp" -> "ratio")
  private val sql = SqlWorkload.Queries.map(q => s"sql.${SqlWorkload.short(q)}_s" -> "s") ++ Seq(
    "sql.exec_cpu_ms" -> "ms", "sql.shuffle_write_bytes" -> "bytes",
    "sql.input_bytes" -> "bytes", "sql.driver_ms" -> "ms", "sql.slot_util" -> "ratio")
  private val stream = streamOps.flatMap(o => Seq(s"stream.$o.batches" -> "count",
    s"stream.$o.add_batch_ms" -> "ms", s"stream.$o.wal_commit_ms" -> "ms",
    s"stream.$o.planning_ms" -> "ms", s"stream.$o.state_commit_ms" -> "ms",
    s"stream.$o.state_rows" -> "count"))
  /** Counter validations against ground truth, recorded with every trace. */
  private val valid = Seq("valid.input_bytes_ratio" -> "ratio",
    "valid.insert_fs_ops" -> "count", "valid.op_jobs_spread" -> "count")

  val catalogue: Seq[(String, String)] = run ++ ml ++ io ++ sql ++ stream ++ valid
  private val units = catalogue.toMap

  def unitOf(name: String): String = units(name)
  /** Utilisation and the ratios validated against ground truth read
    * better higher; every time, count and byte total reads better lower. */
  def better(name: String): String =
    if (name.endsWith("slot_util") || name == "run.span_coverage" || name == "valid.input_bytes_ratio") "higher"
    else "lower"

  /** Every catalogue name, 0 where the run did not enter the layer. */
  def complete(m: Map[String, Double]): Map[String, Double] = {
    val unknown = m.keySet -- units.keySet
    require(unknown.isEmpty, s"metrics outside the catalogue: ${unknown.mkString(", ")}")
    catalogue.map { case (n, _) => n -> m.getOrElse(n, 0.0) }.toMap
  }

  /** Ops' spans grouped by op, for traced ops only. */
  def spansByOp(ctx: Ctx): Map[Int, Seq[Span]] =
    ctx.trace.spans.toSeq.filter(_.op >= 0).groupBy(_.op)

  /** Share of `wall × cores` the executors were busy. */
  def slotUtil(c: Counters, wallMs: Double, cores: Int): Double =
    if (wallMs <= 0) 0.0 else c.execRunMs / (wallMs * cores)

  /** Scheduler/executor counters per traced op (means), the blocking-time
    * share outside jobs, and tracing overhead and span reconciliation, both
    * against the mean wall of the untraced ops around the traced one. */
  def generic(ctx: Ctx, ops: Seq[OpRecord]): Map[String, Double] = {
    val opSpans = ctx.trace.spans.toSeq.filter(_.name == "op")
    if (opSpans.isEmpty) return Map()
    def per(f: Span => Double) = Stats.mean(opSpans.map(f))
    val wall = per(_.wallMs.toDouble)
    val untracedWall = Stats.mean(ops.filterNot(_.traced).map(_.wallS))
    val tracedWall = Stats.mean(ops.filter(_.traced).map(_.wallS))
    // top-level layer spans: direct children of each op span
    val childWall = opSpans.map(o => ctx.trace.spans.iterator.filter(_.parent == o.id).map(_.wallMs).sum / 1000.0)
    Map(
      "run.jobs" -> per(_.counters.jobs.toDouble), "run.tasks" -> per(_.counters.tasks.toDouble),
      "run.exec_run_ms" -> per(_.counters.execRunMs.toDouble),
      "run.exec_cpu_ms" -> per(_.counters.execCpuMs.toDouble),
      "run.gc_ms" -> per(_.counters.gcMs.toDouble), "run.driver_ms" -> per(_.driverMs.toDouble),
      "run.driver_share" -> per(_.driverMs.toDouble) / wall,
      "run.shuffle_write_bytes" -> per(_.counters.shuffleWriteBytes.toDouble),
      "run.input_bytes" -> per(_.counters.inputBytes.toDouble),
      "run.output_bytes" -> per(_.counters.outputBytes.toDouble),
      "run.slot_util" -> per(_.counters.execRunMs.toDouble) / (wall * ctx.cores),
      "run.trace_overhead_s" -> (tracedWall - untracedWall),
      "run.span_coverage" -> Stats.median(childWall) / untracedWall,
      // jobs per op must repeat exactly across a traced run's three ops
      "valid.op_jobs_spread" -> (ops.map(_.jobs).max - ops.map(_.jobs).min).toDouble,
      "jvm.peak_heap_mib" -> ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }
}
