package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one operation reports back to the closed loop. `samples` are
  * (kind, seconds) latencies the op measured itself (statements, queries,
  * micro-batches); when empty, the op's own wall is its one sample.
  * `busyS` is the op's measured work excluding its untimed checks. */
final case class Outcome(ok: Boolean, samples: Seq[(String, Double)] = Nil,
                         note: String = "", busyS: Double = 0)

/** End-of-run checks and the workload's own named metrics. */
final case class Finish(ok: Boolean, notes: Seq[String],
                        named: Seq[(String, Double, String)], layers: Map[String, Double] = Map())

/** Per-run context handed to the workload. */
final class Ctx(val spark: SparkSession, val dir: String, val seed: Long,
                val cores: Int, val trace: Tracer)

/** A benchmark workload. One instance per setup: `prepare` generates and
  * stages the seed's inputs, `op` is one closed-loop operation, `finish`
  * runs the end-of-run checks. */
trait Workload {
  /** Name of the latency every op reports (for the printed metric lines). */
  def unit: String
  def prepare(ctx: Ctx): Unit
  def op(ctx: Ctx, i: Int): Outcome
  /** The untimed, checked op before measurement. */
  def warmup(ctx: Ctx, traced: Boolean): Outcome = op(ctx, -1)
  def finish(ctx: Ctx, ops: Seq[OpRecord]): Finish
  /** Per-layer metrics from a traced run's spans. */
  def layers(ctx: Ctx, ops: Seq[OpRecord]): Map[String, Double] = Map()
}

/** One measured op; `jobs` is the Spark jobs it ran (traced runs only). */
final case class OpRecord(i: Int, wallS: Double, outcome: Outcome, traced: Boolean, jobs: Long = 0)

object Main {
  val SetupRepeats = 3

  val workloads: Map[String, () => Workload] = Map(
    "gexp_pipeline" -> (() => new GexpWorkload),
    "lakehouse" -> (() => new Composite(Seq(new TableWorkload, new SqlWorkload, new StreamWorkload))))

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Seq("--catalogue"))) {
      // the per-layer names and units, as BENCHMARK.json lists them
      println(Layers.catalogue.map { case (n, u) =>
        Json.obj(Seq("name" -> n, "unit" -> u, "better" -> Layers.better(n))).json }.mkString("[", ",\n", "]"))
      return
    }
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = Paths.get(a("work")).toAbsolutePath.toString
    val cores = a("cores").toInt
    if (workload == "train") return train(work, cores)
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val out = a("out")

    if (traced) {
      // before the first FileSystem is created, so every file: call counts
      System.setProperty("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    }
    val make = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))

    // ── set-up (session start, input generation, staging), repeated (once
    // for a traced run, which reports no set-up time); the last one's
    // session and inputs are measured, after one untimed, checked warm-up op
    val setupS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    var w: Workload = null
    var ctx: Ctx = null
    (0 until (if (traced) 1 else SetupRepeats)).foreach { r =>
      if (spark != null) spark.stop()
      if (r > 0) deleteRecursive(Paths.get(s"$work/setup${r - 1}"))
      val dir = s"$work/setup$r"
      deleteRecursive(Paths.get(dir))
      val t0 = System.nanoTime()
      spark = graft.core.GraftSession.local(cores, s"perfbench-$workload")
      w = make()
      ctx = new Ctx(spark, dir, seed, cores, new Tracer(spark, enabled = false))
      w.prepare(ctx)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val tw = System.nanoTime()
    val warm = w.warmup(ctx, traced)
    log(f"set-ups ${setupS.map(x => f"$x%.2f").mkString(" ")} s, warm-up ${(System.nanoTime() - tw) / 1e9}%.2f s")
    if (!warm.ok) log(s"warm-up check failed: ${warm.note}")

    // ── measured closed loop: one client, next op starts when one returns.
    // A traced run measures exactly three ops — untraced, traced, untraced
    // — so the tracing overhead compares the traced op with the two
    // around it, on the same session and inputs.
    val tracer = new Tracer(spark, enabled = traced)
    val plain = ctx
    ctx = new Ctx(spark, plain.dir, seed, cores, tracer)
    val ops = mutable.ArrayBuffer[OpRecord]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (if (traced) ops.size < 3 else System.nanoTime() < deadline) {
      val i = ops.size
      val traceOp = traced && i == 1
      val jobs0 = if (traced) tracer.jobsSoFar else 0L
      val t = System.nanoTime()
      val res =
        try {
          if (traceOp) { tracer.op = i; tracer("op") { w.op(ctx, i) } }
          else w.op(plain, i)
        } catch {
          case e: Throwable =>
            log(s"op $i failed: $e")
            Outcome(ok = false, note = e.toString)
        }
      ops += OpRecord(i, (System.nanoTime() - t) / 1e9, res, traceOp,
        if (traced) tracer.jobsSoFar - jobs0 else 0L)
      if (!res.ok) log(s"op $i check failed: ${res.note}")
    }

    val tf = System.nanoTime()
    log(f"measured ${ops.size} ops in ${ops.map(_.wallS).sum}%.2f s")
    val fin = w.finish(ctx, ops.toSeq)
    log(f"finish ${(System.nanoTime() - tf) / 1e9}%.2f s")
    fin.notes.foreach(log)
    val failed = ops.count(!_.outcome.ok)
    val untraced = ops.filterNot(_.traced).toSeq
    val samples = untraced.map(o => math.max(1, o.outcome.samples.size)).sum
    val endToEnd = Seq(
      ("setup_s", Stats.median(setupS.toSeq), "s"),
      ("op_wall_s", Stats.median(untraced.map(_.wallS)), "s"))
    val layerMetrics =
      if (!traced) Map.empty[String, Double]
      else Layers.complete(Layers.generic(ctx, ops.toSeq) ++ w.layers(ctx, ops.toSeq) ++ fin.layers)

    if (traced) {
      val lines = tracer.toJsonLines
      Files.write(Paths.get(s"$work/spans.jsonl"), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    }
    val result = Json.obj(Seq(
      "workload" -> workload, "seed" -> seed,
      "correct" -> (warm.ok && fin.ok && failed == 0),
      "attempted" -> ops.size, "failed" -> failed,
      "setup_runs_s" -> setupS.toSeq,
      "latency_samples" -> samples,
      "latency_unit" -> w.unit,
      "end_to_end" -> Json.metrics(endToEnd),
      "named" -> Json.metrics(fin.named),
      "per_layer" -> Json.metrics(layerMetrics.toSeq.sortBy(_._1).map { case (n, v) =>
        (n, v, Layers.unitOf(n)) })))
    Files.write(Paths.get(out), result.json.getBytes("UTF-8"))
    spark.stop()
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Load the classes every workload uses (set-up and one op each), so
    * the build can archive them for class-data sharing: later JVMs then
    * start without re-loading and re-verifying them. */
  private def train(work: String, cores: Int): Unit = {
    val spark = graft.core.GraftSession.local(cores, "perfbench-train")
    workloads.foreach { case (name, make) =>
      val w = make()
      val ctx = new Ctx(spark, s"$work/train-$name", 1L, cores, new Tracer(spark, enabled = false))
      w.prepare(ctx)
      w.warmup(ctx, traced = true)
    }
    spark.stop()
  }

  def deleteRecursive(p: java.nio.file.Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  /** Bytes of every regular file under `dir`, keyed by path. */
  def fileSizes(dir: String): Map[String, Long] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Map()
    else {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(f => f.toString -> Files.size(f)).toMap
      } finally s.close()
    }
  }
}

object Stats {
  /** Type-7 quantile; no samples reads as 0, the catalogue's "layer not
    * entered" value. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * q
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Minimal JSON writer (no dependency beyond the JDK). */
object Json {
  /** Already-encoded JSON, embedded verbatim. */
  final case class Raw(json: String)
  def obj(kv: Seq[(String, Any)]): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}"))
  def metrics(ms: Seq[(String, Double, String)]): Raw =
    obj(ms.map { case (n, v, u) => n -> obj(Seq("value" -> v, "unit" -> u)) })
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case Raw(j) => j
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}

/** Several workloads measured as one: each op runs every part's op in
  * turn. Every part keeps its own samples, checks and metrics. */
class Composite(parts: Seq[Workload]) extends Workload {
  val unit: String = parts.map(_.unit).mkString("/")
  /** Each part's own record of op i. */
  private val sub = mutable.Map[(Int, Int), OpRecord]()

  def prepare(ctx: Ctx): Unit = parts.foreach(_.prepare(ctx))
  def op(ctx: Ctx, i: Int): Outcome = all(ctx, i)(_.op(ctx, i))
  override def warmup(ctx: Ctx, traced: Boolean): Outcome = all(ctx, -1)(_.warmup(ctx, traced))

  private def all(ctx: Ctx, i: Int)(run: Workload => Outcome): Outcome = {
    val outs = parts.indices.map { k =>
      val t = System.nanoTime()
      val o = run(parts(k))
      val rec = OpRecord(i, (System.nanoTime() - t) / 1e9, o, ctx.trace.enabled)
      sub((k, i)) = rec
      rec
    }
    Outcome(outs.forall(_.outcome.ok),
      parts.zip(outs).flatMap { case (p, r) =>
        if (r.outcome.samples.isEmpty) Seq(p.unit -> r.wallS) else r.outcome.samples },
      outs.map(_.outcome.note).filter(_.nonEmpty).mkString("; "),
      outs.map(_.outcome.busyS).sum)
  }

  private def partOps(k: Int, ops: Seq[OpRecord]) = ops.map(o => sub((k, o.i)).copy(traced = o.traced))

  def finish(ctx: Ctx, ops: Seq[OpRecord]): Finish = {
    val fs = parts.indices.map(k => parts(k).finish(ctx, partOps(k, ops)))
    Finish(fs.forall(_.ok), fs.flatMap(_.notes), fs.flatMap(_.named), fs.flatMap(_.layers).toMap)
  }
  override def layers(ctx: Ctx, ops: Seq[OpRecord]): Map[String, Double] =
    parts.indices.flatMap(k => parts(k).layers(ctx, partOps(k, ops))).toMap
}
