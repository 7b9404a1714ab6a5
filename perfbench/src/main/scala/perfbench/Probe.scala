package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FSInputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Counters every layer is attributed: scheduler work (jobs, tasks),
  * executor time, bytes moved, and filesystem calls (`inputBytes` and
  * `fsOps` from [[CountingFs]]). Additive, so a span's share is the
  * difference of two snapshots. */
final case class Counters(jobs: Long = 0, tasks: Long = 0, execRunMs: Long = 0,
                          execCpuMs: Long = 0, gcMs: Long = 0,
                          shuffleWriteBytes: Long = 0, inputBytes: Long = 0,
                          outputBytes: Long = 0, fsOps: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    execRunMs - o.execRunMs, execCpuMs - o.execCpuMs, gcMs - o.gcMs,
    shuffleWriteBytes - o.shuffleWriteBytes, inputBytes - o.inputBytes,
    outputBytes - o.outputBytes, fsOps - o.fsOps)
  def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks,
    execRunMs + o.execRunMs, execCpuMs + o.execCpuMs, gcMs + o.gcMs,
    shuffleWriteBytes + o.shuffleWriteBytes, inputBytes + o.inputBytes,
    outputBytes + o.outputBytes, fsOps + o.fsOps)
}

/** SparkListener owned by the benchmark: accumulates task metrics and
  * remembers every job's wall interval, so a span can subtract the time
  * jobs covered from its own wall (the driver time outside jobs). */
class Probe extends SparkListener {
  private var c = Counters()
  private val jobStart = mutable.Map[Int, Long]()
  private val intervals = mutable.ArrayBuffer[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    c = c.copy(jobs = c.jobs + 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) c = c + Counters(tasks = 1, execRunMs = m.executorRunTime,
      execCpuMs = m.executorCpuTime / 1000000L, gcMs = m.jvmGCTime,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      outputBytes = m.outputMetrics.bytesWritten)
  }

  def snapshot: Counters = synchronized(c.copy(fsOps = CountingFs.total, inputBytes = CountingFs.bytesRead))

  /** Milliseconds of [from, to] covered by at least one job. */
  def jobCoverMs(from: Long, to: Long): Long = synchronized {
    val clipped = intervals.iterator.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** One traced call into a layer's public function. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startMs: Long, endMs: Long, counters: Counters, driverMs: Long) {
  def wallMs: Long = endMs - startMs
}

/** Span recorder: keeps spans in memory, one client thread, nesting by a
  * stack. Disabled tracers run the body and record nothing. */
class Tracer(spark: SparkSession, val enabled: Boolean) {
  val probe = new Probe
  if (enabled) spark.sparkContext.addSparkListener(probe)
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List[Int]()
  private var nextId = 0
  var op = -1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val before = probe.snapshot
      val t0 = System.currentTimeMillis()
      try body
      finally {
        val t1 = System.currentTimeMillis()
        org.apache.spark.perfbench.BusDrain(spark.sparkContext)
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, t1, probe.snapshot - before,
          (t1 - t0) - probe.jobCoverMs(t0, t1))
      }
    }

  /** Jobs started so far, once the listener has caught up. */
  def jobsSoFar: Long = { org.apache.spark.perfbench.BusDrain(spark.sparkContext); probe.snapshot.jobs }

  /** Span wall minus the part its direct children cover. */
  def selfMs(s: Span): Long =
    s.wallMs - spans.iterator.filter(_.parent == s.id).map(_.wallMs).sum

  def toJsonLines: Seq[String] = spans.toSeq.map { s =>
    Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> selfMs(s),
      "driver_ms" -> s.driverMs, "jobs" -> s.counters.jobs, "tasks" -> s.counters.tasks,
      "exec_run_ms" -> s.counters.execRunMs, "exec_cpu_ms" -> s.counters.execCpuMs,
      "gc_ms" -> s.counters.gcMs, "shuffle_write_bytes" -> s.counters.shuffleWriteBytes,
      "input_bytes" -> s.counters.inputBytes, "output_bytes" -> s.counters.outputBytes,
      "fs_ops" -> s.counters.fsOps)).json
  }
}

/** The local filesystem with every create, rename, delete, mkdirs, list
  * and open counted. Registered as `fs.file.impl` for traced runs only. */
class CountingFs extends LocalFileSystem {
  import CountingFs.hit
  override def create(f: Path, p: FsPermission, overwrite: Boolean, buf: Int,
                      repl: Short, block: Long, prog: Progressable): FSDataOutputStream = {
    hit("create", f); super.create(f, p, overwrite, buf, repl, block, prog)
  }
  override def createNonRecursive(f: Path, p: FsPermission,
                                  flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
                                  buf: Int, repl: Short, block: Long,
                                  prog: Progressable): FSDataOutputStream = {
    hit("create", f); super.createNonRecursive(f, p, flags, buf, repl, block, prog)
  }
  override def rename(src: Path, dst: Path): Boolean = { hit("rename", src); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { hit("delete", f); super.delete(f, recursive) }
  override def mkdirs(f: Path, p: FsPermission): Boolean = { hit("mkdirs", f); super.mkdirs(f, p) }
  override def listStatus(f: Path): Array[FileStatus] = { hit("list", f); super.listStatus(f) }
  override def open(f: Path, buf: Int): FSDataInputStream = {
    hit("open", f)
    new FSDataInputStream(new CountingFs.CountingStream(super.open(f, buf)))
  }
}

object CountingFs {
  private val all = new AtomicLong(0)
  private val bytes = new AtomicLong(0)

  /** Counts the bytes read through an opened file. Task input metrics
    * under-report the parquet scans here (a full scan of a table read as
    * ~1.5% of its file size), so bytes read are counted at the source. */
  final class CountingStream(in: FSDataInputStream) extends FSInputStream {
    private def n(k: Int): Int = { if (k > 0) bytes.addAndGet(k); k }
    override def read(): Int = { val b = in.read(); if (b >= 0) bytes.incrementAndGet(); b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = n(in.read(b, off, len))
    override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int = n(in.read(pos, b, off, len))
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(target: Long): Boolean = in.seekToNewSource(target)
    override def available(): Int = in.available()
    override def close(): Unit = in.close()
  }
  def bytesRead: Long = bytes.get()
  /** When set, every counted call is also logged as "kind path". */
  @volatile var log: Option[java.util.concurrent.ConcurrentLinkedQueue[String]] = None

  def hit(kind: String, p: Path): Unit = {
    all.incrementAndGet()
    log.foreach(_.add(s"$kind $p"))
  }
  def total: Long = all.get()
}
