package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.streaming.Streams

/** The streaming layer and its RocksDB state store: seeded, time-ordered
  * event files (with re-sent duplicates and repeat users) replayed one file
  * per trigger by `Streams.lateArrivalStream` into three stateful
  * operators. One op drains all three in turn; the latency samples are the
  * micro-batches.
  *
  * The drains mirror `Streams.drainToTable` / `drainToParquet` (memory
  * sink; foreachBatch parquet sink; both under `Streams.withStatePartitions`)
  * but keep checkpoints and sinks under the benchmark's own directory. */
class StreamWorkload extends Workload {
  import StreamWorkload._
  val unit = "micro-batch"
  private var input: String = _
  private var events: IndexedSeq[Event] = _
  /** Per op and operator: the drain's progress reports (traced ops feed the layers). */
  private val progress = mutable.Map[(Int, String), Seq[StreamingQueryProgress]]()

  def prepare(ctx: Ctx): Unit = {
    events = generate(ctx.seed)
    input = s"${ctx.dir}/events"
    val tmp = s"${ctx.dir}/events_tmp"
    val schema = StructType(Seq(StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("ts", TimestampType)))
    // one job writes all files: file f is partition f
    val rows = ctx.spark.sparkContext.parallelize(events.map(e => (e.file,
      Row(e.id, e.user, e.kind, e.value, new Timestamp(e.tsMs)))), ctx.cores)
      .partitionBy(new HashPartitioner(FileCount)).values
    ctx.spark.createDataFrame(rows, schema).write.parquet(tmp)
    val out = Files.createDirectories(Paths.get(input))
    val listing = Files.list(Paths.get(tmp))
    val parts = try listing.iterator().asScala.toSeq finally listing.close()
    val mtime0 = System.currentTimeMillis() - FileCount * 1000L
    (0 until FileCount).foreach { f =>
      val part = parts.find(_.getFileName.toString.startsWith(f"part-$f%05d")).get
      val dst = out.resolve(f"$f%03d.parquet")
      Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(mtime0 + f * 1000L))
    }
    Main.deleteRecursive(Paths.get(tmp))
    // the warm-up replays the first files only
    val warm = Files.createDirectories(Paths.get(s"$input-warm"))
    (0 until WarmFiles).foreach { f =>
      val name = f"$f%03d.parquet"
      Files.copy(out.resolve(name), warm.resolve(name), StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  def op(ctx: Ctx, i: Int): Outcome = cycle(ctx, i, input, events)

  override def warmup(ctx: Ctx, traced: Boolean): Outcome =
    cycle(ctx, -1, s"$input-warm", events.filter(_.file < WarmFiles))

  /** Drain the three operators in turn over the files in `dir`, which hold `evs`. */
  private def cycle(ctx: Ctx, i: Int, dir: String, evs: Seq[Event]): Outcome = {
    val spark = ctx.spark
    val src = Streams.lateArrivalStream(spark, dir)
    val batches = mutable.ArrayBuffer[(String, Double)]()
    var busy = 0.0
    /** Run one query to the end of the files; its micro-batches are samples. */
    def drain(name: String)(start: String => StreamingQuery): Unit = {
      val ckpt = s"${ctx.dir}/ckpt/$name"
      Main.deleteRecursive(Paths.get(ckpt))
      val t0 = System.nanoTime()
      val q = ctx.trace(s"stream.$name") {
        Streams.withStatePartitions(spark) {
          val q = start(ckpt)
          try q.processAllAvailable() finally q.stop()
          q
        }
      }
      busy += (System.nanoTime() - t0) / 1e9
      val reports = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      progress((i, name)) = reports
      batches ++= reports.map(p => name -> p.durationMs.get("triggerExecution").doubleValue / 1000.0)
    }
    def memory(df: DataFrame, view: String, mode: String)(ckpt: String): StreamingQuery = {
      spark.catalog.dropTempView(view)
      df.writeStream.format("memory").queryName(view).outputMode(mode)
        .option("checkpointLocation", ckpt).start()
    }
    val sink = s"${ctx.dir}/sink_dedup"
    Main.deleteRecursive(Paths.get(sink))
    drain("tumbling")(memory(Streams.tumblingCounts(src, "1 hour"), "perfbench_tumbling", "complete"))
    drain("dedup") { ckpt =>
      Streams.dedupStream(src, Seq("event_id")).writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: Dataset[Row], _: Long) => b.write.mode("append").parquet(sink); () }
        .start()
    }
    drain("tws")(memory(Streams.userActivityTws(src), "perfbench_tws", "update"))

    val problems = check(evs, spark.table("perfbench_tumbling"), spark.read.parquet(sink),
      spark.table("perfbench_tws"))
    Outcome(problems.isEmpty, batches.toSeq, problems.mkString("; "), busy)
  }

  /** Drained results against the same aggregates recomputed in plain
    * Scala over the generated events (the batch view of the same files). */
  private def check(events: Seq[Event], tumbling: DataFrame, dedup: DataFrame,
                    tws: DataFrame): Seq[String] = {
    val hour = 3600000L
    val expTumbling = events.groupBy(e => (e.tsMs / hour * hour, e.kind)).map { case (k, es) =>
      k -> (es.size.toLong, es.map(e => BigDecimal(e.value)).sum.toDouble) }
    val gotTumbling = tumbling.collect().map(r =>
      (r.getTimestamp(0).getTime, r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val expIds = events.map(_.id).distinct.sorted
    val gotIds = dedup.collect().map(_.getLong(0)).sorted.toSeq
    val expUsers = events.groupBy(_.user).map { case (u, es) =>
      val byKind = es.groupBy(_.kind).map { case (k, v) => k -> v.size }
      u -> (es.size.toLong, byKind.size.toLong, byKind.toSeq.minBy { case (k, c) => (-c, k) }._1)
    }
    val gotUsers = tws.collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).maxBy(_._1) }
    Seq(
      (gotTumbling != expTumbling) -> s"tumbling: ${gotTumbling.size} cells vs ${expTumbling.size} expected, differing",
      (gotIds != expIds) -> s"dedup: ${gotIds.size} ids vs ${expIds.size} expected, differing",
      (gotUsers != expUsers) -> s"tws: ${gotUsers.size} users vs ${expUsers.size} expected, differing")
      .collect { case (true, m) => m }
  }

  def finish(ctx: Ctx, ops: Seq[OpRecord]): Finish = {
    val plain = ops.filterNot(_.traced)
    val lat = plain.flatMap(_.outcome.samples.map(_._2))
    Finish(ok = true, Nil, Seq(
      ("event_stream.batch_p50_s", Stats.median(lat), "s"),
      ("event_stream.events_per_s", 3.0 * events.size * plain.size / plain.map(_.outcome.busyS).sum, "1/s")))
  }

  override def layers(ctx: Ctx, ops: Seq[OpRecord]): Map[String, Double] = {
    val traced = ops.filter(_.traced).map(_.i)
    if (traced.isEmpty) return Map()
    def ms(p: StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    Layers.streamOps.flatMap { name =>
      def perDrain(f: Seq[StreamingQueryProgress] => Double) =
        Stats.median(traced.map(i => f(progress((i, name)))))
      Seq(
        s"stream.$name.batches" -> perDrain(_.size.toDouble),
        s"stream.$name.add_batch_ms" -> perDrain(_.map(ms(_, "addBatch")).sum),
        s"stream.$name.wal_commit_ms" -> perDrain(_.map(p => ms(p, "walCommit") + ms(p, "commitOffsets")).sum),
        s"stream.$name.planning_ms" -> perDrain(_.map(ms(_, "queryPlanning")).sum),
        s"stream.$name.state_commit_ms" -> perDrain(_.flatMap(_.stateOperators.map(_.commitTimeMs.toDouble)).sum),
        s"stream.$name.state_rows" -> perDrain(_.flatMap(_.stateOperators.map(_.numRowsUpdated.toDouble)).sum))
    }.toMap
  }
}

object StreamWorkload {
  val FileCount = 3
  val WarmFiles = 1
  val PerFile = 500
  val Users = 400
  final case class Event(file: Int, id: Long, user: Long, kind: String, value: Double, tsMs: Long)

  /** Time-ordered events, file f covering hours [2f, 2f + 2); users drawn
    * with a skew (repeat users); ~5% of events re-sent in the next file
    * with the same id and content (duplicates the dedup operator drops). */
  def generate(seed: Long): IndexedSeq[Event] = {
    val rnd = new java.util.Random(seed)
    val t0 = java.time.LocalDate.parse("2024-01-01").toEpochDay * 86400000L
    val kinds = Seq("click", "signup", "error", "view", "purchase")
    var nextId = 0L
    val out = mutable.ArrayBuffer[Event]()
    var resend = Seq[Event]()
    (0 until FileCount).foreach { f =>
      val fresh = (0 until PerFile).map { _ =>
        nextId += 1
        val u = (Users * math.pow(rnd.nextDouble(), 2)).toLong
        Event(f, nextId, u, kinds(rnd.nextInt(kinds.size)), (1 + rnd.nextInt(49000)) / 100.0,
          t0 + f * 7200000L + rnd.nextInt(7200000))
      }
      out ++= resend.map(_.copy(file = f)) ++= fresh
      resend = fresh.filter(_ => rnd.nextDouble() < 0.05)
    }
    out.toIndexedSeq
  }
}
