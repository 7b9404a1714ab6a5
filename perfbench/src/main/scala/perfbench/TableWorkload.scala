package perfbench

import scala.collection.immutable.TreeMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.{FileSkipping, TableSql, VersionLog}

/** Writes beside reads on the versioned table format, all through
  * `graft.io.TableSql` statements. Two orders-shaped tables: one with the
  * default single-writer registration, one `occ = true, deletionVectors =
  * true`. One op is one cycle of the seeded statement stream sent to both
  * tables (as far as each registration supports); every statement is one
  * latency sample. A plain-Scala model of each table replays the same
  * stream and is the oracle for every read and for the final heads. */
class TableWorkload extends Workload {
  import TableWorkload._
  val unit = "statement"

  /** key → (priority, price in cents) */
  type Model = TreeMap[Long, (String, Long)]
  private final class Table(val name: String, val ref: TableSql.TableRef) {
    var model: Model = TreeMap()
    /** Model at every committed version (immutable maps share structure). */
    val versions = mutable.Map[Int, Model]()
    var nextKey = 0L
    def vdir: String = ref.versionsDir.get
  }
  private var tables: Seq[Table] = Nil
  private var registry: Map[String, TableSql.TableRef] = Map()
  private var seen = Map[String, Long]()
  private final case class Stmt(op: Int, kind: String, secs: Double, bytesWritten: Long, rows: Long)
  private val stmts = mutable.ArrayBuffer[Stmt]()
  private var insertFsLog: Seq[String] = Nil

  def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rnd = new java.util.Random(ctx.seed)
    val rows = (0 until InitialRows).map(i => (i * KeyStep, Priorities(rnd.nextInt(Priorities.size)),
      100000L + rnd.nextInt(50000000)))
    tables = Seq("tsingle" -> false, "tocc" -> true).map { case (name, occ) =>
      val base = s"${ctx.dir}/$name"
      val ref = TableSql.TableRef(s"$base/data", s"$base/manifest", "o_orderkey",
        versionsDir = Some(s"$base/versions"), occ = occ, deletionVectors = occ)
      // both tables start from the same 16 range-clustered files
      if (!occ)
        frame(ctx, rows).repartitionByRange(16, col("o_orderkey")).sortWithinPartitions("o_orderkey")
          .write.parquet(ref.dataDir)
      else graft.util.Staging.copyRecursive(s"${ctx.dir}/tsingle/data", ref.dataDir)
      FileSkipping.buildManifest(spark, ref.dataDir, "o_orderkey").write.parquet(ref.manifestDir)
      VersionLog.commit(spark, ref.versionsDir.get, ref.manifestDir)
      val t = new Table(name, ref)
      t.model = TreeMap(rows.map { case (k, p, c) => k -> (p, c) }: _*)
      t.versions(VersionLog.head(spark, t.vdir)) = t.model
      t.nextKey = InitialRows * KeyStep
      t
    }
    registry = tables.map(t => t.name -> t.ref).toMap
    seen = tables.flatMap(t => Main.fileSizes(s"${ctx.dir}/${t.name}")).toMap
  }

  private def frame(ctx: Ctx, rows: Seq[(Long, String, Long)]): DataFrame =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(
      rows.map { case (k, p, c) => Row(k, p, c / 100.0) }, 1), Schema)

  /** Bytes of files created or rewritten under the table dirs since the
    * last call. */
  private def newBytes(ctx: Ctx): Long = {
    val now = tables.flatMap(t => Main.fileSizes(s"${ctx.dir}/${t.name}")).toMap
    val grown = now.iterator.collect { case (p, s) if !seen.get(p).contains(s) => s }.sum
    seen = now
    grown
  }

  def op(ctx: Ctx, i: Int): Outcome = {
    val spark = ctx.spark
    val rnd = new java.util.Random(ctx.seed * 7919L + i)
    val samples = mutable.ArrayBuffer[(String, Double)]()
    val problems = mutable.ArrayBuffer[String]()

    /** Run one statement: timed, traced, then (untimed) book-kept. */
    def run(t: Table, kind: String, sql: String, rows: Long = 0)(update: Model => Model): Array[Row] = {
      val logInsert = ctx.trace.enabled && kind == "insert" && insertFsLog.isEmpty
      if (logInsert) CountingFs.log = Some(new java.util.concurrent.ConcurrentLinkedQueue[String]())
      val t0 = System.nanoTime()
      val out = ctx.trace(s"io.$kind") { TableSql(spark, registry, sql).collect() }
      val secs = (System.nanoTime() - t0) / 1e9
      if (logInsert) { insertFsLog = CountingFs.log.get.toArray.toSeq.map(_.toString); CountingFs.log = None }
      samples += kind -> secs
      t.model = update(t.model)
      t.versions(VersionLog.head(spark, t.vdir)) = t.model
      stmts += Stmt(i, kind, secs, newBytes(ctx), rows)
      out
    }
    def readCheck(t: Table, kind: String, sql: String, expect: Model): Unit = {
      val got = run(t, kind, sql)(identity)
        .map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2).movePointRight(2).longValueExact)).toMap
      val want = expect.values.groupBy(_._1).map { case (p, vs) => p -> (vs.size.toLong, vs.map(_._2).sum) }
      if (got != want) problems += s"${t.name} $kind: $got != $want"
    }

    // the warm-up cycle sends the stream to the first table only, without
    // the maintenance statements
    val cycle = if (i < 0) tables.take(1) else tables
    cycle.zipWithIndex.foreach { case (t, ti) =>
      val view = s"pb_src_${t.name}"
      // INSERT: fresh keys above the current maximum
      val ins = (0 until InsertRows).map { j =>
        (t.nextKey + j * KeyStep, Priorities(rnd.nextInt(Priorities.size)), 100000L + rnd.nextInt(50000000)) }
      t.nextKey += InsertRows * KeyStep
      frame(ctx, ins).createOrReplaceTempView(view)
      run(t, "insert", s"INSERT INTO ${t.name} SELECT o_orderkey, o_orderpriority, o_totalprice FROM $view",
        ins.size)(m => m ++ ins.map { case (k, p, c) => k -> (p, c) })

      // MERGE: upsert a key range — existing keys updated, gap keys inserted
      val lo = rnd.nextInt(InitialRows - MergeSpan) * KeyStep
      val upd = t.model.range(lo, lo + MergeSpan * KeyStep).toSeq.filter(_ => rnd.nextInt(3) == 0)
        .map { case (k, (_, c)) => (k, "9-MERGED", c * 2) }
      val gaps = (0 until MergeSpan / 4).map(j => lo + (4 * j + 1) * KeyStep + 1)
        .filterNot(t.model.contains).map(k => (k, "9-MERGED", 100000L + rnd.nextInt(50000000)))
      val src = upd ++ gaps
      frame(ctx, src).createOrReplaceTempView(view)
      run(t, "merge", s"""MERGE INTO ${t.name} USING $view ON ${t.name}.o_orderkey = $view.o_orderkey
        WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""", src.size)(
        m => m ++ src.map { case (k, p, c) => k -> (p, c) })

      // UPDATE (OCC registration only): price + 1.00 over a key range
      if (t.ref.occ) {
        val ulo = rnd.nextInt(InitialRows - RangeSpan) * KeyStep
        val uhi = ulo + RangeSpan * KeyStep
        val hit = t.model.range(ulo, uhi + 1)
        run(t, "update", s"UPDATE ${t.name} SET o_totalprice = o_totalprice + 1 WHERE o_orderkey BETWEEN $ulo AND $uhi",
          hit.size)(m => m ++ hit.map { case (k, (p, c)) => k -> (p, c + 100) })
      }

      // DELETE a key range
      val dlo = rnd.nextInt(InitialRows - RangeSpan) * KeyStep
      val dhi = dlo + RangeSpan * KeyStep
      run(t, "delete", s"DELETE FROM ${t.name} WHERE o_orderkey BETWEEN $dlo AND $dhi")(
        m => m -- m.range(dlo, dhi + 1).keys)

      // reads: the head, and an earlier version still retained
      readCheck(t, "read_head", s"SELECT o_orderpriority, COUNT(*) AS n, $SumSql FROM ${t.name} GROUP BY o_orderpriority", t.model)
      val h = VersionLog.head(spark, t.vdir)
      val earlier = t.versions.keys.filter(k => k < h && k >= h - 2).toSeq.sorted
      val v = earlier(rnd.nextInt(earlier.size))
      readCheck(t, "read_travel",
        s"SELECT o_orderpriority, COUNT(*) AS n, $SumSql FROM ${t.name} VERSION AS OF $v GROUP BY o_orderpriority",
        t.versions(v))

      // table maintenance: each cycle one table compacts and vacuums while
      // the other checkpoints and lists its history, swapping every cycle
      if (i < 0) ()
      else if ((ti + i) % 2 != 0) {
        run(t, "optimize", s"OPTIMIZE ${t.name}")(identity)
        run(t, "vacuum", s"VACUUM ${t.name} RETAIN $RetainVersions VERSIONS")(identity)
      } else {
        run(t, "checkpoint", s"CHECKPOINT ${t.name}")(identity)
        val top = run(t, "history", s"DESCRIBE HISTORY ${t.name}")(identity)
          .map(_.getAs[Number]("version").intValue).max
        if (top != VersionLog.head(spark, t.vdir)) problems += s"${t.name} history tops at $top"
      }
      spark.catalog.dropTempView(view)
    }
    Outcome(problems.isEmpty, samples.toSeq, problems.mkString("; "), samples.map(_._2).sum)
  }

  /** Final heads and one earlier version must equal the model's replay. */
  def finish(ctx: Ctx, ops: Seq[OpRecord]): Finish = {
    val spark = ctx.spark
    val problems = mutable.ArrayBuffer[String]()
    def content(sql: String): Model = TreeMap(TableSql(spark, registry, sql).collect().toSeq.map(r =>
      r.getLong(0) -> (r.getString(1), math.round(r.getDouble(2) * 100))): _*)
    tables.foreach { t =>
      val h = VersionLog.head(spark, t.vdir)
      val cols = "o_orderkey, o_orderpriority, o_totalprice"
      if (content(s"SELECT $cols FROM ${t.name}") != t.model) problems += s"${t.name}: head differs from replay"
      if (content(s"SELECT $cols FROM ${t.name} VERSION AS OF ${h - 1}") != t.versions(h - 1))
        problems += s"${t.name}: version ${h - 1} differs from replay"
    }
    // end of run: log size, live files, then space amplification after a
    // final VACUUM against one compact write of the head rows
    val logVersions = tables.map(t => VersionLog.head(spark, t.vdir) + 1).sum.toDouble
    val filesLive = tables.map(t => TableSql(spark, registry, s"DESCRIBE DETAIL ${t.name}")
      .select("n_files").head().getLong(0)).sum.toDouble
    tables.foreach(t => TableSql(spark, registry, s"VACUUM ${t.name} RETAIN 1 VERSIONS").collect())
    val onDisk = tables.map(t => Main.fileSizes(s"${ctx.dir}/${t.name}").values.sum).sum
    val compact = tables.map { t =>
      val out = s"${ctx.dir}/compact_${t.name}"
      TableSql(spark, registry, s"SELECT * FROM ${t.name}").coalesce(1).write.parquet(out)
      Main.fileSizes(out).collect { case (p, s) if p.endsWith(".parquet") => s }.sum
    }.sum

    val plain = ops.filterNot(_.traced).map(_.i).toSet
    val measured = stmts.filter(s => plain.contains(s.op))
    val reads = measured.filter(_.kind.startsWith("read"))
    val mutation = measured.filterNot(s => s.kind.startsWith("read") || s.kind == "history")
    val written = stmts.map(_.bytesWritten).sum.toDouble
    val submittedBytes = stmts.map(_.rows).sum.toDouble * RowBytes
    Finish(problems.isEmpty, problems.toSeq, Seq(
      ("table_mutations.mutation_p50_s", Stats.median(mutation.map(_.secs).toSeq), "s"),
      ("table_mutations.read_p50_s", Stats.median(reads.map(_.secs).toSeq), "s"),
      ("table_mutations.write_amp", written / submittedBytes, "ratio"),
      ("table_mutations.space_amp", onDisk.toDouble / compact, "ratio")),
      Map("io.log_versions" -> logVersions, "io.files_live" -> filesLive,
        "io.write_amp" -> written / submittedBytes, "io.space_amp" -> onDisk.toDouble / compact))
  }

  override def layers(ctx: Ctx, ops: Seq[OpRecord]): Map[String, Double] = {
    val spans = Layers.spansByOp(ctx).values.flatten.toSeq
    if (spans.isEmpty) return Map()
    val plain = ops.filterNot(_.traced).map(_.i).toSet
    if (insertFsLog.nonEmpty)  // paths relative to the set-up directory
      java.nio.file.Files.write(java.nio.file.Paths.get(s"${ctx.dir}/insert_fs_ops.txt"),
        insertFsLog.map(_.replace("file:", "").replace(s"${ctx.dir}/", "") + "\n").mkString.getBytes("UTF-8"))
    Layers.ioKinds.flatMap { k =>
      val ks = spans.filter(_.name == s"io.$k")
      def med(f: Span => Double) = Stats.median(ks.map(f))
      Seq(
        s"io.${k}_p50_s" -> Stats.median(stmts.filter(s => s.kind == k && plain.contains(s.op)).map(_.secs).toSeq),
        s"io.$k.jobs" -> med(_.counters.jobs.toDouble),
        s"io.$k.driver_ms" -> med(_.driverMs.toDouble),
        s"io.$k.fs_ops" -> med(_.counters.fsOps.toDouble),
        s"io.$k.bytes_written" -> Stats.median(stmts.filter(_.kind == k).map(_.bytesWritten.toDouble).toSeq))
    }.toMap + ("valid.insert_fs_ops" -> insertFsLog.size.toDouble)
  }
}

object TableWorkload {
  val InitialRows = 20000
  val KeyStep = 4L
  val InsertRows = 200
  val MergeSpan = 400
  val RangeSpan = 100
  val RetainVersions = 3
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  /** Logical bytes of one submitted row: two 8-byte numbers and a ~10-char priority. */
  val RowBytes = 26.0
  val SumSql = "SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS s"
  val Schema = StructType(Seq(StructField("o_orderkey", LongType),
    StructField("o_orderpriority", StringType), StructField("o_totalprice", DoubleType)))
}
