package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Read-only batch analytics: each op is one pass over a fixed mix of
  * oracle-backed `SparkEntry.queries`, in a seed-shuffled order, through
  * the `noop` sink, over a seeded TPC-H-shaped corpus. Every query is one
  * latency sample. */
class SqlWorkload extends Workload {
  import SqlWorkload._
  val unit = "pass"
  private var corpus: String = _

  def prepare(ctx: Ctx): Unit = {
    corpus = s"${ctx.dir}/corpus"
    Corpus.write(ctx.spark, corpus, ctx.seed)
  }

  def op(ctx: Ctx, i: Int): Outcome = pass(ctx, i)((_, df) => df.write.format("noop").mode("overwrite").save())

  /** The warm-up pass writes every query's result as parquet beside its
    * DuckDB oracle SQL, for the differential check run after the JVM
    * exits. The corpus is fixed within a run and the queries are
    * deterministic, so these are every pass's results. */
  override def warmup(ctx: Ctx, traced: Boolean): Outcome = {
    val out = s"${ctx.dir}/results"
    val o = pass(ctx, -1)((q, df) => df.coalesce(1).write.parquet(s"$out/$q"))
    val oracle = Json.obj(Queries.map(q => q -> graft.SparkEntry.oracleSql(q)))
    Files.write(Paths.get(s"$out/oracle_sql.json"), oracle.json.getBytes("UTF-8"))
    Files.write(Paths.get(s"$out/corpus_dir"), corpus.getBytes("UTF-8"))
    o
  }

  /** One pass; each query's wall is one latency sample. */
  private def pass(ctx: Ctx, i: Int)(sink: (String, DataFrame) => Unit): Outcome = {
    val order = new scala.util.Random(ctx.seed * 1000003L + i).shuffle(Queries)
    val walls = order.map { q =>
      val t = System.nanoTime()
      ctx.trace(s"sql.${short(q)}") { sink(q, graft.SparkEntry.queries(q)(ctx.spark, corpus)) }
      q -> (System.nanoTime() - t) / 1e9
    }
    Outcome(ok = true, walls, busyS = walls.map(_._2).sum)
  }

  def finish(ctx: Ctx, ops: Seq[OpRecord]): Finish = {
    val layers =
      if (!ctx.trace.enabled) Map.empty[String, Double]
      else {
        // input_bytes ground truth: a full scan of lineitem must read
        // (about) the bytes of its parquet file
        ctx.trace.op = -2
        ctx.trace("valid.scan") {
          ctx.spark.read.parquet(s"$corpus/lineitem.parquet").write.format("noop").mode("overwrite").save()
        }
        val scanned = ctx.trace.spans.last.counters.inputBytes.toDouble
        val size = Main.fileSizes(s"$corpus/lineitem.parquet").collect {
          case (p, s) if p.endsWith(".parquet") => s }.sum
        Map("valid.input_bytes_ratio" -> scanned / size)
      }
    Finish(ok = true, Nil,
      Seq(("sql_analytics.pass_p50_s", Stats.median(ops.filterNot(_.traced).map(_.outcome.busyS)), "s")),
      layers)
  }

  override def layers(ctx: Ctx, ops: Seq[OpRecord]): Map[String, Double] = {
    val passes = Layers.spansByOp(ctx).values.toSeq.map(_.filter(_.name.startsWith("sql.")))
    if (passes.isEmpty) return Map()
    def perPass(f: Seq[Span] => Double) = Stats.median(passes.map(f))
    def sumC(s: Seq[Span]) = s.map(_.counters).foldLeft(Counters())(_ + _)
    Queries.map { q =>
      s"sql.${short(q)}_s" -> perPass(_.filter(_.name == s"sql.${short(q)}").map(_.wallMs / 1000.0).sum)
    }.toMap ++ Map(
      "sql.exec_cpu_ms" -> perPass(s => sumC(s).execCpuMs.toDouble),
      "sql.shuffle_write_bytes" -> perPass(s => sumC(s).shuffleWriteBytes.toDouble),
      "sql.input_bytes" -> perPass(s => sumC(s).inputBytes.toDouble),
      "sql.driver_ms" -> perPass(_.map(_.driverMs.toDouble).sum),
      "sql.slot_util" -> perPass(s => Layers.slotUtil(sumC(s), s.map(_.wallMs.toDouble).sum, ctx.cores)))
  }
}

object SqlWorkload {
  /** A mix of scan-aggregate, join, window, self-join and text queries. */
  val Queries: Seq[String] = Seq("q01_pricing_summary", "q02_revenue_by_nation",
    "q06_latest_orders_per_customer", "q139_copurchase", "q51_range_join",
    "q81_tfidf_topterms")
  def short(q: String): String = q.takeWhile(_ != '_')
}

/** Seeded generator of the TPC-H-shaped corpus the query mix reads: the
  * same tables, columns and value domains as the engine's test data, at a
  * fixed size, one parquet file per table. */
object Corpus {
  val Lineitems = 30000
  val Orders = 7500
  val Customers = 750
  val Parts = 1000
  val Suppliers = 50
  val Documents = 250

  private val Words = ("key agg row scan slow fast table value part hash merge batch spark " +
    "a the line sort window data column join small customer query order group stream " +
    "filter big vector").split(" ").toIndexedSeq

  def write(spark: SparkSession, dir: String, seed: Long): Unit = {
    val rnd = new java.util.Random(seed)
    def cents(lo: Int, hi: Int) = (lo + rnd.nextInt(hi - lo + 1)) / 100.0
    def day(from: String, span: Int) =
      new Timestamp((java.time.LocalDate.parse(from).toEpochDay + rnd.nextInt(span)) * 86400000L)
    def pick[T](xs: Seq[T]) = xs(rnd.nextInt(xs.size))
    def put(name: String, fields: Seq[(String, DataType)], rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
        StructType(fields.map { case (n, t) => StructField(n, t) }))
        .write.parquet(s"$dir/$name.parquet")

    put("region", Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (n, i) => Row(i, n) })
    put("nation", Seq("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    put("customer", Seq("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until Customers).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25), cents(-99999, 999999),
        pick(Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")))))
    put("orders", Seq("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
      (0 until Orders).map(i => Row(i.toLong, rnd.nextInt(Customers).toLong, pick(Seq("P", "O", "F")),
        cents(101370, 49997859), day("1995-01-01", 2404),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))))
    put("lineitem", Seq("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
      "l_linestatus" -> StringType, "l_shipdate" -> TimestampType),
      (0 until Lineitems).map(_ => Row(rnd.nextInt(Orders).toLong, rnd.nextInt(Parts).toLong,
        rnd.nextInt(Suppliers).toLong, 1 + rnd.nextInt(7), (1 + rnd.nextInt(50)).toDouble,
        cents(90182, 10499788), rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
        pick(Seq("A", "N", "R")), pick(Seq("O", "F")), day("1995-01-02", 2498))))
    put("documents", Seq("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
      (0 until Documents).map { i =>
        val text = Seq.fill(25 + rnd.nextInt(46))(pick(Words)).mkString(" ")
        Row(i.toLong, text, pick(Seq("en", "en", "en", "de", "fr", "es", "zh")),
          s"src${rnd.nextInt(20)}", text.length.toLong)
      })
  }
}
