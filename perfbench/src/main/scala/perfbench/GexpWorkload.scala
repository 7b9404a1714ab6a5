package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.ml.{DeterministicSplits, GexpPipeline, Models, Normalization, PipelineStages}

/** The paper's workload: the gene-expression phenotype pipeline
  * (`GexpPipeline.run`) over a seeded synthetic FPKM matrix in the array
  * layout. Every op re-reads the matrix and runs the whole pipeline. */
class GexpWorkload extends Workload {
  import GexpWorkload._
  val unit = "pipeline"
  private var path: String = _
  private var expectedKept: Int = -1

  def prepare(ctx: Ctx): Unit = {
    val rows = matrix(ctx.seed)
    expectedKept = featuresKept(rows.map(_._2))
    path = s"${ctx.dir}/matrix"
    val schema = StructType(Seq(StructField("id", LongType), StructField("label", StringType),
      StructField("features", ArrayType(DoubleType, containsNull = false))))
    ctx.spark.createDataFrame(
      ctx.spark.sparkContext.parallelize(rows.map { case (id, f, l) => Row(id, l, f.toSeq) }.toIndexedSeq,
        ctx.cores), schema)
      .write.parquet(path)
  }

  /** No warm-up: the pipeline is measured as a user submitting it runs
    * it — once, in a fresh JVM, JIT compilation included. A traced run does
    * warm up, so its untraced and traced ops are both warm pipelines. */
  override def warmup(ctx: Ctx, traced: Boolean): Outcome =
    if (traced) op(ctx, -1) else Outcome(ok = true)

  def op(ctx: Ctx, i: Int): Outcome = {
    val df = ctx.trace("io.load") { ctx.spark.read.parquet(path) }
    val r =
      if (ctx.trace.enabled) traced(ctx, df)
      else GexpPipeline.run(df, "id", "features", "label")
    val problems = Seq(
      (r.accuracy < AccuracyFloor) -> s"accuracy ${r.accuracy} < $AccuracyFloor",
      (r.cvMean < AccuracyFloor) -> s"cv mean ${r.cvMean} < $AccuracyFloor",
      (r.nTrain + r.nTest != Samples) -> s"n_train + n_test = ${r.nTrain + r.nTest} != $Samples",
      (r.nFeaturesKept != expectedKept) -> s"n_features_kept ${r.nFeaturesKept} != $expectedKept")
      .collect { case (true, msg) => msg }
    Outcome(problems.isEmpty, note = problems.mkString("; "))
  }

  /** `GexpPipeline.run`'s stages called one by one, in its order, each in
    * a span. Lazy stages (transform, split) are timed as plan construction;
    * their scans execute inside the next span that runs a job. */
  private def traced(ctx: Ctx, df: DataFrame): GexpPipeline.Result = {
    val t = ctx.trace
    val fc = "features"
    val uq = t("ml.uq_fit") { new Normalization.UpperQuartile(0.75, fc).fit(df) }
    val normalized = t("ml.uq_transform") { uq.transform(df).persist(StorageLevel.MEMORY_AND_DISK) }
    val (means, vars) = t("ml.feature_stats") { GexpPipeline.positionStatsExact(normalized, fc) }
    val (train, test, trainReady, testReady, kept) = t("ml.prepare") {
      val tm = graft.relational.StatsProjection.quantileType7(means.toSeq, 0.25)
      val tv = graft.relational.StatsProjection.quantileType7(vars.toSeq, 0.25)
      val kept = means.indices.filter(i => means(i) > tm && vars(i) > tv)
      val masked = Normalization.maskPositions(col(fc), kept, means.length)
      val prepared = normalized
        .withColumn(fc, graft.matrix.ArrayOps.log2p1(masked))
        .withColumn("features_vec", PipelineStages.arrayToVector(col(fc)))
      val train = DeterministicSplits.trainSplit(prepared, col("id"), 0.7)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val test = DeterministicSplits.testSplit(prepared, col("id"), 0.7)
      val labelIndex = PipelineStages.fitLabelIndex(train, "label")
      def encoded(part: DataFrame) =
        PipelineStages.encodeLabels(part, labelIndex, "label").na.drop(Seq("label_index"))
      val scaler = PipelineStages.standardScaler("features_vec", "features_std").fit(encoded(train))
      (train, test, scaler.transform(encoded(train)).persist(StorageLevel.MEMORY_AND_DISK),
        scaler.transform(encoded(test)), kept)
    }
    val rf = Models.randomForest("label_index", "features_std", numTrees = 30)
    val model = t("ml.rf_fit") { rf.fit(trainReady) }
    val accuracy = t("ml.eval") {
      Models.accuracy("label_index").evaluate(model.transform(testReady)
        .select(col("id"), col("label_index"), col("prediction")))
    }
    val cv = t("ml.cv") {
      Models.kFoldCvWithPreds(trainReady, 3, "id",
        tr => { val m = rf.fit(tr); te => m.transform(te) },
        scored => Models.accuracy("label_index").evaluate(scored))(_ => ())
    }
    val cvMean = cv.sum / cv.size
    val (nTrain, nTest) = t("ml.eval") { (train.count(), test.count()) }
    trainReady.unpersist(); train.unpersist(); normalized.unpersist()
    GexpPipeline.Result(nTrain, nTest, kept.size, accuracy, cvMean,
      cv.map(s => (s - cvMean) * (s - cvMean)).sum / cv.size)
  }

  def finish(ctx: Ctx, ops: Seq[OpRecord]): Finish = Finish(ok = true, Nil,
    Seq(("gexp_pipeline.pipeline_p50_s", Stats.median(ops.filterNot(_.traced).map(_.wallS)), "s")))

  override def layers(ctx: Ctx, ops: Seq[OpRecord]): Map[String, Double] = {
    val byOp = Layers.spansByOp(ctx).values.toSeq
    if (byOp.isEmpty) return Map()
    def sumOf(spans: Seq[Span], name: String, f: Span => Double) =
      spans.filter(_.name == name).map(f).sum
    val stages = Seq("io.load", "ml.uq_fit", "ml.uq_transform", "ml.feature_stats",
      "ml.prepare", "ml.rf_fit", "ml.eval", "ml.cv")
    val walls = stages.map(n => s"${n}_s" -> Stats.median(byOp.map(sumOf(_, n, _.wallMs / 1000.0))))
    val mlSpans = byOp.map(_.filter(_.name.startsWith("ml.")))
    walls.toMap ++ Map(
      "ml.rf_fit.jobs" -> Stats.median(byOp.map(sumOf(_, "ml.rf_fit", _.counters.jobs.toDouble))),
      "ml.cv.jobs" -> Stats.median(byOp.map(sumOf(_, "ml.cv", _.counters.jobs.toDouble))),
      "ml.driver_ms" -> Stats.median(mlSpans.map(_.map(_.driverMs.toDouble).sum)),
      "ml.slot_util" -> Stats.median(mlSpans.map(s => Layers.slotUtil(
        s.map(_.counters).foldLeft(Counters())(_ + _), s.map(_.wallMs.toDouble).sum, ctx.cores))))
  }
}

object GexpWorkload {
  val Samples = 240
  val Genes = 2000
  val Classes = Seq("basal", "her2", "luminal")
  /** Genes carrying the planted class signal (every 50th, offset 7). */
  val SignalGenes: Seq[Int] = (7 until Genes by 50)
  val AccuracyFloor = 0.9

  /** Seeded FPKM-like matrix: log-normal expression around a per-gene
    * level, every 97th gene all-zero (dropped by the normalizer's mask),
    * and a planted signal — each signal gene is 6× up in one class — so
    * the label is learnable and accuracy has a floor to check. */
  def matrix(seed: Long): IndexedSeq[(Long, Array[Double], String)] = {
    val rnd = new java.util.Random(seed)
    val level = Array.fill(Genes)(rnd.nextGaussian() * 1.5 + 2.0)
    (0 until Samples).map { s =>
      val cls = rnd.nextInt(Classes.size)
      val f = Array.tabulate(Genes) { g =>
        if (g % 97 == 0) 0.0
        else {
          val up = if (SignalGenes.contains(g) && (g / 50) % Classes.size == cls) math.log(6.0) else 0.0
          math.rint(math.exp(level(g) + up + rnd.nextGaussian() * 0.5) * 1000) / 1000
        }
      }
      (s.toLong, f, Classes(cls))
    }
  }

  /** `n_features_kept` recomputed on the driver in plain arithmetic,
    * independent of `graft.ml`: drop all-zero genes, scale each row by its
    * q75 / sum factor (a global rescale cannot change the kept set, so the
    * geometric-mean symmetrization is skipped), then keep genes whose mean
    * and variance both exceed their own type-7 q25. */
  def featuresKept(rows: Seq[Array[Double]]): Int = {
    val n = rows.size
    val live = (0 until Genes).filter(g => rows.exists(_(g) > 0.0))
    val scaled = rows.map { r =>
      val m = live.map(r(_)).toArray
      val factor = Stats.quantile(m.toSeq, 0.75) / m.sum
      m.map(_ * factor)
    }
    val means = live.indices.map(j => scaled.map(_(j)).sum / n)
    val vars = live.indices.map { j =>
      val s = scaled.map(_(j)).sum; val s2 = scaled.map(x => x(j) * x(j)).sum
      (s2 - s * s / n) / (n - 1.0)
    }
    val tm = Stats.quantile(means, 0.25)
    val tv = Stats.quantile(vars, 0.25)
    live.indices.count(j => means(j) > tm && vars(j) > tv)
  }
}
