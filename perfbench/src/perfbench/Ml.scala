package perfbench

import scala.collection.mutable
import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.ml.{Fit, Metrics, Predict, TrainTestSplit}
import graft.engine.schema.Schemas.IrisColumns._

/** `ml`: the paper's own pipeline over an iris-shaped table — split (both
  * sides written) → fit → save/load round trip → score → metrics → a
  * cross-validated fit over the default grid. */
final class Ml(ctx: Ctx, val nRows: Long) extends Workload {
  private val spark = ctx.spark
  private var tablePath = ""
  val fitS = mutable.ArrayBuffer.empty[Double]
  val cvS = mutable.ArrayBuffer.empty[Double]
  val predictRowsPerS = mutable.ArrayBuffer.empty[Double]
  val passWall = mutable.ArrayBuffer.empty[Double]

  def setup(): Unit = {
    tablePath = ctx.fresh("ml-table")
    Ml.iris(spark, nRows, ctx.seed).write.parquet(tablePath)
  }

  def nominalUnitS: Double = 6.0
  def unit(checks: Checks): Unit = passWall += pass(checks)
  def reset(): Unit = Seq(fitS, cvS, predictRowsPerS, passWall).foreach(_.clear())

  private def pass(checks: Checks): Double = {
    val dir = ctx.fresh("ml-pass")
    val t0 = Ctx.now()
    val table = spark.read.parquet(tablePath)
    val (train, test) = ctx.span("ml.TrainTestSplit.split") {
      val (tr, te) = TrainTestSplit.split(table, seed = ctx.seed)
      tr.write.parquet(s"$dir/train")
      te.write.parquet(s"$dir/test")
      (spark.read.parquet(s"$dir/train"), spark.read.parquet(s"$dir/test"))
    }
    val tf = Ctx.now()
    val model = ctx.span("ml.Fit.pipelined")(Fit.pipelined(train))
    fitS += Ctx.secs(tf)
    ctx.span("ml.Predict.saveStage")(Predict.saveStage(model, s"$dir/model"))
    if (ctx.plant == "swap_model")
      Predict.saveStage(Fit.pipelined(Ml.rotated(train)), s"$dir/model")
    val reloaded = ctx.span("ml.Predict.loadStage") {
      Predict.loadStage(PipelineModel, s"$dir/model")
    }
    val nTest = test.count()
    val tp = Ctx.now()
    val scored = ctx.span("ml.Predict.score") {
      val r = Predict.score(reloaded.transform, test)
      Predict.write(r.scored.select(col("row_id"), col(label),
        col(prediction), col(predictedTarget)), s"$dir/scored", overwrite = true)
      spark.read.parquet(s"$dir/scored")
    }
    predictRowsPerS += nTest / Ctx.secs(tp)
    val m = ctx.span("ml.Metrics.multiclassMetrics") {
      Metrics.multiclassMetrics(scored, label, prediction).head()
    }
    val tc = Ctx.now()
    val cv = ctx.span("ml.Fit.crossValidated")(Fit.crossValidated(train))
    cvS += Ctx.secs(tc)
    val wall = Ctx.secs(t0)
    checks.op()
    ctx.span("bench.check")(verify(model, test, scored, m, cv.avgMetrics, checks))
    Ctx.rm(dir)
    wall
  }

  private def verify(model: PipelineModel, test: DataFrame, scored: DataFrame,
      m: org.apache.spark.sql.Row, cvMetrics: Array[Double],
      checks: Checks): Unit = {
    Seq("accuracy" -> "accuracy", "weightedPrecision" -> "weighted_precision",
      "weightedRecall" -> "weighted_recall", "f1" -> "weighted_f1").foreach {
      case (mllib, ours) =>
        val ref = new MulticlassClassificationEvaluator().setLabelCol(label)
          .setPredictionCol(prediction).setMetricName(mllib).evaluate(scored)
        val got = m.getAs[Double](ours)
        checks.check(math.abs(ref - got) <= 1e-6,
          s"ml: multiclassMetrics $ours $got != MLlib $mllib $ref")
    }
    val original = model.transform(test)
      .select(col("row_id"), col(predictedTarget).as("orig"))
    val differ = original.join(scored, "row_id")
      .filter(col("orig") =!= col(predictedTarget)).count()
    val joined = original.join(scored, "row_id").count()
    checks.check(differ == 0L && joined == test.count(),
      s"ml: reloaded model disagrees with the original on $differ of $joined rows")
    val acc = m.getAs[Double]("accuracy")
    checks.check(acc >= Ml.AccuracyFloor,
      s"ml: accuracy $acc below the generator's floor ${Ml.AccuracyFloor}")
    checks.check(cvMetrics.nonEmpty && cvMetrics.forall(_ >= Ml.AccuracyFloor - 0.05),
      s"ml: cross-validated f1 ${cvMetrics.mkString(",")} below the floor")
  }

  /** Rate: test rows scored per second; latency: the wall of one pass
    * (split through cross-validation). */
  def report(out: Out): Unit = {
    out.e2e("rate_per_s") = (Stats.median(predictRowsPerS.toSeq), "1/s")
    latency(out, passWall.map(_ * 1000.0).toSeq)
    out.context("ml.fit_s") = Stats.median(fitS.toSeq)
    out.context("ml.cv_s") = Stats.median(cvS.toSeq)
    out.context("ml.rows") = nRows
    out.context("ml.passes") = fitS.size
  }
}

object Ml {
  val SixMeasureSpans = Seq("ml.TrainTestSplit.split", "ml.Fit.pipelined",
    "ml.Predict.score", "ml.Fit.crossValidated")

  /** setosa sits far from the other two; versicolor and virginica overlap
    * (their centres are 2–3 standard deviations apart on the petal
    * features), which puts the best achievable accuracy near 0.95. A
    * forest below this floor has lost the class structure. */
  val AccuracyFloor = 0.85

  /** Iris-shaped rows: (row_id, 4 doubles, species), three overlapping
    * Gaussians, each row a pure function of (seed, row_id). */
  def iris(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    import spark.implicits._
    val centre = Array(Array(5.0, 3.4, 1.5, 0.25), Array(5.9, 2.8, 4.3, 1.3),
      Array(6.6, 3.0, 5.6, 2.0))
    val sd = Array(0.35, 0.3, 0.45, 0.3)
    val names = Array("setosa", "versicolor", "virginica")
    spark.range(0L, n, 1L, 2).map { b =>
      val id = b.longValue
      val rnd = new java.util.Random(seed ^ (id * 2654435761L))
      val k = (id % 3L).toInt
      val f = Array.tabulate(4)(i => centre(k)(i) + sd(i) * rnd.nextGaussian())
      (id, f(0), f(1), f(2), f(3), names(k))
    }.toDF("row_id", "sepal_length", "sepal_width", "petal_length",
      "petal_width", "species")
  }

  /** The same rows with species names rotated: a model fit on this
    * predicts the wrong name for every class (the swapped-model fault). */
  def rotated(df: DataFrame): DataFrame =
    df.withColumn("species", when(col("species") === "setosa", "versicolor")
      .when(col("species") === "versicolor", "virginica").otherwise("setosa"))
}
