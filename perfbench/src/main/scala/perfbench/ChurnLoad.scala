package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.ml.{DataGen, ModelConfig, PipelineConfig, RunPipeline, StagedPipeline}

/** `churn`: `ml.RunPipeline.run`, raw rows to promoted champion, on seeded
  * `DataGen` rows with the small grid below. Every iteration writes into a
  * fresh model directory. The traced run calls the same stages one by one
  * through [[graft.ml.StagedPipeline]], so each stage is a span. */
final class ChurnLoad(a: Main.Args) extends Workload {
  import ChurnLoad._

  private val scores = mutable.ArrayBuffer.empty[Map[String, (Double, Double)]]
  private var cvFits = 0

  def config(it: Int): PipelineConfig = PipelineConfig(
    nSamples = Rows, testSize = 0.2, randomState = a.seed.toInt, cvFolds = Folds,
    models = Grid, championF1Threshold = MinF1, championAucThreshold = MinAuc,
    modelDir = s"${a.work}/churn_models/seed${a.seed}_it$it", gridParallelism = a.cores)

  /** A batch pipeline runs once per process: the timed run is cold. */
  override def warmIterations: Int = 0
  override def minTimed: Int = 1
  override def minTraced: Int = 1
  /** A set-up here is a fifth of a second, so a burst of host load
    * moves one set-up by a large share: take the median of more. */
  override def setups: Int = 15
  /** The staged run makes the same calls as `RunPipeline.run`; its time
    * must agree with the untraced run after it. One cold churn run takes
    * up to 45% longer than another on a loaded host, so only a gross
    * difference, such as a stage left out, fails the run. */
  override def tracedAgreement: Option[Double] = Some(0.5)

  def open(spark: SparkSession): Unit = {
    val ckpt = Paths.get(a.work, "checkpoints")
    Files.createDirectories(ckpt)
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    DataGen.generate(spark, Rows, a.seed).schema
  }

  def iterate(spark: SparkSession, it: Int): Iter =
    run(spark, it, Reports)(cfg => Span(spark, "run")(RunPipeline.run(spark, cfg)))

  override def iterateTraced(spark: SparkSession, it: Int): Iter = {
    val stage = new StagedPipeline.Stage {
      def apply[T](name: String)(body: => T): T = Span(spark, name)(body)
    }
    run(spark, it, StagedPipeline.Reports) { cfg =>
      val r = StagedPipeline.run(spark, cfg, stage)
      cvFits = r.cvFits
      r.pipeline
    }
  }

  private def run(spark: SparkSession, it: Int, reports: Seq[String])(
      pipeline: PipelineConfig => RunPipeline.PipelineResult): Iter = {
    val cfg = config(it)
    val t0 = System.nanoTime()
    val failures = mutable.ArrayBuffer.empty[String]
    try {
      val r = pipeline(cfg)
      Span(spark, "consume") {
        if (r.nTrain + r.nTest != Rows) failures += s"train ${r.nTrain} + test ${r.nTest} != $Rows"
        if (r.champion.isEmpty) failures += "no champion selected"
        reports.filterNot(f => Files.exists(Paths.get(cfg.modelDir, f)))
          .foreach(f => failures += s"missing $f")
        scores += r.scores.map(s => s.name -> (s.f1, s.rocAuc)).toMap
      }
    } catch {
      case NonFatal(e) => failures += s"churn: ${Option(e.getMessage).getOrElse(e.toString).take(200)}"
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Iter(wall, Seq(Name -> wall), 1, failures.toSeq)
  }

  override def layerDetail(calls: Seq[Span.Call], totals: Map[String, SpanTotals],
                           progress: Seq[Progress]): Map[String, Double] = {
    val stages = StagedPipeline.Stages.map(s =>
      s"churn.stage.${s}_s" -> calls.filter(_.label == s).map(_.wallS).sum).toMap
    stages + ("churn.cv_fits" -> cvFits.toDouble)
  }

  /** Largest spread of any model's F1 across all of the run's pipeline
    * runs; the fits use fixed seeds, so anything above 0 is score drift. */
  override def runDetail(spark: SparkSession): Map[String, Double] = {
    val spread = scores.flatMap(_.keys).distinct.map { m =>
      val f1 = scores.flatMap(_.get(m)).map(_._1)
      f1.max - f1.min
    }.maxOption.getOrElse(0.0)
    Map("churn.score_spread" -> spread)
  }

  def describe: Map[String, String] = Map(
    "rows" -> Rows.toString, "folds" -> Folds.toString,
    "thresholds" -> s"f1>=$MinF1 auc>=$MinAuc",
    "scores" -> scores.map(_.toSeq.sorted.map { case (m, (f, u)) =>
      f"$m:f1=$f%.4f,auc=$u%.4f" }.mkString(" ")).mkString(" | "))
}

object ChurnLoad {
  val Name = "churn"
  val Rows = 2000
  val Folds = 2
  /** Low enough that a model always qualifies at this size, so explain
    * and promote run: the reference's 0.65/0.70 selects nothing here (F1
    * 0.15 to 0.45, AUC about 0.62). */
  val MinF1 = 0.1
  val MinAuc = 0.55
  /** Logistic regression is off: a cold run with it takes a third longer,
    * which the run budget does not allow. A tree model therefore wins and
    * the explain stage runs TreeSHAP. */
  val Grid: Map[String, ModelConfig] = Map(
    "logistic_regression" -> ModelConfig(enabled = false, grid = Map("C" -> Seq(1.0))),
    "random_forest" -> ModelConfig(enabled = true,
      grid = Map("n_estimators" -> Seq(5.0), "max_depth" -> Seq(4.0))),
    "xgboost" -> ModelConfig(enabled = true,
      grid = Map("n_estimators" -> Seq(5.0), "max_depth" -> Seq(3.0))))
  /** The four reports of a promoted run. */
  val Reports: Seq[String] = Seq("training_run_log.json", "evaluation_report.json",
    "explainability_report.json", "current/metadata.json")
}
