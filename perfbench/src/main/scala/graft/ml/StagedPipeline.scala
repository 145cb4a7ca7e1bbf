package graft.ml

import org.apache.spark.ml.classification.{DecisionTreeClassificationModel, GBTClassificationModel,
  LogisticRegressionModel, RandomForestClassificationModel}
import org.apache.spark.sql.SparkSession

/** [[RunPipeline.run]] stage by stage, for the benchmark's traced run: the
  * same public entry points in the same order, each inside `stage`, so the
  * tracer can attribute every Spark job to one of the eight stages.
  *
  * It lives in `graft.ml` because the pipeline's sampling step
  * (`Shap.sampleRows`) and its run-log writer are package-private. The
  * evaluation and explainability report writers are private to
  * `RunPipeline`, so this path computes those reports' contents (the
  * expected value included) but does not write the two files; it writes
  * the training run log and promotes the champion as `run` does. Ingest is
  * lazy in both paths: its rows are generated by the first job that reads
  * them, in validate. */
object StagedPipeline {
  val Stages: Seq[String] =
    Seq("ingest", "validate", "features", "split", "train", "evaluate", "explain", "promote")

  /** Files this path writes into the model directory. */
  val Reports: Seq[String] = Seq("training_run_log.json", "current/metadata.json")

  trait Stage { def apply[T](name: String)(body: => T): T }

  /** The pipeline's result and the number of cross-validation fits the
    * grid search made (grid combinations times folds, over the models
    * that trained). */
  final case class Result(pipeline: RunPipeline.PipelineResult, cvFits: Int)

  def run(spark: SparkSession, config: PipelineConfig, stage: Stage): Result = {
    val raw = stage("ingest")(DataGen.generate(spark, config.nSamples, config.randomState))
    stage("validate")(DataGen.validate(raw))
    val (feat, preprocessor) = stage("features")(
      FeaturePipeline.fit(raw, config.outlierClipSigma, config.scalerMethod))
    val (trainC, testC, nTrain, nTest) = stage("split") {
      val (train, test) = Split.stratified(feat.select("features", "label"),
        "label", config.testSize, config.randomState)
      val trainC = train.cache(); val testC = test.cache()
      (trainC, testC, trainC.count(), testC.count())
    }
    val (trained, cvFits) = stage("train") {
      val detailed = Training.trainAllDetailed(config, trainC)
      RunPipeline.writeTrainingRunLog(config, detailed)
      (detailed.map(_._1), detailed.map(_._2.size).sum * config.cvFolds)
    }
    val (scores, champion) = stage("evaluate") {
      val scores = trained.map(t => Evaluation.evaluate(t.model, testC, t.name))
      (scores, Evaluation.selectChampion(scores,
        config.championF1Threshold, config.championAucThreshold))
    }
    val championModel = champion.map(c => c -> trained.find(_.name == c.name).get.model)
    stage("explain") {
      championModel.foreach { case (_, model) =>
        val sample = Shap.sampleRows(testC, config.shapSampleSize, config.randomState)
          .localCheckpoint(true)
        val (shapLong, _) = model match {
          case lr: LogisticRegressionModel =>
            val means = Shap.backgroundMeans(sample, lr.coefficients.size)
            val ev = lr.intercept + lr.coefficients.toArray.zipWithIndex
              .map { case (w, i) => w * means(i) }.sum
            (Shap.linearShapOn(lr, sample, means), ev)
          case m =>
            val nFeat = m match {
              case rf: RandomForestClassificationModel => rf.numFeatures
              case gbt: GBTClassificationModel => gbt.numFeatures
              case dt: DecisionTreeClassificationModel => dt.numFeatures
              case _ => 0
            }
            (TreeShap.shapValues(m, sample, nFeat), TreeShap.expectedValue(m))
        }
        Shap.globalImportance(shapLong, config.maxDisplayFeatures).collect()
        sample.count()
      }
    }
    stage("promote") {
      championModel.foreach { case (c, model) =>
        Deployment.promote(config.modelDir, model, preprocessor,
          Deployment.ChampionMeta(c.name, c.f1, c.rocAuc,
            java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC).toString))
      }
    }
    trainC.unpersist(); testC.unpersist()
    Result(RunPipeline.PipelineResult(champion, scores, nTrain, nTest), cvFits)
  }
}
