package graft.ml

import org.apache.spark.ml.classification.{Classifier, GBTClassifier, LogisticRegression, RandomForestClassifier}
import org.apache.spark.ml.Model
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Features, Metrics}

/** Grid-search training over the reference's model registry (M8–M13,
  * `training.py:15-19,45-84`): exhaustive Cartesian grid × stratified
  * K-fold CV scored by f1, refit best on full train.
  *
  * Model mapping (offline jar set, SURVEY.md §2.4):
  *  - logistic_regression → MLlib LogisticRegression; sklearn C ↔
  *    regParam = 1/(C·n) (L2, elasticNetParam=0)
  *  - random_forest → RandomForestClassifier; min_samples_leaf ↔
  *    minInstancesPerNode. min_samples_split has NO MLlib analog — the
  *    first gap a user migrating the reference's RF grid hits
  *    (`pipeline_config.yaml:37-43` sweeps it; `training.py:15-19` binds
  *    it). Nearest knob: minInstancesPerNode, but the semantics differ —
  *    sklearn's min_samples_split stops a node with fewer than N samples
  *    from being CONSIDERED for splitting (pre-split gate on the parent),
  *    while minInstancesPerNode rejects any split whose CHILD would get
  *    fewer than N samples (post-split gate on the children). A split of
  *    an N-sample node into (N−1, 1) passes sklearn with
  *    min_samples_split=N but fails MLlib with minInstancesPerNode=N;
  *    conversely minInstancesPerNode=k implies every split parent has
  *    ≥ 2k samples, so min_samples_split≈2·minInstancesPerNode is the
  *    closest practical mapping (equivalent only for balanced splits).
  *    The dimension stays a swept grid axis here for combo-count parity
  *    with the reference (24 RF combos) but binds to no knob; trees are
  *    typically slightly DEEPER than sklearn's at equal settings.
  *  - xgboost → GBTClassifier surrogate (xgboost4j not shippable offline);
  *    subsample ↔ subsamplingRate, learning_rate ↔ stepSize.
  *
  * Parallelism: each fold-fit is cluster-data-parallel, AND the
  * (combo × fold) fits run concurrently on a bounded driver pool — the
  * analog of the reference's `GridSearchCV(n_jobs=-1)` outer loop and of
  * MLlib `CrossValidator.setParallelism`. Small-data fits cannot saturate
  * the cluster alone; concurrent job submission fills it.
  *
  * Repeatability, measured: every estimator has a fixed seed, yet
  * same-seed pipeline runs in one JVM do not all score alike. On 2,000
  * rows the GBT scores repeat exactly while the random forest's F1 moves
  * from run to run (0.1135, 0.0959, 0.0851 on data seed 11); on 20,000
  * rows GBT moved too (F1 0.320–0.331). Scores and champion selection
  * are therefore not guaranteed to repeat across runs.
  */
object Training {

  final case class TrainedModel(name: String, params: Map[String, Double],
                                cvScore: Double, model: Model[_])
  final case class CvResult(params: Map[String, Double], meanScore: Double)

  /** M12 — registry dispatch; unknown name throws (ref `training.py:45-46`). */
  def build(name: String, params: Map[String, Double], nTrain: Long): Classifier[_, _, _] =
    name match {
      case "logistic_regression" =>
        // standardization OFF: sklearn's LogisticRegression penalizes RAW
        // coefficients (it never standardizes internally), and the
        // C ↔ regParam = 1/(C·n) mapping below is exact only under the
        // same objective. MLlib's default standardization=true penalizes
        // wⱼ·σⱼ instead — the unscaled one-hot dims (σ ≤ 0.5) would be
        // regularized up to ~4× weaker than the sklearn C being swept,
        // so CV would score a different effective hyperparameter
        new LogisticRegression().setMaxIter(1000).setElasticNetParam(0.0)
          .setStandardization(false)
          .setRegParam(1.0 / (params.getOrElse("C", 1.0) * nTrain))
      case "random_forest" =>
        new RandomForestClassifier().setSeed(42L)
          .setNumTrees(params.getOrElse("n_estimators", 100.0).toInt)
          .setMaxDepth(params.getOrElse("max_depth", 5.0).toInt)
          .setMinInstancesPerNode(params.getOrElse("min_samples_leaf", 1.0).toInt)
      case "xgboost" =>
        // checkpointInterval: 100-200 boosting rounds build an RDD/object
        // lineage deep enough to overflow the task-deserializer stack;
        // periodic checkpoints truncate it (no-op when the session has no
        // checkpoint dir — RunPipeline and the test fixture set one)
        new GBTClassifier().setSeed(42L)
          .setMaxIter(params.getOrElse("n_estimators", 100.0).toInt)
          .setMaxDepth(params.getOrElse("max_depth", 3.0).toInt)
          .setStepSize(params.getOrElse("learning_rate", 0.1))
          .setSubsamplingRate(params.getOrElse("subsample", 1.0))
          .setCheckpointInterval(10)
      case other => throw new IllegalArgumentException(s"Unknown model type: $other")
    }

  /** Cartesian product of the param grid (ref `training.py:153-158`). */
  def gridCombos(grid: Map[String, Seq[Double]]): Seq[Map[String, Double]] =
    grid.foldLeft(Seq(Map.empty[String, Double])) { case (acc, (k, vs)) =>
      for (m <- acc; v <- vs) yield m + (k -> v)
    }

  /** f1 of a fitted model on a labeled `features` DataFrame. */
  def f1Score(model: Model[_], df: DataFrame): Double = {
    val pred = model.asInstanceOf[Model[_ <: Model[_]]].transform(df)
      .select(col("label").cast("int").as("y"),
        col("prediction").cast("int").as("yhat"))
    Metrics.binaryMetrics(pred).collect()(0).getAs[Double]("f1")
  }

  /** Training rows tagged with stratified fold ids 0..k-1 (`fold`), and
    * each fold's row count. */
  final case class Folds(data: DataFrame, k: Int, sizes: Map[Int, Long]) {
    val nTrain: Long = sizes.values.sum
    /** Rows a fit on every fold but `f` trains on. */
    def nFit(f: Int): Long = nTrain - sizes.getOrElse(f, 0L)
  }

  /** M7 — assign the CV folds once per training set: the reference's
    * `GridSearchCV(cv=StratifiedKFold(...))` scores every model on the
    * same folds, and one assignment costs one range shuffle, its
    * checkpoints and a count, however many models train on it. */
  def assignFolds(train: DataFrame, k: Int, seed: Long): Folds = {
    // foldAssign localCheckpoints internally (fold-id stability across the
    // many grid×fold jobs — see its scaladoc); a .cache() on top would
    // just store a second copy
    val folded = Split.foldAssign(train.select("features", "label"), "label", k, seed)
    // regParam = 1/(C·n) must use the rows each fit actually sees: a fold
    // fit trains on (k-1)/k of the data, so passing the FULL count would
    // regularize fold models ~k/(k-1) harder than the sklearn C being
    // swept — CV would score a different effective hyperparameter than
    // the one selected. ONE grouped aggregation derives every count
    // (total and per-fold complement) instead of k+1 sequential
    // full-scan count jobs before the pool even starts.
    val sizes = folded.groupBy(col("fold")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    Folds(folded, k, sizes)
  }

  /** M8 — grid search with hand-rolled stratified CV (MLlib CrossValidator
    * folds are not stratified) over folds from [[assignFolds]]: every
    * grid×fold fit reuses the one checkpointed fold-tagged set. */
  def gridSearch(name: String, grid: Map[String, Seq[Double]], folds: Folds,
                 parallelism: Int = 4): (TrainedModel, Seq[CvResult]) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val Folds(folded, cvFolds, _) = folds
    val combos = gridCombos(grid)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(parallelism, combos.size * cvFolds)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val results =
      try {
        val futures = for (params <- combos; f <- 0 until cvFolds) yield Future {
          val fit = build(name, params, folds.nFit(f))
            .fit(folded.filter(col("fold") =!= f))
            .asInstanceOf[Model[_]]
          (params, f) -> f1Score(fit, folded.filter(col("fold") === f))
        }
        val scored = Await.result(Future.sequence(futures), Duration.Inf).toMap
        combos.map(params => CvResult(params,
          (0 until cvFolds).map(f => scored((params, f))).sum / cvFolds))
      } finally pool.shutdown()
    // ties resolve to the FIRST max in grid order — the reference's
    // GridSearchCV rule (an exact tie is common: min_samples_split binds
    // to no MLlib knob, so its grid values always score identically).
    // maxBy on params.hashCode was arbitrary and JVM-version-fragile.
    val best = results.zipWithIndex
      .maxBy { case (r, i) => (r.meanScore, -i) }._1
    val refit = build(name, best.params, folds.nTrain).fit(folded).asInstanceOf[Model[_]]
    // checkpoint blocks are reference-tracked by the ContextCleaner — no
    // explicit unpersist (and none would be safe while `refit` users can
    // still re-trigger fold reads)
    (TrainedModel(name, best.params, best.meanScore, refit), results)
  }

  /** M13 — enabled-model loop (`training.py:98-150`) keeping the full
    * per-combo CV evidence; MLflow tracking is replaced by the JSON run
    * log written in [[RunPipeline.writeTrainingRunLog]]. The folds are
    * assigned once and shared by every enabled model. */
  def trainAllDetailed(config: PipelineConfig,
                       train: DataFrame): Seq[(TrainedModel, Seq[CvResult])] = {
    lazy val folds = assignFolds(train, config.cvFolds, config.randomState)
    config.models.toSeq.sortBy(_._1).collect {
      case (name, mc) if mc.enabled =>
        gridSearch(name, mc.grid, folds, config.gridParallelism)
    }
  }

  def trainAll(config: PipelineConfig, train: DataFrame): Seq[TrainedModel] =
    trainAllDetailed(config, train).map(_._1)
}
