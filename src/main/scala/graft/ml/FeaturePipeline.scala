package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage}
import org.apache.spark.ml.feature.{MinMaxScaler, OneHotEncoder, RobustScaler, StandardScaler, StringIndexer, VectorAssembler}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Features

/** Feature engineering + MLlib preprocessing pipeline, porting
  * `feature_engineering.py:57-146` (M1, M4, M5 + F1–F4 engineered
  * features).
  *
  * sklearn↔MLlib gaps, documented per SURVEY.md §7.4.3:
  *  - scaler: sklearn ddof=0 vs MLlib StandardScaler ddof=1 — irrelevant to
  *    model quality; the oracle-exact ddof=0 form is
  *    [[graft.operators.Preprocess.standardScale]];
  *  - one-hot: sklearn drops the FIRST (lexicographic) category, MLlib's
  *    `dropLast` drops the last index; with `stringOrderType=alphabetAsc`
  *    both leave k−1 linearly-independent indicators.
  *
  * The fit's own statistics are fitted eagerly and enter the plans as
  * literals: the outlier clip's means and σs in one aggregate pass
  * ([[clipOutliers]]), the p75 threshold in its order-statistics pass.
  */
object FeaturePipeline {

  val numericCols: Seq[String] = Seq("tenure", "monthly_charges", "total_charges",
    "num_support_tickets", "avg_monthly_usage_gb",
    "charge_per_tenure", "high_value", "support_intensity")
  val categoricalCols: Seq[String] = Seq("contract_type", "payment_method",
    "internet_service", "tenure_bucket")
  private val clipCols: Seq[String] = Seq("tenure", "monthly_charges", "total_charges")

  /** `add_engineered_features` (`feature_engineering.py:57-93`): the exact
    * four derived columns, recomputed at inference like the reference does
    * (`deployment.py:99` — including its train/serve quantile skew, which
    * we replicate deliberately). */
  def addEngineeredFeatures(df: DataFrame): DataFrame = {
    val withRatio = df
      .withColumn("charge_per_tenure",
        Features.conditionalRatio(col("total_charges"), col("tenure"), col("monthly_charges")))
      .withColumn("tenure_bucket",
        Features.rightClosedBucket(col("tenure").cast("double"),
          Seq(0, 6, 12, 24, 48, 72), Seq("0-6m", "6-12m", "1-2y", "2-4y", "4-6y")))
      .withColumn("support_intensity",
        Features.conditionalRatio(col("num_support_tickets").cast("double"),
          col("tenure"), col("num_support_tickets").cast("double")))
    // bounded-memory exact p75 (range-repartition order statistics) — the
    // in-plan `percentile` aggregate buffered every value in ONE buffer
    // (OOM at 100× scale). Bit-identical value (same interpolation, same
    // NULL-skip domain — NaN additionally skipped, but a NaN here fails
    // requireCleanNumerics/scoreJson's dirty gate before any fit reads
    // high_value). None (no finite values, e.g. an empty batch) yields a
    // NULL threshold → NULL high_value, the aggregate form's behavior.
    val p75 = graft.operators.Metrics
      .exactPercentiles(withRatio, "monthly_charges", Seq(0.75))
      .map(_(0.75))
    withRatio.withColumn("high_value",
      (col("monthly_charges") > p75.map(lit).getOrElse(lit(null))).cast("int"))
  }

  /** Outlier clip (`feature_engineering.py:161-176`): mean±kσ clamp on the
    * raw numeric columns, cast to double.
    *
    * CONTRACT — eager fit at call time, like the p75 threshold in
    * [[addEngineeredFeatures]]: ONE aggregate job computes every clipped
    * column's mean and sample σ over its finite values, and the returned
    * plan carries them as literals in [[Features.zClipBand]] — a flat
    * projection of the input. The lazy [[Features.zScoreClip]] per column
    * would nest one broadcast cross-join per column under the engineered
    * frame, re-run by every later action on it (p75, the dirty-input gate,
    * the indexer and scaler fits, the split). */
  def clipOutliers(df: DataFrame, k: Double): DataFrame = {
    val cast = df.withColumns(clipCols.map(c => c -> col(c).cast("double")).toMap)
    val stats = cast.select(clipCols.flatMap { c =>
      val x = Features.finiteOrNull(col(c))
      Seq(avg(x), stddev_samp(x))
    }: _*).collect()(0)
    cast.withColumns(clipCols.zipWithIndex.map { case (c, i) =>
      c -> Features.zClipBand(col(c), lit(stats.get(2 * i)).cast("double"),
        lit(stats.get(2 * i + 1)).cast("double"), k)
    }.toMap)
  }

  /** The unfitted MLlib pipeline: one StringIndexer(alphabetAsc,
    * keep-invalid) over all categoricals + a OneHotEncoder per categorical,
    * numeric VectorAssembler + the config-selected scaler, final assembly
    * [numeric..., categorical...]
    * mirroring the reference's ColumnTransformer order
    * (`feature_engineering.py:46-53`).
    *
    * `scalerMethod` mirrors the reference's `SCALER_MAP`
    * (`feature_engineering.py:15-36`): standard | minmax | robust, any
    * other value falls back to standard — `SCALER_MAP.get(method,
    * StandardScaler)` is a silent default, not an error, and we keep that
    * contract. The robust form centers on the median like sklearn
    * (`with_centering=True`); MLlib's default is centering OFF. */
  def buildPipeline(scalerMethod: String = "standard"): Pipeline = {
    // ONE multi-column indexer: its alphabetical label fit gathers every
    // column's labels in one query, and gives each column the labels (so
    // the indices) a single-column indexer would
    val indexer = new StringIndexer()
      .setInputCols(categoricalCols.toArray)
      .setOutputCols(categoricalCols.map(c => s"${c}_idx").toArray)
      .setStringOrderType("alphabetAsc").setHandleInvalid("keep")
    val encoder = new OneHotEncoder()
      .setInputCols(categoricalCols.map(c => s"${c}_idx").toArray)
      .setOutputCols(categoricalCols.map(c => s"${c}_vec").toArray)
      .setHandleInvalid("keep")
    val numAssembler = new VectorAssembler()
      .setInputCols(numericCols.toArray).setOutputCol("num_raw")
    val scaler = scalerMethod match {
      case "minmax" => new MinMaxScaler()
        .setInputCol("num_raw").setOutputCol("num_scaled")
      case "robust" => new RobustScaler()
        .setInputCol("num_raw").setOutputCol("num_scaled")
        .setWithCentering(true).setWithScaling(true)
        .setLower(0.25).setUpper(0.75)
      case _ => new StandardScaler().setInputCol("num_raw")
        .setOutputCol("num_scaled").setWithMean(true).setWithStd(true)
    }
    val finalAssembler = new VectorAssembler()
      .setInputCols((Seq("num_scaled") ++ categoricalCols.map(c => s"${c}_vec")).toArray)
      .setOutputCol("features")
    new Pipeline().setStages(
      Array[PipelineStage](indexer, encoder, numAssembler, scaler, finalAssembler))
  }

  /** Full fit path (`build_features(fit=True)`,
    * `feature_engineering.py:96-146`): clip → engineer → fit pipeline.
    * Returns (transformed df with `features` + `label`, fitted model). */
  def fit(df: DataFrame, clipSigma: Double = 3.0,
          scalerMethod: String = "standard"): (DataFrame, PipelineModel) = {
    val engineered = addEngineeredFeatures(clipOutliers(df, clipSigma))
      .withColumn("label", col("churn").cast("double"))
    requireCleanNumerics(engineered)
    val model = buildPipeline(scalerMethod).fit(engineered)
    (model.transform(engineered), model)
  }

  /** sklearn's own contract, named: `StandardScaler` rejects non-finite
    * input ("Input contains NaN" / "infinity") — a NULL/NaN/±Inf numeric
    * here would otherwise surface as an opaque assembler error or, worse,
    * silently fit a poisoned mean (±Inf passes an isnan-only gate and
    * turns every scaled row into NaN). Non-finite is the same predicate
    * everywhere in this engine ([[graft.operators.Features.finiteOrNull]]):
    * NaN or ±Infinity. One aggregate pass at fit time, trivial next to the
    * fit itself; the message routes the operator to the quality gate. */
  private def requireCleanNumerics(engineered: DataFrame): Unit = {
    val counts = engineered.agg(
      count(lit(1)).as("__n"),
      numericCols.map(c =>
        sum(graft.operators.Features.finiteOrNull(col(c)).isNull
          .cast("long")).as(c)): _*)
      .collect()(0)
    val dirty = numericCols.filter(c => counts.getAs[Long](c) > 0L)
    require(dirty.isEmpty,
      s"training input contains NULL/NaN/Inf numeric features in ${dirty.mkString(", ")} — " +
        "clean or impute upstream (QualityCheck.run flags poisoned columns); " +
        "sklearn's StandardScaler enforces the same precondition")
  }

  /** Transform path for inference (engineered features recomputed, fitted
    * statistics reused — `deployment.py:95-110`). */
  def transform(df: DataFrame, model: PipelineModel): DataFrame =
    model.transform(addEngineeredFeatures(df))
}
