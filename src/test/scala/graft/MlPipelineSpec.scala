package graft

import java.nio.file.Files

import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml._

/** End-to-end ML pipeline invariants, porting the reference's test patterns
  * (SURVEY.md §5.1: determinism under seed, value domains, artifact
  * round-trip, champion argmax, SHAP ordering). */
class MlPipelineSpec extends AnyFunSuite {
  import SparkFixture.spark

  private lazy val tmpDir = Files.createTempDirectory("graft_ml_test").toString
  private lazy val config = PipelineConfig.forTests(tmpDir)
  // one shared end-to-end run (grid-search is the expensive part)
  private lazy val result = RunPipeline.run(spark, config)

  test("S8 generator: passes all validation gates and is seed-deterministic") {
    val df = DataGen.generate(spark, 2000, 42L)
    DataGen.validate(df)
    val a = df.agg(sum("tenure"), avg("churn"), sum("num_support_tickets")).collect()(0)
    val b = DataGen.generate(spark, 2000, 42L)
      .agg(sum("tenure"), avg("churn"), sum("num_support_tickets")).collect()(0)
    assert(a.toSeq == b.toSeq)
    // distributional sanity vs reference parameters
    val stats = df.agg(avg("tenure"), avg("monthly_charges"), avg("num_support_tickets")).collect()(0)
    assert(stats.getDouble(0) > 15 && stats.getDouble(0) < 30)    // exp(24) clipped
    assert(stats.getDouble(1) > 45 && stats.getDouble(1) < 75)    // mixture of 80/55/25
    assert(stats.getDouble(2) > 1.2 && stats.getDouble(2) < 1.8)  // Poisson(1.5)
  }

  test("generator: domains match the reference schema") {
    val df = DataGen.generate(spark, 1000, 7L)
    val contracts = df.select("contract_type").distinct().collect().map(_.getString(0)).toSet
    assert(contracts == Set("month-to-month", "one-year", "two-year"))
    assert(df.filter(col("avg_monthly_usage_gb") === 0.0)
      .filter(col("internet_service") =!= "none").count() == 0)
    assert(df.filter(col("monthly_charges") < 18.0 || col("monthly_charges") > 120.0).count() == 0)
  }

  test("validate: raises with the failing check name") {
    import spark.implicits._
    val bad = DataGen.generate(spark, 200, 42L).withColumn("churn", lit(1))
    val e = intercept[IllegalStateException](DataGen.validate(bad))
    assert(e.getMessage.contains("class_balance"))
  }

  test("feature pipeline: engineered columns + assembled vector present") {
    val (feat, model) = FeaturePipeline.fit(DataGen.generate(spark, 1000, 42L))
    assert(Seq("charge_per_tenure", "tenure_bucket", "high_value",
      "support_intensity", "features", "label").forall(feat.columns.contains))
    // transform mode reproduces fit-mode width (test_feature_engineering.py:70-77)
    val t = FeaturePipeline.transform(DataGen.generate(spark, 100, 7L), model)
    val w1 = feat.select("features").head.getAs[org.apache.spark.ml.linalg.Vector](0).size
    val w2 = t.select("features").head.getAs[org.apache.spark.ml.linalg.Vector](0).size
    assert(w1 == w2)
  }

  test("feature pipeline: scaler dispatch — minmax bounds [0,1], robust centers the median (SCALER_MAP)") {
    import org.apache.spark.ml.linalg.Vector
    val df = DataGen.generate(spark, 1000, 42L)
    val (mm, _) = FeaturePipeline.fit(df, scalerMethod = "minmax")
    val mmVecs = mm.select("num_scaled").collect().map(_.getAs[Vector](0))
    assert(mmVecs.forall(_.toArray.forall(v => v >= -1e-9 && v <= 1.0 + 1e-9)))
    val (rb, _) = FeaturePipeline.fit(df, scalerMethod = "robust")
    // with_centering=True: each dimension's median lands at ~0 (exactly 0
    // for odd n; MLlib's approx-quantile median is within the relative err)
    val dims = rb.select("num_scaled").head.getAs[Vector](0).size
    val med0 = rb.select("num_scaled").collect().map(_.getAs[Vector](0)(0)).sorted
    assert(math.abs(med0(med0.length / 2)) < 0.05,
      s"robust dim 0 median ${med0(med0.length / 2)} not centered")
    assert(dims == FeaturePipeline.numericCols.size)
    // unknown method = the standard pipeline (silent SCALER_MAP fallback)
    val (std, _) = FeaturePipeline.fit(df, scalerMethod = "definitely_not_a_scaler")
    val stats = std.select("num_scaled").collect().map(_.getAs[Vector](0)(0))
    val mean = stats.sum / stats.length
    assert(math.abs(mean) < 1e-6)
  }

  test("feature pipeline: literal-p75 high_value is bit-identical to the in-plan percentile form") {
    val df = DataGen.generate(spark, 1500, 11L)
    val (feat, _) = FeaturePipeline.fit(df)
    val p75 = feat.agg(expr("percentile(monthly_charges, 0.75)")).collect()(0).getDouble(0)
    val mismatches = feat.filter(
      (col("monthly_charges") > p75).cast("int") =!= col("high_value")).count()
    assert(mismatches == 0L)
    assert(feat.filter(col("high_value").isin(0, 1)).count() == df.count())
    // the other literal fit, the outlier clip: its one-pass literal bands
    // vs the lazy per-column zScoreClip chain, bit for bit, on clean rows,
    // on NULL/NaN/±Inf in a clipped column, and on a constant (σ = 0) and
    // an all-NULL clipped column
    val clipped = Seq("tenure", "monthly_charges", "total_charges")
    def chained(d: org.apache.spark.sql.DataFrame) = clipped.foldLeft(d) { (acc, c) =>
      graft.operators.Features.zScoreClip(acc.withColumn(c, col(c).cast("double")), c, 3.0)
        .withColumn(c, col(s"${c}_clipped")).drop(s"${c}_clipped")
    }
    val t7 = col("tenure") % 7
    val variants = Seq(
      "clean" -> df,
      "non-finite" -> df.withColumn("total_charges",
        when(t7 === 0, lit(Double.NaN)).when(t7 === 1, lit(Double.PositiveInfinity))
          .when(t7 === 2, lit(Double.NegativeInfinity)).when(t7 === 3, lit(null))
          .otherwise(col("total_charges"))),
      "constant + all-NULL" -> df.withColumn("tenure", lit(12))
        .withColumn("monthly_charges", lit(null).cast("double")))
    for ((name, v) <- variants) {
      val in = v.withColumn("__id", monotonically_increasing_id())
      def bits(d: org.apache.spark.sql.DataFrame) =
        d.select((col("__id") +: clipped.map(col)): _*).collect().map(r =>
          r.getLong(0) -> (1 to clipped.size).map(i =>
            if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i)))))
          .toMap
      val (one, ref) = (FeaturePipeline.clipOutliers(in, 3.0), chained(in))
      assert(one.columns.toSeq == ref.columns.toSeq, name)
      val (got, want) = (bits(one), bits(ref))
      assert(got == want, s"$name: ${got.count { case (id, v) => !want.get(id).contains(v) }} " +
        s"of ${want.size} rows differ from the zScoreClip chain")
    }
  }

  test("stratified split: per-stratum fraction preserved") {
    val (feat, _) = FeaturePipeline.fit(DataGen.generate(spark, 2000, 42L))
    val (train, test) = Split.stratified(feat.select("features", "label"), "label", 0.2, 42L)
    val total = feat.count()
    assert(math.abs(test.count().toDouble / total - 0.2) < 0.01)
    val testRate = test.agg(avg("label")).collect()(0).getDouble(0)
    val trainRate = train.agg(avg("label")).collect()(0).getDouble(0)
    assert(math.abs(testRate - trainRate) < 0.05)
  }

  test("stratified split: a tiny minority stratum still reaches the test set (ceil cut)") {
    import spark.implicits._
    // 4 minority rows at testSize 0.2: a floor cut (4·0.2 = 0.8 → rn ≤ 0.8
    // never true) silently produced a single-class test set — AUC
    // collapses to its guard and every model fails the champion gate with
    // no error naming the cause; sklearn ceils, so must we
    val df = ((1 to 96).map(i => (i.toDouble, 0)) ++
      (97 to 100).map(i => (i.toDouble, 1))).toDF("x", "label")
    val (train, test) = Split.stratified(df, "label", 0.2, 42L)
    assert(test.filter(col("label") === 1).count() == 1L,
      "ceil(4*0.2)=1 minority test row")
    assert(train.filter(col("label") === 1).count() == 3L)
    assert(train.count() + test.count() == 100L)
  }

  test("stratified split/folds: exact ceil cut, disjoint cover, balanced folds, window-free plan") {
    import spark.implicits._
    // 3 strata (334/333/333): the partition-offset ranker must reproduce
    // the window form's contract exactly — per-stratum test count is
    // EXACTLY ceil(n·frac), the two sides partition the input, and fold
    // sizes within each stratum differ by at most 1 — while planning NO
    // window (a label-partitioned window buffers a whole stratum in one
    // task: two tasks sorting half the corpus each at 100 TB)
    val df = (1 to 1000).map(i => (i.toLong, i % 3)).toDF("id", "label")
    val (train, test) = Split.stratified(df, "label", 0.25, 7L)
    val nBy = df.groupBy("label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val testBy = test.groupBy("label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    nBy.foreach { case (l, n) =>
      assert(testBy(l) == math.ceil(n * 0.25).toLong, s"label $l") }
    val trainIds = train.select("id").collect().map(_.getLong(0)).toSet
    val testIds = test.select("id").collect().map(_.getLong(0)).toSet
    assert(trainIds.intersect(testIds).isEmpty)
    assert(trainIds.size + testIds.size == 1000)
    assert(!train.queryExecution.executedPlan.toString.contains("Window"))
    val folds = Split.foldAssign(df, "label", 4, 7L)
    folds.groupBy("label", "fold").count().collect()
      .groupBy(_.getInt(0)).foreach { case (l, rows) =>
        assert(rows.length == 4, s"label $l missing folds")
        val sizes = rows.map(_.getLong(2))
        assert(sizes.max - sizes.min <= 1, s"label $l folds unbalanced: ${sizes.toSeq}")
      }
    // fold ids stable across evaluations — the CV-leakage pin (a re-run
    // of the assign pass over the checkpointed layout must agree)
    def ids() = folds.select("id", "fold").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(ids() == ids())
  }

  test("end-to-end: pipeline trains, selects a champion, scores bounded") {
    assert(result.nTrain + result.nTest == config.nSamples)
    assert(result.scores.nonEmpty)
    result.scores.foreach { s =>
      Seq(s.accuracy, s.precision, s.recall, s.f1, s.rocAuc).foreach(v =>
        assert(v >= 0.0 && v <= 1.0, s"${s.name} metric out of bounds"))
    }
    assert(result.champion.isDefined)
    // champion is argmax f1 among qualifying models
    val qualifying = result.scores.filter(s =>
      s.f1 >= config.championF1Threshold && s.rocAuc >= config.championAucThreshold)
    assert(result.champion.get.f1 == qualifying.map(_.f1).max)
  }

  test("M12: unknown model name raises") {
    intercept[IllegalArgumentException](Training.build("quantum_forest", Map.empty, 100L))
  }

  test("M10/M11: restored grid dims bind to the MLlib knobs") {
    val rf = Training.build("random_forest",
      Map("n_estimators" -> 50.0, "max_depth" -> 5.0, "min_samples_leaf" -> 2.0), 100L)
      .asInstanceOf[org.apache.spark.ml.classification.RandomForestClassifier]
    assert(rf.getMinInstancesPerNode == 2)
    val gbt = Training.build("xgboost",
      Map("n_estimators" -> 100.0, "subsample" -> 0.8), 100L)
      .asInstanceOf[org.apache.spark.ml.classification.GBTClassifier]
    assert(gbt.getSubsamplingRate == 0.8)
    assert(gbt.getMaxIter == 100) // no silent cap on n_estimators
    // the default config sweeps the reference's full grid shape
    // (pipeline_config.yaml:37-50): 2·3·2·2 = 24 RF combos, 24 XGB combos
    val defaults = PipelineConfig()
    assert(Training.gridCombos(defaults.models("random_forest").grid).size == 24)
    assert(Training.gridCombos(defaults.models("xgboost").grid).size == 24)
  }

  test("S5/M13: run writes evaluation, explainability, and training-log reports") {
    assert(result.champion.isDefined) // forces the shared run
    val dir = java.nio.file.Paths.get(config.modelDir)
    val eval = java.nio.file.Files.readString(dir.resolve("evaluation_report.json"))
    assert(eval.contains("\"champion\"") && eval.contains("\"thresholds\""))
    val expl = java.nio.file.Files.readString(dir.resolve("explainability_report.json"))
    assert(expl.contains("\"expected_value\"") && expl.contains("\"feature_importance\""))
    assert(expl.contains("\"sample_size\": " + config.shapSampleSize))
    val log = java.nio.file.Files.readString(dir.resolve("training_run_log.json"))
    assert(log.contains("\"cv_results\"") && log.contains("\"best_params\""))
    // every enabled model's grid evidence is present
    config.models.collect { case (name, mc) if mc.enabled =>
      assert(log.contains(s""""$name""""), s"run log missing $name")
    }
  }

  test("S7: YAML config load — reference keys parsed, missing file = defaults") {
    val yml = Files.createTempFile("graft_cfg", ".yaml")
    Files.writeString(yml,
      """data:
        |  n_samples: 555
        |  test_size: 0.3
        |  random_state: 7
        |training:
        |  cv_folds: 3
        |features:
        |  scaling_method: robust
        |""".stripMargin)
    val cfg = PipelineConfig.load(yml.toString)
    assert(cfg.nSamples == 555 && cfg.testSize == 0.3 &&
      cfg.randomState == 7 && cfg.cvFolds == 3 && cfg.scalerMethod == "robust")
    // absent keys keep reference defaults
    Files.writeString(yml, "data:\n  n_samples: 100\n")
    val partial = PipelineConfig.load(yml.toString)
    assert(partial.scalerMethod == "standard" && partial.cvFolds == 5)
    Files.delete(yml)
    // missing file → all defaults (config.py: absent config falls back)
    val dflt = PipelineConfig.load("/nonexistent/graft_cfg.yaml")
    assert(dflt == PipelineConfig().copy(
      nSamples = dflt.nSamples, randomState = dflt.randomState,
      modelDir = dflt.modelDir, gridParallelism = dflt.gridParallelism))
  }

  test("deployment: promote → load round-trip scores identically; re-promotion archives") {
    assert(result.champion.isDefined) // forces the shared run (and its promote)
    val (model, pre, metaJson) = Deployment.load(spark, config.modelDir)
    assert(metaJson.contains(result.champion.get.name))
    val probe = DataGen.generate(spark, 50, 9L)
    val s1 = Deployment.score(probe, model, pre).select("prediction", "p1").collect()
    assert(s1.forall(r => Set(0.0, 1.0).contains(r.getDouble(0))))
    assert(s1.forall(r => r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0))
    // the preprocessor's one multi-column indexer equals four single-column
    // indexers fitted on the same rows: same features, same scores, also
    // for an unseen and a NULL category (the keep bucket)
    import org.apache.spark.ml.feature.{StringIndexer, StringIndexerModel}
    val indexer = pre.stages.head.asInstanceOf[StringIndexerModel]
    assert(indexer.getInputCols.toSeq == FeaturePipeline.categoricalCols)
    val engineered = FeaturePipeline.addEngineeredFeatures(FeaturePipeline.clipOutliers(
      DataGen.generate(spark, config.nSamples, config.randomState), config.outlierClipSigma))
    val perColumn = new org.apache.spark.ml.Pipeline().setStages(
      FeaturePipeline.categoricalCols.map(c => new StringIndexer().setInputCol(c)
        .setOutputCol(s"${c}_idx").setStringOrderType("alphabetAsc")
        .setHandleInvalid("keep")).toArray ++ pre.stages.tail).fit(engineered)
    val unseen = probe.withColumn("contract_type",
      when(col("tenure") % 3 === 0, lit("three-year"))
        .when(col("tenure") % 3 === 1, lit(null)).otherwise(col("contract_type")))
    def vecs(m: org.apache.spark.ml.PipelineModel) = m.transform(
      FeaturePipeline.addEngineeredFeatures(unseen)).select("features").collect().map(_.get(0))
    assert(vecs(pre).toSeq == vecs(perColumn).toSeq)
    def scores(m: org.apache.spark.ml.PipelineModel) =
      Deployment.score(unseen, model, m).select("prediction", "p1").collect().toSeq
    assert(scores(pre) == scores(perColumn))
    // re-promotion archives exactly one prior champion (test_deployment.py:40-61)
    val before = Deployment.archiveCount(config.modelDir)
    Deployment.promote(config.modelDir, model, pre,
      Deployment.ChampionMeta("repromoted", 0.5, 0.5, "2026-01-01T00:00:00Z"))
    assert(Deployment.archiveCount(config.modelDir) == before + 1)
  }

  test("S6: JSON request batch scores through the serving boundary") {
    assert(result.champion.isDefined)
    val (model, pre, _) = Deployment.load(spark, config.modelDir)
    val rows = Seq(
      """{"tenure": 12, "contract_type": "month-to-month", "payment_method": "electronic_check",
         "internet_service": "fiber_optic", "monthly_charges": 85.5, "total_charges": 1026.0,
         "num_support_tickets": 4, "avg_monthly_usage_gb": 22.3, "churn": 0}""",
      """{"tenure": 60, "contract_type": "two-year", "payment_method": "credit_card",
         "internet_service": "dsl", "monthly_charges": 50.0, "total_charges": 3000.0,
         "num_support_tickets": 0, "avg_monthly_usage_gb": 10.0, "churn": 0}""")
      .map(_.replaceAll("\n\\s*", " "))
    val scored = Deployment.scoreJson(spark, rows, model, pre)
      .select("prediction", "p1").collect()
    assert(scored.length == 2)
    scored.foreach { r =>
      assert(Set(0.0, 1.0).contains(r.getDouble(0)))
      assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)
    }
    // per-request isolation: a malformed request and one with a missing
    // numeric come back as NULL predictions AT THEIR INDEX — they must
    // not kill the batch (the fitted assembler would otherwise reject the
    // whole thing) nor shift the valid requests' positions
    val mixed = Seq(rows.head, """not json at all{""",
      """{"tenure": 5, "contract_type": "month-to-month"}""", rows(1))
    val out = Deployment.scoreJson(spark, mixed, model, pre)
      .orderBy(col("request_index")).collect()
    assert(out.length == 4)
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(!out(0).isNullAt(1) && !out(3).isNullAt(1))
    assert(out(1).isNullAt(1) && out(1).isNullAt(2))
    assert(out(2).isNullAt(1) && out(2).isNullAt(2))
  }

  test("quality check: same-seed data does not drift; shifted data warns") {
    val numeric = Seq("tenure", "monthly_charges", "num_support_tickets")
    val base = DataGen.generate(spark, 2000, 42L)
    val same = DataGen.generate(spark, 2000, 99L)
    assert(QualityCheck.run(base, same, numeric).forall(!_.warned))
    val shifted = DataGen.generate(spark, 2000, 99L)
      .withColumn("monthly_charges", col("monthly_charges") + 200.0)
    val drifts = QualityCheck.run(base, shifted, numeric)
    assert(drifts.find(_.column == "monthly_charges").get.warned)
    assert(drifts.filter(_.column != "monthly_charges").forall(!_.warned))
  }

  test("quality check: a NaN-poisoned column WARNS instead of silently passing the gate") {
    // NaN > threshold is false — without the explicit NaN-shift branch
    // exactly the dirtiest data would slip the gate unwarned
    val numeric = Seq("tenure", "monthly_charges")
    val base = DataGen.generate(spark, 2000, 42L)
    val poisoned = DataGen.generate(spark, 2000, 99L)
      .withColumn("monthly_charges",
        when(col("tenure") % 10 === 0, lit(Double.NaN)).otherwise(col("monthly_charges")))
    val drifts = QualityCheck.run(base, poisoned, numeric)
    val d = drifts.find(_.column == "monthly_charges").get
    assert(d.relShift.isNaN && d.warned)
    assert(!drifts.find(_.column == "tenure").get.warned)
    // PSI excludes the NaN rows from the bins (a poisoning incident is
    // not a top-of-range distribution shift) and stays finite
    val psi = QualityCheck.psiCheck(base, poisoned, "monthly_charges")
    assert(java.lang.Double.isFinite(psi.psi) && !psi.warned, s"psi=${psi.psi}")
  }

  test("feature fit refuses dirty numeric input with a named error (sklearn's contract)") {
    val dirty = DataGen.generate(spark, 500, 42L)
      .withColumn("monthly_charges",
        when(col("tenure") % 7 === 0, lit(Double.NaN)).otherwise(col("monthly_charges")))
    val e = intercept[IllegalArgumentException] { FeaturePipeline.fit(dirty) }
    assert(e.getMessage.contains("monthly_charges") && e.getMessage.contains("QualityCheck"))
  }

  test("feature fit refuses ±Infinity numerics too — the silent scaler-poisoning class") {
    // isnan-only gating would pass ±Inf straight into StandardScaler's
    // mean (Inf mean ⇒ every scaled row NaN, a silently poisoned model);
    // non-finite is NaN OR ±Inf everywhere in this engine (finiteOrNull),
    // and sklearn rejects inf under the same contract. The poisoned
    // column must be one clipOutliers does NOT touch: the three clipped
    // columns absorb ±Inf into the mean±kσ band at the clip stage — the
    // same thing pandas .clip does to inf, i.e. reference parity.
    for (inf <- Seq(Double.PositiveInfinity, Double.NegativeInfinity)) {
      val dirty = DataGen.generate(spark, 500, 42L)
        .withColumn("avg_monthly_usage_gb",
          when(col("tenure") % 7 === 0, lit(inf)).otherwise(col("avg_monthly_usage_gb")))
      val e = intercept[IllegalArgumentException] { FeaturePipeline.fit(dirty) }
      assert(e.getMessage.contains("avg_monthly_usage_gb"), s"inf=$inf: ${e.getMessage}")
    }
    // clipped columns: ±Inf is absorbed to the clip bound (pandas-clip
    // parity), so the fit succeeds and the fitted stats stay finite
    val clippedInf = DataGen.generate(spark, 500, 42L)
      .withColumn("total_charges",
        when(col("tenure") % 7 === 0, lit(Double.PositiveInfinity))
          .otherwise(col("total_charges")))
    val (feats, _) = FeaturePipeline.fit(clippedInf)
    val tc = feats.agg(max(col("total_charges"))).collect()(0).getDouble(0)
    assert(java.lang.Double.isFinite(tc), s"clip must absorb Inf, got max=$tc")
  }

  test("serving boundary rejects an Infinity numeric per-request (1e999 JSON overflow)") {
    // a JSON numeric like 1e999 parses to Double.PositiveInfinity — an
    // isnan-only dirty filter would score it through the fitted scaler
    // and return a garbage non-NULL prediction; it must come back as a
    // rejected request (NULL prediction at its index), batch unharmed
    assert(result.champion.isDefined)
    val (model, pre, _) = Deployment.load(spark, config.modelDir)
    val good =
      """{"tenure": 12, "contract_type": "month-to-month", "payment_method": "electronic_check",
         "internet_service": "fiber_optic", "monthly_charges": 85.5, "total_charges": 1026.0,
         "num_support_tickets": 4, "avg_monthly_usage_gb": 22.3, "churn": 0}"""
        .replaceAll("\n\\s*", " ")
    val infReq = good.replace("\"monthly_charges\": 85.5", "\"monthly_charges\": 1e999")
    val negInfReq = good.replace("\"total_charges\": 1026.0", "\"total_charges\": -1e999")
    val out = Deployment.scoreJson(spark, Seq(good, infReq, negInfReq), model, pre)
      .orderBy(col("request_index")).collect()
    assert(out.length == 3)
    assert(!out(0).isNullAt(1))
    assert(out(1).isNullAt(1) && out(1).isNullAt(2), "+Inf request must be rejected")
    assert(out(2).isNullAt(1) && out(2).isNullAt(2), "-Inf request must be rejected")
  }

  test("quality check PSI excludes ±Inf like NaN — no range-edge misattribution") {
    // +Inf would land in the clamped TOP bin and -Inf in bin 0 under an
    // isnan-only filter, misreading a poisoning incident as a range-edge
    // distribution shift; excluded, the PSI stays finite and un-warned
    val base = DataGen.generate(spark, 2000, 42L)
    val poisoned = DataGen.generate(spark, 2000, 99L)
      .withColumn("monthly_charges",
        when(col("tenure") % 10 === 0, lit(Double.PositiveInfinity))
          .when(col("tenure") % 10 === 1, lit(Double.NegativeInfinity))
          .otherwise(col("monthly_charges")))
    val psi = QualityCheck.psiCheck(base, poisoned, "monthly_charges")
    assert(java.lang.Double.isFinite(psi.psi) && !psi.warned, s"psi=${psi.psi}")
  }

  test("quality check PSI: a non-finite BASELINE value cannot disable the gate") {
    // the bin anchors come from the baseline min/max — one stray +Inf
    // there would make the bin width infinite, collapse BOTH relations
    // into bin 0, and return psi≈0 for a genuinely shifted current
    // distribution (the gate silently off, the exact opposite of the
    // row-filter hardening above); anchors must come from the FINITE
    // baseline values only
    val base = DataGen.generate(spark, 2000, 42L)
      .withColumn("monthly_charges",
        when(col("tenure") % 10 === 5, lit(Double.PositiveInfinity))
          .otherwise(col("monthly_charges")))
    val shifted = DataGen.generate(spark, 2000, 99L)
      .withColumn("monthly_charges",
        when(col("tenure") % 2 === 0, col("monthly_charges") + 500.0)
          .otherwise(col("monthly_charges")))
    val bad = QualityCheck.psiCheck(base, shifted, "monthly_charges")
    assert(bad.warned, s"Inf baseline anchor disabled the PSI gate: psi=${bad.psi}")
    // an all-non-finite baseline has NO distribution — named precondition
    val allInf = base.withColumn("monthly_charges",
      when(lit(true), lit(Double.PositiveInfinity)))
    val e = intercept[IllegalArgumentException] {
      QualityCheck.psiCheck(allInf, shifted, "monthly_charges")
    }
    assert(e.getMessage.contains("no finite values"))
  }

  test("quality check PSI: same distribution passes, shape change warns") {
    val base = DataGen.generate(spark, 2000, 42L)
    val same = DataGen.generate(spark, 2000, 99L)
    val ok = QualityCheck.psiCheck(base, same, "monthly_charges")
    assert(!ok.warned, s"psi=${ok.psi}")
    // bimodal shift: push half the mass far right — mean-shift alone could
    // miss a symmetric change, PSI's binned shape compare must not
    val reshaped = DataGen.generate(spark, 2000, 99L)
      .withColumn("monthly_charges",
        when(col("tenure") % 2 === 0, col("monthly_charges") + 500.0)
          .otherwise(col("monthly_charges")))
    val bad = QualityCheck.psiCheck(base, reshaped, "monthly_charges")
    assert(bad.warned, s"psi=${bad.psi}")
  }

  test("E2/E3: linear SHAP shapes and importance ordering") {
    val (feat, _) = FeaturePipeline.fit(DataGen.generate(spark, 1000, 42L))
    val lr = new org.apache.spark.ml.classification.LogisticRegression()
      .setMaxIter(50).fit(feat.select("features", "label"))
    val shap = Shap.linearShap(lr, feat.select("features", "label"), 100, 42L)
    val nFeat = lr.coefficients.size
    assert(shap.select("feature_idx").distinct().count() == nFeat)
    assert(shap.count() == 100L * nFeat)
    val imp = Shap.globalImportance(shap, 10).collect().map(_.getAs[Double]("mean_abs_shap"))
    assert(imp.length == 10)
    assert(imp.sameElements(imp.sortBy(-_)))       // sorted desc (test_explainability.py:60-77)
    assert(imp.forall(_ >= 0.0))
  }

  test("E4: explainBatch attributes a 1-row batch against the background, not itself") {
    val (feat, _) = FeaturePipeline.fit(DataGen.generate(spark, 1000, 42L))
    val data = feat.select("features", "label")
    val lr = new org.apache.spark.ml.classification.LogisticRegression()
      .setMaxIter(50).fit(data)
    val one = data.limit(1)
    val out = Shap.explainBatch(lr, one, background = data, sampleSize = 200)
      .collect()
    assert(out.length == lr.coefficients.size)
    // self-background made every attribution exactly 0 for a 1-row batch;
    // against a real background the row must have signal somewhere
    assert(out.map(r => math.abs(r.getAs[Double]("shap"))).sum > 0.0)
    // per-row sort contract: |shap| descending
    val abss = out.map(r => math.abs(r.getAs[Double]("shap")))
    assert(abss.sameElements(abss.sortBy(-(_: Double))))
  }
}
