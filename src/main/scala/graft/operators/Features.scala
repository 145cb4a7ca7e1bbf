package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar feature transforms — the reference's feature-engineering surface
  * (`feature_engineering.py:57-93,161-176`, `data_ingestion.py:52-88`);
  * SURVEY.md §2.3 F1–F8.
  *
  * All are per-row projections over built-in `Column` functions (zero UDFs →
  * whole-stage codegen keeps them in one fused stage). Embedded scalar
  * statistics (quantiles, mean/std) are computed once as a 1-row aggregate
  * and broadcast-cross-joined back — a map-side-only plan, no shuffle of the
  * fact table. That is the 100 TB-safe shape: the stats pass is scan-bound
  * and the transform pass is embarrassingly parallel.
  */
object Features {

  /** F1/F4 — conditional ratio (ref `feature_engineering.py:69-73,86-90`:
    * `total/tenure if tenure > 0 else monthly`). */
  def conditionalRatio(num: Column, den: Column, fallback: Column): Column =
    when(den > 0, num / den).otherwise(fallback)

  /** F2 — right-closed binning reproducing `pd.cut(...).astype(str)`
    * (ref `feature_engineering.py:76-80`): intervals (lo, hi] with
    * out-of-range mapped to the string "nan". Spark's `Bucketizer` is
    * left-closed and so does NOT match — a `when` chain does, and stays
    * inside codegen. */
  def rightClosedBucket(c: Column, bounds: Seq[Double], labels: Seq[String]): Column = {
    require(bounds.size == labels.size + 1)
    val chain = labels.zipWithIndex.foldLeft(when(c <= bounds.head, "nan")) {
      case (acc, (lab, i)) => acc.when(c <= bounds(i + 1), lab)
    }
    chain.otherwise("nan")
  }

  /** F3 — exact quantile threshold flag (ref `feature_engineering.py:83`,
    * `monthly_charges > quantile(0.75)`). The threshold comes from
    * [[Metrics.exactPercentile]] — bounded-memory two-pass order-statistic
    * fetch, bit-identical to Spark's exact `percentile` aggregate (NumPy/
    * pandas default interpolation, and DuckDB `quantile_cont`) — and enters
    * the plan as a LITERAL, so the transform pass is one codegen'd scan.
    * The previous in-plan `percentile(c, q)` buffered every value in ONE
    * aggregation buffer: the exact scale-killer class `exactMedian` was
    * built to remove (same fix as m17).
    *
    * CONTRACT — eager fit at call time: this method runs the two
    * order-statistic Spark jobs when CALLED, and the returned plan carries
    * the threshold as a frozen literal. Re-executing that DataFrame after
    * the underlying data changes reuses the call-time statistic (sklearn
    * `fit`/`transform` semantics, deliberately); refit by calling again.
    * Merely building this plan therefore costs cluster jobs — don't call
    * it from plan-construction-only paths. */
  def quantileFlag(df: DataFrame, c: String, q: Double,
                   partitions: Int = 0): DataFrame = {
    val thresh = Metrics.exactPercentile(df, c, q, partitions)
    df.withColumn("q_thresh", lit(thresh))
      .withColumn("flag", (col(c) > lit(thresh)).cast("int"))
  }

  /** F5 — z-score clip to mean ± 3·sample-std (ref
    * `feature_engineering.py:161-176`; pandas `std` is ddof=1 ==
    * stddev_samp). Two passes: 1-row agg, then codegen'd clamp. */
  def zScoreClip(df: DataFrame, c: String, z: Double = 3.0): DataFrame = {
    // fit over observed finite values ([[finiteOrNull]]): a single NaN
    // would otherwise make sd NaN and clip EVERY row to NaN.
    // `__`-prefixed internal stat names: bare "m"/"sd" collided with (and
    // then dropped) caller columns of those names — the operator takes
    // ANY relation (same collision rule as duplicateRowCount's __n$i)
    val stats = df.agg(avg(finiteOrNull(col(c))).as("__zc_m"),
      stddev_samp(finiteOrNull(col(c))).as("__zc_sd"))
    df.crossJoin(broadcast(stats))
      .withColumn(s"${c}_clipped", zClipBand(col(c), col("__zc_m"), col("__zc_sd"), z))
      .drop("__zc_m", "__zc_sd")
  }

  /** The F5 clip rule, one definition for [[zScoreClip]] (statistics as
    * columns of a joined 1-row aggregate) and fit-time clips (statistics
    * as literals): NULL/NaN → NULL; σ NULL or 0 → `x` unchanged; else
    * `greatest(least(x, m + zσ), m − zσ)`. ±Inf lands on the band edge. */
  def zClipBand(x: Column, m: Column, sd: Column, z: Double): Column =
    // NULL and NaN can't be meaningfully clipped into the band —
    // NULL out, explicitly: least/greatest SKIP null arguments and
    // order NaN greatest, so without the guard a NULL row silently
    // becomes the UPPER bound in Spark (and the LOWER one in DuckDB)
    when(x.isNull || isnan(x), lit(null))
      .otherwise(when(sd.isNull || sd === 0.0, x)
        .otherwise(greatest(least(x, m + sd * z), m - sd * z)))

  /** F8 — sigmoid (ref `data_ingestion.py:87`, label model
    * `1/(1+exp(-logit))`). */
  def sigmoid(c: Column): Column = lit(1.0) / (lit(1.0) + exp(-c))

  /** F3 at scale — approx_percentile (GK sketch, bounded memory) instead of
    * exact `percentile` (which buffers all values per group and cannot run
    * at 100 TB). The declared oracle queries use the exact form at test SF;
    * production pipelines should use this with `accuracy` tuned to the
    * decision granularity. */
  def quantileFlagApprox(df: DataFrame, c: String, q: Double,
                         accuracy: Int = 10000): DataFrame = {
    // fitted threshold over observed FINITE values, like every other fit
    // statistic ([[finiteOrNull]] names quantile thresholds explicitly):
    // one NaN sorts greatest, makes the approx threshold NaN, and
    // `col > NaN` is false everywhere — a silently blind monitor
    val stats = df.select(finiteOrNull(col(c)).as("__f"))
      .agg(expr(s"approx_percentile(__f, $q, $accuracy)").as("q_thresh"))
    df.crossJoin(broadcast(stats))
      .withColumn("flag", (col(c) > col("q_thresh")).cast("int"))
  }

  /** Portable rounding: `floor(x·10^d + 0.5)/10^d`. Unlike `round()`, whose
    * decimal-boundary behavior differs between engines (Spark rounds the
    * exact BigDecimal expansion of the double; DuckDB rounds in binary
    * double arithmetic), this is pure IEEE-754 multiply/add/floor/divide —
    * bit-identical in any engine. Used for every per-row float emitted by a
    * declared query; the oracle SQL uses the literal same formula. */
  def pround(c: Column, digits: Int): Column = {
    val p = math.pow(10.0, digits)
    // Non-finite passes through: Spark's floor() converts double→long with
    // JVM semantics, silently mapping NaN to 0 and ±Inf to Long.Min/Max —
    // a poisoned value must STAY poisoned (NaN in → NaN out, like both
    // engines' round()), not come out as a clean-looking 0.0.
    when(isnan(c) || abs(c) === Double.PositiveInfinity, c)
      .otherwise(floor(c * lit(p) + lit(0.5)) / lit(p))
  }

  /** Integer quantization feeding order-independent sums (`cents`,
    * micro-units): finite values → `floor(x·scale + 0.5)` as a long;
    * non-finite → NULL, which SQL sums skip — the explicit analog of the
    * oracle side's `CASE WHEN isfinite(x) THEN … END`. Without the guard
    * Spark's floor silently counts a NaN as 0 units (and ±Inf as
    * Long.Min/Max, corrupting the whole sum); DuckDB refuses the cast.
    * A NULL contribution keeps the total honest and both engines agree. */
  def qlong(c: Column, scale: Double): Column =
    when(isnan(c) || abs(c) === Double.PositiveInfinity, lit(null))
      .otherwise(floor(c * lit(scale) + lit(0.5)).cast("long"))

  /** The column with non-finite values mapped to NULL — the input to FIT
    * statistics (scaler means/stds, quantile thresholds, profile stats,
    * PSI bins): one NaN would otherwise poison the whole statistic (NaN
    * mean ⇒ every scaled row NaN; NaN sorts greatest ⇒ max/quantiles
    * garbage), turning a single bad record into a blind monitor at
    * 100 TB. Per-row TRANSFORMS keep propagating non-finite untouched —
    * the record stays visibly poisoned; only the fitted statistics are
    * computed over observed finite values (oracle side:
    * `CASE WHEN isfinite(x) THEN x END`). */
  def finiteOrNull(c: Column): Column =
    when(isnan(c) || abs(c) === Double.PositiveInfinity, lit(null)).otherwise(c)
}
