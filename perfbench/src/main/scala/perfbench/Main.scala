package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** Result of one iteration of a workload. `ops` holds the name and wall
  * time of each operation the iteration timed (one catalog query, one
  * pipeline run); `failures` names each failed operation
  * or check. */
final case class Iter(wallS: Double, ops: Seq[(String, Double)], attempted: Int,
                      failures: Seq[String])

trait Workload {
  /** Opens the inputs in a fresh session; part of every set-up. */
  def open(spark: SparkSession): Unit
  /** One iteration through the program's public entry points. */
  def iterate(spark: SparkSession, it: Int): Iter
  /** One traced iteration. Defaults to [[iterate]]; spans split it. */
  def iterateTraced(spark: SparkSession, it: Int): Iter = iterate(spark, it)
  /** Set-ups a run makes; `setup_s` is their median. */
  def setups: Int = 5
  /** Untimed iterations before the timed ones. */
  def warmIterations: Int = 1
  /** Timed iterations a run makes at least. */
  def minTimed: Int = 2
  /** Traced iterations a traced run makes at least. */
  def minTraced: Int = 2
  /** Largest share by which the traced iterations may differ from the
    * untraced one after them; None leaves the agreement unchecked. */
  def tracedAgreement: Option[Double] = None
  /** Workload-specific layer figures of one traced iteration. */
  def layerDetail(calls: Seq[Span.Call], totals: Map[String, SpanTotals],
                  progress: Seq[Progress]): Map[String, Double] = Map.empty
  /** Workload-specific layer figures of the whole traced run. */
  def runDetail(spark: SparkSession): Map[String, Double] = Map.empty
  /** Fixed facts about the inputs, for the run record. */
  def describe: Map[String, String]
}

/** Runs one workload for a bounded time and prints one JSON result line.
  *
  * Usage: `Main --workload <catalog|churn> --seed <n> --seconds <s>
  * --trace <0|1> --root <checkout> --work <scratch dir> --cores <n>
  * --record <file>`. The record file gets everything the run measured,
  * the workload-specific layer figures and the load markers included.
  * Launched by `perfbench/run.py`, which builds the program first. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        root: String, work: String, cores: Int, record: String = "")

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("root"), need("work"), need("cores").toInt, need("record"))
  }

  def session(a: Args): SparkSession = {
    val b = SparkSession.builder().master(s"local[${a.cores}]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    if (a.trace) b.config("spark.sql.streaming.streamingQueryListeners",
      classOf[StreamTrace].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftExtensions.register(s)
    s
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
    catch { case scala.util.control.NonFatal(_) => "" }

  def median(xs: Seq[Double]): Double = Stats.quantile(xs, 0.5)

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val sinceJvmStart = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val load0 = loadavg()
    Files.createDirectories(Paths.get(a.work))
    val fixture = s"${a.root}/perfbench/fixture/sf0.001"
    val wl: Workload = a.workload match {
      case "catalog" => new CatalogLoad(a, fixture)
      case "churn" => new ChurnLoad(a)
      case other => sys.error(s"unknown workload $other")
    }

    // Set-up 1 runs from JVM start.
    var spark = session(a)
    wl.open(spark)
    val setups = mutable.ArrayBuffer(sinceJvmStart + secs(t0))
    // The other set-ups rebuild the session in the warm JVM. Before each,
    // untimed: a full collection, so no set-up pays for an earlier one's
    // garbage, and a pause in which the stopped context's threads wind
    // down, which steadies churn's short set-ups.
    // A traced run prints no `setup_s`: one set-up is enough.
    for (_ <- 2 to (if (a.trace) 1 else wl.setups)) {
      stop(spark)
      System.gc()
      Thread.sleep(200)
      val ts = System.nanoTime()
      spark = session(a)
      wl.open(spark)
      setups += secs(ts)
    }
    // Untimed warm iterations: code generation and JIT for the timed ones.
    val tw = System.nanoTime()
    // a traced run always warms: its traced and untraced iterations compare
    val nWarm = if (a.trace) math.max(1, wl.warmIterations) else wl.warmIterations
    val warm = (1 to nWarm).map(i => wl.iterate(spark, -i))
    val warmS = secs(tw)

    val timed = mutable.ArrayBuffer.empty[Iter]
    val traced = mutable.ArrayBuffer.empty[(Iter, Map[String, Double])]
    val tl = System.nanoTime()
    if (!a.trace) {
      var it = 1
      while (timed.size < wl.minTimed || secs(tl) < a.seconds) {
        timed += wl.iterate(spark, it); it += 1
      }
    } else {
      val tracer = new Tracer
      spark.sparkContext.addSparkListener(tracer)
      StreamTrace.active = Some(tracer)
      tracer.drain(spark); Span.drainCalls()
      var it = 1
      val tt = System.nanoTime()
      while (traced.size < wl.minTraced || secs(tt) < a.seconds) {
        HeapPeak.reset()
        val r = wl.iterateTraced(spark, it)
        val heapMb = HeapPeak.mb
        val (totals, progress) = tracer.drain(spark)
        val calls = Span.drainCalls()
        traced += r -> (Layers.generic(calls, totals, heapMb) ++
          wl.layerDetail(calls, totals, progress))
        it += 1
      }
      StreamTrace.active = None
      spark.sparkContext.removeSparkListener(tracer)
      // the reference for the tracing overhead: one untraced iteration
      // after the traced ones, so at least as warm as they were (the
      // overhead is an upper bound); one before them as well would make a
      // traced churn run too long for its time limit on a loaded host
      timed += wl.iterate(spark, it)
    }
    val overhead =
      if (!a.trace) 0.0 else median(traced.map(_._1.wallS).toSeq) / timed.head.wallS
    val disagreement = wl.tracedAgreement.filter(tol => a.trace && math.abs(overhead - 1) > tol)
      .map(tol => f"traced iterations took $overhead%.2f times the untraced ones, beyond $tol%.2f")
    val all = warm ++ timed ++ traced.map(_._1)
    val failures = all.flatMap(_.failures) ++ disagreement
    val attempted = all.map(_.attempted).sum

    val (reported, detail): (Map[String, Double], Map[String, Double]) =
      if (!a.trace) {
        // each operation's fastest time over the timed iterations (as
        // graft.Bench takes min-of-3): a slow iteration, from a burst of
        // host load or a collection pause, moves no figure
        val ops = timed.flatMap(_.ops).groupBy(_._1).values.map(_.map(_._2).min).toSeq
        // the per-operation percentiles go to the record only: on a 12-query
        // slice they move by a fifth between runs, and fewer than ten
        // samples lie beyond any percentile above the median
        (Map("setup_s" -> median(setups.toSeq), "iteration_s" -> ops.sum),
          Map("op_p50_s" -> Stats.quantile(ops, 0.5), "op_p90_s" -> Stats.quantile(ops, 0.9)))
      } else {
        val layers = traced.map(_._2).toSeq
        val merged = layers.head.keys.map { k =>
          val vs = layers.map(_.getOrElse(k, 0.0))
          // counts are taken from the last iteration, figures as medians
          k -> (if (Layers.isCount(k)) vs.last else median(vs))
        }.toMap ++ wl.runDetail(spark) + ("trace.overhead" -> overhead)
        merged.partition { case (k, _) => Layers.reported.contains(k) }
      }
    val repeats =
      if (!a.trace) Map.empty[String, Boolean]
      else Layers.counts.map(k => k -> (traced.map(_._2.getOrElse(k, 0.0)).distinct.size == 1)).toMap
    val load1 = loadavg()
    stop(spark)

    val record = Json.obj(
      "workload" -> Json.str(a.workload), "seed" -> Json.num(a.seed.toDouble),
      "trace" -> Json.bool(a.trace), "cores" -> Json.num(a.cores.toDouble),
      "loadavg_start" -> Json.str(load0), "loadavg_end" -> Json.str(load1),
      "setups_s" -> Json.arr(setups.toSeq.map(Json.num)),
      "warm_s" -> Json.num(warmS),
      "iterations_s" -> Json.arr(timed.toSeq.map(i => Json.num(i.wallS))),
      "traced_s" -> Json.arr(traced.toSeq.map(t => Json.num(t._1.wallS))),
      "ops_s" -> Json.obj(timed.flatMap(_.ops).groupBy(_._1).toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.arr(v.map(o => Json.num(o._2)).toSeq) }: _*),
      "inputs" -> Json.obj(wl.describe.toSeq.map { case (k, v) => k -> Json.str(v) }: _*),
      "counts_repeat" -> Json.obj(repeats.toSeq.sorted.map { case (k, v) => k -> Json.bool(v) }: _*),
      "failures" -> Json.arr(failures.take(50).map(Json.str)),
      "metrics" -> Json.obj(reported.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }: _*),
      "layers" -> Json.obj(detail.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }: _*))
    Files.createDirectories(Paths.get(a.record).getParent)
    Files.write(Paths.get(a.record), (record + "\n").getBytes("UTF-8"))
    System.err.println(s"[perfbench] $record")

    val result = Json.obj(
      "correct" -> Json.bool(failures.isEmpty),
      "attempted" -> Json.num(attempted.toDouble),
      "failed" -> Json.num(math.min(failures.size, attempted).toDouble),
      "metrics" -> Json.obj(reported.toSeq.sorted.map { case (k, v) =>
        k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(Layers.unit(k)))
      }: _*))
    println(result)
  }
}

object Stats {
  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Layer figures common to every workload, from one traced iteration. */
object Layers {
  /** The per-layer figures a traced run prints; every workload has each.
    * Workload-specific figures (operator families, pipeline stages,
    * stream drains) go to the run record only. */
  val reported: Seq[String] = Seq("jobs", "stages", "tasks", "task_busy_s", "task_wait_s",
    "driver_gap_s", "shuffle_write_mb", "spill_mb", "gc_s", "heap_peak_mb", "call_s",
    "mat_jobs", "cc_jobs", "trace.overhead")

  val counts: Seq[String] = Seq("jobs", "stages", "tasks", "mat_jobs", "cc_jobs")

  def isCount(k: String): Boolean =
    counts.contains(k) || k.endsWith(".batches") ||
      k.endsWith(".input_rows") || k.endsWith(".cv_fits")

  def unit(k: String): String =
    if (isCount(k)) "count"
    else if (k.endsWith("_ms")) "ms"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_s")) "s"
    else "ratio"

  def generic(calls: Seq[Span.Call], totals: Map[String, SpanTotals],
              heapMb: Double): Map[String, Double] = {
    // only this iteration's calls: jobs outside any span are not its work
    val ts = calls.flatMap(c => totals.get(c.id))
    def sum(f: SpanTotals => Long): Double = ts.map(f).sum.toDouble
    // driver gap: the part of each call during which none of its jobs ran
    val gapMs = calls.map { c =>
      val jobs = totals.get(c.id).map(_.jobIntervals).getOrElse(Nil)
        .map { case (s, e) => (math.max(s, c.startMs), math.min(e, c.endMs)) }
        .filter { case (s, e) => e > s }
      (c.endMs - c.startMs) - Intervals.unionMs(jobs)
    }.sum
    Map(
      "jobs" -> sum(_.jobs), "stages" -> sum(_.stages), "tasks" -> sum(_.tasks),
      "task_busy_s" -> sum(_.busyMs) / 1e3, "task_wait_s" -> sum(_.waitMs) / 1e3,
      "gc_s" -> sum(_.gcMs) / 1e3, "driver_gap_s" -> gapMs / 1e3,
      "shuffle_write_mb" -> sum(_.shuffleWriteBytes) / 1048576.0,
      "spill_mb" -> sum(_.spillBytes) / 1048576.0,
      "mat_jobs" -> sum(_.matJobs), "cc_jobs" -> sum(_.ccJobs),
      "heap_peak_mb" -> heapMb,
      // wall time inside the program's calls; the other spans consume output
      "call_s" -> calls.filterNot(c => c.label.endsWith("/exec") || c.label == "consume")
        .map(_.wallS).sum)
  }

}
