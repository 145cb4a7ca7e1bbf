package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** What each catalog query must return on the committed fixture, and the
  * slice of the catalog the workload runs (`perfbench/expected/catalog.json`). */
final case class Expected(family: Map[String, String], rows: Map[String, Long],
                          hash: Map[String, String], slice: Seq[String]) {
  /** A failure message, or None. Queries without a hash (their output does
    * not repeat bit for bit) are checked by row count only. */
  def check(q: String, d: Digest.Value): Option[String] =
    if (!rows.contains(q)) Some(s"$q: no expectation")
    else if (d.rows != rows(q)) Some(s"$q: ${d.rows} rows, expected ${rows(q)}")
    else if (hash.get(q).exists(_ != d.hash)) Some(s"$q: output hash differs")
    else None
}

object Expected {
  def load(path: String): Expected = {
    val root = new ObjectMapper().readTree(Files.readString(Paths.get(path)))
    val qs = root.get("queries").fields().asScala.map(e => e.getKey -> e.getValue).toSeq
    Expected(
      qs.map { case (q, v) => q -> v.get("family").asText }.toMap,
      qs.map { case (q, v) => q -> v.get("rows").asLong }.toMap,
      qs.collect { case (q, v) if v.hasNonNull("hash") => q -> v.get("hash").asText }.toMap,
      root.get("slice").elements().asScala.map(_.asText).toSeq)
  }
}

/** `catalog`: the slice of `SparkEntry.queries` on the committed fixture,
  * in an order drawn from the seed. Each query's full output is consumed
  * through [[Digest]] and checked against the committed expectation. */
final class CatalogLoad(a: Main.Args, fixture: String) extends Workload {
  private val queries = SparkEntry.queries
  private val expected = Expected.load(s"${a.root}/perfbench/expected/catalog.json")

  /** Two timed passes; a query's time is the faster of its two. The second
    * timed pass runs about a fifth slower than the first in every run,
    * garbage collected beforehand or not, so a third pass adds little. */
  override def minTimed: Int = 2

  def open(spark: SparkSession): Unit =
    CatalogLoad.tables.foreach(t => Tables.canonical(spark, fixture, t).schema)

  def iterate(spark: SparkSession, it: Int): Iter = {
    val order = new scala.util.Random(a.seed * 1000003L + it).shuffle(expected.slice)
    val ops = mutable.ArrayBuffer.empty[(String, Double)]
    val failures = mutable.ArrayBuffer.empty[String]
    order.foreach { q =>
      val t0 = System.nanoTime()
      try {
        val df = Span(spark, s"$q/build")(queries(q)(spark, fixture))
        val d = Span(spark, s"$q/exec")(Digest.of(df))
        ops += q -> (System.nanoTime() - t0) / 1e9
        failures ++= expected.check(q, d)
      } catch {
        case NonFatal(e) => failures += s"$q: ${Option(e.getMessage).getOrElse(e.toString).take(200)}"
      }
      // hygiene between queries, outside the timing (as graft.Bench does)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    Iter(ops.map(_._2).sum, ops.toSeq, order.size, failures.toSeq)
  }

  override def layerDetail(calls: Seq[Span.Call], totals: Map[String, SpanTotals],
                           progress: Seq[Progress]): Map[String, Double] = {
    def query(c: Span.Call) = c.label.takeWhile(_ != '/')
    val byFamily = calls.groupBy(c => expected.family(query(c)))
      .map { case (f, cs) => s"catalog.family.${f}_s" -> cs.map(_.wallS).sum }
    val families = CatalogLoad.families.map(f => s"catalog.family.${f}_s" -> 0.0).toMap
    def p(f: Progress => Long): Double = progress.map(f).sum.toDouble
    families ++ byFamily ++ Map(
      "catalog.build_s" -> calls.filter(_.label.endsWith("/build")).map(_.wallS).sum,
      "catalog.exec_s" -> calls.filter(_.label.endsWith("/exec")).map(_.wallS).sum,
      "catalog.mat_s" -> totals.values.map(_.matMs).sum / 1e3,
      "streaming.batches" -> progress.size.toDouble,
      "streaming.input_rows" -> p(_.inputRows),
      "streaming.add_batch_s" -> p(_.addBatchMs) / 1e3,
      "streaming.query_planning_s" -> p(_.planningMs) / 1e3,
      "streaming.wal_commit_s" -> p(_.walCommitMs) / 1e3,
      "streaming.commit_offsets_s" -> p(_.commitOffsetsMs) / 1e3)
  }

  /** `tables.load_ms`: median time of `Tables.canonical` plus its schema
    * over the ten tables, three rounds (the first warms the session's
    * schema cache). Only this workload loads tables. */
  override def runDetail(spark: SparkSession): Map[String, Double] = {
    val ms = (1 to 3).flatMap { _ =>
      CatalogLoad.tables.map { t =>
        val t0 = System.nanoTime()
        Tables.canonical(spark, fixture, t).schema
        (System.nanoTime() - t0) / 1e6
      }
    }
    Map("tables.load_ms" -> Stats.quantile(ms, 0.5))
  }

  def describe: Map[String, String] = Map(
    "fixture" -> "perfbench/fixture/sf0.001",
    "queries" -> expected.slice.size.toString,
    "hash_checked" -> expected.slice.count(expected.hash.contains).toString)
}

object CatalogLoad {
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  val families: Seq[String] = Seq("validation", "features", "relational", "mlops",
    "text", "events", "dedup", "similarity", "corpus", "streaming")
}

/** Records every catalog query's row count, output hash and wall time over
  * several passes in one JVM, one JSON line per query and pass. Used to
  * write `perfbench/expected/catalog.json` (see `perfbench/record.py`).
  *
  * Usage: `RecordCatalog <fixture dir> <work dir> <cores> <passes>` */
object RecordCatalog {
  def main(argv: Array[String]): Unit = {
    val Array(fixture, work, cores, passes) = argv
    val a = Main.Args("catalog", 0L, 0.0, trace = false, "", work, cores.toInt)
    val spark = Main.session(a)
    val queries = SparkEntry.queries
    for (pass <- 0 until passes.toInt; q <- queries.keys.toSeq.sorted) {
      val t0 = System.nanoTime()
      val line =
        try {
          val d = Digest.of(queries(q)(spark, fixture))
          Json.obj("query" -> Json.str(q), "pass" -> Json.num(pass),
            "rows" -> Json.num(d.rows.toDouble), "hash" -> Json.str(d.hash),
            "secs" -> Json.num((System.nanoTime() - t0) / 1e9))
        } catch {
          case NonFatal(e) => Json.obj("query" -> Json.str(q), "pass" -> Json.num(pass),
            "error" -> Json.str(String.valueOf(e.getMessage).take(300)))
        }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      println(line)
    }
    spark.stop()
  }
}
