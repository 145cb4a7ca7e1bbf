package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan lint over EVERY declared query: builds each plan at sf0.001 and
  * rejects physical-plan anti-patterns unless the query is on the
  * documented allowlist. Guards future edits from silently introducing a
  * scale-killer (an unconstrained cartesian product) into the catalog. */
class PlanLintSpec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}

  /** Queries whose plan legitimately contains a cartesian join:
    * documented BOUNDED cross joins (both sides capped by an id filter) or
    * broadcast of a 1-row aggregate relation. Everything else must not. */
  private val cartesianAllowed: Set[String] = Set(
    "d13_jaccard_pairs",       // bounded doc_id < 60 both sides (documented)
    "d21_embedding_neardups")  // bounded vec_id < 300 both sides (documented)

  /** Queries whose plan legitimately contains a GLOBAL (unpartitioned)
    * window — the single-task stage every other query must avoid:
    *  - x16_moving_avg: window over the pre-aggregated MONTHLY series —
    *    input rows = #months, bounded by time span, not data volume.
    * m18 is deliberately NOT here anymore: its declared plan is now the
    * partition-offset `aucRankDistributed` (the windowed `aucRank` stays
    * test-only as the oracle cross-check). */
  private val globalWindowAllowed: Set[String] = Set(
    "x16_moving_avg")

  // matches only when the FIRST comma-separated element of the spec is
  // already an order spec (no partition columns before it)
  private val globalWindowRe =
    "windowspecdefinition\\(([^,()]+) (ASC|DESC)".r

  /** Column names that are derived from document CONTENT (shingle/
    * fingerprint/band hashes, tokens): their cardinality and skew follow
    * the data, so a window partitioned by one buffers a content-determined
    * row set in a single task — a boilerplate shingle shared by half the
    * corpus pins one task to half the exploded rows (AQE can split skewed
    * JOIN partitions, never window partitions). df-style counts over such
    * keys must be groupBy partial aggregates (the r5 verdict's d43 fix). */
  private val contentDerivedCols = Set(
    "sh", "__sh2", "fp", "bh", "word", "token", "term", "shingle", "bigram",
    "text", "text_hash")

  // matches `<name>#<exprId>` for any content-derived name — catches a
  // partition element that is an EXPRESSION over a content column (e.g.
  // lower(sh#1), xxhash64(fp#2)), not just a bare column reference
  private val contentColRefRe =
    ("\\b(" + contentDerivedCols.map(java.util.regex.Pattern.quote).mkString("|") + ")#\\d").r

  /** Partition-element text of every windowspecdefinition in the plan:
    * balanced-paren extraction of the full argument list (the old
    * `[^()]*` capture stopped at the first nested paren, truncating any
    * expression-valued element), split on top-level commas, kept up to
    * the first order spec (`col ASC/DESC`) — i.e. exactly the PARTITION
    * BY elements. Order columns are deliberately excluded: ordering by a
    * content column within a safely-partitioned window is fine; it is
    * partitioning by one that creates the unsplittable task. */
  private def windowPartitionElems(plan: String): Seq[String] = {
    val marker = "windowspecdefinition("
    Iterator.iterate(plan.indexOf(marker))(i => plan.indexOf(marker, i + 1))
      .takeWhile(_ >= 0).toSeq.flatMap { at =>
        val start = at + marker.length
        // walk to the matching close paren
        var depth = 1; var i = start
        val elems = scala.collection.mutable.Buffer.empty[String]
        var elemStart = start
        while (depth > 0 && i < plan.length) {
          plan.charAt(i) match {
            case '(' => depth += 1
            case ')' =>
              depth -= 1
              if (depth == 0) elems += plan.substring(elemStart, i)
            case ',' if depth == 1 =>
              elems += plan.substring(elemStart, i); elemStart = i + 1
            case _ => ()
          }
          i += 1
        }
        elems.toSeq.map(_.trim)
          .takeWhile(e => !e.contains(" ASC") && !e.contains(" DESC"))
      }
  }

  private def contentKeyedWindowCols(plan: String): Set[String] =
    windowPartitionElems(plan)
      .flatMap(e => contentColRefRe.findAllMatchIn(e).map(_.group(1)))
      .toSet

  test("no declared query plans an unexpected CartesianProduct, global window, or content-keyed window") {
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val cart =
          if (plan.contains("CartesianProduct") && !cartesianAllowed(name))
            Seq(name -> "CartesianProduct") else Seq.empty
        // a windowspecdefinition whose FIRST element is already the order
        // spec (col ASC/DESC) has an empty partition list → global window
        val glob =
          if (globalWindowRe.findFirstIn(plan).isDefined && !globalWindowAllowed(name))
            Seq(name -> "global (unpartitioned) window") else Seq.empty
        // no allowlist: a window partitioned by a content-derived key is
        // unsplittable under data skew, never legitimate in this catalog
        val contentKeyed = contentKeyedWindowCols(plan)
        val ck =
          if (contentKeyed.nonEmpty)
            Seq(name -> s"window partitioned by content-derived $contentKeyed")
          else Seq.empty
        cart ++ glob ++ ck
      } catch {
        case e: Throwable => Seq(name -> s"plan build failed: ${e.getMessage}")
      }
    }
    assert(violations.isEmpty, violations.mkString("\n"))
  }

  test("no declared query plans the single-buffer exact percentile aggregate") {
    // Spark's exact `percentile`/`median` aggregates buffer EVERY input
    // value of the group in ONE aggregation buffer (an OpenHashMap per
    // buffer) — the guaranteed-OOM-at-scale class batch 7 removed from the
    // last three fit paths. Bounded alternatives the catalog uses instead:
    // Metrics.exactPercentiles (range-repartition order statistics, enters
    // the plan as a literal), the (value,count)-histogram interpolation
    // (lengthQuantiles), and approx_percentile (GK sketch — allowed here:
    // its buffer is bounded by the accuracy knob, not the data).
    val exactPercentileRe = "(?<![_a-zA-Z])(percentile|median)\\(".r
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        exactPercentileRe.findFirstIn(plan).map(m => name -> m).toSeq
      } catch {
        case e: Throwable => Seq(name -> s"plan build failed: ${e.getMessage}")
      }
    }
    assert(violations.isEmpty, violations.mkString("\n"))
    // the regex must actually see the banned shape (guards a rename of the
    // aggregate's pretty name silently blinding this lint) and must NOT
    // fire on the bounded approx form
    import org.apache.spark.sql.functions.expr
    import spark.implicits._
    val exact = Seq(1.0, 2.0).toDF("v").agg(expr("percentile(v, 0.5)"))
      .queryExecution.executedPlan.toString
    assert(exactPercentileRe.findFirstIn(exact).isDefined)
    val approx = Seq(1.0, 2.0).toDF("v").agg(expr("approx_percentile(v, 0.5, 100)"))
      .queryExecution.executedPlan.toString
    assert(exactPercentileRe.findFirstIn(approx).isEmpty)
  }

  test("v10 PSI sweep plan: one pruned lineitem scan, broadcast totals join") {
    import graft.operators.Validation
    val widths = Validation.defaultPsiWidths
    // pre-checkpoint shape: the whole sweep derives from ONE lineitem scan
    // (unpivot happens in the projection, not via self-union), with only
    // the watched columns + time column in the pruned scan schema
    val countsPlan = Validation.psiCounts(Tables.lineitem(spark, sfDir),
        "l_shipdate", "1995-06-01", widths, 10)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(countsPlan).size
    assert(scans == 1, s"expected 1 scan, got $scans")
    // the scan's output attribute list (ReadSchema text is truncated by
    // spark.sql.maxMetadataStringLength, so parse the column list instead)
    val readCols = "FileScan parquet \\[([^\\]]*)\\]".r
      .findFirstMatchIn(countsPlan).map(_.group(1)).getOrElse("")
      .split(",").map(_.trim.takeWhile(_ != '#')).toSet
    assert(readCols == Set("l_quantity", "l_extendedprice", "l_discount",
      "l_tax", "l_shipdate"), readCols)
    // final plan: counts is checkpointed, so NOTHING re-reads the table
    // (zero file scans downstream) and per-column totals come back via a
    // broadcast join, never a shuffle of the data
    val finalPlan = SparkEntry.queries("v10_psi_by_column")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!finalPlan.contains("FileScan parquet"), "table re-scanned downstream")
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan.take(500))
  }

  /** Queries that legitimately scan the same table more than once — the
    * full rationale lives in [[graft.tools.ScanAudit]]'s scaladoc
    * (two-pass fit/transform contracts, id-pruned query-side reads,
    * bounded self-pair joins, multi-branch semantics demos, two roles).
    * Everything else must be single-scan per table. */
  private val multiScanAllowed: Map[String, Set[String]] = Map(
    "d13_jaccard_pairs" -> Set("documents"),
    "d14_cosine_topk" -> Set("embeddings"),
    // two ROLES of the same file: train corpus vs benchmark suite (id-split
    // here; distinct tables in production) — each side needs its own scan
    "d44_decontaminate" -> Set("documents"),
    "d49_decontaminate_winnowed" -> Set("documents"),
    // two ROLES again: split members vs their representatives (the
    // component evidence itself hides behind connectedComponents'
    // checkpoints — see the blind-spot note below)
    "d62_component_split" -> Set("documents"),
    "d16_lsh_topk" -> Set("embeddings"),
    "d21_embedding_neardups" -> Set("embeddings"),
    "f5_zscore_clip" -> Set("orders"),
    "m1_standard_scale" -> Set("customer"),
    "m2_minmax_scale" -> Set("orders"),
    // m3 is deliberately NOT here anymore: its fit statistics moved to the
    // eager exactPercentiles jobs (batch 7), so the declared plan is a
    // single literal-threshold scan — re-adding a second in-plan scan
    // should fail this lint
    "x21_above_avg_orders" -> Set("orders"),
    "x24_union_semantics" -> Set("orders"),
    "x28_nation_pair_volume" -> Set("nation"),
    "x34_asof_bucketed" -> Set("orders", "events"),
    "x8_intersect_statuses" -> Set("orders"))

  /** Known blind spot: eager `localCheckpoint(true)` truncates lineage, so
    * scans consumed BEFORE a checkpoint are invisible to this lint (the
    * checkpointed queries audit as zero-scan). The lint still pins every
    * fixed regression — removing a load-bearing checkpoint (the d36 bug's
    * shape) resurfaces the FileScan lines and fails here — but a NEW
    * query that multi-scans before its checkpoint passes silently; v10
    * covers that case with a dedicated pre-checkpoint assertion above,
    * and `graft.tools.ScanAudit` is the manual sweep for the rest. */
  test("no declared query re-scans a table outside the documented multi-scan set") {
    val pathRe = "file:[^\\]\\s,]*?/(\\w+)\\.parquet".r
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val scans = plan.linesIterator.filter(_.contains("FileScan parquet"))
          .flatMap(l => pathRe.findFirstMatchIn(l).map(_.group(1))).toSeq
        val dups = scans.groupBy(identity).filter(_._2.size > 1).keySet
        val undocumented = dups -- multiScanAllowed.getOrElse(name, Set.empty)
        if (undocumented.nonEmpty) Seq(name -> undocumented) else Seq.empty
      } catch {
        case e: Throwable => Seq(name -> Set(s"plan build failed: ${e.getMessage}"))
      }
    }
    assert(violations.isEmpty, violations.mkString("\n"))
  }

  test("d62 shuffles never carry document text: the fence is computed below every exchange") {
    // splitColumn is a pure function of text, so componentSplit computes
    // it in the scan-side projection and shuffles a narrow (rep_id, split)
    // relation; a regression that moves the fence ABOVE the rep join puts
    // every document's full text through the exchange — at 100 TB the
    // difference between a trivial and a dominant stage (r17 verdict #2)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def exchanges(p: SparkPlan): Seq[ShuffleExchangeLike] = {
      val here = p match { case e: ShuffleExchangeLike => Seq(e); case _ => Seq.empty }
      here ++ p.children.flatMap(exchanges)
    }
    // AQE off for the plan BUILD only: AdaptiveSparkPlanExec inserts its
    // exchanges lazily per query stage (its pre-execution tree hides them
    // from a children traversal); EnsureRequirements places the same
    // shuffles either way, and this lint is about their payload width
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val exs = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      exchanges(SparkEntry.queries("d62_component_split")(spark, sfDir)
        .queryExecution.executedPlan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    // the join/sort shuffles must exist (the lint must be looking at the
    // real plan, not a collapsed one) and none may output a text column
    assert(exs.nonEmpty, "expected at least one shuffle in the d62 plan")
    val wide = exs.filter(_.output.exists(_.name.toLowerCase.contains("text")))
    assert(wide.isEmpty,
      s"exchange carries document text: ${wide.map(_.output.map(_.name).mkString("[", ",", "]"))}")
  }

  test("catalog consistency: every oracle belongs to a declared query; rows-only set is the documented one") {
    val orphanOracles = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphanOracles.isEmpty, s"oracles without queries: $orphanOracles")
    // rows-only queries (no SQL oracle) — each must be deliberate:
    // engine-specific hash families / HLL / k-means / engine-local decode
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val documented = Set(
      "d15_minhash_neardups", "d16_lsh_topk", "d17_simhash_neardups",
      "d19_approx_distinct", "d22_ivf_topk", "d28_winnow_neardups",
      "d30_decode_stats", "d38_incremental_neardups",
      // k-means cells are an engine-local artifact (same rationale as
      // d22); evidence = DedupSimilaritySpec's planted-recall, brute-
      // force-precision, and density-band pins
      "d59_semantic_dedup",
      // PQ codebooks/codes are engine-local k-means artifacts (d22's
      // rationale); evidence = dup-code identity, exact-L2 recall floor,
      // ADC distance-error bars, layout determinism, probed-vs-full
      // ADC-distance equality (DedupSimilaritySpec)
      "d65_pq_topk", "d66_ivfpq_topk",
      // residual-coded IVFADC (by_residual=true — same rationale as
      // d66); evidence = residual dup-code identity, clustered-corpus
      // error-halving pin, cross-family recall floor, layout determinism
      "d67_ivfpq_residual_topk",
      // PQ/SDC (query-by-codes symmetric distance — same engine-local
      // codebook rationale as d65); evidence = planted copy at SDC
      // distance exactly 0, recall floor with ADC-dominates-SDC pinned,
      // layout determinism (DedupSimilaritySpec)
      "d68_sdc_topk",
      // BPE merge loop = iterative global argmax, not SQL-expressible
      "d46_bpe_merges",
      // winnowing hash family is engine-local (same rationale as d28)
      "d47_training_sequences_winnowed",
      // encode side of the BPE merge loop (same rationale as d46)
      "d48_bpe_token_counts",
      // winnowed decontamination (same rationale as d47)
      "d49_decontaminate_winnowed",
      // d49's audit companion (same engine-local hash family); empty on
      // the clean fixture BY DESIGN — its evidence is the gate's planted
      // mass-leak arm, which asserts it names every planted carrier
      "d53_mass_contamination_suspects")
    assert(rowsOnly == documented,
      s"undocumented rows-only: ${rowsOnly -- documented}; stale: ${documented -- rowsOnly}")
  }

  test("every oracle carries the canonical-type CTE prelude, merged without " +
      "breaking an existing WITH / WITH RECURSIVE list") {
    // the prelude is what keeps the DuckDB side on the engine's canonical
    // types under a re-typed fixture (the general form of the x25 pin);
    // an oracle that bypassed it would silently re-open the drift gap
    for ((name, sql) <- SparkEntry.oracleSql) {
      assert(sql.startsWith("WITH "),
        s"$name: oracle lacks the canonical prelude")
      assert(sql.contains("region AS (SELECT * REPLACE"),
        s"$name: canonical CTE defs missing")
      // a merged query must not contain a second top-level WITH keyword
      // immediately after the prelude (the merge joins lists with a comma)
      assert(!sql.matches("(?s)WITH .*\\) WITH .*"),
        s"$name: unmerged WITH list")
    }
    // merge shapes: plain, WITH, WITH RECURSIVE ("customer" leads the
    // generated prelude — tables are emitted in sorted order)
    assert(SparkEntry.withCanon("SELECT 1").startsWith("WITH customer AS"))
    val w = SparkEntry.withCanon("WITH t AS (SELECT 1) SELECT * FROM t")
    assert(w.startsWith("WITH customer AS") && w.contains(", t AS (SELECT 1)"))
    val r = SparkEntry.withCanon(
      "WITH RECURSIVE t AS (SELECT 1) SELECT * FROM t")
    assert(r.startsWith("WITH RECURSIVE customer AS") &&
      r.contains(", t AS (SELECT 1)"))
    // CTE bodies must reference the catalog-qualified view so a shadow CTE
    // under WITH RECURSIVE is not a self-reference
    assert(SparkEntry.withCanon("SELECT 1").contains("FROM main.region"))
  }

  test("FeaturePipeline.fit output is a flat projection: no join, no broadcast exchange") {
    // the fitted statistics (clip bands, p75) enter as literals; a lazy
    // 1-row-aggregate cross-join here would be re-planned and re-run by
    // every action on the frame (the p75 fit, the dirty-input gate, the
    // indexer and scaler fits, the split's pinned draw)
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    val (feat, _) = graft.ml.FeaturePipeline.fit(graft.ml.DataGen.generate(spark, 300, 5L))
    val qe = feat.queryExecution
    assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty, qe.optimizedPlan.treeString)
    // the helper walks into the adaptive plan's (not yet executed) stages
    val broadcasts = new AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(qe.executedPlan) { case b: BroadcastExchangeLike => b }
    assert(broadcasts.isEmpty, qe.executedPlan.treeString)
  }
}
