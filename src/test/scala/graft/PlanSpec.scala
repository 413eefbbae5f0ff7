package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions (SURVEY.md §4): the optimizations that
  * matter at 100 TB must actually appear in the EXECUTED plan — filters
  * reaching the parquet scan, column pruning, broadcast joins for dims,
  * true top-k, whole-stage codegen — not just be hoped for. Queries are
  * executed first so AQE settles on its final plan. */
class PlanSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.session

  /** The static physical plan (AQE disabled for inspection — adaptive
    * wraps stages in opaque QueryStageExec leaves; the static plan is
    * what the pushdown/broadcast/codegen assertions are about). */
  private def finalPlan(name: String): SparkPlan = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sfDir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    p.collectWithSubqueries { case f: FileSourceScanExec => f }

  test("q_filter pushes predicates into the parquet scan") {
    val s = scans(finalPlan("q_filter"))
    assert(s.nonEmpty)
    val pushed = s.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("l_quantity") && pushed.contains("l_discount"),
      s"filters not pushed: $pushed")
  }

  test("q_scan_parquet prunes to the 4 referenced columns") {
    val cols = scans(finalPlan("q_scan_parquet")).head.output.map(_.name)
    assert(cols.toSet == Set(
      "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"),
      s"scan reads $cols")
  }

  test("q_join_inner broadcasts the dimension sides, no sort-merge") {
    val p = finalPlan("q_join_inner")
    assert(p.collect { case b: BroadcastHashJoinExec => b }.size == 2, p)
    assert(p.collect { case s: SortMergeJoinExec => s }.isEmpty,
      "star join must not shuffle the fact side into a sort-merge join")
  }

  test("q_agg_basic aggregates map-side before its single shuffle") {
    val p = finalPlan("q_agg_basic")
    val shuffles = p.collect { case s: ShuffleExchangeExec => s }
    // one shuffle for the aggregation + one for the final ORDER BY
    assert(shuffles.size <= 2, s"too many shuffles:\n$p")
    assert(p.toString.contains("partial_"),
      "expected map-side partial aggregation")
  }

  test("q_sort_limit is a true top-k (no global sort)") {
    assert(finalPlan("q_sort_limit").toString
      .contains("TakeOrderedAndProject"))
  }

  test("only q_join_cross may be a cartesian/nested-loop join") {
    Seq("q_dedup_ngram_jaccard", "q_dedup_minhash", "q_sim_cosine",
      "q_dedup_embedding_lsh")
      .foreach { q =>
        val p = finalPlan(q)
        assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
          s"$q degenerated to a cartesian product")
      }
  }

  test("q_join_multiway: dims broadcast, only the fact-fact join shuffles") {
    val p = finalPlan("q_join_multiway")
    // customer + nation ride broadcast; lineitem⋈orders is the one
    // legitimate shuffle join (both sides fact-sized at scale)
    assert(p.collect { case b: BroadcastHashJoinExec => b }.size >= 2, p)
    val smj = p.collect { case s: SortMergeJoinExec => s }
    assert(smj.size <= 1, s"more than one sort-merge join:\n$p")
  }

  test("q_dedup_embedding_lsh scans embeddings without reading labels") {
    // candidate generation only needs vec_id+embedding; label must be
    // pruned from every scan (wide-table discipline at 100 TB)
    val s = scans(finalPlan("q_dedup_embedding_lsh"))
    assert(s.nonEmpty)
    s.foreach { sc =>
      assert(!sc.output.map(_.name).contains("label"),
        s"label not pruned: ${sc.output.map(_.name)}")
    }
  }

  test("q_tfidf df join broadcasts via AQE, not a static hint") {
    val df = SparkEntry.queries("q_tfidf")(spark, sfDir)
    // exactly one broadcast hint in the logical plan: the single-row
    // n_docs side. The vocabulary-sized df side must NOT be hinted — a
    // static hint would pin a driver-OOM plan once the vocabulary
    // outgrows the corpus (the whole point of leaving it to AQE).
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.size == 1, s"expected only the n_docs hint: $hints")
    df.write.mode("overwrite").format("noop").save() // let AQE settle
    val finalStr = df.queryExecution.executedPlan.toString
    assert(finalStr.contains("BroadcastHashJoin"),
      s"AQE did not broadcast the fixture-scale df side:\n$finalStr")
  }

  test("q_sessionize_batch groupBy reuses the window's partitioning") {
    // lag/cumsum window shuffles on user_id; the session aggregation
    // clusters on (user_id, sid) — HashPartitioning(user_id) satisfies
    // that (subset rule), so NO second hash shuffle may appear. Total:
    // window hash + final ORDER BY range = 2.
    val shuffles = finalPlan("q_sessionize_batch")
      .collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 2,
      s"session aggregation re-shuffled: ${shuffles.size} exchanges")
  }

  test("q_gap_islands: partial distinct before shuffle, agg reuses window") {
    val p = finalPlan("q_gap_islands")
    // distinct hash + window hash + final ORDER BY range; the island
    // aggregation must reuse the window's custkey partitioning
    assert(p.collect { case s: ShuffleExchangeExec => s }.size <= 3, p)
    // the distinct runs partially map-side (shrinks BEFORE shuffling —
    // the reason the two-shuffle form beats a single-shuffle rewrite
    // that would ship every raw row)
    assert(p.toString.contains("partial_"),
      "distinct must partially aggregate map-side")
  }

  test("q_distinct_on is one hash shuffle plus the output sort") {
    val shuffles = finalPlan("q_distinct_on")
      .collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 2, s"${shuffles.size} exchanges")
  }

  test("q_join_skew_salted never degenerates to a cartesian product") {
    val p = finalPlan("q_join_skew_salted")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty, p)
  }

  test("q_hll_sketch_merge builds sketches map-side (partial agg)") {
    assert(finalPlan("q_hll_sketch_merge").toString.contains("partial_"),
      "HLL sketches must partially aggregate before the shuffle")
  }

  test("q_join_pit runs on the native as-of exec — an interval lookup " +
    "with no nested loop and no correlated re-scan") {
    val p = finalPlan("q_join_pit")
    val asofs = p.collectWithSubqueries {
      case e: graft.plans.AsOfJoinExec => e
    }
    assert(asofs.size == 1, s"expected AsOfJoinExec:\n$p")
    val s = p.toString
    assert(!s.contains("BroadcastNestedLoopJoin") &&
      !s.contains("CartesianProduct"), s)
  }

  test("q_skyline's local-prune stage runs bucket-parallel windows " +
    "(only the survivor pass is a single partition)") {
    val s = finalPlan("q_skyline").toString
    // local stage: window partitioned by the bucket column; global
    // stage: empty partition spec over the pruned survivors only
    assert(s.contains("windowspecdefinition(b#"),
      s"missing bucket-partitioned local window:\n$s")
  }

  test("q_dedup_substring: the gram index only STREAMS — shuffled-hash " +
    "joins with the small sides as builds; never broadcast, never sorted") {
    val p = finalPlan("q_dedup_substring")
    val shj = p.collectWithSubqueries { case j: ShuffledHashJoinExec => j }
    assert(shj.size == 2,
      s"expected the anti-hot + candidate joins as shuffled-hash, got:\n$p")
    assert(p.collectWithSubqueries {
      case j: SortMergeJoinExec => j
    }.isEmpty, s"10M-row index must not be sorted for a merge join:\n$p")
    assert(p.collectWithSubqueries {
      case j: BroadcastHashJoinExec => j
    }.isEmpty, s"the gram index must never be broadcast-collected:\n$p")
  }

  test("suite-wide sweep: no query degenerates to a cartesian product") {
    // the one declared exception: q_join_cross IS the cartesian row.
    // Broadcast nested-loop joins (tiny broadcast side) are fine — the
    // killer at 100 TB is CartesianProductExec, which shuffles
    // |A|×|B| pairs.
    val allowed = Set("q_join_cross")
    SparkEntry.registry.filterNot(q => allowed(q.name)).foreach { q =>
      val p = finalPlan(q.name)
      assert(p.collectWithSubqueries {
        case c: CartesianProductExec => c
      }.isEmpty, s"${q.name} plans a CartesianProduct")
    }
  }

  test("whole-stage codegen covers the hot paths (incl. DotProduct)") {
    Seq("q_agg_basic", "q_sim_query_topk").foreach { q =>
      // codegen'd stages print as "*(n)" in the static plan
      assert(finalPlan(q).toString.contains("*("),
        s"$q fell out of codegen")
    }
  }

  test("q_anomaly_zscore / q_robust_stats broadcast the per-type " +
    "moments, never window the 5-value type column") {
    Seq("q_anomaly_zscore", "q_robust_stats").foreach { q =>
      val p = finalPlan(q)
      assert(p.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
        s"$q: per-type summary must broadcast back, got\n$p")
      assert(!p.toString.contains("Window"),
        s"$q must not plan a low-cardinality window")
    }
  }

  test("q_sample_balanced ships <= k rows per class per mapper " +
    "(partial TopKAgg, no window sort)") {
    val p = finalPlan("q_sample_balanced")
    assert(p.toString.contains("partial_topk"),
      s"expected map-side partial topk aggregation:\n$p")
    assert(!p.toString.contains("Window"),
      "the bounded-heap form must not fall back to a row_number window")
  }

  test("q_quantile_bucket / q_bm25_top_term join their one-row corpus " +
    "scalars by broadcast, not cartesian") {
    Seq("q_quantile_bucket", "q_bm25_top_term").foreach { q =>
      val p = finalPlan(q)
      assert(p.collectWithSubqueries {
        case c: CartesianProductExec => c
      }.isEmpty, s"$q plans a CartesianProduct")
      assert(p.toString.contains("BroadcastNestedLoopJoin")
        || p.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
        s"$q: scalar side must broadcast:\n$p")
    }
  }

  test("q_winnow_fingerprint is shuffle-free up to its final sort " +
    "(fused expression: no explode, no window, no re-aggregation)") {
    val p = finalPlan("q_winnow_fingerprint")
    assert(!p.toString.contains("Window"), s"window survived fusion:\n$p")
    assert(!p.toString.contains("Generate"), s"explode survived fusion:\n$p")
    val shuffles = p.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 1, s"only the ORDER BY may shuffle:\n$p")
  }

  test("q_minmax_scale broadcasts the per-type extrema back onto the " +
    "fact stream, never a low-cardinality window") {
    val p = finalPlan("q_minmax_scale")
    assert(p.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
      s"extrema must broadcast:\n$p")
    assert(!p.toString.contains("Window"),
      "scaling must not plan a 5-partition window")
  }

  test("q_distinct_bitmap aggregates bitmaps map-side (partial " +
    "bitmap_construct_agg before the shuffle)") {
    val s = finalPlan("q_distinct_bitmap").toString
    assert(s.contains("partial_bitmap_construct_agg")
      || s.contains("partial_bitmapconstructagg")
      || s.toLowerCase.contains("partial") && s.toLowerCase
        .contains("bitmap"),
      s"bitmap partial aggregation missing:\n$s")
  }

  test("q_feature_hash pushes the doc_id predicate into the scan " +
    "(the explode only sees selected documents)") {
    val sc = scans(finalPlan("q_feature_hash"))
      .find(_.output.exists(_.name == "doc_id")).get
    val pushed = sc.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("doc_id"), s"doc filter not pushed: $pushed")
  }

  test("q_scan_partitioned prunes to the one priority partition " +
    "(directory-level pruning on the hive layout)") {
    val scan = scans(finalPlan("q_scan_partitioned")).head
    assert(scan.partitionFilters.exists(_.references.exists(
      _.name == "o_orderpriority")),
      s"no partition filter on o_orderpriority: ${scan.partitionFilters}")
    // the pruned scan must touch 1 of the 5 priority directories; the
    // data filter list must NOT carry the partition predicate (it is
    // resolved at listing time, before any row is read)
    assert(scan.relation.partitionSchema.fieldNames
      .contains("o_orderpriority"))
    assert(scan.metadata.getOrElse("PushedFilters", "")
      .contains("[]") || !scan.metadata.getOrElse("PushedFilters", "")
      .contains("o_orderpriority"),
      s"partition predicate leaked into data filters: ${scan.metadata}")
  }

  test("q_tpch_q5 star join: dims broadcast, date filter pushed, " +
    "no cartesian") {
    val p = finalPlan("q_tpch_q5")
    assert(p.collectWithSubqueries {
      case b: BroadcastHashJoinExec => b }.size >= 2,
      s"nation/region dims not broadcast:\n$p")
    assert(p.collectWithSubqueries {
      case c: CartesianProductExec => c }.isEmpty, s"cartesian in Q5:\n$p")
    val orderScans = scans(p).filter(_.output.exists(_.name == "o_orderdate"))
    assert(orderScans.exists(_.metadata.getOrElse("PushedFilters", "")
      .contains("o_orderdate")),
      s"date filter not pushed into orders scan")
  }

  test("q_tpch_q3 pushes segment + shipdate filters and is a true top-k") {
    val p = finalPlan("q_tpch_q3")
    // customer rides TableLoader's dim cache: the segment filter must
    // sit on the InMemoryTableScan (cached-columnar pushdown), not
    // above the join; an uncached run pushes it to the file scan
    val planStr = p.toString
    val memScanIdx = planStr.indexOf("InMemoryTableScan [c_custkey")
    val filePushed = scans(p).exists(_.metadata
      .getOrElse("PushedFilters", "").contains("c_mktsegment"))
    assert(filePushed ||
      (memScanIdx >= 0 && planStr
        .substring(memScanIdx, planStr.indexOf('\n', memScanIdx) max memScanIdx)
        .contains("c_mktsegment")),
      s"segment filter not pushed to the customer scan:\n$planStr")
    val byShip = scans(p).filter(_.output.exists(_.name == "l_shipdate"))
    assert(byShip.exists(_.metadata.getOrElse("PushedFilters", "")
      .contains("l_shipdate")), "shipdate filter not pushed")
    assert(p.toString.contains("TakeOrderedAndProject"),
      s"LIMIT 10 is not a top-k:\n$p")
  }

  test("q_tpch_q4 runs the EXISTS as a LEFT SEMI join with the date " +
    "window pushed into the orders scan") {
    val p = finalPlan("q_tpch_q4")
    assert(p.toString.contains("LeftSemi"),
      s"EXISTS did not plan as a semi join:\n$p")
    val orderScans = scans(p).filter(_.output.exists(_.name == "o_orderdate"))
    assert(orderScans.isEmpty || orderScans.exists(_.metadata
      .getOrElse("PushedFilters", "").contains("o_orderdate")),
      "date window not pushed into the orders scan")
  }

  test("q_tpch_q8 eight-table star: no cartesian, dims broadcast, " +
    "type filter prunes part before its join") {
    val p = finalPlan("q_tpch_q8")
    assert(p.collectWithSubqueries {
      case c: CartesianProductExec => c }.isEmpty, s"cartesian in Q8:\n$p")
    assert(p.collectWithSubqueries {
      case b: BroadcastHashJoinExec => b }.size >= 4,
      s"dims not broadcast in Q8:\n$p")
  }

  test("q_tpch_q18 keeps the quantity HAVING below the joins and ends " +
    "in a true top-100") {
    val p = finalPlan("q_tpch_q18")
    val s = p.toString
    assert(s.contains("TakeOrderedAndProject"),
      s"LIMIT 100 is not a top-k:\n$s")
    // the qsum > 200 filter must sit on the aggregate BELOW the joins
    // (join input ≈ 0.1% of orders), not above them
    val joinIdx = s.indexOf("BroadcastHashJoin")
    val qsumFilter = s.lastIndexOf("qsum")
    assert(joinIdx >= 0 && qsumFilter > joinIdx,
      s"quantity HAVING did not stay below the joins:\n$s")
  }

  test("q_tpch_q21 sole-late-supplier: aggregate formulation keeps the " +
    "plan to bounded hash shuffles (no fact-fact self-joins)") {
    val p = finalPlan("q_tpch_q21")
    assert(p.collectWithSubqueries {
      case c: CartesianProductExec => c }.isEmpty, s"cartesian in Q21:\n$p")
    // lineitem appears ONCE — the EXISTS/NOT-EXISTS textbook form would
    // scan and shuffle it three times
    val lineitemScans = scans(p).count(_.output.exists(_.name == "l_suppkey"))
    assert(lineitemScans <= 1,
      s"lineitem scanned $lineitemScans times — self-join formulation crept in")
    val shuffles = p.collectWithSubqueries {
      case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 4,
      s"${shuffles.size} shuffles — expected (order,supp) agg + order agg " +
        s"+ name agg + output sort at most:\n$p")
  }

  test("q_zipf_top / q_pareto_revenue window over top-k rows only " +
    "(global sort-limit BEFORE the serial rank window)") {
    for (q <- Seq("q_zipf_top", "q_pareto_revenue")) {
      val p = finalPlan(q)
      val s = p.toString
      // the limit must sit below the window in the plan tree: collect
      // the window's child subtree and require a limit in it
      val winIdx = s.indexOf("Window")
      val limIdx = s.lastIndexOf("TakeOrderedAndProject")
      assert(winIdx >= 0, s"$q lost its rank window:\n$s")
      assert(limIdx > winIdx || s.indexOf("GlobalLimit") > winIdx,
        s"$q: top-k does not precede the serial window:\n$s")
    }
  }

  test("q_fk_orphans: every FK audit edge is a broadcast anti join") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val p = finalPlan("q_fk_orphans")
    val anti = p.collectWithSubqueries {
      case j: BroadcastHashJoinExec
          if j.joinType.toString == "LeftAnti" => j
    }
    // 7 edges, each a broadcast build of the parent key set — the
    // fact side streams, nothing sort-merges
    assert(anti.size == 7, s"${anti.size} broadcast anti joins:\n$p")
    assert(p.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.joins.SortMergeJoinExec => s
    }.isEmpty, "FK audit must not sort-merge")
  }

  test("q_growth_accounting: the user window is partitioned") {
    import org.apache.spark.sql.execution.window.WindowExec
    val p = finalPlan("q_growth_accounting")
    val ws = p.collectWithSubqueries { case w: WindowExec => w }
    assert(ws.nonEmpty)
    // per-user LAG/LEAD: every window partitions by user_id — a
    // whole-partition window here would serialize the fact table
    ws.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"unpartitioned window:\n$w"))
    // lag and lead carry different frames so Catalyst may split them
    // into two Window nodes, but they share the (user_id, day) sort —
    // assert no exchange between the window nodes (one shuffle total
    // for the whole window stage)
    assert(ws.size <= 2, s"${ws.size} window nodes")
    if (ws.size == 2) {
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val inner = ws.head.child.collect {
        case e: ShuffleExchangeExec => e
      }
      // exactly the single user_id hash exchange below both windows
      assert(inner.size <= 2, s"extra exchanges between windows:\n$p")
    }
  }

  test("q_rfm_segments: customer-grain windows are partitioned by band") {
    import org.apache.spark.sql.execution.window.WindowExec
    val p = finalPlan("q_rfm_segments")
    val ws = p.collectWithSubqueries { case w: WindowExec => w }
    // three banded quartile cuts → three partitioned row_number windows
    // over the customer grain (was: three UNPARTITIONED NTILE windows —
    // a one-task global sort of the whole customer dimension)
    assert(ws.count(_.partitionSpec.nonEmpty) == 3,
      s"expected 3 band-partitioned windows:\n$p")
    // the only unpartitioned windows are the band-offset prefix sums,
    // which run over the bounded band-count table (output = band key +
    // count columns), never the customer grain
    ws.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.child.output.exists(_.name.contains("__b")) &&
        w.child.output.size <= 3,
        s"unpartitioned window over a non-band-grain input:\n$w")
    }
  }

  test("q_shard_pack: the doc-grain cumsum window is partitioned") {
    import org.apache.spark.sql.execution.window.WindowExec
    val p = finalPlan("q_shard_pack")
    val ws = p.collectWithSubqueries { case w: WindowExec => w }
    // two prefix-sum windows: the bounded 33-row offset window may be
    // global, but the per-doc window MUST be partitioned (by bucket)
    assert(ws.exists(_.partitionSpec.nonEmpty),
      s"no partitioned window in:\n$p")
    assert(ws.count(_.partitionSpec.isEmpty) <= 1,
      "more than one whole-partition window")
  }

  test("q_hybrid_rrf: both retriever arms are true top-k (TakeOrdered" +
    "AndProject), never a global sort of the corpus") {
    import org.apache.spark.sql.execution.{SortExec, TakeOrderedAndProjectExec}
    val p = finalPlan("q_hybrid_rrf")
    val topk = p.collectWithSubqueries {
      case t: TakeOrderedAndProjectExec => t }
    assert(topk.size >= 2, s"expected two TakeOrdered arms in:\n$p")
    // any full SortExec must sit ABOVE a take-ordered prefix (the
    // 100-row rank windows / 20-row output), never directly over a scan
    val badSorts = p.collectWithSubqueries {
      case s: SortExec if s.collectLeaves().exists {
        case _: FileSourceScanExec => true
        case _ => false
      } && !s.exists(_.isInstanceOf[TakeOrderedAndProjectExec]) => s
    }
    assert(badSorts.isEmpty,
      s"global sort over an unbounded input:\n${badSorts.mkString("\n")}")
  }

  test("q_hard_negatives: probe set broadcasts (nested-loop on the " +
    "non-equi label predicate), rank window partitioned per probe") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val p = finalPlan("q_hard_negatives")
    assert(p.collectWithSubqueries {
      case b: BroadcastNestedLoopJoinExec => b }.nonEmpty,
      s"probes not broadcast:\n$p")
    val ws = p.collectWithSubqueries { case w: WindowExec => w }
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      "rank window not partitioned by probe")
  }

  test("q_random_projection is a pure per-row map: no shuffle except " +
    "the output sort's range exchange") {
    val p = finalPlan("q_random_projection")
    val ex = p.collectWithSubqueries { case e: ShuffleExchangeExec => e }
    assert(ex.size <= 1, s"unexpected shuffles:\n$p")
  }

  test("q_dp_count_noise: one aggregation shuffle, noise applied " +
    "post-aggregate (map over the tiny grouped table)") {
    val p = finalPlan("q_dp_count_noise")
    val ex = p.collectWithSubqueries { case e: ShuffleExchangeExec => e }
    // groupBy exchange + output-sort range exchange
    assert(ex.size <= 2, s"unexpected shuffles:\n$p")
  }

  test("q_freq_sketch_topk builds frequent-items sketches map-side " +
    "(partial aggregation before the shuffle)") {
    val s = finalPlan("q_freq_sketch_topk").toString
    assert(s.contains("partial_freqsketchagg")
      || s.toLowerCase.contains("partial_freq")
      || (s.toLowerCase.contains("partial")
        && s.toLowerCase.contains("freqsketch")),
      s"sketch partial aggregation missing:\n$s")
  }

  test("q_lsh_planner touches no table at all (pure range plan)") {
    assert(scans(finalPlan("q_lsh_planner")).isEmpty,
      "the planner table must come from range(), not a scan")
  }

  test("q_ips_policy_value is one aggregation pass over events") {
    val p = finalPlan("q_ips_policy_value")
    val ex = p.collectWithSubqueries { case e: ShuffleExchangeExec => e }
    assert(ex.size <= 2, s"unexpected shuffles:\n$p") // agg + sort
    assert(scans(p).size == 1, "events must be scanned exactly once")
  }

  test("q_png_decode: decode fans out map-side, one scan, no join") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val p = finalPlan("q_png_decode")
    assert(scans(p).size == 1)
    assert(p.collectWithSubqueries {
      case j: BroadcastHashJoinExec => j
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j }.isEmpty,
      s"decode path should be join-free:\n$p")
  }

  test("q_jetsql_crosstab: the translated Access crosstab is ONE " +
    "hash-aggregation pass (conditional aggregation — no per-heading " +
    "scan, no pivot exchange, no join), so it scales like any groupBy") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val p = finalPlan("q_jetsql_crosstab")
    assert(scans(p).size == 1, s"orders must be scanned exactly once:\n$p")
    assert(p.collectWithSubqueries {
      case j: BroadcastHashJoinExec => j
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j }.isEmpty,
      s"crosstab must be join-free:\n$p")
    val ex = p.collectWithSubqueries { case e: ShuffleExchangeExec => e }
    // one groupBy exchange + the output sort's range exchange
    assert(ex.size <= 2, s"unexpected shuffles:\n$p")
  }

  test("q_jetsql_params: a TRANSLATED query keeps Catalyst " +
    "optimizations — bound-parameter filters push into the parquet " +
    "scan and the read schema prunes to the referenced columns") {
    val s = scans(finalPlan("q_jetsql_params"))
    assert(s.nonEmpty)
    val pushed = s.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThanOrEqual(o_orderdate") ||
      pushed.contains("GreaterThanOrEqual(o_orderkey"),
      s"parameter-bound filter not pushed: $pushed")
    assert(pushed.contains("EqualTo(o_orderpriority"),
      s"equality filter not pushed: $pushed")
    assert(s.head.requiredSchema.fieldNames.length <= 4,
      s"scan reads more columns than the query needs: " +
        s.head.requiredSchema.fieldNames.mkString(","))
  }

  test("q_jetsql_domain_agg: each domain aggregate is ONE independent " +
    "scalar subquery (uncorrelated — computed once, broadcast into " +
    "the row plan, never a per-row rescan)") {
    val p = finalPlan("q_jetsql_domain_agg")
    import org.apache.spark.sql.execution.ScalarSubquery
    val subs = p.collectWithSubqueries { case s => s }
      .flatMap(_.expressions)
      .flatMap(_.collect { case s: ScalarSubquery => s })
    assert(subs.nonEmpty, s"scalar subqueries expected:\n$p")
    // orders scanned once per domain aggregate + customer once
    assert(scans(p).size <= 3, s"unexpected rescans:\n$p")
  }
}
