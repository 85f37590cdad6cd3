package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tsdb.TsdbFixtures.spark

/** Plan-shape regression guards: the properties that make these
  * operators survive a 100x scale-up are assertions on the physical
  * plan, not just on row values — pushdown reaching the scan, pruning
  * keeping scans narrow, windows never globally ordered over data, and
  * row-local operators staying shuffle-free.
  */
class PlanAuditSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Formatted mode prints scans in full — the tree string truncates the
    * filter list before the PushedFilters section appears.
    */
  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("date predicate is pushed to the parquet scan (q2)") {
    val p = formatted(graft.queries.Relational.queries("q2_filter_agg")(spark, sf))
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*(GreaterThan|LessThan|GreaterThanOrEqual|LessThanOrEqual)[^\\]]*\\].*"),
      "no range predicate reached the scan")
  }

  test("ts33's aggregate actually pushes to the stats sidecar (no raw scan)") {
    val p = plan(graft.queries.TimeSeries.queries("ts33_dsv2_stats_agg")(spark, sf))
    assert(p.contains("GraftStatsScan"), p)
    assert(!p.contains("GraftScan "), p) // raw data never opens
  }

  test("ts32's DSv2 scan reports its pushed filters") {
    val p = plan(graft.queries.TimeSeries.queries("ts32_dsv2_scan")(spark, sf))
    assert(p.contains("GraftScan"), p)
    assert(p.contains("PushedFilters=[EqualTo(name,purchase)"), p)
  }

  test("ts44's grouped rollup folds the sidecar and lists no raw files") {
    val p = plan(graft.queries.TimeSeries.queries("ts44_dsv2_rollup")(spark, sf))
    assert(p.contains("GraftStatsScan"), p)
    assert(p.matches("(?s).*GroupBy=\\[(name, bucket|bucket, name)\\].*"), p)
    assert(p.contains("boundaryFiles=0"), p) // aligned window: sidecar only
    assert(!p.contains("GraftScan "), p)
  }

  test("range functions: one window-key exchange, no global-order window") {
    // rate's lag pass must be partition-bounded (wstart) and its groupBy
    // must REUSE the window's exchange — a second hashpartitioning on
    // wstart, or any empty-partition-spec window, is the scale
    // regression this pins
    val p = plan(graft.queries.TimeSeries.queries("ts38_range_rate")(spark, sf))
    val windowLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.nonEmpty, "expected the lag window in the rate plan")
    windowLines.foreach(l => assert(l.contains("wstart"), s"unpartitioned window: $l"))
    // exactly one exchange keyed on wstart feeds both the sort and the agg
    val wstartExchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning") && l.contains("wstart"))
      .size
    assert(wstartExchanges == 1, s"expected 1 wstart exchange, got $wstartExchanges:\n$p")
  }

  test("mm decode gates shuffle once — only for the output sort") {
    // mm09-mm12 are row-local byte work (encode a fixture, decode it
    // back, fold stats) — at 100 TB that must stay embarrassingly
    // parallel: the only exchanges are the rangepartitioning the final
    // orderBy needs and the deliberate round-robin `widen` that
    // spreads the doc list across tasks BEFORE the decode (without it
    // a small upstream file serializes the whole pass into one task).
    // A hashpartitioning exchange means someone introduced a keyed
    // shuffle into the decode path.
    for (g <- Seq("mm09_flac_decode", "mm10_webp_decode",
        "mm11_mp4_samples", "mm12_mp4_keyframes")) {
      val p = plan(graft.queries.Pipeline.queries(g)(spark, sf))
      val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
      assert(exchanges.forall(l => l.contains("rangepartitioning") ||
          l.contains("RoundRobinPartitioning")),
        s"$g: keyed exchange in a row-local gate:\n${exchanges.mkString("\n")}")
      assert(exchanges.exists(_.contains("rangepartitioning")),
        s"$g: expected the orderBy exchange")
    }
  }

  test("column pruning keeps the tx01 documents scan narrow") {
    val p = formatted(graft.queries.Pipeline.queries("tx01_tokens")(spark, sf))
    val readSchemas = "ReadSchema: [^\\n]*".r.findAllIn(p).toSeq
    assert(readSchemas.nonEmpty)
    // tx01 needs doc_id + text only; a scan reading lang/source/etc. is
    // a pruning regression
    readSchemas.foreach { rs =>
      assert(!rs.contains("lang") && !rs.contains("source"), rs)
    }
  }

  test("the round-9 kernels run inside whole-stage codegen") {
    // the kernels replaced interpreted hot paths (regex alternation,
    // HOF argmin); a codegen fallback would silently re-open the gap
    // AQE only materializes codegen stages in the FINAL plan — execute
    // first, then read the plan string; codegen stages print as a
    // `*(n)` prefix on the operator line
    def executedPlanOf(df: DataFrame): String = {
      df.collect(); plan(df)
    }
    def inCodegenProject(p: String, expr: String): Boolean =
      p.matches(s"(?s).*\\*\\(\\d+\\) Project \\[[^\\n]*$expr.*")
    val tx10 = executedPlanOf(
      graft.queries.Pipeline.queries("tx10_bpe_tokens")(spark, sf))
    assert(inCodegenProject(tx10, "graft_bpe_token_count"), tx10.take(2000))
    val tx01 = executedPlanOf(
      graft.queries.Pipeline.queries("tx01_tokens")(spark, sf))
    assert(inCodegenProject(tx01, "graft_token_count"), tx01.take(2000))
    // the IVF assign over a parquet-backed frame (a local relation
    // would constant-fold the whole project into a LocalTableScan)
    import spark.implicits._
    val m = graft.ann.IvfIndex.Model(Array(
      0 -> Array(1.0, 0.0), 1 -> Array(0.0, 1.0)))
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        array(lit(1.0), col("doc_id").cast("double") * 0.0).as("vec"))
      .select(col("doc_id"),
        graft.ann.IvfIndex.nearestCells("vec", m, 2).as("cells"))
    assert(df.select(element_at(col("cells"), 1)).as[Int].head() == 0)
    df.collect()
    val p = plan(df)
    assert(inCodegenProject(p, "graft_ivf_nearest") ||
      (p.contains("graft_ivf_nearest") && p.contains("WholeStageCodegen")), p)
  }

  test("hash sampling is a row-local filter: zero exchanges") {
    val p = plan(graft.operators.Sampling.hashSample(
      spark.read.parquet(s"$sf/documents.parquet").select(col("doc_id")),
      col("doc_id"), 0.1))
    assert(!p.contains("Exchange"), p.take(2000))
  }

  test("widen keeps filter pushdown below its repartition") {
    val df = graft.engine.Graft.widen(
        spark.read.parquet(s"$sf/documents.parquet"))
      .where(col("doc_id") % 10 === 0).select(col("doc_id"))
    val p = plan(df)
    val exchange = p.indexOf("RoundRobinPartitioning")
    val filter = p.indexOf("Filter")
    assert(exchange >= 0 && filter >= 0, p.take(1500))
    // parents print first: pushdown puts the Filter BELOW the exchange
    assert(exchange < filter, "filter did not push through widen()")
  }

  test("tx06 repetition is pure column math: no hash shuffle") {
    val p = plan(graft.queries.Pipeline.queries("tx06_repetition")(spark, sf))
    // the only exchanges allowed are widen's round-robin and the final
    // orderBy range partitioning — a hashpartitioning exchange would
    // mean an explode/groupBy crept into the per-doc counts
    assert(!p.contains("hashpartitioning"), p.take(2000))
  }

  test("ts52 sliding query_range: bounded explode, one window-key exchange, no global window") {
    // the sliding path must keep the tumbling path's plan shape: the
    // explode is row-local (before any exchange), every window spec is
    // wstart-partitioned, and one hashpartitioning on wstart feeds both
    // the lag sort and the aggregate
    val p = plan(graft.queries.TimeSeries.queries("ts52_query_range")(spark, sf))
    assert(p.contains("Generate explode"), "expected the sequence explode")
    val windowLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    windowLines.foreach(l => assert(l.contains("wstart"), s"unpartitioned window: $l"))
    val wstartExchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning") && l.contains("wstart"))
      .size
    assert(wstartExchanges == 1, s"expected 1 wstart exchange, got $wstartExchanges:\n$p")
  }

  test("ts53 absent: window universe broadcast-anti-joined, no data-order window") {
    val p = plan(graft.queries.TimeSeries.queries("ts53_range_absent")(spark, sf))
    assert(p.contains("LeftAnti"), s"expected the anti-join:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin"),
      s"observed-window keys should broadcast to the anti-join:\n${p.take(1500)}")
    assert(!p.contains("BroadcastNestedLoop"),
      s"anti-join degraded to nested loop:\n${p.take(1500)}")
    assert(!p.contains("windowspecdefinition"), "no window belongs in absent's plan")
  }

  test("ts54/ts55 grouped range fns: every window keyed (group, wstart), one exchange") {
    for (q <- Seq("ts54_range_by", "ts55_query_range_by")) {
      val p = plan(graft.queries.TimeSeries.queries(q)(spark, sf))
      val windowLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
      // the group key column carries the label's name inside the plan
      // ("user") since the Grouping generalization; "group" is the
      // post-rename public column
      windowLines.foreach(l =>
        assert((l.contains("group") || l.contains("user")) &&
          l.contains("wstart"), s"$q: $l"))
      val ex = p.linesIterator.filter(l =>
        l.contains("Exchange hashpartitioning") && l.contains("wstart")).size
      assert(ex <= 1, s"$q: expected at most 1 (group, wstart) exchange, got $ex")
    }
  }

  test("ts78/ts85 round-11 fns: bucket windows group-keyed, smoothing fold one exchange") {
    // histogram_quantile: one raw scan; both window passes partition on
    // the remaining-label key ("user"), never a global window — they
    // run over the POST-AGGREGATION bucket×group frame
    val p78 = plan(graft.queries.TimeSeries.queries("ts78_histogram_quantile")(spark, sf))
    assert(p78.linesIterator.count(l =>
      l.contains("Scan") && l.contains("events")) <= 1, p78.take(1500))
    p78.linesIterator.filter(_.contains("windowspecdefinition")).foreach(l =>
      assert(l.contains("user"), s"global bucket window: $l"))
    // double_exponential_smoothing: the sequential fold lives INSIDE
    // the window-key aggregate — one wstart exchange, no window spec
    val p85 = plan(graft.queries.TimeSeries.queries("ts85_double_exp_smoothing")(spark, sf))
    assert(!p85.contains("windowspecdefinition"),
      "smoothing fold must not need a window function")
    val ex85 = p85.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") && l.contains("wstart")).size
    assert(ex85 <= 1, s"expected at most 1 wstart exchange, got $ex85")
    assert(p85.linesIterator.count(l =>
      l.contains("Scan") && l.contains("events")) <= 1, p85.take(1500))
  }

  test("ts60/ts61 string-surface grouping: one scan, group-keyed windows only") {
    // the grouped aggregate derives group keys row-locally from the
    // labels map — one scan, exchanges only on the group(+window) keys,
    // and no window at all for the plain grouped sum
    val p60 = plan(graft.queries.TimeSeries.queries("ts60_agg_by_promql")(spark, sf))
    assert(!p60.contains("windowspecdefinition"),
      "plain grouped sum needs no window")
    assert(p60.linesIterator.count(_.contains("Scan ")) <= 1, p60.take(1500))
    val p61 = plan(graft.queries.TimeSeries.queries("ts61_range_by_promql")(spark, sf))
    // rate's lag window must be (group, wstart)-keyed, never global
    p61.linesIterator.filter(_.contains("windowspecdefinition")).foreach(l =>
      assert(l.contains("user") && l.contains("wstart"), s"unkeyed window: $l"))
    assert(p61.linesIterator.count(_.contains("Scan ")) <= 1,
      "grouped range fn re-scanned the source")
    // grouped topk: the rank window partitions on the group key — a
    // global rank here would serialize the corpus through one task
    val p63 = plan(graft.queries.TimeSeries.queries("ts63_topk_by")(spark, sf))
    val w63 = p63.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(w63.nonEmpty, "expected the per-group rank window")
    w63.foreach(l => assert(l.contains("user"), s"global rank window: $l"))
    // grouped ⊕ grouped: an equi-join on the group keys, never a
    // cartesian — both sides are post-aggregation (group-count-sized)
    val p64 = plan(graft.queries.TimeSeries.queries("ts64_grouped_ratio")(spark, sf))
    assert(p64.contains("SortMergeJoin") || p64.contains("BroadcastHashJoin") ||
      p64.contains("ShuffledHashJoin"), s"expected a group-key equi-join:\n${p64.take(1200)}")
    assert(!p64.contains("CartesianProduct"), "cartesian in the grouped join")
  }

  test("ts57/ts58 sliding binary: one raw scan per side, step-keyed join") {
    // the ratio composition must not amplify scans: each side's selector
    // scans once, the sides meet in an equi-join on the eval timestamp
    // (step grid), and every window spec stays wstart-partitioned
    for (q <- Seq("ts57_sliding_binary", "ts58_subquery_binary")) {
      val p = plan(graft.queries.TimeSeries.queries(q)(spark, sf))
      val scans = p.linesIterator.count(_.contains("Scan "))
      assert(scans <= 2, s"$q: expected <=2 scans (one per side), got $scans")
      assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
        p.contains("ShuffledHashJoin"), s"$q: expected an equi-join:\n${p.take(1200)}")
      assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
        s"$q: non-equi join crept in")
      p.linesIterator.filter(_.contains("windowspecdefinition")).foreach(l =>
        assert(l.contains("wstart"), s"$q unpartitioned window: $l"))
    }
  }

  test("ts56 subquery: one raw scan, every window wstart-keyed, bounded explode") {
    // the inner sliding pass scans the store once (lookback-extended);
    // the outer aggregation runs on the derived series — a second scan
    // of the events source would mean the subquery re-read raw data
    val df = graft.queries.TimeSeries.queries("ts56_subquery")(spark, sf)
    val p = plan(df)
    assert(p.contains("Generate explode"), "expected the inner sliding explode")
    p.linesIterator.filter(_.contains("windowspecdefinition")).foreach(l =>
      assert(l.contains("wstart"), s"unpartitioned window: $l"))
    val scans = p.linesIterator.count(l =>
      l.contains("Scan") && l.contains("events"))
    assert(scans <= 1, s"subquery re-scanned the raw source ($scans scans):\n$p")
  }

  test("ts99/ts100 subquery inner shapes: one raw scan per selector, no cartesian") {
    // instant math inside the subquery is a row-local map over the
    // step-keyed derived frame — still exactly one events scan
    val p99 = plan(graft.queries.TimeSeries
      .queries("ts99_subquery_instant_inner")(spark, sf))
    assert(p99.linesIterator.count(l =>
      l.contains("Scan") && l.contains("events")) <= 1, p99.take(1500))
    // the set-op inner joins two step-keyed derived series on the step
    // grid: one scan per selector, an equi-join (semi), never a
    // cartesian — and every window stays keyed on the tumbling wstart
    val p100 = plan(graft.queries.TimeSeries
      .queries("ts100_subquery_setop_inner")(spark, sf))
    assert(p100.linesIterator.count(l =>
      l.contains("Scan") && l.contains("events")) <= 2, p100.take(1500))
    assert(!p100.contains("CartesianProduct") &&
      !p100.contains("BroadcastNestedLoop"),
      "set-op composition must join on the step grid")
    p100.linesIterator.filter(_.contains("windowspecdefinition")).foreach(l =>
      assert(l.contains("wstart"), s"unpartitioned window: $l"))
  }

  test("ts101/ts102 grouped sliding composition: one scan per selector, keyed join") {
    for (gate <- Seq("ts101_grouped_sliding_binary",
        "ts102_grouped_sliding_setop")) {
      val p = plan(graft.queries.TimeSeries.queries(gate)(spark, sf))
      assert(p.linesIterator.count(l =>
        l.contains("Scan") && l.contains("events")) <= 2, s"$gate:\n${p.take(1500)}")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop"),
        s"$gate: grouped composition must join on (group, step)")
      // every window is keyed on (group, wstart) — never data-ordered
      p.linesIterator.filter(_.contains("windowspecdefinition")).foreach(l =>
        assert(l.contains("wstart"), s"$gate unpartitioned window: $l"))
    }
  }

  test("ts104/ts105 sliding subqueries: one raw scan, keyed windows only") {
    for (gate <- Seq("ts104_sliding_subquery", "ts105_sliding_subquery_by")) {
      val p = plan(graft.queries.TimeSeries.queries(gate)(spark, sf))
      assert(p.linesIterator.count(l =>
        l.contains("Scan") && l.contains("events")) <= 1,
        s"$gate:\n${p.take(1500)}")
      p.linesIterator.filter(_.contains("windowspecdefinition")).foreach(l =>
        assert(l.contains("wstart"), s"$gate unpartitioned window: $l"))
    }
  }

  test("ts107-ts109 aggregate inners: one raw scan, keyed windows only") {
    // round 13: Aggregate nodes admitted into sliding evaluation — the
    // pooled-series translation must stay ONE scan (a per-step
    // re-evaluation would show step-count scans) with every window
    // keyed on (group,) wstart
    for (gate <- Seq("ts107_subquery_agg_inner",
        "ts108_subquery_agg_inner_by", "ts109_subquery_agg_pooled")) {
      val p = plan(graft.queries.TimeSeries.queries(gate)(spark, sf))
      assert(p.linesIterator.count(l =>
        l.contains("Scan") && l.contains("events")) <= 1,
        s"$gate:\n${p.take(1500)}")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop"), s"$gate cartesian")
      p.linesIterator.filter(_.contains("windowspecdefinition")).foreach(l =>
        assert(l.contains("wstart"), s"$gate unpartitioned window: $l"))
    }
  }

  test("ts112 count_values range: one raw scan, row-local tiling, no window") {
    val p = plan(graft.queries.TimeSeries.queries(
      "ts112_count_values_range")(spark, sf))
    assert(p.linesIterator.count(l =>
      l.contains("Scan") && l.contains("events")) <= 1, p.take(1500))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), "cartesian")
    // each sample's step tile is arithmetic on its own timestamp —
    // a windowspecdefinition here would mean a per-step rescan crept in
    assert(!p.contains("windowspecdefinition"), p.take(1500))
  }

  test("ts113 sliding topk: one raw scan, rank partitioned per step") {
    val p = plan(graft.queries.TimeSeries.queries(
      "ts113_sliding_topk")(spark, sf))
    assert(p.linesIterator.count(l =>
      l.contains("Scan") && l.contains("events")) <= 1, p.take(1500))
    // the per-step rank must partition on the step timestamp (or the
    // sliding machinery's wstart) — an empty partition spec is the
    // global-sort scale regression this pins
    p.linesIterator.filter(_.contains("windowspecdefinition")).foreach(l =>
      assert(l.contains("wstart") || l.contains("timestamp"),
        s"unpartitioned window: $l"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), "cartesian")
  }

  test("ts116/ts117 sliding sampling: one raw scan, windows per step") {
    // round 14: the ranged limitk/limit_ratio twins share ts113's
    // shape contract — per-step windows only, never a global sort
    for (gate <- Seq("ts116_sliding_limitk",
        "ts117_sliding_limit_ratio")) {
      val p = plan(graft.queries.TimeSeries.queries(gate)(spark, sf))
      assert(p.linesIterator.count(l =>
        l.contains("Scan") && l.contains("events")) <= 1, p.take(1500))
      p.linesIterator.filter(_.contains("windowspecdefinition")).foreach(l =>
        assert(l.contains("wstart") || l.contains("timestamp"),
          s"unpartitioned window in $gate: $l"))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop"), "cartesian")
    }
  }

  test("ts120 finer-grouped subquery inner: one raw scan, keyed windows") {
    // round 14: the finer `by` inner evaluates once per its own key
    // and the outer fold pools it — two keyed group-bys over ONE scan,
    // never a rescan per step or a global window
    val p = plan(graft.queries.TimeSeries.queries(
      "ts120_subquery_finer_by")(spark, sf))
    assert(p.linesIterator.count(l =>
      l.contains("Scan") && l.contains("events")) <= 1, p.take(1500))
    p.linesIterator.filter(_.contains("windowspecdefinition")).foreach(l =>
      assert(l.contains("wstart") || l.contains("timestamp"),
        s"unpartitioned window: $l"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), "cartesian")
  }

  test("ts110/ts111 without matched: two scans, broadcast one side, no cartesian") {
    // round 13: canonical re-opening is row-local (str_to_map over the
    // group-count-sized frame) — it must not add scans or break the
    // broadcast equi-join shape
    for (gate <- Seq("ts110_matched_without",
        "ts111_sliding_matched_without")) {
      val p = plan(graft.queries.TimeSeries.queries(gate)(spark, sf))
      assert(p.linesIterator.count(l =>
        l.contains("Scan") && l.contains("events")) <= 2,
        s"$gate:\n${p.take(1500)}")
      assert(p.contains("BroadcastHashJoin"),
        s"$gate: the 'one' side must broadcast:\n${p.take(1200)}")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop"), s"$gate cartesian")
    }
  }

  test("ts106 matched sliding composition: two scans, broadcast one side, no cartesian") {
    val p = plan(graft.queries.TimeSeries.queries("ts106_sliding_matched")(spark, sf))
    assert(p.linesIterator.count(l =>
      l.contains("Scan") && l.contains("events")) <= 2, p.take(1500))
    assert(p.contains("BroadcastHashJoin"),
      s"the 'one' side must broadcast:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "matched composition must equi-join on (key, step)")
    p.linesIterator.filter(_.contains("windowspecdefinition")).foreach(l =>
      assert(l.contains("wstart"), s"unpartitioned window: $l"))
  }

  test("ts67-ts70 round-11 grouped surfaces: one raw scan, no cartesian") {
    // ts67 nested grouped: the outer groupBy folds the inner frame —
    // never a second pass over events
    val p67 = plan(graft.queries.TimeSeries.queries("ts67_nested_grouped")(spark, sf))
    assert(p67.linesIterator.count(l =>
      l.contains("Scan") && l.contains("events")) <= 1, p67.take(1500))
    assert(!p67.contains("windowspecdefinition"),
      "nested grouped sum needs no window")
    // ts68 on/group_left: equi-join on the match key over two
    // post-aggregation sides (two scans, one per operand; never a
    // cartesian or nested loop)
    val p68 = plan(graft.queries.TimeSeries.queries("ts68_on_group_left")(spark, sf))
    assert(p68.contains("BroadcastHashJoin") || p68.contains("SortMergeJoin") ||
      p68.contains("ShuffledHashJoin"), s"expected a match-key equi-join:\n${p68.take(1200)}")
    assert(!p68.contains("CartesianProduct") && !p68.contains("BroadcastNestedLoop"),
      "non-equi join in grouped vector matching")
    // ts69 topk over grouped: TakeOrderedAndProject (bounded heap), no
    // rank window at all
    val p69 = plan(graft.queries.TimeSeries.queries("ts69_topk_grouped")(spark, sf))
    assert(p69.contains("TakeOrderedAndProject"), p69.take(1200))
    assert(!p69.contains("windowspecdefinition"),
      "grouped-child topk must not open a window")
    // ts71 inner-without nesting: the canonical re-open (str_to_map)
    // is row-local — still one raw scan and no window
    val p71 = plan(graft.queries.TimeSeries.queries("ts71_nested_without")(spark, sf))
    assert(p71.linesIterator.count(l =>
      l.contains("Scan") && l.contains("events")) <= 1, p71.take(1500))
    assert(!p71.contains("windowspecdefinition"),
      "nested without-rollup needs no window")
    // ts70 grouped subquery: ONE raw scan (the inner sliding pass), the
    // bounded explode, every window (group, wstart)-keyed
    val p70 = plan(graft.queries.TimeSeries.queries("ts70_subquery_by")(spark, sf))
    assert(p70.contains("Generate explode"), "expected the inner sliding explode")
    assert(p70.linesIterator.count(l =>
      l.contains("Scan") && l.contains("events")) <= 1,
      s"grouped subquery re-scanned the raw source:\n${p70.take(1500)}")
    p70.linesIterator.filter(_.contains("windowspecdefinition")).foreach(l =>
      assert(l.contains("wstart") && l.contains("user"),
        s"unkeyed window in grouped subquery: $l"))
  }

  test("q24 global ranking has no window ordered over the data") {
    val p = plan(graft.queries.Relational.queries("q24_ntile")(spark, sf))
    // a Window whose spec leads with the o_totalprice sort would be the
    // single-partition global window we removed
    assert(!p.matches("(?s).*windowspecdefinition\\(o_totalprice.*"),
      "global-order window over orders is back")
  }

  test("q32 rank/cume come from a broadcast count table, not a per-row window") {
    val df = graft.queries.Relational.queries("q32_dense_cume")(spark, sf)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    // every window must sit above the (priority, status) count aggregate
    // — a window directly over the orders rows is the 5-partition
    // parallelism ceiling this plan exists to avoid
    windows.foreach { w =>
      val overAgg = w.child.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.isDefined
      assert(overAgg, "window runs over raw orders rows, not the count table")
    }
    assert(plan(df).contains("BroadcastHashJoin"),
      "rank table is not broadcast back onto orders")
  }

  test("pp02 budget cumsum never windows the data by source") {
    val p = plan(graft.queries.Pipeline.queries("pp02_token_budget")(spark, sf))
    // a per-source window over the documents rows would cap parallelism
    // at the source cardinality; the only window allowed is the one over
    // the per-(partition, source) offsets table, whose ORDER key is _pid
    assert(!p.matches("(?s).*windowspecdefinition\\(source#\\d+, doc_id#\\d+L? ASC.*"),
      "per-source window over document rows is back")
    assert(p.contains("windowspecdefinition(source#") && p.contains("_pid#"),
      "expected the offsets-table window keyed by _pid")
  }

  test("pp15 cluster cap never windows the data by cell") {
    val p = plan(
      graft.queries.Pipeline.queries("pp15_cluster_balance")(spark, sf))
    // the within-cluster rank must come from groupedCumSum: a
    // per-cell ROW_NUMBER window over the vectors would cap
    // parallelism at the cell count (and funnel a mega-cluster
    // through one task); the one allowed cell-keyed window orders
    // the per-(partition, cell) offsets table by _pid
    assert(!p.matches("(?s).*windowspecdefinition\\(cell#\\d+, (?!_pid#)[^)]*ASC.*"),
      "per-cell window over the vector rows is back")
    assert(p.contains("windowspecdefinition(cell#") && p.contains("_pid#"),
      "expected the offsets-table window keyed by _pid")
  }

  test("ts91 nameless selector prunes with an IN-list, no regex on the scan") {
    val p = plan(
      graft.queries.TimeSeries.queries("ts91_name_regex")(spark, sf))
    // the __name__ regex resolves on the catalog at plan time; the
    // scan must carry an IN-list (pushed through the name rename down
    // to the event_type source column) — never RLIKE over the name
    assert(p.matches("(?s).*(name|event_type)#\\d+ IN \\(click,view\\).*"),
      p.take(3000))
    assert(!p.matches("(?s).*RLIKE\\((name|event_type)#.*"),
      "a per-row regex on the name column crept into the scan")
  }

  test("GraftDb.query plans a pruned GraftScan: a 1 h window opens only its buckets") {
    val H = 3600 * 1000L
    val root = java.nio.file.Files.createTempDirectory("graft_plan_db").toString
    val db = new graft.tsdb.GraftDb(spark, root)
    // 2 names x 24 hourly buckets, one flush each: one file per bucket
    Seq("m_a", "m_b").foreach { m =>
      db.createStream(m, graft.tsdb.VType.F64)
      val ins = db.inserter(m)
      (0L until 24 * 4).foreach(i => ins.insert(i * 15 * 60 * 1000L, i.toDouble))
      ins.flush()
    }
    val (lo, hi) = (5 * H + 30 * 60 * 1000L, 6 * H + 30 * 60 * 1000L)
    val n = (0L until 24L).count(b => b * H <= hi && (b + 1) * H > lo)
    val out = db.query("m_a", lo, hi).output
    val p = plan(out)
    assert(p.contains(s"GraftScan files=$n "), p)
    assert(!p.contains("InMemoryFileIndex"), p)
    assert(out.count() == 5L) // 5:30, 5:45, 6:00, 6:15, 6:30
  }

  test("pp03 mixing rank never windows the data by source") {
    val p = plan(graft.queries.Pipeline.queries("pp03_domain_mix")(spark, sf))
    // the per-source selection rank must come from groupedCumSum (data
    // windows keyed by source cap parallelism at source cardinality);
    // the one allowed source-keyed window orders the offsets table by _pid
    assert(!p.matches("(?s).*windowspecdefinition\\(source#\\d+, h#\\d+L? ASC.*"),
      "per-source window over document rows is back")
    assert(p.contains("windowspecdefinition(source#") && p.contains("_pid#"),
      "expected the offsets-table window keyed by _pid")
  }

  test("pp07 shuffle order never windows the data by its hash") {
    val p = plan(graft.queries.Pipeline.queries("pp07_shuffle_order")(spark, sf))
    // the permutation rank must come from the two-pass RangeRank; a
    // ROW_NUMBER window ordered by the per-row hash would funnel the
    // corpus through one task
    assert(!p.matches("(?s).*windowspecdefinition\\(_h#\\d+L? ASC.*"),
      "global-order window over the data hash is back")
    assert(p.contains("_pid#"),
      "expected the offsets-table window keyed by _pid")
  }

  test("pp08 temperature mix: broadcast rate table, no windows") {
    val p = plan(graft.queries.Pipeline.queries("pp08_temperature_mix")(spark, sf))
    // the per-domain rates are metadata-sized and must come back as a
    // broadcast; a sort-merge join here would shuffle the corpus on the
    // domain key — the handful-of-reducers cliff
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "rate join shuffles the corpus")
    assert(!p.contains("windowspecdefinition"),
      "temperature mix should be window-free")
  }

  test("dd19 cluster histogram is window-free shrinking aggregation") {
    val p = plan(graft.queries.Pipeline.queries("dd19_cluster_sizes")(spark, sf))
    // components is iterative equi-joins; the two histogram aggregates
    // shrink — nothing here should ever order data through a window
    assert(!p.contains("windowspecdefinition"), "unexpected window in dd19")
  }

  test("pp09 training order: every window orders an offsets table") {
    val df = graft.queries.Pipeline.queries("pp09_training_order")(spark, sf)
    val p = plan(df)
    // the composition runs shuffleOrder + packSpans, each of which is
    // allowed exactly the metadata-sized per-partition offsets window
    // (ordered by _pid); any other window means a data-order regression
    val specs = "windowspecdefinition\\([^)]*\\)".r.findAllIn(p).toSeq
    assert(specs.nonEmpty, "expected the RangeRank offsets windows")
    specs.foreach { w =>
      // exact-prefix match for RangeRank's literal Window.orderBy(lit(1));
      // a bare contains("1 ASC") would also match any data column whose
      // expression id happens to end in 1
      assert(w.contains("_pid#") || w.startsWith("windowspecdefinition(1 ASC"),
        s"window over data columns: $w")
    }
  }

  test("pp11 shard assignment: no global sort task, offsets windows only") {
    // the writer's (offset, shard) addressing must come from the
    // two-pass RangeRank — a global Window.orderBy (or an explicit
    // single-partition sort) here would funnel the whole training
    // stream through one task right before the write
    import org.apache.spark.sql.functions.col
    val spans = graft.operators.Packing.packSpans(
      graft.operators.Sampling.shuffleOrder(
        graft.queries.Pipeline.queries("pp02_token_budget")(spark, sf)
          .select(col("doc_id"), col("n_tokens")),
        col("doc_id"), seed = 7L),
      Seq(col("pos")), "n_tokens", 256L)
    val p = plan(graft.operators.ShardWriter.shardAssign(
      spans, Seq(col("bin"), col("pos")), 8))
    // every window must be over a RangeRank offsets table (keyed by
    // _pid or the literal orderBy(lit(1))): those run on the
    // #partitions-row counts tables — the only place a
    // single-partition exchange is allowed to exist. A window over
    // data columns would be the global-sort cliff.
    val specs = "windowspecdefinition\\([^)]*\\)".r.findAllIn(p).toSeq
    assert(specs.nonEmpty, "expected the RangeRank offsets windows")
    specs.foreach { w =>
      assert(w.contains("_pid#") || w.startsWith("windowspecdefinition(1 ASC"),
        s"window over data columns: $w")
    }
  }

  test("pp12 span content: equi-join on the id, no nested loop, offsets windows only") {
    import org.apache.spark.sql.functions.col
    val docs = graft.queries.Pipeline.queries("pp02_token_budget")(spark, sf)
      .select(col("doc_id"), col("n_tokens"))
    val spans = graft.operators.Packing.packSpans(
      docs, Seq(col("doc_id")), "n_tokens", 256L)
    val corpus = graft.engine.Graft.table(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val p = plan(graft.operators.Packing.spanContent(
      spans, corpus, "doc_id", "text",
      graft.functions.TextFunctions.tokens))
    // the spans<->corpus join must stay a keyed equi-join (both sides
    // data-sized — a BroadcastNestedLoopJoin or CartesianProduct here
    // would be the quadratic cliff at corpus scale)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(1500))
    val specs = "windowspecdefinition\\([^)]*\\)".r.findAllIn(p).toSeq
    specs.foreach { w =>
      assert(w.contains("_pid#") || w.startsWith("windowspecdefinition(1 ASC"),
        s"window over data columns: $w")
    }
  }

  test("sketch kernels actually execute in the dd02/dd03 plans") {
    // a revert to the explode+agg signature shape would re-shuffle every
    // (id, hash) pair; the kernel names in the physical plan are the pin
    val p02 = plan(graft.queries.Pipeline.queries("dd02_minhash_lsh")(spark, sf))
    assert(p02.contains("graft_minhash_sig60"), p02.take(1500))
    val p03 = plan(graft.queries.Pipeline.queries("dd03_simhash")(spark, sf))
    assert(p03.contains("graft_simhash60"), p03.take(1500))
  }

  test("row-local pipeline ops (ann05, tx14) never hash-shuffle") {
    // quantization and classifier inference are pure scans: the only
    // exchanges allowed are widen's round-robin and the final orderBy's
    // range partitioning — a hash exchange means a group-by/join crept in
    for (q <- Seq("ann05_quantize_int8", "tx14_quality_logreg")) {
      val p = plan(graft.queries.Pipeline.queries(q)(spark, sf))
      assert(!p.contains("Exchange hashpartitioning"), s"$q: ${p.take(1500)}")
    }
  }

  test("q43 ratio-to-report has no window at all (broadcast totals)") {
    val df = graft.queries.Relational.queries("q43_ratio_report")(spark, sf)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty,
      "a per-row window over the 5-value partition key crept back in")
    assert(plan(df).contains("BroadcastHashJoin"),
      "totals are not broadcast back onto orders")
  }

  test("q38 RANGE frame windows partition on the high-cardinality key") {
    val df = graft.queries.Relational.queries("q38_range_frame")(spark, sf)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "RANGE frame fell into a global window")
  }

  test("ts29 interval join is an equi-join, never a nested loop") {
    val p = plan(graft.queries.TimeSeries.queries("ts29_range_join")(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("tx08 tf-idf top-k window partitions by doc, never globally") {
    val df = graft.queries.Pipeline.queries("tx08_tfidf")(spark, sf)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "tf-idf ranking fell into a global window")
  }

  test("sq01 packing: the only global window orders the offset table") {
    val p = plan(graft.queries.Pipeline.queries("sq01_packing")(spark, sf))
    // the #partitions-row prefix-sum is the one permitted global window;
    // a global window over the data columns would be the q24 cliff. The
    // pattern anchors on the ORDER spec (leading "col ASC/DESC") —
    // partition columns print first WITHOUT a sort direction, so a
    // legitimate partitionBy(doc_id) window would not trip this.
    assert(!p.matches("(?s).*windowspecdefinition\\(doc_id#\\d+L? (ASC|DESC).*"),
      "global window ordered over doc_id crept into packing")
    assert(!p.matches("(?s).*windowspecdefinition\\(n_tokens#\\d+L? (ASC|DESC).*"),
      "global window ordered over n_tokens crept into packing")
    assert(p.contains("windowspecdefinition(_pid#"),
      "expected the _pid offset-table window")
  }

  test("ts17 align windows are bucket-partitioned, never sample-global") {
    val e = graft.queries.TimeSeries.engineDedup(spark, sf)
    val p = plan(e.query("click + view", 1704499200000L, 1705449600000L).df)
    // row-level neighbor windows must carry the bucket partition key in
    // front; a spec leading with the timestamp sort = global window
    assert(!p.matches("(?s).*windowspecdefinition\\(timestamp#\\d+L ASC.*"),
      "sample-global window in the align path")
    assert(p.contains("windowspecdefinition(bucket#"),
      "expected bucket-partitioned neighbor windows")
  }

  test("q7 per-segment top-k is a bounded-heap aggregate, not a 5-key window") {
    val p = plan(graft.queries.Relational.queries("q7_window_rank")(spark, sf))
    assert(!p.contains("windowspecdefinition"),
      "a window partitioned by the 5-value segment column serializes " +
        "the customer table through 5 tasks")
    assert(p.contains("graft_top_k_by_score"),
      "expected the TopKByScore partial/final aggregate pair")
  }

  test("q27 exact percentile aggregates to a histogram before any sort") {
    // the r13 scale finding: percentile() holds O(rows/group) in ONE
    // task's aggregation buffer (ObjectHashAggregate) — the only gate
    // to OOM a 30x pack. The r14 sort-window rank form was memory-flat
    // but sorted every row twice (40s at 30x). The histogram form must
    // keep BOTH properties: no buffering aggregate, and the window/sort
    // runs over distinct-(group, column, value) COUNTS, not rows.
    val df = graft.queries.Relational.queries("q27_percentile")(spark, sf)
    val p = plan(df)
    assert(!p.contains("ObjectHashAggregate"),
      "a buffering percentile aggregate is back in the plan")
    assert(!p.toLowerCase.contains("percentile"),
      "expected the histogram rank form, not the percentile() aggregate")
    // the rank bracketing partitions on (group, column id) — never global
    assert(p.contains("windowspecdefinition(l_returnflag"),
      "the cumulative-count window must partition by l_returnflag")
    val fmt = formatted(df)
    // the load-bearing shape: a codegen'd hash aggregate keyed on
    // (group, column id, VALUE) sits below the window, so the shuffle
    // and sort see distinct-value counts (map-side partial combine
    // collapses replicated rows), not the row stream
    assert("Keys \\[\\d+\\]: \\[l_returnflag#\\d+, _cid#\\d+, _v#\\d+\\]".r
      .findFirstIn(fmt).isDefined,
      "expected a HashAggregate keyed on (l_returnflag, _cid, _v) " +
        "feeding the window — the histogram collapse is gone")
    // both percentile columns must come off ONE lineitem pass (the
    // inline'd (cid, value) pairs) — the join-of-subplans form scanned
    // it 4x. formatted mode prints each node in the tree AND a detail
    // section; count the numbered detail headers so each scan counts once
    val scans = "(?m)^\\(\\d+\\) Scan parquet".r.findAllIn(fmt).size
    assert(scans == 1, s"expected exactly one lineitem scan, saw $scans")
  }

  test("dd15 index probe reads the stored tables, never re-shingles the corpus") {
    val p = formatted(graft.queries.Pipeline.queries("dd15_index_probe")(spark, sf))
    // the incremental claim: both corpus-side inputs (bands + shingles)
    // are FileScans of the persisted index, so probe cost is bound by
    // the delta, not by re-running the corpus shingle pass
    assert("graft_ndindex\\w*/bands".r.findFirstIn(p).isDefined,
      "corpus band keys must come from the stored bands/ parquet")
    assert("graft_ndindex\\w*/shingles".r.findFirstIn(p).isDefined,
      "corpus shingles must come from the stored shingles/ parquet")
    // candidate generation stays an equi-join on band keys
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "index probe must never degrade to an all-pairs join")
  }

  test("dd17 embed probe scans the stored vectors and assigns without a join") {
    val df = graft.queries.Pipeline.queries("dd17_embed_index_probe")(spark, sf)
    // the corpus side is a FileScan of the persisted vectors/ table —
    // never re-assigned, never re-fit
    val f = formatted(df)
    assert("graft_embindex\\w*/vectors".r.findFirstIn(f).isDefined,
      "corpus vectors must come from the stored vectors/ parquet")
    // cell assignment of the probe is a row-local fold over the centroid
    // literal: exactly ONE join in the whole plan (the cell equi-join) —
    // counted on the tree string, where each node appears once
    val p = plan(df)
    val joins = "(?i)(sortmergejoin|broadcasthashjoin|shuffledhashjoin)".r
      .findAllIn(p).size
    assert(joins == 1, s"expected only the cell equi-join, saw $joins joins")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "embed probe must never degrade to an all-pairs join")
  }

  test("tx18 html extraction is row-local: no joins, no windows, one sort exchange") {
    val p = plan(graft.queries.Pipeline.queries("tx18_html_strip")(spark, sf))
    assert(!p.toLowerCase.contains("join") &&
      !p.contains("windowspecdefinition"),
      "format extraction must stay pure column math")
    // permitted exchanges: widen()'s round-robin spread of the small
    // unsplittable scan, and the final output sort — but never a hash
    // exchange (that would mean a join/aggregate shuffle crept in)
    assert(!p.contains("hashpartitioning"),
      "row-local extraction must not hash-shuffle")
  }

  test("pp10 span corruption is row-local: no joins, windows, or shuffles") {
    val p = plan(graft.queries.Pipeline.queries("pp10_span_corrupt")(spark, sf))
    // match join OPERATORS, not the substring "join" (array_join is fine)
    Seq("sortmergejoin", "broadcasthashjoin", "shuffledhashjoin",
        "cartesianproduct", "nestedloop").foreach(op =>
      assert(!p.contains(op), s"objective prep must not $op"))
    assert(!p.contains("windowspecdefinition"),
      "objective prep must stay pure column math")
    assert(!p.contains("hashpartitioning"),
      "row-local masking must not hash-shuffle")
  }

  test("tx16 LM scoring: equi-joins only, map-side partial aggregation") {
    val p = plan(graft.queries.Pipeline.queries("tx16_bigram_ppl")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "model joins must stay keyed on the bigram")
    assert(p.contains("partial_"),
      "counts and per-doc averages must map-side combine")
  }

  test("tx20 caches the PRE-explode token arrays, not the exploded table") {
    // r16 optimization: the persisted frame is the narrow (doc_id,
    // toks array) projection; the vocabulary aggregate and the
    // membership probe each explode FROM the cache. The r15 shape —
    // persisting the exploded one-row-per-token table — cost a
    // measured 21-35% on the gate (cache write+read of a wider-than-
    // corpus frame); an InMemoryRelation carrying an exploded token
    // column is that regression reappearing.
    graft.queries.Pipeline.clearCaches()
    val p = formatted(graft.queries.Pipeline.queries("tx20_vocab_coverage")(spark, sf))
    val cacheArgs = "InMemoryRelation[^\\n]*\\n[^\\n]*Arguments: \\[[^\\]]*\\]".r
      .findAllIn(p).toSeq
    assert(cacheArgs.nonEmpty, "tx20 must cache the tokenized corpus once")
    assert(cacheArgs.forall(_.contains("toks#")),
      s"the tx20 cache must hold the token ARRAY column, saw: $cacheArgs")
    graft.queries.Pipeline.clearCaches()
  }

  test("dd04 jaccard verify is inline: no pair-keyed array-carrying exchange") {
    graft.queries.Pipeline.clearCaches()
    val sh = graft.dedup.Dedup.shingleBase(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text")
    val p = plan(graft.dedup.Dedup.jaccardPairsFromShingles(sh))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(2000))
    // The former shape attached each side's hs array via an exchange
    // keyed by ONE pair id (hashpartitioning(id_a) then (id_b)) — the
    // array-carrying pair shuffle that went disk-bound at 30x. Inline
    // verify's only exchanges are h (prefix self-join), id (prefix
    // build), and the survivors' distinct (a compound key, no arrays).
    assert("hashpartitioning\\((id_a|id_b)#\\d+, \\d+\\)".r
      .findFirstIn(p).isEmpty, p.take(3000))
    graft.queries.Pipeline.clearCaches()
  }

  test("dd11 line dedup rebuilds in ONE aggregate: a single tag join") {
    // r15 optimization: the rebuilt text and the per-doc totals share
    // one aggregate (collect_list skips boilerplate-tagged nulls, count
    // still sees them). The former shape — anti-join rebuild + separate
    // totals aggregate + a rebuilt-to-totals join — had TWO join nodes
    // and three passes over the lines table; a second join reappearing
    // is the regression this pins.
    graft.queries.Pipeline.clearCaches()
    val p = plan(graft.queries.Pipeline.queries("dd11_line_dedup")(spark, sf))
    val joins = "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)".r
      .findAllIn(p).size
    assert(joins == 1,
      s"dedupLines must join lines to the boilerplate tag exactly once, saw $joins")
    graft.queries.Pipeline.clearCaches()
  }

  test("ann06 batch KNN broadcasts the query batch and never windows") {
    val p = plan(graft.queries.Pipeline.queries("ann06_batch_topk")(spark, sf))
    assert(!p.contains("windowspecdefinition"),
      "per-qid window would shuffle the n x q similarity matrix")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "query batch must broadcast")
    assert(p.contains("graft_top_k_by_score"))
  }
}
