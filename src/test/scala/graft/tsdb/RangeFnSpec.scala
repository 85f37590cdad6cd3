package graft.tsdb

import org.scalatest.funsuite.AnyFunSuite

/** Range-function extension (RangeFns.scala contract): tumbling windows
  * aligned to the query start, Prometheus' counter-reset rule, the
  * un-extrapolated rate estimator, and composition with the existing
  * aggregate / topk / binary dispatch. Expectations are hand-computed
  * from the fixture below.
  */
class RangeFnSpec extends AnyFunSuite {
  import TsdbFixtures._

  /** Counter-ish series over query range [0,100], window 30ms:
    *  w0 [0,30):   (5,10) (15,20) (25,5)   — reset at 25
    *  w1 [30,60):  (35,7)                  — single sample
    *  w2 [60,90):  (65,3) (80,9)
    *  w3 [90,100]: (95,1) (99,1)           — flat pair
    * plus "dup": two samples on the SAME timestamp 50 (values 2, 8).
    */
  private lazy val engine: TsdbEngine = {
    val ctr = Seq(5L -> 10d, 15L -> 20d, 25L -> 5d, 35L -> 7d,
      65L -> 3d, 80L -> 9d, 95L -> 1d, 99L -> 1d)
    val rows =
      ctr.map { case (t, v) => ("ctr", Map.empty[String, String], t, v) } ++
        Seq(("dup", Map.empty[String, String], 50L, 2d),
          ("dup", Map.empty[String, String], 50L, 8d))
    val cat = new StreamCatalog(Seq(
      StreamDef("ctr", Map.empty, VType.F64),
      StreamDef("dup", Map.empty, VType.F64)))
    new TsdbEngine(spark, longDf(rows), cat)
  }

  private def run(q: String, start: Long = 0L, end: Long = 100L): Map[Long, Double] =
    vectorOf(engine.query(q, start, end)).toMap

  test("rate: reset-corrected increase over the observed span, per window") {
    // w0: +10, reset→+5 = 15 over 20ms → 750/s; w1 dropped (1 sample);
    // w2: +6 over 15ms → 400/s; w3: 0 over 4ms → 0/s
    assert(run("rate(ctr[30ms])") ===
      Map(0L -> 750.0, 60L -> 400.0, 90L -> 0.0))
  }

  test("increase: reset adds the post-reset sample's full value") {
    assert(run("increase(ctr[30ms])") ===
      Map(0L -> 15.0, 60L -> 6.0, 90L -> 0.0))
  }

  test("delta: last - first, needs two samples") {
    assert(run("delta(ctr[30ms])") ===
      Map(0L -> -5.0, 60L -> 6.0, 90L -> 0.0))
  }

  test("*_over_time family, single-sample windows included") {
    assert(run("sum_over_time(ctr[30ms])") ===
      Map(0L -> 35.0, 30L -> 7.0, 60L -> 12.0, 90L -> 2.0))
    assert(run("count_over_time(ctr[30ms])") ===
      Map(0L -> 3.0, 30L -> 1.0, 60L -> 2.0, 90L -> 2.0))
    assert(run("min_over_time(ctr[30ms])") ===
      Map(0L -> 5.0, 30L -> 7.0, 60L -> 3.0, 90L -> 1.0))
    assert(run("max_over_time(ctr[30ms])") ===
      Map(0L -> 20.0, 30L -> 7.0, 60L -> 9.0, 90L -> 1.0))
    val avg = run("avg_over_time(ctr[30ms])")
    assert(math.abs(avg(0L) - 35.0 / 3) < 1e-12)
    assert(avg(30L) === 7.0)
    assert(run("last_over_time(ctr[30ms])") ===
      Map(0L -> 5.0, 30L -> 7.0, 60L -> 9.0, 90L -> 1.0))
  }

  test("duplicate timestamps: last_over_time ties toward the larger value; rate needs a positive span") {
    assert(run("last_over_time(dup[30ms])") === Map(30L -> 8.0))
    // two samples but zero observed span → no rate row
    assert(run("rate(dup[30ms])") === Map.empty[Long, Double])
    // increase still defined (ordered (t,v): 2 then 8 → +6)
    assert(run("increase(dup[30ms])") === Map(30L -> 6.0))
  }

  test("windows align to the query start, not the epoch") {
    assert(run("count_over_time(ctr[30ms])", start = 5L).keySet ===
      Set(5L, 35L, 65L, 95L))
  }

  test("composes with aggregates, topk, and binary ops as a normal vector") {
    assert(scalarsOf(engine.query("max(rate(ctr[30ms]))", 0, 100)) === Seq(750.0))
    assert(scalarsOf(engine.query("topk(2, increase(ctr[30ms]))", 0, 100)) ===
      Seq(15.0, 6.0))
    assert(run("increase(ctr[30ms]) * 2") ===
      Map(0L -> 30.0, 60L -> 12.0, 90L -> 0.0))
    // V2V between two range-fn vectors on identical window timestamps:
    // the interpolation align is exact when the timestamp sets coincide
    assert(run("sum_over_time(ctr[30ms]) - min_over_time(ctr[30ms])") ===
      Map(0L -> 30.0, 30L -> 0.0, 60L -> 9.0, 90L -> 1.0))
  }

  test("integer streams come out Float64 (range functions are float-valued)") {
    val e = helperEngine() // ints: 2,4,6,8 at ts 10..40, VType.I64
    val r = e.query("rate(ints[100ms])", 0, 100)
    assert(r.vtype === VType.F64)
    assert(vectorOf(r) === Seq((0L, 200.0))) // +6 over 30ms
  }

  // ---- second-wave range functions: moments, counters, regression ----

  test("stddev/stdvar_over_time: population moments, single sample = 0") {
    val sd = run("stddev_over_time(ctr[30ms])")
    assert(math.abs(sd(0L) - math.sqrt(116.66666666666667 / 3)) < 1e-12)
    assert(sd(30L) === 0.0) // single sample
    assert(sd(60L) === 3.0) // {3,9}: σ = 3
    assert(sd(90L) === 0.0) // {1,1}
    val sv = run("stdvar_over_time(ctr[30ms])")
    assert(sv(60L) === 9.0)
    assert(sv(30L) === 0.0)
  }

  test("quantile_over_time: linear interpolation, φ bounds checked") {
    assert(run("quantile_over_time(0.5, ctr[30ms])") ===
      Map(0L -> 10.0, 30L -> 7.0, 60L -> 6.0, 90L -> 1.0))
    // φ = 1 is the max, φ = 0 the min
    assert(run("quantile_over_time(1, ctr[30ms])")(0L) === 20.0)
    assert(run("quantile_over_time(0, ctr[30ms])")(0L) === 5.0)
    intercept[IllegalArgumentException] {
      engine.query("quantile_over_time(1.5, ctr[30ms])", 0, 100).df.collect()
    }
    intercept[PromParseException] {
      PromParser.parse("quantile_over_time(ctr[30ms])")
    }
  }

  test("present_over_time: 1 for any non-empty window") {
    assert(run("present_over_time(ctr[30ms])") ===
      Map(0L -> 1.0, 30L -> 1.0, 60L -> 1.0, 90L -> 1.0))
  }

  test("changes / resets: consecutive-pair counters, single sample = 0") {
    // w0: 10→20→5 = 2 changes (1 reset); w1 single = 0; w2: 3→9 = 1
    // change, no reset; w3: 1→1 flat = 0
    assert(run("changes(ctr[30ms])") ===
      Map(0L -> 2.0, 30L -> 0.0, 60L -> 1.0, 90L -> 0.0))
    assert(run("resets(ctr[30ms])") ===
      Map(0L -> 1.0, 30L -> 0.0, 60L -> 0.0, 90L -> 0.0))
  }

  test("idelta / irate: the LAST sample pair, reset-corrected, ≥2 samples") {
    // w0 last pair (15,20)→(25,5): idelta -15; irate resets → 5/0.01s
    assert(run("idelta(ctr[30ms])") ===
      Map(0L -> -15.0, 60L -> 6.0, 90L -> 0.0))
    assert(run("irate(ctr[30ms])") ===
      Map(0L -> 500.0, 60L -> 400.0, 90L -> 0.0))
    // duplicate-timestamp pair: zero span → no irate row, idelta defined
    assert(run("irate(dup[30ms])") === Map.empty[Long, Double])
    assert(run("idelta(dup[30ms])") === Map(30L -> 6.0))
  }

  test("deriv: least-squares slope per second, needs two distinct timestamps") {
    val d = run("deriv(ctr[30ms])")
    // w0 (0.005,10)(0.015,20)(0.025,5): slope -250; w1 dropped;
    // w2 (65,3)→(80,9): 6/0.015s = 400; w3 flat pair: 0
    assert(math.abs(d(0L) - -250.0) < 1e-9)
    assert(!d.contains(30L))
    assert(math.abs(d(60L) - 400.0) < 1e-9)
    assert(d(90L) === 0.0)
    // zero span (dup timestamps only) → regr_slope null → no row
    assert(run("deriv(dup[30ms])") === Map.empty[Long, Double])
  }

  test("absent_over_time: 1 for every empty window, tumbling and sliding") {
    // 10ms windows over [0,100]: occupied starts {0,10,20,30,60,80,90}
    assert(run("absent_over_time(ctr[10ms])") ===
      Map(40L -> 1.0, 50L -> 1.0, 70L -> 1.0, 100L -> 1.0))
    // fully-covered geometry → empty result, not an error
    assert(run("absent_over_time(ctr[30ms])") === Map.empty[Long, Double])
    // sliding: exactly the complement of present_over_time's eval times
    assert(vectorOf(engine.queryRange("absent_over_time(ctr[30ms])",
      0L, 100L, 10L)).toMap === Map(0L -> 1.0))
  }

  test("rangeAggregateBy: per-group windows see only that group's samples") {
    // two labeled series sharing the name: a=(5,10)(15,20), b=(5,100)
    val rows = Seq(
      ("m", Map("u" -> "a"), 5L, 10d), ("m", Map("u" -> "a"), 15L, 20d),
      ("m", Map("u" -> "b"), 5L, 100d))
    val e = new TsdbEngine(spark, longDf(rows),
      new StreamCatalog(Seq(StreamDef("m", Map.empty, VType.F64))))
    val byU = Expr.Grouping(by = true, List("u"))
    val sums = e.rangeAggregateBy("sum_over_time(m[30ms])", byU, 0L, 100L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(sums.toSet === Set(("a", 0L, 30.0), ("b", 0L, 100.0)))
    // pair kinds stay within the group: only a has two samples
    val rates = e.rangeAggregateBy("rate(m[30ms])", byU, 0L, 100L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rates.toSet === Set(("a", 0L, 1000.0))) // +10 over 10ms
    intercept[IllegalArgumentException] {
      e.rangeAggregateBy("absent_over_time(m[30ms])", byU, 0L, 100L)
    }
    intercept[IllegalArgumentException] {
      e.rangeAggregateBy("sum(m)", byU, 0L, 100L)
    }
    // grouped × sliding: per-group lookback windows at each step
    val slid = e.queryRange("sum by (u) (sum_over_time(m[30ms]))",
        0L, 30L, 10L).df
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(slid.toSet === Set(
      ("a", 10L, 10.0), ("a", 20L, 30.0), ("a", 30L, 30.0),
      ("b", 10L, 100.0), ("b", 20L, 100.0), ("b", 30L, 100.0)))
    intercept[IllegalArgumentException] {
      e.queryRange("sum by (u) (absent_over_time(m[30ms]))", 0L, 30L, 10L)
    }
  }

  test("extrapolated rate/increase: Prometheus' boundary rule, opt-in") {
    def rows(ps: Seq[(Long, Double)]) =
      longDf(ps.map { case (t, v) => ("c", Map.empty[String, String], t, v) })
    val cat = new StreamCatalog(Seq(StreamDef("c", Map.empty, VType.F64)))
    def eng(ps: Seq[(Long, Double)]) =
      new TsdbEngine(spark, rows(ps), cat, rateMode = RangeFns.Extrapolated)
    // clustered pair (0,10)(5,20) in window [0,30): si=5ms; start gap 0
    // (< threshold), end gap 25ms (≥ threshold → avgDur/2 = 2.5ms) →
    // ext=7.5ms, factor 1.5 → increase 15; rate = 15/0.03s = 500.
    // The exact estimator says 10 and 2000 — the documented difference.
    val e1 = eng(Seq(0L -> 10d, 5L -> 20d))
    assert(vectorOf(e1.query("increase(c[30ms])", 0, 29)) === Seq((0L, 15.0)))
    assert(vectorOf(e1.query("rate(c[30ms])", 0, 29)) === Seq((0L, 500.0)))
    assert(vectorOf(new TsdbEngine(spark, rows(Seq(0L -> 10d, 5L -> 20d)), cat)
      .query("rate(c[30ms])", 0, 29)) === Seq((0L, 2000.0)))
    // counter zero-point: (20,1)(25,100) — the start gap caps at the
    // counter's linear zero crossing si·v0/inc, so increase = 99·(199/99)
    val inc2 = vectorOf(eng(Seq(20L -> 1d, 25L -> 100d))
      .query("increase(c[30ms])", 0, 29))
    assert(inc2.size == 1 && math.abs(inc2.head._2 - 199.0) < 1e-9)
    // boundary-dense window: exact == extrapolated (both edge gaps are
    // under the threshold and sum with si to exactly the window)
    val dense = (0L to 29L).map(t => t -> t.toDouble)
    val ex = vectorOf(eng(dense).query("rate(c[30ms])", 0, 29))
    val exact = vectorOf(new TsdbEngine(spark, rows(dense), cat)
      .query("rate(c[30ms])", 0, 29))
    assert(ex.size == 1 && exact.size == 1)
    assert(math.abs(ex.head._2 - exact.head._2) < 1e-9)
    // sliding shape (query_range window (0,30]): (5,10)(10,20) →
    // ds=5ms(<th) + de=20ms(≥th → 2.5ms) → ext=12.5ms, rate=25/0.03
    val r3 = vectorOf(eng(Seq(5L -> 10d, 10L -> 20d))
      .queryRange("rate(c[30ms])", 30L, 30L, 30L))
    assert(r3.size == 1 && math.abs(r3.head._2 - 25.0 / 0.03) < 1e-9)
    // the other kinds are untouched by the mode
    assert(vectorOf(e1.query("sum_over_time(c[30ms])", 0, 29)) ===
      Seq((0L, 30.0)))
  }

  test("grouped range APIs generalize to label sets and without-form") {
    val rows = Seq(
      ("m", Map("u" -> "a", "dc" -> "x"), 5L, 10d),
      ("m", Map("u" -> "a", "dc" -> "y"), 15L, 20d),
      ("m", Map("u" -> "b", "dc" -> "x"), 5L, 100d))
    val e = new TsdbEngine(spark, longDf(rows),
      new StreamCatalog(Seq(StreamDef("m", Map.empty, VType.F64))))
    // multi-label tumbling: one column per label, per-(tuple, window)
    val multi = e.rangeAggregateBy("sum_over_time(m[30ms])",
        Expr.Grouping(by = true, List("u", "dc")), 0L, 100L)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(multi.toSet === Set(("a", "x", 0L, 10d), ("a", "y", 0L, 20d),
      ("b", "x", 0L, 100d)))
    // without-form: remaining-label-set groups (canonical string)
    val wo = e.rangeAggregateBy("sum_over_time(m[30ms])",
        Expr.Grouping(by = false, List("dc")), 0L, 100L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(wo.toSet === Set(("u=a", 0L, 30d), ("u=b", 0L, 100d)))
    // multi-label sliding: per-(tuple, step) lookback windows
    val slid = e.queryRange("sum by (u, dc) (sum_over_time(m[30ms]))",
        0L, 20L, 10L).df
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(slid.toSet === Set(
      ("a", "x", 10L, 10d), ("b", "x", 10L, 100d),
      ("a", "x", 20L, 10d), ("a", "y", 20L, 20d), ("b", "x", 20L, 100d)))
    // by () refuses toward the ungrouped evaluation
    intercept[IllegalArgumentException](e.rangeAggregateBy(
      "sum_over_time(m[30ms])", Expr.Grouping(by = true, Nil), 0L, 100L))
    intercept[IllegalArgumentException](e.queryRangeBy(
      PromParser.parse("sum_over_time(m[30ms])"),
      Expr.Grouping(by = true, Nil), 0L, 20L, 10L))
  }

  test("grouped methods honor @/offset like select() does") {
    // @0 offset 10ms resolves the scan start to 10 (planner.rs:162-180):
    // a's t=5 sample must drop from every grouped path, exactly as it
    // does through select() — the round-9 advice found these silently
    // ignoring the modifiers
    val rows = Seq(
      ("m", Map("u" -> "a"), 5L, 10d), ("m", Map("u" -> "a"), 15L, 20d),
      ("m", Map("u" -> "b"), 5L, 100d))
    val e = new TsdbEngine(spark, longDf(rows),
      new StreamCatalog(Seq(StreamDef("m", Map.empty, VType.F64))))
    val g = e.rangeAggregateBy("sum_over_time(m[30ms] @ 0 offset 10ms)",
      Expr.Grouping(by = true, List("u")), 0L, 100L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(g.toSet === Set(("a", 0L, 20.0))) // t=5 samples gone, b empty
    val agg = e.query("sum by (u) (m @ 0 offset 10ms)", 0L, 100L).df
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(agg.toSet === Set(("a", 20.0)))
    val slid = e.queryRange(
      "sum by (u) (sum_over_time(m[30ms] @ 0 offset 10ms))",
      0L, 30L, 10L).df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(slid.toSet === Set(
      ("a", 20L, 20.0), ("a", 30L, 20.0))) // only t=15 survives
  }

  test("grouped stddev and count_values answer per group through query") {
    val rows = Seq(
      ("m", Map("u" -> "a"), 5L, 1d), ("m", Map("u" -> "a"), 15L, 5d),
      ("m", Map("u" -> "b"), 5L, 7d))
    val e = new TsdbEngine(spark, longDf(rows),
      new StreamCatalog(Seq(StreamDef("m", Map.empty, VType.F64))))
    // population stddev: a {1, 5} → 2, b {7} → 0
    val sd = e.query("stddev by (u) (m)", 0L, 100L).df
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(sd.toSet === Set(("a", 2.0), ("b", 0.0)))
    // count_values keys the counts by (u, value text)
    val cv = e.query("""count_values("v", m) by (u)""", 0L, 100L).df
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(cv.toSet === Set(("a", "1.0", 1.0), ("a", "5.0", 1.0),
      ("b", "7.0", 1.0)))
  }

  test("subquery: outer range fn over the inner sliding series") {
    // inner sum_over_time(ctr[30ms]) at 10ms steps over [0,100] is the
    // sliding fixture below: {10:10,20:30,30:35,40:32,50:12,60:7,70:3,
    // 80:12,90:12,100:11}. Outer tumbling 50ms windows aligned to 0:
    // [0,50) → max 35; [50,100) → 12; [100,100] → 11.
    assert(run("max_over_time(sum_over_time(ctr[30ms])[50ms:10ms])") ===
      Map(0L -> 35.0, 50L -> 12.0, 100L -> 11.0))
    // instant math composes on either side of the subquery
    assert(run("abs(min_over_time(sum_over_time(ctr[30ms])[50ms:10ms]))") ===
      Map(0L -> 10.0, 50L -> 3.0, 100L -> 11.0))
    // avg over the derived rate series — the canonical alerting shape
    val r = run("avg_over_time(rate(ctr[30ms])[100ms:30ms])")
    // rate slides at T=30,60,90 (T=0's window is empty): windows (0,30]
    // 750/s, (30,60] single sample dropped, (60,90] 400/s → avg 575
    assert(r === Map(0L -> 575.0))
  }

  test("queryRange: binary composition joins step-keyed sides") {
    // ratio of two sliding series == the directly-evaluated sliding avg
    val ratio = runRange(
      "sum_over_time(ctr[30ms]) / count_over_time(ctr[30ms])", 0L, 100L, 10L)
    val avg = runRange("avg_over_time(ctr[30ms])", 0L, 100L, 10L)
    assert(ratio.keySet === avg.keySet)
    ratio.foreach { case (t, v) => assert(math.abs(v - avg(t)) < 1e-12, s"t=$t") }
    // literal operands: arithmetic maps, comparison filters keeping value
    assert(runRange("sum_over_time(ctr[30ms]) * 2", 0L, 100L, 10L)(20L) === 60.0)
    assert(runRange("sum_over_time(ctr[30ms]) > 30", 0L, 100L, 10L) ===
      Map(30L -> 35.0, 40L -> 32.0))
    assert(runRange("100 - sum_over_time(ctr[30ms])", 0L, 100L, 10L)(10L) === 90.0)
    // a step with no row on one side drops from the join: rate needs ≥2
    // samples, so T=60's single-sample window has no rate row
    val joined = runRange(
      "rate(ctr[30ms]) * count_over_time(ctr[30ms])", 30L, 90L, 30L)
    assert(joined === Map(30L -> 2250.0, 90L -> 800.0))
    // vector·vector comparison refuses (like whole-range V2V)
    intercept[IllegalArgumentException](engine.queryRange(
      "sum_over_time(ctr[30ms]) > count_over_time(ctr[30ms])",
      0L, 100L, 10L).df.collect())
  }

  test("subquery over a binary composition (the ratio-alerting shape)") {
    // inner avg-by-ratio series at 10ms steps (== sliding avg fixture),
    // outer tumbling 50ms max: [0,50) → 15; [50,100) → 7; [100] → 11/3
    val r = run("max_over_time((sum_over_time(ctr[30ms]) / " +
      "count_over_time(ctr[30ms]))[50ms:10ms])")
    assert(r.keySet === Set(0L, 50L, 100L))
    assert(r(0L) === 15.0 && r(50L) === 7.0)
    assert(math.abs(r(100L) - 11.0 / 3) < 1e-12)
  }

  test("subquery rejections: bare use, missing step; nesting evaluates") {
    intercept[IllegalArgumentException] {
      engine.query("rate(ctr[30ms])[50ms:10ms]", 0, 100).df.collect()
    }
    // NESTED subqueries evaluate since round 12 (the sliding-subquery
    // arm makes every level a step-keyed derived frame — still one raw
    // scan); rejection would be a regression now. The VALUE golden for
    // nesting lives in EngineSpec's hand-computed three-level case
    val nested = engine.query(
      "avg_over_time(max_over_time(rate(ctr[30ms])[60ms:30ms])[90ms:30ms])",
      0, 100).df.collect()
    assert(nested.nonEmpty)
    intercept[PromParseException] {
      PromParser.parse("max_over_time(rate(ctr[30ms])[50ms])")
    }
    intercept[PromParseException] {
      PromParser.parse("max_over_time(ctr[50ms:10ms])")
    }
  }

  // ---- sliding query_range evaluation ----

  private def runRange(q: String, start: Long, end: Long,
      step: Long): Map[Long, Double] =
    vectorOf(engine.queryRange(q, start, end, step)).toMap

  test("queryRange: sliding lookback (T-w, T], eval every step") {
    val r = runRange("sum_over_time(ctr[30ms])", 0L, 100L, 10L)
    assert(r === Map(10L -> 10.0, 20L -> 30.0, 30L -> 35.0, 40L -> 32.0,
      50L -> 12.0, 60L -> 7.0, 70L -> 3.0, 80L -> 12.0, 90L -> 12.0,
      100L -> 11.0))
    // T=0's window (-30, 0] is empty → no row (present_over_time agrees)
    assert(!r.contains(0L))
    assert(runRange("present_over_time(ctr[30ms])", 0L, 100L, 10L)
      .keySet === r.keySet)
  }

  test("queryRange: the scan extends one window behind start (full lookback)") {
    // start=30: window (0, 30] must still see samples 5/15/25
    val r = runRange("sum_over_time(ctr[30ms])", 30L, 60L, 30L)
    assert(r === Map(30L -> 35.0, 60L -> 7.0))
  }

  test("queryRange: rate over sliding windows, instant math composes") {
    val r = runRange("rate(ctr[30ms])", 30L, 90L, 30L)
    // T=30 (0,30]: 10→20→5(reset) inc 15 over 20ms → 750/s
    // T=60 (30,60]: single sample → dropped
    // T=90 (60,90]: 3→9 inc 6 over 15ms → 400/s
    assert(r === Map(30L -> 750.0, 90L -> 400.0))
    assert(runRange("clamp_max(rate(ctr[30ms]), 500)", 30L, 90L, 30L) ===
      Map(30L -> 500.0, 90L -> 400.0))
  }

  test("queryRange: whole-range shapes are rejected with the scan-amplification error") {
    // round 13: `sum(ctr)` is no longer one of them — aggregates map
    // to their _over_time twin over a step window (the Aggregate arm)
    assert(engine.queryRange("sum(ctr)", 0L, 100L, 10L)
      .df.limit(1).collect().nonEmpty)
    // topk has no sliding arm — still the amplification refusal
    val e1 = intercept[IllegalArgumentException] {
      engine.queryRange("topk(2, ctr)", 0L, 100L, 10L)
    }
    assert(e1.getMessage.contains("range functions over matrix selectors") &&
      e1.getMessage.contains("rescan the store once per step"))
    intercept[IllegalArgumentException] {
      engine.queryRange("ctr", 0L, 100L, 10L)
    }
    intercept[IllegalArgumentException] {
      engine.queryRange("rate(ctr[30ms])", 0L, 100L, 0L)
    }
  }

  // ---- instant math functions (the extension's second half) ----

  test("instant fns: clamp family, abs, sgn, round-to-nearest") {
    assert(run("clamp(ctr, 3, 8)") === Map(5L -> 8.0, 15L -> 8.0, 25L -> 5.0,
      35L -> 7.0, 65L -> 3.0, 80L -> 8.0, 95L -> 3.0, 99L -> 3.0))
    assert(run("clamp_max(ctr, 5)").values.max === 5.0)
    assert(run("clamp_min(ctr, 5)").values.min === 5.0)
    // PromQL: reversed bounds clamp to NaN
    assert(run("clamp(ctr, 8, 3)").values.forall(_.isNaN))
    // round half-up to a multiple of `to`
    assert(run("round(ctr / 3, 0.5)")(5L) === 3.5)
    assert(run("round(ctr / 3)")(15L) === 7.0)
    // composition over a range fn: |delta| and its sign
    assert(run("abs(delta(ctr[30ms]))") ===
      Map(0L -> 5.0, 60L -> 6.0, 90L -> 0.0))
    assert(run("sgn(delta(ctr[30ms]))") ===
      Map(0L -> -1.0, 60L -> 1.0, 90L -> 0.0))
  }

  test("instant fns: math battery and aggregate composition") {
    val sq = run("sqrt(ctr)")
    assert(math.abs(sq(5L) - math.sqrt(10.0)) < 1e-12)
    assert(math.abs(run("ln(exp(ctr / 10))")(15L) - 2.0) < 1e-12)
    assert(run("log2(clamp(ctr, 8, 8))")(5L) === 3.0)
    assert(math.abs(run("log10(ctr)")(5L) - 1.0) < 1e-12)
    // vector in, vector out → whole-range aggregates compose on top
    assert(scalarsOf(engine.query("sum(clamp_max(ctr, 5))", 0, 100)) === Seq(30.0))
  }

  test("instant fns: integer streams come out Float64") {
    val e = helperEngine()
    val r = e.query("abs(ints)", 0, 100)
    assert(r.vtype === VType.F64)
    assert(vectorOf(r) === Seq((10L, 2.0), (20L, 4.0), (30L, 6.0), (40L, 8.0)))
  }

  test("instant fns: scalar children and bad arities are rejected") {
    intercept[IllegalArgumentException] { engine.query("abs(sum(ctr))", 0, 100) }
    intercept[IllegalArgumentException] { engine.query("abs(1)", 0, 100) }
    intercept[PromParseException] { PromParser.parse("clamp(ctr, 1)") }
    intercept[PromParseException] { PromParser.parse("clamp_min(ctr)") }
    intercept[PromParseException] { PromParser.parse("round(ctr, 1, 2)") }
    intercept[PromParseException] { PromParser.parse("clamp(ctr, \"a\", 2)") }
  }

  test("rejections: bare matrix selector, instant child, non-selector child") {
    intercept[PromParseException] { PromParser.parse("rate(ctr)") }
    intercept[PromParseException] { PromParser.parse("rate(1)") }
    // absent(v) is an instant form since round 11 (EngineSpec pins it);
    // unknown calls still reject
    intercept[PromParseException] { PromParser.parse("histogram_sum(ctr)") }
    intercept[PromParseException] { PromParser.parse("ctr[0ms]") }
    // parses, but a matrix selector is only legal under a range function
    intercept[IllegalArgumentException] { engine.query("ctr[30ms]", 0, 100) }
    intercept[IllegalArgumentException] { engine.query("ctr[30ms] + 1", 0, 100) }
  }
}
