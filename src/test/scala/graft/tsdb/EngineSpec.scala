package graft.tsdb

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Graft

/** Ports the reference's inline E2E expectation corpus
  * (tachyon_core/src/lib.rs:585-1808) against the Spark engine.
  * Fixtures per /root/repo/FIXTURES.md §3.
  */
object TsdbFixtures {
  lazy val spark: SparkSession = Graft.session("tsdb-test", "4")

  val schema = StructType(Seq(
    StructField("name", StringType),
    StructField("labels", MapType(StringType, StringType)),
    StructField("timestamp", LongType),
    StructField("value", DoubleType)))

  def longDf(rows: Seq[(String, Map[String, String], Long, Double)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (n, l, t, v) => Row(n, l, t, v) }, 2),
      schema)

  /** lib.rs:805-831: streams ints/uints/floats on ts [10,20,30,40]. */
  def helperEngine(): TsdbEngine = {
    val ts = Seq(10L, 20L, 30L, 40L)
    val rows =
      ts.zip(Seq(2d, 4d, 6d, 8d)).map { case (t, v) => ("ints", Map.empty[String, String], t, v) } ++
      ts.zip(Seq(1d, 2d, 3d, 4d)).map { case (t, v) => ("uints", Map.empty[String, String], t, v) } ++
      ts.zip(Seq(4.1, 3.2, 2.3, 1.4)).map { case (t, v) => ("floats", Map.empty[String, String], t, v) }
    val cat = new StreamCatalog(Seq(
      StreamDef("ints", Map.empty, VType.I64),
      StreamDef("uints", Map.empty, VType.U64),
      StreamDef("floats", Map.empty, VType.F64)))
    new TsdbEngine(spark, longDf(rows), cat)
  }

  /** lib.rs:605-652,722-803: labeled http_requests_total streams. */
  def httpEngine(): TsdbEngine = {
    val web = Seq(23L -> 45d, 29L -> 47d, 40L -> 23d, 51L -> 48d)
    val mobile = Seq(23L -> 9d, 29L -> 18d, 40L -> 0d, 51L -> 100d)
    val rows =
      web.map { case (t, v) => ("http_requests_total", Map("service" -> "web"), t, v) } ++
      mobile.map { case (t, v) => ("http_requests_total", Map("service" -> "mobile"), t, v) }
    val cat = new StreamCatalog(Seq(
      StreamDef("http_requests_total", Map("service" -> "web"), VType.U64),
      StreamDef("http_requests_total", Map("service" -> "mobile"), VType.U64)))
    new TsdbEngine(spark, longDf(rows), cat)
  }

  def vectorOf(r: TsdbResult): Seq[(Long, Double)] =
    r.output.orderBy("timestamp").collect().toSeq
      .map(row => (row.getLong(0), row.get(1) match {
        case d: Double => d
        case l: Long => l.toDouble
      }))

  def scalarsOf(r: TsdbResult): Seq[Double] =
    r.output.collect().toSeq.map(_.get(0) match {
      case d: Double => d
      case l: Long => l.toDouble
    })
}

class EngineSpec extends AnyFunSuite {
  import TsdbFixtures._

  private val R = (0L, 100L) // full-range window for the helper fixture

  private def vec(e: TsdbEngine, q: String, r: (Long, Long) = R): Seq[(Long, Double)] =
    vectorOf(e.query(q, r._1, r._2))
  private def sca(e: TsdbEngine, q: String, r: (Long, Long) = R): Seq[Double] =
    scalarsOf(e.query(q, r._1, r._2))

  // ---- arithmetic / comparison matrix (lib.rs:862-1030) ----

  test("scan returns raw samples in timestamp order") {
    assert(vec(helperEngine(), "ints") ==
      Seq(10L -> 2d, 20L -> 4d, 30L -> 6d, 40L -> 8d))
  }

  test("division always promotes to f64: ints / uints") {
    assert(vec(helperEngine(), "ints / uints").map(_._2) == Seq(2d, 2d, 2d, 2d))
  }

  test("modulo always f64: uints % 2 (lib.rs:952-960)") {
    assert(vec(helperEngine(), "uints % 2").map(_._2) == Seq(1d, 0d, 1d, 0d))
  }

  test("comparison = filter keeping values: ints % 4 == 2 (lib.rs:962-970)") {
    assert(vec(helperEngine(), "ints % 4 == 2") == Seq(10L -> 2d, 30L -> 2d))
  }

  test("vector + literal promotes per lattice to f64 (lib.rs:912-920)") {
    val r = helperEngine().query("ints + 2", 0, 100)
    assert(r.vtype == VType.F64)
    assert(vectorOf(r).map(_._2) == Seq(4d, 6d, 8d, 10d))
  }

  test("int arithmetic stays integer-typed: ints * uints") {
    val r = helperEngine().query("ints * uints", 0, 100)
    assert(r.vtype == VType.I64)
    assert(vectorOf(r).map(_._2) == Seq(2d, 8d, 18d, 32d))
  }

  test("comparison filter on floats keeps float values") {
    assert(vec(helperEngine(), "floats > 2.5") == Seq(10L -> 4.1, 20L -> 3.2))
  }

  // ---- aggregates (lib.rs:1033-1098) ----

  test("sum/count/avg/min/max over full range") {
    val e = helperEngine()
    assert(sca(e, "sum(ints)") == Seq(20d))
    assert(sca(e, "count(ints)") == Seq(4d))
    assert(sca(e, "avg(ints)") == Seq(5d))
    assert(sca(e, "min(ints)") == Seq(2d))
    assert(sca(e, "max(ints)") == Seq(8d))
  }

  test("aggregate of empty set: no row for sum, 0 for count (lib.rs:1038-1062)") {
    val e = helperEngine()
    assert(sca(e, "sum(ints < 0)").isEmpty)
    assert(sca(e, "min(ints < 0)").isEmpty)
    assert(sca(e, "count(ints < 0)") == Seq(0d))
  }

  // ---- topk / bottomk (lib.rs:1100-1150) ----

  test("topk/bottomk rank order, k clamps, k=0 empty") {
    val e = helperEngine()
    assert(sca(e, "topk(2, ints)") == Seq(8d, 6d))
    assert(sca(e, "bottomk(2, ints)") == Seq(2d, 4d))
    assert(sca(e, "topk(0, ints)").isEmpty)
    assert(sca(e, "topk(10, ints)") == Seq(8d, 6d, 4d, 2d))
  }

  test("topk on negatives (lib.rs:1732-1739)") {
    val rows = Seq(1L -> -5d, 2L -> -7d, 3L -> -1d, 4L -> -1000d)
      .map { case (t, v) => ("neg", Map.empty[String, String], t, v) }
    val e = new TsdbEngine(spark, longDf(rows),
      new StreamCatalog(Seq(StreamDef("neg", Map.empty, VType.I64))))
    assert(scalarsOf(e.query("topk(2, neg)", 0, 10)) == Seq(-1d, -5d))
    assert(scalarsOf(e.query("sum(neg)", 0, 10)) == Seq(-1013d))
    assert(scalarsOf(e.query("min(neg)", 0, 10)) == Seq(-1000d))
  }

  test("bottomk/avg on float stream (lib.rs:1787-1794)") {
    val rows = Seq(1L -> 3.8, 2L -> -23.1)
      .map { case (t, v) => ("f", Map.empty[String, String], t, v) }
    val e = new TsdbEngine(spark, longDf(rows),
      new StreamCatalog(Seq(StreamDef("f", Map.empty, VType.F64))))
    assert(scalarsOf(e.query("bottomk(1, f)", 0, 10)) == Seq(-23.1))
    val avg = scalarsOf(e.query("avg(f)", 0, 10)).head
    assert(math.abs(avg - -9.65) < 0.001)
  }

  // ---- labeled selectors & ranges (lib.rs:605-652,722-803,1152-1193) ----

  test("labeled selector full/partial range sums (lib.rs:1188-1193)") {
    val e = httpEngine()
    assert(scalarsOf(e.query("sum(http_requests_total{service=\"web\"})", 23, 51)) == Seq(163d))
    assert(scalarsOf(e.query("avg(http_requests_total{service=\"web\"})", 29, 40)) == Seq(35d))
    assert(scalarsOf(e.query("count(http_requests_total)", 23, 51)) == Seq(8d))
  }

  test("multi-stream isolation: matchers pick one stream") {
    val e = httpEngine()
    assert(vectorOf(e.query("http_requests_total{service=\"mobile\"}", 23, 51)) ==
      Seq(23L -> 9d, 29L -> 18d, 40L -> 0d, 51L -> 100d))
  }

  test("vector + scalar-subquery broadcasts the aggregate (lib.rs:1473-1527)") {
    val e = httpEngine()
    val r = e.query(
      "http_requests_total{service=\"web\"} + sum(http_requests_total{service=\"mobile\"})",
      23, 51)
    assert(vectorOf(r) == Seq(23L -> 172d, 29L -> 174d, 40L -> 150d, 51L -> 175d))
  }

  test("scalar / scalar of aggregates (lib.rs:1529-1583)") {
    val e = helperEngine()
    assert(sca(e, "sum(ints) / count(ints)") == Seq(5d))
  }

  test("@ modifier rewrites scan start (planner.rs:162-180)") {
    val e = httpEngine()
    // @0.029s → start=29ms; end stays 51 → sum 47+23+48
    assert(scalarsOf(e.query("sum(http_requests_total{service=\"web\"} @ 0.029)", 23, 51)) ==
      Seq(118d))
    // offset shifts the @-resolved start: @0.023 offset 6ms → 29
    assert(scalarsOf(
      e.query("sum(http_requests_total{service=\"web\"} @ 0.023 offset 6ms)", 23, 51)) ==
      Seq(118d))
  }

  // ---- interpolation golden vectors (lib.rs:1395-1470) ----

  private def interpEngine(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): TsdbEngine = {
    val rows = a.map { case (t, v) => ("a", Map.empty[String, String], t, v) } ++
      b.map { case (t, v) => ("b", Map.empty[String, String], t, v) }
    new TsdbEngine(spark, longDf(rows), new StreamCatalog(Seq(
      StreamDef("a", Map.empty, VType.U64), StreamDef("b", Map.empty, VType.U64))))
  }

  test("interpolation basic golden vector") {
    val e = interpEngine(
      Seq(10L, 20L, 30L, 40L).zip(Seq(0d, 20d, 0d, 20d)),
      Seq(5L, 15L, 25L, 35L, 45L).zip(Seq(10d, 10d, 10d, 10d, 10d)))
    val got = vectorOf(e.query("a + b", 0, 100))
    assert(got == Seq(5L, 10L, 15L, 20L, 25L, 30L, 35L, 40L, 45L)
      .zip(Seq(10d, 10d, 20d, 30d, 20d, 10d, 20d, 30d, 30d)))
  }

  test("interpolation complex golden vector") {
    val e = interpEngine(
      Seq(1L, 2L, 4L, 6L, 10L, 12L, 13L, 14L, 15L, 16L)
        .zip(Seq(10d, 20d, 30d, 20d, 20d, 10d, 15d, 20d, 80d, 100d)),
      Seq(3L, 5L, 7L, 8L, 9L, 11L, 16L).zip(Seq(30d, 30d, 10d, 20d, 20d, 10d, 10d)))
    val got = vectorOf(e.query("a + b", 0, 100))
    assert(got == (1L to 16L)
      .zip(Seq(40d, 50d, 55d, 60d, 55d, 40d, 30d, 40d, 40d, 35d, 25d, 20d, 25d, 30d, 90d, 110d)))
  }

  // ---- type-fidelity fixture (lib.rs:1647-1807) ----

  test("all three value types incl. negatives, pi, f64 minimum") {
    val ts = Seq(1L, 2L, 3L, 4L, 5L)
    val rows =
      ts.zip(Seq(0d, 5d, 10d, 15d, 20d)).map { case (t, v) => ("u", Map.empty[String, String], t, v) } ++
      ts.zip(Seq(-10d, -5d, 0d, 5d, 10d)).map { case (t, v) => ("i", Map.empty[String, String], t, v) } ++
      ts.zip(Seq(-2.5e2, -math.Pi, 0.0, java.lang.Double.MIN_NORMAL, 2395353.2352))
        .map { case (t, v) => ("f", Map.empty[String, String], t, v) }
    val e = new TsdbEngine(spark, longDf(rows), new StreamCatalog(Seq(
      StreamDef("u", Map.empty, VType.U64),
      StreamDef("i", Map.empty, VType.I64),
      StreamDef("f", Map.empty, VType.F64))))
    assert(scalarsOf(e.query("sum(u)", 0, 10)) == Seq(50d))
    assert(scalarsOf(e.query("sum(i)", 0, 10)) == Seq(0d))
    val fsum = scalarsOf(e.query("sum(f)", 0, 10)).head
    assert(math.abs(fsum - (-2.5e2 - math.Pi + 0.0 + java.lang.Double.MIN_NORMAL + 2395353.2352)) < 0.001)
    assert(scalarsOf(e.query("min(i)", 0, 10)) == Seq(-10d))
    assert(scalarsOf(e.query("max(f)", 0, 10)) == Seq(2395353.2352))
    assert(vectorOf(e.query("i + u", 0, 10)).map(_._2) == Seq(-10d, 0d, 10d, 20d, 30d))
    assert(vectorOf(e.query("f > 0", 0, 10)).map(_._2) ==
      Seq(java.lang.Double.MIN_NORMAL, 2395353.2352))
  }

  // ---- by/without grouping: EVALUATED on the string surface, where
  // the reference parses then drops the clause (planner.rs:84-88) ----

  /** Two labeled dimensions: service × dc, four series. */
  private def groupedEngine(): TsdbEngine = {
    val rows = Seq(
      ("req", Map("service" -> "web", "dc" -> "a"), 10L, 1d),
      ("req", Map("service" -> "web", "dc" -> "a"), 20L, 2d),
      ("req", Map("service" -> "web", "dc" -> "b"), 10L, 4d),
      ("req", Map("service" -> "mob", "dc" -> "a"), 10L, 8d),
      ("req", Map("service" -> "mob", "dc" -> "b"), 20L, 16d),
      // one series missing `dc` entirely: by (dc) puts it in the null group
      ("req", Map("service" -> "cli"), 30L, 32d))
    new TsdbEngine(spark, longDf(rows),
      new StreamCatalog(Seq(StreamDef("req", Map.empty, VType.F64))))
  }

  private def groupRows(df: DataFrame): Set[(Option[String], Double)] =
    df.collect().toSet[Row].map(r =>
      (Option(r.getString(0)), r.getDouble(r.length - 1)))

  test("sum by (label): prefix and suffix forms, per-label-value groups") {
    val e = groupedEngine()
    val expected = Set(Some("web") -> 7d, Some("mob") -> 24d, Some("cli") -> 32d)
    val prefix = e.query("sum by (service) (req)", 0, 100)
    assert(prefix.grouped && prefix.df.columns.toSeq == Seq("service", "value"))
    assert(groupRows(prefix.output) == expected)
    // suffix position parses to the identical plan
    assert(groupRows(e.query("sum(req) by (service)", 0, 100).output) == expected)
    // missing label → null group (Prometheus' missing-label rule)
    assert(groupRows(e.query("max by (dc) (req)", 0, 100).output) ==
      Set(Some("a") -> 8d, Some("b") -> 16d, (None: Option[String]) -> 32d))
  }

  test("multi-label by: one column per label, tuple groups") {
    val e = groupedEngine()
    val out = e.query("sum by (service, dc) (req)", 0, 100).output
    assert(out.columns.toSeq == Seq("service", "dc", "value"))
    val rows = out.collect().toSet[Row].map(r =>
      (Option(r.getString(0)), Option(r.getString(1)), r.getDouble(2)))
    assert(rows == Set(
      (Some("web"), Some("a"), 3d), (Some("web"), Some("b"), 4d),
      (Some("mob"), Some("a"), 8d), (Some("mob"), Some("b"), 16d),
      (Some("cli"), None, 32d)))
  }

  test("without: groups on the remaining label set, canonical encoding") {
    val e = groupedEngine()
    val out = e.query("sum without (dc) (req)", 0, 100).output
    assert(out.columns.toSeq == Seq("labels", "value"))
    val rows = out.collect().toSet[Row].map(r => (r.getString(0), r.getDouble(1)))
    assert(rows == Set("service=web" -> 7d, "service=mob" -> 24d,
      "service=cli" -> 32d))
    // without () keeps every label: four full-label-set groups + cli
    assert(e.query("count without () (req)", 0, 100).output.count() == 5L)
    // by () is one global group (value matches the ungrouped aggregate)
    val all = e.query("sum by () (req)", 0, 100)
    assert(!all.grouped &&
      all.output.collect().map(_.getDouble(0)).toSeq == Seq(63d))
  }

  test("grouped aggregate over range fns and instant math; count is per group") {
    val e = groupedEngine()
    // per-service tumbling 15ms sum_over_time windows, then max per group:
    // web: w0 {1,4}=5, w1 {2}=2 → max 5; mob: w0 8, w1 16 → 16; cli: w2 32
    assert(groupRows(e.query(
      "max by (service) (sum_over_time(req[15ms]))", 0, 100).output) ==
      Set(Some("web") -> 5d, Some("mob") -> 16d, Some("cli") -> 32d))
    // instant math wraps compose (abs over the windows)
    assert(groupRows(e.query(
      "max by (service) (abs(sum_over_time(req[15ms])))", 0, 100).output) ==
      Set(Some("web") -> 5d, Some("mob") -> 16d, Some("cli") -> 32d))
    assert(groupRows(e.query("count by (service) (req)", 0, 100).output) ==
      Set(Some("web") -> 3d, Some("mob") -> 2d, Some("cli") -> 1d))
  }

  test("grouped children: literal comparison filters, literal arithmetic maps") {
    val e = groupedEngine()
    // comparison keeps the value (V2S rule); web's max is 4, not > 4,
    // so its group vanishes entirely
    assert(groupRows(e.query("sum by (service) (req > 4)", 0, 100).output) ==
      Set(Some("mob") -> 24d, Some("cli") -> 32d))
    // arithmetic peels outside-in: (v * 2) + 1
    assert(groupRows(e.query("sum by (service) (req * 2 + 1)", 0, 100).output) ==
      Set(Some("web") -> 17d, Some("mob") -> 50d, Some("cli") -> 65d))
    // scalar on the LEFT of a non-commutative op
    assert(groupRows(e.query("sum by (service) (100 - req)", 0, 100).output) ==
      Set(Some("web") -> 293d, Some("mob") -> 176d, Some("cli") -> 68d))
    // composition over a range fn: per-service window sums, filtered
    assert(groupRows(e.query(
      "count by (service) (sum_over_time(req[15ms]) > 5)", 0, 100).output) ==
      Set(Some("mob") -> 2d, Some("cli") -> 1d))
  }

  test("grouped topk/bottomk: per-group rank, both clause positions") {
    val e = groupedEngine()
    def perGroup(q: String): Map[String, Seq[Double]] =
      e.query(q, 0, 100).output.collect()
        .map(r => (r.getString(0), r.getDouble(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val expect = Map("web" -> Seq(2d, 4d), "mob" -> Seq(8d, 16d),
      "cli" -> Seq(32d))
    assert(perGroup("topk(2, req) by (service)") == expect)
    assert(perGroup("topk by (service) (2, req)") == expect) // prefix form
    assert(perGroup("bottomk(1, req) by (service)") ==
      Map("web" -> Seq(1d), "mob" -> Seq(8d), "cli" -> Seq(32d)))
    // k = 0 → empty; k > group size → the whole group (cli above)
    assert(e.query("topk(0, req) by (service)", 0, 100).output.count() == 0L)
    // without-form: the remaining-label-set groups carry the canonical
    // string column; stripping every label leaves ONE "" group = global
    val all = e.query("topk(1, req) without (service, dc)", 0, 100).output
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(all.toSeq == Seq("" -> 32d))
    // result shape is grouped + terminal
    val res = e.query("topk(2, req) by (service)", 0, 100)
    assert(res.grouped && res.df.columns.toSeq == Seq("service", "value"))
    intercept[IllegalArgumentException](
      e.query("topk(2, req) by ()", 0, 100))
    intercept[PromParseException](
      PromParser.parse("topk by (a) (2, req) by (b)"))
  }

  test("grouped binary composition: same-group join, scalar broadcast") {
    val e = groupedEngine()
    // per-group ratio == avg by group (null-safe join on the group keys)
    val ratio = groupRows(e.query(
      "sum by (service) (req) / count by (service) (req)", 0, 100).output)
    assert(ratio.map { case (g, v) => g -> math.round(v * 1e6) / 1e6 } ==
      Set(Some("web") -> 2.333333, Some("mob") -> 12d, Some("cli") -> 32d))
    // share-of-total: grouped / scalar-subquery broadcast
    val share = groupRows(e.query(
      "sum by (service) (req) / sum(req)", 0, 100).output)
    assert(share.map { case (g, v) => g -> math.round(v * 63) } ==
      Set(Some("web") -> 7L, Some("mob") -> 24L, Some("cli") -> 32L))
    // comparison vs scalar FILTERS keeping the value (V2S rule)
    assert(groupRows(e.query("sum by (service) (req) > 10", 0, 100).output) ==
      Set(Some("mob") -> 24d, Some("cli") -> 32d))
    // scalar on the LEFT of a non-commutative op keeps operand order
    assert(groupRows(e.query("100 - sum by (service) (req)", 0, 100).output) ==
      Set(Some("web") -> 93d, Some("mob") -> 76d, Some("cli") -> 68d))
    // instant math over a grouped result is a row-local value map
    assert(groupRows(e.query(
      "abs(sum by (service) (req) - 24)", 0, 100).output) ==
      Set(Some("web") -> 17d, Some("mob") -> 0d, Some("cli") -> 8d))
    // the null group (missing label) joins to itself — null-safe keys
    assert(groupRows(e.query(
      "sum by (dc) (req) / count by (dc) (req)", 0, 100).output) ==
      Set(Some("a") -> 11d / 3, Some("b") -> 10d,
        (None: Option[String]) -> 32d))
  }

  test("nested grouped aggregation: superset inner, by and without outer") {
    val e = groupedEngine()
    // two-level rollup: per-(dc, service) sums re-aggregated per dc
    assert(groupRows(e.query(
      "sum by (dc) (sum by (dc, service) (req))", 0, 100).output) ==
      Set(Some("a") -> 11d, Some("b") -> 20d, (None: Option[String]) -> 32d))
    // count counts INNER GROUPS (the series-count rollup)
    assert(groupRows(e.query(
      "count by (dc) (sum by (dc, service) (req))", 0, 100).output) ==
      Set(Some("a") -> 2d, Some("b") -> 2d, (None: Option[String]) -> 1d))
    // outer `without` = key subtraction over the inner group columns
    assert(groupRows(e.query(
      "sum without (service) (sum by (dc, service) (req))", 0, 100).output) ==
      Set(Some("a") -> 11d, Some("b") -> 20d, (None: Option[String]) -> 32d))
    // a grouped-topk inner re-aggregates its per-group selections
    assert(groupRows(e.query(
      "sum by (service) (topk(1, req) by (service, dc))", 0, 100).output) ==
      Set(Some("web") -> 6d, Some("mob") -> 24d, Some("cli") -> 32d))
    // an UNGROUPED aggregate folds a grouped child to one scalar
    assert(scalarsOf(e.query("sum(sum by (service) (req))", 0, 100)) ==
      Seq(63d))
    assert(scalarsOf(e.query("count(sum by (service) (req))", 0, 100)) ==
      Seq(3d))
    // topk over a grouped child keeps group columns, ranks group rows
    val top = e.query("topk(2, sum by (service) (req))", 0, 100)
    assert(top.grouped && top.df.columns.toSeq == Seq("service", "value"))
    assert(groupRows(top.output) ==
      Set(Some("cli") -> 32d, Some("mob") -> 24d))
    // a grouped-binary child rolls up: per-dc SUM of per-(dc, service)
    // means — (a: (3/2 + 8), b: (4 + 16), null: 32)
    assert(groupRows(e.query(
      "sum by (dc) (sum by (dc, service) (req) / count by (dc, service) (req))",
      0, 100).output) ==
      Set(Some("a") -> 9.5d, Some("b") -> 20d, (None: Option[String]) -> 32d))
    // an inner `without` re-opens through the escaped canonical:
    // outer `by` extracts the label (count of inner full-label groups
    // per dc: a has web+mob, b has web+mob, cli's group lacks dc)
    assert(groupRows(e.query(
      "count by (dc) (sum without () (req))", 0, 100).output) ==
      Set(Some("a") -> 2d, Some("b") -> 2d, (None: Option[String]) -> 1d))
    // outer `by` ≡ the direct grouped sum when inner keeps all labels
    assert(groupRows(e.query(
      "sum by (service) (sum without () (req))", 0, 100).output) ==
      Set(Some("web") -> 7d, Some("mob") -> 24d, Some("cli") -> 32d))
    // outer `without` subtracts keys from the canonical map
    assert(e.query("sum without (dc) (sum without () (req))", 0, 100)
      .output.collect().map(r => (r.getString(0), r.getDouble(1))).toSet ==
      Set("service=web" -> 7d, "service=mob" -> 24d, "service=cli" -> 32d))
    // adversarial label VALUES round-trip through extraction unescaped
    val adv = new TsdbEngine(spark, longDf(Seq(
      ("m", Map("a" -> "1,b=2"), 10L, 1d),
      ("m", Map("a" -> "1", "b" -> "2"), 10L, 2d))),
      new StreamCatalog(Seq(StreamDef("m", Map.empty, VType.F64))))
    assert(groupRows(adv.query(
      "sum by (a) (sum without () (m))", 0, 100).output) ==
      Set(Some("1,b=2") -> 1d, Some("1") -> 2d))
    // rejections: outer labels must be a SUBSET of the inner grouping
    val nonSubset = intercept[IllegalArgumentException](
      e.query("sum by (zone) (sum by (dc, service) (req))", 0, 100))
    assert(nonSubset.getMessage.contains("subset of the inner grouping"))
  }

  test("vector matching: on/ignoring with group_left/group_right") {
    val e = groupedEngine()
    def rows3(q: String): Set[(Option[String], Option[String], Double)] =
      e.query(q, 0, 100).output.collect().toSet[Row].map(r =>
        (Option(r.getString(0)), Option(r.getString(1)),
          math.round(r.getDouble(2) * 1e6) / 1e6))
    // share-of-parent: each (service, dc) share of its service total
    val share = Set(
      (Some("web"), Some("a"), 3d / 7), (Some("web"), Some("b"), 4d / 7),
      (Some("mob"), Some("a"), 8d / 24), (Some("mob"), Some("b"), 16d / 24),
      (Some("cli"), (None: Option[String]), 1d))
      .map { case (a, b, v) => (a, b, math.round(v * 1e6) / 1e6) }
    assert(rows3("sum by (service, dc) (req) / on (service) group_left " +
      "sum by (service) (req)") == share)
    // ignoring (dc) derives the same key from the 'one' side
    assert(rows3("sum by (service, dc) (req) / ignoring (dc) group_left " +
      "sum by (service) (req)") == share)
    // group_right mirrors (one side keeps LEFT operand position):
    // value = service_total / (service, dc) sum, many-side columns kept
    assert(rows3("sum by (service) (req) / on (service) group_right " +
      "sum by (service, dc) (req)") == Set(
      (Some("web"), Some("a"), 7d / 3), (Some("web"), Some("b"), 7d / 4),
      (Some("mob"), Some("a"), 3d), (Some("mob"), Some("b"), 1.5d),
      (Some("cli"), (None: Option[String]), 1d))
      .map { case (a, b, v) => (a, b, math.round(v * 1e6) / 1e6) })
    // one-to-one on exact grouping (trivial self-ratio)
    assert(groupRows(e.query(
      "sum by (dc) (req) / on (dc) sum by (dc) (req)", 0, 100).output)
      .map(_._2) == Set(1d))
    // rejections: one-to-one over finer grouping needs group_left
    val needsLeft = intercept[IllegalArgumentException](e.query(
      "sum by (service, dc) (req) / on (service) sum by (service) (req)",
      0, 100))
    assert(needsLeft.getMessage.contains("group_left"))
    // the 'one' side must be grouped exactly by the key
    val notExact = intercept[IllegalArgumentException](e.query(
      "sum by (service, dc) (req) / on (service) group_left " +
        "sum by (service, dc) (req)", 0, 100))
    assert(notExact.getMessage.contains("exactly by the match labels"))
    // match labels must exist on both sides; comparisons reject;
    // ungrouped operands reject; empty key rejects
    intercept[IllegalArgumentException](e.query(
      "sum by (service) (req) / on (zone) group_left sum by (zone) (req)",
      0, 100))
    intercept[IllegalArgumentException](e.query(
      "sum by (dc) (req) > on (dc) sum by (dc) (req)", 0, 100))
    intercept[IllegalArgumentException](e.query(
      "req / on (dc) sum by (dc) (req)", 0, 100))
    intercept[IllegalArgumentException](e.query(
      "sum by (dc) (req) / on () sum by (dc) (req)", 0, 100))
    // parse-level: a `(` after group_left reads as the CARRY list
    // (round 11 — the metadata-join idiom), so this parses with
    // carry = [y]
    assert(PromParser.parse("a / on (x) group_left (y) b") ==
      Expr.BinaryOp(Expr.Div, Expr.Selector("a", Nil, None, 0),
        Expr.Selector("b", Nil, None, 0),
        Some(Expr.VectorMatch(on = true, List("x"), Expr.ManyToOne,
          List("y")))))
    // multi-row scalar operand (topk k>1) rejects; k=1 is fine
    intercept[IllegalArgumentException](e.query(
      "sum by (service) (req) / topk(2, req)", 0, 100))
    assert(groupRows(e.query(
      "sum by (service) (req) / topk(1, req)", 0, 100).output) ==
      Set(Some("web") -> 7d / 32, Some("mob") -> 24d / 32,
        Some("cli") -> 1d))
  }

  test("without canonical string escapes structural characters") {
    // two label sets that would MERGE if the canonical k=v,k=v string
    // were unescaped: {a: "1,b=2"} vs {a: "1", b: "2"}
    val rows = Seq(
      ("m", Map("a" -> "1,b=2"), 10L, 1d),
      ("m", Map("a" -> "1", "b" -> "2"), 10L, 2d))
    val e = new TsdbEngine(spark, longDf(rows),
      new StreamCatalog(Seq(StreamDef("m", Map.empty, VType.F64))))
    val out = e.query("sum without () (m)", 0, 100).output
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(out == Set("a=1%2Cb%3D2" -> 1d, "a=1,b=2" -> 2d))
    // the escaping matches LabelCodec byte-for-byte
    assert(LabelCodec.escape("1,b=2") == "1%2Cb%3D2")
    // clean values stay unescaped (r10 group strings unchanged)
    assert(groupedEngine().query("sum without (dc) (req)", 0, 100)
      .output.collect().map(_.getString(0)).toSet ==
      Set("service=web", "service=mob", "service=cli"))
  }

  test("prometheus aggregate family: stddev/stdvar/group/quantile/count_values") {
    val e = groupedEngine() // values {1,2,4} web, {8,16} mob, {32} cli
    // population moments over all six samples (mean 10.5, var 117.25)
    assert(math.abs(sca(e, "stdvar(req)").head - 117.25) < 1e-9)
    assert(math.abs(sca(e, "stddev(req)").head - math.sqrt(117.25)) < 1e-9)
    // group(): 1 if any sample — ungrouped, per group, and empty
    assert(sca(e, "group(req)") == Seq(1d))
    assert(groupRows(e.query("group(req) by (service)", 0, 100).output) ==
      Set(Some("web") -> 1d, Some("mob") -> 1d, Some("cli") -> 1d))
    assert(sca(e, "group(req > 1000)") == Seq.empty)
    // quantile: linear interpolation at rank φ(n-1), grouped too
    assert(sca(e, "quantile(0.5, req)") == Seq(6d)) // (4+8)/2
    assert(groupRows(e.query("quantile(0.5, req) by (service)", 0, 100).output) ==
      Set(Some("web") -> 2d, Some("mob") -> 12d, Some("cli") -> 32d))
    // prefix-grouping position parses like the other aggregates
    assert(groupRows(e.query("quantile by (service) (0.5, req)", 0, 100).output) ==
      Set(Some("web") -> 2d, Some("mob") -> 12d, Some("cli") -> 32d))
    // count_values: one row per distinct value string; composes with
    // row-local transforms (req % 4 folds 4, 8, 16, 32 into 0)
    val cv = e.query("count_values(\"v\", req % 4)", 0, 100)
    assert(cv.grouped && cv.df.columns.toSeq == Seq("v", "value"))
    assert(cv.output.collect().map(r => (r.getString(0), r.getDouble(1))).toSet ==
      Set("0.0" -> 4d, "1.0" -> 1d, "2.0" -> 1d))
    // grouped count_values: the value string joins the group keys
    val cvg = e.query("count_values(\"v\", req) by (dc)", 0, 100)
    assert(cvg.df.columns.toSeq == Seq("dc", "v", "value"))
    assert(cvg.output.count() == 6L) // all values distinct per dc
    // nested: outer sum folds per-(service) over the count_values rows
    assert(groupRows(e.query(
      "sum by (service) (count_values(\"v\", req) by (service))",
      0, 100).output) ==
      Set(Some("web") -> 3d, Some("mob") -> 2d, Some("cli") -> 1d))
    // rejections: φ bounds, non-literal arguments, label collisions
    intercept[IllegalArgumentException](e.query("quantile(1.5, req)", 0, 100))
    intercept[PromParseException](
      PromParser.parse("quantile(req, 0.5)"))
    intercept[PromParseException](
      PromParser.parse("count_values(v, req)"))
    intercept[IllegalArgumentException](
      e.query("count_values(\"value\", req)", 0, 100))
  }

  test("set operators and/or/unless: vectors on time, grouped on keys") {
    // plain vectors match on the TIMESTAMP (this engine's V2V rule)
    val rows = Seq(
      ("a", Map.empty[String, String], 10L, 1d),
      ("a", Map.empty[String, String], 20L, 2d),
      ("a", Map.empty[String, String], 30L, 3d),
      ("b", Map.empty[String, String], 20L, 9d),
      ("b", Map.empty[String, String], 40L, 4d))
    val ev = new TsdbEngine(spark, longDf(rows), new StreamCatalog(Seq(
      StreamDef("a", Map.empty, VType.F64),
      StreamDef("b", Map.empty, VType.F64))))
    assert(vectorOf(ev.query("a and b", 0, 100)) == Seq(20L -> 2d))
    assert(vectorOf(ev.query("a unless b", 0, 100)) ==
      Seq(10L -> 1d, 30L -> 3d))
    assert(vectorOf(ev.query("a or b", 0, 100)) ==
      Seq(10L -> 1d, 20L -> 2d, 30L -> 3d, 40L -> 4d))
    // precedence: or binds loosest, and/unless above it, comparison above
    assert(vectorOf(ev.query("a > 2 or b and b", 0, 100)) ==
      Seq(20L -> 9d, 30L -> 3d, 40L -> 4d))
    // grouped × grouped on the shared group columns; threshold filters
    val e = groupedEngine()
    assert(groupRows(e.query(
      "sum by (service) (req) unless (sum by (service) (req) > 10)",
      0, 100).output) == Set(Some("web") -> 7d))
    assert(groupRows(e.query(
      "(sum by (service) (req) > 10) or sum by (service) (req)",
      0, 100).output) ==
      Set(Some("web") -> 7d, Some("mob") -> 24d, Some("cli") -> 32d))
    // explicit on (subset key): finer rows gated by a coarser condition
    val fine = e.query(
      "sum by (service, dc) (req) and on (service) " +
        "(sum by (service) (req) > 10)", 0, 100)
    assert(fine.df.columns.toSeq == Seq("service", "dc", "value"))
    assert(fine.output.collect().toSet[Row].map(r =>
      (Option(r.getString(0)), Option(r.getString(1)), r.getDouble(2))) ==
      Set((Some("mob"), Some("a"), 8d), (Some("mob"), Some("b"), 16d),
        (Some("cli"), (None: Option[String]), 32d)))
    // the null group (missing label) matches itself — null-safe keys
    assert(groupRows(e.query(
      "sum by (dc) (req) and sum by (dc) (req)", 0, 100).output)
      .map(_._1) == Set(Some("a"), Some("b"), (None: Option[String])))
    // rejections: scalars, mixed arities, group_left, or over
    // different columns
    intercept[IllegalArgumentException](e.query("sum(req) and req", 0, 100))
    intercept[IllegalArgumentException](
      e.query("sum by (service) (req) and req", 0, 100))
    intercept[IllegalArgumentException](e.query(
      "sum by (service, dc) (req) and on (service) group_left " +
        "sum by (service) (req)", 0, 100))
    intercept[IllegalArgumentException](e.query(
      "sum by (service, dc) (req) or on (service) sum by (service) (req)",
      0, 100))
    // SLIDING set ops (round 12): both sides are step-keyed derived
    // series on the same grid — `and` masks, `unless` complements,
    // `or` prefers left. a: sums over (t-20, t] at steps 20/40 are
    // 3/3; b: 9/4; the b > 5 filter keeps only step 20
    assert(vectorOf(ev.queryRange(
      "sum_over_time(a[20ms]) and (sum_over_time(b[20ms]) > 5)",
      20, 40, 20)) == Seq(20L -> 3d))
    assert(vectorOf(ev.queryRange(
      "sum_over_time(a[20ms]) unless (sum_over_time(b[20ms]) > 5)",
      20, 40, 20)) == Seq(40L -> 3d))
    // or: left's steps win; right fills only uncontested steps — drop
    // a's step 40 via a filter so b's value shows through there
    assert(vectorOf(ev.queryRange(
      "(sum_over_time(a[20ms]) > 100) or sum_over_time(b[20ms])",
      20, 40, 20)) == Seq(20L -> 9d, 40L -> 4d))
    // SLIDING subquery (query_range of fn(expr[range:step])): inner on
    // its own 10ms grid from start-range, outer max slides (T-20, T]
    // at steps 20/40 — T=20 sees inner sums {1, 3}, T=40 sees {5, 3}
    assert(vectorOf(ev.queryRange(
      "max_over_time(sum_over_time(a[20ms])[20ms:10ms])", 20, 40, 20)) ==
      Seq(20L -> 3d, 40L -> 5d))
    // subquery offset under sliding: inner clock shifts back 10ms and
    // reports forward — T=20 now sees only the shifted et=20 value 1
    assert(vectorOf(ev.queryRange(
      "max_over_time(sum_over_time(a[20ms])[20ms:10ms] offset 10ms)",
      20, 40, 20)) == Seq(20L -> 1d, 40L -> 5d))
    // NESTED subqueries, hand-computed: inner-of-inner 10ms-grid sums
    // (10→1, 20→3, 30→5, 40→3), middle sliding max at 20ms steps over
    // (T-20, T] (20→3, 40→5), outer tumbling 40ms avg anchored at 20:
    // [20,60) holds both → (3+5)/2
    assert(vectorOf(ev.query(
      "avg_over_time(max_over_time(" +
        "sum_over_time(a[20ms])[20ms:10ms])[40ms:20ms])",
      20, 60)) == Seq(20L -> 4d))
  }

  test("grouped sliding composition: binary join, null-safe keys, or-fill, subquery inner") {
    val e = groupedEngine()
    def rows(df: DataFrame): Set[(Option[String], Long, Double)] =
      df.collect().toSet[Row].map(r =>
        (Option(r.getString(0)), r.getLong(1), r.getDouble(2)))
    def byDc(inner: String) =
      e.queryRange(s"sum by (dc) ($inner)", 20, 40, 20).df
    // windowed mean per dc: sum/count joined on (dc, step) — the NULL
    // group (cli's missing dc) must match itself through the join
    val mean = byDc(
      "sum_over_time(req[20ms]) / count_over_time(req[20ms])")
    // windows are (T-20, T]: ALL of dc=a's and dc=b's samples (t=10,
    // t=20) land in the step-20 window; cli's t=30 in step 40's
    assert(rows(mean) == Set(
      (Some("a"), 20L, 11d / 3), (Some("b"), 20L, 10d),
      (None, 40L, 32d)), rows(mean))
    // or: empty left (threshold filters everything) → right fills
    val orFill = byDc(
      "(sum_over_time(req[20ms]) > 100) or count_over_time(req[20ms])")
    assert(rows(orFill) == Set(
      (Some("a"), 20L, 3d), (Some("b"), 20L, 2d), (None, 40L, 1d)),
      rows(orFill))
    // and/unless on the (group, step) key
    val masked = byDc(
      "sum_over_time(req[20ms]) unless (count_over_time(req[20ms]) > 2)")
    assert(rows(masked) == Set(
      (Some("b"), 20L, 20d), (None, 40L, 32d)), rows(masked))
    // SLIDING subquery per group: each dc's own inner series under the outer
    // sliding max (null group included)
    val subSlide = byDc(
      "max_over_time(sum_over_time(req[20ms])[20ms:20ms])")
    assert(rows(subSlide) == Set(
      (Some("a"), 20L, 11d), (Some("b"), 20L, 20d), (None, 40L, 32d)),
      rows(subSlide))
    // grouped SUBQUERY over a composed inner: the outer max tumbles
    // the per-(dc, step) ratio series — one 40ms window from start 20
    val sub = e.query(
      "max_over_time(sum by (dc) (sum_over_time(req[20ms]) / " +
        "count_over_time(req[20ms]))[40ms:20ms])", 20, 40).df
    assert(rows(sub) == Set(
      (Some("a"), 20L, 11d / 3), (Some("b"), 20L, 10d), (None, 20L, 32d)),
      rows(sub))
    // V2V comparison and arbitrary shapes still reject
    intercept[IllegalArgumentException](
      byDc("sum_over_time(req[20ms]) > count_over_time(req[20ms])"))
    intercept[IllegalArgumentException](
      byDc("sum_over_time(req[20ms]) + req"))
    // MATCHED sliding composition: share-of-dc per (service, step),
    // `/ on (dc) group_left` — the one side keyed exactly by dc; the
    // null dc group (cli) matches itself through the null-safe key
    val matched = e.queryRange(PromParser.parse(
      "sum by (dc, service) (sum_over_time(req[20ms])) / on (dc) " +
        "group_left sum by (dc) (sum_over_time(req[20ms]))"),
      20, 40, 20).df
    assert(matched.columns.toSeq == Seq("dc", "service", "timestamp", "value"))
    val mrows = matched.collect().toSet[Row].map(r =>
      (Option(r.getString(0)), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(mrows == Set(
      (Some("a"), "web", 20L, 3d / 11), (Some("a"), "mob", 20L, 8d / 11),
      (Some("b"), "web", 20L, 0.2), (Some("b"), "mob", 20L, 0.8),
      (None, "cli", 40L, 1d)), mrows)
    // `without` groupings ride the canonical column (round 13): the
    // many side without(service) leaves {dc} groups — dividing by the
    // by(dc) one side is the identity ratio at every step, and the
    // output keeps the canonical `labels` group identity
    val mw = e.queryRange(PromParser.parse(
      "sum without (service) (sum_over_time(req[20ms])) / on (dc) " +
        "group_left sum by (dc) (sum_over_time(req[20ms]))"),
      20, 40, 20).df
    assert(mw.columns.toSeq == Seq("labels", "timestamp", "value"))
    val mwRows = mw.collect().toSet[Row].map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(mwRows.map(_._3) == Set(1d), mwRows)
    assert(mwRows.map(_._1) == Set("dc=a", "dc=b", ""), mwRows)
    // LABEL CARRY under the step key (`group_left(tier)`): the one
    // side keyed dc ∪ {tier}, tier copied onto the many side's rows
    val e3 = {
      val rows = Seq(
        ("req", Map("svc" -> "web", "dc" -> "a", "tier" -> "gold"), 10L, 1d),
        ("req", Map("svc" -> "mob", "dc" -> "a", "tier" -> "gold"), 20L, 2d),
        ("req", Map("svc" -> "web", "dc" -> "b", "tier" -> "silver"), 10L, 4d))
      new TsdbEngine(spark, longDf(rows),
        new StreamCatalog(Seq(StreamDef("req", Map.empty, VType.F64))))
    }
    val carried = e3.queryRange(PromParser.parse(
      "sum by (dc, svc) (sum_over_time(req[20ms])) / on (dc) " +
        "group_left (tier) sum by (dc, tier) (sum_over_time(req[20ms]))"),
      20, 20, 20).df
    assert(carried.columns.toSeq ==
      Seq("dc", "svc", "tier", "timestamp", "value"))
    val crows = carried.collect().toSet[Row].map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getDouble(4)))
    assert(crows == Set(
      ("a", "web", "gold", 20L, 1d / 3), ("a", "mob", "gold", 20L, 2d / 3),
      ("b", "web", "silver", 20L, 1d)), crows)
    // per-(key, step) carry-tuple uniqueness still enforces: two tiers
    // under one dc at the same step → executor-side raise_error
    val e4 = {
      val rows = Seq(
        ("req", Map("svc" -> "web", "dc" -> "a", "tier" -> "gold"), 10L, 1d),
        ("req", Map("svc" -> "mob", "dc" -> "a", "tier" -> "lead"), 20L, 2d))
      new TsdbEngine(spark, longDf(rows),
        new StreamCatalog(Seq(StreamDef("req", Map.empty, VType.F64))))
    }
    val dup = intercept[Exception](e4.queryRange(PromParser.parse(
      "sum by (dc, svc) (sum_over_time(req[20ms])) / on (dc) " +
        "group_left (tier) sum by (dc, tier) (sum_over_time(req[20ms]))"),
      20, 20, 20).df.collect())
    assert(dup.getMessage.contains("not unique"), dup.getMessage)
    // set operators take vector operands, not scalars — in the grouped
    // AND ungrouped sliding evaluators (the NumberLit arithmetic arms
    // must not swallow them into "not arithmetic" internal errors)
    val se1 = intercept[IllegalArgumentException](
      byDc("sum_over_time(req[20ms]) unless 5"))
    assert(se1.getMessage.contains("not scalars"), se1.getMessage)
    val se2 = intercept[IllegalArgumentException](e.queryRange(
      "count_over_time(req[20ms]) and 2", 20, 40, 20))
    assert(se2.getMessage.contains("not scalars"), se2.getMessage)
  }

  test("grouping rejections: double clause, composition, bad children") {
    val e = groupedEngine()
    intercept[PromParseException](
      PromParser.parse("sum by (a) (req) by (b)"))
    // binary composition requires IDENTICAL grouping (without an
    // explicit on/ignoring), no comparisons, no plain-vector operand
    intercept[IllegalArgumentException](
      e.query("sum by (service) (req) / sum by (dc) (req)", 0, 100))
    intercept[IllegalArgumentException](
      e.query("sum by (service) (req) > count by (service) (req)", 0, 100))
    intercept[IllegalArgumentException](
      e.query("sum by (service) (req) + req", 0, 100))
    // grouped absent_over_time has no meaning; scalar child neither
    intercept[IllegalArgumentException](
      e.query("sum by (service) (absent_over_time(req[15ms]))", 0, 100))
    intercept[IllegalArgumentException](
      e.query("sum by (service) (1 + 2)", 0, 100))
    // a grouping label must not collide with the result columns
    intercept[IllegalArgumentException](
      e.query("sum by (value) (req)", 0, 100))
  }

  // ---- histogram_quantile / label fns / sort / timestamp (round 11) ----

  private def bucketEngine(): TsdbEngine = {
    // cumulative bucket counts as single samples at t=10: job=a the
    // canonical 4-bucket histogram, job=b only +Inf (< 2 buckets →
    // dropped), job=c a first bucket with le ≤ 0 (answers its own le)
    val rows = Seq(
      ("lat", Map("job" -> "a", "le" -> "0.1"), 10L, 1d),
      ("lat", Map("job" -> "a", "le" -> "0.5"), 10L, 3d),
      ("lat", Map("job" -> "a", "le" -> "1"), 10L, 4d),
      ("lat", Map("job" -> "a", "le" -> "+Inf"), 10L, 5d),
      ("lat", Map("job" -> "b", "le" -> "+Inf"), 10L, 5d),
      ("lat", Map("job" -> "c", "le" -> "-1"), 10L, 2d),
      ("lat", Map("job" -> "c", "le" -> "+Inf"), 10L, 4d))
    new TsdbEngine(spark, longDf(rows),
      new StreamCatalog(Seq(StreamDef("lat", Map.empty, VType.F64))))
  }

  test("histogram_quantile: interpolation, +Inf candidate, le<=0 first bucket") {
    val e = bucketEngine()
    val q = "histogram_quantile(%s, sum by (job, le) (lat))"
    // job=a: rank 2.5 lands in (0.1, 0.5]: 0.1 + 0.4·(1.5/2) = 0.4;
    // job=b dropped (single bucket); job=c: rank 1 ≤ first count 2 and
    // le = -1 ≤ 0 → the bucket's own bound
    val p50 = e.query(q.format("0.5"), 0, 100)
    assert(p50.grouped && p50.df.columns.toSeq == Seq("job", "value"))
    val rows = p50.output.collect().toSet[Row].map(r =>
      (r.getString(0), math.round(r.getDouble(1) * 1e9) / 1e9))
    assert(rows == Set("a" -> 0.4, "c" -> -1.0))
    // φ = 1: the +Inf bucket answers with the highest finite bound
    val p100 = groupRows(e.query(q.format("1"), 0, 100).output)
    assert(p100 == Set(Some("a") -> 1.0, Some("c") -> -1.0))
    // rejections: φ out of [0,1]; ungrouped child; grouped child
    // without an `le` column
    intercept[IllegalArgumentException](e.query(q.format("1.5"), 0, 100))
    intercept[IllegalArgumentException](
      e.query("histogram_quantile(0.5, lat)", 0, 100))
    intercept[IllegalArgumentException](
      e.query("histogram_quantile(0.5, sum by (job) (lat))", 0, 100))
  }

  test("label_replace: capture expansion, no-match keep, empty removes, rollup") {
    val e = groupedEngine()
    // new dst from a capture: web → "w…" matches (w)(.*) → "w"
    val out = e.query("label_replace(sum by (service) (req), " +
      "\"tier\", \"$1\", \"service\", \"(w).*\")", 0, 100).output
    assert(out.columns.toSeq == Seq("service", "tier", "value"))
    val rows = out.collect().toSet[Row].map(r =>
      (r.getString(0), Option(r.getString(1)), r.getDouble(2)))
    assert(rows == Set(("web", Some("w"), 7d), ("mob", None, 24d),
      ("cli", None, 32d)))
    // overwrite in place with an EMPTY expansion → label removed (null)
    val gone = e.query("label_replace(sum by (service) (req), " +
      "\"service\", \"\", \"service\", \"mob\")", 0, 100).output
    assert(groupRows(gone) ==
      Set(Some("web") -> 7d, (None: Option[String]) -> 24d,
        Some("cli") -> 32d))
    // relabel-then-rollup: nested aggregation over the derived label
    val rolled = e.query("sum by (tier) (label_replace(" +
      "sum by (service) (req), \"tier\", \"$1\", \"service\", \"(w|m).*\"))",
      0, 100).output
    assert(groupRows(rolled) == Set(Some("w") -> 7d, Some("m") -> 24d,
      (None: Option[String]) -> 32d))
    // rejections: unknown src column; reserved dst; malformed regex
    intercept[IllegalArgumentException](e.query(
      "label_replace(sum by (service) (req), \"t\", \"$1\", \"nope\", \"(.*)\")",
      0, 100))
    intercept[IllegalArgumentException](e.query(
      "label_replace(sum by (service) (req), \"value\", \"$1\", \"service\", \"(.*)\")",
      0, 100))
    intercept[java.util.regex.PatternSyntaxException](e.query(
      "label_replace(sum by (service) (req), \"t\", \"$1\", \"service\", \"(\")",
      0, 100))
    // a plain vector has no addressable labels — loud, not silent
    intercept[IllegalArgumentException](e.query(
      "label_replace(req, \"t\", \"$1\", \"service\", \"(.*)\")", 0, 100))
  }

  test("label_join: separator join over group columns, missing src loud") {
    val e = groupedEngine()
    val out = e.query("label_join(sum by (service, dc) (req), " +
      "\"sd\", \"-\", \"service\", \"dc\")", 0, 100).output
    assert(out.columns.toSeq == Seq("service", "dc", "sd", "value"))
    val sd = out.collect().toSet[Row].map(r => r.getString(2))
    // absent dc contributes "" (Prometheus' rule) — "cli-"
    assert(sd == Set("web-a", "web-b", "mob-a", "mob-b", "cli-"))
    intercept[IllegalArgumentException](e.query(
      "label_join(sum by (service) (req), \"x\", \"-\", \"service\", \"dc\")",
      0, 100))
  }

  test("sort/sort_desc order the output by value; timestamp() maps to seconds") {
    val e = helperEngine()
    val desc = e.query("sort_desc(floats)", 0, 100)
    assert(desc.output.collect().map(_.getDouble(1)).toSeq ==
      Seq(4.1, 3.2, 2.3, 1.4))
    assert(e.query("sort(floats)", 0, 100).output.collect()
      .map(_.getDouble(1)).toSeq == Seq(1.4, 2.3, 3.2, 4.1))
    intercept[IllegalArgumentException](e.query("sort(sum(ints))", 0, 100))
    // timestamp(): value = epoch seconds of each sample, labels ride
    assert(vec(e, "timestamp(floats)") ==
      Seq((10L, 0.01), (20L, 0.02), (30L, 0.03), (40L, 0.04)))
    intercept[IllegalArgumentException](e.query("timestamp(sum(ints))", 0, 100))
  }

  test("predict_linear and mad_over_time over tumbling windows") {
    val e = helperEngine()
    // ints: v = 0.2/ms line through (10,2)..(40,8) → slope 200/s,
    // intercept 0 at the window anchor (t=0); +1s horizon → 200
    val p1 = vec(e, "predict_linear(ints[100ms], 1)")
    assert(p1.map(_._1) == Seq(0L) && math.abs(p1.head._2 - 200d) < 1e-9)
    // horizon 0 = the regression value at the anchor itself
    val p0 = vec(e, "predict_linear(ints[100ms], 0)")
    assert(p0.map(_._1) == Seq(0L) && math.abs(p0.head._2) < 1e-9)
    // mad: median 5, |dev| {3,1,1,3} → median 2
    assert(vec(e, "mad_over_time(ints[100ms])") == Seq((0L, 2d)))
    // parse rejections: missing/non-numeric horizon
    intercept[PromParseException](e.query("predict_linear(ints[100ms])", 0, 100))
    intercept[PromParseException](
      e.query("predict_linear(ints[100ms], x)", 0, 100))
  }

  test("group_left(carry): metadata join, runtime uniqueness enforcement") {
    val rows = Seq(
      ("m", Map("svc" -> "a", "tier" -> "gold"), 10L, 1d),
      ("m", Map("svc" -> "a", "tier" -> "gold"), 20L, 2d),
      ("m", Map("svc" -> "b", "tier" -> "free"), 10L, 4d))
    val e = new TsdbEngine(spark, longDf(rows),
      new StreamCatalog(Seq(StreamDef("m", Map.empty, VType.F64))))
    // the metadata-join idiom: group() gives the info-metric value 1,
    // tier rides over from the one side onto the many side's rows
    val out = e.query("sum by (svc) (m) * on (svc) group_left(tier) " +
      "group by (svc, tier) (m)", 0, 100)
    assert(out.grouped &&
      out.df.columns.toSeq == Seq("svc", "tier", "value"))
    val got = out.output.collect().toSet[Row].map(r =>
      (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(got == Set(("a", "gold", 3d), ("b", "free", 4d)))
    // acceptance: one side must be grouped by exactly key ∪ carry;
    // carried labels must be new to the many side
    intercept[IllegalArgumentException](e.query(
      "sum by (svc) (m) * on (svc) group_left(tier) sum by (svc) (m)",
      0, 100))
    intercept[IllegalArgumentException](e.query(
      "sum by (svc, tier) (m) * on (svc) group_left(tier) " +
        "group by (svc, tier) (m)", 0, 100))
    // runtime: two carry tuples sharing a key must FAIL LOUDLY on the
    // executors (raise_error), never silently duplicate many-side rows
    val dup = rows :+ ("m", Map("svc" -> "a", "tier" -> "silver"), 30L, 8d)
    val e2 = new TsdbEngine(spark, longDf(dup),
      new StreamCatalog(Seq(StreamDef("m", Map.empty, VType.F64))))
    val bad = e2.query("sum by (svc) (m) * on (svc) group_left(tier) " +
      "group by (svc, tier) (m)", 0, 100)
    val thrown = intercept[RuntimeException](bad.output.collect())
    assert(thrown.getMessage.contains("not unique per match key"),
      thrown.getMessage)
  }

  test("plain offset is a time shift: scan moves back, timestamps move forward") {
    val e = helperEngine()
    // ints at t = 10,20,30,40: `offset 10ms` over [20, 50] reads the
    // [10, 40] scan and reports each sample 10ms later
    assert(vec(e, "ints offset 10ms", (20L, 50L)) ==
      Seq((20L, 2d), (30L, 4d), (40L, 6d), (50L, 8d)))
    // negative offset shifts toward the past-window's future samples
    assert(vec(e, "ints offset -10ms", (0L, 20L)) ==
      Seq((0L, 2d), (10L, 4d), (20L, 6d)))
    // the shift feeds window math on REPORTED time: rate over the
    // shifted series equals rate over the unshifted one
    assert(vec(e, "rate(ints[100ms] offset 10ms)", (0L, 110L)).map(_._2) ==
      vec(e, "rate(ints[100ms])").map(_._2))
    // binary alignment on the shifted clock: shifted ints meet uints
    // 10ms later, V2V aligning on the union of reported timestamps
    // (uints edge-carries its last sample to t=50)
    val shifted = e.query("ints offset 10ms + uints", 20, 50)
    assert(vectorOf(shifted) ==
      Seq((20L, 4d), (30L, 7d), (40L, 10d), (50L, 12d)))
    // with `@` the reference's start-rewrite rule stands (ts16 pins it)
  }

  test("absent(): one row when empty, none when present, loud on non-vectors") {
    val e = helperEngine()
    assert(sca(e, "absent(nosuch_metric)") == Seq(1.0))
    assert(sca(e, "absent(ints)") == Seq.empty)
    // empty because the RANGE is empty, not the stream
    assert(scalarsOf(e.query("absent(ints)", 900, 999)) == Seq(1.0))
    intercept[IllegalArgumentException](e.query("absent(sum(ints))", 0, 100))
    intercept[IllegalArgumentException](
      e.query("absent(sum by (service) (ints))", 0, 100))
  }

  test("double_exponential_smoothing: Holt recurrence golden, factor bounds") {
    val e = helperEngine()
    // ints v = 2,4,6,8: hand-rolled with sf=0.5, tf=0.5:
    //   s=2, b=2; v=4: s'=0.5·4+0.5·4=4,   b'=0.5·2+0.5·2=2
    //            v=6: s'=0.5·6+0.5·6=6,   b'=0.5·2+0.5·2=2
    //            v=8: s'=0.5·8+0.5·8=8 — a perfect line tracks exactly
    assert(vec(e, "double_exponential_smoothing(ints[100ms], 0.5, 0.5)") ==
      Seq((0L, 8d)))
    // holt_winters is the pre-3.x alias of the same kind
    assert(vec(e, "holt_winters(ints[100ms], 0.5, 0.5)") == Seq((0L, 8d)))
    // factors must be strictly inside (0, 1)
    intercept[IllegalArgumentException](
      e.query("double_exponential_smoothing(ints[100ms], 1, 0.5)", 0, 100))
    intercept[IllegalArgumentException](
      e.query("double_exponential_smoothing(ints[100ms], 0.5, 0)", 0, 100))
    intercept[PromParseException](
      e.query("double_exponential_smoothing(ints[100ms], 0.5)", 0, 100))
  }

  test("trig family, deg/rad, pi(), and time components") {
    val e = helperEngine()
    // sin over floats, radians like Go
    val sins = vec(e, "sin(floats)").map(_._2)
    Seq(4.1, 3.2, 2.3, 1.4).map(math.sin).zip(sins).foreach { case (want, got) =>
      assert(math.abs(want - got) < 1e-12)
    }
    assert(vec(e, "deg(floats)").map(_._2).head === math.toDegrees(4.1))
    assert(vec(e, "rad(floats)").map(_._2).head === math.toRadians(4.1))
    // pi() is a literal
    assert(sca(e, "pi()") == Seq(math.Pi))
    assert(sca(e, "sum(ints) * pi()") == Seq(20.0 * math.Pi))
    // time components on epoch-second VALUES: the helper samples sit at
    // 10..40 ms, so timestamp() gives 0.01..0.04 s → truncates to epoch
    // 0 = 1970-01-01T00:00:00Z, a Thursday
    assert(vec(e, "hour(timestamp(ints))").map(_._2) == Seq(0d, 0d, 0d, 0d))
    assert(vec(e, "minute(timestamp(ints))").map(_._2).head == 0d)
    assert(vec(e, "day_of_week(timestamp(ints))").map(_._2).head == 4d)
    assert(vec(e, "day_of_month(timestamp(ints))").map(_._2).head == 1d)
    assert(vec(e, "day_of_year(timestamp(ints))").map(_._2).head == 1d)
    assert(vec(e, "days_in_month(timestamp(ints))").map(_._2).head == 31d)
    assert(vec(e, "month(timestamp(ints))").map(_._2).head == 1d)
    assert(vec(e, "year(timestamp(ints))").map(_._2).head == 1970d)
    // a known later instant: 2024-01-06 13:30:05 UTC = 1704547805
    val e2 = {
      val rows = Seq(("m", Map.empty[String, String], 5L, 1704547805.0))
      new TsdbEngine(spark, longDf(rows),
        new StreamCatalog(Seq(StreamDef("m", Map.empty, VType.F64))))
    }
    assert(vec(e2, "hour(m)", (0L, 10L)).map(_._2) == Seq(13d))
    assert(vec(e2, "minute(m)", (0L, 10L)).map(_._2) == Seq(30d))
    assert(vec(e2, "day_of_week(m)", (0L, 10L)).map(_._2) == Seq(6d)) // Saturday
    assert(vec(e2, "month(m)", (0L, 10L)).map(_._2) == Seq(1d))
    assert(vec(e2, "year(m)", (0L, 10L)).map(_._2) == Seq(2024d))
  }

  // ---- parser rejections (planner.rs:208-232) ----

  test("matcher algebra: !=/=~/!~, anchoring, absent-label-as-empty") {
    val rows = Seq(
      ("m", Map("service" -> "web"), 10L, 1d),
      ("m", Map("service" -> "mobile"), 10L, 2d),
      ("m", Map.empty[String, String], 10L, 3d))
    val cat = new StreamCatalog(Seq(
      StreamDef("m", Map("service" -> "web"), VType.F64),
      StreamDef("m", Map("service" -> "mobile"), VType.F64),
      StreamDef("m", Map.empty, VType.F64)))
    val e = new TsdbEngine(spark, longDf(rows), cat)
    def vals(q: String): Set[Double] =
      vectorOf(e.query(q, 0L, 100L)).map(_._2).toSet

    assert(vals("""m{service!="web"}""") === Set(2d, 3d)) // absent ≡ ""
    assert(vals("""m{service=~"w.b"}""") === Set(1d))
    assert(vals("""m{service=~"web|mobile"}""") === Set(1d, 2d))
    assert(vals("""m{service=~"we"}""") === Set.empty) // fully anchored
    assert(vals("""m{service!~".+"}""") === Set(3d)) // only the unlabeled
    assert(vals("""m{service=""}""") === Set(3d)) // Prometheus `{l=""}`
    assert(vals("""m{service=~"m.*", service!="mobile"}""") === Set.empty)

    val bad = intercept[PromParseException] {
      e.query("""m{service=~"("}""", 0L, 100L)
    }
    assert(bad.getMessage.contains("invalid regex"))
  }

  test("pow (right-assoc), atan2, and the bool comparison modifier") {
    val e = helperEngine() // ints: 2,4,6,8 at ts 10..40
    assert(vectorOf(e.query("ints ^ 2", 0L, 100L))
      === Seq(10L -> 4d, 20L -> 16d, 30L -> 36d, 40L -> 64d))
    assert(scalarsOf(e.query("2^3^2", 0L, 100L)) === Seq(512d)) // 2^(3^2)
    assert(scalarsOf(e.query("-2^2", 0L, 100L)) === Seq(-4d)) // -(2^2)
    assert(scalarsOf(e.query("2^-1", 0L, 100L)) === Seq(0.5))
    assert(vectorOf(e.query("ints atan2 ints", 0L, 100L)).map(_._2)
      === Seq.fill(4)(math.Pi / 4))
    // bool keeps every element, valued 0/1 — vs the filtering default
    assert(vectorOf(e.query("ints > bool 5", 0L, 100L))
      === Seq(10L -> 0d, 20L -> 0d, 30L -> 1d, 40L -> 1d))
    assert(scalarsOf(e.query("1 >= bool 2", 0L, 100L)) === Seq(0d))
    // without bool, scalar·scalar comparison still rejects
    intercept[IllegalArgumentException](e.query("1 > 2", 0L, 100L))
  }

  test("subquery offset shifts the inner evaluation, reports on the outer clock") {
    val e = helperEngine() // ints: 2,4,6,8 at ts 10,20,30,40
    // offset 10ms: inner steps at 40/60/80 see windows (20,40] → 14,
    // then empty; reported at 50 on the outer clock
    assert(vectorOf(e.query(
      "max_over_time(sum_over_time(ints[20ms])[40ms:20ms] offset 10ms)",
      50L, 90L)) === Seq(50L -> 14d))
    // without the offset the same query sees only ts 40's sample
    assert(vectorOf(e.query(
      "max_over_time(sum_over_time(ints[20ms])[40ms:20ms])",
      50L, 90L)) === Seq(50L -> 8d))
    // `@` after a subquery stays a loud trailing-token rejection
    intercept[PromParseException](e.query(
      "max_over_time(sum_over_time(ints[20ms])[40ms:20ms] @ 50)", 50L, 90L))
  }

  test("sort_by_label orders grouped output by label columns") {
    val e = httpEngine() // service=web sums 163, service=mobile sums 127
    def run(q: String): Seq[(String, Double)] =
      e.query(q, 0L, 100L).output.collect()
        .map(r => (r.getString(0), r.get(1).toString.toDouble)).toSeq
    assert(run("""sort_by_label(sum by (service) (http_requests_total), "service")""")
      === Seq(("mobile", 127d), ("web", 163d)))
    assert(run("""sort_by_label_desc(sum by (service) (http_requests_total), "service")""")
      === Seq(("web", 163d), ("mobile", 127d)))
    assert(intercept[IllegalArgumentException] {
      e.query("""sort_by_label(http_requests_total, "service")""", 0L, 100L)
    }.getMessage.contains("grouped"))
    assert(intercept[IllegalArgumentException] {
      e.query("""sort_by_label(sum by (service) (http_requests_total), "nope")""",
        0L, 100L)
    }.getMessage.contains("no such label"))
  }

  test("time(), scalar(), vector(): the eval-time bridge trio") {
    val e = helperEngine()
    assert(scalarsOf(e.query("time()", 0L, 100L)) === Seq(0.1)) // end s
    assert(scalarsOf(e.query("scalar(ints)", 0L, 15L)) === Seq(2d))
    val Seq(nan) = scalarsOf(e.query("scalar(ints)", 0L, 100L)) // 4 rows
    assert(nan.isNaN)
    assert(vectorOf(e.query("vector(7)", 0L, 100L)) === Seq(100L -> 7d))
    assert(vectorOf(e.query("vector(time())", 0L, 50L))
      === Seq(50L -> 0.05))
    intercept[IllegalArgumentException](e.query("scalar(sum(ints))", 0L, 100L))
    intercept[IllegalArgumentException](e.query("vector(ints)", 0L, 100L))
  }

  test("nameless selectors: __name__ matchers resolve on the catalog") {
    val e = helperEngine() // ints (I64), uints (U64), floats (F64)
    val Seq(s) =
      scalarsOf(e.query("""sum({__name__=~"ints|floats"})""", 0L, 100L))
    assert(math.abs(s - 31.0) < 1e-9) // 20 (ints) + 11 (floats)
    assert(scalarsOf(e.query("""count({__name__!~"u.*"})""", 0L, 100L))
      === Seq(8d))
    // no catalog name admitted → static empty scan, count's 0-arity
    assert(scalarsOf(e.query("""count({__name__=~"nothing_.*"})""", 0L, 100L))
      === Seq(0d))
    assert(intercept[PromParseException] {
      e.query("""{uints="1"}""", 0L, 100L)
    }.getMessage.contains("__name__ matcher"))
    assert(intercept[PromParseException] {
      e.query("""ints{__name__="floats"}""", 0L, 100L)
    }.getMessage.contains("conflict"))
  }

  test("without matched composition: canonical re-opening, one-side uniqueness fold") {
    // round 13: a without-grouped operand rides its canonical `labels`
    // column through on/ignoring — the match-key values re-open from
    // the string. One side without(service): "dc=a" 11, "dc=b" 20,
    // "" (cli, dc absent) 1; the null re-opened key matches cli's null
    // dc via the null-safe join.
    val e = groupedEngine()
    def rows3(q: String): Set[(Option[String], Option[String], Double)] =
      e.query(q, 0, 100).output.collect().toSet[Row].map(r =>
        (Option(r.getString(0)), Option(r.getString(1)),
          math.round(r.getDouble(2) * 1e6) / 1e6))
    assert(rows3("sum by (service, dc) (req) / on (dc) group_left " +
      "sum without (service) (req)") == Set(
      (Some("web"), Some("a"), 3d / 11), (Some("mob"), Some("a"), 8d / 11),
      (Some("web"), Some("b"), 4d / 20), (Some("mob"), Some("b"), 16d / 20),
      (Some("cli"), (None: Option[String]), 1d))
      .map { case (a, b, v) => (a, b, math.round(v * 1e6) / 1e6) })
    // a non-unique without 'one' side (without () keeps (service, dc)
    // — two groups share service=web) is the many-to-many shape:
    // rejected on the EXECUTORS by the uniqueness fold
    val dup = intercept[Exception](e.query(
      "sum by (service, dc) (req) / on (service) group_left " +
        "sum without () (req)", 0, 100).df.collect())
    assert(dup.getMessage.contains("not unique per match key"),
      dup.getMessage)
    // ignoring(...) cannot derive a key from a canonical 'one' side
    val ign = intercept[IllegalArgumentException](e.query(
      "sum by (service, dc) (req) / ignoring (dc) group_left " +
        "sum without () (req)", 0, 100))
    assert(ign.getMessage.contains("no structural match key"),
      ign.getMessage)
    // one-to-one over a without grouping cannot prove uniqueness
    val oto = intercept[IllegalArgumentException](e.query(
      "sum without (dc) (req) / on (service) sum by (service) (req)",
      0, 100))
    assert(oto.getMessage.contains("structurally"), oto.getMessage)
    // BOTH sides canonical: without(dc) groups by {service} on each
    // side — self-ratio 1.0 per canonical group, key unique so the
    // fold passes
    val both = e.query(
      "sum without (dc) (req) / on (service) group_left " +
        "sum without (dc) (req)", 0, 100).df.collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(both == Set("service=web" -> 1d, "service=mob" -> 1d,
      "service=cli" -> 1d), both)
    // review-r13 pins: `by (labels)` can no longer masquerade as a
    // canonical side (reserved at the grouping level)...
    val byLabels = intercept[IllegalArgumentException](e.query(
      "sum by (labels) (req) / on (service) group_left " +
        "sum by (service) (req)", 0, 100))
    assert(byLabels.getMessage.contains("collide"), byLabels.getMessage)
    // ...and a match key named after a result column cannot re-open
    // from a canonical group (reopened() would clobber the column)
    val clash = intercept[IllegalArgumentException](e.query(
      "sum without (dc) (req) / on (value) group_left " +
        "sum without (dc) (req)", 0, 100))
    assert(clash.getMessage.contains("result columns"), clash.getMessage)
  }

  test("carry from a without-grouped 'one' side re-opens from the canonical string") {
    // region is determined by service, so the canonical
    // {service, region} groups are unique per match key — the carried
    // value re-opens from the canonical string inside the fold
    val rows = Seq(
      ("req", Map("service" -> "web", "zone" -> "z1", "region" -> "eu"), 10L, 1d),
      ("req", Map("service" -> "web", "zone" -> "z2", "region" -> "eu"), 10L, 3d),
      ("req", Map("service" -> "mob", "zone" -> "z1", "region" -> "us"), 10L, 8d))
    val cat = new StreamCatalog(Seq(StreamDef("req", Map.empty, VType.F64)))
    val e = new TsdbEngine(spark, longDf(rows), cat)
    val q = "sum by (service, zone) (req) / on (service) " +
      "group_left(region) sum without (zone) (req)"
    val out = e.query(q, 0, 100).output.collect().toSet[Row].map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3)))
    assert(out == Set(("web", "z1", "eu", 0.25), ("web", "z2", "eu", 0.75),
      ("mob", "z1", "us", 1d)), out)
    // a carried label ABSENT from the canonical set carries null (the
    // missing-label convention), it does not invent a value
    val nul = e.query("sum by (service, zone) (req) / on (service) " +
      "group_left(planet) sum without (zone) (req)", 0, 100)
      .output.collect()
    assert(nul.forall(_.isNullAt(2)), nul.mkString(", "))
    // non-unique carry source: region varies within service=web → the
    // runtime uniqueness fold rejects on the executors
    val e2 = new TsdbEngine(spark, longDf(rows :+
      (("req", Map("service" -> "web", "zone" -> "z3",
        "region" -> "ap"), 10L, 2d))), cat)
    val dup = intercept[Exception](e2.query(q, 0, 100).df.collect())
    assert(dup.getMessage.contains("not unique per match key"),
      dup.getMessage)
    // carry onto a without-grouped MANY side rejects at the ENGINE
    // level (advice r14): the carried label cannot be proven absent
    // from the canonical label set, so a clash would silently emit two
    // values for one label name — previously only the HTTP bridge
    // guarded this surface
    val ontoCanon = intercept[IllegalArgumentException](e.query(
      "sum without (zone) (req) / on (service) group_left(region) " +
        "sum without (zone) (req)", 0, 100))
    assert(ontoCanon.getMessage.contains(
      "label-carry onto a without-grouped many side"),
      ontoCanon.getMessage)
  }

  test("limitk / limit_ratio: deterministic md5 sampling, exact partition") {
    val e = groupedEngine()
    def rows(q: String): Set[(String, Double)] =
      e.query(q, 0, 100).output.collect().toSet[Row]
        .map(r => (r.getString(0), r.getDouble(1)))
    val all = rows("sum by (service) (req)")
    assert(all.size == 3)
    // k ≥ group count keeps everything; k = 0 empties; k = 1 is one
    // deterministic group (same pick on every run)
    assert(rows("limitk(99, sum by (service) (req))") == all)
    assert(rows("limitk(0, sum by (service) (req))").isEmpty)
    val one = rows("limitk(1, sum by (service) (req))")
    assert(one.size == 1 &&
      one == rows("limitk(1, sum by (service) (req))"))
    // limit_ratio(r) and limit_ratio(r − 1) PARTITION the groups:
    // disjoint, and their union is everything (the exact-count rule)
    val a = rows("limit_ratio(0.6, sum by (service) (req))")
    val b = rows("limit_ratio(-0.4, sum by (service) (req))")
    assert((a & b).isEmpty && (a | b) == all, (a, b))
    // the .5 boundary (advice r13): r·n = 1.5 with n = 3 — the old
    // n − round(−r·n) negative cut double-counted the boundary rank;
    // the complement rule rk > round((1+r)·n) partitions exactly
    val h = rows("limit_ratio(0.5, sum by (service) (req))")
    val hc = rows("limit_ratio(-0.5, sum by (service) (req))")
    assert(h.size == 2 && hc.size == 1, (h, hc))
    assert((h & hc).isEmpty && (h | hc) == all, (h, hc))
    assert(rows("limit_ratio(1, sum by (service) (req))") == all)
    assert(rows("limit_ratio(0, sum by (service) (req))").isEmpty)
    // ungrouped children and out-of-range r reject loudly; so does a
    // grouping clause on the operator itself (parse-level)
    intercept[IllegalArgumentException](e.query("limitk(2, req)", 0, 100))
    intercept[IllegalArgumentException](
      e.query("limit_ratio(1.5, sum by (service) (req))", 0, 100))
    intercept[PromParseException](
      e.query("limitk(2, req) by (service)", 0, 100))
  }

  test("finer-grouped subquery inner pools into the evaluation groups") {
    val e = groupedEngine()
    // the evaluation grouping is the root's: `sum by (service) (...)`
    def byService(inner: String) =
      e.queryRange(s"sum by (service) ($inner)", 40, 40, 40).df
        .collect().toSet[Row].map(r => (r.getString(0), r.getDouble(2)))
    // inner per (service, dc) on the 20ms grid (anchored at 0): at 20
    // web/a {1,2}→3, web/b→4, mob/a→8, mob/b→16; at 40 cli→32. The
    // outer max pools each service's dc sub-series over (0, 40]:
    // web max(3,4)=4, mob max(8,16)=16, cli 32.
    val out =
      byService("max_over_time(sum by (service, dc) (req)[40ms:20ms])")
    assert(out == Set(("web", 4d), ("mob", 16d), ("cli", 32d)), out)
    // a COARSER inner (evaluation needs dc it can't produce) still
    // rejects loudly
    val coarse = intercept[IllegalArgumentException](e.queryRange(
      "sum by (service, dc) " +
        "(max_over_time(sum by (service) (req)[40ms:20ms]))", 40, 40, 40))
    assert(coarse.getMessage.contains("finer `by` superset"),
      coarse.getMessage)
    // a `without` inner re-opens the evaluation key from its canonical
    // group identity (round 15): `without ()` keeps {service, dc} —
    // the finer pooling rule through the canonical path, same answer
    // as the explicit by (service, dc) inner above
    val woFiner =
      byService("max_over_time(sum without () (req)[40ms:20ms])")
    assert(woFiner == out, woFiner)
    // ... and `without (dc)` keeps {service}: the same-key case — dc
    // sub-series merge INSIDE the inner sum, so web pools 1+2+4=7
    val woSame =
      byService("max_over_time(sum without (dc) (req)[40ms:20ms])")
    assert(woSame == Set(("web", 7d), ("mob", 24d), ("cli", 32d)), woSame)
    // undefined ONLY when the inner removed an evaluation label — its
    // value is gone from the canonical identity
    val rm = intercept[IllegalArgumentException](
      byService("max_over_time(sum without (service) (req)[40ms:20ms])"))
    assert(rm.getMessage.contains("removed evaluation label"),
      rm.getMessage)
  }

  test("queryRangeGetK: per-step rank, ties to the group key, k clamps") {
    val e = groupedEngine()
    def run(top: Boolean, k: Double) = e.queryRangeGetK(top,
      Expr.NumberLit(k),
      PromParser.parse("sum_over_time(req[20ms])"),
      Expr.Grouping(by = true, List("service")), 20, 40, 20)
      .collect().toSet[Row]
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // per (service, step) sums on the fixture's 20ms windows
    val all = run(top = true, 99) // k > group count keeps everything
    // k=1: the largest group per step only
    val top1 = run(top = true, 1)
    assert(top1.size > 0 && top1.groupBy(_._2).forall(_._2.size == 1))
    top1.foreach { case (_, ts, v) =>
      assert(v == all.filter(_._2 == ts).map(_._3).max) }
    // bottomk mirrors
    val bot1 = run(top = false, 1)
    bot1.foreach { case (_, ts, v) =>
      assert(v == all.filter(_._2 == ts).map(_._3).min) }
    // k = 0 empties; negative clamps to 0
    assert(run(top = true, 0).isEmpty)
    assert(run(top = true, -3).isEmpty)
    // a huge literal k clamps to Int.MaxValue and keeps everything —
    // a bare Long.toInt would wrap negative and silently EMPTY the
    // result (review r13)
    assert(run(top = true, 3e9) == all)
    assert(run(top = true, Double.PositiveInfinity) == all)
  }

  test("aggregate inners in sliding evaluation: windowed twin, pooled transforms") {
    // round 13: Aggregate nodes admitted into sliding evaluation.
    // ints on ts {10,20,30,40} values {2,4,6,8}; step 20ms windows
    // (T-20, T] at T ∈ {20, 40} → sum(ints) = {2+4, 6+8} = {6, 14}.
    val e = helperEngine()
    val sel = e.queryRange("sum(ints)", 20, 40, 20)
      .df.orderBy("timestamp").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(sel.toSeq == Seq((20L, 6.0), (40L, 14.0)))
    // already-windowed inner: sum is the pooled one-element identity,
    // count collapses to 1, stddev to 0 — over the SAME derived series
    val base = e.queryRange("sum_over_time(ints[20ms])", 20, 40, 20)
      .df.orderBy("timestamp").collect().map(_.getDouble(1)).toSeq
    val idn = e.queryRange("sum(sum_over_time(ints[20ms]))", 20, 40, 20)
      .df.orderBy("timestamp").collect().map(_.getDouble(1)).toSeq
    assert(idn == base && base == Seq(6.0, 14.0))
    val cnt = e.queryRange("count(sum_over_time(ints[20ms]))", 20, 40, 20)
      .df.collect().map(_.getDouble(1)).toSeq
    assert(cnt == Seq(1.0, 1.0))
    val sd = e.queryRange("stddev(sum_over_time(ints[20ms]))", 20, 40, 20)
      .df.collect().map(_.getDouble(1)).toSeq
    assert(sd == Seq(0.0, 0.0))
    // the subquery form — max_over_time(sum(ints)[40ms:20ms]) from 0:
    // substeps {0, 20, 40} (grids anchor at evaluation start), inner
    // sums {-, 6, 14}, outer windows keyed at wstart {0, 40}
    val sq = e.query("max_over_time(sum(ints)[40ms:20ms])", 0, 40)
      .df.orderBy("timestamp").collect().map(_.getDouble(1)).toSeq
    assert(sq == Seq(6.0, 14.0))
    // queryRange resolves a grouped root's grouping from the tree: one
    // series per group, keyed by the by-labels...
    val h = httpEngine()
    val root = h.queryRange("sum by (service) (http_requests_total)",
      29, 51, 22)
    assert(root.seriesKey == Seq("service") && !root.canonical)
    val g = root.df.orderBy("service", "timestamp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // windows (7,29] and (29,51]: web 45+47 / 23+48, mobile 9+18 / 0+100
    assert(g.toSeq == Seq(("mobile", 29L, 27.0), ("mobile", 51L, 100.0),
      ("web", 29L, 92.0), ("web", 51L, 71.0)))
    // ...and a MISMATCHED inner grouping rejects (one group key per
    // sliding evaluation)
    intercept[IllegalArgumentException](h.queryRange(
      "sum by (service) (sum by (other) (http_requests_total))",
      29, 51, 22).df.collect())
    // a grouped aggregate beside a groupless one still rejects: the
    // groupless root pools everything into one series
    intercept[IllegalArgumentException](h.queryRange(
      "sum(http_requests_total) / sum by (service) (http_requests_total)",
      29, 51, 22).df.collect())
  }

  test("unsupported forms are rejected") {
    val e = helperEngine()
    // range functions are the engine's documented extension (RangeFnSpec);
    // everything the reference rejects BEYOND them still rejects here:
    // a bare matrix selector parses but is illegal outside a range fn,
    intercept[IllegalArgumentException](e.query("ints[5m]", 0, 100))
    // unknown function calls stay parse errors like the reference,
    intercept[PromParseException](e.query("histogram_sum(ints)", 0, 100))
    intercept[IllegalArgumentException](e.query("ints == uints", 0, 100))
    intercept[IllegalArgumentException](e.query("sum(ints) > count(ints)", 0, 100))
  }
}
