package graft

import java.io.{BufferedReader, StringReader}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.{Chart, Cli, Web}
import graft.tsdb.TsdbFixtures.spark

/** E2E over the user surfaces: the CLI subcommands + REPL and the HTTP
  * endpoint, driving the reference's own e2e scenario
  * (tachyon_core/src/lib.rs:1152-1193): create a u64 stream, insert
  * (23,45) (29,47) (40,23) (51,48), then sum over [23,51] == 163 and
  * over [29,40] == 70.
  */
class CliWebSpec extends AnyFunSuite {

  private val sel = """http_requests_total{service = "web"}"""

  private def freshDb(): String =
    Files.createTempDirectory("graft_cli_db").toString

  private def cli(db: String, args: String*): (Int, Seq[String]) = {
    val out = ArrayBuffer.empty[String]
    val code = Cli.run(spark, db, args,
      new BufferedReader(new StringReader("")), out += _)
    (code, out.toSeq)
  }

  private def seed(db: String): Unit = {
    assert(cli(db, "create-stream", sel, "u64")._1 == 0)
    for ((t, v) <- Seq((23, 45), (29, 47), (40, 23), (51, 48)))
      assert(cli(db, "insert", sel, t.toString, v.toString)._1 == 0)
  }

  test("cli: create + insert + query reproduces the reference e2e sums") {
    val db = freshDb()
    seed(db)
    val (c1, full) = cli(db, "query", s"sum($sel)", "23", "51")
    assert(c1 == 0 && full == Seq("163"))
    val (c2, partial) = cli(db, "query", s"sum($sel)", "29", "40")
    assert(c2 == 0 && partial == Seq("70"))
    // vector query prints (timestamp, value) rows in time order
    val (c3, vec) = cli(db, "query", sel, "23", "51")
    assert(c3 == 0 && vec == Seq("23 45", "29 47", "40 23", "51 48"))
  }

  test("cli: range functions work through the user surface") {
    // the PromQL extension rides the same GraftDb.query path the CLI
    // and HTTP endpoint call — nothing surface-specific to add
    val db = freshDb()
    seed(db)
    // values 45,47,23,48 at ts 23,29,40,51; window [20ms] from start 20
    // → w[20,40): 45,47 w[40,60): 23,48
    val (c1, counts) = cli(db, "query", s"count_over_time($sel[20ms])", "20", "59")
    assert(c1 == 0 && counts == Seq("20 2", "40 2"))
    val (c2, deltas) = cli(db, "query", s"delta($sel[20ms])", "20", "59")
    assert(c2 == 0 && deltas == Seq("20 2", "40 25"))
  }

  test("cli + http: by-grouping reaches the user surfaces") {
    val db = freshDb()
    // two services under one metric name
    assert(cli(db, "create-stream",
      """req{service = "web"}""", "f64")._1 == 0)
    assert(cli(db, "create-stream",
      """req{service = "mob"}""", "f64")._1 == 0)
    for ((t, v) <- Seq((10, 1), (20, 2)))
      assert(cli(db, "insert", """req{service = "web"}""",
        t.toString, v.toString)._1 == 0)
    assert(cli(db, "insert", """req{service = "mob"}""", "10", "8")._1 == 0)
    val (c1, lines) = cli(db, "query", "sum by (service) (req)", "0", "100")
    assert(c1 == 0 && lines == Seq("mob 8", "web 3"), lines)
    // the HTTP shape: a `groups` array ordered by the group keys
    val server = Web.start(spark, 0)
    try {
      val port = server.getAddress.getPort
      val resp = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"path": "$db", "query": "sum by (service) (req)", "start": 0, "end": 100}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      assert(resp.body().contains(""""groups":[{"service":"mob","value":8.0},""" +
        """{"service":"web","value":3.0}]"""), resp.body())
    } finally server.stop(0)
    // queryJson parity on the library surface
    val g = new graft.tsdb.GraftDb(spark, db)
      .queryJson("sum by (service) (req)", 0, 100)
    assert(g == """[{"service":"mob","value":8},{"service":"web","value":3}]""", g)
  }

  test("cli: query-range slides a grouped root per label group") {
    val db = freshDb()
    assert(cli(db, "create-stream", """req{service = "web"}""", "f64")._1 == 0)
    assert(cli(db, "create-stream", """req{service = "mob"}""", "f64")._1 == 0)
    for ((t, v) <- Seq((10, 1), (20, 2), (30, 4)))
      assert(cli(db, "insert", """req{service = "web"}""",
        t.toString, v.toString)._1 == 0)
    assert(cli(db, "insert", """req{service = "mob"}""", "10", "8")._1 == 0)
    // eval T=20 window (0,20]: web 1+2=3, mob 8; T=40 (20,40]: web 4
    val (c, lines) = cli(db, "query-range",
      "sum by (service) (sum_over_time(req[20ms]))", "20", "40", "20")
    assert(c == 0 && lines == Seq("mob 20 8", "web 20 3", "web 40 4"), lines)
    // the library surface's grouped SUBQUERY over the same fixture:
    // both steps land in the one 40ms outer window at 20 — per-group
    // max of the step series above (web max(3,4)=4, mob 8)
    val sub = new graft.tsdb.GraftDb(spark, db)
      .query("max_over_time(sum by (service) " +
        "(sum_over_time(req[20ms]))[40ms:20ms])", 20, 40)
    assert(sub.grouped)
    val subRows = sub.output.orderBy("service").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(subRows.toSeq == Seq(("mob", 20L, 8d), ("web", 20L, 4d)),
      subRows.toSeq)
  }

  test("http: /query refuses \"by\"; a stepped grouped root answers the old by + step body") {
    val db = freshDb()
    assert(cli(db, "create-stream", """req{service = "web"}""", "f64")._1 == 0)
    assert(cli(db, "create-stream", """req{service = "mob"}""", "f64")._1 == 0)
    for ((t, v) <- Seq((10, 1), (20, 2), (30, 4)))
      assert(cli(db, "insert", """req{service = "web"}""",
        t.toString, v.toString)._1 == 0)
    assert(cli(db, "insert", """req{service = "mob"}""", "10", "8")._1 == 0)
    val server = Web.start(spark, 0)
    try {
      val port = server.getAddress.getPort
      // the query-range fixture above through HTTP: eval T=20 window
      // (0,20] → web 3, mob 8; T=40 (20,40] → web 4 — the body the
      // removed "by": ["service"] + "step" form answered
      val resp = postJson(port, "/query", s"""{"path": "$db",
        | "query": "sum by (service) (sum_over_time(req[20ms]))",
        | "start": 20, "end": 40, "step": 20}""".stripMargin)
      assert(resp.statusCode() == 200, resp.body())
      assert(resp.body() == """{"value_type":"Float64","groups":[""" +
        """{"service":"mob","timestamp":20,"value":8.0},""" +
        """{"service":"web","timestamp":20,"value":3.0},""" +
        """{"service":"web","timestamp":40,"value":4.0}]}""", resp.body())
      // "by" is refused with or without "step", as an array or a string
      for (extra <- Seq(""", "step": 20, "by": ["service"]""",
          """, "step": 20, "by": "service"""", """, "by": ["service"]""")) {
        val bad = postJson(port, "/query", s"""{"path": "$db",
          | "query": "sum_over_time(req[20ms])",
          | "start": 20, "end": 40$extra}""".stripMargin)
        assert(bad.statusCode() == 400 &&
          bad.body().contains("write the by clause in the query text"),
          s"${bad.statusCode()} ${bad.body()}")
      }
    } finally server.stop(0)
  }

  test("http: Prometheus API bridge — query_range matrix, instant vector, error envelope") {
    val db = freshDb()
    assert(cli(db, "create-stream", """req{service = "web"}""", "f64")._1 == 0)
    assert(cli(db, "create-stream", """req{service = "mob"}""", "f64")._1 == 0)
    for ((t, v) <- Seq((10, 1), (20, 2), (30, 4)))
      assert(cli(db, "insert", """req{service = "web"}""",
        t.toString, v.toString)._1 == 0)
    assert(cli(db, "insert", """req{service = "mob"}""", "10", "8")._1 == 0)
    val server = Web.start(spark, 0)
    try {
      val port = server.getAddress.getPort
      val client = HttpClient.newHttpClient()
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      // GET query_range, grouped: sum by (service) over 20ms step
      // windows; Prometheus times are unix SECONDS (fractional ok),
      // step accepts a duration string
      val q = enc("sum by (service) (sum_over_time(req[20ms]))")
      val get = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:$port/api/v1/query_range?path=${enc(db)}" +
            s"&query=$q&start=0.02&end=0.04&step=20ms")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(get.statusCode() == 200, get.body())
      assert(get.body().contains(""""status":"success""""), get.body())
      assert(get.body().contains(""""resultType":"matrix""""), get.body())
      assert(get.body().contains(
        """{"metric":{"service":"mob"},"values":[[0.02,"8.0"]]}"""), get.body())
      assert(get.body().contains(
        """{"metric":{"service":"web"},"values":[[0.02,"3.0"],[0.04,"4.0"]]}"""),
        get.body())
      // form-POST instant query: bare selector maps to the last sample
      // within the staleness lookback — web's (30ms, 4)
      val inst = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:$port/api/v1/query"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"path=${enc(db)}&query=${enc("req")}&time=0.03")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(inst.statusCode() == 200, inst.body())
      assert(inst.body().contains(""""resultType":"vector""""), inst.body())
      assert(inst.body().contains(""""value":[0.03,"4.0"]"""), inst.body())
      // errors wear the Prometheus envelope
      val bad = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:$port/api/v1/query_range?path=${enc(db)}" +
            s"&start=0&end=1&step=1")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(bad.statusCode() == 400, bad.body())
      assert(bad.body().contains(""""status":"error""""), bad.body())
      assert(bad.body().contains("missing parameter: query"), bad.body())
      // count by (...) maps to count_over_time per step window (the
      // pooled-series convention): (0,20] web {1,2} → 2, mob {8} → 1;
      // (20,40] web {4} → 1
      val cnt = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:$port/api/v1/query_range?path=${enc(db)}" +
            s"&query=${enc("count by (service) (req)")}" +
            s"&start=0.02&end=0.04&step=20ms")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(cnt.statusCode() == 200, cnt.body())
      assert(cnt.body().contains(
        """{"metric":{"service":"mob"},"values":[[0.02,"1.0"]]}"""), cnt.body())
      assert(cnt.body().contains(
        """{"metric":{"service":"web"},"values":[[0.02,"2.0"],[0.04,"1.0"]]}"""),
        cnt.body())
      // MATCHED composition with a `without` many side (round 13):
      // `sum without ()` keeps {service} as a canonical group; the
      // engine re-opens the on-key from the string and the serializer
      // decodes the canonical identity back into metric fields — the
      // self-ratio is 1.0 per service per step
      val mwq = enc("sum without () (sum_over_time(req[20ms])) / " +
        "on (service) group_left " +
        "sum by (service) (sum_over_time(req[20ms]))")
      val mw = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:$port/api/v1/query_range?path=${enc(db)}" +
            s"&query=$mwq&start=0.02&end=0.04&step=20ms")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(mw.statusCode() == 200, mw.body())
      assert(mw.body().contains(
        """{"metric":{"service":"mob"},"values":[[0.02,"1.0"]]}"""), mw.body())
      assert(mw.body().contains(
        """{"metric":{"service":"web"},"values":[[0.02,"1.0"],[0.04,"1.0"]]}"""),
        mw.body())
      // GROUPED AGGREGATE INNER in a sliding subquery (round 13): the
      // bridge routes by the inner tree's grouping, group columns
      // become series labels. Inner sum-per-service on the 20ms grid:
      // web {3 @20, 4 @40}, mob {8 @20}; outer max over (0,40]
      val gsq = enc(
        "max_over_time(sum by (service) (req)[40ms:20ms])")
      val gs = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:$port/api/v1/query_range?path=${enc(db)}" +
            s"&query=$gsq&start=0.04&end=0.04&step=40ms")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(gs.statusCode() == 200, gs.body())
      assert(gs.body().contains(
        """{"metric":{"service":"mob"},"values":[[0.04,"8.0"]]}"""), gs.body())
      assert(gs.body().contains(
        """{"metric":{"service":"web"},"values":[[0.04,"4.0"]]}"""), gs.body())
      // count_values evaluates per step (round 13): value-bucketed
      // counts, series keyed by the value label — window (0,20] holds
      // values {1,2,8} (one each), (20,40] holds {4}
      val cv = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:$port/api/v1/query_range?path=${enc(db)}" +
            s"""&query=${enc("""count_values("v", req)""")}""" +
            s"&start=0.02&end=0.04&step=20ms")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(cv.statusCode() == 200, cv.body())
      for (v <- Seq("1.0", "2.0", "8.0"))
        assert(cv.body().contains(
          s"""{"metric":{"v":"$v"},"values":[[0.02,"1.0"]]}"""), cv.body())
      assert(cv.body().contains(
        """{"metric":{"v":"4.0"},"values":[[0.04,"1.0"]]}"""), cv.body())
      // ...the label may not collide with a result column
      val cvBad = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:$port/api/v1/query_range?path=${enc(db)}" +
            s"""&query=${enc("""count_values("value", req)""")}""" +
            s"&start=0.02&end=0.04&step=20ms")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(cvBad.statusCode() == 400 &&
        cvBad.body().contains("collides"), cvBad.body())
      // topk with a SCALAR k expression (round 13): the k-subplan
      // evaluates whole-range over [start, end] = [20, 40]ms, which
      // holds 2 samples → `count(req) - 1` = 1 keeps only the larger
      // group per step
      val tkq = enc("topk(count(req) - 1, sum by (service) (req))")
      val tk = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:$port/api/v1/query_range?path=${enc(db)}" +
            s"&query=$tkq&start=0.02&end=0.04&step=20ms")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(tk.statusCode() == 200, tk.body())
      // step 0.02: web 1+2=3 vs mob 8 → mob wins; step 0.04: web only
      assert(tk.body().contains(
        """{"metric":{"service":"mob"},"values":[[0.02,"8.0"]]}"""), tk.body())
      assert(tk.body().contains(
        """{"metric":{"service":"web"},"values":[[0.04,"4.0"]]}"""), tk.body())
      assert(!tk.body().contains("""[[0.02,"3.0"]"""), tk.body())
      // metadata endpoints: labels, label values, series (nameless
      // selector with a regex matcher resolves on the catalog)
      def metaGet(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:$port$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val labels = metaGet(s"/api/v1/labels?path=${enc(db)}")
      assert(labels.body() ==
        """{"status":"success","data":["__name__","service"]}""", labels.body())
      val vals = metaGet(s"/api/v1/label/service/values?path=${enc(db)}")
      assert(vals.body() ==
        """{"status":"success","data":["mob","web"]}""", vals.body())
      val names = metaGet(s"/api/v1/label/__name__/values?path=${enc(db)}")
      assert(names.body() ==
        """{"status":"success","data":["req"]}""", names.body())
      val series = metaGet(s"/api/v1/series?path=${enc(db)}" +
        s"&match[]=${enc("""{service=~"w.b"}""")}")
      assert(series.body() ==
        """{"status":"success","data":[{"__name__":"req","service":"web"}]}""",
        series.body())
      // multiple match[] selectors UNION (last-wins would drop web)
      val multi = metaGet(s"/api/v1/series?path=${enc(db)}" +
        s"&match[]=${enc("""{service="web"}""")}" +
        s"&match[]=${enc("""{service="mob"}""")}")
      assert(multi.body() ==
        """{"status":"success","data":[{"__name__":"req","service":"mob"},""" +
          """{"__name__":"req","service":"web"}]}""", multi.body())
      // a name/__name__ CONFLICT rejects — the nameless-recovery catch
      // must not silently drop the literal name
      val conflict = metaGet(s"/api/v1/series?path=${enc(db)}" +
        s"&match[]=${enc("""req{__name__="other"}""")}")
      assert(conflict.statusCode() == 400 &&
        conflict.body().contains("conflict"), conflict.body())
      // zero/negative steps reject with Prometheus' wording; NaN is
      // not a float here (the strict pattern) so it rejects as a
      // malformed duration
      for ((step, msg) <- Seq(
          "0" -> "zero or negative query resolution step",
          "-15" -> "zero or negative query resolution step",
          "NaN" -> "bad duration")) {
        val r = metaGet(s"/api/v1/query_range?path=${enc(db)}" +
          s"&query=${enc("sum_over_time(req[20ms])")}" +
          s"&start=0.02&end=0.04&step=$step")
        assert(r.statusCode() == 400 && r.body().contains(msg),
          s"step=$step: ${r.body()}")
      }
      // the Java float-suffix trap: "1d".toDouble is 1.0, so a parse-
      // attempt dispatch would read a one-DAY step as one SECOND
      assert(Web.promStepMs("1d") == 86400000L)
      assert(Web.promStepMs("1h30m") == 5400000L)
      assert(Web.promStepMs("0.5") == 500L)
      intercept[IllegalArgumentException](Web.promStepMs("1.5s"))
      // the ungrouped dashboard staple works (identity over the one
      // pooled series) — not a 400 with an engine-internal message
      val ungrouped = metaGet(s"/api/v1/query_range?path=${enc(db)}" +
        s"&query=${enc("sum(sum_over_time(req[20ms]))")}" +
        s"&start=0.02&end=0.04&step=20ms")
      assert(ungrouped.statusCode() == 200, ungrouped.body())
      assert(ungrouped.body().contains(
        """{"metric":{},"values":[[0.02,"11.0"],[0.04,"4.0"]]}"""),
        ungrouped.body())
      // pure-scalar instant queries answer with the scalar resultType
      val scl = metaGet(s"/api/v1/query?path=${enc(db)}" +
        s"&query=${enc("time() * 2")}&time=0.03")
      assert(scl.body() ==
        """{"status":"success","data":{"resultType":"scalar",""" +
          """"result":[0.03,"0.06"]}}""", scl.body())
      // vector(s) lifts to one unlabeled sample; scalar(v) collapses
      // over the staleness lookback (one element → its value)
      val vec1 = metaGet(s"/api/v1/query?path=${enc(db)}" +
        s"&query=${enc("vector(1)")}&time=0.03")
      assert(vec1.body() ==
        """{"status":"success","data":{"resultType":"vector",""" +
          """"result":[{"metric":{},"value":[0.03,"1.0"]}]}}""", vec1.body())
      val sOne = metaGet(s"/api/v1/query?path=${enc(db)}" +
        s"&query=${enc("""scalar(req{service="mob"})""")}&time=0.03")
      assert(sOne.body().contains(""""resultType":"scalar""""), sOne.body())
      assert(sOne.body().contains(""""result":[0.03,"8.0"]"""), sOne.body())
      // scalar(v) over a selector with SEVERAL lookback samples answers
      // the latest sample (the last_over_time mapping), where the raw
      // whole-range collapse would see 3 elements and answer NaN
      val sMulti = metaGet(s"/api/v1/query?path=${enc(db)}" +
        s"&query=${enc("""scalar(req{service="web"})""")}&time=0.03")
      assert(sMulti.body().contains(""""result":[0.03,"4.0"]"""), sMulti.body())
    } finally server.stop(0)
  }

  test("http: bridge round-12 conformance — RFC3339 times, full aggregation family, topk, without") {
    val db = freshDb()
    assert(cli(db, "create-stream", """req{service = "web"}""", "f64")._1 == 0)
    assert(cli(db, "create-stream", """req{service = "mob"}""", "f64")._1 == 0)
    for ((t, v) <- Seq((10, 1), (20, 2), (30, 4)))
      assert(cli(db, "insert", """req{service = "web"}""",
        t.toString, v.toString)._1 == 0)
    assert(cli(db, "insert", """req{service = "mob"}""", "10", "8")._1 == 0)
    val server = Web.start(spark, 0)
    try {
      val port = server.getAddress.getPort
      val client = HttpClient.newHttpClient()
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      def get(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:$port$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      def rangeQ(q: String, times: String =
          "start=0.02&end=0.04&step=20ms") = get(
        s"/api/v1/query_range?path=${enc(db)}&query=${enc(q)}&$times")
      // RFC3339 start/end (the published API form promtool and Grafana
      // send) — byte-identical answer to the unix-seconds form
      val viaUnix = rangeQ("sum by (service) (sum_over_time(req[20ms]))")
      val viaRfc = rangeQ("sum by (service) (sum_over_time(req[20ms]))",
        s"start=${enc("1970-01-01T00:00:00.020Z")}" +
          s"&end=${enc("1970-01-01T00:00:00.040Z")}&step=20ms")
      assert(viaRfc.statusCode() == 200 && viaRfc.body() == viaUnix.body(),
        viaRfc.body())
      // a numeric-offset RFC3339 instant: 00:00:00.030+00:00
      val instRfc = get(s"/api/v1/query?path=${enc(db)}" +
        s"&query=${enc("req")}&time=${enc("1970-01-01T00:00:00.030+00:00")}")
      assert(instRfc.body().contains(""""value":[0.03,"4.0"]"""), instRfc.body())
      // garbage wears Prometheus' wording inside the error envelope
      val garbage = rangeQ("req", "start=yesterday&end=0.04&step=20ms")
      assert(garbage.statusCode() == 400 && garbage.body().contains(
        """invalid parameter \"start\": cannot parse \"yesterday\""""),
        garbage.body())
      // quantile by: (0,20] web {1,2} → φ=0.5 interpolates 1.5, mob
      // {8} → 8; (20,40] web {4} → 4
      val quant = rangeQ("quantile by (service) (0.5, req)")
      assert(quant.body().contains(
        """{"metric":{"service":"web"},"values":[[0.02,"1.5"],[0.04,"4.0"]]}"""),
        quant.body())
      // stddev by (population rule): web {1,2} → 0.5; mob {8} → 0.0
      val sd = rangeQ("stddev by (service) (req)")
      assert(sd.body().contains(
        """{"metric":{"service":"mob"},"values":[[0.02,"0.0"]]}"""), sd.body())
      assert(sd.body().contains(
        """{"metric":{"service":"web"},"values":[[0.02,"0.5"],[0.04,"0.0"]]}"""),
        sd.body())
      // the one-pooled-series identities over a windowed inner:
      // count → 1, stddev → 0 (exactly Prometheus' one-series answers)
      val cntRf = rangeQ("count by (service) (sum_over_time(req[20ms]))")
      assert(cntRf.body().contains(
        """{"metric":{"service":"web"},"values":[[0.02,"1.0"],[0.04,"1.0"]]}"""),
        cntRf.body())
      val sdRf = rangeQ("stddev by (service) (sum_over_time(req[20ms]))")
      assert(sdRf.body().contains(
        """{"metric":{"service":"web"},"values":[[0.02,"0.0"],[0.04,"0.0"]]}"""),
        sdRf.body())
      // topk(1, sum by (service)(...)): each step's best group —
      // mob (8) wins step 20, web (4) is alone at step 40
      val topk = rangeQ("topk(1, sum by (service) (sum_over_time(req[20ms])))")
      assert(topk.statusCode() == 200, topk.body())
      assert(topk.body().contains(
        """{"metric":{"service":"mob"},"values":[[0.02,"8.0"]]}"""), topk.body())
      assert(topk.body().contains(
        """{"metric":{"service":"web"},"values":[[0.04,"4.0"]]}"""), topk.body())
      assert(!topk.body().contains("""[0.02,"3.0"]"""), topk.body())
      // bottomk mirrors
      val botk = rangeQ("bottomk(1, sum by (service) (sum_over_time(req[20ms])))")
      assert(botk.body().contains(
        """{"metric":{"service":"web"},"values":[[0.02,"3.0"],[0.04,"4.0"]]}"""),
        botk.body())
      // ranged limitk (round 14): per-step md5-order sampling —
      // md5("web") < md5("mob"), so web is the pick at both steps
      // regardless of value (sampling, not ranking)
      val lk = rangeQ("limitk(1, sum by (service) (sum_over_time(req[20ms])))")
      assert(lk.statusCode() == 200, lk.body())
      assert(lk.body().contains(
        """{"metric":{"service":"web"},"values":[[0.02,"3.0"],[0.04,"4.0"]]}"""),
        lk.body())
      assert(!lk.body().contains("mob"), lk.body())
      // ranged limit_ratio, negative arm: n is PER STEP — at 0.02 two
      // series (keep the md5-second, mob); at 0.04 web stands alone
      // (n=1, round(0.5)=1, nothing past it) — so mob's single sample
      // is the whole answer
      val lr = rangeQ(
        "limit_ratio(-0.5, sum by (service) (sum_over_time(req[20ms])))")
      assert(lr.statusCode() == 200, lr.body())
      assert(lr.body().contains(
        """{"metric":{"service":"mob"},"values":[[0.02,"8.0"]]}"""),
        lr.body())
      assert(!lr.body().contains(""""service":"web""""), lr.body())
      // an ungrouped child rejects with guidance, not a blind 500
      val lkBad = rangeQ("limitk(1, req)")
      assert(lkBad.statusCode() == 400 &&
        lkBad.body().contains("aggregate into groups"), lkBad.body())
      // ranged limitk over a GROUPED BINARY child (round 15): the
      // sampled ratio panel — self-ratio is 1.0 per present series,
      // and the pick stays md5-first (web) at both steps
      val lkRatio = rangeQ("limitk(1, " +
        "sum by (service) (sum_over_time(req[20ms])) / " +
        "sum by (service) (sum_over_time(req[20ms])))")
      assert(lkRatio.statusCode() == 200, lkRatio.body())
      assert(lkRatio.body().contains(
        """{"metric":{"service":"web"},"values":[[0.02,"1.0"],[0.04,"1.0"]]}"""),
        lkRatio.body())
      assert(!lkRatio.body().contains("mob"), lkRatio.body())
      // ... and over a MATCHED child: group_left self-share routes
      // through the engine's matched sampler twin
      val lkMatched = rangeQ("limitk(1, " +
        "sum by (service) (sum_over_time(req[20ms])) / on (service) " +
        "group_left sum by (service) (sum_over_time(req[20ms])))")
      assert(lkMatched.statusCode() == 200, lkMatched.body())
      assert(lkMatched.body().contains(
        """{"metric":{"service":"web"},"values":[[0.02,"1.0"],[0.04,"1.0"]]}"""),
        lkMatched.body())
      assert(!lkMatched.body().contains("mob"), lkMatched.body())
      // the limit_ratio twin over the same matched child: r = 1.0
      // keeps EVERY per-step series (the exact-partition rule), so
      // both services survive where limitk(1) kept only md5-first
      val lrMatched = rangeQ("limit_ratio(1.0, " +
        "sum by (service) (sum_over_time(req[20ms])) / on (service) " +
        "group_left sum by (service) (sum_over_time(req[20ms])))")
      assert(lrMatched.statusCode() == 200, lrMatched.body())
      assert(lrMatched.body().contains("\"service\":\"web\"") &&
        lrMatched.body().contains("\"service\":\"mob\""), lrMatched.body())
      // and the negative arm keeps the exact complement — of
      // limit_ratio(0)'s empty pick, so -1.0 also keeps every series
      // (rk > round(0·n) = 0), through the same matched route
      val lrMatchedNeg = rangeQ("limit_ratio(-1.0, " +
        "sum by (service) (sum_over_time(req[20ms])) / on (service) " +
        "group_left sum by (service) (sum_over_time(req[20ms])))")
      assert(lrMatchedNeg.statusCode() == 200, lrMatchedNeg.body())
      assert(lrMatchedNeg.body().contains("\"service\":\"web\"") &&
        lrMatchedNeg.body().contains("\"service\":\"mob\""),
        lrMatchedNeg.body())
      // a count_values child rejects with sampler-specific guidance
      // (it keys series by VALUE text), not a deep sliding error
      val lkCv = rangeQ(
        """limitk(1, count_values("b", sum by (service) (sum_over_time(req[20ms]))))""")
      assert(lkCv.statusCode() == 400 &&
        lkCv.body().contains("count_values keys series by VALUE"),
        lkCv.body())
      // mixed groupings across the inner composition reject with the
      // agreement message, not a deep subquery-oriented one
      val lkMixed = rangeQ("limitk(1, " +
        "sum by (service) (sum_over_time(req[20ms])) / " +
        "sum by (dc) (sum_over_time(req[20ms])))")
      assert(lkMixed.statusCode() == 400 &&
        lkMixed.body().contains("ONE grouping"), lkMixed.body())
      // ranged count_values over a DERIVED inner (round 14): per-step
      // series counts — at 0.02 web sums 3, mob 8 (one series each
      // bucket); at 0.04 only web's 4
      val cv = rangeQ(
        """count_values("b", sum by (service) (sum_over_time(req[20ms])))""")
      assert(cv.statusCode() == 200, cv.body())
      assert(cv.body().contains(
        """{"metric":{"b":"3.0"},"values":[[0.02,"1.0"]]}"""), cv.body())
      assert(cv.body().contains(
        """{"metric":{"b":"4.0"},"values":[[0.04,"1.0"]]}"""), cv.body())
      assert(cv.body().contains(
        """{"metric":{"b":"8.0"},"values":[[0.02,"1.0"]]}"""), cv.body())
      // `without` grouping: the canonical label-set column re-opens
      // into per-label metric fields — same series as the by-form
      val without = rangeQ("sum without (dc) (sum_over_time(req[20ms]))")
      assert(without.statusCode() == 200, without.body())
      assert(without.body().contains(
        """{"metric":{"service":"mob"},"values":[[0.02,"8.0"]]}"""),
        without.body())
      assert(without.body().contains(
        """{"metric":{"service":"web"},"values":[[0.02,"3.0"],[0.04,"4.0"]]}"""),
        without.body())
      // group() maps to present_over_time: 1 per group-step with data
      val grp = rangeQ("group by (service) (req)")
      assert(grp.statusCode() == 200, grp.body())
      assert(grp.body().contains(
        """{"metric":{"service":"web"},"values":[[0.02,"1.0"],[0.04,"1.0"]]}"""),
        grp.body())
      assert(grp.body().contains(
        """{"metric":{"service":"mob"},"values":[[0.02,"1.0"]]}"""), grp.body())
      // count_values still rejects loudly (value-keyed output groups)
      val cvg = rangeQ("""count_values by (service) ("v", req)""")
      assert(cvg.statusCode() == 400 &&
        cvg.body().contains("unsupported aggregation"), cvg.body())
      // GROUPED BINARY composition — the ratio panel: sum/count per
      // step window = the windowed mean. web (0,20]: 3/2=1.5, (20,40]:
      // 4/1=4; mob (0,20]: 8/1=8
      val ratio = rangeQ(
        "sum by (service) (req) / count by (service) (req)")
      assert(ratio.statusCode() == 200, ratio.body())
      assert(ratio.body().contains(
        """{"metric":{"service":"mob"},"values":[[0.02,"8.0"]]}"""),
        ratio.body())
      assert(ratio.body().contains(
        """{"metric":{"service":"web"},"values":[[0.02,"1.5"],[0.04,"4.0"]]}"""),
        ratio.body())
      // grouped SET OP masking: drop steps whose window saw >1 sample
      val mask = rangeQ(
        "sum by (service) (req) unless (count by (service) (req) > 1)")
      assert(mask.body().contains(
        """{"metric":{"service":"mob"},"values":[[0.02,"8.0"]]}"""),
        mask.body())
      assert(mask.body().contains(
        """{"metric":{"service":"web"},"values":[[0.04,"4.0"]]}"""),
        mask.body())
      assert(!mask.body().contains("""[0.02,"3.0"]"""), mask.body())
      // grouped vs literal threshold
      val thresh = rangeQ("sum by (service) (req) > 5")
      assert(thresh.body().contains(
        """{"metric":{"service":"mob"},"values":[[0.02,"8.0"]]}"""),
        thresh.body())
      assert(!thresh.body().contains("web"), thresh.body())
      // the composed UNGROUPED staple: sum/count window stats over the
      // one pooled series — (0,20]: 11-3=8, (20,40]: 4-1=3
      val ungComposed = rangeQ("sum(req) - count(req)")
      assert(ungComposed.statusCode() == 200, ungComposed.body())
      assert(ungComposed.body().contains(
        """{"metric":{},"values":[[0.02,"8.0"],[0.04,"3.0"]]}"""),
        ungComposed.body())
      // set operators with scalar operands reject with Prometheus' rule
      val setScalar = rangeQ("sum by (service) (req) unless 5")
      assert(setScalar.statusCode() == 400 &&
        setScalar.body().contains("not scalars"), setScalar.body())
      // MATCHED composition over HTTP: the one-to-one `on` form —
      // each group divided by itself is 1.0 at every step it exists
      val onSelf = rangeQ(
        "sum by (service) (req) / on (service) sum by (service) (req)")
      assert(onSelf.statusCode() == 200, onSelf.body())
      assert(onSelf.body().contains(
        """{"metric":{"service":"web"},"values":[[0.02,"1.0"],[0.04,"1.0"]]}"""),
        onSelf.body())
      assert(onSelf.body().contains(
        """{"metric":{"service":"mob"},"values":[[0.02,"1.0"]]}"""),
        onSelf.body())
      // mismatched groupings reject with guidance
      val mixed = rangeQ("sum by (service) (req) / sum by (dc) (req)")
      assert(mixed.statusCode() == 400 &&
        mixed.body().contains("same"), mixed.body())
      // sliding SUBQUERY over query_range: inner 20ms sums on their
      // own grid, outer max slides — T=20 sees the pooled 11, T=40
      // sees the et=40 sum 4
      val subq = rangeQ("max_over_time(sum_over_time(req[20ms])[20ms:20ms])")
      assert(subq.statusCode() == 200, subq.body())
      assert(subq.body().contains(
        """{"metric":{},"values":[[0.02,"11.0"],[0.04,"4.0"]]}"""),
        subq.body())
      // WITHIN-group topk: one pooled series per group → k ≥ 1 is the
      // identity (last sample per step), k = 0 empties
      val within = rangeQ("topk by (service) (1, req)")
      assert(within.body().contains(
        """{"metric":{"service":"web"},"values":[[0.02,"2.0"],[0.04,"4.0"]]}"""),
        within.body())
      val withinZero = rangeQ("topk by (service) (0, req)")
      assert(!withinZero.body().contains("values\":[["), withinZero.body())
    } finally server.stop(0)
  }

  test("http: the query_range bridge serializes exactly the engine's queryRange") {
    val db = freshDb()
    val store = new graft.tsdb.GraftDb(spark, db)
    // three x series (u, a, b) with distinct counter slopes, two y (a)
    for ((sel, vs) <- Seq(
        """x{u="p", a="1", b="1"}""" -> Seq(1d, 2d, 3d, 4d),
        """x{u="q", a="1", b="2"}""" -> Seq(2d, 5d, 8d, 11d),
        """x{u="r", a="2", b="1"}""" -> Seq(10d, 12d, 14d, 16d),
        """y{a="1"}""" -> Seq(1d, 1d, 1d, 1d),
        """y{a="2"}""" -> Seq(2d, 2d, 2d, 2d))) {
      store.createStream(sel, graft.tsdb.VType.F64)
      val ins = store.inserter(sel)
      vs.zipWithIndex.foreach { case (v, i) => ins.insert(10L * (i + 1), v) }
      ins.flush()
    }
    val server = Web.start(spark, 0)
    try {
      val port = server.getAddress.getPort
      val client = HttpClient.newHttpClient()
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      type Series = Map[Map[String, String], Seq[(Double, String)]]
      def bridge(q: String): Series = {
        val resp = client.send(HttpRequest.newBuilder(URI.create(
          s"http://localhost:$port/api/v1/query_range?path=${enc(db)}" +
            s"&query=${enc(q)}&start=0.02&end=0.04&step=10ms")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        assert(resp.statusCode() == 200, s"$q: ${resp.body()}")
        val result = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(resp.body()).get("data").get("result")
        import scala.jdk.CollectionConverters._
        result.elements().asScala.map { s =>
          s.get("metric").properties().asScala
            .map(f => f.getKey -> f.getValue.asText()).toMap ->
            s.get("values").elements().asScala
              .map(p => (p.get(0).asDouble(), p.get(1).asText())).toSeq
        }.toMap
      }
      // the engine's answer, keyed by its series-key columns
      def engine(q: String): Series = {
        val r = store.engine().queryRange(
          graft.tsdb.PromParser.parse(q), 20L, 40L, 10L)
        assert(!r.canonical && r.seriesKey.nonEmpty, q)
        val n = r.seriesKey.size
        r.output.collect().filterNot(_.isNullAt(n + 1)).toSeq
          .groupBy(row => r.seriesKey.indices.map(i =>
            r.seriesKey(i) -> Option(row.get(i)).fold("")(_.toString)).toMap)
          .map { case (k, rows) => k -> rows.map(row =>
            (row.getLong(n) / 1000.0, row.getDouble(n + 1).toString))
            .sortBy(_._1) }
      }
      val sumRate = "sum by (u) (rate(x[5m]))"
      for ((q, asEngine) <- Seq(
          s"topk(2, $sumRate)" -> s"topk(2, $sumRate)",
          s"limitk(1, $sumRate)" -> s"limitk(1, $sumRate)",
          s"limit_ratio(0.5, $sumRate)" -> s"limit_ratio(0.5, $sumRate)",
          "sum by (a,b) (x) / on (a) group_left sum by (a) (y)" ->
            "sum by (a,b) (x) / on (a) group_left sum by (a) (y)",
          """count_values("v", x)""" -> """count_values("v", x)""",
          // the bridge's one rewrite: a bare selector is the last sample
          // per step within a step-sized lookback
          "topk by (u) (1, x)" -> "topk by (u) (1, last_over_time(x[10ms]))")) {
        val want = engine(asEngine)
        assert(want.nonEmpty, q)
        assert(bridge(q) == want, q)
      }
    } finally server.stop(0)
  }

  test("cli + http: record-grouped preserves labels per group") {
    val db = freshDb()
    assert(cli(db, "create-stream", """req{service = "web"}""", "f64")._1 == 0)
    assert(cli(db, "create-stream", """req{service = "mob"}""", "f64")._1 == 0)
    for ((t, v) <- Seq((10, 1), (20, 2), (30, 4)))
      assert(cli(db, "insert", """req{service = "web"}""",
        t.toString, v.toString)._1 == 0)
    assert(cli(db, "insert", """req{service = "mob"}""", "10", "8")._1 == 0)
    // windows (0,20] / (20,40]: web 3 / 4, mob 8 / - → 3 points
    val (c, lines) = cli(db, "record-grouped", "req_sum",
      "sum_over_time(req[20ms])", "service", "20", "40", "20")
    assert(c == 0 &&
      lines == Seq("recorded 3 points into req_sum by (service)"), lines)
    // labels survive: each group is its own first-class series
    val (c2, web) = cli(db, "query", """req_sum{service="web"}""", "0", "100")
    assert(c2 == 0 && web == Seq("20 3", "40 4"), web)
    val (c3, mob) = cli(db, "query", """req_sum{service="mob"}""", "0", "100")
    assert(c3 == 0 && mob == Seq("20 8"), mob)
    // and the derived family composes under grouping
    val (c4, roll) = cli(db, "query", "sum by (service) (req_sum)", "0", "100")
    assert(c4 == 0 && roll == Seq("mob 8", "web 7"), roll)
    // occupied-window rejection covers every group via the shared name
    assert(cli(db, "record-grouped", "req_sum", "sum_over_time(req[20ms])",
      "service", "20", "40", "20")._1 == 1)
    // the HTTP twin: /record with a "by" field
    val server = Web.start(spark, 0, Some(db))
    try {
      val port = server.getAddress.getPort
      def post(json: String) = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/record"))
          .POST(HttpRequest.BodyPublishers.ofString(json)).build(),
        HttpResponse.BodyHandlers.ofString())
      val ok = post(s"""{"path": "$db", "target": "req_sum_h",
        | "query": "sum_over_time(req[20ms])", "start": 20, "end": 40,
        | "step": 20, "by": ["service"]}""".stripMargin)
      assert(ok.statusCode() == 200 &&
        ok.body().contains(""""recorded":3"""), ok.body())
      val (c5, roll2) = cli(db, "query", "sum by (service) (req_sum_h)",
        "0", "100")
      assert(c5 == 0 && roll2 == Seq("mob 8", "web 7"), roll2)
      // "by" without "step" is a loud 400
      val bad = post(s"""{"path": "$db", "target": "req_sum_h2",
        | "query": "sum_over_time(req[20ms])", "start": 50, "end": 60,
        | "by": ["service"]}""".stripMargin)
      assert(bad.statusCode() == 400 && bad.body().contains("requires"),
        s"${bad.statusCode()} ${bad.body()}")
    } finally server.stop(0)
  }

  test("http: a symlink inside the db root pointing outside it cannot pass containment") {
    val root = freshDb()
    val outside = freshDb()
    new graft.tsdb.GraftDb(spark, outside).createStream("secret", graft.tsdb.VType.F64)
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(root, "link"),
      java.nio.file.Paths.get(outside))
    val server = Web.start(spark, 0, Some(root))
    try {
      val port = server.getAddress.getPort
      val resp = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"path": "$root/link", "query": "secret", "start": 0, "end": 9}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 400 &&
        resp.body().contains("outside db root"), s"${resp.statusCode()} ${resp.body()}")
      // a DANGLING symlink (target not created yet) must also fail —
      // Files.exists() follows links, so a naive walk would treat it
      // as a not-yet-existing component and let the store be CREATED
      // through the link, outside the root
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(root, "dangle"),
        java.nio.file.Paths.get(outside, "newdir"))
      val dang = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"path": "$root/dangle", "query": "secret", "start": 0, "end": 9}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(dang.statusCode() == 400 &&
        dang.body().contains("outside db root"),
        s"${dang.statusCode()} ${dang.body()}")
      // a REAL subdirectory still resolves fine under the same check
      val sub = s"$root/realdb"
      new graft.tsdb.GraftDb(spark, sub).createStream("ok", graft.tsdb.VType.F64)
      val okResp = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"path": "$sub", "query": "ok", "start": 0, "end": 9}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(okResp.statusCode() == 200, s"${okResp.statusCode()} ${okResp.body()}")
    } finally server.stop(0)
  }

  test("cli: record precomputes a query into a derived stream") {
    val db = freshDb()
    seed(db) // (23,45) (29,47) (40,23) (51,48)
    // sliding 20ms sums at steps 20/40/60: (0,20] empty, (20,40] = 115,
    // (40,60] = 48 — two points recorded
    val (c, lines) = cli(db, "record", "rec_sum",
      s"sum_over_time($sel[20ms])", "20", "60", "20")
    assert(c == 0 && lines == Seq("recorded 2 points into rec_sum"), lines)
    // the derived stream is a first-class catalog citizen
    val (c2, rows) = cli(db, "query", "rec_sum", "0", "100")
    assert(c2 == 0 && rows == Seq("40 115", "60 48"), rows)
    // and composes with further queries
    val (c3, s3) = cli(db, "query", "max(rec_sum)", "0", "100")
    assert(c3 == 0 && s3 == Seq("115"), s3)
    // re-recording an occupied window rejects loudly (append-only
    // store: it would duplicate samples)
    val (c4, err) = cli(db, "record", "rec_sum",
      s"sum_over_time($sel[20ms])", "20", "60", "20")
    assert(c4 == 1 && err.head.contains("re-recording would duplicate"), err)
    // a disjoint window appends fine
    val (c5, more) = cli(db, "record", "rec_sum",
      s"sum_over_time($sel[20ms])", "80", "80", "20")
    assert(c5 == 0 && more == Seq("recorded 0 points into rec_sum"), more)
    // grouped queries reject with the per-group guidance — and the
    // rejected record leaves NO phantom stream in the catalog
    val (c6, gerr) = cli(db, "record", "rec_g",
      s"sum by (service) (http_requests_total)", "0", "100")
    assert(c6 == 1 && gerr.head.contains("own target selector"), gerr)
    val (c7, streams) = cli(db, "list-all-streams")
    assert(c7 == 0 && !streams.exists(_.contains("rec_g")), streams)
    // the HTTP twin, gated on the db-root allowlist like every
    // mutating endpoint
    val server = Web.start(spark, 0, Some(db))
    try {
      val port = server.getAddress.getPort
      def post(body: String) = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/record"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      val ok = post(s"""{"path": "$db", "target": "rec_http",
        | "query": "max_over_time(http_requests_total[20ms])",
        | "start": 20, "end": 60, "step": 20}""".stripMargin)
      assert(ok.statusCode() == 200 &&
        ok.body() == """{"recorded":2,"target":"rec_http"}""", ok.body())
      val (c8, rows) = cli(db, "query", "rec_http", "0", "100")
      assert(c8 == 0 && rows == Seq("40 47", "60 48"), rows)
    } finally server.stop(0)
    // without an allowlist the endpoint refuses outright
    val open = Web.start(spark, 0)
    try {
      val port = open.getAddress.getPort
      val resp = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/record"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"path": "$db", "target": "x", "query": "m",
              | "start": 0, "end": 1}""".stripMargin)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 400 &&
        resp.body().contains("recording disabled"), resp.body())
    } finally open.stop(0)
  }

  test("cli: csv path with a non-vector result errors loudly") {
    val db = freshDb()
    seed(db)
    val csv = Files.createTempDirectory("graft_csv").resolve("out.csv").toString
    // scalar result + csv path: explicit error, exit 1, no file written
    val (code, lines) = cli(db, "query", s"sum($sel)", "23", "51", csv)
    assert(code == 1 && lines.exists(_.startsWith("error: cannot export")),
      s"$code $lines")
    assert(!Files.exists(java.nio.file.Paths.get(csv)))
  }

  test("cli: chart renders the vector as an ascii line plot") {
    val db = freshDb()
    seed(db)
    val (code, lines) = cli(db, "chart", sel, "23", "51")
    assert(code == 0)
    val body = lines.mkString("\n")
    // value extremes label the y-axis; all four samples are plotted
    assert(body.contains("48 |") && body.contains("23 |"), body)
    assert(body.count(_ == '*') == 4, body)
    assert(body.contains("23 .. 51  n=4"), body)
    // scalar queries fall back to the plain value print
    val (c2, scalar) = cli(db, "chart", s"sum($sel)", "23", "51")
    assert(c2 == 0 && scalar == Seq("163"))
  }

  test("chart: degenerate series render without dividing by zero") {
    assert(Chart.render(Nil) == "(no data)")
    val one = Chart.render(Seq((100L, 5.0)))
    assert(one.contains("*") && one.contains("100 .. 100  n=1"))
    val flat = Chart.render(Seq((0L, 7.0), (10L, 7.0), (20L, 7.0)))
    assert(flat.count(_ == '*') == 3)
    val nan = Chart.render(Seq((0L, Double.NaN)))
    assert(nan == "(no data)")
  }

  test("cli: compact merges the four insert deltas, sums unchanged") {
    val db = freshDb()
    seed(db) // four flushes into bucket 0 -> four delta files
    val (c1, msg) = cli(db, "compact", "1")
    assert(c1 == 0 && msg == Seq("compacted 1 partitions"))
    val (c2, full) = cli(db, "query", s"sum($sel)", "23", "51")
    assert(c2 == 0 && full == Seq("163"))
    val (c3, again) = cli(db, "compact", "1")
    assert(c3 == 0 && again == Seq("compacted 0 partitions"))
  }

  test("cli: expire drops the old bucket, later data remains") {
    val db = freshDb()
    seed(db) // four samples, all in hourly bucket 0
    val hour = 3600L * 1000
    assert(cli(db, "insert", sel, (hour + 5).toString, "7")._1 == 0)
    val (c1, msg) = cli(db, "expire", hour.toString)
    assert(c1 == 0 && msg == Seq("expired 1 partitions"))
    val (c2, sum) = cli(db, "query", s"sum($sel)", "0", (2 * hour).toString)
    assert(c2 == 0 && sum == Seq("7"))
  }

  test("cli: list-all-streams and parse-headers see the stream") {
    val db = freshDb()
    seed(db)
    val (c1, ls) = cli(db, "list-all-streams")
    assert(c1 == 0 && ls.size == 1)
    assert(ls.head.contains("http_requests_total") &&
      ls.head.contains(""""service" = "web"""") && ls.head.contains("u64"))
    val (c2, hdrs) = cli(db, "parse-headers")
    assert(c2 == 0 && hdrs.size == 1)
    assert(hdrs.head.contains("163")) // value_sum over the whole stream
  }

  test("cli: csv export + import round-trip") {
    val db = freshDb()
    seed(db)
    val csvDir = Files.createTempDirectory("graft_csv").toString + "/out"
    val (c1, msg) = cli(db, "query", sel, "23", "51", csvDir)
    assert(c1 == 0 && msg.exists(_.contains("exported")))

    val db2 = freshDb()
    assert(cli(db2, "create-stream", sel, "u64")._1 == 0)
    val part = new java.io.File(csvDir).listFiles()
      .find(_.getName.endsWith(".csv")).get
    assert(cli(db2, "import-csv", sel, part.toString)._1 == 0)
    assert(cli(db2, "query", s"sum($sel)", "23", "51")._2 == Seq("163"))
  }

  test("cli: repl evaluates queries line by line and survives errors") {
    val db = freshDb()
    seed(db)
    val out = ArrayBuffer.empty[String]
    val in = new BufferedReader(new StringReader(
      s"sum($sel)\nnot a query!!\ncount($sel)\n"))
    assert(Cli.run(spark, db, Seq.empty, in, out += _) == 0)
    val body = out.toSeq.drop(1) // header line
    assert(body.take(1) == Seq("163"))
    assert(body(1).startsWith("error:"))
    assert(body(2) == "4")
    assert(body.last == "exiting")
  }

  test("cli: delete-stream removes the stream; deleted queries read empty") {
    val db = freshDb()
    seed(db)
    assert(cli(db, "query", s"count($sel)", "0", "100")._2 == Seq("4"))
    val (code, out) = cli(db, "delete-stream", sel)
    assert(code == 0 && out.exists(_.contains("deleted")), out)
    assert(cli(db, "list-all-streams")._2.isEmpty)
    assert(cli(db, "query", s"count($sel)", "0", "100")._2 == Seq("0"))
    // deleting a stream that no longer exists fails non-zero
    assert(cli(db, "delete-stream", sel)._1 == 1)
  }

  test("cli: unknown command and bad value type fail non-zero") {
    val db = freshDb()
    assert(cli(db, "frobnicate")._1 == 2)
    val (code, out) = cli(db, "create-stream", sel, "i32")
    assert(code == 1 && out.exists(_.contains("i64|u64|f64")))
  }

  test("cli: query-range slides, label-values lists the catalog") {
    val db = freshDb()
    seed(db) // samples (23,45) (29,47) (40,23) (51,48)
    val (c, rows) = cli(db, "query-range",
      "sum_over_time(http_requests_total[20ms])", "40", "60", "10")
    assert(c == 0 && rows == Seq("40 115", "50 23", "60 48"))
    val (c2, vals) = cli(db, "label-values", "service")
    assert(c2 == 0 && vals == Seq("web"))
    assert(cli(db, "label-values", "nope")._2.isEmpty)
  }

  test("http: a step field switches /query to sliding query_range evaluation") {
    val db = freshDb()
    seed(db) // samples (23,45) (29,47) (40,23) (51,48)
    // sliding (T-20, T] at 10ms steps: T=40 → 115, T=50 → 23, T=60 → 48;
    // range functions are Float64 regardless of the stream's u64 type
    val server = Web.start(spark, 0)
    try {
      val port = server.getAddress.getPort
      def post(json: String): String = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query"))
          .POST(HttpRequest.BodyPublishers.ofString(json)).build(),
        HttpResponse.BodyHandlers.ofString()).body()
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.readTree(post(
        s"""{"path": "$db", "query": "sum_over_time(http_requests_total[20ms])",
           | "start": 40, "end": 60, "step": 10}""".stripMargin))
      assert(node.get("value_type").asText() == "Float64")
      val ts = (0 until node.get("timestamps").size())
        .map(node.get("timestamps").get(_).asLong())
      val vs = (0 until node.get("values_f64").size())
        .map(node.get("values_f64").get(_).asDouble())
      assert(ts.zip(vs).sortBy(_._1).toSeq ==
        Seq((40L, 115.0), (50L, 23.0), (60L, 48.0)))
      // without step: the tumbling whole-range shape, unchanged contract
      val p = mapper.readTree(post(
        s"""{"path": "$db", "query": "sum_over_time(http_requests_total[20ms])",
           | "start": 23, "end": 51}""".stripMargin))
      assert(p.get("timestamps").size() == 2) // [23,43) and [43,51]
    } finally server.stop(0)
  }

  test("http: /compact merges deltas and respects the db-root allowlist") {
    val db = freshDb()
    seed(db) // four flushes -> four delta files
    val server = Web.start(spark, 0, dbRoot = Some(db))
    try {
      val port = server.getAddress.getPort
      val client = HttpClient.newHttpClient()
      def post(json: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/compact"))
          .POST(HttpRequest.BodyPublishers.ofString(json)).build(),
        HttpResponse.BodyHandlers.ofString())
      val ok = post(s"""{"path": "$db", "max_files": 1}""")
      assert(ok.statusCode() == 200)
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(ok.body())
      assert(node.get("compacted_partitions").asLong() == 1L)
      // query still answers after the swap
      val (c, out) = cli(db, "query", s"sum($sel)", "23", "51")
      assert(c == 0 && out == Seq("163"))
      // outside the allowlist -> 400, no compaction
      val bad = post("""{"path": "/tmp/elsewhere"}""")
      assert(bad.statusCode() == 400)
    } finally server.stop(0)

    // a server with NO allowlist refuses the destructive op entirely
    val open = Web.start(spark, 0)
    try {
      val port = open.getAddress.getPort
      val refused = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/compact"))
          .POST(HttpRequest.BodyPublishers.ofString(s"""{"path": "$db"}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(refused.statusCode() == 400 &&
        refused.body().contains("compaction disabled"))
    } finally open.stop(0)
  }

  test("http: /expire enforces retention under the same allowlist") {
    val db = freshDb()
    seed(db) // bucket 0
    val hour = 3600L * 1000
    assert(cli(db, "insert", sel, (hour + 5).toString, "9")._1 == 0)
    val server = Web.start(spark, 0, dbRoot = Some(db))
    try {
      val port = server.getAddress.getPort
      val client = HttpClient.newHttpClient()
      def post(json: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/expire"))
          .POST(HttpRequest.BodyPublishers.ofString(json)).build(),
        HttpResponse.BodyHandlers.ofString())
      val ok = post(s"""{"path": "$db", "before_ms": $hour}""")
      assert(ok.statusCode() == 200)
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(ok.body())
      assert(node.get("expired_partitions").asLong() == 1L)
      val (c, out) = cli(db, "query", s"sum($sel)", "0", (2 * hour).toString)
      assert(c == 0 && out == Seq("9"))
      // missing cutoff and out-of-allowlist paths both 400
      assert(post(s"""{"path": "$db"}""").statusCode() == 400)
      assert(post(s"""{"path": "/tmp/elsewhere", "before_ms": 1}""")
        .statusCode() == 400)
    } finally server.stop(0)
  }

  test("http: /delete-stream removes a stream under the same allowlist") {
    val db = freshDb()
    seed(db)
    val server = Web.start(spark, 0, dbRoot = Some(db))
    try {
      val port = server.getAddress.getPort
      val client = HttpClient.newHttpClient()
      def post(json: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/delete-stream"))
          .POST(HttpRequest.BodyPublishers.ofString(json)).build(),
        HttpResponse.BodyHandlers.ofString())
      val escSel = sel.replace("\"", "\\\"")
      val ok = post(s"""{"path": "$db", "selector": "$escSel"}""")
      assert(ok.statusCode() == 200, ok.body())
      assert(cli(db, "list-all-streams")._2.isEmpty)
      // missing selector and out-of-allowlist paths both 400
      assert(post(s"""{"path": "$db"}""").statusCode() == 400)
      assert(post(s"""{"path": "/tmp/elsewhere", "selector": "x"}""")
        .statusCode() == 400)
    } finally server.stop(0)
  }

  test("http: /health and /query parity with the reference shapes") {
    val db = freshDb()
    seed(db)
    val server = Web.start(spark, 0)
    try {
      val port = server.getAddress.getPort
      val client = HttpClient.newHttpClient()
      val health = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/health")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(health.statusCode() == 200)

      def post(json: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query"))
          .POST(HttpRequest.BodyPublishers.ofString(json)).build(),
        HttpResponse.BodyHandlers.ofString())

      // vector query: typed u64 values, parallel timestamps array
      val vec = post(
        s"""{"path": "$db", "query": "http_requests_total{service = \\"web\\"}", "start": 23, "end": 51}""")
      assert(vec.statusCode() == 200)
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(vec.body())
      assert(node.get("value_type").asText() == "UInteger64")
      assert((0 until 4).map(node.get("timestamps").get(_).asLong()) == Seq(23L, 29L, 40L, 51L))
      assert((0 until 4).map(node.get("values_u64").get(_).asLong()) == Seq(45L, 47L, 23L, 48L))
      assert(node.get("values_i64").isNull && node.get("values_f64").isNull)

      // scalar query: empty timestamps, single summed value
      val sc = post(
        s"""{"path": "$db", "query": "sum(http_requests_total{service = \\"web\\"})", "start": 23, "end": 51}""")
      val scNode = new com.fasterxml.jackson.databind.ObjectMapper().readTree(sc.body())
      assert(scNode.get("timestamps").size() == 0)
      assert(scNode.get("values_u64").get(0).asLong() == 163L)

      // bad request: missing query field
      assert(post(s"""{"path": "$db"}""").statusCode() == 400)
    } finally server.stop(0)
  }

  test("http: db-root allowlist rejects paths outside it") {
    val db = freshDb()
    seed(db)
    val server = Web.start(spark, 0, dbRoot = Some(db))
    try {
      val port = server.getAddress.getPort
      val client = HttpClient.newHttpClient()
      def post(json: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query"))
          .POST(HttpRequest.BodyPublishers.ofString(json)).build(),
        HttpResponse.BodyHandlers.ofString())
      // inside the root: served
      val ok = post(s"""{"path": "$db", "query": "sum(http_requests_total{service = \\"web\\"})", "start": 23, "end": 51}""")
      assert(ok.statusCode() == 200)
      // outside the root (including traversal): rejected, no dir created
      val bad = post(s"""{"path": "/tmp/graft_other_root", "query": "x", "start": 0, "end": 1}""")
      assert(bad.statusCode() == 400 && bad.body().contains("outside db root"))
      val trav = post(s"""{"path": "$db/../escape", "query": "x", "start": 0, "end": 1}""")
      assert(trav.statusCode() == 400)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get("/tmp/graft_other_root")))
    } finally server.stop(0)
  }

  /** Three `x{u=…}` counter series of `n` samples `gapMs` apart, each
    * flushed twice (odd samples, then even ones), so every partition
    * the samples touch holds six delta files.
    */
  private def counterStore(db: String = freshDb(), n: Int = 6,
      gapMs: Long = 10L): String = {
    val store = new graft.tsdb.GraftDb(spark, db)
    for ((u, slope) <- Seq("p" -> 1d, "q" -> 3d, "r" -> 5d)) {
      val sel = s"""x{u="$u"}"""
      store.createStream(sel, graft.tsdb.VType.F64)
      val ins = store.inserter(sel)
      for (parity <- Seq(1, 0)) {
        (1 to n).filter(_ % 2 == parity)
          .foreach(i => ins.insert(gapMs * i, slope * i))
        ins.flush()
      }
    }
    db
  }

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")

  /** GET /api/v1/query_range, by default over [20, 60] ms at a 10 ms step. */
  private def queryRange(port: Int, db: String, q: String,
      range: String = "start=0.02&end=0.06&step=10ms"): HttpResponse[String] =
    HttpClient.newHttpClient().send(HttpRequest.newBuilder(URI.create(
      s"http://localhost:$port/api/v1/query_range?path=${enc(db)}" +
        s"&query=${enc(q)}&$range")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def postJson(port: Int, endpoint: String,
      body: String): HttpResponse[String] =
    HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$endpoint"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  /** Run every thunk on its own thread, released together. */
  private def together[A](thunks: Seq[() => A]): Seq[A] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val go = new java.util.concurrent.CountDownLatch(1)
    try {
      val fs = thunks.map(t => Future { go.await(); t() })
      go.countDown()
      Await.result(Future.sequence(fs), 60.seconds)
    } finally pool.shutdown()
  }

  test("http: a by () root answers like the groupless aggregate") {
    val db = counterStore()
    val server = Web.start(spark, 0)
    try {
      val port = server.getAddress.getPort
      val byNone = queryRange(port, db, "sum by () (rate(x[5m]))")
      val pooled = queryRange(port, db, "sum(rate(x[5m]))")
      assert(byNone.statusCode() == 200, byNone.body())
      assert(pooled.statusCode() == 200, pooled.body())
      assert(pooled.body().contains("\"values\":[["), pooled.body())
      assert(byNone.body() == pooled.body())
    } finally server.stop(0)
  }

  test("http: a client stalled mid-body does not hold up /health") {
    val server = Web.start(spark, 0)
    val port = server.getAddress.getPort
    val stalled = new java.net.Socket("localhost", port)
    try {
      // headers promise 1000 body bytes; only a few ever arrive
      stalled.getOutputStream.write(("POST /query HTTP/1.1\r\n" +
        s"Host: localhost:$port\r\nContent-Length: 1000\r\n\r\n{\"pa")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      stalled.getOutputStream.flush()
      val health = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/health"))
          .timeout(java.time.Duration.ofSeconds(3)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(health.statusCode() == 200)
    } finally {
      stalled.close()
      server.stop(0)
    }
  }

  test("http: concurrent query_range requests answer exactly as serial ones") {
    val db = counterStore()
    val server = Web.start(spark, 0)
    try {
      val port = server.getAddress.getPort
      val shapes = Seq("rate(x{u=\"p\"}[30ms])", "sum by (u) (rate(x[30ms]))",
        "topk(2, sum by (u) (rate(x[30ms])))", "sum(rate(x[30ms]))",
        "bottomk(1, sum by (u) (rate(x[30ms])))", "rate(x{u=\"r\"}[20ms])",
        "sum by (u) (sum_over_time(x[20ms]))", "topk(1, sum by (u) (x))")
      val serial = shapes.map { q =>
        val r = queryRange(port, db, q)
        assert(r.statusCode() == 200, s"$q: ${r.body()}")
        r.body()
      }
      val concurrent = together(shapes.map(q => () => queryRange(port, db, q)))
      shapes.indices.foreach { i =>
        assert(concurrent(i).statusCode() == 200, concurrent(i).body())
        assert(concurrent(i).body() == serial(i), shapes(i))
      }
    } finally server.stop(0)
  }

  test("http: compact, record and query_range on one store overlap safely") {
    // samples every 20 min over 12 h: compaction swaps 13 hourly
    // partitions while the reads list and scan them
    val (n, gapMs) = (36, 20L * 60 * 1000)
    val range = "start=3600&end=43200&step=20m"
    val root = Files.createTempDirectory("graft_cli_root")
    val dbA = counterStore(root.resolve("a").toString, n, gapMs)
    val dbB = counterStore(root.resolve("b").toString, n, gapMs)
    val server = Web.start(spark, 0, Some(root.toString))
    try {
      val port = server.getAddress.getPort
      val shapes = Seq("sum by (u) (rate(x[1h]))", "rate(x{u=\"q\"}[1h])",
        "topk(2, sum by (u) (sum_over_time(x[40m])))")
      def ok(r: HttpResponse[String]): String = {
        assert(r.statusCode() == 200, r.body()); r.body()
      }
      // the two writes, then the reads, each yielding its body
      def writes(db: String): Seq[() => String] = Seq(
        () => ok(postJson(port, "/compact", s"""{"path": "$db", "max_files": 2}""")),
        () => ok(postJson(port, "/record", s"""{"path": "$db",
          | "target": "rec_x", "query": "sum(rate(x[1h]))",
          | "start": 3600000, "end": 43200000, "step": 1200000}""".stripMargin)))
      def read(db: String, q: String) = () => ok(queryRange(port, db, q, range))
      val serial = (writes(dbB) ++ shapes.map(read(dbB, _))).map(_())
      // every read four times, so reads stay in flight across the swaps
      val concurrent = together(
        writes(dbA) ++ shapes.flatMap(q => Seq.fill(4)(read(dbA, q))))
      assert(serial.head == """{"compacted_partitions":13}""", serial.head)
      assert(concurrent ==
        serial.take(2) ++ serial.drop(2).flatMap(Seq.fill(4)(_)))
      // the stores the two runs leave behind answer alike
      for (q <- Seq(shapes.head, "rec_x"))
        assert(read(dbA, q)() == read(dbB, q)(), q)
    } finally server.stop(0)
  }

  test("http: the worker pool is daemon threads, so a stopped server holds no JVM open") {
    val server = Web.start(spark, 0)
    val prefix = s"graft-web-${server.getAddress.getPort}-"
    try {
      val port = server.getAddress.getPort
      together(Seq.fill(4)(() => HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/health"))
          .GET().build(), HttpResponse.BodyHandlers.ofString()).statusCode()))
        .foreach(code => assert(code == 200))
    } finally server.stop(0)
    import scala.jdk.CollectionConverters._
    val workers = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith(prefix))
    assert(workers.nonEmpty)
    assert(workers.forall(_.isDaemon), workers.map(_.getName))
  }

  test("http: query_range and a stepped /query refuse more than 11,000 points per series") {
    val db = freshDb()
    seed(db)
    val server = Web.start(spark, 0)
    val tooFine = "exceeded maximum resolution of 11,000 points per " +
      "timeseries. Try decreasing the query resolution (?step=XX)"
    try {
      val port = server.getAddress.getPort
      val fine = queryRange(port, db, sel, "start=0&end=86400&step=1ms")
      assert(fine.statusCode() == 400, fine.body())
      assert(fine.body().contains(""""errorType":"bad_data""""), fine.body())
      assert(fine.body().contains(tooFine), fine.body())
      val coarse = queryRange(port, db, sel, "start=0&end=86400&step=10")
      assert(coarse.statusCode() == 200, coarse.body())
      // each end fits in a Long (±9e18 ms), their difference does not:
      // the span saturates instead of wrapping negative
      val wide = queryRange(port, db, sel, "start=-9e15&end=9e15&step=1000")
      assert(wide.statusCode() == 400, wide.body())
      assert(wide.body().contains(tooFine), wide.body())
      // /query with a "step" runs the same per-step evaluation
      def stepped(step: Long) = postJson(port, "/query",
        s"""{"path": "$db", "query": "sum_over_time(http_requests_total[1m])",
           | "start": 0, "end": 86400000, "step": $step}""".stripMargin)
      val fineQ = stepped(1)
      assert(fineQ.statusCode() == 400, fineQ.body())
      assert(fineQ.body().contains(tooFine), fineQ.body())
      val coarseQ = stepped(10000)
      assert(coarseQ.statusCode() == 200, coarseQ.body())
    } finally server.stop(0)
  }

  test("http: the bridge orders series as Spark does — NULL first, UTF-8 bytes") {
    val db = freshDb()
    val store = new graft.tsdb.GraftDb(spark, db)
    // U+FF61 sorts before U+1F600 by UTF-8 bytes, after it by UTF-16
    // code units; the `v` series has no `u` label (a NULL key cell)
    for ((sel, slope) <- Seq("x{u=\"\uD83D\uDE00\"}" -> 1d,
        "x{u=\"\uFF61\"}" -> 2d, """x{v="1"}""" -> 3d)) {
      store.createStream(sel, graft.tsdb.VType.F64)
      val ins = store.inserter(sel)
      (1 to 4).foreach(i => ins.insert(10L * i, slope * i))
      ins.flush()
    }
    val q = "sum by (u) (sum_over_time(x[20ms]))"
    val server = Web.start(spark, 0)
    try {
      val resp = queryRange(server.getAddress.getPort, db, q,
        "start=0.02&end=0.04&step=10ms")
      assert(resp.statusCode() == 200, resp.body())
      import scala.jdk.CollectionConverters._
      val got = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(resp.body()).get("data").get("result").elements().asScala
        .flatMap { s =>
          val u = s.get("metric").get("u").asText()
          s.get("values").elements().asScala
            .map(p => (u, p.get(0).asDouble(), p.get(1).asText()))
        }.toSeq
      val r = store.engine().queryRange(
        graft.tsdb.PromParser.parse(q), 20L, 40L, 10L)
      val want = r.output
        .orderBy((r.seriesKey :+ "timestamp").map(
          org.apache.spark.sql.functions.col): _*)
        .collect().filterNot(_.isNullAt(2)).toSeq
        .map(row => (Option(row.getString(0)).getOrElse(""),
          row.getLong(1) / 1000.0, row.getDouble(2).toString))
      assert(got.map(_._1).distinct == Seq("", "\uFF61", "\uD83D\uDE00"))
      assert(got == want)
    } finally server.stop(0)
  }

  test("http: grouped /query answers order as Spark does — NULL first, UTF-8 bytes") {
    val db = freshDb()
    val store = new graft.tsdb.GraftDb(spark, db)
    // U+FF61 sorts before U+1F600 by UTF-8 bytes, after it by UTF-16
    // code units; the `v` series has no `u` label (a NULL key cell)
    for ((sel, slope) <- Seq("x{u=\"\uD83D\uDE00\"}" -> 1d,
        "x{u=\"\uFF61\"}" -> 2d, """x{v="1"}""" -> 3d)) {
      store.createStream(sel, graft.tsdb.VType.F64)
      val ins = store.inserter(sel)
      (1 to 4).foreach(i => ins.insert(10L * i, slope * i))
      ins.flush()
    }
    val server = Web.start(spark, 0)
    try {
      import scala.jdk.CollectionConverters._
      for ((q, step) <- Seq("sum by (u) (x)" -> None,
          "sum by (u) (sum_over_time(x[20ms]))" -> Some(10L))) {
        val resp = postJson(server.getAddress.getPort, "/query",
          s"""{"path": "$db", "query": "$q", "start": 10, "end": 40""" +
            step.fold("")(st => s""", "step": $st""") + "}")
        assert(resp.statusCode() == 200, resp.body())
        val got = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(resp.body()).get("groups").elements().asScala
          .map(o => (Option(o.get("u")).filterNot(_.isNull).map(_.asText()),
            Option(o.get("timestamp")).map(_.asLong()),
            o.get("value").asDouble())).toSeq
        // the distributed orderBy over every column, on the caller's
        // session
        val r = step.fold(store.query(q, 10, 40))(
          store.queryRange(q, 10, 40, _))
        val want = r.output.orderBy(r.output.columns.map(
            org.apache.spark.sql.functions.col): _*).collect().toSeq
          .map(row => (Option(row.getString(0)),
            step.map(_ => row.getLong(1)), row.getDouble(row.length - 1)))
        assert(got.map(_._1).distinct ==
          Seq(None, Some("\uFF61"), Some("\uD83D\uDE00")), got)
        assert(got == want)
      }
    } finally server.stop(0)
  }

  test("http: time-component functions answer in UTC whatever the session zone") {
    val db = freshDb()
    val store = new graft.tsdb.GraftDb(spark, db)
    // epoch 0, and 2024-01-06 23:00:00 UTC — a Saturday, already
    // Sunday 04:30 in Asia/Kolkata (UTC+05:30)
    for ((name, v) <- Seq("zero" -> 0d, "late" -> 1704582000d)) {
      store.createStream(name, graft.tsdb.VType.F64)
      val ins = store.inserter(name)
      ins.insert(10L, v)
      ins.flush()
    }
    val caller = spark.newSession()
    caller.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    val server = Web.start(caller, 0)
    try {
      def answer(q: String): Double = {
        val resp = postJson(server.getAddress.getPort, "/query",
          s"""{"path": "$db", "query": "$q", "start": 0, "end": 100}""")
        assert(resp.statusCode() == 200, resp.body())
        val vs = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(resp.body()).get("values_f64")
        assert(vs.size() == 1, resp.body())
        vs.get(0).asDouble()
      }
      assert(answer("hour(zero)") == 0d)
      assert(answer("minute(zero)") == 0d)
      assert(answer("day_of_week(late)") == 6d)
      assert(answer("day_of_month(late)") == 6d)
      assert(answer("hour(late)") == 23d)
    } finally server.stop(0)
  }

  test("http: the server's own session answers like the caller's and leaves it unchanged") {
    val db = freshDb()
    val store = new graft.tsdb.GraftDb(spark, db)
    // FIXTURES 3c "complex": `a + b` is the interpolated align, whose
    // bucket count follows spark.sql.shuffle.partitions
    for ((name, ts, vs) <- Seq(
        ("a", Seq(1L, 2L, 4L, 6L, 10L, 12L, 13L, 14L, 15L, 16L),
          Seq(10L, 20L, 30L, 20L, 20L, 10L, 15L, 20L, 80L, 100L)),
        ("b", Seq(3L, 5L, 7L, 8L, 9L, 11L, 16L),
          Seq(30L, 30L, 10L, 20L, 20L, 10L, 10L)))) {
      store.createStream(name, graft.tsdb.VType.U64)
      val ins = store.inserter(name)
      ts.zip(vs).foreach { case (t, v) => ins.insert(t, v) }
      ins.flush()
    }
    val server = Web.start(spark, 0)
    try {
      val resp = postJson(server.getAddress.getPort, "/query",
        s"""{"path": "$db", "query": "a + b", "start": 0, "end": 100}""")
      assert(resp.statusCode() == 200, resp.body())
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(resp.body())
      import scala.jdk.CollectionConverters._
      def column(k: String) =
        node.get(k).elements().asScala.map(_.asDouble()).toSeq
      val want = store.query("a + b", 0, 100).output.collect()
        .map(r => (r.getLong(0).toDouble, r.getAs[Number](1).doubleValue()))
        .sortBy(_._1).toSeq
      assert(want == (1L to 16L).map(_.toDouble).zip(Seq(40d, 50d, 55d, 60d,
        55d, 40d, 30d, 40d, 40d, 35d, 25d, 20d, 25d, 30d, 90d, 110d)))
      assert(column("timestamps").zip(column("values_u64")) == want)
    } finally server.stop(0)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "32")
    // a caller whose time zone is set at runtime, not in the SparkConf
    val (tz, width) = ("spark.sql.session.timeZone", "spark.sql.shuffle.partitions")
    val caller = spark.newSession()
    caller.conf.set(tz, "Asia/Kolkata")
    val serving = Web.servingSession(caller)
    assert(serving.conf.get(tz) == "Asia/Kolkata")
    assert(serving.conf.get(width) == "1")
    assert(caller.conf.get(width) == "32")
  }
}
