package perfbench

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import ServeData._
import ServeRequests._

/** The serve-dashboard request stream: a fixed rotation of dashboard
  * shapes, with seeded (Zipf-like) selector choice and windows.
  */
object ServeRequests {
  sealed trait Kind { def name: String }
  case object RangeRate extends Kind { val name = "range_rate" }
  case object RangeSumBy extends Kind { val name = "range_sum_by" }
  case object RangeTopk extends Kind { val name = "range_topk" }
  case object RangeAvgBy extends Kind { val name = "range_avg_by" }
  case object InstantSumBy extends Kind { val name = "instant_sum_by" }
  case object InstantGauge extends Kind { val name = "instant_gauge" }
  case object RefScan extends Kind { val name = "ref_scan" }
  case object RefAgg extends Kind { val name = "ref_agg" }

  /** Fixed rotation, so every run sends the same mix of shapes. Grouped
    * rate shapes filter on the other label, so each group holds one
    * series: the engine pools a group's samples into one series before a
    * range function, and one-series groups make that pooled answer equal
    * the per-series one computed here.
    */
  val Rotation: Vector[Kind] = Vector(RangeRate, RefAgg, RangeSumBy, InstantGauge,
    RangeTopk, RefScan, RangeAvgBy, InstantSumBy)

  val WindowHours: Vector[Int] = Vector(1, 4, 2, 6, 3, 5)

  val RefAggs: Vector[String] = Vector("sum", "count", "avg", "min", "max", "topk", "bottomk")

  /** One dashboard request. `endpoint` is the HTTP path; `params` its
    * query string (Prometheus API) or JSON body fields (`/query`).
    */
  final case class Request(id: Int, kind: Kind, endpoint: String, query: String,
      startMs: Long, endMs: Long, stepMs: Long, service: String, instance: String)

  /** Zipf-like pick: weight 1/(rank+1) over a seeded order of `xs`. */
  private def zipf[T](rnd: Random, xs: Vector[T]): T = {
    val w = xs.indices.map(i => 1.0 / (i + 1))
    var u = rnd.nextDouble() * w.sum
    var i = 0
    while (i < xs.size - 1 && u >= w(i)) { u -= w(i); i += 1 }
    xs(i)
  }

  def requests(seed: Long, n: Int): Vector[Request] = {
    val rnd = new Random(seed)
    val svcOrder = rnd.shuffle(Services)
    val instOrder = rnd.shuffle(Instances)
    (0 until n).map { id =>
      val kind = Rotation(id % Rotation.size)
      val svc = zipf(rnd, svcOrder)
      val inst = zipf(rnd, instOrder)
      // recent, minute-aligned evaluation end within the last 30 minutes
      val end = LastMs - rnd.nextInt(30) * IntervalMs
      // window lengths follow a fixed cycle, so every seed does the same scan work
      val hours = WindowHours((id / Rotation.size) % WindowHours.size)
      val start = end - hours * HourMs
      val step = IntervalMs
      kind match {
        case RangeRate => Request(id, kind, "/api/v1/query_range",
          s"""rate($Counter{service="$svc",instance="$inst"}[5m])""", start, end, step, svc, inst)
        case RangeSumBy => Request(id, kind, "/api/v1/query_range",
          s"""sum by (service)(rate($Counter{instance="$inst"}[5m]))""", start, end, step, svc, inst)
        case RangeTopk => Request(id, kind, "/api/v1/query_range",
          s"""topk(3, sum by (instance)(rate($Counter{service="$svc"}[5m])))""", start, end, step, svc, inst)
        case RangeAvgBy => Request(id, kind, "/api/v1/query_range",
          s"avg by (service)($Gauge)", start, end, step, svc, inst)
        case InstantSumBy => Request(id, kind, "/api/v1/query",
          s"""sum by (service)(rate($Counter{instance="$inst"}[5m]))""", end, end, 0L, svc, inst)
        case InstantGauge => Request(id, kind, "/api/v1/query",
          s"""avg by (instance)($Gauge{service="$svc"})""", end, end, 0L, svc, inst)
        case RefScan =>
          val w = (10 + rnd.nextInt(21)) * IntervalMs
          Request(id, kind, "/query",
            s"""$Counter{service="$svc",instance="$inst"}""", end - w, end, 0L, svc, inst)
        case RefAgg =>
          val w = (10 + rnd.nextInt(21)) * IntervalMs
          val sel = s"""$Counter{service="$svc",instance="$inst"}"""
          val agg = RefAggs(Math.floorMod(id / Rotation.size + seed, RefAggs.size.toLong).toInt)
          val q = if (agg == "topk" || agg == "bottomk") s"$agg(3, $sel)" else s"$agg($sel)"
          Request(id, kind, "/query", q, end - w, end, 0L, svc, inst)
      }
    }.toVector
  }
}

/** Expected answers of the serve-dashboard requests, computed from the
  * generator's parameters, and the comparison of a response body with
  * them. A check returns None when the answer is right, else the reason.
  */
final class ServeCheck(streams: Vector[Stream]) {
  private val mapper = new ObjectMapper()

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  private def ratePerS(s: Stream): Double = s.inc / 60.0

  private def stepsOf(r: Request): Int = ((r.endMs - r.startMs) / r.stepMs).toInt + 1

  /** Mean of the gauge samples of `ss` in the window (tMs - wMs, tMs]. */
  private def gaugeMean(ss: Seq[Stream], tMs: Long, wMs: Long): Double = {
    val ks = (lastIndex(tMs - wMs) + 1) to lastIndex(tMs)
    val g = for (s <- ss; k <- ks) yield gaugeAt(s, tsOf(k))
    g.sum / g.size
  }

  /** label -> expected value per step time, for the Prometheus-API kinds */
  private def expectedSeries(r: Request): (String, Map[String, Long => Double]) = r.kind match {
    case RangeRate =>
      // one unlabeled series
      "" -> Map("" -> ((_: Long) => ratePerS(stream(r))))
    case RangeSumBy | InstantSumBy =>
      "service" -> streams.filter(_.instance == r.instance)
        .map(s => s.service -> ((_: Long) => ratePerS(s))).toMap
    case RangeTopk =>
      "instance" -> streams.filter(_.service == r.service).sortBy(-_.inc).take(3)
        .map(s => s.instance -> ((_: Long) => ratePerS(s))).toMap
    case RangeAvgBy =>
      "service" -> Services.map(svc => svc -> ((t: Long) =>
        gaugeMean(streams.filter(_.service == svc), t, r.stepMs))).toMap
    case InstantGauge =>
      "instance" -> streams.filter(_.service == r.service)
        .map(s => s.instance -> ((t: Long) => gaugeMean(Seq(s), t, LookbackMs))).toMap
    case other => throw new IllegalArgumentException(s"not a Prometheus-API kind: $other")
  }

  def check(r: Request, status: Int, body: String): Option[String] =
    if (status != 200) Some(s"${r.kind.name}: HTTP $status ${body.take(120)}")
    else try {
      val root = mapper.readTree(body)
      r.kind match {
        case RefScan | RefAgg => checkRef(r, root)
        case _ => checkProm(r, root)
      }
    } catch {
      case e: Exception => Some(s"${r.kind.name}: unreadable answer: ${e.getMessage}")
    }

  private def checkProm(r: Request, root: JsonNode): Option[String] = {
    if (root.path("status").asText() != "success") return Some(s"${r.kind.name}: status not success")
    val (label, want) = expectedSeries(r)
    val instant = r.stepMs == 0L
    val result = root.path("data").path("result").elements().asScala.toList
    val got = result.map(s => (if (label.isEmpty) "" else s.path("metric").path(label).asText()) -> s).toMap
    if (got.keySet != want.keySet)
      return Some(s"${r.kind.name}: series ${got.keySet.toSeq.sorted} != ${want.keySet.toSeq.sorted}")
    val bad = want.flatMap { case (key, f) =>
      val pts: List[(Long, Double)] =
        if (instant) List(got(key).path("value")).map(p =>
          (math.round(p.get(0).asDouble() * 1000), p.get(1).asText().toDouble))
        else got(key).path("values").elements().asScala.toList.map(p =>
          (math.round(p.get(0).asDouble() * 1000), p.get(1).asText().toDouble))
      val n = if (instant) 1 else stepsOf(r)
      if (pts.size != n) Some(s"$key has ${pts.size} points, want $n")
      else pts.collectFirst {
        case (t, v) if !close(v, f(t)) => s"$key at $t: $v != ${f(t)}"
      }
    }
    bad.headOption.map(b => s"${r.kind.name}: $b")
  }

  private def stream(r: Request): Stream =
    streams.find(s => s.service == r.service && s.instance == r.instance).get

  /** Samples of the request's stream inside [startMs, endMs]. */
  private def window(r: Request): Seq[(Long, Long)] = {
    val s = stream(r)
    val k0 = ((r.startMs - StartMs + IntervalMs - 1) / IntervalMs).toInt
    (k0 to lastIndex(r.endMs)).map(k => (tsOf(k), counterAt(s, k)))
  }

  private def checkRef(r: Request, root: JsonNode): Option[String] = {
    val ts = root.path("timestamps").elements().asScala.map(_.asLong()).toList
    val vs = Seq("values_u64", "values_i64", "values_f64").map(root.path)
      .find(_.isArray).toList.flatMap(_.elements().asScala.map(_.asDouble()))
    val w = window(r)
    val values = w.map(_._2.toDouble)
    def one(want: Double): Option[String] =
      if (vs.size != 1) Some(s"${vs.size} values, want 1")
      else if (!close(vs.head, want)) Some(s"${vs.head} != $want")
      else None
    val problem = r.kind match {
      case RefScan =>
        if (ts != w.map(_._1).toList) Some(s"timestamps differ (${ts.size} vs ${w.size})")
        else if (vs != values.toList) Some("values differ")
        else None
      case _ => r.query.takeWhile(_ != '(') match {
        case "sum" => one(values.sum)
        case "count" => one(values.size.toDouble)
        case "avg" => one(values.sum / values.size)
        case "min" => one(values.min)
        case "max" => one(values.max)
        case "topk" =>
          val want = values.sorted.takeRight(3)
          if (vs.sorted != want.toList) Some(s"top3 ${vs.sorted} != $want") else None
        case "bottomk" =>
          val want = values.sorted.take(3)
          if (vs.sorted != want.toList) Some(s"bottom3 ${vs.sorted} != $want") else None
        case other => Some(s"unknown aggregate $other")
      }
    }
    problem.map(p => s"${r.kind.name} ${r.query}: $p")
  }
}
