package perfbench

/** The benchmark's own tests: the tail-percentile rule, self-time
  * arithmetic, error accounting and generator determinism. Run with
  * `python3 perfbench/run.py --self-test`; exits non-zero on a failure.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  error: $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    // ---- tail percentile: highest ladder percentile with >= 10 samples beyond it
    check("no tail percentile below 20 samples") {
      Stats.tailPercentile(19).isEmpty && Stats.tail((1 to 19).map(_.toDouble)) == (100.0, 19.0)
    }
    check("20 samples support exactly the median") { Stats.tailPercentile(20).contains(50.0) }
    check("100 samples support p90, not p91") { Stats.tailPercentile(100).contains(90.0) }
    check("1000 samples support p99") { Stats.tailPercentile(1000).contains(99.0) }
    check("10000 samples support p99.9") { Stats.tailPercentile(10000).contains(99.9) }
    check("every supported tail leaves >= 10 samples above it") {
      (20 to 3000).forall { n =>
        val p = Stats.tailPercentile(n).get
        val xs = (1 to n).map(_.toDouble)
        xs.count(_ > Stats.percentile(xs, p)) >= 10
      }
    }
    check("nearest-rank percentile") {
      val xs = Seq(5.0, 1, 4, 2, 3)
      Stats.percentile(xs, 50) == 3.0 && Stats.percentile(xs, 100) == 5.0 &&
        Stats.percentile(xs, 1) == 1.0 && Stats.tail((1 to 40).map(_.toDouble)) == (75.0, 30.0)
    }

    // ---- self time = duration - union of children's coverage
    def sp(id: Int, parent: Int, a: Long, b: Long) = Span(id, s"s$id", 0, parent, a, b)
    check("self time subtracts disjoint children") {
      val self = Trace.selfTimes(Seq(sp(0, -1, 0, 100), sp(1, 0, 10, 30), sp(2, 0, 50, 60)))
      self == Map(0 -> 70L, 1 -> 20L, 2 -> 10L)
    }
    check("overlapping children count once") {
      Trace.selfTimes(Seq(sp(0, -1, 0, 100), sp(1, 0, 10, 50), sp(2, 0, 40, 70)))(0) == 40L
    }
    check("children are clipped to the parent and grandchildren ignored") {
      val self = Trace.selfTimes(Seq(sp(0, -1, 0, 100), sp(1, 0, 90, 120), sp(2, 1, 95, 99)))
      self(0) == 90L && self(1) == 26L
    }
    check("nested tracer spans") {
      val t = new Tracer
      t.span("outer", 7) { t.span("inner", 7) { Thread.sleep(20) }; Thread.sleep(20) }
      val Seq(inner, outer) = t.all.sortBy(_.name)
      val self = t.selfNs
      inner.parent == outer.id && outer.parent == -1 && inner.req == 7 &&
        self(outer.id) == outer.durNs - inner.durNs && self(outer.id) >= 15000000L
    }
    check("covered time of a window") {
      Trace.coveredNs(0, 100, Seq((-10L, 5L), (20L, 30L), (25L, 40L), (95L, 200L))) == 30L
    }

    // ---- error accounting: failures and wrong answers over attempts
    check("error accounting") {
      val t = new Tally
      t.ok(); t.record(None); t.record(Some("wrong answer")); t.fail("HTTP 500")
      t.counts == (4L, 2L) && t.errorRate == 0.5 && t.failureReasons.size == 2
    }
    check("result line has exactly the contract keys") {
      val line = Main.resultJson(correct = true, 3, 0, Seq("qps" -> (1.5, "1/s")))
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
      import scala.jdk.CollectionConverters._
      root.fieldNames().asScala.toSet == Set("correct", "attempted", "failed", "metrics") &&
        root.path("metrics").path("qps").path("value").asDouble() == 1.5
    }

    // ---- generators: the same seed gives identical inputs
    check("serve fixture parameters are deterministic") {
      ServeData.streams(0) == ServeData.streams(0) && ServeData.streams(0) != ServeData.streams(1)
    }
    check("serve request stream is deterministic and keeps the mix") {
      val a = ServeRequests.requests(3, 48)
      a == ServeRequests.requests(3, 48) && a != ServeRequests.requests(4, 48) &&
        a.groupBy(_.kind).values.forall(_.size == 6)
    }
    check("serve topk groups have no ties") {
      (0 until 20).forall { s =>
        val ss = ServeData.streams(s)
        ServeData.Services.forall(svc => ss.filter(_.service == svc).map(_.inc).distinct.size == 4)
      }
    }
    check("ingest batches are deterministic") {
      def gen(seed: Long) = {
        val m = new IngestScan.Model(seed)
        IngestScan.Services.map(s => m.batch(s, IngestScan.StartMs, 500))
      }
      gen(5) == gen(5) && gen(5) != gen(6)
    }
    check("ingest model expiry keeps whole live buckets") {
      val m = new IngestScan.Model(1)
      val h = IngestScan.HourMs
      m.batch("web", IngestScan.StartMs, 3 * 3600)
      m.expire(IngestScan.StartMs + h + 1)
      m.live("web").head._1 == IngestScan.StartMs + h && m.live("web").size == 2 * 3600
    }

    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
