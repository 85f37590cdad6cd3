package perfbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.tsdb.{Expr, GraftDb, PromParser, TsdbEngine}
import ServeData._
import ServeRequests._

/** serve-dashboard: a closed loop of [[Clients]] HTTP clients against an
  * in-process `graft.tools.Web` on loopback, over one unchanged store.
  * Each request's scan is small, so the fixed per-request cost (store
  * open, catalog read, Catalyst planning, job scheduling, dispatcher
  * serialization) dominates.
  */
object Serve {
  val Clients = 4
  val SetupReps = 3
  /** Requests per second of `--seconds`: sizes the fixed request count
    * (whole rotations, at least 3) so the seed code takes about that long.
    */
  val RequestsPerSecond = 1.2

  def requestCount(seconds: Int): Int =
    Rotation.size * math.max(3, math.round(seconds * RequestsPerSecond / Rotation.size).toInt)

  final case class Outcome(req: Request, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  def run(run: Run, sessionS: Double): Unit = {
    val spark = run.spark
    val fixture = run.fixtures.resolve("serve-store")
    require(Files.exists(run.fixtures.resolve(s"serve-store.$Ready")),
      s"serve fixture missing under ${run.fixtures}")
    val ss = streams(FixtureSeed)
    val check = new ServeCheck(ss)
    val tracer = if (run.traced) Some(new Tracer) else None
    val writes = new Writes(tracer)

    // ---- set-up, repeated: copy the fixture, ingest the recent tail,
    // compact, apply retention, start the server ----
    var server: com.sun.net.httpserver.HttpServer = null
    var store: Path = null
    val setupS = (0 until SetupReps).map { rep =>
      if (server != null) server.stop(0)
      if (store != null) Process.deleteTree(store)
      store = run.work.resolve(s"serve-$rep")
      Process.timeS {
        Process.copyTree(fixture, store)
        val db = new GraftDb(spark, store.toString)
        writes.measure(store, rep) {
          ss.foreach { s =>
            val ins = db.inserter(s.counterSelector)
            (Points - TailPoints until Points).foreach(k => ins.insert(tsOf(k), counterAt(s, k)))
            writes.flush(TailPoints)(ins.flush())
          }
          writes.compact(db.compact())
          writes.expire(db.expire(StartMs))
        }
        server = graft.tools.Web.start(spark, 0, Some(store.toString))
      }._2
    }
    val base = server.getAddress.getPort
    val storePath = store.toString
    val (parts, files, bytes) = Process.storeShape(store)
    run.log(f"store: rows=$Rows streams=${2 * ss.size} partitions=$parts files=$files bytes=$bytes")

    // ---- warm-up: one request per client, part of set-up ----
    val (_, warmS) = Process.timeS(closedLoop(base, storePath,
      requests(run.seed + 1000003L, Clients), check, run.tally, None))

    // ---- measured phase: fixed request count, closed loop ----
    val reqs = requests(run.seed, requestCount(run.seconds))
    val cpu0 = Process.cpuNs
    val (outcomes, wallS) = Process.timeS(closedLoop(base, storePath, reqs, check, run.tally, None))
    val cpuS = (Process.cpuNs - cpu0) / 1e9
    val heapMb = Process.retainedHeapMb()
    val lat = outcomes.map(_.ms)
    val (tailP, tailMs) = Stats.tail(lat)
    run.log(f"setup reps (s): ${setupS.map(s => f"$s%.3f").mkString(" ")}, warm-up $warmS%.3f")
    run.log(f"requests=${reqs.size} clients=$Clients wall_s=$wallS%.3f " +
      f"query_tail_ms is p$tailP%.1f of n=${lat.size}")

    if (!run.traced) {
      run.metric("setup_s", sessionS + Stats.median(setupS) + warmS, "s")
      run.metric("query_p50_ms", Stats.median(lat), "ms")
      run.metric("query_tail_ms", tailMs, "ms")
      run.metric("qps", reqs.size / wallS, "1/s")
      writes.endToEnd(run, bytes.toDouble / Rows)
      run.metric("cpu_s", cpuS, "s")
      run.metric("retained_heap_mb", heapMb, "MB")
    } else {
      val t = tracer.get
      val probe = SparkProbe.attach(spark)
      val (traced, tracedWallS) = Process.timeS(
        closedLoop(base, storePath, reqs, check, run.tally, Some(t)))
      probe.settle()
      val phase = probe.window(traced.map(_.startNs).min, traced.map(_.endNs).max)
      // the untraced requests once more, so warm-up drift cancels out of the overhead
      val again = closedLoop(base, storePath, reqs, check, run.tally, None).map(_.ms)
      // in-process replay of each request's public call chain, one at a time
      val returned = reqs.map(r => replay(spark, storePath, r, t))
      probe.settle()
      val replayMs = t.all.filter(_.name == "replay").sortBy(_.req).map(_.durNs / 1e6)
      val httpMs = traced.sortBy(_.req.id).map(_.ms)
      run.metric("web.residual_ms",
        Stats.median(httpMs.zip(replayMs).map { case (h, r) => h - r }), "ms")
      run.metric("trace.overhead_ms",
        Stats.median(httpMs) - (Stats.median(lat) + Stats.median(again)) / 2, "ms")
      Layers.readPath(run, t, probe, returned.sum, parts, files)
      Layers.sparkPhase(run, phase)
      writes.perLayer(run)
      t.write(run.work.resolve("trace.jsonl"))
      run.log(f"traced requests wall_s=$tracedWallS%.3f spans=${t.all.size}")
    }
    server.stop(0)
  }

  private def secs(ms: Long): String = s"${ms / 1000}.${"%03d".format(ms % 1000)}"

  private def enc(s: String): String = URLEncoder.encode(s, StandardCharsets.UTF_8)

  /** Sends one request; returns (HTTP status, body). */
  def send(port: Int, store: String, r: Request): (Int, String) = {
    val base = s"http://127.0.0.1:$port"
    val conn = r.endpoint match {
      case "/query" =>
        val c = URI.create(base + "/query").toURL.openConnection().asInstanceOf[HttpURLConnection]
        c.setRequestMethod("POST")
        c.setDoOutput(true)
        val body = s"""{"path": "${store.replace("\\", "\\\\")}", "query": "${r.query.replace("\"", "\\\"")}", """ +
          s""""start": ${r.startMs}, "end": ${r.endMs}}"""
        c.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
        c
      case path =>
        val q = if (r.stepMs > 0)
          s"query=${enc(r.query)}&start=${secs(r.startMs)}&end=${secs(r.endMs)}&step=${secs(r.stepMs)}"
        else s"query=${enc(r.query)}&time=${secs(r.endMs)}"
        URI.create(s"$base$path?$q").toURL.openConnection().asInstanceOf[HttpURLConnection]
    }
    val code = conn.getResponseCode
    val in = if (code < 400) conn.getInputStream else conn.getErrorStream
    val body = if (in == null) "" else new String(in.readAllBytes(), StandardCharsets.UTF_8)
    (code, body)
  }

  /** [[Clients]] closed-loop clients sending `reqs` in order until all
    * are answered; each answer is checked after its latency is taken.
    */
  def closedLoop(port: Int, store: String, reqs: Vector[Request], check: ServeCheck,
      tally: Tally, tracer: Option[Tracer]): Seq[Outcome] = {
    val next = new AtomicInteger(0)
    val out = new ConcurrentLinkedQueue[Outcome]()
    val threads = (0 until Clients).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < reqs.size) {
          val r = reqs(i)
          val t0 = Clock.nowNs
          val res = try Right(tracer.fold(send(port, store, r))(_.span("http", r.id)(send(port, store, r))))
          catch { case e: Exception => Left(e) }
          val t1 = Clock.nowNs
          tally.record(res match {
            case Right((code, body)) => check.check(r, code, body)
            case Left(e) => Some(s"${r.kind.name}: $e")
          })
          out.add(Outcome(r, t0, t1))
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.asScala.toSeq
  }

  /** The public calls one request makes, timed layer by layer:
    * new GraftDb -> streams() -> engine() -> PromParser.parse ->
    * TsdbEngine.query* -> collect. Returns the rows collected.
    */
  def replay(spark: SparkSession, store: String, r: Request, t: Tracer): Long =
    t.span("replay", r.id) {
      val db = t.span("db.new", r.id)(new GraftDb(spark, store))
      t.span("db.catalog", r.id)(db.streams())
      val e = t.span("db.open", r.id)(db.engine())
      val ast = t.span("parse", r.id)(PromParser.parse(r.query))
      val df = t.span("engine.plan", r.id)(plan(e, ast, r))
      t.span("engine.exec", r.id)(df.collect().length.toLong)
    }

  /** The engine entry the HTTP bridge uses for each request shape. */
  private def plan(e: TsdbEngine, ast: Expr, r: Request): DataFrame = {
    import Expr._
    val (lo, hi, step) =
      if (r.stepMs > 0) (r.startMs, r.endMs, r.stepMs) else (r.endMs, r.endMs, LookbackMs)
    (r.kind, ast) match {
      case (RefScan | RefAgg, _) => e.query(ast, r.startMs, r.endMs).output
      case (_, Aggregate(_, sel: Selector, Some(g))) =>
        e.queryRangeBy(RangeFn(FnAvgOverTime, MatrixSelector(sel, step), Nil), g, lo, hi, step)
      case (_, Aggregate(_, inner, Some(g))) => e.queryRangeBy(inner, g, lo, hi, step)
      case (_, GetK(top, k, agg @ Aggregate(_, _, Some(g)), None)) =>
        e.queryRangeGetK(top, k, agg, g, lo, hi, step)
      case (_, other) => e.queryRange(other, lo, hi, step).output
    }
  }
}
