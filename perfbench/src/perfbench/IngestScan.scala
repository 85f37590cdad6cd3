package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.Row

import graft.tsdb.{GraftDb, PromParser, VType}

/** ingest-scan: one thread runs deterministic rounds against an embedded
  * store, HTTP bypassed. Each round appends a batch to every stream
  * (Inserter.insert + flush), then runs one reference query shape over
  * the whole history; every [[CompactEvery]] rounds it compacts and
  * expires to a fixed retention, so the store size levels off. Every
  * query follows a write, so a result cached on an unchanged store must
  * be invalidated here.
  */
object IngestScan {
  val Metric = "http_requests_total"
  val Services: Vector[String] = Vector("web", "mobile")
  val IntervalMs = 1000L
  val HourMs = 3600000L
  /** Points per stream per round: 20 minutes of 1 s samples. */
  val BatchPoints = 1200
  val CompactEvery = 5
  val RetentionMs: Long = 12 * HourMs
  val SetupReps = 3
  /** Rounds per second of `--seconds`: sizes the fixed round count (whole
    * rotations, at least 2) so the seed code takes about that long.
    */
  val RoundsPerSecond = 1.5
  val StartMs: Long = 1700000000000L / HourMs * HourMs
  val MaxValue = 1000000L
  val GtThreshold = 900000L

  /** FIXTURES.md section 3c, "complex": A + B interpolated on the union of timestamps. */
  object Golden {
    val tsA = Vector(1L, 2, 4, 6, 10, 12, 13, 14, 15, 16)
    val valsA = Vector(10L, 20, 30, 20, 20, 10, 15, 20, 80, 100)
    val tsB = Vector(3L, 5, 7, 8, 9, 11, 16)
    val valsB = Vector(30L, 30, 10, 20, 20, 10, 10)
    val sum = Vector(40.0, 50, 55, 60, 55, 40, 30, 40, 40, 35, 25, 20, 25, 30, 90, 110)
  }

  sealed abstract class Shape(val name: String, val promql: String)
  private val web = s"""$Metric{service="web"}"""
  case object Scan extends Shape("scan", web)
  case object Sum extends Shape("sum", s"sum($web)")
  case object Count extends Shape("count", s"count($web)")
  case object Avg extends Shape("avg", s"avg($web)")
  case object Min extends Shape("min", s"min($web)")
  case object Max extends Shape("max", s"max($web)")
  case object Topk extends Shape("topk", s"topk(1000, $web)")
  case object Bottomk extends Shape("bottomk", s"bottomk(1000, $web)")
  case object Interp extends Shape("a_plus_b", "golden_a + golden_b")
  case object Gt extends Shape("gt", s"$web > $GtThreshold")
  val Rotation: Vector[Shape] = Vector(Scan, Sum, Count, Avg, Min, Max, Topk, Bottomk, Interp, Gt)

  def roundCount(seconds: Int): Int =
    Rotation.size * math.max(2, math.round(seconds * RoundsPerSecond / Rotation.size).toInt)

  /** Seeded generator and the in-memory model of what the store holds. */
  final class Model(seed: Long) {
    private val rnd = new Random(seed)
    /** live (timestamp, value) per stream, in timestamp order */
    val live: Map[String, ArrayBuffer[(Long, Long)]] =
      Services.map(_ -> ArrayBuffer.empty[(Long, Long)]).toMap

    /** The next `n` points of `svc` from `fromMs`, recorded as live. */
    def batch(svc: String, fromMs: Long, n: Int): Seq[(Long, Long)] = {
      val b = (0 until n).map(i => (fromMs + i * IntervalMs, (rnd.nextDouble() * MaxValue).toLong))
      live(svc) ++= b
      b
    }

    /** Mirrors GraftDb.expire: a point goes when its whole hourly bucket
      * ends at or before the cutoff.
      */
    def expire(beforeMs: Long): Unit = live.values.foreach { b =>
      val keep = b.filter { case (t, _) => t - Math.floorMod(t, HourMs) + HourMs > beforeMs }
      b.clear(); b ++= keep
    }

    def rows: Long = live.values.map(_.size.toLong).sum
  }

  /** Compares a collected answer with the model; None when right. */
  def check(shape: Shape, rows: Array[Row], model: Model, goldenAt: Long): Option[String] = {
    val pts = model.live("web")
    val values = pts.map(_._2.toDouble)
    def num(r: Row, i: Int): Double = r.get(i) match {
      case l: java.lang.Long => l.doubleValue()
      case d: java.lang.Double => d.doubleValue()
      case other => Double.NaN
    }
    def one(want: Double): Option[String] =
      if (rows.length != 1) Some(s"${rows.length} rows, want 1")
      else if (math.abs(num(rows(0), 0) - want) > 1e-9 * math.max(1.0, math.abs(want)))
        Some(s"${num(rows(0), 0)} != $want")
      else None
    def vector: Seq[(Long, Double)] = rows.toSeq.map(r => (r.getLong(0), num(r, 1)))
    // topk/bottomk answer k value-only rows
    def ranked: Seq[Double] = rows.toSeq.map(r => num(r, r.length - 1)).sorted
    val problem = try shape match {
      case Scan =>
        val got = vector.sortBy(_._1)
        if (got.size != pts.size) Some(s"${got.size} rows, want ${pts.size}")
        else if (got != pts.map { case (t, v) => (t, v.toDouble) }.toSeq) Some("rows differ")
        else None
      case Sum => one(values.sum)
      case Count => one(values.size.toDouble)
      case Avg => one(values.sum / values.size)
      case Min => one(values.min)
      case Max => one(values.max)
      case Topk =>
        if (ranked != values.sorted.takeRight(1000)) Some(s"top 1000 differ (${rows.length} rows)")
        else None
      case Bottomk =>
        if (ranked != values.sorted.take(1000)) Some(s"bottom 1000 differ (${rows.length} rows)")
        else None
      case Interp =>
        val got = vector.sortBy(_._1)
        val ts = (Golden.tsA ++ Golden.tsB).distinct.sorted.map(_ + goldenAt)
        if (got.map(_._1) != ts) Some(s"timestamps ${got.map(_._1 - goldenAt)}")
        else if (got.map(_._2) != Golden.sum) Some(s"values ${got.map(_._2)} != ${Golden.sum}")
        else None
      case Gt =>
        val got = vector.sortBy(_._1)
        val want = pts.filter(_._2 > GtThreshold).map { case (t, v) => (t, v.toDouble) }.toSeq
        if (got != want) Some(s"${got.size} rows > threshold, want ${want.size}") else None
    } catch {
      case e: Exception => Some(s"unreadable answer: $e")
    }
    problem.map(p => s"${shape.name}: $p")
  }

  def run(run: Run, sessionS: Double): Unit = {
    val spark = run.spark
    val tracer = if (run.traced) Some(new Tracer) else None

    // ---- set-up, repeated: an empty store, prefilled with one retention
    // window of history (one flush per stream), and a warm-up query ----
    var state: (Path, GraftDb, Model, Long) = null
    val setupS = (0 until SetupReps).map { rep =>
      if (state != null) Process.deleteTree(state._1)
      Process.timeS {
        val store = run.work.resolve(s"ingest-$rep")
        val db = new GraftDb(spark, store.toString)
        val model = new Model(run.seed)
        Services.foreach(s => db.createStream(s"""$Metric{service="$s"}""", VType.U64))
        db.createStream("golden_a", VType.U64)
        db.createStream("golden_b", VType.U64)
        val prefill = (RetentionMs / IntervalMs).toInt
        Services.foreach { s =>
          val ins = db.inserter(s"""$Metric{service="$s"}""")
          model.batch(s, StartMs, prefill).foreach { case (t, v) => ins.insert(t, v) }
          ins.flush()
        }
        val warm = db.query(Count.promql, 0L, StartMs + RetentionMs).output.collect()
        run.tally.record(check(Count, warm, model, 0L))
        state = (store, db, model, StartMs + RetentionMs)
      }._2
    }
    val (store, db, model, firstRoundMs) = state
    val (p0, f0, b0) = Process.storeShape(store)
    run.log(s"store at start: rows=${model.rows} streams=${Services.size + 2} " +
      s"partitions=$p0 files=$f0 bytes=$b0")

    val rounds = roundCount(run.seconds)
    // a traced run runs the untraced rounds, as many traced, then as many
    // untraced again; tracing overhead is the traced minus the untraced
    def phase(first: Int, rounds: Int, t: Option[Tracer]): Phase = {
      val writes = new Writes(t)
      val queryMs = ArrayBuffer.empty[Double]
      var returned = 0L
      val cpu0 = Process.cpuNs
      val w0 = System.nanoTime()
      (first until first + rounds).foreach { g =>
        val from = firstRoundMs + (g.toLong * BatchPoints * IntervalMs)
        val shape = Rotation(g % Rotation.size)
        writes.measure(store, g) {
          Services.foreach { s =>
            val ins = db.inserter(s"""$Metric{service="$s"}""")
            model.batch(s, from, BatchPoints).foreach { case (ts, v) => ins.insert(ts, v) }
            writes.flush(BatchPoints)(ins.flush())
          }
          if (shape == Interp) {
            Seq(("golden_a", Golden.tsA, Golden.valsA), ("golden_b", Golden.tsB, Golden.valsB))
              .foreach { case (name, ts, vs) =>
                val ins = db.inserter(name)
                ts.zip(vs).foreach { case (tt, v) => ins.insert(from + tt, v) }
                writes.flush(ts.size)(ins.flush())
              }
          }
        }
        val end = from + BatchPoints * IntervalMs
        val (lo, hi) = if (shape == Interp) (from + 1, from + 16) else (0L, end)
        val (rows, s) = Process.timeS(query(db, t, shape, lo, hi, g))
        queryMs += s * 1e3
        returned += rows.length
        run.tally.record(check(shape, rows, model, from))
        if ((g + 1) % CompactEvery == 0) writes.measure(store, g) {
          writes.compact(db.compact())
          val cutoff = end - RetentionMs
          writes.expire(db.expire(cutoff))
          model.expire(cutoff)
        }
      }
      Phase(writes, queryMs.toSeq, (System.nanoTime() - w0) / 1e9,
        (Process.cpuNs - cpu0) / 1e9, returned)
    }

    // warm-up: one compaction cycle of rounds, part of set-up
    val (_, warmS) = Process.timeS(phase(0, CompactEvery, None))
    val main = phase(CompactEvery, rounds, None)
    val heapMb = Process.retainedHeapMb()
    val (p1, f1, b1) = Process.storeShape(store)
    val (tailP, tailMs) = Stats.tail(main.queryMs)
    run.log(s"setup reps (s): ${setupS.map(x => "%.3f".format(x)).mkString(" ")}, warm-up ${"%.3f".format(warmS)}")
    run.log(s"rounds=$rounds wall_s=${"%.3f".format(main.wallS)} store at end: rows=${model.rows} " +
      s"partitions=$p1 files=$f1 bytes=$b1; query_tail_ms is p$tailP of n=${main.queryMs.size}")

    if (!run.traced) {
      run.metric("setup_s", sessionS + Stats.median(setupS) + warmS, "s")
      run.metric("query_p50_ms", Stats.median(main.queryMs), "ms")
      run.metric("query_tail_ms", tailMs, "ms")
      run.metric("qps", main.queryMs.size / main.wallS, "1/s")
      main.writes.endToEnd(run, b1.toDouble / model.rows)
      run.metric("cpu_s", main.cpuS, "s")
      run.metric("retained_heap_mb", heapMb, "MB")
    } else {
      val t = tracer.get
      val probe = SparkProbe.attach(spark)
      val from = Clock.nowNs
      val traced = phase(CompactEvery + rounds, rounds, Some(t))
      val to = Clock.nowNs
      probe.settle()
      // the untraced rounds once more, so warm-up drift cancels out of the overhead
      val again = phase(CompactEvery + 2 * rounds, rounds, None)
      val (p2, f2, _) = Process.storeShape(store)
      run.metric("web.residual_ms", Stats.median(webResidualMs(run, db, store, model)), "ms")
      run.metric("trace.overhead_ms", Stats.median(traced.queryMs) -
        (Stats.median(main.queryMs) + Stats.median(again.queryMs)) / 2, "ms")
      Layers.readPath(run, t, probe, traced.returned, p2, f2, root = "query")
      Layers.sparkPhase(run, probe.window(from, to))
      traced.writes.perLayer(run)
      t.write(run.work.resolve("trace.jsonl"))
    }
  }

  /** The web layer on this store, one client: each whole-history shape once
    * through `tools.Web`'s `/query`, minus the same query in process.
    */
  private def webResidualMs(run: Run, db: GraftDb, store: Path, model: Model): Seq[Double] = {
    val server = graft.tools.Web.start(run.spark, 0, Some(store.toString))
    val end = model.live("web").last._1
    try Rotation.filter(_ != Interp).map { shape =>
      val r = ServeRequests.Request(0, ServeRequests.RefScan, "/query", shape.promql, 0L, end, 0L, "", "")
      val ((code, body), httpS) = Process.timeS(Serve.send(server.getAddress.getPort, store.toString, r))
      run.tally.record(if (code == 200) None else Some(s"${shape.name} over HTTP: $code ${body.take(120)}"))
      val (_, inS) = Process.timeS(query(db, None, shape, 0L, end, 0))
      (httpS - inS) * 1e3
    } finally server.stop(0)
  }

  final case class Phase(writes: Writes, queryMs: Seq[Double], wallS: Double,
      cpuS: Double, returned: Long)

  /** One query through GraftDb's public calls; traced, each call is a span
    * and the catalog read is also timed on its own.
    */
  private def query(db: GraftDb, t: Option[Tracer], shape: Shape, lo: Long, hi: Long,
      g: Int): Array[Row] = {
    def sp[T](name: String)(body: => T): T = t.fold(body)(_.span(name, g)(body))
    sp("query") {
      if (t.isDefined) sp("db.catalog")(db.streams())
      val e = sp("db.open")(db.engine())
      val ast = sp("parse")(PromParser.parse(shape.promql))
      val df = sp("engine.plan")(e.query(ast, lo, hi).output)
      sp("engine.exec")(df.collect())
    }
  }
}
