package perfbench

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.tsdb.{GraftDb, VType}

/** The serve-dashboard store.
  *
  * Store: two metric names (counter `http_requests_total`, gauge
  * `cpu_usage`) x 4 `service` x 4 `instance` = 32 streams, one sample a
  * minute. The counters span 128 hours, the gauges the last 8 (136 hourly
  * (name, bucket) partitions, 130,560 rows); dashboards look back at
  * most 6.5 hours. Stream j's counter reads `inc_j * k` at its k-th sample, so
  * every rate is `inc_j / 60` per second; its gauge reads
  * `level_j + (hour index mod 7)`. Both make the expected answer of
  * every request computable here, independently of the program.
  *
  * The store is a fixed fixture (generator seed [[FixtureSeed]]), built
  * once per build of the program; `--seed` drives the request stream
  * ([[ServeRequests]]). The build caches the fixture by a hash of the
  * program and of this file alone.
  */
object ServeData {
  val Services: Vector[String] = Vector("web", "api", "auth", "db")
  val Instances: Vector[String] = Vector("i0", "i1", "i2", "i3")
  val Hours = 128
  val IntervalMs = 60000L
  val HourMs = 3600000L
  val StartMs: Long = 1700000000000L / HourMs * HourMs
  val Points: Int = (Hours * HourMs / IntervalMs).toInt
  val LastMs: Long = StartMs + (Points - 1) * IntervalMs
  val FixtureSeed = 0L
  val Counter = "http_requests_total"
  val Gauge = "cpu_usage"
  val GaugeHours = 8
  val GaugeFrom: Int = Points - (GaugeHours * HourMs / IntervalMs).toInt
  /** Counter samples per stream that set-up ingests on top of the fixture. */
  val TailPoints = 30
  val Ready = "READY"

  final case class Stream(service: String, instance: String, inc: Long, level: Double) {
    def counterSelector: String = s"""$Counter{service="$service",instance="$instance"}"""
    def gaugeSelector: String = s"""$Gauge{service="$service",instance="$instance"}"""
  }

  /** The 32 streams' parameters: distinct counter increments whose
    * per-instance sums are distinct too (so topk has no ties), and
    * distinct gauge levels on a 0.25 grid (exact in binary).
    */
  def streams(seed: Long): Vector[Stream] = {
    val rnd = new Random(seed)
    val pairs = for (s <- Services; i <- Instances) yield (s, i)
    def draw(): Vector[Stream] = {
      val incs = rnd.shuffle((1 to 64).toVector).take(pairs.size)
      val levels = rnd.shuffle((0 until 64).toVector).take(pairs.size).map(10.0 + _ * 0.25)
      pairs.indices.map(j => Stream(pairs(j)._1, pairs(j)._2, incs(j).toLong, levels(j))).toVector
    }
    Iterator.continually(draw()).find { ss =>
      val sums = Instances.map(i => ss.filter(_.instance == i).map(_.inc).sum)
      sums.distinct.size == sums.size
    }.get
  }

  def tsOf(k: Int): Long = StartMs + k * IntervalMs
  def counterAt(s: Stream, k: Int): Long = s.inc * k
  def gaugeAt(s: Stream, tMs: Long): Double = s.level + ((tMs - StartMs) / HourMs) % 7

  /** Lookback of an instant query (the Prometheus default, 5m). */
  val LookbackMs = 300000L

  /** Index of the last sample at or before `tMs`. */
  def lastIndex(tMs: Long): Int = ((tMs - StartMs) / IntervalMs).toInt

  // ---- the fixture ----

  /** Rows in the store once set-up has ingested the counter tail. */
  val Rows: Long = streams(FixtureSeed).size.toLong * (Points + Points - GaugeFrom)

  /** The fixture store: the gauge samples and the counter history up to
    * the last [[TailPoints]] samples, compacted. Built once per build.
    */
  def buildFixture(spark: SparkSession, fixtures: Path): Unit = {
    val dir = fixtures.resolve("serve-store")
    if (Files.exists(fixtures.resolve(s"serve-store.$Ready"))) return
    Process.deleteTree(dir)
    val db = new GraftDb(spark, dir.toString)
    val ss = streams(FixtureSeed)
    import spark.implicits._
    ss.foreach { s =>
      db.createStream(s.counterSelector, VType.U64)
      db.createStream(s.gaugeSelector, VType.F64)
    }
    ss.foreach { s =>
      db.importFrame(s.counterSelector,
        (0 until Points - TailPoints).map(k => (tsOf(k), counterAt(s, k))).toDF("timestamp", "value"))
      db.importFrame(s.gaugeSelector,
        (GaugeFrom until Points).map(k => (tsOf(k), gaugeAt(s, tsOf(k)))).toDF("timestamp", "value"))
    }
    db.compact()
    Files.writeString(fixtures.resolve(s"serve-store.$Ready"), "")
  }

}
