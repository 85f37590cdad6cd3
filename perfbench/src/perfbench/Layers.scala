package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Write-side measurements: every flush, compaction and expiry goes
  * through here. Traced runs also list the store around each call to
  * count the files and bytes it wrote.
  */
final class Writes(tracer: Option[Tracer]) {
  private val flushMs = ArrayBuffer.empty[Double]
  private val compactMs = ArrayBuffer.empty[Double]
  private val expireMs = ArrayBuffer.empty[Double]
  private var rows = 0L
  private var writeNs = 0L
  private var compactParts = 0L
  private var store: Path = _
  private var req = 0

  /** Runs `body` with `store` as the store the next calls write to. */
  def measure[T](store: Path, req: Int)(body: => T): T = {
    this.store = store; this.req = req
    body
  }

  private def files(): Map[String, Long] = {
    val data = store.resolve("data")
    if (!Files.exists(data)) Map.empty
    else scala.util.Using.resource(Files.walk(data))(_.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.size(p)).toMap)
  }

  /** Times `body` as span `name`, returning (result, ns). Traced, it
    * also counts the files and bytes the call added as `name.files` and
    * `name.bytes`.
    */
  private def timed[T](name: String)(body: => T): (T, Long) = tracer match {
    case None =>
      val t0 = System.nanoTime()
      val r = body
      (r, System.nanoTime() - t0)
    case Some(t) =>
      val before = files()
      val t0 = System.nanoTime()
      val r = t.span(name, req)(body)
      val dt = System.nanoTime() - t0
      val added = files().filter { case (p, _) => !before.contains(p) }
      t.count(s"$name.files", added.size)
      t.count(s"$name.bytes", added.values.sum.toDouble)
      (r, dt)
  }

  def flush(n: Int)(body: => Unit): Unit = {
    val (_, dt) = timed("write.flush")(body)
    flushMs += dt / 1e6; rows += n; writeNs += dt
  }

  def compact(body: => Long): Unit = {
    val (parts, dt) = timed("compact")(body)
    compactMs += dt / 1e6; writeNs += dt; compactParts += parts
  }

  def expire(body: => Long): Unit = {
    val (_, dt) = timed("expire")(body)
    expireMs += dt / 1e6; writeNs += dt
  }

  /** ingest_rows_per_s, flush_p50_ms and store_bytes_per_row. */
  def endToEnd(run: Run, storeBytesPerRow: Double): Unit = {
    run.metric("ingest_rows_per_s", rows / (writeNs / 1e9), "rows/s")
    run.metric("flush_p50_ms", Stats.median(flushMs.toSeq), "ms")
    run.metric("store_bytes_per_row", storeBytesPerRow, "B")
  }

  /** Traced runs only: reads the counts recorded on the tracer. */
  def perLayer(run: Run): Unit = {
    val t = tracer.get
    run.metric("write.flush_ms", Stats.median(flushMs.toSeq), "ms")
    run.metric("write.files_created", t.counter("write.flush.files") / flushMs.size, "count")
    // bytes written, rewrites included, per 16-byte user point
    run.metric("write.amplification",
      (t.counter("write.flush.bytes") + t.counter("compact.bytes")) / (16.0 * rows), "ratio")
    run.metric("compact.ms", Stats.median(compactMs.toSeq), "ms")
    run.metric("compact.partitions", compactParts.toDouble / compactMs.size, "count")
    run.metric("compact.bytes_rewritten", t.counter("compact.bytes") / compactMs.size, "B")
    run.metric("expire.ms", Stats.median(expireMs.toSeq), "ms")
  }
}

/** Per-layer metrics of the read path, from the spans of each query's
  * public call chain (root span `root`) and the Spark events inside them.
  */
object Layers {
  def readPath(run: Run, t: Tracer, probe: SparkProbe, rowsReturned: Long,
      partitions: Int, files: Int, root: String = "replay"): Unit = {
    def med(name: String) = Stats.median(t.durationsMs(name))
    run.metric("parse.ms", med("parse"), "ms")
    run.metric("db.open_ms", med("db.open"), "ms")
    run.metric("db.catalog_ms", med("db.catalog"), "ms")
    run.metric("db.partitions", partitions, "count")
    run.metric("db.files", files, "count")
    run.metric("engine.plan_ms", med("engine.plan"), "ms")
    run.metric("engine.exec_ms", med("engine.exec"), "ms")
    val roots = t.all.filter(_.name == root)
    val ws = roots.map(s => (s, probe.window(s.startNs, s.endNs)))
    val n = roots.size.toDouble
    run.metric("catalyst.analysis_ms", ws.map(_._2.analysisMs).sum / n, "ms")
    run.metric("catalyst.optimization_ms", ws.map(_._2.optimizationMs).sum / n, "ms")
    run.metric("catalyst.planning_ms", ws.map(_._2.planningMs).sum / n, "ms")
    run.metric("spark.jobs", ws.map(_._2.jobs).sum / n, "count")
    run.metric("spark.tasks", ws.map(_._2.tasks).sum / n, "count")
    val rowsRead = ws.map(_._2.rowsRead).sum
    run.metric("spark.rows_read", rowsRead / n, "count")
    run.metric("scan.rows_read_per_row_returned", rowsRead.toDouble / math.max(1L, rowsReturned), "ratio")
    // query wall time during which no task of it was running
    run.metric("spark.driver_gap_ms",
      Stats.median(ws.map { case (s, w) => (s.durNs - w.taskBusyNs) / 1e6 }), "ms")
  }

  /** Execution totals over the measured work. */
  def sparkPhase(run: Run, w: SparkProbe#Window): Unit = {
    run.metric("spark.task_cpu_s", w.cpuS, "s")
    run.metric("spark.gc_s", w.gcS, "s")
    run.metric("spark.shuffle_bytes", w.shuffleBytes.toDouble, "B")
    run.metric("spark.spill_bytes", w.spillBytes.toDouble, "B")
  }
}
