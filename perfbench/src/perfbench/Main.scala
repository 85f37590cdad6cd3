package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run needs: the session, its arguments and a scratch dir. */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Int,
    val traced: Boolean, val work: Path, val fixtures: Path) {
  val tally = new Tally
  private val out = mutable.LinkedHashMap.empty[String, (Double, String)]

  def metric(name: String, value: Double, unit: String): Unit = out(name) = (value, unit)
  def metrics: Seq[(String, (Double, String))] = out.toSeq

  def log(msg: String): Unit = println(s"[perfbench] $msg")
}

/** Process-level measurements shared by the workloads. */
object Process {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  /** Seconds from JVM start to now. */
  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Heap in use after forced collections, in MB. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) scala.util.Using.resource(Files.walk(p))(
      _.sorted(java.util.Comparator.reverseOrder()).forEach(q => Files.deleteIfExists(q)))

  def copyTree(from: Path, to: Path): Unit =
    scala.util.Using.resource(Files.walk(from)) { s =>
      s.forEach { p =>
        val t = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
      }
    }

  /** (partition dirs, parquet files, bytes of every file) under a store root. */
  def storeShape(root: Path): (Int, Int, Long) = {
    var parts = 0; var files = 0; var bytes = 0L
    if (Files.exists(root)) scala.util.Using.resource(Files.walk(root)) { s =>
      s.forEach { p =>
        val n = p.getFileName.toString
        if (Files.isDirectory(p)) { if (n.startsWith("bucket=")) parts += 1 }
        else {
          bytes += Files.size(p)
          if (n.endsWith(".parquet") && !n.startsWith(".")) files += 1
        }
      }
    }
    (parts, files, bytes)
  }
}

/** Entry point: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <fixture dir>`,
  * or `perfbench.Main build-fixtures <fixture dir>`. Prints run lines,
  * then one JSON result line last.
  */
object Main {
  val Workloads: Seq[String] = Seq("serve-dashboard", "ingest-scan")

  def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors().toString
    val s = graft.engine.Graft.session("perfbench", cores)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "build-fixtures" :: dir :: Nil =>
      val spark = session()
      try ServeData.buildFixture(spark, Paths.get(dir)) finally spark.stop()
    case workload :: seed :: seconds :: trace :: work :: fixtures :: Nil =>
      require(Workloads.contains(workload), s"unknown workload $workload")
      val spark = session()
      val sessionS = Process.uptimeS
      val run = new Run(spark, seed.toLong, seconds.toInt, trace == "1",
        Paths.get(work), Paths.get(fixtures))
      val code = try {
        run.log(s"context: nproc=${Runtime.getRuntime.availableProcessors()} " +
          s"jvm=${System.getProperty("java.version")} spark=${spark.version} " +
          s"seed=$seed trace=$trace session_s=${"%.3f".format(sessionS)}")
        workload match {
          case "serve-dashboard" => Serve.run(run, sessionS)
          case "ingest-scan" => IngestScan.run(run, sessionS)
        }
        val (attempted, failed) = run.tally.counts
        run.tally.failureReasons.take(10).foreach { case (r, n) => run.log(s"failure x$n: $r") }
        run.log(f"error_rate=${run.tally.errorRate}%.4f (failed $failed of $attempted)")
        println(resultJson(failed == 0 && attempted > 0, attempted, failed, run.metrics))
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          1
      } finally spark.stop()
      sys.exit(code)
    case _ =>
      System.err.println("usage: perfbench.Main <workload> <seed> <seconds> <0|1> <work> <fixtures>")
      sys.exit(2)
  }

  def resultJson(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, (Double, String))]): String = {
    val ms = metrics.map { case (k, (v, u)) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      s""""$k": {"value": ${BigDecimal(v).bigDecimal.toPlainString}, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
