package graft.tools

import java.io.BufferedReader

import org.apache.spark.sql.SparkSession

import graft.tsdb.{GraftDb, VType}

/** Command-line surface — parity with the reference CLI
  * (tachyon_cli/src/main.rs:66-82 Commands enum, main.rs:298-329 repl,
  * main.rs:330-419 dispatch): subcommands over a GraftDb root plus a
  * REPL that treats every input line as a query. `query` prints plain
  * rows (scriptable); `chart` renders the reference's terminal
  * line-chart surface (main.rs:236-240) via [[Chart]]. One deliberate
  * divergence: `parse-headers` reports per-(stream, time-bucket)
  * Parquet stats — the engine's analogue of the reference's `.ty` file
  * headers (main.rs:105-151).
  *
  * Usage: Cli <db_dir> [command ...]
  *   (no command)                          REPL: one PromQL query per line
  *   list-all-streams
  *   parse-headers
  *   query <promql> [start] [end] [export_csv_path]
  *   query-range <promql> <start> <end> <step>
  *   label-values <key>
  *   chart <promql> [start] [end]
  *   create-stream <selector> <i64|u64|f64>
  *   insert <selector> <timestamp> <value>
  *   import-csv <selector> <csv_file>
  *   compact [max_files_per_partition]
  *   expire <before_epoch_ms>
  */
object Cli {

  /** Absent start/end default to the reference's full-range hack
    * (main.rs:188-190).
    */
  val HackTimeStart = 0L
  val HackTimeEnd = 1719776339748L

  private val ReplHeader = "graft tsdb repl — one query per line, ctrl-d to exit"

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: Cli <db_dir> [command ...]")
      sys.exit(2)
    }
    val spark = graft.engine.Graft.session("graft-cli")
    val code =
      try run(spark, args(0), args.drop(1).toIndexedSeq, Console.in, println(_))
      finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Dispatch one invocation; returns a process exit code. Pure in/out
    * seams so the E2E spec can drive it.
    */
  def run(spark: SparkSession, dbDir: String, cmd: Seq[String],
      in: BufferedReader, out: String => Unit): Int = {
    val db = new GraftDb(spark, dbDir)
    try {
      cmd match {
        case Seq() =>
          repl(db, in, out); 0
        case Seq("list-all-streams") =>
          // main.rs:336-352: stream name + matchers + value type
          db.streams().foreach { d =>
            val matchers = d.labels.toSeq.sortBy(_._1)
              .map { case (k, v) => s""""$k" = "$v"""" }.mkString(" | ")
            out(s"${d.name} | $matchers | ${vtypeName(d.vtype)}")
          }
          0
        case Seq("parse-headers") =>
          // .ty header analogue: per-(stream, bucket) footer stats
          db.describeStreams().orderBy("name").collect().foreach { r =>
            out(r.mkString(" | "))
          }
          0
        case Seq("query-range", promql, start, end, step) =>
          // Prometheus query_range: sliding (T-range, T] at every step
          // (GraftDb.queryRange contract; the HTTP "step" field's twin);
          // a grouped root — `sum by (l) (...)` — prints each series row
          // as "<labels..> <timestamp> <value>" ordered by (keys, time)
          printResult(
            db.queryRange(promql, start.toLong, end.toLong, step.toLong), out)
          0
        case Seq("label-values", key) =>
          db.labelValues(key).foreach(out)
          0
        case "query" +: promql +: rest if rest.size <= 3 =>
          val start = rest.headOption.map(_.toLong).getOrElse(HackTimeStart)
          val end = rest.lift(1).map(_.toLong).getOrElse(HackTimeEnd)
          val res = db.query(promql, start, end)
          rest.lift(2) match {
            case Some(csvPath) if !res.isScalar =>
              db.exportCsv(promql, start, end, csvPath)
              out(s"exported to $csvPath")
              0
            case Some(csvPath) =>
              // a csv path with a scalar/grouped result is a user error:
              // say so instead of silently printing rows with no file
              // written and no explanation (ADVICE r10)
              out(s"error: cannot export a " +
                s"${if (res.grouped) "grouped" else "scalar"} result to " +
                s"CSV ($csvPath not written) — CSV export takes a vector " +
                "query; drop the path to print the result instead")
              1
            case None =>
              printResult(res, out)
              0
          }
        case "chart" +: promql +: rest if rest.size <= 2 =>
          val start = rest.headOption.map(_.toLong).getOrElse(HackTimeStart)
          val end = rest.lift(1).map(_.toLong).getOrElse(HackTimeEnd)
          val res = db.query(promql, start, end)
          if (res.isScalar || res.grouped)
            printResult(res, out)
          else {
            // the terminal chart is a display surface: like the
            // reference (which hands its Vec to textplots), collecting
            // the rendered range to the driver is the operation itself
            val pts = res.output.orderBy("timestamp").collect()
              .map(r => (r.getLong(0), r.get(1) match {
                case d: java.lang.Double => d.doubleValue()
                case l: java.lang.Long => l.doubleValue()
                case other => other.toString.toDouble
              })).toSeq
            out(Chart.render(pts))
          }
          0
        case Seq("create-stream", selector, vt) =>
          db.createStream(selector, parseVType(vt)); 0
        case Seq("delete-stream", selector) =>
          // the reference CLI has no delete (core stubs it); ours is
          // real for single-name streams — see GraftDb.deleteStream
          db.deleteStream(selector)
          out(s"deleted $selector"); 0
        case Seq("insert", selector, ts, value) =>
          // typed parse per the stream's value type, as the reference CLI
          // does (main.rs:374-410): integer streams take exact i64 input
          val ins = db.inserter(selector)
          if (ins.vtype == VType.F64) ins.insert(ts.toLong, value.toDouble)
          else ins.insert(ts.toLong, value.toLong)
          ins.flush()
          0
        case Seq("import-csv", selector, csvFile) =>
          db.importCsv(selector, csvFile); 0
        case "record" +: target +: promql +: start +: end +: rest
            if rest.size <= 1 =>
          // recording rule (beyond the reference CLI): precompute a
          // query into a derived stream; optional trailing step selects
          // the sliding query_range form
          val n = db.record(target, promql, start.toLong, end.toLong,
            rest.headOption.map(_.toLong))
          out(s"recorded $n points into $target"); 0
        case Seq("record-grouped", target, promql, byLabels, start, end, step) =>
          // grouped recording rule: one derived stream PER GROUP under
          // `target`, labels preserved (comma-separated by-labels)
          val ls = byLabels.split(',').map(_.trim).filter(_.nonEmpty).toList
          val n = db.recordGrouped(target, promql,
            graft.tsdb.Expr.Grouping(by = true, ls),
            start.toLong, end.toLong, step.toLong)
          out(s"recorded $n points into $target by (${ls.mkString(", ")})"); 0
        case "compact" +: rest if rest.size <= 1 =>
          // maintenance (beyond the reference CLI): merge flush deltas
          val n = rest.headOption.map(_.toInt)
            .map(db.compact(_)).getOrElse(db.compact())
          out(s"compacted $n partitions"); 0
        case Seq("expire", beforeMs) =>
          // maintenance (beyond the reference CLI): retention enforcement
          val n = db.expire(beforeMs.toLong)
          out(s"expired $n partitions"); 0
        case other =>
          out(s"unknown command: ${other.mkString(" ")}"); 2
      }
    } catch {
      case e: Exception =>
        out(s"error: ${e.getMessage}"); 1
    }
  }

  /** Interactive loop (main.rs:298-329): every line is a query over the
    * default full range; errors print and the loop continues; EOF exits.
    */
  def repl(db: GraftDb, in: BufferedReader, out: String => Unit): Unit = {
    out(ReplHeader)
    Iterator.continually(in.readLine()).takeWhile(_ != null)
      .filter(_.trim.nonEmpty)
      .foreach { line =>
        try {
          printResult(db.query(line.trim, HackTimeStart, HackTimeEnd), out)
        } catch {
          case e: Exception => out(s"error: ${e.getMessage}")
        }
      }
    out("exiting")
  }

  private def parseVType(s: String): VType = s match {
    case "i64" => VType.I64
    case "u64" => VType.U64
    case "f64" => VType.F64
    case other => throw new IllegalArgumentException(
      s"value type must be i64|u64|f64, got $other")
  }

  private def vtypeName(v: VType): String = v match {
    case VType.I64 => "i64"
    case VType.U64 => "u64"
    case VType.F64 => "f64"
  }

  /** Integer-typed outputs are Longs (TsdbResult.output); print without
    * a decimal point, floats as-is.
    */
  /** Print a query result to the terminal: grouped (by/without) rows as
    * "<group keys..> [<timestamp>] <value>" ordered by the keys (a ranged
    * result carries the step timestamp), scalars bare, vectors as
    * "<timestamp> <value>".
    */
  private def printResult(res: graft.tsdb.TsdbResult,
      out: String => Unit): Unit =
    if (res.grouped) {
      val cols = res.output.columns
      res.output
        .orderBy(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect().foreach { r =>
          out(r.toSeq.init.map(v => if (v == null) "<null>" else v.toString)
            .mkString("", " ", " ") + fmt(r.get(cols.length - 1)))
        }
    } else if (res.isScalar)
      res.output.collect().foreach(r => out(fmt(r.get(0))))
    else
      res.output.orderBy("timestamp").collect()
        .foreach(r => out(s"${r.getLong(0)} ${fmt(r.get(1))}"))

  private def fmt(v: Any): String = v match {
    case d: java.lang.Double =>
      if (d == d.longValue().toDouble) d.longValue().toString else d.toString
    case other => other.toString
  }
}
