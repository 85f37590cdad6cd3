package graft.tools

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, LinkOption, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.{Lock, ReentrantReadWriteLock}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

import graft.tsdb.{Expr, GraftDb, LabelCodec, PromParser, VType}

/** HTTP query endpoint — parity with the reference web backend
  * (tachyon_web_backend/src/main.rs:10-90):
  *
  *   GET  /health  -> 200, empty body
  *   POST /query   -> {"path", "query", "start"?, "end"?}
  *                 -> {"value_type", "timestamps",
  *                     "values_u64"|"values_i64"|"values_f64"}
  *
  * Exactly one `values_*` array is non-null, selected by the query's
  * value type (main.rs:18-24, 55-76); absent start/end default to the
  * same full-range constants as the CLI; errors map to 400 with the
  * message as the body (main.rs:31-35). Scalar query results (which the
  * reference endpoint never materializes — it only drains next_vector)
  * are returned as values with an empty `timestamps`.
  *
  * One JVM/SparkSession serves many databases: `path` picks the GraftDb
  * root per request, like the reference's per-request Connection.
  *
  * Threading: requests run on a fixed pool of daemon worker threads, one
  * per Spark core (`defaultParallelism`), so queries overlap and a client
  * stalled mid-body holds one worker, not the server. Each server keeps
  * one [[GraftDb]] per store (keyed by its real path) and one read/write
  * lock beside it: the reads (`/query`, `/api/v1/query_range`,
  * `/api/v1/query`, `/api/v1/labels`, `/api/v1/label/…/values`,
  * `/api/v1/series`) share the read lock; the writes (`/compact`,
  * `/expire`, `/delete-stream`, `/record`) take the write lock, so no
  * query in this process overlaps a rewrite of the store it reads.
  * `/health` and buildinfo take no lock. Writers in other processes
  * (the CLI beside the server) are not ordered by these locks.
  *
  * Serving session: each server runs all its Spark work on one session
  * of its own ([[servingSession]]), the caller's settings at a shuffle
  * width of [[ServingShufflePartitions]] (1); the caller's session is
  * never changed. Answers are small (series × steps rows), so each is
  * collected and sorted on the driver in Spark's order ([[seriesOrder]])
  * instead of by a distributed `orderBy`.
  */
object Web {

  /** Usage: Web [port] [dbRoot]. Binds loopback only; databases are
    * restricted to `dbRoot` (default: the working directory) — an open
    * `path` field from the network must not grant arbitrary filesystem
    * reads or directory creation.
    */
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8080)
    val root = args.lift(1).getOrElse(System.getProperty("user.dir"))
    val spark = graft.engine.Graft.session("graft-web")
    val server = start(spark, port, Some(root))
    println(s"graft web backend listening on 127.0.0.1:${server.getAddress.getPort}" +
      s" (db root: $root)")
    // block forever; the server threads own the process from here
    Thread.currentThread().join()
  }

  /** Start a server on `port` (0 = ephemeral), loopback-bound. When
    * `dbRoot` is set, /query only opens databases under it; /compact
    * (a destructive, file-rewriting operation) REFUSES to run at all
    * unless a `dbRoot` is configured. Caller stops it.
    */
  def start(spark: SparkSession, port: Int,
      dbRoot: Option[String] = None): HttpServer = {
    val server = HttpServer.create(
      new InetSocketAddress(java.net.InetAddress.getLoopbackAddress, port), 0)
    val stores = new Stores(servingSession(spark), dbRoot)
    server.createContext("/health", (ex: HttpExchange) => {
      ex.sendResponseHeaders(200, -1)
      ex.close()
    })
    // one copy of the POST-only / 400-on-error / JSON plumbing
    def jsonContext(path: String)(handler: String => String): Unit =
      server.createContext(path, (ex: HttpExchange) => {
        val (code, body) =
          try {
            if (ex.getRequestMethod != "POST") (405, "POST only")
            else (200, handler(new String(
              ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)))
          } catch {
            case e: Exception => (400, Option(e.getMessage).getOrElse("bad request"))
          }
        val bytes = body.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type",
          if (code == 200) "application/json" else "text/plain")
        ex.sendResponseHeaders(code, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      })
    jsonContext("/query")(handleQuery(stores, _))
    // maintenance (beyond the reference backend): merge flush deltas.
    // POST {"path", "max_files"?} -> {"compacted_partitions": n}.
    // Deletes files, so it is gated on an explicit allowlist — a server
    // started without one only exposes reads.
    jsonContext("/compact") { body =>
      if (dbRoot.isEmpty)
        throw new IllegalArgumentException(
          "compaction disabled: server started without a db root allowlist")
      handleCompact(stores, body)
    }
    // retention: POST {"path", "before_ms"} -> {"expired_partitions": n}.
    // Same delete-gated allowlist rule as /compact.
    jsonContext("/expire") { body =>
      if (dbRoot.isEmpty)
        throw new IllegalArgumentException(
          "retention disabled: server started without a db root allowlist")
      handleExpire(stores, body)
    }
    // stream deletion: POST {"path", "selector"} -> {"deleted": selector}.
    // Same delete-gated allowlist rule as /compact and /expire.
    jsonContext("/delete-stream") { body =>
      if (dbRoot.isEmpty)
        throw new IllegalArgumentException(
          "deletion disabled: server started without a db root allowlist")
      handleDeleteStream(stores, body)
    }
    // recording rule: POST {"path", "target", "query", "start", "end",
    // "step"?} -> {"recorded": n, "target": t}. Writes to the store, so
    // the same allowlist gate as the other mutating endpoints.
    jsonContext("/record") { body =>
      if (dbRoot.isEmpty)
        throw new IllegalArgumentException(
          "recording disabled: server started without a db root allowlist")
      handleRecord(stores, body)
    }
    // Prometheus HTTP API bridge: GET or form-encoded POST, success/
    // error envelopes and matrix/vector/scalar result shapes per the
    // published API (prometheus.io/docs/prometheus/latest/querying/api).
    // One deviation, documented: a `path` param picks the database
    // (Prometheus serves one store; this server serves a root of them)
    // — it defaults to the configured db root itself.
    // handler gets (request path, multi-valued params) — the path
    // matters to the one endpoint whose operand rides in it
    def promRawContext(path: String)(
        handler: (String, Map[String, List[String]]) => String): Unit =
      server.createContext(path, (ex: HttpExchange) => {
        val (code, body) =
          try {
            val raw = ex.getRequestMethod match {
              case "GET" => Option(ex.getRequestURI.getRawQuery).getOrElse("")
              case "POST" => new String(
                ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
              case _ => throw new IllegalArgumentException("GET or POST only")
            }
            (200, handler(ex.getRequestURI.getPath, promParseParams(raw)))
          } catch {
            case e: Exception => (400, promErrorBody(e))
          }
        promRespond(ex, code, body)
      })
    def promContext(path: String)(
        handler: Map[String, List[String]] => String): Unit =
      promRawContext(path)((_, params) => handler(params))
    promContext("/api/v1/query_range")(handlePromQueryRange(stores, _))
    promContext("/api/v1/query")(handlePromInstant(stores, _))
    // dashboards probe buildinfo before their first query; the version
    // names the API LEVEL the bridge speaks (Prometheus-compatible
    // stores answer the same way), application names what it really is
    promContext("/api/v1/status/buildinfo") { _ =>
      """{"status":"success","data":{"version":"2.45.0",""" +
        """"application":"graft-prometheus-bridge"}}"""
    }
    // metadata endpoints (dashboard autocomplete): pure catalog reads
    promContext("/api/v1/labels") { params =>
      val names = stores.read(promPath(params, dbRoot))(_.labelNames())
      promStrings("__name__" +: names)
    }
    // /api/v1/label/<name>/values — the label name rides in the path
    promRawContext("/api/v1/label/") { (path, params) =>
      val segs = path.split('/').filter(_.nonEmpty)
      // api, v1, label, <name>, values
      require(segs.length == 5 && segs(4) == "values", s"bad path: $path")
      val label = java.net.URLDecoder.decode(segs(3), "UTF-8")
      val values = stores.read(promPath(params, dbRoot)) { db =>
        if (label == "__name__") db.streams().map(_.name).distinct.sorted
        else db.labelValues(label)
      }
      promStrings(values)
    }
    // /api/v1/series?match[]=<selector> — the catalog streams a
    // selector admits, as Prometheus label-set objects. The full
    // matcher algebra applies (it resolves on the catalog).
    promContext("/api/v1/series") { params =>
      val sels = params.getOrElse("match[]", params.getOrElse("match", Nil))
      if (sels.isEmpty)
        throw new IllegalArgumentException("missing parameter: match[]")
      val path = promPath(params, dbRoot)
      // Prometheus allows a fully nameless `{job="x"}` here (the
      // catalog is the only thing scanned): parseSeriesSelector is the
      // parser's OWN nameless-permitting entry point — it injects the
      // match-all __name__ itself and still rejects a name/__name__
      // CONFLICT, so no error-message sniffing or query re-splicing
      // (which a reworded parser error would silently break).
      // Multiple match[] selectors UNION, as in Prometheus.
      val cat = new graft.tsdb.StreamCatalog(stores.read(path)(_.streams()))
      val hits = sels.flatMap { sel =>
        val p = PromParser.parseSeriesSelector(sel)
        cat.resolve(p.name, p.matchers)
      }.distinct
      val mapper = new ObjectMapper()
      val root = mapper.createObjectNode()
      root.put("status", "success")
      val arr = root.putArray("data")
      hits.sortBy(d => (d.name, d.labels.toSeq.sorted.mkString(","))).foreach { d =>
        val o = arr.addObject()
        o.put("__name__", d.name)
        d.labels.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
      }
      mapper.writeValueAsString(root)
    }
    // one worker per Spark core; idle workers exit after 30 s, and as
    // daemons they never hold the JVM open after the server stops
    val workers = spark.sparkContext.defaultParallelism
    val prefix = s"graft-web-${server.getAddress.getPort}-"
    val named = new AtomicInteger()
    val pool = new ThreadPoolExecutor(workers, workers, 30, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, prefix + named.incrementAndGet())
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    server.setExecutor(pool)
    server.start()
    server
  }

  /** The shuffle width of a server's session: one reduce task per
    * request. Scan parallelism (one task per pruned file) is unchanged,
    * and AQE stays on. A constant, not an option.
    *
    * Measured on perfbench's serve store (130,560 rows, `local[4]`):
    * with 4 concurrent clients, width 1 raises serve `qps` about 1.4x
    * over the batch width of 32. A LONE client pays for it on
    * whole-history query_range work, whose reduce side then runs as one
    * task: interleaved in one JVM, `sum by (service)(rate(m[5m]))` over
    * 128 h at a 1 m step took 898 ms at width 1 against 554 at width 4
    * and 505 at width 32 (ranged topk 968 / 653 / 698); the
    * interpolated align and short windows did not lose. Sizing the
    * width to the requests in flight is still open (ROADMAP).
    */
  private val ServingShufflePartitions = 1L

  /** A server's own session: `caller.newSession()` (same SparkContext,
    * own SQLConf) carrying every entry of the caller's `conf.getAll`
    * that is runtime-modifiable — the time zone, the parquet flags, AQE
    * — with `spark.sql.shuffle.partitions` set to
    * [[ServingShufflePartitions]]. The caller's session is untouched.
    */
  private[graft] def servingSession(caller: SparkSession): SparkSession = {
    val s = caller.newSession()
    caller.conf.getAll.foreach { case (k, v) =>
      if (caller.conf.isModifiable(k)) s.conf.set(k, v)
    }
    s.conf.set("spark.sql.shuffle.partitions", ServingShufflePartitions)
    s
  }

  /** One server's open stores: per store real path, one shared
    * [[GraftDb]] and the lock that orders this server's requests on it
    * — reads share it, writes ([[write]]) hold it alone.
    */
  private[tools] final class Stores(val spark: SparkSession,
      val dbRoot: Option[String]) {
    private final class Store(val db: GraftDb) {
      val lock = new ReentrantReadWriteLock()
    }
    private val open = new ConcurrentHashMap[Path, Store]()

    def read[A](path: Path)(f: GraftDb => A): A = locked(path, _.readLock())(f)
    def write[A](path: Path)(f: GraftDb => A): A = locked(path, _.writeLock())(f)

    private def locked[A](path: Path, pick: ReentrantReadWriteLock => Lock)(
        f: GraftDb => A): A = {
      val store = open.computeIfAbsent(path,
        p => new Store(new GraftDb(spark, p.toString)))
      val lock = pick(store.lock)
      lock.lock()
      try f(store.db) finally lock.unlock()
    }
  }

  // ---- Prometheus API bridge ----

  /** Query-string / form-body params, MULTI-VALUED (Prometheus sends
    * repeated `match[]` keys; collapsing to last-wins silently drops
    * selectors). Values keep arrival order.
    */
  private def promParseParams(raw: String): Map[String, List[String]] =
    raw.split('&').filter(_.contains("=")).toList
      .map { kv =>
        val i = kv.indexOf('=')
        java.net.URLDecoder.decode(kv.take(i), "UTF-8") ->
          java.net.URLDecoder.decode(kv.drop(i + 1), "UTF-8")
      }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  /** The Prometheus error envelope. */
  private def promErrorBody(e: Exception): String = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("status", "error")
    root.put("errorType", "bad_data")
    root.put("error", Option(e.getMessage).getOrElse("bad request"))
    m.writeValueAsString(root)
  }

  private def promRespond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** An engine over an empty store — evaluates selector-free scalar
    * expressions with the exact engine semantics and zero file I/O.
    */
  private def storelessEngine(spark: SparkSession): graft.tsdb.TsdbEngine = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("name", StringType),
      StructField("labels", MapType(StringType, StringType)),
      StructField("timestamp", LongType),
      StructField("value", DoubleType)))
    new graft.tsdb.TsdbEngine(spark,
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      new graft.tsdb.StreamCatalog(Nil))
  }

  /** A {"status":"success","data":[strings...]} body. */
  private def promStrings(values: Seq[String]): String = {
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("status", "success")
    val arr = root.putArray("data")
    values.foreach(arr.add)
    mapper.writeValueAsString(root)
  }

  /** A Prometheus time parameter → epoch ms: unix seconds (possibly
    * fractional; the STRICT float pattern — see [[promStepMs]] for why
    * a parse-attempt dispatch silently misreads duration-suffixed
    * strings) or an RFC3339 timestamp (`2026-08-16T00:00:00Z`,
    * fractional seconds and numeric offsets included — promtool and
    * Grafana both send this form). Garbage gets Prometheus' own
    * error wording, not a raw NumberFormatException.
    */
  private[graft] def promTimeMs(params: Map[String, List[String]],
      k: String): Long = {
    val v = promParam(params, k)
    if (promFloatRe.pattern.matcher(v).matches()) math.round(v.toDouble * 1000)
    else
      try java.time.OffsetDateTime.parse(v).toInstant.toEpochMilli
      catch {
        case _: java.time.format.DateTimeParseException =>
          throw new IllegalArgumentException(
            s"""invalid parameter "$k": cannot parse "$v" to a valid timestamp""")
      }
  }

  /** Prometheus step/duration: a float (seconds) or a duration string
    * like "15s" / "1h30m". The float branch is gated on a STRICT
    * numeric pattern, not a parse attempt — Java's Double.parseDouble
    * accepts the 'd'/'f' float-type suffixes, so "1d".toDouble is 1.0
    * and a try/catch dispatch would silently read a one-DAY step as
    * one SECOND. Durations delegate to PromParser.durationMs (the one
    * duration grammar). Zero, negative, and non-finite values reject
    * with Prometheus' own wording.
    */
  private val promFloatRe = "[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?".r
  private[graft] def promStepMs(v: String): Long = {
    val ms =
      if (promFloatRe.pattern.matcher(v).matches()) math.round(v.toDouble * 1000)
      else PromParser.durationMs(v).getOrElse(
        throw new IllegalArgumentException(s"bad duration: $v"))
    require(ms > 0, s"zero or negative query resolution step: $v")
    ms
  }

  private def promParam(params: Map[String, List[String]], k: String): String =
    params.get(k).flatMap(_.headOption).getOrElse(
      throw new IllegalArgumentException(s"missing parameter: $k"))

  /** A request's store path, REAL (symlinks followed on the deepest
    * existing prefix, the not-yet-created remainder appended
    * lexically) — the key the server's [[Stores]] registry opens it
    * under — rejected unless it resolves under the configured db root.
    * The ONE containment check every endpoint shares (a copy per call
    * site is how a symlink-hardening fix misses one); real resolution
    * means a link planted inside the root pointing outside it cannot
    * pass the containment test a purely lexical normalize would grant.
    */
  private def storePath(path: String, dbRoot: Option[String]): Path = {
    val requested = realPath(Paths.get(path).toAbsolutePath)
    dbRoot.foreach { root =>
      if (!requested.startsWith(realPath(Paths.get(root).toAbsolutePath)))
        throw new IllegalArgumentException(s"path outside db root: $path")
    }
    requested
  }

  // Existence probes NOFOLLOW: a DANGLING symlink must count as the
  // deepest existing component and get its target resolved by hand
  // — Files.exists() follows links, so a dangling one would read as
  // "not there yet", be re-appended lexically onto the real root,
  // and pass containment while the filesystem later CREATES the
  // store through the link, outside the root.
  private def realPath(p0: Path, depth: Int = 0): Path = {
    require(depth < 40, s"symlink chain too deep resolving: $p0")
    var existing = p0
    var rest = List.empty[String]
    while (existing != null &&
        !Files.exists(existing, LinkOption.NOFOLLOW_LINKS)) {
      rest = existing.getFileName.toString :: rest
      existing = existing.getParent
    }
    if (existing == null)
      rest.foldLeft(p0.getRoot)(_.resolve(_)).normalize
    else if (Files.isSymbolicLink(existing)) {
      val target = Files.readSymbolicLink(existing)
      val resolved =
        if (target.isAbsolute) target
        else existing.getParent.resolve(target)
      realPath(rest.foldLeft(resolved)(_.resolve(_)).normalize, depth + 1)
    } else rest.foldLeft(existing.toRealPath())(_.resolve(_)).normalize
  }

  /** The Prometheus API's `path` param (default: the db root itself). */
  private def promPath(params: Map[String, List[String]],
      dbRoot: Option[String]): Path = {
    val path = params.get("path").flatMap(_.headOption).orElse(dbRoot)
      .getOrElse(throw new IllegalArgumentException(
        "missing parameter: path (and no db root configured)"))
    storePath(path, dbRoot)
  }

  /** One evaluated API-bridge query: the series-key column names, a
    * flag marking the one-column canonical `without` encoding (the
    * serializer re-opens it into per-label metric fields), and the
    * collected (labels..., timestamp, value) rows.
    */
  private final case class PromMatrix(labels: Seq[String],
      canonical: Boolean, rows: Array[Row]) {
    /** A row's series key: its label cells as text, NULL as "". */
    def key(r: Row): Seq[String] =
      labels.indices.map(i => if (r.isNullAt(i)) "" else r.get(i).toString)

    /** Write one series' metric object: plain `by` labels map 1:1; the
      * `without` canonical column (k=v,k=v, LabelCodec-escaped) re-opens
      * into per-label fields — "" is the empty label set.
      */
    def putMetric(metric: ObjectNode, key: Seq[String]): Unit =
      if (canonical)
        LabelCodec.decodeLabels(key.headOption.getOrElse(""),
            s"without group '${key.headOption.getOrElse("")}'")
          .toSeq.sortBy(_._1).foreach { case (k, v) => metric.put(k, v) }
      else labels.zip(key).foreach { case (l, v) => metric.put(l, v) }
  }

  /** The ONE definition of "an already-windowed inner the sliding
    * evaluator accepts": a range function over a matrix selector or a
    * subquery. The aggregate-child rule and the within-group topk arm
    * both match through this.
    */
  private object SlidingShape {
    def unapply(e: Expr): Option[Expr.RangeFn] = e match {
      case rf @ Expr.RangeFn(_,
          _: Expr.MatrixSelector | _: Expr.SubqueryMatrix, _) => Some(rf)
      case _ => None
    }
  }

  /** Evaluate a Prometheus-API query: validate, rewrite a bare
    * selector, hand the tree to the engine's ONE query_range entry
    * ([[graft.tsdb.TsdbEngine.queryRange]], which evaluates every root
    * shape and names the result's series), collect the rows and sort
    * them in series order on the driver ([[seriesOrder]]).
    *
    *  - Validation: the bridge accepts less than the engine. One walk,
    *    run before evaluation, keeps its narrower rules as 400s: the
    *    aggregate-child shape rule (`checkAgg`), grouped × raw mixing and
    *    same-grouping composition (`aggGrouping`), label-carry onto a
    *    `without` many side (the carried column has no metric field in
    *    the canonical identity), the within-group topk child, and
    *    count_values under a sampler.
    *  - Rewrite: a bare selector `m` — the root, or the child of a
    *    within-group `topk by (s) (k, m)` — becomes the last sample per
    *    step within a step-sized lookback, `last_over_time(m[step])`
    *    (Prometheus' staleness lookback, with the window tied to the
    *    step instead of 5m).
    *  - Aggregates evaluate each group over its POOLED samples (a
    *    group IS one series — [[graft.tsdb.TsdbEngine.windowedAgg]] and
    *    `pooledAggPost` give the per-step answers); `without` groupings
    *    key the series by the canonical label-set column, which the
    *    serializer decodes back to metric fields.
    */
  private def promEval(db: GraftDb, ast: Expr, startMs: Long,
      endMs: Long, stepMs: Long): PromMatrix = {
    import graft.tsdb.Expr._
    // the aggregate-child shape rule: the bridge aggregates a selector
    // (the per-step window statistic) or an already-windowed inner (one
    // pooled series). Inside a composition only the kinds whose
    // one-series answer is the identity ride: count→1 / stddev→0 are
    // constants, and reject with guidance
    def checkAgg(kind: AggKind, child: Expr, composed: Boolean): Unit =
      child match {
        case SlidingShape(_) => if (composed) kind match {
          case AggSum | AggAvg | AggMin | AggMax => ()
          case AggQuantile(phi) =>
            require(phi >= 0 && phi <= 1, s"quantile φ out of [0, 1]: $phi")
          case other => throw new IllegalArgumentException(
            s"$other over an already-windowed inner cannot compose " +
              "inside binary/set expressions over the API bridge (its " +
              "one-pooled-series answer is a constant — query it " +
              "standalone)")
        }
        case _: Selector => graft.tsdb.TsdbEngine.windowedAgg(kind); ()
        case other => throw new IllegalArgumentException(
          s"the API bridge aggregates a selector or a range function " +
            s"over a matrix selector, got: $other")
      }
    // the validation walk over an aggregate-carrying tree: Some(grouping)
    // when an aggregate sits at the tree's composition level — a root
    // aggregate, or binary/set/instant math over aggregates, literals
    // welcome (the ratio panel `sum by (s) (err) / sum by (s) (req)`,
    // the masking idiom `sum by (s) (m) unless (count by (s) (m) > 1)`);
    // None when none does. An aggregate-free side (literals always; any
    // sliding shape beside an UNGROUPED aggregate) rides along raw;
    // grouped × raw rejects — the raw side has no group key in the
    // pooled-series model (the engine would evaluate it per group,
    // which Prometheus' label matching does not)
    def aggGrouping(e: Expr, composed: Boolean): Option[Option[Grouping]] =
      e match {
        case Aggregate(k, c, g) => checkAgg(k, c, composed); Some(g)
        case BinaryOp(_, l, r, None) =>
          def mixed(other: Expr): Nothing = throw new IllegalArgumentException(
            s"grouped and ungrouped operands cannot compose over the " +
              s"API bridge (no shared key in the pooled-series model): " +
              s"$other")
          // grouping equality is order-INsensitive: `sum by (a,b) (x) /
          // sum by (b,a) (y)` is one grouping — the engine joins group
          // columns by NAME, so label order never matters (ADVICE r12)
          def same(a: Option[Grouping], b: Option[Grouping]): Boolean =
            (a, b) match {
              case (Some(x), Some(y)) =>
                x.by == y.by && x.labels.toSet == y.labels.toSet
              case (x, y) => x == y
            }
          (aggGrouping(l, composed = true),
              aggGrouping(r, composed = true)) match {
            case (Some(gl), Some(gr)) =>
              require(same(gl, gr), "grouped operands must share the same " +
                s"grouping over the API bridge: $gl vs $gr")
              Some(gl)
            case (Some(g), None) =>
              if (g.isEmpty || r.isInstanceOf[NumberLit]) Some(g) else mixed(r)
            case (None, Some(g)) =>
              if (g.isEmpty || l.isInstanceOf[NumberLit]) Some(g) else mixed(l)
            case (None, None) => None
          }
        case InstantFn(_, c, _) => aggGrouping(c, composed = true)
        case _ => None
      }
    // count_values anywhere in a sampler child: the sampler picks
    // SERIES and count_values keys its output series by VALUE text, so
    // the engine would fail deep with a generic sliding-grouping error
    // (advice r14) — reject up front with guidance instead
    def containsCountValues(e0: Expr): Boolean = e0 match {
      case Aggregate(AggCountValues(_), _, _) => true
      case Aggregate(_, c, _) => containsCountValues(c)
      case BinaryOp(_, l, r, _) =>
        containsCountValues(l) || containsCountValues(r)
      case InstantFn(_, c, _) => containsCountValues(c)
      case RangeFn(_, c, _) => containsCountValues(c)
      case SubqueryMatrix(c, _, _, _) => containsCountValues(c)
      case _ => false
    }
    def checkMatched(sides: Aggregate*): Unit =
      sides.foreach(a => checkAgg(a.kind, a.child, composed = true))
    // ranged limitk/limit_ratio sample the series of a matched or
    // grouped child
    def checkSampled(child: Expr, op: String, hint: String): Unit =
      child match {
        case BinaryOp(_, l @ Aggregate(_, _, Some(_)),
            r @ Aggregate(_, _, Some(_)), Some(_)) => checkMatched(l, r)
        case _ => require(!containsCountValues(child),
          s"ranged $op samples SERIES — count_values keys series by " +
            s"VALUE text; aggregate into label groups instead: $hint")
      }
    def lastSample(sel: Selector): Expr =
      RangeFn(FnLastOverTime, MatrixSelector(sel, stepMs), Nil)
    val tree = ast match {
      case BinaryOp(_, l @ Aggregate(_, _, Some(gl)),
          r @ Aggregate(_, _, Some(gr)), Some(vm)) =>
        val manyG = if (vm.card == OneToMany) gr else gl
        require(manyG.by || vm.carry.isEmpty,
          "label-carry onto a without-grouped many side is not " +
            "supported over the API bridge — the carried column has " +
            "no metric field inside the canonical identity; re-group " +
            "the many side with `by`")
        checkMatched(l, r)
        ast
      case GetK(top, kExpr, child, g @ Some(_)) => child match {
        case SlidingShape(_) => ast
        case sel: Selector => GetK(top, kExpr, lastSample(sel), g)
        case other => throw new IllegalArgumentException(
          s"the API bridge ranks a selector or a range function over " +
            s"a matrix selector, got: $other")
      }
      case LimitK(_, child) =>
        checkSampled(child, "limitk", "limitk(3, sum by (s) (m))"); ast
      case LimitRatio(_, child) =>
        checkSampled(child, "limit_ratio",
          "limit_ratio(0.5, sum by (s) (m))"); ast
      case Aggregate(AggCountValues(_), _, None) => ast
      case sel: Selector => lastSample(sel)
      case other => aggGrouping(other, composed = false); other
    }
    val r = db.engine().queryRange(tree, startMs, endMs, stepMs)
    PromMatrix(r.seriesKey, r.canonical,
      r.output.collect().sorted(seriesOrder))
  }

  /** Spark's ascending `orderBy` over every column of collected
    * (key..., [timestamp,] value) rows, column by column: NULL first;
    * text by its UTF-8 bytes (`UTF8String`, as Spark compares strings
    * — not `String.compareTo`'s UTF-16 order, which puts U+1F600 before
    * U+FF61); numbers as Spark orders them (-0.0 equals 0.0, NaN last).
    */
  private val seriesOrder: Ordering[Row] = new Ordering[Row] {
    def compare(a: Row, b: Row): Int = {
      var c = 0
      var i = 0
      while (c == 0 && i < a.length) {
        c = (a.isNullAt(i), b.isNullAt(i)) match {
          case (true, true) => 0
          case (true, false) => -1
          case (false, true) => 1
          case _ => a.get(i) match {
            case x: String => UTF8String.fromString(x)
              .compareTo(UTF8String.fromString(b.getString(i)))
            case x: java.lang.Long => java.lang.Long.compare(x, b.getLong(i))
            case x: java.lang.Double =>
              val y = b.getDouble(i)
              if (x == y) 0 else java.lang.Double.compare(x, y)
          }
        }
        i += 1
      }
      c
    }
  }

  /** Prometheus' query_range resolution limit: (end − start) / step. */
  private val MaxPointsPerSeries = 11000

  /** Refuse more than [[MaxPointsPerSeries]] steps, with Prometheus'
    * wording: a tiny step would explode every sample into up to
    * ceil(range / step) + 1 windows. The span saturates on overflow
    * (as Prometheus' own `Sub` does), so a range whose ends are each
    * inside `Long` but whose width is not still counts as too wide.
    * Order and sign of the bounds and step are the caller's check.
    */
  private def requireResolution(startMs: Long, endMs: Long, stepMs: Long): Unit = {
    val span =
      try Math.subtractExact(endMs, startMs)
      catch { case _: ArithmeticException => Long.MaxValue }
    require(stepMs <= 0 || span / stepMs <= MaxPointsPerSeries,
      "exceeded maximum resolution of 11,000 points per timeseries. " +
        "Try decreasing the query resolution (?step=XX)")
  }

  private[tools] def handlePromQueryRange(stores: Stores,
      params: Map[String, List[String]]): String = {
    val path = promPath(params, stores.dbRoot)
    val startMs = promTimeMs(params, "start")
    val endMs = promTimeMs(params, "end")
    val stepMs = promStepMs(promParam(params, "step"))
    require(endMs >= startMs, "end < start")
    requireResolution(startMs, endMs, stepMs)
    val ast = PromParser.parse(promParam(params, "query"))
    val m = stores.read(path)(promEval(_, ast, startMs, endMs, stepMs))
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("status", "success")
    val data = root.putObject("data")
    data.put("resultType", "matrix")
    val result = data.putArray("result")
    // rows arrive ordered by (labels..., timestamp): one series object
    // per label tuple, values as [unix_seconds, "value"] pairs
    var curKey: Seq[String] = null
    var curValues: com.fasterxml.jackson.databind.node.ArrayNode = null
    m.rows.foreach { r =>
      val key = m.key(r)
      if (curKey == null || key != curKey) {
        curKey = key
        val series = result.addObject()
        m.putMetric(series.putObject("metric"), key)
        curValues = series.putArray("values")
      }
      val n = m.labels.size
      if (!r.isNullAt(n + 1)) {
        val pair = curValues.addArray()
        pair.add(r.getLong(n) / 1000.0)
        pair.add(r.getDouble(n + 1).toString)
      }
    }
    mapper.writeValueAsString(root)
  }

  /** Instant query: evaluated at `time` with a single sliding step —
    * resultType "vector", one {metric, value} per series.
    */
  private[tools] def handlePromInstant(stores: Stores,
      params: Map[String, List[String]]): String = {
    val spark = stores.spark
    val path = promPath(params, stores.dbRoot)
    val timeMs = promTimeMs(params, "time")
    // the lookback for bare-selector / grouped-selector shapes
    // (Prometheus' 5m staleness default)
    val lookbackMs = params.get("lookback").flatMap(_.headOption)
      .map(promStepMs).getOrElse(300000L)
    val ast = PromParser.parse(promParam(params, "query"))
    // pure scalar expressions (no selector anywhere: literals, time(),
    // their arithmetic) answer with Prometheus' "scalar" resultType.
    // They evaluate on an engine over an EMPTY store — the exact S2S
    // semantics (incl. the comparison-needs-bool rejection) with no
    // store file listing for a query that touches no data.
    def pureScalar(e: Expr): Boolean = e match {
      case Expr.NumberLit(_) | Expr.TimeFn => true
      case Expr.BinaryOp(_, l, r, None) => pureScalar(l) && pureScalar(r)
      case _ => false
    }
    def scalarBody(v: Double): String = {
      val mapper = new ObjectMapper()
      val root = mapper.createObjectNode()
      root.put("status", "success")
      val data = root.putObject("data")
      data.put("resultType", "scalar")
      val pair = data.putArray("result")
      pair.add(timeMs / 1000.0)
      pair.add(v.toString)
      mapper.writeValueAsString(root)
    }
    ast match {
      case e if pureScalar(e) =>
        return scalarBody(storelessEngine(spark).query(e, timeMs, timeMs)
          .output.collect().head.getDouble(0))
      case Expr.ScalarFn(child) =>
        // scalar(v) needs the store: the one-element collapse, NaN
        // otherwise. A BARE-SELECTOR child first maps to its latest
        // sample within the staleness lookback — the same
        // last_over_time mapping the bare-selector vector arm uses —
        // because the engine's whole-range evaluation would otherwise
        // hand the collapse EVERY lookback sample (any normally-scraped
        // series has >1) and answer NaN where Prometheus returns the
        // single series' latest value. Start is lookback-exclusive /
        // end-inclusive ((t-5m, t], one window) like Prometheus'.
        val (expr, startAt) = child match {
          case sel: Expr.Selector => (Expr.ScalarFn(Expr.RangeFn(
            Expr.FnLastOverTime, Expr.MatrixSelector(sel, lookbackMs), Nil)),
            timeMs - lookbackMs + 1)
          case _ => (ast, timeMs - lookbackMs)
        }
        val v = stores.read(path)(_.engine().query(expr, startAt, timeMs)
          .output.collect().headOption.map(_.getDouble(0)))
          .getOrElse(Double.NaN)
        return scalarBody(v)
      case Expr.VectorFn(child) if pureScalar(child) =>
        // vector(s): one unlabeled sample at the eval time
        val v = storelessEngine(spark).query(ast, timeMs, timeMs)
          .output.collect().head.getDouble(1)
        val mapper = new ObjectMapper()
        val root = mapper.createObjectNode()
        root.put("status", "success")
        val data = root.putObject("data")
        data.put("resultType", "vector")
        val series = data.putArray("result").addObject()
        series.putObject("metric")
        val pair = series.putArray("value")
        pair.add(timeMs / 1000.0)
        pair.add(v.toString)
        return mapper.writeValueAsString(root)
      case _ => ()
    }
    val m = stores.read(path)(promEval(_, ast, timeMs, timeMs, lookbackMs))
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("status", "success")
    val data = root.putObject("data")
    data.put("resultType", "vector")
    val result = data.putArray("result")
    val n = m.labels.size
    m.rows.foreach { r =>
      if (!r.isNullAt(n + 1)) {
        val series = result.addObject()
        m.putMetric(series.putObject("metric"), m.key(r))
        val pair = series.putArray("value")
        pair.add(r.getLong(n) / 1000.0)
        pair.add(r.getDouble(n + 1).toString)
      }
    }
    mapper.writeValueAsString(root)
  }

  private[tools] def handleCompact(stores: Stores,
      requestJson: String): String = {
    val mapper = new ObjectMapper()
    val req = mapper.readTree(requestJson)
    def field(k: String) = Option(req.get(k)).filterNot(_.isNull)
    val path = allowedPath(req, stores.dbRoot)
    val maxFiles = field("max_files").map(_.asInt()).getOrElse(4)
    val n = stores.write(path)(_.compact(maxFiles))
    val root = mapper.createObjectNode()
    root.put("compacted_partitions", n)
    mapper.writeValueAsString(root)
  }

  private[tools] def handleDeleteStream(stores: Stores,
      requestJson: String): String = {
    val mapper = new ObjectMapper()
    val req = mapper.readTree(requestJson)
    val path = allowedPath(req, stores.dbRoot)
    val selector = Option(req.get("selector")).filterNot(_.isNull)
      .map(_.asText())
      .getOrElse(throw new IllegalArgumentException("missing field: selector"))
    stores.write(path)(_.deleteStream(selector))
    val root = mapper.createObjectNode()
    root.put("deleted", selector)
    mapper.writeValueAsString(root)
  }

  private[tools] def handleRecord(stores: Stores,
      requestJson: String): String = {
    val mapper = new ObjectMapper()
    val req = mapper.readTree(requestJson)
    def field(k: String) = Option(req.get(k)).filterNot(_.isNull)
    def need(k: String) = field(k).getOrElse(
      throw new IllegalArgumentException(s"missing field: $k"))
    val path = allowedPath(req, stores.dbRoot)
    // optional "by" (array or comma-separated string) selects the
    // GROUPED rule — one derived stream per group under `target`,
    // labels preserved; it requires "step" (grouped rules record the
    // per-step series)
    val by = field("by").map(byLabels).getOrElse(Nil)
    val n = stores.write(path) { db =>
      if (by.isEmpty)
        db.record(need("target").asText(), need("query").asText(),
          need("start").asLong(), need("end").asLong(),
          field("step").map(_.asLong()))
      else db.recordGrouped(need("target").asText(), need("query").asText(),
        graft.tsdb.Expr.Grouping(by = true, by),
        need("start").asLong(), need("end").asLong(),
        field("step").map(_.asLong()).getOrElse(
          throw new IllegalArgumentException(
            "\"by\" requires \"step\" (grouped rules record the " +
              "per-step series)")))
    }
    val root = mapper.createObjectNode()
    root.put("recorded", n)
    root.put("target", need("target").asText())
    mapper.writeValueAsString(root)
  }

  private[tools] def handleExpire(stores: Stores,
      requestJson: String): String = {
    val mapper = new ObjectMapper()
    val req = mapper.readTree(requestJson)
    val path = allowedPath(req, stores.dbRoot)
    val beforeMs = Option(req.get("before_ms")).filterNot(_.isNull)
      .map(_.asLong())
      .getOrElse(throw new IllegalArgumentException("missing field: before_ms"))
    val n = stores.write(path)(_.expire(beforeMs))
    val root = mapper.createObjectNode()
    root.put("expired_partitions", n)
    mapper.writeValueAsString(root)
  }

  /** A request's "by" field: a JSON array of label names, or one
    * comma-separated string.
    */
  private def byLabels(n: com.fasterxml.jackson.databind.JsonNode)
      : List[String] =
    if (n.isArray) {
      val it = n.elements(); val b = List.newBuilder[String]
      while (it.hasNext) b += it.next().asText()
      b.result()
    } else n.asText().split(',').map(_.trim).filter(_.nonEmpty).toList

  /** The request's `path` field, rejected unless it resolves under the
    * configured db root (no arbitrary filesystem access from the
    * network).
    */
  private def allowedPath(req: com.fasterxml.jackson.databind.JsonNode,
      dbRoot: Option[String]): Path = {
    val path = Option(req.get("path")).filterNot(_.isNull).map(_.asText())
      .getOrElse(throw new IllegalArgumentException("missing field: path"))
    storePath(path, dbRoot)
  }

  /** A grouped `/query` result (by/without, whole-range or per step) as
    * a `groups` array of {label..: value.., [timestamp: t,] value: n}
    * objects, ordered by every column ([[seriesOrder]]) — the reference
    * endpoint has no analogue (its planner drops grouping). A NULL
    * value cell (Spark's divide-by-zero rule for a zero-denominator
    * group) renders as JSON null, not NPE.
    */
  private def groupsJson(mapper: ObjectMapper, df: DataFrame): String = {
    val cols = df.columns
    val root = mapper.createObjectNode()
    root.put("value_type", "Float64")
    val arr = root.putArray("groups")
    df.collect().sorted(seriesOrder).foreach { r =>
      val o = arr.addObject()
      cols.init.zipWithIndex.foreach {
        case ("timestamp", i) => o.put("timestamp", r.getLong(i))
        case (c, i) =>
          if (r.isNullAt(i)) o.putNull(c) else o.put(c, r.get(i).toString)
      }
      if (r.isNullAt(cols.length - 1)) o.putNull("value")
      else o.put("value", r.getDouble(cols.length - 1))
    }
    mapper.writeValueAsString(root)
  }

  private[tools] def handleQuery(stores: Stores, requestJson: String): String = {
    val mapper = new ObjectMapper()
    val req = mapper.readTree(requestJson)
    def field(k: String) = Option(req.get(k)).filterNot(_.isNull)
    val path = allowedPath(req, stores.dbRoot)
    val promql = field("query").map(_.asText())
      .getOrElse(throw new IllegalArgumentException("missing field: query"))
    val start = field("start").map(_.asLong()).getOrElse(Cli.HackTimeStart)
    val end = field("end").map(_.asLong()).getOrElse(Cli.HackTimeEnd)
    // Optional "step" switches to Prometheus query_range evaluation:
    // the range function slides over (T - range, T] at each step instead
    // of the one-pass tumbling shape (GraftDb.queryRange contract).
    val step = field("step").map(_.asLong())
    step.foreach(requireResolution(start, end, _))
    // the grouping lives in the query text, stepped or not
    require(field("by").isEmpty, "/query takes no \"by\" field — write " +
      "the by clause in the query text: sum by (l) (...)")
    stores.read(path) { db =>
      val res = step match {
        case Some(st) => db.queryRange(promql, start, end, st)
        case None => db.query(promql, start, end)
      }
      if (res.grouped) groupsJson(mapper, res.output)
      else valuesJson(mapper, res)
    }
  }

  /** An ungrouped `/query` result in the reference endpoint's shape. */
  private def valuesJson(mapper: ObjectMapper,
      res: graft.tsdb.TsdbResult): String = {
    val rows =
      if (res.isScalar) res.output.collect().map(r => (None: Option[Long], r.get(0)))
      else res.output.collect().sortBy(_.getLong(0))
        .map(r => (Some(r.getLong(0)), r.get(1)))
    val root = mapper.createObjectNode()
    root.put("value_type", res.vtype match {
      case VType.I64 => "Integer64"
      case VType.U64 => "UInteger64"
      case VType.F64 => "Float64"
    })
    val ts = root.putArray("timestamps")
    rows.foreach { case (t, _) => t.foreach(ts.add) }
    val (u64, i64, f64) = ("values_u64", "values_i64", "values_f64")
    val valueKey = res.vtype match {
      case VType.I64 => i64
      case VType.U64 => u64
      case VType.F64 => f64
    }
    Seq(u64, i64, f64).filterNot(_ == valueKey).foreach(root.putNull)
    val vs = root.putArray(valueKey)
    rows.foreach {
      case (_, v: java.lang.Long) => vs.add(v.longValue())
      case (_, v: java.lang.Double) =>
        if (res.vtype == VType.F64) vs.add(v.doubleValue()) else vs.add(v.longValue())
      case (_, v) => throw new IllegalStateException(s"unexpected value $v")
    }
    mapper.writeValueAsString(root)
  }
}
