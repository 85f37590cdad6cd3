package graft.tsdb

import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Expr.Matcher

/** Embedded-database facade: the Spark-native equivalent of the
  * reference's `Connection`/`Inserter`/`Query` lifecycle
  * (tachyon_core/src/lib.rs:375-577).
  *
  *  - `createStream(selector, vtype)` — lib.rs:429-456: parses a PromQL
  *    vector selector, registers (name, labels, type) in the catalog.
  *  - `inserter(selector)` — lib.rs:475-554: buffered appends; `flush()`
  *    writes a time-partitioned Parquet delta (the analogue of sealing a
  *    `.ty` file, storage/writer/persistent_writer.rs:80-98).
  *  - `query(promql, start, end)` — lib.rs:495-577 via TsdbEngine.
  *
  * Physical layout: one Parquet dataset partitioned by (`name`,
  * `bucket`) where bucket = timestamp div bucketMs — the analogue of the
  * reference's per-stream time-partitioned files (§1.3). Queries read it
  * through the DSv2 `graft` format ([[dataset]]), whose scan turns each
  * selector's pushed name set and timestamp bounds into a listing of
  * only the matching `name=`/`bucket=` dirs — the role of the
  * reference's SQLite `id_to_file(id, start, end)` probe. Parquet
  * row-group stats replace the `.ty` header min/max. The catalog is a
  * JSON-lines sidecar (replacing indexer.sqlite).
  */
final class GraftDb(
    val spark: SparkSession,
    rootDir: String,
    bucketMs: Long = 3600 * 1000L) {

  private val dataDir = s"$rootDir/data"
  /** The store's data directory and bucket width — the facts a
    * streaming writer (Recording) needs to append compatibly.
    */
  def dataPath: String = dataDir
  def bucketWidthMs: Long = bucketMs
  private val catalogFile = Paths.get(rootDir, "catalog.jsonl")
  Files.createDirectories(Paths.get(rootDir))

  // Persist the bucket width with the store: readers (the DSv2 `graft`
  // format's stats-aggregate coverage math in particular) must use the
  // TRUE width — a mis-declared one silently mis-scopes covered-bucket
  // answers — and a re-open with a different width would interleave
  // incompatible bucket dirs. First open writes it; every open verifies.
  // The write is a temp file ATOMIC_MOVEd into place, so a concurrent
  // opener (the CLI beside a server) never reads a half-written file.
  private val bucketMsFile = Paths.get(rootDir, "bucket_ms")
  if (!Files.exists(bucketMsFile)) {
    val tmp = Files.createTempFile(Paths.get(rootDir), ".bucket_ms", ".tmp")
    try {
      Files.writeString(tmp, bucketMs.toString)
      Files.move(tmp, bucketMsFile,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => ()
    } finally Files.deleteIfExists(tmp)
  }
  locally {
    val stored = Files.readString(bucketMsFile).trim.toLong
    require(stored == bucketMs,
      s"store at $rootDir was written with bucketMs=$stored, got $bucketMs")
  }

  /** `value` is the f64 view; `lvalue` is the exact i64/u64 sidecar for
    * integer-typed streams (null for f64 streams) — the two views of the
    * reference's 8-byte Value union (lib.rs:126-132). Doubles lose
    * integer precision above 2^53, so the engine reads integer streams
    * from `lvalue` (Engine.select) and stays in LongType end-to-end.
    */
  private val dataSchema = StructType(Seq(
    StructField("name", StringType),
    StructField("labels", MapType(StringType, StringType)),
    StructField("timestamp", LongType),
    StructField("value", DoubleType),
    StructField("lvalue", LongType)))

  // ---- catalog ----

  private def parseSelector(selector: String): (String, Map[String, String]) =
    PromParser.parse(selector) match {
      case Expr.Selector(name, ms, None, 0L) =>
        // write-side selectors NAME a stream; a `!=`/`=~`/`!~` matcher
        // doesn't (queries take those — GraftDb.query/StreamCatalog)
        ms.find(_.op != Expr.MatchEq).foreach { m =>
          throw new IllegalArgumentException(
            s"stream selectors take only equality matchers, got " +
              s"${m.label}${m.op.sym}\"${m.value}\" in: $selector")
        }
        if (name.isEmpty)
          throw new IllegalArgumentException(
            s"stream selectors need a literal metric name: $selector")
        (name, ms.map(m => m.label -> m.value).toMap)
      case other =>
        throw new IllegalArgumentException(s"not a plain selector: $other")
    }

  /** Catalog introspection, Prometheus label-API shape: every label
    * key in the catalog (sorted), and the distinct values of one key
    * (sorted), optionally restricted to streams of one metric name.
    * Pure catalog reads — metadata-sized, the store is never opened.
    */
  def labelNames(): Seq[String] =
    streams().flatMap(_.labels.keys).distinct.sorted

  def labelValues(key: String, name: Option[String] = None): Seq[String] =
    streams()
      .filter(d => name.forall(_ == d.name))
      .flatMap(_.labels.get(key)).distinct.sorted

  def streams(): Seq[StreamDef] = snapshot()._1

  /** Matcher resolution via the inverted label index (the reference's
    * SQLite indexer probe shape, indexer.rs:493-516): intersect the
    * per-(label, value) ID sets, then filter by name. Semantics are
    * identical to the linear filter — streams whose label set contains
    * every requested pair — but the probe is index-sized, not
    * catalog-sized, and the parsed catalog itself is memoized below.
    */
  def resolve(name: String, labels: Map[String, String]): Seq[StreamDef] = {
    val (defs, inverted) = snapshot()
    if (labels.isEmpty) defs.filter(_.name == name)
    else {
      val sets = labels.iterator
        .map(kv => inverted.getOrElse(kv, Set.empty[Int])).toSeq
      sets.reduce(_ intersect _).toSeq.sorted
        .map(defs).filter(_.name == name)
    }
  }

  /** Parsed catalog + inverted label map, memoized on the file's
    * (content CRC32, size): repeated probes (createStream existence
    * checks, inserter resolution, labelNames/labelValues — every one
    * previously re-read and re-parsed the whole JSONL, GraftDb.scala r9
    * finding #4) now parse once per catalog VERSION. The key is
    * CONTENT-derived, not (mtime, size): an external writer that
    * rewrites the catalog to the same byte length within one mtime tick
    * (e.g. a deleteStream rewrite flipping one same-length label value)
    * still invalidates (ADVICE r10). The catalog is metadata-sized
    * (one line per stream), so the per-probe read+CRC is trivial next
    * to the parse + inverted-index build the memo saves. Our own
    * writers additionally invalidate explicitly.
    */
  @volatile private var catalogMemo
      : Option[(Long, Long, Seq[StreamDef], Map[(String, String), Set[Int]])] =
    None

  /** Catalog re-parse counter — observability for the memoization spec. */
  private[graft] var catalogParses: Long = 0L

  private def invalidateCatalog(): Unit = catalogMemo = None

  private def snapshot()
      : (Seq[StreamDef], Map[(String, String), Set[Int]]) = {
    val key =
      if (!Files.exists(catalogFile)) (-1L, -1L)
      else {
        val bytes = Files.readAllBytes(catalogFile)
        val crc = new java.util.zip.CRC32
        crc.update(bytes)
        (crc.getValue, bytes.length.toLong)
      }
    catalogMemo match {
      case Some((m, s, defs, inv)) if (m, s) == key => (defs, inv)
      case _ =>
        val defs = parseCatalog()
        val inv = defs.iterator.zipWithIndex
          .flatMap { case (d, i) => d.labels.iterator.map(kv => kv -> i) }
          .toSeq.groupMap(_._1)(_._2).map { case (k, v) => k -> v.toSet }
        catalogMemo = Some((key._1, key._2, defs, inv))
        (defs, inv)
    }
  }

  private def parseCatalog(): Seq[StreamDef] = {
    catalogParses += 1
    if (!Files.exists(catalogFile)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      val all = Files.readAllLines(catalogFile).asScala.toSeq
      // headerless catalog = written before escaping existed → labels
      // parse RAW ('%' literal); the v2 header switches on %XX decode
      val v2 = all.headOption.contains(LabelCodec.V2Header)
      all.filter(l => l.nonEmpty && l != LabelCodec.V2Header).map { line =>
        // line format: vtype \t name \t k=v,k=v (labels LabelCodec-escaped
        // under the v2 header, raw otherwise).
        // Loud on malformed lines: silently skipping one would make the
        // stream invisible to selectors while its data keeps matching
        // scans — fail with the line in hand instead.
        val parts = line.split("\t", -1)
        if (parts.length != 3) throw new IllegalStateException(
          s"malformed catalog line (expected vtype\\tname\\tlabels): $line")
        val vt = parts(0) match {
          case "i64" => VType.I64; case "u64" => VType.U64; case _ => VType.F64
        }
        StreamDef(parts(1), LabelCodec.decodeLabels(parts(2), line, v2), vt)
      }
    }
  }

  /** One v2 catalog line for a stream definition. */
  private def catalogLine(d: StreamDef): String = {
    val vt = d.vtype match {
      case VType.I64 => "i64"; case VType.U64 => "u64"; case VType.F64 => "f64"
    }
    s"$vt\t${d.name}\t${LabelCodec.encodeLabels(d.labels)}"
  }

  /** Every catalog WRITE goes through here first: a missing file gets
    * the v2 header; a legacy (headerless) file is re-encoded in place —
    * its raw labels (which a clean legacy parse proves hold no
    * structural characters beyond literal `%`) re-write escaped under
    * the header, atomically, so readers never see a mixed-mode file.
    */
  private def upgradeCatalog(): Unit = {
    import scala.jdk.CollectionConverters._
    if (!Files.exists(catalogFile)) {
      Files.writeString(catalogFile, LabelCodec.V2Header + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      return
    }
    val first = Files.readAllLines(catalogFile).asScala.headOption
    if (first.contains(LabelCodec.V2Header)) return
    val upgraded = LabelCodec.V2Header +: streams().map(catalogLine)
    val tmp = catalogFile.resolveSibling(".catalog.jsonl.tmp")
    Files.write(tmp, upgraded.asJava)
    Files.move(tmp, catalogFile,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    invalidateCatalog()
  }

  /** Fixed-type stream creation (lib.rs:429-456); rejects duplicates.
    * Label keys/values are opaque text like the reference's
    * (indexer.rs:136-149): structural characters (`=`, `,`, tab,
    * newline, `%`) round-trip through [[LabelCodec]] escaping. The
    * stream NAME becomes a `name=` partition directory, so control
    * characters that no filesystem path can carry are rejected here
    * rather than corrupting the store layout.
    */
  def createStream(selector: String, vtype: VType): Unit = {
    val (name, labels) = parseSelector(selector)
    registerStream(name, labels, vtype)
  }

  /** Catalog registration from an already-parsed (name, labels) pair —
    * [[createStream]]'s body, also the entry [[recordGrouped]] uses
    * for group label sets that never existed as selector text (no
    * string round-trip to mis-quote).
    */
  private def registerStream(name: String, labels: Map[String, String],
      vtype: VType): Unit = {
    require(!name.exists(c => c == '\n' || c == '\r' || c == '\u0000' || c == '\t'),
      s"stream name must not contain newline/NUL: ${name.replace("\n", "\\n")}")
    require(!streams().exists(d => d.name == name && d.labels == labels),
      s"stream already exists: $name $labels")
    upgradeCatalog()
    Files.writeString(catalogFile,
      catalogLine(StreamDef(name, labels, vtype)) + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    invalidateCatalog()
  }

  /** BATCH catalog registration — ONE file append and ONE memo
    * invalidate for any number of new streams. Registering G groups
    * through [[registerStream]] would invalidate the CRC-memoized
    * catalog per write and re-parse it on the next existence probe:
    * O(G²) driver work on the FIRST recording of a high-cardinality
    * grouping. Callers pass pre-deduplicated defs; duplicates against
    * the existing catalog still reject loudly (same contract as
    * [[registerStream]], checked once against one snapshot).
    */
  private def registerStreams(defs: Seq[StreamDef]): Unit = {
    if (defs.isEmpty) return
    defs.foreach(d => require(
      !d.name.exists(c => c == '\n' || c == '\r' || c == '\u0000' || c == '\t'),
      s"stream name must not contain newline/NUL: ${d.name.replace("\n", "\\n")}"))
    val keys = defs.map(d => (d.name, d.labels))
    require(keys.distinct.size == keys.size,
      "duplicate stream defs in one batch registration")
    val existing = streams().map(d => (d.name, d.labels)).toSet
    keys.find(existing).foreach { case (n, ls) =>
      throw new IllegalArgumentException(s"stream already exists: $n $ls") }
    upgradeCatalog()
    Files.writeString(catalogFile,
      defs.map(catalogLine(_) + "\n").mkString,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    invalidateCatalog()
  }

  /** [[createStream]] unless the exact (name, labels) stream already
    * exists; returns the parsed pair (the idempotent entry recording
    * rules use).
    */
  def createStreamIfAbsent(selector: String,
      vtype: VType): (String, Map[String, String]) = {
    val (name, labels) = parseSelector(selector)
    if (!streams().exists(d => d.name == name && d.labels == labels))
      createStream(selector, vtype)
    (name, labels)
  }

  /** Stream deletion. The reference leaves this as an explicit todo
    * stub (lib.rs:458-473); here it is implemented for real. Two
    * shapes, because the store layout partitions by NAME:
    *
    *  - The stream is the only one under its name (common case): the
    *    catalog entry is removed, the `name=<name>` data directory is
    *    deleted (O(partitions), no file read — same property as
    *    [[expire]]), and the stats table drops the name's rows.
    *  - Several catalogued streams share the name: their rows
    *    interleave inside the same files (separable only by the labels
    *    column), so deleting one needs a data REWRITE. Without
    *    `rewrite = true` this throws rather than silently dropping
    *    neighbors' data; with it, every bucket of the name is
    *    rewritten minus the target's rows through the same hidden-file
    *    + journal + promote protocol [[compact]] uses, the name's
    *    stats rows are rebuilt from the survivors, and the catalog
    *    line is removed LAST — so a crash at any step lets a plain
    *    re-run redo the remaining steps (re-filtering already-filtered
    *    files is a value-identical rewrite).
    *
    * Idempotent on crash in the single-name shape too (catalog first,
    * so a half-deleted stream can no longer match queries' catalogs
    * mid-way): a re-run whose selector matches nothing — and whose
    * name has no other catalogued stream — sweeps any LEFTOVER data
    * dir and stats rows instead of failing, completing the earlier
    * partial delete. When there are no leftovers either, the selector
    * names a stream that simply does not exist, and that stays an
    * error (the CLI/HTTP "delete a nonexistent stream fails" contract).
    */
  def deleteStream(selector: String, rewrite: Boolean = false): Unit = synchronized {
    val (name, labels) = parseSelector(selector)
    val all = streams()
    val hits = all.filter(d => d.name == name && d.labels == labels)
    if (hits.isEmpty) {
      // Completion half of a crashed earlier delete (its catalog line
      // went first) — but only when no OTHER catalogued stream holds
      // the name; otherwise sweeping would destroy a neighbor's data,
      // so a 0-match selector there is a caller bug.
      require(!all.exists(_.name == name),
        s"selector must match exactly 1 stream, got 0 (name '$name' is " +
          "catalogued under other labels — not a crashed delete)")
      val swept = sweepName(name)
      require(swept,
        s"selector must match exactly 1 stream, got 0 (and no leftover " +
          s"data/stats for '$name' to complete a crashed delete)")
      return
    }
    require(hits.size == 1, s"selector must match exactly 1 stream, got ${hits.size}")
    val sharers = all.count(_.name == name)
    if (sharers > 1 && !rewrite)
      throw new UnsupportedOperationException(
        s"$sharers catalogued streams share name '$name'; their rows " +
          "interleave in the same files — deleting one requires a data " +
          "rewrite: call deleteStream(selector, rewrite = true)")
    if (sharers > 1) {
      rewriteOutStream(name, labels)
      if (statsDir().isDefined)
        writeStats(statsTable().where(col("name") =!= name)
          .unionByName(StatsAggregate.buildStats(
            dataset().where(col("name") === name), bucketMs)))
      removeCatalogLine(hits.head)
    } else {
      removeCatalogLine(hits.head)
      sweepName(name)
    }
  }

  /** Drop `d`'s catalog line (atomic replace). */
  private def removeCatalogLine(d: StreamDef): Unit = {
    import scala.jdk.CollectionConverters._
    // a legacy catalog re-encodes first so the v2-encoded line matches
    upgradeCatalog()
    val line = catalogLine(d)
    val kept = Files.readAllLines(catalogFile).asScala.filterNot(_ == line)
    val tmp = catalogFile.resolveSibling(".catalog.jsonl.tmp")
    Files.write(tmp, kept.asJava)
    Files.move(tmp, catalogFile,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    invalidateCatalog()
  }

  /** Remove `name`'s data partition dirs (dir names only, like expire —
    * located by UNescaping each name= dir with the same routine the
    * DSv2 reader uses, robust to escape-set drift) and its stats rows.
    * Returns whether anything was actually swept — false means the
    * name left no trace (no data dir, no stats rows).
    */
  private def sweepName(name: String): Boolean = {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(dataDir)
    var sweptData = false
    if (Files.exists(root)) {
      val dirs = scala.util.Using.resource(Files.list(root))(_.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          n.startsWith("name=") && graft.sources.GraftSource
            .unescapePathName(n.stripPrefix("name=")) == name
        }.toList)
      sweptData = dirs.nonEmpty
      dirs.foreach { dir =>
        scala.util.Using.resource(Files.walk(dir))(
          _.sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.toList).foreach(Files.deleteIfExists(_))
      }
    }
    // stats: drop the name's summary rows (new version + pointer swap).
    // Skipped only when there was nothing to sweep at all — a
    // completion re-run with no data dir AND no stale stats must not
    // churn a new stats version.
    val hadStats = statsDir().isDefined &&
      (sweptData || !statsTable().where(col("name") === name).isEmpty)
    if (hadStats)
      writeStats(statsTable().where(col("name") =!= name))
    sweptData || hadStats
  }

  /** Rewrite every bucket of `name` minus the rows of the stream whose
    * labels equal `labels` exactly — the data half of a shared-name
    * [[deleteStream]]. Crash-safe via the same per-partition journal
    * protocol as [[compact]] (roll-forward first, hidden write,
    * journal, delete, promote); value-preserving for survivors (a
    * parquet rewrite of the same rows and types).
    */
  private def rewriteOutStream(name: String, labels: Map[String, String]): Unit = {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(dataDir)
    if (!Files.exists(root)) return
    // labels equality as a row predicate: same size and every target
    // pair present (null-safe — element_at yields null for absent keys).
    // A null labels map — a legacy file written without the column, the
    // same case the DSv2 reader surfaces as null — attributes to the
    // EMPTY-labels stream (coalesce to 0), matching how such rows read
    // everywhere else; it must not silently survive every rewrite.
    val sizeMatch = coalesce(size(col("labels")), lit(0)) === labels.size
    val isTarget = labels.foldLeft(sizeMatch) { case (acc, (k, v)) =>
      acc && (element_at(col("labels"), lit(k)) <=> lit(v))
    }
    val bucketDirs = scala.util.Using.resource(Files.list(root))(
      _.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          Files.isDirectory(p) && n.startsWith("name=") &&
            graft.sources.GraftSource
              .unescapePathName(n.stripPrefix("name=")) == name
        }
        .flatMap(n => scala.util.Using.resource(Files.list(n))(
          _.iterator().asScala.filter(p => Files.isDirectory(p) &&
            p.getFileName.toString.startsWith("bucket=")).toList))
        .toList)
    bucketDirs.foreach(rollForward)
    bucketDirs.foreach { dir =>
      val files = scala.util.Using.resource(Files.list(dir))(
        _.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
        }.toList).sortBy(_.getFileName.toString)
      if (files.nonEmpty) {
        val raw = spark.read.parquet(files.map(_.toString): _*)
        // a legacy delta without the labels column would fail analysis
        // on size(labels) — surface it as a null map (empty labels)
        val df =
          if (raw.columns.contains("labels")) raw
          else raw.withColumn("labels",
            lit(null).cast(MapType(StringType, StringType)))
        swapIntoPartition(dir, files, df.where(!isTarget))
      }
    }
  }

  // ---- ingestion ----

  /** Buffered single-stream writer (lib.rs:513-554). Appends are
    * accumulated locally and written as one Parquet delta per `flush`,
    * mirroring the reference's open-file/seal cycle.
    */
  final class Inserter private[GraftDb] (
      name: String, labels: Map[String, String], val vtype: VType) {
    private val buf = ArrayBuffer.empty[(Long, Double, java.lang.Long)]

    private def isInt = vtype != VType.F64

    /** f64 insert (insert_float64); on an integer stream the value is
      * rounded into the exact sidecar, like the reference's typed
      * inserters reject/convert (lib.rs:519-554).
      */
    def insert(timestampMs: Long, value: Double): Unit = {
      // i64 boundary: the lvalue sidecar is i64 (the reference stores
      // native u64 — documented divergence, SURVEY §7 risk register), so
      // a double outside i64 range is REJECTED rather than silently
      // clamped by math.round. Long.MaxValue.toDouble is 2^63 exactly,
      // so `< that` admits every double that round-trips into i64.
      if (isInt) require(
        value >= Long.MinValue.toDouble && value < Long.MaxValue.toDouble,
        s"integer-stream value out of i64 range: $value")
      buf += ((timestampMs, value,
        if (isInt) java.lang.Long.valueOf(math.round(value)) else null))
    }

    /** Exact integer insert (insert_integer64 / insert_uinteger64):
      * `lvalue` keeps all 64 bits; the double view is the nearest f64.
      */
    def insert(timestampMs: Long, value: Long): Unit =
      buf += ((timestampMs, value.toDouble,
        if (isInt) java.lang.Long.valueOf(value) else null))

    def flush(): Unit = {
      if (buf.isEmpty) return
      val rows = buf.toSeq.map { case (t, v, lv) => Row(name, labels, t, v, lv) }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), dataSchema)
        .withColumn("bucket", col("timestamp") - pmod(col("timestamp"), lit(bucketMs)))
        .write.mode(SaveMode.Append)
        .partitionBy("name", "bucket")
        .parquet(dataDir)
      buf.clear()
    }
  }

  /** Selector must resolve to exactly one catalogued stream
    * (lib.rs:475-493) — through the inverted label index ([[resolve]]).
    */
  def inserter(selector: String): Inserter = {
    val (name, labels) = parseSelector(selector)
    val hits = resolve(name, labels)
    require(hits.size == 1, s"selector must match exactly 1 stream, got ${hits.size}")
    new Inserter(hits.head.name, hits.head.labels, hits.head.vtype)
  }

  /** Bulk DataFrame ingest: append a (timestamp: long, value) frame to
    * `selector`'s stream — the DISTRIBUTED twin of [[importCsv]] (one
    * rebalance-keyed partitioned write, no driver loop; the Inserter
    * buffers on the driver by design, this path never does). A
    * LongType value column on an integer stream keeps exact i64 via
    * the lvalue sidecar, like the CSV path.
    */
  def importFrame(selector: String, df: DataFrame): Unit = {
    val (name, labels) = parseSelector(selector)
    val hits = resolve(name, labels)
    require(hits.size == 1,
      s"selector must match exactly 1 stream, got ${hits.size}")
    val isInt = hits.head.vtype != VType.F64
    val isLongValue =
      df.schema("value").dataType == org.apache.spark.sql.types.LongType
    // an integer stream with a non-Long value column would silently
    // write lvalue=null and degrade to the truncated double view —
    // against the Inserter's round-and-range-check contract. Loud.
    require(!isInt || isLongValue,
      s"integer stream $selector takes a LongType value column (exact " +
        s"i64); got ${df.schema("value").dataType.simpleString} — " +
        "round/convert explicitly upstream")
    df.select(lit(name).as("name"),
        typedLit(labels).as("labels"),
        col("timestamp").cast("long").as("timestamp"),
        col("value").cast("double").as("value"),
        (if (isInt) col("value")
         else lit(null).cast("long")).as("lvalue"))
      .withColumn("bucket",
        col("timestamp") - pmod(col("timestamp"), lit(bucketMs)))
      .hint("rebalance", col("name"), col("bucket"))
      .write.mode(SaveMode.Append).partitionBy("name", "bucket")
      .parquet(dataDir)
  }

  /** Recording rule — Prometheus' precompute primitive: evaluate
    * `promql` over [startMs, endMs] (query_range's sliding form when
    * `stepMs` is given, the whole-range vector otherwise) and PERSIST
    * the result as the stream named by `targetSelector` (created F64
    * if absent). Dashboards then read the cheap derived series instead
    * of re-running the expensive expression. Grouped results are
    * rejected — a single stream cannot hold label columns; record each
    * group under its own target selector.
    *
    * Scale shape: the evaluated frame IS the write — one distributed
    * rebalance-keyed append through [[importFrame]], no driver
    * materialization. The returned count comes from the evaluated
    * frame itself, persisted across count-then-write (the output is
    * step-count-sized, so the cache is metadata-sized) — ONE source
    * scan total, and no read-back of the just-written window.
    */
  def record(targetSelector: String, promql: String, startMs: Long,
      endMs: Long, stepMs: Option[Long] = None): Long = {
    // validation order matters: everything that can REJECT runs before
    // the catalog write, so a failed record never leaves a phantom
    // empty stream behind. (The occupied-window probe works on a
    // not-yet-created stream too — an unknown name scans empty.)
    // Append-only store: re-recording a window would DUPLICATE samples,
    // so an occupied target window rejects loudly (LIMIT-1 probe).
    require(query(targetSelector, startMs, endMs).df.limit(1).collect().isEmpty,
      s"target stream already holds samples in [$startMs, $endMs] — " +
        "re-recording would duplicate points (deleteStream first, or " +
        "record a disjoint window)")
    val res = stepMs match {
      case Some(s) => queryRange(promql, startMs, endMs, s)
      case None => query(promql, startMs, endMs)
    }
    require(!res.isScalar && !res.grouped,
      "record takes a vector-valued query (grouped results carry label " +
        "columns one stream cannot hold — record each group under its " +
        "own target selector)")
    createStreamIfAbsent(targetSelector, VType.F64)
    val frame = res.output.select(col("timestamp"), col("value")).persist()
    try {
      val n = frame.count() // evaluates the rule query ONCE, cached
      importFrame(targetSelector, frame) // writes from the cache
      n
    } finally frame.unpersist()
  }

  /** GROUPED recording rule — Prometheus rules PRESERVE label sets:
    * the grouped sliding evaluation of `promql` by `grouping` (the
    * [[TsdbEngine.queryRangeBy]] algebra — range fns composed under
    * instant math, binary/set operators) records one derived stream
    * PER GROUP, all named `targetName`, each carrying its group labels
    * (`sum_over_time(req[5m])` by (service) → `targetName{service=…}`
    * series). The null group (label absent) records WITHOUT the label,
    * exactly Prometheus' missing-label rule.
    *
    * Scale shape: ONE distributed rebalance-keyed append writes every
    * group's samples — per-row label maps are native to the store
    * layout, so group count multiplies rows, not write jobs. Only the
    * catalog registration walks the group list driver-side
    * (group-count-sized by construction, the bound every grouped
    * result already has). Validation order matches [[record]]: the
    * evaluation and the occupied-window probe run before any catalog
    * write, so a rejected rule leaves no phantom streams; the probe is
    * NAME-level (all groups share `targetName` — one pruned LIMIT-1
    * scan covers every target series).
    *
    * `by` groupings only: a `without` group key is one canonical
    * string, which names no label set to put on a stream — re-group
    * with `by` over the labels you mean to keep.
    */
  def recordGrouped(targetName: String, promql: String,
      grouping: Expr.Grouping, startMs: Long, endMs: Long,
      stepMs: Long): Long = {
    require(grouping.by,
      "recordGrouped takes a `by` grouping (a `without` group key is " +
        "one canonical string, which names no label set to put on a " +
        "stream — re-group with `by` over the labels you keep)")
    val (tname, tlabels) = parseSelector(targetName)
    require(tlabels.isEmpty,
      s"recordGrouped takes a bare target NAME (group labels become " +
        s"the streams' labels), got matchers in: $targetName")
    require(query(tname, startMs, endMs).df.limit(1).collect().isEmpty,
      s"target $tname already holds samples in [$startMs, $endMs] — " +
        "re-recording would duplicate points (deleteStream first, or " +
        "record a disjoint window)")
    val df = engine().queryRangeBy(PromParser.parse(promql), grouping,
      startMs, endMs, stepMs)
    val frame = df.persist()
    try {
      val n = frame.count()
      appendGroupedFrame(tname, grouping.labels, frame)
      n
    } finally frame.unpersist()
  }

  /** Register every distinct group label set in `frame` (driver-side —
    * group-count-sized; null group values mean ABSENT labels) and
    * append all rows in ONE distributed rebalance-keyed write. `frame`
    * columns: gCols..., timestamp, value. Shared by [[recordGrouped]]
    * and the continuous grouped rule
    * ([[graft.streaming.Recording.groupedRule]]).
    */
  private[graft] def appendGroupedFrame(tname: String, gCols: Seq[String],
      frame: DataFrame): Unit = {
    val groups = frame.select(gCols.map(col): _*).distinct().collect()
      .map(r => gCols.zipWithIndex.flatMap { case (c, i) =>
        Option(r.getString(i)).map(c -> _)
      }.toMap)
    // ONE existence snapshot + ONE batched catalog append — per-group
    // registerStream would re-parse the catalog after every write
    // (O(G²) on the first recording of a high-cardinality grouping)
    val known = streams().collect {
      case d if d.name == tname => d.labels }.toSet
    registerStreams(groups.toSeq.distinct.collect {
      case ls if !known(ls) => StreamDef(tname, ls, VType.F64) })
    val labelsCol = map_filter(
      map(gCols.flatMap(c => Seq(lit(c), col(c))): _*),
      (_, v) => v.isNotNull)
    frame.select(lit(tname).as("name"), labelsCol.as("labels"),
        col("timestamp").cast("long").as("timestamp"),
        col("value").cast("double").as("value"),
        lit(null).cast("long").as("lvalue"))
      .withColumn("bucket",
        col("timestamp") - pmod(col("timestamp"), lit(bucketMs)))
      .hint("rebalance", col("name"), col("bucket"))
      .write.mode(SaveMode.Append).partitionBy("name", "bucket")
      .parquet(dataDir)
  }

  /** Name-pruned raw scan WITH the labels column, bounded to
    * [loMs, hiMs] — the grouped recording paths' existing-read
    * ([[query]] projects labels away).
    */
  private[graft] def scanNamed(name: String, loMs: Long,
      hiMs: Long): DataFrame =
    dataset().where(col("name") === name &&
        col("timestamp") >= loMs && col("timestamp") <= hiMs)
      .select("labels", "timestamp", "value")

  /** Exactly-one-stream bounded scan (timestamp, value) — LABEL-EXACT,
    * matching what [[importFrame]] writes to, and enforcing the SAME
    * exactly-1 resolution contract on the read side: an ambiguous
    * target selector (same-name siblings) fails loudly HERE, before
    * the anti-join could consume a sibling's samples, instead of at
    * the write. Matcher semantics would also admit SUPERSET-labeled
    * siblings' rows; canonical-string equality excludes them. Map
    * columns can't be equality predicates, so the filter keys on the
    * canonical label string.
    */
  private[graft] def scanStream(selector: String, loMs: Long,
      hiMs: Long): DataFrame = {
    val (name, labels) = parseSelector(selector)
    val hits = resolve(name, labels)
    require(hits.size == 1,
      s"selector must match exactly 1 stream, got ${hits.size}")
    scanNamed(name, loMs, hiMs)
      .where(LabelCodec.canonCol(col("labels")) ===
        lit(LabelCodec.encodeLabels(hits.head.labels)))
      .select("timestamp", "value")
  }

  /** Bulk CSV import (tachyon_cli/src/main.rs:247-296): header
    * `Timestamp,Value`, one stream per file.
    */
  def importCsv(selector: String, csvPath: String): Unit = {
    val (name, labels) = parseSelector(selector)
    // Integer streams parse Value as i64 so magnitudes above 2^53 import
    // exactly into the lvalue sidecar; f64 streams parse as double.
    val isInt = streams().exists(d => d.name == name && d.labels == labels &&
      d.vtype != VType.F64)
    val valueField =
      if (isInt) StructField("Value", LongType) else StructField("Value", DoubleType)
    // FAILFAST: a u64 above 2^63 (or any malformed row) must fail the
    // import loudly — the default PERMISSIVE mode would null it out and
    // silently lose data the reference's native u64 can hold.
    spark.read.option("header", "true").option("mode", "FAILFAST")
      .schema(StructType(Seq(StructField("Timestamp", LongType), valueField)))
      .csv(csvPath)
      .select(lit(name).as("name"),
        typedLit(labels).as("labels"),
        col("Timestamp").as("timestamp"),
        col("Value").cast("double").as("value"),
        (if (isInt) col("Value") else lit(null).cast("long")).as("lvalue"))
      .withColumn("bucket", col("timestamp") - pmod(col("timestamp"), lit(bucketMs)))
      // REBALANCE (not plain repartition) by the partition key: one file
      // per bucket dir from one task, but AQE may still SPLIT a hot
      // (name, bucket) so a skewed hour never serializes the cluster
      // behind one writer
      .hint("rebalance", col("name"), col("bucket"))
      .write.mode(SaveMode.Append).partitionBy("name", "bucket").parquet(dataDir)
  }

  // ---- maintenance: small-file compaction ----

  /** Rewrite every (name, bucket) partition holding more than
    * `maxFilesPerPartition` flush deltas into a single file. Each
    * `Inserter.flush` / streaming micro-batch appends one file per
    * touched partition, so sustained ingest accumulates small files —
    * the classic degradation of a parquet store (task-per-tiny-file
    * scans, metadata bloat). The reference never rewrites sealed `.ty`
    * files; compaction is the operational affordance its fixed 62,500
    * entry seal size stands in for.
    *
    * Durability: per-partition roll-forward journal. The compacted file
    * is written DOT-HIDDEN (invisible to Spark scans), the journal
    * records (version, old files) before the first delete, and the
    * hidden file is promoted only after the olds are gone; `compact()`
    * first rolls forward any interrupted swap from a previous crash.
    * Readers in another process can transiently observe a partition
    * mid-swap; single-writer maintenance windows are the contract here
    * — a multi-writer 100 TB deployment wants a transactional table
    * format (Delta/Iceberg) on top of the same layout instead.
    *
    * Returns the number of partitions compacted.
    */
  def compact(maxFilesPerPartition: Int = 4): Long = synchronized {
    import scala.jdk.CollectionConverters._
    require(maxFilesPerPartition >= 1, "maxFilesPerPartition must be >= 1")
    val root = Paths.get(dataDir)
    if (!Files.exists(root)) return 0L
    def partitionDirs(): Seq[java.nio.file.Path] =
      scala.util.Using.resource(Files.list(root))(_.iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("name="))
        .flatMap(n => scala.util.Using.resource(Files.list(n))(
          _.iterator().asScala.filter(p => Files.isDirectory(p) &&
            p.getFileName.toString.startsWith("bucket=")).toList))
        .toList)
    def visibleParquet(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
      scala.util.Using.resource(Files.list(dir))(_.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
        }.toList).sortBy(_.getFileName.toString)
    partitionDirs().foreach(rollForward)
    var compacted = 0L
    partitionDirs().foreach { dir =>
      val files = visibleParquet(dir)
      if (files.size > maxFilesPerPartition) {
        // Read exactly the listed files (not the dir): the schema is the
        // in-file one (partition cols are dir-encoded) and a concurrent
        // flush's new delta is never deleted unseen.
        swapIntoPartition(dir, files,
          spark.read.parquet(files.map(_.toString): _*))
        compacted += 1
      }
    }
    compacted
  }

  /** Replace `olds` in a (name, bucket) partition dir with one file
    * holding `df` (the in-file schema — no partition columns), through
    * the crash-safe protocol [[compact]] and [[deleteStream]]'s rewrite
    * share: hidden write, journal BEFORE the first delete (crash at any
    * later point rolls forward: re-delete listed, promote hidden),
    * delete olds, promote. The journal itself is temp-written +
    * ATOMIC_MOVEd so it is all-or-nothing — a truncated journal would
    * delete files the hidden copy doesn't fully replace (same pattern
    * as writeStats' pointer).
    */
  private def swapIntoPartition(dir: java.nio.file.Path,
      olds: Seq[java.nio.file.Path], df: DataFrame): Unit = {
    import scala.jdk.CollectionConverters._
    val v = System.nanoTime()
    val tmp = Files.createTempDirectory(s"graft_compact_$v")
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val part = scala.util.Using.resource(Files.list(tmp))(
      _.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException("no compacted part file")))
    val hidden = dir.resolve(s".compact-$v.parquet")
    Files.move(part, hidden)
    scala.util.Using.resource(Files.walk(tmp))(
      _.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.toList).foreach(Files.deleteIfExists(_))
    val jTmp = dir.resolve(".compact-journal.tmp")
    Files.write(jTmp,
      (v.toString +: olds.map(_.getFileName.toString)).asJava)
    Files.move(jTmp, dir.resolve(".compact-journal"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    olds.foreach(deleteWithCrc)
    Files.move(hidden, dir.resolve(s"compact-$v.parquet"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    Files.deleteIfExists(dir.resolve(".compact-journal"))
  }

  /** Retention enforcement: drop every (name, bucket) partition whose
    * WHOLE interval [bucket, bucket + bucketMs) ends at or before
    * `beforeMs`, and the stats-table rows that summarized it — the
    * partition-pruned data-lifecycle operation (only directory names
    * are examined; no data file is ever read, which is what makes this
    * O(partitions) at 100 TB). A bucket holding ANY live sample is
    * never dropped. Idempotent: a crash mid-delete leaves only expired
    * partitions partially removed and a re-run completes the delete;
    * the stats filter runs after the data delete and UNCONDITIONALLY
    * (not only when this run removed partitions), so a crash between
    * the data delete and the stats rewrite is healed by any re-run —
    * a re-run that finds nothing left to delete still drops the stale
    * stats rows, which would otherwise keep answering covered-bucket
    * aggregates with deleted data. Returns the number of partitions
    * removed.
    */
  def expire(beforeMs: Long): Long = synchronized {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(dataDir)
    if (!Files.exists(root)) return 0L
    val nameDirs = scala.util.Using.resource(Files.list(root))(
      _.iterator().asScala.filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("name=")).toList)
    var removed = 0L
    nameDirs.foreach { n =>
      scala.util.Using.resource(Files.list(n))(_.iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("bucket=")).toList)
        .foreach { b =>
          val start = b.getFileName.toString.stripPrefix("bucket=").toLong
          if (start + bucketMs <= beforeMs) {
            scala.util.Using.resource(Files.walk(b))(
              _.sorted(java.util.Comparator.reverseOrder())
                .iterator().asScala.toList).foreach(Files.deleteIfExists(_))
            removed += 1
          }
        }
      if (scala.util.Using.resource(Files.list(n))(!_.iterator().hasNext()))
        Files.deleteIfExists(n)
    }
    if (statsDir().isDefined) {
      // Unconditional (even when removed == 0): heals stale stats rows
      // left by a crash between a previous run's data delete and its
      // stats rewrite. Skip the rewrite only when nothing is stale, so
      // routine no-op expires don't churn stats versions.
      val live = statsTable()
      if (removed > 0 ||
          !live.where(col("bucket") + bucketMs <= beforeMs).isEmpty)
        writeStats(live.where(col("bucket") + bucketMs > beforeMs))
    }
    removed
  }

  /** Delete a delta file and the Hadoop checksum sibling Spark's local
    * committer writes beside it (`.NAME.crc`) — leaving the latter would
    * re-accumulate hidden files under the very regime compaction exists
    * to fix.
    */
  private def deleteWithCrc(p: java.nio.file.Path): Unit = {
    Files.deleteIfExists(p)
    Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
  }

  /** Finish an interrupted compaction swap in `dir` (idempotent). */
  private def rollForward(dir: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val journal = dir.resolve(".compact-journal")
    if (!Files.exists(journal)) {
      // hidden files with no journal are pre-journal orphans (including
      // an interrupted .compact-journal.tmp): nothing was deleted yet,
      // so discard them and let compaction redo
      scala.util.Using.resource(Files.list(dir))(_.iterator().asScala
        .filter(_.getFileName.toString.startsWith(".compact-")).toList)
        .foreach(Files.deleteIfExists(_))
      return
    }
    // the journal was ATOMIC_MOVEd into place, so its content is
    // complete; an empty read still degrades to a no-op, not a throw
    val lines = Files.readAllLines(journal).asScala.toList
    lines match {
      case v :: olds =>
        olds.foreach(f => deleteWithCrc(dir.resolve(f)))
        val hidden = dir.resolve(s".compact-$v.parquet")
        if (Files.exists(hidden))
          Files.move(hidden, dir.resolve(s"compact-$v.parquet"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      case Nil => ()
    }
    Files.deleteIfExists(journal)
  }

  // ---- query ----

  /** The store as the five-column table (name, labels, timestamp,
    * value, lvalue), read through the DSv2 `graft` format
    * ([[graft.sources.GraftSource]]): a fixed schema (no inference), and
    * the `name =`/`IN` and `timestamp` bounds every engine scan carries
    * are pushed into `Scan.build`, which lists only the `name=` dirs
    * and `bucket=` dirs they admit. The listing runs per query
    * execution, so a flush, compact, expire or delete is visible to the
    * next query with nothing to invalidate; a missing or partitionless
    * data dir lists as empty.
    */
  private def dataset(): DataFrame =
    spark.read.format("graft").option("bucketMs", bucketMs.toString)
      .load(rootDir).drop("bucket")

  /** Engine over the store. `serveFromStats = true` additionally hands
    * the engine the stats sidecar, so eligible `*_over_time` range
    * functions answer from sidecar rows + boundary raw rows
    * (StatsAggregate.downsample) instead of scanning the store — the
    * ScanHint optimization, per window. OPT-IN for the same reason
    * [[fastAggregate]] is explicit: our stats are maintained
    * asynchronously (refreshStats / statsStream), so implicit routing
    * could silently serve stale aggregates between a write and the next
    * stats commit. Callers opt in where bounded staleness is acceptable
    * (or right after refreshStats()).
    */
  def engine(serveFromStats: Boolean = false): TsdbEngine =
    new TsdbEngine(spark, dataset(), new StreamCatalog(streams()),
      if (serveFromStats) statsDir().map(d => (spark.read.parquet(d), bucketMs))
      else None)

  /** Live TAIL of the store as a Structured Stream: every new flush
    * delta (Inserter.flush, importCsv, a streaming ingest's sink)
    * arrives as a micro-batch with the table's five columns — the
    * subscription surface a live dashboard or a downstream pipeline
    * consumes, built on Spark's own FileStreamSource over the
    * partitioned data layout (Spark-first: new-file discovery,
    * checkpointing, and exactly-once file accounting are the file
    * stream's, not bespoke machinery).
    *
    * Semantics are FILE-append semantics, stated plainly: the tail
    * observes new files. `compact` and `expire` REWRITE files, so a
    * tail running across a maintenance window re-observes compacted
    * rows (same rows, new file) — pause maintenance while tailing, or
    * dedupe downstream on (name, timestamp). `extraOptions` passes
    * through to the reader (`maxFilesPerTrigger`, `maxFileAge` —
    * note the file stream's default maxFileAge of 7d skips older
    * files when a tail starts without a checkpoint).
    */
  def tailStream(extraOptions: Map[String, String] = Map.empty): DataFrame = {
    Files.createDirectories(Paths.get(dataDir))
    val fileSchema = StructType(
      dataSchema.fields.filter(_.name != "name") ++
        Seq(StructField("name", StringType), StructField("bucket", LongType)))
    extraOptions.foldLeft(
        spark.readStream.schema(fileSchema).option("basePath", dataDir)) {
        case (r, (k, v)) => r.option(k, v)
      }
      .parquet(s"$dataDir/name=*/bucket=*")
      .select("name", "labels", "timestamp", "value", "lvalue")
  }

  /** PromQL query over [startMs, endMs] — both required, as in the
    * reference (planner.rs:196-205).
    */
  def query(promql: String, startMs: Long, endMs: Long): TsdbResult =
    engine().query(promql, startMs, endMs)

  /** Prometheus query_range evaluation — a range function evaluated at
    * every `stepMs` over its SLIDING lookback window (T - range, T],
    * the HTTP dashboard contract ([[TsdbEngine.queryRange]]). The HTTP
    * endpoint's optional "step" field routes here.
    */
  def queryRange(promql: String, startMs: Long, endMs: Long,
      stepMs: Long): TsdbResult =
    engine().queryRange(promql, startMs, endMs, stepMs)

  /** CSV export of a vector query (tachyon_cli/src/main.rs:177-186). */
  def exportCsv(promql: String, startMs: Long, endMs: Long, outPath: String): Unit = {
    val res = query(promql, startMs, endMs)
    require(!res.isScalar && !res.grouped, "exportCsv expects a vector query")
    res.output.orderBy("timestamp")
      .select(col("timestamp").as("Timestamp"), col("value").as("Value"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(outPath)
  }

  /** Query result as a JSON string — parity with the HTTP endpoint's
    * response shape (tachyon_web_backend/src/main.rs:44-51: an array of
    * (timestamp,value) for vectors, bare values for scalars).
    */
  def queryJson(promql: String, startMs: Long, endMs: Long): String = {
    val res = query(promql, startMs, endMs)
    def jsNum(v: Any): String = v match {
      // a grouped division can yield NULL (Spark's divide-by-zero rule,
      // e.g. a zero-denominator group in `sum by (u)(a) / sum by (u)(b)`)
      // — render JSON null rather than NPE (ADVICE r10)
      case null => "null"
      case d: java.lang.Double => if (d == d.longValue().toDouble) d.longValue().toString else d.toString
      case other => other.toString
    }
    if (res.grouped) {
      // by/without result: one object per group, group-key columns as
      // (possibly-null) strings before the value — ordered by the group
      // keys so the response is deterministic
      val cols = res.output.columns
      def jsStr(v: Any): String =
        if (v == null) "null"
        else "\"" + v.toString.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      res.output.orderBy(cols.map(col): _*).collect()
        .map { r =>
          val groups = cols.init.zipWithIndex
            .map { case (c, i) => s""""$c":${jsStr(r.get(i))}""" }
          (groups :+ s""""value":${jsNum(r.get(cols.length - 1))}""")
            .mkString("{", ",", "}")
        }.mkString("[", ",", "]")
    } else if (res.isScalar) {
      res.output.collect().map(r => jsNum(r.get(0))).mkString("[", ",", "]")
    } else {
      res.output.orderBy("timestamp").collect()
        .map(r => s"""{"timestamp":${r.getLong(0)},"value":${jsNum(r.get(1))}}""")
        .mkString("[", ",", "]")
    }
  }

  /** Rebuild the per-(name,bucket) statistics table (the analogue of the
    * reference's `.ty` file headers, storage/file.rs:15-36). Incremental
    * maintenance belongs to the streaming path (Ingest.windowedStats).
    */
  def refreshStats(): Unit = writeStats(StatsAggregate.buildStats(dataset(), bucketMs))

  // ---- stats table storage: versioned dirs + an atomically-swapped ----
  // ---- pointer file, so no writer ever overwrites the files a     ----
  // ---- reader (or its own merge plan) is scanning.                ----

  private val statsPointer = Paths.get(rootDir, "stats_current")

  /** Current stats dir: pointer target, or the legacy fixed path. */
  private def statsDir(): Option[String] = {
    if (Files.exists(statsPointer))
      Some(s"$rootDir/${Files.readString(statsPointer).trim}")
    else if (Files.exists(Paths.get(rootDir, "stats"))) Some(s"$rootDir/stats")
    else None
  }

  /** The stats table (empty-schema error if never built). */
  def statsTable(): DataFrame =
    spark.read.parquet(statsDir().getOrElse(
      throw new IllegalStateException("stats never built: call refreshStats()")))

  /** Publish `df` as the new stats table: write a fresh version dir,
    * atomically swap the pointer, then prune versions older than the
    * immediately-previous one (kept so a reader that resolved the old
    * pointer just before the swap still scans intact files; a crash at
    * any step leaves the pointer on a complete version, and the
    * streaming retry of the batch simply re-merges against it).
    */
  private def writeStats(df: DataFrame): Unit = synchronized {
    val prev = statsDir()
    val version = s"stats_v${System.nanoTime()}"
    df.write.parquet(s"$rootDir/$version")
    val tmp = Paths.get(rootDir, s".stats_current.tmp")
    Files.writeString(tmp, version)
    Files.move(tmp, statsPointer,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // Best-effort prune of versions STRICTLY OLDER than the one we read
    // at the start of this merge (`prev`): a reader that resolved `prev`
    // just before our swap still scans intact files, and a concurrent
    // writer's newer version can never be deleted (writers within one
    // GraftDb are serialized by `synchronized`; cross-process writers
    // are out of contract but degrade to orphan dirs, not data loss).
    def versionOf(name: String): Long =
      if (name.startsWith("stats_v")) name.drop("stats_v".length).toLong
      else -1L // legacy fixed dir sorts oldest
    val floor = prev.map(p => versionOf(Paths.get(p).getFileName.toString))
      .getOrElse(versionOf(version))
    val dir = Paths.get(rootDir)
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.list(dir))(_.iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        (n.startsWith("stats_v") || n == "stats") && versionOf(n) < floor
      }.toList)
      .foreach { p =>
        try scala.util.Using.resource(Files.walk(p))(
          _.sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.toList).foreach(Files.delete)
        catch { case _: java.io.IOException => () }
      }
  }

  /** Incremental ScanHint maintenance: a streaming writer that upserts
    * per-(name, bucket) statistics into <root>/stats continuously, so
    * `fastAggregate` stays fresh under live ingestion without
    * `refreshStats()` rebuilds. Update-mode micro-batches carry the
    * CURRENT totals for each touched bucket (streaming state re-emits
    * the whole aggregate, not a delta), so the merge is replace-by-key —
    * after every commit the stats table equals a full rebuild over the
    * rows seen so far. The table is one row per stream-bucket (~6 orders
    * smaller than data), so the per-batch overwrite stays metadata-sized
    * at any data scale.
    *
    * `raw` schema: (name STRING, timestamp LONG ms, value DOUBLE).
    */
  def statsStream(raw: DataFrame, latenessMs: Long,
      checkpointDir: String): org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    graft.streaming.Ingest.bucketStats(raw, bucketMs, latenessMs)
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        upsertStats(batch.toDF())
      }

  private def upsertStats(delta: DataFrame): Unit = synchronized {
    // The merge plan reads the CURRENT version dir and writeStats never
    // touches it (new version + pointer swap), so no persist/count
    // detach dance is needed and a lost executor can always recompute.
    val merged = statsDir() match {
      case Some(cur) =>
        spark.read.parquet(cur)
          .join(delta.select("name", "bucket"), Seq("name", "bucket"), "left_anti")
          .unionByName(delta)
      case None => delta
    }
    writeStats(merged)
  }

  /** Whole-range sum/count/min/max/avg served from the stats table for
    * covered buckets — tachyon's ScanHint pushdown (SURVEY §4 #1).
    *
    * Deliberately explicit, NOT auto-routed inside `query()`: the
    * reference's header stats are rewritten transactionally with every
    * write (file.rs:552-573), which makes its automatic ScanHint safe;
    * ours are maintained asynchronously (refreshStats / statsStream),
    * so a planner rewrite serving them implicitly could silently
    * return stale aggregates between a write and the next stats
    * commit. Callers opt in where bounded staleness is acceptable.
    */
  def fastAggregate(name: String, startMs: Long, endMs: Long): DataFrame =
    StatsAggregate.aggregate(dataset(), statsTable(),
      name, startMs, endMs, bucketMs)

  /** Stream listing with per-stream sample counts + footer-stat summary —
    * parity with the CLI's `parse-headers` (main.rs:139-145).
    */
  def describeStreams(): DataFrame =
    dataset().groupBy("name", "labels")
      .agg(count(lit(1)).as("n_samples"),
        min("timestamp").as("min_ts"), max("timestamp").as("max_ts"),
        min("value").as("min_value"), max("value").as("max_value"),
        sum("value").as("value_sum"))
}
