package graft.sources

import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.{ColumnIOFactory, RecordReader}
import org.apache.parquet.schema.MessageType

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 read surface for the [[graft.tsdb.GraftDb]] series
  * store: `spark.read.format("graft").load(rootDir)` exposes the store
  * as a plain SQL table
  *
  *   (name STRING, labels MAP<STRING,STRING>, timestamp LONG /* epoch
  *   ms */, value DOUBLE, lvalue LONG, bucket LONG)
  *
  * where `name` and `bucket` are the partition-dir values (synthesized
  * per file, nothing decoded) — `bucket` makes per-time-bucket rollups
  * both expressible and sidecar-served (see pushAggregation).
  *
  * so any Spark SQL — not just the PromQL engine — can query the store
  * directly, the catalog-reader surface a Spark-native engine is
  * expected to have (the analogue of the reference exposing its store
  * through its SQL shell rather than only the PromQL planner).
  *
  * Scale posture:
  *  - PARTITION PRUNING happens at `Scan.build`: the store's physical
  *    layout is `name=<series>/bucket=<bucketStartMs>/...parquet`, and
  *    pushed `name` equality/IN filters plus `timestamp` range bounds
  *    make the listing descend only into the directories whose (name,
  *    [bucket, bucket + bucketMs)) can hold matching rows
  *    ([[GraftSource.listFiles]]) — at 100 TB a dashboard-style
  *    "one series, last 6h" query opens a handful of files no matter
  *    how large the store is, exactly the reference's time/series
  *    pruning (`indexer.rs` stream probe + per-bucket layout).
  *  - COLUMN PRUNING reaches the parquet row groups:
  *    `SupportsPushDownRequiredColumns` narrows the requested schema
  *    and the reader calls `ParquetFileReader.setRequestedSchema`, so
  *    unread columns are never decompressed. A projection that needs
  *    no file column at all (`SELECT name`, `COUNT(*)`) is answered
  *    from footer row counts without materializing records.
  *  - VECTORIZED READS: scans without claimed row-level bounds emit
  *    `ColumnarBatch`es through Spark's own parquet batch decoder
  *    ([[GraftColumnarReader]]), so a full-corpus analytic scan
  *    through `format("graft")` pays the same decode cost as a plain
  *    `spark.read.parquet` — the dashboard pruning above and the
  *    analytics throughput no longer trade off.
  *  - Pushed filters are reported for `explain` but ALWAYS also left
  *    in the residual (`pushFilters` returns its input unchanged):
  *    directory pruning is conservative, Spark re-evaluates exactly,
  *    so a mis-set `bucketMs` option can cost performance but never
  *    correctness on the name/timestamp dimensions it prunes on.
  *  - FILE SCHEDULING matches Spark's own scans: big compacted files
  *    split at `files.maxPartitionBytes` into byte-range tasks, and
  *    small flush files bin together under the open-cost policy
  *    ([[GraftSource.packChunks]]) — neither a straggler task nor a
  *    task per tiny file, at any store geometry.
  *
  * Writes go through [[graft.tsdb.GraftDb]] ingestion (Inserter /
  * importCsv / streaming), which owns the catalog, the bucket layout
  * and the stats sidecar — the table is read-only by design, like a
  * catalog view.
  *
  * Options (case-insensitive): `bucketMs` (default 3600000) must match
  * the GraftDb that wrote the store (the persisted `bucket_ms` wins; a
  * conflicting option fails loudly); `stats` enables aggregate
  * pushdown; `labelEq` = "k1=v1[,k2=v2...]" prunes to the catalogued
  * streams whose labels carry EVERY listed pair (see getTable).
  */
class GraftSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftSource.tableSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    // reader options are case-insensitive by DSv2 convention —
    // .option("bucketms", ...) must not be silently ignored
    val opts = new CaseInsensitiveStringMap(properties)
    val path = Option(opts.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft source requires a path: spark.read.format(\"graft\").load(rootDir)"))
    val declared = Option(opts.get("bucketMs")).map(_.toLong)
    // the session's Hadoop configuration (spark.hadoop.* — S3A
    // credentials, HDFS nameservices) must reach every filesystem
    // access, driver and executor alike; a bare `new Configuration()`
    // would resolve only the local defaults
    val conf = new SerializableHadoopConf(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    // the width GraftDb persisted with the store wins; a conflicting
    // option is a caller bug and must fail loudly, not mis-scope the
    // stats coverage math
    val stored = GraftSource.storedBucketMs(path, conf.value)
    val bucketMs = (stored, declared) match {
      case (Some(s), Some(d)) if s != d => throw new IllegalArgumentException(
        s"store at $path was written with bucketMs=$s but the read " +
          s"declared bucketMs=$d")
      case (Some(s), _) => s
      case (None, Some(d)) => d
      case (None, None) => 3600 * 1000L
    }
    val stats = Option(opts.get("stats")).exists(_.toBoolean)
    // labelEq = "k1=v1,k2=v2,...": per-STREAM label selection via the
    // store's catalog — the SQL-surface rendering of the reference's
    // inverted label index (tachyon_core/src/query/indexer.rs:136-149),
    // including its multi-matcher ID-set INTERSECTION
    // (indexer.rs:493-516): only streams whose catalog entry carries
    // EVERY requested pair keep their directories; all others are
    // pruned at Scan.build. A literal `,`, `=`, or `%` inside a key or
    // value is written %XX-escaped — the same LabelCodec escaping the
    // catalog itself uses, so the option grammar is unambiguous for
    // every label the store can hold. Stores without a catalog
    // (written by external tooling) ignore the option (conservative:
    // nothing pruned). Row-level label predicates (`labels['k']='v'`)
    // remain ordinary residual filters Spark evaluates — the option
    // composes with them for stores whose labels vary within a series.
    val labelEq: Seq[(String, String)] =
      Option(opts.get("labelEq")).map { s =>
        s.split(",", -1).toSeq.map { pair =>
          pair.split("=", 2) match {
            case Array(k, v) if k.nonEmpty =>
              (graft.tsdb.LabelCodec.unescape(k),
                graft.tsdb.LabelCodec.unescape(v))
            case _ => throw new IllegalArgumentException(
              s"labelEq must be 'key=value[,key=value...]', got '$s'")
          }
        }
      }.getOrElse(Nil)
    new GraftTable(path, bucketMs, stats, conf, labelEq)
  }
}

/** Minimal serializable wrapper for a Hadoop `Configuration` (which is
  * not `Serializable` itself): the session's resolved configuration is
  * captured once on the driver and shipped inside the reader factories
  * so executor-side file/parquet opens see the same spark.hadoop.*
  * settings as the driver's listing did.
  */
private[sources] final class SerializableHadoopConf(
    @transient private var conf: Configuration) extends Serializable {
  def value: Configuration = conf
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new Configuration(false)
    conf.readFields(in)
  }
}

object GraftSource {

  /** `name` and `bucket` are PARTITION-DIR values (Hive-style exposure
    * of the store layout, like Spark's own partition columns): the
    * readers synthesize them per file without decoding anything, and
    * `bucket` makes time-rollup group-bys pushable to the stats sidecar
    * (`GROUP BY name, bucket` — see pushAggregation).
    */
  val tableSchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("labels", MapType(StringType, StringType)),
    StructField("timestamp", LongType),
    StructField("value", DoubleType),
    StructField("lvalue", LongType),
    StructField("bucket", LongType)))

  /** The dir-derived columns every reader synthesizes per file. */
  private[graft] def isPartitionCol(n: String): Boolean =
    n == "name" || n == "bucket"

  /** One data file of the store with its partition-dir coordinates. */
  final case class GraftFile(path: String, name: String, bucket: Long,
      length: Long)

  /** One byte range of one data file, with the claimed row-level bounds
    * its reader must enforce — the unit [[packChunks]] bins into
    * multi-file input partitions.
    */
  private[graft] final case class GraftChunk(path: String, name: String,
      bucket: Long, tsLo: Long, tsHi: Long, rangeStart: Long, rangeEnd: Long)

  /** Hive-style partition-value unescape (`%2F` → `/`): GraftDb writes
    * through Spark's `partitionBy`, which escapes special characters in
    * the `name=` dir the same way.
    */
  private[graft] def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          Character.digit(s.charAt(i + 1), 16) >= 0 &&
          Character.digit(s.charAt(i + 2), 16) >= 0) {
        sb.append((Character.digit(s.charAt(i + 1), 16) * 16 +
          Character.digit(s.charAt(i + 2), 16)).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.result()
  }

  /** List the visible data files under `rootDir`(/data) whose (name,
    * bucket) dirs `b` admits ([[admits]]), with their coordinates.
    * Accepts either the GraftDb root (data lives in `<root>/data`) or a
    * data dir directly. Only admitted `name=` dirs (compared unescaped)
    * are listed for buckets and only admitted `bucket=` dirs for files,
    * so a one-series window costs one listing per name plus one per
    * overlapping bucket, however large the store; the result equals
    * `prune` over the whole listing.
    */
  private[graft] def listFiles(rootDir: String, conf: Configuration,
      bucketMs: Long, b: Bounds): Seq[GraftFile] = {
    val root = new Path(rootDir)
    val fs = root.getFileSystem(conf)
    val dataDir = {
      val d = new Path(root, "data")
      if (fs.exists(d)) d else root
    }
    if (!fs.exists(dataDir)) return Seq.empty
    def visible(st: FileStatus): Boolean = {
      val n = st.getPath.getName
      !n.startsWith(".") && !n.startsWith("_")
    }
    for {
      nameDir <- fs.listStatus(dataDir).toSeq
      if nameDir.isDirectory && nameDir.getPath.getName.startsWith("name=")
      name = unescapePathName(nameDir.getPath.getName.stripPrefix("name="))
      if b.names.forall(_.contains(name))
      bucketDir <- fs.listStatus(nameDir.getPath).toSeq
      if bucketDir.isDirectory && bucketDir.getPath.getName.startsWith("bucket=")
      bucket = {
        val raw = bucketDir.getPath.getName.stripPrefix("bucket=")
        // a non-numeric bucket dir (e.g. Hive's null-partition marker)
        // means a row was stored without a timestamp — out of the store
        // contract; fail loudly rather than silently hide its rows
        raw.toLongOption.getOrElse(throw new IllegalStateException(
          s"unparsable bucket partition dir: ${bucketDir.getPath}"))
      }
      if admits(b, name, bucket, bucketMs)
      f <- fs.listStatus(bucketDir.getPath).toSeq
      if f.isFile && visible(f) && f.getLen > 0
    } yield GraftFile(f.getPath.toString, name, bucket, f.getLen)
  }

  /** Directory-level pruning from pushed filters — pure so the spec can
    * pin it. A file survives unless a `name` equality set excludes its
    * series or its bucket interval [bucket, bucket + bucketMs) provably
    * misses the pushed `timestamp` bounds. Unknown filter shapes are
    * ignored (prune stays conservative; Spark re-applies everything).
    */
  private[graft] def prune(files: Seq[GraftFile], filters: Seq[Filter],
      bucketMs: Long): Seq[GraftFile] = {
    val b = bounds(filters)
    files.filter(f => admits(b, f.name, f.bucket, bucketMs))
  }

  /** Whether `b` admits the (name, [bucket, bucket + bucketMs)) dir:
    * the name is in the name set (if any) and the bucket interval
    * overlaps [lo, hi].
    */
  private def admits(b: Bounds, name: String, bucket: Long,
      bucketMs: Long): Boolean = {
    // saturating end keeps a bucket whose arithmetic would overflow
    // instead of mis-pruning it
    val bucketEnd =
      if (bucket > Long.MaxValue - bucketMs) Long.MaxValue
      else bucket + bucketMs
    b.names.forall(_.contains(name)) && bucket <= b.hi && bucketEnd > b.lo
  }

  /** The (name set, inclusive timestamp bounds) a filter conjunction
    * implies — the shared extraction behind directory pruning, the
    * claimed-filter row check, and the stats-aggregate coverage test.
    */
  private[graft] final case class Bounds(names: Option[Set[String]],
      lo: Long, hi: Long)

  private[graft] object Bounds {
    /** No constraint: every name, every timestamp. */
    val All: Bounds = Bounds(None, Long.MinValue, Long.MaxValue)
  }

  private[graft] def bounds(filters: Seq[Filter]): Bounds = {
    var names: Option[Set[String]] = None
    var lo = Long.MinValue
    var hi = Long.MaxValue
    // GreaterThan at Long.MaxValue / LessThan at Long.MinValue admit no
    // long at all — saturating to an inclusive bound would wrongly keep
    // the extreme value itself where the bounds are CLAIMED (stats mode)
    var impossible = false
    def num(v: Any): Option[Long] = v match {
      case n: java.lang.Number => Some(n.longValue)
      case _ => None
    }
    def addNames(vs: Iterable[Any]): Unit = {
      val set = vs.collect { case s: String => s }.toSet
      names = Some(names.fold(set)(_ intersect set))
    }
    filters.foreach {
      case EqualTo("name", v: String) => addNames(Seq(v))
      case EqualNullSafe("name", v: String) => addNames(Seq(v))
      case In("name", vs) => addNames(vs.toSeq)
      case EqualTo("timestamp", v) => num(v).foreach { t =>
        lo = math.max(lo, t); hi = math.min(hi, t) }
      // strict bounds tighten by one ms (timestamps are integral): a
      // bucket starting exactly at a LessThan bound holds no match
      case GreaterThan("timestamp", v) => num(v).foreach { t =>
        if (t == Long.MaxValue) impossible = true else lo = math.max(lo, t + 1) }
      case GreaterThanOrEqual("timestamp", v) => num(v).foreach(t => lo = math.max(lo, t))
      case LessThan("timestamp", v) => num(v).foreach { t =>
        if (t == Long.MinValue) impossible = true else hi = math.min(hi, t - 1) }
      case LessThanOrEqual("timestamp", v) => num(v).foreach(t => hi = math.min(hi, t))
      case _ => ()
    }
    // empty range: lo > hi with both at their own extremes, so neither
    // the bucket-overlap test nor the row-level [lo, hi] check can admit
    // anything (Long.MaxValue ≤ hi and lo ≤ Long.MinValue both fail)
    if (impossible) Bounds(names, Long.MaxValue, Long.MinValue)
    else Bounds(names, lo, hi)
  }

  /** Covered-bucket interval of an inclusive timestamp window [lo, hi]:
    * (covLo, covHi) such that a bucket is FULLY inside the window iff
    * bucket >= covLo && bucket + bucketMs - 1 <= covHi. covLo > covHi
    * means no bucket is covered (the whole window is boundary rows).
    * Overflow near the long extremes degrades to "not covered" — the
    * conservative direction (rows move to the exact raw-scan side).
    */
  private[graft] def coveredRange(lo: Long, hi: Long,
      bucketMs: Long): (Long, Long) = {
    val none = (Long.MaxValue, Long.MinValue)
    val covLo =
      if (lo == Long.MinValue) Long.MinValue
      else {
        val r = Math.floorMod(lo, bucketMs)
        if (r == 0L) lo
        else if (lo > Long.MaxValue - (bucketMs - r)) return none
        else lo + (bucketMs - r)
      }
    val covHi =
      if (hi == Long.MaxValue) Long.MaxValue
      else {
        // largest aligned exclusive end ≤ hi+1, minus one (hi < MaxValue
        // here so hi+1 cannot overflow)
        val m = Math.floorMod(hi + 1, bucketMs)
        if (hi < Long.MinValue + m) return none
        hi - m
      }
    if (covLo > covHi) none else (covLo, covHi)
  }

  /** The names of the catalogued streams whose labels carry EVERY
    * `k = v` in `pairs` — the label → series resolution behind
    * `labelEq` pruning, the set-intersection semantics of the
    * reference's multi-matcher index probe (indexer.rs:493-516; one
    * catalog pass here computes what its smallest-set-first
    * intersection loop does file-by-file). Parses the same
    * `catalog.jsonl` GraftDb maintains (vtype \t name \t k=v,k=v with
    * LabelCodec-escaped labels — see GraftDb.streams); the catalog is
    * written synchronously at `createStream`, so unlike the stats
    * sidecar it is always fresh. None when the store has no catalog
    * (external writer) — callers must then skip pruning entirely, not
    * prune to the empty set. LOUD (IllegalStateException naming the
    * line) on a malformed catalog line: skipping one would silently
    * prune out a stream that should match — wrong results, not a
    * degraded scan.
    */
  private[graft] def labelNames(rootDir: String, conf: Configuration,
      pairs: Seq[(String, String)]): Option[Set[String]] = {
    val p = new Path(new Path(rootDir), "catalog.jsonl")
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    // headerless catalog = pre-escaping writer → labels parse RAW
    // ('%' literal), exactly like GraftDb.streams
    val v2 = lines.headOption.contains(graft.tsdb.LabelCodec.V2Header)
    Some(lines.filter(l => l.nonEmpty && l != graft.tsdb.LabelCodec.V2Header)
      .flatMap { line =>
        line.split("\t", -1) match {
          case Array(_, name, labelStr) =>
            val labels =
              graft.tsdb.LabelCodec.decodeLabels(labelStr, line, v2)
            if (pairs.forall { case (k, v) => labels.get(k).contains(v) })
              Some(name)
            else None
          case _ => throw new IllegalStateException(
            s"malformed catalog line (expected vtype\\tname\\tlabels): $line")
        }
      }.toSet)
  }

  /** The bucket width GraftDb persisted with the store (`bucket_ms`),
    * if the root carries one — the authoritative value for coverage math.
    */
  private[graft] def storedBucketMs(rootDir: String,
      conf: Configuration): Option[Long] = {
    val p = new Path(new Path(rootDir), "bucket_ms")
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val v = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      Some(v.toLong)
    }
  }

  /** Stats-sidecar parquet files of a GraftDb root: resolve the
    * atomically-swapped `stats_current` pointer (or the legacy fixed
    * `stats` dir) exactly like `GraftDb.statsDir`. None when the root
    * has no sidecar (including when `rootDir` is a bare data dir).
    */
  private[graft] def statsFiles(rootDir: String,
      conf: Configuration): Option[Seq[GraftFile]] = {
    val root = new Path(rootDir)
    val fs = root.getFileSystem(conf)
    val pointer = new Path(root, "stats_current")
    val dir =
      if (fs.exists(pointer)) {
        val in = fs.open(pointer)
        val v = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        Some(new Path(root, v))
      } else {
        val legacy = new Path(root, "stats")
        if (fs.exists(legacy)) Some(legacy) else None
      }
    dir.filter(fs.exists(_)).map { d =>
      fs.listStatus(d).toSeq
        .filter(f => f.isFile && f.getLen > 0 && {
          val n = f.getPath.getName
          !n.startsWith(".") && !n.startsWith("_")
        })
        .map(f => GraftFile(f.getPath.toString, "", 0L, f.getLen))
    }
  }

  /** The stats-answerable rendering of one pushed aggregate function:
    * which sidecar column (or combination) serves it. None → the
    * aggregation cannot be pushed and the scan falls back to raw rows.
    */
  private[graft] def statsFuncOf(
      f: org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc)
      : Option[String] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.connector.expressions.NamedReference
    def field(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          Some(nr.fieldNames()(0))
        case _ => None
      }
    f match {
      case _: CountStar => Some("count")
      case c: Count if !c.isDistinct => c.column match {
        // count(<non-null literal>) ≡ count(*); count(name) too — the
        // partition value is never null. count(NULL) must return 0, and
        // count(value/timestamp/lvalue) is NOT served: the sidecar's n
        // counts rows, not non-null values.
        case l: org.apache.spark.sql.connector.expressions.Literal[_]
            if l.value != null =>
          Some("count")
        case nr: NamedReference if nr.fieldNames.sameElements(Array("name")) =>
          Some("count")
        case _ => None
      }
      case s: Sum if !s.isDistinct => field(s.column).collect {
        case "value" => "sum" }
      case m: Min => field(m.column).collect {
        case "value" => "min_value"; case "timestamp" => "min_ts" }
      case m: Max => field(m.column).collect {
        case "value" => "max_value"; case "timestamp" => "max_ts" }
      case _ => None
    }
  }

  /** Spark-side type of each pushed partial-aggregate column. */
  private[graft] def statsFuncType(func: String): DataType = func match {
    case "count" | "min_ts" | "max_ts" => LongType
    case _ => DoubleType
  }

  /** Greedy bin-packing of file chunks into input partitions, the same
    * policy as Spark's own `FilePartition.getFilePartitions`: chunks
    * sort by size descending, each carries `openCost` extra weight (so
    * a thousand tiny flush files don't become a thousand tasks — the
    * small-file pathology a 100 TB store's bucket layout would
    * otherwise hand every full scan), and a partition closes when the
    * next chunk would push it past `maxBytes`.
    */
  private[graft] def packChunks(chunks: Seq[GraftChunk], maxBytes: Long,
      openCost: Long): Seq[Seq[GraftChunk]] = {
    val parts = Seq.newBuilder[Seq[GraftChunk]]
    val cur = scala.collection.mutable.ArrayBuffer.empty[GraftChunk]
    var size = 0L
    chunks.sortBy(c => -(c.rangeEnd - c.rangeStart)).foreach { c =>
      val len = c.rangeEnd - c.rangeStart
      if (cur.nonEmpty && size + len > maxBytes) {
        parts += cur.toSeq; cur.clear(); size = 0L
      }
      cur += c; size += len + openCost
    }
    if (cur.nonEmpty) parts += cur.toSeq
    parts.result()
  }

  /** The filters [[prune]] can act on — reported as pushed in explain. */
  private[graft] def usable(f: Filter): Boolean = f match {
    case EqualTo("name", _: String) | EqualNullSafe("name", _: String) |
         In("name", _) => true
    case EqualTo("timestamp", _) | GreaterThan("timestamp", _) |
         GreaterThanOrEqual("timestamp", _) | LessThan("timestamp", _) |
         LessThanOrEqual("timestamp", _) => true
    case _ => false
  }
}

private[sources] class GraftTable(rootDir: String, bucketMs: Long,
    statsMode: Boolean = false,
    conf: SerializableHadoopConf = new SerializableHadoopConf(new Configuration()),
    labelEq: Seq[(String, String)] = Nil)
    extends Table with SupportsRead {
  override def name(): String = s"graft:$rootDir"
  override def schema(): StructType = GraftSource.tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(rootDir, bucketMs, statsMode, conf, labelEq)
}

/** Filter / column / aggregate pushdown.
  *
  * Default mode: filters are used for directory pruning only and ALL of
  * them stay residual — Spark re-evaluates everything row-level, so
  * pruning can never change results.
  *
  * `option("stats", "true")` additionally turns on aggregate pushdown
  * against the store's stats sidecar (the DSv2 rendering of the
  * reference's ScanHint): `SELECT sum(value)/count(*)/min/max ...
  * [GROUP BY name]` answers from the per-(name, bucket) summary table.
  * A bucket-aligned window touches no raw row at all; an UNALIGNED
  * window decomposes into covered sidecar buckets ∪ boundary raw files
  * (see [[GraftStatsScan]]). For the aggregate to be pushable the framework requires
  * every filter to be FULLY handled by the source, so in stats mode the
  * supported shapes (name equality/IN, timestamp bounds, the matching
  * IsNotNulls) are claimed and enforced exactly — name by the dir
  * layout, timestamp bounds row-level in the raw reader (for queries
  * where the aggregate is NOT pushed) — and anything else stays
  * residual, which makes the framework fall back to the raw scan.
  * Freshness contract = `GraftDb.statsTable`'s: answers are as of the
  * last `refreshStats`/streaming stats merge, the same opt-in contract
  * as the engine's `StatsAggregate` path (ts18).
  */
private[sources] class GraftScanBuilder(rootDir: String, bucketMs: Long,
    statsMode: Boolean, conf: SerializableHadoopConf,
    labelEq: Seq[(String, String)] = Nil)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = GraftSource.tableSchema
  private var pushed: Array[Filter] = Array.empty
  private var aggFuncs: Seq[String] = Nil
  private var aggGroup: Seq[String] = Nil // ⊆ {name, bucket}, pushed order
  private var aggPushed = false

  /** Filters the source can enforce EXACTLY (so they need no residual):
    * the prunable name/timestamp shapes plus their IsNotNull guards —
    * name is a non-null partition value; claimed timestamp bounds are
    * re-checked row-level in the reader, which also drops null
    * timestamps.
    */
  private def claimable(f: Filter): Boolean = f match {
    case org.apache.spark.sql.sources.IsNotNull("name" | "timestamp") => true
    case other => GraftSource.usable(other)
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (statsMode) {
      pushed = filters.filter(claimable)
      filters.filterNot(claimable)
    } else {
      pushed = filters.filter(GraftSource.usable)
      // everything stays residual: pruning is conservative, Spark keeps
      // exact row-level evaluation
      filters
    }
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (!statsMode) return false
    // group-bys over the partition-dir columns push down: every sidecar
    // row IS a (name, bucket) group, so name / bucket / (name, bucket)
    // rollups fold sidecar rows per group (the time-bucket rollup is the
    // dashboard query), and boundary raw files carry their dir values as
    // constant group keys. Anything else (labels, value) can't be
    // grouped from the sidecar.
    val groups = agg.groupByExpressions.toSeq.map {
      case nr: NamedReference if nr.fieldNames.length == 1 &&
          GraftSource.isPartitionCol(nr.fieldNames()(0)) =>
        Some(nr.fieldNames()(0))
      case _ => None
    }
    if (groups.exists(_.isEmpty) || groups.distinct.size != groups.size)
      return false
    aggGroup = groups.flatten
    val funcs = agg.aggregateExpressions.toSeq.map(GraftSource.statsFuncOf)
    // an empty aggregation list (e.g. count(NULL) constant-folded away
    // by Catalyst) has nothing to serve from the sidecar
    if (funcs.isEmpty || funcs.exists(_.isEmpty)) return false
    // No alignment requirement: an unaligned window decomposes into
    // covered buckets (answered from the sidecar) ∪ boundary rows
    // (partially aggregated from the raw files) — see build(). The
    // engine's StatsAggregate proves the same decomposition (ts18); the
    // reference analogously degrades partially-covered files to row
    // scan (tachyon_core/src/storage/file.rs:280-289).
    if (GraftSource.statsFiles(rootDir, conf.value).isEmpty)
      return false
    aggFuncs = funcs.flatten
    aggPushed = true
    true
  }

  /** The label-selected stream names (None = no selection active or no
    * catalog — prune nothing), resolved once per build.
    */
  private def labelSet: Option[Set[String]] =
    if (labelEq.isEmpty) None
    else GraftSource.labelNames(rootDir, conf.value, labelEq)

  /** Restrict pushed bounds to the label-selected names. */
  private def withLabels(b: GraftSource.Bounds,
      ls: Option[Set[String]]): GraftSource.Bounds = ls match {
    case Some(s) => b.copy(names = Some(b.names.fold(s)(_ intersect s)))
    case None => b
  }

  override def build(): Scan = {
    val ls = labelSet
    if (aggPushed) {
      val b = withLabels(GraftSource.bounds(pushed.toSeq), ls)
      val (covLo, covHi) = GraftSource.coveredRange(b.lo, b.hi, bucketMs)
      // raw boundary files: inside the pushed (names, window) but NOT
      // fully covered — empty when the window is bucket-aligned, so the
      // aligned path never even lists the data dirs
      val boundary =
        if (covLo <= b.lo && b.hi <= covHi) Nil
        else GraftSource.listFiles(rootDir, conf.value, bucketMs, b)
          .filterNot { f =>
            val bucketLast =
              if (f.bucket > Long.MaxValue - bucketMs) Long.MaxValue
              else f.bucket + bucketMs - 1
            f.bucket >= covLo && bucketLast <= covHi
          }
      new GraftStatsScan(GraftSource.statsFiles(rootDir, conf.value).get,
        boundary, aggGroup, aggFuncs, b, covLo, covHi, bucketMs,
        pushed, conf)
    } else {
      val pushedBounds = GraftSource.bounds(pushed.toSeq)
      val files = GraftSource.listFiles(rootDir, conf.value, bucketMs,
        withLabels(pushedBounds, ls))
      // claimed timestamp bounds must be enforced row-level by the
      // reader; in default mode everything is residual and the bounds
      // passed are the full range (no-op)
      val b = if (statsMode) pushedBounds else GraftSource.Bounds.All
      // a big compacted file must not become one straggler task, and
      // small flush files must not become one task each: split/bin at
      // Spark's own target size — files.maxPartitionBytes capped down
      // to totalBytes/defaultParallelism (floored at the open cost) so
      // a store smaller than cores×maxPartitionBytes still fans out
      // across every core (FilePartition.maxSplitBytes semantics)
      val session = org.apache.spark.sql.SparkSession.active
      val openCost = session.sessionState.conf.filesOpenCostInBytes
      val totalBytes = files.map(_.length + openCost).sum
      val parallelism = math.max(1, session.sparkContext.defaultParallelism)
      val maxSplit = math.min(session.sessionState.conf.filesMaxPartitionBytes,
        math.max(openCost, totalBytes / parallelism))
      new GraftScan(files, required, pushed, b.lo, b.hi, bucketMs, conf,
        maxSplit, openCost)
    }
  }
}

/** Partial-aggregate accumulator shared by the sidecar and raw-boundary
  * readers: both emit rows of the same partial schema, which Spark's
  * final merge aggregation combines (count→sum, sum→sum, min→min,
  * max→max).
  */
private[sources] final class GraftAggAcc {
  var n = 0L
  var sum = 0.0; var hasSum = false
  var minV = Double.MaxValue; var maxV = Double.MinValue; var hasV = false
  var minTs = Long.MaxValue; var maxTs = Long.MinValue; var hasTs = false

  def render(groupCols: Seq[String], name: String, bucket: Long,
      funcs: Seq[String]): InternalRow = {
    val group: Seq[Any] = groupCols.map {
      case "name" => UTF8String.fromString(name)
      case "bucket" => bucket
    }
    val aggs: Seq[Any] = funcs.map {
      case "count" => n
      case "sum" => if (hasSum) sum else null
      case "min_value" => if (hasV) minV else null
      case "max_value" => if (hasV) maxV else null
      case "min_ts" => if (hasTs) minTs else null
      case "max_ts" => if (hasTs) maxTs else null
    }
    new GenericInternalRow((group ++ aggs).toArray)
  }
}

/** The aggregate-pushdown scan, covered ∪ boundary: partitions are the
  * STATS SIDECAR's parquet files (each reader filters sidecar rows to
  * the pushed names and the buckets FULLY inside the window, partially
  * aggregating one row per group) plus, when the window is NOT
  * bucket-aligned, the raw data files of the boundary buckets (each
  * reader partially aggregates the raw rows inside the window but
  * outside the covered interval). The two partition kinds emit the same
  * partial schema and Spark plans the final merge aggregation on top
  * (supportCompletePushDown stays false), which also gives exact SQL
  * semantics on an empty selection (count=0, sum/min/max=null). This is
  * the SQL-surface analogue of the engine's StatsAggregate
  * decomposition (ts18) and of the reference degrading
  * partially-covered files to row scan
  * (tachyon_core/src/storage/file.rs:280-289). An aligned window keeps
  * the round-7 behavior exactly: boundary is empty and raw data is
  * never listed or opened.
  */
private[sources] class GraftStatsScan(statsFiles: Seq[GraftSource.GraftFile],
    boundaryFiles: Seq[GraftSource.GraftFile], groupCols: Seq[String],
    funcs: Seq[String], bounds: GraftSource.Bounds, covLo: Long, covHi: Long,
    bucketMs: Long, pushed: Array[Filter], conf: SerializableHadoopConf)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = {
    val group = groupCols.map {
      case "name" => StructField("name", StringType, nullable = false)
      case "bucket" => StructField("bucket", LongType, nullable = false)
    }
    StructType(group ++ funcs.zipWithIndex.map { case (f, i) =>
      StructField(s"agg_$i", GraftSource.statsFuncType(f))
    })
  }
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftStatsScan files=${statsFiles.size} " +
      s"boundaryFiles=${boundaryFiles.size} " +
      s"PushedAggregates=[${funcs.mkString(", ")}] " +
      s"GroupBy=[${groupCols.mkString(", ")}] " +
      s"PushedFilters=[${pushed.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] =
    (statsFiles.map(f => GraftStatsPartition(f.path, groupCols, funcs,
      bounds.names, covLo, covHi, bucketMs): InputPartition) ++
     boundaryFiles.map(f => GraftAggRawPartition(f.path, f.name, f.bucket,
       groupCols, funcs, bounds.lo, bounds.hi, covLo, covHi): InputPartition))
      .toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftAggReaderFactory(conf)

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of((statsFiles ++ boundaryFiles).map(_.length).sum)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }
}

private[sources] class GraftAggReaderFactory(conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case sp: GraftStatsPartition =>
        new GraftStatsPartitionReader(sp, conf.value)
      case rp: GraftAggRawPartition =>
        new GraftAggRawReader(rp, conf.value)
      case other => throw new IllegalStateException(
        s"unexpected partition type: $other")
    }
}

private[sources] final case class GraftStatsPartition(path: String,
    groupCols: Seq[String], funcs: Seq[String], names: Option[Set[String]],
    tsLo: Long, tsHi: Long, bucketMs: Long) extends InputPartition

/** One raw data file of a boundary bucket: rows inside the pushed
  * window [tsLo, tsHi] but OUTSIDE the covered interval [covLo, covHi]
  * partially aggregate into one row (the file's series is its `name`
  * partition value, so group-by-name needs no per-row grouping).
  */
private[sources] final case class GraftAggRawPartition(path: String,
    name: String, bucket: Long, groupCols: Seq[String], funcs: Seq[String],
    tsLo: Long, tsHi: Long, covLo: Long, covHi: Long) extends InputPartition

/** Reads one stats-sidecar parquet file and emits one partial row per
  * group: sidecar rows are filtered to the pushed names and to buckets
  * FULLY inside the covered interval, then n/value_sum/min/max/
  * min_ts/max_ts fold into the pushed aggregate columns.
  */
private[sources] class GraftStatsPartitionReader(part: GraftStatsPartition,
    hconf: Configuration)
    extends PartitionReader[InternalRow] {

  private val reader = ParquetFileReader.open(
    HadoopInputFile.fromPath(new Path(part.path), hconf))

  // all reading is eager; anything thrown here (the bucketMs-mismatch
  // guard in particular) must close the already-opened file first —
  // Spark only calls close() on a successfully constructed reader
  private val groups =
    try {
      val fileSchema = reader.getFooter.getFileMetaData.getSchema
      val columnIO = new ColumnIOFactory().getColumnIO(fileSchema)
      def idx(col: String): Int = fileSchema.getFieldIndex(col)
      val gbName = part.groupCols.contains("name")
      val gbBucket = part.groupCols.contains("bucket")
      val acc =
        scala.collection.mutable.LinkedHashMap.empty[(String, Long), GraftAggAcc]
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val rr = columnIO.getRecordReader(pages, new GroupRecordConverter(fileSchema))
        var left = pages.getRowCount
        while (left > 0) {
          val g = rr.read()
          left -= 1
          if (g != null) {
            val name = g.getString(idx("name"), 0)
            val bucket = g.getLong(idx("bucket"), 0)
            val bucketLast =
              if (bucket > Long.MaxValue - part.bucketMs) Long.MaxValue
              else bucket + part.bucketMs - 1
            if (part.names.forall(_.contains(name)) &&
                bucket >= part.tsLo && bucketLast <= part.tsHi) {
              // belt-and-braces exactness guard: a covered row's own
              // min_ts/max_ts must sit inside the covered interval — if
              // not, the width used for coverage math disagrees with the
              // width the sidecar was built with; corrupting the
              // aggregate silently is never acceptable
              if (g.getFieldRepetitionCount(idx("min_ts")) > 0 &&
                  (g.getLong(idx("min_ts"), 0) < part.tsLo ||
                   g.getLong(idx("max_ts"), 0) > part.tsHi))
                throw new IllegalStateException(
                  s"stats row (name=$name bucket=$bucket) extends past the " +
                    s"covered interval [${part.tsLo}, ${part.tsHi}] — bucketMs " +
                    s"mismatch between the sidecar and the scan?")
              val a = acc.getOrElseUpdate(
                (if (gbName) name else "", if (gbBucket) bucket else 0L),
                new GraftAggAcc)
              a.n += g.getLong(idx("n"), 0)
              if (g.getFieldRepetitionCount(idx("value_sum")) > 0) {
                a.sum += g.getDouble(idx("value_sum"), 0); a.hasSum = true
              }
              if (g.getFieldRepetitionCount(idx("min_value")) > 0) {
                a.minV = math.min(a.minV, g.getDouble(idx("min_value"), 0))
                a.maxV = math.max(a.maxV, g.getDouble(idx("max_value"), 0))
                a.hasV = true
              }
              if (g.getFieldRepetitionCount(idx("min_ts")) > 0) {
                a.minTs = math.min(a.minTs, g.getLong(idx("min_ts"), 0))
                a.maxTs = math.max(a.maxTs, g.getLong(idx("max_ts"), 0))
                a.hasTs = true
              }
            }
          }
        }
        pages = reader.readNextRowGroup()
      }
      acc.iterator
    } catch {
      case t: Throwable =>
        try reader.close() catch { case _: Throwable => () }
        throw t
    }

  private var current: InternalRow = null

  override def next(): Boolean = {
    if (!groups.hasNext) return false
    val ((name, bucket), a) = groups.next()
    current = a.render(part.groupCols, name, bucket, part.funcs)
    true
  }

  override def get(): InternalRow = current

  override def close(): Unit = reader.close()
}

/** Partially aggregates the boundary rows of one raw data file: only
  * the columns the pushed functions need are decompressed (timestamp
  * always — it carries the window check; value only when a value
  * aggregate was pushed), and one partial row is emitted unless no row
  * matched.
  */
private[sources] class GraftAggRawReader(part: GraftAggRawPartition,
    hconf: Configuration)
    extends PartitionReader[InternalRow] {

  private val reader = ParquetFileReader.open(
    HadoopInputFile.fromPath(new Path(part.path), hconf))

  private val acc =
    try {
      val fileSchema = reader.getFooter.getFileMetaData.getSchema
      val needValue = part.funcs.exists(f =>
        f == "sum" || f == "min_value" || f == "max_value")
      val cols = Seq("timestamp") ++
        (if (needValue && fileSchema.containsField("value")) Seq("value") else Nil)
      val proj = new MessageType(fileSchema.getName,
        cols.map(c => fileSchema.getType(fileSchema.getFieldIndex(c))): _*)
      reader.setRequestedSchema(proj)
      val columnIO = new ColumnIOFactory().getColumnIO(proj)
      val tIdx = proj.getFieldIndex("timestamp")
      val vIdx = if (proj.containsField("value")) proj.getFieldIndex("value") else -1
      val a = new GraftAggAcc
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val rr = columnIO.getRecordReader(pages, new GroupRecordConverter(proj))
        var left = pages.getRowCount
        while (left > 0) {
          val g = rr.read()
          left -= 1
          if (g != null) {
            if (g.getFieldRepetitionCount(tIdx) == 0)
              throw new IllegalStateException(
                s"null timestamp in ${part.path}: store contract violated")
            val t = g.getLong(tIdx, 0)
            if (t >= part.tsLo && t <= part.tsHi &&
                !(t >= part.covLo && t <= part.covHi)) {
              a.n += 1
              if (t < a.minTs) a.minTs = t
              if (t > a.maxTs) a.maxTs = t
              a.hasTs = true
              if (vIdx >= 0 && g.getFieldRepetitionCount(vIdx) > 0) {
                val v = g.getDouble(vIdx, 0)
                a.sum += v; a.hasSum = true
                if (v < a.minV) a.minV = v
                if (v > a.maxV) a.maxV = v
                a.hasV = true
              }
            }
          }
        }
        pages = reader.readNextRowGroup()
      }
      a
    } catch {
      case t: Throwable =>
        try reader.close() catch { case _: Throwable => () }
        throw t
    }

  private var emitted = false

  // a file with no matching boundary row contributes nothing (emitting
  // an n=0 partial would be harmless for count but would pollute the
  // group set under group-by-name)
  override def next(): Boolean = {
    if (emitted || acc.n == 0L) false
    else { emitted = true; true }
  }

  override def get(): InternalRow =
    acc.render(part.groupCols, part.name, part.bucket, part.funcs)

  override def close(): Unit = reader.close()
}

private[graft] class GraftScan(initialFiles: Seq[GraftSource.GraftFile],
    required: StructType, pushed: Array[Filter], tsLo: Long, tsHi: Long,
    bucketMs: Long,
    conf: SerializableHadoopConf = new SerializableHadoopConf(new Configuration()),
    maxSplitBytes: Long = Long.MaxValue,
    openCostBytes: Long = 4 * 1024 * 1024L)
    extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  // runtime (DPP-style) pruning: a join against a small dimension on
  // name or timestamp hands the scan IN/range filters at execution
  // time; prune() re-applies them to the already-planned file set —
  // lossless (the same completeness property as the static prune), so
  // a "names of interest" broadcast join opens only those series' dirs
  private var files: Seq[GraftSource.GraftFile] = initialFiles

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("name"),
      org.apache.spark.sql.connector.expressions.Expressions.column("timestamp"))

  override def filter(runtimeFilters: Array[Filter]): Unit =
    files = GraftSource.prune(files, runtimeFilters.toSeq, bucketMs)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftScan files=${files.size} " +
      s"PushedFilters=[${pushed.mkString(", ")}] " +
      s"ReadSchema=${required.simpleString}"

  override def planInputPartitions(): Array[InputPartition] = {
    val chunks = files.flatMap { f =>
      // a file whose whole bucket interval sits inside the claimed
      // window needs no row-level bound check (and keeps the footer
      // count fast path); boundary buckets carry the bounds
      val bucketLast =
        if (f.bucket > Long.MaxValue - bucketMs) Long.MaxValue
        else f.bucket + bucketMs - 1
      val covered = tsLo <= f.bucket && bucketLast <= tsHi
      val (lo, hi) =
        if (covered) (Long.MinValue, Long.MaxValue) else (tsLo, tsHi)
      // byte-range splits so one big compacted file schedules as many
      // tasks (parquet-mr assigns a row group to the split holding its
      // midpoint, so splits partition the row groups exactly)
      val nSplits = math.max(1L,
        (f.length + maxSplitBytes - 1) / math.max(1L, maxSplitBytes))
      (0L until nSplits).map { i =>
        val start = i * maxSplitBytes
        val end = if (i == nSplits - 1) f.length else (i + 1) * maxSplitBytes
        GraftSource.GraftChunk(f.path, f.name, f.bucket, lo, hi, start, end)
      }
    }
    // ...then bin small chunks back together: many small flush files
    // must not become one task each (Spark's own scans pack the same
    // way), while a split big file still fans out
    GraftSource.packChunks(chunks, maxSplitBytes, openCostBytes)
      .map(GraftInputPartition(_): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // VECTORIZED column path (Spark's own parquet batch reader) whenever
    // the scan carries no claimed row-level bounds (default mode always;
    // stats mode only when the window is bucket-aligned away) and at
    // least one file column is projected. Claimed-bounds scans keep the
    // row reader, which enforces the bounds exactly; no-file-column
    // scans (count(*), SELECT name) keep the footer-count fast path,
    // which decompresses nothing at all. The decision is scan-wide
    // because Spark forbids mixing row and columnar partitions.
    val claimed = tsLo != Long.MinValue || tsHi != Long.MaxValue
    val needsFileColumns =
      required.fields.exists(f => !GraftSource.isPartitionCol(f.name))
    val columnar = !claimed && needsFileColumns
    val factoryConf =
      if (!columnar) conf
      else {
        val c = new Configuration(conf.value)
        // Spark's parquet→catalyst schema converter reads these five with
        // conf.get(key).toBoolean (NPE when absent); the session copy
        // carries them only if explicitly set, so fill SQLConf defaults.
        // Values are immaterial for this store's schema (plain
        // int64/double/string-map, no binary-ambiguous or timestamp
        // logical types).
        Seq(
          "spark.sql.parquet.binaryAsString" -> "false",
          "spark.sql.parquet.int96AsTimestamp" -> "true",
          "spark.sql.caseSensitive" -> "false",
          "spark.sql.parquet.inferTimestampNTZ.enabled" -> "true",
          "spark.sql.legacy.parquet.nanosAsLong" -> "false"
        ).foreach { case (k, v) => if (c.get(k) == null) c.set(k, v) }
        c.set("parquet.read.support.class",
          "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
        // the catalyst projection the reader materializes; missing file
        // columns (an old file without lvalue) become null vectors
        c.set("org.apache.spark.sql.parquet.row.requested_schema",
          StructType(required.fields
            .filterNot(f => GraftSource.isPartitionCol(f.name))).json)
        new SerializableHadoopConf(c)
      }
    new GraftReaderFactory(required, factoryConf, columnar)
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(files.map(_.length).sum)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }
}

private[graft] final case class GraftInputPartition(
    chunks: Seq[GraftSource.GraftChunk]) extends InputPartition

/** Drains a partition's chunks through per-chunk readers, one open file
  * at a time — the executor-side half of [[GraftSource.packChunks]]'s
  * many-small-files binning.
  */
private[sources] class GraftChainedReader[T](
    chunks: Seq[GraftSource.GraftChunk],
    open: GraftSource.GraftChunk => PartitionReader[T])
    extends PartitionReader[T] {
  private val it = chunks.iterator
  private var cur: PartitionReader[T] = null
  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (!it.hasNext) return false
        cur = open(it.next())
      }
      if (cur.next()) return true
      cur.close(); cur = null
    }
    false // unreachable
  }
  override def get(): T = cur.get()
  override def close(): Unit = if (cur != null) cur.close()
}

private[sources] class GraftReaderFactory(required: StructType,
    conf: SerializableHadoopConf, columnar: Boolean = false)
    extends PartitionReaderFactory {
  override def supportColumnarReads(p: InputPartition): Boolean = columnar
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new GraftChainedReader(p.asInstanceOf[GraftInputPartition].chunks,
      new GraftPartitionReader(_, required, conf.value))
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new GraftChainedReader(p.asInstanceOf[GraftInputPartition].chunks,
      new GraftColumnarReader(_, required, conf.value))
}

/** Vectorized per-file reader: drives Spark's own parquet batch decoder
  * (`VectorizedParquetRecordReader`, the engine under every
  * `spark.read.parquet` scan) over this task's byte range and emits its
  * `ColumnarBatch`es, so the catalog surface decodes pages into column
  * vectors instead of materializing per-row `Group` objects — the
  * full-corpus analytic scan through `format("graft")` then matches the
  * plain parquet path's throughput (StatsBench `dsv2_raw` at the 100M
  * dense geometry: 3.2× over the row reader before, ≈1× after). The
  * `name`/`bucket` partition values ride in as constant partition
  * columns via `initBatch`, and the batch is re-wrapped to the
  * projection's column order (the vectorized reader emits data columns
  * first, partition columns last, while DSv2 requires the pruned-schema
  * order).
  *
  * Only built for scans with NO claimed row-level bounds (see
  * createReaderFactory): the batch path never filters rows, and in
  * default mode it never needs to — every filter stays residual.
  */
private[sources] class GraftColumnarReader(part: GraftSource.GraftChunk,
    required: StructType, hconf: Configuration)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  // no date/timestamp logical types in the store schema, so the rebase
  // modes never engage; CORRECTED keeps them inert
  private val reader =
    new org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap */ false, /* capacity */ 4096)

  // anything thrown during setup must close the already-initialized
  // reader — Spark only calls close() on a successfully constructed one
  private val (inner, out) =
    try {
      // the byte range scopes this task to the row groups whose midpoint
      // falls inside it, the same split convention as the row reader
      // the mapred variant (it extends the mapreduce one): Spark's
      // reader base downcasts to it for its locality accessors
      val split = new org.apache.hadoop.mapred.FileSplit(
        new Path(part.path), part.rangeStart,
        part.rangeEnd - part.rangeStart, Array.empty[String])
      val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        hconf, new org.apache.hadoop.mapreduce.TaskAttemptID())
      reader.initialize(split, ctx)
      val dataSchema = StructType(
        required.fields.filterNot(f => GraftSource.isPartitionCol(f.name)))
      // dir-derived constants ride in as partition columns; the batch
      // reader appends them after the data columns in partSchema order
      val partFields =
        required.fields.filter(f => GraftSource.isPartitionCol(f.name))
      val partSchema = StructType(partFields.toSeq)
      val partValues = InternalRow.fromSeq(partFields.toSeq.map {
        case f if f.name == "name" => UTF8String.fromString(part.name)
        case _ => part.bucket
      })
      reader.initBatch(partSchema, partValues)
      reader.enableReturningBatches()
      val inner = reader.resultBatch()
      // reorder to the pruned schema: vectors are reused across batches,
      // so the wrapper is built once and only numRows changes per batch
      val cols: Array[org.apache.spark.sql.vectorized.ColumnVector] =
        required.fields.map { f =>
          inner.column(
            if (GraftSource.isPartitionCol(f.name))
              dataSchema.length + partSchema.fieldIndex(f.name)
            else dataSchema.fieldIndex(f.name))
        }
      (inner, new org.apache.spark.sql.vectorized.ColumnarBatch(cols))
    } catch {
      case t: Throwable =>
        try reader.close() catch { case _: Throwable => () }
        throw t
    }

  override def next(): Boolean = {
    val has = reader.nextBatch()
    if (has) out.setNumRows(inner.numRows())
    has
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = out

  override def close(): Unit = reader.close()
}

/** Per-file ROW reader over parquet-mr's public Group API — the two
  * cases the columnar path does not serve: scans with claimed
  * row-level timestamp bounds (stats mode, boundary buckets — enforced
  * here exactly) and no-file-column scans (count / name-only), which
  * answer from footer row counts without decompressing anything.
  * Everything else reads through [[GraftColumnarReader]]'s vectorized
  * batches (see createReaderFactory).
  */
private[sources] class GraftPartitionReader(part: GraftSource.GraftChunk,
    required: StructType, hconf: Configuration)
    extends PartitionReader[InternalRow] {

  // the byte range scopes this task to the row groups whose midpoint
  // falls inside it (parquet-mr's split convention — ranges partition
  // the row groups exactly across a file's splits)
  private val reader = ParquetFileReader.open(
    HadoopInputFile.fromPath(new Path(part.path), hconf),
    org.apache.parquet.HadoopReadOptions.builder(hconf)
      .withRange(part.rangeStart, part.rangeEnd).build())
  // anything thrown during setup must close the already-opened file —
  // Spark only calls close() on a successfully constructed reader
  private val (fileSchema, projSchema, columnIO, countOnly, tsActive) =
    try {
      val fileSchema = reader.getFooter.getFileMetaData.getSchema
      // claimed timestamp bounds (stats mode, boundary buckets only) are
      // enforced here row-level; fully-covered buckets arrive with the
      // full range and skip the check entirely
      val tsActive =
        part.tsLo != Long.MinValue || part.tsHi != Long.MaxValue
      // file columns actually needed ("name" is a partition value;
      // columns absent from an older file's schema read as null); an
      // active bound check needs the timestamp column even when the
      // projection doesn't
      val wanted: Array[String] = (required.fieldNames
        .filterNot(GraftSource.isPartitionCol) ++
        (if (tsActive) Seq("timestamp") else Nil))
        .distinct.filter(fileSchema.containsField)
      val countOnly = wanted.isEmpty
      val projSchema: MessageType =
        if (countOnly) null
        else new MessageType(fileSchema.getName,
          wanted.map(n => fileSchema.getType(fileSchema.getFieldIndex(n))): _*)
      if (!countOnly) reader.setRequestedSchema(projSchema)
      val columnIO =
        if (countOnly) null else new ColumnIOFactory().getColumnIO(projSchema)
      (fileSchema, projSchema, columnIO, countOnly, tsActive)
    } catch {
      case t: Throwable =>
        try reader.close() catch { case _: Throwable => () }
        throw t
    }

  private val nameValue = UTF8String.fromString(part.name)
  private var recordReader: RecordReader[Group] = null
  // getRowGroups (not getFooter.getBlocks): only the row groups inside
  // this task's byte range count
  private var rowsLeft: Long =
    if (countOnly) reader.getRowGroups.asScala.map(_.getRowCount).sum
    else 0L
  private var current: Group = null

  private def nextRowGroup(): Boolean = {
    val pages = reader.readNextRowGroup()
    if (pages == null) false
    else {
      recordReader = columnIO.getRecordReader(pages,
        new GroupRecordConverter(projSchema))
      rowsLeft = pages.getRowCount
      true
    }
  }

  override def next(): Boolean = {
    if (countOnly) { if (rowsLeft <= 0) return false; rowsLeft -= 1; return true }
    while (true) {
      while (rowsLeft <= 0) if (!nextRowGroup()) return false
      current = recordReader.read()
      rowsLeft -= 1
      if (current == null) return false
      if (!tsActive) return true
      // claimed-bound check; a stored row can never lack a timestamp
      // (the bucket dir it sits in was derived from it) — fail loudly
      // rather than guess if one does
      val tIdx = projSchema.getFieldIndex("timestamp")
      if (current.getFieldRepetitionCount(tIdx) == 0)
        throw new IllegalStateException(
          s"null timestamp in ${part.path}: store contract violated")
      val t = current.getLong(tIdx, 0)
      if (t >= part.tsLo && t <= part.tsHi) return true
    }
    false // unreachable
  }

  override def get(): InternalRow = {
    val out = new Array[Any](required.length)
    var i = 0
    while (i < required.length) {
      val f = required.fields(i)
      out(i) =
        if (f.name == "name") nameValue
        else if (f.name == "bucket") part.bucket
        else if (countOnly || !fileSchema.containsField(f.name)) null
        else {
          val idx = projSchema.getFieldIndex(f.name)
          if (current.getFieldRepetitionCount(idx) == 0) null
          else f.dataType match {
            case LongType => current.getLong(idx, 0)
            case DoubleType => current.getDouble(idx, 0)
            case _: MapType => readLabels(current.getGroup(idx, 0))
            case StringType => UTF8String.fromString(current.getString(idx, 0))
            case other => throw new IllegalStateException(
              s"unsupported graft column type: $other")
          }
        }
      i += 1
    }
    new GenericInternalRow(out)
  }

  /** Spark parquet map layout: group(MAP) > repeated key_value(key,
    * value) — value itself optional.
    */
  private def readLabels(m: Group): ArrayBasedMapData = {
    val n = m.getFieldRepetitionCount(0)
    val keys = new Array[Any](n)
    val values = new Array[Any](n)
    var i = 0
    while (i < n) {
      val kv = m.getGroup(0, i)
      keys(i) = UTF8String.fromString(kv.getString(0, 0))
      values(i) =
        if (kv.getType.getFieldCount > 1 && kv.getFieldRepetitionCount(1) > 0)
          UTF8String.fromString(kv.getString(1, 0))
        else null
      i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(values))
  }

  override def close(): Unit = reader.close()
}
