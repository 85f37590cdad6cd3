package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual, StringContains}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftSource
import graft.sources.GraftSource.GraftFile
import graft.tsdb.{GraftDb, VType}
import graft.tsdb.TsdbFixtures.spark

/** The DSv2 `graft` format: plain-SQL access to a GraftDb store with
  * directory-level (name, bucket) pruning, column pruning down to the
  * parquet row groups, and full residual filter evaluation.
  */
class GraftSourceSpec extends AnyFunSuite {

  import spark.implicits._

  private val H = 3600 * 1000L

  /** Store with two streams (one f64 with labels, one u64 exercising the
    * lvalue sidecar) across three hourly buckets.
    */
  private lazy val root: String = {
    val dir = Files.createTempDirectory("graft_dsv2").toString
    val db = new GraftDb(spark, dir)
    db.createStream("cpu{host=\"a\"}", VType.F64)
    db.createStream("reqs", VType.U64)
    val cpu = db.inserter("cpu")
    Seq(0L -> 1.5, (H + 1000L) -> 2.5, (2 * H + 2000L) -> 3.5)
      .foreach { case (t, v) => cpu.insert(t, v) }
    cpu.flush()
    val reqs = db.inserter("reqs")
    reqs.insert(500L, 10L)
    reqs.insert(2 * H + 500L, (1L << 60) + 7L) // above 2^53: lvalue exact
    reqs.flush()
    dir
  }

  private def graftDf = spark.read.format("graft").load(root)

  test("round-trips both streams with labels and the lvalue sidecar") {
    val rows = graftDf
      .select("name", "labels", "timestamp", "value", "lvalue")
      .orderBy("name", "timestamp")
      .collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("cpu", "cpu", "cpu", "reqs", "reqs"))
    assert(rows(0).getMap[String, String](1) == Map("host" -> "a"))
    assert(rows(0).getLong(2) == 0L && rows(0).getDouble(3) == 1.5)
    assert(rows(0).isNullAt(4)) // f64 stream: no lvalue
    assert(rows(3).getMap[String, String](1) == Map.empty)
    assert(rows(3).getLong(4) == 10L)
    assert(rows(4).getLong(4) == (1L << 60) + 7L) // exact past 2^53
  }

  test("matches the plain parquet view of the store") {
    val plain = spark.read.parquet(s"$root/data")
      .select("name", "timestamp", "value", "lvalue")
    val v2 = graftDf.select("name", "timestamp", "value", "lvalue")
    assert(v2.exceptAll(plain).isEmpty && plain.exceptAll(v2).isEmpty)
  }

  test("prunes directories from name and timestamp filters") {
    val files = Seq(
      GraftFile("/d/name=cpu/bucket=0/p0", "cpu", 0L, 10L),
      GraftFile("/d/name=cpu/bucket=3600000/p1", "cpu", H, 10L),
      GraftFile("/d/name=reqs/bucket=0/p2", "reqs", 0L, 10L),
      GraftFile("/d/name=reqs/bucket=7200000/p3", "reqs", 2 * H, 10L))
    def paths(fs: Seq[GraftFile]) = fs.map(_.path.last).toSet

    assert(paths(GraftSource.prune(files,
      Seq(EqualTo("name", "cpu")), H)) == Set('0', '1'))
    assert(paths(GraftSource.prune(files,
      Seq(In("name", Array("reqs"))), H)) == Set('2', '3'))
    // [H, 2H): only the middle bucket of cpu plus nothing of reqs
    assert(paths(GraftSource.prune(files,
      Seq(EqualTo("name", "cpu"), GreaterThanOrEqual("timestamp", H),
        LessThan("timestamp", 2 * H)), H)) == Set('1'))
    // boundary: ts <= H-1 keeps ONLY bucket 0 (bucket H starts at H)
    assert(paths(GraftSource.prune(files,
      Seq(LessThanOrEqual("timestamp", H - 1)), H)) == Set('0', '2'))
    // ts >= 2H prunes buckets ending at or before 2H
    assert(paths(GraftSource.prune(files,
      Seq(GreaterThanOrEqual("timestamp", 2 * H)), H)) == Set('3'))
    // contradictory name conjuncts -> nothing
    assert(GraftSource.prune(files,
      Seq(EqualTo("name", "cpu"), EqualTo("name", "reqs")), H).isEmpty)
    // unknown shapes are ignored, not mis-applied
    assert(GraftSource.prune(files,
      Seq(IsNotNull("value"), StringContains("name", "cp")), H) == files)
  }

  test("a pruned scan opens only the matching files (plan-audited)") {
    val q = graftDf
      .where(col("name") === "cpu" && col("timestamp") >= H &&
        col("timestamp") < 2 * H)
      .select("timestamp", "value")
    // 5 (name,bucket) dirs exist; pruning must leave exactly 1 file
    val desc = q.queryExecution.executedPlan.toString
    assert(desc.contains("files=1"), s"expected files=1 in:\n$desc")
    assert(desc.contains("PushedFilters=["), desc)
    assert(q.as[(Long, Double)].collect().toSeq == Seq((H + 1000L) -> 2.5))
  }

  test("residual evaluation stays exact inside a kept bucket") {
    // both reqs rows pass pruning for this range probe of one bucket,
    // but only one passes the row-level filter
    val q = graftDf.where(col("name") === "reqs" && col("timestamp") === 500L)
    assert(q.select("lvalue").as[Long].collect().toSeq == Seq(10L))
  }

  test("count(*) and name-only scans take the footer fast path") {
    assert(graftDf.count() == 5L)
    assert(graftDf.groupBy("name").count().as[(String, Long)].collect().toSet ==
      Set("cpu" -> 3L, "reqs" -> 2L))
  }

  // ---- stats-sidecar aggregate pushdown ----

  /** Same store with its stats sidecar built (legacy fixed dir). */
  private lazy val statsRoot: String = {
    val r = root // force the store fixture first
    graft.tsdb.StatsAggregate
      .buildStats(spark.read.parquet(s"$r/data").drop("bucket"), H)
      .write.mode("overwrite").parquet(s"$r/stats")
    r
  }

  private def statsDf = spark.read.format("graft")
    .option("stats", "true").load(statsRoot)

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("aligned-window aggregate pushes down to the stats sidecar") {
    val q = statsDf
      .where(col("timestamp") >= 0L && col("timestamp") < 3 * H)
      .agg(count(lit(1)).as("n"), sum("value").as("s"),
        min("value").as("mn"), max("value").as("mx"),
        min("timestamp").as("t0"), max("timestamp").as("t1"))
    assert(planOf(q).contains("GraftStatsScan"), planOf(q))
    val r = q.collect().head
    assert(r.getLong(0) == 5L)
    assert(math.abs(r.getDouble(1) - (1.5 + 2.5 + 3.5 + 10.0 +
      ((1L << 60) + 7L).toDouble)) < 1e-3)
    assert(r.getDouble(2) == 1.5)
    assert(r.getDouble(3) == ((1L << 60) + 7L).toDouble)
    assert(r.getLong(4) == 0L && r.getLong(5) == 2 * H + 2000L)
  }

  test("group-by name pushes down and matches the raw computation") {
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("name")
      .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("s"),
        min("timestamp").as("t0"))
      .orderBy("name")
    val pushed = agg(statsDf)
    assert(planOf(pushed).contains("GraftStatsScan"), planOf(pushed))
    val raw = agg(graftDf)
    assert(planOf(raw).contains("GraftScan"), planOf(raw))
    assert(pushed.collect().toSeq == raw.collect().toSeq)
  }

  test("bucket is a queryable partition column on every read path") {
    // row-level view: bucket ≡ timestamp - timestamp % bucketMs (the dir
    // value), synthesized per file with nothing decoded
    val rows = graftDf.select("name", "bucket", "timestamp")
      .orderBy("name", "timestamp").collect()
    assert(rows.forall(r => r.getLong(1) == r.getLong(2) - r.getLong(2) % H))
    // batch path carries it as a constant partition vector
    assert(scanIsColumnar(graftDf.select("bucket", "value")))
    // a (name, bucket)-only scan keeps the footer fast path
    val q = graftDf.groupBy("name", "bucket").count()
    assert(!scanIsColumnar(q))
    assert(q.collect().length == 5) // 5 (name,bucket) dirs, 1 row each
  }

  test("group-by (name, bucket) time-rollup pushes down to the sidecar") {
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .where(col("timestamp") >= 0L && col("timestamp") < 3 * H)
      .groupBy("name", "bucket")
      .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("s"),
        min("timestamp").as("t0"), max("timestamp").as("t1"))
      .orderBy("name", "bucket")
    val pushed = agg(statsDf)
    val plan = planOf(pushed)
    assert(plan.contains("GraftStatsScan"), plan)
    assert(plan.contains("GroupBy=[name, bucket]") ||
      plan.contains("GroupBy=[bucket, name]"), plan)
    // aligned window: no raw file is listed, let alone opened
    assert(plan.contains("boundaryFiles=0"), plan)
    assert(pushed.collect().toSeq == agg(graftDf).collect().toSeq)
    // bucket-only grouping works too (cross-series per-hour rollup)
    def byBucket(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("bucket").agg(count(lit(1)).as("n"), sum("value").as("s"))
      .orderBy("bucket")
    val pb = byBucket(statsDf)
    assert(planOf(pb).contains("GraftStatsScan"), planOf(pb))
    assert(pb.collect().toSeq == byBucket(graftDf).collect().toSeq)
  }

  test("grouped rollup ≡ raw for random unaligned windows (property)") {
    // boundary raw files must contribute partials under their own
    // (name, bucket) group keys — the unaligned grouped decomposition
    val rnd = new scala.util.Random(43)
    val tsMax = 3 * H + 3000L
    for (_ <- 1 to 25) {
      val a = math.abs(rnd.nextLong()) % tsMax - 1000L
      val b = math.abs(rnd.nextLong()) % tsMax
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      def agg(df: org.apache.spark.sql.DataFrame) = df
        .where(col("timestamp") >= lo && col("timestamp") <= hi)
        .groupBy("name", "bucket")
        .agg(count(lit(1)).as("n"), sum("value").as("s"),
          min("timestamp").as("t0"), max("timestamp").as("t1"))
        .orderBy("name", "bucket")
      val pushed = agg(statsDf)
      assert(planOf(pushed).contains("GraftStatsScan"),
        s"[$lo,$hi]: ${planOf(pushed)}")
      assert(pushed.collect().toSeq == agg(graftDf).collect().toSeq,
        s"window [$lo,$hi]")
    }
  }

  test("avg falls back to the raw scan (no partial decomposition) — exact") {
    // Spark only rewrites AVG into pushable sum/count for sources that
    // support COMPLETE pushdown; with partial-only pushdown it arrives
    // as Avg, which statsFuncOf declines — documented fallback. Callers
    // wanting sidecar-served averages aggregate sum(value)/count(*)
    // explicitly (as the engine's own avg decomposition does).
    val q = statsDf.where(col("name") === "cpu").agg(avg("value").as("a"))
    assert(!planOf(q).contains("GraftStatsScan"), planOf(q))
    assert(q.collect().head.getDouble(0) == 2.5)
  }

  test("unaligned window pushes down as covered ∪ boundary — and stays exact") {
    // [500, 2H]: bucket H is covered (sidecar row), buckets 0 and 2H are
    // boundary (raw partial agg). Rows in range: reqs@500 (10.0, raw),
    // cpu@H+1000 (2.5, sidecar). cpu@0, cpu@2H+2000, reqs@2H+500 are out.
    val q = statsDf
      .where(col("timestamp") >= 500L && col("timestamp") <= 2 * H)
      .agg(count(lit(1)).as("n"), sum("value").as("s"),
        min("value").as("mn"), max("value").as("mx"),
        min("timestamp").as("t0"), max("timestamp").as("t1"))
    val plan = planOf(q)
    assert(plan.contains("GraftStatsScan"), plan)
    // bucket H files must NOT be re-opened raw: cpu bucket=0 + bucket=7200000
    // and reqs bucket=0 + bucket=7200000 are the only boundary candidates
    assert(plan.contains("boundaryFiles=4"), plan)
    val r = q.collect().head
    assert(r.getLong(0) == 2L && r.getDouble(1) == 12.5)
    assert(r.getDouble(2) == 2.5 && r.getDouble(3) == 10.0)
    assert(r.getLong(4) == 500L && r.getLong(5) == H + 1000L)
  }

  test("hybrid decomposition ≡ raw for random windows (property)") {
    val rnd = new scala.util.Random(42)
    val tsMax = 3 * H + 3000L
    for (_ <- 1 to 40) {
      val a = math.abs(rnd.nextLong()) % tsMax - 1000L
      val b = math.abs(rnd.nextLong()) % tsMax
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      def agg(df: org.apache.spark.sql.DataFrame) = df
        .where(col("timestamp") >= lo && col("timestamp") <= hi)
        .groupBy("name")
        .agg(count(lit(1)).as("n"), sum("value").as("s"),
          min("timestamp").as("t0"), max("timestamp").as("t1"))
        .orderBy("name")
      val pushed = agg(statsDf)
      assert(planOf(pushed).contains("GraftStatsScan"),
        s"[$lo,$hi]: ${planOf(pushed)}")
      assert(pushed.collect().toSeq == agg(graftDf).collect().toSeq,
        s"window [$lo,$hi]")
    }
  }

  test("covered-range math: alignment, sub-bucket windows, extremes") {
    import GraftSource.coveredRange
    assert(coveredRange(0L, 3 * H - 1, H) == ((0L, 3 * H - 1)))   // aligned
    assert(coveredRange(500L, 2 * H, H) == ((H, 2 * H - 1)))      // unaligned
    assert(coveredRange(Long.MinValue, Long.MaxValue, H) ==
      ((Long.MinValue, Long.MaxValue)))                            // unbounded
    val (nl, nh) = coveredRange(100L, H - 2, H)                    // sub-bucket
    assert(nl > nh)
    val (el, eh) = coveredRange(Long.MaxValue, Long.MinValue, H)   // empty
    assert(el > eh)
    val (ol, oh) = coveredRange(Long.MaxValue - 10, Long.MaxValue - 5, H)
    assert(ol > oh)                                                // overflow-safe
  }

  test("covered-range invariants over random windows (property)") {
    // for any window and bucket width: a bucket is inside [covLo, covHi]
    // iff it is FULLY inside the window — so covered ∪ boundary rows
    // partition the window with nothing dropped or double-counted
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 500) {
      val bucketMs = 1L + rnd.nextInt(1000)
      val a = rnd.nextLong() % (1L << 40)
      val b = rnd.nextLong() % (1L << 40)
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      val (covLo, covHi) = GraftSource.coveredRange(lo, hi, bucketMs)
      // the edge-adjacent buckets are where the math can be wrong;
      // interior/exterior behavior is monotone from them
      val edges = Seq(Math.floorDiv(lo, bucketMs) - 1, Math.floorDiv(lo, bucketMs),
        Math.floorDiv(lo, bucketMs) + 1, Math.floorDiv(hi, bucketMs) - 1,
        Math.floorDiv(hi, bucketMs), Math.floorDiv(hi, bucketMs) + 1,
        Math.floorDiv(lo + (hi - lo) / 2, bucketMs)).distinct
      edges.foreach { bk =>
        val bStart = bk * bucketMs
        val bEnd = bStart + bucketMs - 1
        val fullyInside = bStart >= lo && bEnd <= hi
        val claimed = bStart >= covLo && bEnd <= covHi
        assert(claimed == fullyInside,
          s"bucketMs=$bucketMs window=[$lo,$hi] cov=[$covLo,$covHi] " +
            s"bucket=[$bStart,$bEnd]: claimed=$claimed fullyInside=$fullyInside")
      }
    }
  }

  test("count(NULL) is not claimed by the sidecar count") {
    // Catalyst constant-folds count(NULL) before pushdown, leaving an
    // EMPTY aggregation list — which must be declined (nothing to serve
    // from the sidecar), and the answer must be 0, not the row count
    val q = statsDf.agg(count(lit(null).cast("int")).as("n"))
    assert(!planOf(q).contains("PushedAggregates=[]"), planOf(q))
    assert(q.collect().head.getLong(0) == 0L)
  }

  test("reader options are case-insensitive (bucketms / STATS)") {
    // a mis-cased bucketMs must still hit the conflict guard, not be
    // silently ignored
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("bucketms", "60000").load(root).count()
    }
    assert(e.getMessage.contains("bucketMs"), e.getMessage)
    val q = spark.read.format("graft").option("STATS", "true").load(statsRoot)
      .agg(sum("value").as("s"))
    assert(planOf(q).contains("GraftStatsScan"), planOf(q))
  }

  test("strict bounds at the long extremes admit nothing") {
    import org.apache.spark.sql.sources.GreaterThan
    val b = GraftSource.bounds(Seq(GreaterThan("timestamp", Long.MaxValue)))
    assert(b.lo > b.hi)
    val b2 = GraftSource.bounds(Seq(LessThan("timestamp", Long.MinValue)))
    assert(b2.lo > b2.hi)
    // end-to-end: claimed in stats mode, still zero rows
    assert(statsDf.where(col("timestamp") > Long.MaxValue).count() == 0L)
  }

  test("unsupported shapes fall back: other group key, distinct, lvalue") {
    val byLabel = statsDf.groupBy(col("labels")("host")).count()
    assert(!planOf(byLabel).contains("GraftStatsScan"))
    assert(byLabel.collect().length == 2)
    val dist = statsDf.agg(countDistinct(col("value")))
    assert(!planOf(dist).contains("GraftStatsScan"))
    assert(dist.collect().head.getLong(0) == 5L)
    val lsum = statsDf.agg(sum("lvalue"))
    assert(!planOf(lsum).contains("GraftStatsScan"))
    assert(lsum.collect().head.getLong(0) == (1L << 60) + 7L + 10L)
  }

  test("stats mode without a pushed aggregate still returns exact rows") {
    // point probe: bounds claimed (no residual Filter), reader enforces
    val q = statsDf.where(col("name") === "reqs" && col("timestamp") === 500L)
      .select("lvalue")
    assert(q.as[Long].collect().toSeq == Seq(10L))
    // full row parity with the default mode
    val a = statsDf.select("name", "timestamp", "value", "lvalue")
    val b = graftDf.select("name", "timestamp", "value", "lvalue")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("runtime filters re-prune the planned file set (DPP contract)") {
    // Spark injects DynamicPruning into a SupportsRuntimeFiltering scan
    // only when its benefit heuristic fires (it declines on KB-sized
    // fixtures), so the scan's side of the contract is pinned directly:
    // filter() must shrink planInputPartitions losslessly.
    val files = Seq(
      GraftFile("/d/name=cpu/bucket=0/p0", "cpu", 0L, 10L),
      GraftFile("/d/name=cpu/bucket=3600000/p1", "cpu", H, 10L),
      GraftFile("/d/name=reqs/bucket=0/p2", "reqs", 0L, 10L))
    val scan = new graft.sources.GraftScan(files, GraftSource.tableSchema,
      Array.empty, Long.MinValue, Long.MaxValue, H)
    assert(scan.filterAttributes().map(_.describe()).toSet ==
      Set("name", "timestamp"))
    // partitions bin small files together; the lossless-shrink contract
    // is over the planned file chunks
    def chunkPaths = scan.planInputPartitions().flatMap {
      case p: graft.sources.GraftInputPartition => p.chunks.map(_.path)
    }.toSet
    assert(chunkPaths.map(_.last) == Set('0', '1', '2'))
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      In("name", Array("cpu"))))
    assert(chunkPaths.map(_.last) == Set('0', '1'))
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      LessThan("timestamp", H)))
    assert(chunkPaths.map(_.last) == Set('0'))
    // end-to-end: the dim join itself stays correct either way
    val dims = Seq("cpu").toDF("name")
    val rows = graftDf.join(broadcast(dims), "name")
      .select("name", "timestamp", "value").collect()
    assert(rows.length == 3 && rows.forall(_.getString(0) == "cpu"))
  }

  test("stats pushdown resolves the versioned pointer and sees refreshes") {
    val dir = Files.createTempDirectory("graft_dsv2_ptr").toString
    val db = new GraftDb(spark, dir)
    db.createStream("m", VType.F64)
    val ins = db.inserter("m")
    ins.insert(100L, 1.0); ins.insert(H + 5L, 2.0); ins.flush()
    db.refreshStats() // writes stats_v<N> + the stats_current pointer
    def agg() = {
      val q = spark.read.format("graft").option("stats", "true").load(dir)
        .agg(count(lit(1)).as("n"), sum("value").as("s"))
      assert(planOf(q).contains("GraftStatsScan"), planOf(q))
      val r = q.collect().head
      (r.getLong(0), r.getDouble(1))
    }
    assert(agg() == ((2L, 3.0)))
    // append a bucket and refresh: a NEW version dir is published via
    // atomic pointer swap — the next scan must read the new version
    val ins2 = db.inserter("m")
    ins2.insert(2 * H + 5L, 4.0); ins2.flush()
    db.refreshStats()
    assert(agg() == ((3L, 7.0)))
  }

  test("a bucketMs option conflicting with the store's width fails loudly") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("bucketMs", "60000").load(root)
        .count()
    }
    assert(e.getMessage.contains("bucketMs"), e.getMessage)
    // the matching option (and no option) both work
    assert(spark.read.format("graft").option("bucketMs", H.toString)
      .load(root).count() == 5L)
  }

  test("an empty root reads as an empty table, not an error") {
    val empty = Files.createTempDirectory("graft_dsv2_empty").toString
    assert(spark.read.format("graft").load(empty).count() == 0L)
  }

  test("partition-escaped names round-trip through the dir layout") {
    // GraftDb's own names are PromQL identifiers, but the layout is
    // plain partitionBy(name, ...) — a store written by other tooling
    // can carry characters Spark/Hive %-escape in the dir name. The
    // reader must unescape what the writer escaped.
    val dir = Files.createTempDirectory("graft_dsv2_esc").toString
    Seq(("api/latency:p99", 42L, 9.9, 0L))
      .toDF("name", "timestamp", "value", "bucket")
      .write.partitionBy("name", "bucket").parquet(s"$dir/data")
    import scala.jdk.CollectionConverters._
    val escaped = Files.list(java.nio.file.Paths.get(s"$dir/data"))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("name=")).toSeq
    assert(escaped.exists(_.contains("%")), escaped) // writer did escape
    val rows = spark.read.format("graft").load(dir)
      .select("name", "timestamp", "value").as[(String, Long, Double)]
      .collect().toSeq
    assert(rows == Seq(("api/latency:p99", 42L, 9.9)))
  }

  test("labelEq prunes to the catalogued streams carrying the label") {
    // catalog: cpu{host=a}, reqs{} — host=a selects exactly cpu
    val q = spark.read.format("graft").option("labelEq", "host=a").load(root)
      .select("name", "timestamp", "value")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("files=3"), plan) // cpu's 3 bucket dirs, not reqs' 2
    assert(q.collect().map(_.getString(0)).forall(_ == "cpu"))
    assert(q.count() == 3L)
    // a label no stream carries selects nothing (catalog is authoritative)
    assert(spark.read.format("graft").option("labelEq", "host=zzz")
      .load(root).count() == 0L)
    // composes with name/timestamp pruning and residual filters
    val q2 = spark.read.format("graft").option("labelEq", "host=a").load(root)
      .where(col("timestamp") >= H)
    assert(q2.count() == 2L)
  }

  test("labelEq on a store with no catalog prunes nothing") {
    val dir = Files.createTempDirectory("graft_dsv2_nocat").toString
    Seq(("m", 42L, 1.0, 0L)).toDF("name", "timestamp", "value", "bucket")
      .write.partitionBy("name", "bucket").parquet(s"$dir/data")
    assert(spark.read.format("graft").option("labelEq", "k=v")
      .load(dir).count() == 1L)
  }

  test("labelEq restricts the stats-pushdown path too") {
    val q = spark.read.format("graft").option("stats", "true")
      .option("labelEq", "host=a").load(statsRoot)
      .agg(count(lit(1)).as("n"), sum("value").as("s"))
    assert(planOf(q).contains("GraftStatsScan"), planOf(q))
    val r = q.collect().head
    assert(r.getLong(0) == 3L && r.getDouble(1) == 1.5 + 2.5 + 3.5)
  }

  test("malformed labelEq fails loudly") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("labelEq", "novalue").load(root).count()
    }
    assert(e.getMessage.contains("labelEq"), e.getMessage)
  }

  /** Store whose catalog makes the multi-matcher INTERSECTION
    * observable: host=a admits {cpu, mem}, dc=east admits {cpu, net} —
    * both together must select exactly cpu (indexer.rs:493-516).
    */
  private lazy val multiRoot: String = {
    val dir = Files.createTempDirectory("graft_dsv2_multi").toString
    val db = new GraftDb(spark, dir)
    db.createStream("cpu{host=\"a\", dc=\"east\"}", VType.F64)
    db.createStream("mem{host=\"a\", dc=\"west\"}", VType.F64)
    db.createStream("net{host=\"b\", dc=\"east\"}", VType.F64)
    Seq("cpu", "mem", "net").zipWithIndex.foreach { case (n, i) =>
      val ins = db.inserter(n)
      ins.insert(1000L * i, i + 0.5); ins.insert(H + 1000L * i, i + 1.5)
      ins.flush()
    }
    dir
  }

  test("multi-pair labelEq intersects the matchers' name sets") {
    def q(sel: String) = spark.read.format("graft")
      .option("labelEq", sel).load(multiRoot)
    // single matchers: two streams each
    assert(q("host=a").select("name").distinct().as[String].collect()
      .toSet == Set("cpu", "mem"))
    assert(q("dc=east").select("name").distinct().as[String].collect()
      .toSet == Set("cpu", "net"))
    // conjunction: the intersection, exactly one stream — and only its
    // directories are listed (2 bucket dirs, one file each)
    val both = q("host=a,dc=east").select("name", "value")
    val plan = both.queryExecution.executedPlan.toString
    assert(plan.contains("files=2"), plan)
    assert(both.as[(String, Double)].collect().toSet ==
      Set(("cpu", 0.5), ("cpu", 1.5)))
    // contradictory conjunction: empty, no error
    assert(q("host=a,dc=east,host=b").count() == 0L)
  }

  test("labels with structural characters round-trip and match labelEq") {
    val dir = Files.createTempDirectory("graft_dsv2_escval").toString
    val db = new GraftDb(spark, dir)
    // a PromQL-legal value containing ',' '=' '%' and a tab — the
    // catalog line must stay unambiguous (LabelCodec escaping)
    val weird = "x,y=z%w\tq"
    db.createStream("m{path=\"" + weird + "\"}", VType.F64)
    db.createStream("m2{path=\"x\"}", VType.F64)
    assert(db.streams().find(_.name == "m").get.labels ==
      Map("path" -> weird))
    val ins = db.inserter("m")
    ins.insert(1L, 7.0); ins.flush()
    val ins2 = db.inserter("m2")
    ins2.insert(2L, 8.0); ins2.flush()
    // the labelEq option carries the SAME escaping as the catalog
    val sel = "path=" + graft.tsdb.LabelCodec.escape(weird)
    val rows = spark.read.format("graft").option("labelEq", sel).load(dir)
      .select("name", "value").as[(String, Double)].collect().toSeq
    assert(rows == Seq(("m", 7.0)))
    // and the stored labels column itself carries the raw value
    assert(spark.read.format("graft").load(dir).where(col("name") === "m")
      .select(element_at(col("labels"), "path")).as[String].collect()
      .toSeq == Seq(weird))
  }

  test("a malformed catalog line fails the labelEq scan loudly") {
    val dir = Files.createTempDirectory("graft_dsv2_badcat").toString
    val db = new GraftDb(spark, dir)
    db.createStream("m{k=\"v\"}", VType.F64)
    val ins = db.inserter("m"); ins.insert(1L, 1.0); ins.flush()
    // hand-corrupt the catalog: a label token without '='
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "catalog.jsonl"), "f64\tm\tk=v,orphan\n")
    val e = intercept[Exception] {
      spark.read.format("graft").option("labelEq", "k=v").load(dir).count()
    }
    assert(e.getMessage != null && e.getMessage.contains("orphan"),
      e.getMessage)
  }

  test("byte-range splits partition a multi-row-group file losslessly") {
    val dir = Files.createTempDirectory("graft_dsv2_split").toString
    val n = 50000L
    spark.range(n).select(lit("m").as("name"), col("id").as("timestamp"),
        col("id").cast("double").as("value"), lit(0L).as("bucket"))
      .coalesce(1)
      .write.option("parquet.block.size", (64 * 1024).toString)
      .partitionBy("name", "bucket").parquet(s"$dir/data")
    val files = GraftSource.listFiles(dir,
      new org.apache.hadoop.conf.Configuration(), H, GraftSource.Bounds.All)
    assert(files.size == 1 && files.head.length > 256 * 1024, files)
    // direct: a small split size yields several partitions whose union
    // is exactly the file (count fast path + row reads both exercised)
    val scan = new graft.sources.GraftScan(files, GraftSource.tableSchema,
      Array.empty, Long.MinValue, Long.MaxValue, H,
      maxSplitBytes = 128 * 1024)
    assert(scan.planInputPartitions().length > 1,
      s"expected >1 splits for ${files.head.length} bytes")
    // end-to-end through the session conf Spark's own scans use
    spark.conf.set("spark.sql.files.maxPartitionBytes", (128 * 1024).toString)
    try {
      val df = spark.read.format("graft").load(dir)
      assert(df.count() == n) // footer fast path per range
      assert(df.agg(sum("value")).head.getDouble(0) ==
        (n * (n - 1) / 2).toDouble)
      assert(df.where(col("timestamp") === 12345L)
        .select("value").as[Double].head() == 12345.0)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  // ---- vectorized (ColumnarBatch) read path ----

  private def scanIsColumnar(df: org.apache.spark.sql.DataFrame): Boolean = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def scan(p: SparkPlan): Seq[Boolean] = p match {
      case a: AdaptiveSparkPlanExec => scan(a.inputPlan)
      case b: BatchScanExec => Seq(b.supportsColumnar)
      case other => other.children.flatMap(scan)
    }
    val found = scan(df.queryExecution.executedPlan)
    assert(found.nonEmpty, "no BatchScanExec in plan")
    found.head
  }

  test("file-column scans read through the vectorized batch path") {
    // all five columns incl. the labels map and the nullable lvalue,
    // with `name` (a partition column the batch reader appends LAST)
    // first in the projection — pins the reorder wrapper
    val q = graftDf.select("name", "labels", "timestamp", "value", "lvalue")
    assert(scanIsColumnar(q), q.queryExecution.executedPlan.toString)
    // map columns reject set ops: compare the map by collect, the rest
    // by exceptAll
    val got = q.orderBy("name", "timestamp")
      .collect().map(r => (r.getString(0), r.getMap[String, String](1).toMap))
    assert(got.toSeq == Seq("cpu" -> Map("host" -> "a"),
      "cpu" -> Map("host" -> "a"), "cpu" -> Map("host" -> "a"),
      "reqs" -> Map.empty[String, String],
      "reqs" -> Map.empty[String, String]))
    val qFlat = q.drop("labels")
    val plain = spark.read.parquet(s"$root/data")
      .select(col("name"), col("timestamp"), col("value"), col("lvalue"))
    assert(qFlat.exceptAll(plain).isEmpty && plain.exceptAll(qFlat).isEmpty)
    // residual filters evaluate above the batches, exactly
    val f = graftDf.where(col("name") === "cpu" && col("value") > 2.0)
    assert(scanIsColumnar(f))
    assert(f.select("value").as[Double].collect().sorted.toSeq == Seq(2.5, 3.5))
  }

  test("no-file-column and claimed-bounds scans stay row-based") {
    // count(*): footer fast path, no decode at all
    assert(!scanIsColumnar(graftDf.groupBy("name").count()))
    // stats mode claims timestamp bounds on the raw scan when the
    // aggregate is NOT pushed (a non-aggregable projection): the row
    // reader must keep enforcing them
    val q = statsDf.where(col("name") === "cpu" &&
        col("timestamp") >= 1000L && col("timestamp") <= 2 * H)
      .select("timestamp", "value")
    assert(!scanIsColumnar(q), q.queryExecution.executedPlan.toString)
    assert(q.as[(Long, Double)].collect().toSeq == Seq((H + 1000L) -> 2.5))
  }

  test("old files missing columns read as nulls through the batch path") {
    // schema evolution: a store written before the lvalue sidecar (and
    // without labels) — the vectorized reader must surface the absent
    // columns as null vectors, not fail or misalign the projection
    val dir = Files.createTempDirectory("graft_dsv2_evo").toString
    Seq((0L, 1.0), (1000L, 2.0)).toDF("timestamp", "value")
      .select(lit("m").as("name"), lit(0L).as("bucket"),
        col("timestamp"), col("value"))
      .write.partitionBy("name", "bucket").parquet(s"$dir/data")
    val df = spark.read.format("graft").load(dir)
      .select("name", "labels", "timestamp", "value", "lvalue")
    assert(scanIsColumnar(df))
    val rows = df.orderBy("timestamp").collect()
    assert(rows.length == 2)
    assert(rows.forall(r => r.isNullAt(1) && r.isNullAt(4)))
    assert(rows(1).getString(0) == "m" && rows(1).getLong(2) == 1000L &&
      rows(1).getDouble(3) == 2.0)
  }

  test("packChunks bins small files and isolates big ones (Spark policy)") {
    import graft.sources.GraftSource.GraftChunk
    def chunk(p: String, len: Long) =
      GraftChunk(p, "m", 0L, Long.MinValue, Long.MaxValue, 0L, len)
    // 6 tiny files + open cost pack into few partitions, not 6
    val tiny = (1 to 6).map(i => chunk(s"t$i", 1000L))
    val packed = GraftSource.packChunks(tiny, 10000L, 2000L)
    assert(packed.map(_.size).sum == 6)
    assert(packed.map(_.size) == Seq(4, 2), packed.map(_.size))
    // a chunk at capacity gets its own partition; nothing is dropped
    val mixed = chunk("big", 10000L) +: tiny
    val packedMixed = GraftSource.packChunks(mixed, 10000L, 2000L)
    assert(packedMixed.map(_.size).sum == 7)
    assert(packedMixed.head == Seq(chunk("big", 10000L))) // sorted desc
    // order within a bin preserves insertion; empty input → no partitions
    assert(GraftSource.packChunks(Nil, 10000L, 2000L).isEmpty)
  }

  test("aggregates through SQL over the registered view") {
    graftDf.createOrReplaceTempView("graft_store")
    val r = spark.sql(
      """SELECT name, SUM(value) AS s FROM graft_store
        |WHERE timestamp < 3600000 GROUP BY name ORDER BY name""".stripMargin)
      .as[(String, Double)].collect().toSeq
    assert(r == Seq("cpu" -> 1.5, "reqs" -> 10.0))
  }
}
