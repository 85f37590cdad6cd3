package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Graft.table
import graft.tsdb.{StreamCatalog, StreamDef, TsdbEngine, VType}

/** Time-series operator coverage driven through the actual PromQL engine
  * (graft.tsdb): selector scans, @/offset, comparison-as-filter, V2S/S2S
  * arithmetic, scalar-subquery broadcast, whole-range aggregates with
  * tachyon's empty-set semantics, topk/bottomk, and V2V interpolation
  * alignment. The `events` testdata table is the series carrier:
  * name=event_type, labels={user: user_id}, timestamp=epoch-ms.
  *
  * The oracles re-derive the same semantics in portable SQL (DuckDB):
  * epoch_ns(ts)//1000000 mirrors the Spark-side epoch-ms projection
  * (Graft.tsMillis — robust to either physical ts type the generator
  * has used: TIMESTAMP(NANOS)-as-Long or a native timestamp).
  */
object TimeSeries {

  // Jan 6 .. Jan 17 2024 (UTC), epoch ms — the standard query window.
  private val SubStart = 1704499200000L
  private val SubEnd = 1705449600000L
  // Window covering all of the data.
  private val AllStart = 0L
  private val AllEnd = 4102444800000L

  private val catalog = new StreamCatalog(
    Seq("click", "view", "purchase", "signup", "error")
      .map(n => StreamDef(n, Map.empty, VType.F64)))

  /** events → long-format series table. */
  def eventsLong(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
    ev.select(
      col("event_type").as("name"),
      map(lit("user"), col("user_id").cast("string")).as("labels"),
      graft.engine.Graft.tsMillis(ev).as("timestamp"),
      col("value"))
  }

  def engine(s: SparkSession, dir: String): TsdbEngine =
    new TsdbEngine(s, eventsLong(s, dir), catalog)

  /** Series pre-aggregated to one sample per (name, timestamp) — dedup
    * policy for alignment ops where per-timestamp uniqueness is required.
    */
  def engineDedup(s: SparkSession, dir: String): TsdbEngine = {
    val dedup = eventsLong(s, dir)
      .groupBy("name", "timestamp")
      .agg(avg("value").as("value"))
      .select(col("name"), map().cast("map<string,string>").as("labels"),
        col("timestamp"), col("value"))
    new TsdbEngine(s, dedup, catalog)
  }

  /** Two-label series — `user` plus a derived `cohort` (= user_id % 3)
    * — the multi-label grouping fixture (ts66-ts68): cohort is a
    * strictly coarser partition of user, so two-level rollups and
    * share-of-parent matching are observable (collapsing either level
    * changes the answer).
    */
  def engineCohort(s: SparkSession, dir: String): TsdbEngine = {
    val ev = table(s, dir, "events")
    val data = ev.select(col("event_type").as("name"),
      map(lit("user"), col("user_id").cast("string"),
        lit("cohort"), (col("user_id") % 3).cast("string")).as("labels"),
      graft.engine.Graft.tsMillis(ev).as("timestamp"), col("value"))
    new TsdbEngine(s, data, catalog)
  }

  /** Three-label series — user, cohort (= user_id % 3), tier
    * (= user_id % 2) — the `without` matched-composition fixture
    * (ts110/ts111): dropping `user` with `without` leaves a
    * (cohort, tier) canonical group, strictly coarser than user but
    * finer than cohort, so the share-of-cohort ratio is non-trivial.
    */
  def engineTier(s: SparkSession, dir: String): TsdbEngine = {
    val ev = table(s, dir, "events")
    val data = ev.select(col("event_type").as("name"),
      map(lit("user"), col("user_id").cast("string"),
        lit("cohort"), (col("user_id") % 3).cast("string"),
        lit("tier"), (col("user_id") % 2).cast("string")).as("labels"),
      graft.engine.Graft.tsMillis(ev).as("timestamp"), col("value"))
    new TsdbEngine(s, data, catalog)
  }

  /** Three-label series with a cohort-DETERMINED third label — user,
    * cohort (= user_id % 3), band (= cohort · 2): band is functionally
    * dependent on cohort, so `sum without (user)`'s canonical
    * {cohort, band} groups are unique per cohort — the
    * carry-from-canonical fixture (ts121: group_left(band) re-opens
    * band's value from the canonical string).
    */
  def engineBand(s: SparkSession, dir: String): TsdbEngine = {
    val ev = table(s, dir, "events")
    val data = ev.select(col("event_type").as("name"),
      map(lit("user"), col("user_id").cast("string"),
        lit("cohort"), (col("user_id") % 3).cast("string"),
        lit("band"), ((col("user_id") % 3) * 2).cast("string")).as("labels"),
      graft.engine.Graft.tsMillis(ev).as("timestamp"), col("value"))
    new TsdbEngine(s, data, catalog)
  }

  /** Cumulative-histogram fixture (ts78): each purchase event explodes
    * into one `purchase_bucket` sample per bucket bound
    * (le ∈ {100, 250, 400, +Inf}), labels {user, le}, value 1 when the
    * event's value falls within the bound — so `sum by (user, le)`
    * yields exactly the cumulative bucket counts histogram_quantile
    * consumes (the classic_histogram layout Prometheus scrapes).
    */
  def engineBuckets(s: SparkSession, dir: String): TsdbEngine = {
    val ev = table(s, dir, "events").where(col("event_type") === "purchase")
    val leVals = Seq("100" -> 100.0, "250" -> 250.0, "400" -> 400.0,
      "+Inf" -> Double.PositiveInfinity)
    val data = ev
      .select(graft.engine.Graft.tsMillis(ev).as("timestamp"),
        col("user_id").cast("string").as("user"), col("value").as("v"))
      .withColumn("b", explode(array(leVals.map { case (s0, d) =>
        struct(lit(s0).as("le"), lit(d).as("bound")) }: _*)))
      .select(lit("purchase_bucket").as("name"),
        map(lit("user"), col("user"), lit("le"), col("b.le")).as("labels"),
        col("timestamp"),
        when(col("v") <= col("b.bound"), 1.0).otherwise(0.0).as("value"))
    new TsdbEngine(s, data, new StreamCatalog(
      Seq(StreamDef("purchase_bucket", Map.empty, VType.F64))))
  }

  private def q(promql: String, start: Long = SubStart, end: Long = SubEnd,
      roundTo: Int = -1, dedup: Boolean = false)(
      s: SparkSession, dir: String): DataFrame = {
    val e = if (dedup) engineDedup(s, dir) else engine(s, dir)
    val res = e.query(promql, start, end)
    val df = res.output
    val rounded = if (roundTo >= 0) df.withColumn("value", round(col("value"), roundTo)) else df
    if (res.isScalar) rounded.orderBy(col("value")) else rounded.orderBy("timestamp")
  }

  // Shared SQL fragment: the ms-timestamp projection of events.
  private def ev(cond: String): String =
    s"(SELECT epoch_ns(ts)//1000000 AS t, value AS v FROM events WHERE $cond)"

  private def sub(col: String = "t"): String =
    s"$col >= $SubStart AND $col <= $SubEnd"

  /** CTE chain mirroring one V2V interpolation align (Align.interpolated):
    * inputs `a`, `b` are CTE names producing (t, v); emits
    * `<p>_u`, `<p>_w`, and `<p>` — the aligned sum series (t, v).
    * Composable: feed `<p>` back in as an input for chained binary ops.
    */
  private def alignCtes(a: String, b: String, p: String): String = {
    def runUp(c: String) =
      s"OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    def runDn(c: String) =
      s"OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
    def interp(v: String, pv: String, pt: String, nv: String, nt: String) =
      s"""(CASE WHEN $v IS NOT NULL THEN $v
         |        WHEN $pv IS NULL THEN $nv
         |        WHEN $nv IS NULL THEN $pv
         |        ELSE $pv + ($nv - $pv) * (t - $pt) / ($nt - $pt) END)""".stripMargin
    s"""${p}_u AS (SELECT COALESCE($a.t, $b.t) AS t, $a.v AS av, $b.v AS bv
       |      FROM $a FULL OUTER JOIN $b ON $a.t = $b.t),
       |${p}_w AS (SELECT t, av, bv,
       |  last_value(av IGNORE NULLS) ${runUp("av")} AS pav,
       |  last_value(CASE WHEN av IS NOT NULL THEN t END IGNORE NULLS) ${runUp("av")} AS pat,
       |  first_value(av IGNORE NULLS) ${runDn("av")} AS nav,
       |  first_value(CASE WHEN av IS NOT NULL THEN t END IGNORE NULLS) ${runDn("av")} AS nat,
       |  last_value(bv IGNORE NULLS) ${runUp("bv")} AS pbv,
       |  last_value(CASE WHEN bv IS NOT NULL THEN t END IGNORE NULLS) ${runUp("bv")} AS pbt,
       |  first_value(bv IGNORE NULLS) ${runDn("bv")} AS nbv,
       |  first_value(CASE WHEN bv IS NOT NULL THEN t END IGNORE NULLS) ${runDn("bv")} AS nbt
       |  FROM ${p}_u),
       |$p AS (SELECT t,
       |  ${interp("av", "pav", "pat", "nav", "nat")} +
       |  ${interp("bv", "pbv", "pbt", "nbv", "nbt")} AS v
       |  FROM ${p}_w)""".stripMargin
  }

  /** A GraftDb-layout series store (name=/bucket= day partitions) built
    * from the events table once per (session, sf dir) — ts32 reads it
    * back through the DSv2 `graft` format, so the gate covers the whole
    * store→SQL surface: layout, dir pruning, reader, residual filters.
    */
  private val storePaths = scala.collection.concurrent.TrieMap.empty[String, String]
  private val Day = 86400 * 1000L

  /** Build (or reuse) the DSv2 store fixture for `dir` outside any timed
    * window and return the seconds spent (≈0 when already memoized).
    * Bench calls this in its untimed warm phase so the ts32-ts34 gates
    * time the DSv2 scan they exist to cover, not `partitionBy` write
    * throughput; the build cost is reported as its own line like ingest.
    */
  /** A GraftDb holding the purchase series plus a RECORDED daily-sum
    * stream (ts98): bulk-loaded through importFrame (the distributed
    * ingest), then `record` materializes `sum_over_time(purch[1d])`
    * at a 1d step — the recording-rule round trip, store and all.
    * Memoized per (session, dir) like the DSv2 store.
    */
  private def recordedDb(s: SparkSession, dir: String): graft.tsdb.GraftDb = {
    val path = storePaths.getOrElseUpdate(
      System.identityHashCode(s) + "|rec|" + dir, {
        val p =
          java.nio.file.Files.createTempDirectory("graft_recdb").toString
        val db = new graft.tsdb.GraftDb(s, p)
        db.createStream("purch", VType.F64)
        // ingest only the recorded window (+1d lookback) — the
        // realistic recording-rule shape (you record over the window
        // you query, not all history), and it keeps the fixture store's
        // partition count window-sized instead of corpus-span-sized
        // (ingesting a 30x-span series here once built a 21k-file store
        // whose LISTING dominated the read-back gate)
        db.importFrame("purch",
          eventsLong(s, dir).where(col("name") === "purchase" &&
              col("timestamp") >= SubStart - 86400000L &&
              col("timestamp") <= SubEnd)
            .select(col("timestamp"), col("value")))
        db.record("purch_daily", "sum_over_time(purch[1d])",
          SubStart, SubEnd, Some(86400000L))
        p
      })
    new graft.tsdb.GraftDb(s, path)
  }

  /** GROUPED recording fixture (ts103): per-user purchase streams for
    * the three smallest purchase user ids (window-sized ingest, the
    * recordedDb discipline), then one recordGrouped rule — daily
    * per-user sums recorded as `purch_daily_u{user=…}` series.
    */
  private def recordedGroupedDb(s: SparkSession, dir: String): graft.tsdb.GraftDb = {
    val path = storePaths.getOrElseUpdate(
      System.identityHashCode(s) + "|recg|" + dir, {
        val p =
          java.nio.file.Files.createTempDirectory("graft_recgdb").toString
        val db = new graft.tsdb.GraftDb(s, p)
        val ev = table(s, dir, "events")
        val ids = ev.where(col("event_type") === "purchase")
          .select(col("user_id")).distinct().orderBy("user_id").limit(3)
          .collect().map(_.get(0).toString)
        ids.foreach { u =>
          db.createStream(s"""purch{user="$u"}""", VType.F64)
          db.importFrame(s"""purch{user="$u"}""",
            eventsLong(s, dir).where(col("name") === "purchase" &&
                element_at(col("labels"), "user") === u &&
                col("timestamp") >= SubStart - 86400000L &&
                col("timestamp") <= SubEnd)
              .select(col("timestamp"), col("value")))
        }
        db.recordGrouped("purch_daily_u", "sum_over_time(purch[1d])",
          graft.tsdb.Expr.Grouping(by = true, List("user")),
          SubStart, SubEnd, 86400000L)
        p
      })
    new graft.tsdb.GraftDb(s, path)
  }

  /** Bench prep hooks: build ts98's recorded store / ts103's grouped
    * twin untimed (the bulk ingest + record is a one-time linear cost
    * reported as its own metric, like the DSv2 store); the gates then
    * time the derived-stream read-back they cover. SEPARATE hooks so a
    * single-gate run never pays — or reports — the other store's build.
    */
  def prepareRecordedStore(s: SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    recordedDb(s, dir)
    (System.nanoTime() - t0) / 1e9
  }

  def prepareRecordedGroupedStore(s: SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    recordedGroupedDb(s, dir)
    (System.nanoTime() - t0) / 1e9
  }

  def prepareDsv2Store(s: SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    dsv2Store(s, dir)
    (System.nanoTime() - t0) / 1e9
  }

  private def dsv2Store(s: SparkSession, dir: String): String =
    storePaths.getOrElseUpdate(System.identityHashCode(s) + "|" + dir, {
      val root =
        java.nio.file.Files.createTempDirectory("graft_dsv2store").toString
      val series = eventsLong(s, dir)
        .withColumn("lvalue", lit(null).cast("long"))
      series
        .withColumn("bucket",
          col("timestamp") - pmod(col("timestamp"), lit(Day)))
        .hint("rebalance", col("name"), col("bucket"))
        .write.partitionBy("name", "bucket").parquet(s"$root/data")
      // stats sidecar (legacy fixed dir — GraftDb.statsDir resolves it):
      // ts33 answers aligned-window aggregates from these rows alone
      graft.tsdb.StatsAggregate.buildStats(series, Day)
        .write.parquet(s"$root/stats")
      // persist the bucket width like GraftDb does — the authoritative
      // value for the DSv2 stats coverage math
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(root, "bucket_ms"), Day.toString)
      // catalog (GraftDb.streams format): one stream per event type
      // with TWO per-STREAM labels — et=<name> (unique) and a tier
      // shared by several streams — the label authority the DSv2
      // labelEq option prunes on. ts35 matches one label; ts37 matches
      // both, so the name-set INTERSECTION is observable: tier=gold
      // alone admits {purchase, signup}, et=purchase cuts it to
      // {purchase} — a union-instead-of-intersection bug would leak
      // signup rows into the result.
      val tier = Map("purchase" -> "gold", "signup" -> "gold",
        "click" -> "std", "view" -> "std", "error" -> "std")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(root, "catalog.jsonl"),
        Seq("click", "view", "purchase", "signup", "error")
          .map(n => s"f64\t$n\tet=$n,tier=${tier(n)}").mkString("", "\n", "\n"))
      root
    })

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Plain-SQL access to the series store through the DSv2 `graft`
    // format: one series over the standard window, daily rollup. The
    // name filter + range bounds prune to the matching (name, bucket)
    // dirs at Scan.build (GraftSourceSpec pins files=N); the aggregate
    // runs on Spark's side like any other table.
    "ts32_dsv2_scan" -> { (s, dir) =>
      val t = s.read.format("graft").option("bucketMs", Day.toString)
        .load(dsv2Store(s, dir))
      t.where(col("name") === "purchase" &&
          col("timestamp") >= SubStart && col("timestamp") <= SubEnd)
        .groupBy((col("timestamp") - pmod(col("timestamp"), lit(Day))).as("day"))
        .agg(round(sum(col("value")), 6).as("sum_value"),
          count(lit(1)).as("n"))
        .orderBy("day")
    },

    // The ScanHint analogue through PLAIN SQL: with option("stats"),
    // a bucket-aligned window aggregate pushes down to the stats
    // sidecar (GraftStatsScan — the reader folds per-(name,bucket)
    // summary rows; raw data is never opened). SubStart/SubEnd are
    // day-aligned, so the whole window is covered buckets.
    // GraftSourceSpec pins pushdown-vs-raw equality and the fallback
    // cases; this gate pins the end-to-end answer against DuckDB
    // computing from raw events.
    "ts33_dsv2_stats_agg" -> { (s, dir) =>
      val t = s.read.format("graft").option("bucketMs", Day.toString)
        .option("stats", "true").load(dsv2Store(s, dir))
      t.where(col("timestamp") >= SubStart && col("timestamp") < SubEnd)
        .groupBy(col("name"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 4).as("sum_value"),
          round(min(col("value")), 6).as("min_value"),
          round(max(col("value")), 6).as("max_value"),
          min(col("timestamp")).as("first_ts"))
        .orderBy("name")
    },

    // Unaligned-window ScanHint through PLAIN SQL: the pushed window is
    // deliberately NOT day-aligned (±30 min off both edges), so the
    // GraftStatsScan decomposes it into covered sidecar buckets ∪
    // boundary raw rows (the SQL-surface analogue of the engine's ts18
    // StatsAggregate decomposition and of the reference degrading
    // partially-covered files to row scan, file.rs:280-289). The oracle
    // recomputes everything from raw events — equality proves the
    // decomposition drops and double-counts nothing.
    "ts34_dsv2_stats_unaligned" -> { (s, dir) =>
      val t = s.read.format("graft").option("bucketMs", Day.toString)
        .option("stats", "true").load(dsv2Store(s, dir))
      t.where(col("timestamp") >= (SubStart + 1800000L) &&
          col("timestamp") <= (SubEnd - 1800001L))
        .groupBy(col("name"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 4).as("sum_value"),
          round(min(col("value")), 6).as("min_value"),
          round(max(col("value")), 6).as("max_value"),
          min(col("timestamp")).as("first_ts"),
          max(col("timestamp")).as("last_ts"))
        .orderBy("name")
    },

    // Label-matcher pruning through PLAIN SQL: option("labelEq",
    // "et=purchase") resolves the store's catalog (the per-stream label
    // authority, always fresh — the reference's inverted label index,
    // indexer.rs:493-516) to a name set at Scan.build, so only the
    // matching series' directories are even listed. The row-level
    // labels['user'] predicate stays an ordinary residual filter —
    // per-stream selection and per-row label predicates compose. The
    // oracle recomputes from raw events with both conditions.
    "ts35_dsv2_label_prune" -> { (s, dir) =>
      val t = s.read.format("graft").option("bucketMs", Day.toString)
        .option("labelEq", "et=purchase").load(dsv2Store(s, dir))
      t.where(col("timestamp") >= SubStart && col("timestamp") <= SubEnd &&
          element_at(col("labels"), "user") === "12")
        .select(col("timestamp"), col("value"))
        .orderBy("timestamp")
    },

    // The full DSv2 composition in one query: catalog label pruning
    // (labelEq → name set), aggregate pushdown to the stats sidecar,
    // AND an unaligned window (covered buckets ∪ boundary raw rows) —
    // the three round-7/8 surfaces must compose, not just work alone.
    "ts36_dsv2_label_stats" -> { (s, dir) =>
      val t = s.read.format("graft").option("bucketMs", Day.toString)
        .option("stats", "true").option("labelEq", "et=purchase")
        .load(dsv2Store(s, dir))
      t.where(col("timestamp") >= (SubStart + 1800000L) &&
          col("timestamp") <= (SubEnd - 1800001L))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 4).as("sum_value"),
          min(col("timestamp")).as("first_ts"),
          max(col("timestamp")).as("last_ts"))
    },

    // Multi-matcher labelEq: the reference intersects the ID sets of
    // EVERY matcher pair (indexer.rs:493-516); here two pairs resolve
    // against the catalog at Scan.build — tier=gold admits {purchase,
    // signup}, et=purchase cuts the set to {purchase}, and only that
    // series' directories are listed (GraftSourceSpec pins the file
    // count). The oracle recomputes from raw events; a
    // union-instead-of-intersection bug would leak signup rows in.
    "ts37_dsv2_label_multi" -> { (s, dir) =>
      val t = s.read.format("graft").option("bucketMs", Day.toString)
        .option("labelEq", "tier=gold,et=purchase").load(dsv2Store(s, dir))
      t.where(col("timestamp") >= SubStart && col("timestamp") <= SubEnd)
        .groupBy((col("timestamp") - pmod(col("timestamp"), lit(Day))).as("day"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_value"))
        .orderBy("day")
    },

    // ---- range functions (ts38-ts41): the engine's PromQL extension
    // (RangeFns.scala contract — the reference rejects all Call exprs).
    // Tumbling [range] windows aligned to the query start; rate/increase
    // use Prometheus' counter-reset rule over per-window consecutive
    // deltas, with the UN-extrapolated observed-span denominator, so the
    // result is an exact function of the samples and the DuckDB oracle
    // can recompute it with a lag window. ----

    // rate over the dedup'd purchase stream: the counter primitive.
    "ts38_range_rate" -> q("rate(purchase[1d])", roundTo = 6, dedup = true) _,

    // per-window mean — the downsampling / recording-rule shape.
    "ts39_range_avg" -> q("avg_over_time(click[12h])", roundTo = 3) _,

    // a range fn is a normal vector: the existing Aggregate dispatch
    // composes over it (max of the per-day increases).
    "ts40_range_agg" -> q("max(increase(view[1d]))", roundTo = 6, dedup = true) _,

    // ...and so does V2S comparison-as-filter (keep the days whose mean
    // clears a mid-distribution bar - a non-trivial split either side).
    "ts41_range_cmp" -> q("avg_over_time(purchase[1d]) > 46", roundTo = 3) _,

    // PER-WINDOW aggregate-from-statistics (ScanHint applied to
    // downsampling, StatsAggregate.downsample): 6h windows over hourly
    // stats with deliberately unaligned query edges — interior windows
    // fold sidecar rows, edge windows read raw, and StatsSpec's
    // poisoned-raw case proves the interior never opens data. The
    // oracle recomputes every window from raw events.
    "ts42_stats_downsample" -> { (s, dir) =>
      val data = eventsLong(s, dir)
      val hour = 3600 * 1000L
      val stats = graft.tsdb.StatsAggregate.buildStats(data, hour)
      graft.tsdb.StatsAggregate
        .downsample(data, stats, "purchase",
          SubStart + 1800000L, SubEnd - 1800001L, hour, 6 * hour)
        .select(col("window_start"), col("n"),
          round(col("value_sum"), 4).as("value_sum"),
          col("min_value"), col("max_value"),
          round(col("avg_value"), 6).as("avg_value"))
        .orderBy("window_start")
    },

    // Time-rollup GROUP BY pushed to the sidecar through PLAIN SQL:
    // `bucket` is a queryable partition column, so the per-(series, day)
    // rollup — the dashboard query — folds one sidecar row per group and
    // never lists the raw data dirs (GraftSourceSpec pins
    // boundaryFiles=0 and the unaligned grouped property). The oracle
    // recomputes the same rollup from raw events.
    "ts44_dsv2_rollup" -> { (s, dir) =>
      val t = s.read.format("graft").option("bucketMs", Day.toString)
        .option("stats", "true").load(dsv2Store(s, dir))
      t.where(col("timestamp") >= SubStart && col("timestamp") < SubEnd)
        .groupBy("name", "bucket")
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 4).as("sum_value"),
          min(col("timestamp")).as("first_ts"))
        .orderBy("name", "bucket")
    },

    // The engine integration: a TsdbEngine carrying the stats sidecar
    // serves avg_over_time from it (day windows, hourly buckets, aligned
    // start → covered throughout; the inclusive end sample comes from
    // raw). Must be indistinguishable from the raw-scan answer.
    "ts43_range_stats" -> { (s, dir) =>
      val data = eventsLong(s, dir)
      val hour = 3600 * 1000L
      val stats = graft.tsdb.StatsAggregate.buildStats(data, hour)
      val e = new TsdbEngine(s, data, catalog, Some((stats, hour)))
      e.query("avg_over_time(purchase[1d])", SubStart, SubEnd)
        .output.withColumn("value", round(col("value"), 3))
        .orderBy("timestamp")
    },

    // Instant math functions (ts45-ts46) — the extension's second half:
    // row-local value maps over vectors, composing with selectors and
    // range functions. clamp follows PromQL's bounds rule; round is the
    // half-up floor(v/to + 0.5)*to form, reproduced verbatim in the
    // oracle so both engines round identically.
    "ts45_instant_clamp" -> q("clamp(purchase, 50, 200)", roundTo = 6) _,
    "ts46_instant_round" -> q("round(avg_over_time(click[12h]))") _,

    // ---- range-function family, second wave (ts47-ts52): the moment /
    // counter / regression kinds, plus the sliding query_range shape.
    // Oracles recompute each contract (RangeFns.scala) from raw events. ----

    // population σ per window (Prometheus stddev_over_time is σ, not s).
    "ts47_range_stddev" -> q("stddev_over_time(click[12h])", roundTo = 6) _,

    // linear-interpolation quantile (percentile_cont) — the aggregate
    // state is the window's own values, samples-per-window bounded.
    "ts48_range_quantile" ->
      q("quantile_over_time(0.9, purchase[1d])", roundTo = 6) _,

    // counter resets: consecutive-pair decreases per window.
    "ts49_range_resets" -> q("resets(purchase[1d])", dedup = true) _,

    // instantaneous rate over the LAST sample pair (reset-corrected,
    // positive span required) — the spike-sensitive dashboard form.
    "ts50_range_irate" -> q("irate(purchase[1d])", roundTo = 6, dedup = true) _,

    // least-squares slope per second over window-relative seconds; the
    // oracle runs the same regression (regr_slope) on the same x shift.
    "ts51_range_deriv" -> q("deriv(click[1d])", roundTo = 9) _,

    // Prometheus query_range: rate at 6h steps over a SLIDING 1d
    // lookback (T - 1d, T] — eval times overlap 4×, the bounded
    // replication RangeFns.sliding documents. The scan extends one
    // window behind the query start so the first steps see their full
    // lookback; the oracle joins eval times against the same extended
    // raw range.
    "ts52_query_range" -> { (s, dir) =>
      val e = engineDedup(s, dir)
      e.queryRange("rate(purchase[1d])", SubStart, SubEnd, 6 * 3600 * 1000L)
        .output.withColumn("value", round(col("value"), 6))
        .orderBy("timestamp")
    },

    // SUBQUERY — expr[range:step]: the inner rate evaluated slidingly
    // every 12h becomes a derived series (step-count-bounded), then the
    // outer max_over_time windows it tumbling per 3 days. The alerting
    // shape ("worst 12h-sampled daily rate per 3-day window") in one
    // expression; the store is scanned once, by the inner pass only.
    "ts56_subquery" ->
      q("max_over_time(rate(purchase[1d])[3d:12h])", roundTo = 6,
        dedup = true) _,

    // EXTRAPOLATED rate — the opt-in Prometheus-conformance mode
    // (RangeFns.Extrapolated): the reset-corrected increase scales by
    // Prometheus' boundary-extrapolation factor (edge gaps under 1.1×
    // the average sample spacing count fully, else half the average
    // spacing; the start gap caps at the counter zero-point), and rate
    // divides by the WINDOW duration. The oracle reimplements the
    // published formula in SQL over raw events; ts38 keeps the default
    // exact estimator pinned beside it.
    "ts59_rate_extrapolated" -> { (s, dir) =>
      val dedup = eventsLong(s, dir)
        .groupBy("name", "timestamp").agg(avg("value").as("value"))
        .select(col("name"), map().cast("map<string,string>").as("labels"),
          col("timestamp"), col("value"))
      val e = new TsdbEngine(s, dedup, catalog,
        rateMode = graft.tsdb.RangeFns.Extrapolated)
      e.query("rate(purchase[1d])", SubStart, SubEnd)
        .output.withColumn("value", round(col("value"), 6))
        .orderBy("timestamp")
    },

    // SLIDING BINARY COMPOSITION — rate(a)/rate(b) per step, the
    // ratio-panel dashboard shape: both sides are step-keyed derived
    // series on the same 6h eval grid, equi-joined on the eval time.
    // Each side scans the store exactly once (PlanAuditSpec pins it);
    // steps where either rate is undefined (<2 samples) drop from the
    // join, like PromQL vector matching.
    "ts57_sliding_binary" -> { (s, dir) =>
      engineDedup(s, dir)
        .queryRange("rate(purchase[1d]) / rate(click[1d])",
          SubStart, SubEnd, 6 * 3600 * 1000L)
        .output.withColumn("value", round(col("value"), 6))
        .orderBy("timestamp")
    },

    // Subquery over a binary composition — the ratio-ALERTING shape:
    // the inner ratio evaluated every 12h becomes a derived series,
    // and the outer max_over_time windows it tumbling per 3 days
    // ("worst 12h-sampled daily purchase/click rate ratio per 3-day
    // window"). Shares ts57's machinery through the one sliding evaluator.
    "ts58_subquery_binary" ->
      q("max_over_time((rate(purchase[1d]) / rate(click[1d]))[3d:12h])",
        roundTo = 6, dedup = true) _,

    // gap detection: 1 for every window with NO samples (the alerting
    // primitive). user=12's purchases occupy 4 of the 23 12h windows,
    // so the answer is the 19-row complement — the window universe is a
    // driver-built range anti-joined against observed window keys.
    "ts53_range_absent" ->
      q("absent_over_time(purchase{user=\"12\"}[12h])") _,

    // grouped range functions — `rate(metric[1d]) by (user)`, the
    // per-series dashboard panel: each user's windows see only that
    // user's samples; (group, wstart) is the one exchange key.
    "ts54_range_by" -> { (s, dir) =>
      engine(s, dir)
        .rangeAggregateBy("rate(purchase[1d])",
          graft.tsdb.Expr.Grouping(by = true, List("user")), SubStart, SubEnd)
        .select(col("user").as("group"), col("timestamp"),
          round(col("value"), 6).as("value"))
        .orderBy("group", "timestamp")
    },

    // grouped × sliding: every user's own series at every 12h step over
    // a sliding 1d lookback — the full dashboard contract (ts54's
    // grouping under ts52's per-step evaluation, stated in the tree).
    "ts55_query_range_by" -> { (s, dir) =>
      engine(s, dir)
        .queryRange("sum by (user) (avg_over_time(purchase[1d]))",
          SubStart, SubEnd, 12 * 3600 * 1000L).output
        .select(col("user").as("group"), col("timestamp"),
          round(col("value"), 6).as("value"))
        .orderBy("group", "timestamp")
    },

    // grouped aggregate through the STRING surface — `sum by (user)
    // (purchase)`, the clause the reference parses then DROPS
    // (planner.rs:84-88). ts21 pins the same semantics on the click
    // stream under the `group` column; this pins query() end-to-end:
    // parser → Grouping → groupedAggregate, result columns named by
    // the grouping labels.
    "ts60_agg_by_promql" -> { (s, dir) =>
      engine(s, dir).query("sum by (user) (purchase)", SubStart, SubEnd)
        .output.select(col("user"), round(col("value"), 6).as("value"))
        .orderBy(col("user").cast("long"))
    },

    // grouped range-fn string form: per-user tumbling 1d rates (each
    // user's windows see only that user's samples — ts54's semantics)
    // folded per user by the outer sum, reached purely through PromQL
    // text. One scan, one (user, wstart) exchange, one (user) exchange.
    "ts61_range_by_promql" -> { (s, dir) =>
      engine(s, dir)
        .query("sum by (user) (rate(purchase[1d]))", SubStart, SubEnd)
        .output.select(col("user"), round(col("value"), 6).as("value"))
        .orderBy(col("user").cast("long"))
    },

    // grouped child under a row-local comparison: `purchase > 100`
    // filters keeping the value (the V2S rule) BEFORE the per-user sum —
    // the threshold-dashboard shape; groups with no surviving rows
    // vanish, like PromQL's.
    "ts62_agg_by_filter" -> { (s, dir) =>
      engine(s, dir)
        .query("sum by (user) (purchase > 100)", SubStart, SubEnd)
        .output.select(col("user"), round(col("value"), 6).as("value"))
        .orderBy(col("user").cast("long"))
    },

    // grouped topk: each user's 3 largest purchases (ties toward newer
    // samples, the GetK rule) — the rank window partitions on the group
    // key, never a global order (PlanAuditSpec pins it).
    "ts63_topk_by" -> { (s, dir) =>
      engine(s, dir)
        .query("topk(3, purchase) by (user)", SubStart, SubEnd)
        .output.select(col("user"), col("value"))
        .orderBy(col("user").cast("long"), col("value").desc)
    },

    // multi-label grouped sliding: every (cohort, user) tuple's own
    // series at each 12h step — the Grouping generalization of ts55's
    // single-label form (cohort is a second label derived per row, so
    // the tuple grouping is observable: summing by cohort alone would
    // merge users). (cohort, user, wstart) is the one exchange key.
    "ts66_query_range_by_multi" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      val data = ev.select(col("event_type").as("name"),
        map(lit("user"), col("user_id").cast("string"),
          lit("cohort"), (col("user_id") % 3).cast("string")).as("labels"),
        graft.engine.Graft.tsMillis(ev).as("timestamp"), col("value"))
      new TsdbEngine(s, data, catalog)
        .queryRange("sum by (cohort, user) (sum_over_time(purchase[1d]))",
          SubStart, SubEnd, 12 * 3600 * 1000L).output
        .select(col("cohort"), col("user"), col("timestamp"),
          round(col("value"), 6).as("value"))
        .orderBy(col("cohort"), col("user").cast("long"), col("timestamp"))
    },

    // grouped ⊕ grouped: per-user ratio (sum/count == per-user mean),
    // the null-safe equi-join on the group keys — PromQL's one-to-one
    // vector matching restricted to identical grouping.
    "ts64_grouped_ratio" -> { (s, dir) =>
      engine(s, dir)
        .query("sum by (user) (purchase) / count by (user) (purchase)",
          SubStart, SubEnd)
        .output.select(col("user"), round(col("value"), 6).as("value"))
        .orderBy(col("user").cast("long"))
    },

    // grouped ⊕ scalar-subquery broadcast: each user's share of the
    // total — the normalized-leaderboard shape.
    "ts65_grouped_share" -> { (s, dir) =>
      engine(s, dir)
        .query("sum by (user) (purchase) / sum(purchase)", SubStart, SubEnd)
        .output.select(col("user"), round(col("value"), 9).as("value"))
        .orderBy(col("user").cast("long"))
    },

    // NESTED grouped aggregation — `avg by (cohort) (sum by (cohort,
    // user) (purchase))`, the standard Prometheus two-level rollup the
    // r10 engine rejected: inner per-(cohort, user) sums re-aggregated
    // to a per-cohort mean. The outer groupBy folds the
    // group-count-sized inner frame — one scan, one (cohort, user)
    // exchange, one cohort-count-sized exchange, never a second pass.
    "ts67_nested_grouped" -> { (s, dir) =>
      engineCohort(s, dir)
        .query("avg by (cohort) (sum by (cohort, user) (purchase))",
          SubStart, SubEnd)
        .output.select(col("cohort"), round(col("value"), 6).as("value"))
        .orderBy("cohort")
    },

    // explicit vector matching — each user's share of their cohort's
    // total: `/ on (cohort) group_left`, the many-to-one PromQL family
    // the same-grouping join can't express. Both sides are
    // post-aggregation group-count-sized; the cohort ("one") side
    // broadcasts, uniqueness per key holds by construction.
    "ts68_on_group_left" -> { (s, dir) =>
      engineCohort(s, dir)
        .query("sum by (cohort, user) (purchase) / on (cohort) " +
          "group_left sum by (cohort) (purchase)", SubStart, SubEnd)
        .output.select(col("cohort"), col("user"),
          round(col("value"), 9).as("value"))
        .orderBy(col("cohort"), col("user").cast("long"))
    },

    // topk over a GROUPED child — `topk(3, count by (user)
    // (purchase))`, the "top 3 users" leaderboard: the k best group
    // ROWS by value, group columns kept. count keeps the ranking
    // integer-exact across engines; ties break on the group key
    // ascending (string order — deterministic, documented). Compiles
    // to TakeOrderedAndProject over the group-count-sized frame.
    "ts69_topk_grouped" -> { (s, dir) =>
      engine(s, dir)
        .query("topk(3, count by (user) (purchase))", SubStart, SubEnd)
        .output.select(col("user"), col("value"))
        .orderBy(col("value").desc, col("user"))
    },

    // GROUPED SUBQUERY — ts56's alerting shape PER USER: the inner
    // 1d-rate evaluates slidingly every 12h per user (one raw scan,
    // (user, step) derived frame), and the outer max_over_time tumbles
    // 3-day windows per user over it — "each user's worst 12h-sampled
    // daily rate per 3-day window". The subquery takes its inner's
    // grouping.
    "ts70_subquery_by" -> { (s, dir) =>
      engine(s, dir)
        .query("max_over_time(sum by (user) (rate(purchase[1d]))[3d:12h])",
          SubStart, SubEnd).output
        .select(col("user"), col("timestamp"),
          round(col("value"), 6).as("value"))
        .orderBy(col("user").cast("long"), col("timestamp"))
    },

    // inner-WITHOUT nesting: `sum without ()` groups on the full label
    // set as the escaped canonical string, and the outer `avg by
    // (cohort)` RE-OPENS it (str_to_map on the raw separators — safe
    // because values are escaped). Values coincide with ts67 by
    // construction: without () ≡ by (cohort, user) on this fixture.
    "ts71_nested_without" -> { (s, dir) =>
      engineCohort(s, dir)
        .query("avg by (cohort) (sum without () (purchase))",
          SubStart, SubEnd)
        .output.select(col("cohort"), round(col("value"), 6).as("value"))
        .orderBy("cohort")
    },

    // the beyond-reference Prometheus aggregate family (the reference
    // accepts only sum/count/avg/min/max): per-user φ-quantile with
    // percentile_cont's interpolation rule ...
    "ts72_quantile_by" -> { (s, dir) =>
      engine(s, dir)
        .query("quantile(0.9, purchase) by (user)", SubStart, SubEnd)
        .output.select(col("user"), round(col("value"), 6).as("value"))
        .orderBy(col("user").cast("long"))
    },

    // ... per-user population stddev ...
    "ts73_stddev_by" -> { (s, dir) =>
      engine(s, dir)
        .query("stddev(purchase) by (user)", SubStart, SubEnd)
        .output.select(col("user"), round(col("value"), 6).as("value"))
        .orderBy(col("user").cast("long"))
    },

    // ... and count_values: one row per distinct sample value (the
    // value-histogram primitive), the value rendered as a string group
    // column — both engines print doubles shortest-round-trip, so the
    // string keys agree byte-for-byte.
    "ts74_count_values" -> { (s, dir) =>
      engine(s, dir)
        .query("count_values(\"v\", purchase)", SubStart, SubEnd)
        .output.select(col("v"), col("value"))
        .orderBy(col("v"))
    },

    // set operators — `and` between plain vectors matches on the
    // TIMESTAMP (the engine's V2V convention). Raw event instants never
    // collide across types, so the gate intersects 12h WINDOW sums:
    // purchase windows kept only where a click window also exists.
    "ts75_set_and" -> { (s, dir) =>
      engine(s, dir)
        .query("sum_over_time(purchase[12h]) and sum_over_time(click[12h])",
          SubStart, SubEnd)
        .output.withColumn("value", round(col("value"), 6))
        .orderBy("timestamp", "value")
    },

    // grouped `or`: users with any >400 purchase keep their PARTIAL
    // (filtered) sums from the left side; everyone else falls through
    // to the right side's full sums — the alert-overlay shape.
    "ts76_set_or_grouped" -> { (s, dir) =>
      engine(s, dir)
        .query("sum by (user) (purchase > 400) or sum by (user) (purchase)",
          SubStart, SubEnd)
        .output.select(col("user"), round(col("value"), 6).as("value"))
        .orderBy(col("user").cast("long"))
    },

    // grouped `unless` with an explicit on-subset key: per-(cohort,
    // user) purchase sums for users NOT clicking more than 20 times —
    // the anti-join against a coarser condition.
    "ts77_set_unless_on" -> { (s, dir) =>
      engineCohort(s, dir)
        .query("sum by (cohort, user) (purchase) unless on (user) " +
          "(count by (user) (click) > 20)", SubStart, SubEnd)
        .output.select(col("cohort"), col("user"),
          round(col("value"), 6).as("value"))
        .orderBy(col("cohort"), col("user").cast("long"))
    },

    // histogram_quantile over the cumulative-bucket fixture: per-user
    // p90 estimate interpolated inside {100, 250, 400, +Inf} buckets
    // (Prometheus' published bucket rule; heavy users whose rank lands
    // in +Inf answer the highest finite bound).
    "ts78_histogram_quantile" -> { (s, dir) =>
      engineBuckets(s, dir)
        .query("histogram_quantile(0.9, sum by (user, le) (purchase_bucket))",
          SubStart, SubEnd)
        .output.select(col("user"), round(col("value"), 6).as("value"))
        .orderBy(col("user").cast("long"))
    },

    // predict_linear: deriv's least-squares line pushed 1h past each
    // window anchor — the disk-full alerting shape.
    "ts79_predict_linear" -> q("predict_linear(click[1d], 3600)",
      roundTo = 6) _,

    // mad_over_time: unscaled median absolute deviation per window —
    // the robust dispersion (median of |v - median|, interpolated
    // medians on both sides).
    "ts80_mad_over_time" -> q("mad_over_time(purchase[1d])", roundTo = 6) _,

    // label_replace + nested rollup: bucket users by their LAST digit
    // (regex capture on the user label), then re-aggregate onto the
    // derived label — the relabel-then-rollup shape.
    "ts81_label_replace" -> { (s, dir) =>
      engine(s, dir)
        .query("sum by (bucket) (label_replace(" +
          "sum by (user) (purchase), \"bucket\", \"b$1\", \"user\", \".*(.)\"))",
          SubStart, SubEnd)
        .output.select(col("bucket"), round(col("value"), 6).as("value"))
        .orderBy(col("bucket"))
    },

    // label_join: a composite cohort-user key column derived row-locally
    // on the grouped result.
    "ts82_label_join" -> { (s, dir) =>
      engineCohort(s, dir)
        .query("label_join(sum by (cohort, user) (purchase), " +
          "\"cu\", \"-\", \"cohort\", \"user\")", SubStart, SubEnd)
        .output.select(col("cohort"), col("user"), col("cu"),
          round(col("value"), 6).as("value"))
        .orderBy(col("cohort"), col("user").cast("long"))
    },

    // timestamp(): each sample's own epoch-second as the value.
    "ts83_timestamp" -> q("timestamp(purchase)", roundTo = 6) _,

    // absent(): the gap alarm — one row of 1.0 because no purchase
    // stream carries user 99999 (the left-anti probe short-circuits on
    // the first sample found, so presence costs one row's scan).
    "ts84_absent" -> q("absent(purchase{user=\"99999\"})") _,

    // Holt's double exponential smoothing folded over 2d windows of
    // the dedup'd purchase series (sf = 0.3, tf = 0.1).
    "ts85_double_exp_smoothing" -> q(
      "double_exponential_smoothing(purchase[2d], 0.3, 0.1)",
      roundTo = 6, dedup = true) _,

    // time-component family: UTC hour of each sample via the
    // hour(timestamp(m)) idiom (the oracle derives it with pure epoch
    // arithmetic, no calendar library in the loop).
    "ts86_hour" -> q("hour(timestamp(purchase))") _,

    // group_left(carry) — the metadata-join idiom: per-user purchase
    // sums annotated with the cohort label carried from the click
    // side's info metric (group() = 1, so `*` keeps the many value).
    // Per-key carry uniqueness is enforced on the executors.
    "ts87_group_left_carry" -> { (s, dir) =>
      engineCohort(s, dir)
        .query("sum by (user) (purchase) * on (user) group_left(cohort) " +
          "group by (user, cohort) (click)", SubStart, SubEnd)
        .output.select(col("user"), col("cohort"),
          round(col("value"), 6).as("value"))
        .orderBy(col("user").cast("long"))
    },

    // plain offset (no @): the PromQL time shift — yesterday's series
    // on today's clock (scan moves back 1d, timestamps move forward).
    "ts88_plain_offset" -> q("purchase offset 1d") _,

    // full matcher algebra — beyond the reference's equality-only index
    // (indexer.rs:73-91): anchored regex select, and negated matchers
    // composed on one label. Row-local predicates over the labels map;
    // the scan shape is ts01's.
    "ts89_regex_matcher" -> q("click{user=~\"1.\"}", AllStart, AllEnd) _,
    "ts90_neg_matchers" ->
      q("purchase{user!~\"1.*\", user!=\"25\"}", AllStart, AllEnd) _,

    // nameless selectors: the name constraint rides in as a __name__
    // matcher, resolved against the metadata-sized catalog into an
    // IN-list on the partition-keyed name column (cross-metric
    // selection without a per-row regex on the scan).
    "ts91_name_regex" -> q("sum({__name__=~\"click|view\"})", roundTo = 6) _,
    "ts92_name_negated" -> q("count({__name__!~\"c.*\"})") _,

    // `^` (Float64 pow) and the `bool` comparison modifier (1/0-valued,
    // keeps every element) — the last two PromQL binary-operator forms.
    "ts93_pow" -> q("avg(click ^ 2)", roundTo = 3) _,
    "ts94_bool_cmp" -> q("sum(purchase >= bool 150)", roundTo = 6) _,

    // the eval-time bridge trio: time() is the eval timestamp (= end in
    // the whole-range model), vector(s) lifts a scalar to one unlabeled
    // sample at it. scalar() is pinned by EngineSpec (its NaN arm isn't
    // SQL-portable).
    "ts95_time_fn" -> q("sum(purchase) + time()", roundTo = 3) _,
    "ts96_vector_fn" -> q("vector(time() * 2)", roundTo = 6) _,

    // subquery offset: the inner sliding evaluation runs a day back,
    // results report on the outer clock (yesterday's worst 12h-sampled
    // daily volume per 3-day window).
    "ts97_subquery_offset" ->
      q("max_over_time(sum_over_time(purchase[1d])[3d:12h] offset 1d)",
        roundTo = 6) _,

    // recording rule round trip: record materializes the daily sliding
    // sum INTO the store (distributed importFrame write), then the
    // derived stream is queried back like any other — the oracle
    // recomputes the sliding sum from the raw events.
    "ts98_recording_rule" -> { (s, dir) =>
      recordedDb(s, dir).query("purch_daily", AllStart, AllEnd)
        .output.select(col("timestamp"), round(col("value"), 6).as("value"))
        .orderBy("timestamp")
    },

    // INSTANT MATH inside a subquery — `sqrt(rate(...))` evaluates
    // slidingly every 12h (one raw scan; the sqrt is a row-local map
    // over the step-keyed derived frame), and the outer max tumbles
    // 3-day windows over it. Same no-amplification shape as ts56.
    "ts99_subquery_instant_inner" ->
      q("max_over_time(sqrt(rate(purchase[1d]))[3d:12h])", roundTo = 6,
        dedup = true) _,

    // SET OPERATOR inside a subquery — the alert-masking idiom "click
    // rate, but only at steps where the purchase rate exceeded the
    // threshold": both sides are step-keyed derived series on the same
    // 12h grid, so `and` is a semi-join on the step timestamp (each
    // selector scans once; the threshold splits purchase's steps near
    // the sf0.01 median, so both branches are exercised).
    "ts100_subquery_setop_inner" ->
      q("max_over_time((rate(click[1d]) and " +
        "(rate(purchase[1d]) > 0.027))[3d:12h])", roundTo = 6,
        dedup = true) _,

    // GROUPED SLIDING BINARY — the per-series ratio panel: each user's
    // click/purchase volume ratio at every 12h step, both sides 1-day
    // sliding sums. The grouped sliding evaluator joins the two
    // derived frames on (user, step) with null-safe keys; one scan per
    // selector (PlanAuditSpec pins it).
    // GROUPED RECORDING RULE — labels survive recording, as Prometheus
    // rules keep them: recordGrouped writes one purch_daily_u{user=…}
    // stream per user in ONE distributed append, and the read-back
    // rolls each user's recorded daily sums up. The oracle recomputes
    // both levels from raw events for the same three users.
    "ts103_record_grouped" -> { (s, dir) =>
      recordedGroupedDb(s, dir)
        .query("sum by (user) (purch_daily_u)", AllStart, AllEnd)
        .output.select(col("user"), round(col("value"), 6).as("value"))
        .orderBy(col("user").cast("long"))
    },

    // SLIDING SUBQUERY — query_range of `fn(expr[range:step])`: the
    // inner 1d-rate evaluates once on its 12h grid over the extended
    // window, and the outer max SLIDES a 3-day lookback at every daily
    // step (vs ts56's tumbling whole-range form). The dashboard "worst
    // rate in the trailing 3 days, daily" panel.
    // MATCHED grouped sliding composition — each user's SHARE of their
    // cohort's purchase volume at every 12h step: `by (cohort, user)
    // / on (cohort) group_left by (cohort)`, the whole-range ts68
    // shape with the step dimension added. Both sides are group×step
    // derived frames; the cohort side broadcasts.
    "ts106_sliding_matched" -> { (s, dir) =>
      engineCohort(s, dir).queryRange(graft.tsdb.PromParser.parse(
        "sum by (cohort, user) (sum_over_time(purchase[1d])) / on (cohort) " +
          "group_left sum by (cohort) (sum_over_time(purchase[1d]))"),
        SubStart, SubEnd, 12 * 3600 * 1000L).output
        .select(col("cohort"), col("user"), col("timestamp"),
          round(col("value"), 9).as("value"))
        .orderBy(col("cohort"), col("user").cast("long"), col("timestamp"))
    },

    "ts104_sliding_subquery" -> { (s, dir) =>
      engineDedup(s, dir)
        .queryRange("max_over_time(rate(purchase[1d])[3d:12h])",
          SubStart, SubEnd, 86400000L)
        .output.select(col("timestamp"), round(col("value"), 6).as("value"))
        .orderBy("timestamp")
    },

    // ... and its per-user grouped twin through the grouped sliding
    // evaluator's subquery arm (one raw scan, per-(user, step) inner).
    "ts105_sliding_subquery_by" -> { (s, dir) =>
      engine(s, dir)
        .queryRange("max_over_time(sum by (user) (rate(purchase[1d]))[3d:12h])",
          SubStart, SubEnd, 86400000L).output
        .select(col("user"), col("timestamp"),
          round(col("value"), 6).as("value"))
        .orderBy(col("user").cast("long"), col("timestamp"))
    },

    // AGGREGATE INNER in a subquery (round 13) — `sum(m)` as the inner
    // of max_over_time: the aggregation maps to its _over_time twin
    // over a substep-sized window (sum of the pooled purchase samples
    // per 12h substep), and the outer max tumbles 3-day windows over
    // the derived series. One raw scan (PlanAuditSpec pins it); the
    // most-typed Prometheus rule shape, previously rejected.
    "ts107_subquery_agg_inner" ->
      q("max_over_time(sum(purchase)[3d:12h])", roundTo = 6) _,

    // ... its GROUPED SLIDING twin: per-user 12h purchase sums under a
    // 3-day sliding max at every daily step — the grouped Aggregate
    // arm of the sliding evaluator, grouping carried by the aggregate
    // node itself.
    "ts108_subquery_agg_inner_by" -> { (s, dir) =>
      engine(s, dir)
        .queryRange("max_over_time(sum by (user) (purchase)[3d:12h])",
          SubStart, SubEnd, 86400000L).output
        .select(col("user"), col("timestamp"),
          round(col("value"), 6).as("value"))
        .orderBy(col("user").cast("long"), col("timestamp"))
    },

    // WITHOUT matched composition (round 13), whole-range: each
    // (cohort, tier) canonical group's share of its cohort's purchase
    // volume. `sum without (user)` keeps the canonical label STRING as
    // the group identity; `ignoring (tier)` derives the {cohort} key
    // from the `by` side, and the engine re-opens cohort's value from
    // the canonical string for the join (previously rejected).
    "ts110_matched_without" -> { (s, dir) =>
      engineTier(s, dir)
        .query("sum without (user) (purchase) / ignoring (tier) " +
          "group_left sum by (cohort) (purchase)", SubStart, SubEnd)
        .output.select(col("labels"), round(col("value"), 9).as("value"))
        .orderBy("labels")
    },

    // ... and its SLIDING twin through queryRange: the same
    // share-of-cohort ratio at every 12h step over 1-day windows, the
    // `without` side riding the canonical column with `on (cohort)`
    // re-opened per row.
    "ts111_sliding_matched_without" -> { (s, dir) =>
      engineTier(s, dir).queryRange(graft.tsdb.PromParser.parse(
        "sum without (user) (sum_over_time(purchase[1d])) / on (cohort) " +
          "group_left sum by (cohort) (sum_over_time(purchase[1d]))"),
        SubStart, SubEnd, 12 * 3600 * 1000L).output
        .select(col("labels"), col("timestamp"),
          round(col("value"), 9).as("value"))
        .orderBy(col("labels"), col("timestamp"))
    },

    // SAMPLING aggregators (round 13 — Prometheus limitk/limit_ratio,
    // the engine's deterministic exact-count md5-order rule): the
    // DuckDB oracle reproduces the exact pick because md5 of the same
    // text ranks identically in both engines. limitk keeps the 5
    // md5-first users; limit_ratio(-0.4) keeps everything AFTER the
    // first round(0.6·n) — the exact complement of limit_ratio(0.6)
    // even when r·n lands on a .5 boundary (advice r13).
    "ts114_limitk" -> { (s, dir) =>
      engine(s, dir)
        .query("limitk(5, sum by (user) (purchase))", SubStart, SubEnd)
        .output.select(col("user"), round(col("value"), 6).as("value"))
        .orderBy(col("user").cast("long"))
    },

    "ts115_limit_ratio" -> { (s, dir) =>
      engine(s, dir)
        .query("limit_ratio(-0.4, sum by (user) (purchase))",
          SubStart, SubEnd)
        .output.select(col("user"), round(col("value"), 6).as("value"))
        .orderBy(col("user").cast("long"))
    },

    // topk OVER TIME (round 13): the "top 3 users per step" panel —
    // per-user 1-day sliding purchase sums at 12h steps, ranked PER
    // STEP (ties to the group key ascending, the grouped whole-range
    // rule; ranks over the group×step frame, never a global sort).
    "ts113_sliding_topk" -> { (s, dir) =>
      engine(s, dir).queryRange(graft.tsdb.PromParser.parse(
        "topk(3, sum by (user) (sum_over_time(purchase[1d])))"),
        SubStart, SubEnd, 12 * 3600 * 1000L).output
        .select(col("user"), col("timestamp"),
          round(col("value"), 6).as("value"))
        .orderBy(col("user").cast("long"), col("timestamp"))
    },

    // SAMPLING over time (round 14): limitk/limit_ratio's query_range
    // twins — the md5-order pick applied PER STEP over the grouped
    // sliding matrix, so each evaluation samples among the series
    // present at that step (n varies where a user has no purchases in
    // the window). The HTTP bridge's ranged dispatch serves exactly
    // these frames.
    "ts116_sliding_limitk" -> { (s, dir) =>
      engine(s, dir).queryRange(graft.tsdb.PromParser.parse(
        "limitk(3, sum by (user) (sum_over_time(purchase[1d])))"),
        SubStart, SubEnd, 12 * 3600 * 1000L).output
        .select(col("user"), col("timestamp"),
          round(col("value"), 6).as("value"))
        .orderBy(col("user").cast("long"), col("timestamp"))
    },

    "ts117_sliding_limit_ratio" -> { (s, dir) =>
      engine(s, dir).queryRange(graft.tsdb.PromParser.parse(
        "limit_ratio(-0.5, sum by (user) (sum_over_time(purchase[1d])))"),
        SubStart, SubEnd, 12 * 3600 * 1000L).output
        .select(col("user"), col("timestamp"),
          round(col("value"), 6).as("value"))
        .orderBy(col("user").cast("long"), col("timestamp"))
    },

    // Ranged sampling over a GROUPED BINARY child (round 15):
    // `limitk(2, sum by (user) (click ratio))` — the sampled
    // error-ratio dashboard panel. The inner is ts101's grouped
    // sliding ratio; the md5 pick applies per step over the joined
    // (user, step) matrix, so n varies where a user lacks either
    // series in a window. Same one-scan-per-selector bound as ts101.
    "ts122_ranged_limitk_binary" -> { (s, dir) =>
      engine(s, dir).queryRange(graft.tsdb.PromParser.parse(
        "limitk(2, sum by (user) (sum_over_time(click[1d])) / " +
          "sum by (user) (sum_over_time(purchase[1d])))"),
        SubStart, SubEnd, 12 * 3600 * 1000L).output
        .select(col("user"), col("timestamp"),
          round(col("value"), 9).as("value"))
        .orderBy(col("user").cast("long"), col("timestamp"))
    },

    // `without` INNER grouping under a subquery (round 15): the last
    // expression-shape rejection closed — `sum without ()` evaluates
    // per its canonical {cohort, user} identity, the evaluation key
    // (cohort) re-opens from the canonical string per group, and the
    // outer fold pools the user sub-series per cohort: exactly ts120's
    // semantics (same oracle) reached through the canonical path.
    "ts124_subquery_without_inner" -> { (s, dir) =>
      engineCohort(s, dir)
        .queryRange("sum by (cohort) " +
          "(max_over_time(sum without () (purchase)[3d:12h]))",
          SubStart, SubEnd, 86400000L).output
        .select(col("cohort"), col("timestamp"),
          round(col("value"), 6).as("value"))
        .orderBy(col("cohort"), col("timestamp"))
    },

    // Ranged sampling over a MATCHED child (round 15): limitk(2, ...)
    // over ts106's share-of-cohort matrix — the series key (and so the
    // md5 sampling text) is the many side's groups (cohort, user), so
    // the pick is deterministic and oracle-checkable per step.
    "ts123_ranged_limitk_matched" -> { (s, dir) =>
      engineCohort(s, dir).queryRange(graft.tsdb.PromParser.parse(
        "limitk(2, sum by (cohort, user) (sum_over_time(purchase[1d])) / " +
          "on (cohort) group_left sum by (cohort) " +
          "(sum_over_time(purchase[1d])))"),
        SubStart, SubEnd, 12 * 3600 * 1000L).output
        .select(col("cohort"), col("user"), col("timestamp"),
          round(col("value"), 9).as("value"))
        .orderBy(col("cohort"), col("user").cast("long"), col("timestamp"))
    },

    // CARRY from a without-grouped 'one' side (round 14): group_left
    // (band) re-opens band's VALUE from the canonical labels string
    // inside the uniqueness fold — previously an honest rejection.
    // band = f(cohort) in the fixture, so the canonical {cohort, band}
    // groups are unique per match key and the metadata-join carries.
    "ts121_carry_from_without" -> { (s, dir) =>
      engineBand(s, dir)
        .query("sum by (user, cohort) (purchase) / on (cohort) " +
          "group_left(band) sum without (user) (purchase)",
          SubStart, SubEnd)
        .output.select(col("user"), col("cohort"), col("band"),
          round(col("value"), 9).as("value"))
        .orderBy(col("user").cast("long"))
    },

    // FINER inner grouping under a subquery (round 14): the inner
    // `sum by (cohort, user)` evaluates per ITS key on the 12h grid
    // (first keyed group-by), the user column drops, and max_over_time
    // per (cohort, 3d window) pools the user sub-series (second keyed
    // group-by) — "each cohort's single best per-user 12h purchase
    // total over the trailing 3 days". Previously an honest rejection.
    "ts120_subquery_finer_by" -> { (s, dir) =>
      engineCohort(s, dir)
        .queryRange("sum by (cohort) " +
          "(max_over_time(sum by (cohort, user) (purchase)[3d:12h]))",
          SubStart, SubEnd, 86400000L).output
        .select(col("cohort"), col("timestamp"),
          round(col("value"), 6).as("value"))
        .orderBy(col("cohort"), col("timestamp"))
    },

    // count_values over DERIVED series (round 14): the ranged arm now
    // takes any sliding-evaluable inner. ts118 buckets the POOLED
    // extrapolation-free rate (one series per step — the count is the
    // occupancy of each rounded-rate bucket across the range); round()
    // makes the value label an exact integer string both engines
    // render identically. ts119 is the GROUPED form: per-step per-user
    // 12h event counts, count_values over the user series at each step
    // — "how many users produced exactly N purchases in the last 12h",
    // the cohort-histogram panel.
    "ts118_count_values_rate" -> { (s, dir) =>
      engineDedup(s, dir).queryRange(graft.tsdb.PromParser.parse(
        """count_values("v", round(rate(purchase[1d]) * 1000))"""),
        SubStart, SubEnd, 6 * 3600 * 1000L).output
        .orderBy(col("v"), col("timestamp"))
    },

    "ts119_count_values_grouped" -> { (s, dir) =>
      engine(s, dir).queryRange(graft.tsdb.PromParser.parse(
        """count_values("v", """ +
          "round(sum by (user) (count_over_time(purchase[12h]))))"),
        SubStart, SubEnd, 12 * 3600 * 1000L).output
        .orderBy(col("v"), col("timestamp"))
    },

    // count_values' query_range twin (round 13): per-12h-step counts
    // of each distinct purchase value — ONE scan, each sample lands in
    // its unique step tile; the value label renders through the same
    // cast as the whole-range count_values arm (ts71's family), so the
    // two surfaces agree on label text. The HTTP bridge serves exactly
    // this frame.
    "ts112_count_values_range" -> { (s, dir) =>
      engine(s, dir).queryRange(
        graft.tsdb.PromParser.parse("""count_values("v", purchase)"""),
        SubStart, SubEnd, 12 * 3600 * 1000L).output
        .orderBy(col("v"), col("timestamp"))
    },

    // AGGREGATE over an ALREADY-WINDOWED inner — the verdict-r12
    // staple `max_over_time(sum(rate(m[1d]))[3d:12h])`: sum over the
    // one pooled rate series is the identity (the pooled-series
    // one-element-set answer), so the result equals ts56's — but the
    // evaluation path exercises the Aggregate admission + pooled
    // post-map, which used to reject.
    "ts109_subquery_agg_pooled" ->
      q("max_over_time(sum(rate(purchase[1d]))[3d:12h])", roundTo = 6,
        dedup = true) _,

    "ts101_grouped_sliding_binary" -> { (s, dir) =>
      engine(s, dir)
        .queryRange("sum by (user) " +
          "(sum_over_time(click[1d]) / sum_over_time(purchase[1d]))",
          SubStart, SubEnd, 12 * 3600 * 1000L).output
        .select(col("user"), col("timestamp"),
          round(col("value"), 9).as("value"))
        .orderBy(col("user").cast("long"), col("timestamp"))
    },

    // GROUPED SLIDING SET OP — the masking idiom per series: each
    // user's click volume, except at steps where that user's purchase
    // volume ran hot (>40, the sf0.01 median — both branches bite).
    // anti-join on the (user, step) key.
    "ts102_grouped_sliding_setop" -> { (s, dir) =>
      engine(s, dir)
        .queryRange("sum by (user) (sum_over_time(click[1d]) unless " +
            "(sum_over_time(purchase[1d]) > 40))",
          SubStart, SubEnd, 12 * 3600 * 1000L).output
        .select(col("user"), col("timestamp"),
          round(col("value"), 6).as("value"))
        .orderBy(col("user").cast("long"), col("timestamp"))
    },

    "ts01_select_range" -> q("purchase") _,
    "ts02_select_label" -> q("click{user=\"12\"}", AllStart, AllEnd) _,
    "ts03_cmp_filter" -> q("purchase > 150") _,
    "ts04_arith" -> q("click * 2 + 1", roundTo = 6) _,
    "ts05_sum" -> q("sum(purchase)", roundTo = 6) _,
    "ts06_count" -> q("count(purchase)") _,
    // round 3, not 6: avg = (2-decimal sum) / n terminates, and with a
    // 2^a*5^b row count it can land EXACTLY on a fine rounding boundary
    // where engines disagree on ROUND(double) — the ts20 failure class.
    // A coarser cut keeps the semantic check with ~1000x less
    // boundary-alignment risk (an exact hit would need digits 4-7 to be
    // 5000).
    "ts07_avg" -> q("avg(purchase)", roundTo = 3) _,
    "ts08_min" -> q("min(purchase)") _,
    "ts09_max" -> q("max(purchase)") _,
    "ts10_sum_empty" -> q("sum(purchase > 100000)") _,
    "ts11_count_empty" -> q("count(purchase > 100000)") _,
    "ts12_topk" -> q("topk(100, click)") _,
    "ts13_bottomk" -> q("bottomk(100, click)") _,
    "ts14_div_scalar_sub" -> q("purchase / sum(purchase)", roundTo = 9) _,
    "ts15_s2s" -> q("sum(purchase) / count(purchase)", roundTo = 6) _,
    "ts16_at_offset" -> q("sum(purchase @ 1704499200 offset 30m)", roundTo = 6) _,
    "ts17_align_interp" -> q("click + view", roundTo = 6, dedup = true) _,
    // nested V2V: the planner recurses binary-op trees, so (click+view)
    // aligns first and its union-timestamp result aligns again with
    // purchase — two interpolation passes through the bucketed path
    "ts25_chain_align" -> q("click + view + purchase", roundTo = 6, dedup = true) _,
    // scalar ON THE LEFT of a non-commutative op: the dispatch swaps
    // operands (binary_op.rs:99-105) but must keep scalar-minus-vector
    "ts26_scalar_left" -> q("1000 - purchase", roundTo = 6) _,
    // % is f64 fmod even on integer streams (lib.rs:306-362)
    "ts27_mod" -> q("purchase % 7", roundTo = 6) _,

    // dense-grid gap filling after exact downsampling: every hourly
    // bucket in the series range, missing ones forward-filled and
    // marked; carried values are integer micros so the fill is exact
    "ts28_gapfill" -> { (s, dir) =>
      val hour = 3600 * 1000L
      val d = graft.operators.Downsample(
          eventsLong(s, dir).where(col("name") === "purchase"), hour,
          exact = true)
        .select(col("name"), col("bucket"),
          round(col("sum_value") * 1e6).cast("long").as("value"))
      graft.operators.GapFill.forwardFill(d, hour)
        .select(col("name"), col("bucket"),
          col("value").as("sum_micros"), col("filled"))
        .orderBy("bucket")
    },

    // As-of join with a staleness bound (pandas merge_asof tolerance):
    // matches older than 1h are rejected. The bound rides the same
    // union+window pass as ts19 — the matched right timestamp is
    // carried beside its value, no extra shuffle or join.
    "ts31_asof_tolerance" -> { (s, dir) =>
      val raw = table(s, dir, "events")
      val ev = raw
        .select(col("user_id"), graft.engine.Graft.tsMillis(raw).as("t"),
          col("value"), col("event_type"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("t"), col("value"))
      val clicks = ev.where(col("event_type") === "click")
        .groupBy("user_id", "t").agg(avg("value").as("click_value"))
      graft.operators.AsOfJoin
        .backward(purchases, clicks, "user_id", "t", "click_value",
          toleranceMs = 3600 * 1000L)
        .select(col("user_id"), col("t").as("timestamp"), col("value"),
          col("asof_click_value").as("recent_click"))
        .orderBy("user_id", "timestamp")
    },

    // Linear-interpolation gap filling over the same dense grid as
    // ts28: synthesized buckets take the line between their nearest
    // present neighbors (no extrapolation past the edges). Inputs are
    // the exact integer micros of ts28, so only the interpolation
    // itself is floating — and its operation order is mirrored
    // verbatim in the oracle.
    "ts30_gapfill_linear" -> { (s, dir) =>
      val hour = 3600 * 1000L
      val d = graft.operators.Downsample(
          eventsLong(s, dir).where(col("name") === "purchase"), hour,
          exact = true)
        .select(col("name"), col("bucket"),
          round(col("sum_value") * 1e6).cast("long").as("value"))
      graft.operators.GapFill.linearFill(d, hour)
        .select(col("name"), col("bucket"),
          round(col("value"), 6).as("sum_micros"), col("filled"))
        .orderBy("bucket")
    },

    // Interval join through the bucket-grid equi-join (RangeJoin): each
    // event matched to the deterministic 90-minute campaign windows that
    // contain it, aggregated per window. The oracle is the semantic spec
    // (a bare inequality join) that Spark could only nested-loop;
    // sums are decimal-accumulated integer micros (ts20 conventions).
    "ts29_range_join" -> { (s, dir) =>
      val step = 25 * 3600 * 1000L
      val ivLen = 90 * 60 * 1000L
      val names = eventsLong(s, dir).select("name").distinct()
      val intervals = names
        .select(col("name"), explode(sequence(lit(0), lit(9))).as("interval_id"))
        .select(col("name"), col("interval_id"),
          (lit(SubStart) + col("interval_id") * step).as("start_ms"),
          (lit(SubStart) + col("interval_id") * step + ivLen).as("end_ms"))
      val pts = eventsLong(s, dir).select(col("name"), col("timestamp"), col("value"))
      graft.operators.RangeJoin.byBucket(pts, intervals,
          "name", "timestamp", "start_ms", "end_ms", bucketMs = 3600 * 1000L)
        .groupBy("name", "interval_id", "start_ms")
        .agg(count(lit(1)).as("n_events"),
          // round() before the long cast (ts20/ts28 convention): a bare
          // decimal->long cast truncates in Spark but rounds in DuckDB
          round(sum(col("value").cast("decimal(28,8)")) * 1000000)
            .cast("long").as("sum_micros"))
        .orderBy("name", "interval_id")
    },

    // Aggregate-from-statistics (tachyon ScanHint, SURVEY §4 #1): covered
    // buckets answer from the stats table, boundary buckets from rows.
    // The oracle recomputes the same aggregates directly from raw rows —
    // equality proves the covered/boundary decomposition.
    "ts18_stats_agg" -> { (s, dir) =>
      val data = eventsLong(s, dir)
      val bucketMs = 3600 * 1000L
      val stats = graft.tsdb.StatsAggregate.buildStats(data, bucketMs)
      // deliberately bucket-unaligned bounds: both boundary paths run
      graft.tsdb.StatsAggregate
        .aggregate(data, stats, "purchase", SubStart + 1800000L, SubEnd - 1800001L, bucketMs)
        .select(col("n"), round(col("value_sum"), 6).as("value_sum"),
          col("min_value"), col("max_value"),
          round(col("avg_value"), 6).as("avg_value"))
    },

    // As-of join: each purchase paired with the user's most recent click
    // at or before it (union + ordered window, not a range join).
    "ts19_asof_join" -> { (s, dir) =>
      val raw = table(s, dir, "events")
      val ev = raw
        .select(col("user_id"), graft.engine.Graft.tsMillis(raw).as("t"),
          col("value"), col("event_type"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("t"), col("value"))
      val clicks = ev.where(col("event_type") === "click")
        .groupBy("user_id", "t").agg(avg("value").as("click_value"))
      graft.operators.AsOfJoin
        .backward(purchases, clicks, "user_id", "t", "click_value")
        .select(col("user_id"), col("t").as("timestamp"), col("value"),
          col("asof_click_value").as("last_click"))
        .orderBy("user_id", "timestamp")
    },

    // Time-bucket downsampling to 6h resolution.
    // exact = true: decimal accumulation keeps sum/avg independent of
    // partition/reduction order (f64 summation flipped the 6-decimal
    // rounding vs the sequential oracle at sf0.1) — and the COMPARED
    // columns are integer micro-units with half-up integer division,
    // because engines disagree on ROUND(double) at exact .5 boundaries
    // (9026.13/160 = 56.4133125: Spark rounds the binary-exact value
    // down, DuckDB rounds its scaled double up).
    "ts20_downsample" -> { (s, dir) =>
      graft.operators.Downsample(
        eventsLong(s, dir).where(col("name") === "view"), 6 * 3600 * 1000L,
        exact = true)
        .select(col("name"), col("bucket"), col("n"),
          expr("(2 * cast(round(sum_value * 1e6) as bigint) + n) div (2 * n)")
            .as("avg_micros"),
          col("min_value"), col("max_value"),
          round(col("sum_value") * 1e6).cast("long").as("sum_micros"))
        .orderBy("bucket")
    },

    // Grouped aggregate extension: sum of clicks by user label.
    "ts21_agg_by" -> { (s, dir) =>
      engine(s, dir)
        .query("sum by (user) (click)", SubStart, SubEnd).output
        .select(col("user").as("group"), round(col("value"), 6).as("value"))
        .orderBy(col("group").cast("long"))
    },

    // Per-bucket counter rate/delta (beyond-parity: reference rejects
    // rate(); min_by/max_by endpoints, no window).
    "ts22_rate" -> { (s, dir) =>
      graft.operators.Rate(
        eventsLong(s, dir).where(col("name") === "purchase"), 6 * 3600 * 1000L)
        .select(col("name"), col("bucket"),
          round(col("delta"), 6).as("delta"),
          round(col("rate_per_sec"), 9).as("rate_per_sec"))
        .orderBy("bucket")
    },

    // Funnel: users with a signup whose first purchase follows it.
    "ts23_funnel" -> { (s, dir) =>
      val raw = table(s, dir, "events")
      val ev = raw
        .select(col("user_id"), graft.engine.Graft.tsMillis(raw).as("t"),
          col("event_type"))
      val signups = ev.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min("t").as("s"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("t").as("pt"))
      val converted = signups
        .join(purchases, col("user_id") === col("pu") && col("pt") > col("s"), "left_semi")
      val nSignup = signups.agg(count(lit(1)).as("n_signup"))
      val nConv = converted.agg(count(lit(1)).as("n_converted"))
      nSignup.crossJoin(nConv)
        .select(col("n_signup"), col("n_converted"),
          round(col("n_converted").cast("double") / col("n_signup"), 6).as("conversion"))
    },

    // The 100 TB align path: bucket-partitioned interpolation windows
    // with boundary-carry summaries. Checked against the SAME oracle as
    // ts17 — the two implementations must agree with DuckDB's window SQL.
    "ts24_align_bucketed" -> { (s, dir) =>
      def series(name: String) = eventsLong(s, dir)
        .where(col("name") === name &&
          col("timestamp") >= SubStart && col("timestamp") <= SubEnd)
        .groupBy("timestamp").agg(avg("value").as("value"))
      val aligned = graft.tsdb.Align.interpolatedBucketed(
        series("click"), series("view"), roundInterpolated = false,
        bucketMs = 6 * 3600 * 1000L)
      aligned.select(col("timestamp"),
        round(col("lv") + col("rv"), 6).as("value"))
        .orderBy("timestamp")
    }
  )

  /** One sliding-rate CTE chain for the oracle side (ts52's pattern,
    * parameterized): dedup'd series `<p>_d` (scan extended one 1d window
    * behind SubStart), per-eval-time windows from the shared grid `g`,
    * lag pass, reset-corrected increase, and the rate series `<p>_r`
    * (ws, v) — composable for binary forms.
    */
  private def slidingRateCtes(evType: String, p: String): String =
    s"""${p}_d AS (SELECT t, AVG(v) AS v FROM ${ev(s"event_type = '$evType'")}
       |      WHERE t > ${SubStart - 86400000L} AND t <= $SubEnd GROUP BY t),
       |${p}_w AS (SELECT g.et AS ws, d.t, d.v FROM g
       |      JOIN ${p}_d d ON d.t > g.et - 86400000 AND d.t <= g.et),
       |${p}_l AS (SELECT ws, t, v,
       |        lag(v) OVER (PARTITION BY ws ORDER BY t, v) AS pv FROM ${p}_w),
       |${p}_a AS (SELECT ws,
       |        SUM(CASE WHEN pv IS NULL THEN 0
       |                 WHEN v >= pv THEN v - pv ELSE v END) AS inc,
       |        MIN(t) AS t0, MAX(t) AS t1, COUNT(*) AS n
       |      FROM ${p}_l GROUP BY ws),
       |${p}_r AS (SELECT ws, inc / ((t1 - t0) / 1000.0) AS v
       |      FROM ${p}_a WHERE n >= 2 AND t1 > t0)""".stripMargin

  val oracle: Map[String, String] = Map(
    // histogram_quantile: cumulative bucket counts per (user, le) from
    // the same exploded fixture, then Prometheus' interpolation rule —
    // the FIRST bucket whose count reaches rank = 0.9·total, linear in
    // [prev_le, le]; an +Inf candidate answers the highest finite
    // bound. Expression shapes mirror the engine exactly so the FP
    // rounds identically at 6 decimals.
    "ts78_histogram_quantile" ->
      s"""WITH obs AS (SELECT CAST(user_id AS VARCHAR) AS u, value AS v,
         |        epoch_ns(ts)//1000000 AS t
         |      FROM events WHERE event_type = 'purchase'),
         |w AS (SELECT u, v FROM obs WHERE ${sub()}),
         |b(le) AS (VALUES (100.0), (250.0), (400.0), ('inf'::DOUBLE)),
         |c AS (SELECT u, le,
         |        CAST(COUNT(*) FILTER (WHERE v <= le) AS DOUBLE) AS cnt
         |      FROM w CROSS JOIN b GROUP BY u, le),
         |x AS (SELECT u, le, cnt,
         |        LAG(le) OVER win AS ple, LAG(cnt) OVER win AS pcnt,
         |        MAX(cnt) OVER (PARTITION BY u) AS total,
         |        MAX(CASE WHEN isfinite(le) THEN le END)
         |          OVER (PARTITION BY u) AS maxfin
         |      FROM c WINDOW win AS (PARTITION BY u ORDER BY le))
         |SELECT u AS "user",
         |  ROUND(CASE WHEN NOT isfinite(le) THEN maxfin
         |             WHEN ple IS NULL AND le <= 0 THEN le
         |             ELSE COALESCE(ple, 0) + (le - COALESCE(ple, 0)) *
         |                  ((0.9 * total - COALESCE(pcnt, 0)) /
         |                   (cnt - COALESCE(pcnt, 0))) END, 6) AS value
         |FROM x
         |WHERE total > 0 AND cnt >= 0.9 * total
         |  AND COALESCE(pcnt < 0.9 * total, TRUE)
         |ORDER BY CAST(u AS BIGINT)""".stripMargin,

    "ts79_predict_linear" ->
      s"""WITH w AS (SELECT t - ((t - $SubStart) % 86400000) AS ws, t, v
         |           FROM ${ev("event_type = 'click'")} WHERE ${sub()})
         |SELECT ws AS timestamp,
         |  ROUND(regr_intercept(v, (t - ws) / 1000.0) +
         |        regr_slope(v, (t - ws) / 1000.0) * 3600, 6) AS value
         |FROM w GROUP BY ws
         |HAVING regr_slope(v, (t - ws) / 1000.0) IS NOT NULL
         |ORDER BY timestamp""".stripMargin,

    "ts80_mad_over_time" ->
      s"""WITH w AS (SELECT t - ((t - $SubStart) % 86400000) AS ws, t, v
         |           FROM ${ev("event_type = 'purchase'")} WHERE ${sub()}),
         |m AS (SELECT ws, quantile_cont(v, 0.5) AS med FROM w GROUP BY ws)
         |SELECT w.ws AS timestamp,
         |  ROUND(quantile_cont(ABS(w.v - m.med), 0.5), 6) AS value
         |FROM w JOIN m ON w.ws = m.ws GROUP BY w.ws
         |ORDER BY timestamp""".stripMargin,

    // label_replace then rollup: inner per-user sums regrouped onto the
    // derived last-digit bucket (two-level GROUP BY so the FP addition
    // order matches the engine's nested evaluation).
    "ts81_label_replace" ->
      s"""WITH d AS (SELECT CAST(user_id AS VARCHAR) AS u,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'),
         |inner_sums AS (SELECT u, SUM(v) AS v FROM d
         |      WHERE ${sub()} GROUP BY u)
         |SELECT 'b' || right(u, 1) AS bucket, ROUND(SUM(v), 6) AS value
         |FROM inner_sums GROUP BY 1 ORDER BY bucket""".stripMargin,

    "ts82_label_join" ->
      s"""SELECT CAST(user_id % 3 AS VARCHAR) AS cohort,
         |  CAST(user_id AS VARCHAR) AS "user",
         |  CAST(user_id % 3 AS VARCHAR) || '-' || CAST(user_id AS VARCHAR)
         |    AS cu,
         |  ROUND(SUM(value), 6) AS value
         |FROM (SELECT user_id, epoch_ns(ts)//1000000 AS t, value
         |      FROM events WHERE event_type = 'purchase')
         |WHERE ${sub()} GROUP BY user_id
         |ORDER BY cohort, CAST(user_id AS BIGINT)""".stripMargin,

    "ts83_timestamp" ->
      s"""SELECT t AS timestamp, ROUND(t / 1000.0, 6) AS value
         |FROM ${ev("event_type = 'purchase'")}
         |WHERE ${sub()} ORDER BY timestamp""".stripMargin,

    "ts86_hour" ->
      s"""SELECT t AS timestamp,
         |  CAST((CAST(trunc(t / 1000.0) AS BIGINT) % 86400) // 3600
         |       AS DOUBLE) AS value
         |FROM ${ev("event_type = 'purchase'")}
         |WHERE ${sub()} ORDER BY timestamp""".stripMargin,

    "ts88_plain_offset" ->
      s"""SELECT t + 86400000 AS timestamp, v AS value
         |FROM ${ev("event_type = 'purchase'")}
         |WHERE t >= ${SubStart - 86400000L} AND t <= ${SubEnd - 86400000L}
         |ORDER BY timestamp""".stripMargin,

    "ts87_group_left_carry" ->
      s"""WITH p AS (SELECT user_id, SUM(value) AS v
         |      FROM (SELECT user_id, epoch_ns(ts)//1000000 AS t, value
         |            FROM events WHERE event_type = 'purchase')
         |      WHERE ${sub()} GROUP BY user_id),
         |c AS (SELECT DISTINCT user_id
         |      FROM (SELECT user_id, epoch_ns(ts)//1000000 AS t
         |            FROM events WHERE event_type = 'click')
         |      WHERE ${sub()})
         |SELECT CAST(p.user_id AS VARCHAR) AS "user",
         |  CAST(p.user_id % 3 AS VARCHAR) AS cohort,
         |  ROUND(p.v * 1.0, 6) AS value
         |FROM p JOIN c ON p.user_id = c.user_id
         |ORDER BY p.user_id""".stripMargin,

    "ts84_absent" ->
      s"""SELECT CAST(1.0 AS DOUBLE) AS value
         |WHERE NOT EXISTS (SELECT 1 FROM events
         |  WHERE event_type = 'purchase' AND user_id = 99999
         |    AND ${sub("epoch_ns(ts)//1000000")})""".stripMargin,

    // the same Holt recurrence as a recursive CTE over each window's
    // ordered sample array (a list_reduce fold is NOT usable here:
    // DuckDB 1.0 updates struct-accumulator fields sequentially, so a
    // second field reading acc.s sees the NEW s — verified directly).
    // Expression shapes mirror the engine's `aggregate` lambda for FP
    // identity at 6 decimals: state row i has processed vs[1..i-1].
    "ts85_double_exp_smoothing" ->
      s"""WITH RECURSIVE d AS (SELECT t, AVG(v) AS v
         |           FROM ${ev("event_type = 'purchase'")}
         |           WHERE ${sub()} GROUP BY t),
         |w AS (SELECT t - ((t - $SubStart) % 172800000) AS ws, t, v FROM d),
         |a AS (SELECT ws, list(v ORDER BY t) AS vs FROM w
         |      GROUP BY ws HAVING COUNT(*) >= 2),
         |r AS (
         |  SELECT ws, vs, 2 AS i, CAST(vs[1] AS DOUBLE) AS s,
         |         CAST(vs[2] - vs[1] AS DOUBLE) AS b
         |  FROM a
         |  UNION ALL
         |  SELECT ws, vs, i + 1,
         |    0.3 * vs[i] + (1.0 - 0.3) * (s + b),
         |    0.1 * ((0.3 * vs[i] + (1.0 - 0.3) * (s + b)) - s)
         |      + (1.0 - 0.1) * b
         |  FROM r WHERE i <= len(vs))
         |SELECT ws AS timestamp, ROUND(s, 6) AS value
         |FROM r WHERE i = len(vs) + 1 ORDER BY timestamp""".stripMargin,

    "ts32_dsv2_scan" ->
      s"""SELECT t - t % 86400000 AS day, ROUND(SUM(v), 6) AS sum_value,
         |COUNT(*) AS n FROM ${ev("event_type = 'purchase'")}
         |WHERE ${sub()} GROUP BY 1 ORDER BY day""".stripMargin,

    "ts33_dsv2_stats_agg" ->
      s"""SELECT event_type AS name, COUNT(*) AS n,
         |ROUND(SUM(v), 4) AS sum_value, ROUND(MIN(v), 6) AS min_value,
         |ROUND(MAX(v), 6) AS max_value, MIN(t) AS first_ts
         |FROM (SELECT event_type, epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events)
         |WHERE t >= $SubStart AND t < $SubEnd GROUP BY 1 ORDER BY name""".stripMargin,

    "ts34_dsv2_stats_unaligned" ->
      s"""SELECT event_type AS name, COUNT(*) AS n,
         |ROUND(SUM(v), 4) AS sum_value, ROUND(MIN(v), 6) AS min_value,
         |ROUND(MAX(v), 6) AS max_value, MIN(t) AS first_ts, MAX(t) AS last_ts
         |FROM (SELECT event_type, epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events)
         |WHERE t >= ${SubStart + 1800000L} AND t <= ${SubEnd - 1800001L}
         |GROUP BY 1 ORDER BY name""".stripMargin,

    "ts35_dsv2_label_prune" ->
      s"""SELECT t AS timestamp, v AS value
         |FROM ${ev("event_type = 'purchase' AND user_id = 12")}
         |WHERE ${sub()} ORDER BY timestamp""".stripMargin,

    "ts36_dsv2_label_stats" ->
      s"""SELECT COUNT(*) AS n, ROUND(SUM(v), 4) AS sum_value,
         |MIN(t) AS first_ts, MAX(t) AS last_ts
         |FROM ${ev("event_type = 'purchase'")}
         |WHERE t >= ${SubStart + 1800000L} AND t <= ${SubEnd - 1800001L}""".stripMargin,

    "ts37_dsv2_label_multi" ->
      s"""SELECT t - t % 86400000 AS day, COUNT(*) AS n,
         |ROUND(SUM(v), 6) AS sum_value FROM ${ev("event_type = 'purchase'")}
         |WHERE ${sub()} GROUP BY 1 ORDER BY day""".stripMargin,

    "ts45_instant_clamp" ->
      s"""SELECT t AS timestamp,
         |  ROUND(LEAST(GREATEST(v, 50), 200), 6) AS value
         |FROM ${ev("event_type = 'purchase'")}
         |WHERE ${sub()} ORDER BY timestamp""".stripMargin,

    "ts46_instant_round" ->
      s"""WITH w AS (SELECT t - ((t - $SubStart) % 43200000) AS ws, v
         |           FROM ${ev("event_type = 'click'")} WHERE ${sub()})
         |SELECT ws AS timestamp, FLOOR(AVG(v) + 0.5) AS value
         |FROM w GROUP BY ws ORDER BY timestamp""".stripMargin,

    "ts47_range_stddev" ->
      s"""WITH w AS (SELECT t - ((t - $SubStart) % 43200000) AS ws, v
         |           FROM ${ev("event_type = 'click'")} WHERE ${sub()})
         |SELECT ws AS timestamp, ROUND(stddev_pop(v), 6) AS value
         |FROM w GROUP BY ws ORDER BY timestamp""".stripMargin,

    "ts48_range_quantile" ->
      s"""WITH w AS (SELECT t - ((t - $SubStart) % 86400000) AS ws, v
         |           FROM ${ev("event_type = 'purchase'")} WHERE ${sub()})
         |SELECT ws AS timestamp, ROUND(quantile_cont(v, 0.9), 6) AS value
         |FROM w GROUP BY ws ORDER BY timestamp""".stripMargin,

    "ts49_range_resets" ->
      s"""WITH d AS (SELECT t, AVG(v) AS v FROM ${ev("event_type = 'purchase'")}
         |           WHERE ${sub()} GROUP BY t),
         |w AS (SELECT t - ((t - $SubStart) % 86400000) AS ws, t, v FROM d),
         |l AS (SELECT ws, v,
         |        lag(v) OVER (PARTITION BY ws ORDER BY t, v) AS pv FROM w)
         |SELECT ws AS timestamp,
         |  CAST(SUM(CASE WHEN pv IS NOT NULL AND v < pv THEN 1 ELSE 0 END)
         |       AS DOUBLE) AS value
         |FROM l GROUP BY ws ORDER BY timestamp""".stripMargin,

    "ts50_range_irate" ->
      s"""WITH d AS (SELECT t, AVG(v) AS v FROM ${ev("event_type = 'purchase'")}
         |           WHERE ${sub()} GROUP BY t),
         |w AS (SELECT t - ((t - $SubStart) % 86400000) AS ws, t, v FROM d),
         |l AS (SELECT ws, t, v,
         |        lag(v) OVER (PARTITION BY ws ORDER BY t, v) AS pv,
         |        lag(t) OVER (PARTITION BY ws ORDER BY t, v) AS pt FROM w),
         |last AS (SELECT ws, t, v, pt, pv,
         |           row_number() OVER (PARTITION BY ws ORDER BY t DESC, v DESC) AS rn
         |         FROM l)
         |SELECT ws AS timestamp,
         |  ROUND((CASE WHEN v >= pv THEN v - pv ELSE v END)
         |        / ((t - pt) / 1000.0), 6) AS value
         |FROM last WHERE rn = 1 AND pv IS NOT NULL AND t > pt
         |ORDER BY timestamp""".stripMargin,

    "ts51_range_deriv" ->
      s"""WITH w AS (SELECT t - ((t - $SubStart) % 86400000) AS ws, t, v
         |           FROM ${ev("event_type = 'click'")} WHERE ${sub()})
         |SELECT ws AS timestamp,
         |  ROUND(regr_slope(v, (t - ws) / 1000.0), 9) AS value
         |FROM w GROUP BY ws HAVING regr_slope(v, (t - ws) / 1000.0) IS NOT NULL
         |ORDER BY timestamp""".stripMargin,

    "ts56_subquery" ->
      s"""WITH d AS (SELECT t, AVG(v) AS v FROM ${ev("event_type = 'purchase'")}
         |           WHERE t > ${SubStart - 86400000L} AND t <= $SubEnd GROUP BY t),
         |g AS (SELECT UNNEST(generate_series($SubStart, $SubEnd, ${12 * 3600 * 1000L})) AS et),
         |w AS (SELECT g.et AS ws, d.t, d.v FROM g
         |      JOIN d ON d.t > g.et - 86400000 AND d.t <= g.et),
         |l AS (SELECT ws, t, v,
         |        lag(v) OVER (PARTITION BY ws ORDER BY t, v) AS pv FROM w),
         |a AS (SELECT ws,
         |        SUM(CASE WHEN pv IS NULL THEN 0
         |                 WHEN v >= pv THEN v - pv ELSE v END) AS inc,
         |        MIN(t) AS t0, MAX(t) AS t1, COUNT(*) AS n
         |      FROM l GROUP BY ws),
         |inner_series AS (SELECT ws AS t, inc / ((t1 - t0) / 1000.0) AS v
         |                 FROM a WHERE n >= 2 AND t1 > t0)
         |SELECT t - ((t - $SubStart) % ${3 * 86400000L}) AS timestamp,
         |  ROUND(MAX(v), 6) AS value
         |FROM inner_series GROUP BY 1 ORDER BY timestamp""".stripMargin,

    "ts70_subquery_by" ->
      s"""WITH d AS (SELECT CAST(user_id AS VARCHAR) AS grp,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'
         |        AND epoch_ns(ts)//1000000 > ${SubStart - 86400000L}
         |        AND epoch_ns(ts)//1000000 <= $SubEnd),
         |g AS (SELECT UNNEST(generate_series($SubStart, $SubEnd, ${12 * 3600 * 1000L})) AS et),
         |w AS (SELECT d.grp, g.et AS ws, d.t, d.v FROM g
         |      JOIN d ON d.t > g.et - 86400000 AND d.t <= g.et),
         |l AS (SELECT grp, ws, t, v,
         |        lag(v) OVER (PARTITION BY grp, ws ORDER BY t, v) AS pv FROM w),
         |a AS (SELECT grp, ws,
         |        SUM(CASE WHEN pv IS NULL THEN 0
         |                 WHEN v >= pv THEN v - pv ELSE v END) AS inc,
         |        MIN(t) AS t0, MAX(t) AS t1, COUNT(*) AS n
         |      FROM l GROUP BY grp, ws),
         |i AS (SELECT grp, ws - ((ws - $SubStart) % ${3 * 86400000L}) AS ots,
         |        inc / ((t1 - t0) / 1000.0) AS v
         |      FROM a WHERE n >= 2 AND t1 > t0)
         |SELECT grp AS "user", ots AS timestamp, ROUND(MAX(v), 6) AS value
         |FROM i GROUP BY grp, ots
         |ORDER BY CAST(grp AS BIGINT), timestamp""".stripMargin,

    "ts99_subquery_instant_inner" ->
      s"""WITH d AS (SELECT t, AVG(v) AS v FROM ${ev("event_type = 'purchase'")}
         |           WHERE t > ${SubStart - 86400000L} AND t <= $SubEnd GROUP BY t),
         |g AS (SELECT UNNEST(generate_series($SubStart, $SubEnd, ${12 * 3600 * 1000L})) AS et),
         |w AS (SELECT g.et AS ws, d.t, d.v FROM g
         |      JOIN d ON d.t > g.et - 86400000 AND d.t <= g.et),
         |l AS (SELECT ws, t, v,
         |        lag(v) OVER (PARTITION BY ws ORDER BY t, v) AS pv FROM w),
         |a AS (SELECT ws,
         |        SUM(CASE WHEN pv IS NULL THEN 0
         |                 WHEN v >= pv THEN v - pv ELSE v END) AS inc,
         |        MIN(t) AS t0, MAX(t) AS t1, COUNT(*) AS n
         |      FROM l GROUP BY ws),
         |inner_series AS (SELECT ws AS t, SQRT(inc / ((t1 - t0) / 1000.0)) AS v
         |                 FROM a WHERE n >= 2 AND t1 > t0)
         |SELECT t - ((t - $SubStart) % ${3 * 86400000L}) AS timestamp,
         |  ROUND(MAX(v), 6) AS value
         |FROM inner_series GROUP BY 1 ORDER BY timestamp""".stripMargin,

    "ts100_subquery_setop_inner" ->
      s"""WITH dc AS (SELECT t, AVG(v) AS v FROM ${ev("event_type = 'click'")}
         |            WHERE t > ${SubStart - 86400000L} AND t <= $SubEnd GROUP BY t),
         |dp AS (SELECT t, AVG(v) AS v FROM ${ev("event_type = 'purchase'")}
         |       WHERE t > ${SubStart - 86400000L} AND t <= $SubEnd GROUP BY t),
         |g AS (SELECT UNNEST(generate_series($SubStart, $SubEnd, ${12 * 3600 * 1000L})) AS et),
         |wc AS (SELECT g.et AS ws, dc.t, dc.v FROM g
         |       JOIN dc ON dc.t > g.et - 86400000 AND dc.t <= g.et),
         |wp AS (SELECT g.et AS ws, dp.t, dp.v FROM g
         |       JOIN dp ON dp.t > g.et - 86400000 AND dp.t <= g.et),
         |lc AS (SELECT ws, t, v,
         |         lag(v) OVER (PARTITION BY ws ORDER BY t, v) AS pv FROM wc),
         |lp AS (SELECT ws, t, v,
         |         lag(v) OVER (PARTITION BY ws ORDER BY t, v) AS pv FROM wp),
         |ac AS (SELECT ws,
         |         SUM(CASE WHEN pv IS NULL THEN 0
         |                  WHEN v >= pv THEN v - pv ELSE v END) AS inc,
         |         MIN(t) AS t0, MAX(t) AS t1, COUNT(*) AS n
         |       FROM lc GROUP BY ws),
         |ap AS (SELECT ws,
         |         SUM(CASE WHEN pv IS NULL THEN 0
         |                  WHEN v >= pv THEN v - pv ELSE v END) AS inc,
         |         MIN(t) AS t0, MAX(t) AS t1, COUNT(*) AS n
         |       FROM lp GROUP BY ws),
         |c AS (SELECT ws AS t, inc / ((t1 - t0) / 1000.0) AS v
         |      FROM ac WHERE n >= 2 AND t1 > t0),
         |p AS (SELECT ws AS t, inc / ((t1 - t0) / 1000.0) AS v
         |      FROM ap WHERE n >= 2 AND t1 > t0)
         |SELECT c.t - ((c.t - $SubStart) % ${3 * 86400000L}) AS timestamp,
         |  ROUND(MAX(c.v), 6) AS value
         |FROM c JOIN p ON p.t = c.t AND p.v > 0.027
         |GROUP BY 1 ORDER BY timestamp""".stripMargin,

    "ts103_record_grouped" ->
      s"""WITH ids AS (SELECT DISTINCT user_id FROM events
         |  WHERE event_type = 'purchase' ORDER BY user_id LIMIT 3),
         |d AS (SELECT CAST(user_id AS VARCHAR) AS u,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'
         |        AND user_id IN (SELECT user_id FROM ids)
         |        AND epoch_ns(ts)//1000000 > ${SubStart - 86400000L}
         |        AND epoch_ns(ts)//1000000 <= $SubEnd),
         |g AS (SELECT UNNEST(generate_series($SubStart, $SubEnd, ${86400000L})) AS et),
         |w AS (SELECT d.u, g.et, SUM(d.v) AS s FROM g
         |      JOIN d ON d.t > g.et - 86400000 AND d.t <= g.et
         |      GROUP BY d.u, g.et)
         |SELECT u AS "user", ROUND(SUM(s), 6) AS value
         |FROM w GROUP BY u ORDER BY CAST(u AS BIGINT)""".stripMargin,

    "ts106_sliding_matched" ->
      s"""WITH d AS (SELECT CAST(user_id AS VARCHAR) AS u,
         |        CAST(user_id % 3 AS VARCHAR) AS c,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'
         |        AND epoch_ns(ts)//1000000 > ${SubStart - 86400000L}
         |        AND epoch_ns(ts)//1000000 <= $SubEnd),
         |g AS (SELECT UNNEST(generate_series($SubStart, $SubEnd, ${12 * 3600 * 1000L})) AS et),
         |wl AS (SELECT d.c, d.u, g.et, SUM(d.v) AS s FROM g
         |       JOIN d ON d.t > g.et - 86400000 AND d.t <= g.et
         |       GROUP BY d.c, d.u, g.et),
         |wr AS (SELECT d.c, g.et, SUM(d.v) AS s FROM g
         |       JOIN d ON d.t > g.et - 86400000 AND d.t <= g.et
         |       GROUP BY d.c, g.et)
         |SELECT wl.c AS cohort, wl.u AS "user", wl.et AS timestamp,
         |  ROUND(wl.s / wr.s, 9) AS value
         |FROM wl JOIN wr ON wr.c = wl.c AND wr.et = wl.et
         |ORDER BY cohort, CAST(wl.u AS BIGINT), timestamp""".stripMargin,

    "ts104_sliding_subquery" ->
      s"""WITH d AS (SELECT t, AVG(v) AS v FROM ${ev("event_type = 'purchase'")}
         |           WHERE t > ${SubStart - 3 * 86400000L - 86400000L}
         |             AND t <= $SubEnd GROUP BY t),
         |g AS (SELECT UNNEST(generate_series(${SubStart - 3 * 86400000L},
         |        $SubEnd, ${12 * 3600 * 1000L})) AS et),
         |w AS (SELECT g.et AS ws, d.t, d.v FROM g
         |      JOIN d ON d.t > g.et - 86400000 AND d.t <= g.et),
         |l AS (SELECT ws, t, v,
         |        lag(v) OVER (PARTITION BY ws ORDER BY t, v) AS pv FROM w),
         |a AS (SELECT ws,
         |        SUM(CASE WHEN pv IS NULL THEN 0
         |                 WHEN v >= pv THEN v - pv ELSE v END) AS inc,
         |        MIN(t) AS t0, MAX(t) AS t1, COUNT(*) AS n
         |      FROM l GROUP BY ws),
         |i AS (SELECT ws AS et, inc / ((t1 - t0) / 1000.0) AS v
         |      FROM a WHERE n >= 2 AND t1 > t0),
         |og AS (SELECT UNNEST(generate_series($SubStart, $SubEnd,
         |        ${86400000L})) AS ot)
         |SELECT ot AS timestamp, ROUND(MAX(v), 6) AS value
         |FROM og JOIN i ON i.et > ot - ${3 * 86400000L} AND i.et <= ot
         |GROUP BY ot ORDER BY timestamp""".stripMargin,

    "ts105_sliding_subquery_by" ->
      s"""WITH d AS (SELECT CAST(user_id AS VARCHAR) AS u,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'
         |        AND epoch_ns(ts)//1000000 > ${SubStart - 3 * 86400000L - 86400000L}
         |        AND epoch_ns(ts)//1000000 <= $SubEnd),
         |g AS (SELECT UNNEST(generate_series(${SubStart - 3 * 86400000L},
         |        $SubEnd, ${12 * 3600 * 1000L})) AS et),
         |w AS (SELECT d.u, g.et AS ws, d.t, d.v FROM g
         |      JOIN d ON d.t > g.et - 86400000 AND d.t <= g.et),
         |l AS (SELECT u, ws, t, v,
         |        lag(v) OVER (PARTITION BY u, ws ORDER BY t, v) AS pv FROM w),
         |a AS (SELECT u, ws,
         |        SUM(CASE WHEN pv IS NULL THEN 0
         |                 WHEN v >= pv THEN v - pv ELSE v END) AS inc,
         |        MIN(t) AS t0, MAX(t) AS t1, COUNT(*) AS n
         |      FROM l GROUP BY u, ws),
         |i AS (SELECT u, ws AS et, inc / ((t1 - t0) / 1000.0) AS v
         |      FROM a WHERE n >= 2 AND t1 > t0),
         |og AS (SELECT UNNEST(generate_series($SubStart, $SubEnd,
         |        ${86400000L})) AS ot)
         |SELECT i.u AS "user", ot AS timestamp, ROUND(MAX(v), 6) AS value
         |FROM og JOIN i ON i.et > ot - ${3 * 86400000L} AND i.et <= ot
         |GROUP BY i.u, ot ORDER BY CAST(i.u AS BIGINT), timestamp""".stripMargin,

    "ts107_subquery_agg_inner" ->
      s"""WITH d AS (SELECT t, v FROM ${ev("event_type = 'purchase'")}
         |           WHERE t > ${SubStart - 12 * 3600 * 1000L}
         |             AND t <= $SubEnd),
         |g AS (SELECT UNNEST(generate_series($SubStart, $SubEnd, ${12 * 3600 * 1000L})) AS et),
         |i AS (SELECT g.et AS t, SUM(d.v) AS v FROM g
         |      JOIN d ON d.t > g.et - ${12 * 3600 * 1000L} AND d.t <= g.et
         |      GROUP BY g.et)
         |SELECT t - ((t - $SubStart) % ${3 * 86400000L}) AS timestamp,
         |  ROUND(MAX(v), 6) AS value
         |FROM i GROUP BY 1 ORDER BY timestamp""".stripMargin,

    "ts108_subquery_agg_inner_by" ->
      s"""WITH d AS (SELECT CAST(user_id AS VARCHAR) AS u,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'
         |        AND epoch_ns(ts)//1000000 > ${SubStart - 3 * 86400000L - 12 * 3600 * 1000L}
         |        AND epoch_ns(ts)//1000000 <= $SubEnd),
         |g AS (SELECT UNNEST(generate_series(${SubStart - 3 * 86400000L},
         |        $SubEnd, ${12 * 3600 * 1000L})) AS et),
         |i AS (SELECT d.u, g.et, SUM(d.v) AS v FROM g
         |      JOIN d ON d.t > g.et - ${12 * 3600 * 1000L} AND d.t <= g.et
         |      GROUP BY d.u, g.et),
         |og AS (SELECT UNNEST(generate_series($SubStart, $SubEnd,
         |        ${86400000L})) AS ot)
         |SELECT i.u AS "user", ot AS timestamp, ROUND(MAX(v), 6) AS value
         |FROM og JOIN i ON i.et > ot - ${3 * 86400000L} AND i.et <= ot
         |GROUP BY i.u, ot ORDER BY CAST(i.u AS BIGINT), timestamp""".stripMargin,

    "ts114_limitk" ->
      s"""WITH d AS (SELECT CAST(user_id AS VARCHAR) AS u,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'),
         |c AS (SELECT u, SUM(v) AS value FROM d WHERE ${sub()} GROUP BY u),
         |r AS (SELECT u, value,
         |        ROW_NUMBER() OVER (ORDER BY md5(u), u) AS rk FROM c)
         |SELECT u AS "user", ROUND(value, 6) AS value FROM r
         |WHERE rk <= 5 ORDER BY CAST(u AS BIGINT)""".stripMargin,

    "ts115_limit_ratio" ->
      s"""WITH d AS (SELECT CAST(user_id AS VARCHAR) AS u,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'),
         |c AS (SELECT u, SUM(v) AS value FROM d WHERE ${sub()} GROUP BY u),
         |r AS (SELECT u, value,
         |        ROW_NUMBER() OVER (ORDER BY md5(u), u) AS rk,
         |        COUNT(*) OVER () AS n FROM c)
         |SELECT u AS "user", ROUND(value, 6) AS value FROM r
         |WHERE rk > ROUND(0.6 * n)
         |ORDER BY CAST(u AS BIGINT)""".stripMargin,

    "ts113_sliding_topk" ->
      s"""WITH d AS (SELECT CAST(user_id AS VARCHAR) AS u,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'
         |        AND epoch_ns(ts)//1000000 > ${SubStart - 86400000L}
         |        AND epoch_ns(ts)//1000000 <= $SubEnd),
         |g AS (SELECT UNNEST(generate_series($SubStart, $SubEnd, ${12 * 3600 * 1000L})) AS et),
         |w AS (SELECT d.u, g.et, SUM(d.v) AS s FROM g
         |      JOIN d ON d.t > g.et - 86400000 AND d.t <= g.et
         |      GROUP BY d.u, g.et),
         |r AS (SELECT u, et, s, ROW_NUMBER() OVER
         |        (PARTITION BY et ORDER BY s DESC, u) AS rk FROM w)
         |SELECT u AS "user", et AS timestamp, ROUND(s, 6) AS value
         |FROM r WHERE rk <= 3
         |ORDER BY CAST(u AS BIGINT), timestamp""".stripMargin,

    "ts116_sliding_limitk" ->
      s"""WITH d AS (SELECT CAST(user_id AS VARCHAR) AS u,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'
         |        AND epoch_ns(ts)//1000000 > ${SubStart - 86400000L}
         |        AND epoch_ns(ts)//1000000 <= $SubEnd),
         |g AS (SELECT UNNEST(generate_series($SubStart, $SubEnd, ${12 * 3600 * 1000L})) AS et),
         |w AS (SELECT d.u, g.et, SUM(d.v) AS s FROM g
         |      JOIN d ON d.t > g.et - 86400000 AND d.t <= g.et
         |      GROUP BY d.u, g.et),
         |r AS (SELECT u, et, s, ROW_NUMBER() OVER
         |        (PARTITION BY et ORDER BY md5(u), u) AS rk FROM w)
         |SELECT u AS "user", et AS timestamp, ROUND(s, 6) AS value
         |FROM r WHERE rk <= 3
         |ORDER BY CAST(u AS BIGINT), timestamp""".stripMargin,

    "ts117_sliding_limit_ratio" ->
      s"""WITH d AS (SELECT CAST(user_id AS VARCHAR) AS u,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'
         |        AND epoch_ns(ts)//1000000 > ${SubStart - 86400000L}
         |        AND epoch_ns(ts)//1000000 <= $SubEnd),
         |g AS (SELECT UNNEST(generate_series($SubStart, $SubEnd, ${12 * 3600 * 1000L})) AS et),
         |w AS (SELECT d.u, g.et, SUM(d.v) AS s FROM g
         |      JOIN d ON d.t > g.et - 86400000 AND d.t <= g.et
         |      GROUP BY d.u, g.et),
         |r AS (SELECT u, et, s, ROW_NUMBER() OVER
         |        (PARTITION BY et ORDER BY md5(u), u) AS rk,
         |        COUNT(*) OVER (PARTITION BY et) AS n FROM w)
         |SELECT u AS "user", et AS timestamp, ROUND(s, 6) AS value
         |FROM r WHERE rk > ROUND(0.5 * n)
         |ORDER BY CAST(u AS BIGINT), timestamp""".stripMargin,

    "ts124_subquery_without_inner" ->
      s"""WITH d AS (SELECT CAST(user_id % 3 AS VARCHAR) AS c,
         |        CAST(user_id AS VARCHAR) AS u,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'
         |        AND epoch_ns(ts)//1000000 > ${SubStart - 3 * 86400000L - 12 * 3600 * 1000L}
         |        AND epoch_ns(ts)//1000000 <= $SubEnd),
         |g AS (SELECT UNNEST(generate_series(${SubStart - 3 * 86400000L},
         |        $SubEnd, ${12 * 3600 * 1000L})) AS et),
         |i AS (SELECT d.c, d.u, g.et, SUM(d.v) AS v FROM g
         |      JOIN d ON d.t > g.et - ${12 * 3600 * 1000L} AND d.t <= g.et
         |      GROUP BY d.c, d.u, g.et),
         |og AS (SELECT UNNEST(generate_series($SubStart, $SubEnd,
         |        ${86400000L})) AS ot)
         |SELECT i.c AS cohort, ot AS timestamp, ROUND(MAX(v), 6) AS value
         |FROM og JOIN i ON i.et > ot - ${3 * 86400000L} AND i.et <= ot
         |GROUP BY i.c, ot ORDER BY cohort, timestamp""".stripMargin,

    "ts122_ranged_limitk_binary" ->
      s"""WITH dc AS (SELECT CAST(user_id AS VARCHAR) AS u,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'click'
         |        AND epoch_ns(ts)//1000000 > ${SubStart - 86400000L}
         |        AND epoch_ns(ts)//1000000 <= $SubEnd),
         |dp AS (SELECT CAST(user_id AS VARCHAR) AS u,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'
         |        AND epoch_ns(ts)//1000000 > ${SubStart - 86400000L}
         |        AND epoch_ns(ts)//1000000 <= $SubEnd),
         |g AS (SELECT UNNEST(generate_series($SubStart, $SubEnd, ${12 * 3600 * 1000L})) AS et),
         |wc AS (SELECT dc.u, g.et, SUM(dc.v) AS s FROM g
         |       JOIN dc ON dc.t > g.et - 86400000 AND dc.t <= g.et
         |       GROUP BY dc.u, g.et),
         |wp AS (SELECT dp.u, g.et, SUM(dp.v) AS s FROM g
         |       JOIN dp ON dp.t > g.et - 86400000 AND dp.t <= g.et
         |       GROUP BY dp.u, g.et),
         |rr AS (SELECT wc.u, wc.et, wc.s / wp.s AS v
         |       FROM wc JOIN wp ON wp.u = wc.u AND wp.et = wc.et),
         |r AS (SELECT u, et, v, ROW_NUMBER() OVER
         |        (PARTITION BY et ORDER BY md5(u), u) AS rk FROM rr)
         |SELECT u AS "user", et AS timestamp, ROUND(v, 9) AS value
         |FROM r WHERE rk <= 2
         |ORDER BY CAST(u AS BIGINT), timestamp""".stripMargin,

    "ts123_ranged_limitk_matched" ->
      s"""WITH d AS (SELECT CAST(user_id AS VARCHAR) AS u,
         |        CAST(user_id % 3 AS VARCHAR) AS c,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'
         |        AND epoch_ns(ts)//1000000 > ${SubStart - 86400000L}
         |        AND epoch_ns(ts)//1000000 <= $SubEnd),
         |g AS (SELECT UNNEST(generate_series($SubStart, $SubEnd, ${12 * 3600 * 1000L})) AS et),
         |wl AS (SELECT d.c, d.u, g.et, SUM(d.v) AS s FROM g
         |       JOIN d ON d.t > g.et - 86400000 AND d.t <= g.et
         |       GROUP BY d.c, d.u, g.et),
         |wr AS (SELECT d.c, g.et, SUM(d.v) AS s FROM g
         |       JOIN d ON d.t > g.et - 86400000 AND d.t <= g.et
         |       GROUP BY d.c, g.et),
         |rr AS (SELECT wl.c, wl.u, wl.et, wl.s / wr.s AS v
         |       FROM wl JOIN wr ON wr.c = wl.c AND wr.et = wl.et),
         |r AS (SELECT c, u, et, v, ROW_NUMBER() OVER
         |        (PARTITION BY et
         |         ORDER BY md5(concat(c, chr(1), u)), c, u) AS rk FROM rr)
         |SELECT c AS cohort, u AS "user", et AS timestamp,
         |  ROUND(v, 9) AS value
         |FROM r WHERE rk <= 2
         |ORDER BY cohort, CAST(u AS BIGINT), timestamp""".stripMargin,

    "ts121_carry_from_without" ->
      s"""WITH d AS (SELECT CAST(user_id AS VARCHAR) AS u,
         |        CAST(user_id % 3 AS VARCHAR) AS c,
         |        CAST((user_id % 3) * 2 AS VARCHAR) AS b,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'),
         |w AS (SELECT u, c, b, v FROM d WHERE ${sub()}),
         |m AS (SELECT u, c, SUM(v) AS s FROM w GROUP BY 1, 2),
         |o AS (SELECT c, b, SUM(v) AS s FROM w GROUP BY 1, 2)
         |SELECT m.u AS "user", m.c AS cohort, o.b AS band,
         |  ROUND(m.s / o.s, 9) AS value
         |FROM m JOIN o ON m.c = o.c
         |ORDER BY CAST(m.u AS BIGINT)""".stripMargin,

    "ts120_subquery_finer_by" ->
      s"""WITH d AS (SELECT CAST(user_id % 3 AS VARCHAR) AS c,
         |        CAST(user_id AS VARCHAR) AS u,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'
         |        AND epoch_ns(ts)//1000000 > ${SubStart - 3 * 86400000L - 12 * 3600 * 1000L}
         |        AND epoch_ns(ts)//1000000 <= $SubEnd),
         |g AS (SELECT UNNEST(generate_series(${SubStart - 3 * 86400000L},
         |        $SubEnd, ${12 * 3600 * 1000L})) AS et),
         |i AS (SELECT d.c, d.u, g.et, SUM(d.v) AS v FROM g
         |      JOIN d ON d.t > g.et - ${12 * 3600 * 1000L} AND d.t <= g.et
         |      GROUP BY d.c, d.u, g.et),
         |og AS (SELECT UNNEST(generate_series($SubStart, $SubEnd,
         |        ${86400000L})) AS ot)
         |SELECT i.c AS cohort, ot AS timestamp, ROUND(MAX(v), 6) AS value
         |FROM og JOIN i ON i.et > ot - ${3 * 86400000L} AND i.et <= ot
         |GROUP BY i.c, ot ORDER BY cohort, timestamp""".stripMargin,

    "ts118_count_values_rate" ->
      s"""WITH g AS (SELECT UNNEST(generate_series($SubStart, $SubEnd,
         |        ${6 * 3600 * 1000L})) AS et),
         |${slidingRateCtes("purchase", "x")}
         |SELECT CAST(FLOOR(v * 1000.0 / 1.0 + 0.5) * 1.0 AS VARCHAR) AS v,
         |  ws AS timestamp, CAST(COUNT(*) AS DOUBLE) AS value
         |FROM x_r GROUP BY 1, 2 ORDER BY v, timestamp""".stripMargin,

    "ts119_count_values_grouped" ->
      s"""WITH d AS (SELECT CAST(user_id AS VARCHAR) AS u,
         |        epoch_ns(ts)//1000000 AS t
         |      FROM events WHERE event_type = 'purchase'
         |        AND epoch_ns(ts)//1000000 > ${SubStart - 12 * 3600 * 1000L}
         |        AND epoch_ns(ts)//1000000 <= $SubEnd),
         |g AS (SELECT UNNEST(generate_series($SubStart, $SubEnd, ${12 * 3600 * 1000L})) AS et),
         |w AS (SELECT d.u, g.et, CAST(COUNT(*) AS DOUBLE) AS c FROM g
         |      JOIN d ON d.t > g.et - ${12 * 3600 * 1000L} AND d.t <= g.et
         |      GROUP BY d.u, g.et)
         |SELECT CAST(FLOOR(c / 1.0 + 0.5) * 1.0 AS VARCHAR) AS v,
         |  et AS timestamp, CAST(COUNT(*) AS DOUBLE) AS value
         |FROM w GROUP BY 1, 2 ORDER BY v, timestamp""".stripMargin,

    "ts112_count_values_range" ->
      s"""WITH d AS (SELECT t, v FROM ${ev("event_type = 'purchase'")}
         |           WHERE t > ${SubStart - 12 * 3600 * 1000L}
         |             AND t <= $SubEnd),
         |b AS (SELECT $SubStart + CAST(CEIL((t - $SubStart) /
         |        CAST(${12 * 3600 * 1000L} AS DOUBLE)) AS BIGINT)
         |        * ${12 * 3600 * 1000L} AS et, v
         |      FROM d)
         |SELECT CAST(v AS VARCHAR) AS v, et AS timestamp,
         |  CAST(COUNT(*) AS DOUBLE) AS value
         |FROM b GROUP BY 1, 2 ORDER BY v, timestamp""".stripMargin,

    "ts110_matched_without" ->
      s"""WITH d AS (SELECT CAST(user_id % 3 AS VARCHAR) AS c,
         |        CAST(user_id % 2 AS VARCHAR) AS tr,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'),
         |l AS (SELECT c, tr, SUM(v) AS s FROM d WHERE ${sub()}
         |      GROUP BY c, tr),
         |r AS (SELECT c, SUM(v) AS s FROM d WHERE ${sub()} GROUP BY c)
         |SELECT 'cohort=' || l.c || ',tier=' || l.tr AS labels,
         |  ROUND(l.s / r.s, 9) AS value
         |FROM l JOIN r ON r.c = l.c ORDER BY labels""".stripMargin,

    "ts111_sliding_matched_without" ->
      s"""WITH d AS (SELECT CAST(user_id % 3 AS VARCHAR) AS c,
         |        CAST(user_id % 2 AS VARCHAR) AS tr,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'
         |        AND epoch_ns(ts)//1000000 > ${SubStart - 86400000L}
         |        AND epoch_ns(ts)//1000000 <= $SubEnd),
         |g AS (SELECT UNNEST(generate_series($SubStart, $SubEnd, ${12 * 3600 * 1000L})) AS et),
         |wl AS (SELECT d.c, d.tr, g.et, SUM(d.v) AS s FROM g
         |       JOIN d ON d.t > g.et - 86400000 AND d.t <= g.et
         |       GROUP BY d.c, d.tr, g.et),
         |wr AS (SELECT d.c, g.et, SUM(d.v) AS s FROM g
         |       JOIN d ON d.t > g.et - 86400000 AND d.t <= g.et
         |       GROUP BY d.c, g.et)
         |SELECT 'cohort=' || wl.c || ',tier=' || wl.tr AS labels,
         |  wl.et AS timestamp, ROUND(wl.s / wr.s, 9) AS value
         |FROM wl JOIN wr ON wr.c = wl.c AND wr.et = wl.et
         |ORDER BY labels, timestamp""".stripMargin,

    "ts109_subquery_agg_pooled" ->
      s"""WITH d AS (SELECT t, AVG(v) AS v FROM ${ev("event_type = 'purchase'")}
         |           WHERE t > ${SubStart - 86400000L} AND t <= $SubEnd GROUP BY t),
         |g AS (SELECT UNNEST(generate_series($SubStart, $SubEnd, ${12 * 3600 * 1000L})) AS et),
         |w AS (SELECT g.et AS ws, d.t, d.v FROM g
         |      JOIN d ON d.t > g.et - 86400000 AND d.t <= g.et),
         |l AS (SELECT ws, t, v,
         |        lag(v) OVER (PARTITION BY ws ORDER BY t, v) AS pv FROM w),
         |a AS (SELECT ws,
         |        SUM(CASE WHEN pv IS NULL THEN 0
         |                 WHEN v >= pv THEN v - pv ELSE v END) AS inc,
         |        MIN(t) AS t0, MAX(t) AS t1, COUNT(*) AS n
         |      FROM l GROUP BY ws),
         |inner_series AS (SELECT ws AS t, inc / ((t1 - t0) / 1000.0) AS v
         |                 FROM a WHERE n >= 2 AND t1 > t0)
         |SELECT t - ((t - $SubStart) % ${3 * 86400000L}) AS timestamp,
         |  ROUND(MAX(v), 6) AS value
         |FROM inner_series GROUP BY 1 ORDER BY timestamp""".stripMargin,

    "ts101_grouped_sliding_binary" ->
      s"""WITH dc AS (SELECT CAST(user_id AS VARCHAR) AS u,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'click'
         |        AND epoch_ns(ts)//1000000 > ${SubStart - 86400000L}
         |        AND epoch_ns(ts)//1000000 <= $SubEnd),
         |dp AS (SELECT CAST(user_id AS VARCHAR) AS u,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'
         |        AND epoch_ns(ts)//1000000 > ${SubStart - 86400000L}
         |        AND epoch_ns(ts)//1000000 <= $SubEnd),
         |g AS (SELECT UNNEST(generate_series($SubStart, $SubEnd, ${12 * 3600 * 1000L})) AS et),
         |wc AS (SELECT dc.u, g.et, SUM(dc.v) AS s FROM g
         |       JOIN dc ON dc.t > g.et - 86400000 AND dc.t <= g.et
         |       GROUP BY dc.u, g.et),
         |wp AS (SELECT dp.u, g.et, SUM(dp.v) AS s FROM g
         |       JOIN dp ON dp.t > g.et - 86400000 AND dp.t <= g.et
         |       GROUP BY dp.u, g.et)
         |SELECT wc.u AS "user", wc.et AS timestamp,
         |  ROUND(wc.s / wp.s, 9) AS value
         |FROM wc JOIN wp ON wp.u = wc.u AND wp.et = wc.et
         |ORDER BY CAST(wc.u AS BIGINT), timestamp""".stripMargin,

    "ts102_grouped_sliding_setop" ->
      s"""WITH dc AS (SELECT CAST(user_id AS VARCHAR) AS u,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'click'
         |        AND epoch_ns(ts)//1000000 > ${SubStart - 86400000L}
         |        AND epoch_ns(ts)//1000000 <= $SubEnd),
         |dp AS (SELECT CAST(user_id AS VARCHAR) AS u,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'
         |        AND epoch_ns(ts)//1000000 > ${SubStart - 86400000L}
         |        AND epoch_ns(ts)//1000000 <= $SubEnd),
         |g AS (SELECT UNNEST(generate_series($SubStart, $SubEnd, ${12 * 3600 * 1000L})) AS et),
         |wc AS (SELECT dc.u, g.et, SUM(dc.v) AS s FROM g
         |       JOIN dc ON dc.t > g.et - 86400000 AND dc.t <= g.et
         |       GROUP BY dc.u, g.et),
         |wp AS (SELECT dp.u, g.et, SUM(dp.v) AS s FROM g
         |       JOIN dp ON dp.t > g.et - 86400000 AND dp.t <= g.et
         |       GROUP BY dp.u, g.et)
         |SELECT wc.u AS "user", wc.et AS timestamp, ROUND(wc.s, 6) AS value
         |FROM wc WHERE NOT EXISTS (SELECT 1 FROM wp
         |  WHERE wp.u = wc.u AND wp.et = wc.et AND wp.s > 40)
         |ORDER BY CAST(wc.u AS BIGINT), timestamp""".stripMargin,

    "ts59_rate_extrapolated" ->
      s"""WITH d AS (SELECT t, AVG(v) AS v FROM ${ev("event_type = 'purchase'")}
         |           WHERE ${sub()} GROUP BY t),
         |w AS (SELECT t - ((t - $SubStart) % 86400000) AS ws, t, v FROM d),
         |l AS (SELECT ws, t, v,
         |        lag(v) OVER (PARTITION BY ws ORDER BY t, v) AS pv FROM w),
         |a AS (SELECT ws,
         |        SUM(CASE WHEN pv IS NULL THEN 0
         |                 WHEN v >= pv THEN v - pv ELSE v END) AS inc,
         |        MIN(t) AS t0, MAX(t) AS t1, COUNT(*) AS n,
         |        arg_min(v, t) AS v0
         |      FROM l GROUP BY ws),
         |e AS (SELECT ws, inc, n, v0,
         |        (t1 - t0) / 1000.0 AS si,
         |        ((t1 - t0) / 1000.0) / (n - 1) AS ad,
         |        (t0 - ws) / 1000.0 AS ds0,
         |        (ws + 86400000 - t1) / 1000.0 AS de
         |      FROM a WHERE n >= 2 AND t1 > t0),
         |f AS (SELECT ws, inc, si, ad, de,
         |        CASE WHEN inc > 0 AND v0 >= 0 AND si * v0 / inc < ds0
         |             THEN si * v0 / inc ELSE ds0 END AS ds
         |      FROM e)
         |SELECT ws AS timestamp,
         |  ROUND(inc * ((si
         |    + CASE WHEN ds < ad * 1.1 THEN ds ELSE ad / 2 END
         |    + CASE WHEN de < ad * 1.1 THEN de ELSE ad / 2 END) / si)
         |    / 86400.0, 6) AS value
         |FROM f ORDER BY timestamp""".stripMargin,

    "ts57_sliding_binary" ->
      s"""WITH g AS (SELECT UNNEST(generate_series($SubStart, $SubEnd, ${6 * 3600 * 1000L})) AS et),
         |${slidingRateCtes("purchase", "p")},
         |${slidingRateCtes("click", "c")}
         |SELECT p_r.ws AS timestamp, ROUND(p_r.v / c_r.v, 6) AS value
         |FROM p_r JOIN c_r ON p_r.ws = c_r.ws ORDER BY timestamp""".stripMargin,

    "ts58_subquery_binary" ->
      s"""WITH g AS (SELECT UNNEST(generate_series($SubStart, $SubEnd, ${12 * 3600 * 1000L})) AS et),
         |${slidingRateCtes("purchase", "p")},
         |${slidingRateCtes("click", "c")},
         |ratio AS (SELECT p_r.ws AS t, p_r.v / c_r.v AS v
         |          FROM p_r JOIN c_r ON p_r.ws = c_r.ws)
         |SELECT t - ((t - $SubStart) % ${3 * 86400000L}) AS timestamp,
         |  ROUND(MAX(v), 6) AS value
         |FROM ratio GROUP BY 1 ORDER BY timestamp""".stripMargin,

    "ts53_range_absent" ->
      s"""WITH g AS (SELECT UNNEST(generate_series($SubStart, $SubEnd, 43200000)) AS ws),
         |o AS (SELECT DISTINCT t - ((t - $SubStart) % 43200000) AS ws
         |      FROM ${ev("event_type = 'purchase' AND user_id = 12")}
         |      WHERE ${sub()})
         |SELECT g.ws AS timestamp, 1e0 AS value
         |FROM g LEFT JOIN o ON g.ws = o.ws
         |WHERE o.ws IS NULL ORDER BY timestamp""".stripMargin,

    "ts54_range_by" ->
      s"""WITH d AS (SELECT CAST(user_id AS VARCHAR) AS grp,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'),
         |w AS (SELECT grp, t - ((t - $SubStart) % 86400000) AS ws, t, v
         |      FROM d WHERE ${sub()}),
         |l AS (SELECT grp, ws, t, v,
         |        lag(v) OVER (PARTITION BY grp, ws ORDER BY t, v) AS pv FROM w),
         |a AS (SELECT grp, ws,
         |        SUM(CASE WHEN pv IS NULL THEN 0
         |                 WHEN v >= pv THEN v - pv ELSE v END) AS inc,
         |        MIN(t) AS t0, MAX(t) AS t1, COUNT(*) AS n
         |      FROM l GROUP BY grp, ws)
         |SELECT grp AS "group", ws AS timestamp,
         |  ROUND(inc / ((t1 - t0) / 1000.0), 6) AS value
         |FROM a WHERE n >= 2 AND t1 > t0
         |ORDER BY "group", timestamp""".stripMargin,

    "ts55_query_range_by" ->
      s"""WITH d AS (SELECT CAST(user_id AS VARCHAR) AS grp,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'
         |        AND epoch_ns(ts)//1000000 > ${SubStart - 86400000L}
         |        AND epoch_ns(ts)//1000000 <= $SubEnd),
         |g AS (SELECT UNNEST(generate_series($SubStart, $SubEnd, ${12 * 3600 * 1000L})) AS et),
         |w AS (SELECT d.grp, g.et AS ws, d.v FROM g
         |      JOIN d ON d.t > g.et - 86400000 AND d.t <= g.et)
         |SELECT grp AS "group", ws AS timestamp, ROUND(AVG(v), 6) AS value
         |FROM w GROUP BY grp, ws ORDER BY "group", timestamp""".stripMargin,

    "ts52_query_range" ->
      s"""WITH d AS (SELECT t, AVG(v) AS v FROM ${ev("event_type = 'purchase'")}
         |           WHERE t > ${SubStart - 86400000L} AND t <= $SubEnd GROUP BY t),
         |g AS (SELECT UNNEST(generate_series($SubStart, $SubEnd, ${6 * 3600 * 1000L})) AS et),
         |w AS (SELECT g.et AS ws, d.t, d.v FROM g
         |      JOIN d ON d.t > g.et - 86400000 AND d.t <= g.et),
         |l AS (SELECT ws, t, v,
         |        lag(v) OVER (PARTITION BY ws ORDER BY t, v) AS pv FROM w),
         |a AS (SELECT ws,
         |        SUM(CASE WHEN pv IS NULL THEN 0
         |                 WHEN v >= pv THEN v - pv ELSE v END) AS inc,
         |        MIN(t) AS t0, MAX(t) AS t1, COUNT(*) AS n
         |      FROM l GROUP BY ws)
         |SELECT ws AS timestamp, ROUND(inc / ((t1 - t0) / 1000.0), 6) AS value
         |FROM a WHERE n >= 2 AND t1 > t0 ORDER BY timestamp""".stripMargin,

    "ts66_query_range_by_multi" ->
      s"""WITH d AS (SELECT CAST(user_id % 3 AS VARCHAR) AS cohort,
         |        CAST(user_id AS VARCHAR) AS grp,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'
         |        AND epoch_ns(ts)//1000000 > ${SubStart - 86400000L}
         |        AND epoch_ns(ts)//1000000 <= $SubEnd),
         |g AS (SELECT UNNEST(generate_series($SubStart, $SubEnd, ${12 * 3600 * 1000L})) AS et),
         |w AS (SELECT d.cohort, d.grp, g.et AS ws, d.v FROM g
         |      JOIN d ON d.t > g.et - 86400000 AND d.t <= g.et)
         |SELECT cohort, grp AS "user", ws AS timestamp,
         |  ROUND(SUM(v), 6) AS value
         |FROM w GROUP BY cohort, grp, ws
         |ORDER BY cohort, CAST(grp AS BIGINT), ws""".stripMargin,

    "ts71_nested_without" ->
      s"""WITH d AS (SELECT CAST(user_id % 3 AS VARCHAR) AS cohort,
         |        CAST(user_id AS VARCHAR) AS grp,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'),
         |i AS (SELECT cohort, grp, SUM(v) AS sv
         |      FROM d WHERE ${sub()} GROUP BY cohort, grp)
         |SELECT cohort, ROUND(AVG(sv), 6) AS value
         |FROM i GROUP BY cohort ORDER BY cohort""".stripMargin,

    "ts75_set_and" ->
      s"""WITH p AS (SELECT t - ((t - $SubStart) % 43200000) AS ws, v
         |           FROM ${ev("event_type = 'purchase'")} WHERE ${sub()}),
         |c AS (SELECT t - ((t - $SubStart) % 43200000) AS ws
         |      FROM ${ev("event_type = 'click'")} WHERE ${sub()}),
         |pw AS (SELECT ws, ROUND(SUM(v), 6) AS value FROM p GROUP BY ws)
         |SELECT ws AS timestamp, value FROM pw
         |WHERE ws IN (SELECT ws FROM c)
         |ORDER BY timestamp, value""".stripMargin,

    "ts76_set_or_grouped" ->
      s"""WITH base AS (SELECT CAST(user_id AS VARCHAR) AS u,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'),
         |l AS (SELECT u, ROUND(SUM(v), 6) AS value
         |      FROM base WHERE ${sub()} AND v > 400 GROUP BY u),
         |r AS (SELECT u, ROUND(SUM(v), 6) AS value
         |      FROM base WHERE ${sub()} GROUP BY u)
         |SELECT "user", value FROM (
         |  SELECT u AS "user", value FROM l
         |  UNION ALL
         |  SELECT u AS "user", value FROM r
         |  WHERE u NOT IN (SELECT u FROM l))
         |ORDER BY CAST("user" AS BIGINT)""".stripMargin,

    "ts77_set_unless_on" ->
      s"""WITH p AS (SELECT CAST(user_id % 3 AS VARCHAR) AS cohort,
         |        CAST(user_id AS VARCHAR) AS u,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'),
         |c AS (SELECT CAST(user_id AS VARCHAR) AS u,
         |        epoch_ns(ts)//1000000 AS t
         |      FROM events WHERE event_type = 'click'),
         |l AS (SELECT cohort, u, ROUND(SUM(v), 6) AS value
         |      FROM p WHERE ${sub()} GROUP BY cohort, u),
         |x AS (SELECT u FROM c WHERE ${sub()}
         |      GROUP BY u HAVING COUNT(*) > 20)
         |SELECT cohort, u AS "user", value FROM l
         |WHERE u NOT IN (SELECT u FROM x)
         |ORDER BY cohort, CAST(u AS BIGINT)""".stripMargin,

    "ts72_quantile_by" ->
      s"""SELECT CAST(user_id AS VARCHAR) AS "user",
         |  ROUND(quantile_cont(v, 0.9), 6) AS value
         |FROM (SELECT user_id, epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase')
         |WHERE ${sub()} GROUP BY user_id ORDER BY user_id""".stripMargin,

    "ts73_stddev_by" ->
      s"""SELECT CAST(user_id AS VARCHAR) AS "user",
         |  ROUND(stddev_pop(v), 6) AS value
         |FROM (SELECT user_id, epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase')
         |WHERE ${sub()} GROUP BY user_id ORDER BY user_id""".stripMargin,

    "ts74_count_values" ->
      s"""SELECT CAST(v AS VARCHAR) AS v, CAST(COUNT(*) AS DOUBLE) AS value
         |FROM (SELECT epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase')
         |WHERE ${sub()} GROUP BY 1 ORDER BY 1""".stripMargin,

    "ts67_nested_grouped" ->
      s"""WITH d AS (SELECT CAST(user_id % 3 AS VARCHAR) AS cohort,
         |        CAST(user_id AS VARCHAR) AS grp,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'),
         |i AS (SELECT cohort, grp, SUM(v) AS sv
         |      FROM d WHERE ${sub()} GROUP BY cohort, grp)
         |SELECT cohort, ROUND(AVG(sv), 6) AS value
         |FROM i GROUP BY cohort ORDER BY cohort""".stripMargin,

    "ts68_on_group_left" ->
      s"""WITH d AS (SELECT CAST(user_id % 3 AS VARCHAR) AS cohort,
         |        CAST(user_id AS VARCHAR) AS grp,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'),
         |i AS (SELECT cohort, grp, SUM(v) AS sv
         |      FROM d WHERE ${sub()} GROUP BY cohort, grp),
         |c AS (SELECT cohort, SUM(v) AS cv
         |      FROM d WHERE ${sub()} GROUP BY cohort)
         |SELECT i.cohort, i.grp AS "user", ROUND(i.sv / c.cv, 9) AS value
         |FROM i JOIN c ON i.cohort = c.cohort
         |ORDER BY i.cohort, CAST(i.grp AS BIGINT)""".stripMargin,

    "ts69_topk_grouped" ->
      s"""WITH d AS (SELECT CAST(user_id AS VARCHAR) AS u,
         |        epoch_ns(ts)//1000000 AS t
         |      FROM events WHERE event_type = 'purchase'),
         |c AS (SELECT u, CAST(COUNT(*) AS DOUBLE) AS value
         |      FROM d WHERE ${sub()} GROUP BY u)
         |SELECT u AS "user", value FROM c
         |ORDER BY value DESC, u LIMIT 3""".stripMargin,

    "ts64_grouped_ratio" ->
      s"""SELECT CAST(user_id AS VARCHAR) AS "user",
         |  ROUND(SUM(v) / COUNT(*), 6) AS value
         |FROM (SELECT user_id, epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase')
         |WHERE ${sub()} GROUP BY user_id ORDER BY user_id""".stripMargin,

    "ts65_grouped_share" ->
      s"""SELECT CAST(user_id AS VARCHAR) AS "user",
         |  ROUND(SUM(v) / (SELECT SUM(v) FROM ${ev("event_type = 'purchase'")}
         |                  WHERE ${sub()}), 9) AS value
         |FROM (SELECT user_id, epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase')
         |WHERE ${sub()} GROUP BY user_id ORDER BY user_id""".stripMargin,

    "ts62_agg_by_filter" ->
      s"""SELECT CAST(user_id AS VARCHAR) AS "user", ROUND(SUM(v), 6) AS value
         |FROM (SELECT user_id, epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase')
         |WHERE ${sub()} AND v > 100 GROUP BY user_id ORDER BY user_id""".stripMargin,

    "ts63_topk_by" ->
      s"""WITH d AS (SELECT CAST(user_id AS VARCHAR) AS u,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'),
         |r AS (SELECT u, v,
         |        row_number() OVER (PARTITION BY u ORDER BY v DESC, t DESC) AS rk
         |      FROM d WHERE ${sub()})
         |SELECT u AS "user", v AS value FROM r WHERE rk <= 3
         |ORDER BY CAST(u AS BIGINT), value DESC""".stripMargin,

    "ts60_agg_by_promql" ->
      s"""SELECT CAST(user_id AS VARCHAR) AS "user", ROUND(SUM(v), 6) AS value
         |FROM (SELECT user_id, epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase')
         |WHERE ${sub()} GROUP BY user_id ORDER BY user_id""".stripMargin,

    "ts61_range_by_promql" ->
      s"""WITH d AS (SELECT CAST(user_id AS VARCHAR) AS grp,
         |        epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'purchase'),
         |w AS (SELECT grp, t - ((t - $SubStart) % 86400000) AS ws, t, v
         |      FROM d WHERE ${sub()}),
         |l AS (SELECT grp, ws, t, v,
         |        lag(v) OVER (PARTITION BY grp, ws ORDER BY t, v) AS pv FROM w),
         |a AS (SELECT grp, ws,
         |        SUM(CASE WHEN pv IS NULL THEN 0
         |                 WHEN v >= pv THEN v - pv ELSE v END) AS inc,
         |        MIN(t) AS t0, MAX(t) AS t1, COUNT(*) AS n
         |      FROM l GROUP BY grp, ws)
         |SELECT grp AS "user",
         |  ROUND(SUM(inc / ((t1 - t0) / 1000.0)), 6) AS value
         |FROM a WHERE n >= 2 AND t1 > t0
         |GROUP BY grp ORDER BY CAST(grp AS BIGINT)""".stripMargin,

    // Range functions: the oracle recomputes the tumbling-window
    // semantics (RangeFns.scala contract) with a per-window lag pass.
    "ts38_range_rate" ->
      s"""WITH d AS (SELECT t, AVG(v) AS v FROM ${ev("event_type = 'purchase'")}
         |           WHERE ${sub()} GROUP BY t),
         |w AS (SELECT t - ((t - $SubStart) % 86400000) AS ws, t, v FROM d),
         |l AS (SELECT ws, t, v,
         |        lag(v) OVER (PARTITION BY ws ORDER BY t, v) AS pv FROM w),
         |a AS (SELECT ws,
         |        SUM(CASE WHEN pv IS NULL THEN 0
         |                 WHEN v >= pv THEN v - pv ELSE v END) AS inc,
         |        MIN(t) AS t0, MAX(t) AS t1, COUNT(*) AS n
         |      FROM l GROUP BY ws)
         |SELECT ws AS timestamp, ROUND(inc / ((t1 - t0) / 1000.0), 6) AS value
         |FROM a WHERE n >= 2 AND t1 > t0 ORDER BY timestamp""".stripMargin,

    "ts39_range_avg" ->
      s"""WITH w AS (SELECT t - ((t - $SubStart) % 43200000) AS ws, v
         |           FROM ${ev("event_type = 'click'")} WHERE ${sub()})
         |SELECT ws AS timestamp, ROUND(AVG(v), 3) AS value
         |FROM w GROUP BY ws ORDER BY timestamp""".stripMargin,

    "ts40_range_agg" ->
      s"""WITH d AS (SELECT t, AVG(v) AS v FROM ${ev("event_type = 'view'")}
         |           WHERE ${sub()} GROUP BY t),
         |w AS (SELECT t - ((t - $SubStart) % 86400000) AS ws, t, v FROM d),
         |l AS (SELECT ws, v,
         |        lag(v) OVER (PARTITION BY ws ORDER BY t, v) AS pv FROM w),
         |a AS (SELECT ws,
         |        SUM(CASE WHEN pv IS NULL THEN 0
         |                 WHEN v >= pv THEN v - pv ELSE v END) AS inc,
         |        COUNT(*) AS n
         |      FROM l GROUP BY ws)
         |SELECT ROUND(MAX(inc), 6) AS value FROM a WHERE n >= 2""".stripMargin,

    "ts41_range_cmp" ->
      s"""WITH w AS (SELECT t - ((t - $SubStart) % 86400000) AS ws, v
         |           FROM ${ev("event_type = 'purchase'")} WHERE ${sub()}),
         |a AS (SELECT ws, AVG(v) AS value FROM w GROUP BY ws)
         |SELECT ws AS timestamp, ROUND(value, 3) AS value
         |FROM a WHERE value > 46 ORDER BY timestamp""".stripMargin,

    "ts42_stats_downsample" ->
      s"""WITH w AS (SELECT t - ((t - ${SubStart + 1800000L}) % ${6 * 3600 * 1000L}) AS ws, v
         |           FROM ${ev("event_type = 'purchase'")}
         |           WHERE t >= ${SubStart + 1800000L} AND t <= ${SubEnd - 1800001L})
         |SELECT ws AS window_start, COUNT(*) AS n,
         |  ROUND(SUM(v), 4) AS value_sum, MIN(v) AS min_value,
         |  MAX(v) AS max_value, ROUND(SUM(v) / COUNT(*), 6) AS avg_value
         |FROM w GROUP BY ws ORDER BY window_start""".stripMargin,

    "ts43_range_stats" ->
      s"""WITH w AS (SELECT t - ((t - $SubStart) % 86400000) AS ws, v
         |           FROM ${ev("event_type = 'purchase'")} WHERE ${sub()})
         |SELECT ws AS timestamp, ROUND(AVG(v), 3) AS value
         |FROM w GROUP BY ws ORDER BY timestamp""".stripMargin,

    "ts44_dsv2_rollup" ->
      s"""SELECT event_type AS name, t - t % 86400000 AS bucket,
         |  COUNT(*) AS n, ROUND(SUM(v), 4) AS sum_value, MIN(t) AS first_ts
         |FROM (SELECT event_type, epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events)
         |WHERE t >= $SubStart AND t < $SubEnd
         |GROUP BY 1, 2 ORDER BY name, bucket""".stripMargin,

    // regexp_full_match is DuckDB's anchored matcher — the same
    // whole-string contract the engine's \A(?:re)\z anchoring gives.
    "ts89_regex_matcher" ->
      s"""SELECT t AS timestamp, v AS value
         |FROM ${ev("event_type = 'click' AND " +
           "regexp_full_match(CAST(user_id AS VARCHAR), '1.')")}
         |ORDER BY timestamp""".stripMargin,

    "ts90_neg_matchers" ->
      s"""SELECT t AS timestamp, v AS value
         |FROM ${ev("event_type = 'purchase' AND NOT " +
           "regexp_full_match(CAST(user_id AS VARCHAR), '1.*') " +
           "AND CAST(user_id AS VARCHAR) != '25'")}
         |ORDER BY timestamp""".stripMargin,

    "ts91_name_regex" ->
      s"""SELECT ROUND(SUM(v), 6) AS value
         |FROM ${ev("event_type IN ('click', 'view')")}
         |WHERE ${sub()} HAVING SUM(v) IS NOT NULL""".stripMargin,

    "ts92_name_negated" ->
      s"""SELECT COUNT(*) AS value
         |FROM ${ev("event_type IN ('view', 'purchase', 'signup', 'error')")}
         |WHERE ${sub()}""".stripMargin,

    "ts95_time_fn" ->
      s"""SELECT ROUND(SUM(v) + $SubEnd / 1000.0, 3) AS value
         |FROM ${ev("event_type = 'purchase'")}
         |WHERE ${sub()} HAVING SUM(v) IS NOT NULL""".stripMargin,

    "ts96_vector_fn" ->
      s"""SELECT CAST($SubEnd AS BIGINT) AS timestamp,
         |  ROUND($SubEnd / 1000.0 * 2, 6) AS value""".stripMargin,

    // ts98: the recorded stream must equal the sliding daily sum
    // recomputed from the raw events — window (T-1d, T] at each 1d step.
    "ts98_recording_rule" ->
      s"""WITH g AS (SELECT UNNEST(generate_series($SubStart, $SubEnd,
         |        86400000)) AS et),
         |d AS (SELECT t, v FROM ${ev("event_type = 'purchase'")}
         |      WHERE t > ${SubStart - 86400000L} AND t <= $SubEnd),
         |w AS (SELECT g.et, d.v FROM g
         |      JOIN d ON d.t > g.et - 86400000 AND d.t <= g.et)
         |SELECT et AS timestamp, ROUND(SUM(v), 6) AS value
         |FROM w GROUP BY et ORDER BY timestamp""".stripMargin,

    // ts97: the g grid is the SHIFTED step grid (start-1d .. end-1d),
    // windows (et-1d_range, et]; results report at et + 1d.
    "ts97_subquery_offset" ->
      s"""WITH d AS (SELECT t, v FROM ${ev("event_type = 'purchase'")}
         |           WHERE t > ${SubStart - 2 * 86400000L}
         |             AND t <= ${SubEnd - 86400000L}),
         |g AS (SELECT UNNEST(generate_series(${SubStart - 86400000L},
         |        ${SubEnd - 86400000L}, ${12 * 3600 * 1000L})) AS et),
         |w AS (SELECT g.et, d.v FROM g
         |      JOIN d ON d.t > g.et - 86400000 AND d.t <= g.et),
         |inner_series AS (SELECT et + 86400000 AS t, SUM(v) AS v
         |                 FROM w GROUP BY et)
         |SELECT t - ((t - $SubStart) % ${3 * 86400000L}) AS timestamp,
         |  ROUND(MAX(v), 6) AS value
         |FROM inner_series GROUP BY 1 ORDER BY timestamp""".stripMargin,

    "ts93_pow" ->
      s"""SELECT ROUND(AVG(v * v), 3) AS value
         |FROM ${ev("event_type = 'click'")}
         |WHERE ${sub()} HAVING AVG(v * v) IS NOT NULL""".stripMargin,

    // SUM over a DECIMAL literal is DECIMAL in DuckDB — cast to DOUBLE
    // (the SUM(BIGINT)→HUGEINT gotcha's sibling).
    "ts94_bool_cmp" ->
      s"""SELECT ROUND(CAST(SUM(CASE WHEN v >= 150 THEN 1.0 ELSE 0.0 END)
         |  AS DOUBLE), 6) AS value
         |FROM ${ev("event_type = 'purchase'")}
         |WHERE ${sub()}
         |HAVING SUM(CASE WHEN v >= 150 THEN 1.0 ELSE 0.0 END) IS NOT NULL"""
        .stripMargin,

    "ts01_select_range" ->
      s"""SELECT t AS timestamp, v AS value FROM ${ev("event_type = 'purchase'")}
         |WHERE ${sub()} ORDER BY timestamp""".stripMargin,

    "ts02_select_label" ->
      s"""SELECT t AS timestamp, v AS value
         |FROM ${ev("event_type = 'click' AND user_id = 12")}
         |ORDER BY timestamp""".stripMargin,

    "ts03_cmp_filter" ->
      s"""SELECT t AS timestamp, v AS value FROM ${ev("event_type = 'purchase'")}
         |WHERE ${sub()} AND v > 150 ORDER BY timestamp""".stripMargin,

    "ts04_arith" ->
      s"""SELECT t AS timestamp, ROUND(v * 2 + 1, 6) AS value
         |FROM ${ev("event_type = 'click'")} WHERE ${sub()} ORDER BY timestamp""".stripMargin,

    "ts05_sum" ->
      s"""SELECT ROUND(SUM(v), 6) AS value FROM ${ev("event_type = 'purchase'")}
         |WHERE ${sub()} HAVING SUM(v) IS NOT NULL""".stripMargin,

    "ts06_count" ->
      s"""SELECT COUNT(*) AS value FROM ${ev("event_type = 'purchase'")}
         |WHERE ${sub()}""".stripMargin,

    "ts07_avg" ->
      s"""SELECT ROUND(AVG(v), 3) AS value FROM ${ev("event_type = 'purchase'")}
         |WHERE ${sub()} HAVING AVG(v) IS NOT NULL""".stripMargin,

    "ts08_min" ->
      s"""SELECT MIN(v) AS value FROM ${ev("event_type = 'purchase'")}
         |WHERE ${sub()} HAVING MIN(v) IS NOT NULL""".stripMargin,

    "ts09_max" ->
      s"""SELECT MAX(v) AS value FROM ${ev("event_type = 'purchase'")}
         |WHERE ${sub()} HAVING MAX(v) IS NOT NULL""".stripMargin,

    "ts10_sum_empty" ->
      s"""SELECT SUM(v) AS value FROM ${ev("event_type = 'purchase'")}
         |WHERE ${sub()} AND v > 100000 HAVING SUM(v) IS NOT NULL""".stripMargin,

    "ts11_count_empty" ->
      s"""SELECT COUNT(*) AS value FROM ${ev("event_type = 'purchase'")}
         |WHERE ${sub()} AND v > 100000""".stripMargin,

    "ts12_topk" ->
      s"""SELECT v AS value FROM ${ev("event_type = 'click'")}
         |WHERE ${sub()} ORDER BY v DESC, t DESC LIMIT 100""".stripMargin,

    "ts13_bottomk" ->
      s"""SELECT v AS value FROM ${ev("event_type = 'click'")}
         |WHERE ${sub()} ORDER BY v ASC, t DESC LIMIT 100""".stripMargin,

    "ts14_div_scalar_sub" ->
      s"""SELECT t AS timestamp,
         |  ROUND(v / (SELECT SUM(v) FROM ${ev("event_type = 'purchase'")}
         |             WHERE ${sub()}), 9) AS value
         |FROM ${ev("event_type = 'purchase'")} WHERE ${sub()}
         |ORDER BY timestamp""".stripMargin,

    "ts15_s2s" ->
      s"""SELECT ROUND(
         |  (SELECT SUM(v) FROM ${ev("event_type = 'purchase'")} WHERE ${sub()}) /
         |  (SELECT COUNT(*) FROM ${ev("event_type = 'purchase'")} WHERE ${sub()}),
         |  6) AS value""".stripMargin,

    "ts16_at_offset" ->
      s"""SELECT ROUND(SUM(v), 6) AS value FROM ${ev("event_type = 'purchase'")}
         |WHERE t >= ${1704499200000L + 30 * 60000L} AND t <= $SubEnd
         |HAVING SUM(v) IS NOT NULL""".stripMargin,

    "ts18_stats_agg" ->
      s"""SELECT COUNT(*) AS n, ROUND(SUM(v), 6) AS value_sum,
         |  MIN(v) AS min_value, MAX(v) AS max_value,
         |  ROUND(SUM(v) / COUNT(*), 6) AS avg_value
         |FROM ${ev("event_type = 'purchase'")}
         |WHERE t >= ${SubStart + 1800000L} AND t <= ${SubEnd - 1800001L}""".stripMargin,

    "ts19_asof_join" ->
      s"""WITH p AS (SELECT user_id, epoch_ns(ts)//1000000 AS t, value
         |           FROM events WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, epoch_ns(ts)//1000000 AS t, AVG(value) AS click_value
         |      FROM events WHERE event_type = 'click' GROUP BY 1, 2)
         |SELECT p.user_id, p.t AS timestamp, p.value, c.click_value AS last_click
         |FROM p ASOF LEFT JOIN c
         |  ON p.user_id = c.user_id AND p.t >= c.t
         |ORDER BY p.user_id, timestamp""".stripMargin,

    "ts31_asof_tolerance" ->
      s"""WITH p AS (SELECT user_id, epoch_ns(ts)//1000000 AS t, value
         |           FROM events WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, epoch_ns(ts)//1000000 AS t, AVG(value) AS click_value
         |      FROM events WHERE event_type = 'click' GROUP BY 1, 2)
         |SELECT p.user_id, p.t AS timestamp, p.value,
         |  CASE WHEN p.t - c.t <= ${3600 * 1000L} THEN c.click_value END
         |    AS recent_click
         |FROM p ASOF LEFT JOIN c
         |  ON p.user_id = c.user_id AND p.t >= c.t
         |ORDER BY p.user_id, timestamp""".stripMargin,

    "ts20_downsample" ->
      s"""WITH g AS (
         |  SELECT t - (t % ${6 * 3600 * 1000L}) AS bucket, COUNT(*) AS n,
         |    CAST(SUM(CAST(v AS DECIMAL(28,8))) * 1000000 AS BIGINT) AS sm,
         |    MIN(v) AS min_value, MAX(v) AS max_value
         |  FROM ${ev("event_type = 'view'")} GROUP BY 1)
         |SELECT 'view' AS name, bucket, n,
         |  (2 * sm + n) // (2 * n) AS avg_micros,
         |  min_value, max_value, sm AS sum_micros
         |FROM g ORDER BY bucket""".stripMargin,

    "ts21_agg_by" ->
      s"""SELECT CAST(user_id AS VARCHAR) AS "group", ROUND(SUM(v), 6) AS value
         |FROM (SELECT user_id, epoch_ns(ts)//1000000 AS t, value AS v
         |      FROM events WHERE event_type = 'click')
         |WHERE ${sub()} GROUP BY user_id ORDER BY user_id""".stripMargin,

    "ts22_rate" ->
      s"""SELECT 'purchase' AS name, t - (t % ${6 * 3600 * 1000L}) AS bucket,
         |  ROUND(arg_max(v, t) - arg_min(v, t), 6) AS delta,
         |  ROUND(CASE WHEN MAX(t) > MIN(t)
         |    THEN (arg_max(v, t) - arg_min(v, t)) / ((MAX(t) - MIN(t)) / 1000.0)
         |    ELSE 0 END, 9) AS rate_per_sec
         |FROM ${ev("event_type = 'purchase'")}
         |GROUP BY 2 ORDER BY bucket""".stripMargin,

    "ts23_funnel" ->
      s"""WITH e AS (SELECT user_id, epoch_ns(ts)//1000000 AS t, event_type FROM events),
         |u AS (SELECT user_id, MIN(t) AS s FROM e WHERE event_type = 'signup' GROUP BY 1),
         |c AS (SELECT u.user_id FROM u WHERE EXISTS (
         |  SELECT 1 FROM e WHERE e.user_id = u.user_id
         |    AND e.event_type = 'purchase' AND e.t > u.s))
         |SELECT (SELECT COUNT(*) FROM u) AS n_signup,
         |       (SELECT COUNT(*) FROM c) AS n_converted,
         |       ROUND((SELECT COUNT(*) FROM c)::DOUBLE /
         |             (SELECT COUNT(*) FROM u), 6) AS conversion""".stripMargin,

    "ts24_align_bucketed" ->
      s"""WITH a AS (SELECT t, AVG(v) AS v FROM ${ev("event_type = 'click'")}
         |           WHERE ${sub()} GROUP BY t),
         |b AS (SELECT t, AVG(v) AS v FROM ${ev("event_type = 'view'")}
         |      WHERE ${sub()} GROUP BY t),
         |u AS (SELECT COALESCE(a.t, b.t) AS t, a.v AS av, b.v AS bv
         |      FROM a FULL OUTER JOIN b ON a.t = b.t),
         |w AS (SELECT t, av, bv,
         |  last_value(av IGNORE NULLS) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pav,
         |  last_value(CASE WHEN av IS NOT NULL THEN t END IGNORE NULLS) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pat,
         |  first_value(av IGNORE NULLS) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nav,
         |  first_value(CASE WHEN av IS NOT NULL THEN t END IGNORE NULLS) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nat,
         |  last_value(bv IGNORE NULLS) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pbv,
         |  last_value(CASE WHEN bv IS NOT NULL THEN t END IGNORE NULLS) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pbt,
         |  first_value(bv IGNORE NULLS) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nbv,
         |  first_value(CASE WHEN bv IS NOT NULL THEN t END IGNORE NULLS) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nbt
         |  FROM u)
         |SELECT t AS timestamp, ROUND(
         |  (CASE WHEN av IS NOT NULL THEN av
         |        WHEN pav IS NULL THEN nav
         |        WHEN nav IS NULL THEN pav
         |        ELSE pav + (nav - pav) * (t - pat) / (nat - pat) END) +
         |  (CASE WHEN bv IS NOT NULL THEN bv
         |        WHEN pbv IS NULL THEN nbv
         |        WHEN nbv IS NULL THEN pbv
         |        ELSE pbv + (nbv - pbv) * (t - pbt) / (nbt - pbt) END), 6) AS value
         |FROM w ORDER BY timestamp""".stripMargin,

    "ts28_gapfill" ->
      s"""WITH d AS (SELECT t - (t % 3600000) AS bucket,
         |    CAST(SUM(CAST(v AS DECIMAL(28,8))) * 1000000 AS BIGINT) AS sm
         |  FROM ${ev("event_type = 'purchase'")} GROUP BY 1),
         |r AS (SELECT MIN(bucket) AS b0, MAX(bucket) AS b1 FROM d),
         |g AS (SELECT unnest(range(b0, b1 + 1, 3600000)) AS bucket FROM r),
         |j AS (SELECT g.bucket, d.sm FROM g LEFT JOIN d ON g.bucket = d.bucket)
         |SELECT 'purchase' AS name, bucket,
         |  last_value(sm IGNORE NULLS) OVER (ORDER BY bucket
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_micros,
         |  sm IS NULL AS filled
         |FROM j ORDER BY bucket""".stripMargin,

    "ts30_gapfill_linear" ->
      s"""WITH d AS (SELECT t - (t % 3600000) AS bucket,
         |    CAST(SUM(CAST(v AS DECIMAL(28,8))) * 1000000 AS BIGINT) AS sm
         |  FROM ${ev("event_type = 'purchase'")} GROUP BY 1),
         |r AS (SELECT MIN(bucket) AS b0, MAX(bucket) AS b1 FROM d),
         |g AS (SELECT unnest(range(b0, b1 + 1, 3600000)) AS bucket FROM r),
         |j AS (SELECT g.bucket, d.sm FROM g LEFT JOIN d ON g.bucket = d.bucket),
         |p AS (SELECT bucket, sm,
         |    last_value(sm IGNORE NULLS) OVER (ORDER BY bucket
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         |    last_value(CASE WHEN sm IS NOT NULL THEN bucket END IGNORE NULLS)
         |      OVER (ORDER BY bucket
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
         |    last_value(sm IGNORE NULLS) OVER (ORDER BY bucket DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nv,
         |    last_value(CASE WHEN sm IS NOT NULL THEN bucket END IGNORE NULLS)
         |      OVER (ORDER BY bucket DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nb
         |  FROM j)
         |SELECT 'purchase' AS name, bucket,
         |  ROUND(CASE WHEN sm IS NOT NULL THEN CAST(sm AS DOUBLE)
         |    WHEN pb IS NOT NULL AND nb IS NOT NULL THEN
         |      CAST(pv AS DOUBLE) + CAST(nv - pv AS DOUBLE) *
         |        CAST(bucket - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE)
         |    ELSE NULL END, 6) AS sum_micros,
         |  sm IS NULL AS filled
         |FROM p ORDER BY bucket""".stripMargin,

    "ts26_scalar_left" ->
      s"""SELECT t AS timestamp, ROUND(1000 - v, 6) AS value
         |FROM ${ev("event_type = 'purchase'")}
         |WHERE ${sub()} ORDER BY timestamp""".stripMargin,

    "ts29_range_join" ->
      s"""WITH e AS (SELECT event_type AS name, epoch_ns(ts)//1000000 AS t,
         |           value AS v FROM events),
         |n AS (SELECT DISTINCT name FROM e),
         |iv AS (SELECT name, CAST(i AS INT) AS interval_id,
         |    $SubStart + i * ${25 * 3600 * 1000L} AS start_ms,
         |    $SubStart + i * ${25 * 3600 * 1000L} + ${90 * 60 * 1000L} AS end_ms
         |  FROM n CROSS JOIN range(0, 10) r(i))
         |SELECT iv.name, interval_id, start_ms, COUNT(*) AS n_events,
         |  CAST(SUM(CAST(v AS DECIMAL(28,8))) * 1000000 AS BIGINT) AS sum_micros
         |FROM iv JOIN e ON e.name = iv.name
         |  AND e.t >= iv.start_ms AND e.t < iv.end_ms
         |GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin,

    "ts27_mod" ->
      s"""SELECT t AS timestamp, ROUND(fmod(v, 7), 6) AS value
         |FROM ${ev("event_type = 'purchase'")}
         |WHERE ${sub()} ORDER BY timestamp""".stripMargin,

    "ts25_chain_align" ->
      s"""WITH a AS (SELECT t, AVG(v) AS v FROM ${ev("event_type = 'click'")}
         |           WHERE ${sub()} GROUP BY t),
         |b AS (SELECT t, AVG(v) AS v FROM ${ev("event_type = 'view'")}
         |      WHERE ${sub()} GROUP BY t),
         |c AS (SELECT t, AVG(v) AS v FROM ${ev("event_type = 'purchase'")}
         |      WHERE ${sub()} GROUP BY t),
         |${alignCtes("a", "b", "s1")},
         |${alignCtes("s1", "c", "s2")}
         |SELECT t AS timestamp, ROUND(v, 6) AS value FROM s2
         |ORDER BY timestamp""".stripMargin,

    "ts17_align_interp" ->
      s"""WITH a AS (SELECT t, AVG(v) AS v FROM ${ev("event_type = 'click'")}
         |           WHERE ${sub()} GROUP BY t),
         |b AS (SELECT t, AVG(v) AS v FROM ${ev("event_type = 'view'")}
         |      WHERE ${sub()} GROUP BY t),
         |u AS (SELECT COALESCE(a.t, b.t) AS t, a.v AS av, b.v AS bv
         |      FROM a FULL OUTER JOIN b ON a.t = b.t),
         |w AS (SELECT t, av, bv,
         |  last_value(av IGNORE NULLS) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pav,
         |  last_value(CASE WHEN av IS NOT NULL THEN t END IGNORE NULLS) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pat,
         |  first_value(av IGNORE NULLS) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nav,
         |  first_value(CASE WHEN av IS NOT NULL THEN t END IGNORE NULLS) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nat,
         |  last_value(bv IGNORE NULLS) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pbv,
         |  last_value(CASE WHEN bv IS NOT NULL THEN t END IGNORE NULLS) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pbt,
         |  first_value(bv IGNORE NULLS) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nbv,
         |  first_value(CASE WHEN bv IS NOT NULL THEN t END IGNORE NULLS) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nbt
         |  FROM u)
         |SELECT t AS timestamp, ROUND(
         |  (CASE WHEN av IS NOT NULL THEN av
         |        WHEN pav IS NULL THEN nav
         |        WHEN nav IS NULL THEN pav
         |        ELSE pav + (nav - pav) * (t - pat) / (nat - pat) END) +
         |  (CASE WHEN bv IS NOT NULL THEN bv
         |        WHEN pbv IS NULL THEN nbv
         |        WHEN nbv IS NULL THEN pbv
         |        ELSE pbv + (nbv - pbv) * (t - pbt) / (nbt - pbt) END), 6) AS value
         |FROM w ORDER BY timestamp""".stripMargin
  )
}
