package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal
import graft.tsdb.{GraftDb, VType}
import graft.tsdb.TsdbFixtures.spark

/** End-to-end specs for the embedded-DB facade, multimodal plumbing, and
  * streaming ingestion.
  */
class LibrarySpec extends AnyFunSuite {

  test("GraftDb create/insert/flush/query round-trip (lib.rs:1188-1193 scenario)") {
    val dir = Files.createTempDirectory("graftdb").toString
    val db = new GraftDb(spark, dir)
    db.createStream("http_requests_total{service=\"web\"}", VType.U64)
    db.createStream("http_requests_total{service=\"mobile\"}", VType.U64)
    val ins = db.inserter("http_requests_total{service=\"web\"}")
    Seq(23L -> 45d, 29L -> 47d, 40L -> 23d, 51L -> 48d)
      .foreach { case (t, v) => ins.insert(t, v) }
    ins.flush()
    val ins2 = db.inserter("http_requests_total{service=\"mobile\"}")
    ins2.insert(25L, 10d); ins2.flush()

    val sum = db.query("sum(http_requests_total{service=\"web\"})", 23, 51)
    assert(sum.output.collect().map(_.getLong(0)).toSeq == Seq(163L))

    // duplicate stream creation rejected
    intercept[IllegalArgumentException](
      db.createStream("http_requests_total{service=\"web\"}", VType.U64))
    // ambiguous inserter selector rejected (matches both streams)
    intercept[IllegalArgumentException](db.inserter("http_requests_total"))

    val desc = db.describeStreams().collect()
    assert(desc.length == 2)
    assert(desc.map(_.getAs[Long]("n_samples")).sum == 5)
  }

  test("GraftDb: concurrent first opens of one store all see its bucket width") {
    // the race is timing-dependent: before the atomic first write, an
    // opener could read a half-written bucket_ms ("".toLong throws)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      for (_ <- 1 to 5) {
        val dir = Files.createTempDirectory("graftdb_open").resolve("store")
        val go = new java.util.concurrent.CountDownLatch(1)
        val opens = Seq.fill(8)(Future { go.await(); new GraftDb(spark, dir.toString) })
        go.countDown()
        Await.result(Future.sequence(opens), 30.seconds)
        assert(Files.readString(dir.resolve("bucket_ms")) == "3600000")
        import scala.jdk.CollectionConverters._
        assert(scala.util.Using.resource(Files.list(dir))(_.iterator().asScala
          .map(_.getFileName.toString).toList) == List("bucket_ms"))
      }
    } finally pool.shutdown()
  }

  test("range fns via engine(serveFromStats): opt-in, equal when fresh, stale by contract") {
    val dir = Files.createTempDirectory("graftdb_rf").toString
    val db = new GraftDb(spark, dir, bucketMs = 10L)
    db.createStream("m", VType.F64)
    val ins = db.inserter("m")
    Seq(1L -> 1.0, 5L -> 3.0, 11L -> 5.0, 15L -> 7.0)
      .foreach { case (t, v) => ins.insert(t, v) }
    ins.flush()
    db.refreshStats()
    def run(e: graft.tsdb.TsdbEngine) =
      graft.tsdb.TsdbFixtures.vectorOf(e.query("sum_over_time(m[10ms])", 0, 19)).toMap
    // fresh stats: the sidecar-served answer equals the raw scan
    assert(run(db.engine()) === Map(0L -> 4.0, 10L -> 12.0))
    assert(run(db.engine(serveFromStats = true)) === Map(0L -> 4.0, 10L -> 12.0))
    // a write WITHOUT refreshStats: raw sees it, the opt-in stats path
    // serves the bounded-staleness answer (the documented fastAggregate
    // contract — why serveFromStats is NOT the default)
    val ins2 = db.inserter("m"); ins2.insert(7L, 100.0); ins2.flush()
    assert(run(db.engine()) === Map(0L -> 104.0, 10L -> 12.0))
    assert(run(db.engine(serveFromStats = true)) === Map(0L -> 4.0, 10L -> 12.0))
    db.refreshStats()
    assert(run(db.engine(serveFromStats = true)) === Map(0L -> 104.0, 10L -> 12.0))
  }

  test("GraftDb full lifecycle: flushes -> compact -> stats -> expire -> export") {
    val dir = Files.createTempDirectory("graftdb_life").toString
    val db = new GraftDb(spark, dir)
    db.createStream("m", VType.U64)
    val hour = 3600 * 1000L
    // three flushes across two hourly buckets -> multiple delta files
    for (batch <- 0 until 3) {
      val ins = db.inserter("m")
      ins.insert(batch * 10L, (batch + 1).toLong)          // bucket 0
      ins.insert(hour + batch * 10L, (batch + 11).toLong)  // bucket 1
      ins.flush()
    }
    assert(db.query("sum(m)", 0, 10 * hour).output.head().getLong(0) == 42L)
    // compact the small files, then build stats over the compacted store
    assert(db.compact(maxFilesPerPartition = 1) == 2L)
    db.refreshStats()
    assert(db.fastAggregate("m", 0, 10 * hour - 1)
      .head().getAs[Double]("value_sum") == 42.0)
    // retention drops bucket 0 (data AND its stats rows)
    assert(db.expire(hour) == 1L)
    assert(db.query("sum(m)", 0, 10 * hour).output.head().getLong(0) == 36L)
    assert(db.fastAggregate("m", 0, 10 * hour - 1)
      .head().getAs[Double]("value_sum") == 36.0)
    // export what survived
    val csv = Files.createTempDirectory("graftdb_life_csv").toString + "/out"
    db.exportCsv("m", 0, 10 * hour, csv)
    val rows = spark.read.option("header", "true").csv(csv).count()
    assert(rows == 3L)
    // a second expire is a no-op; the remaining bucket stays compact
    assert(db.expire(hour) == 0L)
    assert(db.compact(maxFilesPerPartition = 1) == 0L)
  }

  test("GraftDb 100k-row roundtrip (lib.rs:654-699 scenario)") {
    val root = java.nio.file.Files.createTempDirectory("graft_100k").toString
    val db = new graft.tsdb.GraftDb(spark, root)
    db.createStream("""bulk{kind = "seq"}""", graft.tsdb.VType.U64)
    val ins = db.inserter("""bulk{kind = "seq"}""")
    var i = 0L
    while (i < 100000L) { ins.insert(i, i); i += 1 }
    ins.flush()
    // full-range scan returns every row in timestamp order
    val res = db.query("""bulk{kind = "seq"}""", 0L, 200000L)
    val n = res.output.count()
    assert(n == 100000L)
    // exact integer sum: 0 + 1 + ... + 99999
    val sum = db.query("""sum(bulk{kind = "seq"})""", 0L, 200000L)
      .output.head().getLong(0)
    assert(sum == 100000L * 99999L / 2)
  }

  test("importFrame bulk ingest: integer streams keep exact i64") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graftdb_if").toString
    val db = new GraftDb(spark, dir)
    db.createStream("""bulk{k="1"}""", VType.I64)
    val big = (1L << 60) + 3 // not representable in a double
    db.importFrame("""bulk{k="1"}""",
      Seq((10L, big), (20L, big + 1)).toDF("timestamp", "value"))
    val got = db.query("bulk", 0L, 100L).output
      .orderBy("timestamp").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq(10L -> big, 20L -> (big + 1)))
    // unknown selector rejects before any write
    intercept[IllegalArgumentException](
      db.importFrame("nope", Seq((1L, 1L)).toDF("timestamp", "value")))
  }

  test("recordGrouped: per-group derived streams, null group, rejections phantom-free") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graftdb_rg").toString
    val db = new GraftDb(spark, dir)
    // two labeled series plus one WITHOUT the label (the null group).
    // The bare stream ingests FIRST — once labeled siblings exist the
    // bare selector names all three (importFrame's exactly-1 rule)
    db.createStream("req", VType.F64)
    db.importFrame("req", Seq((30L, 32d)).toDF("timestamp", "value"))
    db.createStream("""req{svc="a"}""", VType.F64)
    db.createStream("""req{svc="b"}""", VType.F64)
    db.importFrame("""req{svc="a"}""",
      Seq((10L, 1d), (20L, 2d), (30L, 4d)).toDF("timestamp", "value"))
    db.importFrame("""req{svc="b"}""",
      Seq((10L, 8d)).toDF("timestamp", "value"))
    val n = db.recordGrouped("req_sum", "sum_over_time(req[20ms])",
      graft.tsdb.Expr.Grouping(by = true, List("svc")), 20L, 40L, 20L)
    // windows (0,20] / (20,40]: a → 3 / 4; b → 8 / -; null → - / 32
    assert(n == 4L)
    // per-group streams exist, the null group WITHOUT the label
    val defs = db.streams().filter(_.name == "req_sum")
    assert(defs.map(_.labels).toSet == Set(
      Map("svc" -> "a"), Map("svc" -> "b"), Map.empty[String, String]))
    // per-series read-back through normal selectors
    def series(sel: String) = db.query(sel, 0L, 100L).output
      .orderBy("timestamp").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(series("""req_sum{svc="a"}""").toSeq == Seq(20L -> 3d, 40L -> 4d))
    assert(series("""req_sum{svc="b"}""").toSeq == Seq(20L -> 8d))
    assert(series("""req_sum{svc=""}""").toSeq == Seq(40L -> 32d))
    // and the grouped rollup composes over the derived family
    val roll = db.query("sum by (svc) (req_sum)", 0L, 100L).output
      .collect().map(r => (Option(r.getString(0)), r.getDouble(1))).toSet
    assert(roll == Set(Some("a") -> 7d, Some("b") -> 8d,
      (None: Option[String]) -> 32d), roll)
    // occupied window rejects (name-level probe covers every group)
    val dup = intercept[IllegalArgumentException](
      db.recordGrouped("req_sum", "sum_over_time(req[20ms])",
        graft.tsdb.Expr.Grouping(by = true, List("svc")), 20L, 40L, 20L))
    assert(dup.getMessage.contains("duplicate"), dup.getMessage)
    // `without` and labeled targets reject BEFORE any write; a failed
    // rule leaves no phantom streams
    intercept[IllegalArgumentException](
      db.recordGrouped("req_w", "sum_over_time(req[20ms])",
        graft.tsdb.Expr.Grouping(by = false, List("svc")), 50L, 60L, 10L))
    intercept[IllegalArgumentException](
      db.recordGrouped("""req_l{x="1"}""", "sum_over_time(req[20ms])",
        graft.tsdb.Expr.Grouping(by = true, List("svc")), 50L, 60L, 10L))
    assert(!db.streams().exists(d => d.name == "req_w" || d.name == "req_l"))
  }

  test("appendGroupedFrame: 1k new groups = one catalog append, not G re-parses") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graftdb_batch").toString
    val db = new GraftDb(spark, dir)
    val frame = (1 to 1000).map(i => (i.toString, (i * 10).toLong, i.toDouble))
      .toDF("u", "timestamp", "value")
    val before = db.catalogParses
    db.appendGroupedFrame("bulk", Seq("u"), frame)
    assert(db.streams().count(_.name == "bulk") == 1000)
    // the batched registration path: per-group registerStream would
    // invalidate the memo per write and re-parse the 1k-line catalog
    // ~1k times (O(G²) line work); the batch does ONE existence
    // snapshot + ONE append + ONE invalidate
    val parses = db.catalogParses - before
    assert(parses <= 3, s"batched registration re-parsed the catalog $parses times")
    // re-appending the same groups registers nothing new (no dup defs)
    db.appendGroupedFrame("bulk", Seq("u"), frame)
    assert(db.streams().count(_.name == "bulk") == 1000)
  }

  test("GraftDb csv import + export round-trip") {
    val dir = Files.createTempDirectory("graftcsv").toString
    val csv = Files.createTempDirectory("csvin").resolve("s.csv")
    Files.writeString(csv, "Timestamp,Value\n23,45\n29,47\n40,23\n51,48\n")
    val db = new GraftDb(spark, dir)
    db.createStream("imported", VType.U64)
    db.importCsv("imported", csv.toString)
    val res = db.query("imported", 0, 100)
    assert(res.output.orderBy("timestamp").collect().map(_.getLong(1)).toSeq ==
      Seq(45L, 47L, 23L, 48L))
    val out = Files.createTempDirectory("csvout").toString + "/exp"
    db.exportCsv("imported", 0, 100, out)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() == 4)
  }

  test("multimodal: stub feature extraction is deterministic and distributed") {
    import spark.implicits._
    val docs = spark.createDataset(Seq(
      (1L, "abcdefghij"), (2L, "klmnopqrst"), (3L, "abcdefghij")))
      .toDF("doc_id", "text")
      .withColumn("payload", encode(col("text"), "UTF-8"))
    val media = Multimodal.asMedia(docs, "doc_id", "payload", "jpeg")
    assert(media.schema.fieldNames.toSeq == Seq("id", "payload", "meta"))
    val feats = Multimodal
      .extractFeatures(media.as[Multimodal.MediaRow], dim = 8)
      .collect().sortBy(_.id)
    assert(feats.length == 3)
    assert(feats.forall(_.features.length == 8))
    // identical payloads → identical features; different → different
    assert(feats(0).features.toSeq == feats(2).features.toSeq)
    assert(feats(0).features.toSeq != feats(1).features.toSeq)
    // repartitioning must not change results
    val feats4 = Multimodal
      .extractFeatures(media.repartition(4).as[Multimodal.MediaRow], dim = 8)
      .collect().sortBy(_.id)
    assert(feats4.map(_.features.toSeq).toSeq == feats.map(_.features.toSeq).toSeq)
  }

  test("multimodal: chunk sampling keeps every stride-th chunk") {
    import spark.implicits._
    val df = Seq((1L, "AAAABBBBCCCCDDDDEEEE")).toDF("id", "text")
      .withColumn("payload", encode(col("text"), "UTF-8"))
    val out = Multimodal.sampleChunks(df, "payload", chunkBytes = 4, stride = 2)
      .select(transform(col("sampled_chunks"), c => decode(c, "UTF-8")).as("s"))
      .head().getSeq[String](0)
    assert(out == Seq("AAAA", "CCCC", "EEEE"))
  }

  test("salted join equals plain join") {
    import spark.implicits._
    val left = Seq((1L, "a"), (1L, "b"), (2L, "c"), (1L, "d")).toDF("k", "lv")
    val right = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "rv")
    val plain = left.join(right, "k").select("k", "lv", "rv")
      .collect().map(_.toSeq).toSet
    val salted = graft.operators.SaltedJoin.inner(left, right, "k")
      .select("k", "lv", "rv").collect().map(_.toSeq).toSet
    assert(salted == plain)
  }

  test("rate/delta per bucket") {
    import spark.implicits._
    val data = Seq(("m", 0L, 10.0), ("m", 2000L, 16.0), ("m", 9000L, 30.0),
      ("m", 10000L, 5.0), ("m", 12000L, 7.0))
      .toDF("name", "timestamp", "value")
    val r = graft.operators.Rate(data, 10000L).orderBy("bucket").collect()
    assert(r.length == 2)
    assert(r(0).getAs[Double]("delta") == 20.0)          // 30 - 10 over 9s
    assert(math.abs(r(0).getAs[Double]("rate_per_sec") - 20.0 / 9.0) < 1e-9)
    assert(r(1).getAs[Double]("delta") == 2.0)           // 7 - 5 over 2s
    assert(r(1).getAs[Double]("rate_per_sec") == 1.0)
  }

  test("queryJson matches the web-backend response shape") {
    val dir = Files.createTempDirectory("graftjson").toString
    val db = new GraftDb(spark, dir)
    db.createStream("m", VType.U64)
    val ins = db.inserter("m")
    ins.insert(10L, 4d); ins.insert(20L, 6d); ins.flush()
    assert(db.queryJson("m", 0, 100) ==
      """[{"timestamp":10,"value":4},{"timestamp":20,"value":6}]""")
    assert(db.queryJson("sum(m)", 0, 100) == "[10]")
  }

  test("streaming: windowed stats with watermark over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Double)]
    val raw = mem.toDF().toDF("name", "timestamp", "value")
    val stats = graft.streaming.Ingest.windowedStats(raw,
      windowMs = 1000, latenessMs = 500)
    val q = stats.writeStream.format("memory")
      .queryName("win_stats").outputMode("append").start()
    try {
      mem.addData(("m", 100L, 1d), ("m", 200L, 2d), ("m", 1100L, 10d))
      q.processAllAvailable()
      // watermark passes window [0,1000) once event-time reaches 1500
      mem.addData(("m", 2000L, 5d))
      q.processAllAvailable()
      val rows = spark.table("win_stats")
        .orderBy("window_start").collect()
      assert(rows.nonEmpty)
      val first = rows.head
      assert(first.getAs[Long]("window_start") == 0L)
      assert(first.getAs[Long]("n") == 2L)
      assert(first.getAs[Double]("value_sum") == 3d)
    } finally q.stop()
  }

  test("streaming: append to partitioned store and read back") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("ingest").toString
    val mem = MemoryStream[(String, Long, Double)]
    val series = graft.streaming.Ingest.toSeries(
      mem.toDF().toDF("name", "timestamp", "value"), bucketMs = 1000)
    val q = graft.streaming.Ingest
      .appendToStore(series, s"$dir/data", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    mem.addData(("m", 100L, 1d), ("m", 1100L, 2d), ("n", 100L, 3d))
    q.awaitTermination(60000)
    val back = spark.read.parquet(s"$dir/data")
    assert(back.count() == 3)
    // partition pruning works on (name, bucket)
    assert(back.where(col("name") === "m" && col("bucket") === 0L).count() == 1)
  }

  test("mm05: StubDecoder golden vector (decode-seam pin, not DuckDB-expressible)") {
    // the wrapping 64-bit rolling-hash arithmetic cannot be expressed
    // in the DuckDB oracle (BIGINT overflow throws), so the seam is
    // pinned Spark-side: golden values independently derived from a
    // bit-exact reference simulation of the spec'd algorithm
    val got = Multimodal.StubDecoder.features(
      "multimodal golden".getBytes("UTF-8"),
      Multimodal.MediaMeta("jpeg", 0, 0, 17L), dim = 8)
    val want = Array(2.333984375f, -0.115234375f, 0.0f, -0.423828125f,
      0.9990234375f, 2.4140625f, -0.779296875f, 1.185546875f)
    assert(got.toSeq == want.toSeq)
    assert(Multimodal.StubDecoder.features(
        "graft".getBytes("UTF-8"),
        Multimodal.MediaMeta("wav", 0, 0, 5L), dim = 4).toSeq
      == Seq(0.9990234375f, 0.998046875f, 0.9990234375f, 0.9990234375f))
  }

  test("mm05: decoder initializes once per task, features invariant to partitioning") {
    import spark.implicits._
    val rows = (1L to 64L)
      .map(i => Multimodal.MediaRow(i, s"payload-$i".getBytes("UTF-8"),
        Multimodal.MediaMeta("jpeg", 0, 0, 10L)))
    CountingDecoder.inits.set(0)
    val ds8 = spark.createDataset(rows).repartition(8)
    val feats8 = Multimodal.extractFeatures(ds8, dim = 4, new CountingDecoder)
      .collect().map(f => f.id -> f.features.toSeq).toMap
    // one init per TASK (8 partitions), never per row (64)
    assert(CountingDecoder.inits.get == 8,
      s"decoder inits = ${CountingDecoder.inits.get}, expected one per partition")
    val ds1 = spark.createDataset(rows).coalesce(1)
    val feats1 = Multimodal.extractFeatures(ds1, dim = 4)
      .collect().map(f => f.id -> f.features.toSeq).toMap
    assert(feats8 == feats1, "features must not depend on partitioning")
  }

  test("shared-pass caches and curate's persists have a release path") {
    import graft.queries.Pipeline
    // suites share one session: start from a clean cache slate
    Pipeline.clearCaches()
    spark.catalog.clearCache()
    val cm = spark.sharedState.cacheManager
    assert(cm.isEmpty)
    val sf = "/root/testdata/sf0.001"
    // a pipeline query populates the shared shingle/banded caches...
    assert(SparkEntry.queries("dd02_minhash_lsh")(spark, sf).count() > 0)
    assert(!cm.isEmpty, "expected the shared shingle pass to be cached")
    // ...curate's INTERNAL persist must already be released when it
    // returns (components() is eager, nothing downstream rereads it)...
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    graft.operators.Curation.curate(docs, "doc_id", "text",
      graft.operators.Curation.Opts(sampleFraction = 1.0)).collect()
    // ...and clearCaches() releases the shared passes: nothing left
    Pipeline.clearCaches()
    assert(cm.isEmpty,
      "cache manager should be empty after a curate -> collect -> release cycle")
  }

  test("every shared-cache population path drains to an empty cache manager") {
    import graft.queries.Pipeline
    Pipeline.clearCaches()
    spark.catalog.clearCache()
    val cm = spark.sharedState.cacheManager
    assert(cm.isEmpty)
    val sf = "/root/testdata/sf0.001"
    // one query per distinct shared-cache entry (shingles+banded,
    // curated, ivf-assigned, triple-corpus shingles) plus one that only
    // registers plan-internal persists via Caches.track (RangeRank) —
    // the cache-policy surface a full pack run exercises. If a future
    // operator adds a persist without a release path, this goes red.
    for (q <- Seq("dd02_minhash_lsh", "pp01_curation", "dd05_embed_cosine",
        "dd07_dup_groups", "pp07_shuffle_order"))
      assert(SparkEntry.queries(q)(spark, sf).count() > 0, q)
    assert(!cm.isEmpty, "expected shared passes cached mid-burst")
    Pipeline.clearCaches()
    assert(cm.isEmpty,
      "live cache entries survived clearCaches() — a release path rotted")
  }

  test("deleteStream removes the stream's data, stats rows, and catalog entry") {
    val dir = java.nio.file.Files.createTempDirectory("graft_del").toString
    val db = new GraftDb(spark, dir)
    db.createStream("cpu", VType.F64)
    db.createStream("mem", VType.F64)
    val cpu = db.inserter("cpu"); cpu.insert(1000L, 1.0); cpu.insert(3700000L, 2.0); cpu.flush()
    val mem = db.inserter("mem"); mem.insert(2000L, 5.0); mem.flush()
    db.refreshStats()
    assert(db.query("cpu", 0L, 4102444800000L).output.count() == 2L)

    db.deleteStream("cpu")
    // catalog: only mem remains; data: cpu gone, mem intact
    assert(db.streams().map(_.name) == Seq("mem"))
    assert(db.query("cpu", 0L, 4102444800000L).output.count() == 0L)
    assert(db.query("mem", 0L, 4102444800000L).output.count() == 1L)
    // stats: cpu's summary rows dropped (fresh version via pointer swap)
    assert(db.statsTable().where(org.apache.spark.sql.functions
      .col("name") === "cpu").count() == 0L)
    assert(db.statsTable().where(org.apache.spark.sql.functions
      .col("name") === "mem").count() == 1L)
    // deleting again: no longer catalogued, nothing shares the name,
    // and no leftovers remain — a stream that simply does not exist
    // stays an error (the completion path only fires on real leftovers)
    val gone = intercept[IllegalArgumentException](db.deleteStream("cpu"))
    assert(gone.getMessage.contains("got 0"), gone.getMessage)
    assert(db.streams().map(_.name) == Seq("mem"))
    assert(db.query("mem", 0L, 4102444800000L).output.count() == 1L)
    // but a 0-match selector whose NAME another stream holds is a
    // caller bug: sweeping would destroy the neighbor's data
    val e = intercept[IllegalArgumentException](
      db.deleteStream("""mem{host="nope"}"""))
    assert(e.getMessage.contains("got 0"), e.getMessage)
  }

  test("deleteStream completes a crashed earlier delete (catalog line gone)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_del3").toString
    val db = new GraftDb(spark, dir)
    db.createStream("cpu", VType.F64)
    val cpu = db.inserter("cpu"); cpu.insert(1000L, 1.0); cpu.flush()
    db.refreshStats()
    // simulate the crash window: catalog line already removed, data dir
    // and stats rows still present
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "catalog.jsonl"), "")
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir, "data"))
      .count() > 0)
    db.deleteStream("cpu") // completion re-run, not an error
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "data", "name=cpu")))
    assert(db.statsTable().count() == 0L)
  }

  test("labels with structural characters round-trip the catalog") {
    val dir = java.nio.file.Files.createTempDirectory("graft_esc").toString
    val db = new GraftDb(spark, dir)
    val weird = "x,y=z%w\tq" // ',' '=' '%' tab — every structural char
    db.createStream("m{path=\"" + weird + "\", plain=\"ok\"}", VType.F64)
    assert(db.streams() ==
      Seq(graft.tsdb.StreamDef("m",
        Map("path" -> weird, "plain" -> "ok"), VType.F64)))
    // a second stream under another name parses alongside it
    db.createStream("n", VType.I64)
    assert(db.streams().size == 2)
    val ins = db.inserter("m"); ins.insert(5L, 2.5); ins.flush()
    assert(db.query("m", 0L, 100L).output.count() == 1L)
    // and the selector round-trips for deletion too
    db.deleteStream("m{path=\"" + weird + "\", plain=\"ok\"}")
    assert(db.streams().map(_.name) == Seq("n"))
  }

  test("labelNames/labelValues: catalog introspection, metadata only") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lv").toString
    val db = new GraftDb(spark, dir)
    assert(db.labelNames().isEmpty && db.labelValues("x").isEmpty)
    db.createStream("m{env=\"prod\", dc=\"b\"}", VType.F64)
    db.createStream("m{env=\"dev\", dc=\"a\"}", VType.F64)
    db.createStream("n{env=\"prod\"}", VType.I64)
    assert(db.labelNames() == Seq("dc", "env"))
    assert(db.labelValues("env") == Seq("dev", "prod"))
    assert(db.labelValues("dc") == Seq("a", "b"))
    assert(db.labelValues("env", name = Some("n")) == Seq("prod"))
    assert(db.labelValues("missing").isEmpty)
  }

  test("a legacy (headerless) catalog parses raw and upgrades on write") {
    val dir = java.nio.file.Files.createTempDirectory("graft_legacy").toString
    // pre-escaping writer: labels raw, '%' literal, NO header line —
    // a v2 decode would silently turn a%41 into aA
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "catalog.jsonl"),
      "f64\tm\tp=a%41,q=b\nu64\tn\t\n")
    val db = new GraftDb(spark, dir)
    assert(db.streams() == Seq(
      graft.tsdb.StreamDef("m", Map("p" -> "a%41", "q" -> "b"), VType.F64),
      graft.tsdb.StreamDef("n", Map.empty, VType.U64)))
    // the DSv2 catalog resolver reads the same raw values
    assert(graft.sources.GraftSource.labelNames(dir,
      new org.apache.hadoop.conf.Configuration(),
      Seq("p" -> "a%41")) == Some(Set("m")))
    // first write upgrades in place: header + escaped encoding, values
    // byte-identical through the new reader
    db.createStream("o", VType.F64)
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(dir, "catalog.jsonl"))
    assert(lines.get(0) == graft.tsdb.LabelCodec.V2Header, lines)
    assert(lines.get(1).contains("a%2541"), lines) // '%' now escaped
    assert(db.streams().map(_.name) == Seq("m", "n", "o"))
    assert(db.streams().head.labels == Map("p" -> "a%41", "q" -> "b"))
    // deletion reconstructs the v2 line correctly after the upgrade
    db.deleteStream("m{p=\"a%41\", q=\"b\"}")
    assert(db.streams().map(_.name) == Seq("n", "o"))
  }

  test("catalog probes memoize on content; writes invalidate") {
    val dir = java.nio.file.Files.createTempDirectory("graft_memo").toString
    val db = new GraftDb(spark, dir)
    db.createStream("m{env=\"prod\"}", VType.F64)
    db.createStream("m{env=\"dev\"}", VType.I64)
    val base = db.catalogParses
    // a burst of probes — labelNames/labelValues/inserter/resolve — must
    // parse the unchanged catalog at most once (r9 finding: every probe
    // re-read and re-parsed the whole JSONL)
    db.labelNames(); db.labelValues("env")
    db.inserter("m{env=\"prod\"}")
    assert(db.resolve("m", Map("env" -> "dev")).map(_.vtype) == Seq(VType.I64))
    assert(db.resolve("m", Map("env" -> "nope")).isEmpty)
    assert(db.resolve("m", Map.empty).size == 2)
    assert(db.catalogParses <= base + 1,
      s"probes re-parsed the catalog: $base -> ${db.catalogParses}")
    // a write invalidates: the next probe sees the new stream
    db.createStream("n", VType.F64)
    assert(db.streams().map(_.name).contains("n"))
    assert(db.catalogParses >= base + 2)
    // an EXTERNAL writer (different GraftDb over the same dir) is seen
    // through the content key
    new GraftDb(spark, dir).createStream("o", VType.F64)
    assert(db.streams().map(_.name).contains("o"))
    // the ADVICE r10 hazard: rewrite the catalog to the SAME byte size
    // with the SAME mtime (a one-character label-value flip) — the
    // content-CRC key must still invalidate where (mtime, size) could not
    val file = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .filter(p => p.getFileName.toString.startsWith("catalog"))
      .findFirst.orElseThrow(() => new IllegalStateException(s"no catalog in $dir"))
    val before = java.nio.file.Files.readString(file)
    assert(before.contains("prod"), before)
    val mtime = java.nio.file.Files.getLastModifiedTime(file)
    java.nio.file.Files.writeString(file, before.replace("prod", "prqd"))
    java.nio.file.Files.setLastModifiedTime(file, mtime) // freeze the tick
    assert(db.labelValues("env").contains("prqd"),
      "same-size same-mtime external rewrite served a stale catalog")
  }

  test("decodeLabels is loud on duplicate keys (hand-edited catalog)") {
    // a=1,a=2 would silently resolve to a->2 via toMap; the codec's
    // loud-on-malformed philosophy applies to duplicates too
    val e = intercept[IllegalStateException](
      graft.tsdb.LabelCodec.decodeLabels("a=1,b=2,a=3", "test-line"))
    assert(e.getMessage.contains("duplicate label key") &&
      e.getMessage.contains("a"), e.getMessage)
    // distinct keys still fine
    assert(graft.tsdb.LabelCodec.decodeLabels("a=1,b=2", "ok") ==
      Map("a" -> "1", "b" -> "2"))
  }

  test("integer streams read the exact lvalue on the grouped surfaces too") {
    val db = new GraftDb(spark,
      Files.createTempDirectory("graftdb_int").toString)
    // non-integral doubles into i64 streams: `value` keeps them, the
    // exact `lvalue` sidecar holds their rounding — every scan must
    // answer from the latter
    Seq("a" -> 0.7, "b" -> 0.4).foreach { case (l, frac) =>
      db.createStream(s"""x{l="$l"}""", VType.I64)
      val ins = db.inserter(s"""x{l="$l"}""")
      (0L until 8L).foreach(i => ins.insert(i * 10L, i + frac))
      ins.flush()
    }
    def num(q: String): Double =
      db.query(q, 0L, 100L).output.head().get(0).asInstanceOf[Number]
        .doubleValue()
    assert(num("sum(x)") == 64.0)
    assert(num("sum by () (x)") == num("sum(x)"))
    val grouped = db.queryRange("sum by (l) (sum_over_time(x[20ms]))",
        0L, 70L, 10L).df
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val ungrouped = Seq("a", "b").flatMap { l =>
      db.queryRange(s"""sum_over_time(x{l="$l"}[20ms])""", 0L, 70L, 10L)
        .df.collect().map(r => (l, r.getLong(0)) -> r.getDouble(1))
    }.toMap
    assert(grouped.nonEmpty && grouped == ungrouped)
  }

  test("deleteStream refuses when several streams share the name") {
    val dir = java.nio.file.Files.createTempDirectory("graft_del2").toString
    val db = new GraftDb(spark, dir)
    db.createStream("""disk{host="a"}""", VType.F64)
    db.createStream("""disk{host="b"}""", VType.F64)
    val a = db.inserter("""disk{host="a"}"""); a.insert(1L, 1.0); a.flush()
    val e = intercept[UnsupportedOperationException](
      db.deleteStream("""disk{host="a"}"""))
    assert(e.getMessage.contains("share name"), e.getMessage)
    // nothing was deleted
    assert(db.streams().size == 2)
    assert(db.query("disk", 0L, 4102444800000L).output.count() == 1L)
  }
}

/** Decoder that counts per-task initializations: the `@transient lazy`
  * init fires once per DESERIALIZED copy — i.e. once per task — so the
  * companion counter proves extractFeatures keeps the codec-init seam
  * per-partition, never per-row (local mode shares the JVM, so the
  * executor-side increments land on this counter).
  */
class CountingDecoder extends Multimodal.Decoder {
  @transient private lazy val init: Unit = {
    CountingDecoder.inits.incrementAndGet(); ()
  }
  def features(payload: Array[Byte], meta: Multimodal.MediaMeta,
      dim: Int): Array[Float] = {
    init
    Multimodal.StubDecoder.features(payload, meta, dim)
  }
}

object CountingDecoder {
  val inits = new java.util.concurrent.atomic.AtomicInteger(0)
}
