package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.tsdb.{GraftDb, VType}
import graft.tsdb.TsdbFixtures.spark

/** GraftDb.compact(): flush deltas merge to one file per partition with
  * identical query results, and an interrupted swap (journal present,
  * olds partially deleted) rolls forward losslessly.
  */
class CompactSpec extends AnyFunSuite {

  private def parquetFiles(dir: java.nio.file.Path): List[java.nio.file.Path] =
    scala.util.Using.resource(Files.list(dir))(_.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
    }.toList)

  private def setup(): (GraftDb, java.nio.file.Path, Long) = {
    val root = Files.createTempDirectory("graft_compact").toString
    val db = new GraftDb(spark, root)
    db.createStream("m", VType.U64)
    // five flushes into ONE hourly bucket -> five delta files
    (0 until 5).foreach { i =>
      val ins = db.inserter("m")
      ins.insert(i * 1000L, (i + 1).toLong)
      ins.flush()
    }
    val part = Paths.get(root, "data", "name=m", "bucket=0")
    val sum = db.query("sum(m)", 0, 10000000L).output.head().getLong(0)
    (db, part, sum)
  }

  test("compact merges deltas; query results unchanged") {
    val (db, part, before) = setup()
    assert(parquetFiles(part).size == 5)
    assert(before == 15L)
    assert(db.compact() == 1L)
    assert(parquetFiles(part).size == 1)
    assert(db.query("sum(m)", 0, 10000000L).output.head().getLong(0) == before)
    assert(db.query("count(m)", 0, 10000000L).output.head().getLong(0) == 5L)
    // already compact: a second pass is a no-op
    assert(db.compact() == 0L)
    // the deltas' Hadoop .crc siblings are gone too — compaction must
    // not leak hidden files under the regime it exists to fix
    val leftoverCrc = scala.util.Using.resource(Files.list(part))(
      _.iterator().asScala.filter(_.getFileName.toString.endsWith(".crc")).toList)
    assert(leftoverCrc.size <= 1, s"stale checksum files: $leftoverCrc")
  }

  test("interrupted swap (journal + partial deletes) rolls forward") {
    val (db, part, before) = setup()
    val files = parquetFiles(part).sortBy(_.getFileName.toString)
    // build the compacted file exactly as compact() would...
    val tmp = Files.createTempDirectory("graft_compact_sim")
    spark.read.parquet(files.map(_.toString): _*)
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val partFile = scala.util.Using.resource(Files.list(tmp))(
      _.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get)
    Files.move(partFile, part.resolve(".compact-42.parquet"))
    // ...journal it, then crash after deleting only SOME of the olds
    Files.write(part.resolve(".compact-journal"),
      ("42" +: files.map(_.getFileName.toString)).asJava)
    Files.delete(files.head)
    Files.delete(files(1))

    assert(db.compact() == 0L) // roll-forward only; nothing left to merge
    assert(parquetFiles(part).map(_.getFileName.toString) == List("compact-42.parquet"))
    assert(!Files.exists(part.resolve(".compact-journal")))
    assert(db.query("sum(m)", 0, 10000000L).output.head().getLong(0) == before)
  }

  test("deleteStream(rewrite=true) deletes one of two same-name streams") {
    val root = Files.createTempDirectory("graft_delrw").toString
    val db = new GraftDb(spark, root)
    db.createStream("""disk{host="a"}""", VType.F64)
    db.createStream("""disk{host="b"}""", VType.F64)
    // interleave both streams' rows in the same two buckets, multiple
    // delta files per bucket
    (0 until 3).foreach { i =>
      val a = db.inserter("""disk{host="a"}""")
      a.insert(i * 1000L, i + 0.25); a.insert(3600000L + i * 1000L, i + 10.25)
      a.flush()
      val b = db.inserter("""disk{host="b"}""")
      b.insert(i * 1000L + 500L, i + 0.75); b.flush()
    }
    db.refreshStats()
    val survivorBefore = db.query("""disk{host="b"}""", 0L, 10000000L)
      .output.orderBy("timestamp").collect().toSeq
    assert(survivorBefore.size == 3)

    db.deleteStream("""disk{host="a"}""", rewrite = true)
    // catalog: only host=b remains
    assert(db.streams().map(_.labels) == Seq(Map("host" -> "b")))
    // the survivor's rows are EXACTLY what they were before the rewrite
    val survivorAfter = db.query("""disk{host="b"}""", 0L, 10000000L)
      .output.orderBy("timestamp").collect().toSeq
    assert(survivorAfter == survivorBefore)
    // the deleted stream's rows are gone from the raw store itself
    val raw = spark.read.parquet(s"$root/data")
    assert(raw.count() == 3L)
    import org.apache.spark.sql.functions.{col, element_at}
    assert(raw.where(element_at(col("labels"), "host") === "a").count() == 0L)
    // stats rebuilt from the survivors: totals match the remaining rows
    val st = db.statsTable().agg(
      org.apache.spark.sql.functions.sum("n"),
      org.apache.spark.sql.functions.sum("value_sum")).head()
    assert(st.getLong(0) == 3L)
    assert(math.abs(st.getDouble(1) - (0.75 + 1.75 + 2.75)) < 1e-9)
    // re-running the selector now: 0-match with a live sharer name -> bug
    val e = intercept[IllegalArgumentException](
      db.deleteStream("""disk{host="a"}""", rewrite = true))
    assert(e.getMessage.contains("got 0"), e.getMessage)
    // deleting the survivor (now sole owner) takes the fast dir path
    db.deleteStream("""disk{host="b"}""")
    assert(db.streams().isEmpty)
  }

  test("expire drops whole expired partitions and their stats rows") {
    val root = Files.createTempDirectory("graft_expire").toString
    val db = new GraftDb(spark, root)
    db.createStream("m", VType.U64)
    val hour = 3600 * 1000L
    // samples in three hourly buckets: 0, 1h, 2h
    val ins = db.inserter("m")
    Seq(0L, hour, 2 * hour).zipWithIndex.foreach { case (ts, i) =>
      ins.insert(ts + 1, (i + 1).toLong)
    }
    ins.flush()
    db.refreshStats()
    // cutoff inside bucket 1: only bucket 0 is WHOLLY before it
    assert(db.expire(hour + 1) == 1L)
    assert(!Files.exists(Paths.get(root, "data", "name=m", "bucket=0")))
    assert(Files.exists(Paths.get(root, "data", s"name=m", s"bucket=$hour")))
    assert(db.query("sum(m)", 0, 10 * hour).output.head().getLong(0) == 5L)
    // the stats-served path must not resurrect the deleted bucket
    assert(db.statsTable().where(s"bucket < $hour").count() == 0L)
    assert(db.fastAggregate("m", 0, 10 * hour - 1).head().getAs[Double]("value_sum") == 5.0)
    // idempotent; cutoff past everything removes the rest + name dir
    assert(db.expire(hour + 1) == 0L)
    assert(db.expire(10 * hour) == 2L)
    assert(!Files.exists(Paths.get(root, "data", "name=m")))
  }

  test("expire re-run heals stats orphaned by a crash before the stats rewrite") {
    val root = Files.createTempDirectory("graft_expire_crash").toString
    val db = new GraftDb(spark, root)
    db.createStream("m", VType.U64)
    val hour = 3600 * 1000L
    val ins = db.inserter("m")
    Seq(0L, hour).zipWithIndex.foreach { case (ts, i) => ins.insert(ts + 1, (i + 1).toLong) }
    ins.flush()
    db.refreshStats()
    // simulate a crash between expire()'s data delete and its stats
    // rewrite: remove the bucket-0 partition directly, leaving its
    // stats rows behind
    val part = Paths.get(root, "data", "name=m", "bucket=0")
    scala.util.Using.resource(Files.walk(part))(
      _.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.toList).foreach(Files.deleteIfExists(_))
    assert(db.statsTable().where("bucket < " + hour).count() > 0L)
    // the re-run removes 0 partitions but must still drop the stale
    // stats rows — otherwise stats-served aggregates answer with
    // deleted data forever
    assert(db.expire(hour) == 0L)
    assert(db.statsTable().where("bucket < " + hour).count() == 0L)
    assert(db.fastAggregate("m", 0, 10 * hour - 1).head().getAs[Double]("value_sum") == 2.0)
  }

  test("every write and maintenance step is visible to the next query, on two instances") {
    val root = Files.createTempDirectory("graft_fresh").toString
    val H = 3600 * 1000L
    val db = new GraftDb(spark, root)
    val other = new GraftDb(spark, root)
    db.createStream("m{k=\"a\"}", VType.U64)
    db.createStream("m{k=\"b\"}", VType.U64)
    def seen(): Seq[Seq[(Long, Long)]] = Seq(db, other).map(
      _.query("m", 0, 10 * H).output.collect().toSeq
        .map(r => r.getLong(0) -> r.getLong(1)).sorted)
    def expectSeen(want: (Long, Long)*): Unit =
      assert(seen() == Seq.fill(2)(want.sorted), s"want $want")
    def flush(sel: String, pts: (Long, Long)*): Unit = {
      val ins = db.inserter(sel)
      pts.foreach { case (t, v) => ins.insert(t, v) }
      ins.flush()
    }
    // no data dir yet: reads empty
    assert(!Files.exists(Paths.get(root, "data")))
    expectSeen()
    flush("m{k=\"a\"}", 0L -> 1L, 1000L -> 2L, H + 5L -> 3L)
    expectSeen(0L -> 1L, 1000L -> 2L, H + 5L -> 3L)
    flush("m{k=\"a\"}", 2000L -> 4L)
    flush("m{k=\"b\"}", 3000L -> 10L, H + 10L -> 20L)
    val all = Seq(0L -> 1L, 1000L -> 2L, 2000L -> 4L, 3000L -> 10L,
      H + 5L -> 3L, H + 10L -> 20L)
    expectSeen(all: _*)
    assert(db.compact(1) == 2L) // bucket 0 holds 3 files, bucket 1 holds 2
    expectSeen(all: _*)
    assert(db.expire(H) == 1L) // bucket 0, shared by both streams
    expectSeen(H + 5L -> 3L, H + 10L -> 20L)
    db.deleteStream("m{k=\"b\"}", rewrite = true)
    expectSeen(H + 5L -> 3L)
    // every partition expired: a data dir with no name= dir reads empty
    assert(db.expire(10 * H) == 1L)
    assert(Files.exists(Paths.get(root, "data")) &&
      scala.util.Using.resource(Files.list(Paths.get(root, "data")))(
        !_.iterator().asScala.exists(_.getFileName.toString.startsWith("name="))))
    expectSeen()
  }

  test("pre-journal orphan hidden file is discarded, data intact") {
    val (db, part, before) = setup()
    Files.writeString(part.resolve(".compact-7.parquet"), "not a real parquet")
    assert(db.compact() == 1L)
    assert(parquetFiles(part).size == 1)
    assert(db.query("sum(m)", 0, 10000000L).output.head().getLong(0) == before)
  }
}
