package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.tsdb.{StreamCatalog, StreamDef, TsdbEngine, TsdbFixtures, VType}
import graft.tsdb.TsdbFixtures.spark

/** Property-based tests for the algebraic specs called out in SURVEY §5:
  * the coercion lattice (pure) and the interpolation alignment
  * (Spark-backed, small case counts to keep runtime sane).
  */
class PropertySpec extends AnyFunSuite {

  /** Deterministic sampler (no scalatestplus bridge in the offline
    * dependency cache): n seeded samples per property.
    */
  private def samples[A](g: Gen[A], n: Int, seed: Long = 42L): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  // ---- coercion lattice (lib.rs:63-73): pure, exhaustive ----

  val types = Seq(VType.I64, VType.U64, VType.F64)

  test("lattice: commutative, idempotent, F64-absorbing, U64-neutral") {
    for (a <- types; b <- types) {
      assert(VType.combine(a, b) == VType.combine(b, a))
      assert(VType.combine(a, a) == a)
      assert(VType.combine(a, VType.F64) == VType.F64)
      assert(VType.combine(a, VType.U64) == a)
    }
    for (a <- types; b <- types; c <- types)
      assert(VType.combine(VType.combine(a, b), c) ==
        VType.combine(a, VType.combine(b, c)))
  }

  // ---- interpolation alignment invariants ----

  private val seriesGen: Gen[List[(Long, Double)]] = for {
    n <- Gen.choose(1, 8)
    ts <- Gen.listOfN(n, Gen.choose(0L, 60L)).map(_.distinct.sorted)
    vs <- Gen.listOfN(ts.size, Gen.choose(0L, 100L).map(_.toDouble))
  } yield ts.zip(vs)

  private def engineFor(a: List[(Long, Double)], b: List[(Long, Double)]): TsdbEngine = {
    val rows = a.map { case (t, v) => ("a", Map.empty[String, String], t, v) } ++
      b.map { case (t, v) => ("b", Map.empty[String, String], t, v) }
    new TsdbEngine(spark, TsdbFixtures.longDf(rows), new StreamCatalog(Seq(
      StreamDef("a", Map.empty, VType.U64), StreamDef("b", Map.empty, VType.U64))))
  }

  /** Reference interpolation (vector_to_vector.rs:35-64) in plain Scala. */
  private def refInterp(s: List[(Long, Double)], t: Long): Double = {
    s.find(_._1 == t).map(_._2).getOrElse {
      val before = s.filter(_._1 < t)
      val after = s.filter(_._1 > t)
      if (before.isEmpty) after.head._2
      else if (after.isEmpty) before.last._2
      else {
        val (t1, v1) = before.last
        val (t2, v2) = after.head
        math.round(v1 + (v2 - v1) * (t - t1).toDouble / (t2 - t1).toDouble).toDouble
      }
    }
  }

  test("align: output = union of timestamps; values match reference math") {
    for ((a, b) <- samples(seriesGen, 8).zip(samples(seriesGen.map(_.reverse.map(identity)), 8).map(_.sortBy(_._1)))) {
      if (a.nonEmpty && b.nonEmpty) {
        val got = TsdbFixtures.vectorOf(engineFor(a, b).query("a + b", 0, 100)).toMap
        val union = (a.map(_._1) ++ b.map(_._1)).distinct.sorted
        assert(got.keySet == union.toSet)
        union.foreach { t =>
          assert(got(t) == refInterp(a, t) + refInterp(b, t),
            s"at t=$t: a=$a b=$b")
        }
      }
    }
  }

  // ---- as-of join invariant vs a plain-Scala reference ----

  test("asof backward join equals reference lookup") {
    import org.apache.spark.sql.functions._
    for ((l, r) <- samples(seriesGen, 5).zip(samples(seriesGen.map(_.map { case (t, v) => (t + 1, v) }), 5))) {
      if (l.nonEmpty && r.nonEmpty) {
        import spark.implicits._
        val left = l.map { case (t, v) => (1L, t, v) }.toDF("k", "ts", "v")
        val right = r.map { case (t, v) => (1L, t, v) }.toDF("k", "ts", "rv")
        val got = graft.operators.AsOfJoin.backward(left, right, "k", "ts", "rv")
          .select($"ts", $"asof_rv").collect()
          .map(x => x.getLong(0) -> Option(x.get(1)).map(_.asInstanceOf[Double]))
          .toMap
        l.foreach { case (t, _) =>
          val expect = r.filter(_._1 <= t).sortBy(_._1).lastOption.map(_._2)
          assert(got(t) == expect, s"at t=$t: l=$l r=$r")
        }
      }
    }
  }

  test("asof tolerance pairs each value with its OWN row's timestamp under null right values") {
    import spark.implicits._
    val left = Seq((1L, 100L)).toDF("k", "ts")
    // most recent right ROW (ts=95, inside tolerance) carries a null
    // value; an older non-null value sits at ts=10 (stale). Two
    // independent last(ignoreNulls) windows would pair v=5.0 with
    // ts=95 and wrongly accept the stale value — the single-struct
    // window must return null (merge_asof: the match is the row).
    val right = Seq((1L, 10L, Some(5.0)), (1L, 95L, None)).toDF("k", "ts", "rv")
    val got = graft.operators.AsOfJoin.backward(
      left, right, "k", "ts", "rv", toleranceMs = 20L)
    assert(got.select("asof_rv").head().isNullAt(0))
    // and without tolerance the row-match semantics are the same
    val unbounded = graft.operators.AsOfJoin.backward(left, right, "k", "ts", "rv")
    assert(unbounded.select("asof_rv").head().isNullAt(0))
  }

  // ---- bucketed align ≡ exact align on random series ----

  test("interpolatedBucketed equals global interpolated") {
    for ((a, b) <- samples(seriesGen, 6).zip(samples(seriesGen.map(_.map {
        case (t, v) => (t + 3, v) }), 6))) {
      if (a.nonEmpty && b.nonEmpty) {
        val mk = (s: List[(Long, Double)]) => TsdbFixtures.longDf(
          s.map { case (t, v) => ("x", Map.empty[String, String], t, v) })
          .select(org.apache.spark.sql.functions.col("timestamp"),
            org.apache.spark.sql.functions.col("value"))
        val exact = graft.tsdb.Align.interpolated(mk(a), mk(b), roundInterpolated = true)
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
        val bucketed = graft.tsdb.Align.interpolatedBucketed(
          mk(a), mk(b), roundInterpolated = true, bucketMs = 7L)
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
        assert(bucketed.toSeq == exact.toSeq, s"a=$a b=$b")
      }
    }
  }

  // ---- sketch kernels vs independent plain-Scala references (pure ----
  // ---- JVM: the Util objects run directly, no Spark plan involved) ----

  import graft.functions.TextFunctions.{minhashA, minhashB, Mask28, MinhashPrime}
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  private val hashesGen: Gen[List[Long]] = for {
    n <- Gen.choose(1, 40)
    hs <- Gen.listOfN(n, Gen.choose(0L, (1L << 60) - 1))
  } yield hs

  test("minhash kernel equals the affine-min reference on random arrays") {
    for (hs <- samples(hashesGen, 60); k <- Seq(1, 4, 16)) {
      val got = graft.functions.MinhashUtil
        .minhashSig(new GenericArrayData(hs.toArray), k).toLongArray().toSeq
      val want = (0 until k).map(j =>
        hs.map(h => ((h & Mask28) * minhashA(j) + minhashB(j)) % MinhashPrime).min)
      assert(got == want, s"k=$k hs=$hs")
    }
  }

  test("simhash kernel equals the bit-vote reference on random arrays") {
    for (hs <- samples(hashesGen, 60)) {
      val got = graft.functions.SimhashUtil
        .simhash60(new GenericArrayData(hs.toArray))
      val want = (0 until 60).map { b =>
        val votes = hs.map(h => if (((h >>> b) & 1L) == 1L) 1 else -1).sum
        if (votes >= 0) 1L << b else 0L
      }.sum
      assert(got == want, s"hs=$hs")
    }
  }

  private val tokGen: Gen[List[String]] = for {
    n <- Gen.choose(0, 50)
    ts <- Gen.listOfN(n, Gen.choose(0, 999).map(i => s"w$i"))
  } yield ts

  // ---- sliding query_range vs a brute-force per-step reference ----

  private val slidingGen: Gen[(Seq[(Long, Double)], Long, Long, Long, Long)] =
    for {
      n <- Gen.choose(1, 25)
      ts <- Gen.listOfN(n, Gen.choose(0L, 200L)).map(_.distinct)
      vs <- Gen.listOfN(ts.size, Gen.choose(0L, 50L).map(_.toDouble))
      w <- Gen.choose(1L, 60L)
      step <- Gen.choose(1L, 40L)
      start <- Gen.choose(0L, 50L)
      span <- Gen.choose(0L, 150L)
    } yield (ts.zip(vs), w, step, start, start + span)

  test("queryRange equals the per-step brute-force over random geometry") {
    for ((series, w, step, start, end) <- samples(slidingGen, 10)) {
      val cat = new StreamCatalog(Seq(StreamDef("s", Map.empty, VType.F64)))
      val e = new TsdbEngine(spark, TsdbFixtures.longDf(
        series.map { case (t, v) => ("s", Map.empty[String, String], t, v) }),
        cat)
      val got = e.queryRange(s"sum_over_time(s[${w}ms])", start, end, step)
        .df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // Prometheus contract, evaluated literally: T from start to end by
      // step, window (T-w, T], rows only for non-empty windows
      val want = (start to end by step).flatMap { bigT =>
        val inWin = series.filter { case (t, _) => t > bigT - w && t <= bigT }
        if (inWin.isEmpty) None else Some(bigT -> inWin.map(_._2).sum)
      }.toMap
      assert(got === want, s"w=$w step=$step [$start,$end] series=$series")
      // absent is exactly the complement over the same eval times
      val absent = e.queryRange(s"absent_over_time(s[${w}ms])", start, end, step)
        .df.collect().map(_.getLong(0)).toSet
      assert(absent === (start to end by step).toSet.diff(want.keySet))
    }
  }

  // ---- round-10 grouped/sliding/extrapolation algebra ----

  private val labeledGen: Gen[List[(String, Long, Double)]] = for {
    n <- Gen.choose(2, 16)
    rows <- Gen.listOfN(n, for {
      u <- Gen.oneOf("a", "b", "c")
      t <- Gen.choose(0L, 80L)
      v <- Gen.choose(0L, 100L).map(_.toDouble)
    } yield (u, t, v))
  } yield rows

  test("matcher algebra: catalog resolve == row-filter survival") {
    import graft.tsdb.Expr._
    // every label map over keys {a,b} and values {x,y,absent} — nine
    // streams, one row each, the row's value = the stream's index
    val universe = {
      val vs = Seq(Some("x"), Some("y"), None)
      for (a <- vs; b <- vs) yield
        (a.map("a" -> _).toList ++ b.map("b" -> _).toList).toMap
    }
    val streams = universe.map(ls => StreamDef("m", ls, VType.F64))
    val catalog = new StreamCatalog(streams)
    val e = new TsdbEngine(spark, TsdbFixtures.longDf(
      universe.zipWithIndex.map { case (ls, i) => ("m", ls, 10L, i.toDouble) }),
      catalog)
    val matcherGen: Gen[Matcher] = for {
      label <- Gen.oneOf("a", "b")
      op <- Gen.oneOf(MatchEq, MatchNe, MatchRe, MatchNre)
      value <- op match {
        case MatchEq | MatchNe => Gen.oneOf("x", "y", "", "z")
        case _ => Gen.oneOf("x", "y", "x|y", ".+", "x.*", "")
      }
    } yield Matcher(label, value, op)
    val msGen = Gen.choose(1, 2).flatMap(n => Gen.listOfN(n, matcherGen))
    for (ms <- samples(msGen, 30)) {
      // the two evaluation sites must admit the SAME stream set: the
      // driver-side catalog predicate and the row-local scan filter
      val want = catalog.resolve("m", ms)
        .map(d => universe.indexOf(d.labels).toDouble).toSet
      val q = "m{" + ms.map(m =>
        s"""${m.label}${m.op.sym}"${m.value}"""").mkString(", ") + "}"
      val got = e.query(q, 0L, 100L).output.collect()
        .map(_.getDouble(1)).toSet
      assert(got === want, s"matchers=$ms query=$q")
    }
  }

  test("sum by (label) equals per-label-filtered ungrouped sums") {
    for (rows <- samples(labeledGen, 8)) {
      val e = new TsdbEngine(spark, TsdbFixtures.longDf(
        rows.map { case (u, t, v) => ("m", Map("u" -> u), t, v) }),
        new StreamCatalog(Seq(StreamDef("m", Map.empty, VType.F64))))
      val grouped = e.query("sum by (u) (m)", 0, 100).output.collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val want = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      assert(grouped.keySet === want.keySet, s"rows=$rows")
      grouped.foreach { case (u, v) =>
        assert(math.abs(v - want(u)) < 1e-9, s"u=$u rows=$rows")
        // and each group equals the ungrouped sum under that matcher
        val one = e.query(s"""sum(m{u="$u"})""", 0, 100)
          .output.collect().map(_.getDouble(0))
        assert(one.length == 1 && math.abs(one.head - v) < 1e-9)
      }
    }
  }

  test("grouped topk equals per-group brute-force selection") {
    for (rows <- samples(labeledGen, 6)) {
      val e = new TsdbEngine(spark, TsdbFixtures.longDf(
        rows.map { case (u, t, v) => ("m", Map("u" -> u), t, v) }),
        new StreamCatalog(Seq(StreamDef("m", Map.empty, VType.F64))))
      val got = e.query("topk(2, m) by (u)", 0, 100).output.collect()
        .map(r => (r.getString(0), r.getDouble(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      // the GetK rule per group: value desc, ties toward newer samples —
      // equal values make the chosen VALUES identical either way
      val want = rows.groupBy(_._1).map { case (u, rs) =>
        u -> rs.map(r => (r._3, r._2))
          .sortBy { case (v, t) => (-v, -t) }.take(2).map(_._1).sorted.toSeq
      }
      assert(got == want, s"rows=$rows")
    }
  }

  test("sliding binary equals element-wise combine of the slidings") {
    for ((series, w, step, start, end) <- samples(slidingGen, 6)) {
      val rows =
        series.map { case (t, v) => ("x", Map.empty[String, String], t, v) } ++
          series.map { case (t, v) =>
            ("y", Map.empty[String, String], t, v + 1) }
      val e = new TsdbEngine(spark, TsdbFixtures.longDf(rows),
        new StreamCatalog(Seq(StreamDef("x", Map.empty, VType.F64),
          StreamDef("y", Map.empty, VType.F64))))
      def run(q: String): Map[Long, Double] =
        e.queryRange(q, start, end, step).df.collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val sx = run(s"sum_over_time(x[${w}ms])")
      val sy = run(s"sum_over_time(y[${w}ms])")
      val got = run(s"sum_over_time(x[${w}ms]) + sum_over_time(y[${w}ms])")
      val want = sx.keySet.intersect(sy.keySet)
        .map(t => t -> (sx(t) + sy(t))).toMap
      assert(got === want, s"w=$w step=$step [$start,$end]")
    }
  }

  test("grouped query_range restricted to one group equals the narrowed ungrouped one") {
    // two names × two series, each series the only one carrying its
    // value of label `l`: grouping by (l) is per-series evaluation
    val ls = Seq("a", "b")
    val data = samples(Gen.listOfN(48, for {
      n <- Gen.oneOf("x", "y")
      l <- Gen.oneOf(ls)
      t <- Gen.choose(0L, 110L)
      v <- Gen.choose(1L, 20L).map(_.toDouble)
    } yield (n, Map("l" -> l), t, v)), 1, seed = 11L).head
    val e = new TsdbEngine(spark, TsdbFixtures.longDf(data),
      new StreamCatalog(for (n <- Seq("x", "y"); l <- ls)
        yield StreamDef(n, Map("l" -> l), VType.F64)))
    // a query rendered with every selector narrowed to l="v" (or not)
    type Q = Option[String] => String
    def sel(n: String): Q = l => n + l.fold("")(v => s"""{l="$v"}""")
    val leaf: Gen[Q] = for {
      f <- Gen.oneOf("sum_over_time", "max_over_time", "count_over_time",
        "rate", "last_over_time", "avg_over_time")
      n <- Gen.oneOf("x", "y")
      w <- Gen.oneOf(15, 30, 45)
    } yield l => s"$f(${sel(n)(l)}[${w}ms])"
    val aggSel: Gen[Q] = for {
      a <- Gen.oneOf("sum", "max", "count", "avg")
      n <- Gen.oneOf("x", "y")
    } yield l => s"$a(${sel(n)(l)})"
    def tree(d: Int): Gen[Q] =
      if (d == 0) Gen.oneOf(leaf, aggSel)
      else Gen.frequency(
        2 -> leaf,
        1 -> aggSel,
        1 -> (for {
          f <- Gen.oneOf("abs", "ceil", "floor")
          c <- tree(d - 1)
        } yield (l: Option[String]) => s"$f(${c(l)})"),
        2 -> (for {
          op <- Gen.oneOf("+", "-", "*", "/", ">", "<=")
          v <- Gen.oneOf(1.0, 2.5)
          litLeft <- Gen.oneOf(op != "/", false)
          c <- tree(d - 1)
        } yield (l: Option[String]) =>
          if (litLeft) s"$v $op (${c(l)})" else s"(${c(l)}) $op $v"),
        3 -> (for {
          op <- Gen.oneOf("+", "-", "*", "and", "or", "unless")
          a <- tree(d - 1)
          b <- tree(d - 1)
        } yield (l: Option[String]) => s"(${a(l)}) $op (${b(l)})"),
        1 -> (for {
          a <- Gen.oneOf("sum", "max", "count", "min")
          c <- tree(d - 1)
        } yield (l: Option[String]) => s"$a(${c(l)})"),
        1 -> (for {
          f <- Gen.oneOf("max_over_time", "sum_over_time", "count_over_time")
          r <- Gen.oneOf(20L, 40L)
          st <- Gen.oneOf(5L, 10L)
          c <- tree(d - 1)
        } yield (l: Option[String]) => s"$f((${c(l)})[${r}ms:${st}ms])"))
    def close(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
      case (Some(x), Some(y)) =>
        x == y || (x.isNaN && y.isNaN) ||
          math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
      case _ => a == b
    }
    var answered = 0
    for (((q, start), step) <- samples(for {
        q <- tree(2); s <- Gen.oneOf(20L, 40L); st <- Gen.oneOf(10L, 15L)
      } yield ((q, s), st), 6, seed = 3L)) {
      val grouped = e.queryRange(s"sum by (l) (${q(None)})",
          start, start + 60, step).df
        .collect().map(r =>
          (r.getString(0), r.getLong(1)) -> Option(r.get(2)).map(_.asInstanceOf[Double]))
      assert(grouped.map(_._1).distinct.length == grouped.length, q(None))
      val got = grouped.toMap
      ls.foreach { v =>
        val want = e.queryRange(q(Some(v)), start, start + 60, step).df
          .collect().map(r =>
            r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
        val mine = got.collect { case ((`v`, t), x) => t -> x }
        assert(mine.keySet == want.keySet &&
          want.forall { case (t, x) => close(mine(t), x) },
          s"${q(None)} group $v: grouped $mine vs narrowed $want")
      }
      if (got.nonEmpty) answered += 1
    }
    // vacuous unless most trees answer rows
    assert(answered >= 4, s"only $answered of 6 trees answered rows")
  }

  test("a grouped whole-range subquery equals the per-group tumbling fold of its grouped query_range inner") {
    // four series x{l, k}: `by (l)`, the finer `by (l, k)` and the
    // canonical `without ()` all name different groups
    val series = for (l <- Seq("a", "b"); k <- Seq("p", "q"))
      yield Map("l" -> l, "k" -> k)
    val data = samples(Gen.listOfN(40, for {
      ls <- Gen.oneOf(series)
      t <- Gen.choose(0L, 120L)
      v <- Gen.choose(1L, 20L).map(_.toDouble)
    } yield ("x", ls, t, v)), 1, seed = 17L).head
    val e = new TsdbEngine(spark, TsdbFixtures.longDf(data),
      new StreamCatalog(series.map(StreamDef("x", _, VType.F64))))
    val inner: Gen[String] = for {
      f <- Gen.oneOf("sum_over_time", "max_over_time", "count_over_time")
      w <- Gen.oneOf(10, 15, 20)
      g <- Gen.oneOf("by (l)", "by (l, k)", "without ()")
      nested <- Gen.oneOf(false, true)
    } yield
      if (nested) s"sum by (l) (max_over_time(sum $g ($f(x[${w}ms]))[20ms:5ms]))"
      else s"sum $g ($f(x[${w}ms]))"
    val folds = Seq[(String, Seq[Double] => Double)](
      ("max_over_time", _.max), ("sum_over_time", _.sum),
      ("count_over_time", _.size.toDouble),
      ("avg_over_time", vs => vs.sum / vs.size))
    def close(x: Double, y: Double) =
      math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
    var answered = 0
    // subquery ranges that are and are not multiples of the step put
    // the inner's step points on and beside the outer window edges
    for ((((in, (fn, fold)), (range, step)), (off, start)) <- samples(for {
        in <- inner
        f <- Gen.oneOf(folds)
        rs <- Gen.oneOf((20L, 5L), (20L, 10L), (25L, 10L), (30L, 20L))
        off <- Gen.oneOf(5L, 10L, 15L)
        start <- Gen.oneOf(10L, 15L, 20L)
      } yield (((in, f), rs), (off, start)), 8, seed = 5L)) {
      val end = start + 80
      val q = s"$fn(($in)[${range}ms:${step}ms] offset ${off}ms)"
      def keyed(df: org.apache.spark.sql.DataFrame) = {
        val n = df.columns.length - 2
        df.collect().toSeq.map(r =>
          ((0 until n).map(i => Option(r.getString(i))), r.getLong(n),
            r.getDouble(n + 1)))
      }
      // the fold, in Scala: the inner's query_range rows on the
      // shifted clock, reported back by the offset, tumbled per group
      // in range-wide windows from start
      val want = keyed(e.queryRange(in, start - off, end - off, step).df)
        .map { case (g, t, v) => (g, t + off, v) }
        .groupBy { case (g, t, _) =>
          (g, t - java.lang.Math.floorMod(t - start, range)) }
        .map { case (k, rows) => k -> fold(rows.map(_._3)) }
      val res = e.query(q, start, end)
      assert(res.grouped, q)
      val got = keyed(res.df).map { case (g, t, v) => (g, t) -> v }
      assert(got.map(_._1).distinct.size == got.size, q)
      assert(got.map(_._1).toSet == want.keySet &&
        got.forall { case (k, v) => close(v, want(k)) },
        s"$q over [$start, $end]: got ${got.sortBy(_._1.toString)} " +
          s"want ${want.toSeq.sortBy(_._1.toString)}")
      if (got.nonEmpty) answered += 1
    }
    assert(answered >= 6, s"only $answered of 8 subqueries answered rows")
  }

  test("extrapolated increase equals the Prometheus formula, brute-forced") {
    for ((series, w, _, start, end0) <- samples(slidingGen, 6)) {
      val end = math.max(end0, start + 1)
      val dedup = series.groupBy(_._1).map { case (t, vs) =>
        t -> vs.map(_._2).max }.toList.sortBy(_._1)
      val e = new TsdbEngine(spark, TsdbFixtures.longDf(
        dedup.map { case (t, v) => ("c", Map.empty[String, String], t, v) }),
        new StreamCatalog(Seq(StreamDef("c", Map.empty, VType.F64))),
        rateMode = graft.tsdb.RangeFns.Extrapolated)
      val got = e.query(s"increase(c[${w}ms])", start, end).df.collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // the published extrapolatedRate rule, evaluated literally per
      // tumbling window over the scanned range
      val want = dedup.filter { case (t, _) => t >= start && t <= end }
        .groupBy { case (t, _) => t - math.floorMod(t - start, w) }
        .flatMap { case (ws, pts0) =>
          val pts = pts0.sortBy(_._1)
          if (pts.size < 2 || pts.last._1 == pts.head._1) None
          else {
            val inc = pts.sliding(2).map {
              case Seq((_, a), (_, b)) => if (b >= a) b - a else b
            }.sum
            val si = (pts.last._1 - pts.head._1) / 1000.0
            val ad = si / (pts.size - 1)
            val ds0 = (pts.head._1 - ws) / 1000.0
            val dz = if (inc > 0 && pts.head._2 >= 0)
              si * pts.head._2 / inc else Double.MaxValue
            val ds = math.min(ds0, dz)
            val de = (ws + w - pts.last._1) / 1000.0
            val ext = si +
              (if (ds < ad * 1.1) ds else ad / 2) +
              (if (de < ad * 1.1) de else ad / 2)
            Some(ws -> inc * (ext / si))
          }
        }
      assert(got.keySet === want.keySet, s"w=$w [$start,$end] $dedup")
      got.foreach { case (t, v) =>
        assert(math.abs(v - want(t)) < 1e-9, s"t=$t w=$w $dedup") }
    }
  }

  test("winnowing guarantee holds for random docs sharing a k+w-1 span") {
    val k = 8; val w = 4
    def fps(toks: Seq[String]): Set[Long] =
      graft.functions.WinnowHashUtil.winnowHashes60(
        org.apache.spark.unsafe.types.UTF8String.fromString(toks.mkString(" ")),
        k, w).toLongArray().toSet
    val span = (0 until k + w - 1).map(i => s"shared$i")
    for ((a, b) <- samples(Gen.zip(tokGen, tokGen), 40)) {
      // insert the span at a position derived from each doc's own length
      val da = a.take(a.size / 2) ++ span ++ a.drop(a.size / 2)
      val db = b.take(b.size / 3) ++ span ++ b.drop(b.size / 3)
      assert((fps(da) & fps(db)).nonEmpty, s"a=$a b=$b")
    }
  }

  test("winnowing tail rule: under k tokens none, under k+w-1 exactly one") {
    def fps(n: Int): Seq[Long] =
      graft.functions.WinnowHashUtil.winnowHashes60(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          (0 until n).map(i => s"t$i").mkString(" ")), 8, 4).toLongArray().toSeq
    for (n <- 0 until 8) assert(fps(n).isEmpty, s"n=$n")
    for (n <- 8 until 11) assert(fps(n).size == 1, s"n=$n")
    assert(fps(11).nonEmpty)
  }

  test("token-stats kernel equals the declarative lambdas (incl. unicode)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.tokens
    val charGen = Gen.frequency(
      (8, Gen.alphaNumChar),
      (3, Gen.oneOf(' ', '\t', '\n', '\u000B', '\f', '\r')),
      (1, Gen.oneOf('的', 'é', 'ß', '!', '#', '.')))
    val textGen = Gen.choose(0, 80)
      .flatMap(n => Gen.listOfN(n, charGen).map(_.mkString))
    val texts = samples(textGen, 120) :+ "" :+ "  \f  " :+
      "plain words here" :+ "𝄞clef 音楽 mix3d"
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val t = tokens(col("text"))
    val got = df.select(col("id"),
        graft.functions.TextKernels.tokenStats(col("text")).as("st"))
      .select(col("id"), col("st.n_tokens"), col("st.sum_token_len"),
        col("st.n_alpha_tokens"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getInt(3)))).toMap
    val want = df.select(col("id"), size(t).as("n"),
        aggregate(transform(t, x => length(x)), lit(0L), (a, v) => a + v).as("sl"),
        size(filter(t, x => x.rlike("[A-Za-z]"))).as("na"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getInt(3)))).toMap
    assert(got == want)
  }

  test("token-count and bpe-count kernels equal their regexp_count forms") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // adversarial alphabet: contraction suffixes and near-misses,
    // doubled spaces, every whitespace char (incl.  — a SYMBOL in
    // the BPE class but WHITESPACE in Java \s), digits, unicode
    val charGen = Gen.frequency(
      (8, Gen.alphaNumChar),
      (4, Gen.oneOf(' ', ' ', '\t', '\n', '', '\f', '\r')),
      (3, Gen.oneOf('\'', 's', 't', 'r', 'e', 'v', 'm', 'l', 'd')),
      (1, Gen.oneOf('的', 'é', '!', '.', '#')))
    val textGen = Gen.choose(0, 80)
      .flatMap(n => Gen.listOfN(n, charGen).map(_.mkString))
    val texts = samples(textGen, 200) :+ "" :+ "  " :+ " a 1 ." :+
      "don't it's we're I've he'll she'd 'l 're' x'll" :+
      "𝄞 surrogate 音 mix" :+ "a'reb" :+ "' s 'S 'Ll" :+ "a b"
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val got = df.select(col("id"),
        graft.functions.TextKernels.tokenCount(col("text")).as("w"),
        graft.functions.TextKernels.bpeTokenCount(col("text")).as("b"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    val want = df.select(col("id"),
        regexp_count(col("text"), lit("[^\\s]+")).as("w"),
        regexp_count(col("text"),
          lit(graft.queries.Pipeline.BpeIshPattern)).as("b"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(got == want)
  }

  test("LabelCodec round-trips arbitrary label maps through the line format") {
    import graft.tsdb.LabelCodec
    // keys/values drawn from an alphabet biased toward the structural
    // set (= , % tab newline CR) — the exact chars that corrupted the
    // unescaped format
    val charGen = Gen.frequency(
      (6, Gen.alphaNumChar),
      (4, Gen.oneOf('=', ',', '%', '\t', '\n', '\r', ' ')),
      (1, Gen.oneOf('的', 'é', '"', '{')))
    val strGen = Gen.choose(1, 12).flatMap(n =>
      Gen.listOfN(n, charGen).map(_.mkString))
    val mapGen = Gen.choose(0, 4).flatMap(n =>
      Gen.listOfN(n, Gen.zip(strGen, strGen)).map(_.toMap))
    samples(mapGen, 200).foreach { labels =>
      val field = LabelCodec.encodeLabels(labels)
      // the encoded field must survive the catalog LINE format too:
      // no structural char may leak through unescaped
      assert(!field.exists(c => c == '\t' || c == '\n' || c == '\r'), field)
      assert(LabelCodec.decodeLabels(field, "prop") == labels,
        s"round-trip diverged for $labels via '$field'")
    }
  }

  test("ivf nearest kernel equals the fold/sort reference (ties included)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dim = 4
    val vecGen = Gen.listOfN(dim, Gen.choose(-4, 4).map(_.toDouble))
    val vecs = samples(vecGen, 60).map(_.toSeq)
    // duplicate centroids (cells 2 and 5) force score ties; ids are
    // non-contiguous like a model whose empty cells were dropped
    val base = samples(vecGen, 4).map(_.toSeq)
    val cells: Seq[(Int, Seq[Double])] =
      Seq(0 -> base(0), 2 -> base(1), 3 -> base(2), 5 -> base(1), 7 -> base(3))
    def score(v: Seq[Double], c: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      val n = math.min(v.size, c.size)
      while (i < n) { acc += v(i) * c(i); i += 1 }
      var n2 = 0.0; c.foreach(x => n2 += x * x)
      -2.0 * acc + n2
    }
    // reference: strict-less argmin in ascending id order / stable
    // (score, id) sort
    def refTop(v: Seq[Double], n: Int): Seq[Int] =
      cells.map { case (id, c) => (score(v, c), id) }.sortBy(identity).take(n)
        .map(_._2)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "vec")
    val got = df.select(col("id"),
        graft.functions.VectorExpressions.ivfNearest(col("vec"), cells, 1).as("c1"),
        graft.functions.VectorExpressions.ivfNearest(col("vec"), cells, 3).as("c3"),
        graft.functions.VectorExpressions.ivfNearest(col("vec"), cells, 9).as("c9"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getSeq[Int](2), r.getSeq[Int](3)))).toMap
    vecs.zipWithIndex.foreach { case (v, i) =>
      val (c1, c3, c9) = got(i.toLong)
      assert(c1 == refTop(v, 1).head, s"argmin diverged for $v")
      assert(c3 == refTop(v, 3), s"top-3 diverged for $v")
      assert(c9 == refTop(v, 5), s"nProbe>k diverged for $v") // clamps to k
    }
  }

  test("marker-hits kernel equals the per-set declarative filters") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.{markerHits, tokens}
    val sets = Seq(Seq("the", "a", "of"), Seq("der", "die"), Seq("的", "是"))
    val texts = Seq("the cat of a hat", "der die das die", "的 是 的 words",
      "", "none here", "the the the 的")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val got = df.select(col("id"),
        graft.functions.TextKernels.markerHits(col("text"), sets).as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val t = tokens(col("text"))
    val want = df.select(col("id"),
        array(sets.map(ws => markerHits(t, ws)): _*).as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got == want)
  }

  // ---- minhash determinism under repartitioning ----

  test("minhash pairs stable under input partitioning") {
    import spark.implicits._
    val docs = (0 until 40).map(i => (i.toLong, s"tok${i % 7} " * 10 + s"word$i a b c d e f g"))
    val df1 = docs.toDF("doc_id", "text").repartition(1)
    val df8 = docs.toDF("doc_id", "text").repartition(8)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      graft.dedup.Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.3)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(df1) == pairs(df8))
  }

  // ---- Stupid Backoff vs a plain-Scala reference ----

  private val sbCorpusGen: Gen[List[List[String]]] = for {
    nDocs <- Gen.choose(3, 6)
    docs <- Gen.listOfN(nDocs, for {
      n <- Gen.choose(1, 8) // sub-trigram docs still feed bigrams/unigrams/N
      ts <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))
    } yield ts)
  } yield docs

  test("stupid backoff equals the counting reference on random corpora") {
    import spark.implicits._
    for (corpus <- samples(sbCorpusGen, 12)) {
      val train = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "toks")
      val m = graft.operators.NgramLm.fitTrigram(train, "toks")
      // probes mix in-vocab docs with an OOV token so every branch runs
      val probes = corpus.zipWithIndex.map { case (t, i) =>
        (100L + i, t :+ "oov") }.filter(_._2.size >= 3)
      if (probes.nonEmpty) {
        val got = graft.operators.NgramLm
          .stupidBackoff(probes.toDF("doc_id", "toks"), "doc_id", "toks", m)
          .collect().map(r => r.getLong(0) ->
            ((r.getAs[Long]("n_trigrams"), r.getAs[Double]("mean_log_s")))).toMap
        // plain-Scala reference over the same raw counts
        val tri = corpus.flatMap(_.sliding(3).filter(_.size == 3))
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        val bi = corpus.flatMap(_.sliding(2).filter(_.size == 2))
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        val uni = corpus.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val bigN = corpus.map(_.size).sum.toDouble
        probes.foreach { case (id, toks) =>
          val ls = toks.sliding(3).filter(_.size == 3).map { w =>
            val s1 = math.max(uni.getOrElse(w(2), 0L), 1L) / bigN
            val s2 =
              if (bi.getOrElse(List(w(1), w(2)), 0L) > 0)
                bi(List(w(1), w(2))).toDouble / uni(w(1)) // c(w2 w3)/c(w2)
              else 0.4 * s1
            val s3 =
              if (tri.getOrElse(w, 0L) > 0)
                tri(w).toDouble / bi(List(w(0), w(1)))
              else 0.4 * s2
            math.log(s3)
          }.toList
          val (n, mean) = got(id)
          assert(n == ls.size.toLong, s"doc $id trigram count")
          assert(math.abs(mean - ls.sum / ls.size) < 1e-9,
            s"doc $id: got $mean want ${ls.sum / ls.size}")
        }
      }
      graft.engine.Caches.release()
    }
  }

  // ---- packSpans reconstruction invariants on random weights ----

  private val weightsGen: Gen[List[Long]] = for {
    n <- Gen.choose(1, 20)
    ws <- Gen.listOfN(n, Gen.choose(0L, 13L)) // zeros must drop out
  } yield ws

  test("packSpans partitions the token stream exactly, any weights") {
    import spark.implicits._
    for (ws <- samples(weightsGen, 12); cap <- Seq(1L, 5L, 64L)) {
      val df = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "w")
      val spans = graft.operators.Packing.packSpans(df, Seq($"id"), "w", cap)
        .select($"id", $"bin", $"span_start", $"span_len").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val total = ws.sum
      // per-doc: spans cover [0, w) exactly, in consecutive bins
      val byDoc = spans.groupBy(_._1)
      ws.zipWithIndex.foreach { case (w, i) =>
        val mine = byDoc.getOrElse(i.toLong, Array.empty).sortBy(_._2)
        if (w == 0) assert(mine.isEmpty, s"zero-weight doc $i emitted spans")
        else {
          assert(mine.map(_._4).sum == w, s"doc $i coverage")
          assert(mine.head._3 == 0L && mine.forall(_._4 > 0), s"doc $i spans")
          assert(mine.map(_._2).toSeq == (mine.head._2 to mine.last._2).toSeq,
            s"doc $i bins not consecutive")
        }
      }
      // per-bin: every bin but the last holds exactly `cap` tokens
      if (total > 0) {
        val byBin = spans.groupBy(_._2).view.mapValues(_.map(_._4).sum).toMap
        val lastBin = (total - 1) / cap
        byBin.foreach { case (b, t) =>
          if (b < lastBin) assert(t == cap, s"bin $b underfull: $t")
        }
        assert(byBin.getOrElse(lastBin, 0L) == total - lastBin * cap)
      }
      graft.engine.Caches.release()
    }
  }

  // ---- DSv2 directory pruning: completeness under random filters ----

  /** A pushed-filter shape [[graft.sources.GraftSource.prune]] acts on
    * (or ignores), over names from `nameGen` and 100 ms buckets 0..9.
    */
  private def pruneFilterGen(
      nameGen: Gen[String]): Gen[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources._
    Gen.oneOf(
      nameGen.map(EqualTo("name", _)),
      Gen.listOfN(2, nameGen).map(ns => In("name", ns.toArray[Any])),
      Gen.choose(-50L, 1050L).map(GreaterThan("timestamp", _)),
      Gen.choose(-50L, 1050L).map(GreaterThanOrEqual("timestamp", _)),
      Gen.choose(-50L, 1050L).map(LessThan("timestamp", _)),
      Gen.choose(-50L, 1050L).map(LessThanOrEqual("timestamp", _)),
      Gen.choose(-50L, 1050L).map(EqualTo("timestamp", _)),
      Gen.const(IsNotNull("timestamp")))
  }

  private val pruneCase: Gen[(Seq[graft.sources.GraftSource.GraftFile],
      Seq[org.apache.spark.sql.sources.Filter], Long)] = {
    val nameGen = Gen.oneOf("a", "b", "c")
    val w = 100L
    val fileGen = for {
      n <- nameGen; b <- Gen.choose(0L, 9L)
    } yield graft.sources.GraftSource.GraftFile(s"/$n/$b", n, b * w, 1L)
    for {
      files <- Gen.listOfN(12, fileGen)
      filters <- Gen.listOfN(3, pruneFilterGen(nameGen))
    } yield (files.distinct, filters, w)
  }

  test("DSv2 prune never loses a file that can hold a matching row") {
    import org.apache.spark.sql.sources._
    def rowMatches(name: String, ts: Long, f: Filter): Boolean = f match {
      case EqualTo("name", v) => name == v
      case In("name", vs) => vs.contains(name)
      case EqualTo("timestamp", v: Long) => ts == v
      case GreaterThan("timestamp", v: Long) => ts > v
      case GreaterThanOrEqual("timestamp", v: Long) => ts >= v
      case LessThan("timestamp", v: Long) => ts < v
      case LessThanOrEqual("timestamp", v: Long) => ts <= v
      case IsNotNull(_) => true
      case other => fail(s"unexpected filter $other")
    }
    samples(pruneCase, 300).foreach { case (files, filters, w) =>
      val kept = graft.sources.GraftSource.prune(files, filters, w).toSet
      // completeness: every (file, in-bucket ts) row satisfying ALL
      // filters must come from a kept file
      for (f <- files; ts <- f.bucket until (f.bucket + w)) {
        if (filters.forall(rowMatches(f.name, ts, _)))
          assert(kept.contains(f),
            s"pruned $f though ts=$ts matches $filters")
      }
      // sanity: prune only ever drops, never invents
      assert(kept.subsetOf(files.toSet))
    }
  }

  test("DSv2 bound-pruned listing equals prune over the whole listing") {
    import graft.sources.GraftSource
    val w = 100L
    // stream names whose partition dirs carry %XX escapes
    val names = Seq("a" -> "a", "a/b" -> "a%2Fb", "c=d" -> "c%3Dd",
      "50%" -> "50%25")
    val root = java.nio.file.Files.createTempDirectory("graft_list")
    for (((_, dir), i) <- names.zipWithIndex; b <- 0L until 10L
         if (b + i) % 3 != 0) {
      val d = root.resolve(s"data/name=$dir/bucket=${b * w}")
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.write(d.resolve("part-0.parquet"), Array[Byte](1))
    }
    val conf = new org.apache.hadoop.conf.Configuration()
    val all = GraftSource.listFiles(root.toString, conf, w,
      GraftSource.Bounds.All)
    assert(all.map(_.name).toSet == names.map(_._1).toSet)
    val filterGen = pruneFilterGen(Gen.oneOf(names.map(_._1) :+ "zz"))
    samples(Gen.listOfN(3, filterGen), 300).foreach { filters =>
      val listed = GraftSource.listFiles(root.toString, conf, w,
        GraftSource.bounds(filters))
      assert(listed.toSet == GraftSource.prune(all, filters, w).toSet,
        s"filters $filters")
    }
  }

  // ---- GraftDb's graft-format read ≡ the whole-store parquet read ----

  /** (selector, modifier): the modifier goes after any range brackets. */
  private val selectorGen: Gen[(String, String)] = for {
    name <- Gen.oneOf("m_a", "m_b", "m_c")
    m <- Gen.oneOf("", "{host=\"x\"}", "{host!=\"x\"}",
      "{host=~\"x|y\"}", "{host=~\"y\"}")
    mod <- Gen.frequency(3 -> "", 1 -> " offset 1s", 1 -> " offset 2500ms",
      1 -> " @ 4", 1 -> " @ 6 offset 1s")
  } yield (name + m, mod)

  /** Query shapes over a (selector, modifier) pair. */
  private val shapes: Seq[(String, String) => String] = Seq(
    (s, mod) => s + mod,
    (s, mod) => s"sum($s$mod)",
    (s, mod) => s"count($s$mod)",
    (s, mod) => s"sum by (host) ($s$mod)",
    (s, mod) => s"rate($s[2s]$mod)",
    (s, mod) => s"sum_over_time($s[1500ms]$mod)",
    (s, mod) => s"max_over_time(rate($s[2s]$mod)[4s:1s])")

  private val queryGen: Gen[String] = for {
    sm <- selectorGen
    shape <- Gen.oneOf(shapes)
  } yield shape(sm._1, sm._2)

  /** Window edges on, just before and just after 1 s bucket edges. */
  private val windowGen: Gen[(Long, Long)] = for {
    start <- Gen.oneOf(0L, 1000L, 2999L, 3000L, 3001L, 5500L)
    len <- Gen.oneOf(999L, 1000L, 3000L, 5001L, 7000L, 9000L)
  } yield (start, start + len)

  test("GraftDb answers equal a TsdbEngine over the whole-store parquet read") {
    // 1 s buckets: three names (f64 with two `host` values, u64, i64),
    // 48 counter samples each over 0..11.75 s, flushed in two batches so
    // one bucket per stream holds two files
    val db = new graft.tsdb.GraftDb(spark,
      java.nio.file.Files.createTempDirectory("graft_equiv").toString,
      bucketMs = 1000L)
    Seq("m_a{host=\"x\"}" -> VType.F64, "m_a{host=\"y\"}" -> VType.F64,
        "m_b{host=\"x\"}" -> VType.U64, "m_c{host=\"y\"}" -> VType.I64)
      .zipWithIndex.foreach { case ((sel, vt), k) =>
        db.createStream(sel, vt)
        val ins = db.inserter(sel)
        (0L until 48L).foreach { i =>
          ins.insert(i * 250L, i * (k + 1) + (i % 3))
          if (i == 29L) ins.flush()
        }
        ins.flush()
      }
    val whole = new TsdbEngine(spark,
      spark.read.parquet(db.dataPath).drop("bucket"),
      new StreamCatalog(db.streams()))
    def answer(r: => graft.tsdb.TsdbResult)
        : Either[String, (Boolean, Boolean, Seq[String])] =
      scala.util.Try { val res = r
        (res.isScalar, res.grouped,
          res.output.collect().map(_.toString).sorted.toSeq)
      }.toEither.left.map(_.getClass.getName)
    val instant = samples(queryGen.flatMap(q => windowGen.map(q -> _)), 16)
      .map { case (q, (lo, hi)) =>
        val got = answer(db.query(q, lo, hi))
        assert(got == answer(whole.query(q, lo, hi)), s"$q over [$lo, $hi]")
        got
      }
    val ranged = samples(for {
      sm <- selectorGen
      f <- Gen.oneOf("rate", "sum_over_time")
      w <- windowGen
    } yield (s"$f(${sm._1}[2s]${sm._2})", w), 6, seed = 7L)
      .map { case (q, (lo, hi)) =>
        val got = answer(db.queryRange(q, lo, hi, 1000L))
        assert(got == answer(whole.queryRange(q, lo, hi, 1000L)),
          s"range $q over [$lo, $hi]")
        got
      }
    // the property is vacuous unless most cases answer non-empty
    val answered = (instant ++ ranged).count(_.exists(_._3.nonEmpty))
    assert(answered >= 14, s"only $answered of 22 cases answered rows")
  }

  test("shuffleOrder equals the window row_number over the same hash") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    for (n <- Seq(1, 13, 200)) {
      val df = (0 until n).map(_.toLong).toDF("id")
      val h = graft.operators.Sampling.keyHash(
        concat(lit("9:"), $"id".cast("string")))
      val want = df.withColumn("rn",
          row_number().over(Window.orderBy(h, $"id")))
        .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
      val got = graft.operators.Sampling.shuffleOrder(df, $"id", 9L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"n=$n")
      graft.engine.Caches.release()
    }
  }
}
