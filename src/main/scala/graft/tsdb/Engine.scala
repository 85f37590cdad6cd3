package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Expr._

/** Stream metadata: the Spark-side analogue of the reference's SQLite
  * catalog (tachyon_core/src/query/indexer.rs): a stream is a metric name
  * plus label set with a fixed value type (lib.rs:429-456).
  */
final case class StreamDef(name: String, labels: Map[String, String], vtype: VType)

final class StreamCatalog(defs: Seq[StreamDef]) {
  /** Selector resolution over the metadata-sized catalog. Equality
    * mirrors the reference's index intersection (indexer.rs:493-516);
    * `!=`/`=~`/`!~` evaluate the full Prometheus matcher algebra here
    * (catalog-sized work — see Expr.Matcher for the semantics).
    */
  def resolve(name: String, matchers: Seq[Matcher]): Seq[StreamDef] =
    defs.filter(d => (name.isEmpty || d.name == name) &&
      matchers.forall(m =>
        if (m.label == "__name__") m.matchesValue(d.name)
        else m.matches(d.labels)))

  /** The metric names a selector can touch — literal name, or the
    * catalog names its `__name__` matchers admit (metadata-sized; the
    * scan then prunes with an IN-list over the partition-keyed name
    * column instead of a per-row regex).
    */
  def namesFor(sel: Selector): Seq[String] =
    if (sel.name.nonEmpty) Seq(sel.name)
    else {
      val nameMs = sel.matchers.filter(_.label == "__name__")
      defs.map(_.name).distinct.filter(n => nameMs.forall(_.matchesValue(n)))
    }

  def vtypeOf(name: String, matchers: Seq[Matcher]): VType = {
    val hits = resolve(name, matchers)
    if (hits.isEmpty) VType.F64
    else hits.map(_.vtype).reduce(VType.combine)
  }
}

/** A query result: either a vector (rows of timestamp,value) or scalars
  * (rows of value — aggregates emit ≤1, topk emits ≤k), with the node's
  * value type per the coercion lattice. `grouped` marks a by/without
  * result (one row per label group, group-key columns before `value`).
  * Grouped results compose through [[TsdbEngine.groupedBinary]] (same-
  * grouping joins, scalar broadcast) and instant math; they stay
  * terminal for aggregate/topk and against plain vectors — the
  * scalar/vector dispatch has no label-matching semantics for those.
  */
final case class TsdbResult(df: DataFrame, isScalar: Boolean, vtype: VType,
    grouped: Boolean = false,
    /** true when a scalar-arity result can carry MORE than one row —
      * topk/bottomk with k > 1. The grouped ⊕ scalar broadcast arms
      * reject such operands loudly: cross-joining k scalar rows would
      * silently duplicate every group row (ADVICE r10).
      */
    multiRow: Boolean = false,
    /** A [[TsdbEngine.queryRange]] result's series key: the columns
      * naming one series — a `by` grouping's labels, the canonical
      * `labels` column of a `without` grouping, a matched composition's
      * many-side groups plus carried labels, count_values' value label —
      * empty for the one pooled series. Rows are (key..., timestamp,
      * value).
      */
    seriesKey: Seq[String] = Nil,
    /** true when `seriesKey` is the one-column canonical `without`
      * encoding (`k=v,k=v`, LabelCodec-escaped) rather than plain label
      * columns.
      */
    canonical: Boolean = false) {
  /** Output with reference type fidelity. Integer-typed streams compute
    * in LongType end-to-end (exact at any i64 magnitude, not just below
    * 2^53) except through V2V interpolation, which goes via f64 exactly
    * as the reference does (vector_to_vector.rs casts to f64 and rounds)
    * — that one path is rounded and cast back here.
    */
  def output: DataFrame =
    if (vtype == VType.F64) df
    else df.schema("value").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ => df.withColumn("value", round(col("value")).cast("long"))
    }
}

/** PromQL-subset → DataFrame translator; the Spark-native replacement for
  * the reference's planner+executor (tachyon_core/src/query/planner.rs
  * and the execution/node tree). Everything stays declarative: selectors
  * become
  * pushed-down parquet filters, aggregates become partial+final
  * HashAggregates, topk becomes TakeOrderedAndProject, and the V2V align
  * is a full-outer join + window interpolation (Align.scala).
  *
  * `data` is a long-format series table:
  *   (name STRING, labels MAP<STRING,STRING>, timestamp LONG (ms),
  *    value DOUBLE)
  */
final class TsdbEngine(
    val spark: SparkSession,
    data: DataFrame,
    catalog: StreamCatalog,
    /** Optional (stats table, bucketMs) — the ScanHint sidecar. When
      * present, eligible `*_over_time` range functions answer from it
      * (StatsAggregate.downsample) instead of scanning raw rows; see the
      * eligibility notes at the RangeFn eval case. GraftDb passes its
      * stats dir here automatically.
      */
    stats: Option[(DataFrame, Long)] = None,
    /** rate/increase estimator ([[RangeFns.RateMode]]): [[RangeFns.Exact]]
      * (default) is the un-extrapolated, oracle-checkable estimator;
      * [[RangeFns.Extrapolated]] opts into Prometheus' boundary
      * extrapolation for dashboards compared against a real Prometheus.
      */
    rateMode: RangeFns.RateMode = RangeFns.Exact) {

  /** Queries require explicit [start, end], as in the reference
    * (planner.rs:196-205).
    */
  def query(promql: String, startMs: Long, endMs: Long): TsdbResult =
    eval(PromParser.parse(promql), startMs, endMs)

  /** [[query]] from a pre-parsed AST (the API bridge parses once and
    * dispatches on the tree it evaluates).
    */
  def query(e: Expr, startMs: Long, endMs: Long): TsdbResult =
    eval(e, startMs, endMs)

  /** Prometheus query_range evaluation: a range function evaluated at
    * eval times startMs + i*stepMs (i = 0 .. (endMs-startMs)/stepMs),
    * each over the SLIDING lookback window (T - range, T] — the HTTP
    * query_range contract, vs [[query]]'s one-pass tumbling shape. The
    * selector scan extends `range` behind startMs so every window sees
    * its full lookback. See the AST form for the accepted roots.
    */
  def queryRange(promql: String, startMs: Long, endMs: Long,
      stepMs: Long): TsdbResult =
    queryRange(PromParser.parse(promql), startMs, endMs, stepMs)

  /** [[queryRange]] from a pre-parsed AST — the ONE query_range entry:
    * the Prometheus API bridge hands it every root it serves, and the
    * result names its series (`seriesKey`, `canonical`). Accepted roots:
    *
    *  - anything [[sliding]] evaluates, under the grouping the tree
    *    carries ([[rootGrouping]]) — one pooled series when it has none,
    *    one series per group otherwise,
    *  - MATCHED composition of two grouped aggregates, `sum by (a, b)
    *    (x) / on (a) group_left sum by (a) (y)` ([[matchedRange]]),
    *  - `topk`/`bottomk(k, <grouped or matched>)`: the k best series AT
    *    EACH STEP, ties to the series key ascending; `topk by (g) (k,
    *    <sliding>)` ranks within each group, which is ONE pooled series
    *    here — the identity for k ≥ 1, empty for k = 0,
    *  - `limitk` / `limit_ratio` over a grouped or matched child: the
    *    md5-order sample taken per step,
    *  - `count_values("l", inner)` ([[countValuesRange]]).
    *
    * k follows GetK's k-subplan contract ([[scalarK]]). Ranks and
    * samplers partition on the step timestamp over the series-count ×
    * step-count frame — never a global sort; each selector scans once.
    */
  def queryRange(e: Expr, startMs: Long, endMs: Long,
      stepMs: Long): TsdbResult = {
    def k(kExpr: Expr) = scalarK(kExpr, startMs, endMs)
    // the sliding recursion under a grouping; `by ()` pools like none
    def grouped(inner: Expr, g: Option[Grouping]) = {
      val key = withoutEmptyBy(g)
      rangedResult(sliding(inner, key, startMs, endMs, stepMs),
        key.fold(Seq.empty[String])(groupProjection(_)._1),
        canonical = key.exists(!_.by))
    }
    // a sampler's child: a matched composition, or any tree whose
    // grouping resolves — one series per group
    def series(child: Expr, op: String, example: String): TsdbResult =
      child match {
        case BinaryOp(kind, l @ Aggregate(_, _, Some(gl)),
            r @ Aggregate(_, _, Some(gr)), Some(m)) =>
          matchedRange(kind, l, gl, r, gr, m, startMs, endMs, stepMs)
        case _ => withoutEmptyBy(innerGrouping(child)) match {
          case g @ Some(_) =>
            requireOneInnerGrouping(child, s"ranged $op")
            grouped(child, g)
          case None => throw new IllegalArgumentException(
            s"ranged $op samples SERIES — aggregate into groups " +
              s"first: $example; got child: $child")
        }
      }
    e match {
      case BinaryOp(kind, l @ Aggregate(_, _, Some(gl)),
          r @ Aggregate(_, _, Some(gr)), Some(m)) =>
        matchedRange(kind, l, gl, r, gr, m, startMs, endMs, stepMs)
      case Aggregate(AggCountValues(label), inner, None) =>
        rangedResult(countValuesRange(label, inner, startMs, endMs, stepMs),
          Seq(label), canonical = false)
      case GetK(_, kExpr, child, g @ Some(_)) =>
        val r = grouped(child, g)
        if (k(kExpr) <= 0) r.copy(df = r.df.limit(0)) else r
      case GetK(top, kExpr, child, None) if innerGrouping(child).nonEmpty =>
        val s = series(child, "topk/bottomk", "topk(3, sum by (s) (m))")
        s.copy(df = perStepFirstK(s.df,
          (if (top) col("value").desc else col("value").asc) +:
            s.seriesKey.map(col(_).asc), k(kExpr)))
      case LimitK(kExpr, child) =>
        val s = series(child, "limitk", "limitk(3, sum by (s) (m))")
        s.copy(df = perStepFirstK(s.df, sampleOrderFor(s.seriesKey),
          k(kExpr)))
      case LimitRatio(r, child) =>
        val s = series(child, "limit_ratio",
          "limit_ratio(0.5, sum by (s) (m))")
        s.copy(df = perStepLimitRatio(s.df, s.seriesKey, r))
      case _ => grouped(e, rootGrouping(e))
    }
  }

  private def rangedResult(df: DataFrame, seriesKey: Seq[String],
      canonical: Boolean): TsdbResult =
    TsdbResult(df, isScalar = false, VType.F64,
      grouped = seriesKey.nonEmpty, seriesKey = seriesKey,
      canonical = canonical)

  /** The deterministic sampling order limitk/limit_ratio share: md5
    * over the group key (group values joined with a 0x01 separator;
    * null marks with a 0x02 sentinel so the null group and "" stay
    * distinct), group columns ascending as the tiebreak. md5 of the
    * same UTF-8 text is identical across engines, which is what makes
    * the selection ORACLE-checkable (DuckDB computes the same ranks).
    */
  private def sampleOrder(df: DataFrame): Seq[Column] = {
    // The group key is "every column but the value" — assert that
    // convention instead of silently trusting it, so a future child
    // that carries a timestamp (or renames value) fails loudly rather
    // than md5-ranking over a corrupted key (advice r13).
    require(df.columns.nonEmpty && df.columns.last == "value",
      s"limitk/limit_ratio expect a grouped frame with 'value' last; " +
        s"got [${df.columns.mkString(", ")}]")
    require(!df.columns.init.contains("timestamp"),
      "limitk/limit_ratio sample SERIES from a whole-range grouped " +
        "frame; a 'timestamp' column means a ranged child — use the " +
        "query_range surface")
    sampleOrderFor(df.columns.init.toSeq)
  }

  /** The md5 rule itself, over an explicit group-column list — shared
    * by the whole-range arms (via [[sampleOrder]]'s schema-checked
    * wrapper) and the per-step query_range samplers (whose frames
    * legitimately carry a timestamp column excluded from the key).
    */
  private def sampleOrderFor(gNames: Seq[String]): Seq[Column] = {
    val sep = 1.toChar.toString
    val nullMark = 2.toChar.toString + "null"
    md5(concat_ws(sep,
      gNames.map(g => coalesce(col(g), lit(nullMark))): _*).cast("binary")) +:
      gNames.map(col(_).asc)
  }

  /** GetK's k-subplan: evaluate whole-range, require a single scalar,
    * 1-row collect (the reference evaluates the k subplan first,
    * get_k.rs:77-79 — k is ONE number, so the single-value collect
    * mirrors that), round, clamp at 0. Shared by eval's GetK arm and
    * [[queryRange]]'s samplers, so every surface reads the same k text
    * identically (`topk(scalar(count(m)), ...)` included).
    */
  private def scalarK(kExpr: Expr, startMs: Long, endMs: Long): Int = kExpr match {
    case NumberLit(v) =>
      // literal k: same round-and-clamp as the evaluated path, no
      // 1-row Spark job for the common `topk(3, ...)` case. Clamp
      // BOTH ends — a bare Long.toInt would wrap topk(3e9, ...) to a
      // negative k and silently empty the result (review r13)
      math.min(Int.MaxValue.toLong, math.max(0L, math.round(v))).toInt
    case _ =>
      val kRes = eval(kExpr, startMs, endMs)
      require(kRes.isScalar && !kRes.grouped,
        "topk/bottomk k-parameter must be a single scalar")
      val kRows = kRes.df.limit(1).collect()
      if (kRows.isEmpty) 0
      else math.min(Int.MaxValue.toLong, math.max(0L, kRows(0).get(0) match {
        case d: java.lang.Double => math.round(d.doubleValue())
        case l: java.lang.Long => l.longValue()
        case other => other.toString.toLong
      })).toInt
  }

  /** count_values' query_range root ([[queryRange]]'s per-step model).
    * A bare Selector counts raw SAMPLES: ONE scan over
    * (start - step, end], each sample assigned to its UNIQUE step
    * window (step-sized lookbacks tile the range), then
    * per-(step, value-string) counts. Any other inner [[queryRange]]
    * accepts (rate/instant-fn/arithmetic trees, grouped aggregates)
    * counts the derived SERIES at each step — one per group, or the one
    * pooled series. Either way the value renders through the same string
    * cast the whole-range AggCountValues arm uses, so the surfaces
    * agree on label text; output stays (label, timestamp, value),
    * group-count × step-count bounded, no per-step rescan.
    */
  private def countValuesRange(label: String, inner: Expr, startMs: Long,
      endMs: Long, stepMs: Long): DataFrame = {
    requireValueLabel(label, Nil)
    val perStep = inner match {
      case sel: Selector =>
        val off = pmod(col("timestamp") - startMs, lit(stepMs))
        val stepTs = when(off === 0, col("timestamp"))
          .otherwise(col("timestamp") + (lit(stepMs) - off))
        select(sel, startMs - stepMs + 1, endMs)
          .select(stepTs.as("timestamp"), col("value"))
          .where(col("timestamp") >= startMs && col("timestamp") <= endMs)
      case _ =>
        requireOneInnerGrouping(inner, "count_values over a derived inner")
        queryRange(inner, startMs, endMs, stepMs).df
          .select(col("timestamp"), col("value"))
    }
    perStep
      .groupBy(col("value").cast("string").as(label), col("timestamp"))
      .agg(count(lit(1)).cast("double").as("value"))
      .select(col(label), col("timestamp"), col("value"))
  }

  /** The grouping an inner tree evaluates under: the first by/without
    * clause found walking the composition — the convention that an
    * aggregate-free operand beside a grouped aggregate evaluates per
    * group. [[queryRange]] routes subqueries and ranged samplers by
    * this same walk.
    */
  private def innerGrouping(e: Expr): Option[Grouping] = e match {
    case Aggregate(_, c, g) => g.orElse(innerGrouping(c))
    case BinaryOp(_, l, r, _) =>
      innerGrouping(l).orElse(innerGrouping(r))
    case InstantFn(_, c, _) => innerGrouping(c)
    case RangeFn(_, c, _) => innerGrouping(c)
    case SubqueryMatrix(c, _, _, _) => innerGrouping(c)
    case _ => None
  }

  /** The grouping a [[queryRange]] root evaluates under: the clause of
    * the aggregates at the tree's composition level (through binary/set
    * composition and instant math) — a groupless aggregate there pools
    * the whole selection, so it does not take a clause from below it —
    * otherwise the inner tree's ([[innerGrouping]]: a subquery's
    * grouping distributes over its composition). `by ()` is no
    * grouping: it pools like the groupless form.
    */
  private def rootGrouping(e: Expr): Option[Grouping] = {
    def composed(e: Expr): Option[Option[Grouping]] = e match {
      case Aggregate(_, _, g) => Some(g)
      case BinaryOp(_, l, r, None) => composed(l).orElse(composed(r))
      case InstantFn(_, c, _) => composed(c)
      case _ => None
    }
    withoutEmptyBy(composed(e).getOrElse(innerGrouping(e)))
  }

  /** An aggregate clause with `by ()` read as no clause: both pool the
    * whole selection into one series.
    */
  private def withoutEmptyBy(g: Option[Grouping]): Option[Grouping] =
    g.filterNot(x => x.by && x.labels.isEmpty)

  /** EVERY grouping an inner tree carries at its composition level —
    * the agreement check behind [[innerGrouping]]'s first-hit walk
    * (advice r14): a mixed inner like `sum by (a) (x) / sum by (b)
    * (y)` used to dispatch under by(a) and fail deep inside the
    * grouped sliding evaluator with a subquery-oriented message.
    * Descent stops at an aggregate's OWN clause (a finer grouping
    * nested under it is the legal subquery-pooling case, validated
    * where it evaluates).
    */
  private def innerGroupings(e: Expr): Seq[Grouping] = e match {
    case Aggregate(_, c, g) => g.map(Seq(_)).getOrElse(innerGroupings(c))
    case BinaryOp(_, l, r, _) => innerGroupings(l) ++ innerGroupings(r)
    case InstantFn(_, c, _) => innerGroupings(c)
    case RangeFn(_, c, _) => innerGroupings(c)
    case SubqueryMatrix(c, _, _, _) => innerGroupings(c)
    case _ => Nil
  }

  private def requireOneInnerGrouping(inner: Expr, what: String): Unit = {
    val gs = innerGroupings(inner)
      .map(g => (g.by, g.labels.toSet)).distinct
    require(gs.size <= 1,
      s"$what needs ONE grouping across the inner composition — " +
        s"found ${gs.map { case (by, ls) =>
          (if (by) "by" else "without") + ls.mkString("(", ", ", ")")
        }.mkString(" vs ")}; aggregate the operands to a shared key " +
        "(matched on/ignoring composition routes through the matched " +
        "query_range surface instead)")
  }

  /** The grouping a subquery INNER evaluates under when it differs
    * from the evaluation grouping (round 14): a FINER `by` superset is
    * legal — the inner evaluates per its own grouping and its
    * sub-series pool into the evaluation groups at the outer window
    * fold (the caller drops the extra label columns). Anything else
    * still rejects loudly: a coarser or `without` inner has no
    * defined projection onto the evaluation key. Returns `grouping`
    * ITSELF (reference-equal) when the two agree, so callers can skip
    * the projection.
    */
  private def finerInnerGrouping(inner: Expr, grouping: Grouping): Grouping =
    innerGrouping(inner) match {
      case Some(x) if !(x.by == grouping.by &&
          x.labels.toSet == grouping.labels.toSet) =>
        if (!x.by && grouping.by) {
          // a `without` inner under a `by` evaluation (round 15): the
          // inner's canonical groups each CARRY the evaluation labels'
          // values inside the canonical string — re-opened per group
          // (the ts110/ts111 machinery) they project onto the
          // evaluation key and pool at the outer fold, exactly the
          // finer-`by` rule. Undefined only when the inner REMOVED an
          // evaluation label: its value is gone from the canonical set
          val removed = grouping.labels.toSet.intersect(x.labels.toSet)
          require(removed.isEmpty,
            s"the inner `without` grouping removed evaluation " +
              s"label(s) ${removed.mkString(", ")} — their values are " +
              "gone from the canonical group identity; keep them in " +
              "the inner grouping or re-group the outer evaluation")
          x
        } else {
          require(x.by && grouping.by &&
              grouping.labels.toSet.subsetOf(x.labels.toSet),
            s"inner grouping (${if (x.by) "by" else "without"} " +
              s"${x.labels.mkString("(", ", ", ")")}) differs from the " +
              s"evaluation grouping (${if (grouping.by) "by" else "without"}" +
              s" ${grouping.labels.mkString("(", ", ", ")")}) — a finer " +
              "`by` superset (or a `without` inner keeping the " +
              "evaluation labels) pools into a `by` evaluation grouping " +
              "at the outer fold; re-group the outer evaluation otherwise")
          x
        }
      case _ => grouping
    }

  /** Project the evaluation key out of an inner frame evaluated under
    * `ig` (the subquery pooling rule's column step): a finer `by`
    * inner already carries the evaluation labels as columns; a
    * `without` inner re-opens each one's VALUE from the canonical
    * labels string — [[finerInnerGrouping]] has already rejected the
    * removed-label case, and a label merely absent from a group's
    * label set re-opens as null (the missing-label convention).
    */
  private def projectInnerGroups(df: DataFrame, ig: Grouping,
      gNames: Seq[String]): DataFrame = {
    val cols =
      if (ig.by) df
      else {
        val reserved = gNames.filter(Seq("labels", "timestamp", "value")
          .contains)
        require(reserved.isEmpty,
          s"evaluation label(s) ${reserved.mkString(", ")} collide with " +
            "result columns and cannot re-open from a canonical group")
        gNames.foldLeft(df)((d, k) => d.withColumn(k,
          unescapeLabelCol(element_at(
            str_to_map(col("labels"), lit(","), lit("=")),
            lit(LabelCodec.escape(k))))))
      }
    cols.select(gNames.map(col) ++
      Seq(col("timestamp"), col("value")): _*)
  }

  /** Subquery-offset report-back: the inner evaluated on the shifted
    * clock reports on the outer one (shared by the tumbling and
    * sliding subquery arms).
    */
  private def reportOnOuterClock(df: DataFrame, soff: Long): DataFrame =
    if (soff == 0L) df
    else df.withColumn("timestamp", col("timestamp") + lit(soff))

  private def scanValue = col("value")

  private def eval(e: Expr, start: Long, end: Long): TsdbResult = e match {
    case NumberLit(v) =>
      // Literal scalars are always Float64 (planner.rs:140-143).
      TsdbResult(
        spark.range(1).select(lit(v).cast("double").as("value")),
        isScalar = true, VType.F64)

    case sel: Selector =>
      TsdbResult(select(sel, start, end), isScalar = false,
        catalog.vtypeOf(sel.name, sel.matchers))

    case Aggregate(kind, child, None) =>
      val c = eval(child, start, end)
      require(!c.isScalar || c.grouped,
        "aggregate over a scalar is not supported (reference planner)")
      // An ungrouped aggregate FOLDS a grouped child like a vector:
      // `sum(sum by (dc) (m))` — Prometheus' collapse-to-one shape;
      // count counts the groups. Input is post-aggregation
      // group-count-sized, so this is a metadata-sized fold.
      if (c.grouped)
        aggregate(kind,
          TsdbResult(c.df.select(col("value")), isScalar = false, c.vtype))
      else aggregate(kind, c)

    case Aggregate(kind, child, Some(g)) =>
      // `sum by (user) (...)` — the clause the reference parses then
      // DROPS (planner.rs:84-88), evaluated for real here.
      groupedAggregate(kind, child, g, start, end)

    case LimitK(kExpr, child) =>
      // deterministic series sampling (Prometheus limitk; exact-count
      // md5-order rule — see Ast.LimitK): orderBy+limit compiles to
      // TakeOrderedAndProject, a bounded heap over the post-aggregation
      // group-count-sized frame
      val k = scalarK(kExpr, start, end)
      val c = eval(child, start, end)
      require(c.grouped, "limitk selects SERIES — in the pooled-series " +
        "model a plain vector is ONE series; aggregate into groups " +
        "first: limitk(2, sum by (s) (m))")
      TsdbResult(
        if (k == 0) c.df.limit(0)
        else c.df.orderBy(sampleOrder(c.df): _*).limit(k),
        // sampling FILTERS series — it never changes the child's value
        // shape, so echo it instead of hardcoding (advice r13)
        c.isScalar, c.vtype, grouped = true)

    case LimitRatio(r, child) =>
      require(r >= -1 && r <= 1, s"limit_ratio takes r in [-1, 1], got $r")
      val c = eval(child, start, end)
      require(c.grouped, "limit_ratio selects SERIES — in the pooled-" +
        "series model a plain vector is ONE series; aggregate into " +
        "groups first: limit_ratio(0.5, sum by (s) (m))")
      // rank + total over the group-count-sized frame (single-partition
      // window over POST-AGGREGATION groups — metadata-sized, never the
      // scan); r ≥ 0 keeps the first round(r·n) groups in md5 order,
      // r < 0 everything AFTER the first round((1+r)·n) — the exact
      // complement of the positive arm's count, so limit_ratio(r) and
      // limit_ratio(r−1) partition even when r·n lands on a .5
      // boundary (n=5, r=0.5 keeps ranks 1–3; r=−0.5 keeps 4–5, not
      // 3–5 as the old n−round(−r·n) cut did; advice r13)
      val wOrd = org.apache.spark.sql.expressions.Window
        .orderBy(sampleOrder(c.df): _*)
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
      val ranked = c.df
        .withColumn("_rk", row_number().over(wOrd))
        .withColumn("_n", count(lit(1)).over(wAll))
      val kept =
        if (r >= 0) ranked.where(col("_rk") <= round(lit(r) * col("_n")))
        else ranked.where(col("_rk") > round(lit(1 + r) * col("_n")))
      TsdbResult(kept.drop("_rk", "_n"),
        c.isScalar, c.vtype, grouped = true)

    case GetK(top, kExpr, child, grouping) =>
      val k = scalarK(kExpr, start, end)
      grouping match {
        case Some(g) => groupedGetK(top, k, child, g, start, end)
        case None =>
          val c = eval(child, start, end)
          require(!c.isScalar || c.grouped,
            "topk/bottomk over a scalar is not supported")
          if (c.grouped) groupRowGetK(top, k, c) else getK(top, k, c)
      }

    case BinaryOp(kind, lhs, rhs, matching) =>
      val l = eval(lhs, start, end)
      val r = eval(rhs, start, end)
      if (isSetOp(kind)) setBinary(kind, l, r, matching)
      else matching match {
        case Some(m) => groupedBinaryMatched(kind, l, r, m)
        case None =>
          if (l.grouped || r.grouped) groupedBinary(kind, l, r)
          else binary(kind, l, r, start, end)
      }

    case RangeFn(kind, MatrixSelector(sel, rangeMs), fnArgs) =>
      // Range-function extension (RangeFns.scala contract): tumbling
      // rangeMs windows over the selector's scan, one row per window.
      // Emits a normal vector, so aggregates / topk / binary ops compose
      // over it through the existing dispatch unchanged.
      //
      // Stats pushdown: sum/count/min/max/avg_over_time are exactly the
      // sidecar's summary set, so with a stats table at hand they answer
      // from covered bucket rows + boundary raw rows
      // (StatsAggregate.downsample) — the ScanHint optimization applied
      // per window. Ineligible: label matchers (stats rows aggregate
      // across a name's label sets) and @/offset (they move the scan
      // start away from the window alignment start); rate/increase/
      // delta/last need the raw samples by definition.
      val statsServed = stats.collect {
        case (st, bucketMs)
            if sel.matchers.isEmpty && sel.at.isEmpty && sel.offsetMs == 0 =>
          val pick = kind match {
            case FnSumOverTime => Some(col("value_sum"))
            case FnCountOverTime => Some(col("n").cast("double"))
            case FnMinOverTime => Some(col("min_value"))
            case FnMaxOverTime => Some(col("max_value"))
            case FnAvgOverTime => Some(col("avg_value"))
            case _ => None
          }
          pick.map { v =>
            StatsAggregate
              .downsample(data, st, sel.name, start, end, bucketMs, rangeMs)
              .select(col("window_start").as("timestamp"), v.as("value"))
          }
      }.flatten
      TsdbResult(
        statsServed.getOrElse(
          RangeFns(kind, select(sel, start, end), rangeMs, start, end,
            fnArgs, rateMode)),
        isScalar = false, VType.F64)

    case RangeFn(kind, SubqueryMatrix(inner, subRange, subStep, soff), fnArgs) =>
      // Subquery: the inner range fn evaluated slidingly every subStep
      // over [start, end] becomes a DERIVED series, and the outer fn
      // windows it tumbling exactly like a matrix selector's samples —
      // `max_over_time(rate(x[5m])[1h:5m])`, the alerting shape. Inner
      // sample volume is step-count × series bounded (metadata-sized),
      // so the outer aggregation never touches raw rows again.
      // `offset` shifts the inner evaluation range back and reports on
      // the outer clock — the step grid stays aligned to `start`.
      // A GROUPED inner (`max_over_time(sum by (u) (rate(x[1d]))
      // [3d:12h])`, the per-tenant alerting shape) evaluates under the
      // grouping [[queryRange]] gives it ([[rootGrouping]]), and the
      // outer fn tumbles per (groups..., window): a grouped result of
      // (groups..., timestamp = window start, value). Still one scan.
      val g = rootGrouping(inner)
      val gNames = g.fold(Seq.empty[String])(groupProjection(_)._1)
      val derived = reportOnOuterClock(
        sliding(inner, g, start - soff, end - soff, subStep), soff)
      TsdbResult(
        RangeFns(kind, derived, subRange, start, end, fnArgs, rateMode,
          groupCols = gNames),
        isScalar = g.nonEmpty, VType.F64, grouped = g.nonEmpty)

    case RangeFn(_, other, _) =>
      throw new IllegalArgumentException(
        s"range function requires a matrix selector child, got: $other")

    case _: SubqueryMatrix =>
      throw new IllegalArgumentException(
        "a subquery is only valid inside a range function")

    case InstantFn(kind, child, args) =>
      // Instant math extension: row-local value map over a vector,
      // Float64 result like PromQL's math functions. Composes over
      // selectors, range fns, and binary results alike.
      val c = eval(child, start, end)
      require(!c.isScalar || c.grouped,
        s"${kind.name} applies to a vector, not a scalar (use plain arithmetic)")
      // row-local value maps apply to grouped results unchanged (the
      // group columns ride along)
      val mapped =
        TsdbEngine.instantColumn(kind, args, col("value").cast("double"))
      TsdbResult(c.df.withColumn("value", mapped),
        isScalar = c.isScalar, VType.F64, grouped = c.grouped)

    case HistogramQuantile(phi, child) =>
      histogramQuantile(phi, eval(child, start, end))

    case LabelReplace(child, dst, repl, src, regex) =>
      // Row-local group-label rewrite. Grouped (`by`) results carry one
      // addressable column per label, so the rewrite is a projection —
      // no exchange, and the result composes with nested rollups,
      // grouped binary, and set operators like any grouped result.
      val c = eval(child, start, end)
      require(c.grouped, "label_replace operates on a grouped (`by`) " +
        "result — aggregate with `by (...)` first so labels are columns")
      val cols = c.df.columns
      require(cols.contains(src),
        s"label_replace source label `$src` is not a group column of " +
          s"the operand (${cols.init.mkString(", ")})")
      val reserved = Set("timestamp", "value", "wstart", "_rk", "labels")
      require(!reserved.contains(dst),
        s"label_replace destination `$dst` collides with a result column")
      // anchored like Prometheus (the regex must match the WHOLE value);
      // malformed patterns reject at plan time, loudly
      val anchored = "^(?:" + regex + ")$"
      java.util.regex.Pattern.compile(anchored)
      val srcC = coalesce(col(src).cast("string"), lit(""))
      val expanded = regexp_replace(srcC, lit(anchored), lit(repl))
      val existing =
        if (cols.contains(dst)) col(dst) else lit(null).cast("string")
      // an empty expansion REMOVES the label (null — the engine's
      // missing-label encoding); no match keeps the existing dst
      val newDst = when(srcC.rlike(anchored),
        when(expanded === "", lit(null)).otherwise(expanded))
        .otherwise(existing)
      val out =
        if (cols.contains(dst))
          c.df.select(cols.map(n =>
            if (n == dst) newDst.as(dst) else col(n)).toSeq: _*)
        else
          c.df.select((cols.init.map(col) :+ newDst.as(dst)) :+
            col(cols.last): _*)
      TsdbResult(out, c.isScalar, c.vtype, grouped = true)

    case LabelJoin(child, dst, sep, srcs) =>
      val c = eval(child, start, end)
      require(c.grouped, "label_join operates on a grouped (`by`) " +
        "result — aggregate with `by (...)` first so labels are columns")
      val cols = c.df.columns
      val missing = srcs.filterNot(cols.contains)
      require(missing.isEmpty,
        s"label_join source label(s) not group columns of the operand: " +
          s"${missing.mkString(", ")} (have ${cols.init.mkString(", ")})")
      val reserved = Set("timestamp", "value", "wstart", "_rk", "labels")
      require(!reserved.contains(dst),
        s"label_join destination `$dst` collides with a result column")
      // absent source labels contribute "" (Prometheus' rule)
      val joined = concat_ws(sep,
        srcs.map(s0 => coalesce(col(s0).cast("string"), lit(""))): _*)
      val out =
        if (cols.contains(dst))
          c.df.select(cols.map(n =>
            if (n == dst) joined.as(dst) else col(n)).toSeq: _*)
        else
          c.df.select((cols.init.map(col) :+ joined.as(dst)) :+
            col(cols.last): _*)
      TsdbResult(out, c.isScalar, c.vtype, grouped = true)

    case Sort(desc, child) =>
      // presentation ordering by value (PromQL sort/sort_desc); ties
      // break on the remaining columns so the order is total. The
      // DataFrame contract can't pin downstream order, but the CLI /
      // HTTP / CSV surfaces render in this order.
      val c = eval(child, start, end)
      require(!c.isScalar || c.grouped,
        "sort applies to a vector or grouped result, not a scalar")
      val rest = c.df.columns.filterNot(_ == "value").map(col(_).asc)
      val ord = (if (desc) col("value").desc else col("value").asc) +: rest
      TsdbResult(c.df.orderBy(ord.toSeq: _*), c.isScalar, c.vtype,
        grouped = c.grouped, multiRow = c.multiRow)

    case SortByLabel(desc, child, labels) =>
      // presentation ordering by label columns (experimental
      // Prometheus pair to sort/sort_desc); grouped results only —
      // plain vectors carry no label columns
      val c = eval(child, start, end)
      require(c.grouped,
        "sort_by_label applies to a grouped (`by`) result")
      val missing = labels.filterNot(c.df.columns.contains)
      require(missing.isEmpty,
        s"sort_by_label: no such label column(s): ${missing.mkString(", ")}")
      val rest = c.df.columns.filterNot(labels.contains).map(col(_).asc)
      val keyed = labels.map(l => if (desc) col(l).desc else col(l).asc)
      TsdbResult(c.df.orderBy(keyed ++ rest: _*), c.isScalar, c.vtype,
        grouped = true, multiRow = c.multiRow)

    case TimestampFn(child) =>
      // each sample's own timestamp in seconds as the value; labels
      // (columns) ride along. Only results that still carry sample
      // timestamps qualify — aggregates have folded theirs away.
      val c = eval(child, start, end)
      require(c.df.columns.contains("timestamp"),
        "timestamp() needs a result that still carries sample " +
          "timestamps (a plain vector; aggregated results do not)")
      TsdbResult(
        c.df.withColumn("value", col("timestamp").cast("double") / 1000.0),
        c.isScalar, VType.F64, grouped = c.grouped)

    case TimeFn =>
      // the eval timestamp, seconds — `end` in the whole-range model
      TsdbResult(
        spark.range(1).select(lit(end / 1000.0).as("value")),
        isScalar = true, VType.F64)

    case ScalarFn(child) =>
      // exactly-one-element vector → its value; anything else → NaN.
      // One aggregate decides it in-plan: no driver-side count.
      val c = eval(child, start, end)
      require(!c.isScalar && !c.grouped,
        "scalar() takes an instant vector (scalars and grouped results " +
          "are rejected, as in Prometheus)")
      TsdbResult(
        c.df.agg(when(count(lit(1)) === 1, max(col("value").cast("double")))
          .otherwise(lit(Double.NaN)).as("value")),
        isScalar = true, VType.F64)

    case VectorFn(child) =>
      // scalar → one unlabeled sample at the eval timestamp (`end`).
      val c = eval(child, start, end)
      require(c.isScalar && !c.grouped && !c.multiRow,
        "vector() takes a single-row scalar expression")
      TsdbResult(
        c.df.select(lit(end).as("timestamp"),
          col("value").cast("double").as("value")),
        isScalar = false, VType.F64)

    case AbsentFn(child) =>
      // ONE row of 1.0 when the child vector is EMPTY over the range —
      // the gap alarm. A left-anti join against a LIMIT-1 probe of the
      // child keeps the whole decision on the executors (no driver
      // count); the probe short-circuits on the first sample found.
      val c = eval(child, start, end)
      require(!c.isScalar && !c.grouped,
        "absent() takes a plain vector expression (aggregates and " +
          "grouped results answer their own emptiness by arity)")
      val probe = c.df.select(lit(1).as("one")).limit(1)
      val out = spark.range(1).join(probe, lit(true), "left_anti")
        .select(lit(1.0).as("value"))
      TsdbResult(out, isScalar = true, VType.F64)

    case _: MatrixSelector =>
      // Preserve the reference's rejection for bare matrix selectors
      // (planner.rs rejects them outright; only RangeFn may consume one).
      throw new IllegalArgumentException(
        "matrix selector is only valid inside a range function")
  }

  /** histogram_quantile — Prometheus' bucket-interpolation quantile
    * (the published rule, promql/quantile.go), over a GROUPED child
    * whose group columns include `le` (the cumulative bucket bound;
    * "+Inf" tops the histogram): `histogram_quantile(0.9,
    * sum by (job, le) (bucket_metric))`. Per group (the non-`le`
    * columns): rank = φ·total (total = the +Inf bucket's count); the
    * answer lives in the FIRST bucket whose cumulative count reaches
    * the rank, linearly interpolated across [prev_le, le]; the +Inf
    * bucket answers with the highest finite le; a first bucket with
    * le ≤ 0 answers its own le. Counts get Prometheus' monotonic
    * repair (running max by bound) so a slightly unsorted histogram
    * cannot yield a negative in-bucket mass. Groups without a +Inf
    * bucket or with < 2 buckets drop (Prometheus: NaN + warning);
    * malformed `le` strings drop their bucket (Prometheus skips them).
    *
    * Scale shape: the child is post-aggregation group-count-sized, so
    * both window passes (same partitioning — one exchange) and the
    * candidate filter touch bucket-count × group-count rows, never the
    * scan.
    */
  private def histogramQuantile(phi: Double, c: TsdbResult): TsdbResult = {
    require(phi >= 0 && phi <= 1,
      s"histogram_quantile φ must be in [0, 1], got $phi")
    require(c.grouped,
      "histogram_quantile requires a grouped bucket vector — aggregate " +
        "with `by (..., le)` so the bucket bound is a group column")
    require(c.df.columns.contains("le"),
      s"histogram_quantile needs an `le` group column (the bucket upper " +
        s"bound); got columns: ${c.df.columns.mkString(", ")}")
    val others = c.df.columns.filterNot(Set("le", "value")).toSeq
    val part = others.map(col)
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(part: _*).orderBy(col("le_num"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(part: _*)
    val inf = lit(Double.PositiveInfinity)
    val leNum = when(col("le").isin("+Inf", "Inf", "inf"), inf)
      .otherwise(expr("try_cast(le AS double)"))
    val staged = c.df
      .withColumn("le_num", leNum)
      .where(col("le_num").isNotNull)
      // monotonic repair: cumulative counts may never decrease by bound
      .withColumn("cnt", max(col("value").cast("double")).over(
        wOrd.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
      .withColumn("prev_le", lag(col("le_num"), 1).over(wOrd))
      .withColumn("prev_cnt", lag(col("cnt"), 1).over(wOrd))
      .withColumn("total", max(col("cnt")).over(wAll))
      .withColumn("max_fin",
        max(when(col("le_num") =!= inf, col("le_num"))).over(wAll))
      .withColumn("top_le", max(col("le_num")).over(wAll))
      .withColumn("nb", count(lit(1)).over(wAll))
    val rank = lit(phi) * col("total")
    val candidate = col("cnt") >= rank &&
      coalesce(col("prev_cnt") < rank, lit(true))
    val start0 = coalesce(col("prev_le"), lit(0.0))
    val prev0 = coalesce(col("prev_cnt"), lit(0.0))
    val value = when(col("le_num") === inf, col("max_fin"))
      .when(col("prev_le").isNull && col("le_num") <= 0, col("le_num"))
      .otherwise(start0 + (col("le_num") - start0) *
        ((rank - prev0) / (col("cnt") - prev0)))
    val out = staged
      .where(col("top_le") === inf && col("total") > 0 &&
        col("nb") >= 2 && candidate)
      .select(part :+ value.as("value"): _*)
    TsdbResult(out, isScalar = true, VType.F64, grouped = others.nonEmpty)
  }

  /** Grouped aggregate evaluation — the string surface for `by`/
    * `without` ([[Expr.Grouping]]), which the reference parses then
    * drops entirely (planner.rs:84-88). Semantics, written down as the
    * contract:
    *
    *  - `by (k1, k2)` emits one row per distinct (k1, k2) label-value
    *    tuple, with one result column PER LABEL (named by the label;
    *    null when a series lacks it — Prometheus' missing-label rule)
    *    plus `value`. `by ()` aggregates everything into one group.
    *  - `without (ks)` groups on the full label set minus `ks`, emitted
    *    as one canonical `k=v,k=v` string column named `labels` (keys
    *    sorted — layout-independent; keys and values percent-escaped per
    *    [[LabelCodec]]'s structural set, so adversarial values carrying
    *    `,`/`=` cannot merge two distinct groups).
    *  - The child may be a selector or a range function over a matrix
    *    selector, optionally under ROW-LOCAL transforms: instant math,
    *    scalar-literal arithmetic (`sum by (u) (purchase * 2)`), and
    *    scalar-literal comparison — a filter keeping the value, the
    *    V2S rule (`sum by (u) (purchase > 100)`). A range-fn child
    *    evaluates per (group, tumbling window) — each group's windows
    *    see only that group's samples — and the outer aggregate then
    *    folds each group's windows (this engine's whole-range model:
    *    plain `sum(rate(m[1d]))` folds windows too).
    *  - Values compute in Float64, count included.
    *
    * Scale shape: one scan, group keys derived row-locally from the
    * `labels` map, one exchange on (groups[, wstart]) — group count
    * multiplies output rows, never passes over the scan.
    */
  private def groupedAggregate(kind: AggKind, child: Expr, g: Grouping,
      start: Long, end: Long): TsdbResult = child match {
    // nested grouped children re-aggregate the inner GROUP ROWS — the
    // two-level rollup `sum by (dc) (sum by (dc, instance) (m))`
    case Aggregate(_, _, Some(ig)) =>
      nestedGroupedAggregate(kind, child, ig, g, start, end)
    case GetK(_, _, _, Some(ig)) =>
      nestedGroupedAggregate(kind, child, ig, g, start, end)
    // a grouped-binary child (the ts64 ratio shape) rolls up too:
    // `avg by (dc) (sum by (dc, u) (x) / count by (dc, u) (x))` — the
    // per-dc mean of per-user means. The binary's grouping is its
    // LEFT operand's (identical-grouping joins share it; matched
    // binaries keep the many side's, which sits left under group_left)
    case BinaryOp(_, Aggregate(_, _, Some(ig)), _, _) if ig.by =>
      nestedGroupedAggregate(kind, child, ig, g, start, end)
    case BinaryOp(_, _, Aggregate(_, _, Some(ig)), _) if ig.by =>
      nestedGroupedAggregate(kind, child, ig, g, start, end)
    // label-manipulation children always yield addressable (`by`-shaped)
    // grouped results, so the outer clause re-groups their rows like a
    // nested `by` rollup — `sum by (bucket) (label_replace(sum by (u)
    // (m), "bucket", ...))`, the relabel-then-rollup shape. Same for
    // histogram_quantile (its output keeps the non-`le` group columns).
    case _: LabelReplace | _: LabelJoin | _: HistogramQuantile =>
      nestedGroupedAggregate(kind, child, Grouping(by = true, Nil),
        g, start, end)
    case _ =>
      val (rows, gNames) = groupedVector(child, g, start, end)
      kind match {
        case AggCountValues(label) =>
          // the value-string column joins the group keys:
          // `count_values("v", m) by (user)` — per (user, value) counts
          requireValueLabel(label, gNames)
          val out = rows
            .groupBy(gNames.map(col) :+
              col("value").cast("string").as(label): _*)
            .agg(count(lit(1)).cast("double").as("value"))
          TsdbResult(out, isScalar = true, VType.F64, grouped = true)
        case _ =>
          val out =
            rows.groupBy(gNames.map(col): _*).agg(aggColumn(kind).as("value"))
          // empty-set arity (aggregate.rs:35-75): `by ()` over nothing
          // emits no row for sum/avg/min/max but count → 0, like the
          // ungrouped form
          val arity =
            if (kind == AggCount) out else out.where(col("value").isNotNull)
          TsdbResult(arity, isScalar = true, VType.F64, grouped = gNames.nonEmpty)
      }
  }

  /** The grouped surface's aggregate column (count → double). Shared
    * by the one-level and nested paths, and by the ungrouped form for
    * the Float64 family. count_values changes the KEY SET, so it routes
    * through the callers' grouped-keys special case instead.
    */
  private def aggColumn(kind: AggKind): Column = kind match {
    case AggSum => sum(col("value"))
    case AggCount => count(lit(1)).cast("double")
    case AggAvg => avg(col("value"))
    case AggMin => min(col("value"))
    case AggMax => max(col("value"))
    // Prometheus' population moments
    case AggStddev => stddev_pop(col("value").cast("double"))
    case AggStdvar => var_pop(col("value").cast("double"))
    // group(): 1 wherever at least one sample exists
    case AggGroup => when(count(lit(1)) > 0, lit(1.0))
    case AggQuantile(phi) =>
      // PromQL's φ-quantile is linear interpolation at rank φ(n-1) —
      // SQL percentile_cont's rule, Spark's exact `percentile`. Out of
      // bounds rejects loudly (Prometheus emits ±Inf with a warning;
      // this engine refuses loudly instead, like its other edges)
      require(phi >= 0 && phi <= 1, s"quantile φ must be in [0, 1], got $phi")
      expr(s"percentile(CAST(value AS DOUBLE), CAST($phi AS DOUBLE))")
    case AggCountValues(_) => throw new IllegalStateException(
      "count_values routes through the grouped-keys path")
  }

  /** NESTED grouped aggregation — `sum by (dc) (sum by (dc, instance)
    * (m))`, the standard Prometheus two-level rollup (and `avg by (dc)
    * (topk(3, m) by (dc, instance))` for a grouped-topk inner). The
    * child evaluates to its grouped result first; the outer clause then
    * re-groups those GROUP ROWS:
    *
    *  - outer `by (ks)`: ks must be a subset of the inner group columns
    *    (a label the inner aggregated away is gone — Prometheus drops
    *    non-grouped labels too, so asking for one is a user error worth
    *    a loud message, not an all-null group);
    *  - outer `without (ks)`: key subtraction — the inner group columns
    *    minus ks, emitted per label (`without` over an addressable label
    *    set keeps the addressable form);
    *  - an inner `without` emits ONE canonical labels column — but the
    *    string is escaped (round 11), so its keys ARE re-extractable
    *    with plain `str_to_map` on the raw separators: outer `by (ks)`
    *    extracts and unescapes each label (absent → null, the
    *    missing-label rule); outer `without (ks)` drops the keys from
    *    the canonical map and re-joins (entries stay escaped, so no
    *    round-trip) — `sum without (dc) (sum without () (m))` works.
    *
    * Input is post-aggregation group-count-sized, so the extra groupBy
    * is a metadata-sized exchange — group count never multiplies passes
    * over the scan. count counts inner groups (the series-count rollup);
    * avg is the unweighted mean of inner group values, as in Prometheus.
    */
  private def nestedGroupedAggregate(kind: AggKind, child: Expr,
      innerG: Grouping, g: Grouping, start: Long, end: Long): TsdbResult = {
    val c = eval(child, start, end)
    val (rows, keys) =
      if (innerG.by) {
        val innerLabels = c.df.columns.init.toSeq
        val ks =
          if (g.by) {
            val missing = g.labels.filterNot(innerLabels.contains)
            require(missing.isEmpty,
              s"outer `by` labels must be a subset of the inner grouping " +
                s"(${innerLabels.mkString(", ")}); not produced by the " +
                s"inner aggregate: ${missing.mkString(", ")}")
            g.labels
          } else innerLabels.filterNot(g.labels.contains)
        (c.df, ks)
      } else {
        // inner `without`: re-open the canonical string. Safe since
        // round 11 escapes keys and values — `,`/`=` in the string are
        // exactly the entry separators, never content.
        val m = str_to_map(col("labels"), lit(","), lit("="))
        if (g.by) {
          val reserved = Set("timestamp", "value", "wstart", "_rk", "labels")
          val bad = g.labels.filter(reserved)
          require(bad.isEmpty,
            s"grouping labels collide with result columns: ${bad.mkString(", ")}")
          val keyCols = g.labels.map(k =>
            unescapeLabelCol(element_at(m, lit(LabelCodec.escape(k)))).as(k))
          (c.df.select(keyCols :+ col("value"): _*), g.labels)
        } else {
          // key subtraction ON the canonical map; "" (empty remaining
          // set) stays the one global group
          val escaped = g.labels.map(LabelCodec.escape)
          val mf =
            if (g.labels.isEmpty) m
            else map_filter(m, (k, _) => !k.isInCollection(escaped))
          val canon = when(col("labels") === "", lit("")).otherwise(
            array_join(transform(array_sort(map_keys(mf)),
              k => concat(k, lit("="), element_at(mf, k))), ","))
          (c.df.select(canon.as("labels"), col("value")), Seq("labels"))
        }
      }
    kind match {
      case AggCountValues(label) =>
        requireValueLabel(label, keys)
        val out = rows
          .groupBy(keys.map(col) :+ col("value").cast("string").as(label): _*)
          .agg(count(lit(1)).cast("double").as("value"))
        TsdbResult(out, isScalar = true, VType.F64, grouped = true)
      case _ =>
        val out =
          rows.groupBy(keys.map(col): _*).agg(aggColumn(kind).as("value"))
        val arity =
          if (kind == AggCount) out else out.where(col("value").isNotNull)
        TsdbResult(arity, isScalar = true, VType.F64, grouped = keys.nonEmpty)
    }
  }

  /** Inverse of [[LabelCodec.escapeCol]] for re-opening the canonical group
    * string: decode the six codes, `%25` LAST (escape encoded `%`
    * first, so any `%XX` in the canonical is one of these six).
    */
  private def unescapeLabelCol(c: Column): Column =
    Seq("%3D" -> "=", "%2C" -> ",", "%09" -> "\t",
        "%0A" -> "\n", "%0D" -> "\r", "%25" -> "%")
      .foldLeft(c) { case (acc, (enc, ch)) => replace(acc, lit(enc), lit(ch)) }

  /** topk/bottomk over a GROUPED child — `topk(3, sum by (user)
    * (purchase))`, the "top 3 users" query: the k best GROUP ROWS by
    * value, keeping the group columns. Ties break on the group columns
    * ascending (a grouped result carries no timestamp to prefer newer
    * samples by, the ungrouped rule; the group key is the deterministic
    * stand-in). orderBy+limit compiles to TakeOrderedAndProject — a
    * bounded heap over group-count-sized input, never a global sort.
    */
  private def groupRowGetK(top: Boolean, k: Int, child: TsdbResult): TsdbResult = {
    if (k == 0)
      return TsdbResult(child.df.limit(0), isScalar = true, child.vtype,
        grouped = true)
    val gNames = child.df.columns.init.toSeq
    val ord = (if (top) col("value").desc else col("value").asc) +:
      gNames.map(col(_).asc)
    TsdbResult(child.df.orderBy(ord: _*).limit(k), isScalar = true,
      child.vtype, grouped = true)
  }

  /** Grouped top-k/bottom-k — `topk(3, purchase) by (user)`: the k
    * best samples of EACH group by value (ties toward newer samples,
    * the ungrouped GetK rule; k = 0 → empty, k > group size → the whole
    * group). Emits (groups..., value) rows, k per group. The rank
    * window partitions on the group keys — per-group bounded, never a
    * global order; `by ()` is rejected (use the ungrouped form, which
    * compiles to TakeOrderedAndProject's bounded heap).
    */
  private def groupedGetK(top: Boolean, k: Int, child: Expr, g: Grouping,
      start: Long, end: Long): TsdbResult = {
    // `by ()` would leave no group key — a GLOBAL rank window, the
    // scale-killer the ungrouped TakeOrderedAndProject form avoids
    require(!(g.by && g.labels.isEmpty),
      "topk/bottomk by () is the ungrouped form — drop the modifier")
    val (rows, gNames) = groupedVector(child, g, start, end)
    val out =
      if (k == 0) rows.select(gNames.map(col) :+ col("value"): _*).limit(0)
      else {
        val ord =
          if (top) Seq(col("value").desc, col("timestamp").desc)
          else Seq(col("value").asc, col("timestamp").desc)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(gNames.map(col): _*).orderBy(ord: _*)
        rows.withColumn("_rk", row_number().over(w))
          .where(col("_rk") <= k)
          .select(gNames.map(col) :+ col("value"): _*)
      }
    TsdbResult(out, isScalar = true, VType.F64, grouped = true)
  }

  /** Binary ops over GROUPED results — the label matching the
    * scalar/vector dispatch lacks, made trivial by construction here:
    *
    *  - grouped ⊕ grouped with the SAME group columns: a null-safe
    *    equi-join on the group keys (PromQL's one-to-one vector
    *    matching restricted to identical grouping — exactly the ratio
    *    shapes `sum by (u) (a) / count by (u) (a)`); arithmetic only,
    *    like V2V. Groups present on one side only drop, like PromQL's
    *    matching. Null-safe so the missing-label null group matches
    *    itself.
    *  - grouped ⊕ scalar: broadcast; arithmetic maps the value,
    *    comparison FILTERS keeping the value (the V2S rule) — the
    *    share-of-total shape `sum by (u) (x) / sum(x)` and the
    *    threshold shape `sum by (u) (x) > 1000`.
    *  - grouped ⊕ plain vector: rejected — a per-timestamp vector and a
    *    per-group result share no join key.
    *
    * Both grouped operands are post-aggregation (group-count-sized);
    * the join shuffles on the group keys and AQE broadcasts small
    * sides on its own.
    */
  private def groupedBinary(kind: BinKind, l: TsdbResult,
      r: TsdbResult): TsdbResult = (l.grouped, r.grouped) match {
    case (true, true) =>
      require(!isComparison(kind),
        "comparison between two grouped results is not supported " +
          "(the V2V rule)")
      val gl = l.df.columns.init.toSeq
      val gr = r.df.columns.init.toSeq
      require(gl == gr,
        s"grouped operands must share the same grouping: " +
          s"(${gl.mkString(", ")}) vs (${gr.mkString(", ")})")
      val rr = r.df.toDF(gl.map(_ + "_graft_r") :+ "_rv": _*)
      val cond = gl.map(k => col(k) <=> col(k + "_graft_r")).reduce(_ && _)
      val df = l.df.join(rr, cond).select(gl.map(col) :+
        arith(kind, col("value").cast("double"), col("_rv").cast("double"))
          .as("value"): _*)
      TsdbResult(df, isScalar = true, VType.F64, grouped = true)
    case (true, false) =>
      require(r.isScalar,
        "grouped ⊕ vector is not supported (no common join key)")
      require(!r.multiRow,
        "grouped ⊕ topk/bottomk is not supported: a multi-row scalar " +
          "operand would duplicate every group row (aggregate it, or " +
          "use k = 1)")
      val rr = broadcast(r.df.select(col("value").as("_rv")))
      val joined = l.df.crossJoin(rr)
      val gl = l.df.columns.init.toSeq
      val df =
        if (isComparison(kind))
          joined.where(cmp(kind, col("value"), col("_rv")))
            .select(l.df.columns.toSeq.map(col): _*)
        else joined.select(gl.map(col) :+
          arith(kind, col("value").cast("double"), col("_rv").cast("double"))
            .as("value"): _*)
      TsdbResult(df, isScalar = true, VType.F64, grouped = true)
    case (false, true) =>
      // scalar on the LEFT of a non-commutative op: keep operand order
      require(l.isScalar,
        "vector ⊕ grouped is not supported (no common join key)")
      require(!l.multiRow,
        "topk/bottomk ⊕ grouped is not supported: a multi-row scalar " +
          "operand would duplicate every group row (aggregate it, or " +
          "use k = 1)")
      val ll = broadcast(l.df.select(col("value").as("_lv")))
      val joined = r.df.crossJoin(ll)
      val gr = r.df.columns.init.toSeq
      val df =
        if (isComparison(kind))
          joined.where(cmp(kind, col("_lv"), col("value")))
            .select(r.df.columns.toSeq.map(col): _*)
        else joined.select(gr.map(col) :+
          arith(kind, col("_lv").cast("double"), col("value").cast("double"))
            .as("value"): _*)
      TsdbResult(df, isScalar = true, VType.F64, grouped = true)
    case (false, false) => throw new IllegalStateException("not grouped")
  }

  /** PromQL's logical/set operators — `and` (intersection, keeping the
    * left side's values), `unless` (difference), `or` (left side plus
    * the right side's rows whose key the left lacks). Scalar operands
    * reject, as in Prometheus. Match keys:
    *
    *  - plain vectors: the TIMESTAMP (this engine's V2V convention —
    *    series identity is the (name, labels) scan, samples align on
    *    time): `purchase and click` keeps purchase samples at instants
    *    click observed. on/ignoring has no meaning here and rejects.
    *  - grouped × grouped: the shared group columns, or an explicit
    *    `on (ks)` / `ignoring (ks)` SUBSET key for and/unless
    *    (semi/anti joins tolerate duplicate keys, so no uniqueness
    *    requirement — unlike group_left). `or` unions both sides'
    *    rows, so it requires identical group columns. group_left/right
    *    do not apply to set operators (PromQL's rule) and reject.
    *
    * Scale shape: and/unless are LEFT SEMI/ANTI joins against the right
    * side's distinct keys (map-side combinable, result ≤ left); `or`
    * is a union with the right side anti-joined first. Grouped
    * operands are post-aggregation group-count-sized; null-safe key
    * equality so the missing-label null group matches itself.
    */
  private def setBinary(kind: BinKind, l: TsdbResult, r: TsdbResult,
      m: Option[VectorMatch]): TsdbResult = {
    require((!l.isScalar || l.grouped) && (!r.isScalar || r.grouped),
      "set operators (and/or/unless) take vector or grouped operands, " +
        "not scalars (the Prometheus rule)")
    require(l.grouped == r.grouped,
      "set operators need BOTH operands plain or BOTH grouped — a " +
        "per-timestamp vector and a per-group result share no key")
    if (!l.grouped) {
      require(m.isEmpty,
        "on/ignoring between plain vectors is not supported — their " +
          "match key is the timestamp (this engine's V2V rule)")
      val rKeys = r.df.select("timestamp").distinct()
      kind match {
        case And => TsdbResult(
          l.df.join(rKeys, Seq("timestamp"), "left_semi"),
          isScalar = false, l.vtype)
        case Unless => TsdbResult(
          l.df.join(rKeys, Seq("timestamp"), "left_anti"),
          isScalar = false, l.vtype)
        case _ => // Or
          val lv = l.df.select(col("timestamp"),
            col("value").cast("double").as("value"))
          val rv = r.df
            .join(l.df.select("timestamp").distinct(),
              Seq("timestamp"), "left_anti")
            .select(col("timestamp"), col("value").cast("double").as("value"))
          TsdbResult(lv.unionByName(rv), isScalar = false,
            VType.combine(l.vtype, r.vtype))
      }
    } else {
      val lCols = l.df.columns.init.toSeq
      val rCols = r.df.columns.init.toSeq
      val key = m match {
        case None =>
          require(lCols == rCols,
            s"set operands must share the same grouping (or give " +
              s"on/ignoring): (${lCols.mkString(", ")}) vs " +
              s"(${rCols.mkString(", ")})")
          lCols
        case Some(vm) =>
          require(vm.card == OneToOne,
            "group_left/group_right do not apply to set operators " +
              "(the PromQL rule)")
          val k = if (vm.on) vm.labels else rCols.filterNot(vm.labels.contains)
          require(k.nonEmpty, "empty match key — on () has no semantics")
          val missing =
            k.filterNot(lCols.contains) ++ k.filterNot(rCols.contains)
          require(missing.isEmpty,
            s"match labels must be group columns of both operands: " +
              s"missing ${missing.distinct.mkString(", ")}")
          require(kind != Or || lCols == rCols,
            "or requires identical group columns (the result unions " +
              "both sides' rows)")
          k
      }
      val rk = r.df.select(key.map(col): _*).distinct()
        .toDF(key.map(_ + "_graft_r"): _*)
      val cond = key.map(k => col(k) <=> col(k + "_graft_r")).reduce(_ && _)
      kind match {
        case And => TsdbResult(l.df.join(rk, cond, "left_semi"),
          isScalar = true, VType.F64, grouped = true)
        case Unless => TsdbResult(l.df.join(rk, cond, "left_anti"),
          isScalar = true, VType.F64, grouped = true)
        case _ => // Or: left rows, plus right rows whose key left lacks
          val lk = l.df.select(key.map(col): _*).distinct()
            .toDF(key.map(_ + "_graft_r"): _*)
          val extra = r.df.join(lk, cond, "left_anti")
          TsdbResult(l.df.unionByName(extra), isScalar = true,
            VType.F64, grouped = true)
      }
    }
  }

  /** Binary ops under an EXPLICIT vector-matching modifier — the PromQL
    * family [[groupedBinary]]'s same-grouping rule can't express:
    * `sum by (a, b) (x) / on (a) group_left sum by (a) (y)`, the
    * share-of-parent shape. Acceptance rules, all checked loudly at
    * plan time (column sets are known — grouped results carry one
    * column per `by` label):
    *
    *  - both operands must be grouped (`by`) results; arithmetic only
    *    (comparison between grouped results is rejected, the V2V rule).
    *  - the effective join key: `on (ks)` → ks; `ignoring (ks)` → the
    *    "one" side's group columns minus ks. Must be non-empty and
    *    present in both operands' group columns.
    *  - `group_left` (many-to-one): the RIGHT operand's group columns
    *    must equal the key — uniqueness per key holds by construction
    *    (it is post-aggregation), never by a runtime cardinality check.
    *    The result keeps the LEFT operand's group columns, PromQL's
    *    many-side label rule. `group_right` mirrors. One-to-one (no
    *    modifier) requires BOTH sides grouped exactly by the key.
    *
    * Scale shape: both sides are post-aggregation group-count-sized;
    * the "one" side is broadcast (≤ the many side's cardinality by
    * construction). Null-safe key equality so the missing-label null
    * group matches itself, like the same-grouping path.
    */
  private def groupedBinaryMatched(kind: BinKind, l: TsdbResult,
      r: TsdbResult, m: VectorMatch): TsdbResult = {
    require(l.grouped && r.grouped,
      "on/ignoring requires two grouped (by) operands — group both " +
        "sides, e.g. sum by (a, b) (x) / on (a) group_left sum by (a) (y)")
    TsdbResult(matchedGroupedJoin(kind,
        l.df, l.df.columns.init.toSeq, r.df, r.df.columns.init.toSeq,
        m, timeKey = false),
      isScalar = true, VType.F64, grouped = true)
  }

  /** The on/ignoring + group_left/group_right join core, shared by the
    * whole-range matched binary and the SLIDING matched composition
    * ([[matchedRange]] — `timeKey = true` adds the step
    * timestamp to the join key and the carry-uniqueness fold, so
    * matching is per (match key, step)). Acceptance rules are
    * identical; both operand frames are post-aggregation
    * group-count(-× step-count)-sized, the 'one' side broadcasts.
    */
  private def matchedGroupedJoin(kind: BinKind, lDf: DataFrame,
      lGroups: Seq[String], rDf: DataFrame, rGroups: Seq[String],
      m: VectorMatch, timeKey: Boolean): DataFrame = {
    require(!isComparison(kind),
      "comparison under on/ignoring is not supported (the V2V rule)")
    // group_right mirrors group_left: evaluate with the many side on
    // the left, remembering operand order for the arithmetic
    val (swapped, many, manyCols, one, oneCols) = m.card match {
      case OneToMany => (true, rDf, rGroups, lDf, lGroups)
      case _ => (false, lDf, lGroups, rDf, rGroups)
    }
    // WITHOUT-grouped operands (round 13): a side whose one group
    // column is the canonical `labels` string re-opens the match-key
    // label VALUES from that string (str_to_map over the escaped
    // k=v,k=v text + unescape — the LabelCodec inverse), so `sum
    // without (noisy) (x) / on (k) group_left sum by (k) (y)` composes
    // without re-grouping. The canonical column stays the side's group
    // identity; re-opened key columns are join plumbing only, dropped
    // by the output projection.
    val manyCanonical = manyCols == Seq("labels")
    val oneCanonical = oneCols == Seq("labels")
    require(!oneCanonical || m.on,
      "ignoring(...) with a without-grouped 'one' side has no " +
        "structural match key (the canonical string names no column " +
        "set) — use on(...) or a `by` grouping")
    val key = if (m.on) m.labels else oneCols.filterNot(m.labels.contains)
    require(key.nonEmpty,
      "empty match key — on () / ignoring (all labels) has no join " +
        "semantics; use the scalar broadcast form instead")
    // keys that collide with result columns cannot re-open from the
    // canonical string — reopened()'s withColumn would CLOBBER the
    // value/timestamp column and silently corrupt the arithmetic
    // (review r13); by-groupings can never carry these names
    // (groupProjection reserves them), so only the canonical path
    // needs the guard
    require(!(manyCanonical || oneCanonical) ||
        !(key ++ m.carry).exists(
          Set("labels", "timestamp", "value", "wstart", "_rk")),
      "match/carry labels colliding with result columns (labels/" +
        "timestamp/value) cannot re-open from a canonical without " +
        "group — rename the label or re-group with `by`")
    val missing =
      key.filterNot(k => manyCanonical || manyCols.contains(k)) ++
        key.filterNot(k => oneCanonical || oneCols.contains(k))
    require(missing.isEmpty,
      s"match labels must be group columns of both operands " +
        s"((${manyCols.mkString(", ")}) vs (${oneCols.mkString(", ")})): " +
        s"missing ${missing.distinct.mkString(", ")}")
    val carry = m.carry
    // carry onto a without-grouped (canonical) many side: the clash
    // checks below compare against manyCols, which is just
    // Seq("labels") when canonical — a carried label already present
    // INSIDE the canonical string would emit two values for one label
    // name. The bridge rejects this at its surface; reject here too so
    // direct engine callers are equally guarded (advice r14).
    require(!manyCanonical || carry.isEmpty,
      "label-carry onto a without-grouped many side is not supported — " +
        "the carried label cannot be proven absent from the canonical " +
        "label set; re-group the many side with `by`")
    m.card match {
      case OneToOne =>
        require(!manyCanonical && !oneCanonical,
          "one-to-one on/ignoring over a without grouping cannot " +
            "prove key uniqueness structurally — use `by` groupings " +
            "or add group_left/group_right")
        require(manyCols.toSet == key.toSet && oneCols.toSet == key.toSet,
          "one-to-one on/ignoring requires both operands grouped " +
            "exactly by the match labels — add group_left/group_right " +
            "for many-to-one matching")
      case _ if oneCanonical =>
        // a without-grouped 'one' side: key uniqueness is not
        // structural (the canonical grouping may be finer than the
        // key) — enforced at runtime by the fold below, the check
        // Prometheus performs (many-to-many rejection). Carried labels
        // (round 14) re-open from the canonical string INSIDE that
        // fold — string-level uniqueness per key already implies carry
        // uniqueness, so no second check is needed; a label absent
        // from the canonical set carries null (the by-column
        // convention for a missing label)
        val clash = carry.filter(manyCols.contains)
        require(clash.isEmpty,
          s"carried label(s) already exist on the many side: " +
            s"${clash.mkString(", ")}")
      case _ if carry.isEmpty =>
        require(oneCols.toSet == key.toSet,
          s"many-to-one matching requires the 'one' side grouped " +
            s"exactly by the match labels (${key.mkString(", ")}) so " +
            s"key uniqueness holds by construction; it is grouped by " +
            s"(${oneCols.mkString(", ")})")
      case _ =>
        // label-carry (`group_left(meta)`, the metadata-join idiom):
        // the 'one' side must be grouped by exactly key ∪ carry, and
        // the carried labels must be NEW to the many side
        require(oneCols.toSet == key.toSet ++ carry,
          s"with a label-carry list the 'one' side must be grouped by " +
            s"exactly the match labels plus the carried labels " +
            s"(${(key ++ carry).mkString(", ")}); it is grouped by " +
            s"(${oneCols.mkString(", ")})")
        val clash = carry.filter(manyCols.contains)
        require(clash.isEmpty,
          s"carried label(s) already exist on the many side: " +
            s"${clash.mkString(", ")}")
    }
    // one key's VALUE re-opened from the canonical without-group
    // string: probe the escaped k in the escaped k=v,k=v map text,
    // unescape the hit; null = label absent (the by-column convention,
    // so the null-safe join key matches missing labels)
    def canonKey(k: String): Column =
      unescapeLabelCol(element_at(
        str_to_map(col("labels"), lit(","), lit("=")),
        lit(LabelCodec.escape(k))))
    def reopened(df: DataFrame): DataFrame =
      key.foldLeft(df)((d, k0) => d.withColumn(k0, canonKey(k0)))
    val manyKeyed = if (manyCanonical) reopened(many) else many
    // With carried labels, key uniqueness is no longer structural
    // (the one side's grouping is key ∪ carry): pre-fold the one side
    // to one row per key and ENFORCE uniqueness on the executors —
    // raise_error fires if two carry tuples share a key, exactly the
    // runtime check Prometheus performs. The fold runs over the
    // group-count-sized frame, never the scan. A without-grouped 'one'
    // side gets the same treatment over its canonical strings: two
    // without-groups sharing a match key is the many-to-many shape
    // Prometheus rejects at runtime.
    val foldKey = if (timeKey) key :+ "timestamp" else key
    val oneKeyed =
      if (oneCanonical) {
        // carried label values re-open from the (unique) canonical
        // string itself — the same str_to_map probe as the key columns
        def carried(c0: String): Column =
          unescapeLabelCol(element_at(
            str_to_map(col("_lmin"), lit(","), lit("=")),
            lit(LabelCodec.escape(c0))))
        reopened(one).groupBy(foldKey.map(col): _*)
          .agg(min(col("labels")).as("_lmin"),
            max(col("labels")).as("_lmax"),
            first(col("value")).as("value"))
          .select((foldKey.map(col) ++ carry.map(c0 =>
            when(col("_lmin") <=> col("_lmax"), carried(c0))
              .otherwise(raise_error(concat(
                lit("on(...) group_left/right: the without-grouped " +
                  "'one' side is not unique per match key ("),
                concat_ws(", ", key.map(col): _*), lit(")"))
                .cast("string")).cast("string"))
              .as(c0)) :+
            when(col("_lmin") <=> col("_lmax"), col("value"))
              .otherwise(raise_error(concat(
                lit("on(...) group_left/right: the without-grouped " +
                  "'one' side is not unique per match key ("),
                concat_ws(", ", key.map(col): _*), lit(")"))
                .cast("string")).cast("double"))
              .as("value")): _*)
      }
      else if (carry.isEmpty) one
      else {
        val cs = struct(carry.map(col): _*)
        one.groupBy(foldKey.map(col): _*)
          .agg(min(cs).as("_cmin"), max(cs).as("_cmax"),
            first(col("value")).as("value"))
          .select((foldKey.map(col) ++ carry.map(c0 =>
            when(col("_cmin") <=> col("_cmax"), col("_cmin")(c0))
              .otherwise(raise_error(concat(
                lit(s"group_left/right: carried label(s) " +
                  s"${carry.mkString(", ")} are not unique per match " +
                  "key ("), concat_ws(", ", key.map(col): _*), lit(")"))
                .cast("string")).cast(one.schema(c0).dataType))
              .as(c0)) :+ col("value")): _*)
      }
    val oneOut = foldKey ++ carry
    val rr = broadcast(oneKeyed
      .select((oneOut :+ "value").map(col): _*)
      .toDF(oneOut.map(_ + "_graft_r") :+ "_rv": _*))
    val cond = foldKey.map(k =>
      if (k == "timestamp") col(k) === col(k + "_graft_r")
      else col(k) <=> col(k + "_graft_r")).reduce(_ && _)
    val (lv, rv) =
      if (swapped) (col("_rv"), col("value")) else (col("value"), col("_rv"))
    val outCols = manyCols.map(col) ++
      carry.map(c0 => col(c0 + "_graft_r").as(c0)) ++
      (if (timeKey) Seq(col("timestamp")) else Nil)
    manyKeyed.join(rr, cond).select(
      outCols :+ arith(kind, lv.cast("double"), rv.cast("double"))
        .as("value"): _*)
  }

  /** The shared grouped evaluation under a `by`/`without` clause:
    * returns ((groups..., timestamp, value) rows, group column names).
    * The child may be a selector or a range function over a matrix
    * selector (timestamp = window start there), optionally wrapped in
    * row-local transforms — instant math, scalar-literal arithmetic,
    * scalar-literal comparison-as-filter — applied outside-in exactly
    * as the expression tree nests them. One scan; group keys derived
    * row-locally from the `labels` map.
    */
  /** Group-key projection for a by/without clause over the long-format
    * scan — shared by the string surface ([[groupedVector]]) and the
    * grouped range/sliding APIs. `by` yields one column per label
    * (null for a missing label); `without` yields one canonical
    * `k=v,k=v` column of the remaining label set, named `labels`.
    */
  private def groupProjection(g: Grouping): (Seq[String], Seq[Column]) = {
    // "labels" is reserved too (matching the sibling grouped sites):
    // a `by (labels)` column would be indistinguishable from the
    // canonical without-group column, and matchedGroupedJoin's
    // canonical detection keys on exactly that column name
    val reserved = Set("timestamp", "value", "wstart", "_rk", "labels")
    if (g.by) {
      val bad = g.labels.filter(reserved)
      require(bad.isEmpty,
        s"grouping labels collide with result columns: ${bad.mkString(", ")}")
      require(g.labels.distinct == g.labels,
        s"duplicate grouping label in: ${g.labels.mkString(", ")}")
      (g.labels, g.labels.map(l => element_at(col("labels"), l).as(l)))
    } else {
      // without: canonical string of the remaining label set, keys and
      // values percent-escaped (LabelCodec's structural set) so a value
      // containing `,`/`=` can never merge two distinct groups
      val mf =
        if (g.labels.isEmpty) col("labels")
        else map_filter(col("labels"),
          (k, _) => !k.isInCollection(g.labels))
      (Seq("labels"), Seq(LabelCodec.canonCol(mf).as("labels")))
    }
  }

  // (the `without` canonical escaping lives in LabelCodec.escapeCol /
  // canonCol since round 12 — shared with the grouped-recording join
  // keys, so the sites cannot drift; unescapeLabelCol below stays the
  // engine-side inverse for re-opening canonical strings)

  private def groupedVector(child: Expr, g: Grouping,
      start: Long, end: Long): (DataFrame, Seq[String]) = {
    val (gNames, gCols) = groupProjection(g)
    // peel row-local wrappers (applied back innermost-first): instant
    // math maps the value; scalar-literal arithmetic maps it; scalar-
    // literal comparison filters keeping the value (the V2S rule)
    def unwrap(e: Expr, ops: List[DataFrame => DataFrame])
        : (Expr, List[DataFrame => DataFrame]) = e match {
      case InstantFn(k, c, a) => unwrap(c, ((df: DataFrame) =>
        df.withColumn("value",
          TsdbEngine.instantColumn(k, a, col("value").cast("double")))) :: ops)
      case BinaryOp(k, c, NumberLit(v), None) if !isComparison(k) =>
        unwrap(c, ((df: DataFrame) => df.withColumn("value",
          arith(k, col("value").cast("double"), lit(v)))) :: ops)
      case BinaryOp(k, NumberLit(v), c, None) if !isComparison(k) =>
        unwrap(c, ((df: DataFrame) => df.withColumn("value",
          arith(k, lit(v), col("value").cast("double")))) :: ops)
      case BinaryOp(k, c, NumberLit(v), None) =>
        unwrap(c, ((df: DataFrame) =>
          df.where(cmp(k, col("value"), lit(v)))) :: ops)
      case BinaryOp(k, NumberLit(v), c, None) =>
        unwrap(c, ((df: DataFrame) =>
          df.where(cmp(k, lit(v), col("value")))) :: ops)
      case other => (other, ops)
    }
    val (core, ops) = unwrap(child, Nil)
    def applyOps(df: DataFrame): DataFrame = ops.foldLeft(df)((d, f) => f(d))
    val rows = core match {
      case sel: Selector =>
        applyOps(select(sel, start, end, gCols)
          .withColumn("value", col("value").cast("double")))
      case RangeFn(rk, MatrixSelector(sel, rangeMs), fnArgs) =>
        // window math runs on the REPORTED time (shiftedTs) so offset
        // moves windows with the data, like Prometheus
        applyOps(RangeFns(rk, select(sel, start, end, gCols), rangeMs,
          start, end, fnArgs, rateMode, groupCols = gNames))
      case other => throw new IllegalArgumentException(
        "grouped evaluation supports a selector or a range function " +
          "over a matrix selector (optionally under instant math or " +
          s"scalar-literal arithmetic/comparison), got: $other")
    }
    (rows, gNames)
  }

  /** Grouped range functions over TUMBLING windows — the per-series
    * downsampling panel, `rate(metric[5m])` per `by`/`without` group:
    * each group's windows see only that group's samples, and the rows
    * are (group cols..., timestamp = window start, value). `promql` must
    * be a range function over a matrix selector; absent_over_time and
    * `by ()` reject. This is the one grouped surface with no PromQL tree
    * form: in the whole-range model `sum by (user) (rate(purchase[1d]))`
    * folds each group's windows into one value (ts61), so no tree keeps
    * per-group tumbling windows over the raw samples.
    *
    * Scale shape: identical to the ungrouped form with (groups, wstart)
    * as the one exchange key — group count multiplies output rows, not
    * passes over the scan.
    */
  def rangeAggregateBy(promql: String, grouping: Grouping,
      startMs: Long, endMs: Long): DataFrame =
    PromParser.parse(promql) match {
      case rf @ RangeFn(_, _: MatrixSelector, _) =>
        val (rows, gNames) = groupedVector(rf, grouping, startMs, endMs)
        require(gNames.nonEmpty,
          "by () has no grouped form — use the ungrouped evaluation")
        rows
      case other => throw new IllegalArgumentException(
        s"rangeAggregateBy requires a range function over a matrix " +
          s"selector, got: $other")
    }

  /** The [[sliding]] recursion keyed by `grouping`'s columns: the
    * grouped root of [[queryRange]] as a bare frame, (group cols...,
    * timestamp, value). [[queryRange]] of `sum by (g) (parsed)` answers
    * the same rows.
    */
  def queryRangeBy(parsed: Expr, grouping: Grouping,
      startMs: Long, endMs: Long, stepMs: Long): DataFrame = {
    require(groupProjection(grouping)._1.nonEmpty,
      "by () has no grouped form — use queryRange")
    sliding(parsed, Some(grouping), startMs, endMs, stepMs)
  }

  /** The ONE sliding per-step evaluator: [[queryRange]] runs it under
    * the tree's grouping — none (the whole selection is one pooled
    * series) or one pooled series per label group — and every subquery
    * `expr[range:step]` evaluates its inner through it. Frames
    * are (group cols..., timestamp = eval time, value); ungrouped, the
    * group columns are empty and every key below degenerates to the
    * step timestamp. Accepted shapes:
    *
    *  - a range function over a matrix selector (the base case — one
    *    scan, per-(group, step) sliding windows),
    *  - a range function over a SUBQUERY (`max_over_time(rate(m[5m])
    *    [1h:5m])`, see the subquery arm),
    *  - instant math and scalar-literal arithmetic/comparison
    *    (row-local; comparison filters keeping the value, the V2S rule),
    *  - BINARY COMPOSITION (`rate(a[5m]) / rate(b[5m])`, the ratio
    *    panel): both sides are step-keyed derived frames on the SAME
    *    grid, joined on (group keys, step) with NULL-SAFE group equality
    *    so the missing-label group matches itself. Arithmetic only (V2V
    *    comparison is rejected in whole-range evaluation too); a step
    *    with no row on either side emits nothing, like PromQL's vector
    *    matching,
    *  - SET OPERATORS (and/or/unless) on the same key — the masking
    *    idiom `rate(a[5m]) and (rate(b[5m]) > 0.2)`, legal inside a
    *    subquery too,
    *  - AGGREGATES carrying the evaluation's grouping (see the
    *    Aggregate arm).
    *
    * Each selector scans exactly once. Anything else refuses loudly:
    * per-step re-evaluation of arbitrary whole-range expressions would
    * rescan the store once per step — exactly the scan amplification
    * this engine refuses to hide.
    */
  private def sliding(e: Expr, grouping: Option[Grouping],
      startMs: Long, endMs: Long, stepMs: Long): DataFrame = {
    val (gNames, gCols) = grouping.map(groupProjection).getOrElse((Nil, Nil))
    val grouped = grouping.nonEmpty
    // null-safe (groups..., timestamp) key condition against a
    // suffix-renamed right side (the groupedBinary idiom; timestamps
    // are never null so plain equality there)
    def keyed(r: DataFrame): (DataFrame, Column) = {
      val rk = r.toDF(r.columns.map {
        case "timestamp" => "_rts"
        case "value" => "_rv"
        case g => g + "_graft_r"
      }.toIndexedSeq: _*)
      (rk, (gNames.map(k => col(k) <=> col(k + "_graft_r")) :+
        (col("timestamp") === col("_rts"))).reduce(_ && _))
    }
    def ge(e: Expr): DataFrame = e match {
      case RangeFn(kind, MatrixSelector(sel, rangeMs), fnArgs) =>
        RangeFns.sliding(kind, select(sel, startMs - rangeMs + 1, endMs, gCols),
          rangeMs, stepMs, startMs, endMs, fnArgs, groupCols = gNames,
          mode = rateMode)
      case RangeFn(kind, SubqueryMatrix(inner, subRange, subStep, soff),
          fnArgs) =>
        // sliding SUBQUERY: the inner derived series must cover every
        // outer window (T - subRange, T] for T ∈ [start, end], so it
        // evaluates ONCE over [start - subRange, end] on its own subStep
        // grid (grids anchor at their evaluation start, the engine
        // convention the whole-range subquery documents; Prometheus
        // anchors subquery grids to absolute time — same documented
        // deviation), and the outer fn slides per group over the
        // step-count-sized derived frame. `offset` shifts the inner
        // clock and reports on the outer one. A FINER `by` inner
        // grouping (`max_over_time(sum by (a,b) (...)[1h:5m])`
        // evaluated by (a)) evaluates per ITS grouping, drops the extra
        // label columns, and the outer fn's (group, wstart) fold pools
        // each evaluation group's sub-series — the pooled-series rule
        // applied to the derived frame. Still one scan.
        val (lo, hi) = (startMs - subRange - soff, endMs - soff)
        val derived = grouping match {
          case None => sliding(inner, None, lo, hi, subStep)
          case Some(g) =>
            val ig = finerInnerGrouping(inner, g)
            val all = sliding(inner, Some(ig), lo, hi, subStep)
            if (ig eq g) all else projectInnerGroups(all, ig, gNames)
        }
        RangeFns.sliding(kind, reportOnOuterClock(derived, soff), subRange,
          stepMs, startMs, endMs, fnArgs, groupCols = gNames, mode = rateMode)
      case InstantFn(kind, child, args) =>
        ge(child).withColumn("value",
          TsdbEngine.instantColumn(kind, args, col("value").cast("double")))
      case BinaryOp(kind, lhs, rhs, None)
          if isSetOp(kind) &&
            (lhs.isInstanceOf[NumberLit] || rhs.isInstanceOf[NumberLit]) =>
        throw new IllegalArgumentException(
          "set operators (and/or/unless) take vector operands, not " +
            "scalars (the Prometheus rule)")
      case BinaryOp(kind, NumberLit(v), rhs, None) =>
        val r = ge(rhs)
        if (isComparison(kind)) r.where(cmp(kind, lit(v), col("value")))
        else r.withColumn("value",
          arith(kind, lit(v), col("value").cast("double")))
      case BinaryOp(kind, lhs, NumberLit(v), None) =>
        val l = ge(lhs)
        if (isComparison(kind)) l.where(cmp(kind, col("value"), lit(v)))
        else l.withColumn("value",
          arith(kind, col("value").cast("double"), lit(v)))
      case BinaryOp(kind, lhs, rhs, None) if isSetOp(kind) =>
        val l = ge(lhs)
        kind match {
          case And =>
            val (rk, cond) = keyed(ge(rhs)); l.join(rk, cond, "left_semi")
          case Unless =>
            val (rk, cond) = keyed(ge(rhs)); l.join(rk, cond, "left_anti")
          case _ =>
            val r = ge(rhs)
            val (lk, cond) = keyed(l)
            // or: left wins; right fills only uncontested keys. The
            // anti-join probes the LEFT's keys from the right side;
            // select the right's columns BY NAME into keyed()'s
            // left-role layout (a positional rename would silently
            // mislabel if a future arm emitted a different order)
            val rRenamed = r.select(
              (gNames :+ "timestamp" :+ "value").map(col): _*)
            l.unionByName(rRenamed.join(
              lk.select((gNames.map(_ + "_graft_r") :+ "_rts").map(col): _*),
              cond, "left_anti"))
        }
      case BinaryOp(kind, lhs, rhs, None) =>
        require(!isComparison(kind),
          if (grouped) "comparison between two grouped sliding vectors " +
            "is not supported (the V2V rule)"
          else "comparison between two sliding vectors is not supported " +
            "(V2V comparison is rejected in whole-range evaluation too)")
        val l = ge(lhs)
        val (rk, cond) = keyed(ge(rhs))
        l.join(rk, cond).select(gNames.map(col) ++ Seq(col("timestamp"),
          arith(kind, col("value").cast("double"),
            col("_rv").cast("double")).as("value")): _*)
      case Aggregate(kind, child, g) =>
        // AGGREGATE INNER — `sum(rate(m[5m]))` or `sum by (s)
        // (rate(m[5m]))` under query_range or as a subquery inner (the
        // most-typed Prometheus rule shape). Legal when the node's
        // grouping IS the evaluation grouping (label ORDER never
        // matters — group columns join by name); a groupless aggregate
        // rides a grouped evaluation too, because the evaluation already
        // pools each group's samples, which is exactly what the
        // aggregate would do per group, and so does `by ()`. A DIFFERENT
        // grouping would need a second group-by level per step.
        val clause = withoutEmptyBy(g)
        grouping match {
          case None => clause.foreach(x => throw new IllegalArgumentException(
            s"grouped aggregate (${if (x.by) "by" else "without"} " +
              s"${x.labels.mkString("(", ", ", ")")}) inside an UNGROUPED " +
              "sliding evaluation — its group columns must appear in the " +
              "output; put the same grouping on the root aggregate"))
          case Some(gr) => require(clause.forall(x => x.by == gr.by &&
              x.labels.toSet == gr.labels.toSet),
            s"aggregate grouping $g differs from the evaluation " +
              s"grouping $gr — sliding evaluation carries ONE " +
              "group key; under a SUBQUERY a finer `by` superset pools " +
              "into the evaluation grouping at the outer fold (round " +
              "14), otherwise re-group the outer evaluation to match")
        }
        // the pooled-series translation: a bare-selector child maps to
        // the aggregation's `_over_time` twin over a step-sized window
        // (Prometheus' staleness lookback tied to the step); an
        // already-sliding child is ONE pooled series, so the aggregation
        // collapses to the one-element-set answer (identity / 1 / 0) as
        // a row-local post-map. Either way the child scans once.
        child match {
          case sel: Selector =>
            val (k, args) = TsdbEngine.windowedAgg(kind)
            ge(RangeFn(k, MatrixSelector(sel, stepMs), args))
          case other => TsdbEngine.pooledAggPost(kind)(ge(other))
        }
      case other => throw new IllegalArgumentException(
        (if (grouped) "grouped " else "") + "sliding evaluation takes " +
          "range functions over matrix selectors or subqueries, " +
          "optionally under instant math, aggregation, " +
          (if (grouped) "scalar-literal arithmetic/comparison, " else "") +
          s"binary or set composition, got: $other — per-step " +
          "re-evaluation of arbitrary expressions would rescan the " +
          "store once per step" +
          (if (grouped) "" else "; use query() for whole-range shapes"))
    }
    ge(e)
  }

  /** MATCHED grouped sliding composition — the share-of-parent panel
    * OVER TIME: `sum by (a, b) (x) / on (a) group_left sum by (a) (y)`
    * at every step. Each side evaluates through the grouped sliding
    * recursion with ITS OWN grouping (`by` or `without` — the canonical
    * string re-opens into the match-key values), and the sides join per
    * (match key, step) under exactly [[groupedBinaryMatched]]'s
    * acceptance rules (one-to-one needs both sides keyed by the match
    * labels; many-to-one needs the 'one' side keyed exactly by them
    * [∪ carry], carry-tuple uniqueness enforced per (key, step) on the
    * executors). Both frames are group-count × step-count sized; the
    * 'one' side broadcasts. Series key: the many side's groups
    * (canonical `labels` when `without`-grouped) plus carried labels.
    */
  private def matchedRange(kind: BinKind, lhs: Expr, gl: Grouping,
      rhs: Expr, gr: Grouping, m: VectorMatch,
      startMs: Long, endMs: Long, stepMs: Long): TsdbResult = {
    def side(e: Expr, g: Grouping) =
      (sliding(e, Some(g), startMs, endMs, stepMs), groupProjection(g)._1)
    val (lDf, lCols) = side(lhs, gl)
    val (rDf, rCols) = side(rhs, gr)
    val manyG = if (m.card == OneToMany) gr else gl
    rangedResult(
      matchedGroupedJoin(kind, lDf, lCols, rDf, rCols, m, timeKey = true),
      groupProjection(manyG)._1 ++ m.carry, canonical = !manyG.by)
  }

  /** topk/bottomk OVER TIME with an explicit grouping: the k best
    * groups of `inner` evaluated under `grouping` at each step —
    * [[queryRange]] of `topk(k, sum by (g) (inner))`, the `sum by`
    * being the identity over a grouped sliding inner (each group is one
    * pooled series). Emits (group cols..., timestamp, value).
    */
  def queryRangeGetK(top: Boolean, kExpr: Expr, inner: Expr,
      grouping: Grouping, startMs: Long, endMs: Long,
      stepMs: Long): DataFrame =
    queryRange(GetK(top, kExpr, Aggregate(AggSum, inner, Some(grouping)),
      None), startMs, endMs, stepMs).df

  /** Keep each step's first k series in `order` — the per-step rank of
    * ranged topk/bottomk (value order) and limitk (md5 sampling order,
    * so each evaluation samples among the series present at that step:
    * a series with no samples in a step's window does not occupy one
    * of the k slots there). The rank window partitions on the step
    * timestamp over the series-count × step-count frame — never a
    * global sort.
    */
  private def perStepFirstK(df: DataFrame, order: Seq[Column],
      k: Int): DataFrame = {
    if (k <= 0) return df.limit(0)
    val rank = row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("timestamp")).orderBy(order: _*))
    df.withColumn("_rk", rank).where(col("_rk") <= k).drop("_rk")
  }

  /** limit_ratio per step — per-step rank AND per-step count over the
    * same timestamp-partitioned window; r >= 0 keeps the first
    * round(r*n_step) series in md5 order, r < 0 the exact complement
    * (rk > round((1+r)*n_step)), so limit_ratio(r) and
    * limit_ratio(r-1) partition each step exactly — including steps
    * where n varies because a series has no samples in the window.
    */
  private def perStepLimitRatio(df: DataFrame, seriesCols: Seq[String],
      r: Double): DataFrame = {
    require(r >= -1 && r <= 1, s"limit_ratio takes r in [-1, 1], got $r")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("timestamp"))
    val ranked = df
      .withColumn("_rk",
        row_number().over(w.orderBy(sampleOrderFor(seriesCols): _*)))
      .withColumn("_n", count(lit(1)).over(w))
    val kept =
      if (r >= 0) ranked.where(col("_rk") <= round(lit(r) * col("_n")))
      else ranked.where(col("_rk") > round(lit(1 + r) * col("_n")))
    kept.drop("_rk", "_n")
  }

  /** Matcher conjunction over the long-format scan — one row-local
    * predicate per matcher, Prometheus semantics (absent label ≡ "",
    * regexes fully anchored; see Expr.Matcher). `rlike` compiles with
    * java.util.regex, the same engine the catalog predicate uses, so
    * the two sites cannot disagree on a pattern.
    */
  private def matcherFilter(sel: Selector): Column = {
    // the name constraint resolves against the catalog at PLAN time —
    // a literal equality or (for __name__ matchers) an IN-list over the
    // resolved names, so partition pruning on the name column survives
    // and no per-row regex runs against it
    val names = catalog.namesFor(sel)
    val base =
      if (names.isEmpty) lit(false)
      else if (names.size == 1) col("name") === names.head
      else col("name").isin(names: _*)
    sel.matchers.filterNot(_.label == "__name__").foldLeft(base) { (acc, m) =>
      val v = coalesce(element_at(col("labels"), m.label), lit(""))
      acc && (m.op match {
        case MatchEq => v === m.value
        case MatchNe => v =!= m.value
        case MatchRe => v.rlike(m.anchored)
        case MatchNre => !v.rlike(m.anchored)
      })
    }
  }

  /** VectorSelectNode: label+name equality, [start,end] range; streams
    * concatenate (vector_select.rs:78-105). Ordered (stream, timestamp).
    *
    * Integer-typed streams come out as LongType: from the exact `lvalue`
    * sidecar column when the source carries one (GraftDb writes it so
    * values above 2^53 survive the Parquet round-trip), else by casting
    * the double (exact for the magnitudes a double can carry). Float
    * streams stay DoubleType. From here on the whole plan is typed like
    * the reference's Value union (lib.rs:126-132).
    */
  /** @/offset rewrite the scan *start* only (planner.rs:162-180; offset
    * applies only when `@` is present — it shifts the resolved start).
    * Shared by [[select]] and the grouped scan builders, so a modifier
    * on a grouped query is honored, never silently dropped.
    */
  /** A plain `offset` (no `@`) is PromQL's time SHIFT — evaluated for
    * real since round 11 (the reference honors offset only as an
    * @-start adjustment, planner.rs:162-180, and this engine previously
    * preserved that by silently ignoring the bare form — against its
    * own loud contract): the scan window moves back by the offset and
    * every sample reports at `timestamp + offset`, so windows, joins,
    * and alignment all see the shifted time exactly as Prometheus'
    * `m offset 1d` does. Negative offsets (the future shift) compose.
    * With `@` present, the reference's start-rewrite rule stands
    * unchanged.
    */
  private def plainOffset(sel: Selector): Long =
    if (sel.at.isEmpty) sel.offsetMs else 0L

  /** The selector's full scan predicate over [lo, hi] (reported time):
    * matchers plus range bounds, with the plain-offset shift applied to
    * the bounds (scan time = reported time - offset).
    */
  private def scanCond(sel: Selector, lo: Long, hi: Long): Column = {
    val off = plainOffset(sel)
    matcherFilter(sel) &&
      col("timestamp") >= (scanStart(sel, lo) - off) &&
      col("timestamp") <= (hi - off)
  }

  /** The reported-time column: raw timestamp plus the plain-offset
    * shift (a no-op column when the shift is zero).
    */
  private def shiftedTs(sel: Selector): Column = {
    val off = plainOffset(sel)
    if (off == 0L) col("timestamp")
    else (col("timestamp") + lit(off)).as("timestamp")
  }

  private def scanStart(sel: Selector, queryStart: Long): Long = sel.at match {
    case None => queryStart
    case Some(at) =>
      val base = at match {
        case AtStart => 0L
        case AtEnd => Long.MaxValue
        case AtTime(t) => t
      }
      val shifted = base + sel.offsetMs
      // saturating add/sub in u64 space
      if (sel.offsetMs > 0 && shifted < base) Long.MaxValue
      else if (shifted < 0) 0L else shifted
  }

  private def select(sel: Selector, queryStart: Long, queryEnd: Long,
      gCols: Seq[Column] = Nil): DataFrame = {
    val vt = catalog.vtypeOf(sel.name, sel.matchers)
    val typedValue =
      if (vt == VType.F64) scanValue
      else if (data.columns.contains("lvalue"))
        coalesce(col("lvalue"), scanValue.cast("long")).as("value")
      else scanValue.cast("long").as("value")
    data
      .where(scanCond(sel, queryStart, queryEnd))
      .select(gCols ++ Seq(shiftedTs(sel), typedValue): _*)
  }

  /** AggregateNode: whole-range aggregate → one scalar. Empty input emits
    * no row for sum/avg/min/max but count → 0 (aggregate.rs:35-75,
    * lib.rs:1038-1062). Value types per aggregate.rs:77-90.
    */
  private def aggregate(kind: AggKind, child: TsdbResult): TsdbResult = kind match {
    case AggCount =>
      TsdbResult(child.df.agg(count(lit(1)).as("value")),
        isScalar = true, VType.U64)
    case AggAvg =>
      TsdbResult(child.df.agg(avg("value").as("value")).where(col("value").isNotNull),
        isScalar = true, VType.F64)
    // the beyond-reference Prometheus family: Float64 like PromQL, empty
    // input emits no row (the sum/avg arity rule)
    case AggStddev | AggStdvar | AggGroup | _: AggQuantile =>
      TsdbResult(
        child.df.agg(aggColumn(kind).as("value")).where(col("value").isNotNull),
        isScalar = true, VType.F64)
    case AggCountValues(label) =>
      // one row per distinct sample value: a GROUPED result whose one
      // group column is the value rendered as a string — thresholds and
      // grouped binary compose over it like any `by (label)` output
      requireValueLabel(label, Nil)
      TsdbResult(
        child.df.groupBy(col("value").cast("string").as(label))
          .agg(count(lit(1)).cast("double").as("value")),
        isScalar = true, VType.F64, grouped = true)
    case other =>
      val aggCol = other match {
        case AggSum => sum(col("value"))
        case AggMin => min(col("value"))
        case AggMax => max(col("value"))
        case _ => throw new IllegalStateException
      }
      TsdbResult(child.df.agg(aggCol.as("value")).where(col("value").isNotNull),
        isScalar = true, child.vtype)
  }

  /** count_values' output label must not collide with result columns or
    * the surrounding grouping's keys.
    */
  private def requireValueLabel(label: String, keys: Seq[String]): Unit =
    require(!keys.contains(label) &&
      !Set("value", "timestamp", "wstart", "_rk").contains(label),
      s"count_values label collides with a result column: $label")

  /** GetKNode: top-k/bottom-k by value over the whole range, emitted as k
    * scalars in rank order; ties favor newer samples (get_k.rs:86-128);
    * k=0 → empty; k>n → all n. orderBy+limit compiles to
    * TakeOrderedAndProject — Spark's bounded-memory heap top-k.
    */
  private def getK(top: Boolean, k: Int, child: TsdbResult): TsdbResult = {
    if (k == 0)
      return TsdbResult(child.df.select(col("value")).limit(0), isScalar = true, child.vtype)
    val ordered =
      if (top) child.df.orderBy(col("value").desc, col("timestamp").desc)
      else child.df.orderBy(col("value").asc, col("timestamp").desc)
    TsdbResult(ordered.limit(k).select(col("value")), isScalar = true,
      child.vtype, multiRow = k > 1)
  }

  /** Add/Sub/Mul keep the operands' common type (Long stays Long — exact
    * i64/u64 math at any magnitude); Div and Mod go through f64 on BOTH
    * operands, mirroring the reference exactly, which computes integer
    * division/modulo as `(x as f64).div/rem(y as f64)` (lib.rs:306-362).
    */
  private def arith(kind: BinKind, l: Column, r: Column): Column = kind match {
    case Add => l + r
    case Sub => l - r
    case Mul => l * r
    case Div => l.cast("double") / r.cast("double")
    case Mod => l.cast("double") % r.cast("double")
    case Pow => pow(l.cast("double"), r.cast("double"))
    case Atan2 => atan2(l.cast("double"), r.cast("double"))
    case BoolCmp(c) =>
      when(cmp(c, l, r), lit(1d)).otherwise(lit(0d))
    case _ => throw new IllegalArgumentException(s"not arithmetic: $kind")
  }

  private def cmp(kind: BinKind, l: Column, r: Column): Column = kind match {
    case Eq => l === r
    case Ne => l =!= r
    case Gt => l > r
    case Lt => l < r
    case Ge => l >= r
    case Le => l <= r
    case _ => throw new IllegalArgumentException(s"not a comparison: $kind")
  }

  /** Result type: div/mod always Float64; otherwise the coercion lattice
    * (lib.rs:63-73,306-362). Comparisons keep the vector side's type
    * (they filter, they don't compute).
    */
  private def resultType(kind: BinKind, l: VType, r: VType): VType = kind match {
    case Div | Mod | Pow | Atan2 | _: BoolCmp => VType.F64
    case _ => VType.combine(l, r)
  }

  /** BinaryOpNode dispatch (binary_op.rs:94-111), done at plan time:
    * scalar·scalar, vector·scalar, scalar·vector, vector·vector. The
    * query range sizes the V2V align's time buckets.
    */
  private def binary(kind: BinKind, l: TsdbResult, r: TsdbResult,
      start: Long, end: Long): TsdbResult =
    (l.isScalar, r.isScalar) match {
      case (true, true) =>
        // ScalarToScalarNode: arithmetic only (scalar_to_scalar.rs:41-44).
        require(!isComparison(kind), "comparison between two scalars is not supported")
        val rr = r.df.select(col("value").as("rv"))
        val df = l.df.crossJoin(broadcast(rr))
          .select(arith(kind, col("value"), col("rv")).as("value"))
        TsdbResult(df, isScalar = true, resultType(kind, l.vtype, r.vtype))

      case (false, true) =>
        // VectorToScalarNode: arithmetic elementwise; comparison = filter
        // keeping the original value (vector_to_scalar.rs:44-77).
        val rr = broadcast(r.df.select(col("value").as("rv")))
        val joined = l.df.crossJoin(rr)
        val df =
          if (isComparison(kind))
            joined.where(cmp(kind, col("value"), col("rv")))
              .select(col("timestamp"), col("value"))
          else
            joined.select(col("timestamp"),
              arith(kind, col("value"), col("rv")).as("value"))
        val vt = if (isComparison(kind)) l.vtype else resultType(kind, l.vtype, r.vtype)
        TsdbResult(df, isScalar = false, vt)

      case (true, false) =>
        // scalar·vector: operands swapped at dispatch (binary_op.rs:99-105).
        val ll = broadcast(l.df.select(col("value").as("lv")))
        val joined = r.df.crossJoin(ll)
        val df =
          if (isComparison(kind))
            joined.where(cmp(kind, col("lv"), col("value")))
              .select(col("timestamp"), col("value"))
          else
            joined.select(col("timestamp"),
              arith(kind, col("lv"), col("value")).as("value"))
        val vt = if (isComparison(kind)) r.vtype else resultType(kind, l.vtype, r.vtype)
        TsdbResult(df, isScalar = false, vt)

      case (false, false) =>
        // VectorToVectorNode: interpolation align; arithmetic only
        // (vector_to_vector.rs:409-411). Interpolated operands round to
        // integers unless both sides are Float64 (the reference rounds
        // always — its TODO bug; we keep float fidelity for f64 streams
        // and replicate rounding for integer streams, per SURVEY §7).
        require(!isComparison(kind), "comparison between two vectors is not supported")
        val roundInterp = !(l.vtype == VType.F64 && r.vtype == VType.F64)
        // Default to the bucket-partitioned align (property-tested equal to
        // the global-window exact path): all per-row windows are keyed on a
        // time bucket, so the align parallelizes; only the per-bucket
        // boundary summary (one row per bucket) sees a global-order window.
        // The bucket count follows spark.sql.shuffle.partitions (2x, so
        // buckets out-number cores even with skewed bucket sizes): a fixed
        // constant would cap the align's parallelism on a larger cluster.
        val buckets = math.max(1L,
          2L * scala.util.Try(l.df.sparkSession.conf
            .get("spark.sql.shuffle.partitions").toLong).getOrElse(32L))
        val span = math.max(1L, end - start)
        val bucketMs = math.max(1L, span / buckets)
        // The align interpolates in f64 — exactly the reference's own
        // lossy path (vector_to_vector.rs casts every operand to f64);
        // integer inputs are cast here and TsdbResult.output rounds back.
        def asDouble(df: DataFrame) =
          df.select(col("timestamp"), col("value").cast("double").as("value"))
        val aligned = Align.interpolatedBucketed(
          asDouble(l.df), asDouble(r.df), roundInterp, bucketMs)
        val df = aligned.select(col("timestamp"),
          arith(kind, col("lv"), col("rv")).as("value"))
        TsdbResult(df, isScalar = false, resultType(kind, l.vtype, r.vtype))
    }
}

object TsdbEngine {
  /** The per-step windowed twin of an aggregation operator over a BARE
    * selector in sliding evaluation — `sum(m)` at step T is the window
    * statistic of m's samples in (T - step, T]: sum → sum_over_time,
    * count → count_over_time, group → present_over_time (1 for any
    * non-empty window), quantile(φ) carries φ. Shared by the engine's
    * sliding Aggregate arms and the Prometheus API bridge (the mapping
    * the bridge proved first; lifted here so both surfaces agree by
    * construction). count_values rejects: value-keyed groups have no
    * per-step window analogue in the pooled-series model.
    */
  private[graft] def windowedAgg(kind: AggKind): (RangeFnKind, List[Double]) =
    kind match {
      case AggSum => (FnSumOverTime, Nil)
      case AggAvg => (FnAvgOverTime, Nil)
      case AggMin => (FnMinOverTime, Nil)
      case AggMax => (FnMaxOverTime, Nil)
      case AggCount => (FnCountOverTime, Nil)
      case AggStddev => (FnStddevOverTime, Nil)
      case AggStdvar => (FnStdvarOverTime, Nil)
      case AggQuantile(phi) => (FnQuantileOverTime, List(phi))
      case AggGroup => (FnPresentOverTime, Nil)
      case other => throw new IllegalArgumentException(
        s"unsupported aggregation in sliding evaluation: $other " +
          "(count_values emits value-keyed groups — no per-step " +
          "window analogue in the pooled-series model)")
    }

  /** Aggregating an ALREADY-WINDOWED sliding inner (rate etc.): the
    * pooled evaluation is one series (per group, when grouped), so the
    * aggregation is a statistic over a ONE-element set —
    * sum/avg/min/max/quantile are the identity, count/group are 1,
    * stddev/stdvar are 0: exactly Prometheus' answer when a group
    * holds a single series. Row-local post-map, no extra scan.
    */
  private[graft] def pooledAggPost(kind: AggKind): DataFrame => DataFrame =
    kind match {
      case AggSum | AggAvg | AggMin | AggMax => identity
      case AggQuantile(phi) =>
        require(phi >= 0 && phi <= 1, s"quantile φ out of [0, 1]: $phi")
        identity
      case AggCount | AggGroup => _.withColumn("value", lit(1.0))
      case AggStddev | AggStdvar => _.withColumn("value", lit(0.0))
      case other => throw new IllegalArgumentException(
        s"unsupported aggregation in sliding evaluation: $other " +
          "(count_values emits value-keyed groups — no per-step " +
          "window analogue in the pooled-series model)")
    }

  /** The instant-fn value map as a Column over `v` (already cast to
    * double) — row-local, Float64 out, shared by the whole-range eval
    * and queryRange's sliding composition.
    */
  private[tsdb] def instantColumn(kind: InstantFnKind, args: List[Double],
      v: Column): Column = kind match {
    case FnAbs => abs(v)
    case FnCeil => ceil(v).cast("double")
    case FnFloor => floor(v).cast("double")
    case FnSqrt => sqrt(v)
    case FnExp => exp(v)
    case FnLn => log(v)
    case FnLog2 => log2(v)
    case FnLog10 => log10(v)
    case FnSgn => signum(v)
    case FnRound =>
      // PromQL: round half-up to the nearest multiple of `to`
      val to = args.headOption.getOrElse(1.0)
      floor(v / to + 0.5) * to
    case FnClamp =>
      // PromQL: min > max clamps to NaN, not to max
      if (args(0) > args(1)) lit(Double.NaN)
      else least(greatest(v, lit(args(0))), lit(args(1)))
    case FnClampMin => greatest(v, lit(args(0)))
    case FnClampMax => least(v, lit(args(0)))
    // trigonometry in radians, like Prometheus (Go math)
    case FnSin => sin(v)
    case FnCos => cos(v)
    case FnTan => tan(v)
    case FnAsin => asin(v)
    case FnAcos => acos(v)
    case FnAtan => atan(v)
    case FnSinh => sinh(v)
    case FnCosh => cosh(v)
    case FnTanh => tanh(v)
    case FnAsinh => asinh(v)
    case FnAcosh => acosh(v)
    case FnAtanh => atanh(v)
    case FnDeg => degrees(v)
    case FnRad => radians(v)
    // time components of the value read as epoch SECONDS, UTC,
    // truncated toward zero (Go's time.Unix(int64(v), 0)). Plain
    // arithmetic and a zone-free DATE, so spark.sql.session.timeZone
    // never shifts the answer
    case tc: TimeComponentFn =>
      val secs = v.cast("long")
      val ofDay = pmod(secs, lit(86400L))
      val day = date_from_unix_date(((secs - ofDay) / 86400).cast("int"))
      (tc match {
        case FnMinute => floor(pmod(secs, lit(3600L)) / 60)
        case FnHour => floor(ofDay / 3600)
        case FnDayOfWeek => dayofweek(day) - 1 // Prometheus: Sunday = 0
        case FnDayOfMonth => dayofmonth(day)
        case FnDayOfYear => dayofyear(day)
        case FnDaysInMonth => dayofmonth(last_day(day))
        case FnMonth => month(day)
        case FnYear => year(day)
      }).cast("double")
  }
}
