package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Expr._

/** Range functions over a matrix selector — this engine's documented
  * extension (the reference rejects every Call expr,
  * tachyon_core/src/query/planner.rs:118-123; matrix selectors are a
  * parse error there too). Semantics, chosen to fit the engine's
  * whole-range evaluation model and written down here as the contract:
  *
  *  - The query range [start, end] is cut into TUMBLING windows of the
  *    selector's `[range]`, aligned to `start`: window i covers
  *    `[start + i*range, start + (i+1)*range)` (the final window is
  *    clipped by the range scan's inclusive `end`). Each window with
  *    enough samples emits one row at `timestamp = window start`. This
  *    is the downsampling / recording-rule shape rather than Prometheus'
  *    per-step sliding re-evaluation: one pass, one shuffle, no overlap —
  *    the form that holds up on a 100 TB scan. (The sliding shape exists
  *    too — [[sliding]], the engine's `queryRange` — with its replication
  *    factor stated there.)
  *  - `*_over_time` (avg/min/max/sum/count/last/stddev/stdvar/quantile/
  *    present) need ≥1 sample; `last_over_time` ties on duplicate
  *    timestamps break toward the larger value so the result is
  *    deterministic on any input. stddev/stdvar are POPULATION moments
  *    (σ, σ²), as in Prometheus; a single sample yields 0.
  *    `quantile_over_time(φ, ...)` is the linear-interpolation quantile
  *    (Prometheus' rule, = SQL percentile_cont); φ outside [0,1] is
  *    rejected loudly rather than returning Prometheus' ±Inf, so a typo
  *    can't poison downstream aggregates silently.
  *  - `delta` = last - first (by timestamp) and needs ≥2 samples, as in
  *    Prometheus. `idelta` = last - previous sample (ties toward larger
  *    values, like last_over_time), ≥2 samples.
  *  - `increase` = sum of sample-to-sample deltas with counter-reset
  *    correction (a decrease counts the new sample's full value, i.e. the
  *    counter restarted from 0 — Prometheus' reset rule); ≥2 samples.
  *  - `rate` = increase / observed span in seconds (t_last - t_first).
  *    Prometheus additionally extrapolates toward the window boundaries;
  *    this engine DEFAULTS to the un-extrapolated estimator so the
  *    result is an exact function of the samples (and therefore
  *    oracle-checkable) — the difference is the documented tradeoff, not
  *    an approximation bug — and offers Prometheus' exact extrapolation
  *    rule as the opt-in [[Extrapolated]] for dashboards
  *    compared against a real Prometheus. `irate` is the same estimator
  *    over the LAST sample pair only (reset-corrected, needs two
  *    distinct timestamps).
  *  - `changes` / `resets` count consecutive-pair value changes /
  *    decreases; a single-sample window reports 0, as in Prometheus.
  *  - `deriv` = least-squares slope per second over the window's
  *    (t, v) points (Prometheus' simple linear regression); needs two
  *    distinct timestamps. Computed against window-relative seconds so
  *    epoch-magnitude f64 cancellation can't wobble the slope.
  *  - Results are Float64 regardless of the stream's value type, like
  *    Prometheus' range functions.
  *
  * Scale shape: the only shuffle is on the window key. rate/increase/
  * irate/idelta/changes/resets need consecutive-sample deltas, so they
  * sort WITHIN each window (`Window.partitionBy(wstart)` —
  * partition-bounded, never a global order), and the following groupBy
  * reuses the same hash partitioning, so the sort's exchange is the
  * aggregate's exchange. The `*_over_time` family is a bare
  * partial+final HashAggregate (quantile's state is the window's value
  * multiset — bounded by samples-per-window, never by the corpus).
  */
object RangeFns {

  /** rate/increase estimator mode. [[Exact]] (the default) reports the
    * un-extrapolated estimator — an exact function of the samples,
    * oracle-checkable (the file-header tradeoff note). [[Extrapolated]]
    * opts into Prometheus' boundary extrapolation (the public
    * extrapolatedRate rule, promql/functions.go): the increase scales
    * by extrapolateToInterval/sampledInterval, where each window edge
    * contributes its sample-free gap if that gap is under 1.1× the
    * average sample spacing and half the average spacing otherwise,
    * with the counter zero-point correction on the start side; rate
    * divides by the WINDOW duration (not the observed span). Both
    * modes need ≥2 samples; extrapolated additionally needs a positive
    * observed span (the formula divides by it) — increase over a
    * duplicate-timestamp-only window emits in exact mode but not here.
    */
  sealed trait RateMode
  case object Exact extends RateMode
  case object Extrapolated extends RateMode

  /** Evaluate `kind` over `samples` (timestamp LONG ms, value — already
    * range-filtered to [startMs, endMs] by the selector scan) with
    * tumbling `windowMs` windows aligned to `startMs`. Returns
    * (timestamp LONG = window start, value DOUBLE). With `groupCols`,
    * `samples` carries them first and each group windows only its own
    * samples: (groups..., timestamp, value).
    */
  def apply(kind: RangeFnKind, samples: DataFrame, windowMs: Long,
      startMs: Long, endMs: Long, args: List[Double] = Nil,
      mode: RateMode = Exact, groupCols: Seq[String] = Nil): DataFrame = {
    require(windowMs > 0, s"range window must be positive, got $windowMs")
    require(groupCols.isEmpty || kind != FnAbsentOverTime,
      "absent_over_time has no grouped form (absence is not " +
        "attributable to a label value)")
    val g = groupCols.map(col)
    // timestamp >= startMs is guaranteed by the selector scan; pmod keeps
    // the window key in exact Long arithmetic (a double division would
    // wobble near window edges at large epoch magnitudes).
    val base = samples.select(g ++ Seq(
      (col("timestamp") - pmod(col("timestamp") - startMs, lit(windowMs)))
        .as("wstart"),
      col("timestamp"), col("value").cast("double").as("value")): _*)
    val out =
      if (kind == FnAbsentOverTime)
        absent(base, samples.sparkSession,
          (endMs - startMs) / windowMs, startMs, windowMs)
      else aggWindows(kind, base, args, groupCols :+ "wstart",
        extrapolateSpec(kind, mode, col("wstart"), windowMs))
    out.select(g ++ Seq(col("wstart").as("timestamp"), col("value")): _*)
  }

  /** Window bounds for the extrapolated estimator, when it applies:
    * tumbling windows span [wstart, wstart + w); sliding (query_range)
    * windows span (wstart - w, wstart]. Only rate/increase extrapolate.
    */
  private[tsdb] def extrapolateSpec(kind: RangeFnKind, mode: RateMode,
      rangeStart: Column, windowMs: Long): Option[(Column, Long)] =
    if (mode == Extrapolated && (kind == FnRate || kind == FnIncrease))
      Some((rangeStart, windowMs))
    else None

  /** absent_over_time: 1.0 for every window with NO samples. The window
    * universe is a driver-built range of (span/window)+1 rows —
    * metadata-sized for any dashboard geometry — anti-joined against the
    * observed window keys (the small side broadcasts; the distinct on
    * observed keys map-side combines to window-count rows).
    */
  private def absent(base: DataFrame,
      spark: org.apache.spark.sql.SparkSession, maxIdx: Long,
      startMs: Long, stepMs: Long): DataFrame = {
    val all = spark.range(maxIdx + 1)
      .select((lit(startMs) + col("id") * stepMs).as("wstart"))
    all.join(base.select("wstart").distinct(), Seq("wstart"), "left_anti")
      .select(col("wstart"), lit(1.0).as("value"))
  }

  /** Prometheus query_range evaluation: eval times T_i = startMs +
    * i*stepMs for 0 <= i <= (endMs-startMs)/stepMs, each over the
    * SLIDING lookback window (T_i - windowMs, T_i] — Prometheus' exact
    * window shape, left-exclusive. `samples` must cover
    * [startMs - windowMs + 1, endMs] (the engine's queryRange scans
    * that), so the early windows see their full lookback.
    *
    * Shape: each sample lands in at most ceil(windowMs/stepMs)+1 eval
    * windows, so the explode is a BOUNDED replication (the dashboard's
    * own overlap factor), then the same one window-keyed exchange as the
    * tumbling path. All index math is exact Long floor-division — no
    * f64 near window edges. Returns (timestamp LONG = eval time, value).
    */
  def sliding(kind: RangeFnKind, samples: DataFrame, windowMs: Long,
      stepMs: Long, startMs: Long, endMs: Long,
      args: List[Double] = Nil, groupCols: Seq[String] = Nil,
      mode: RateMode = Exact): DataFrame = {
    require(windowMs > 0, s"range window must be positive, got $windowMs")
    require(stepMs > 0, s"step must be positive, got $stepMs")
    require(endMs >= startMs, s"end $endMs before start $startMs")
    require(groupCols.isEmpty || kind != FnAbsentOverTime,
      "absent_over_time has no grouped form")
    val imax = (endMs - startMs) / stepMs
    // floorDiv via pmod (pmod is always non-negative, unlike Long './').
    // The numerator is exactly divisible, so the f64 division is exact
    // for any |x| < 2^53 and the cast back to long loses nothing.
    def floorDiv(x: Column, b: Long): Column =
      ((x - pmod(x, lit(b))) / b).cast("long")
    // Sample t is in window of eval time T iff T - w < t <= T, i.e.
    // T in [t, t + w)  =>  i in [ceil((t-start)/step),
    //                            floor((t + w - 1 - start)/step)].
    val d = col("timestamp") - startMs
    val iLo = greatest(lit(0L), floorDiv(d + (stepMs - 1), stepMs))
    val iHi = least(lit(imax), floorDiv(d + (windowMs - 1), stepMs))
    val g = groupCols.map(col)
    val base = samples
      .select((g ++ Seq(col("timestamp"),
        col("value").cast("double").as("value"),
        iLo.as("i_lo"), iHi.as("i_hi"))): _*)
      .where(col("i_lo") <= col("i_hi"))
      .select((g ++ Seq(explode(sequence(col("i_lo"), col("i_hi"))).as("i"),
        col("timestamp"), col("value"))): _*)
      .select((g ++ Seq((lit(startMs) + col("i") * stepMs).as("wstart"),
        col("timestamp"), col("value"))): _*)
    val out =
      if (kind == FnAbsentOverTime)
        absent(base, samples.sparkSession, imax, startMs, stepMs)
      else aggWindows(kind, base, args, groupCols :+ "wstart",
        extrapolateSpec(kind, mode, col("wstart") - windowMs, windowMs))
    out.select((g ++ Seq(col("wstart").as("timestamp"), col("value"))): _*)
  }

  /** The per-window aggregation common to both window shapes: `base` is
    * (keys..., timestamp LONG, value DOUBLE); emits (keys..., value).
    * `keys` defaults to the window key alone; the grouped forms of
    * both window shapes (`groupCols`) prepend their group columns —
    * everything below groups and partitions on the full key set, so
    * per-group windows never see each other's samples. deriv
    * requires a "wstart" key (its x values shift to window-relative
    * seconds).
    */
  private[tsdb] def aggWindows(kind: RangeFnKind, base: DataFrame,
      args: List[Double],
      keys: Seq[String] = Seq("wstart"),
      /** (window range-start column, window width ms) — present only
        * for rate/increase under [[Extrapolated]]; see [[RateMode]]. */
      extrapolate: Option[(Column, Long)] = None): DataFrame = {
    def grouped = base.groupBy(keys.map(col): _*)
    def keyCols = keys.map(col)
    kind match {
      case FnAvgOverTime =>
        grouped.agg(avg("value").as("value"))
      case FnSumOverTime =>
        grouped.agg(sum("value").as("value"))
      case FnMinOverTime =>
        grouped.agg(min("value").as("value"))
      case FnMaxOverTime =>
        grouped.agg(max("value").as("value"))
      case FnCountOverTime =>
        grouped.agg(count(lit(1)).cast("double").as("value"))
      case FnStddevOverTime =>
        // population σ, like Prometheus; a single sample is σ = 0
        grouped.agg(stddev_pop("value").as("value"))
      case FnStdvarOverTime =>
        grouped.agg(var_pop("value").as("value"))
      case FnQuantileOverTime =>
        // linear-interpolation quantile (percentile_cont); the aggregate
        // state is the window's own values — samples-per-window bounded
        val phi = args.headOption.getOrElse(
          throw new IllegalArgumentException("quantile_over_time needs φ"))
        require(phi >= 0.0 && phi <= 1.0,
          s"quantile_over_time: φ must be in [0,1], got $phi")
        grouped.agg(percentile(col("value"), lit(phi)).as("value"))
      case FnPresentOverTime =>
        // 1.0 for every window that has any sample at all
        grouped.agg(min(lit(1.0)).as("value"))
      case FnAbsentOverTime =>
        // handled by the callers (needs the window universe, not the
        // sample rows); no per-group form exists — absence is not
        // attributable to a label value
        throw new IllegalArgumentException(
          "absent_over_time has no grouped form")
      case FnLastOverTime =>
        // newest sample; duplicate timestamps break toward the larger
        // value (struct ordering) so the answer is input-order-free
        grouped.agg(max(struct(col("timestamp"), col("value")))
          .getField("value").as("value"))
      case FnDelta =>
        grouped
          .agg(
            (max(struct(col("timestamp"), col("value"))).getField("value") -
              min(struct(col("timestamp"), col("value"))).getField("value"))
              .as("value"),
            count(lit(1)).as("n"))
          .where(col("n") >= 2)
          .select((keyCols :+ col("value")): _*)
      case FnDeriv =>
        // least-squares slope per second, x in window-relative seconds so
        // the regression sums never subtract epoch-magnitude doubles;
        // regr_slope is null below two distinct x values
        grouped
          .agg(regr_slope(col("value"),
            (col("timestamp") - col("wstart")) / lit(1000.0)).as("value"))
          .where(col("value").isNotNull)
      case FnPredictLinear =>
        // deriv's least-squares line evaluated t seconds AFTER the
        // window anchor (x origin = wstart = the row's emitted
        // timestamp; tumbling anchors at window start, sliding at the
        // step instant) — so predict_linear(m[r], 0) is the regression
        // value at the anchor itself. Needs two distinct timestamps,
        // like deriv (regr_* are null below that).
        val t = args.headOption.getOrElse(throw new IllegalArgumentException(
          "predict_linear needs a horizon argument (seconds)"))
        val x = (col("timestamp") - col("wstart")) / lit(1000.0)
        grouped
          .agg((regr_intercept(col("value"), x) +
            regr_slope(col("value"), x) * lit(t)).as("value"))
          .where(col("value").isNotNull)
      case FnDoubleExpSmoothing =>
        // Holt's linear method (Prometheus holt_winters /
        // double_exponential_smoothing, promql/functions.go): s₀ = v₀,
        // b₀ = v₁ - v₀, then for each later sample
        //   s' = sf·v + (1-sf)·(s + b);  b' = tf·(s' - s) + (1-tf)·b
        // answering the final s. The recurrence is inherently
        // sequential, so it folds a per-window sorted sample ARRAY with
        // the `aggregate` higher-order function — state is bounded by
        // samples-per-window (the same bound quantile's multiset
        // carries), never by the corpus, and the only exchange is the
        // window-key groupBy every other kind already pays.
        val (sf, tf) = args match {
          case a :: b :: Nil => (a, b)
          case _ => throw new IllegalArgumentException(
            "double_exponential_smoothing needs (sf, tf)")
        }
        require(sf > 0 && sf < 1 && tf > 0 && tf < 1,
          s"double_exponential_smoothing factors must be in (0, 1) " +
            s"exclusive, got sf=$sf tf=$tf")
        grouped
          .agg(sort_array(collect_list(struct(col("timestamp"),
            col("value")))).as("arr"))
          .where(size(col("arr")) >= 2)
          .select((keyCols :+ expr(
            s"""aggregate(
               |  slice(arr, 2, size(arr) - 1),
               |  named_struct(
               |    's', CAST(arr[0].value AS DOUBLE),
               |    'b', CAST(arr[1].value - arr[0].value AS DOUBLE)),
               |  (acc, x) -> named_struct(
               |    's', $sf * x.value + (1.0 - $sf) * (acc.s + acc.b),
               |    'b', $tf * (($sf * x.value + (1.0 - $sf) *
               |           (acc.s + acc.b)) - acc.s) + (1.0 - $tf) * acc.b),
               |  acc -> acc.s)""".stripMargin).as("value")): _*)
      case FnMadOverTime =>
        // median absolute deviation, unscaled: median(|v - median(v)|)
        // with the linear-interpolation median (the engine's quantile
        // rule). Two aggregations over the SAME key set joined on a
        // window-count-sized frame — the second pass touches per-window
        // medians, never the raw scan again.
        val med = grouped.agg(percentile(col("value"), lit(0.5)).as("_med"))
        base.join(med, keys)
          .groupBy(keyCols: _*)
          .agg(percentile(abs(col("value") - col("_med")), lit(0.5))
            .as("value"))
      case FnChanges | FnResets =>
        // consecutive-pair counters; a single-sample window reports 0
        val w = Window.partitionBy(keyCols: _*)
          .orderBy(col("timestamp"), col("value"))
        val pred =
          if (kind == FnChanges) col("value") =!= col("prev")
          else col("value") < col("prev")
        base
          .withColumn("prev", lag(col("value"), 1).over(w))
          .groupBy(keyCols: _*)
          .agg(sum(when(col("prev").isNotNull && pred, 1.0).otherwise(0.0))
            .as("value"))
      case FnIdelta | FnIrate =>
        // the LAST consecutive pair: lag both value and timestamp within
        // the window, keep the max-(t, v) row's fields (same tie rule as
        // last_over_time), then the pair math is row-local
        val w = Window.partitionBy(keyCols: _*)
          .orderBy(col("timestamp"), col("value"))
        val lastRow = base
          .withColumn("prev", lag(col("value"), 1).over(w))
          .withColumn("prev_t", lag(col("timestamp"), 1).over(w))
          .groupBy(keyCols: _*)
          .agg(max(struct(col("timestamp"), col("value"), col("prev_t"),
            col("prev"))).as("r"))
          .select((keyCols ++ Seq(col("r.timestamp").as("t"),
            col("r.value").as("v"), col("r.prev_t").as("pt"),
            col("r.prev").as("pv"))): _*)
          .where(col("pv").isNotNull)
        if (kind == FnIdelta)
          lastRow.select((keyCols :+ (col("v") - col("pv")).as("value")): _*)
        else
          // irate: reset-corrected instantaneous rate over a positive span
          lastRow.where(col("t") > col("pt"))
            .select((keyCols :+
              (when(col("v") >= col("pv"), col("v") - col("pv"))
                .otherwise(col("v")) /
                ((col("t") - col("pt")) / lit(1000.0))).as("value")): _*)
      case FnIncrease | FnRate =>
        // consecutive-sample deltas need an ordered pass WITHIN the
        // window only — partition-bounded, and the groupBy that follows
        // reuses the exchange
        val w = Window.partitionBy(keyCols: _*)
          .orderBy(col("timestamp"), col("value"))
        val firstV: Seq[Column] = extrapolate match {
          case None => Nil
          case Some(_) => Seq(min(struct(col("timestamp"), col("value")))
            .getField("value").as("v0"))
        }
        val stepped = base
          .withColumn("prev", lag(col("value"), 1).over(w))
          .groupBy(keyCols: _*)
          .agg(
            sum(when(col("prev").isNull, lit(0.0))
              .when(col("value") >= col("prev"), col("value") - col("prev"))
              .otherwise(col("value"))).as("inc"),
            (Seq(min("timestamp").as("t0"), max("timestamp").as("t1"),
              count(lit(1)).as("n")) ++ firstV): _*)
          .where(col("n") >= 2)
        extrapolate match {
          case Some((rangeStart, windowMs)) =>
            // Prometheus' extrapolatedRate (promql/functions.go): scale
            // the reset-corrected increase by extrapolateToInterval /
            // sampledInterval. Each window edge contributes its
            // sample-free gap when that gap is under 1.1× the average
            // sample spacing, half the average spacing otherwise; the
            // start gap is capped at the counter's zero-point (inc's
            // linear extrapolation to 0). All row-local over the
            // per-window summary — the aggregate above is unchanged but
            // for one extra min(struct).
            val si = (col("t1") - col("t0")) / lit(1000.0)
            val avgDur = si / (col("n") - 1)
            val threshold = avgDur * 1.1
            val dsRaw = (col("t0") - rangeStart) / lit(1000.0)
            val dZero = si * col("v0") / col("inc")
            val ds = when(col("inc") > 0 && col("v0") >= 0 && dZero < dsRaw,
              dZero).otherwise(dsRaw)
            val de = (rangeStart + windowMs - col("t1")) / lit(1000.0)
            val ext = si +
              when(ds < threshold, ds).otherwise(avgDur / 2) +
              when(de < threshold, de).otherwise(avgDur / 2)
            val incExt = col("inc") * (ext / si)
            val value =
              if (kind == FnIncrease) incExt
              else incExt / lit(windowMs / 1000.0)
            // both extrapolated shapes divide by the observed span —
            // it must be positive
            stepped.where(col("t1") > col("t0"))
              .select((keyCols :+ value.as("value")): _*)
          case None =>
            if (kind == FnIncrease)
              stepped.select((keyCols :+ col("inc").as("value")): _*)
            else
              // rate needs a positive observed span (two DISTINCT
              // timestamps) — IEEE inf from a zero span would poison
              // downstream aggregates
              stepped.where(col("t1") > col("t0")).select((keyCols :+
                (col("inc") / ((col("t1") - col("t0")) / lit(1000.0)))
                  .as("value")): _*)
        }
    }
  }
}
