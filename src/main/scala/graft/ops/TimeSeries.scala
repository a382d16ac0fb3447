package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Time-series operators over event logs.
  *
  * The reference's only temporal behavior is its nightly batch cadence
  * (README.md:89-91) and per-row timestamp parsing
  * (`src/s3_to_rds_lambda.py:116-130`); a complete engine needs the
  * derived time-series shapes a pipeline built on that data would run:
  * regular resampling with gap fill, and sliding-window aggregation.
  */
object TimeSeries {

  /** Gap-filled daily resample: one row per key per calendar day between
    * that key's first and last event, zero-filled where no events landed.
    *
    * Scale shape: the `sequence` explode is bounded by each key's own
    * span in days — never by dataset size — and both sides of the
    * (key, day) equi-join shuffle on the same compound key, so a skewed
    * event log still fans out evenly. No driver-side calendar
    * materialization.
    */
  def resampleDailyCounts(df: DataFrame, key: String, ts: String): DataFrame = {
    val days = df.groupBy(col(key))
      .agg(min(to_date(col(ts))).as("_d0"), max(to_date(col(ts))).as("_d1"))
      .select(col(key),
        explode(sequence(col("_d0"), col("_d1"), expr("interval 1 day"))).as("day"))
    val counts = df.groupBy(col(key), to_date(col(ts)).as("day"))
      .agg(count(lit(1)).as("_n"))
    days.join(counts, Seq(key, "day"), "left")
      .select(col(key), col("day"), coalesce(col("_n"), lit(0L)).as("n"))
  }

  /** ENGINE-NATIVE sessionization: `session_window` in a batch
    * aggregation — the third form beside the gaps-and-islands
    * [[sessionize]] (lag + running sum) and the streaming
    * `flatMapGroupsWithState` sessionizer, and the one where Catalyst
    * owns the merge logic (sort-based session aggregation per key,
    * end = last event + gap).
    *
    * BOUNDARY CONVENTION — measured, not assumed: Spark's
    * `session_window` MERGES an event arriving at exactly
    * `last + gap` (diff ≤ gap extends the session), while
    * [[sessionize]] and the streaming timeout form SPLIT there
    * (diff ≥ gap opens a new session — the convention the reference
    * oracles pin). The two agree on every stream with no exact-gap
    * inter-event difference; `TimeSeriesSpec` pins the divergence on
    * the one stream where they don't, and the equality property in
    * `PropertiesSpec` proves agreement away from the boundary. An
    * engine user switching forms needs exactly this sentence. */
  def sessionWindowAgg(df: DataFrame, key: String, ts: String, value: String,
      gapMinutes: Int): DataFrame = {
    df.groupBy(col(key), session_window(col(ts), s"$gapMinutes minutes").as("_sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(col(value).cast("decimal(18,2)")).cast("double").as("sum_v"))
      .select(col(key), col("_sw.start").as("session_start"),
        col("_sw.end").as("session_end"), col("n_events"), col("sum_v"))
  }

  /** OHLC resample — the finance-canonical downsample (open/high/low/
    * close per key per time bucket), which is also the right lossy
    * compaction for ANY metric stream (first/last preserve direction,
    * min/max preserve envelope). ONE hash aggregate keyed by
    * (key, bucket): open/close are `min_by`/`max_by` over the
    * (ts, tiebreak-id) struct — deterministic under same-timestamp
    * events because the unique id breaks the tie, no window sort
    * anywhere. High/low/open/close are VALUES (no arithmetic), so
    * doubles pass through bit-exact on any engine. */
  def ohlcResample(df: DataFrame, key: String, ts: String, value: String,
      tieId: String, unit: String): DataFrame = {
    val bucket = date_trunc(unit, col(ts))
    val ord = struct(col(ts), col(tieId))
    df.groupBy(col(key), bucket.as("bucket"))
      .agg(
        min_by(col(value), ord).as("open"),
        max(col(value)).as("high"),
        min(col(value)).as("low"),
        max_by(col(value), ord).as("close"),
        count(lit(1)).as("n"))
  }

  /** Sliding-window aggregation in batch mode, via the same `window()`
    * expression Structured Streaming plans — each row replicates into
    * duration/slide windows map-side, then a plain hash aggregate runs.
    * Returns (window_start, <groupCols>, n, sum_v-style aggregates are
    * the caller's job); this helper only assigns the windows.
    */
  def withSlidingWindow(df: DataFrame, ts: String,
      duration: String, slide: String): DataFrame =
    df.withColumn("_w", window(col(ts), duration, slide))
      .withColumn("window_start", col("_w.start"))
      .withColumn("window_end", col("_w.end"))
      .drop("_w")

  /** Batch sessionization (gaps-and-islands): rows keyed by `key` are
    * split into sessions wherever the gap between consecutive `ts`
    * exceeds `gap`; adds `session_id` (0-based per key, in time order).
    * The windows are keyed — each partition sorts only its own key's
    * rows — so this scales with per-key event counts, never corpus
    * size. `tieBreak` makes the ordering total when timestamps can
    * repeat. The streaming twin is `Streams.sessionizeByGap` /
    * `sessionizeWithTimeout`; this is the form for backfills and
    * batch-at-rest corpora. */
  def sessionize(df: DataFrame, key: String, ts: String,
      gapSeconds: Long, tieBreak: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = (col(ts).asc +: tieBreak.map(col(_).asc))
    val w = Window.partitionBy(col(key)).orderBy(ord: _*)
    // exact microsecond arithmetic — truncating to seconds would flip
    // boundaries for gaps within a second of the threshold
    val tUs = unix_micros(col(ts))
    df.withColumn("_new_s",
        when(lag(col(ts), 1).over(w).isNull ||
          tUs - unix_micros(lag(col(ts), 1).over(w)) >= gapSeconds * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("_new_s")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1)
      .drop("_new_s")
  }

  /** Forward fill (LOCF — last observation carried forward): replace
    * each NULL in `value` with the latest non-null value at or before
    * it within the key's ordered history. THE gap-repair primitive for
    * sensor/metric series (and the inverse of resample's zero-fill —
    * use this when absence means "unchanged", zeros when it means
    * "nothing happened").
    *
    * One keyed window, `last(ignoreNulls)` over an unbounded-preceding
    * frame — per-partition sort on (key, ts, tieBreak), no extra
    * shuffle beyond the window's own keyed exchange. Leading NULLs
    * (no prior observation) stay NULL by definition. The tie-break
    * column makes the fill deterministic when one timestamp carries
    * both a null and a non-null row. */
  /** Exact-integer EWMA over per-key inter-arrival gaps, with burst/lull
    * flagging — the cadence-anomaly screen an event-pipeline health
    * check runs ("this source went quiet", "this device is flooding").
    *
    * Integer-only by design: gaps are BIGINT micros, and the smoother is
    * the leaky integrator `e_i = (gap_i + (k−1)·e_{i−1}) div k` (α=1/k,
    * truncating div — documented; for non-negative gaps trunc == floor),
    * seeded `e_1 = gap_1`. No doubles anywhere, so the result is
    * engine-exact at any partial-agg order and oracles cell-for-cell —
    * the same reason the micros convention exists everywhere else in
    * this repo. `is_lull` flags `gap_i > burstFactor · e_{i−1}` (the
    * smoothed state BEFORE the update — an anomaly is judged against
    * history, not against itself); the first gap is never flagged.
    *
    * Scale shape: hash-partition on the key + per-partition secondary
    * sort + a plain JVM loop per key run ([[keyedSequential]]) — no
    * windows, no self-joins, and no Catalyst array accumulator (the
    * earlier fold's concat-per-element was O(h²) in history length;
    * measured and replaced in round 9). Per-key memory is the key's
    * own event count (entity-bounded, the same contract as the
    * funnel fold). Keys with a single event emit nothing (no gap
    * exists). Ordering inside a key is (ts, id) — deterministic under
    * timestamp ties. Emits (key, id, gap_micros, ewma_micros, is_lull),
    * one row per event from each key's second onward. */
  /** Generic per-key SEQUENTIAL recurrence runner — the shared engine
    * under [[ewmaGaps]]/[[holtTrend]]/[[cusum]]: hash-partition on the
    * leading `keyFields` columns, secondary-sort each partition, and
    * stream every key's contiguous run through `run` as a plain JVM
    * loop. Replaces the Catalyst accumulate-into-array fold those ops
    * shipped with: `concat(acc.out, array(row))` COPIES the whole
    * accumulator per element — O(h²) per key, measured 13.6 s vs 0.4 s
    * at ~3 k-event histories in the round-9 TS probe (TsScaleProbe,
    * history mode; BENCH_NOTES.md "Retired dev mains"). Per-key memory
    * is the key's own run (the same entity-bounded contract the fold
    * had); a pathological
    * single key is one task — the documented skew bound of any
    * keyed-sequential computation. */
  private def keyedSequential(df: DataFrame, keyFields: Int,
      outSchema: org.apache.spark.sql.types.StructType)(
      run: IndexedSeq[org.apache.spark.sql.Row] => Iterator[org.apache.spark.sql.Row])
      : DataFrame = {
    import org.apache.spark.sql.Row
    val keyCols = df.columns.take(keyFields).map(col).toIndexedSeq
    val sortCols = df.columns.map(col).toIndexedSeq
    df.repartition(keyCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .mapPartitions { it =>
        val base = it.buffered
        new Iterator[Row] {
          private var out: Iterator[Row] = Iterator.empty
          private def sameKey(a: Row, b: Row): Boolean =
            (0 until keyFields).forall(j => a.get(j) == b.get(j))
          private def advance(): Unit =
            while (!out.hasNext && base.hasNext) {
              val head = base.head
              val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
              while (base.hasNext && sameKey(base.head, head)) buf += base.next()
              out = run(buf.toIndexedSeq)
            }
          def hasNext: Boolean = { advance(); out.hasNext }
          def next(): Row = { advance(); out.next() }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  def ewmaGaps(df: DataFrame, key: String, ts: String, id: String,
      kDenom: Int = 8, burstFactor: Int = 4): DataFrame = {
    require(kDenom >= 2 && burstFactor >= 1, "kDenom >= 2, burstFactor >= 1")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val pre = df.select(col(key), unix_micros(col(ts)).as("_t"),
      col(id).cast("long").as("_id"))
    val outSchema = StructType(Seq(pre.schema.head,
      StructField(id, LongType), StructField("gap_micros", LongType),
      StructField("ewma_micros", LongType), StructField("is_lull", BooleanType)))
    keyedSequential(pre, 1, outSchema) { rows =>
      if (rows.length < 2) Iterator.empty
      else {
        val k = rows.head.get(0)
        var prevT = rows.head.getLong(1)
        var e = -1L
        rows.iterator.drop(1).map { r =>
          val gap = r.getLong(1) - prevT
          val first = e < 0
          val flag = !first && gap > burstFactor.toLong * e
          // trunc div == `div`; gaps and states are non-negative here
          e = if (first) gap else (gap + (kDenom - 1L) * e) / kDenom
          prevT = r.getLong(1)
          Row(k, r.getLong(2), gap, e, flag)
        }
      }
    }
  }

  /** Holt's linear-trend (double exponential) smoothing over each key's
    * value series — the [[ewmaGaps]] recurrence upgraded with a trend
    * state, so ramping series forecast ahead instead of lagging:
    *
    *   forecast f = ℓ' + b'                        (BEFORE the update)
    *   level  ℓ = ⌊(x + (ka−1)·(ℓ'+b')) / ka⌋     (α = 1/ka)
    *   trend  b = ⌊((ℓ−ℓ') + (kb−1)·b') / kb⌋     (β = 1/kb)
    *
    * in BIGINT micros end-to-end. The trend state goes NEGATIVE on
    * decaying series, so the division SIGN CONVENTION is part of the
    * contract: both recurrences TRUNCATE toward zero — Spark's `div`
    * and DuckDB's `//` agree on that for every sign (measured: `-7 //
    * 2 = -3` in DuckDB, not floor's -4), so the gate hashes without a
    * floor/trunc shim on either side. Init: ℓ = first value, b = 0
    * (documented; callers wanting b₀ = x₂−x₁ can seed upstream).
    *
    * Same plan shape as [[ewmaGaps]] (keyedSequential: partition +
    * secondary sort + JVM loop) — per-key memory bounded by the key's
    * own event count, no windows. One row per event from the SECOND onward:
    * (key, id, value_micro, forecast_micro, level_micro, trend_micro);
    * `forecast_micro` is the one-step-ahead prediction made before
    * observing the row, so residuals judge the model against history,
    * never against the point itself. */
  def holtTrend(df: DataFrame, key: String, ts: String, id: String,
      valueMicro: Column, kLevel: Int = 4, kTrend: Int = 8): DataFrame = {
    require(kLevel >= 2 && kTrend >= 2,
      s"kLevel/kTrend must be >= 2, got $kLevel/$kTrend")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val pre = df.select(col(key), unix_micros(col(ts)).as("_t"),
      col(id).cast("long").as("_id"), valueMicro.cast("long").as("_x"))
    val outSchema = StructType(Seq(pre.schema.head,
      StructField(id, LongType), StructField("value_micro", LongType),
      StructField("forecast_micro", LongType), StructField("level_micro", LongType),
      StructField("trend_micro", LongType)))
    keyedSequential(pre, 1, outSchema) { rows =>
      if (rows.length < 2) Iterator.empty
      else {
        val k = rows.head.get(0)
        var l = rows.head.getLong(3)
        var b = 0L
        // Scala Long `/` truncates toward zero — the `div` contract the
        // doc above pins (trend goes negative on decaying series)
        rows.iterator.drop(1).map { r =>
          val f = l + b
          val x = r.getLong(3)
          val lNew = (x + (kLevel - 1L) * f) / kLevel
          val bNew = ((lNew - l) + (kTrend - 1L) * b) / kTrend
          l = lNew; b = bNew
          Row(k, r.getLong(2), x, f, lNew, bNew)
        }
      }
    }
  }

  /** Two-sided CUSUM changepoint detection (Page 1954) — the
    * sequential drift detector behind data-quality regression alarms
    * ("this source's volume shifted") and model-drift monitors. Per
    * key, over the `(ord)`-ordered series of BIGINT values, the
    * classic recurrences in exact integers:
    *
    *   s⁺ = max(0, s⁺' + x − target − kappa)   (upward drift)
    *   s⁻ = max(0, s⁻' + target − kappa − x)   (downward drift)
    *
    * with an alarm when the just-updated statistic EXCEEDS `h`
    * (strict >), and — because the goal is changePOINTS, plural — the
    * alarming side RESETS to 0 for the next row (the standard restart
    * convention; without it one level shift saturates the statistic
    * and masks every later shift). Emitted `s_pos`/`s_neg` are the
    * post-update, PRE-reset values, so the alarm row shows the
    * crossing magnitude. `target`/`kappa`/`h` are caller-supplied
    * COLUMNS (per-key calibration is a join upstream, not this op's
    * business); everything is BIGINT, so the fold is
    * partial-agg-order-proof and replays cell-for-cell in a recursive
    * CTE. State init s⁺ = s⁻ = 0: the first row is judged against
    * `target` like any other.
    *
    * Scale shape: the [[ewmaGaps]]/[[holtTrend]] keyedSequential
    * contract (partition + secondary sort + JVM loop); per-key memory
    * bounded by that key's own series length (calendar-bounded for
    * dated grains), no windows, no driver state. Returns one row per
    * input row:
    * (key, ord, x, s_pos, s_neg, alarm_up, alarm_down). */
  def cusum(df: DataFrame, key: String, ord: String, x: Column,
      target: Column, kappa: Column, h: Column): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val pre = df.select(col(key), target.cast("long").as("_mu"),
      kappa.cast("long").as("_k"), h.cast("long").as("_h"),
      col(ord).cast("long").as("_o"), x.cast("long").as("_x"))
    val outSchema = StructType(Seq(pre.schema.head,
      StructField(ord, LongType), StructField("x", LongType),
      StructField("s_pos", LongType), StructField("s_neg", LongType),
      StructField("alarm_up", BooleanType), StructField("alarm_down", BooleanType)))
    // run key = (key, mu, kappa, h): calibration columns are part of the
    // series identity, exactly as the fold's groupBy made them
    keyedSequential(pre, 4, outSchema) { rows =>
      val k = rows.head.get(0)
      val mu = rows.head.getLong(1)
      val kap = rows.head.getLong(2)
      val hh = rows.head.getLong(3)
      var sp = 0L; var sn = 0L
      rows.iterator.map { r =>
        val xv = r.getLong(5)
        val spNew = math.max(0L, sp + xv - mu - kap)
        val snNew = math.max(0L, sn + mu - kap - xv)
        val au = spNew > hh
        val ad = snNew > hh
        sp = if (au) 0L else spNew
        sn = if (ad) 0L else snNew
        Row(k, r.getLong(4), xv, spNew, snNew, au, ad)
      }
    }
  }

  /** Trailing-window moment census: over the last `windowDays` of a
    * per-key daily series, exact integer sufficient statistics —
    * count, sum, and the variance NUMERATOR `n·Σx² − (Σx)²` (variance
    * itself is the rational num/n², and σ needs a √ integers cannot
    * express — downstream alerting compares num·threshold² against
    * n²·bound², cross-multiplied, the [[cusum]]/z-test discipline).
    * The rolling-σ anomaly primitive without a single double.
    *
    * Scale shape: one RANGE-frame window PARTITIONED BY KEY over the
    * daily-grain series (calendar-bounded per key — the
    * seasonalDecompose safety argument); inputs must already be at
    * daily grain. Returns the input plus (n_w, sum_w, var_num). */
  def rollingMoments(daily: DataFrame, key: String, dayNum: String,
      x: String, windowDays: Int): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    import org.apache.spark.sql.expressions.Window
    val big = "decimal(38,0)"
    val w = Window.partitionBy(col(key)).orderBy(col(dayNum).asc)
      .rangeBetween(-(windowDays - 1).toLong, 0L)
    // x² and the variance numerator run in DECIMAL(38,0): raw-Long x²
    // overflows at |x| > ~3e9 (a daily cents sum at modest corpus
    // scale reaches that — found by an sf0.1 sweep, where ANSI aborted
    // the job). The OUTPUT stays BIGINT with a loud abort past Long
    // range (the chiSquareTerms discipline) — quantize x coarser
    // upstream when the numerator outgrows ~9e18.
    val vn = (col("n_w") * col("_ss") -
      col("sum_w").cast(big) * col("sum_w")).as("_vn")
    daily
      .withColumn("n_w", count(col(x)).over(w))
      .withColumn("sum_w", sum(col(x)).over(w))
      .withColumn("_ss", sum(col(x).cast(big) * col(x)).over(w))
      .withColumn("_vn", vn)
      .withColumn("var_num",
        when(col("_vn").between(Long.MinValue, Long.MaxValue),
          col("_vn").cast("long"))
        .otherwise(raise_error(lit("rollingMoments: variance numerator " +
          "exceeds BIGINT — quantize the series coarser upstream"))
          .cast("long")))
      .drop("_ss", "_vn")
  }

  /** Business days in `[startDay, endDay)` (epoch-day numbers, end
    * exclusive) by closed-form integer arithmetic — no calendar table,
    * no loop, no engine dow() function whose numbering convention
    * could differ: weekday-ness of epoch day d is `(d+3) mod 7 ≤ 4`
    * (day 0 = Thursday, Monday = 0), so the prefix count
    * g(x) = 5·(x div 7) + lut[x mod 7] with lut = the cumulative
    * weekday count of the Thu-led week (0,1,2,2,2,3,4), and the
    * answer is g(end) − g(start). Pure codegen-friendly column
    * expressions; negative inputs are out of contract (epoch-era
    * dates only). The SLA arithmetic ("shipped in 3 business days?")
    * every ops dashboard needs, exact on both engines. */
  def businessDaysBetween(startDay: Column, endDay: Column): Column = {
    def g(x: Column): Column = {
      val lut = array(lit(0L), lit(1L), lit(2L), lit(2L), lit(2L),
        lit(3L), lit(4L))
      lit(5L) * call_function("div", x, lit(7L)) +
        element_at(lut, (pmod(x, lit(7L)) + 1L).cast("int"))
    }
    g(endDay.cast("long")) - g(startDay.cast("long"))
  }

  def forwardFill(df: DataFrame, key: String, ts: String, value: String,
      tieBreak: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts).asc, col(tieBreak).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(s"${value}_filled", last(col(value), ignoreNulls = true).over(w))
  }

  /** Linear interpolation: replace each NULL in `value` with the
    * time-proportional blend of the nearest non-null observations on
    * either side within the key's ordered history —
    * `prev + (next−prev)·(t−t_prev)/(t_next−t_prev)`. The companion to
    * `forwardFill` when the series is a sampled continuous signal
    * rather than a stepwise state. Edge NULLs (no observation on one
    * side) stay NULL by definition.
    *
    * Two keyed windows over the same (key, ts, tieBreak) sort — one
    * backward `last(ignoreNulls)`, one forward `first(ignoreNulls)` —
    * so the physical plan sorts each key partition ONCE and runs both
    * frames over it; no shuffle beyond the window's keyed exchange,
    * scaling with per-key history length, never corpus size. The
    * observation timestamps ride in the same frames as the values
    * (null exactly when the value is null), so each pair is picked
    * from one row. Pure IEEE double arithmetic on epoch-micros —
    * no libm — so the result is bit-reproducible across engines. */
  def interpolateLinear(df: DataFrame, key: String, ts: String, value: String,
      tieBreak: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy(col(key)).orderBy(col(ts).asc, col(tieBreak).asc)
    val back = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsTs = when(col(value).isNotNull, unix_micros(col(ts)))
    val prevV = last(col(value), ignoreNulls = true).over(back)
    val prevT = last(obsTs, ignoreNulls = true).over(back)
    val nextV = first(col(value), ignoreNulls = true).over(fwd)
    val nextT = first(obsTs, ignoreNulls = true).over(fwd)
    val t = unix_micros(col(ts))
    val interp = when(col(value).isNotNull, col(value))
      // degenerate frame: observations on both sides share one
      // timestamp (possible when ts ties carry both null and non-null
      // rows) — 0/0 would be NaN with engine-dependent printing; take
      // the backward neighbor, consistent with forwardFill
      .when(prevT === nextT, prevV)
      .otherwise(
        prevV + (nextV - prevV)
          * ((t - prevT).cast("double") / (nextT - prevT).cast("double")))
    df.withColumn(s"${value}_interp", interp)
  }

  /** Classical additive seasonal decomposition of per-key DAILY series:
    * value = trend + seasonal + residual, with trend the centered
    * `period`-point moving average and the seasonal index the per-
    * phase mean of the detrended series — the moving-average
    * decomposition STL approximates, exact-integer throughout.
    *
    * Exactness: the trend over an ODD period keeps its ×period scaling
    * until ONE trunc-division to micros; detrended values are the pure
    * integers `period·v − Σwindow v`; the seasonal index divides once
    * more ((1e6·Σdet) div (period·n)) — trunc-toward-zero on both
    * engines (the pinned `sql_intdiv_semantics` convention), so every
    * cell replays cell-for-cell. Phase is `day_num % period` — pure
    * integer arithmetic, immune to the engines' dayofweek-numbering
    * disagreements. Edge days (incomplete centered window) emit NULL
    * trend/residual by contract.
    *
    * Scale shape: input is a DAILY series, so per-key extent is
    * CALENDAR-bounded (10 years = 3.7k rows per key no matter how many
    * raw events aggregated into it) — the per-key range-frame window
    * is safe at any corpus size; the seasonal index is one hash agg at
    * (key, phase) grain joined back broadcast. Aggregate facts to
    * daily grain BEFORE calling (one hash agg, the only fact-scale
    * work).
    *
    * Input: (key, dayNum: epoch-day LONG, value: integer units).
    * Output adds trend_micro, seasonal_micro, resid_micro
    * (= 1e6·v − trend − seasonal). */
  def seasonalDecompose(daily: DataFrame, key: String, dayNum: String,
      value: String, period: Int = 7): DataFrame = {
    require(period >= 3 && period % 2 == 1,
      s"period must be odd and >= 3 (centered window), got $period")
    val half = period / 2
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col(dayNum))
      .rangeBetween(-half, half)
    val tr = daily
      .withColumn("_t", sum(col(value)).over(w))
      .withColumn("_n", count(col(value)).over(w))
      .withColumn("trend_micro",
        when(col("_n") === period, expr(s"(1000000L * _t) div ${period}L")))
      .withColumn("_det",
        when(col("_n") === period, lit(period.toLong) * col(value) - col("_t")))
      .withColumn("_phase", col(dayNum) % period)
    val se = tr.filter(col("_det").isNotNull)
      .groupBy(col(key), col("_phase"))
      .agg(expr(s"(1000000L * sum(_det)) div (${period}L * count(_det))")
        .as("seasonal_micro"))
    tr.join(broadcast(se), Seq(key, "_phase"), "left")
      .select(col(key), col(dayNum), col(value),
        col("trend_micro"), col("seasonal_micro"),
        (lit(1000000L) * col(value) - col("trend_micro") -
          col("seasonal_micro")).as("resid_micro"))
  }
}
