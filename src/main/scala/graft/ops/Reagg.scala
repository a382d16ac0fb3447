package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Partial-aggregate maintenance — the "pre-aggregate, then combine"
  * pattern that makes 100 TB rollups incremental: keep per-fine-bucket
  * partials (count/sum/min/max, all reaggregable), then MERGE partials
  * into coarser buckets instead of rescanning raw facts. Merging is
  * sum-of-counts / sum-of-sums / min-of-mins / max-of-maxs; derived
  * measures (avg) are computed only at the final grain from merged
  * sum÷count — never averaged across partials (avg-of-avgs is wrong
  * under unequal bucket sizes, SURVEY §4.3-style trap).
  *
  * At scale the partial table is the thing that persists (it is ~|keys|
  * rows, not |facts|); daily jobs append partials and downstream grains
  * fold them. The reference recomputes everything per run
  * (`/root/reference/src/lms_to_s3_lambda.py:192-225` re-extracts the
  * full user list each day); this is the incremental re-expression.
  */
object Reagg {

  /** Fine-grain partials for a measure: count/sum/min/max per
    * (keys..., bucket). Sum in DECIMAL so later merges are exact and
    * partition-order-independent. */
  def partials(df: DataFrame, keys: Seq[String], bucket: Column,
      measure: Column): DataFrame = {
    df.groupBy((bucket.as("bucket") +: keys.map(col)): _*)
      .agg(
        count(measure).as("p_count"),
        sum(measure.cast("decimal(18,2)")).as("p_sum"),
        min(measure).as("p_min"),
        max(measure).as("p_max"))
  }

  /** Fold partials into a coarser bucket (e.g. day → month). The input
    * never touches raw facts; only reaggregable components are merged,
    * and avg is derived from the merged components at the end. */
  def mergeToCoarser(partials: DataFrame, keys: Seq[String],
      coarser: Column): DataFrame = {
    partials
      .groupBy((coarser.as("bucket") +: keys.map(col)): _*)
      .agg(
        sum(col("p_count")).as("n"),
        sum(col("p_sum")).as("total"),
        min(col("p_min")).as("mn"),
        max(col("p_max")).as("mx"))
      .withColumn("avg_v",
        (col("total") / col("n")).cast("decimal(18,6)"))
  }

  /** Market-basket pair lift — which items co-occur MORE than their
    * popularities predict: `lift(a,b) = P(a,b) / (P(a)·P(b)) =
    * c_ab·N / (c_a·c_b)` over basket-presence counts, emitted as exact
    * trunc-micros (every factor is a BIGINT count, the one division is
    * `div` — no double ever exists). `minSupport` floors the pair
    * count (the Apriori pruning every basket miner applies);
    * `maxBasket` caps pathological baskets BEFORE the pair self-join —
    * the fan-out is per-basket |items|², so one degenerate
    * 10⁶-item basket is 10¹² pairs, and capping is the standard
    * mitigation (the [[Graph.adamicAdar]] hub-cap discipline).
    * Headroom: `pair_n·N·10⁶` needs N ≲ 3×10⁶ baskets at the
    * worst-case pair_n == N; real pair supports are far below N —
    * route through DECIMAL(38,0) if your basket count and your top
    * pair support multiply past ~9·10¹⁸.
    *
    * Returns (a, b, pair_n, lift_micro), pair id-ordered canonical;
    * lift_micro > 10⁶ means positively associated. */
  def basketLift(df: DataFrame, basket: String, item: String,
      minSupport: Long = 2, maxBasket: Int = 1000): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    require(maxBasket >= 2, s"maxBasket must be >= 2, got $maxBasket")
    // One basket-grain hash agg (map-side combined collect_set) replaces
    // the previous distinct + count-join + basket-keyed SELF-JOIN chain
    // (opt guide §2.3 "aggregate before you shuffle" / §2.4): the pair
    // fan-out now happens as a per-row array HOF ABOVE the only corpus
    // shuffle and flows straight into a pair-keyed hash agg with
    // map-side combine — the |items|² pair rows never cross the network.
    // Sets are sorted, so (i < j) array positions give exactly the
    // canonical a < b string pairs the self-join's filter produced.
    // NULL items are excluded from basket sizing and from pairs: the
    // explicit filter makes that intentional (collect_set would drop
    // them silently, but then a null row would not have counted toward
    // the maxBasket cap either — pair output was always null-free).
    val sets = df.select(col(basket).as("_b"), col(item).as("_i"))
      .filter(col("_i").isNotNull)
      .groupBy(col("_b")).agg(array_sort(collect_set(col("_i"))).as("_is"))
      .filter(size(col("_is")) <= maxBasket)
      .select(col("_is"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // all census terms over the SAME capped basket universe, or the
    // probabilities stop being probabilities
    val n = sets.agg(count(lit(1)).as("_n"))
    val itemC = sets.select(explode(col("_is")).as("_i"))
      .groupBy(col("_i")).agg(count(lit(1)).as("_c"))
    val out = sets
      .select(explode(expr(
        """flatten(transform(_is, (x, i) ->
          |  transform(slice(_is, i + 2, size(_is) - i - 1),
          |    y -> struct(x AS a, y AS b))))""".stripMargin)).as("_p"))
      .select(col("_p.a").as("a"), col("_p.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= minSupport)
      .join(itemC.select(col("_i").as("a"), col("_c").as("_ca")), Seq("a"))
      .join(itemC.select(col("_i").as("b"), col("_c").as("_cb")), Seq("b"))
      .crossJoin(broadcast(n))
      .select(col("a"), col("b"), col("pair_n"),
        expr("(pair_n * _n * 1000000) div (_ca * _cb)").as("lift_micro"))
    // freeze the three consumers' shared input, then release the cache:
    // the returned plan must not depend on unpersisted blocks
    val frozen = Pins.freeze(out)
    sets.unpersist(blocking = false)
    frozen
  }

  /** Rolling N-day distinct entities — the DAU→WAU/MAU family, the
    * one rolling metric a plain window CANNOT express (distinct does
    * not decompose over frames). Shape: dedup to (day, key) grain
    * first (the corpus-size reducer), then each day-key credits the N
    * window-ends covering it — a NARROW ×N expansion — and one
    * (window_end)-keyed distinct count finishes. Never a row-range
    * window, never a per-key sort; cost is N× the DAILY-grain table,
    * not N× the raw events.
    *
    * Emits every window_end any activity covers — including the
    * ramp-out tail past the last active day (those windows genuinely
    * contain the trailing users; callers wanting only fully-formed
    * windows filter `window_end <= max(day)`). */
  def rollingDistinct(df: DataFrame, ts: String, key: String,
      days: Int): DataFrame = {
    require(days >= 1 && days <= 366, s"days must be in [1,366], got $days")
    df.select(to_date(col(ts)).as("_d"), col(key).as("_k")).distinct()
      .select(explode(sequence(col("_d"), date_add(col("_d"), days - 1)))
        .as("window_end"), col("_k"))
      .groupBy("window_end")
      .agg(countDistinct(col("_k")).as("n_active"))
  }

  /** ABC / Pareto classification: rank keys by total value desc, then
    * class A = keys whose INCLUSIVE cumulative share stays ≤ cut₁
    * (default 80%), B up to cut₂ (95%), C the tail — the "20% of
    * customers carry 80% of revenue" census. The cumulative sum runs
    * through the distributed prefix-sum family
    * ([[Packing.assignShardsOrdered]] — one range exchange, O(P)
    * driver rows), NEVER a corpus-wide single-reducer window; class
    * verdicts are exact integer cross-multiplications
    * (`cum·100 ≤ total·cut`) on the caller's integer value units.
    * A boundary-straddling key (its cum crosses the cut) lands in the
    * NEXT class — documented, and exactly what the inclusive-≤ rule
    * says. Returns per-key rows (key, value, cum_value, abc_class). */
  def abcClasses(df: DataFrame, key: String, value: Column,
      cut1Pct: Int = 80, cut2Pct: Int = 95): DataFrame = {
    require(cut1Pct >= 1 && cut1Pct < cut2Pct && cut2Pct < 100,
      s"need 1 <= cut1 < cut2 < 100, got $cut1Pct/$cut2Pct")
    val per = df.groupBy(col(key)).agg(sum(value).as("_v"))
    // the grand total falls out of the prefix-sum's offset fold — the
    // previous separate sum-agg + broadcast re-scanned `per` for a
    // number the driver already held. Integral-weight contract: the
    // fold sums weights after coalesce(cast('long')), so the per-key
    // value column must be integral (counts, cents) — a fractional
    // value would truncate per row before the cutoff arithmetic.
    val (ranked, total) = Packing.assignShardsOrderedWithTotal(per,
      Seq(col("_v").desc, col(key).asc), "_v", budget = Long.MaxValue)
    ranked.withColumn("_t", lit(total))
      .select(col(key), col("_v").as("value"), col("cum_w").as("cum_value"),
        when(col("cum_w") * 100 <= col("_t") * cut1Pct, lit("A"))
          .when(col("cum_w") * 100 <= col("_t") * cut2Pct, lit("B"))
          .otherwise(lit("C")).as("abc_class"))
  }

  /** RFM segmentation — the classic marketing-analytics composite:
    * score every entity by Recency (latest activity), Frequency
    * (transaction count), and Monetary (total spend, integer cents)
    * quantile, then code the three scores into one segment label.
    * Score 1 = BEST quintile (most recent / most frequent / highest
    * spend) — the bucket-1-first convention of the underlying ntile.
    *
    * Scale shape: the fact table aggregates ONCE to entity grain (one
    * hash agg); each of the three scores is a [[Packing.ntileOrdered]]
    * pass over that entity-grain frame — three range exchanges + three
    * key joins at ENTITY cardinality, never fact cardinality, and no
    * global Window anywhere. Every order is total ((measure, key)
    * tie-break), so segment assignment is deterministic under any
    * partitioning; all three measures are exact integers (days /
    * counts / cents), so ANSI-NTILE integer arithmetic replays
    * cell-for-cell in any engine.
    *
    * Output: (key, last_date, frequency, monetary_cents, r_score,
    * f_score, m_score, rfm_code = r·100 + f·10 + m). */
  def rfmSegments(df: DataFrame, key: String, dateCol: String,
      amountCents: Column, k: Int = 5, numPartitions: Int = 0): DataFrame = {
    require(k >= 2 && k <= 10, s"k must be in [2,10], got $k")
    // the key-grain base is consumed FOUR times (three ntile passes +
    // the final join): freeze it once so the fact-table groupBy runs a
    // single pass instead of four (opt guide §1.2 — at 100 TB that is
    // three saved corpus scans; blocks are freed by the caller's
    // Pins.scoped block or the ContextCleaner)
    val base = Pins.freeze(df.groupBy(col(key)).agg(
      max(col(dateCol)).as("last_date"),
      count(lit(1)).as("frequency"),
      sum(amountCents).as("monetary_cents")))
    def score(order: Seq[Column], name: String) =
      Packing.ntileOrdered(base, order, k, numPartitions)
        .select(col(key), col("bucket").as(name))
    base
      .join(score(Seq(col("last_date").desc, col(key).asc), "r_score"), Seq(key))
      .join(score(Seq(col("frequency").desc, col(key).asc), "f_score"), Seq(key))
      .join(score(Seq(col("monetary_cents").desc, col(key).asc), "m_score"),
        Seq(key))
      .withColumn("rfm_code",
        col("r_score") * 100L + col("f_score") * 10L + col("m_score"))
  }

  /** Position-based (U-shaped) attribution: split one unit of credit
    * across a key's ordered touch sequence — 40% to the first touch,
    * 40% to the last, the remaining 20% evenly over the middles — the
    * standard multi-touch model between last-touch (all credit to the
    * end) and linear (flat). Exact trunc-micros with the conventions
    * pinned: a single touch takes the full 10⁶; exactly two touches
    * split 500 000/500 000 (the U has no middle to give 20% to, and
    * 400k+400k ≠ 10⁶ would silently leak credit); middles get
    * `200 000 div (n−2)` each, the ≤(n−3)-micro truncation dust being
    * documented rather than redistributed. Per-key credits therefore
    * sum to 10⁶ exactly for n ≤ 3 and to ≥ 10⁶−(n−3) beyond.
    *
    * One KEY-partitioned window pass (row_number + count — never a
    * global sort); `order` must include a unique tie-break. Returns
    * (key, orderCols..., position ∈ [1..n], n_touches, credit_micro).
    */
  def positionAttribution(df: DataFrame, key: String,
      order: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(key)).orderBy(order: _*)
    val wAll = Window.partitionBy(col(key))
    df.withColumn("position", row_number().over(w).cast("long"))
      .withColumn("n_touches", count(lit(1)).over(wAll))
      .withColumn("credit_micro",
        when(col("n_touches") === 1L, 1000000L)
          .when(col("n_touches") === 2L, 500000L)
          .when(col("position") === 1L || col("position") === col("n_touches"),
            400000L)
          .otherwise(expr("200000 div (n_touches - 2)")))
  }

  /** Windowed conversion funnel as the RELATIONAL min-chain — the
    * 100 TB form of the per-user fold the events_funnel_* gates verify
    * (collect_list + an interpreted HOF aggregate: CodegenFallback,
    * one struct allocation per event — the round-9 TS probe measured
    * the fold 1.6-1.9 s warm at 5M events vs 0.44 s here, and its
    * per-event garbage is what piled the old-gen debt that showed as
    * 4-23 s before the probe isolated GC between queries). Stage i is
    * one filtered min() aggregate joined user-keyed to stage i-1:
    * t_0 = first stage-0 event; t_i = first stage-i event in
    * (t_{i-1}, t_{i-1} + window]. "First qualifying event" IS the min,
    * so verdicts are identical to the fold's. Returns one (stage, n)
    * row per stage. */
  def funnelMinChain(events: DataFrame, user: String, typeCol: String,
      ts: String, stages: Seq[String], window: Column): DataFrame = {
    require(stages.nonEmpty, "funnel: need at least one stage")
    val spark = events.sparkSession
    var prev: DataFrame = null
    val counts = stages.zipWithIndex.map { case (st, i) =>
      val f = events.filter(col(typeCol) === st)
        .select(col(user), col(ts).as("_ts"))
      val cur =
        if (i == 0) f.groupBy(col(user)).agg(min(col("_ts")).as("_t"))
        else f.join(prev.select(col(user), col("_t").as("_pt")), Seq(user))
          .filter(col("_ts") > col("_pt") && col("_ts") <= col("_pt") + window)
          .groupBy(col(user)).agg(min(col("_ts")).as("_t"))
      // persisted because stage i+1 re-reads stage i — but EAGERLY:
      // count stage i now (the only fact the caller ever gets), then
      // drop stage i−1's cache. At most two stage frames are pinned at
      // any moment and NOTHING outlives the call — the old lazy form
      // left every stage cached for the JVM lifetime, doubled by the
      // bench warm pre-pass, leaning on LRU eviction under pressure.
      val kept = cur.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = kept.count()
      if (prev != null) prev.unpersist(blocking = false)
      prev = kept
      (s"step${i + 1}_$st", n)
    }
    prev.unpersist(blocking = false)
    import spark.implicits._
    counts.toDF("stage", "n")
  }
}
