package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ops.Reagg: folding fine-grain partials into a coarser grain must
  * equal aggregating the raw facts directly at that grain — including
  * the avg, which must come from merged sum÷count (avg-of-avgs breaks
  * under unequal bucket sizes, as the second test proves). */
class ReaggSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val facts = Seq(
    // (key, day, value) — deliberately unequal bucket sizes
    ("a", "2024-01-01", 10.0), ("a", "2024-01-01", 20.0), ("a", "2024-01-01", 30.0),
    ("a", "2024-01-02", 100.0),
    ("b", "2024-01-01", 1.0), ("b", "2024-02-03", 2.0), ("b", "2024-02-04", 4.0)
  ).toDF("k", "day_s", "v").select(col("k"), to_date(col("day_s")).as("d"), col("v"))

  test("daily partials folded to month == direct monthly aggregation") {
    val daily = graft.ops.Reagg.partials(facts, Seq("k"), col("d"), col("v"))
    val monthly = graft.ops.Reagg.mergeToCoarser(daily, Seq("k"),
        date_trunc("month", col("bucket")))
      .select(col("bucket"), col("k"), col("n"),
        col("total").cast("double").as("total"), col("mn"), col("mx"),
        col("avg_v").cast("double").as("avg_v"))
      .orderBy("bucket", "k")
    val direct = facts
      .groupBy(date_trunc("month", col("d")).as("bucket"), col("k"))
      .agg(count(col("v")).as("n"),
        sum(col("v").cast("decimal(18,2)")).cast("double").as("total"),
        min(col("v")).as("mn"), max(col("v")).as("mx"))
      .withColumn("avg_v",
        (col("total").cast("decimal(18,2)") / col("n")).cast("decimal(18,6)").cast("double"))
      .orderBy("bucket", "k")
    assert(monthly.collect().toSeq == direct.collect().toSeq)
  }

  test("avg-of-avgs is NOT the merged avg under unequal buckets (the trap the op avoids)") {
    val daily = graft.ops.Reagg.partials(facts, Seq("k"), col("d"), col("v"))
    val avgOfAvgs = daily
      .withColumn("day_avg", col("p_sum") / col("p_count"))
      .groupBy(date_trunc("month", col("bucket")).as("bucket"), col("k"))
      .agg(avg(col("day_avg")).as("bad_avg"))
      .filter(col("k") === "a")
      .select(round(col("bad_avg").cast("double"), 6)).as[Double].head()
    val merged = graft.ops.Reagg.mergeToCoarser(daily, Seq("k"),
        date_trunc("month", col("bucket")))
      .filter(col("k") === "a")
      .select(col("avg_v").cast("double")).as[Double].head()
    // a: Jan values 10,20,30,100 → true avg 40; avg-of-avgs (20+100)/2 = 60
    assert(merged == 40.0)
    assert(avgOfAvgs == 60.0)
  }

  test("sketch partials reaggregate: daily HLL sketches union to the monthly distinct estimate") {
    // count(DISTINCT) does NOT reaggregate from per-day counts — but its
    // HLL sketch does: hll_sketch_agg partials at day grain,
    // hll_union_agg to month. The 100 TB pattern for distinct-user
    // rollups without rescanning facts.
    val events = graft.io.Tables.events(spark, "/root/testdata/sf0.01")
      .select(col("user_id"), date_trunc("day", col("ts")).as("d"))
    val daily = events.groupBy(col("d"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"),
        countDistinct(col("user_id")).as("exact_day"))
    val merged = daily
      .groupBy(date_trunc("month", col("d")).as("m"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
    val exact = events.select(col("user_id")).distinct().count().toDouble
    val est = merged.collect().map(_.getLong(1).toDouble).sum
    // one month of data in the fixture; HLL default lgK=12 → rsd ~1.6%
    assert(math.abs(est - exact) / exact < 0.05,
      s"merged HLL estimate $est vs exact $exact")
    // naive sum of per-day distincts overcounts (users active on many days)
    val naive = daily.agg(sum(col("exact_day"))).collect()(0).getLong(0).toDouble
    assert(naive > exact * 1.5)
  }

  test("incremental maintenance identity: state(base) ⊎ state(delta) == state(full), any split") {
    // the mv_incremental_merge gate's contract as a property: for
    // pseudo-random facts and three different split predicates, building
    // partial states on the halves and merging equals one full-pass state
    val rng = new scala.util.Random(59)
    val all = (1 to 500)
      .map(i => (i.toLong, s"k${rng.nextInt(4)}", rng.nextInt(10).toLong,
        BigDecimal(rng.nextInt(100000)) / 100))
      .toDF("id", "k", "b", "v")
      .select(col("id"), col("k"), col("b"), col("v").cast("decimal(18,2)").as("v"))
    val full = graft.ops.Reagg.mergeToCoarser(
        graft.ops.Reagg.partials(all, Seq("k"), col("b"), col("v")), Seq("k"), col("bucket"))
      .orderBy("bucket", "k").collect().toSeq
    for (m <- Seq(2L, 3L, 7L)) {
      val st = graft.ops.Reagg.partials(all.filter(col("id") % m === 0), Seq("k"), col("b"), col("v"))
        .unionByName(graft.ops.Reagg.partials(all.filter(col("id") % m =!= 0), Seq("k"), col("b"), col("v")))
      val merged = graft.ops.Reagg.mergeToCoarser(st, Seq("k"), col("bucket"))
        .orderBy("bucket", "k").collect().toSeq
      assert(merged == full, s"split id % $m broke the maintenance identity")
    }
  }

  test("basketLift: hand lift, minSupport floor, basket cap recomputes the universe") {
    val rows = Seq((1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"),
      (3L, "x"), (3L, "z"), (4L, "y"), (1L, "x") /* dup presence */)
      .toDF("bk", "it")
    val got = graft.ops.Reagg.basketLift(rows, "bk", "it", minSupport = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // N=4 baskets, c_x=3, c_y=3; (x,y) in baskets 1,2 → 2·4·1e6/9
    assert(got == Map(("x", "y") -> (2L, 888888L)))
    // cap at 2 items: add basket 5 with 3 items — it must vanish AND
    // the census must shrink to the capped universe
    val withBig = rows.unionByName(Seq((5L, "x"), (5L, "y"), (5L, "q"))
      .toDF("bk", "it"))
    val capped = graft.ops.Reagg.basketLift(withBig, "bk", "it",
        minSupport = 2, maxBasket = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(capped == Map(("x", "y") -> (2L, 888888L)),
      "capped basket must not contribute pairs or counts")
  }

  test("rollingDistinct: hand 2-day windows incl. ramp-out tail") {
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-0$d 10:00:00")
    val ev = Seq((ts(1), 10L), (ts(1), 11L), (ts(2), 10L), (ts(4), 12L),
      (ts(1), 10L)).toDF("ts", "user_id")
    val got = graft.ops.Reagg.rollingDistinct(ev, "ts", "user_id", days = 2)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    // window_end=d counts users active in {d-1, d}
    assert(got == Map(
      "2024-01-01" -> 2L, // {10,11}
      "2024-01-02" -> 2L, // day1 ∪ day2 = {10,11}
      "2024-01-03" -> 1L, // only day2 {10}
      "2024-01-04" -> 1L, // {12}
      "2024-01-05" -> 1L)) // ramp-out of day 4
  }

  test("abcClasses: inclusive-≤ boundaries land exactly on the cuts") {
    val per = Seq((1L, 50L), (2L, 30L), (3L, 15L), (4L, 5L)).toDF("k", "v")
    val got = graft.ops.Reagg.abcClasses(per, "k", col("v"))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    // total 100; cum 50→A, 80→A (80·100 == 100·80, inclusive), 95→B
    // (== cut2 exactly), 100→C
    assert(got == Map(1L -> (50L, "A"), 2L -> (80L, "A"),
      3L -> (95L, "B"), 4L -> (100L, "C")))
  }

  test("rfmSegments: score 1 = best on every axis, code composes, partition-invariant") {
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-0$d 00:00:00")
    // 4 customers, k=2 halves: cust 4 newest+most+biggest → 1/1/1;
    // cust 1 oldest single cheap order → 2/2/2
    val tx = Seq(
      (1L, ts(1), 100L),
      (2L, ts(2), 300L), (2L, ts(3), 300L),
      (3L, ts(5), 400L), (3L, ts(4), 500L), (3L, ts(4), 100L),
      (4L, ts(7), 900L), (4L, ts(6), 900L), (4L, ts(8), 900L))
    for (parts <- Seq(1, 5)) {
      val got = graft.ops.Reagg.rfmSegments(
          tx.toDF("k", "d", "cents").repartition(parts), "k", "d",
          col("cents"), k = 2)
        .select(col("k"), col("r_score"), col("f_score"), col("m_score"),
          col("rfm_code"))
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(got == Set(
        (4L, 1L, 1L, 1L, 111L), (3L, 1L, 1L, 1L, 111L),
        (2L, 2L, 2L, 2L, 222L), (1L, 2L, 2L, 2L, 222L)))
    }
  }

  test("basketLift / rfmSegments freezes honor the reliable-checkpoint conf") {
    val key = graft.ops.Pins.ReliableCheckpointKey
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-0$d 00:00:00")
    val baskets = Seq((1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"), (3L, "x"),
      (3L, "z"), (4L, "y")).toDF("bk", "it")
    val tx = Seq((1L, ts(1), 100L), (2L, ts(2), 300L), (2L, ts(3), 300L),
      (3L, ts(5), 400L), (4L, ts(7), 900L)).toDF("k", "d", "cents")
    def lift() = graft.ops.Reagg.basketLift(baskets, "bk", "it", minSupport = 2)
    def rfm() = graft.ops.Reagg.rfmSegments(tx, "k", "d", col("cents"), k = 2)
    // the checkpointed leaves of a plan: every freeze, local or reliable
    def frozenLeaves(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectLeaves().collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD if lr.rdd.isCheckpointed => lr.rdd
      }
    spark.conf.set(key, "false")
    val local = (lift().collect().toSet, rfm().collect().toSet)
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("graft_ckpt").toString)
    spark.conf.set(key, "true")
    try {
      val (l, r) = (lift(), rfm())
      for ((name, df) <- Seq("basketLift" -> l, "rfmSegments" -> r)) {
        val frozen = frozenLeaves(df)
        assert(frozen.nonEmpty, s"$name plan has no frozen leaf")
        assert(frozen.forall(_.getCheckpointFile.isDefined),
          s"$name froze a frame with localCheckpoint under $key=true")
      }
      assert((l.collect().toSet, r.collect().toSet) == local,
        "reliable checkpoint changed basketLift / rfmSegments rows")
    } finally spark.conf.set(key, "false")
  }
  test("positionAttribution: U-shape conventions n=1/2/3/5, dust documented") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(s: Int) = new java.sql.Timestamp(ts0.getTime + s * 1000L)
    // user 1: 5 touches; user 2: 1; user 3: 2; user 4: 3
    val rows = (1 to 5).map(i => (1L, t(i), i.toLong)) ++
      Seq((2L, t(1), 10L)) ++ Seq((3L, t(1), 20L), (3L, t(2), 21L)) ++
      (1 to 3).map(i => (4L, t(i), 30L + i))
    val got = graft.ops.Reagg.positionAttribution(
        rows.toDF("u", "ts", "id"), "u",
        Seq(col("ts").asc, col("id").asc))
      .select("u", "position", "credit_micro")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (u, xs) =>
        u -> xs.sortBy(_._2).map(_._3).toSeq }
    assert(got(1L) == Seq(400000L, 66666L, 66666L, 66666L, 400000L))
    assert(got(2L) == Seq(1000000L))
    assert(got(3L) == Seq(500000L, 500000L))
    assert(got(4L) == Seq(400000L, 200000L, 400000L))
    // credit conservation: exact for n <= 3; dust <= n-3 micros beyond
    assert(got(1L).sum == 999998L && got(4L).sum == 1000000L)
  }
}

