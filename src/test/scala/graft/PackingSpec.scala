package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The distributed two-phase prefix sum must be byte-identical to the
  * naive global window, for any partition count. */
class PackingSpec extends AnyFunSuite with SparkTestBase {

  private def naive(df: org.apache.spark.sql.DataFrame) = {
    val w = Window.orderBy(col("k")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum_w", sum(col("w")).over(w))
      .withColumn("shard", floor((col("cum_w") - col("w")) / lit(100L)))
  }

  test("assignShards == global-window prefix sum across partition counts") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val df = (1 to 500).map(i => (i.toLong, (rng.nextInt(40) + 1).toLong)).toDF("k", "w")
    val expect = naive(df).select("k", "cum_w", "shard").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    for (parts <- Seq(1, 3, 8)) {
      val got = graft.ops.Packing.assignShards(df, "k", "w", 100L, numPartitions = parts)
        .select("k", "cum_w", "shard").as[(Long, Long, Long)]
        .collect().sortBy(_._1).toSeq
      assert(got == expect, s"mismatch at numPartitions=$parts")
    }
  }

  test("reliable-checkpoint flag without a checkpoint dir fails loudly") {
    // MUST run before the identity test below, which sets the shared
    // SparkContext's checkpoint dir for the rest of the suite.
    val s2 = spark.newSession()
    s2.conf.set(graft.ops.Pins.ReliableCheckpointKey, "true")
    val df = { import s2.implicits._
      (1 to 10).map(i => (i.toLong, 1L)).toDF("k", "w") }
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      val e = intercept[IllegalArgumentException] {
        graft.ops.Packing.assignShards(df, "k", "w", 100L, numPartitions = 2)
      }
      assert(e.getMessage.contains("setCheckpointDir"))
    }
    s2.conf.set(graft.ops.Pins.ReliableCheckpointKey, "false")
  }

  test("reliable-checkpoint flag: identical results, blocks land in the checkpoint dir") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val df = (1 to 400).map(i => (i.toLong, (rng.nextInt(30) + 1).toLong)).toDF("k", "w")
    val default = graft.ops.Packing.assignShards(df, "k", "w", 100L, numPartitions = 4)
      .select("k", "cum_w", "shard").as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(ckptDir)
    spark.conf.set(graft.ops.Pins.ReliableCheckpointKey, "true")
    try {
      val reliable = graft.ops.Packing.assignShards(df, "k", "w", 100L, numPartitions = 4)
        .select("k", "cum_w", "shard").as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(reliable == default, "reliable checkpoint changed prefix-sum results")
      // the pin really went through the fault-tolerant path
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(ckptDir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, "no checkpoint blocks written to the reliable dir")
      // groupwiseRank rides the same pin — prove the family, not one member
      val g = (1 to 300).map(i => (i.toLong, s"s${i % 3}")).toDF("id", "src")
      val ranks = graft.ops.Mixing.groupwiseRank(g, "src", Seq(col("id")), numPartitions = 4)
        .select("id", "grp_rank").as[(Long, Long)].collect().sortBy(_._1).toSeq
      spark.conf.set(graft.ops.Pins.ReliableCheckpointKey, "false")
      val ranksLocal = graft.ops.Mixing.groupwiseRank(g, "src", Seq(col("id")), numPartitions = 4)
        .select("id", "grp_rank").as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(ranks == ranksLocal, "reliable checkpoint changed groupwise ranks")
    } finally {
      spark.conf.set(graft.ops.Pins.ReliableCheckpointKey, "false")
    }
  }

  test("adaptive width: AQE-coalesced exchange, same rows as 32-wide") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val rng = new scala.util.Random(23)
    val df = (1 to 800).map(i => (i.toLong, (rng.nextInt(20) + 1).toLong)).toDF("k", "w")
    // child session pinned wide, so the coalescing is observable
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "32")
    val df2 = s2.createDataFrame(df.collect().toSeq.asInstanceOf[Seq[org.apache.spark.sql.Row]].asJava, df.schema)
    val adaptive = graft.ops.Packing.assignShards(df2, "k", "w", 100L)
    // tiny input + AQE coalescing ⇒ far fewer range partitions than the
    // session's 32 (the r16 scale-adaptive width; ConfAb, now `Probe ab`,
    // measured the fixed form 1.3-2× slower across the prefix-sum family)
    assert(adaptive.rdd.getNumPartitions < 32,
      s"adaptive width did not coalesce: ${adaptive.rdd.getNumPartitions} partitions")
    val got = adaptive.select("k", "cum_w", "shard").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    val fixed = graft.ops.Packing.assignShards(df2, "k", "w", 100L, numPartitions = 32)
    val exp = fixed.select("k", "cum_w", "shard").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(got == exp, "adaptive width changed prefix-sum results")
    // groupwiseRank rides the same exchange helper
    val g = (1 to 300).map(i => (i.toLong, s"s${i % 3}")).toDF("id", "src")
    val g2 = s2.createDataFrame(g.collect().toSeq.asInstanceOf[Seq[org.apache.spark.sql.Row]].asJava, g.schema)
    val ranked = graft.ops.Mixing.groupwiseRank(g2, "src", Seq(col("id")))
    assert(ranked.rdd.getNumPartitions < 32, "groupwiseRank exchange did not coalesce")
    val ranks = ranked.select("id", "grp_rank").as[(Long, Long)].collect().sortBy(_._1).toSeq
    val naiveRanks = { import org.apache.spark.sql.expressions.Window
      g.withColumn("grp_rank", row_number().over(
        Window.partitionBy("src").orderBy("id")).cast("long"))
        .select("id", "grp_rank").as[(Long, Long)].collect().sortBy(_._1).toSeq }
    assert(ranks == naiveRanks, "adaptive width changed groupwise ranks")
  }

  test("every shard starts within budget (first doc offset < budget boundary)") {
    import spark.implicits._
    val df = (1 to 200).map(i => (i.toLong, 37L)).toDF("k", "w")
    val out = graft.ops.Packing.assignShards(df, "k", "w", 100L, numPartitions = 4)
    // doc starts at cum_w - w; its shard must be (cum_w - w) / 100
    val bad = out.filter(col("shard") =!= floor((col("cum_w") - col("w")) / lit(100L))).count()
    assert(bad == 0L)
  }

  /** Brute-force single-threaded packing: concatenate in key order, cut
    * every C tokens, report each doc×sequence slice. */
  private def packNaive(ws: Seq[(Long, Long)], c: Long): Seq[(Long, Long, Long, Long, Long)] = {
    var cum = 0L
    ws.sortBy(_._1).flatMap { case (k, w) =>
      val start = cum
      cum += w
      if (w <= 0) Seq.empty
      else (start / c to (cum - 1) / c).map { s =>
        val tokStart = math.max(s * c - start, 0L)
        val tokLen = math.min((s + 1) * c - start, w) - tokStart
        val seqOff = math.max(start - s * c, 0L)
        (k, s, tokStart, tokLen, seqOff)
      }
    }
  }

  test("packSequences == brute-force concat-and-chunk, incl. boundary/zero/long docs") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    // mix: zero-weight docs, exact-boundary weights, docs >> contextLen
    val ws = (1 to 300).map { i =>
      val w = rng.nextInt(6) match {
        case 0 => 0L
        case 1 => 8L        // == contextLen
        case 2 => 37L       // spans many sequences
        case _ => (rng.nextInt(10) + 1).toLong
      }
      (i.toLong, w)
    }
    val expect = packNaive(ws, 8L)
    for (parts <- Seq(1, 4)) {
      val got = graft.ops.Packing.packSequences(ws.toDF("k", "w"), "k", "w", 8L,
          numPartitions = parts)
        .select("k", "seq_id", "tok_start", "tok_len", "seq_off")
        .as[(Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
      assert(got == expect, s"mismatch at numPartitions=$parts")
    }
    // structural invariants: every sequence except the last is exactly full,
    // and every doc's slices cover it exactly once
    val bySeq = expect.groupBy(_._2).view.mapValues(_.map(_._4).sum)
    val lastSeq = expect.map(_._2).max
    assert(bySeq.filter(_._1 != lastSeq).values.forall(_ == 8L))
    val byDoc = expect.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    ws.filter(_._2 > 0).foreach { case (k, w) => assert(byDoc(k) == w) }
  }

  test("ntileOrdered == window ntile/percent_rank/cume_dist, ties broken, n<k, across partitions") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    // heavy ties in the score column — the id tiebreak makes the order total
    val df = (1 to 257).map(i => (i.toLong, rng.nextInt(9).toLong)).toDF("id", "score")
    val w = Window.orderBy(col("score").desc, col("id").asc)
    for (k <- Seq(10, 3, 300)) { // 300 > n exercises the q=0 branch
      val expect = df.select(col("id"),
          row_number().over(w).cast("long").as("rank"),
          ntile(k).over(w).cast("long").as("bucket"),
          round(percent_rank().over(w), 9).as("pr"),
          round(cume_dist().over(w), 9).as("cd"))
        .as[(Long, Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
      for (parts <- Seq(1, 4)) {
        val got = graft.ops.Packing.ntileOrdered(df,
            Seq(col("score").desc, col("id").asc), k, numPartitions = parts)
          .select(col("id"), col("rank"), col("bucket"), col("pct_rank"), col("cume_dist"))
          .as[(Long, Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
        assert(got == expect, s"mismatch at k=$k parts=$parts")
      }
    }
  }

  test("selectByTokenBudget: maximal best-first prefix, hard ceiling, desc order") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val df = (1 to 400)
      .map(i => (i.toLong, rng.nextInt(50).toLong, (rng.nextInt(30) + 1).toLong))
      .toDF("id", "score", "w")
    // naive single-threaded greedy PREFIX in (score desc, id) order: the
    // running sum crosses the budget once and everything after is out
    // (later small docs that would refit are NOT taken — prefix, not
    // knapsack)
    val rows = df.as[(Long, Long, Long)].collect().sortBy { case (id, sc, _) => (-sc, id) }
    var cum = 0L
    val expectPrefix = rows.map { case (id, _, w) => cum += w; id -> cum }
      .takeWhile(_._2 <= 3000L).toMap
    for (parts <- Seq(1, 5)) {
      val got = graft.ops.Packing.selectByTokenBudget(df,
          Seq(col("score").desc, col("id").asc), "w", 3000L, numPartitions = parts)
        .select("id", "cum_w").as[(Long, Long)].collect().toMap
      assert(got == expectPrefix, s"mismatch at numPartitions=$parts")
      assert(got.values.max <= 3000L)
    }
  }

  test("ntileGrouped == per-group window ntile, ties broken, group with n<k, across partitions") {
    import spark.implicits._
    val rng = new scala.util.Random(83)
    // group "tiny" has 2 rows < k=4 (the ANSI n<k branch); others ~100
    val df = ((1 to 300).map(i => (i.toLong, s"g${rng.nextInt(3)}", rng.nextInt(20).toLong)) ++
      Seq((1001L, "tiny", 5L), (1002L, "tiny", 3L)))
      .toDF("id", "g", "v")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("v"), col("id"))
    val expect = df.withColumn("bucket", ntile(4).over(w).cast("long"))
      .select("id", "bucket").as[(Long, Long)].collect().toMap
    for (parts <- Seq(1, 4, 9)) {
      val got = graft.ops.Packing.ntileGrouped(df, "g",
          Seq(col("v").asc, col("id").asc), 4, numPartitions = parts)
        .select("id", "bucket").as[(Long, Long)].collect().toMap
      assert(got == expect, s"mismatch at numPartitions=$parts")
    }
  }
}
