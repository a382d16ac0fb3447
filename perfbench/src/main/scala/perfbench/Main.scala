package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One workload: seeded inputs, an untimed reset, the timed pass through
  * the product's public functions and the untimed checks of its outputs
  * against truth kept by the generator. */
trait Workload {
  /** Builds the seed's inputs and their truth in memory. */
  def generate(): Unit
  /** Writes the generated inputs where the product reads them. */
  def materialize(dir: Path): Unit
  /** Input records one pass completes. */
  def rows: Long
  /** Untimed passes before the timed ones: they take most of the fall in
    * pass time while the JIT compiles the product's hot paths. */
  def warmPasses: Int
  def sizes: Map[String, Long]
  def reset(): Unit
  def pass(tr: Tracer): Unit
  def check(ops: Ops): Unit
  /** Share of planted duplicates or neighbours found, if the workload plants any. */
  def recall: Option[Double] = None
  /** Counters only the workload can see, summed since the last reset of them. */
  def counters: Map[String, Double] = Map.empty
  def resetCounters(): Unit = ()
  def close(): Unit = ()
}

object Main {
  /** Spans the traced run reports, in order; absent ones read 0. */
  val Spans: Seq[String] = Seq(
    "sources.rest_extract", "ops.normalize_to_csv", "ops.coerce_merge", "io.jdbc_upsert",
    "streaming.ivf_ingest", "streaming.minhash_incr")

  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val launchMs = a("launch-ms").toLong
    val cores = Runtime.getRuntime.availableProcessors

    val spark = graft.GraftSession.builder(s"local[$cores]", Some(cores))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - launchMs) / 1e3

    val ops = new Ops
    val wl: Workload = workload match {
      case "lms_nightly" => new LmsNightly(spark, seed, cores)
      case "stream_ingest" => new StreamIngest(spark, seed, cores)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val info = new java.util.LinkedHashMap[String, Any]()
    val metrics = new java.util.LinkedHashMap[String, Any]()
    try {
      // Set-up: input generation in memory, repeated and reported as the
      // median (it is deterministic per seed, and its first round mostly
      // times the JIT of the benchmark's own generator); then writing the
      // inputs and the untimed warm passes, whose cold cost is the product's.
      val genS = (0 until SetupReps).map { _ =>
        val t0 = System.nanoTime()
        wl.generate()
        (System.nanoTime() - t0) / 1e9
      }
      val t0 = System.nanoTime()
      wl.materialize(work.resolve("input"))
      val materializeS = (System.nanoTime() - t0) / 1e9
      val warmWalls = (0 until wl.warmPasses).map { _ =>
        val t1 = System.nanoTime()
        wl.reset()
        wl.pass(new Tracer(spark, "warm"))
        wl.check(ops)
        (System.nanoTime() - t1) / 1e9
      }
      val setupS = sessionS + Stats.median(genS) + materializeS + warmWalls.sum
      val control = Kernels.control(spark, cores)

      val tracer = new Tracer(spark, java.util.UUID.randomUUID().toString)
      // traced passes attach the full listener; untraced streaming runs
      // keep a progress-only one for the micro-batch times
      val listener = new SpanListener(jobsToo = trace)
      val sc = spark.sparkContext
      def detach(): Unit = {
        org.apache.spark.perfbench.ListenerBusBridge.drain(sc)
        sc.removeSparkListener(listener)
      }
      val progressOnly = !trace && workload == "stream_ingest"
      if (progressOnly) sc.addSparkListener(listener)
      wl.resetCounters()
      val walls = ArrayBuffer.empty[(Boolean, Double)]
      def measured = walls.map(_._2).sum
      // a traced run alternates untraced and traced passes, starting and
      // ending untraced, so every traced pass has an untraced pass on
      // either side to compare with; it needs two such pairs
      def enough =
        measured >= seconds && (!trace || (walls.count(_._1) >= 2 && !walls.last._1))
      var broken = false
      var liveMb = 0.0
      while (!enough && !broken) {
        val traced = trace && walls.size % 2 == 1
        wl.reset()
        tracer.enabled = traced
        if (traced) sc.addSparkListener(listener)
        val t0 = System.nanoTime()
        try {
          tracer.span("bench.pass")(wl.pass(tracer))
          walls += (traced -> (System.nanoTime() - t0) / 1e9)
          if (walls.size == 1) liveMb = liveHeapMb()
          wl.check(ops)
        } catch {
          case e: Throwable =>
            ops.check("pass", ok = false, e.toString)
            broken = true
        }
        if (traced) detach()
        tracer.enabled = false
      }
      if (progressOnly) detach()
      val passes = walls.size.toDouble

      if (!trace) {
        metrics.put("setup_s", m(setupS, "s"))
        // the median pass: robust to one pass slowed by the box
        metrics.put("rows_per_s", m(wl.rows / Stats.median(walls.map(_._2).toSeq), "rows/s"))
        metrics.put("live_mb", m(liveMb, "MB"))
      } else {
        val (spanStats, batchesBySpan) = SpanStats.compute(spark, tracer, listener)
        Spans.foreach { s =>
          SpanStats.Generic.foreach { case (c, unit) =>
            metrics.put(s"$s.$c", m(spanStats.get(s).flatMap(_.get(c)).getOrElse(0.0), unit))
          }
        }
        val roots = tracer.spans.filter(_.name == "bench.pass")
        metrics.put("bench.pass.self_s",
          m(roots.map(r => tracer.selfNs(r) / 1e9).sum / math.max(roots.size, 1), "s"))
        // each traced pass against the mean of the untraced passes on
        // either side of it, so the JIT's drift between passes cancels
        val overheads = (1 until walls.size - 1).filter(i => walls(i)._1).map { i =>
          walls(i)._2 - (walls(i - 1)._2 + walls(i + 1)._2) / 2 }
        metrics.put("trace.overhead_s",
          m(if (overheads.isEmpty) 0.0 else Stats.median(overheads), "s"))
        val c = wl.counters
        Seq("sources.http_requests" -> "count", "sources.auth_requests" -> "count",
          "sources.page_ms_p50" -> "ms", "io.jdbc_connections" -> "count",
          "io.jdbc_batches" -> "count", "io.jdbc_commits" -> "count").foreach { case (k, u) =>
          val v = c.getOrElse(k, 0.0)
          metrics.put(k, m(if (k.endsWith("_p50")) v else v / passes, u))
        }
        Kernels.run(cores).foreach { case (k, (v, u)) => metrics.put(k, m(v, u)) }
        val streamSpans = Seq("streaming.ivf_ingest", "streaming.minhash_incr")
        val tracedPasses = roots.size.toDouble
        val batches = streamSpans.flatMap(batchesBySpan.getOrElse(_, Nil))
        val streamJobs = streamSpans.map(s => spanStats.get(s).map(_("jobs")).getOrElse(0.0)).sum
        metrics.put("streaming.batches", m(batches.size / math.max(tracedPasses, 1.0), "count"))
        metrics.put("streaming.jobs_per_batch",
          m(if (batches.isEmpty) 0.0 else streamJobs * tracedPasses / batches.size, "count"))
        val bt = batches.map(_.triggerMs / 1e3)
        metrics.put("streaming.batch_p50_s", m(if (bt.isEmpty) 0.0 else Stats.median(bt), "s"))
        metrics.put("streaming.batch_tail_s", m(if (bt.isEmpty) 0.0 else Stats.tail(bt)._2, "s"))
        metrics.put("env.control_s", m(control, "s"))
        val spansOut = work.resolve("spans.json")
        writeSpans(spansOut, tracer)
        info.put("spans_file", spansOut.toString)
      }

      val bt = listener.batches.asScala.toSeq.map(_.triggerMs / 1e3)
      info.put("error_rate", ops.failed.toDouble / math.max(ops.attempted, 1L))
      wl.recall.foreach(r => info.put("recall", r))
      if (bt.nonEmpty) {
        val (p, v) = Stats.tail(bt)
        info.put("batch_p50_s", Stats.median(bt))
        info.put("batch_tail_s", v)
        info.put("batch_tail_percentile", p)
        info.put("batch_samples", bt.size)
      }
      info.put("passes", walls.size)
      info.put("measured_s", measured)
      info.put("setup_generate_s", genS.map(x => f"$x%.3f").mkString(","))
      info.put("setup_materialize_s", materializeS)
      info.put("setup_warm_passes_s", warmWalls.map(x => f"$x%.3f").mkString(","))
      info.put("live_mb", liveMb)
      info.put("peak_rss_mb", peakRssMb())
      info.put("session_start_s", sessionS)
      info.put("env.control_s", control)
      info.put("nproc", cores)
      info.put("seed", seed)
      info.put("spark", spark.version)
      info.put("jdk", System.getProperty("java.version"))
      wl.sizes.foreach { case (k, v) => info.put(s"input.$k", v) }
      wl.counters.foreach { case (k, v) => info.put(s"counter.$k", v) }
      info.put("pass_walls_s", walls.map(w => f"${w._2}%.3f").mkString(","))
      info.put("batch_s", bt.map(b => f"$b%.2f").mkString(","))
      if (ops.failures.nonEmpty) info.put("failures", ops.failures.take(10).mkString(" | "))
    } catch {
      case e: Throwable =>
        ops.check("setup", ok = false, e.toString)
        info.put("failures", (ops.failures.take(10) :+ stackTop(e)).mkString(" | "))
    } finally {
      wl.close()
    }
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("correct", ops.failed == 0 && ops.attempted > 0)
    out.put("attempted", math.max(ops.attempted, 1L))
    out.put("failed", ops.failed)
    out.put("metrics", metrics)
    out.put("info", info)
    new ObjectMapper().writeValue(Paths.get(a("result")).toFile, out)
    spark.stop()
    sys.exit(0)
  }

  private def m(v: Double, unit: String) = {
    val o = new java.util.LinkedHashMap[String, Any]()
    o.put("value", v)
    o.put("unit", unit)
    o
  }

  /** Heap in use after a full collection plus non-heap in use (class
    * metadata, compiled code): what the process keeps alive, cached
    * blocks included, and not how much of the fixed heap it touched. */
  private def liveHeapMb(): Double = {
    System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed) / (1024.0 * 1024.0)
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def stackTop(e: Throwable): String =
    (e.toString +: e.getStackTrace.take(8).map(_.toString)).mkString(" at ")

  private def writeSpans(p: Path, tr: Tracer): Unit = {
    val arr = new java.util.ArrayList[Any]()
    tr.spans.foreach { s =>
      val o = new java.util.LinkedHashMap[String, Any]()
      o.put("id", s.id); o.put("name", s.name); o.put("parent", s.parent)
      o.put("run_id", s.runId); o.put("start_ms", s.startMs); o.put("end_ms", s.endMs)
      o.put("wall_s", s.wallNs / 1e9); o.put("self_s", tr.selfNs(s) / 1e9)
      o.put("blocks_held_after", s.blocksHeldAfter)
      arr.add(o)
    }
    Files.createDirectories(p.getParent)
    new ObjectMapper().writerWithDefaultPrettyPrinter().writeValue(p.toFile, arr)
  }
}
