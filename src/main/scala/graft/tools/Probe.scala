package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Dev probe: the query-level instruments over `SparkEntry.queries`, all
  * in one [[graft.GraftSession.harness]] session.
  *
  * Usage: `Probe <mode> <sfDir[,sfDir...]> <q1,q2,...|top:N> [mode args]`.
  * `top:N` takes the N slowest queries of `BENCH_FULL.json` in the
  * working directory. Every mode runs once per dir:
  *  - `time [reps=1]`: an untimed warm pass over the subset (codegen and
  *    first-touch I/O), then `reps` timed runs per query, printed as
  *    `[tri] <sf> <name> <sec> s (<rows> rows)` — the lines
  *    `tools/tri_exponents.py` reads. A failing query prints an `ERR`
  *    line; it is never timed as a fast run.
  *  - `ab <confKey> [off=false] [on=true] [pairs=3]`: the conf OFF vs ON
  *    in one session, alternating per pair after both plan shapes are
  *    warmed, so box drift cancels out of the ratio.
  *  - `jobs`: after an untimed warm run, every Spark job of one run with
  *    its wall, callsite and description, then a per-callsite rollup.
  *  - `plans`: `explain("formatted")` per query.
  *
  * `SPARK_GRAFT_CPUS` sets the core count; a fixed setting rides along
  * as a `-Dspark.*` JVM property, which `SparkConf` loads. */
object Probe {
  private val usage = "usage: Probe time|ab|jobs|plans <sfDir[,sfDir...]> " +
    "<q1,q2,...|top:N> [mode args]"
  private val modes = Set("time", "ab", "jobs", "plans")

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && modes(args(0)), usage)
    val Array(mode, dirs, subset) = args.take(3)
    val rest = args.drop(3).toSeq
    require(mode != "ab" || rest.nonEmpty, "usage: Probe ab <dirs> <queries> " +
      "<confKey> [off=false] [on=true] [pairs=3]")
    val names = queryNames(subset)
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = graft.GraftSession.harness()
    spark.sparkContext.setLogLevel("ERROR")
    try dirs.split(",").foreach { dir =>
      mode match {
        case "time" => time(spark, dir, names, rest.headOption.fold(1)(_.toInt))
        case "ab" => names.foreach(ab(spark, dir, _, rest))
        case "jobs" => names.foreach(jobs(spark, dir, _))
        case "plans" => names.foreach { n =>
          println(s"\n========== $n ==========")
          graft.ops.Pins.scoped(graft.SparkEntry.queries(n)(spark, dir).explain("formatted"))
        }
      }
    } finally spark.stop()
  }

  /** `q1,q2,...`, or the N slowest entries of `./BENCH_FULL.json`. */
  private def queryNames(arg: String): Seq[String] =
    if (arg.startsWith("top:")) {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("BENCH_FULL.json")), "UTF-8")
      // "name": seconds scrape of the flat map; non-query keys drop out
      """"([A-Za-z0-9_]+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toSeq
        .filter(kv => graft.SparkEntry.queries.contains(kv._1))
        .sortBy(-_._2).take(arg.stripPrefix("top:").toInt).map(_._1)
    } else arg.split(",").toSeq

  /** One run of a gate, inside its own [[graft.ops.Pins.scoped]] block. */
  private def rows(spark: SparkSession, dir: String, name: String): Long =
    graft.ops.Pins.scoped(graft.SparkEntry.queries(name)(spark, dir).count())

  /** Drop the query's cached frames and garbage outside the timed window. */
  private def settle(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  private def err(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}"

  private def time(spark: SparkSession, dir: String, names: Seq[String],
      reps: Int): Unit = {
    val sf = java.nio.file.Paths.get(dir).getFileName.toString
    names.foreach { n =>
      try rows(spark, dir, n): Unit
      catch { case NonFatal(e) => println(s"[tri] $sf $n WARM-ERR ${err(e)}") }
      settle(spark)
    }
    for (n <- names; _ <- 1 to reps) {
      val t0 = System.nanoTime()
      try {
        val r = rows(spark, dir, n)
        println(f"[tri] $sf $n%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($r rows)")
      } catch { case NonFatal(e) => println(s"[tri] $sf $n ERR ${err(e)}") }
      settle(spark)
    }
  }

  private def ab(spark: SparkSession, dir: String, name: String,
      args: Seq[String]): Unit = {
    val key = args.head
    val off = args.lift(1).getOrElse("false")
    val on = args.lift(2).getOrElse("true")
    val pairs = args.lift(3).fold(3)(_.toInt)
    def timed(v: String): Double = {
      spark.conf.set(key, v)
      val t0 = System.nanoTime()
      rows(spark, dir, name): Unit
      val s = (System.nanoTime() - t0) / 1e9
      settle(spark)
      s
    }
    timed(off); timed(on) // warm both plan shapes, untimed
    val (offs, ons) = Seq.fill(pairs)((timed(off), timed(on))).unzip
    def fmt(xs: Seq[Double]) = xs.map(x => f"$x%.2f").mkString("/")
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
    println(f"[ab] $name%-28s off=${fmt(offs)}%-20s on=${fmt(ons)}%-20s " +
      f"med off=${med(offs)}%.2f on=${med(ons)}%.2f ratio=${med(ons) / med(offs)}%.2f")
  }

  private final case class Job(id: Int, start: Long, site: String, desc: String)

  private def jobs(spark: SparkSession, dir: String, name: String): Unit = {
    val open = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Job, Long)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
        open.put(js.jobId, Job(js.jobId, js.time, prop("callSite.short").getOrElse("?"),
          prop("spark.job.description").getOrElse(""))): Unit
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(open.remove(je.jobId)).foreach(j => done.add((j, je.time - j.start)))
    }
    rows(spark, dir, name): Unit // warm run, untimed and unrecorded
    settle(spark)
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val n = rows(spark, dir, name)
    val wall = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(300) // let the listener bus drain
    settle(spark)
    val js = done.toArray(Array.empty[(Job, Long)]).sortBy(_._1.id).toSeq
    println(f"[jobs] ===== $name: $n rows, $wall%.2f s wall, ${js.length} jobs, " +
      f"${js.map(_._2).sum / 1e3}%.2f s in-job =====")
    js.foreach { case (j, ms) =>
      println(f"[jobs] job${j.id}%4d ${ms / 1e3}%7.3f s  ${j.site}%-40s ${j.desc.take(60)}")
    }
    js.groupBy(_._1.site).map { case (s, xs) => (s, xs.map(_._2).sum, xs.length) }
      .toSeq.sortBy(-_._2).foreach { case (s, ms, k) =>
        println(f"[jobs] SITE ${ms / 1e3}%7.3f s  n=$k%3d  $s")
      }
  }
}
