package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev A/B: any boolean-ish session conf ON vs OFF inside ONE
  * JVM/session, alternating per rep so box drift (this host swings
  * 40-65% between sweeps — the bench control pair measures it) cancels
  * out of the comparison. [[SpreadAb]] is this with the scan-spread
  * key.
  * Usage: ConfAb <sfDir> <q1,q2,...> <confKey> [offVal=false]
  *   [onVal=true] [pairs=3]; SPARK_GRAFT_CPUS sets the core count. */
object ConfAb {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").toSeq).getOrElse(Seq("q1_pricing_summary"))
    val key = args.lift(2).getOrElse(graft.ops.Packing.AdaptiveWidthKey)
    val offV = args.lift(3).getOrElse("false")
    val onV = args.lift(4).getOrElse("true")
    val pairs = args.lift(5).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      // warm both plan shapes untimed
      Seq(offV, onV).foreach { v =>
        spark.conf.set(key, v)
        fn(spark, dir).count(): Unit
        spark.catalog.clearCache()
      }
      System.gc()
      val res = scala.collection.mutable.Map(onV -> List.empty[Double],
        offV -> List.empty[Double])
      (1 to pairs).foreach { _ =>
        Seq(offV, onV).foreach { v =>
          spark.conf.set(key, v)
          val t0 = System.nanoTime()
          fn(spark, dir).count(): Unit
          val el = (System.nanoTime() - t0) / 1e9
          res(v) = res(v) :+ el
          spark.catalog.clearCache()
          System.gc()
        }
      }
      def fmt(v: String) = res(v).map(x => f"$x%.2f").mkString("/")
      def med(v: String) = res(v).sorted.apply(res(v).length / 2)
      println(f"[confab] $n%-28s off=${fmt(offV)}%-20s on=${fmt(onV)}%-20s " +
        f"med off=${med(offV)}%.2f on=${med(onV)}%.2f ratio=${med(onV) / med(offV)}%.2f")
    }
    spark.stop()
  }
}
