package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (UTC, ANSI default-on as in
  * production — the coercion ops must pass under ANSI — and the
  * product's fixed settings, [[GraftSession.sessionConf]]: its `file://`
  * file systems, one executor class loader and a 2000-entry codegen
  * cache). */
object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.sessionConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.session
}
