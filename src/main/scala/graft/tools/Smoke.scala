package graft.tools

/** Dev smoke runner: drives the flagship `SparkEntry.entry` exactly the
  * way the driver's t1 smoke does (rows>0 on sf0.001) and prints the
  * result head, so a round's entry chain is exercised end-to-end before
  * committing. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.harness()
    spark.sparkContext.setLogLevel("WARN")
    val df = graft.SparkEntry.entry(spark)
    df.printSchema()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows = ${df.count()}")
    spark.stop()
  }
}
