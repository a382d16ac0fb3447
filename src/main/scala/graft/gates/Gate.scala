package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-contract gate: `query(spark, sfDir)` builds the Spark plan,
  * and `oracle` is equivalent ANSI SQL that DuckDB runs over the same
  * parquet tables; the driver hash-compares the two results. Keeping the
  * plan and its oracle in one value is what pairs them: there is no
  * name-matched second map to fall out of sync. */
final case class Gate(name: String,
    query: (SparkSession, String) => DataFrame, oracle: String)

object Gate {

  /** The gates by name. A name registered twice would leave one of the
    * two gates, and its oracle, unrun without a trace, so duplicates are
    * refused and named. */
  def index(gates: Seq[Gate]): Map[String, Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"duplicate gate names: ${dups.toSeq.sorted.mkString(", ")}")
    gates.map(g => g.name -> g).toMap
  }
}
