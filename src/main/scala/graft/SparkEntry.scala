package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.gates._
import graft.io.Tables
import graft.ops.{Coerce, Merge, Normalize}

/** Driver contract — see SURVEY.md §7.
  *
  * Naming scheme ties each query to SURVEY §2's operator inventory:
  * `pN_*` = reference projection/transform ops, `w4/s8` = upsert-merge,
  * `qN_*` = relational/agg coverage, `xN_*` = EXT LLM-pipeline ops.
  *
  * Determinism rules (the driver hash-compares against DuckDB):
  *  - money/measure aggregates go through DECIMAL casts on BOTH sides —
  *    double sums are partition-order-dependent, decimal sums are exact;
  *  - every query carries a total ORDER BY (ties broken by keys); Catalyst
  *    drops these sorts under Bench's count() (EliminateSorts), so they
  *    cost nothing in the bench path;
  *  - aliases match the oracle SQL exactly (driver sorts columns by name).
  */
object SparkEntry {

  /** Every gate, one [[Gate]] record each, family by family. */
  lazy val gates: Seq[Gate] = Seq(RelationalGates.all, EtlGates.all,
    DedupGates.all, AnnGates.all, TextGates.all, AnalyticsGates.all,
    MediaGates.all, GraphGates.all, StreamGates.all).flatten

  private lazy val byName: Map[String, Gate] = Gate.index(gates)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, g) => n -> g.query }

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    byName.map { case (n, g) => n -> g.oracle }

  /** Flagship: the reference's full W1+W2 chain re-expressed on `events`
    * (SURVEY §7.2.1) — JSON parse (X6) → flatten (P2) → rename (P3) →
    * schema coercion (P5-P11) → LWW latest-per-key dedup (W4) → project.
    * Driver smoke-checks rows>0 on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir)
    val parsed = ev.withColumn("p", from_json(col("props"), Fixtures.propsSchema)).drop("props")
    val flat = Normalize.flatten(parsed)
    val renamed = Normalize.renameColumns(flat, Map("p.k" -> "k"))
    val target = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("ts", TimestampType), StructField("k", LongType)))
    val coerced = Coerce.toSchema(renamed, target)
    Merge.latestByKey(coerced, Seq("user_id", "event_type"), Seq("ts"), Seq("event_id"))
  }
}
