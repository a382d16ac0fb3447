package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression net: every registered query runs on sf0.001 and returns
  * rows; every query has either an oracle or a documented exemption;
  * flagship entry is non-empty (the driver's t1 smoke, locally). */
class QueriesSmokeSpec extends AnyFunSuite with SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  // The no-oracle exemption list is EMPTY as of round 5: the last five
  // rows-only queries (minhash/simhash/embedding near-dup, approx
  // sketches, seeded stratified sample) now gate through verdict rows —
  // real data columns (doc/vec/stratum/user counts, exact-truth pair
  // counts the oracle recomputes with the same SQL) plus pinned TRUE
  // booleans for the engine-defined parts (recall floors, sketch error
  // contracts, binomial fraction bounds, rerun determinism). Every
  // registered query is hash-matched against DuckDB.
  test("every query has an oracle — the exemption list is empty") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries missing oracle SQL: $missing")
    val stale = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"oracle SQL without query: $stale")
  }

  // Two gates registered under one name would leave one of them, and
  // its oracle, unrun anywhere (found live: two sql_lateral_topn entries
  // shadowed each other for a round, back when the registry was a Map
  // literal, which keeps the last duplicate key silently).
  test("the registry refuses a duplicate gate name and names it") {
    val g = SparkEntry.gates.head
    val e = intercept[IllegalArgumentException] {
      gates.Gate.index(Seq(g, SparkEntry.gates(1), g.copy(oracle = "SELECT 1")))
    }
    assert(e.getMessage.contains(s"duplicate gate names: ${g.name}"), e.getMessage)
  }

  test("the registry holds 359 distinct gates") {
    assert(SparkEntry.gates.size == 359)
    assert(SparkEntry.gates.map(_.name).distinct.size == 359)
    assert(SparkEntry.queries.size == 359 && SparkEntry.oracleSql.size == 359)
  }

  /** Ids of the checkpointed RDDs still pinned in the block store. */
  private def frozen: Set[Int] = spark.sparkContext.getPersistentRDDs
    .collect { case (id, rdd) if rdd.isCheckpointed => id }.toSet

  /** Run a gate in its own `Pins.scoped` block, as Verify, Bench and
    * Probe run it: it must leave none of its freezes pinned. */
  private def noPinsLeft(name: String)(gate: => Unit): Unit = {
    val before = frozen
    ops.Pins.scoped(gate)
    val left = frozen -- before
    assert(left.isEmpty, s"$name left checkpointed RDDs ${left.mkString(",")} pinned")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"query $name runs and returns rows on sf0.001") { noPinsLeft(name) {
      val df = fn(spark, sfDir)
      // Portability contract: no DECIMAL-typed output columns, ever. The
      // driver's hash normalization disagrees with DuckDB's on DECIMAL
      // parquet cells regardless of precision or physical encoding
      // (r4/r5: the board's only two DECIMAL outputs were its only two
      // hash failures while cell-level comparison passed). Exact
      // fractional gates must emit BIGINT micro-units on both sides.
      val decimalCols = df.schema.fields.collect {
        case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] => f.name
      }
      assert(decimalCols.isEmpty,
        s"$name emits DECIMAL columns ${decimalCols.mkString(",")} — " +
          "emit BIGINT micros instead (see driver-hash-decimal-outputs)")
      assert(df.count() > 0, s"$name returned 0 rows")
    }}
  }

  test("flagship entry returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
