package graft
package gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.{LocalFs, Tables}
import graft.ops.{Layout, Reagg, TextAnalysis}
import Fixtures._

/** Relational and aggregation coverage (SURVEY §2.3 — absent in the
  * reference, required for a complete engine; also the bench workload):
  * TPC-H-style queries, SQL surface, joins, windows, set ops, grouping
  * sets, as-of/range joins, skew, layout and storage. */
object RelationalGates {

  /** The lineitem ⋈ orders rollup per order status that the join
    * strategy gates (shuffle-hash hint, salted, bucketed) each compute,
    * and its oracle: the plain join. */
  private def statusRollup(joined: DataFrame): DataFrame =
    joined.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_lines"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"))
      .orderBy("o_orderstatus")

  private val statusRollupOracle: String =
    """SELECT o_orderstatus, count(*) AS n_lines,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  val all: Seq[Gate] = Seq(

    // TPC-H Q1-style pricing summary: single scan, hash agg with map-side
    // partial aggregation; decimal sums for cross-engine exactness.
    Gate("q1_pricing_summary", (s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-12-01")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (dec(lit(1)) - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-12-01'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // TPC-H Q3-style: selective dim filter → join fact → agg → top-k.
    // customer is small → Catalyst broadcasts it; lineitem never shuffles
    // for the join, only for the final agg.
    Gate("q3_top_revenue_orders", (s, dir) => {
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir).filter(col("o_orderdate") < to_timestamp(lit("1997-01-01")))
      val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > to_timestamp(lit("1997-01-01")))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(sum(dec(col("l_extendedprice")) * (dec(lit(1)) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
    },
      """SELECT o_orderkey, o_orderdate,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > TIMESTAMP '1997-01-01'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin),

    // Semi join (EXISTS): orders having any high-quantity line.
    Gate("join_semi_highqty", (s, dir) => {
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir).filter(col("l_quantity") > 45)
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_totalprice FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        |ORDER BY o_orderkey""".stripMargin),

    // Anti join (NOT EXISTS): orders with no lineitems at all.
    Gate("join_anti_no_lines", (s, dir) => {
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("o_orderstatus"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_orderstatus FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
        |ORDER BY o_orderkey""".stripMargin),

    // Window top-k: 3 biggest orders per customer, rank exposed.
    Gate("window_topk_orders", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rk"))
        .orderBy("o_custkey", "rk")
    },
      """SELECT o_custkey, o_orderkey, rk FROM (
        |  SELECT o_custkey, o_orderkey,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |              ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rk
        |  FROM orders) t
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin),

    // Rollup over the region→nation hierarchy (grouping-sets machinery).
    Gate("agg_rollup_region", (s, dir) => {
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          sum(dec(col("c_acctbal"))).cast("double").as("sum_bal"))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
    },
      """SELECT r_name, n_name, count(*) AS n_cust,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin),

    // Distinct aggregation per segment.
    Gate("agg_distinct_segments", (s, dir) => {
      Tables.customer(s, dir)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"),
          countDistinct(col("c_nationkey")).as("n_nations"),
          sum(dec(col("c_acctbal"))).cast("double").as("sum_bal"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment, count(*) AS n_cust,
        | count(DISTINCT c_nationkey) AS n_nations,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // Set op: customers ordering in 1995 but never in 2000+ (EXCEPT).
    Gate("set_except_customers", (s, dir) => {
      val o = Tables.orders(s, dir)
      val a = o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey").as("custkey"))
      val b = o.filter(year(col("o_orderdate")) >= 2000).select(col("o_custkey").as("custkey"))
      a.except(b).orderBy("custkey")
    },
      """SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) >= 2000
        |ORDER BY custkey""".stripMargin),

    // Bag (multiset) set ops — EXCEPT ALL keeps max(0, cA−cB) copies per
    // key, INTERSECT ALL min(cA, cB): the variants the distinct forms
    // above can't express (e.g. "how many MORE orders in 1997 than
    // 1998 per customer"). Compacted by a GROUP BY so the gate compares
    // multiplicities, not an unordered bag.
    Gate("set_bag_ops_customers", (s, dir) => {
      val o = Tables.orders(s, dir)
      val a = o.filter(year(col("o_orderdate")) === 1997).select(col("o_custkey"))
      val b = o.filter(year(col("o_orderdate")) === 1998).select(col("o_custkey"))
      val ex = a.exceptAll(b).groupBy("o_custkey").agg(count(lit(1)).as("n"))
        .withColumn("op", lit("except"))
      val in = a.intersectAll(b).groupBy("o_custkey").agg(count(lit(1)).as("n"))
        .withColumn("op", lit("intersect"))
      ex.unionByName(in).select(col("op"), col("o_custkey"), col("n"))
        .orderBy("op", "o_custkey")
    },
      """WITH a AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997),
        |b AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998),
        |e AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b),
        |i AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
        |SELECT 'except' AS op, o_custkey, count(*) AS n FROM e GROUP BY 1, 2
        |UNION ALL
        |SELECT 'intersect' AS op, o_custkey, count(*) AS n FROM i GROUP BY 1, 2
        |ORDER BY op, o_custkey""".stripMargin),

    // Nested data round-trip: order lines collected into a real
    // array<struct> column (sort_array makes the nesting order
    // canonical), then consumed by higher-order functions — filter on
    // a struct field, aggregate over the survivors — and reduced back
    // to scalars. The shape document stores use for line items /
    // spans / token ranges; the oracle is the flat relational form.
    Gate("nested_lines_hof", (s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 100 === 0)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(
          struct(col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))))
          .as("lines"))
        .select(col("l_orderkey"),
          size(col("lines")).as("n_lines"),
          size(filter(col("lines"), x => x("l_quantity") > 30))
            .as("n_heavy"),
          // money summed as integer cents inside the HOF: double
          // addition is order-sensitive and the oracle sums in its own
          // order — integer cents are exact under any order
          aggregate(filter(col("lines"), x => x("l_quantity") > 30),
            lit(0L), (acc, x) => acc + round(x("l_extendedprice") * 100).cast("long"))
            .as("heavy_cents"))
        .orderBy("l_orderkey")
    },
      """SELECT l_orderkey, CAST(count(*) AS INT) AS n_lines,
        | CAST(sum(CASE WHEN l_quantity > 30 THEN 1 ELSE 0 END) AS INT) AS n_heavy,
        | CAST(sum(CASE WHEN l_quantity > 30
        |          THEN CAST(round(l_extendedprice * 100) AS BIGINT)
        |          ELSE 0 END) AS BIGINT) AS heavy_cents
        |FROM lineitem WHERE l_orderkey % 100 = 0
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),

    // Map-typed columns end-to-end: per-user event-type counts built
    // into a real MapType (map_from_entries), reduced with a map-HOF
    // (aggregate over map_values), pruned with map_filter, fanned back
    // out with explode(map). The oracle is the equivalent relational
    // form — proving the map algebra preserves relational semantics.
    Gate("map_hof_type_mix", (s, dir) => {
      val counts = Tables.events(s, dir)
        .filter(col("user_id") < 100)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      counts.groupBy(col("user_id"))
        .agg(map_from_entries(
          array_sort(collect_list(struct(col("event_type"), col("n")))))
          .as("type_counts"))
        .withColumn("total_n",
          aggregate(map_values(col("type_counts")), lit(0L), (a, v) => a + v))
        .withColumn("frequent",
          map_filter(col("type_counts"), (_, v) => v >= lit(5L)))
        .select(col("user_id"), col("total_n"),
          explode(col("frequent")).as(Seq("event_type", "n")))
        .withColumn("share_pct",
          round(col("n").cast("double") * lit(100) / col("total_n").cast("double"), 6))
        .orderBy("user_id", "event_type")
    },
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS n
        |  FROM events WHERE user_id < 100 GROUP BY 1, 2),
        |t AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS total_n FROM c GROUP BY 1)
        |SELECT c.user_id, t.total_n, c.event_type, c.n,
        |  round(CAST(c.n AS DOUBLE) * 100 / CAST(t.total_n AS DOUBLE), 6) AS share_pct
        |FROM c JOIN t ON c.user_id = t.user_id
        |WHERE c.n >= 5
        |ORDER BY c.user_id, c.event_type""".stripMargin),

    // TPC-H Q5-style 6-table join: dims broadcast, fact joins stay
    // shuffle-free until the final agg on nation.
    Gate("q5_local_volume", (s, dir) => {
      val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, dir).join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      val c = Tables.customer(s, dir).join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1998-01-01")))
      val l = Tables.lineitem(s, dir)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(dec(col("l_extendedprice")) * (dec(lit(1)) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    },
      """SELECT n_name,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name ASC""".stripMargin),

    // Layout — 2-D Hilbert index over bucketed (user, value): the
    // Morton curve's better-locality sibling (consecutive codes are
    // grid-adjacent — LayoutSpec proves it and shows Z-order jumping).
    // The oracle replays the 8-level reflect-and-swap bit walk as a
    // recursive CTE, so any drift in the rotation logic flips rows.
    Gate("layout_hilbert_values", (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.ops.Layout.hilbertIndexed2(
          ev.select(col("event_id"),
            (col("user_id") % 256).as("hx"),
            (floor(col("value")).cast("long") % 256).as("hy")),
          col("hx"), col("hy"), "h", bits = 8)
        .orderBy("event_id")
    },
      """WITH RECURSIVE it AS (
        |  SELECT event_id,
        |    CAST(user_id % 256 AS BIGINT) AS hx,
        |    CAST(CAST(floor(value) AS BIGINT) % 256 AS BIGINT) AS hy,
        |    CAST(user_id % 256 AS BIGINT) AS x,
        |    CAST(CAST(floor(value) AS BIGINT) % 256 AS BIGINT) AS y,
        |    CAST(0 AS BIGINT) AS d, CAST(128 AS BIGINT) AS s
        |  FROM events
        |  UNION ALL
        |  SELECT event_id, hx, hy,
        |    CASE WHEN (y & s) = 0 THEN
        |      CASE WHEN (x & s) != 0 THEN s - 1 - y ELSE y END
        |    ELSE x END AS x,
        |    CASE WHEN (y & s) = 0 THEN
        |      CASE WHEN (x & s) != 0 THEN s - 1 - x ELSE x END
        |    ELSE y END AS y,
        |    d + s * s * xor(3 * (CASE WHEN (x & s) != 0 THEN 1 ELSE 0 END),
        |                    (CASE WHEN (y & s) != 0 THEN 1 ELSE 0 END)) AS d,
        |    s // 2 AS s
        |  FROM it WHERE s > 0)
        |SELECT event_id, hx, hy, d AS h FROM it WHERE s = 0
        |ORDER BY event_id""".stripMargin),

    // Per-key join-amplification census — the exact drill-down under
    // the Count-Min join-size ESTIMATE: which keys contribute the
    // most |A ⋈ B| rows (n_left·n_right), top 10 by contribution.
    // Two key-grain aggs + TakeOrderedAndProject — never a global
    // sort.
    Gate("join_amplification_census", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val a = li.groupBy("l_partkey").agg(count(lit(1)).as("n_left"))
      val b = li.filter(col("l_returnflag") === "R")
        .groupBy("l_partkey").agg(count(lit(1)).as("n_right"))
      a.join(b, "l_partkey")
        .withColumn("contrib", col("n_left") * col("n_right"))
        .orderBy(col("contrib").desc, col("l_partkey").asc)
        .limit(10)
    },
      """WITH a AS (
        |  SELECT l_partkey, count(*) AS n_left FROM lineitem GROUP BY 1),
        |b AS (
        |  SELECT l_partkey, count(*) AS n_right FROM lineitem
        |  WHERE l_returnflag = 'R' GROUP BY 1)
        |SELECT a.l_partkey, a.n_left, b.n_right,
        |  CAST(a.n_left * b.n_right AS BIGINT) AS contrib
        |FROM a JOIN b ON a.l_partkey = b.l_partkey
        |ORDER BY contrib DESC, a.l_partkey ASC LIMIT 10""".stripMargin),

    // Running totals + lag over an ordered per-customer window.
    Gate("window_running_total", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .withColumn("run_total",
          sum(dec(col("o_totalprice"))).over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double"))
        .withColumn("prev_price", lag(dec(col("o_totalprice")), 1).over(w).cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("run_total"), col("prev_price"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS run_total,
        | CAST(LAG(CAST(o_totalprice AS DECIMAL(18,2)), 1) OVER w AS DOUBLE) AS prev_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |             ROWS UNBOUNDED PRECEDING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // Cube over status × priority (full grouping-set lattice).
    Gate("agg_cube_orders", (s, dir) => {
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast("double").as("sum_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin),

    // TPC-H Q17-style correlated aggregate, rearranged to exact scaled-
    // long arithmetic (qty·100 as bigint; qty·2·cnt < sum): decimal in
    // the per-row filter costs ~4s at sf0.1 (BigDecimal per row), longs
    // are exact AND codegen-cheap; both engines compute identically.
    Gate("q17_small_quantity", (s, dir) => {
      val l = Tables.lineitem(s, dir)
      val qs = round(col("l_quantity") * 100).cast("long")
      val perPart = l.groupBy(col("l_partkey").as("pk"))
        .agg(sum(qs).cast("long").as("sum_qs"), count(lit(1)).as("cnt"))
      l.join(broadcast(perPart), col("l_partkey") === col("pk"))
        .filter(qs * 2 * col("cnt") < col("sum_qs"))
        .agg(sum(dec(col("l_extendedprice"))).cast("double").as("total_price"),
          count(lit(1)).as("n_lines"))
    },
      """WITH pp AS (
        |  SELECT l_partkey AS pk,
        |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qs,
        |    count(*) AS cnt
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  count(*) AS n_lines
        |FROM lineitem JOIN pp ON l_partkey = pk
        |WHERE CAST(round(l_quantity * 100) AS BIGINT) * 2 * cnt < sum_qs""".stripMargin),

    // TPC-H Q6 shape: pure scan-filter-agg — every predicate reaches the
    // parquet reader (PushedFilters), no join, no shuffle beyond the
    // one-row final agg. The "how fast can you not read data" query.
    Gate("q6_forecast_revenue", (s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
          .cast("double").as("revenue"))
    },
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin),

    // TPC-H Q8 shape: market share of one supplier nation inside one
    // customer region, per order year. Small dims (filtered part,
    // supplier×nation, region×nation key list) broadcast; the
    // orders/customer joins carry NO hint — at warehouse scale those
    // sides exceed broadcast range, so they plan as shuffle joins on
    // the key and AQE converts to broadcast when runtime sizes allow.
    // Numerator and denominator are exact decimal sums; the share
    // divides as double (identical IEEE inputs ⇒ identical quotient)
    // and rounds for the gate.
    Gate("q8_market_share", (s, dir) => {
      val n1 = Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("_cnk"))
      val n2 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("_snk"), col("n_name").as("supp_nation"))
      val c = Tables.customer(s, dir)
        .join(broadcast(n1), col("c_nationkey") === col("_cnk"))
        .select(col("c_custkey"))
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= to_timestamp(lit("1995-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1997-01-01")))
      val p = Tables.part(s, dir).filter(col("p_type") === "PROMO")
        .select(col("p_partkey"))
      val sup = Tables.supplier(s, dir)
        .join(broadcast(n2), col("s_nationkey") === col("_snk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val vol = dec(col("l_extendedprice")) * (dec(lit(1)) - dec(col("l_discount")))
      Tables.lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(
          sum(when(col("supp_nation") === "NATION_5", vol).otherwise(dec(lit(0))))
            .cast("double") /
          sum(vol).cast("double"), 9).as("mkt_share"))
        .orderBy("o_year")
    },
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
        | round(
        |   CAST(sum(CASE WHEN n2.n_name = 'NATION_5'
        |     THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
        |   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
        |   9) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY o_year""".stripMargin),

    // TPC-H Q9 shape: profit by supplier nation × order year for a
    // part-name LIKE family. The fixtures have no partsupp, so supply
    // cost is a deterministic stand-in (5% of retail price per unit).
    // Both terms stay two-factor decimal products (a third factor would
    // exceed DuckDB's 38-digit multiply width); the 5% scales the exact
    // cost sum AFTER aggregation, in double, identically in both engines.
    Gate("q9_product_profit", (s, dir) => {
      val p = Tables.part(s, dir).filter(col("p_name").like("%red%"))
        .select(col("p_partkey"), col("p_retailprice"))
      val sup = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year"))
      Tables.lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"), col("o_year"))
        .agg(round(
          sum(dec(col("l_extendedprice")) * (dec(lit(1)) - dec(col("l_discount"))))
            .cast("double") -
          lit(0.05) * sum(dec(col("p_retailprice")) * dec(col("l_quantity"))).cast("double"),
          4).as("profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },
      """SELECT n_name AS nation,
        | CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
        | round(
        |   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |   - 0.05 * CAST(sum(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE),
        |   4) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin),

    // TPC-H Q10 shape: top-20 customers by revenue lost to returns in a
    // quarter — filtered fact joins broadcast dims, aggregates on the
    // customer grain, TakeOrderedAndProject caps the result.
    Gate("q10_returned_customers", (s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-07-01")) &&
          col("o_orderdate") < to_timestamp(lit("1996-10-01")))
        .select(col("o_orderkey"), col("o_custkey"))
      val n = Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))
      Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(sum(dec(col("l_extendedprice")) * (dec(lit(1)) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    },
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin),

    // TPC-H Q13 shape: order-count distribution over ALL customers —
    // the left join keeps zero-order customers (c_count=0), the filter
    // lives in the join condition (a WHERE would silently drop them),
    // then a second agg histograms the counts.
    Gate("q13_order_distribution", (s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"))
      Tables.customer(s, dir)
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // TPC-H Q14 shape: promo revenue share in a month — conditional
    // aggregation producing a ratio; exact decimal sums divide as double.
    Gate("q14_promo_revenue", (s, dir) => {
      val vol = dec(col("l_extendedprice")) * (dec(lit(1)) - dec(col("l_discount")))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-03-01")) &&
          col("l_shipdate") < to_timestamp(lit("1996-04-01")))
        .join(broadcast(Tables.part(s, dir).select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0) *
          sum(when(col("p_type") === "PROMO", vol).otherwise(dec(lit(0)))).cast("double") /
          sum(vol).cast("double"), 9).as("promo_revenue"))
    },
      """SELECT round(100.0 *
        |  CAST(sum(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
        |  9) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin),

    // TPC-H Q15 shape: supplier(s) hitting the quarter's max revenue —
    // the revenue CTE aggregates once, its one-row max broadcasts back,
    // and the equality compares EXACT decimals (a double total here
    // could miss the max on a ULP and return zero rows).
    Gate("q15_top_supplier", (s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1996-04-01")))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(sum(dec(col("l_extendedprice")) * (dec(lit(1)) - dec(col("l_discount"))))
          .as("_total_rev"))
      val mx = rev.agg(max(col("_total_rev")).as("_mx"))
      Tables.supplier(s, dir)
        .join(rev, col("s_suppkey") === col("supplier_no"))
        .join(broadcast(mx), col("_total_rev") === col("_mx"))
        .select(col("s_suppkey"), col("s_name"),
          col("_total_rev").cast("double").as("total_revenue"))
        .orderBy("s_suppkey")
    },
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_rev = (SELECT max(total_rev) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin),

    // TPC-H Q2 shape: min-cost supplier per part. The testdata carries
    // no partsupp table, so lineitem is the part↔supplier bridge and
    // min(l_extendedprice) stands in for min(ps_supplycost). Q2's
    // correlated-min subquery is expressed as a keyed window min +
    // filter instead of the textbook aggregate-and-join-back: same
    // rows (min of doubles is a selection, not a sum — the equality
    // is cross-engine exact), but ONE fact scan and one shuffle on
    // p_partkey, where the join-back form scans the fact twice (Spark
    // has no cross-branch CSE) and sort-merge-joins the copies.
    // Filtered dims broadcast; global top-k is TakeOrderedAndProject.
    Gate("sql_q2_min_cost_supplier", (s, dir) => {
      val sup = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val p = Tables.part(s, dir)
        .filter(col("p_size") <= 15 && col("p_type") === "PROMO")
        .select(col("p_partkey"), col("p_name"))
      val offers = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      val perPart = Window.partitionBy(col("p_partkey"))
      offers
        .withColumn("_min_cost", min(col("l_extendedprice")).over(perPart))
        .filter(col("l_extendedprice") === col("_min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"))
        .distinct()
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
        .limit(100)
    },
      """WITH offers AS (
        |  SELECT l_partkey AS p_partkey, p_name, l_extendedprice,
        |         s_acctbal, s_name, n_name
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA' AND p_size <= 15 AND p_type = 'PROMO')
        |SELECT DISTINCT o.s_acctbal, o.s_name, o.n_name, o.p_partkey, o.p_name
        |FROM offers o
        |JOIN (SELECT p_partkey, min(l_extendedprice) AS min_cost
        |      FROM offers GROUP BY p_partkey) m
        |  ON o.p_partkey = m.p_partkey AND o.l_extendedprice = m.min_cost
        |ORDER BY o.s_acctbal DESC, o.n_name, o.s_name, o.p_partkey
        |LIMIT 100""".stripMargin),

    // TPC-H Q11 shape: parts whose inventory value from one nation's
    // suppliers clears a threshold derived from the whole group set —
    // group-by + HAVING against a scalar subquery. The threshold is
    // relative to the MAX part value (within 4× of the best) rather
    // than Q11's fixed fraction of the total: a fixed fraction of a
    // total spread over ever-more parts empties out as the corpus
    // grows, while a max-relative cut stays selective AND non-empty at
    // every scale. The comparison cross-multiplies EXACT decimals — no
    // decimal division whose scale rules differ between engines. The
    // scalar is a one-row broadcast; its branch re-scans the fact
    // (Spark has no cross-branch CSE) — two parallel pruned scans, the
    // deliberate trade over a single-reducer global window at scale.
    Gate("sql_q11_important_parts", (s, dir) => {
      val sup = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir).filter(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val byPart = Tables.lineitem(s, dir)
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey").as("p_partkey"))
        .agg(sum(dec(col("l_extendedprice"))).as("_value"))
      val top = byPart.agg(max(col("_value")).as("_max_value"))
      byPart.crossJoin(broadcast(top))
        .filter(col("_value") * lit(4) > col("_max_value"))
        .select(col("p_partkey"), col("_value").cast("double").as("part_value"))
        .orderBy(col("part_value").desc, col("p_partkey"))
    },
      """WITH by_part AS (
        |  SELECT l_partkey AS p_partkey,
        |         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS value_dec
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_3'
        |  GROUP BY l_partkey)
        |SELECT p_partkey, CAST(value_dec AS DOUBLE) AS part_value
        |FROM by_part
        |WHERE value_dec * 4 > (SELECT max(value_dec) FROM by_part)
        |ORDER BY part_value DESC, p_partkey""".stripMargin),

    // TPC-H Q12 shape: late-shipment priority matrix. No l_shipmode /
    // commitdate in the testdata, so linestatus plays the mode and
    // "late" = shipped >60 days after the order date; the shape is
    // intact — join + date-window filter + CASE'd conditional counts.
    Gate("sql_q12_late_priority", (s, dir) => {
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01")))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy(col("l_linestatus"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("l_linestatus")
    },
      """SELECT l_linestatus,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |          THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |          THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),

    // As-of join: for each purchase, the user's latest preceding click.
    Gate("asof_click_attribution", (s, dir) => {
      val ev = Tables.events(s, dir).select("event_id", "user_id", "event_type", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.ops.AsOf.joinAsOf(purchases, clicks, "user_id", "ts", "ts",
          leftId = "purchase_id", rightTieBreak = Seq("event_id"))
        .select(col("purchase_id"), col("user_id"), col("asof_event_id").as("click_id"))
        .orderBy("purchase_id")
    },
      """WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |     c AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'click'),
        |     j AS (SELECT p.purchase_id, p.user_id, c.event_id AS click_id,
        |             ROW_NUMBER() OVER (PARTITION BY p.purchase_id
        |               ORDER BY c.ts DESC, c.event_id DESC) AS rn
        |           FROM p JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts)
        |SELECT purchase_id, user_id, click_id FROM j WHERE rn = 1
        |ORDER BY purchase_id""".stripMargin),

    // Range join: activity burst — events within 7 days after each signup.
    Gate("range_events_after_signup", (s, dir) => {
      val ev = Tables.events(s, dir).select("event_id", "user_id", "event_type", "ts")
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("user_id"), col("ts"))
      graft.ops.AsOf.rangeJoin(signups, ev, "user_id", "ts", "ts",
          expr("INTERVAL 7 DAYS"))
        .filter(col("r_event_id") =!= col("signup_id"))
        .groupBy(col("signup_id"))
        .agg(count(lit(1)).as("n_following"))
        .orderBy("signup_id")
    },
      """WITH s AS (SELECT event_id AS signup_id, user_id, ts FROM events
        |           WHERE event_type = 'signup')
        |SELECT s.signup_id, count(*) AS n_following
        |FROM s JOIN events e ON s.user_id = e.user_id
        |  AND e.ts >= s.ts AND e.ts <= s.ts + INTERVAL 7 DAY
        |  AND e.event_id != s.signup_id
        |GROUP BY s.signup_id ORDER BY s.signup_id""".stripMargin),

    // Set op: customers active in both years (INTERSECT).
    Gate("set_intersect_customers", (s, dir) => {
      val o = Tables.orders(s, dir)
      val a = o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey").as("custkey"))
      val b = o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey").as("custkey"))
      a.intersect(b).orderBy("custkey")
    },
      """SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995
        |INTERSECT
        |SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
        |ORDER BY custkey""".stripMargin),

    // TPC-H Q7-style volume shipping: two nation roles, year breakdown.
    Gate("q7_volume_shipping", (s, dir) => {
      val n1 = Tables.nation(s, dir).select(col("n_nationkey").as("supp_nk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, dir).select(col("n_nationkey").as("cust_nk"), col("n_name").as("cust_nation"))
      val l = Tables.lineitem(s, dir)
        .filter(col("l_shipdate").between(to_timestamp(lit("1995-01-01")), to_timestamp(lit("1996-12-31"))))
      l.join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("supp_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("cust_nk"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .filter(col("supp_nk") < 3 || col("cust_nk") < 3)
        .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum(dec(col("l_extendedprice")) * (dec(lit(1)) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        | CAST(year(l_shipdate) AS BIGINT) AS l_year,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
        |  AND n1.n_name != n2.n_name
        |  AND (n1.n_nationkey < 3 OR n2.n_nationkey < 3)
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // SQL surface: TPC-H Q4-shape EXISTS subquery through spark.sql —
    // the engine's second entry path next to the DataFrame API.
    Gate("sql_q4_priority", (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT o_orderpriority, count(*) AS order_count
          |FROM orders_v
          |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          |  AND o_orderdate < TIMESTAMP '1996-07-01'
          |  AND EXISTS (SELECT 1 FROM lineitem_v
          |              WHERE l_orderkey = o_orderkey AND l_quantity > 30)
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    },
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 30)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // SQL surface: NOT IN three-valued logic. A NULL in the subquery
    // list makes NOT IN unknowable for every non-matching row — the
    // poisoned count MUST be 0, while the null-filtered form is the
    // real anti-join. The classic silent-wrong-answer trap an engine
    // must reproduce exactly, not "fix".
    Gate("sql_notin_3vl", (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT
          | (SELECT count(*) FROM customer_v
          |  WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 7) FROM orders_v))
          |   AS cnt_null_poisoned,
          | (SELECT count(*) FROM customer_v
          |  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders_v WHERE o_custkey <> 7))
          |   AS cnt_clean""".stripMargin)
    },
      """SELECT
        | (SELECT count(*) FROM customer
        |  WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 7) FROM orders))
        |   AS cnt_null_poisoned,
        | (SELECT count(*) FROM customer
        |  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey <> 7))
        |   AS cnt_clean""".stripMargin),

    // Pivot: per-user-bucket event-type count matrix.
    Gate("pivot_event_counts", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      Tables.events(s, dir)
        .groupBy((col("user_id") % 10).as("user_bucket"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("user_bucket") +:
          types.map(t => coalesce(col(t), lit(0L)).cast("long").as(t)): _*)
        .orderBy("user_bucket")
    },
      """SELECT user_id % 10 AS user_bucket,
        | count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        | count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        | count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        | count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        | count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY 1 ORDER BY user_bucket""".stripMargin),

    // Array aggregation: sorted distinct event types per user, as a
    // string (arrays hash differently across readers; string is stable).
    Gate("array_event_types", (s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(concat_ws(",", sort_array(collect_set(col("event_type")))).as("types"),
          countDistinct(col("event_type")).as("n_types"))
        .orderBy("user_id")
    },
      """SELECT user_id,
        | array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
        | count(DISTINCT event_type) AS n_types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Table generator: posexplode of tokens with positions.
    Gate("posexplode_tokens", (s, dir) => {
      Tables.documents(s, dir)
        .filter(col("doc_id") < 20)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("tok"))
        .orderBy("doc_id", "pos")
    },
      """SELECT doc_id, CAST(u['pos'] AS BIGINT) AS pos, u['tok'] AS tok FROM (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(w)),
        |      i -> {'pos': i - 1, 'tok': w[i]})) AS u
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w
        |        FROM documents WHERE doc_id < 20) t) t2
        |ORDER BY doc_id, pos""".stripMargin),

    // Exact median (interpolating percentile) per order status.
    Gate("agg_median_price", (s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(round(expr("percentile(o_totalprice, 0.5)"), 2).as("median_price"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    },
      """SELECT o_orderstatus,
        | round(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
        | count(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // Interpolated quartiles + IQR per group (percentile with linear
    // interpolation — the percentile_cont semantics; exact, not the GK
    // sketch, which sketch_approx_events covers).
    Gate("agg_quartiles_price", (s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(round(expr("percentile(o_totalprice, 0.25)"), 3).as("q1"),
          round(expr("percentile(o_totalprice, 0.75)"), 3).as("q3"),
          round(expr("percentile(o_totalprice, 0.75) - percentile(o_totalprice, 0.25)"), 3).as("iqr"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority,
        |  round(quantile_cont(o_totalprice, 0.25), 3) AS q1,
        |  round(quantile_cont(o_totalprice, 0.75), 3) AS q3,
        |  round(quantile_cont(o_totalprice, 0.75)
        |        - quantile_cont(o_totalprice, 0.25), 3) AS iqr
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // Grouping sets: explicit lattice (status totals, priority totals,
    // grand total) — the generalized machinery behind rollup/cube.
    Gate("agg_grouping_sets", (s, dir) => {
      Tables.orders(s, dir)
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast("double").as("sum_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin),

    // Conditional aggregation (FILTER-clause shape): several sliced
    // aggregates from one scan — no self-joins, no second pass.
    Gate("agg_filtered_counts", (s, dir) => {
      Tables.orders(s, dir)
        .groupBy(year(col("o_orderdate")).cast("long").as("y"))
        .agg(count(lit(1)).as("n"),
          count(when(col("o_orderstatus") === "F", 1)).as("n_finished"),
          count(when(col("o_orderpriority").startsWith("1"), 1)).as("n_urgent"),
          sum(when(col("o_orderstatus") === "O", dec(col("o_totalprice"))))
            .cast("double").as("open_price"))
        .orderBy("y")
    },
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS y, count(*) AS n,
        | count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
        | count(*) FILTER (WHERE o_orderpriority LIKE '1%') AS n_urgent,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |   FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS open_price
        |FROM orders GROUP BY 1 ORDER BY y""".stripMargin),

    // Full outer join: per-user activity snapshots for two half-months
    // merged with COALESCE (rows missing on either side survive).
    Gate("join_full_outer_activity", (s, dir) => {
      val ev = Tables.events(s, dir)
      val split = to_timestamp(lit("2024-01-15"))
      val a = ev.filter(col("ts") < split)
        .groupBy(col("user_id").as("ua")).agg(count(lit(1)).as("n_early"))
      val b = ev.filter(col("ts") >= split)
        .groupBy(col("user_id").as("ub")).agg(count(lit(1)).as("n_late"))
      a.join(b, col("ua") === col("ub"), "full_outer")
        .select(coalesce(col("ua"), col("ub")).as("user_id"),
          coalesce(col("n_early"), lit(0L)).as("n_early"),
          coalesce(col("n_late"), lit(0L)).as("n_late"))
        .orderBy("user_id")
    },
      """WITH a AS (SELECT user_id, count(*) AS n_early FROM events
        |           WHERE ts < TIMESTAMP '2024-01-15' GROUP BY user_id),
        |     b AS (SELECT user_id, count(*) AS n_late FROM events
        |           WHERE ts >= TIMESTAMP '2024-01-15' GROUP BY user_id)
        |SELECT COALESCE(a.user_id, b.user_id) AS user_id,
        |  COALESCE(n_early, 0) AS n_early, COALESCE(n_late, 0) AS n_late
        |FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
        |ORDER BY user_id""".stripMargin),

    // Right outer join: every order keeps a row even with zero matching
    // high-value lines (completes the join-type matrix alongside
    // left/full/semi/anti/cross).
    Gate("join_right_outer", (s, dir) => {
      val l = Tables.lineitem(s, dir).filter(col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_extendedprice"))
      l.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"), "right")
        .groupBy(col("o_orderkey"))
        .agg(count(col("l_orderkey")).as("n_big_lines"),
          sum(dec(col("l_extendedprice"))).cast("double").as("big_value"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, count(l_orderkey) AS n_big_lines,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS big_value
        |FROM (SELECT l_orderkey, l_extendedprice FROM lineitem WHERE l_quantity > 45) l
        |RIGHT JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin),

    // Window value functions: ntile / percent_rank / cume_dist /
    // first / last over an unbounded frame (total order ⇒ deterministic).
    Gate("window_value_functions", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cdist"),
          first(col("o_orderkey")).over(w).as("biggest_order"),
          last(col("o_orderkey")).over(wFull).as("smallest_order"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        | round(percent_rank() OVER w, 6) AS pct_rank,
        | round(cume_dist() OVER w, 6) AS cdist,
        | first_value(o_orderkey) OVER w AS biggest_order,
        | last_value(o_orderkey) OVER (PARTITION BY o_custkey
        |   ORDER BY o_totalprice DESC, o_orderkey ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS smallest_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // TPC-H Q18: large-volume orders — HAVING-filtered agg joined back.
    // The agg shrinks to a handful of keys after the filter → broadcast
    // it into orders; at 100 TB the big side never shuffles for the join.
    Gate("q18_large_orders", (s, dir) => {
      val big = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(dec(col("l_quantity"))).as("tq"))
        .filter(col("tq") > 300)
        .withColumn("total_qty", col("tq").cast("double")).drop("tq")
      Tables.orders(s, dir).join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_totalprice"), col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey").asc)
    },
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300)
        |SELECT c_custkey, c_name, o_orderkey, o_totalprice, total_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey ASC""".stripMargin),

    // TPC-H Q19 shape: OR-of-ANDs join predicate — Catalyst extracts the
    // common l_partkey=p_partkey equi-condition and pushes the per-branch
    // part filters below the broadcast join.
    Gate("q19_disjunctive_filter", (s, dir) => {
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
            col("l_quantity").between(20, 30)))
        .agg(sum(dec(col("l_extendedprice")) * (dec(lit(1)) - dec(col("l_discount"))))
          .cast("double").as("revenue"), count(lit(1)).as("n_lines"))
    },
      """SELECT
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        | count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin),

    // Correlated scalar subqueries through the SQL surface (Catalyst
    // decorrelates to aggregates+joins); predicate rearranged to exact
    // arithmetic: price·cnt > 2·sum instead of price > 2·avg.
    Gate("sql_correlated_scalar", (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_cs")
      s.sql(
        """SELECT o_orderkey, o_custkey, o_totalprice
          |FROM orders_cs o
          |WHERE CAST(o_totalprice AS DECIMAL(18,2)) *
          |      (SELECT count(*) FROM orders_cs o2 WHERE o2.o_custkey = o.o_custkey)
          |    > 2 * (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
          |           FROM orders_cs o3 WHERE o3.o_custkey = o.o_custkey)
          |ORDER BY o_orderkey""".stripMargin)
    },
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE CAST(o_totalprice AS DECIMAL(18,2)) *
        |      (SELECT count(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |    > 2 * (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
        |           FROM orders o3 WHERE o3.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin),

    // TPC-H q21 shape: correlated EXISTS + NOT EXISTS on the same fact
    // table — "the supplier solely to blame on shared orders". Catalyst
    // decorrelates both into left-semi and left-anti joins on
    // l_orderkey; neither subquery ever executes per-row.
    Gate("sql_q21_sole_blame", (s, dir) => {
      Tables.supplier(s, dir).createOrReplaceTempView("supplier_b")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_b")
      Tables.orders(s, dir).createOrReplaceTempView("orders_b")
      s.sql(
        """SELECT s_name, count(*) AS numwait
          |FROM supplier_b, lineitem_b l1, orders_b
          |WHERE s_suppkey = l1.l_suppkey
          |  AND o_orderkey = l1.l_orderkey
          |  AND o_orderstatus = 'F'
          |  AND l1.l_returnflag = 'R'
          |  AND EXISTS (SELECT 1 FROM lineitem_b l2
          |              WHERE l2.l_orderkey = l1.l_orderkey
          |                AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (SELECT 1 FROM lineitem_b l3
          |                  WHERE l3.l_orderkey = l1.l_orderkey
          |                    AND l3.l_suppkey <> l1.l_suppkey
          |                    AND l3.l_returnflag = 'R')
          |GROUP BY s_name
          |ORDER BY numwait DESC, s_name
          |LIMIT 20""".stripMargin)
    },
      """SELECT s_name, count(*) AS numwait
        |FROM supplier, lineitem l1, orders
        |WHERE s_suppkey = l1.l_suppkey
        |  AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin),

    // TPC-H q22 shape: uncorrelated scalar subquery (global threshold)
    // + correlated NOT EXISTS — "well-funded customers with no recent
    // orders". DECIMAL threshold on both sides so the boundary
    // comparison is exact in both engines.
    Gate("sql_q22_idle_balance", (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("customer_i")
      Tables.orders(s, dir).createOrReplaceTempView("orders_i")
      s.sql(
        """SELECT c_mktsegment AS segment, count(*) AS numcust,
          |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
          |FROM customer_i
          |WHERE CAST(c_acctbal AS DECIMAL(18,2)) >
          |      (SELECT CAST(avg(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,6))
          |       FROM customer_i WHERE c_acctbal > 0)
          |  AND NOT EXISTS (SELECT 1 FROM orders_i WHERE o_custkey = c_custkey
          |                  AND o_orderdate >= TIMESTAMP '2000-01-01')
          |GROUP BY c_mktsegment
          |ORDER BY segment""".stripMargin)
    },
      """SELECT c_mktsegment AS segment, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) >
        |      (SELECT CAST(avg(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,6))
        |       FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_mktsegment
        |ORDER BY segment""".stripMargin),

    // TPC-H q16 shape: NOT IN subquery (null-safe anti join) + count
    // DISTINCT per group — supplier diversity per (brand, size) after
    // excluding suppliers in arrears.
    Gate("sql_q16_supplier_cnt", (s, dir) => {
      Tables.part(s, dir).createOrReplaceTempView("part_sc")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_sc")
      Tables.supplier(s, dir).createOrReplaceTempView("supplier_sc")
      s.sql(
        """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
          |FROM lineitem_sc JOIN part_sc ON p_partkey = l_partkey
          |WHERE p_brand <> 'Brand#13'
          |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
          |  AND l_suppkey NOT IN
          |      (SELECT s_suppkey FROM supplier_sc WHERE s_acctbal < 0)
          |GROUP BY p_brand, p_size
          |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin)
    },
      """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#13'
        |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        |  AND l_suppkey NOT IN
        |      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin),

    // TPC-H q20 shape: nested IN subqueries with a grouped HAVING
    // threshold inside — "suppliers who moved real volume of the
    // selected parts from a region". Exercises IN→semi-join
    // decorrelation at two nesting levels.
    Gate("sql_q20_volume_suppliers", (s, dir) => {
      Tables.supplier(s, dir).createOrReplaceTempView("supplier_vs")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_vs")
      Tables.part(s, dir).createOrReplaceTempView("part_vs")
      Tables.nation(s, dir).createOrReplaceTempView("nation_vs")
      Tables.region(s, dir).createOrReplaceTempView("region_vs")
      s.sql(
        """SELECT s_name, CAST(round(s_acctbal * 100) AS BIGINT) AS acctbal_cents
          |FROM supplier_vs
          |WHERE s_suppkey IN (
          |    SELECT l_suppkey FROM lineitem_vs
          |    WHERE l_partkey IN
          |        (SELECT p_partkey FROM part_vs WHERE p_name LIKE 'red%')
          |      AND l_shipdate >= TIMESTAMP '1996-01-01'
          |      AND l_shipdate < TIMESTAMP '1998-01-01'
          |    GROUP BY l_suppkey
          |    HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 50)
          |  AND s_nationkey IN (
          |    SELECT n_nationkey FROM nation_vs
          |    WHERE n_regionkey IN
          |        (SELECT r_regionkey FROM region_vs WHERE r_name = 'ASIA'))
          |ORDER BY s_name""".stripMargin)
    },
      """SELECT s_name, CAST(round(s_acctbal * 100) AS BIGINT) AS acctbal_cents
        |FROM supplier
        |WHERE s_suppkey IN (
        |    SELECT l_suppkey FROM lineitem
        |    WHERE l_partkey IN
        |        (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |      AND l_shipdate >= TIMESTAMP '1996-01-01'
        |      AND l_shipdate < TIMESTAMP '1998-01-01'
        |    GROUP BY l_suppkey
        |    HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 50)
        |  AND s_nationkey IN (
        |    SELECT n_nationkey FROM nation
        |    WHERE n_regionkey IN
        |        (SELECT r_regionkey FROM region WHERE r_name = 'ASIA'))
        |ORDER BY s_name""".stripMargin),

    // Recursive CTE (Spark 4 WITH RECURSIVE): ancestry over a synthetic
    // tree on dense customer keys (parent = k div 10, roots = keys 0-9)
    // — every customer reached top-down, per-depth census with id/root
    // sums as the membership checksum. Spark executes the recursion as
    // iterated distributed joins against the previous step's frontier
    // (depth ≤ log10(keyspace), each step one equi-join); only UNION ALL
    // recursion is supported on this runtime, so the recursive member
    // must be acyclic BY CONSTRUCTION: key 0 is its own div-10 parent,
    // and without the `>= 10` guard both engines re-derive it forever
    // (Spark stops at RECURSION_LEVEL_LIMIT; DuckDB just spins).
    // Integer-division SIGN semantics pinned as data: Spark's DIV and
    // DuckDB's // both truncate toward zero, and % follows the
    // dividend's sign — the convention every exact-integer op in this
    // repo leans on (Holt's negative trends found it the hard way);
    // pmod's always-non-negative form is the floor-mod twin. A future
    // engine/version flipping any of these breaks this gate first.
    Gate("sql_intdiv_semantics", (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_idv")
      s.sql(
        """SELECT l_orderkey, l_linenumber,
          |  CAST(l_quantity AS BIGINT) - 25 AS x,
          |  (CAST(l_quantity AS BIGINT) - 25) DIV 7 AS x_div,
          |  (CAST(l_quantity AS BIGINT) - 25) % 7 AS x_mod,
          |  pmod(CAST(l_quantity AS BIGINT) - 25, 7) AS x_pmod
          |FROM lineitem_idv WHERE l_orderkey <= 200
          |ORDER BY l_orderkey, l_linenumber""".stripMargin)
    },
      """SELECT l_orderkey, l_linenumber,
        |  CAST(l_quantity AS BIGINT) - 25 AS x,
        |  (CAST(l_quantity AS BIGINT) - 25) // 7 AS x_div,
        |  (CAST(l_quantity AS BIGINT) - 25) % 7 AS x_mod,
        |  ((CAST(l_quantity AS BIGINT) - 25) % 7 + 7) % 7 AS x_pmod
        |FROM lineitem WHERE l_orderkey <= 200
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // ANSI LATERAL correlated subquery — the "top-N per outer row"
    // form; Catalyst decorrelates the ranked correlated subquery into
    // a keyed window + join instead of rescanning orders per customer.
    // Raw doubles ride through untouched (no aggregation), so the hash
    // is engine-stable without a DECIMAL cast. (The nation-grain
    // sibling under the name sql_lateral_topn silently SHADOWED this
    // map entry for a round — same Map key twice, last one wins; the
    // QueriesSmokeSpec duplicate-key guard now pins the whole class.)
    Gate("sql_lateral_topn_orders", (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("customer_lj")
      Tables.orders(s, dir).createOrReplaceTempView("orders_lj")
      s.sql(
        """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
          |FROM customer_lj c,
          |LATERAL (
          |  SELECT o_orderkey, o_totalprice
          |  FROM orders_lj o WHERE o.o_custkey = c.c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) t
          |WHERE c.c_custkey <= 200
          |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin)
    },
      // Window-form replay (DuckDB also speaks LATERAL, but the window
      // form is the independent phrasing — agreement certifies the
      // decorrelation, not a shared code path).
      """SELECT c_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders WHERE o_custkey <= 200)
        |WHERE rk <= 2
        |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin),

    Gate("sql_recursive_tree", (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("customer_rt")
      s.sql(
        """WITH RECURSIVE chain AS (
          |  SELECT c_custkey AS k, c_custkey AS root, 0 AS depth
          |  FROM customer_rt WHERE c_custkey <= 9
          |  UNION ALL
          |  SELECT c.c_custkey, chain.root, chain.depth + 1
          |  FROM customer_rt c JOIN chain ON c.c_custkey DIV 10 = chain.k
          |  WHERE c.c_custkey >= 10
          |)
          |SELECT depth, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
          |  CAST(sum(root) AS BIGINT) AS sum_root
          |FROM chain GROUP BY depth ORDER BY depth""".stripMargin)
    },
      """WITH RECURSIVE chain AS (
        |  SELECT c_custkey AS k, c_custkey AS root, 0 AS depth
        |  FROM customer WHERE c_custkey <= 9
        |  UNION ALL
        |  SELECT c.c_custkey, chain.root, chain.depth + 1
        |  FROM customer c JOIN chain ON c.c_custkey // 10 = chain.k
        |  WHERE c.c_custkey >= 10
        |)
        |SELECT depth, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(sum(root) AS BIGINT) AS sum_root
        |FROM chain GROUP BY depth ORDER BY depth""".stripMargin),

    // listagg WITHIN GROUP (Spark 4 / ANSI 2023 ordered string agg):
    // deterministic because the per-group order is total.
    Gate("sql_listagg_nations", (s, dir) => {
      Tables.nation(s, dir).createOrReplaceTempView("nation_la")
      Tables.region(s, dir).createOrReplaceTempView("region_la")
      s.sql(
        """SELECT r_name, listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations
          |FROM nation_la JOIN region_la ON n_regionkey = r_regionkey
          |GROUP BY r_name ORDER BY r_name""".stripMargin)
    },
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin),

    // Correlated LATERAL subquery with ORDER BY + LIMIT — per-nation
    // top-2 customers. The lateral decorrelates to a window-style
    // group-limit, not per-row subquery execution.
    Gate("sql_lateral_topn", (s, dir) => {
      Tables.nation(s, dir).createOrReplaceTempView("nation_lt")
      Tables.customer(s, dir).createOrReplaceTempView("customer_lt")
      s.sql(
        """SELECT n_name, c.c_custkey,
          |  CAST(round(c.c_acctbal * 100) AS BIGINT) AS acctbal_cents
          |FROM nation_lt, LATERAL (
          |  SELECT c_custkey, c_acctbal
          |  FROM customer_lt
          |  WHERE c_nationkey = n_nationkey
          |  ORDER BY c_acctbal DESC, c_custkey
          |  LIMIT 2) c
          |ORDER BY n_name, c_acctbal DESC, c_custkey""".stripMargin)
    },
      """SELECT n_name, c.c_custkey,
        |  CAST(round(c.c_acctbal * 100) AS BIGINT) AS acctbal_cents
        |FROM nation, LATERAL (
        |  SELECT c_custkey, c_acctbal
        |  FROM customer
        |  WHERE c_nationkey = n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey
        |  LIMIT 2) c
        |ORDER BY n_name, c_acctbal DESC, c_custkey""".stripMargin),

    // Partial-aggregate maintenance (ops.Reagg): daily partials per
    // event type folded into MONTHLY aggregates without re-touching raw
    // facts. The oracle aggregates raw events directly at month grain —
    // equality proves the partials are correctly reaggregable (and that
    // avg is derived from merged sum÷count, never avg-of-avgs).
    // Market-basket pair lift at brand grain (which brands co-occur in
    // an order beyond what popularity predicts) — exact integer lift
    // micros, Apriori minSupport floor, hub-style basket cap. Brand
    // grain keeps supports meaningful at every SF where raw-part pairs
    // would be near-singletons.
    Gate("agg_basket_lift", (s, dir) => {
      val baskets = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("bk"), col("p_brand").as("it"))
      graft.ops.Reagg.basketLift(baskets, "bk", "it", minSupport = 5)
        .orderBy("a", "b")
    },
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS bk, p_brand AS it
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |sz AS (SELECT bk FROM li GROUP BY bk HAVING count(*) <= 1000),
        |s AS MATERIALIZED (SELECT li.bk, li.it FROM li JOIN sz USING (bk)),
        |nb AS (SELECT count(DISTINCT bk) AS n FROM s),
        |ic AS (SELECT it, count(*) AS c FROM s GROUP BY 1),
        |p AS (
        |  SELECT s1.it AS a, s2.it AS b, count(*) AS pair_n
        |  FROM s s1 JOIN s s2 ON s1.bk = s2.bk AND s1.it < s2.it
        |  GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT p.a, p.b, CAST(pair_n AS BIGINT) AS pair_n,
        |  CAST((pair_n * n * 1000000) // (ca.c * cb.c) AS BIGINT) AS lift_micro
        |FROM p
        |JOIN ic ca ON ca.it = p.a
        |JOIN ic cb ON cb.it = p.b
        |CROSS JOIN nb
        |ORDER BY a, b""".stripMargin),

    // ABC / Pareto classification of customers by revenue: cumulative
    // share through the distributed prefix-sum (range exchange + O(P)
    // driver rows — never a single-reducer window), class verdicts as
    // exact integer cross-multiplications on cents; the oracle's
    // window-form replay certifies the cut boundaries inclusively.
    Gate("agg_abc_customers", (s, dir) => {
      graft.ops.Reagg.abcClasses(Tables.orders(s, dir), "o_custkey",
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .orderBy("o_custkey")
    },
      """WITH per AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |         AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |t AS (SELECT sum(v) AS tt FROM per),
        |r AS (
        |  SELECT o_custkey, v,
        |    sum(v) OVER (ORDER BY v DESC, o_custkey
        |                 ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM per)
        |SELECT o_custkey, v AS value, CAST(cum AS BIGINT) AS cum_value,
        |  CASE WHEN cum * 100 <= tt * 80 THEN 'A'
        |       WHEN cum * 100 <= tt * 95 THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM r, t ORDER BY o_custkey""".stripMargin),

    // RFM segmentation (Reagg.rfmSegments) — recency/frequency/monetary
    // quintile scores per customer, each from the distributed-ntile
    // prefix-sum family (three range exchanges at CUSTOMER grain; the
    // fact table aggregates once; no global Window). All three measures
    // are exact integers (timestamp, count, cents), orders are total
    // with the custkey tie-break, so the ANSI-NTILE window replay
    // matches cell-for-cell including the segment code.
    Gate("agg_rfm_segments", (s, dir) => {
      graft.ops.Reagg.rfmSegments(
          Tables.orders(s, dir).select(col("o_custkey"), col("o_orderdate"),
            expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
              .as("cents")),
          "o_custkey", "o_orderdate", col("cents"))
        .orderBy("o_custkey")
    },
      """WITH base AS (
        |  SELECT o_custkey, max(CAST(o_orderdate AS TIMESTAMP)) AS last_date,
        |    count(*) AS frequency,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |         AS BIGINT) AS monetary_cents
        |  FROM orders GROUP BY 1),
        |s AS (
        |  SELECT o_custkey,
        |    ntile(5) OVER (ORDER BY last_date DESC, o_custkey) AS r,
        |    ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f,
        |    ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m
        |  FROM base)
        |SELECT base.o_custkey, base.last_date, base.frequency,
        |  base.monetary_cents,
        |  CAST(s.r AS BIGINT) AS r_score, CAST(s.f AS BIGINT) AS f_score,
        |  CAST(s.m AS BIGINT) AS m_score,
        |  CAST(s.r * 100 + s.f * 10 + s.m AS BIGINT) AS rfm_code
        |FROM base JOIN s USING (o_custkey) ORDER BY o_custkey""".stripMargin),

    Gate("agg_reaggregate_monthly", (s, dir) => {
      val ev = Tables.events(s, dir)
      val daily = Reagg.partials(ev, Seq("event_type"), to_date(col("ts")), col("value"))
      Reagg.mergeToCoarser(daily, Seq("event_type"), date_trunc("month", col("bucket")))
        .select(col("bucket").as("month_start"), col("event_type"),
          col("n"), col("total").cast("double").as("total"),
          col("mn"), col("mx"),
          round(col("total").cast("double") / col("n"), 6).as("avg_v"))
        .orderBy("month_start", "event_type")
    },
      """SELECT CAST(date_trunc('month', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS month_start,
        |  event_type, count(value) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  min(value) AS mn, max(value) AS mx,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value), 6) AS avg_v
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Forward as-of join: each signup matched to the user's NEXT
    // purchase at-or-after it (conversion latency) — the mirror of
    // asof_click_attribution's backward direction. Equi-join + min_by
    // hash agg; no window sort.
    Gate("asof_forward_conversion", (s, dir) => {
      val ev = Tables.events(s, dir)
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("user_id"), col("ts").as("signup_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      graft.ops.AsOf.joinAsOfForward(signups, purchases, "user_id",
          "signup_ts", "p_ts", "signup_id", Seq("p_id"))
        .select(col("signup_id"), col("user_id"), col("signup_ts"),
          col("asof_p_ts").as("next_purchase_ts"),
          col("asof_p_id").as("next_purchase_id"))
        .orderBy("signup_id")
    },
      """WITH s AS (
        |  SELECT event_id AS signup_id, user_id, ts AS signup_ts
        |  FROM events WHERE event_type = 'signup'),
        |p AS (
        |  SELECT user_id, ts AS p_ts, event_id AS p_id
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (
        |  SELECT s.signup_id, s.user_id, s.signup_ts,
        |    min(p.p_ts) AS next_purchase_ts
        |  FROM s JOIN p ON s.user_id = p.user_id AND p.p_ts >= s.signup_ts
        |  GROUP BY 1, 2, 3)
        |SELECT t.signup_id, t.user_id, t.signup_ts, t.next_purchase_ts,
        |  min(p.p_id) AS next_purchase_id
        |FROM t JOIN p ON t.user_id = p.user_id AND p.p_ts = t.next_purchase_ts
        |GROUP BY 1, 2, 3, 4
        |ORDER BY t.signup_id""".stripMargin),

    // Share-of-total (ratio_to_report) WITHOUT a global window: a
    // one-partition `sum() OVER ()` is the classic scale trap; the
    // scale-safe form is two hash aggs + a one-row broadcast.
    Gate("agg_share_of_total", (s, dir) => {
      val rev = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      val total = rev.agg(sum(col("rev")).as("_tot"))
      rev.crossJoin(broadcast(total))
        .select(col("o_orderpriority"),
          col("rev").cast("double").as("revenue"),
          round(col("rev").cast("double") / col("_tot").cast("double"), 6).as("share"))
        .orderBy("o_orderpriority")
    },
      """WITH r AS (
        |  SELECT o_orderpriority,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(rev) AS DOUBLE) AS tot FROM r)
        |SELECT o_orderpriority, CAST(rev AS DOUBLE) AS revenue,
        |  round(CAST(rev AS DOUBLE) / tot, 6) AS share
        |FROM r, t ORDER BY o_orderpriority""".stripMargin),

    // Bounded top-k per group via the typed Aggregator (ops.TopK) —
    // the O(k)-buffer, map-side-combining alternative to window+rank:
    // the shuffle carries at most k rows per group per map partition
    // instead of every row. Oracle is the window row_number form —
    // equality proves the ordering contract (score desc, id asc).
    Gate("window_topk_typed", (s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(graft.ops.TopK.topK(3)(col("o_totalprice"), col("o_orderkey")).as("_t"))
        .select(col("o_custkey"), posexplode(col("_t")).as(Seq("_rk0", "_e")))
        .select(col("o_custkey"), (col("_rk0") + 1).cast("long").as("rk"),
          col("_e._2").as("o_orderkey"), col("_e._1").as("price"))
        .orderBy("o_custkey", "rk")
    },
      """WITH r AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders)
        |SELECT o_custkey, rk, o_orderkey, o_totalprice AS price
        |FROM r WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin),

    // Bloom-filter semi-join: lineitems of suppliers in arrears. The
    // filter side folds to a 128 KiB bit array (distributed bit_or,
    // collected at O(bits)); fact rows are pruned scan-side by pure
    // codegen'd probe expressions BEFORE the exact semi-join removes
    // the false positives — result equals the plain semi-join oracle
    // row-for-row.
    Gate("join_bloom_semi", (s, dir) => {
      val arrears = Tables.supplier(s, dir)
        .filter(col("s_acctbal") < 1000).select(col("s_suppkey"))
      graft.ops.Bloom.bloomSemiJoin(
          Tables.lineitem(s, dir), arrears, "l_suppkey", "s_suppkey")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"))
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber, l_suppkey
        |FROM lineitem
        |WHERE l_suppkey IN
        |  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // Second-order statistics (stddev, Pearson corr of value vs epoch
    // day) computed FROM EXACT MOMENTS — decimal/integer sums first,
    // doubles only in the final closed-form combination. Spark's
    // native corr()/stddev() accumulate doubles in partition order and
    // flap in the last ulps across runs; exact moments are the
    // deterministic (and mergeable, Reagg-style) form at any scale.
    Gate("agg_stats_moments", (s, dir) => {
      val x = expr("unix_micros(ts) div 86400000000").cast("long")
      val y = col("value").cast("decimal(18,2)")
      val m = Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(y).as("sy"), sum(y * y).as("syy"),
          sum(x).as("sx"), sum(x * x).as("sxx"),
          sum(y * x).as("sxy"))
      val nD = col("n").cast("double")
      val (syD, syyD, sxD, sxxD, sxyD) =
        (col("sy").cast("double"), col("syy").cast("double"),
          col("sx").cast("double"), col("sxx").cast("double"),
          col("sxy").cast("double"))
      m.select(col("event_type"), col("n"),
        round(syD / nD, 6).as("mean_v"),
        round(sqrt((nD * syyD - syD * syD) / (nD * (nD - 1))), 6).as("sd_v"),
        round((nD * sxyD - sxD * syD) /
          sqrt((nD * sxxD - sxD * sxD) * (nD * syyD - syD * syD)), 6).as("corr_day"))
        .orderBy("event_type")
    },
      """WITH m AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(CAST(value AS DECIMAL(18,2))) AS sy,
        |    sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS syy,
        |    sum(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS sx,
        |    sum((epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000)
        |      * (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000)) AS sxx,
        |    sum(CAST(value AS DECIMAL(18,2))
        |      * (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000)) AS sxy
        |  FROM events GROUP BY 1)
        |SELECT event_type, n,
        |  round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_v,
        |  round(sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))), 6) AS sd_v,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS corr_day
        |FROM m ORDER BY event_type""".stripMargin),

    // Interval-overlap join (two-sided): per-user click windows vs view
    // windows (each event ±30 min wide... here [ts, ts+30m]) that
    // overlap. Bucketized equi-join — NOT a theta join: candidates come
    // from shared 10-min time buckets, each pair emitted from the
    // overlap's first bucket only (duplicate-free without distinct).
    // The oracle runs the plain theta join; equality proves the
    // bucketization is exact.
    Gate("interval_overlap_clicks", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t0"))
        .withColumn("t1", col("t0") + lit(1800000000L))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("t0"), col("t1"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("t0"), col("t1"))
      graft.ops.AsOf.intervalOverlapJoin(clicks, views, "user_id",
          "t0", "t1", "t0", "t1", bucketWidth = 600000000L)
        .select(col("click_id"), col("r_view_id").as("view_id"))
        .orderBy("click_id", "view_id")
    },
      """SELECT l.event_id AS click_id, r.event_id AS view_id
        |FROM events l JOIN events r ON l.user_id = r.user_id
        |WHERE l.event_type = 'click' AND r.event_type = 'view'
        |  AND l.ts <= r.ts + INTERVAL 30 MINUTE
        |  AND r.ts <= l.ts + INTERVAL 30 MINUTE
        |ORDER BY click_id, view_id""".stripMargin),

    // Higher-order array functions (transform/aggregate) over the
    // embedding column — the declarative form of the similarity math.
    // Hot paths use the codegen kernels (expr.DotProductFloat et al.,
    // HOF lambdas are CodegenFallback); this query keeps the HOF
    // surface itself covered. Double-cast before any arithmetic and
    // sequential folds on both engines keep the sums bit-stable.
    Gate("array_hof_norms", (s, dir) => {
      val sq = transform(col("embedding"),
        v => v.cast("double") * v.cast("double"))
      Tables.embeddings(s, dir).select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        round(sqrt(aggregate(sq, lit(0.0), (acc, v) => acc + v)), 5).as("l2_norm"),
        round(aggregate(col("embedding"), lit(0.0),
          (acc, v) => acc + v.cast("double")), 5).as("sum_v"))
        .orderBy("vec_id")
    },
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |  round(sqrt(list_sum(list_transform(embedding,
        |    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))), 5) AS l2_norm,
        |  round(list_sum(list_transform(embedding,
        |    v -> CAST(v AS DOUBLE))), 5) AS sum_v
        |FROM embeddings ORDER BY vec_id""".stripMargin),

    // Z-order (Morton) interleave of two key dimensions — the z-value
    // that ops.Layout.zOrder2 range-partitions and sorts by. Gated
    // bit-for-bit against the oracle's unrolled shift/mask cascade; the
    // layout/pruning behavior itself is asserted in LayoutSpec.
    Gate("layout_zorder_values", (s, dir) => {
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          Layout.zValue2(col("l_partkey"), col("l_suppkey")).as("zval"))
        .orderBy("l_orderkey", "l_linenumber")
    },
      """WITH c0 AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(l_partkey AS BIGINT) & 4294967295 AS x,
        |    CAST(l_suppkey AS BIGINT) & 4294967295 AS y
        |  FROM lineitem),
        |c1 AS (SELECT l_orderkey, l_linenumber,
        |  (x | (x << 16)) & 281470681808895 AS x, (y | (y << 16)) & 281470681808895 AS y FROM c0),
        |c2 AS (SELECT l_orderkey, l_linenumber,
        |  (x | (x << 8)) & 71777214294589695 AS x, (y | (y << 8)) & 71777214294589695 AS y FROM c1),
        |c3 AS (SELECT l_orderkey, l_linenumber,
        |  (x | (x << 4)) & 1085102592571150095 AS x, (y | (y << 4)) & 1085102592571150095 AS y FROM c2),
        |c4 AS (SELECT l_orderkey, l_linenumber,
        |  (x | (x << 2)) & 3689348814741910323 AS x, (y | (y << 2)) & 3689348814741910323 AS y FROM c3),
        |c5 AS (SELECT l_orderkey, l_linenumber,
        |  (x | (x << 1)) & 6148914691236517205 AS x, (y | (y << 1)) & 6148914691236517205 AS y FROM c4)
        |SELECT l_orderkey, l_linenumber, x | (y << 1) AS zval
        |FROM c5 ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // Zone-map data skipping — the min/max footer-stats + prune
    // decision every lakehouse reader runs, certified END TO END on
    // two layouts of the SAME rows: insertion order (files by
    // o_orderkey block — each file spans the whole date range, nothing
    // prunes) vs date-clustered (files by 30-day bucket — a 6-month
    // range predicate prunes ~93% of files). The contrast IS the
    // lesson: skipping effectiveness is a property of layout, not of
    // stats (the z-order/Hilbert ops exist to manufacture it). Stats
    // are one hash agg at file grain — O(files) metadata, the frame a
    // planner broadcasts to prune a 100 TB scan.
    Gate("storage_zonemap_pruning", (s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        expr("datediff(to_date(o_orderdate), DATE'1970-01-01')")
          .cast("long").as("day"))
      def layoutStats(tag: String, fid: org.apache.spark.sql.Column) =
        Layout.pruneRange(Layout.zoneMap(o, fid, col("day")),
            expr("datediff(DATE'1998-01-01', DATE'1970-01-01')"),
            expr("datediff(DATE'1998-06-30', DATE'1970-01-01')"))
          .withColumn("layout", lit(tag))
      layoutStats("insertion", expr("o_orderkey div 100"))
        .unionByName(layoutStats("date_clustered", expr("day div 30")))
        .select("layout", "file_id", "f_min", "f_max", "n_rows",
          "n_nulls", "pruned")
        .orderBy("layout", "file_id")
    },
      // Pure metadata replay: the same two file assignments, min/max
      // stats at file grain, and the identical prune inequality.
      """WITH o AS (
        |  SELECT o_orderkey,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS BIGINT) AS day
        |  FROM orders),
        |b AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01', DATE '1998-01-01')
        |           AS BIGINT) AS lo,
        |         CAST(date_diff('day', DATE '1970-01-01', DATE '1998-06-30')
        |           AS BIGINT) AS hi),
        |s AS (
        |  SELECT 'insertion' AS layout, o_orderkey // 100 AS file_id,
        |    min(day) AS f_min, max(day) AS f_max, count(*) AS n_rows,
        |    count(*) FILTER (WHERE day IS NULL) AS n_nulls
        |  FROM o GROUP BY 2
        |  UNION ALL
        |  SELECT 'date_clustered', day // 30,
        |    min(day), max(day), count(*),
        |    count(*) FILTER (WHERE day IS NULL)
        |  FROM o GROUP BY 2)
        |SELECT layout, file_id, f_min, f_max, n_rows, n_nulls,
        |  (n_nulls = n_rows OR f_max < lo OR f_min > hi) AS pruned
        |FROM s, b ORDER BY layout, file_id""".stripMargin),

    // Column-encoding advisor — the compression half of ANALYZE: per
    // synthetic file, PLAIN vs DICTIONARY vs RLE by exact integer cost
    // model (bits = len(bin(distinct−1)), runs counted in the DECLARED
    // physical order — encoding wins are a property of order, which is
    // why the layout family exists). Two columns with opposite
    // outcomes: 3-distinct l_returnflag dictionary-encodes ~8×
    // smaller; high-cardinality l_suppkey stays plain/dict marginal.
    Gate("storage_encoding_advisor", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      def adv(tag: String, v: org.apache.spark.sql.Column, bytes: Int) =
        Layout.encodingAdvisor(li, expr("l_orderkey div 1000"), v,
            // (okey, lineno) is NOT unique in this fixture — appending
            // the value itself makes run counts order-deterministic
            // (rows tied on the full key are interchangeable)
            Seq(col("l_orderkey"), col("l_linenumber"), v), bytes)
          .withColumn("column_name", lit(tag))
      adv("l_returnflag", col("l_returnflag"), 1)
        .unionByName(adv("l_suppkey", col("l_suppkey"), 8))
        .select("column_name", "file_id", "n_values", "n_distinct",
          "n_runs", "est_plain", "est_dict", "est_rle", "best_encoding")
        .orderBy("column_name", "file_id")
    },
      """WITH r1 AS (
        |  SELECT l_orderkey // 1000 AS file_id, l_returnflag AS v,
        |    CASE WHEN lag(l_returnflag) OVER
        |        (PARTITION BY l_orderkey // 1000
        |         ORDER BY l_orderkey, l_linenumber, l_returnflag)
        |      IS DISTINCT FROM l_returnflag THEN 1 ELSE 0 END AS chg
        |  FROM lineitem),
        |a1 AS (SELECT file_id, count(*) AS n, count(DISTINCT v) AS nd,
        |  sum(chg) AS runs FROM r1 GROUP BY 1),
        |r2 AS (
        |  SELECT l_orderkey // 1000 AS file_id, l_suppkey AS v,
        |    CASE WHEN lag(l_suppkey) OVER
        |        (PARTITION BY l_orderkey // 1000
        |         ORDER BY l_orderkey, l_linenumber, l_suppkey)
        |      IS DISTINCT FROM l_suppkey THEN 1 ELSE 0 END AS chg
        |  FROM lineitem),
        |a2 AS (SELECT file_id, count(*) AS n, count(DISTINCT v) AS nd,
        |  sum(chg) AS runs FROM r2 GROUP BY 1),
        |u AS (
        |  SELECT 'l_returnflag' AS column_name, file_id, n, nd, runs,
        |    1 AS b FROM a1
        |  UNION ALL
        |  SELECT 'l_suppkey', file_id, n, nd, runs, 8 FROM a2),
        |f AS (
        |  SELECT column_name, file_id, n, nd, runs,
        |    n * b AS est_plain,
        |    nd * b + (n * (CASE WHEN nd <= 1 THEN 1
        |      ELSE length(bin(nd - 1)) END) + 7) // 8 AS est_dict,
        |    runs * (b + 4) AS est_rle
        |  FROM u)
        |SELECT column_name, file_id, n AS n_values, nd AS n_distinct,
        |  CAST(runs AS BIGINT) AS n_runs,
        |  CAST(est_plain AS BIGINT) AS est_plain,
        |  CAST(est_dict AS BIGINT) AS est_dict,
        |  CAST(est_rle AS BIGINT) AS est_rle,
        |  CASE WHEN est_rle < est_dict AND est_rle < est_plain THEN 'rle'
        |       WHEN est_dict < est_plain THEN 'dict'
        |       ELSE 'plain' END AS best_encoding
        |FROM f ORDER BY column_name, file_id""".stripMargin),

    // Spatial radius self-join via grid bucketing: all customer pairs
    // within 20 000 fixed-point units on a formula-planted 1e6×1e6
    // plane — 3×3 cell replication + hash join on cell id, candidate
    // work density-bounded (never n²), positional de-dup (a pair
    // survives only from the replica-a/home-b match with a<b). Exact
    // squared-integer distance; the oracle replays as a band-predicate
    // inequality join over the same planted coordinates.
    Gate("geo_radius_join", (s, dir) => {
      // full table at driver scales; deterministic 1/16 id-hash sample
      // past 50k customers (sf1.0) where the ORACLE's band IEJoin is
      // quadratic — the engine's grid join itself stays density-bounded
      val pts = scaleSubset(Tables.customer(s, dir), col("c_custkey"),
          50000L)
        .select(col("c_custkey"),
          expr("(c_custkey * c_custkey * 7919 + c_custkey * 104729) % 1000000").as("px"),
          expr("(c_custkey * c_custkey * 104729 + c_custkey * 7919) % 1000000").as("py"))
      graft.ops.Geo.radiusJoin(pts, "c_custkey", col("px"), col("py"),
          radius = 20000L)
        .orderBy("id_a", "id_b")
    },
      // Band-predicate inequality join (DuckDB IEJoin) over the same
      // planted plane — an independent route to the identical pair set.
      // Scale-adaptive subset mirrors the engine's scaleSubset exactly
      // (the band IEJoin is what cannot complete at sf1.0).
      s"""WITH p AS (
        |  SELECT c_custkey AS id,
        |    (c_custkey * c_custkey * 7919 + c_custkey * 104729) % 1000000 AS x,
        |    (c_custkey * c_custkey * 104729 + c_custkey * 7919) % 1000000 AS y
        |  FROM customer
        |${scaleSubsetSql("customer", "c_custkey", 50000L)})
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |    AS BIGINT) AS dist2
        |FROM p a JOIN p b
        |  ON a.id < b.id
        | AND b.x BETWEEN a.x - 20000 AND a.x + 20000
        | AND b.y BETWEEN a.y - 20000 AND a.y + 20000
        |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |  <= 400000000
        |ORDER BY id_a, id_b""".stripMargin),

    // Grid occupancy census over the same planted plane (100k cells →
    // a 10×10 grid): the histogram that sizes the radius join's
    // per-cell fan-out and drives hot-cell pre-split decisions.
    Gate("geo_cell_census", (s, dir) => {
      val pts = Tables.customer(s, dir).select(
        expr("(c_custkey * c_custkey * 7919 + c_custkey * 104729) % 1000000").as("px"),
        expr("(c_custkey * c_custkey * 104729 + c_custkey * 7919) % 1000000").as("py"))
      graft.ops.Geo.cellCensus(pts, col("px"), col("py"), cellSize = 100000L)
        .orderBy("cell_x", "cell_y")
    },
      """SELECT ((c_custkey * c_custkey * 7919 + c_custkey * 104729) % 1000000)
        |    // 100000 AS cell_x,
        |  ((c_custkey * c_custkey * 104729 + c_custkey * 7919) % 1000000)
        |    // 100000 AS cell_y,
        |  count(*) AS n_points
        |FROM customer GROUP BY 1, 2 ORDER BY cell_x, cell_y""".stripMargin),

    // Cartesian product (tiny×tiny only — a guarded operator, never the
    // scale path): unordered region pairs.
    Gate("cross_join_region_pairs", (s, dir) => {
      val a = Tables.region(s, dir).select(col("r_regionkey").as("ka"), col("r_name").as("r1"))
      val b = Tables.region(s, dir).select(col("r_regionkey").as("kb"), col("r_name").as("r2"))
      a.crossJoin(b).filter(col("ka") < col("kb"))
        .select(col("r1"), col("r2")).orderBy("r1", "r2")
    },
      """SELECT a.r_name AS r1, b.r_name AS r2
        |FROM region a CROSS JOIN region b
        |WHERE a.r_regionkey < b.r_regionkey
        |ORDER BY r1, r2""".stripMargin),

    // Physical join-strategy control: force shuffle-hash (vs default
    // sort-merge) for the large-large join — no per-partition sort, the
    // right choice when neither side fits a broadcast but one hashes.
    Gate("join_hint_shuffle_hash", (s, dir) => {
      val o = Tables.orders(s, dir).hint("shuffle_hash")
      statusRollup(
        Tables.lineitem(s, dir).join(o, col("l_orderkey") === col("o_orderkey")))
    },
      statusRollupOracle),

    // Equi-depth histogram without a global sort: decile boundaries of
    // order totals from the distributed ntile (prefix-sum rank), then a
    // per-bucket census — the profiling shape for partition/range design
    // at scale. Cents keep the gate integer-exact.
    Gate("agg_equidepth_hist", (s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      graft.ops.Packing.ntileOrdered(o,
          Seq(col("cents").asc, col("o_orderkey").asc), 10)
        .groupBy("bucket").agg(count(lit(1)).as("n"),
          min("cents").as("lo"), max("cents").as("hi"))
        .orderBy("bucket")
    },
      """WITH t AS (
        |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |b AS (
        |  SELECT cents,
        |    CAST(ntile(10) OVER (ORDER BY cents, o_orderkey) AS BIGINT) AS bucket
        |  FROM t)
        |SELECT bucket, count(*) AS n, min(cents) AS lo, max(cents) AS hi
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),

    // Deterministic MODE per group: most frequent order priority per
    // status, ties broken toward the smallest value — min_by over the
    // (-count, value) struct, one extra hash agg over the count table
    // (never a sort). Spark's own mode() is tie-nondeterministic; this
    // is the engine-portable form.
    Gate("agg_mode_priority", (s, dir) => {
      val counts = Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
      counts.groupBy(col("o_orderstatus"))
        .agg(min_by(col("o_orderpriority"),
            struct((-col("cnt")).as("a"), col("o_orderpriority").as("b")))
          .as("mode_priority"),
          max(col("cnt")).as("mode_n"))
        .orderBy("o_orderstatus")
    },
      """WITH c AS (
        |  SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |r AS (
        |  SELECT o_orderstatus, o_orderpriority, cnt,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY cnt DESC, o_orderpriority) AS rk
        |  FROM c)
        |SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt AS mode_n
        |FROM r WHERE rk = 1 ORDER BY o_orderstatus""".stripMargin),

    // Distributed ntile/percent_rank/cume_dist — the SCALE form of
    // window_ntile_deciles' documented quantile-bucket path: global rank
    // from the weight-1 two-phase prefix sum (one range exchange), ANSI
    // NTILE reproduced in integer arithmetic from (rank, n) — the
    // single-reducer global Window never exists.
    Gate("window_ntile_distributed", (s, dir) => {
      graft.ops.Packing.ntileOrdered(
          Tables.customer(s, dir).select(col("c_custkey"), col("c_acctbal")),
          Seq(col("c_acctbal").desc, col("c_custkey").asc), 10)
        .select(col("c_custkey"), col("rank"), col("bucket"),
          col("pct_rank"), col("cume_dist"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey,
        |  CAST(row_number() OVER w AS BIGINT) AS rank,
        |  CAST(ntile(10) OVER w AS BIGINT) AS bucket,
        |  round(percent_rank() OVER w, 9) AS pct_rank,
        |  round(cume_dist() OVER w, 9) AS cume_dist
        |FROM customer
        |WINDOW w AS (ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_custkey""".stripMargin),

    Gate("agg_entropy_gini", (s, dir) => {
      graft.ops.Eval.categoricalDiversity(Tables.events(s, dir),
          "user_id", "event_type")
        .orderBy("user_id")
    },
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT user_id, sum(c) AS n, count(*) AS n_cats, sum(c * c) AS ss
        |  FROM c GROUP BY 1),
        |j AS (
        |  SELECT c.user_id,
        |    CAST(floor(-1000000.0 * (CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE))
        |      * ln(CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE))) AS BIGINT) AS term,
        |    t.n, t.n_cats, t.ss
        |  FROM c JOIN t USING (user_id))
        |SELECT user_id, CAST(min(n) AS BIGINT) AS n,
        |  CAST(min(n_cats) AS BIGINT) AS n_cats,
        |  CAST(sum(term) AS BIGINT) AS entropy_micro,
        |  CAST(((min(n) * min(n) - min(ss)) * 1000000) // (min(n) * min(n))
        |       AS BIGINT) AS gini_micro
        |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Time-based RANGE window frame: 7-day trailing revenue per customer.
    // The frame is value-based (epoch-day ± 6), not row-based — same-day
    // peers are all in-frame, so the result is order-independent and the
    // decimal frame sum is exact.
    Gate("window_range_rolling", (s, dir) => {
      val epochDay = datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(epochDay)
        .rangeBetween(-6, 0)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          sum(dec(col("o_totalprice"))).over(w).cast("double").as("rev_7d"),
          count(lit(1)).over(w).as("n_7d"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey, o_orderdate,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS rev_7d,
        | count(*) OVER w AS n_7d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // Distribution ranking: ntile deciles + percent_rank/cume_dist over
    // account balance. ntile is tie-broken by key for a total order;
    // percent_rank/cume_dist rank over the raw value (rank-based, so
    // ties are deterministic). NB: a global ORDER BY window is a single-
    // reducer construct — at 100 TB the scalable form is quantile
    // bucketing (approx_percentile cutpoints or Packing's two-phase
    // prefix sum); this query exists for the operator surface.
    Gate("window_ntile_deciles", (s, dir) => {
      val wOrd = Window.orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      val wRank = Window.orderBy(col("c_acctbal").asc)
      Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_acctbal"),
          ntile(10).over(wOrd).cast("long").as("decile"),
          round(percent_rank().over(wRank), 9).as("pct_rank"),
          round(cume_dist().over(wRank), 9).as("cume"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_acctbal,
        | CAST(ntile(10) OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS BIGINT) AS decile,
        | round(percent_rank() OVER (ORDER BY c_acctbal ASC), 9) AS pct_rank,
        | round(cume_dist() OVER (ORDER BY c_acctbal ASC), 9) AS cume
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // Weighted percentile-disc per language: the doc length at which
    // half (and 90%) of the TOKEN MASS sits — the curation statistic
    // when rows carry unequal weight. Exact integer rule 100·cumW ≥
    // p·W over the value-grain cumulative weight; the window runs on
    // the COLLAPSED (lang, n_chars) frame, never row grain.
    Gate("agg_weighted_median", (s, dir) => {
      graft.ops.DataQuality.weightedPercentiles(
          Tables.documents(s, dir), "lang", col("n_chars"),
          TextAnalysis.tokenCount(col("text")), Seq(50, 90))
        .orderBy("lang")
    },
      """WITH g AS (
        |  SELECT lang, n_chars AS v,
        |    sum(CAST(len(string_split_regex(text, '\s+')) AS BIGINT)) AS gw
        |  FROM documents GROUP BY 1, 2),
        |c AS (
        |  SELECT lang, v, gw,
        |    sum(gw) OVER (PARTITION BY lang ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cumw
        |  FROM g),
        |t AS (SELECT lang, sum(gw) AS tw FROM g GROUP BY 1)
        |SELECT c.lang, CAST(min(t.tw) AS BIGINT) AS total_weight,
        |  min(CASE WHEN cumw * 100 >= tw * 50 THEN v END) AS p50_value,
        |  min(CASE WHEN cumw * 100 >= tw * 90 THEN v END) AS p90_value
        |FROM c JOIN t ON c.lang = t.lang
        |GROUP BY c.lang ORDER BY c.lang""".stripMargin),

    // Trailing 7-day variance NUMERATOR per priority — rolling-σ
    // anomaly primitive with zero doubles: n·Σx²−(Σx)² as exact
    // BIGINTs over a key-partitioned RANGE frame at daily grain
    // (calendar-bounded — the seasonal-decompose safety argument).
    Gate("window_rolling_variance", (s, dir) => {
      // WHOLE-DOLLAR grain (floored — Spark's decimal→long cast
      // truncates but DuckDB's ROUNDS, so the floor is explicit on
      // both sides): cents daily sums overflowed the BIGINT x² at
      // sf0.1; dollars keep the exact numerator in range to ~sf30,
      // past which rollingMoments aborts loudly by contract
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"),
          expr("CAST(datediff(to_date(o_orderdate), DATE'1970-01-01') AS BIGINT)")
            .as("day_num"))
        .agg(sum(expr(
          "CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,2))) AS BIGINT)"))
          .as("v_dollars"))
      graft.ops.TimeSeries.rollingMoments(daily, "o_orderpriority",
          "day_num", "v_dollars", windowDays = 7)
        .orderBy("o_orderpriority", "day_num")
    },
      """WITH daily AS (
        |  SELECT o_orderpriority,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS BIGINT) AS day_num,
        |    sum(CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,2))) AS BIGINT))
        |      AS v_dollars
        |  FROM orders GROUP BY 1, 2),
        |w AS (
        |  SELECT o_orderpriority, day_num, v_dollars,
        |    count(v_dollars) OVER fr AS n_w,
        |    sum(v_dollars) OVER fr AS sum_w,
        |    sum(v_dollars * v_dollars) OVER fr AS ss
        |  FROM daily
        |  WINDOW fr AS (PARTITION BY o_orderpriority ORDER BY day_num
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT o_orderpriority, day_num,
        |  CAST(v_dollars AS BIGINT) AS v_dollars,
        |  CAST(n_w AS BIGINT) AS n_w, CAST(sum_w AS BIGINT) AS sum_w,
        |  CAST(n_w * ss - sum_w * sum_w AS BIGINT) AS var_num
        |FROM w ORDER BY o_orderpriority, day_num""".stripMargin),

    // Time series — sliding-window agg in batch mode (2h window, 1h
    // slide): each row replicates into 2 windows map-side, then a plain
    // hash aggregate; the exact expression Structured Streaming plans.
    Gate("window_sliding_batch", (s, dir) => {
      graft.ops.TimeSeries.withSlidingWindow(
          Tables.events(s, dir), "ts", "2 hours", "1 hour")
        .groupBy(col("window_start"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("sum_v"))
        .orderBy("window_start", "event_type")
    },
      """SELECT ws AS window_start, event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM (SELECT unnest([date_trunc('hour', ts),
        |                    date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws,
        |             event_type, value
        |      FROM events) t
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Skew — salted join must equal the plain join (the oracle runs the
    // plain form): lineitem fact salted, orders dim exploded ×8.
    // X15 — census-driven salted join. autoSaltedJoin sizes the salt
    // from the Misra-Gries heavy-hitter census so the largest salted
    // partition fits the per-task row budget; on THIS fixture (TPC-H
    // orders: ≤ 7 lines each, no pathological key) the census finds no
    // hot key and the op degrades to exactly a plain join — zero dim
    // inflation, zero extra shuffle. The blanket fixed-factor form this
    // replaced exploded the whole dim ×8 unconditionally, which is what
    // spilled at the ×50 probe (BENCH_NOTES round-8). The salted path
    // under REAL skew is exercised by skew_salted_auto below.
    Gate("skew_salted_join", (s, dir) => {
      val fact = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_extendedprice"))
      val dim = Tables.orders(s, dir)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      statusRollup(graft.ops.Skew.autoSaltedJoin(fact, dim, "l_orderkey"))
    },
      // The salted join's oracle is the PLAIN join — equality proves the
      // salting is semantics-preserving.
      statusRollupOracle),

    // X15 — the ENGAGED branch of autoSaltedJoin: ~30% of lineitem is
    // remapped onto one existing orderkey (the planted "unknown member"
    // pathology), the census detects it, and ONLY that key takes the
    // salted path (factor = ceil(hot/target)) while the other 70% joins
    // plain against the uninflated dim. Oracle is the unsalted SQL —
    // inner equi-joins are partition-agnostic, so salting must be
    // invisible in the output.
    Gate("skew_salted_auto", (s, dir) => {
      val dim = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"), col("o_orderstatus"))
      val hotKey = dim.agg(min(col("k"))).first().getLong(0) // O(1) driver row
      val fact = Tables.lineitem(s, dir)
        .select(when(col("l_orderkey") % 10 < 3, lit(hotKey))
          .otherwise(col("l_orderkey")).as("k"), col("l_extendedprice"))
      graft.ops.Skew.autoSaltedJoin(fact, dim, "k", targetRowsPerTask = 2000L)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_lines"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"))
        .orderBy("o_orderstatus")
    },
      // same remap as the Spark side; salting must be output-invisible
      """SELECT o_orderstatus, count(*) AS n_lines,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM (SELECT CASE WHEN l_orderkey % 10 < 3
        |        THEN (SELECT min(o_orderkey) FROM orders)
        |        ELSE l_orderkey END AS k, l_extendedprice
        |      FROM lineitem) f
        |JOIN orders ON f.k = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // Unpivot / melt — wide→long (the inverse of pivot; pandas melt):
    // per-row measure columns become (measure, val) pairs. Narrow
    // map-side transform, no shuffle.
    Gate("unpivot_lineitem_measures", (s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_orderkey") < 100)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
          "measure", "val")
        .orderBy("l_orderkey", "l_linenumber", "measure")
    },
      // UNION ALL form (portable across engines; DuckDB UNPIVOT would
      // also work).
      """WITH base AS (
        |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |    l_quantity, l_extendedprice, l_discount, l_tax
        |  FROM lineitem WHERE l_orderkey < 100)
        |SELECT l_orderkey, l_linenumber, measure, val FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val FROM base
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM base
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM base
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM base)
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin),

    // Skew detection — EXACT heavy hitters via Misra-Gries sketch +
    // broadcast verify pass (bounded O(counters) state; provably no
    // true heavy hitter missed). The detection step that decides which
    // keys need salting before a 100 TB shuffle.
    Gate("skew_heavy_hitters", (s, dir) => {
      graft.ops.Skew.heavyHitters(Tables.orders(s, dir), "o_custkey",
          perMille = 1, counters = 2048)
        .orderBy("o_custkey")
    },
      // The sketch+verify pipeline is EXACT by construction, so the oracle
      // is the plain HAVING form.
      """SELECT o_custkey, count(*) AS n_rows
        |FROM orders
        |GROUP BY o_custkey
        |HAVING count(*) * 1000 > (SELECT count(*) FROM orders) * 1
        |ORDER BY o_custkey""".stripMargin),

    // Storage layout — bucketed co-located join: both sides written
    // bucketed+sorted on the join key, so the sort-merge join (and the
    // downstream agg on the same key) run with NO shuffle exchange — the
    // layout that turns the nightly 100 TB fact-fact join into a local
    // merge. Plan asserted exchange-free in StorageLayoutSpec; this
    // entry gates the RESULT against the plain-join oracle.
    Gate("storage_bucketed_join", (s, dir) => {
      // in-memory catalog + on-disk warehouse can disagree across
      // sessions: drop the table AND its leftover location first
      Seq("graft_bkt_lineitem", "graft_bkt_orders").foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        LocalFs.deleteTree(java.nio.file.Paths.get(
          s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t))
      }
      val l = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_extendedprice"))
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"))
      l.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("graft_bkt_lineitem")
      o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("graft_bkt_orders")
      statusRollup(s.table("graft_bkt_lineitem")
        .join(s.table("graft_bkt_orders"), col("l_orderkey") === col("o_orderkey")))
    },
      // Same semantics as the plain join — the bucketing is pure layout.
      statusRollupOracle),

    // Incremental materialized-view maintenance — the contract that
    // makes 100 TB rollups appendable: state(base) ⊎ state(delta) ==
    // state(base ∪ delta) for the reaggregable components. The corpus
    // splits on o_orderkey parity (every group has rows in BOTH halves,
    // so the merge is real, not a disjoint union); each half builds its
    // partial state independently and Reagg.mergeToCoarser folds them
    // at the same grain. The oracle recomputes from the FULL table in
    // one pass — hash equality IS the maintenance-identity proof.
    Gate("mv_incremental_merge", (s, dir) => {
      val o = Tables.orders(s, dir)
      val keys = Seq("o_orderpriority")
      val bucket = year(col("o_orderdate")).cast("long")
      val st = Reagg.partials(o.filter(col("o_orderkey") % 2 === 0), keys,
          bucket, col("o_totalprice"))
        .unionByName(Reagg.partials(o.filter(col("o_orderkey") % 2 === 1),
          keys, bucket, col("o_totalprice")))
      Reagg.mergeToCoarser(st, keys, col("bucket"))
        .select(col("bucket"), col("o_orderpriority"), col("n"),
          col("total").cast("double").as("total"), col("mn"), col("mx"),
          round(col("total").cast("double") / col("n"), 6).as("avg_v"))
        .orderBy("bucket", "o_orderpriority")
    },
      // Full-table recompute in one pass — hash equality against the
      // Spark side's base⊎delta partial-state merge IS the incremental-
      // maintenance identity proof.
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS bucket, o_orderpriority,
        |  count(o_totalprice) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  min(o_totalprice) AS mn, max(o_totalprice) AS mx,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    / count(o_totalprice), 6) AS avg_v
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  )
}
