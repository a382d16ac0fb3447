package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Coerce, Dedup, Merge, Normalize, TextAnalysis}
import Fixtures._

/** Reference parity ops (SURVEY §2.2) demonstrated on harness tables —
  * JSON parse/flatten/rename, coercion, LWW upsert and merge, CDC and
  * SCD2, format round trips — plus data-quality, profiling and the
  * curation pipelines. */
object EtlGates {

  /** The SCD2 gates' history: each of the first 40 users' event_type
    * versions over one event per (user, ts), the smallest event_id. */
  private def scd2Users(s: SparkSession, dir: String): DataFrame = {
    val ev = Dedup.firstPerKey(
      Tables.events(s, dir)
        .filter(col("user_id") < 40)
        .select(col("user_id"), col("ts"), col("event_type"), col("event_id")),
      Seq("user_id", "ts"), Seq("event_id"))
    Merge.scd2History(ev.drop("event_id"), "user_id", "event_type", "ts")
  }

  /** SQL twin of [[scd2Users]] up to its version starts, as CTEs: the
    * deduped events `d`, their predecessors `c`, and each version's
    * `valid_from` in `cp`. */
  private val scd2ChangesSql: String =
    """e AS (
      |  SELECT user_id, ts, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
      |  FROM events WHERE user_id < 40),
      |d AS (SELECT user_id, ts, event_type FROM e WHERE rn = 1),
      |c AS (
      |  SELECT user_id, ts, event_type,
      |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn2
      |  FROM d),
      |cp AS (
      |  SELECT user_id, event_type, ts AS valid_from
      |  FROM c WHERE rn2 = 1 OR prev <> event_type)""".stripMargin

  val all: Seq[Gate] = Seq(

    // P2/X6 — typed JSON parse + recursive struct flatten (json_normalize).
    Gate("p2_flatten_json", (s, dir) => {
      val parsed = Tables.events(s, dir)
        .withColumn("p", from_json(col("props"), propsSchema))
      Normalize.flatten(parsed.select(col("event_id"), col("p")))
        .withColumnRenamed("p.k", "k")
        .orderBy("event_id")
    },
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin),

    // P3 — bulk rename with pass-through semantics (pandas rename).
    Gate("p3_rename_bulk", (s, dir) => {
      Normalize.renameColumns(Tables.customer(s, dir), Map(
        "c_custkey" -> "customer_id", "c_name" -> "full_name",
        "c_acctbal" -> "account_balance", "c_mktsegment" -> "market_segment",
        "notAColumn" -> "ignored"))
        .select(col("customer_id"), col("full_name"), col("account_balance"),
          col("market_segment"), col("c_nationkey"))
        .orderBy("customer_id")
    },
      """SELECT c_custkey AS customer_id, c_name AS full_name,
        | c_acctbal AS account_balance, c_mktsegment AS market_segment, c_nationkey
        |FROM customer ORDER BY customer_id""".stripMargin),

    // P4 — consolidate sparse columns into one null-dropping JSON column.
    Gate("p4_consolidate_json", (s, dir) => {
      Tables.events(s, dir)
        .withColumn("et", when(col("event_type") === "view", lit(null)).otherwise(col("event_type")))
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .select(col("event_id"), to_json(struct(col("et"), col("k"))).as("custom_fields"))
        .orderBy("event_id")
    },
      """SELECT event_id,
        | CAST(json_merge_patch('{}', to_json(struct_pack(
        |   et := CASE WHEN event_type = 'view' THEN NULL ELSE event_type END,
        |   k := CAST(json_extract_string(props, '$.k') AS BIGINT)))) AS VARCHAR) AS custom_fields
        |FROM events ORDER BY event_id""".stripMargin),

    // P5 — CSV float-artifact scrub ("17.0" → "17"), native expression.
    Gate("p5_float_scrub", (s, dir) => {
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          Coerce.scrubFloatArtifact(col("l_quantity")).as("qty_str"))
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber,
        | CASE WHEN l_quantity = CAST(CAST(l_quantity AS BIGINT) AS DOUBLE)
        |      THEN CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
        |      ELSE CAST(l_quantity AS VARCHAR) END AS qty_str
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // P6 — numeric coercion with errors='coerce' semantics (garbage→NULL).
    Gate("p6_coerce_long", (s, dir) => {
      val dirty = when(col("event_type") === "error", lit("N/A"))
        .otherwise(get_json_object(col("props"), "$.k"))
      Tables.events(s, dir)
        .select(col("event_id"), Coerce.toLongCoerce(dirty).as("k_long"))
        .orderBy("event_id")
    },
      """SELECT event_id,
        | TRY_CAST(TRY_CAST(CASE WHEN event_type = 'error' THEN 'N/A'
        |   ELSE json_extract_string(props, '$.k') END AS DOUBLE) AS BIGINT) AS k_long
        |FROM events ORDER BY event_id""".stripMargin),

    // P7 — string coercion with the reference's ' ' sentinel for missing.
    Gate("p7_string_sentinel", (s, dir) => {
      val maybeNull = when(col("event_type") === "view", lit(null)).otherwise(col("event_type"))
      Tables.events(s, dir)
        .select(col("event_id"), Coerce.toSentinelString(maybeNull).as("etype"))
        .orderBy("event_id")
    },
      """SELECT event_id,
        | CASE WHEN event_type = 'view' OR event_type IS NULL
        |        OR event_type IN ('nan', 'NaN') THEN ' '
        |      ELSE event_type END AS etype
        |FROM events ORDER BY event_id""".stripMargin),

    // P9/P11 — dual-format timestamp parse, unparseable → NULL.
    Gate("p9_ts_parse", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("ts_str",
          when(col("event_id") % 10 === 0, lit("not-a-date"))
            .otherwise(date_format(col("ts"), Coerce.referenceTsFormat)))
      ev.select(col("event_id"), col("ts_str"),
          Coerce.toTimestampUtc(col("ts_str")).as("ts_parsed"))
        .orderBy("event_id")
    },
      """SELECT event_id, ts_str,
        | COALESCE(TRY_STRPTIME(ts_str, '%m-%d-%Y %H:%M:%S'),
        |          TRY_CAST(ts_str AS TIMESTAMP)) AS ts_parsed
        |FROM (SELECT event_id,
        |        CASE WHEN event_id % 10 = 0 THEN 'not-a-date'
        |             ELSE strftime(ts, '%m-%d-%Y %H:%M:%S') END AS ts_str
        |      FROM events) t
        |ORDER BY event_id""".stripMargin),

    // W4 — LWW latest state per (user, event_type) over the event log
    // (max_by hash-agg form: map-side combine, no per-partition sort).
    Gate("w4_lww_latest", (s, dir) => {
      // project before the merge: max_by(struct(*)) defeats Catalyst's
      // column pruning, so unused columns (props) must not enter the agg
      Merge.latestByKeyAgg(
          Tables.events(s, dir).select("user_id", "event_type", "event_id", "value", "ts"),
          Seq("user_id", "event_type"), Seq("ts"), Seq("event_id"))
        .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
        .orderBy("user_id", "event_type")
    },
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |         ORDER BY ts DESC, event_id DESC) AS rn FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin),

    // S8 — upsert: per-user snapshot before the split merged with incoming
    // events after it; incoming wins per key (ON CONFLICT DO UPDATE).
    Gate("s8_merge_upsert", (s, dir) => {
      val ev = Tables.events(s, dir).select("user_id", "event_id", "value", "ts")
      val split = to_timestamp(lit("2024-02-15"))
      val existing = Merge.latestByKeyAgg(ev.filter(col("ts") < split),
        Seq("user_id"), Seq("ts"), Seq("event_id"))
      val incoming = Merge.latestByKeyAgg(ev.filter(col("ts") >= split),
        Seq("user_id"), Seq("ts"), Seq("event_id"))
      Merge.upsertLwwAgg(existing, incoming, Seq("user_id"), Seq("ts"), Seq("event_id"))
        .select(col("user_id"), col("event_id"), col("value"))
        .orderBy("user_id")
    },
      """SELECT user_id, event_id, value FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |         ORDER BY ts DESC, event_id DESC) AS rn FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin),

    // X6 — JSON prop extraction, filter pushdown, exact integer agg.
    Gate("x6_json_filter_agg", (s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("long")
      Tables.events(s, dir)
        .withColumn("k", k)
        .filter(col("k") >= 50)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).cast("long").as("sum_k"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // X6v — Spark 4 VARIANT path: parse_json to a real VariantType
    // column, typed extraction via variant_get (vs the string-walking
    // get_json_object twin above) — the open-schema column type a
    // semi-structured 100 TB corpus stores once and shreds on read.
    Gate("x6_variant_typed", (s, dir) => {
      Tables.events(s, dir)
        .withColumn("k", variant_get(parse_json(col("props")), "$.k", "long"))
        .filter(col("k") % 7 === 0)
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), sum(col("k")).cast("long").as("sum_k"))
        .orderBy("k_mod")
    },
      """SELECT k % 10 AS k_mod, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k
        |FROM (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events) t
        |WHERE k % 7 = 0
        |GROUP BY k % 10 ORDER BY k_mod""".stripMargin),

    // DQ — Benford first-digit audit over order totals in cents: the
    // classic anomaly screen; digit from the integer's string head
    // (exact, no float log), expectations pinned as integer ppm.
    Gate("dq_benford_totals", (s, dir) => {
      graft.ops.DataQuality.benfordAudit(Tables.orders(s, dir),
          round(col("o_totalprice") * 100))
        .orderBy("digit")
    },
      """WITH v AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
        |  WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0),
        |cnt AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit,
        |          count(*) AS n_d FROM v GROUP BY 1),
        |exp AS (SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
        |          (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
        |          (9, 45757)) AS t(digit, exp_ppm)),
        |tot AS (SELECT sum(n_d) AS n FROM cnt)
        |SELECT CAST(exp.digit AS BIGINT) AS digit,
        |  CAST(coalesce(n_d, 0) AS BIGINT) AS n_d,
        |  CAST((coalesce(n_d, 0) * 1000000) // n AS BIGINT) AS obs_ppm,
        |  CAST(exp_ppm AS BIGINT) AS exp_ppm,
        |  CAST((coalesce(n_d, 0) * 1000000) // n - exp_ppm AS BIGINT) AS dev_ppm
        |FROM exp LEFT JOIN cnt ON exp.digit = cnt.digit, tot
        |ORDER BY digit""".stripMargin),

    // DQ — portable bucketed table checksum (integer-arithmetic
    // fingerprints, no engine hash): the sink-verification primitive —
    // both ends of a replication/upsert compute B small rows and diff.
    Gate("dq_checksum_orders", (s, dir) => {
      val o = Tables.orders(s, dir)
      graft.ops.DataQuality.checksumBuckets(o,
          Seq(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice") * 100)),
          buckets = 16)
        .orderBy("bucket")
    },
      // multipliers: m0=1000003, m_{i+1}=(m_i*31+17) mod 1e9+7 — the same
      // chain checksumBuckets derives; fp reduces every term mod p before
      // summing, exactly as the Spark side does
      """WITH f AS (
        |  SELECT (( (o_orderkey % 1000000007) * 1000003 % 1000000007
        |          + (o_custkey % 1000000007) * 31000110 % 1000000007
        |          + (CAST(round(o_totalprice * 100) AS BIGINT) % 1000000007)
        |            * 961003427 % 1000000007
        |          ) % 1000000007) AS fp
        |  FROM orders)
        |SELECT CAST(fp % 16 AS BIGINT) AS bucket, count(*) AS n,
        |  CAST(sum(CAST(fp AS HUGEINT)) % 1000000007 AS BIGINT) AS s1,
        |  CAST(sum(CAST(fp AS HUGEINT) * fp) % 1000000007 AS BIGINT) AS s2
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin),

    // DQ — the checksum primitive IN ACTION: diff the orders table
    // against a deterministically tampered copy (order 7's total bumped
    // one cent). The corrupted row's bucket(s) must flag — one or two
    // red (the new fingerprint may land in a different bucket, moving a
    // count), the rest green, at every SF. This is the replication-
    // verification round trip: both sides' checksums meet on the bucket
    // key and compare (n, s1, s2).
    Gate("dq_checksum_diff", (s, dir) => {
      val o = Tables.orders(s, dir)
      // unresolved Columns — they bind against whichever frame applies them
      val cols = Seq(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100))
      val tampered = o.withColumn("o_totalprice",
        when(col("o_orderkey") === 7, col("o_totalprice") + 0.01)
          .otherwise(col("o_totalprice")))
      val a = graft.ops.DataQuality.checksumBuckets(o, cols, buckets = 16)
        .select(col("bucket"), col("n").as("n_src"), col("s1").as("s1_src"),
          col("s2").as("s2_src"))
      val b = graft.ops.DataQuality.checksumBuckets(tampered, cols, buckets = 16)
        .select(col("bucket"), col("n").as("n_dst"), col("s1").as("s1_dst"),
          col("s2").as("s2_dst"))
      a.join(b, Seq("bucket"), "full_outer")
        .select(col("bucket"),
          coalesce(col("n_src"), lit(0L)).as("n_src"),
          coalesce(col("n_dst"), lit(0L)).as("n_dst"),
          (coalesce(col("n_src"), lit(-1L)) === coalesce(col("n_dst"), lit(-2L)) &&
            coalesce(col("s1_src"), lit(-1L)) === coalesce(col("s1_dst"), lit(-2L)) &&
            coalesce(col("s2_src"), lit(-1L)) === coalesce(col("s2_dst"), lit(-2L)))
            .as("bucket_matches"))
        .orderBy("bucket")
    },
      """WITH src AS (
        |  SELECT o_orderkey AS k, o_custkey AS c,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS t FROM orders),
        |dst AS (
        |  SELECT o_orderkey AS k, o_custkey AS c,
        |    CAST(round((CASE WHEN o_orderkey = 7 THEN o_totalprice + 0.01
        |                     ELSE o_totalprice END) * 100) AS BIGINT) AS t
        |  FROM orders),
        |fs AS (SELECT (( (k % 1000000007) * 1000003 % 1000000007
        |             + (c % 1000000007) * 31000110 % 1000000007
        |             + (t % 1000000007) * 961003427 % 1000000007
        |             ) % 1000000007) AS fp FROM src),
        |fd AS (SELECT (( (k % 1000000007) * 1000003 % 1000000007
        |             + (c % 1000000007) * 31000110 % 1000000007
        |             + (t % 1000000007) * 961003427 % 1000000007
        |             ) % 1000000007) AS fp FROM dst),
        |cs AS (SELECT CAST(fp % 16 AS BIGINT) AS bucket, count(*) AS n,
        |         CAST(sum(CAST(fp AS HUGEINT)) % 1000000007 AS BIGINT) AS s1,
        |         CAST(sum(CAST(fp AS HUGEINT) * fp) % 1000000007 AS BIGINT) AS s2
        |       FROM fs GROUP BY 1),
        |cd AS (SELECT CAST(fp % 16 AS BIGINT) AS bucket, count(*) AS n,
        |         CAST(sum(CAST(fp AS HUGEINT)) % 1000000007 AS BIGINT) AS s1,
        |         CAST(sum(CAST(fp AS HUGEINT) * fp) % 1000000007 AS BIGINT) AS s2
        |       FROM fd GROUP BY 1)
        |SELECT coalesce(cs.bucket, cd.bucket) AS bucket,
        |  coalesce(cs.n, 0) AS n_src, coalesce(cd.n, 0) AS n_dst,
        |  (coalesce(cs.n, -1) = coalesce(cd.n, -2)
        |   AND coalesce(cs.s1, -1) = coalesce(cd.s1, -2)
        |   AND coalesce(cs.s2, -1) = coalesce(cd.s2, -2)) AS bucket_matches
        |FROM cs FULL OUTER JOIN cd ON cs.bucket = cd.bucket
        |ORDER BY bucket""".stripMargin),

    // S5+S6+W2 composed: events → CSV → single-pass explicit-schema
    // read-back → schema coercion → aggregate. The CSV hop is the
    // reference's stage boundary; the oracle reads the original parquet,
    // proving the round-trip is lossless under the coercion pipeline.
    // readCsvAs (not inferSchema) keeps the load single-scan with native
    // typed parsing: the coerce step is the schema authority, so the
    // infer pass was a pure second read of the file (A/B: schema 0.5 s <
    // infer 0.75 s < raw-strings 0.84 s warm; one fewer job cold).
    Gate("csv_roundtrip_load", (s, dir) => {
      import org.apache.spark.sql.types._
      val sch = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType)))
      eventsRoundTrip(s, dir, "csv", Tables.writeCsv,
        p => Tables.readCsvAs(s, p, sch), coerce = true)
    },
      eventsRoundTripOracle()),

    // Schema evolution at the storage layer: two parquet batches with
    // different schemas (v2 adds event_type) union under a mergeSchema
    // read — v1 rows surface NULL in the added column, no rewrite of
    // old data. The everyday reality of a long-lived 100 TB corpus:
    // columns arrive mid-life and historical files stay immutable. The
    // oracle recomputes the same rollup from the unsplit source table.
    Gate("schema_evolution_merge", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_evo").toString
      val ev = Tables.events(s, dir)
      ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id"), col("value"))
        .write.mode("overwrite").parquet(s"$tmp/v1")
      ev.filter(col("event_id") % 2 === 1)
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
        .write.mode("overwrite").parquet(s"$tmp/v2")
      s.read.option("mergeSchema", "true").parquet(s"$tmp/v1", s"$tmp/v2")
        .groupBy(coalesce(col("event_type"), lit("_pre_schema_")).as("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("sum_v"))
        .orderBy("event_type")
    },
      """SELECT CASE WHEN event_id % 2 = 0 THEN '_pre_schema_' ELSE event_type END
        |         AS event_type,
        | count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // Data profiling: per-column stats in one pass (null/distinct/range).
    Gate("profile_events", (s, dir) => {
      graft.ops.Profiling.summarize(Tables.events(s, dir),
          Seq("event_id", "event_type", "value", "ts"))
        .orderBy("col_name")
    },
      """SELECT 'event_id' AS col_name, count(*) AS n_rows,
        |  CAST(count(*) - count(event_id) AS BIGINT) AS n_null,
        |  CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
        |  CAST(min(event_id) AS VARCHAR) AS min_str,
        |  CAST(max(event_id) AS VARCHAR) AS max_str FROM events
        |UNION ALL
        |SELECT 'event_type', count(*),
        |  CAST(count(*) - count(event_type) AS BIGINT),
        |  CAST(count(DISTINCT event_type) AS BIGINT),
        |  CAST(min(event_type) AS VARCHAR), CAST(max(event_type) AS VARCHAR) FROM events
        |UNION ALL
        |SELECT 'value', count(*),
        |  CAST(count(*) - count(value) AS BIGINT),
        |  CAST(count(DISTINCT value) AS BIGINT),
        |  CAST(min(value) AS VARCHAR), CAST(max(value) AS VARCHAR) FROM events
        |UNION ALL
        |SELECT 'ts', count(*),
        |  CAST(count(*) - count(ts) AS BIGINT),
        |  CAST(count(DISTINCT ts) AS BIGINT),
        |  CAST(min(ts) AS VARCHAR), CAST(max(ts) AS VARCHAR) FROM events
        |ORDER BY col_name""".stripMargin),

    // MCV histogram (Profiling.mostCommonValues) — the selectivity half
    // of ANALYZE-style optimizer stats: per-column top-k value
    // frequencies via value-grain hash agg + O(k) bounded top-k (no
    // per-column sort; each branch scans only its own column). Nulls
    // planted by formula (event_type='error' → NULL) prove the
    // histogram excludes them; uniform user_id counts force deep
    // count-ties resolved by the pinned string-asc tie-break.
    Gate("profile_mcv", (s, dir) => {
      val src = Tables.events(s, dir).select(
        when(col("event_type") === "error", lit(null).cast("string"))
          .otherwise(col("event_type")).as("etype"),
        col("user_id"))
      graft.ops.Profiling.mostCommonValues(src, Seq("etype", "user_id"), k = 4)
        .orderBy("col_name", "rank")
    },
      // Window-rank replay of the bounded top-k; ties break on the
      // string-rendered value both sides.
      """WITH src AS (
        |  SELECT nullif(event_type, 'error') AS etype, user_id FROM events),
        |g1 AS (
        |  SELECT etype AS v, count(*) AS cnt FROM src
        |  WHERE etype IS NOT NULL GROUP BY 1),
        |m1 AS (
        |  SELECT 'etype' AS col_name,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, v) AS BIGINT) AS rank,
        |    CAST(v AS VARCHAR) AS value_str, CAST(cnt AS BIGINT) AS cnt
        |  FROM g1 QUALIFY rank <= 4),
        |g2 AS (SELECT user_id AS v, count(*) AS cnt FROM src GROUP BY 1),
        |m2 AS (
        |  SELECT 'user_id' AS col_name,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, CAST(v AS VARCHAR))
        |         AS BIGINT) AS rank,
        |    CAST(v AS VARCHAR) AS value_str, CAST(cnt AS BIGINT) AS cnt
        |  FROM g2 QUALIFY rank <= 4)
        |SELECT * FROM m1 UNION ALL SELECT * FROM m2
        |ORDER BY col_name, rank""".stripMargin),

    // Fixed-width text interchange — the mainframe/enterprise flat-file
    // format beside CSV/JSONL/XML: write events as zero-padded
    // fixed-offset lines (money as integer cents — fixed width and
    // float formatting don't mix), read back by column offsets, and
    // prove nothing was lost against the oracle's DIRECT aggregation
    // of the source table.
    Gate("fixedwidth_roundtrip_load", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_fw").toString
      val ev = Tables.events(s, dir)
      val line = concat(
        lpad(col("event_id").cast("string"), 12, "0"),
        lpad(col("user_id").cast("string"), 10, "0"),
        rpad(col("event_type"), 10, " "),
        lpad(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .cast("string"), 12, "0"))
      ev.select(line.as("value")).write.mode("overwrite").text(tmp)
      s.read.text(tmp).select(
          expr("CAST(substring(value, 1, 12) AS BIGINT)").as("event_id"),
          expr("CAST(substring(value, 13, 10) AS BIGINT)").as("user_id"),
          expr("rtrim(substring(value, 23, 10))").as("event_type"),
          expr("CAST(substring(value, 33, 12) AS BIGINT)").as("value_cents"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("value_cents")).as("cents"),
          countDistinct(col("user_id")).as("users"))
        .orderBy("event_type")
    },
      // Direct aggregation of the SOURCE table — hash equality proves
      // the fixed-width round trip lost nothing.
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |       AS BIGINT) AS cents,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // Capstone composition — the corpus-to-training-shards pipeline in
    // one dataflow: quality gate → exact content dedup keeping the
    // surviving row (hash-agg min_by — no join-back, so the corpus and
    // its per-row analysis are computed in ONE scan) → token-budget
    // shard assignment (distributed prefix sum) → shard summary. Every
    // stage is an op gated elsewhere; this gates their COMPOSITION
    // against one SQL oracle.
    Gate("pipeline_corpus_to_shards", (s, dir) => {
      val d = Tables.documents(s, dir)
      val nt = TextAnalysis.tokenCount(col("text"))
      val nc = length(col("text")).cast("long")
      val stops = TextAnalysis.wordOccurrences(lower(col("text")), TextAnalysis.englishStopwords)
      val weighted = Dedup.survivorsByContent(
        d.filter(TextAnalysis.qualityGate(nt, nc, stops))
          .select(col("doc_id"), col("text"), nt.as("w")),
        "text", "doc_id", Seq("w"))
      graft.ops.Packing.assignShards(weighted, "doc_id", "w", 2000L)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("total_tokens"))
        .orderBy("shard")
    },
      """WITH t AS (
        |  SELECT doc_id, text,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      w -> w IN ('the','a','an','and','or','of','to','in','is','it',
        |                 'that','for','on','with','as','at','by','from'))) AS BIGINT) AS n_stopwords
        |  FROM documents),
        |g AS (
        |  SELECT * FROM t
        |  WHERE n_tokens BETWEEN 5 AND 100000
        |    AND (n_chars / greatest(n_tokens, 1)) BETWEEN 1 AND 15
        |    AND n_stopwords * 50 >= n_tokens),
        |k AS (SELECT min(doc_id) AS doc_id FROM g GROUP BY sha256(text)),
        |w AS (SELECT g.doc_id, g.n_tokens FROM g JOIN k ON g.doc_id = k.doc_id),
        |sh AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |      - n_tokens) / 2000.0) AS BIGINT) AS shard
        |  FROM w)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |FROM sh GROUP BY shard ORDER BY shard""".stripMargin),

    // Distribution drift (PSI) of the language mix between the full
    // corpus and a length-filtered snapshot — the monitoring gate that
    // catches a silently shifted source mix. Exact counts; the only
    // float op is the final ln, rounded at 6 dp on both engines.
    Gate("dq_drift_lang", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ops.DataQuality.categoricalDrift(
          docs, docs.filter(col("n_chars") >= 300), "lang")
        .orderBy("lang")
    },
      """WITH b AS (SELECT lang, count(*) AS n_base FROM documents GROUP BY 1),
        |c AS (SELECT lang, count(*) AS n_cur FROM documents
        |      WHERE n_chars >= 300 GROUP BY 1),
        |t AS (SELECT (SELECT CAST(sum(n_base) AS DOUBLE) FROM b) AS tb,
        |             (SELECT CAST(sum(n_cur) AS DOUBLE) FROM c) AS tc)
        |SELECT COALESCE(b.lang, c.lang) AS lang,
        |  COALESCE(n_base, 0) AS n_base, COALESCE(n_cur, 0) AS n_cur,
        |  round((COALESCE(n_base, 0) / tb - COALESCE(n_cur, 0) / tc)
        |    * ln((COALESCE(n_base, 0) / tb + 1e-6)
        |        / (COALESCE(n_cur, 0) / tc + 1e-6)), 6) AS psi
        |FROM b FULL OUTER JOIN c ON b.lang = c.lang, t
        |ORDER BY lang""".stripMargin),

    // DQ — differentially-private count release (Laplace mechanism,
    // epsilon = 0.5): the publish step for per-language corpus stats.
    // Noise is a seeded inverse-CDF draw from the engine-portable
    // multiplicative hash family (the sampling ops' pinned formula),
    // so the oracle replays the identical mechanism — calibration,
    // sign, and rounding all hash-gated.
    Gate("dq_dp_counts", (s, dir) => {
      graft.ops.DataQuality.dpNoisedCounts(Tables.documents(s, dir), "lang",
          ascii(substring(col("lang"), 1, 1)) * 100 +
            ascii(substring(col("lang"), 2, 1)),
          epsilonMicro = 500000L)
        .orderBy("lang")
    },
      // identical seeded Laplace draw: portable multiplicative hash →
      // u in (0,1) → inverse CDF at sensitivity 1 / epsilon 0.5
      """WITH c AS (
        |  SELECT lang,
        |    ascii(substring(lang, 1, 1)) * 100 +
        |      ascii(substring(lang, 2, 1)) AS gk,
        |    count(*) AS n_true
        |  FROM documents GROUP BY 1, 2),
        |n AS (
        |  SELECT lang, n_true,
        |    (CAST(((gk % 1000003 + 42) * 2654435761) % 2147483647 % 1000000
        |       AS DOUBLE) + 0.5) / 1000000.0 AS u
        |  FROM c)
        |SELECT lang, n_true,
        |  round(n_true + (-sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))
        |    / 0.5), 6) AS n_noised
        |FROM n ORDER BY lang""".stripMargin),

    // Column-grain snapshot diff — the drill-down under the row-grain
    // w7 diff: WHICH columns moved between snapshots. The twin is
    // formula-mutated (name suffix at %4==1, balance shift at %3==0,
    // segment WIPED TO NULL at %7==0 — the null-safe comparison must
    // count value→NULL as change), so the oracle certifies the diff
    // by recomputing expected counts from the mutation formula, never
    // re-running a comparison.
    Gate("w7_column_diff", (s, dir) => {
      val cur = Tables.customer(s, dir)
      val mutated = cur.select(col("c_custkey"),
        when(col("c_custkey") % 4 === 1, concat(col("c_name"), lit("_X")))
          .otherwise(col("c_name")).as("c_name"),
        col("c_nationkey"),
        when(col("c_custkey") % 3 === 0, col("c_acctbal") + 10.0)
          .otherwise(col("c_acctbal")).as("c_acctbal"),
        when(col("c_custkey") % 7 === 0, lit(null: String))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))
      Merge.columnDiff(cur, mutated, Seq("c_custkey"))
        .orderBy("column_name")
    },
      // Expected change counts recomputed from the mutation formula —
      // the diff is certified without the oracle running any comparison.
      """WITH n AS (SELECT count(*) AS nc FROM customer)
        |SELECT 'c_acctbal' AS column_name,
        |  (SELECT count(*) FROM customer WHERE c_custkey % 3 = 0)
        |    AS n_changed, nc AS n_compared FROM n
        |UNION ALL
        |SELECT 'c_mktsegment',
        |  (SELECT count(*) FROM customer WHERE c_custkey % 7 = 0), nc FROM n
        |UNION ALL
        |SELECT 'c_name',
        |  (SELECT count(*) FROM customer WHERE c_custkey % 4 = 1), nc FROM n
        |UNION ALL
        |SELECT 'c_nationkey', 0, nc FROM n
        |ORDER BY column_name""".stripMargin),

    // k-anonymity / l-diversity release census over QI (nation,
    // balance-bucket) with segment as the sensitive attribute: rows in
    // sub-k groups are re-identifiable; sub-l groups leak by
    // homogeneity even when large. Two grain-collapsing aggs, one
    // census row.
    Gate("dq_k_anonymity", (s, dir) => {
      val c = Tables.customer(s, dir).withColumn("bal_bucket",
        expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) div 200000"))
      graft.ops.DataQuality.kAnonymityCensus(c,
        Seq("c_nationkey", "bal_bucket"), "c_mktsegment", k = 5, l = 3)
    },
      """WITH b AS (
        |  SELECT c_nationkey,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) // 200000
        |      AS bal_bucket,
        |    c_mktsegment
        |  FROM customer),
        |fine AS (
        |  SELECT c_nationkey, bal_bucket, c_mktsegment, count(*) AS n
        |  FROM b GROUP BY 1, 2, 3),
        |g AS (
        |  SELECT c_nationkey, bal_bucket, sum(n) AS sz, count(*) AS nsens
        |  FROM fine GROUP BY 1, 2)
        |SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
        |  count(*) AS n_groups,
        |  CAST(min(sz) AS BIGINT) AS min_group_size,
        |  CAST(count(*) FILTER (WHERE sz < 5) AS BIGINT) AS n_small_groups,
        |  CAST(coalesce(sum(sz) FILTER (WHERE sz < 5), 0) AS BIGINT)
        |    AS rows_at_risk,
        |  CAST(count(*) FILTER (WHERE nsens < 3) AS BIGINT)
        |    AS n_low_diversity_groups,
        |  CAST(coalesce(sum(sz) FILTER (WHERE nsens < 3), 0) AS BIGINT)
        |    AS rows_in_low_diversity
        |FROM g""".stripMargin),

    // CDC net-effect compaction: a batch of I/U/D churn collapses to
    // the minimal equivalent batch in ONE min_by/max_by hash agg —
    // born-and-died keys vanish entirely (emitting their tombstones
    // would undo the point). Ops derived from event types (signup=I,
    // error=D, else U) over the (ts, event_id) total order.
    Gate("w6_cdc_compact", (s, dir) => {
      val cdc = Tables.events(s, dir).select(col("user_id"),
        when(col("event_type") === "signup", "I")
          .when(col("event_type") === "error", "D")
          .otherwise("U").as("op"),
        col("ts"), col("event_id"), col("event_type").as("payload"))
      Merge.cdcCompact(cdc, "user_id", "op", "ts", "payload",
          tieBreak = Seq("event_id"))
        .orderBy("user_id")
    },
      """WITH c AS (
        |  SELECT user_id,
        |    CASE WHEN event_type = 'signup' THEN 'I'
        |         WHEN event_type = 'error' THEN 'D'
        |         ELSE 'U' END AS op,
        |    ts, event_id, event_type AS payload
        |  FROM events),
        |r AS (
        |  SELECT user_id, op, payload,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn_a,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC,
        |      event_id DESC) AS rn_d,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM c),
        |fl AS (
        |  SELECT a.user_id, a.op AS first_op, d.op AS last_op,
        |    d.payload AS payload, a.n
        |  FROM (SELECT * FROM r WHERE rn_a = 1) a
        |  JOIN (SELECT * FROM r WHERE rn_d = 1) d ON a.user_id = d.user_id),
        |net AS (
        |  SELECT user_id,
        |    CASE WHEN first_op = 'I' AND last_op = 'D' THEN NULL
        |         WHEN first_op = 'I' THEN 'I'
        |         WHEN last_op = 'D' THEN 'D'
        |         ELSE 'U' END AS net_op,
        |    payload, CAST(n AS BIGINT) AS n_events
        |  FROM fl)
        |SELECT user_id, net_op, payload, n_events
        |FROM net WHERE net_op IS NOT NULL ORDER BY user_id""".stripMargin),

    // Missing-id detection WITHOUT a global sort: residues {0,1,2} mod
    // 97 are filtered out of the orderkey sequence, so a 3-wide gap
    // recurs every 97 keys; bucketSize=100 makes gaps cross bucket
    // boundaries regularly, exercising BOTH the intra-bucket lead path
    // and the bucket-stats boundary path. The oracle finds the same
    // gaps by the naive global lead (fine at oracle scale — the whole
    // point is that the engine side never does that).
    Gate("dq_sequence_gaps", (s, dir) => {
      graft.ops.DataQuality.sequenceGaps(
          Tables.orders(s, dir).filter(col("o_orderkey") % 97 >= 3),
          "o_orderkey", bucketSize = 100L)
        .orderBy("gap_start")
    },
      """WITH ks AS (
        |  SELECT DISTINCT o_orderkey AS k FROM orders
        |  WHERE o_orderkey % 97 >= 3),
        |l AS (SELECT k, lead(k) OVER (ORDER BY k) AS nxt FROM ks)
        |SELECT k + 1 AS gap_start, nxt - 1 AS gap_end,
        |  nxt - 1 - k AS gap_len
        |FROM l WHERE nxt > k + 1 ORDER BY gap_start""".stripMargin),

    // Functional-dependency discovery census: does lhs → rhs hold, how
    // many keys violate, worst image count — key detection and the
    // cheapest denormalized-feed tripwire. Three planted dependencies:
    // the true key FD holds, the two coarse ones fail with measured
    // violation mass.
    Gate("dq_fd_census", (s, dir) => {
      val o = Tables.orders(s, dir)
      def fd(tag: String, df: org.apache.spark.sql.DataFrame,
          l: String, r: String) =
        graft.ops.Profiling.fdCensus(df, l, r).withColumn("fd", lit(tag))
      fd("orderkey_to_custkey", o, "o_orderkey", "o_custkey")
        .unionByName(fd("custkey_to_priority", o, "o_custkey",
          "o_orderpriority"))
        .unionByName(fd("nation_to_segment", Tables.customer(s, dir),
          "c_nationkey", "c_mktsegment"))
        .select("fd", "n_keys", "n_violating_keys", "max_images", "fd_holds")
        .orderBy("fd")
    },
      """WITH f AS (
        |  SELECT 'orderkey_to_custkey' AS fd, o_orderkey AS l,
        |    CAST(o_custkey AS VARCHAR) AS r FROM orders
        |  UNION ALL
        |  SELECT 'custkey_to_priority', o_custkey, o_orderpriority FROM orders
        |  UNION ALL
        |  SELECT 'nation_to_segment', c_nationkey, c_mktsegment FROM customer),
        |g AS (SELECT fd, l, count(DISTINCT r) AS images FROM f GROUP BY 1, 2)
        |SELECT fd, count(*) AS n_keys,
        |  CAST(count(*) FILTER (WHERE images > 1) AS BIGINT)
        |    AS n_violating_keys,
        |  CAST(max(images) AS BIGINT) AS max_images,
        |  (count(*) FILTER (WHERE images > 1) = 0) AS fd_holds
        |FROM g GROUP BY fd ORDER BY fd""".stripMargin),

    // The COMPOSED curation pipeline — what an actual corpus build
    // runs, end to end in one lazy plan: lined construction →
    // boilerplate scrub (per-source line census) → quality floor
    // (≥20 tokens of CLEAN text) → global exact content dedup (min
    // doc id survives, its source credited) → per-source attrition
    // census with surviving token mass. Every stage is an op gated
    // individually elsewhere; this gate certifies their COMPOSITION —
    // stage boundaries (empty scrubbed docs, quality on post-scrub
    // text, dedup after quality) are where pipelines really break.
    Gate("pipeline_curation_census", (s, dir) => {
      // every 25th doc gets a CONSTANT body, so the dedup stage has
      // real work: after the scrub removes the per-doc promo/foot
      // lines (or where their digits collide below the threshold),
      // those docs' clean texts coincide and all but the min id drop
      val dupBody = "alpha beta gamma delta epsilon zeta eta theta iota " +
        "kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
      val body = when(col("doc_id") % 25 === 0, lit(dupBody))
        .otherwise(col("text"))
      val lined = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        concat_ws("\n",
          concat(lit("hdr "), col("source")),
          substring(body, 1, 60),
          when(col("doc_id") % 3 === 0, concat(lit("promo "), col("source"))),
          substring(body, 61, 60),
          concat(lit("foot "), (col("doc_id") % 7).cast("string"))).as("text"))
      val clean = Dedup.boilerplateScrub(lined, "doc_id", "text", "source",
        minDocs = 5)
      val scored = clean.select(col("doc_id"), col("source"), col("clean_text"),
        size(filter(split(col("clean_text"), "\\s+"), t => t =!= lit("")))
          .cast("long").as("n_tok"))
      val quality = scored.filter(col("n_tok") >= 20)
      val unique = quality.groupBy(col("clean_text"))
        .agg(min(struct(col("doc_id"), col("source"), col("n_tok"))).as("k"))
        .select(col("k.source").as("source"), col("k.n_tok").as("n_tok"))
      val raw = lined.groupBy("source").agg(count(lit(1)).as("n_raw"))
      val q = quality.groupBy("source").agg(count(lit(1)).as("n_quality"))
      val u = unique.groupBy("source").agg(count(lit(1)).as("n_unique"),
        sum(col("n_tok")).as("tokens_unique"))
      raw.join(q, Seq("source"), "left").join(u, Seq("source"), "left")
        .select(col("source"), col("n_raw"),
          coalesce(col("n_quality"), lit(0L)).as("n_quality"),
          coalesce(col("n_unique"), lit(0L)).as("n_unique"),
          coalesce(col("tokens_unique"), lit(0L)).as("tokens_unique"))
        .orderBy("source")
    },
      // Full-pipeline replay: the boilerplate CTEs (same as
      // x3_boilerplate_scrub) feed quality, global dedup, and the
      // per-source census — one SQL chain per pipeline stage.
      """WITH src AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 25 = 0 THEN
        |      'alpha beta gamma delta epsilon zeta eta theta iota ' ||
        |      'kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi chi'
        |    ELSE text END AS body
        |  FROM documents),
        |lined AS MATERIALIZED (
        |  SELECT doc_id, source,
        |    concat_ws(chr(10),
        |      'hdr ' || source,
        |      substr(body, 1, 60),
        |      CASE WHEN doc_id % 3 = 0 THEN 'promo ' || source END,
        |      substr(body, 61, 60),
        |      'foot ' || CAST(doc_id % 7 AS VARCHAR)) AS text
        |  FROM src),
        |l AS MATERIALIZED (
        |  SELECT doc_id, source, pos, ls[pos + 1] AS line
        |  FROM (SELECT doc_id, source, ls, unnest(range(0, len(ls))) AS pos
        |        FROM (SELECT doc_id, source,
        |                string_split(text, chr(10)) AS ls FROM lined))),
        |boiler AS (
        |  SELECT source, line FROM l GROUP BY source, line
        |  HAVING count(DISTINCT doc_id) >= 5),
        |kept AS (
        |  SELECT l.doc_id, string_agg(l.line, chr(10) ORDER BY l.pos) AS clean_text
        |  FROM l
        |  WHERE NOT EXISTS (SELECT 1 FROM boiler b
        |                    WHERE b.source = l.source AND b.line = l.line)
        |  GROUP BY l.doc_id),
        |tk AS MATERIALIZED (
        |  SELECT lined.doc_id, lined.source,
        |    coalesce(kept.clean_text, '') AS clean_text,
        |    CAST(len(list_filter(string_split_regex(
        |        coalesce(kept.clean_text, ''), '\s+'), x -> x <> ''))
        |      AS BIGINT) AS n_tok
        |  FROM lined LEFT JOIN kept USING (doc_id)),
        |q AS MATERIALIZED (SELECT * FROM tk WHERE n_tok >= 20),
        |u AS (SELECT clean_text, min(doc_id) AS doc_id FROM q GROUP BY 1),
        |uq AS (SELECT q.source, q.n_tok FROM q JOIN u ON q.doc_id = u.doc_id),
        |r AS (SELECT source, count(*) AS n_raw FROM lined GROUP BY 1),
        |qq AS (SELECT source, count(*) AS n_quality FROM q GROUP BY 1),
        |uu AS (SELECT source, count(*) AS n_unique,
        |         sum(n_tok) AS tokens_unique FROM uq GROUP BY 1)
        |SELECT r.source, CAST(n_raw AS BIGINT) AS n_raw,
        |  CAST(coalesce(n_quality, 0) AS BIGINT) AS n_quality,
        |  CAST(coalesce(n_unique, 0) AS BIGINT) AS n_unique,
        |  CAST(coalesce(tokens_unique, 0) AS BIGINT) AS tokens_unique
        |FROM r LEFT JOIN qq USING (source) LEFT JOIN uu USING (source)
        |ORDER BY source""".stripMargin),

    // X6 — malformed-record salvage (PERMISSIVE ingestion): from_json
    // with a corrupt-record column — bad records land whole in the
    // channel with all data fields NULL, good records parse, and the
    // batch never fails (the production alternative to FAILFAST's
    // all-or-nothing and DROPMALFORMED's silent loss). Every 7th row's
    // JSON is deliberately truncated; both engines build the identical
    // strings so corruption is data, not chance.
    Gate("x6_json_salvage", (s, dir) => {
      import org.apache.spark.sql.types._
      val d = Tables.documents(s, dir)
      val good = concat(lit("{\"id\": "), col("doc_id"),
        lit(", \"lang\": \""), col("lang"), lit("\"}"))
      val bad = concat(lit("{\"id\": "), col("doc_id"),
        lit(", \"lang\": \""), col("lang")) // unterminated — malformed
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("lang", StringType), StructField("_bad", StringType)))
      d.select(col("doc_id"),
          when(col("doc_id") % 7 === 0, bad).otherwise(good).as("raw"))
        .withColumn("p", from_json(col("raw"), schema,
          Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_bad")))
        .select(col("doc_id"), col("p.id").as("parsed_id"),
          col("p.lang").as("parsed_lang"), col("p._bad").isNotNull.as("is_corrupt"))
        .orderBy("doc_id")
    },
      """WITH r AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0
        |      THEN '{"id": ' || doc_id || ', "lang": "' || lang
        |      ELSE '{"id": ' || doc_id || ', "lang": "' || lang || '"}' END AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN json_valid(raw)
        |    THEN CAST(json_extract(raw, '$.id') AS BIGINT) END AS parsed_id,
        |  CASE WHEN json_valid(raw)
        |    THEN json_extract_string(raw, '$.lang') END AS parsed_lang,
        |  NOT json_valid(raw) AS is_corrupt
        |FROM r ORDER BY doc_id""".stripMargin),

    // Data quality — per-type z-score outlier census on event values,
    // verdicts from the cross-multiplied integer form on cents (no
    // double mean/variance: merge order and engine cannot flip a flag).
    Gate("dq_outliers_zscore", (s, dir) => {
      graft.ops.DataQuality.outliersZScore(
          Tables.events(s, dir), "event_type", col("value"), z = 2)
        .orderBy("event_type")
    },
      """WITH b AS (
        |  SELECT event_type, CAST(round(value * 100) AS HUGEINT) AS vc
        |  FROM events),
        |st AS (
        |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |    sum(vc) AS s, sum(vc * vc) AS ss
        |  FROM b GROUP BY event_type),
        |f AS (
        |  SELECT b.event_type, vc,
        |    (vc * n - s) * (vc * n - s) > 4 * (n * ss - s * s) AS isout
        |  FROM b JOIN st USING (event_type))
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN isout THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST(coalesce(sum(CASE WHEN isout THEN vc END), 0) AS BIGINT) AS outlier_cents
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin),

    // X45 robust twin — MAD outlier census: |v − median| > k·MAD on
    // integer cents, so every median is an integer or exact .5 and the
    // verdict arithmetic is IEEE-exact in both engines.
    Gate("dq_outliers_mad", (s, dir) => {
      graft.ops.DataQuality.outliersMad(
          Tables.events(s, dir), "event_type", col("value"), k = 2)
        .orderBy("event_type")
    },
      """WITH b AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events),
        |md AS (SELECT event_type, median(vc) AS med FROM b GROUP BY event_type),
        |d AS (
        |  SELECT b.event_type, med, abs(CAST(vc AS DOUBLE) - med) AS dd
        |  FROM b JOIN md USING (event_type)),
        |m2 AS (SELECT event_type, median(dd) AS mad FROM d GROUP BY event_type)
        |SELECT d.event_type, count(*) AS n,
        |  CAST(max(med) AS DOUBLE) AS median_cents,
        |  CAST(max(mad) AS DOUBLE) AS mad_cents,
        |  CAST(sum(CASE WHEN dd > 2 * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN m2 USING (event_type)
        |GROUP BY d.event_type ORDER BY event_type""".stripMargin),

    // Winsorization (DataQuality.winsorize) — clamp event cents into
    // the exact [5,95] percentile-disc band: thresholds from a VALUE-
    // grain prefix sum (one hash agg + range exchange over distinct
    // values — the row-level percentile sort never exists), pure
    // integer 100·cum ≥ p·n comparisons, one-row broadcast clamp. The
    // per-type census pins threshold values, clip counts on both
    // sides, and the exact winsorized sum.
    Gate("dq_winsorize", (s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      graft.ops.DataQuality.winsorize(ev, "cents", 5, 95)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("clip_dir") === -1L, 1L).otherwise(0L)).as("n_lo"),
          sum(when(col("clip_dir") === 1L, 1L).otherwise(0L)).as("n_hi"),
          sum(col("cents_w")).as("sum_w_cents"),
          min(col("lo")).as("lo_cents"), min(col("hi")).as("hi_cents"))
        .orderBy("event_type")
    },
      // percentile-disc thresholds replayed as the same integer
      // 100*cum >= p*n rule over the ordered value grain.
      """WITH v AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |n AS (SELECT count(*) AS n FROM v),
        |g AS (SELECT c, count(*) AS cnt FROM v GROUP BY 1),
        |r AS (SELECT c, sum(cnt) OVER (ORDER BY c) AS cum FROM g),
        |thr AS (
        |  SELECT
        |    (SELECT min(c) FROM r, n WHERE cum * 100 >= n * 5) AS lo,
        |    (SELECT min(c) FROM r, n WHERE cum * 100 >= n * 95) AS hi)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN c < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
        |  CAST(sum(CASE WHEN c > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
        |  CAST(sum(CASE WHEN c < lo THEN lo WHEN c > hi THEN hi ELSE c END)
        |       AS BIGINT) AS sum_w_cents,
        |  min(lo) AS lo_cents, min(hi) AS hi_cents
        |FROM v, thr GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Data-quality audit: unique key, NOT NULL, value range in ONE agg
    // pass + FK orphan anti-join — long-form (check_name, n) report.
    Gate("dq_audit_orders", (s, dir) => {
      graft.ops.DataQuality.audit(Tables.orders(s, dir),
          key = "o_orderkey",
          notNull = Seq("o_custkey", "o_orderdate"),
          nonNegative = Seq("o_totalprice"),
          fk = Some(("o_custkey", Tables.customer(s, dir), "c_custkey")))
        .orderBy("check_name")
    },
      """SELECT 'row_count' AS check_name, count(*) AS n FROM orders
        |UNION ALL SELECT 'dup_o_orderkey', count(*) - count(DISTINCT o_orderkey) FROM orders
        |UNION ALL SELECT 'null_o_custkey', count(*) FILTER (WHERE o_custkey IS NULL) FROM orders
        |UNION ALL SELECT 'null_o_orderdate', count(*) FILTER (WHERE o_orderdate IS NULL) FROM orders
        |UNION ALL SELECT 'neg_o_totalprice', count(*) FILTER (WHERE o_totalprice < 0) FROM orders
        |UNION ALL SELECT 'orphan_o_custkey', count(*) FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |ORDER BY check_name""".stripMargin),

    // The corpus DATA CARD — the one-row summary an LLM data team
    // publishes with a release: volume, language/source breadth, token
    // mass, quality rate, exact-dup rate, mean length — every number
    // exact and oracle-replayable, most from ONE aggregation pass.
    Gate("pipeline_data_card", (s, dir) => {
      val d = Tables.documents(s, dir)
      val nt = TextAnalysis.tokenCount(col("text"))
      val stops = TextAnalysis.wordOccurrences(lower(col("text")),
        TextAnalysis.englishStopwords)
      d.select(col("lang"), col("source"), col("text"), nt.as("_nt"),
          length(col("text")).cast("long").as("_nc"),
          TextAnalysis.qualityGate(nt, length(col("text")).cast("long"),
            stops).as("_q"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("_nt")).as("total_tokens"),
          sum(col("_nc")).as("total_chars"),
          sum(when(col("_q"), 1L).otherwise(0L)).as("n_quality"),
          (count(lit(1)) - countDistinct(col("text"))).as("n_exact_dups"))
        .withColumn("quality_rate_micro",
          expr("(n_quality * 1000000) div n_docs"))
        .withColumn("mean_tokens_micro",
          expr("(total_tokens * 1000000) div n_docs"))
    },
      """WITH t AS (
        |  SELECT lang, source, text,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS nt,
        |    CAST(length(text) AS BIGINT) AS nc,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      w -> w IN ('the','a','an','and','or','of','to','in','is','it',
        |                 'that','for','on','with','as','at','by','from')))
        |      AS BIGINT) AS s
        |  FROM documents),
        |q AS (
        |  SELECT *, CASE WHEN nt BETWEEN 5 AND 100000
        |    AND (nc / greatest(nt, 1)) BETWEEN 1 AND 15
        |    AND s * 50 >= nt THEN 1 ELSE 0 END AS isq FROM t)
        |SELECT count(*) AS n_docs,
        |  count(DISTINCT lang) AS n_langs,
        |  count(DISTINCT source) AS n_sources,
        |  CAST(sum(nt) AS BIGINT) AS total_tokens,
        |  CAST(sum(nc) AS BIGINT) AS total_chars,
        |  CAST(sum(isq) AS BIGINT) AS n_quality,
        |  CAST(count(*) - count(DISTINCT text) AS BIGINT) AS n_exact_dups,
        |  CAST((sum(isq) * 1000000) // count(*) AS BIGINT)
        |    AS quality_rate_micro,
        |  CAST((sum(nt) * 1000000) // count(*) AS BIGINT)
        |    AS mean_tokens_micro
        |FROM q""".stripMargin),

    // W5 — SCD2 type-2 history: per-user event_type version intervals
    // (valid_from/valid_to/is_current). Pre-deduped to one row per
    // (user, ts) so the history is deterministic.
    Gate("w5_scd2_history", (s, dir) => {
      scd2Users(s, dir).orderBy("user_id", "valid_from")
    },
      s"""WITH $scd2ChangesSql
        |SELECT user_id, event_type, valid_from,
        |  LEAD(valid_from) OVER w AS valid_to,
        |  (LEAD(valid_from) OVER w IS NULL) AS is_current
        |FROM cp
        |WINDOW w AS (PARTITION BY user_id ORDER BY valid_from)
        |ORDER BY user_id, valid_from""".stripMargin),

    // Time travel over the SCD2 history: every user's state AS OF a
    // mid-corpus instant, half-open [valid_from, valid_to) semantics —
    // at most one row per key by interval tiling, no dedup needed; a
    // pure filter (the lakehouse form prunes on valid_from zone maps).
    // Users first seen after the instant are absent. The oracle
    // replays the history build AND the same interval predicate.
    Gate("w5_scd2_asof", (s, dir) => {
      Merge.scd2AsOf(scd2Users(s, dir),
          lit("2024-01-15 12:00:00").cast("timestamp"))
        .orderBy("user_id")
    },
      s"""WITH $scd2ChangesSql,
        |h AS (
        |  SELECT user_id, event_type, valid_from,
        |    LEAD(valid_from) OVER w AS valid_to,
        |    (LEAD(valid_from) OVER w IS NULL) AS is_current
        |  FROM cp
        |  WINDOW w AS (PARTITION BY user_id ORDER BY valid_from))
        |SELECT user_id, event_type, valid_from, valid_to, is_current
        |FROM h
        |WHERE valid_from <= TIMESTAMP '2024-01-15 12:00:00'
        |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 12:00:00')
        |ORDER BY user_id""".stripMargin),

    // Point-in-time dimension join — every event enriched with the
    // SCD2 state its user was in AT that event's own timestamp (the
    // effective-dated join every fact load runs). Equi-join on
    // user_id with the interval predicate as residual condition: no
    // inequality-join blowup, per-fact work bounded by that user's
    // version count. Exactly one version matches per event by
    // interval tiling.
    Gate("w5_scd2_pit_join", (s, dir) => {
      val ev0 = Tables.events(s, dir).filter(col("user_id") < 40)
        .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
      val hist = Merge.scd2History(
          Dedup.firstPerKey(ev0, Seq("user_id", "ts"), Seq("event_id"))
            .drop("event_id"),
          "user_id", "event_type", "ts")
        .withColumnRenamed("event_type", "state")
      Merge.pitJoin(ev0.select(col("event_id"), col("user_id"), col("ts")),
          hist, "user_id", "ts")
        .select("event_id", "user_id", "ts", "state", "valid_from", "valid_to")
        .orderBy("event_id")
    },
      """WITH e AS (
        |  SELECT user_id, ts, event_type, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
        |  FROM events WHERE user_id < 40),
        |d AS (SELECT user_id, ts, event_type FROM e WHERE rn = 1),
        |c AS (
        |  SELECT user_id, ts, event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn2
        |  FROM d),
        |cp AS (
        |  SELECT user_id, event_type AS state, ts AS valid_from
        |  FROM c WHERE rn2 = 1 OR prev <> event_type),
        |h AS (
        |  SELECT user_id, state, valid_from,
        |    LEAD(valid_from) OVER w AS valid_to
        |  FROM cp
        |  WINDOW w AS (PARTITION BY user_id ORDER BY valid_from)),
        |f AS (SELECT event_id, user_id, ts FROM events WHERE user_id < 40)
        |SELECT f.event_id, f.user_id, f.ts, h.state, h.valid_from, h.valid_to
        |FROM f LEFT JOIN h
        |  ON h.user_id = f.user_id AND h.valid_from <= f.ts
        | AND (h.valid_to IS NULL OR h.valid_to > f.ts)
        |ORDER BY event_id""".stripMargin),

    // S10 variant — ORC round-trip: columnar sink/source with the schema
    // riding in the file (no infer+coerce hop needed).
    Gate("orc_roundtrip_load", (s, dir) =>
      eventsRoundTrip(s, dir, "orc", Tables.writeOrc,
        p => Tables.readOrc(s, p), coerce = false),
      // Round-trip oracles read the ORIGINAL parquet — equality proves the
      // ORC / JSONL hop is lossless.
      eventsRoundTripOracle()),

    // S10 variant — JSON-lines round-trip through schema inference +
    // coercion (same read-infer-then-coerce split as the CSV hop).
    Gate("json_roundtrip_load", (s, dir) =>
      eventsRoundTrip(s, dir, "jsonl", Tables.writeJsonl,
        p => Tables.readJsonl(s, p), coerce = true),
      eventsRoundTripOracle()),

    // XML round-trip (S10x): same write→infer→coerce→aggregate contract
    // as the CSV/JSONL boundaries, through Spark 4's BUILT-IN XML
    // datasource (no external spark-xml package). Equality with the
    // direct-aggregation oracle proves no value is lost or re-typed
    // through XML serialization. XML is the EXPENSIVE interchange (StAX
    // row-at-a-time writer + parse-and-infer reader, ~5× CSV here), so
    // the gate rides a deterministic 10% slice — scale-proportional,
    // same fidelity contract; full-table round-trips stay with CSV/JSONL.
    Gate("xml_roundtrip_load", (s, dir) =>
      eventsRoundTrip(s, dir, "xml", Tables.writeXml,
        p => Tables.readXml(s, p), coerce = true,
        slice = Some(col("event_id") % 10 === 0)),
      eventsRoundTripOracle(slice = "event_id % 10 = 0")),

    // W6 — CDC apply: fold an I/U/D change log (derived deterministically
    // from orders) into the customer base; newest change per key wins,
    // winning D deletes. The delete path the plain LWW upsert lacks.
    Gate("w6_cdc_apply", (s, dir) => {
      val base = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val changes = Tables.orders(s, dir)
        .select(col("o_custkey").as("c_custkey"),
          concat(lit("cust_"), col("o_custkey").cast("string")).as("c_name"),
          col("o_totalprice").as("c_acctbal"),
          when(col("o_custkey") % 10 === 0, lit("D")).otherwise(lit("U")).as("op"),
          col("o_orderkey").as("seq"))
      Merge.applyCdc(base, changes, Seq("c_custkey"), Seq("seq"))
        .orderBy("c_custkey")
    },
      """WITH ch AS (
        |  SELECT o_custkey AS c_custkey,
        |    'cust_' || CAST(o_custkey AS VARCHAR) AS c_name,
        |    o_totalprice AS c_acctbal,
        |    CASE WHEN o_custkey % 10 = 0 THEN 'D' ELSE 'U' END AS op,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
        |  FROM orders),
        |latest AS (SELECT c_custkey, c_name, c_acctbal, op FROM ch WHERE rn = 1)
        |SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey NOT IN (SELECT c_custkey FROM latest)
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal FROM latest WHERE op <> 'D'
        |ORDER BY c_custkey""".stripMargin),

    // W7 — snapshot diff (reconciliation audit): two deterministic
    // mutations of the events table (drops on each side, a value
    // rewrite on one) classified added/removed/changed/unchanged by a
    // null-safe full-outer compare; the gate checks the class census.
    Gate("w7_snapshot_diff", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"), col("user_id"))
      val prev = ev.filter(col("event_id") % 10 < 9)
      val next = ev.filter(col("event_id") % 10 > 0)
        .withColumn("value",
          when(col("event_id") % 3 === 0, col("value") * 2).otherwise(col("value")))
      Merge.snapshotDiff(prev, next, Seq("event_id"))
        .groupBy(col("change")).agg(count(lit(1)).as("n"))
        .orderBy("change")
    },
      """WITH ev AS (SELECT event_id, event_type, value, user_id FROM events),
        |prev AS (SELECT * FROM ev WHERE event_id % 10 < 9),
        |next AS (SELECT event_id, event_type,
        |           CASE WHEN event_id % 3 = 0 THEN value * 2 ELSE value END AS value,
        |           user_id
        |         FROM ev WHERE event_id % 10 > 0)
        |SELECT change, count(*) AS n FROM (
        |  SELECT CASE WHEN p.event_id IS NULL THEN 'added'
        |              WHEN x.event_id IS NULL THEN 'removed'
        |              WHEN p.event_type IS NOT DISTINCT FROM x.event_type
        |               AND p.value IS NOT DISTINCT FROM x.value
        |               AND p.user_id IS NOT DISTINCT FROM x.user_id THEN 'unchanged'
        |              ELSE 'changed' END AS change
        |  FROM prev p FULL OUTER JOIN next x ON p.event_id = x.event_id) t
        |GROUP BY change ORDER BY change""".stripMargin)
  )
}
