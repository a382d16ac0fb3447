package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed upsert as a distributed merge — the Spark-native form of the
  * reference's Postgres `INSERT … ON CONFLICT (key) DO UPDATE` sink
  * (S8, `src/s3_to_rds_lambda.py:69-85`).
  *
  * Without a mutable store, upsert is last-write-wins (LWW) dedup over
  * `existing ∪ incoming`: incoming rows beat existing rows on the same
  * key; within a batch the newest version wins, ties broken stably. This
  * is idempotent (re-applying a batch is a no-op) and deterministic, which
  * gives the same at-least-once safety as the reference's single
  * transaction (SURVEY §2.4 W4, §7.4.2).
  *
  * Scale notes: one shuffle on the merge key. In the `max_by` form
  * ([[Merge.upsertLwwAgg]]) the partial aggregate combines map-side, so
  * the shuffle carries one row per key per map partition. Its struct
  * buffer makes Spark plan a `SortAggregate`, not a hash aggregate: the
  * rows are sorted on both sides of the shuffle. No driver-side state.
  */
object Merge {

  /** W4 — LWW merge via `row_number` over (key, recency desc, priority).
    * `recency` columns order versions (newest wins); `tieBreak` makes the
    * winner stable when recency ties. */
  def upsertLww(
      existing: DataFrame,
      incoming: DataFrame,
      keys: Seq[String],
      recency: Seq[String],
      tieBreak: Seq[String] = Nil): DataFrame = {
    // incoming wins over existing on equal recency — mirrors ON CONFLICT
    // DO UPDATE (the new row replaces the stored one).
    val tagged = incoming.withColumn("_src", lit(1))
      .unionByName(existing.withColumn("_src", lit(0)))
    val order: Seq[Column] =
      recency.map(col(_).desc) ++ Seq(col("_src").desc) ++ tieBreak.map(col(_).desc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    tagged
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_src")
  }

  /** W4 alternate — `max_by(struct(*), ordering)` form. Same semantics for
    * a total ordering. The partial aggregate combines map-side, so the
    * shuffle carries one row per key per map partition, where the
    * window form shuffles every row. It does not avoid a sort: the
    * struct buffer makes Spark plan a `SortAggregate`, which sorts on
    * both sides of the shuffle. */
  def upsertLwwAgg(
      existing: DataFrame,
      incoming: DataFrame,
      keys: Seq[String],
      recency: Seq[String],
      tieBreak: Seq[String] = Nil): DataFrame = {
    val tagged = incoming.withColumn("_src", lit(1))
      .unionByName(existing.withColumn("_src", lit(0)))
    val valueCols = tagged.columns.filterNot(_ == "_src").toSeq
    val ord = struct((recency.map(col) :+ col("_src")) ++ tieBreak.map(col): _*)
    val picked = tagged
      .groupBy(keys.map(col): _*)
      .agg(max_by(struct(valueCols.map(col): _*), ord).as("_row"))
      .select(col("_row.*"))
    picked
  }

  /** Latest-row-per-key over a single table (the in-table form of W4 —
    * e.g. "current state per (user, event_type)" over an event log). */
  def latestByKey(df: DataFrame, keys: Seq[String], recency: Seq[String], tieBreak: Seq[String] = Nil): DataFrame = {
    val order: Seq[Column] = (recency ++ tieBreak).map(col(_).desc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** W6 — CDC apply: fold an insert/update/delete change log into a base
    * table. The missing member next to the LWW upsert (which can only
    * keep-or-replace): `opCol` ∈ {I, U, D}; the NEWEST change per key
    * wins (ordered by `seq`, ties by `tieBreak`), a winning D removes
    * the key, a winning I/U replaces (or inserts) the row. Unchanged
    * base rows pass through.
    *
    * Scale shape: one hash-agg compacts the log to one change per key
    * (map-side combine), one anti-join removes touched keys from base,
    * one union — base never sorts, and with AQE the compacted change set
    * broadcasts when small (the common nightly-batch case). Idempotent:
    * applying the same log twice is a no-op. */
  def applyCdc(base: DataFrame, changes: DataFrame, keys: Seq[String],
      seq: Seq[String], opCol: String = "op", tieBreak: Seq[String] = Nil): DataFrame = {
    val latest = latestByKeyAgg(changes, keys, seq, tieBreak)
    val untouched = base.join(latest.select(keys.map(col): _*), keys, "left_anti")
    val applied = latest.filter(col(opCol) =!= "D")
      .select(base.columns.map(col).toSeq: _*) // align: drop op/seq extras
    untouched.unionByName(applied)
  }

  /** W5 — type-2 slowly-changing-dimension history from a change log:
    * one row per (key, run of equal `attr` values), carrying
    * `valid_from` / `valid_to` / `is_current`. The audit-side complement
    * of the LWW upsert: instead of keeping only the newest version,
    * every version interval is preserved — the standard warehouse
    * history table a load stage builds next to the current-state table.
    *
    * Rows are ordered per key by (`ts`, `tieBreak`); consecutive rows
    * with the same `attr` collapse into one interval (null-safe
    * comparison, so a null attribute forms its own runs). `valid_to` is
    * the next interval's `valid_from`, null for the open interval.
    *
    * Scale shape: two keyed windows (lag to find change points, lead to
    * close intervals) — both partition by `key`, so the only exchange is
    * hash(key) and no global sort exists. Callers with multiple rows per
    * (key, ts) must pass `tieBreak` to make the history deterministic. */
  def scd2History(df: DataFrame, key: String, attr: String, ts: String,
      tieBreak: Seq[String] = Nil): DataFrame = {
    val ord: Seq[Column] = col(ts).asc +: tieBreak.map(col(_).asc)
    val w = Window.partitionBy(col(key)).orderBy(ord: _*)
    val changePoints = df
      .withColumn("_prev", lag(col(attr), 1).over(w))
      .withColumn("_first", row_number().over(w) === 1)
      // null-safe: a change is "not <=>" so runs of nulls collapse too
      .filter(col("_first") || !(col("_prev") <=> col(attr)))
      .select(col(key), col(attr), col(ts).as("valid_from"))
    // change points inherit per-(key, ts[, tieBreak]) uniqueness from the
    // filter above, so ordering by valid_from alone is deterministic as
    // long as the caller's (ts, tieBreak) was a total order per key.
    val w2 = Window.partitionBy(col(key)).orderBy(col("valid_from").asc)
    changePoints
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w2))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Point-in-time ("time travel") read over an [[scd2History]] frame:
    * the state of every key AS OF instant `at` — the query an SCD2
    * table exists to answer (reproduce yesterday's features, audit
    * what the pipeline believed when a decision was made). Interval
    * semantics are half-open `[valid_from, valid_to)`: a version is
    * live AT its own valid_from and dead AT its valid_to (the
    * successor owns that instant), so consecutive intervals tile time
    * with no gap and no double-membership — at most one row per key
    * survives, by construction, with no window or dedup needed. Keys
    * whose first version begins after `at` are simply absent. A pure
    * filter: predicate-pushdown-friendly (at a real lakehouse this is
    * the partition/zone-map prune on valid_from), zero shuffles. */
  def scd2AsOf(history: DataFrame, at: Column): DataFrame =
    history.filter(col("valid_from") <= at &&
      (col("valid_to").isNull || col("valid_to") > at))

  /** Point-in-time dimension join: enrich each fact row with the SCD2
    * version that was live AT the fact's own timestamp — the
    * "effective-dated dimension" join every warehouse fact load runs
    * (what plan was this user on WHEN they clicked, not today). Same
    * half-open `[valid_from, valid_to)` contract as [[scd2AsOf]], so
    * each fact matches AT MOST one version (left join: facts before
    * the key's first version, or with no dimension key at all, keep
    * a NULL enrichment rather than vanishing — fact-preserving by
    * design).
    *
    * Scale shape: an EQUI-join on the dimension key carrying the
    * interval predicate as a residual condition — Catalyst plans the
    * hash/sort-merge exchange on `key` alone and evaluates the range
    * filter on matched pairs, so there is no inequality-join blowup:
    * per-fact work is that key's version count (bounded by change
    * frequency, not corpus size). */
  def pitJoin(facts: DataFrame, history: DataFrame, key: String,
      factTs: String): DataFrame = {
    val attrs = history.columns.toSeq
      .filterNot(Set(key, "valid_from", "valid_to", "is_current"))
    val h = history.select(
      (col(key).as("_hk") +: col("valid_from") +: col("valid_to") +:
        attrs.map(col)): _*)
    facts.join(h,
      facts(key) === col("_hk") &&
        col("valid_from") <= facts(factTs) &&
        (col("valid_to").isNull || col("valid_to") > facts(factTs)),
      "left")
      .drop("_hk")
  }

  /** CDC net-effect compaction: collapse a batch of change events
    * (I/U/D per key, time-ordered) to the MINIMAL equivalent batch —
    * what a streaming sink does before writing so a key churned 10 000
    * times lands as one row, and the step that makes CDC replay
    * idempotent-ish at batch boundaries. Standard semantics (what
    * Debezium/Delta batch-compaction does):
    *
    *   first=I, last=D  → nothing (born and died inside the batch)
    *   first=I, last≠D  → net I carrying the LAST payload
    *   first≠I, last=D  → net D
    *   first≠I, last≠D  → net U carrying the LAST payload
    *
    * ONE hash aggregation per key — min_by/max_by over the total
    * (ts ++ tieBreak) order with map-side partials; no window, no
    * sort. Emits (key, net_op ∈ {I,U,D}, last payload column,
    * n_events); keys that net to nothing are ABSENT (the compaction
    * contract — emitting tombstones for them would undo the point). */
  def cdcCompact(df: DataFrame, key: String, opCol: String, ts: String,
      payload: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val ord = struct((col(ts) +: tieBreak.map(col)): _*)
    df.groupBy(col(key))
      .agg(
        min_by(col(opCol), ord).as("_first"),
        max_by(col(opCol), ord).as("_last"),
        max_by(col(payload), ord).as(payload),
        count(lit(1)).as("n_events"))
      .withColumn("net_op",
        when(col("_first") === "I" && col("_last") === "D", lit(null: String))
          .when(col("_first") === "I", lit("I"))
          .when(col("_last") === "D", lit("D"))
          .otherwise(lit("U")))
      .filter(col("net_op").isNotNull)
      .select(col(key), col("net_op"), col(payload), col("n_events"))
  }

  /** Column-grain snapshot diff — the drill-down under
    * [[snapshotDiff]]'s row verdicts: for keys present in BOTH
    * snapshots, WHICH columns actually moved ("balances churned,
    * segments didn't") — the report that turns "12 000 rows changed"
    * into an actionable upstream diagnosis. One equi-join on the keys
    * + one aggregate row of null-safe inequality counts (`IS DISTINCT
    * FROM`, so NULL→value and value→NULL both count and NULL→NULL
    * doesn't), exploded to long form driver-free. Compares the
    * non-key columns SHARED by both snapshots (schema evolution adds/
    * drops are [[snapshotDiff]]'s membership story, not a cell diff).
    * Returns one row per compared column: (column_name, n_changed,
    * n_compared). */
  def columnDiff(prev: DataFrame, next: DataFrame,
      keys: Seq[String]): DataFrame = {
    val shared = prev.columns.toSeq
      .filter(next.columns.contains).filterNot(keys.contains)
    require(shared.nonEmpty, "no shared non-key columns to compare")
    val p = prev.select((keys ++ shared).map(c => col(c).as(s"_p_$c")): _*)
    val n = next.select((keys ++ shared).map(c => col(c).as(s"_n_$c")): _*)
    val joined = p.join(n,
      keys.map(k => col(s"_p_$k") === col(s"_n_$k")).reduce(_ && _))
    val aggs = count(lit(1)).as("_n_compared") +:
      shared.map(c => sum(when(!(col(s"_p_$c") <=> col(s"_n_$c")), 1L)
        .otherwise(0L)).as(s"_chg_$c"))
    val wide = joined.agg(aggs.head, aggs.tail: _*)
    wide.select(explode(map(
        shared.flatMap(c => Seq(lit(c), col(s"_chg_$c"))): _*))
        .as(Seq("column_name", "n_changed")),
      col("_n_compared").as("n_compared"))
  }

  /** Latest-row-per-key via `max_by` hash aggregation — same result as
    * [[latestByKey]] when (recency ++ tieBreak) totally orders rows per
    * key, but partial-aggregates map-side: the shuffle carries one row
    * per key per map partition instead of every row, and no sort runs.
    * This is the form to prefer at scale. */
  def latestByKeyAgg(df: DataFrame, keys: Seq[String], recency: Seq[String], tieBreak: Seq[String] = Nil): DataFrame = {
    val valueCols = df.columns.toSeq
    val ord = struct((recency ++ tieBreak).map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(valueCols.map(col): _*), ord).as("_row"))
      .select(col("_row.*"))
  }

  /** Snapshot diff: classify every key across two keyed snapshots as
    * `added` (new only), `removed` (old only), `changed` (both, any
    * non-key column differs) or `unchanged` — the reconciliation /
    * anti-entropy primitive behind "what did this pipeline run actually
    * change?" audits and incremental-publish decisions.
    *
    * One full-outer join on the key; the row comparison is a null-safe
    * conjunction over the snapshots' COMMON non-key columns (schema
    * evolution: a column only one side has can't be compared and is
    * ignored). Both sides shuffle once on the key — at 100 TB this is
    * the minimum possible data motion for a row-level diff; nothing is
    * collected. Output: key columns plus `change`, with the old/new
    * values carried as structs for downstream inspection.
    *
    * NULL key values follow join semantics: they never match across
    * sides, so such rows classify as removed+added, not changed —
    * diff keys should be non-null (as any merge key should). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String]): DataFrame = {
    val common = oldDf.columns.toSet.intersect(newDf.columns.toSet)
      .diff(keys.toSet).toSeq.sorted
    // keys-only snapshots: no comparable columns, but the struct must
    // still exist (non-null ⇔ side present) for the added/removed
    // classes — carry a presence marker instead of an empty struct
    val payload = if (common.isEmpty) Seq(lit(true).as("_present")) else common.map(col)
    val o = oldDf.select(keys.map(col) :+
      struct(payload: _*).as("_old"): _*)
    val n = newDf.select(keys.map(col) :+
      struct(payload: _*).as("_new"): _*)
    val same = common.map(c => col(s"_old.$c") <=> col(s"_new.$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    o.join(n, keys, "full_outer")
      .withColumn("change",
        when(col("_old").isNull, lit("added"))
          .when(col("_new").isNull, lit("removed"))
          .when(same, lit("unchanged"))
          .otherwise(lit("changed")))
      .select(keys.map(col) :+ col("change") :+
        col("_old").as("old_row") :+ col("_new").as("new_row"): _*)
  }
}
