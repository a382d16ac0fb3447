package graft
package gates

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Dedup, Pins}
import Fixtures._

/** Structured Streaming gates: each drains a stream of the fixture
  * tables to completion and checks the final state. */
object StreamGates {

  /** The sessions of the two event-time streaming sessionizers in
    * epoch micros (`g`, with each session's last event), and each
    * user's last event (`m`): a session that does not hold its user's
    * last event is closed whatever the micro-batch boundaries. */
  private val closedSessionCtes: String =
    s"""${sessionCtes("event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us",
      "ts_us, event_id")},
       |g AS (
       |  SELECT user_id, min(ts_us) AS session_start_us,
       |    max(ts_us) + 1800000000 AS session_end_us,
       |    count(*) AS n_events, max(ts_us) AS last_us
       |  FROM s GROUP BY user_id, sid),
       |m AS (SELECT user_id, max(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us
       |      FROM events GROUP BY user_id)""".stripMargin

  /** The streaming IVF gates' micro-batches as CTEs: the batch `span`
    * (a tenth of the corpus, at least 200 ids) in `sp` and the vector
    * count per batch in `b`. */
  private val ivfBatchesSql: String =
    """sp AS (
      |  SELECT greatest(200, count(*) // 10) AS span FROM embeddings),
      |b AS (
      |  SELECT vec_id // (SELECT span FROM sp) AS batch_id,
      |    count(*) AS n_vectors
      |  FROM embeddings GROUP BY 1)""".stripMargin

  val all: Seq[Gate] = Seq(

    // Streaming — tumbling 1h window agg via AvailableNow drain.
    Gate("stream_tumbling_agg", (s, dir) =>
      graft.streaming.Streams.tumblingHourlyAgg(s, dir),
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        | count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Streaming — 2h/1h hopping windows: every event in exactly two
    // overlapping windows (oracle replicates each event to its two
    // covering window starts).
    Gate("stream_hopping_agg", (s, dir) =>
      graft.streaming.Streams.hoppingTwoHourAgg(s, dir),
      // Hopping windows, relationally: a 2h-long window sliding by 1h
      // (epoch-aligned, like Spark's) covers an event iff the window
      // start is date_trunc('hour', ts) or one hour before it — so each
      // event replicates to k ∈ {0, 1} and the rest is a plain GROUP BY.
      """SELECT date_trunc('hour', ts) - k * INTERVAL 1 HOUR AS window_start,
        | event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM events CROSS JOIN (VALUES (0), (1)) AS hops(k)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Streaming — 30-min-gap session windows per user.
    Gate("stream_sessionize", (s, dir) =>
      graft.streaming.Streams.sessionizeByGap(s, dir),
      sessionsOracle),

    // Streaming — arbitrary per-key state via mapGroupsWithState.
    Gate("stream_user_state", (s, dir) =>
      graft.streaming.Streams.statefulUserState(s, dir),
      """SELECT user_id, last_event_id, n_events FROM (
        |  SELECT user_id, event_id AS last_event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_events
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin),

    // Streaming — exact dedup within watermark, then counts per type.
    Gate("stream_dedup_counts", (s, dir) =>
      graft.streaming.Streams.dedupCounts(s, dir),
      """SELECT event_type, count(DISTINCT event_id) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Streaming — stream-stream interval join (two watermarks, join
    // state bounded by the time-range condition).
    Gate("stream_join_clickview", (s, dir) =>
      graft.streaming.Streams.clickViewJoin(s, dir),
      // Batch form of the stream-stream interval join: same pairs.
      """SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id
        |FROM events c JOIN events v
        |  ON c.user_id = v.user_id
        | AND v.ts >= c.ts - INTERVAL 1 HOUR AND v.ts <= c.ts
        |WHERE c.event_type = 'click' AND v.event_type = 'view'
        |  AND c.user_id < 200
        |ORDER BY click_id, view_id""".stripMargin),

    // Streaming — stream-stream LEFT OUTER interval join: unmatched
    // clicks emit null view_ids only on state expiry (watermark-
    // driven); output restricted to clicks the final watermark fully
    // decided, so the batch oracle's cut is identical.
    Gate("stream_join_left_outer", (s, dir) =>
      graft.streaming.Streams.clickViewLeftJoin(s, dir),
      """WITH ev AS (SELECT * FROM events WHERE user_id < 200),
        |clicks AS (SELECT event_id AS click_id, user_id, ts AS click_ts
        |           FROM ev WHERE event_type = 'click'),
        |views AS (SELECT event_id AS view_id, user_id AS vu, ts AS view_ts
        |          FROM ev WHERE event_type = 'view'),
        |cut AS (SELECT least(
        |    (SELECT max(epoch_us(ts)) FROM ev WHERE event_type = 'click'),
        |    (SELECT max(epoch_us(ts)) FROM ev WHERE event_type = 'view'))
        |    - 3660000000 AS t)
        |SELECT c.click_id, c.user_id, v.view_id
        |FROM clicks c LEFT JOIN views v
        |  ON c.user_id = v.vu
        | AND v.view_ts >= c.click_ts - INTERVAL 1 HOUR
        | AND v.view_ts <= c.click_ts
        |WHERE epoch_us(c.click_ts) < (SELECT t FROM cut)
        |ORDER BY click_id, view_id""".stripMargin),

    // Streaming — stream-stream FULL OUTER interval join: expired
    // unmatched rows from BOTH sides emit null-extended; two-threshold
    // watermark cut (views expire an hour later than clicks) applied
    // identically in the batch oracle.
    Gate("stream_join_full_outer", (s, dir) =>
      graft.streaming.Streams.clickViewFullJoin(s, dir),
      """WITH ev AS (SELECT * FROM events WHERE user_id < 200),
        |clicks AS (SELECT event_id AS click_id, user_id, ts AS click_ts
        |           FROM ev WHERE event_type = 'click'),
        |views AS (SELECT event_id AS view_id, user_id AS vu, ts AS view_ts
        |          FROM ev WHERE event_type = 'view'),
        |wm AS (SELECT least(
        |    (SELECT max(epoch_us(ts)) FROM ev WHERE event_type = 'click'),
        |    (SELECT max(epoch_us(ts)) FROM ev WHERE event_type = 'view'))
        |    - 3600000000 AS t)
        |SELECT c.click_id, coalesce(c.user_id, v.vu) AS user_id, v.view_id
        |FROM clicks c FULL OUTER JOIN views v
        |  ON c.user_id = v.vu
        | AND v.view_ts >= c.click_ts - INTERVAL 1 HOUR
        | AND v.view_ts <= c.click_ts
        |WHERE (c.click_ts IS NULL
        |       OR epoch_us(c.click_ts) < (SELECT t FROM wm) - 60000000)
        |  AND (v.view_ts IS NULL
        |       OR epoch_us(v.view_ts) < (SELECT t FROM wm) - 3660000000)
        |ORDER BY click_id, view_id""".stripMargin),

    // Streaming — stream-STATIC dimension-enrichment join (stateless;
    // static side broadcast per micro-batch).
    Gate("stream_static_enrich", (s, dir) =>
      graft.streaming.Streams.staticEnrichAgg(s, dir),
      """SELECT c_mktsegment, event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Streaming — flatMapGroupsWithState sessionizer with EVENT-TIME
    // TIMEOUT (watermark closes idle sessions). Whether a user's FINAL
    // session has been closed by the watermark at drain end depends on
    // micro-batch boundaries, so the gate keeps only deterministically
    // closed sessions: those not containing the user's last event
    // (every such session emits exactly once, by event or by timeout,
    // with identical content either way).
    Gate("stream_session_timeout", (s, dir) => {
      val out = graft.streaming.Streams.sessionizeWithTimeout(s, dir)
      val lastTs = Tables.events(s, dir).groupBy("user_id")
        .agg(max(unix_micros(col("ts"))).as("_max_us"))
      // user-cardinality frame — no broadcast hint (AQE decides by size)
      out.join(lastTs, "user_id")
        .filter(col("session_end_us") - lit(1800000000L) =!= col("_max_us"))
        .select("user_id", "session_start_us", "session_end_us", "n_events")
        .orderBy("user_id", "session_start_us")
    },
      s"""$closedSessionCtes
        |SELECT g.user_id, g.session_start_us, g.session_end_us, g.n_events
        |FROM g JOIN m ON g.user_id = m.user_id
        |WHERE g.last_us <> m.max_us
        |ORDER BY g.user_id, g.session_start_us""".stripMargin),

    // Streaming — engine-NATIVE session_window aggregation (append +
    // watermark): the zero-custom-code sessionizer beside the
    // flatMapGroupsWithState timeout form. Gate keeps sessions BOTH
    // cuts agree are closed: not the user's final session, and ending
    // clear of the terminal 40-minute watermark band (10-min delay +
    // 30-min gap) where emission depends on micro-batch boundaries.
    Gate("stream_session_window", (s, dir) => {
      val out = graft.streaming.Streams.sessionWindowStream(s, dir)
      val ev = Tables.events(s, dir)
      val lastTs = ev.groupBy("user_id")
        .agg(max(unix_micros(col("ts"))).as("_max_us"))
      val globalCut = ev.agg((max(unix_micros(col("ts"))) - 2400000000L).as("_cut"))
      out.join(lastTs, "user_id").crossJoin(broadcast(globalCut))
        .filter(col("session_end_us") - lit(1800000000L) =!= col("_max_us") &&
          col("session_end_us") <= col("_cut"))
        .select("user_id", "session_start_us", "session_end_us", "n_events")
        .orderBy("user_id", "session_start_us")
    },
      s"""$closedSessionCtes,
        |gm AS (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) - 2400000000 AS cut
        |       FROM events)
        |SELECT g.user_id, g.session_start_us, g.session_end_us, g.n_events
        |FROM g JOIN m ON g.user_id = m.user_id, gm
        |WHERE g.last_us <> m.max_us AND g.session_end_us <= gm.cut
        |ORDER BY g.user_id, g.session_start_us""".stripMargin),

    // Streaming — transformWithState (Spark 4 arbitrary-state API):
    // per-(user, event type) running counts in a per-key MapState on
    // RocksDB; final counts equal the batch GROUP BY.
    Gate("stream_tws_type_counts", (s, dir) =>
      graft.streaming.Streams.typeCountsTws(s, dir),
      """SELECT user_id, event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Count-Min built INCREMENTALLY from the event STREAM, then
    // certified two ways: per-key estimates against the oracle's exact
    // counts (same verdict rows as sketch_countmin), and
    // stream_matches_batch — a full-outer cell-for-cell comparison of
    // the streamed sketch against the batch-built one riding the same
    // result (null-safe equality; any cell drift flips every row's
    // pinned TRUE). Linearity is what makes sketches incremental; this
    // gate proves the engine's streaming path preserves it.
    // Streamed AMS F2 — the signed-linearity twin of stream_countmin:
    // the sketch built incrementally across micro-batches must be
    // cell-identical to the batch build (full-outer null-safe cell
    // compare riding the result row), and the F2 estimate from the
    // STREAMED sketch must meet the batch gate's 30% bound against the
    // oracle-recomputed exact F2 over user_id.
    Gate("stream_ams_f2", (s, dir) => {
      val sk = graft.streaming.Streams.amsStream(s, dir, depth = 5, width = 256)
      val ev = Tables.events(s, dir)
      val batchSk = graft.ops.Sketch.amsSketch(ev, "user_id",
        depth = 5, width = 256)
      val agreement = sk
        .join(batchSk.withColumnRenamed("cell", "cell_b"), Seq("r", "c"), "full")
        .agg(sum(when(coalesce(col("cell"), lit(0L)) <=>
            coalesce(col("cell_b"), lit(0L)), lit(0L)).otherwise(lit(1L)))
          .as("_mm"))
      val est = graft.ops.Sketch.amsF2Estimate(sk, depth = 5)
      val exact = ev.groupBy("user_id").agg(count(lit(1)).as("_n"))
        .agg(sum(col("_n") * col("_n")).as("f2_exact"))
      exact.crossJoin(est).crossJoin(broadcast(agreement))
        .select(col("f2_exact"),
          (abs(col("f2_est") - col("f2_exact")) * 100 <=
            col("f2_exact") * 30).as("est_in_30pct"),
          (col("_mm") === 0L).as("stream_matches_batch"))
    },
      """WITH c AS (
        |  SELECT user_id, count(*) AS n FROM events GROUP BY 1)
        |SELECT CAST(sum(n * n) AS BIGINT) AS f2_exact,
        |  TRUE AS est_in_30pct, TRUE AS stream_matches_batch
        |FROM c""".stripMargin),

    // STREAMING near-dup admission: new docs (doc_id % 5 == 0) arrive
    // as a file-source stream, are LSH-banded per row (stateless), and
    // join a precomputed static bucket index of the historical corpus
    // (doc_id % 5 != 0) with exact-Jaccard verification — the dedup
    // gate a live ingestion pipeline runs. Verdict: truth = exact
    // all-pairs new×hist string-shingle Jaccard (recomputed by the
    // oracle); emitted_all_true pins zero false admissions-blocks,
    // recall_floor_met pins ≥70% of true collisions caught (the
    // documented LSH trade at the b=8/r=4 S-curve).
    Gate("stream_minhash_neardup", (s, dir) => {
      val emitted = graft.streaming.Streams.streamMinhashNearDup(s, dir)
        .select(col("new_id"), col("hist_id"), lit(1).as("_e"))
      val d = Tables.documents(s, dir).filter(col("doc_id") < 400)
      val sh = d.select(col("doc_id"),
        Dedup.wordShingles(lower(col("text")), 3).as("_s"))
        // frozen: the truth table's exploded self-join plus the size
        // joins evaluated the shingle kernel several times (r16)
        .transform(Pins.freeze)
      val sz = sh.select(col("doc_id"), size(col("_s")).as("_n"))
      val ex = sh.select(col("doc_id"), explode(col("_s")).as("_sh"))
      val truth = ex.as("a").join(ex.as("b"),
          col("a._sh") === col("b._sh") &&
          col("a.doc_id") % 5 === 0 && col("b.doc_id") % 5 =!= 0)
        .groupBy(col("a.doc_id").as("new_id"), col("b.doc_id").as("hist_id"))
        .agg(count(lit(1)).as("_inter"))
        .join(sz.select(col("doc_id").as("new_id"), col("_n").as("_na")),
          Seq("new_id"))
        .join(sz.select(col("doc_id").as("hist_id"), col("_n").as("_nb")),
          Seq("hist_id"))
        .filter(col("_inter").cast("double") /
          (col("_na") + col("_nb") - col("_inter")).cast("double") >= 0.3)
        .select(col("new_id"), col("hist_id"), lit(1).as("_t"))
      val stats = truth.join(emitted, Seq("new_id", "hist_id"), "full_outer")
        .agg(count(col("_t")).as("n_true_pairs"),
          sum(when(col("_t").isNotNull && col("_e").isNotNull, 1L)
            .otherwise(0L)).as("_hit"),
          sum(when(col("_e").isNotNull && col("_t").isNull, 1L)
            .otherwise(0L)).as("_fp"))
      d.agg(sum(when(col("doc_id") % 5 === 0, 1L).otherwise(0L)).as("n_new"),
          sum(when(col("doc_id") % 5 =!= 0, 1L).otherwise(0L)).as("n_hist"))
        .crossJoin(stats)
        .select(col("n_new"), col("n_hist"), col("n_true_pairs"),
          (coalesce(col("_fp"), lit(0L)) === 0L).as("emitted_all_true"),
          (coalesce(col("_hit"), lit(0L)) * 10 >= col("n_true_pairs") * 7)
            .as("recall_floor_met"))
    },
      // The x3_minhash truth replay restricted to new×hist pairs (the
      // streaming admission split), booleans pinned after measuring.
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
        |sh AS (
        |  SELECT doc_id,
        |${wordShinglesSql("w")} AS s
        |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM d) t),
        |tp AS (
        |  SELECT count(*) AS n_true_pairs
        |  FROM sh a JOIN sh b ON a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / (CAST(len(a.s) AS DOUBLE) + CAST(len(b.s) AS DOUBLE)
        |         - CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)) >= 0.3)
        |SELECT
        |  (SELECT count(*) FROM d WHERE doc_id % 5 = 0) AS n_new,
        |  (SELECT count(*) FROM d WHERE doc_id % 5 <> 0) AS n_hist,
        |  CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
        |  TRUE AS emitted_all_true, TRUE AS recall_floor_met
        |FROM tp""".stripMargin),

    // X110b — INCREMENTAL streaming admission: the index GROWS inside
    // foreachBatch, so a doc admitted in batch b blocks its near-dup in
    // batch b+1. Candidate channel is the lossless prefix filter (an
    // LSH miss would cascade through every later verdict), so the whole
    // verdict sequence is exact-Jaccard-replayable: the oracle unrolls
    // the four batch generations as chained CTEs. All-integer output.
    Gate("stream_minhash_incr", (s, dir) => {
      graft.streaming.Streams.streamMinhashIncr(s, dir,
          shingleK = 3, thresholdPct = 50, maxId = 400L, nBatches = 4)
        .orderBy("doc_id")
    },
      s"""WITH d AS (
        |  SELECT doc_id,
        |${wordShinglesSql("w")} AS s
        |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
        |        FROM documents WHERE doc_id < 400) t),
        |hist AS (SELECT doc_id, s FROM d WHERE doc_id % 5 = 3),
        |strm AS (SELECT doc_id, s, doc_id // 100 AS b FROM d WHERE doc_id % 5 <> 3),
        |blk0 AS (SELECT x.doc_id, y.doc_id AS blocker FROM strm x JOIN hist y
        |  ON x.b = 0 AND len(list_intersect(x.s, y.s)) * 100
        |     >= (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) * 50),
        |idx1 AS (SELECT doc_id, s FROM hist UNION ALL
        |  SELECT doc_id, s FROM strm WHERE b = 0
        |    AND doc_id NOT IN (SELECT doc_id FROM blk0)),
        |blk1 AS (SELECT x.doc_id, y.doc_id AS blocker FROM strm x JOIN idx1 y
        |  ON x.b = 1 AND len(list_intersect(x.s, y.s)) * 100
        |     >= (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) * 50),
        |idx2 AS (SELECT doc_id, s FROM idx1 UNION ALL
        |  SELECT doc_id, s FROM strm WHERE b = 1
        |    AND doc_id NOT IN (SELECT doc_id FROM blk1)),
        |blk2 AS (SELECT x.doc_id, y.doc_id AS blocker FROM strm x JOIN idx2 y
        |  ON x.b = 2 AND len(list_intersect(x.s, y.s)) * 100
        |     >= (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) * 50),
        |idx3 AS (SELECT doc_id, s FROM idx2 UNION ALL
        |  SELECT doc_id, s FROM strm WHERE b = 2
        |    AND doc_id NOT IN (SELECT doc_id FROM blk2)),
        |blk3 AS (SELECT x.doc_id, y.doc_id AS blocker FROM strm x JOIN idx3 y
        |  ON x.b = 3 AND len(list_intersect(x.s, y.s)) * 100
        |     >= (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) * 50),
        |blk AS (SELECT * FROM blk0 UNION ALL SELECT * FROM blk1
        |  UNION ALL SELECT * FROM blk2 UNION ALL SELECT * FROM blk3),
        |agg AS (SELECT doc_id, count(*) AS n_blockers, min(blocker) AS first_blocker
        |  FROM blk GROUP BY doc_id)
        |SELECT s.doc_id, CAST(s.b AS BIGINT) AS batch_id,
        |  (a.doc_id IS NULL) AS admitted,
        |  CAST(coalesce(a.n_blockers, 0) AS BIGINT) AS n_blockers,
        |  a.first_blocker
        |FROM strm s LEFT JOIN agg a USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin),

    // STREAMING IVF INGEST — the persisted vector index fed from a
    // stream: batch 0 trains + builds, later logical batches append
    // through the shared hash-agg argmax, the staleness census runs
    // after every batch (same-distribution arrivals must never fire),
    // and the final lists must equal the one-shot batch build's
    // assignment both ways. Per-batch counts replay closed-form from
    // vec_id div span; the equality and census verdicts ride booleans.
    // The span is SCALE-AWARE (r14): max(200, N/10) pins the batch-0
    // train fraction at ~10% of the corpus at every sf — the fixed 200
    // left sf1.0's batch 0 training on 1% and the fit census fired by
    // design, not defect. Driver scales are unchanged (N/10 ≤ 200
    // there); probes that certify flat per-batch marginals at high
    // batch counts pass their own span.
    Gate("stream_ivf_ingest", (s, dir) => {
      val n = Tables.embeddings(s, dir).count()
      graft.streaming.Streams.streamIvfIngest(s, dir,
          span = math.max(200L, n / 10L), k = 16)
        .orderBy("batch_id")
    },
      // Exact replay of batch-granular greedy admission: the four index
      // generations unroll as chained CTEs (idx_{b+1} = idx_b + batch b's
      // admitted docs), blockers at integer-Jaccard ≥ 50%.
      // Streaming IVF ingest replay: per-logical-batch counts are pure
      // arithmetic over vec_id div span; census/equality verdicts ride
      // booleans (the op computes them against its own index).
      s"""WITH $ivfBatchesSql,
        |c AS (
        |  SELECT batch_id, n_vectors,
        |    sum(n_vectors) OVER (ORDER BY batch_id) AS run_total,
        |    first_value(n_vectors) OVER (ORDER BY batch_id) AS n0
        |  FROM b)
        |SELECT CAST(batch_id AS BIGINT) AS batch_id,
        |  CAST(n_vectors AS BIGINT) AS n_vectors,
        |  CAST(run_total AS BIGINT) AS n_total,
        |  CAST(run_total - n0 AS BIGINT) AS n_appended,
        |  TRUE AS no_retrain, FALSE AS census_fired, FALSE AS retrained,
        |  FALSE AS post_retrain_clear, TRUE AS matches_batch_build
        |FROM c ORDER BY batch_id""".stripMargin),

    // The SELF-HEALING variant: the final logical batch is poisoned
    // into the degenerate zero-vector regime, the post-append census
    // FIRES inside foreachBatch, the ingest retrains right there
    // (zero-norm quarantine + stats reset) and re-censuses clean —
    // detect → retrain → verify running unattended in the stream. The
    // equality pin compares against the scorable corpus under the
    // RETRAINED centroids. Runs singleTrigger (whole landing dir in one
    // AvailableNow trigger): foreachBatch regroups by logical batch so
    // the output is IDENTICAL to the per-file drain (StreamingSpec pins
    // the row-level equality) minus ~10 per-trigger streaming floors;
    // stream_ivf_ingest stays multi-trigger to pin trigger boundaries.
    Gate("stream_ivf_heal", (s, dir) => {
      val n = Tables.embeddings(s, dir).count()
      graft.streaming.Streams.streamIvfIngestSelfHealing(s, dir,
          span = math.max(200L, n / 10L), k = 16, singleTrigger = true)
        .orderBy("batch_id")
    },
      // Self-healing replay: the poisoned LAST batch fires, retrains, and
      // leaves the index holding only the scorable corpus (n_total drops
      // by the poisoned batch's count, n_appended resets to 0).
      s"""WITH $ivfBatchesSql,
        |mx AS (SELECT max(batch_id) AS mb FROM b),
        |c AS (
        |  SELECT batch_id, n_vectors,
        |    sum(n_vectors) OVER (ORDER BY batch_id) AS run_total,
        |    first_value(n_vectors) OVER (ORDER BY batch_id) AS n0
        |  FROM b)
        |SELECT CAST(c.batch_id AS BIGINT) AS batch_id,
        |  CAST(c.n_vectors AS BIGINT) AS n_vectors,
        |  CAST(CASE WHEN c.batch_id = mx.mb THEN c.run_total - c.n_vectors
        |    ELSE c.run_total END AS BIGINT) AS n_total,
        |  CAST(CASE WHEN c.batch_id = mx.mb THEN 0
        |    ELSE c.run_total - c.n0 END AS BIGINT) AS n_appended,
        |  TRUE AS no_retrain,
        |  (c.batch_id = mx.mb) AS census_fired,
        |  (c.batch_id = mx.mb) AS retrained,
        |  (c.batch_id = mx.mb) AS post_retrain_clear,
        |  TRUE AS matches_batch_build
        |FROM c, mx ORDER BY batch_id""".stripMargin),

    Gate("stream_countmin", (s, dir) => {
      import s.implicits._
      val sk = graft.streaming.Streams.countMinStream(s, dir, depth = 4, width = 1024)
      val ev = Tables.events(s, dir)
      val batchSk = graft.ops.Sketch.countMin(ev, "event_type", depth = 4, width = 1024)
      val agreement = sk
        .join(batchSk.withColumnRenamed("cnt", "cnt_b"), Seq("r", "c"), "full")
        .agg(sum(when(col("cnt") <=> col("cnt_b"), lit(0L)).otherwise(lit(1L)))
          .as("_mm"))
      val probes = ev.select(col("event_type").as("key")).distinct()
        .unionByName(Seq("ghost_a", "ghost_b", "ghost_c").toDF("key"))
      val truth = ev.groupBy(col("event_type").as("key")).agg(count(lit(1)).as("_n"))
      graft.ops.Sketch.cmsEstimate(sk, probes, "key", depth = 4, width = 1024)
        .join(truth, Seq("key"), "left")
        .crossJoin(broadcast(agreement))
        .select(col("key"), coalesce(col("_n"), lit(0L)).as("n_true"),
          (col("est") === coalesce(col("_n"), lit(0L))).as("est_eq_true"),
          (col("_mm") === 0L).as("stream_matches_batch"))
        .orderBy("key")
    },
      """WITH t AS (
        |  SELECT event_type AS key, count(*) AS n_true
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT key, n_true FROM t
        |  UNION ALL SELECT 'ghost_a', 0
        |  UNION ALL SELECT 'ghost_b', 0
        |  UNION ALL SELECT 'ghost_c', 0)
        |SELECT key, CAST(n_true AS BIGINT) AS n_true,
        |  TRUE AS est_eq_true, TRUE AS stream_matches_batch
        |FROM p ORDER BY key""".stripMargin)
  )
}
