package graft
package gates

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Dedup, Pins}
import Fixtures._

/** Exact, fuzzy and near-dup text dedup, decontamination, sampling
  * (SURVEY §2.5 X1/X3) and record linkage. */
object DedupGates {

  /** The span gates' 5-token spans as CTEs: non-empty space-split
    * tokens `b` and every (doc_id, pos, span) in `s`. */
  private val spansSql: String =
    """b AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, pos, array_to_string(w[pos+1:pos+5], ' ') AS span
      |  FROM (SELECT doc_id, w, unnest(range(0, len(w) - 4)) AS pos
      |        FROM b WHERE len(w) >= 5))""".stripMargin

  val all: Seq[Gate] = Seq(

    // X1 — exact dedup via content digest (group on sha2, min id kept).
    Gate("x1_dedup_exact", (s, dir) => {
      Dedup.exactByContent(Tables.documents(s, dir), "text", "doc_id")
        .orderBy("content_hash")
    },
      """SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id,
        | count(*) AS n_dupes
        |FROM documents GROUP BY sha256(text) ORDER BY content_hash""".stripMargin),

    // X1 — incremental ingestion dedup: batch N (doc_id >= 250)
    // compacts to one row per digest, then anti-joins the digest store
    // accumulated from prior batches (doc_id < 250) — what an append-
    // only corpus runs on every new crawl drop.
    Gate("x1_dedup_incremental", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val seen = docs.filter(col("doc_id") < 250)
        .select(Dedup.contentHash(col("text")).as("content_hash")).distinct()
      Dedup.dedupAgainstSeen(docs.filter(col("doc_id") >= 250), seen, "text", "doc_id")
        .orderBy("content_hash")
    },
      """WITH seen AS (
        |  SELECT DISTINCT sha256(text) AS h FROM documents WHERE doc_id < 250),
        |batch AS (
        |  SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id,
        |         count(*) AS n_dupes
        |  FROM documents WHERE doc_id >= 250 GROUP BY 1)
        |SELECT content_hash, keep_id, n_dupes FROM batch
        |WHERE content_hash NOT IN (SELECT h FROM seen)
        |ORDER BY content_hash""".stripMargin),

    // X1 — deterministic dropDuplicates: first doc per (lang, source).
    Gate("x1_dedup_first_per_key", (s, dir) => {
      Dedup.firstPerKey(Tables.documents(s, dir), Seq("lang", "source"), Seq("doc_id"))
        .select(col("lang"), col("source"), col("doc_id"))
        .orderBy("lang", "source")
    },
      """SELECT lang, source, doc_id FROM (
        |  SELECT lang, source, doc_id,
        |         ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
        |  FROM documents) t
        |WHERE rn = 1 ORDER BY lang, source""".stripMargin),

    // X3 — MinHash+LSH near-dup, hash-gated through a verdict row: the
    // banding candidate set has no SQL twin, but against the in-query
    // EXACT truth (bounded subset, string-shingle Jaccard — a different
    // dataflow than the op's hashed-shingle kernel) precision and recall
    // are checkable facts. The truth is the inverted-index exact form —
    // explode shingles, self-join on the shingle, count common per pair,
    // Jaccard from |A|+|B|−|A∩B| — identical values to all-pairs
    // array_intersect (arrays are distinct; zero-overlap pairs can't
    // reach j≥0.3) at a fraction of its cost, and the shape that
    // generalizes: cost is Σ_shingle(df choose 2), not n². n_true_pairs
    // is real data the oracle recomputes (all-pairs SQL — DuckDB's
    // list_intersect is cheap at 400 docs); emitted_all_true pins the
    // op's verify promise (precision 1 by construction); the 70% recall
    // floor holds with room — the fixture's true pairs are high-Jaccard
    // near-dups, where the b=8/r=4 S-curve is ≈1 (measured 18/18,
    // 15/15, 0/0 across SFs; a borderline j≈0.3 pair would legitimately
    // band-miss, which is the documented LSH trade).
    Gate("x3_minhash_neardup", (s, dir) => {
      val d = docsSpread(s, dir).filter(col("doc_id") < 400)
      val emitted = Dedup.minHashNearDups(d, "doc_id", "text",
          shingleK = 3, bands = 8, rows = 4, minJaccard = 0.3)
        .select(col("id_a"), col("id_b"), lit(1).as("_e"))
      val sh = d.select(col("doc_id"),
        Dedup.wordShingles(lower(col("text")), 3).as("_s"))
        // frozen: the truth table's exploded self-join plus the size
        // joins evaluated the shingle kernel several times (r16)
        .transform(Pins.freeze)
      val sz = sh.select(col("doc_id"), size(col("_s")).as("_n"))
      val ex = sh.select(col("doc_id"), explode(col("_s")).as("_sh"))
      val truth = ex.as("a").join(ex.as("b"),
          col("a._sh") === col("b._sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("_inter"))
        .join(sz.select(col("doc_id").as("id_a"), col("_n").as("_na")), Seq("id_a"))
        .join(sz.select(col("doc_id").as("id_b"), col("_n").as("_nb")), Seq("id_b"))
        .filter(col("_inter").cast("double") /
          (col("_na") + col("_nb") - col("_inter")).cast("double") >= 0.3)
        .select(col("id_a"), col("id_b"), lit(1).as("_t"))
      val stats = truth.join(emitted, Seq("id_a", "id_b"), "full_outer")
        .agg(count(col("_t")).as("n_true_pairs"),
          sum(when(col("_t").isNotNull && col("_e").isNotNull, 1L).otherwise(0L)).as("_hit"),
          sum(when(col("_e").isNotNull && col("_t").isNull, 1L).otherwise(0L)).as("_fp"))
      d.agg(count(lit(1)).as("n_docs")).crossJoin(stats)
        .select(col("n_docs"), col("n_true_pairs"),
          (coalesce(col("_fp"), lit(0L)) === 0L).as("emitted_all_true"),
          (coalesce(col("_hit"), lit(0L)) * 10 >= col("n_true_pairs") * 7)
            .as("recall_floor_met"))
    },
      // Verdict-row twins for the former rows-only exemptions: the oracle
      // recomputes the REAL data columns (doc/vec/stratum/user counts, true-
      // pair counts via the same exact all-pairs SQL) and pins every verdict
      // boolean TRUE — so an index/sketch/sampler regression flips a
      // hash-gated row instead of hiding behind a rows-only pass.
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
        |sh AS (
        |  SELECT doc_id,
        |${wordShinglesSql("w")} AS s
        |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM d) t),
        |tp AS (
        |  SELECT count(*) AS n_true_pairs
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / (CAST(len(a.s) AS DOUBLE) + CAST(len(b.s) AS DOUBLE)
        |         - CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)) >= 0.3)
        |SELECT (SELECT count(*) FROM d) AS n_docs,
        |  CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
        |  TRUE AS emitted_all_true, TRUE AS recall_floor_met
        |FROM tp""".stripMargin),

    // X3 variant — SimHash Hamming-ball near-dup, hash-gated through a
    // verdict row. SimHash's ground truth IS the fingerprint metric, so
    // unlike minhash there is no engine-neutral truth table to count;
    // the gate instead re-derives every emitted pair's fingerprints
    // through the interpreted HOF path (simHashFromHashes — a different
    // dataflow than the op's codegen kernel) and pins: the recomputed
    // Hamming distance matches and clears maxHamming for EVERY pair,
    // pair shape is canonical (id_a < id_b, no dupes), and the emitted
    // count clears a floor (measured 384 at sf0.01 full corpus).
    Gate("x3_simhash_neardup", (s, dir) => {
      val d = Tables.documents(s, dir)
      val emitted = Dedup.simHashNearDups(d, "doc_id", "text", maxHamming = 8)
      val fp = d
        .select(col("doc_id"), Dedup.tokenHashes(col("text")).as("_th"))
        .select(col("doc_id"),
          Dedup.simHashFromHashes(col("_th"), size(col("_th"))).as("_fp"))
      val checked = emitted
        .join(fp.select(col("doc_id").as("id_a"), col("_fp").as("_fa")), Seq("id_a"))
        .join(fp.select(col("doc_id").as("id_b"), col("_fp").as("_fb")), Seq("id_b"))
        .agg(count(lit(1)).as("_n"),
          count_distinct(struct(col("id_a"), col("id_b"))).as("_nd"),
          bool_and(col("id_a") < col("id_b")).as("_canon"),
          bool_and(col("hamming") ===
            bit_count(col("_fa").bitwiseXOR(col("_fb"))).cast("long") &&
            col("hamming") <= 8).as("_ham_ok"))
      d.agg(count(lit(1)).as("n_docs")).crossJoin(checked)
        .select(col("n_docs"),
          (coalesce(col("_canon"), lit(true)) && col("_nd") === col("_n"))
            .as("pairs_wellformed"),
          coalesce(col("_ham_ok"), lit(true)).as("hamming_verified"),
          (col("_n") >= 50L).as("pair_floor_met"))
    },
      """SELECT count(*) AS n_docs, TRUE AS pairs_wellformed,
        |  TRUE AS hamming_verified, TRUE AS pair_floor_met
        |FROM documents""".stripMargin),

    // X3 verify kernel — exact word-3-shingle Jaccard on adjacent-id pairs.
    // Containment (overlap coefficient) — the ASYMMETRIC near-dup
    // signal Jaccard structurally misses: a doc fully embedded in a
    // larger one scores containment 1.0 but Jaccard near zero.
    // Exact integer micros (sizes + one trunc-div — no float surface
    // at all). Two pair kinds: natural adjacent docs (low scores) and
    // each doc vs its own 60%-word prefix, whose shingles are a
    // strict subset of the full doc's — containment EXACTLY 10⁶ by
    // construction, the branch a symmetric measure cannot reach.
    Gate("x3_containment", (s, dir) => {
      val d = Tables.documents(s, dir)
      val w = split(lower(col("text")), "\\s+")
      val base = d.select(col("doc_id"), col("text"),
        array_join(slice(w, lit(1),
          greatest(lit(3), expr("(size(split(lower(text), '\\\\s+')) * 3) div 5")
            .cast("int"))), " ").as("prefix_text"))
      val full = base.select(col("doc_id"),
        Dedup.wordShingles(lower(col("text")), 3).as("_sf"),
        Dedup.wordShingles(lower(col("prefix_text")), 3).as("_sp"))
      val adjacent = full.select(col("doc_id").as("id_a"), col("_sf").as("_sa"))
        .join(full.select(col("doc_id").as("id_b"), col("_sf").as("_sb")),
          col("id_a") + 1 === col("id_b"))
        .select(lit("adjacent").as("kind"), col("id_a"), col("id_b"),
          Dedup.containmentMicro(col("_sa"), col("_sb")).as("containment_micro"))
      val prefix = full.select(lit("self_prefix").as("kind"),
        col("doc_id").as("id_a"), col("doc_id").as("id_b"),
        Dedup.containmentMicro(col("_sp"), col("_sf")).as("containment_micro"))
      adjacent.unionByName(prefix).orderBy("kind", "id_a")
    },
      s"""WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, w,
        |    list_slice(w, 1, greatest(3, (len(w) * 3) // 5)) AS pw
        |  FROM t),
        |sh AS (
        |  SELECT doc_id,
        |${wordShinglesSql("w")} AS sf,
        |${wordShinglesSql("pw")} AS sp
        |  FROM p),
        |adj AS (
        |  SELECT 'adjacent' AS kind, a.doc_id AS id_a, b.doc_id AS id_b,
        |    CASE WHEN least(len(a.sf), len(b.sf)) <= 0 THEN 0
        |      ELSE (len(list_intersect(a.sf, b.sf)) * 1000000)
        |        // least(len(a.sf), len(b.sf)) END AS c
        |  FROM sh a JOIN sh b ON a.doc_id + 1 = b.doc_id),
        |pre AS (
        |  SELECT 'self_prefix' AS kind, doc_id AS id_a, doc_id AS id_b,
        |    CASE WHEN least(len(sp), len(sf)) <= 0 THEN 0
        |      ELSE (len(list_intersect(sp, sf)) * 1000000)
        |        // least(len(sp), len(sf)) END AS c
        |  FROM sh)
        |SELECT kind, id_a, id_b, CAST(c AS BIGINT) AS containment_micro
        |FROM (SELECT * FROM adj UNION ALL SELECT * FROM pre)
        |ORDER BY kind, id_a""".stripMargin),

    // X3 — b-bit minwise signatures (one LONG per doc, 64× smaller
    // than the full 64-slot signature): population-mean estimates of
    // Jaccard from the packed bits vs the full signature vs exact
    // shingle Jaccard, over a planted NEAR population (every doc vs
    // its one-token-appended twin) and a FAR population (doc i vs
    // i+150). Means ride exact integer micros (hash-replayable); the
    // two estimator verdicts pin measured bands (BENCH_NOTES round 9).
    Gate("x3_bbit_minhash", (s, dir) => {
      val base = Tables.documents(s, dir).filter(col("doc_id") < 300)
        .select(col("doc_id"), col("text"))
      val twins = base.select((col("doc_id") + 100000L).as("doc_id"),
        concat(col("text"), lit(" trailing twin marker token")).as("text"))
      val corpus = base.unionByName(twins)
      val near = base.select(col("doc_id").as("id_a"),
        (col("doc_id") + 100000L).as("id_b"))
      val far = base.filter(col("doc_id") < 150)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 150L).as("id_b"))
      val est = Dedup.bbitMinhashEstimate(corpus, "doc_id", "text",
        near.unionByName(far))
      est.withColumn("kind",
          when(col("id_b") >= 100000L, "near").otherwise("far"))
        .groupBy("kind")
        .agg(count(lit(1)).as("n_pairs"),
          call_function("div", sum(col("jaccard_exact_micro")),
            count(lit(1))).as("mean_exact_micro"),
          call_function("div", sum(col("est_full_micro")),
            count(lit(1))).as("_mf"),
          call_function("div", sum(col("est_bbit_micro")),
            count(lit(1))).as("_mb"))
        .select(col("kind"), col("n_pairs"), col("mean_exact_micro"),
          (abs(col("_mf") - col("mean_exact_micro")) <= 60000L).as("full_close"),
          (abs(col("_mb") - col("mean_exact_micro")) <= 120000L).as("bbit_close"))
        .orderBy("kind")
    },
      // replay of the pair populations and EXACT mean Jaccard (trunc-
      // micros, per-pair div then mean div, matching the Spark side);
      // the two estimator verdicts ride booleans (minhash draws are not
      // SQL-replayable — same convention as the other minhash gates)
      s"""WITH base AS (
        |  SELECT doc_id, lower(text) AS t FROM documents WHERE doc_id < 300),
        |all_docs AS (
        |  SELECT doc_id, t FROM base
        |  UNION ALL
        |  SELECT doc_id + 100000, t || ' trailing twin marker token' FROM base),
        |sh AS (
        |  SELECT doc_id,
        |${wordShinglesSql("w")} AS s
        |  FROM (SELECT doc_id, string_split_regex(t, '\\s+') AS w
        |        FROM all_docs) q),
        |pairs AS (
        |  SELECT doc_id AS id_a, doc_id + 100000 AS id_b, 'near' AS kind
        |  FROM base
        |  UNION ALL
        |  SELECT doc_id, doc_id + 150, 'far' FROM base WHERE doc_id < 150),
        |j AS (
        |  SELECT p.kind,
        |    (CAST(len(list_intersect(a.s, b.s)) AS BIGINT) * 1000000) //
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jx
        |  FROM pairs p JOIN sh a ON a.doc_id = p.id_a
        |    JOIN sh b ON b.doc_id = p.id_b)
        |SELECT kind, count(*) AS n_pairs,
        |  CAST(sum(jx) // count(*) AS BIGINT) AS mean_exact_micro,
        |  TRUE AS full_close, TRUE AS bbit_close
        |FROM j GROUP BY kind ORDER BY kind""".stripMargin),

    Gate("x3_ngram_jaccard", (s, dir) => {
      val d = Tables.documents(s, dir)
      val a = d.select(col("doc_id").as("id_a"), Dedup.wordShingles(lower(col("text")), 3).as("_sa"))
      val b = d.select(col("doc_id").as("id_b"), Dedup.wordShingles(lower(col("text")), 3).as("_sb"))
      a.join(b, col("id_a") + 1 === col("id_b"))
        .select(col("id_a"), col("id_b"), Dedup.jaccard(col("_sa"), col("_sb")).as("jaccard"))
        .orderBy("id_a")
    },
      s"""WITH sh AS (
        |  SELECT doc_id,
        |${wordShinglesSql("w")} AS s
        |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
        |        FROM documents) t)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id + 1 = b.doc_id
        |ORDER BY id_a""".stripMargin),

    // X3 scale path — EXACT threshold-Jaccard self-join via AllPairs
    // prefix filtering (lossless, unlike LSH): candidates only from
    // shared PREFIX shingles under the global df-ascending order, then
    // one exact intersection per candidate. The oracle is the plain
    // inverted-index exact join — prefix filtering must return exactly
    // the same pairs, so any lost pair (a broken prefix bound) or
    // phantom pair flips the hash. Shingle width 5 (the web-dedup
    // convention): this fixture's tiny vocabulary gives 3-shingles an
    // avg df of ~10 (Σdf² 2.8M at sf0.1 — 310k candidates), while
    // 5-shingles are near-unique (avg df 1.05, Σdf² 278k) — the same
    // 25 planted pairs qualify either way, 10× cheaper. Width is THE
    // selectivity knob for set-similarity joins; probed, not assumed.
    Gate("x3_prefix_filter_join", (s, dir) => {
      Dedup.prefixFilterJoin(Tables.documents(s, dir), "doc_id", "text",
          k = 5, thresholdPct = 50)
        .orderBy("id_a", "id_b")
    },
      """WITH sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) >= 5 THEN
        |      list_distinct(list_transform(generate_series(1, len(w) - 4),
        |        i -> array_to_string(w[i:i+4], ' ')))
        |    ELSE [array_to_string(w, ' ')] END AS s
        |  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
        |        FROM documents) t),
        |tok AS (SELECT doc_id, unnest(s) AS tk FROM sh),
        |sz AS (SELECT doc_id, len(s) AS n FROM sh),
        |cand AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
        |         FROM tok a JOIN tok b ON a.tk = b.tk AND a.doc_id < b.doc_id
        |         GROUP BY 1, 2),
        |j AS (SELECT ia AS id_a, ib AS id_b, CAST(inter AS BIGINT) AS n_inter,
        |        CAST(sa.n + sb.n - inter AS BIGINT) AS n_union
        |      FROM cand
        |      JOIN sz sa ON sa.doc_id = ia
        |      JOIN sz sb ON sb.doc_id = ib)
        |SELECT id_a, id_b, n_inter, n_union,
        |  CAST((n_inter * 1000000) // n_union AS BIGINT) AS jaccard_micros
        |FROM j WHERE n_inter * 100 >= n_union * 50
        |ORDER BY id_a, id_b""".stripMargin),

    // X3 — full near-dup dedup: pairs → connected components → one
    // survivor per component. Pairs restricted to adjacent ids so the
    // oracle can express components (runs) without recursion; the Spark
    // side runs the general label-propagation clustering.
    Gate("x3_cluster_survivors", (s, dir) => {
      val d = Tables.documents(s, dir)
      // Hashed shingle sets (codegen'd kernel) — jaccard over array<long>
      // instead of array<string>: same value modulo 64-bit collisions
      // (~n²/2⁶⁴, negligible), ~10× cheaper than building shingle strings
      // through interpreted HOF lambdas.
      val a = d.select(col("doc_id").as("id_a"),
        graft.expr.WordShingleHashes(col("text"), 3, distinct = true).as("_sa"))
      val b = d.select(col("doc_id").as("id_b"),
        graft.expr.WordShingleHashes(col("text"), 3, distinct = true).as("_sb"))
      val pairs = a.join(b, col("id_a") + 1 === col("id_b"))
        .filter(Dedup.jaccard(col("_sa"), col("_sb")) >= 0.01)
        .select(col("id_a"), col("id_b"))
      Dedup.survivorsAfterNearDedup(d, "doc_id", pairs)
        .orderBy("doc_id")
    },
      s"""WITH sh AS (
        |  SELECT doc_id,
        |${wordShinglesSql("w")} AS s
        |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
        |        FROM documents) t),
        |dropped AS (
        |  SELECT b.doc_id AS id
        |  FROM sh a JOIN sh b ON a.doc_id + 1 = b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.01)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM dropped)
        |ORDER BY doc_id""".stripMargin),

    // Deterministic negative sampling — contrastive-pair prep: for
    // every customer, 3 parts they never bought, drawn from a
    // quadratic-mix stream over (key, j) with overgeneration +
    // anti-join (a draw colliding with a positive or repeating
    // consumes overgen budget, not k). Reproducible on any
    // cluster/engine — which is why it can be oracled at all;
    // RNG-based negative samplers can't. (The customer×part matrix is
    // sparse at every SF — a supplier-keyed first draft covered almost
    // the whole catalog at sf0.001 and yielded 4 negatives total.)
    Gate("x1_negative_sample", (s, dir) => {
      val itemCount = Tables.part(s, dir).count()
      val pos = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey"), col("l_partkey"))
      graft.ops.Sampling.negativeSample(pos, "o_custkey", "l_partkey",
          itemCount, k = 3, itemBase = 1L)
        .orderBy("o_custkey", "draw_rank")
    },
      """WITH pos AS (
        |  SELECT DISTINCT o_custkey AS k, l_partkey AS i
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |n AS (SELECT count(*) AS ic FROM part),
        |ks AS (SELECT DISTINCT k FROM pos),
        |cand AS (
        |  SELECT ks.k, t.j,
        |    ((ks.k % 4194304) * (ks.k % 4194304) * 7919
        |      + t.j * t.j * 104729 + (ks.k % 4194304) * t.j * 31 + t.j)
        |      % n.ic + 1 AS i
        |  FROM ks, n, generate_series(0, 11) AS t(j)),
        |fresh AS (
        |  SELECT c.k, c.i, min(c.j) AS j FROM cand c
        |  LEFT JOIN pos p ON p.k = c.k AND p.i = c.i
        |  WHERE p.k IS NULL GROUP BY 1, 2),
        |r AS (
        |  SELECT k, i,
        |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY j, i) AS draw_rank
        |  FROM fresh)
        |SELECT k AS o_custkey, CAST(i AS BIGINT) AS l_partkey,
        |  CAST(draw_rank AS BIGINT) AS draw_rank
        |FROM r WHERE draw_rank <= 3 ORDER BY o_custkey, draw_rank""".stripMargin),

    // X3 — benchmark decontamination: corpus docs sharing ≥1 distinct
    // 5-shingle with the probe set (every 20th doc stands in for an eval
    // set). Probe is broadcast; the corpus never shuffles.
    Gate("x3_decontaminate", (s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.decontaminationOverlap(d, "doc_id", "text",
          d.filter(col("doc_id") % 20 === 0), "text", k = 5)
        .orderBy("doc_id")
    },
      s"""WITH sh AS (
        |  SELECT doc_id,
        |${wordShinglesSql("w", 5)} AS s
        |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
        |        FROM documents) t),
        |cs AS (SELECT doc_id, unnest(s) AS h FROM sh),
        |ps AS (SELECT DISTINCT unnest(s) AS h FROM sh WHERE doc_id % 20 = 0)
        |SELECT c.doc_id, count(*) AS n_overlap
        |FROM cs c JOIN ps USING (h)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // X3d, broadcast-free form: HALF the corpus as the probe — a probe
    // side no one should force-broadcast. Same overlap semantics, join
    // strategy left to the optimizer (shuffle semi-join at scale).
    Gate("x3_decontaminate_join", (s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.decontaminationOverlapJoin(d, "doc_id", "text",
          d.filter(col("doc_id") % 2 === 0), "text", k = 5)
        .orderBy("doc_id")
    },
      s"""WITH sh AS (
        |  SELECT doc_id,
        |${wordShinglesSql("w", 5)} AS s
        |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
        |        FROM documents) t),
        |cs AS (SELECT doc_id, unnest(s) AS h FROM sh),
        |ps AS (SELECT DISTINCT unnest(s) AS h FROM sh WHERE doc_id % 2 = 0)
        |SELECT c.doc_id, count(*) AS n_overlap
        |FROM cs c JOIN ps USING (h)
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin),

    // X3x — cross-document duplicated spans (exact-substring dedup
    // census): every 5-token span shared by ≥2 distinct docs, reported
    // per doc as duplicated-span count + covered-token union. Runs the
    // production hash-keyed path (8-byte shuffle keys); the oracle
    // groups exact strings, so equality also witnesses collision-free
    // hashing on the fixture.
    Gate("x3_span_dedup", (s, dir) => {
      Dedup.duplicatedSpans(Tables.documents(s, dir), "doc_id", "text", n = 5)
        .orderBy("doc_id")
    },
      s"""WITH $spansSql,
        |dk AS (SELECT span FROM s GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
        |agg AS (
        |  SELECT doc_id, count(DISTINCT pos) AS n_dup_spans,
        |         count(DISTINCT t) AS dup_tokens
        |  FROM (SELECT dp.doc_id, dp.pos, unnest(range(dp.pos, dp.pos + 5)) AS t
        |        FROM (SELECT s.doc_id, s.pos FROM s JOIN dk USING (span)) dp)
        |  GROUP BY doc_id)
        |SELECT b.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(CASE WHEN len(w) >= 5 THEN len(w) - 4 ELSE 0 END AS BIGINT) AS n_spans,
        |  coalesce(a.n_dup_spans, 0) AS n_dup_spans,
        |  coalesce(a.dup_tokens, 0) AS dup_tokens
        |FROM b LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // X3x mutation form — the cleaned corpus itself: cross-doc
    // duplicated 5-token spans removed, canonical (min-doc) copy kept.
    // The scrub must see the WHOLE corpus; the gate stays bounded by
    // reporting md5(clean_text) instead of the text — md5 equality IS
    // exact text equality, so fidelity is not weakened.
    Gate("x3_span_scrub", (s, dir) => {
      Dedup.scrubDuplicatedSpans(Tables.documents(s, dir), "doc_id", "text", n = 5)
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    },
      s"""WITH $spansSql,
        |own AS (
        |  SELECT span, min(doc_id) AS owner FROM s
        |  GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
        |rm AS (
        |  SELECT doc_id, t FROM (
        |    SELECT dp.doc_id, unnest(range(dp.pos, dp.pos + 5)) AS t
        |    FROM (SELECT s.doc_id, s.pos FROM s JOIN own USING (span)
        |          WHERE s.doc_id <> own.owner) dp)
        |  GROUP BY doc_id, t),
        |tok AS (
        |  SELECT doc_id, t, w[t + 1] AS tok
        |  FROM (SELECT doc_id, w, unnest(range(0, len(w))) AS t FROM b)),
        |kept AS (
        |  SELECT tok.doc_id, count(*) AS nkept,
        |         string_agg(tok.tok, ' ' ORDER BY tok.t) AS clean_text
        |  FROM tok
        |  WHERE NOT EXISTS (SELECT 1 FROM rm
        |                    WHERE rm.doc_id = tok.doc_id AND rm.t = tok.t)
        |  GROUP BY tok.doc_id)
        |SELECT b.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(len(w) - coalesce(kept.nkept, 0) AS BIGINT) AS n_removed,
        |  md5(coalesce(kept.clean_text, '')) AS clean_md5
        |FROM b LEFT JOIN kept USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin),

    // X3x — line-level boilerplate removal (the CCNet/RefinedWeb
    // pre-dedup pass): lines recurring across ≥5 distinct docs of the
    // same SOURCE are dropped from every doc, no canonical copy. The
    // fixture corpus has no newlines, so the lined text is constructed
    // by formula in BOTH engines — a per-source header in every doc, a
    // promo line in every third, two body substrings, and a footer
    // keyed doc_id%7 whose per-source recurrence crosses the threshold
    // only at sf0.1 (~36 docs/source) and stays below it at the small
    // SFs (~3.5) — the oracle replays the census, so the gate
    // exercises the threshold from BOTH sides across SFs.
    Gate("x3_boilerplate_scrub", (s, dir) => {
      val lined = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        concat_ws("\n",
          concat(lit("hdr "), col("source")),
          substring(col("text"), 1, 60),
          when(col("doc_id") % 3 === 0, concat(lit("promo "), col("source"))),
          substring(col("text"), 61, 60),
          concat(lit("foot "), (col("doc_id") % 7).cast("string"))).as("text"))
      Dedup.boilerplateScrub(lined, "doc_id", "text", "source", minDocs = 5)
        .select(col("doc_id"), col("source"), col("n_lines"), col("n_removed"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    },
      """WITH lined AS MATERIALIZED (
        |  SELECT doc_id, source,
        |    concat_ws(chr(10),
        |      'hdr ' || source,
        |      substr(text, 1, 60),
        |      CASE WHEN doc_id % 3 = 0 THEN 'promo ' || source END,
        |      substr(text, 61, 60),
        |      'foot ' || CAST(doc_id % 7 AS VARCHAR)) AS text
        |  FROM documents),
        |l AS MATERIALIZED (
        |  SELECT doc_id, source, pos, ls[pos + 1] AS line
        |  FROM (SELECT doc_id, source, ls, unnest(range(0, len(ls))) AS pos
        |        FROM (SELECT doc_id, source,
        |                string_split(text, chr(10)) AS ls FROM lined))),
        |boiler AS (
        |  SELECT source, line FROM l GROUP BY source, line
        |  HAVING count(DISTINCT doc_id) >= 5),
        |kept AS (
        |  SELECT l.doc_id, count(*) AS nkept,
        |         string_agg(l.line, chr(10) ORDER BY l.pos) AS clean_text
        |  FROM l
        |  WHERE NOT EXISTS (SELECT 1 FROM boiler b
        |                    WHERE b.source = l.source AND b.line = l.line)
        |  GROUP BY l.doc_id)
        |SELECT lined.doc_id, lined.source,
        |  CAST(len(string_split(lined.text, chr(10))) AS BIGINT) AS n_lines,
        |  CAST(len(string_split(lined.text, chr(10)))
        |       - coalesce(kept.nkept, 0) AS BIGINT) AS n_removed,
        |  md5(coalesce(kept.clean_text, '')) AS clean_md5
        |FROM lined LEFT JOIN kept USING (doc_id)
        |ORDER BY lined.doc_id""".stripMargin),

    // X1 — seeded stratified sample by language, hash-gated through
    // per-stratum verdict rows: WHICH rows a rand(seed) draw keeps is
    // engine-defined, but the per-stratum totals are exact data the
    // oracle recomputes, and the kept counts must sit within 5σ of the
    // binomial target (measured ≤ 2.4σ across SFs) with the same draw
    // reproducing the same set on an immediate rerun (same session and
    // plan — the cross-plan instability is exactly why
    // x1_stratified_sample_hash exists as the production form).
    Gate("x1_stratified_sample", (s, dir) => {
      val fr = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25, "es" -> 0.25)
      val docs = Tables.documents(s, dir)
      val s1 = graft.ops.Sampling.stratified(docs, "lang", fr, seed = 42L)
        .select(col("doc_id"), col("lang"))
      val s2 = graft.ops.Sampling.stratified(docs, "lang", fr, seed = 42L)
        .select(col("doc_id"), col("lang"))
      val det = s1.exceptAll(s2).union(s2.exceptAll(s1))
        .agg(count(lit(1)).as("_diff"))
      val fCol = element_at(typedLit(fr), col("lang"))
      docs.filter(col("lang").isin(fr.keys.toSeq: _*))
        .groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
        .join(s1.groupBy(col("lang")).agg(count(lit(1)).as("_kept")), Seq("lang"), "left")
        .withColumn("_k", coalesce(col("_kept"), lit(0L)))
        .crossJoin(broadcast(det))
        .select(col("lang"), col("n_total"),
          (abs(col("_k") - col("n_total") * fCol) <=
            sqrt(col("n_total") * fCol * (lit(1.0) - fCol)) * 5 + 1).as("frac_ok"),
          (col("_diff") === 0L).as("rerun_deterministic"))
        .orderBy("lang")
    },
      """SELECT lang, count(*) AS n_total,
        |  TRUE AS frac_ok, TRUE AS rerun_deterministic
        |FROM documents WHERE lang IN ('de', 'en', 'es', 'fr')
        |GROUP BY lang ORDER BY lang""".stripMargin),

    // X1 — hash-keyed stratified sample: the draw comes from the row's
    // own id, not a per-partition RNG, so the kept set is invariant to
    // repartitioning/retries AND engine-portable — this variant hash-
    // matches DuckDB running the same arithmetic (full oracle, unlike
    // the rand-seeded form above).
    Gate("x1_stratified_sample_hash", (s, dir) => {
      graft.ops.Sampling.stratifiedByHash(Tables.documents(s, dir), "lang", "doc_id",
          Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25, "es" -> 0.25), seed = 42L)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, lang FROM documents
        |WHERE ((doc_id % 1000003 + 42) * 2654435761) % 2147483647 % 1000000 <
        |  CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 250000
        |            WHEN 'fr' THEN 250000 WHEN 'es' THEN 250000 ELSE 0 END
        |ORDER BY doc_id""".stripMargin),

    // X1 — weight-biased fixed-size sample (priority sampling): longer
    // documents proportionally likelier; the draw comes from the row's
    // own id so the sample is retry-/partitioning-invariant and the
    // DuckDB oracle reproduces it exactly (no libm in the priority).
    Gate("x1_weighted_sample", (s, dir) => {
      graft.ops.Sampling.weightedPriority(Tables.documents(s, dir), "doc_id",
          col("n_chars").cast("double"), k = 100, seed = 7L)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(col("_priority"), 9).as("priority"))
        .orderBy("priority", "doc_id")
    },
      """SELECT doc_id, lang, n_chars, round(pr, 9) AS priority FROM (
        |  SELECT doc_id, lang, n_chars,
        |    (CAST(((doc_id % 1000003 + 7) * 2654435761) % 2147483647 % 1000000 + 1
        |          AS DOUBLE) / 1000000.0) / CAST(n_chars AS DOUBLE) AS pr
        |  FROM documents ORDER BY pr, doc_id LIMIT 100) t
        |ORDER BY priority, doc_id""".stripMargin),

    // X1 — deterministic train/val/test split: labels from the row's
    // own key hash vs cumulative integer thresholds — appends can
    // never flip an existing row's split (randomSplit can't promise
    // that). Gate checks the (split, lang) census plus an id-sum
    // membership checksum.
    Gate("x1_train_split", (s, dir) => {
      graft.ops.Sampling.hashSplit(Tables.documents(s, dir), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 5L)
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).cast("long").as("id_sum"))
        .orderBy("split", "lang")
    },
      """SELECT CASE WHEN d < 800000 THEN 'train'
        |            WHEN d < 900000 THEN 'val' ELSE 'test' END AS split,
        | lang, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM (SELECT doc_id, lang,
        |        ((doc_id % 1000003 + 5) * 2654435761) % 2147483647 % 1000000 AS d
        |      FROM documents) t
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // X1 — deterministic corpus shuffle (reproducible training ORDER):
    // distributed orderBy on the row's own key draw — same order on any
    // cluster/partitioning/engine. The gate takes the first 200 rows of
    // the shuffled order WITH their sort keys: equality of that set
    // proves the order prefix, not just membership.
    Gate("x1_corpus_shuffle", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      graft.ops.Sampling.deterministicShuffle(d, "doc_id", seed = 13L)
        .limit(200)
        .select(col("doc_id"), col("lang"),
          graft.ops.Sampling.keyDraw(col("doc_id"), seed = 13L).as("sort_key"))
    },
      """SELECT doc_id, lang,
        | ((doc_id % 1000003 + 13) * 2654435761) % 2147483647 % 1000000 AS sort_key
        |FROM documents
        |ORDER BY sort_key, doc_id LIMIT 200""".stripMargin),

    // X1 — exactly-k-per-group inspection sample: 10 docs per lang,
    // drawn by the rows' own key hash (deterministic, engine-portable,
    // keyed window ⇒ cost scales with group size).
    Gate("x1_per_group_sample", (s, dir) => {
      graft.ops.Sampling.perGroupSample(Tables.documents(s, dir),
          "lang", "doc_id", k = 10, seed = 11L)
        .select(col("lang"), col("doc_id"))
        .orderBy("lang", "doc_id")
    },
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY ((doc_id % 1000003 + 11) * 2654435761) % 2147483647 % 1000000,
        |               doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 10 ORDER BY lang, doc_id""".stripMargin),

    // Fellegi-Sunter record linkage (ops.Linkage) — clean customers vs
    // a formula-built dirty twin (typo'd / suffixed / replaced names by
    // custkey % 4, shifted balances by custkey % 300, segment wiped at
    // % 7): nation-blocked candidates (never all-pairs; 1000-row block
    // cap idle at these SFs — sf1+ would need a finer key), three
    // integer-micro field comparators (exact/levenshtein≤2/far name,
    // segment equality, ±100-cent balance band), exact BIGINT score
    // sum, two-threshold decision. Per-pair gate keeps the plausible
    // set (score ≥ possible) — noise pairs whose names collide at
    // lev ≤ 2 ('…123' vs '…124') land here too, the realistic
    // weak-name-evidence case, all replayed by the oracle.
    Gate("link_blocked_pairs", (s, dir) => {
      linkageScored(s, dir).filter(col("score_micro") >= 1000000L)
        .select(col("l_id"), col("r_id"), col("name_w"), col("seg_w"),
          col("bal_w"), col("score_micro"), col("decision"))
        .orderBy("l_id", "r_id")
    },
      // Dirty-twin construction + blocking + scoring replayed verbatim;
      // DuckDB levenshtein is the same unit-cost edit distance as
      // Spark's.
      s"""WITH $linkageSidesSql,
        |sc AS (
        |  SELECT l_id, r_id,
        |    CASE WHEN l_name = r_name THEN 4000000
        |         WHEN levenshtein(l_name, r_name) <= 2 THEN 2500000
        |         ELSE -1000000 END AS name_w,
        |    CASE WHEN l_seg = r_seg THEN 500000 ELSE -500000 END AS seg_w,
        |    CASE WHEN abs(l_cents - r_cents) <= 100 THEN 1500000
        |         ELSE -1500000 END AS bal_w
        |  FROM l JOIN r USING (bn))
        |SELECT l_id, r_id, CAST(name_w AS BIGINT) AS name_w,
        |  CAST(seg_w AS BIGINT) AS seg_w, CAST(bal_w AS BIGINT) AS bal_w,
        |  CAST(name_w + seg_w + bal_w AS BIGINT) AS score_micro,
        |  CASE WHEN name_w + seg_w + bal_w >= 4000000 THEN 'link'
        |       WHEN name_w + seg_w + bal_w >= 1000000 THEN 'possible'
        |       ELSE 'nonlink' END AS decision
        |FROM sc WHERE name_w + seg_w + bal_w >= 1000000
        |ORDER BY l_id, r_id""".stripMargin),

    // Sorted-neighborhood candidates (Linkage.sortedNeighborhood) —
    // the multi-pass-SNM complement to blocking: global rank by
    // (balance cents, custkey) through the weight-1 prefix sum (no
    // row_number window — that's a single reducer at scale), then the
    // band self-join that materializes each ≤w-apart pair exactly
    // once. The oracle replays with an actual window row_number and
    // a rank-theta join; equality certifies the distributed rank AND
    // the exactly-once pairing.
    Gate("link_sorted_neighborhood", (s, dir) => {
      val c = Tables.customer(s, dir).filter(col("c_custkey") < 500)
        .select(col("c_custkey").as("id"),
          expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("cents"))
      graft.ops.Linkage.sortedNeighborhood(c,
          Seq(col("cents").asc, col("id").asc), "id", w = 3)
        .orderBy("rank_a", "rank_b")
    },
      """WITH c AS (
        |  SELECT c_custkey AS id,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM customer WHERE c_custkey < 500),
        |r AS (SELECT id, row_number() OVER (ORDER BY cents, id) AS rk FROM c)
        |SELECT a.id AS id_a, b.id AS id_b, CAST(a.rk AS BIGINT) AS rank_a,
        |  CAST(b.rk AS BIGINT) AS rank_b
        |FROM r a JOIN r b ON b.rk > a.rk AND b.rk - a.rk <= 3
        |ORDER BY rank_a, rank_b""".stripMargin),

    // Decision census over the FULL candidate set (noise negatives
    // included) with summed scores — the volume view of the same
    // linkage run.
    Gate("link_decision_census", (s, dir) => {
      linkageScored(s, dir)
        .groupBy(col("decision"))
        .agg(count(lit(1)).as("n"), sum(col("score_micro")).as("sum_score_micro"))
        .orderBy("decision")
    },
      s"""WITH $linkageSidesSql,
        |sc AS (
        |  SELECT
        |    CASE WHEN l_name = r_name THEN 4000000
        |         WHEN levenshtein(l_name, r_name) <= 2 THEN 2500000
        |         ELSE -1000000 END
        |    + CASE WHEN l_seg = r_seg THEN 500000 ELSE -500000 END
        |    + CASE WHEN abs(l_cents - r_cents) <= 100 THEN 1500000
        |           ELSE -1500000 END AS score
        |  FROM l JOIN r USING (bn))
        |SELECT CASE WHEN score >= 4000000 THEN 'link'
        |            WHEN score >= 1000000 THEN 'possible'
        |            ELSE 'nonlink' END AS decision,
        |  count(*) AS n, CAST(sum(score) AS BIGINT) AS sum_score_micro
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
