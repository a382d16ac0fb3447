package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators (EXT X1/X3 — SURVEY §2.5): the LLM-training-
  * pipeline dedup family, designed shuffle-first for 100 TB:
  *
  *  - exact: hash-groupBy on a content digest — one shuffle on the digest,
  *    map-side partial aggregation, no full-row comparisons.
  *  - near-dup: MinHash + LSH banding — signatures are computed per row
  *    (narrow), candidates come from a groupBy on (band, band-signature)
  *    buckets, and only bucket-mates are pair-verified. No O(n²) cross
  *    join ever materializes.
  *  - SimHash: 64-bit fingerprint + Hamming-ball banding.
  *
  * All signature math is native Catalyst expressions (`xxhash64`, higher-
  * order array functions) — codegen-friendly, no UDFs, deterministic.
  */
object Dedup {

  /** X1 — deterministic `dropDuplicates`: keep exactly one row per key,
    * chosen by `orderBy` asc (stable, unlike Spark's dropDuplicates which
    * keeps an arbitrary first). One shuffle on `keys`. */
  def firstPerKey(df: DataFrame, keys: Seq[String], orderBy: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderBy.map(col(_).asc): _*)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** X1 — content-hash digest for exact text dedup. sha2-256 keeps the
    * collision probability negligible at 100 TB (~2^-128 per pair), so
    * grouping on the digest alone is safe and the shuffle key is 64 bytes
    * regardless of document size. */
  def contentHash(text: Column): Column = sha2(text, 256)

  /** X1 — exact dedup by content: one surviving doc id (min) per distinct
    * content digest plus the duplicate count. */
  def exactByContent(df: DataFrame, text: String, id: String): DataFrame =
    df.groupBy(contentHash(col(text)).as("content_hash"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_dupes"))

  /** X1 — exact content dedup that keeps the surviving ROW (min id per
    * digest) with `carry` columns riding along, via one hash-agg
    * `min_by`: one scan + one shuffle of (digest, id, carry…). The
    * join-back form ([[exactByContent]] then semi-join on the keep ids)
    * re-scans the corpus a second time — at corpus scale the scan (and
    * whatever per-row analysis feeds it) dominates, so a pipeline that
    * needs the survivors THEMSELVES should use this form and never
    * rescan. min_by on a unique id is deterministic. */
  def survivorsByContent(df: DataFrame, text: String, id: String,
      carry: Seq[String]): DataFrame = {
    val out = id +: carry
    df.groupBy(contentHash(col(text)).as("content_hash"))
      .agg(min_by(struct(out.map(col): _*), col(id)).as("_s"))
      .select(out.map(c => col(s"_s.$c").as(c)): _*)
  }

  /** X1 — incremental ingestion dedup: from a new `batch`, keep one row
    * per content digest (min id, as `exactByContent`) that is NOT
    * already present in `seenHashes` — the running digest store an
    * append-only corpus maintains across ingestion runs, so batch N
    * never re-admits what batches 1..N-1 shipped.
    *
    * Shape at 100 TB: the batch compacts FIRST (hash-agg to one row
    * per digest — map-side combine shrinks it before any join), then
    * left-anti joins the store on the 64-byte digest. Both sides
    * shuffle on the digest only; history is never rescanned beyond
    * its digest column, and nothing is ever collected. `seenHashes`
    * must be a single `content_hash` column. */
  def dedupAgainstSeen(batch: DataFrame, seenHashes: DataFrame,
      text: String, id: String): DataFrame =
    exactByContent(batch, text, id)
      .join(seenHashes, Seq("content_hash"), "left_anti")

  // ---------------------------------------------------------------------
  // MinHash + LSH (X3)
  // ---------------------------------------------------------------------

  /** BENCHMARK DECONTAMINATION — the published n-gram-overlap scrub
    * (GPT-3 appendix C / PaLM style) as a pipeline operator: flag every
    * TRAINING document sharing at least `minCollisions` distinct word
    * n-grams with any document of a BENCHMARK/eval set. Eval
    * contamination makes benchmark numbers lie, so the corpus is
    * scrubbed against the eval suites BEFORE training, not audited
    * after. One row per contaminated train doc: how many bench docs it
    * collides with, the total and max per-pair distinct shared n-grams,
    * and the worst-offending bench doc (ties broken toward the lower
    * id — deterministic, oracle-replayable).
    *
    * Scale shape: both sides explode to (n-gram → id) postings and join
    * on the n-gram — cost is Σ_gram df_train·df_bench, never
    * |train|·|bench|; the benchmark side (eval suites — thousands of
    * docs) is orders smaller than the corpus, so its posting list
    * broadcasts and the corpus side streams map-side. At 100 TB the
    * n-gram identity rides a 64-bit hash (collision ~n²/2⁶⁴ — the
    * standard trade); this operator joins on the STRING form so the
    * DuckDB oracle replays it verbatim — semantics identical, the hash
    * only narrows the shuffle. The published n is 13; the gate runs a
    * smaller n so the synthetic fixture actually collides. */
  def decontaminate(train: DataFrame, bench: DataFrame, id: String,
      text: String, n: Int, minCollisions: Long = 1L): DataFrame = {
    def postings(df: DataFrame, outId: String) =
      df.select(col(id).as(outId),
        explode(wordShingles(col(text), n)).as("_g"))
    val pair = postings(train, "train_id")
      .join(postings(bench, "bench_id"), Seq("_g"))
      .groupBy(col("train_id"), col("bench_id"))
      // shingle arrays are distinct per doc, so one row per shared gram
      .agg(count(lit(1)).as("_nsh"))
      .filter(col("_nsh") >= minCollisions)
    pair.groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_bench_docs"),
        sum(col("_nsh")).as("n_collisions"),
        max(col("_nsh")).as("max_shared_ngrams"),
        max_by(col("bench_id"), struct(col("_nsh"), -col("bench_id")))
          .as("worst_bench_id"))
  }

  /** The scrub itself: the training corpus with every
    * [[decontaminate]]-flagged document REMOVED (left anti join on the
    * flagged ids — the benchmark side never touches the surviving
    * rows' bytes). */
  def scrubContaminated(train: DataFrame, bench: DataFrame, id: String,
      text: String, n: Int, minCollisions: Long = 1L): DataFrame =
    train.join(
      decontaminate(train, bench, id, text, n, minCollisions)
        .select(col("train_id").as(id)),
      Seq(id), "left_anti")

  /** Distinct word k-shingles of a text column: lower-cased, whitespace-
    * tokenized, k consecutive tokens joined by a single space. Native
    * higher-order functions only. */
  def wordShingles(text: Column, k: Int): Column = {
    val tokens = split(lower(text), "\\s+")
    val n = size(tokens)
    val starts = sequence(lit(0), greatest(n - k, lit(0)))
    val sh = when(n >= k,
      transform(starts, i => concat_ws(" ", slice(tokens, i + lit(1), lit(k))))
    ).otherwise(array(concat_ws(" ", tokens)))
    array_distinct(sh)
  }

  /** The i-th member of the MinHash permutation family applied to a base
    * hash: a seeded re-hash (`xxhash64(i, h)`). Avalanche makes the
    * members effectively independent, and — unlike an affine `a·h+b`
    * family — the mixing wraps inside the hash kernel, so ANSI mode
    * (Spark 4 default) sees no overflowing SQL arithmetic. */
  def permutedHash(i: Int, h: Column): Column = xxhash64(lit(i), h)

  /** MinHash signature as a single expression (array<bigint> of length
    * `numHashes`). Fine for ad-hoc use; the pipeline form in
    * [[minHashNearDups]] uses explode + codegen'd min() aggregates
    * instead, because array-aggregate lambdas are CodegenFallback. */
  def minHashSignature(shingles: Column, numHashes: Int): Column = {
    val base = transform(shingles, s => xxhash64(s))
    val sigs = (0 until numHashes).map { i =>
      aggregate(base, lit(Long.MaxValue), (acc, h) => least(acc, permutedHash(i, h)))
    }
    array(sigs: _*)
  }

  /** LSH banding: split a signature of length b*r into b bands of r rows;
    * each band becomes (band_id, band_hash). Docs sharing any band bucket
    * are candidate pairs. Probability a pair with Jaccard j collides:
    * 1-(1-j^r)^b — with b=8, r=4 the S-curve centers near j≈0.6. */
  def lshBands(signature: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band_id"), xxhash64(b, concat_ws(",", slice(signature, b * lit(rows) + lit(1), lit(rows)))).as("band_hash")))

  /** Candidate-density threshold (banding pairs per doc) above which
    * AUTO mode turns the signature-estimate prefilter on. Sparse
    * corpora (the common case: few true near-dups, banding candidates
    * ≈ true pairs) keep the exact-verify-every-candidate path; dense
    * regimes (boilerplate-heavy crawls — the ×50 probe's 9 GB
    * verify-shuffle lesson in BENCH_NOTES) gate the array-carrying
    * verify join behind the n-longs-per-doc signature estimate. */
  val DensePairsPerDoc = 8.0

  /** X3 — full MinHash/LSH near-dup pipeline: returns candidate pairs
    * (id_a < id_b) with their exact shingle-Jaccard, filtered to
    * `minJaccard`. Scale shape: shuffle 1 groups by band bucket; buckets
    * are capped (`maxBucket`) to bound skew blowup (a degenerate bucket —
    * e.g. empty docs — would otherwise produce |bucket|² pairs); shuffle 2
    * dedups pairs; the verify join re-reads shingles by id. */
  def minHashNearDups(
      df: DataFrame,
      id: String,
      text: String,
      shingleK: Int = 3,
      bands: Int = 8,
      rows: Int = 4,
      minJaccard: Double = 0.5,
      maxBucket: Int = 64,
      estPrefilter: Double = 0.0): DataFrame = {
    // Shingle HASH sets (array<bigint>) via the codegen'd kernel — the
    // shingle string never materializes (graft.expr.WordShingleHashes;
    // ~30× over the interpreted HOF form). Frozen because they feed
    // the signature path AND both sides of the verify join (3 plan
    // branches — Spark has no cross-branch CSE); the caller's
    // Pins.scoped block frees it. Size ∝ corpus tokens; the standard
    // "write shingles once" LSH shape.
    val shingled = df.select(col(id).as("_id"),
        graft.expr.WordShingleHashes(col(text), shingleK, distinct = true).as("_sh"))
      .withColumn("_nsh", size(col("_sh")))
      .transform(Pins.freeze)
    // Signature via explode + one hash-agg with b·r min() slots rather
    // than array-aggregate lambdas: higher-order functions are
    // CodegenFallback (interpreted per element), while min() aggregates
    // run in whole-stage codegen with map-side partial aggregation —
    // the shape that survives a 100× scale-up.
    val n = bands * rows
    val hashes = shingled.select(col("_id"), explode(col("_sh")).as("_h"))
    val minAggs = (0 until n).map(i => min(permutedHash(i, col("_h"))).as(s"_m$i"))
    val sig = hashes.groupBy(col("_id"))
      .agg(minAggs.head, minAggs.tail: _*)
      .select(col("_id"), array((0 until n).map(i => col(s"_m$i")): _*).as("_sig"))
    val banded = sig
      .select(col("_id"), explode(lshBands(col("_sig"), bands, rows)).as("_b"))
      .select(col("_id"), col("_b.band_id"), col("_b.band_hash"))
    val buckets = banded
      .groupBy("band_id", "band_hash")
      .agg(collect_list("_id").as("_ids"))
      .filter(size(col("_ids")) > 1 && size(col("_ids")) <= maxBucket)
    // pairs within bucket, ordered a < b, deduped across bands
    val rawPairs = buckets
      .select(explode(col("_ids")).as("id_a"), col("_ids"))
      .select(col("id_a"), explode(col("_ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
    // Signature-estimate prefilter: the fraction of matching minhash
    // slots is an unbiased estimate of Jaccard, and the signatures are
    // n longs per doc vs ~|shingles| for the exact arrays — so
    // banding's FALSE candidates are pruned on cheap payloads before
    // the array-carrying verify join. estPrefilter = 0.0 (the DEFAULT)
    // disables the prune: every banding candidate gets the exact
    // verify, so output is a deterministic function of the corpus —
    // never of its density. estPrefilter > 0 pins the cutoff; < 0
    // opts into AUTO: one cheap action over the BOUNDED bucket table
    // (≤ maxBucket ids per row) plus a count of the already-frozen
    // shingle table measures candidate density, and only a dense
    // regime (> DensePairsPerDoc) turns the prune on, at minJaccard −
    // 3σ, σ = sqrt(J(1−J)/n) — a true pair at the threshold clears
    // that margin with ≥ 99.8% probability per signature, and pairs
    // above it essentially always, so sparse corpora keep
    // BIT-IDENTICAL output while boilerplate-heavy crawls bound the
    // verify shuffle ~2.2× (the ×50 probe's 9 GB lesson, BENCH_NOTES).
    // AUTO is opt-in rather than default because the prune makes
    // recall at the exact threshold probabilistic (~0.1% of true
    // pairs sitting exactly AT minJaccard can drop in dense regimes);
    // when it engages, the cutoff is logged so runs stay observable.
    // (The eager stats actions mirror the k-means seeding pattern.)
    val cutoff: Double =
      if (estPrefilter >= 0.0) estPrefilter
      else {
        val bk = Pins.freeze(buckets)
        val cand = (bk.agg(sum(size(col("_ids")).cast("long") *
            (size(col("_ids")) - 1)).as("c"))
          .first() match {
            case r if r.isNullAt(0) => 0L
            case r => r.getLong(0)
          }) / 2
        val docs = math.max(1L, shingled.count())
        if (cand.toDouble / docs <= DensePairsPerDoc) 0.0
        else {
          val sigma = math.sqrt(minJaccard * (1 - minJaccard) / n)
          val c = math.max(0.0, minJaccard - 3 * sigma)
          org.slf4j.LoggerFactory.getLogger("graft.ops.Dedup").info(
            s"minHashNearDups AUTO prefilter engaged: $cand candidates / " +
              s"$docs docs (> $DensePairsPerDoc per doc); signature-estimate " +
              s"cutoff = $c (minJaccard $minJaccard - 3 sigma)")
          c
        }
      }
    val pairs = if (cutoff <= 0.0) rawPairs else {
      val sa = sig.select(col("_id").as("id_a"), col("_sig").as("_siga"))
      val sb = sig.select(col("_id").as("id_b"), col("_sig").as("_sigb"))
      rawPairs.join(sa, "id_a").join(sb, "id_b")
        .withColumn("_est",
          size(filter(zip_with(col("_siga"), col("_sigb"), (x, y) => x === y),
            m => m)).cast("double") / n)
        .filter(col("_est") >= cutoff)
        .select(col("id_a"), col("id_b"))
    }
    // verify with exact Jaccard on the shingle-hash sets (collision odds
    // per pair ~2^-64·|set|² — negligible at any corpus size). The
    // union never materializes: |A∪B| = |A|+|B|−|A∩B| with the set
    // sizes precomputed per doc, so the per-pair work is ONE
    // array_intersect instead of intersect + union array builds —
    // the verify join is the cost driver when candidates are dense.
    val a = shingled.select(col("_id").as("id_a"), col("_sh").as("_sha"), col("_nsh").as("_na"))
    val b = shingled.select(col("_id").as("id_b"), col("_sh").as("_shb"), col("_nsh").as("_nb"))
    pairs.join(a, "id_a").join(b, "id_b")
      // size-ratio bound: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so pairs
      // whose set sizes differ by more than the threshold ratio cannot
      // pass — pruned on two ints before any array work
      .filter(least(col("_na"), col("_nb")).cast("double") >=
        lit(minJaccard) * greatest(col("_na"), col("_nb")))
      .withColumn("_inter", size(array_intersect(col("_sha"), col("_shb"))).cast("double"))
      .withColumn("jaccard",
        col("_inter") / (col("_na").cast("double") + col("_nb") - col("_inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Banded Hamming pairing over a 64-bit fingerprint column: SimHash-
    * style disjoint-block exact match as the candidate channel (a hash
    * join, never all-pairs), verified by exact `bit_count(xor)` ≤
    * `maxHamming`. The shared pair stage under the DCT-pHash
    * image/video dedup gates.
    *
    * RECALL CONTRACT — read before trusting `maxHamming`: by
    * pigeonhole, exact match on one of `nBlocks` disjoint blocks
    * GUARANTEES every pair within Hamming `nBlocks − 1` becomes a
    * candidate. A `maxHamming` ABOVE that bound is verify SLACK: pairs
    * at distance nBlocks..maxHamming are kept only when their
    * differing bits happen to leave some block clean — opportunistic,
    * not guaranteed (a pair with one flipped bit in every block is
    * never paired). The default 4×16-bit split guarantees radius 3;
    * callers needing guaranteed recall at radius r must pass
    * `nBlocks = r + 1` and accept the trade — narrower blocks mean
    * coarser buckets (2^(64/nBlocks) values) and a superlinearly
    * larger candidate join, so wide-radius guarantees only scale on
    * corpora whose fingerprints are near-uniform (DCT pHashes are).
    * The image/video gates call with (nBlocks = 4, maxHamming = 8)
    * deliberately: their fixtures plant twins within Hamming ≤ 2, and
    * the slack band 4..8 is a best-effort bonus, not a promise.
    *
    * `matchCols` adds alignment keys that must ALSO agree (e.g.
    * frame_id, so video frame k only ever meets frame k) and ride the
    * output. */
  def hammingPairs(df: DataFrame, id: String, fp: String,
      maxHamming: Int, matchCols: Seq[String] = Nil,
      nBlocks: Int = 4): DataFrame = {
    require(nBlocks >= 1 && nBlocks <= 64,
      s"hammingPairs: nBlocks must be in [1, 64], got $nBlocks")
    require(maxHamming >= 0, s"hammingPairs: negative maxHamming $maxHamming")
    // block boundaries computed driver-side: block b covers bit offsets
    // [64·b/nBlocks, 64·(b+1)/nBlocks) — widths differ by at most one
    // bit when nBlocks does not divide 64, union is always all 64 bits
    val blockStructs = (0 until nBlocks).map { b =>
      val off = (64 * b) / nBlocks
      val w = (64 * (b + 1)) / nBlocks - off
      val mask = if (w == 64) -1L else (1L << w) - 1L
      struct(lit(b).as("block_id"),
        call_function("shiftright", col(fp), lit(off))
          .bitwiseAND(lit(mask)).as("block_val"))
    }
    val blocks = df.select((Seq(col(id).as("_hid"), col(fp).as("_hfp"),
      explode(array(blockStructs: _*)).as("_b")) ++
      matchCols.map(col)): _*)
      .select((Seq(col("_hid"), col("_hfp"), col("_b.block_id"),
        col("_b.block_val")) ++ matchCols.map(col)): _*)
    val cond = (Seq("block_id", "block_val") ++ matchCols)
      .map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _) && col("a._hid") < col("b._hid")
    blocks.as("a").join(blocks.as("b"), cond)
      .select((Seq(col("a._hid").as("id_a"), col("b._hid").as("id_b"),
        col("a._hfp").as("fp_a"), col("b._hfp").as("fp_b")) ++
        matchCols.map(c => col(s"a.$c"))): _*)
      .distinct()
      .filter(bit_count(col("fp_a").bitwiseXOR(col("fp_b"))) <= maxHamming)
      .select((Seq(col("id_a"), col("id_b")) ++ matchCols.map(col)): _*)
  }

  /** b-BIT MINWISE estimates (Li & König 2010) — the signature-
    * compression end of the MinHash family: keep only the LOWEST BIT
    * of each of 64 minhash slots, so a document's whole signature is
    * ONE LONG (8 bytes vs 8·64 = 512 for the full signature — the
    * storage ratio that decides whether a planet-scale dedup index
    * fits in memory). For b=1 the bit-match probability is
    * ½ + ½·J, so Ĵ_bbit = 2·(matchFrac − ½); the full-signature
    * estimate Ĵ_full = matching-slot fraction rides along for
    * comparison, as does exact shingle Jaccard. Per-pair variance at
    * b=1 is ~4× the full estimate's — b-bit buys storage with more
    * hashes, not a free lunch — which is why the gate pins MEANS over
    * a pair population, not single pairs. All three estimates emitted
    * in trunc-micros (integer div — engine-exact). `pairs` must be
    * (id_a, id_b); the 64-slot family is fixed (one packed long). */
  def bbitMinhashEstimate(df: DataFrame, id: String, text: String,
      pairs: DataFrame, shingleK: Int = 3): DataFrame = {
    val n = 64
    val shingled = df.select(col(id).as("_id"),
        graft.expr.WordShingleHashes(col(text), shingleK, distinct = true).as("_sh"))
      .withColumn("_nsh", size(col("_sh")))
    val hashes = shingled.select(col("_id"), explode(col("_sh")).as("_h"))
    val minAggs = (0 until n).map(i => min(permutedHash(i, col("_h"))).as(s"_m$i"))
    val sig = hashes.groupBy(col("_id"))
      .agg(minAggs.head, minAggs.tail: _*)
      .select(col("_id"),
        array((0 until n).map(i => col(s"_m$i")): _*).as("_sig"),
        // pack bit i = lowest bit of slot i into one long
        (0 until n).map(i => (col(s"_m$i").bitwiseAND(lit(1L))) * lit(1L << i))
          .reduce(_ + _).as("_bbit"))
    val a = shingled.join(sig, "_id").select(col("_id").as("id_a"),
      col("_sh").as("_sha"), col("_nsh").as("_na"),
      col("_sig").as("_siga"), col("_bbit").as("_ba"))
    val b = shingled.join(sig, "_id").select(col("_id").as("id_b"),
      col("_sh").as("_shb"), col("_nsh").as("_nb"),
      col("_sig").as("_sigb"), col("_bbit").as("_bb"))
    pairs.join(a, "id_a").join(b, "id_b")
      .withColumn("_inter", size(array_intersect(col("_sha"), col("_shb"))).cast("long"))
      .withColumn("jaccard_exact_micro",
        call_function("div", col("_inter") * 1000000L,
          col("_na") + col("_nb") - col("_inter")))
      .withColumn("_slots", size(filter(
        zip_with(col("_siga"), col("_sigb"), (x, y) => x === y), m => m)).cast("long"))
      .withColumn("est_full_micro",
        call_function("div", col("_slots") * 1000000L, lit(n.toLong)))
      .withColumn("_bits",
        lit(n.toLong) - bit_count(col("_ba").bitwiseXOR(col("_bb"))))
      .withColumn("est_bbit_micro",
        call_function("div", col("_bits") * 2000000L, lit(n.toLong)) - 1000000L)
      .select(col("id_a"), col("id_b"), col("jaccard_exact_micro"),
        col("est_full_micro"), col("est_bbit_micro"))
  }

  /** Pointer-jumping clusters with member counts — the common tail of
    * every dedup-clustering gate: (id, cluster = min member id,
    * cluster_size). */
  def clusterWithSizes(pairs: DataFrame): DataFrame = {
    val cc = clusterPairs(pairs)
    val sizes = cc.groupBy(col("cluster"))
      .agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, Seq("cluster"))
      .select(col("id"), col("cluster"), col("cluster_size"))
  }

  /** Exact n-gram Jaccard between two shingle-set columns (the verify
    * kernel of X3, usable standalone for pair scoring). */
  def jaccard(a: Column, b: Column): Column = {
    // |A∪B| = |A|+|B|−|A∩B| — the union array never materializes; the
    // repeated intersect is shared by codegen subexpression elimination
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a).cast("double") + size(b).cast("double") - inter)
  }

  /** Containment (overlap coefficient): |A∩B| / min(|A|, |B|) in exact
    * trunc-micros — the ASYMMETRIC near-dup signal Jaccard
    * structurally misses: a document fully embedded in a 10× larger
    * one scores containment 1.0 but Jaccard ≤ 0.1, so quote-
    * expansions, prefix-crawls, and wrapper pages survive a Jaccard
    * gate and die here. Integer end-to-end (sizes are ints, one
    * trunc-div) — unlike [[jaccard]]'s double, this hashes
    * engine-to-engine with no float surface at all. Empty sets pin 0
    * (min-size guard). */
  def containmentMicro(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("long")
    val mn = least(size(a), size(b)).cast("long")
    when(mn <= 0L, lit(0L))
      .otherwise(call_function("div", inter * 1000000L, mn))
  }

  /** X3 scale path — EXACT threshold-Jaccard self-join via prefix
    * filtering (the AllPairs/PPJoin family, Bayardo et al. WWW'07 /
    * Xiao et al. ICDE'08 — published algorithms, re-derived here for
    * Spark's shuffle model). Where MinHash/LSH banding trades recall
    * for speed, prefix filtering is LOSSLESS: every pair with
    * Jaccard ≥ t is returned, yet nothing close to all-pairs is ever
    * generated.
    *
    * The principle: fix one global total order over shingles. If
    * |a∩b| = O, the smallest common shingle cannot sit among the O−1
    * largest shingles of either set (it would drag the O−1 larger
    * common shingles with it — pigeonhole), so it lies in both sets'
    * (|s|−O+1)-prefixes. J(a,b) ≥ t implies O ≥ ceil(t·|s|) for each
    * side, so the per-set prefix of length |s| − ceil(t·|s|) + 1
    * (⊇ the pair-optimal prefix) must share a shingle. Candidates =
    * pairs sharing a PREFIX shingle; everything else is provably
    * below threshold without being looked at.
    *
    * The global order is document-frequency ascending (ties by
    * shingle text): rare-first ordering pushes common shingles out of
    * prefixes, so candidate fan-out per shingle is df² only for RARE
    * shingles — the skew-resistant choice, and the reason AllPairs
    * beats a plain inverted-index join (whose cost is Σ df² over ALL
    * shingles) by orders of magnitude on natural corpora.
    *
    * Distributed shape (three shuffles of the shingle stream, all
    * hash-keyed, no windows, no driver data):
    *   1. df census: explode → groupBy(shingle);
    *   2. order join + per-doc regroup: shingles meet their df on the
    *      shingle key, re-aggregate per doc, sort locally per row
    *      (bounded by doc size) and slice the prefix;
    *   3. candidate join on prefix shingle (id_a < id_b + the size
    *      filter 100·min ≥ t·max, since J ≥ t bounds |b|/|a| ≤ 1/t),
    *      dedup, then verify with ONE exact intersection per
    *      candidate against the full sets.
    *
    * Output: (id_a, id_b, n_inter, n_union, jaccard_micros) for every
    * pair with Jaccard ≥ thresholdPct/100 — integer cells only
    * (floor-micros via integral div), engine-portable.
    *
    * Resource note: the result plan reads two doc-cardinality frames
    * frozen by [[Pins.freeze]] (see below). In a long-lived session
    * that invokes this repeatedly, consume the result inside a
    * [[Pins.scoped]] block, which frees them on exit; otherwise they
    * wait for the ContextCleaner.
    */
  def prefixFilterJoin(df: DataFrame, id: String, text: String, k: Int,
      thresholdPct: Int): DataFrame = {
    require(thresholdPct > 0 && thresholdPct <= 100, "thresholdPct in (0,100]")
    // The shingle-set table feeds FOUR plan positions (both candidate
    // sides + both verify sides) and the prefix table two — without a
    // pin, Spark recomputes the census/order/regroup chain per
    // consumer (measured 20 s → 6 s at sf0.1 from this pin alone).
    // Frozen: doc-cardinality rows, freed by the caller's scope.
    // Shingles are HASHED to 8-byte longs by the codegen'd kernel
    // (same trick as [[minHashNearDups]]): the census, window, and
    // candidate joins shuffle longs instead of k-word strings, and the
    // verify intersect compares longs. Same sets modulo 64-bit
    // collisions (~|shingles|²/2⁶⁴ — negligible), and the global order
    // becomes (df, hash) instead of (df, text): ANY total order keeps
    // the prefix principle lossless, so the emitted pairs are
    // identical — which is exactly what the string-semantics oracle
    // certifies.
    val sets = df.select(col(id).as("_id"),
        graft.expr.WordShingleHashes(col(text), k, distinct = true).as("_sh"))
      .transform(Pins.freeze)
    val toks = sets.select(col("_id"), explode(col("_sh")).as("_t"))
    val dfreq = toks.groupBy(col("_t")).agg(count(lit(1)).as("_df"))
    // per-doc shingle rank under the global (df asc, shingle asc)
    // order via a DOC-KEYED window (shuffle on _id, in-partition sort —
    // bounded by doc size, never global; measured ~2× cheaper than the
    // collect_list + array_sort + re-explode form it replaced); prefix
    // keeps ranks ≤ n − ceil(t·n) + 1 (integer ceil via
    // (p·n + 99) div 100)
    val wDoc = Window.partitionBy(col("_id"))
    val ranked = toks.join(dfreq, "_t")
      .withColumn("_rn", row_number().over(wDoc.orderBy(col("_df").asc, col("_t").asc)))
      .withColumn("_n", count(lit(1)).over(wDoc))
    val need = call_function("div", col("_n") * thresholdPct + 99, lit(100))
    val prefixes = ranked
      .filter(col("_rn") <= col("_n") - need + 1)
      .select(col("_id"), col("_n"), col("_t"))
      .transform(Pins.freeze)
    val cand = prefixes.as("a").join(prefixes.as("b"),
        col("a._t") === col("b._t") && col("a._id") < col("b._id") &&
          greatest(col("a._n"), col("b._n")) * thresholdPct <=
          least(col("a._n"), col("b._n")) * 100)
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .distinct()
    val verified = cand
      .join(sets.select(col("_id").as("id_a"), col("_sh").as("_sa")), "id_a")
      .join(sets.select(col("_id").as("id_b"), col("_sh").as("_sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("_sa"), col("_sb"))).cast("long").as("n_inter"),
        (size(col("_sa")) + size(col("_sb"))).cast("long").as("_tot"))
      .select(col("id_a"), col("id_b"), col("n_inter"),
        (col("_tot") - col("n_inter")).as("n_union"))
      .filter(col("n_inter") * 100 >= col("n_union") * thresholdPct)
    verified.select(col("id_a"), col("id_b"), col("n_inter"), col("n_union"),
      call_function("div", col("n_inter") * 1000000L, col("n_union")).as("jaccard_micros"))
  }

  /** Rounds the most recent [[clusterPairs]] call took to converge —
    * a probe/test hook for the O(log diameter) scale claim, not part
    * of the data path (last invocation wins under concurrency). */
  @volatile private[graft] var lastClusterRounds: Int = -1

  /** Near-dup pairs → connected components, via min-label propagation
    * with pointer jumping: every id starts as its own label; each round a
    * node (1) adopts the smallest label in its neighborhood, then (2)
    * jumps to its label's label. The jump doubles propagation distance
    * per round, so even a chain-shaped component of length L (the
    * worst case — e.g. adjacent-id near-dup runs) converges in
    * O(log L) rounds instead of O(L).
    *
    * Scale discipline: edges persist hash-partitioned on the join key so
    * the per-round neighbor join never re-shuffles the (larger) edge
    * table; convergence is witnessed by the label SUM (labels only ever
    * decrease, so an unchanged sum ⇔ a fixpoint) — a shuffle-free
    * one-row aggregate instead of a join+count. The driver only ever
    * sees that one number, never data.
    *
    * Input: (id_a, id_b) pairs. Output: (id, cluster) for every id that
    * appears in some pair (singletons never enter and survive dedup by
    * definition). `cluster` = min id of the component. */
  def clusterPairs(pairs: DataFrame, maxRounds: Int = 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val spark = pairs.sparkSession
    // Size the loop's shuffle width to the EDGE volume, not the session
    // default: the candidate-pair graph is typically orders of magnitude
    // smaller than the corpus that produced it, and an iterative loop
    // multiplies any fixed per-partition cost by rounds x stages. ~1M
    // edges per partition; never wider than the session default. The
    // width is applied as explicit plan-local repartition() calls — the
    // session conf is never mutated, so concurrent queries on the same
    // SparkSession are unaffected. pairs is persisted so counting it
    // doesn't recompute the (possibly expensive) candidate pipeline when
    // edges materialize below.
    val p = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    val nPairs = p.count()
    val sessionWidth = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val loopWidth =
      math.max(1L, math.min(sessionWidth.toLong, 2L * nPairs / 1000000L + 1L)).toInt
    val fwd = p.select(col("id_a").as("src"), col("id_b").as("dst"))
    // Pre-partitioned at loopWidth on the loop's join key, so the
    // per-round neighbor join reads the cached layout as-is and never
    // re-shuffles the (larger) edge table.
    val edges = fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(loopWidth, col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    edges.count() // materialize the cache before the loop
    p.unpersist()
    // decimal(38,0): id sums can exceed Long at large cardinality.
    // sum() over zero rows is NULL - an empty pair set (legal in
    // production: a chunk with no near-dup candidates) must read as
    // ZERO, not NPE on the compareTo below.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("cluster").cast("decimal(38,0)"))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    // Pins.freeze (not persist) for the evolving labels frame:
    // it truncates lineage so round N's plan doesn't nest all N-1
    // previous plans - with plain persist, Catalyst re-analyzes a
    // tree that grows per round and the loop goes superlinear. Each
    // round explicitly unpersists the previous round's checkpoint once
    // the new one is materialized — reclamation must not wait on driver
    // GC / ContextCleaner, or blocks pile up across rounds+invocations.
    var labels = edges.select(col("src").as("id"))
      .repartition(loopWidth, col("id")).distinct()
      .withColumn("cluster", col("id"))
      .transform(Pins.freeze)
    var prevSum = labelSum(labels)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      // labels re-shuffles to the edge layout (hash(dst, loopWidth)) so
      // the join adds no exchange on the edge side; every shuffle in the
      // round is pinned to loopWidth by explicit repartition, keeping
      // the loop narrow without touching spark.sql.shuffle.partitions.
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst").withColumnRenamed("cluster", "_nc")
          .repartition(loopWidth, col("dst")), Seq("dst"))
        .repartition(loopWidth, col("src"))
        .groupBy(col("src").as("id"))
        .agg(min(col("_nc")).as("_nbmin"))
      val hop = labels.repartition(loopWidth, col("id"))
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("_nbmin"), col("cluster"))).as("cluster"))
        .persist(StorageLevel.MEMORY_AND_DISK) // read twice below (no cross-branch CSE)
      val next = hop.repartition(loopWidth, col("cluster")).as("a")
        .join(hop.select(col("id").as("_pid"), col("cluster").as("_pc"))
          .repartition(loopWidth, col("_pid")),
          col("a.cluster") === col("_pid"), "left")
        .select(col("a.id").as("id"),
          least(col("a.cluster"), coalesce(col("_pc"), col("a.cluster"))).as("cluster"))
        .transform(Pins.freeze)
      val newSum = labelSum(next)
      hop.unpersist()
      Pins.free(labels) // free the previous round's checkpoint blocks
      labels = next
      converged = newSum.compareTo(prevSum) == 0
      prevSum = newSum
      round += 1
    }
    // probe/test observability: rounds-to-convergence is the O(log
    // diameter) claim scale probes verify (GraphScaleProbe read this,
    // BENCH_NOTES.md "Retired dev mains";
    // single-threaded probes only — last invocation wins)
    lastClusterRounds = round
    edges.unpersist()
    labels
  }

  /** Benchmark decontamination: flag corpus documents sharing ≥
    * `minOverlap` distinct word-k-shingles with any probe (benchmark /
    * eval-set) document. The canonical pre-training hygiene op: held-out
    * test material must not leak into training data.
    *
    * Shape at scale: shingle hashes (codegen kernel) exploded on BOTH
    * sides; the probe side — eval sets are tiny next to a 100 TB corpus —
    * is distinct'd and BROADCAST, so the corpus never shuffles: the scan,
    * the hash-join against the broadcast set, and the per-doc count
    * pipeline in one stage, then one agg keyed by doc id. Output is one
    * row per corpus doc: (id, n_overlap).
    */
  def decontaminationOverlap(corpus: DataFrame, id: String, text: String,
      probe: DataFrame, probeText: String, k: Int = 5): DataFrame = {
    val corpusShingles = corpus.select(col(id),
      explode(graft.expr.WordShingleHashes(col(text), k, distinct = true)).as("_h"))
    val probeShingles = probe
      .select(explode(graft.expr.WordShingleHashes(col(probeText), k, distinct = true)).as("_h"))
      .distinct()
    corpusShingles.join(broadcast(probeShingles), Seq("_h"), "left_semi")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** Broadcast-free decontamination — the shape when the PROBE side is
    * NOT tiny (a consortium of eval suites, or screening one corpus
    * against another): identical semantics to [[decontaminationOverlap]]
    * but with no forced broadcast — both sides' shingle hashes meet in
    * whatever join the optimizer picks for their actual sizes. With AQE
    * that still becomes a broadcast when the probe turns out small, and
    * a shuffle semi-join on the 8-byte hash when it doesn't — the one
    * case the broadcast-hinted form cannot survive (a forced broadcast
    * of an unbounded probe OOMs the executors). Shuffle payloads are
    * (hash) and (hash, id) only; texts never move. */
  def decontaminationOverlapJoin(corpus: DataFrame, id: String, text: String,
      probe: DataFrame, probeText: String, k: Int = 5): DataFrame = {
    val corpusShingles = corpus.select(col(id),
      explode(graft.expr.WordShingleHashes(col(text), k, distinct = true)).as("_h"))
    val probeShingles = probe
      .select(explode(graft.expr.WordShingleHashes(col(probeText), k, distinct = true)).as("_h"))
      .distinct()
    corpusShingles.join(probeShingles, Seq("_h"), "left_semi")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** X3x — cross-document duplicated-span detection: the distributed
    * form of the exact-substring dedup pass of Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499, the suffix-array ExactSubstr dedup) re-expressed
    * as relational algebra. An n-token span occurring in ≥ `minDocs`
    * DISTINCT documents is "duplicated"; each document reports how many
    * of its spans are duplicated and how many of its token positions
    * any duplicated span covers — the budget a span-scrubbing pass
    * would cut, without mutating the corpus.
    *
    * Shape at scale: span generation is narrow (sequence + slice per
    * row — no shuffle, skew bounded by the longest document). The wide
    * ops are (1) one groupBy counting distinct docs per span and (2)
    * the join of span positions against the duplicated-key set, both
    * keyed on the span. With `keyByHash` (the default and the gated
    * path) that key is `xxhash64(span)` — 8 bytes however wide the
    * span — so the two shuffles carry (hash) and (hash, id, pos) only
    * and the span STRING never leaves its generating row, exactly the
    * decontamination trade: a 2^-64 collision can merge two distinct
    * spans (overcount). `keyByHash = false` shuffles exact strings
    * (DedupSpec asserts both forms agree on the fixture; the oracle
    * groups DuckDB-side on exact strings, so the gate also proves the
    * hash path collision-free on real data).
    *
    * Coverage is the union of covered positions — overlapping duplicated
    * spans never double-count a token. Documents shorter than n tokens
    * have no spans and report zeros. Tokenization is single-space split
    * with empties dropped (engine-portable; [[wordShingles]]' \s+ split
    * is equivalent on the fixture corpus).
    *
    * Deliberate plan trade (pinned in PlanShapeSpec): the narrow span
    * generator is evaluated once per branch of the dup-key join (scan
    * count 3) instead of persisting a corpus-sized span table — at
    * 100 TB re-running a codegen'd per-row kernel is cheaper than
    * pinning ~tokens× the corpus in the block store. */
  def duplicatedSpans(df: DataFrame, id: String, text: String, n: Int,
      minDocs: Int = 2, keyByHash: Boolean = true): DataFrame = {
    require(n >= 1, s"span width must be >= 1, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val base = df.select(col(id),
      filter(split(col(text), " "), t => t =!= lit("")).as("_w"))
      .withColumn("_nt", size(col("_w")))
    // span start positions, 0-based; docs with < n tokens yield none
    // (explode drops the NULL array)
    val spans = base
      .select(col(id), col("_w"),
        explode(when(col("_nt") >= n, sequence(lit(0), col("_nt") - n))).as("_pos"))
      .withColumn("_span", concat_ws(" ", slice(col("_w"), col("_pos") + 1, lit(n))))
      .select(col(id), col("_pos"),
        (if (keyByHash) xxhash64(col("_span")) else col("_span")).as("_k"))
    val dupKeys = spans.groupBy(col("_k"))
      .agg(countDistinct(col(id)).as("_docs"))
      .filter(col("_docs") >= minDocs)
      .select(col("_k"))
    // no broadcast hint: the duplicated-key set scales with corpus
    // redundancy (unbounded at 100 TB); AQE broadcasts when it's small
    val dupAgg = spans.join(dupKeys, Seq("_k"), "left_semi")
      .select(col(id), col("_pos"), explode(sequence(col("_pos"), col("_pos") + (n - 1))).as("_t"))
      .groupBy(col(id))
      .agg(countDistinct(col("_pos")).as("n_dup_spans"),
        countDistinct(col("_t")).as("dup_tokens"))
    base.select(col(id), col("_nt").cast("long").as("n_tokens"),
        when(col("_nt") >= n, (col("_nt") - n + 1).cast("long")).otherwise(0L).as("n_spans"))
      .join(dupAgg, Seq(id), "left")
      .select(col(id), col("n_tokens"), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
  }

  /** X3x — the MUTATION form of [[duplicatedSpans]]: rewrite the corpus
    * with cross-document duplicated spans removed, keeping one canonical
    * copy. Per duplicated span the OWNER is the min doc id containing
    * it; a token is cut iff some duplicated span covers it whose owner
    * is another document (so the canonical copy survives, all echoes
    * are scrubbed — the all-but-one-occurrence rule of Lee et al. 2022,
    * resolved deterministically at token granularity when overlapping
    * spans disagree: any non-owned cover removes). Documents emerge as
    * (id, n_tokens, n_removed, clean_text), clean_text preserving the
    * original relative token order; a fully-scrubbed doc yields '' (the
    * caller decides whether to drop empties — that is a filter, not
    * this op's policy).
    *
    * Scale shape: the census phases are [[duplicatedSpans]]' (narrow
    * span gen, hash-keyed wide ops). The scrub adds what a mutation
    * inherently costs: one (id, position)-keyed anti-join of the token
    * stream against the removal set and one groupBy(id) to reassemble —
    * shuffles carry (id, pos, token) triples, skew bounded by the
    * longest document, reassembly via sorted-struct collect (never a
    * corpus-wide sort). */
  def scrubDuplicatedSpans(df: DataFrame, id: String, text: String, n: Int,
      minDocs: Int = 2, keyByHash: Boolean = true): DataFrame = {
    require(n >= 1, s"span width must be >= 1, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val base = df.select(col(id),
      filter(split(col(text), " "), t => t =!= lit("")).as("_w"))
      .withColumn("_nt", size(col("_w")))
    val spans = base
      .select(col(id), col("_w"),
        explode(when(col("_nt") >= n, sequence(lit(0), col("_nt") - n))).as("_pos"))
      .withColumn("_span", concat_ws(" ", slice(col("_w"), col("_pos") + 1, lit(n))))
      .select(col(id), col("_pos"),
        (if (keyByHash) xxhash64(col("_span")) else col("_span")).as("_k"))
    // duplicated spans with their canonical owner
    val dupOwners = spans.groupBy(col("_k"))
      .agg(countDistinct(col(id)).as("_docs"), min(col(id)).as("_owner"))
      .filter(col("_docs") >= minDocs)
      .select(col("_k"), col("_owner"))
    // tokens to cut: covered by a duplicated span someone else owns
    val removals = spans.join(dupOwners, Seq("_k"))
      .filter(col(id) =!= col("_owner"))
      .select(col(id), explode(sequence(col("_pos"), col("_pos") + (n - 1))).as("_t"))
      .distinct()
    val tokens = base
      .select(col(id), posexplode(col("_w")).as(Seq("_t", "_tok")))
    val kept = tokens.join(removals, Seq(id, "_t"), "left_anti")
      .groupBy(col(id))
      .agg(count(lit(1)).as("_nkept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("_t"), col("_tok")))),
            x => x.getField("_tok"))).as("clean_text"))
    base.select(col(id), col("_nt").cast("long").as("n_tokens"))
      .join(kept, Seq(id), "left")
      .select(col(id), col("n_tokens"),
        (col("n_tokens") - coalesce(col("_nkept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** X3x — line-level boilerplate removal, the CCNet/RefinedWeb pass
    * that runs BEFORE document-level dedup: a line recurring across
    * ≥ `minDocs` distinct documents of the same `group` (site / source /
    * domain — nav menus, cookie banners, footers) is dropped from EVERY
    * document. Unlike [[scrubDuplicatedSpans]] no canonical copy
    * survives: recurring boilerplate is template noise, not content
    * someone wrote once (the deliberate semantic difference between the
    * two mutation ops).
    *
    * Lines are the exact '\n'-separated segments; matching is
    * whole-line and grouped — the same footer on two different sites is
    * NOT boilerplate unless each site independently crosses the
    * threshold, which is what keeps a 100 TB census shardable by
    * (group, line) without a corpus-global hot key.
    *
    * Scale shape: the census shuffles (group, xxhash64(line)) pairs —
    * line text never moves for counting (hash-keyed like the span
    * census; the astronomically-unlikely 64-bit collision merges two
    * lines' counts). One left-anti join of the line stream against the
    * boilerplate key set, then a groupBy(id) sorted-struct reassembly;
    * skew is bounded by the longest document, and the only wide ops are
    * the census agg, the anti-join, and the reassembly. Output:
    * (id, group, n_lines, n_removed, clean_text) with original line
    * order preserved; an all-boilerplate document yields ''. */
  def boilerplateScrub(df: DataFrame, id: String, text: String,
      group: String, minDocs: Int): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = df.select(col(id), col(group),
        posexplode(split(col(text), "\n")).as(Seq("_pos", "_line")))
      .withColumn("_k", xxhash64(col("_line")))
    val boiler = lines.groupBy(col(group), col("_k"))
      .agg(countDistinct(col(id)).as("_docs"))
      .filter(col("_docs") >= minDocs)
      .select(col(group), col("_k"))
    // no broadcast hint: per-group boilerplate cardinality is unbounded
    // at corpus scale; AQE broadcasts when the census comes out small
    val kept = lines.join(boiler, Seq(group, "_k"), "left_anti")
      .groupBy(col(id))
      .agg(count(lit(1)).as("_nkept"),
        concat_ws("\n",
          transform(array_sort(collect_list(struct(col("_pos"), col("_line")))),
            x => x.getField("_line"))).as("clean_text"))
    df.select(col(id), col(group),
        size(split(col(text), "\n")).cast("long").as("n_lines"))
      .join(kept, Seq(id), "left")
      .select(col(id), col(group), col("n_lines"),
        (col("n_lines") - coalesce(col("_nkept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Full near-dup dedup: from candidate pairs, keep one doc per
    * component (the min id) plus every singleton. Returns the surviving
    * id set as a one-column frame. */
  def survivorsAfterNearDedup(df: DataFrame, id: String, pairs: DataFrame): DataFrame = {
    val clustered = clusterPairs(pairs)
    // the freeze severs the iterative lineage and lets the loop's
    // frozen labels free (clusterPairs' returned pin would otherwise
    // stay per invocation).
    val drop = Pins.freeze(
      clustered.filter(col("id") =!= col("cluster")).select(col("id").as(id)))
    Pins.free(clustered)
    // No broadcast hint: the non-survivor list is bounded by candidate-
    // pair count, which at 100 TB with tens-of-percent dup rates is
    // billions of ids — an explicit hint would bypass
    // autoBroadcastJoinThreshold and OOM. AQE picks broadcast at runtime
    // whenever drop turns out small.
    df.select(col(id)).join(drop, Seq(id), "left_anti")
  }

  // ---------------------------------------------------------------------
  // SimHash (X3 variant)
  // ---------------------------------------------------------------------

  /** 64-bit SimHash from a pre-materialized array of token hashes: per
    * bit j, count tokens with bit j set; fingerprint bit j = 1 iff set in
    * the majority. O(64·n_tokens) per row, narrow.
    *
    * Callers must materialize the hash array in its own projection first
    * (see [[simHashNearDups]]) — referencing the tokenize+hash expression
    * directly here would re-evaluate it once per bit lambda (64×). */
  def simHashFromHashes(hashes: Column, nTokens: Column): Column = {
    val bits = transform(sequence(lit(0), lit(63)), j =>
      when(
        aggregate(hashes, lit(0L),
          (acc, h) => acc + call_function("shiftright", h, j).bitwiseAND(lit(1L))
        ) * 2 > nTokens, lit(1L)).otherwise(lit(0L)))
    aggregate(
      zip_with(bits, sequence(lit(0), lit(63)), (bit, j) => call_function("shiftleft", bit, j)),
      lit(0L), (acc, v) => acc.bitwiseOR(v))
  }

  /** Token-hash array for SimHash (lower → whitespace split → xxhash64). */
  def tokenHashes(text: Column): Column =
    transform(split(lower(text), "\\s+"), t => xxhash64(t))

  /** SimHash near-dup: candidates from banding the 64-bit fingerprint into
    * 4×16-bit blocks (any pair within Hamming distance 3 shares ≥1 exact
    * block), verified by exact Hamming distance ≤ maxHamming. */
  def simHashNearDups(df: DataFrame, id: String, text: String, maxHamming: Int = 3): DataFrame = {
    // Fingerprint via the per-row codegen kernel (graft.expr.SimHash64):
    // tokenize + hash + majority-vote in one compiled pass, so the
    // fingerprint stage is NARROW — no explode, no per-token shuffle, no
    // wide aggregate. (The previous explode + 64 sum()-slot form shuffled
    // one row per corpus token.) fp is frozen because both sides of
    // the candidate self-join read it (no cross-branch CSE); the
    // caller's Pins.scoped block frees it. Footprint: 2 longs per doc.
    val fp = df.select(col(id).as("_id"), graft.expr.SimHash64(col(text)).as("_fp"))
      .transform(Pins.freeze)
    val blocks = fp.select(col("_id"), col("_fp"),
      explode(transform(sequence(lit(0), lit(3)), b =>
        struct(b.as("block_id"), call_function("shiftright", col("_fp"), b * lit(16)).bitwiseAND(lit(0xFFFFL)).as("block_val")))).as("_b"))
      .select(col("_id"), col("_fp"), col("_b.block_id"), col("_b.block_val"))
    val cand = blocks.as("x").join(blocks.as("y"),
        col("x.block_id") === col("y.block_id") &&
          col("x.block_val") === col("y.block_val") &&
          col("x._id") < col("y._id"))
      .select(col("x._id").as("id_a"), col("y._id").as("id_b"),
        col("x._fp").as("fp_a"), col("y._fp").as("fp_b"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  // ---------------------------------------------------------------------
  // Edit-distance fuzzy matching (short fields)
  // ---------------------------------------------------------------------

  /** Fuzzy-match pairs by Levenshtein distance within blocking buckets —
    * the record-linkage / entity-resolution primitive for SHORT fields
    * (names, titles, SKUs) where shingle-based MinHash has too little
    * signal. Levenshtein is O(|a|·|b|) per pair, so the all-pairs form
    * is never computed: candidates come from an equi-join on the
    * blocking columns (the classic blocking-key design — at 100 TB the
    * join shuffles on the bucket key and each bucket's pair scan is
    * local and bounded by the largest bucket). `id_a < id_b` keeps each
    * unordered pair once. Blocking trades recall for cost exactly like
    * LSH banding: a true match in different buckets is missed — pick
    * keys that fuzz-invariant attributes (brand, size, zip) rather than
    * the noisy field itself. Output: (id_a, id_b, dist), dist ≤ maxDist.
    *
    * Per-pair cost discipline, in order:
    *  1. DICTIONARY FIRST — the DP runs on DISTINCT (block, value)
    *     pairs, not row pairs. Short-field columns are low-cardinality
    *     almost by definition (names, cities, SKUs repeat), so this
    *     collapses the quadratic term from rows² to distinct-values²
    *     per block; row-level pairs come back from two hash joins on
    *     (block, value). A heavily repeated value skews the expansion
    *     join exactly like any skewed key — Skew.saltedJoin applies.
    *  2. Length prefilter — edit distance ≥ |len(a)−len(b)|: a two-int
    *     compare drops length-incompatible value pairs before any DP.
    *  3. THRESHOLDED Levenshtein kernel — banded DP, abandons once the
    *     band exceeds maxDist (O(maxDist·n) and early-exit vs O(n²));
    *     −1 above threshold, exact distance otherwise. */
  def editDistancePairs(df: DataFrame, id: String, text: String,
      blockBy: Seq[String], maxDist: Int): DataFrame = {
    val blockCols = blockBy.map(col)
    val dict = df.select(blockCols :+ col(text).as("_t"): _*).distinct()
    // value-level candidates once per block, each unordered value pair
    // once (_tx <= _ty; the equal pair carries its dist-0 duplicates)
    val candidates = dict.select(blockCols :+ col("_t").as("_tx"): _*)
      .join(dict.select(blockCols :+ col("_t").as("_ty"): _*), blockBy)
      .filter(col("_tx") <= col("_ty"))
    verifyAndExpand(df, id, text, blockBy, candidates, maxDist)
  }

  /** [[editDistancePairs]] for HIGH-cardinality short fields — the
    * SymSpell design: candidates are value pairs sharing any
    * ≤maxDist-byte-deletion variant (codegen'd hash kernel
    * `graft.expr.DeletionNeighborhoodHashes`; if lev(a,b) ≤ k the pair
    * always shares a variant, so completeness is unconditional — hash
    * collisions only add candidates and the exact verify removes them).
    *
    * Where the dictionary form's value self-join is quadratic in
    * distinct values per block, this is linear in values × neighborhood
    * size (1 + n + n²/2 hashes for maxDist 2, n = byte length) and the
    * join is equi on (block, variant-hash) — the candidate set is driven
    * by actual near-matches, not by block width. The trade: neighborhood
    * size is quadratic in STRING length, so this is for short fields
    * (names, SKUs, titles); maxDist ≤ 2. Byte-level deletions: exact for
    * ASCII, see the kernel doc for multibyte budgets.
    *
    * `maxBucket` (0 = off) drops variant-hash keys shared by more than
    * that many distinct values before the pair join — the same
    * degenerate-key bound MinHash banding applies (`maxBucket` there):
    * in a dense near-dup blob every bucket is family-sized and the join
    * emits |bucket|² rows per key. The trade is recall — a true pair
    * ALL of whose shared variants are hot is missed; sparse-match
    * corpora (the design target) lose nothing because true pairs share
    * cold keys too. Dense blobs belong to MinHash clustering anyway. */
  def editDistancePairsDeletes(df: DataFrame, id: String, text: String,
      blockBy: Seq[String], maxDist: Int, maxBucket: Int = 0): DataFrame = {
    val blockCols = blockBy.map(col)
    val dict = df.select(blockCols :+ col(text).as("_t"): _*).distinct()
    val keyedAll = dict.select(blockCols :+ col("_t") :+
      explode(graft.expr.DeletionNeighborhoodHashes(col("_t"), maxDist)).as("_dk"): _*)
    val keyed = if (maxBucket <= 0) keyedAll else {
      val hot = keyedAll.groupBy(blockCols :+ col("_dk"): _*)
        .agg(count(lit(1)).as("_bn")).filter(col("_bn") > maxBucket)
        .select(blockCols :+ col("_dk"): _*)
      keyedAll.join(hot, blockBy :+ "_dk", "left_anti")
    }
    val candidates = keyed.select(blockCols :+ col("_t").as("_tx") :+ col("_dk"): _*)
      .join(keyed.select(blockCols :+ col("_t").as("_ty") :+ col("_dk"): _*),
        blockBy :+ "_dk")
      .filter(col("_tx") <= col("_ty"))
      .select(blockCols :+ col("_tx") :+ col("_ty"): _*)
      .distinct() // a pair may share several deletion variants
    verifyAndExpand(df, id, text, blockBy, candidates, maxDist)
  }

  /** Shared tail of the fuzzy matchers: length prefilter + thresholded
    * banded Levenshtein on value pairs, then expansion back to id pairs
    * (every row holding _tx × every row holding _ty in the block; an
    * unordered id pair appears exactly once — once per cross for
    * _tx < _ty, i<j-filtered for the equal pair). */
  private def verifyAndExpand(df: DataFrame, id: String, text: String,
      blockBy: Seq[String], candidates: DataFrame, maxDist: Int): DataFrame = {
    val blockCols = blockBy.map(col)
    val verified = candidates
      .filter(abs(length(col("_tx")) - length(col("_ty"))) <= maxDist)
      .withColumn("dist", levenshtein(col("_tx"), col("_ty"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
    val ida = df.select(col(id).as("_ida") +: col(text).as("_tx") +: blockCols: _*)
    val idb = df.select(col(id).as("_idb") +: col(text).as("_ty") +: blockCols: _*)
    verified
      .join(ida, blockBy :+ "_tx")
      .join(idb, blockBy :+ "_ty")
      .filter(col("_tx") < col("_ty") || col("_ida") < col("_idb"))
      .select(least(col("_ida"), col("_idb")).as("id_a"),
        greatest(col("_ida"), col("_idb")).as("id_b"), col("dist"))
  }
}
