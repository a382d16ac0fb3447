package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis operators (EXT X4 — SURVEY §2.5): the per-document
  * statistics a training-data pipeline filters on. All narrow, per-row
  * native expressions — they pipeline inside whole-stage codegen with
  * whatever scan feeds them, and aggregate with ordinary hash aggs.
  */
object TextAnalysis {

  /** Whitespace tokenization (the `\s+` contract is shared with the
    * DuckDB oracles: `string_split_regex(text, '\s+')`). */
  def tokens(text: Column): Column = split(text, "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subword count estimate: words + extra splits at case/digit
    * boundaries and every ~4 chars of long words — a deterministic proxy
    * for tokenizer budget accounting without shipping a vocab. */
  def subwordCountEstimate(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => acc + greatest(lit(1L), ceil(length(t).cast("double") / 4.0).cast("long")))

  /** Count of occurrences (not distinct) of `words` among the tokens. */
  def wordOccurrences(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isInCollection(words))).cast("long")

  // ------------------------------------------------------------------
  // Gopher quality rules (Rae et al. 2021, "Scaling Language Models",
  // table A1 — the published repetition/format heuristic battery most
  // production corpus filters descend from). All signals are exact
  // integer ppm/micros over the shared `\s+`/newline tokenizations, so
  // a DuckDB oracle replays every column bit-for-bit; the composite
  // verdict applies the PAPER'S published thresholds. Per-row HOFs
  // only — narrow, codegen-friendly, no shuffle.
  // ------------------------------------------------------------------

  /** The paper's 8-word English-indicator set ("contains at least two
    * of ..."). */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Per-document Gopher rule signals + the composite verdict:
    * (id, n_words, mean_word_len_micro, dup_line_ppm, bullet_line_ppm,
    * ellipsis_line_ppm, symbol_word_ppm, alpha_word_ppm, n_stop_hits,
    * gopher_pass). Thresholds (paper values): 50 ≤ words ≤ 100k, mean
    * word length in [3, 10], symbol-to-word ratio < 0.1 ('#' and '…'),
    * < 90% bullet lines, < 30% ellipsis lines, ≥ 80% words with an
    * alphabetic character, ≥ 2 of the 8 indicator words, and < 30%
    * duplicate lines (the line-repetition family collapsed to its
    * by-count member — the fixture has no multi-line dup structure to
    * distinguish the char-weighted variants). */
  def gopherSignals(df: org.apache.spark.sql.DataFrame, id: String,
      text: String): org.apache.spark.sql.DataFrame = {
    val w = tokens(lower(col(text)))
    val nWords = size(w).cast("long")
    val sumLen = aggregate(w, lit(0L), (a, x) => a + length(x))
    val lines = split(col(text), "\n")
    val nLines = size(lines).cast("long")
    val dupLines = nLines - size(array_distinct(lines)).cast("long")
    val bulletLines = size(filter(lines,
      l => substring(trim(l), 1, 1).isInCollection(Seq("-", "*", "•"))))
      .cast("long")
    val ellipsisLines = size(filter(lines,
      l => trim(l).endsWith("...") || trim(l).endsWith("…"))).cast("long")
    val symbols = (length(col(text)) -
      length(regexp_replace(col(text), "[#…]", ""))).cast("long")
    val alphaWords = size(filter(w, x => x.rlike("[a-z]"))).cast("long")
    val stopHits = size(filter(
      array(gopherStopwords.map(lit): _*),
      sw => array_contains(w, sw))).cast("long")
    // exact trunc division (Spark `div` ≡ DuckDB `//`, the pinned pair)
    def ppm(num: Column, den: Column): Column =
      call_function("div", num * 1000000L, den)
    df.select(col(id),
        nWords.as("n_words"),
        ppm(sumLen, nWords).as("mean_word_len_micro"),
        ppm(dupLines, nLines).as("dup_line_ppm"),
        ppm(bulletLines, nLines).as("bullet_line_ppm"),
        ppm(ellipsisLines, nLines).as("ellipsis_line_ppm"),
        ppm(symbols, nWords).as("symbol_word_ppm"),
        ppm(alphaWords, nWords).as("alpha_word_ppm"),
        stopHits.as("n_stop_hits"))
      .withColumn("gopher_pass",
        col("n_words") >= 50L && col("n_words") <= 100000L &&
          col("mean_word_len_micro") >= 3000000L &&
          col("mean_word_len_micro") <= 10000000L &&
          col("symbol_word_ppm") < 100000L &&
          col("bullet_line_ppm") < 900000L &&
          col("ellipsis_line_ppm") < 300000L &&
          col("alpha_word_ppm") >= 800000L &&
          col("n_stop_hits") >= 2L &&
          col("dup_line_ppm") < 300000L)
  }

  def punctCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[.,!?;:]", ""))).cast("long")

  /** Syllable-count heuristic: maximal `[aeiouy]+` runs in the
    * lowercased text — the classic readability approximation (each
    * vowel group ≈ one syllable; whitespace breaks runs, so the text-
    * wide count equals the per-word sum with no word loop). Both
    * engines count the same maximal-run semantics
    * (`regexp_count` / `len(regexp_extract_all(...))`). */
  def syllableCount(text: Column): Column =
    regexp_count(lower(text), lit("[aeiouy]+")).cast("long")

  /** Sentence-count heuristic: maximal terminator runs (`[.!?]+` — an
    * ellipsis or "?!" ends ONE sentence), floored at 1 so unterminated
    * fragments count as a sentence instead of zeroing a denominator. */
  def sentenceCount(text: Column): Column =
    greatest(lit(1L), regexp_count(text, lit("[.!?]+")).cast("long"))

  /** Flesch reading ease in exact trunc-micros:
    * `206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)`
    * with the rationals as integer ratios (203/200, 423/5) and both
    * divisions BIGINT trunc-div — no double ever exists, so scores are
    * partial-agg-order-proof and engine-portable. Denominators are
    * floored at 1 (empty-text guard); scores can legitimately go
    * negative on dense run-on text — that is the scale working, not an
    * error. */
  def fleschMicro(nWords: Column, nSentences: Column,
      nSyllables: Column): Column =
    lit(206835000L) -
      call_function("div", lit(203L) * nWords * 1000000L,
        lit(200L) * greatest(lit(1L), nSentences)) -
      call_function("div", lit(423L) * nSyllables * 1000000L,
        lit(5L) * greatest(lit(1L), nWords))

  val englishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "from")

  /** Quality heuristics, integer-exact so oracles match bit-for-bit:
    * token count, char count, punctuation, stopword occurrences, and a
    * boolean gate resembling Gopher/C4-style length+stopword rules. */
  def qualityGate(nTokens: Column, nChars: Column, stopCount: Column): Column =
    nTokens.between(5, 100000) &&
      (nChars / greatest(nTokens, lit(1L))).between(1, 15) &&
      stopCount * 50 >= nTokens

  /** Language-ID marker sets: top function words per language. The
    * when-chain tie-break order (en, de, fr, es, unknown) is part of the
    * cross-engine contract — oracles use the same CASE order. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "un", "une"),
    "es" -> Seq("el", "los", "las", "es", "un", "una", "que", "y"))

  /** X4 — n-gram/function-word language identification: argmax of marker
    * occurrences with a deterministic CASE-order tie-break; 'und' (sic)
    * when nothing matches. */
  def languageId(text: Column): Column = {
    val t = lower(text)
    val scores = langMarkers.map { case (lang, words) => lang -> wordOccurrences(t, words) }
    val best = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("unknown")) { case ((lang, score), elseCol) =>
      when(score === best && best > 0, lit(lang)).otherwise(elseCol)
    }
  }

  /** Normalized content fingerprint: lowercase, strip punctuation,
    * collapse whitespace, sha-256, keep 16 hex chars. The canonical
    * "same doc modulo formatting" key for X1-style dedup at scale (the
    * 64-bit prefix keeps shuffle keys small; collision rate ~2^-32 per
    * pair is acceptable for candidate generation). */
  def fingerprint(text: Column): Column =
    substring(sha2(regexp_replace(regexp_replace(lower(trim(text)), "[.,!?;:]", ""), "\\s+", " "), 256), 1, 16)

  /** Polynomial rolling hash (mod 1e9+7) over the first `cap` characters —
    * the classic Rabin-Karp fingerprint, expression-only. Not mirrored in
    * SQL oracles (DuckDB lacks a portable fold); covered by unit tests. */
  def rollingHash(text: Column, cap: Int = 64): Column = {
    val n = least(length(text), lit(cap))
    val idx = sequence(lit(1), greatest(n, lit(1)))
    aggregate(idx, lit(0L),
      (acc, i) => (acc * 31 + ascii(call_function("substring", text, i, lit(1)))) % 1000000007L)
  }

  /** PII redaction: emails, then phone-like digit runs, then any
    * remaining long digit sequences (ids), each replaced by a typed
    * placeholder token. Pure `regexp_replace` chain — narrow, codegen'd,
    * pipelines inside the scan stage at any scale. Patterns are written
    * in the RE2-compatible subset (no backrefs/lookaround) so the DuckDB
    * oracle can run the identical regexes.
    *
    * The reference ships raw user PII (emails, names —
    * `src/lms_to_s3_lambda.py:99-137` rename map) straight to its sink;
    * a training-data pipeline must scrub it instead. */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val phone = regexp_replace(email, "\\+?[0-9][0-9() -]{7,}[0-9]", "<PHONE>")
    regexp_replace(phone, "[0-9]{6,}", "<ID>")
  }

  /** Gopher-style repetition statistics per document: total tokens, the
    * top single-token count, and duplicate-bigram count — the integer
    * ingredients of "most frequent word fraction" / "duplicate 2-gram
    * fraction" quality rules (kept integer so oracles hash-match; the
    * caller divides).
    *
    * Shape at scale: posexplode + a per-doc window to form bigrams (the
    * window sorts WITHIN each doc only — no global sort), then two hash
    * aggs keyed by doc id. State per key is O(distinct terms per doc),
    * never corpus-wide. */
  def repetitionStats(df: org.apache.spark.sql.DataFrame, id: String,
      text: String): org.apache.spark.sql.DataFrame = {
    // Token and bigram streams from the codegen'd shingle-hash kernel
    // (k=1 / k=2, duplicates kept): the bigram string never materializes
    // and every shuffle carries (id, int64) instead of (id, string).
    // This also drops the per-doc window sort the lead()-based bigram
    // form needed — at 100 TB that sort is a full extra exchange+sort
    // over the exploded token stream. Counting over hashes is exact
    // modulo per-doc 2^-64 collisions (the same contract the Jaccard
    // verify kernels use).
    val tok1 = df.select(col(id),
      explode(graft.expr.WordShingleHashes(col(text), 1, distinct = false)).as("_h"))
    val wordStats = tok1.groupBy(col(id), col("_h")).agg(count(lit(1)).as("c"))
      .groupBy(col(id))
      .agg(sum(col("c")).as("n_tokens"), max(col("c")).as("top_word_n"))
    val tok2 = df.select(col(id),
      explode(graft.expr.WordShingleHashes(col(text), 2, distinct = false)).as("_h"))
    val bigramStats = tok2.groupBy(col(id), col("_h")).agg(count(lit(1)).as("c"))
      .groupBy(col(id))
      .agg(sum(col("c")).as("_nb"), (sum(col("c")) - count(lit(1))).as("_db"))
    // <2 tokens ⇒ no bigrams (the kernel emits one whole-text shingle
    // for short docs; the lead()-form emitted none — keep that contract).
    wordStats.join(bigramStats, id)
      .select(col(id), col("n_tokens"), col("top_word_n"),
        when(col("n_tokens") >= 2, col("_nb")).otherwise(lit(0L)).as("n_bigrams"),
        when(col("n_tokens") >= 2, col("_db")).otherwise(lit(0L)).as("dup_bigram_n"))
  }

  /** Per-document top-k terms by tf·idf.
    *
    * Three hash aggregates (term counts per doc, doc frequency per term,
    * corpus size as a 1-row broadcast) and a per-doc top-k window — all
    * shuffles are on term or doc id, nothing is corpus-cardinality
    * state. Determinism contract: rank over the ROUNDED score (6 dp,
    * term tiebreak) so a last-ulp `ln` difference between engines can't
    * reorder; tf/df/N stay integer until the single ln/multiply.
    */
  def tfidfTopTerms(df: org.apache.spark.sql.DataFrame, id: String, text: String,
      k: Int, minTokenLen: Int = 4): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = df.select(col(id), explode(tokens(lower(col(text)))).as("term"))
      .filter(length(col("term")) >= minTokenLen)
    val tf = words.groupBy(col(id), col("term")).agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("_n_docs"))
    val scored = tf.join(docFreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("_n_docs").cast("double") / col("df")), 6))
    val w = Window.partitionBy(col(id)).orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col(id), col("term"), col("tf"), col("df"), col("tfidf"), col("rk"))
  }

  /** Filter-cascade ATTRITION census — the report every data-curation
    * pipeline publishes: rules applied in order, each stage charged
    * with the docs it killed among those surviving every earlier rule
    * (so the numbers sum: n_total = Σ killed + survivors, and stage
    * order matters exactly like it does in the real pipeline). ONE
    * corpus scan: the first-failing-rule index is a CASE chain per
    * row, then a hash agg at RULE cardinality. The last stage's
    * `n_out` IS the survivor count. */
  def filterAttrition(df: org.apache.spark.sql.DataFrame,
      rules: Seq[(String, Column)]): org.apache.spark.sql.DataFrame = {
    require(rules.nonEmpty, "need at least one rule")
    // foldRight builds when(!r0, 0).otherwise(when(!r1, 1)…) —
    // evaluation order IS application order, first failure wins; a
    // NULL rule verdict counts as a failure (filters must be total)
    val firstFail = rules.zipWithIndex.foldRight(lit(-1)) {
      case (((_, cond), i), elseCol) =>
        when(!coalesce(cond, lit(false)), lit(i)).otherwise(elseCol)
    }
    val counts = df.select(firstFail.as("_ff"))
      .groupBy(col("_ff")).agg(count(lit(1)).as("_n"))
    val spark = df.sparkSession
    val stages = spark.createDataFrame(
      rules.zipWithIndex.map { case ((name, _), i) => (i, name) })
      .toDF("stage", "rule")
    val joined = stages.join(counts, col("stage") === col("_ff"), "left")
      .select(col("stage").cast("long").as("stage"), col("rule"),
        coalesce(col("_n"), lit(0L)).as("n_killed"))
    // n_in per stage = total − killed by earlier stages (window over a
    // RULE-cardinality frame — never corpus rows)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("stage"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    joined
      .withColumn("_before", coalesce(sum(col("n_killed")).over(w), lit(0L)))
      .crossJoin(broadcast(df.agg(count(lit(1)).as("_tot"))))
      .select(col("stage"), col("rule"),
        (col("_tot") - col("_before")).as("n_in"), col("n_killed"),
        (col("_tot") - col("_before") - col("n_killed")).as("n_out"))
  }

  /** PMI collocation mining: adjacent word pairs whose co-occurrence
    * beats chance — the classic corpus-linguistics detector for fixed
    * phrases ("new york"-style units a tokenizer or phrase-table pass
    * wants as single symbols). PMI = log of the association ratio
    *
    *   ratio = (c_xy / B) / ((c_x / T)·(c_y / T)) = c_xy·T² / (B·c_x·c_y)
    *
    * with c_xy the bigram count (B total bigrams), c_x unigram counts
    * (T total tokens). The log is monotone, so the RANKING needs only
    * the ratio — emitted as exact trunc-micros (c_xy·T²·1e6 stays
    * inside DECIMAL(38,0) to ~3e9 tokens; past that the exact counts
    * are still the output and callers derive the ratio downstream).
    * All counts are exact BIGINTs from two hash aggs (bigram-keyed and
    * unigram-keyed) over one corpus scan each; the unigram table joins
    * back at bigram grain twice (vocabulary-scale joins, broadcast or
    * shuffle as the optimizer sizes them). `minCount` is the standard
    * evidence floor (rare pairs have unstable PMI). */
  def pmiBigrams(df: org.apache.spark.sql.DataFrame, text: String,
      minCount: Long = 5L, minTokenLen: Int = 1): org.apache.spark.sql.DataFrame = {
    val toks = tokens(lower(col(text)))
    val words = df.select(explode(toks).as("w"))
      .filter(length(col("w")) >= minTokenLen)
    val uni = words.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val totT = words.agg(count(lit(1)).as("_t"))
    val bigrams = df
      .select(when(size(toks) >= 2,
        zip_with(slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
          (x, y) => struct(x.as("w1"), y.as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>")).as("_bs"))
      .select(explode(col("_bs")).as("_b"))
      .select(col("_b.w1").as("w1"), col("_b.w2").as("w2"))
      .filter(length(col("w1")) >= minTokenLen && length(col("w2")) >= minTokenLen)
    val big = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
    val totB = bigrams.agg(count(lit(1)).as("_bt"))
    val Big = "decimal(38,0)"
    big
      .join(uni.select(col("w").as("w1"), col("c").as("c_x")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_y")), "w2")
      .join(broadcast(totT), expr("true"))
      .join(broadcast(totB), expr("true"))
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        call_function("div",
          col("c_xy").cast(Big) * col("_t").cast(Big) * col("_t").cast(Big) * 1000000L,
          col("_bt").cast(Big) * col("c_x").cast(Big) * col("c_y").cast(Big))
          .cast("long").as("pmi_ratio_micros"))
  }

  /** BM25 top terms per document — tf·idf's retrieval-grade sibling
    * with saturating tf and document-length normalization:
    * `idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`. Same plan
    * skeleton as [[tfidfTopTerms]] (three hash aggs + per-doc top-k
    * window; tf/df/dl/N stay integer until the one double formula), and
    * the same determinism contract: rank over the 6-dp ROUNDED score
    * with a term tiebreak so a last-ulp `ln` difference between engines
    * can't reorder. avgdl is a one-row broadcast (sum/count of integer
    * doc lengths — an exactly-rounded IEEE divide both engines agree
    * on), never a re-scan. */
  def bm25TopTerms(df: org.apache.spark.sql.DataFrame, id: String, text: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75, minTokenLen: Int = 4)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = df.select(col(id), explode(tokens(lower(col(text)))).as("term"))
      .filter(length(col("term")) >= minTokenLen)
    val tf = words.groupBy(col(id), col("term")).agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col(id)).agg(sum(col("tf")).as("dl"))
    val docFreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("_n_docs"))
    val avg = dl.agg((sum(col("dl")).cast("double") / count(lit(1))).as("_avgdl"))
    val scored = tf.join(dl, id).join(docFreq, "term")
      .crossJoin(broadcast(nDocs)).crossJoin(broadcast(avg))
      .withColumn("bm25", round(
        log(col("_n_docs").cast("double") / col("df")) *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("_avgdl"))), 6))
    val w = Window.partitionBy(col(id)).orderBy(col("bm25").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col(id), col("term"), col("tf"), col("df"), col("dl"), col("bm25"), col("rk"))
  }

  /** X4 — BM25 RETRIEVAL (query → top-k documents), the query side of
    * the index [[bm25TopTerms]] scores: `queryTerms` is a small
    * (qid, term) table — broadcast, so the corpus shuffles only on
    * term — and each (qid, doc) score is the sum of the matched
    * terms' BM25 contributions. Determinism discipline: contributions
    * are quantized to DECIMAL(28,12) BEFORE the sum (decimal addition
    * is associative — partial-agg order can't move a hash), then the
    * total rounds to 6 for output; rank ties break by doc id. */
  def bm25Retrieve(corpus: org.apache.spark.sql.DataFrame, id: String,
      text: String, queryTerms: org.apache.spark.sql.DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75, minTokenLen: Int = 4)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = corpus.select(col(id), explode(tokens(lower(col(text)))).as("term"))
      .filter(length(col("term")) >= minTokenLen)
    val tf = words.groupBy(col(id), col("term")).agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col(id)).agg(sum(col("tf")).as("dl"))
    val docFreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = corpus.agg(count(lit(1)).as("_n_docs"))
    val avg = dl.agg((sum(col("dl")).cast("double") / count(lit(1))).as("_avgdl"))
    val contrib = tf.join(broadcast(queryTerms.select(col("qid"), col("term"))), "term")
      .join(dl, id).join(docFreq, "term")
      .crossJoin(broadcast(nDocs)).crossJoin(broadcast(avg))
      .withColumn("_c", round(
        log(col("_n_docs").cast("double") / col("df")) *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("_avgdl"))),
        12).cast("decimal(28,12)"))
    val scored = contrib.groupBy(col("qid"), col(id))
      .agg(round(sum(col("_c")).cast("double"), 6).as("score"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col(id).asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("qid"), col(id), col("score"), col("rk"))
  }

  /** GPT-2-style regex pretokenization, the engine-portable subset:
    * letter runs, digit runs, and punctuation runs (the full GPT-2
    * pattern's contraction/unicode classes need lookarounds that RE2
    * engines reject — this subset behaves identically under Java regex
    * and RE2, which is what makes it oracle-able AND portable). The
    * per-class counts are the tokenizer-budget accounting inputs. */
  val pretokenPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]+"

  def pretokenize(text: Column): Column =
    regexp_extract_all(lower(text), lit(pretokenPattern), lit(0))

  /** X4v — BPE tokenizer training, the distributed shape. The corpus is
    * touched ONCE (word census: explode + one hash agg); every training
    * round after that runs at VOCABULARY scale — distinct words × their
    * counts — which is what makes iterative BPE tractable over 100 TB:
    * the loop's frames are ~1e6-1e7 rows regardless of corpus size.
    * [[bpePairCensus]] counts adjacent symbol pairs weighted by word
    * frequency (pairs never cross word boundaries); [[bpeMergePair]]
    * applies one merge as the standard leftmost-greedy scan, expressed
    * as an `aggregate` HOF fold over each word's symbol array —
    * interpreted, but only ever over vocab-scale rows. */
  def wordVocab(df: org.apache.spark.sql.DataFrame, text: String)
      : org.apache.spark.sql.DataFrame =
    df.select(explode(tokens(lower(col(text)))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** The GPT-2-shaped census: [[pretokenize]] feeds the vocabulary, so
    * BPE trains over letter/digit/punctuation runs instead of raw
    * whitespace words — punctuation stops gluing to words ("end." no
    * longer competes with "end"), which is the whole point of the
    * pretokenizer stage. Same distributed shape as [[wordVocab]]: one
    * corpus scan, one hash agg, vocab-scale output. */
  def pretokenVocab(df: org.apache.spark.sql.DataFrame, text: String)
      : org.apache.spark.sql.DataFrame =
    df.select(explode(pretokenize(col(text))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** Adjacent-pair census over a (sym: array<string>, cnt) vocabulary:
    * one row per distinct pair with its frequency-weighted count. Pairs
    * are (a, b) columns — never concatenated, so ("ab","c") and
    * ("a","bc") stay distinct. */
  def bpePairCensus(vocab: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    vocab
      .filter(size(col("sym")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("sym")) - 2),
        i => struct(element_at(col("sym"), i + 1).as("a"),
          element_at(col("sym"), i + 2).as("b")))).as("_p"), col("cnt"))
      .groupBy(col("_p.a").as("a"), col("_p.b").as("b"))
      .agg(sum(col("cnt")).as("n"))

  /** One leftmost-greedy non-overlapping merge pass over a symbol array
    * ("aaa" under (a,a) becomes [aa, a]): the carry-fold, with the merge
    * pair as COLUMNS so it can sit inside an outer lambda
    * ([[bpeApplyMerges]]) as well as under literals ([[bpeMergePair]]).
    * The empty string is the no-carry sentinel (symbols are never empty
    * by construction). */
  private def mergeOncePass(sym: Column, a: Column, b: Column): Column =
    aggregate(
      sym,
      struct(array().cast("array<string>").as("arr"), lit("").as("carry")),
      (acc, s) =>
        when(acc.getField("carry") === a && s === b,
          struct(concat(acc.getField("arr"), array(concat(a, b))).as("arr"),
            lit("").as("carry")))
        .otherwise(struct(
          when(acc.getField("carry") === "", acc.getField("arr"))
            .otherwise(concat(acc.getField("arr"), array(acc.getField("carry"))))
            .as("arr"),
          s.as("carry"))),
      acc =>
        when(acc.getField("carry") === "", acc.getField("arr"))
          .otherwise(concat(acc.getField("arr"), array(acc.getField("carry")))))

  /** One BPE merge pass for a literal pair — the trainer-loop form. */
  def bpeMergePair(vocab: org.apache.spark.sql.DataFrame, a: String, b: String)
      : org.apache.spark.sql.DataFrame = {
    require(a.nonEmpty && b.nonEmpty, "merge symbols must be non-empty")
    vocab.withColumn("sym", mergeOncePass(col("sym"), lit(a), lit(b)))
  }

  /** ENCODE with a trained tokenizer: apply a whole merge table to a
    * symbol array — merges ride as DATA (array<struct<a,b>> in rank
    * order, each applied leftmost-greedy), so the plan is one nested
    * fold of O(1) size regardless of merge count, where folding
    * [[bpeMergePair]] calls would grow the plan linearly in merges.
    * Sequential rank-order application is exactly the trainer's own
    * semantics (the loop in [[trainBpeMergesOn]] applies each chosen
    * merge before counting the next census), so encode(train(corpus))
    * reproduces the trainer's final vocabulary state. */
  def bpeApplyMerges(sym: Column, merges: Column): Column =
    aggregate(merges, sym,
      (syms, m) => mergeOncePass(syms, m.getField("a"), m.getField("b")))

  /** Per-document token counts under a TRAINED tokenizer — the apply
    * step that turns "we trained BPE" into real token budgets (the
    * whitespace/len-4 estimates elsewhere in X4 are heuristics; this is
    * the tokenizer's own count). Scale shape: the corpus pays one word
    * census (explode + hash agg); encoding runs once per DISTINCT word
    * (vocabulary scale — the interpreted nested fold never touches
    * corpus-cardinality rows) and joins back on the word. Emits
    * (id, n_words, n_bpe_tokens).
    *
    * `pretoken = true` tokenizes with [[pretokenize]] (the GPT-2
    * pipeline shape — pair with [[trainBpeMergesPretokenized]]);
    * otherwise whitespace words (pair with [[trainBpeMerges]]). */
  def bpeEncodeCounts(df: org.apache.spark.sql.DataFrame, id: String,
      text: String, merges: Seq[(String, String)], pretoken: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    val words = df.select(col(id),
        explode(if (pretoken) pretokenize(col(text))
          else tokens(lower(col(text)))).as("word"))
      .filter(col("word") =!= "")
    val perDoc = words.groupBy(col(id), col("word")).agg(count(lit(1)).as("_c"))
    val mergesLit = typedLit(merges).cast("array<struct<a:string,b:string>>")
    val enc = perDoc.select(col("word")).distinct()
      .select(col("word"),
        size(bpeApplyMerges(split(col("word"), ""), mergesLit)).as("_ns"))
    perDoc.join(enc, "word")
      .groupBy(col(id))
      .agg(sum(col("_c")).as("n_words"),
        sum(col("_c") * col("_ns")).as("n_bpe_tokens"))
  }

  /** Train `nMerges` BPE merges: word census (the one corpus-scale op),
    * char-split, then per round census → argmax (count desc, (a,b) asc
    * tiebreak — deterministic) → merge. The driver sees ONE row per
    * round; the loop frames are vocab-scale and re-persisted per round
    * (previous round freed). Returns the merge table
    * (merge_rank, a, b, n). */
  def trainBpeMerges(df: org.apache.spark.sql.DataFrame, text: String,
      nMerges: Int): Seq[(Int, String, String, Long)] =
    trainBpeMergesOn(wordVocab(df, text), nMerges)

  /** [[trainBpeMerges]] composed with [[pretokenize]] — the real GPT-2
    * pipeline: regex pretokens feed the census, merges never cross a
    * pretoken boundary (the un-pretokenized form lets "d." merge across
    * what should be two tokens). */
  def trainBpeMergesPretokenized(df: org.apache.spark.sql.DataFrame,
      text: String, nMerges: Int): Seq[(Int, String, String, Long)] =
    trainBpeMergesOn(pretokenVocab(df, text), nMerges)

  /** The trainer loop over any prepared (word, cnt) vocabulary.
    *
    * Lineage is TRUNCATED per round ([[Pins.freeze]], the
    * [[graft.ops.Dedup.clusterPairs]] discipline), not merely cached:
    * with persist(), round r's logical plan still chained r nested
    * [[mergeOncePass]] folds, so Catalyst re-analyzed — and codegen
    * re-compiled — an expression tree that GREW per round (measured:
    * first-touch x4_bpe_merges 9.5 s of which ~1 s was in jobs; the
    * rest was driver planning + compiling the chained folds). The
    * checkpoint makes every round's census plan exactly one fold over
    * a LogicalRDD — constant size, constant codegen. One materializing
    * job per round replaces the census's cache-fill; the previous
    * round's blocks are freed as soon as the next round materializes
    * ([[Pins.free]] — unpersist() is a no-op on checkpoints). */
  def trainBpeMergesOn(wordCensus: org.apache.spark.sql.DataFrame,
      nMerges: Int): Seq[(Int, String, String, Long)] = {
    var vocab = wordCensus
      .select(split(col("word"), "").as("sym"), col("cnt"))
      .transform(Pins.freeze)
    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var r = 0
    var done = false
    while (r < nMerges && !done) {
      val top = bpePairCensus(vocab)
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r + 1, a, b, n))
        val next = Pins.freeze(bpeMergePair(vocab, a, b))
        Pins.free(vocab)
        vocab = next
        r += 1
      }
    }
    Pins.free(vocab)
    merges.toList
  }

  /** Train a unigram language model from a reference corpus: one hash
    * agg for word counts, one for the (N, V) totals, add-one smoothing,
    * and log-probabilities in FIXED-POINT micros —
    * `lp_micro = floor(ln((c+1)/(N+V))·1e6 + 0.5)` — so everything
    * downstream aggregates in exact BIGINT. One `ln` per DISTINCT word
    * is the only floating-point op in the whole family; `floor(x+0.5)`
    * rather than round() because half-up rounding of negatives is
    * engine-defined while floor is not. Emits (word, lp_micro) plus the
    * model's OOV row under [[UnigramLm.OovWord]] (`lp = ln(1/(N+V))`,
    * the unseen-word mass). Vocabulary-scale output — broadcast it. */
  def unigramLm(ref: org.apache.spark.sql.DataFrame, text: String)
      : org.apache.spark.sql.DataFrame = {
    val words = ref.select(explode(tokens(lower(col(text)))).as("word"))
      .filter(col("word") =!= "")
    val counts = words.groupBy(col("word")).agg(count(lit(1)).as("_c"))
    val totals = counts.agg(sum(col("_c")).as("_n"), count(lit(1)).as("_v"))
    def lpMicro(c: Column, n: Column, v: Column): Column =
      floor(log((c + lit(1.0)) / (n + v).cast("double")) * 1e6 + lit(0.5))
        .cast("long")
    counts.crossJoin(broadcast(totals))
      .select(col("word"), lpMicro(col("_c"), col("_n"), col("_v")).as("lp_micro"))
      .unionAll(totals.select(lit(UnigramLm.OovWord).as("word"),
        lpMicro(lit(0L), col("_n"), col("_v")).as("lp_micro")))
  }

  /** CCNet-style LM quality signal: per-document negative log-likelihood
    * under a [[unigramLm]] — the "does this look like the reference
    * corpus" filter (low NLL ≈ reference-like, high ≈ noise; CCNet
    * buckets a crawl by exactly this number scored against a Wikipedia
    * LM). Scale shape: corpus explodes to (id, word), broadcast-joins
    * the vocabulary-sized model, and aggregates (count × lp_micro)
    * products in BIGINT — no double ever sums across rows, so partial-
    * agg merge order cannot move the hash at any scale. OOV words take
    * the model's unseen-word mass. Emits (id, n_tokens,
    * nll_micro = −Σ lp_micro): perplexity = exp(nll_micro / 1e6 / n),
    * left to the caller as the one inexact step. */
  def unigramNll(df: org.apache.spark.sql.DataFrame, id: String,
      text: String, lm: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val oov = lm.filter(col("word") === UnigramLm.OovWord)
      .select(col("lp_micro").as("_oov"))
    val words = df.select(col(id),
        explode(tokens(lower(col(text)))).as("word"))
      .filter(col("word") =!= "")
    words
      .join(broadcast(lm.filter(col("word") =!= UnigramLm.OovWord)),
        Seq("word"), "left")
      .crossJoin(broadcast(oov))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_tokens"),
        (-sum(coalesce(col("lp_micro"), col("_oov")))).as("nll_micro"))
  }

  /** Chunk documents into fixed-token windows with overlap — the
    * context-window prep step of a training pipeline (a 100k-token doc
    * becomes ⌈100k/stride⌉ rows of ≤`chunkSize` tokens each, stride =
    * chunkSize − overlap). Narrow per-row expansion: tokenize once,
    * `sequence` over window starts, explode, `slice` per window — no
    * shuffle, no UDF; output skew is bounded by the longest document
    * (pre-split pathological docs upstream if |doc| ≫ p99).
    *
    * Emits (id, chunk_id, n_tokens, chunk_text). Windows start at every
    * k·stride < n_tokens and are truncated at the document end, so the
    * trailing window(s) may be shorter than `chunkSize` — with
    * overlap > 0 a short tail can even be fully contained in its
    * predecessor (size 4 / overlap 1 over 10 tokens emits the 1-token
    * [w10] after [w7 w8 w9 w10]); callers that must not duplicate
    * training content should drop chunks with n_tokens ≤ overlap.
    * Dropping the first `overlap` tokens of every chunk but the first
    * reproduces the token stream exactly (lossless, no duplication —
    * property-tested); boundaries are reproducible from
    * (chunkSize, overlap) alone. */
  def chunkByTokens(df: org.apache.spark.sql.DataFrame, id: String, text: String,
      chunkSize: Int, overlap: Int = 0): org.apache.spark.sql.DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got chunkSize=$chunkSize overlap=$overlap")
    val stride = chunkSize - overlap
    df.select(col(id), tokens(col(text)).as("_t"))
      .withColumn("_n", size(col("_t")))
      .withColumn("chunk_id",
        explode(sequence(lit(0),
          greatest(floor((col("_n") - 1) / lit(stride)).cast("int"), lit(0)))))
      .filter(col("chunk_id") * stride < col("_n"))
      .select(col(id), col("chunk_id").cast("long").as("chunk_id"),
        slice(col("_t"), col("chunk_id") * stride + 1, lit(chunkSize)).as("_c"))
      .select(col(id), col("chunk_id"),
        size(col("_c")).cast("long").as("n_tokens"),
        concat_ws(" ", col("_c")).as("chunk_text"))
  }

  /** X4m — linear model scoring (the apply step of a fasttext-style
    * quality classifier): score(doc) = bias + Σ_terms count(term)·w(term)
    * against a `(term, weight)` model table. The MODEL is the caller's —
    * trained elsewhere, loaded as a table; this op is the distributed
    * apply: tokenize → explode → broadcast hash join on term → one hash
    * agg back to doc grain (map-side partial sums). The corpus never
    * shuffles more than (id, partial-sum) pairs; the model rides the
    * broadcast (classifier vocabularies are ~10⁵–10⁶ terms — trivially
    * broadcastable next to a 100 TB corpus).
    *
    * Determinism contract: weights are quantized to micro-units
    * (w · 10⁶ as BIGINT, exact for ≤6-fractional-digit weights — a real
    * classifier's float weights load the same way after rounding) and
    * summed as integers — double sums would depend on partial-agg merge
    * order at scale, and decimal outputs hash engine-dependently in
    * parquet. Long overflow needs |score| > 9·10¹² units — unreachable
    * for a |w|-bounded per-hit classifier. Docs matching no model term
    * score exactly `bias`. Output: (id, n_hits, score_micro). */
  def linearScore(df: org.apache.spark.sql.DataFrame, id: String, text: String,
      model: org.apache.spark.sql.DataFrame, term: String = "term",
      weight: String = "weight",
      bias: java.math.BigDecimal = java.math.BigDecimal.ZERO)
      : org.apache.spark.sql.DataFrame = {
    val biasMicro = bias.movePointRight(6).longValueExact()
    val toks = df.select(col(id), explode(tokens(lower(col(text)))).as("_t"))
    val hits = toks.join(
        broadcast(model.select(col(term).as("_t"),
          (col(weight).cast("decimal(18,6)") * lit(1000000L))
            .cast("long").as("_w"))), Seq("_t"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_hits"), sum(col("_w")).as("_s"))
    df.select(col(id)).join(hits, Seq(id), "left")
      .select(col(id), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("_s"), lit(0L)) + lit(biasMicro)).as("score_micro"))
  }

  /** Bigram language model NLL with Laplace smoothing — the next rung
    * of the [[unigramLm]] ladder: P(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁·)+V),
    * so word ORDER now matters ("the cat sat" and "sat the cat" score
    * identically under the unigram model, differently here). Backoff
    * is Laplace all the way down: unseen pair with seen prefix →
    * 1/(c(w₁·)+V); unseen prefix → 1/V.
    *
    * Exactness: the single transcendental (ln of the smoothed ratio,
    * then ×10⁶ floor to BIGINT micros) is computed with the SAME
    * expression shape the DuckDB twin uses, so the one double op is
    * IEEE-identical and everything that sums is integer — the
    * [[unigramNll]] contract extended to conditional probabilities.
    *
    * Scale shape: reference and scored corpora explode to token
    * streams once; the bigram stream is a per-doc lead() window (keyed
    * sort, skew bounded by the longest doc); the pair model joins by
    * (w₁,w₂) with no broadcast hint — a real bigram table is
    * vocabulary², far past broadcast range, and AQE broadcasts when a
    * small fixture model permits. Per-doc sums are BIGINT.
    * Emits (id, n_bigrams, nll_micro); docs with <2 tokens score 0. */
  def bigramNll(df: org.apache.spark.sql.DataFrame, id: String, text: String,
      ref: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def bigrams(src: org.apache.spark.sql.DataFrame, idc: String)
        : org.apache.spark.sql.DataFrame = {
      val toks = src.select(col(idc).as("_id"),
        posexplode(filter(tokens(lower(col(text))), t => t =!= lit("")))
          .as(Seq("_pos", "_w")))
      val w = Window.partitionBy(col("_id")).orderBy(col("_pos"))
      toks.select(col("_id"), col("_w").as("_w1"),
          lead(col("_w"), 1).over(w).as("_w2"))
        .filter(col("_w2").isNotNull)
    }
    val refBg = bigrams(ref, id)
    val pairC = refBg.groupBy(col("_w1"), col("_w2"))
      .agg(count(lit(1)).as("_cxy"))
    val prefC = refBg.groupBy(col("_w1")).agg(count(lit(1)).as("_cx"))
    val vocab = ref.select(
        explode(filter(tokens(lower(col(text))), t => t =!= lit(""))).as("_w"))
      .agg(countDistinct(col("_w")).as("_v"))
    // the one double op, shape-shared with the oracle
    def lpMicro(num: Column, den: Column): Column =
      floor(log(num / den.cast("double")) * 1e6 + lit(0.5)).cast("long")
    val scored = bigrams(df, id)
      .join(pairC, Seq("_w1", "_w2"), "left")
      .join(prefC, Seq("_w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("_id"),
        when(col("_cxy").isNotNull,
            lpMicro(col("_cxy") + lit(1.0), col("_cx") + col("_v")))
          .when(col("_cx").isNotNull,
            lpMicro(lit(1.0), col("_cx") + col("_v")))
          .otherwise(lpMicro(lit(1.0), col("_v"))).as("_lp"))
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_bigrams"), (-sum(col("_lp"))).as("nll_micro"))
    df.select(col(id)).join(scored, col(id) === col("_id"), "left")
      .select(col(id), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll_micro"), lit(0L)).as("nll_micro"))
  }

  /** URL host extraction via Spark's native `parse_url` — the key
    * domain-level quota and filtering policies group on. */
  def urlHost(url: Column): Column = parse_url(url, lit("HOST"))

  /** Registered domain = last two dot-labels of a host. The proper
    * public-suffix-list treatment (co.uk etc.) is a lookup-table join
    * against the PSL, not an expression — documented boundary; this is
    * the two-label heuristic most quick pipelines start with. */
  def registeredDomain(host: Column): Column =
    regexp_extract(host, "([^.]+\\.[^.]+)$", 1)

  /** URL canonicalization — the normalize-before-dedup step of every
    * crawl pipeline (the same page arrives as `HTTP://Site.com:80/a?b=2&a=1#x`
    * and `http://site.com/a?a=1&b=2`; byte-level dedup misses the
    * equivalence, canonical-URL grouping doesn't): trim, strip the
    * fragment, lowercase scheme+host, drop default ports (http:80 /
    * https:443), default the empty path to `/`, drop `utm_*` tracking
    * parameters, and SORT the remaining query parameters. Pure
    * regexp/array string functions — no `parse_url`, so the oracle
    * replays the identical derivation and the output hash-gates as
    * data, not a verdict. */
  /** Tracking-parameter set dropped by [[canonicalizeUrl]]: utm_*, plus
    * the platform click ids (ROUND 11 — previously utm_* only). */
  private val UrlTrackingRe =
    "^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|igshid|mc_eid)(=|$)"

  def canonicalizeUrl(url: Column): Column = {
    val u = regexp_replace(trim(url), "#.*$", "") // fragment off first
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(u, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val hostPort0 = lower(regexp_extract(rest, "^([^/?]*)", 1))
    val hostPort = when(scheme === "http", regexp_replace(hostPort0, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostPort0, ":443$", ""))
      .otherwise(hostPort0)
    val path0 = regexp_extract(rest, "^[^/?]*(/[^?]*)?", 1)
    // duplicate-slash collapse added ROUND 11 (receiver-concatenation
    // artifact; "//" inside a path never names a different resource on
    // the servers crawls care about, and it defeats exact URL dedup)
    val path = when(path0 === "", lit("/"))
      .otherwise(regexp_replace(path0, "/{2,}", "/"))
    val query = regexp_extract(u, "\\?([^#]*)", 1)
    val params = array_sort(filter(split(query, "&"),
      p => p =!= "" && !p.rlike(UrlTrackingRe)))
    val qstr = when(size(params) > 0,
      concat(lit("?"), array_join(params, "&"))).otherwise(lit(""))
    // a schemeless string is not a canonicalizable URL — NULL, so
    // intake can count them rather than silently emitting "://…"
    when(scheme === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), hostPort, path, qstr))
  }

  /** Mojibake repair — the ftfy-style fix for the most common corpus
    * encoding damage: UTF-8 bytes mis-decoded as Latin-1 ("é" shipped
    * as "Ã©"). The repair re-encodes the text as Latin-1 (recovering
    * the original bytes 1:1 — Latin-1 is exactly the first 256 code
    * points) and re-decodes as UTF-8, applied ONLY when (a) the text
    * carries the 0xC2/0xC3 lead-byte signature, (b) every char is in
    * the Latin-1 range (so the re-encode is lossless), and (c) the
    * candidate decodes cleanly (no U+FFFD replacement). Anything else
    * passes through untouched — the repair can never corrupt clean
    * text, only un-corrupt damaged text. Pure built-ins (encode /
    * decode / rlike), whole-stage codegen. */
  def repairMojibake(t: Column): Column = {
    val candidate = decode(encode(t, "ISO-8859-1"), "UTF-8")
    when(t.rlike("[\\u00C2\\u00C3][\\u0080-\\u00BF]") &&
        t.rlike("^[\\u0000-\\u00FF]*$") &&
        !candidate.contains("\uFFFD"),
      candidate).otherwise(t)
  }

  /** Inverted index with impact-ordered static pruning — the retrieval
    * structure under [[bm25TopTerms]]-style scoring, built as data: one
    * row per term with document frequency, collection frequency, and
    * the top-`maxPostings` postings by (tf desc, doc id asc), formatted
    * `"doc:tf doc:tf …"` in that impact order (the layout
    * impact-ordered indexes ship so scoring can stop early).
    *
    * Scale shape: tf census is one (term, doc) hash agg; the per-term
    * rollup is ONE hash agg combining count/sum with the bounded
    * [[TopK.topK]] aggregator — its O(maxPostings) buffer partial-
    * aggregates map-side, so a stopword term with a billion postings
    * ships ≤ maxPostings rows per map partition instead of collecting
    * the full posting list anywhere (the hot-key reason a
    * collect_list/sort_array reassembly would die at 100 TB). tf rides
    * the aggregator's double score slot — exact for any tf < 2⁵³.
    * `minDf` prunes the hapax tail (most of the vocabulary, as in any
    * real index build). */
  def invertedIndex(df: org.apache.spark.sql.DataFrame, id: String,
      text: String, minDf: Int, maxPostings: Int)
      : org.apache.spark.sql.DataFrame = {
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    require(maxPostings >= 1, s"maxPostings must be >= 1, got $maxPostings")
    val tf = df.select(col(id).as("_doc"),
        explode(tokens(lower(col(text)))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term"), col("_doc")).agg(count(lit(1)).as("_tf"))
    tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("_tf")).as("cf"),
        TopK.topK(maxPostings)(col("_tf").cast("double"), col("_doc")).as("_top"))
      .filter(col("df") >= minDf)
      .select(col("term"), col("df"), col("cf"),
        concat_ws(" ", transform(col("_top"),
          x => concat(x.getField("_2").cast("string"), lit(":"),
            x.getField("_1").cast("long").cast("string")))).as("postings"))
  }
}

object UnigramLm {
  /** Reserved OOV row key in a [[TextAnalysis.unigramLm]] model —
    * contains a space, so no tokenized word can collide with it. */
  val OovWord = "<unk >"
}
