package graft.llm

import graft.Fixpoint
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators (SURVEY §2.B D4/D6): tokenization, token
  * frequency, TF-IDF, unigram language identification, content
  * fingerprinting, quality statistics. All pure column expressions —
  * codegen'd, shuffle only at the declared group-bys. */
object TextAnalysis {

  /** Whitespace tokens, exploded: (doc_id, tok). */
  // NOT spread (r13, measured): a plain split+explode is too light per
  // byte for the §2.5 scan-spread to pay — d4_top_tokens 0.21→0.58 s and
  // d32_bm25 0.62→1.15 s medians WITH a spread here (the exchange plus
  // 32-task scheduling outweigh the parallelized split), so the token
  // stream keeps the scan's partitioning and its map-side partial
  // aggregation. The spread stays where the per-row kernel is heavy
  // (shingling, minhash, gram hashing, BPE encode, cosine).
  def tokens(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.as("doc_id"), explode(split(text, " ")).as("tok"))

  /** Global top-k tokens by frequency (count desc, token asc). */
  def topTokens(docs: DataFrame, id: Column, text: Column, k: Int): DataFrame =
    tokens(docs, id, text)
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc)
      .limit(k)

  /** TF-IDF: tf(term, doc) · ln(N / df(term)). Ranking on round(tfidf, 6)
    * with a term tie-break keeps the per-doc top-k engine-exact. */
  def tfIdfTopTerms(docs: DataFrame, id: Column, text: Column,
                    perDoc: Int): DataFrame = {
    val toks = tokens(docs, id, text)
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df_ = toks.select("doc_id", "tok").distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val n = docs.select(countDistinct(id).as("n_docs"))
    val scored = tf.join(df_, "tok").crossJoin(broadcast(n))
      .select(col("doc_id"), col("tok"),
        round(col("tf") * log(col("n_docs") / col("df")), 6).as("tfidf"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("tfidf").desc, col("tok").asc)))
      .filter(col("rank") <= perDoc)
  }

  /** D32: BM25 document ranking for a fixed query termset (Robertson et
    * al.; the Lucene-form idf ln(1 + (N − df + ½)/(df + ½)), which
    * stays positive for corpus-dominant terms where the classic form
    * goes negative). Per-term contributions are snapped to MICRO-integer
    * scores — CAST(round(score·10⁶) AS BIGINT) — BEFORE the per-doc
    * sum, so the only cross-engine float exposure is one ln and two
    * divisions per (doc, term) at 10⁻⁶ granularity (the d4_tfidf
    * rounding contract); the sum, the ranking, and the tie-break
    * (score desc, doc_id) are exact BIGINT. len/avgLen is written
    * `len·N / Σlen` — ONE double division, replicated verbatim in the
    * oracle, never `len / (Σlen/N)`.
    *
    * Scale shape: the token scan aggregates to per-doc lengths and
    * per-(doc, term) counts (term list is a tiny isin filter); df and
    * the corpus stats broadcast; top-k is a TakeOrdered, no global
    * sort. */
  def bm25TopK(docs: DataFrame, id: Column, text: Column,
               terms: Seq[String], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    val toks = tokens(docs, id, text)
    val lens = toks.groupBy("doc_id").agg(count(lit(1)).as("len"))
    val stats = lens.agg(count(lit(1)).as("nd"), sum("len").as("sumlen"))
    val tf = toks.filter(col("tok").isin(terms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    // every float op appears ONCE, in the same order the oracle's SQL
    // text evaluates it; constants are written pre-folded (0.25 = 1-b)
    // so neither engine folds differently
    val idf = log(lit(1.0) +
      (col("nd") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val den = col("tf") + lit(k1) *
      (lit(1 - b) + lit(b) * (col("len") * col("nd") / col("sumlen")))
    val contrib = tf.join(broadcast(df_), "tok")
      .join(lens, "doc_id").crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(idf * (col("tf") * lit(k1 + 1)) / den * lit(1e6))
          .cast("long").as("micro"))
    contrib.groupBy("doc_id")
      .agg(sum(col("micro")).as("score_micro"),
           count(lit(1)).as("n_terms"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Unigram language ID: build a per-language lexicon (top `lexSize`
    * tokens by in-language frequency) from a labeled corpus, then
    * classify each doc by argmax lexicon-hit votes (tie → lexicographic
    * language). Returns (doc_id, pred_lang). The lexicon is tiny —
    * broadcast — so classification is one scan of the token stream. */
  def langId(docs: DataFrame, id: Column, text: Column, lang: Column,
             lexSize: Int = 10): DataFrame = {
    val toks = docs.select(id.as("doc_id"), lang.as("lang"),
      explode(split(text, " ")).as("tok"))
    val lexicon = toks.groupBy("lang", "tok").agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("n").desc, col("tok").asc)))
      .filter(col("rk") <= lexSize)
      .select(col("lang").as("lex_lang"), col("tok"))
    val votes = toks.select("doc_id", "tok")
      .join(broadcast(lexicon), "tok")
      .groupBy("doc_id", "lex_lang").agg(count(lit(1)).as("votes"))
    votes.withColumn("rk", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("votes").desc, col("lex_lang").asc)))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lex_lang").as("pred_lang"))
  }

  /** Content fingerprint: min md5 over distinct word-3-gram shingles —
    * a 1-hash MinHash; docs sharing a fingerprint are near-dup
    * candidates. Engine-portable (md5 + lexicographic min). A per-row
    * array reduction — no explode, no shuffle; docs too short to shingle
    * have no fingerprint (dropped, matching the exploded formulation). */
  def fingerprint(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs
      // cheap word-count prefilter (split only), NOT a post-filter on fp —
      // a post-filter gets pushed below the projection and re-evaluates
      // the whole shingle+md5 chain a second time per row
      .filter(size(split(text, " ")) >= 3)
      .select(id.as("doc_id"),
        array_min(transform(Dedup.shingleArray(text), s => md5(s))).as("fp"))

  /** A BPE-ish token count: runs of letters, runs of digits, runs of
    * other non-space chars each count as one token. */
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"), lit(0)))

  /** D33: the Gopher quality-filter rule set (Rae et al. 2021,
    * arXiv:2112.11446 §A.1.1) as a per-document PASS/FAIL gate — the
    * published document-level heuristics, each an integer predicate so
    * the gate is exact at any scale:
    *
    *  - r_nwords: 50 ≤ word count ≤ 100,000 (the published bounds);
    *  - r_wlen: mean word length in [3, 10], cross-multiplied to
    *    3·n ≤ Σ|w| ≤ 10·n (no division). Σ|w| falls out of the
    *    single-space corpus as |text| − (n − 1) — one length(), no
    *    second tokenization;
    *  - r_stop: ≥ 2 distinct stop words present (the published
    *    structure; the stop list is adapted to the fixture's function
    *    words — Gopher's own list assumes natural English);
    *  - r_rep: the most char-covering word's share ≤ 0.20 — the
    *    unigram form of Gopher's duplicate-top-n-gram character
    *    fraction, cross-multiplied to 5·max(count·|w|) ≤ Σ|w|.
    *
    * (Gopher's symbol-ratio and bullet/ellipsis line rules need
    * symbols and line structure the single-line symbol-free fixture
    * cannot exercise — deliberately out of scope rather than vacuously
    * green.) The per-doc stats are pure per-row expressions; the one
    * aggregation is the (doc, token) count behind r_rep — keyed,
    * map-side combinable, never all-pairs. Emits every doc with its
    * stats, per-rule flags, and the composite keep — the shape a
    * pipeline joins back on doc_id to filter (233/500 keep at gate
    * SF; every flag except the structural r_wlen is non-vacuous). */
  def gopherRules(docs: DataFrame, id: Column, text: Column,
                  stopwords: Seq[String]): DataFrame = {
    val d = graft.spreadScan(docs, id) // r13, guide §2.5
      .select(id.as("doc_id"), text.as("text"))
    val perDoc = d.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_words"),
      (length(col("text")) - size(split(col("text"), " ")) + 1)
        .cast("long").as("sum_wlen"),
      // array_intersect returns DISTINCT matches — the dedup the ≥2-
      // distinct-stopwords rule relies on is the intersect's own
      size(array_intersect(split(col("text"), " "),
        typedLit(stopwords))).cast("long").as("n_stop"))
    val topChars = d
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max(col("c") * length(col("tok")).cast("long")).as("top_chars"))
    perDoc.join(topChars, Seq("doc_id"))
      .select(col("doc_id"), col("n_words"), col("sum_wlen"), col("n_stop"),
        col("top_chars"),
        (col("n_words") >= 50 && col("n_words") <= 100000)
          .cast("int").as("r_nwords"),
        (col("sum_wlen") >= lit(3) * col("n_words") &&
         col("sum_wlen") <= lit(10) * col("n_words")).cast("int").as("r_wlen"),
        (col("n_stop") >= 2).cast("int").as("r_stop"),
        (lit(5) * col("top_chars") <= col("sum_wlen")).cast("int").as("r_rep"))
      .withColumn("keep",
        (col("r_nwords") === 1 && col("r_wlen") === 1 &&
         col("r_stop") === 1 && col("r_rep") === 1).cast("int"))
  }

  /** D6b: per-document repetition signals — the standard quality filters
    * for boilerplate/machine-generated text (the Gopher-rule family):
    * the fraction of the doc taken by its single most frequent word, and
    * the fraction of duplicate word bigrams. Top-word fraction is a keyed
    * aggregation ((doc, token) then doc — hash-partitionable); the
    * bigram fraction is a pure per-row expression over the shingle
    * array — codegen'd, no shuffle. Ratios round to 6dp (ratios of small
    * integers cannot land on a decimal rounding tie in binary floating
    * point, so the round is engine-portable). */
  def repetition(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val topWord = tokens(docs, id, text)
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max(col("c")).as("top_c"), sum(col("c")).as("n_tok"))
      .select(col("doc_id"),
        round(col("top_c").cast("double") / col("n_tok"), 6)
          .as("top_word_frac"))
    val nW = size(split(text, " "))
    val distinctBigrams = size(Dedup.shingleArray(text, 2))
    val perRow = docs.select(id.as("doc_id"),
      when(nW >= 2,
        round(lit(1.0) - distinctBigrams.cast("double") / (nW - 1), 6))
        .otherwise(lit(0.0)).as("dup_bigram_frac"))
    // left join + coalesce: a NULL-text doc yields no token rows and so
    // no topWord entry, but the contract is one output row per input doc
    perRow.join(topWord, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("top_word_frac"), lit(0.0)).as("top_word_frac"),
        coalesce(col("dup_bigram_frac"), lit(0.0)).as("dup_bigram_frac"))
  }

  /** D13: character-bigram language-model "surprise" score — the
    * KenLM-family quality signal: a doc whose character statistics
    * diverge from the corpus (machine junk, wrong language, binary
    * spill) accumulates high per-bigram surprise. The model is trained
    * IN the same plan (bigram counts over the corpus); per-bigram
    * surprise is the integer order of magnitude floor(log2(N/c)) —
    * `length(bin(N div c)) - 1`, exact integer arithmetic end to end, so
    * the score is order-independent and engine-portable (no floating
    * logs: the policy every oracle-gated money/score column follows).
    *
    * Plan shape: the bigram fan-out is a narrow explode (rows of one doc
    * stay in its partition, so the per-doc aggregation's map-side
    * partials collapse |text| rows to 1 before the shuffle); the model
    * (≤ charset² rows) and the 1-row total both ride broadcasts —
    * corpus text itself is never shuffled. */
  def bigramSurprise(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val bigrams = when(length(text) >= 2,
        transform(sequence(lit(1), length(text) - 1),
          i => text.substr(i, lit(2))))
      .otherwise(array().cast("array<string>"))
    val bg = docs.select(id.as("doc_id"), explode(bigrams).as("b"))
    val model = bg.groupBy("b").agg(count(lit(1)).as("c"))
    val total = model.agg(sum("c").as("n"))
    val scored = bg
      .join(broadcast(model), "b")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bg"),
           sum(length(bin(expr("n div c"))) - 1).as("surprise"))
    docs.select(id.as("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bg"), lit(0L)).as("n_bg"),
        coalesce(col("surprise"), lit(0L)).cast("long").as("surprise"))
  }

  /** D28: hashed-feature LINEAR classifier inference — the fastText-
    * style quality gate production pipelines run over every document
    * (CCNet / LLaMA-class data prep): tokens hash into a FIXED feature
    * space (the hashing trick — vocabulary-free, so the model is a
    * dense weight vector, not an unbounded dictionary), the doc score
    * is the sum of its tokens' bucket weights, and the keep decision is
    * a threshold on the score. Weights arrive as a TABLE (the model
    * artifact a trainer exports) of (bucket, wt) rows over
    * `nBuckets` buckets; integer weights keep the score exact in any
    * engine.
    *
    * Plan shape — the model-inference pattern at 100 TB: the weight
    * table collapses into ONE array row (position = bucket, via
    * sort_array(collect_list(struct))) and broadcasts; each document
    * folds its token array against element_at inside codegen. The
    * corpus is never exploded and never shuffled — zero exchanges on
    * the fact side, one tiny aggregate on the model side. The bucket
    * hash is an md5 prefix (the d7/d26 cross-engine-hash policy;
    * xxhash64 would be faster but has no DuckDB twin to gate against).
    *
    * Emits (doc_id, n_tok, score, keep) per document. */
  def hashedLinearScore(docs: DataFrame, id: Column, text: Column,
                        weights: DataFrame, nBuckets: Int): DataFrame = {
    // a d-hex-digit prefix enumerates exactly 16^d buckets — powers of
    // 16 make the prefix itself the bucket id, no modulo on either side
    require(Integer.bitCount(nBuckets) == 1 &&
        Integer.numberOfTrailingZeros(nBuckets) % 4 == 0 && nBuckets <= 65536,
      s"nBuckets must be a power of 16 (16/256/4096/65536), got $nBuckets")
    val hexDigits = Integer.numberOfTrailingZeros(nBuckets) / 4
    val packed = weights.agg(
      transform(sort_array(collect_list(struct(col("bucket"), col("wt")))),
        x => x("wt")).as("wts"))
    // r13, guide §2.5: the per-doc md5-per-token score fold is the whole
    // cost of this operator and otherwise runs at scan-split parallelism
    graft.spreadScan(docs, id)
      .select(id.as("doc_id"), split(text, " ").as("toks"))
      .crossJoin(broadcast(packed))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"),
        aggregate(col("toks"), lit(0L), (acc, t) =>
          acc + element_at(col("wts"),
            conv(substring(md5(t), 1, hexDigits), 16, 10).cast("int") + 1))
          .as("score"))
      .withColumn("keep", col("score") >= 0)
  }

  /** PII patterns → sentinels, applied in order (email first, so an
    * address's dotted domain is consumed before the IPv4 pattern runs).
    * Deliberately restricted to the RE2-compatible regex subset (no
    * lookarounds/backrefs) so Java-regex Spark and RE2-based engines —
    * including the DuckDB oracle — produce byte-identical redactions. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b" -> "<PHONE>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>")

  /** D10: PII redaction — replace emails, phone-shaped numbers, and IPv4
    * addresses with typed sentinels; emit the redacted text plus the
    * redaction count. Each pattern is counted on the text AFTER the
    * previous patterns' replacements — the same text it is applied to —
    * so overlapping PII (an email whose local part is phone- or
    * IP-shaped) counts once, matching the replacements actually made.
    * Pure per-row regexp expressions: codegen'd, one scan, no shuffle —
    * the 100 TB cost is the regex engine, not the plan. */
  def redactPii(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val (redacted, nRed) = redactionOf(text)
    docs.select(id.as("doc_id"), redacted.as("text"),
      nRed.as("n_redactions"))
  }

  /** The (redacted text, redaction count) expression pair behind
    * [[redactPii]] — for composing redaction into a wider pipeline
    * without giving up the frame's other columns. */
  def redactionOf(text: Column): (Column, Column) = {
    val (redacted, nRed) = piiPatterns
      .foldLeft((text, lit(0L))) { case ((c, cnt), (p, r)) =>
        (regexp_replace(c, p, r), cnt + regexp_count(c, lit(p)))
      }
    (redacted, nRed.cast("long"))
  }

  /** D11: vocabulary coverage — build a top-`vocabSize` token vocabulary
    * by corpus frequency (count desc, token asc — deterministic cut) and
    * score each document's out-of-vocabulary token fraction, the standard
    * tokenizer-coverage gate before committing a corpus to a fixed vocab.
    * Plan: one keyed token count, a TakeOrdered top-V cut (never a global
    * sort), the vocabulary broadcast back against the token stream, and a
    * per-doc keyed aggregate — the corpus text shuffles only as (doc_id,
    * token) pairs, at 100 TB the vocab side is KBs. */
  def vocabOov(docs: DataFrame, id: Column, text: Column,
               vocabSize: Int): DataFrame = {
    val toks = tokens(docs, id, text)
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc).limit(vocabSize)
      .select(col("tok"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
           sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tok"), col("n_oov"),
              round(col("n_oov").cast("double") / col("n_tok"), 6)
                .as("oov_rate"))
  }

  /** D39: DSIR importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling", arXiv:2302.03169
    * — the published alternative to binary quality gates: estimate per-
    * document importance weights w(x) ≈ p_target(x)/p_raw(x) from
    * hashed n-gram features of a TARGET corpus vs the RAW pool, then
    * resample the pool toward the target distribution). Features are
    * hashed word unigrams in a fixed 256-bucket space (the d28 hashing
    * trick — vocabulary-free, model size constant; md5-prefix bucket =
    * the cross-engine-hash policy). The log-likelihood ratio is kept
    * EXACT with the d13 integer-log discipline: per token,
    *   llr += ⌊log2(N_r·(c_t(b)+1))⌋ − ⌊log2(N_t·(c_r(b)+1))⌋,
    * the order-of-magnitude form of log[(c_t+1)/N_t] − log[(c_r+1)/N_r]
    * (Laplace-smoothed), computed as binary-string lengths of BIGINT
    * products — no floating logs, order-independent, engine-portable.
    * Positive llr ⇒ the document looks more like the target than the
    * pool; the resampling draw itself is the caller's post-step (it
    * needs randomness the gate forbids).
    *
    * Plan shape: BOTH distributions come out of ONE keyed aggregate
    * over the token stream (count + conditional count), and the
    * per-bucket WEIGHT is computed once in that ≤256-row model frame
    * (the bin() log runs 256 times, not per token) before
    * broadcasting; the per-doc fold is then a map-side-combined sum of
    * broadcast-looked-up weights. The token derivation (split +
    * explode + md5) is deliberately evaluated by both the model leg
    * and the scoring leg rather than materialized: exploded tokens
    * are ~10× corpus size, and the d2-shingle policy applies —
    * recompute beats materializing at 100 TB. Corpus text is never
    * shuffled; the model stays KBs at any corpus size.
    *
    * Domain bound: the products N_r·(c_t+1) and N_t·(c_r+1) are
    * int64-exact up to ~3·10⁹ total tokens (N_r·c_t ≤ N_r² < 2^63).
    * Beyond that, compute the 256 per-bucket weights at DECIMAL(38,0)
    * — a 256-row change that leaves the corpus-side plan untouched;
    * the declared gate stays int64 (fixture ≤ ~10⁵ tokens, headroom
    * ~10⁴×). */
  /** The shared 256-bucket token hash (md5 2-hex prefix — the
    * cross-engine contract d28/d39/d41 and their oracles all agree
    * on): one exploded (doc_id, extra, b) row per token. */
  // NOT spread (r13, measured): every consumer aggregates straight into
  // a keyed groupBy whose own exchange already restores parallelism, so
  // a pre-explode spread only added its exchange (d41 2.24→2.84 s med5)
  private def tokenBuckets(docs: DataFrame, id: Column, text: Column,
                           extra: Column, extraName: String): DataFrame =
    docs
      .select(id.as("doc_id"), extra.as(extraName),
        explode(split(text, " ")).as("tok"))
      .withColumn("b",
        conv(substring(md5(col("tok")), 1, 2), 16, 10).cast("long"))

  def dsirWeights(docs: DataFrame, id: Column, text: Column,
                  isTarget: Column): DataFrame = {
    // fail loudly on an empty target corpus: with nt = 0 every llr term
    // degenerates to a meaningless positive-leaning constant (log2(0)
    // read as 0) and the "importance" ranking is noise. The check scans
    // docs only until the first target row (limit-1 pushdown), never
    // tokenizes.
    require(docs.filter(isTarget).limit(1).count() == 1L,
      "dsirWeights requires at least one target document — an empty " +
      "target corpus makes every importance weight degenerate")
    val t = tokenBuckets(docs, id, text, isTarget, "tgt")
    val model = t.groupBy("b").agg(count(lit(1)).as("cr"),
      sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"))
    val tot = model.agg(sum("cr").as("nr"), sum("ct").as("nt"))
    val weights = model.crossJoin(broadcast(tot))
      .select(col("b"),
        ((length(bin(col("nr") * (col("ct") + 1))) - 1).cast("long") -
         (length(bin(col("nt") * (col("cr") + 1))) - 1).cast("long"))
          .as("w"))
    val scored = t.join(broadcast(weights), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum(col("w")).as("llr"))
    docs.select(id.as("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        coalesce(col("llr"), lit(0L)).cast("long").as("llr"))
  }

  /** D41: BATCH PERCEPTRON training over hashed features — the
    * TRAINING counterpart of [[hashedLinearScore]]'s inference (d28
    * consumes a weight table a trainer exports; this IS that trainer,
    * closing the classifier loop in-engine): learn integer weights
    * separating target docs (y = +1) from the rest (y = −1) on the
    * same 256-bucket md5-hashed unigram counts. Batch (not online)
    * perceptron — the update per epoch is
    *   w ← w + Σ_{misclassified d} y_d · x_d,
    * a pure SUM over documents, so it is order-independent,
    * parallelizes as one keyed aggregate, and stays integer-exact
    * (online perceptron's per-row sequential update cannot run
    * distributed without changing the result). Epochs are the rounds
    * of a [[graft.Fixpoint.iterate]] loop: broadcast w → per-doc score
    * fold → misclassified filter → per-bucket gradient aggregate — the
    * corpus shuffles only as (doc, bucket, cnt) triples built ONCE and
    * checkpointed; the model never exceeds 256 rows. Emits the final
    * weight table plus the per-epoch misclassification counts (the
    * training curve) as (b, w, epoch_errs csv). Bounds: cnt ≤ doc
    * tokens, |w| grows ≤ epochs · Σcnt — int64-trivial at any SF with
    * fixed epochs.
    *
    * (r13 audit: a driver-side-model rewrite — w as 256 driver longs,
    * score via a literal-array element_at, gradient as a bounded
    * collect — was tried and REVERTED: the literal-array fold measured
    * ~5x slower PER EPOCH JOB than the broadcast-hash-join probe
    * (0.5-0.8 s vs 0.1 s per mis materialization at sf0.1; d41 median
    * 2.24→3.43 s), so the broadcast join IS the fast form of a
    * model-sized lookup here.) */
  def perceptron(docs: DataFrame, id: Column, text: Column,
                 isTarget: Column, epochs: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    val d = tokenBuckets(docs, id, text,
        when(isTarget, 1L).otherwise(-1L), "y")
      .groupBy("doc_id", "y", "b").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val errs = Seq.newBuilder[Long]
    // the loop releases d and every epoch's mis once it returns
    Fixpoint.iterate("perceptron",
        spark.range(256).select(col("id").as("b"), lit(0L).as("w")),
        epochs) { w =>
      // checkpointed: the misclassified set feeds BOTH the error count
      // and the gradient aggregate — without the barrier the per-doc
      // score fold (the dominant per-epoch scan) would run twice
      val mis = d.join(broadcast(w), Seq("b"))
        .groupBy("doc_id", "y")
        .agg(sum(col("cnt") * col("w")).as("score"))
        .filter(col("y") * col("score") <= 0)
        .select("doc_id", "y")
        .localCheckpoint()
      errs += mis.count()
      val grad = d.join(mis.select("doc_id"), Seq("doc_id"))
        .groupBy("b").agg(sum(col("y") * col("cnt")).as("g"))
      w.join(grad, Seq("b"), "left")
        .select(col("b"), (col("w") + coalesce(col("g"), lit(0L))).as("w"))
    }.withColumn("epoch_errs", lit(errs.result().mkString(",")))
  }

  /** D6: per-source quality statistics. Counts/sums are exact; the one
    * order-dependent float (mean of per-doc stopword ratios) is rounded. */
  def qualityBySource(docs: DataFrame, stopwords: Seq[String]): DataFrame = {
    // token stats come out of ONE lambda over the split array (let-binding:
    // the lambda var materializes the split once per row; a named val
    // would inline the split tree into every size/filter reference) and
    // explode through a 1-element array so the two output columns don't
    // re-inline the lambda either
    val tokStats = explode(transform(array(split(col("text"), " ")), w =>
      struct(size(w).as("n_tok"),
        (size(filter(w, t => t.isInCollection(stopwords))).cast("double") /
          size(w)).as("stop_ratio"))))
    docs
      .select(col("source"), col("n_chars"), col("text"),
        tokStats.as("ts"),
        // null (excluded from avg) for empty docs — a bare division would
        // be a DIVIDE_BY_ZERO error under ANSI mode
        when(col("n_chars") > 0,
          regexp_count(col("text"), lit("[^A-Za-z0-9 ]")).cast("double") /
            col("n_chars")).as("punct_ratio"),
        bpeishCount(col("text")).as("n_bpe"))
      .select(col("source"), col("n_chars"),
        col("ts.n_tok").as("n_tok"), col("ts.stop_ratio").as("stop_ratio"),
        col("punct_ratio"), col("n_bpe"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_chars").as("sum_chars"),
           avg("n_chars").as("avg_chars"),
           avg("n_tok").as("avg_toks"),
           sum("n_bpe").cast("long").as("sum_bpe"),
           round(avg("stop_ratio"), 6).as("avg_stop_ratio"),
           round(avg("punct_ratio"), 6).as("avg_punct_ratio"),
           sum(when(col("n_chars") < 150, 1).otherwise(0)).cast("long")
             .as("n_short"))
  }
}
