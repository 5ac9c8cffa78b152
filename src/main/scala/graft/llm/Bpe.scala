package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE tokenizer training, Spark-shaped. The insight that makes BPE
  * tractable at 100 TB: merges are a function of the WORD HISTOGRAM, not
  * the corpus — so the corpus is reduced once (tokens → (word, count),
  * one shuffle whose output is vocabulary-sized) and every training
  * round operates on that small table. Corpus text is touched exactly
  * once, regardless of merge count.
  *
  * The merge loop collects only the round's top pairs (a bounded,
  * vocabulary-statistic table); the chosen merges enter the next
  * round's substitution as literals, and the greedy left-to-right pair
  * substitution is a per-row higher-order `aggregate` fold over the
  * word's symbol array.
  */
object Bpe {

  /** Corpus → (word, count) histogram; words shorter than 2 chars carry
    * no pairs and are dropped. */
  def wordHistogram(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(split(text, " ")).as("tok"))
      .filter(length(col("tok")) >= 2)
      .groupBy("tok").agg(count(lit(1)).as("c"))

  /** Histogram with each word exploded to its symbol array (initially
    * characters). */
  def symbolized(hist: DataFrame): DataFrame =
    hist.select(split(col("tok"), "").as("syms"), col("c"))

  /** Adjacent-symbol-pair weights over a symbolized histogram — the
    * statistic one BPE merge step maximizes. Fully-merged words (a single
    * symbol) carry no pairs and MUST be filtered before the explode:
    * `sequence(1, size-1)` DESCENDS to [1, 0] when size = 1 (the same
    * Spark pitfall guarded in RelQueries.deletionVariants) and
    * `element_at(syms, 0)` throws unconditionally. */
  def pairWeights(symbolized: DataFrame): DataFrame =
    symbolized
      .filter(size(col("syms")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("syms")) - 1),
        i => struct(element_at(col("syms"), i).as("a"),
                    element_at(col("syms"), i + 1).as("b")))).as("p"),
        col("c"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("c")).as("weight"))

  /** Greedy left-to-right merge of adjacent pair (a, b) in a symbol
    * array: the standard BPE substitution, as a fold with one pending
    * symbol of state ("aaa" under (a,a) merges the FIRST two). */
  def mergePair(syms: Column, a: Column, b: Column): Column = {
    val strArr = array().cast("array<string>")
    val zero = struct(strArr.as("out"), lit(null).cast("string").as("pend"))
    val folded = aggregate(syms, zero,
      (acc, s) => {
        val out = acc.getField("out")
        val pend = acc.getField("pend")
        when(pend.isNull, struct(out.as("out"), s.as("pend")))
          .when(pend === a && s === b,
            struct(concat(out, array(concat(a, b))).as("out"),
                   lit(null).cast("string").as("pend")))
          .otherwise(struct(concat(out, array(pend)).as("out"), s.as("pend")))
      },
      acc => when(acc.getField("pend").isNull, acc.getField("out"))
        .otherwise(concat(acc.getField("out"),
                          array(acc.getField("pend")))))
    folded
  }

  /** Train `nMerges` BPE merges over a symbolized histogram. Each round:
    * pair weights → deterministic argmax (weight desc, pair asc),
    * collected (one row) → substituted into every word by the
    * [[mergePair]] fold. Returns the merge table (rank, a, b, weight) —
    * the artifact a tokenizer loads. Rounds are [[rounds]] over
    * vocabulary-sized DataFrames; the corpus is NOT re-read. */
  def train(hist: DataFrame, nMerges: Int): DataFrame =
    rounds("Bpe.train", hist, nMerges, topM = 1)(_.take(1))

  /** [[train]] with BATCHED merge rounds: identical merge table, ~B
    * merges per Spark round instead of one — the fix for naive BPE's
    * O(merges) full aggregations (a realistic 32k-merge vocabulary is
    * ~100k tiny scheduler-bound jobs under [[train]]).
    *
    * Each round collects the top-`topM` pair statistic (a BOUNDED
    * driver-side table — same class as the iterative trainers'
    * convergence counts; the corpus never moves) and greedily selects a
    * prefix of candidates that provably reproduces the naive sequence.
    * Candidate (a, b, w) joins the batch only if
    *  - no other pair in the collected table touches {a, b, ab} in
    *    either position (so no visible pair's count can change when this
    *    merge applies, and later batch members can't interact with it), and
    *  - w > 2·wmin, where wmin is the weight floor of the collected
    *    table (every invisible pair is ≤ wmin; a merge can at most add
    *    one invisible creator's count to one invisible existing pair, so
    *    nothing below the floor can climb past w before this merge runs).
    * The first rejected candidate ends the batch; an empty batch falls
    * back to the collected argmax, which IS the naive round — so hard
    * corpora (shared letters everywhere) degrade to one-merge rounds
    * while disjoint-symbol regions batch wide. Selected merges apply as
    * one nested [[mergePair]] fold in selection order (`maxBatch` bounds
    * the expression depth), one checkpoint per ROUND. */
  def trainBatched(hist: DataFrame, nMerges: Int, topM: Int = 256,
                   maxBatch: Int = 64): DataFrame = {
    require(topM >= 1 && maxBatch >= 1, "need topM >= 1 and maxBatch >= 1")
    rounds("Bpe.trainBatched", hist, nMerges, topM) { top =>
      // floor of the visible table: -inf when EVERY live pair is here
      val wmin = if (top.length < topM) Long.MinValue else top.last._3
      val sel = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      val selConcats = scala.collection.mutable.HashSet.empty[String]
      var stop = false
      for (c @ (a, b, w) <- top if !stop) {
        val room = sel.length < maxBatch
        val touch = Set(a, b, a + b)
        val isolated = !top.exists { case p @ (pa, pb, _) =>
          p != c && (touch(pa) || touch(pb)) }
        // two DIFFERENT selected pairs can produce the SAME new symbol
        // ("a"+"bc" == "ab"+"c" == "abc"): each would feed invisible
        // (x, abc) pairs up to wmin, so two creators could push one
        // past the 2·wmin floor the proof relies on — one creator per
        // new symbol, max
        val freshConcat = !selConcats(a + b)
        val aboveFloor = wmin == Long.MinValue || w > 2 * wmin
        if (room && isolated && freshConcat && aboveFloor) {
          sel += c; selConcats += a + b
        } else stop = true
      }
      if (sel.isEmpty) Seq(top.head) // the naive round, verbatim
      else sel.toSeq
    }
  }

  /** The merge rounds both trainers share, on [[graft.Fixpoint.iterate]]:
    * each round collects the top-`topM` pairs of the current symbolized
    * histogram (weight desc, pair asc), `pick` chooses the merges to
    * apply in order (a non-empty prefix of what it is given), the first
    * `nMerges` picked overall are applied as one nested [[mergePair]]
    * fold, and the loop stops once `nMerges` merges are taken or no
    * pair is left. The merge table is built on the driver, so it reads
    * no checkpoint; the query scope releases the last round's symbols. */
  private def rounds(op: String, hist: DataFrame, nMerges: Int, topM: Int)
      (pick: Seq[(String, String, Long)] => Seq[(String, String, Long)])
      : DataFrame = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val spark = hist.sparkSession
    val acc = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    // every round takes at least one merge or finds none left, so the
    // loop stops within nMerges + 1 rounds
    graft.Fixpoint.iterate(op, symbolized(hist).localCheckpoint(),
        nMerges + 1, changes = Some((_, _) =>
          if (exhausted || acc.length == nMerges) 0L else 1L)) { syms =>
      val top = pairWeights(syms)
        .orderBy(col("weight").desc, col("a").asc, col("b").asc)
        .limit(topM)
        .collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      // pairs can run dry before nMerges (every word fully merged)
      if (top.isEmpty) { exhausted = true; syms }
      else {
        val sel = pick(top).take(nMerges - acc.length)
        val base = acc.length
        acc ++= sel.zipWithIndex.map { case ((a, b, w), i) =>
          (base + i + 1, a, b, w) }
        syms.select(sel.foldLeft(col("syms")) { case (cur, (a, b, _)) =>
          mergePair(cur, lit(a), lit(b)) }.as("syms"), col("c"))
      }
    }
    import spark.implicits._
    acc.toSeq.toDF("rank", "a", "b", "weight")
  }

  /** The rank-ordered merge table as ONE broadcast row of two parallel
    * string arrays (a-side, b-side) — never collected to the driver. */
  private def mergeArrays(merges: DataFrame): DataFrame =
    merges.agg(
        array_sort(collect_list(struct(col("rank"), col("a"), col("b"))))
          .as("ms"))
      .select(transform(col("ms"), _.getField("a")).as("ms_a"),
              transform(col("ms"), _.getField("b")).as("ms_b"))

  /** Encode documents with a trained merge table — the per-document half
    * of the tokenizer loop a pipeline actually runs at scale. The merge
    * table is aggregated to one rank-ordered row and broadcast into a
    * cross join (never collected); each document then pays ONE call of
    * the fused native kernel [[graft.functions.BpeDocTokens]] — split,
    * symbolize, every merge round, and the three counts in a single
    * imperative pass inside whole-stage codegen. Output per doc: word
    * count, symbol count before any merge, token count after all
    * merges. Documents with no words (all-space text) are dropped on
    * both sides of the gate. [[encodeDeclarative]] is the reference
    * twin (equivalence property-tested, the [[Similarity.cosine]]
    * pattern). */
  def encode(docs: DataFrame, docId: Column, text: Column,
             merges: DataFrame): DataFrame =
    graft.spreadScan(docs, docId) // r13, guide §2.5: per-doc BPE kernel
      .select(docId.as("doc_id"), text.as("_text"))
      .crossJoin(broadcast(mergeArrays(merges)))
      .select(col("doc_id"),
        graft.functions.BpeDocTokens(col("_text"), col("ms_a"), col("ms_b"))
          .as("r"))
      .filter(col("r.n_words") >= 1)
      .select(col("doc_id"), col("r.n_words").as("n_words"),
              col("r.n_sym0").as("n_sym0"), col("r.n_tok").as("n_tok"))

  /** The VOCABULARY a trained merge table induces: (vocab_id, sym).
    * Base symbols are the distinct code points over every non-empty
    * corpus word (ALL words, not just the histogram's length>=2 ones —
    * encoding must cover single-char words too); merged symbols are the
    * rank-ordered concats. Ids are assigned by the deterministic total
    * order (tier, sym): tier 0 = base symbols sorted lexicographically,
    * then merges by rank — the byte-alphabet-then-merges layout real BPE
    * vocabularies use. Two merges CAN produce the same surface string
    * ("a"+"bc" and "ab"+"c"); the groupBy keeps one entry at the lowest
    * tier, so sym → id stays a function. The global row_number window
    * runs over a vocabulary-sized table — never corpus data. */
  def vocab(docs: DataFrame, text: Column, merges: DataFrame): DataFrame = {
    val baseSyms = docs
      .select(explode(split(text, " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .select(explode(split(col("w"), "")).as("sym"))
      .filter(length(col("sym")) >= 1)
      .distinct()
      .select(col("sym"), lit(0).as("r"))
    val mergeSyms = merges.select(concat(col("a"), col("b")).as("sym"),
      col("rank").as("r"))
    baseSyms.unionByName(mergeSyms)
      .groupBy("sym").agg(min(col("r")).as("r"))
      .withColumn("vocab_id",
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("r"), col("sym"))) - 1).cast("int"))
      .select("vocab_id", "sym")
  }

  /** [[encode]]'s loader-ready sibling: per-document TOKEN-ID sequences
    * (doc_id, n_tok, token_ids: array<int>) — what a training data
    * pipeline actually materializes. The merge table and the
    * [[vocab]] (ordered by id, so position IS the id) each aggregate to
    * one broadcast row; every document then pays a single call of the
    * fused [[graft.functions.BpeDocIds]] kernel. Documents with no
    * words are dropped, as in [[encode]]. */
  def encodeIds(docs: DataFrame, docId: Column, text: Column,
                merges: DataFrame): DataFrame = {
    val vs = vocab(docs, text, merges)
      .agg(array_sort(collect_list(struct(col("vocab_id"), col("sym"))))
        .as("v"))
      .select(transform(col("v"), _.getField("sym")).as("v_syms"))
    graft.spreadScan(docs, docId) // r13, guide §2.5: per-doc BPE kernel
      .select(docId.as("doc_id"), text.as("_text"))
      .crossJoin(broadcast(mergeArrays(merges)))
      .crossJoin(broadcast(vs))
      .select(col("doc_id"),
        graft.functions.BpeDocIds(col("_text"), col("ms_a"), col("ms_b"),
          col("v_syms")).as("token_ids"))
      // drop only genuinely EMPTY results (no-word docs); a NULL result
      // is the kernel's mismatched-vocabulary signal and must SURVIVE to
      // the output (a size filter would eat it — NULL rows are what make
      // a bad vocab visible at the gate instead of silently vanishing)
      .filter(col("token_ids").isNull || size(col("token_ids")) >= 1)
      .select(col("doc_id"),
        size(col("token_ids")).cast("long").as("n_tok"),
        col("token_ids"))
  }

  /** The declarative formulation of [[encode]]: the outer `aggregate`
    * walks the merges in rank order, the inner [[mergePair]] fold
    * applies one merge — expression depth CONSTANT in the merge count
    * (the merge list is data, not plan). No custom expression, but the
    * nested higher-order folds run interpreted per element — the fused
    * kernel is the hot-path form. No query runs it: it is the
    * reference ExtQueriesSpec checks [[encode]] against. */
  private[graft] def encodeDeclarative(docs: DataFrame, docId: Column, text: Column,
                        merges: DataFrame): DataFrame = {
    val mlist = merges.agg(
      array_sort(collect_list(struct(col("rank"), col("a"), col("b"))))
        .as("ms"))
    docs.select(docId.as("doc_id"),
        filter(split(text, " "), w => length(w) >= 1).as("ws"))
      .filter(size(col("ws")) >= 1)
      .crossJoin(broadcast(mlist))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        aggregate(transform(col("ws"), w => length(w).cast("long")),
          lit(0L), (a, x) => a + x).as("n_sym0"),
        aggregate(transform(col("ws"), w =>
            size(aggregate(col("ms"), split(w, ""),
              (syms, m) => mergePair(syms, m.getField("a"),
                                     m.getField("b")))).cast("long")),
          lit(0L), (a, x) => a + x).as("n_tok"))
  }
}
