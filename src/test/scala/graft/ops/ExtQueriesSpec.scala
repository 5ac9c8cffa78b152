package graft.ops

import graft.SparkSpec
import graft.llm.KMeans
import org.apache.spark.sql.functions._

/** Semantics tests for the round-4 extension operators: batch
  * sessionization, gap-fill resampling, pivot, cube, higher-order array
  * functions, fixed-point k-means. The oracle gate proves fixture
  * equality; these prove the SEMANTICS on inputs crafted so each edge
  * (gap boundary, missing bucket, empty pivot cell, grouping-id bits,
  * argmin tie) is load-bearing. */
class ExtQueriesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("sessionize splits strictly-greater-than-gap boundaries only") {
    import spark.implicits._
    // user 1: gaps of 500 (kept: == gap is NOT a break), 1100, 3400
    val ev = Seq((1L, 1L, 0L), (1L, 2L, 500L), (1L, 3L, 1600L),
                 (1L, 4L, 5000L), (2L, 5L, 7L))
      .toDF("user_id", "event_id", "t")
    val got = TsQueries.sessionize(ev, gapUs = 1100L)
      .orderBy("user_id", "sess_n")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, 0L, 1600L, 3L),    // 1100 gap == gap → same session
      (1L, 5000L, 5000L, 1L), // 3400 > gap → new session
      (2L, 7L, 7L, 1L)))
  }

  test("sessionize orders ties by event_id") {
    import spark.implicits._
    // two events at the SAME t: no break between them regardless of
    // which lag order is chosen — but the running sum must be stable
    val ev = Seq((1L, 2L, 100L), (1L, 1L, 100L), (1L, 3L, 100000L))
      .toDF("user_id", "event_id", "t")
    val got = TsQueries.sessionize(ev, gapUs = 10L).orderBy("sess_n").collect()
    assert(got.length == 2 && got(0).getLong(4) == 2L)
  }

  test("gapfill densifies the span and carries the last bucket forward") {
    import spark.implicits._
    val h = 3600000000L
    val ev = Seq(
      (0L, 0L, 1.0),          // bucket 0  → 100 cents
      (0L, 3 * h + 5L, 2.5))  // bucket 3h → 250 cents
      .toDF("user_id", "us", "value")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"), col("value"))
    val got = TsQueries.gapfill(ev, h).orderBy("bus")
      .collect().map(r => (r.getLong(1) / h, r.getLong(2), r.getInt(3)))
    assert(got.toSeq == Seq((0L, 100L, 0), (1L, 100L, 1),
                            (2L, 100L, 1), (3L, 250L, 0)))
  }

  test("gapfill: a single-bucket user yields exactly one ungapped row") {
    import spark.implicits._
    val ev = Seq((5L, 42L, 3.25)).toDF("user_id", "us", "value")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
              col("value"))
    val got = TsQueries.gapfill(ev, 3600000000L).collect()
    assert(got.length == 1 && got(0).getLong(2) == 325L &&
           got(0).getInt(3) == 0)
  }

  test("interpolate: lerp across the gap, forward-fill after last obs") {
    import spark.implicits._
    val h = 3600000000L
    // observed buckets 0 (100c) and 3h (400c); the gap hours lerp to
    // 100 + 300*1/3 = 200 and 100 + 300*2/3 = 300
    val ev = Seq((0L, 0L, 1.0), (0L, 3 * h + 5L, 4.0))
      .toDF("user_id", "us", "value")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
              col("value"))
    val got = TsQueries.interpolate(ev, h).orderBy("bus")
      .collect().map(r => (r.getLong(1) / h, r.getLong(2), r.getInt(3)))
    assert(got.toSeq == Seq((0L, 100L, 0), (1L, 200L, 1),
                            (2L, 300L, 1), (3L, 400L, 0)))
  }

  test("interpolate truncates negative slopes toward zero like the oracle") {
    import spark.implicits._
    val h = 3600000000L
    // 1000c down to 0c over 3 steps: deltas -1000/3 are inexact, so
    // trunc-vs-floor actually differ (667/334 vs 666/333) — this pins
    // the truncating convention both engines share
    val ev = Seq((0L, 0L, 10.0), (0L, 3 * h + 5L, 0.0))
      .toDF("user_id", "us", "value")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
              col("value"))
    val got = TsQueries.interpolate(ev, h).orderBy("bus")
      .collect().map(r => r.getLong(2))
    assert(got.toSeq == Seq(1000L, 667L, 334L, 0L))
  }

  test("lloyd iteration assigns to the nearest seed, ties to lowest cid") {
    import spark.implicits._
    // seeds are vec_id 0,1. vec 2 sits on seed 0; vec 3 near seed 1;
    // vec 4 EXACTLY between them → tie → cid 0.
    val emb = Seq(
      (0L, Array(0f, 0f)), (1L, Array(4f, 0f)),
      (2L, Array(0f, 0f)), (3L, Array(4f, 1f)), (4L, Array(2f, 0f)))
      .toDF("vec_id", "embedding")
    val out = KMeans.lloydQuery(emb, k = 2)
    // 2 cids × 2 dims = 4 accumulator rows
    assert(out.count() == 4)
    val n = out.groupBy("cid").agg(max("n").as("n")).orderBy("cid")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(n.toSeq == Seq((0L, 3L), (1L, 2L)))   // {0,2,4} vs {1,3}
    // centroid 1, dim 1: mean of 4f,4f on the 2^20 grid
    val c1 = out.filter(col("cid") === 1 && col("pos") === 1)
      .select((col("sum_q") / col("n")).cast("long")).head().getLong(0)
    assert(c1 == 4L * KMeans.Scale)
  }

  test("quantized sqDist is exact integer L2") {
    import spark.implicits._
    val df = Seq((Array(1f, 2f), Array(1f, 0f))).toDF("a", "b")
      .select(KMeans.sqDist(KMeans.quantize(col("a")),
                            KMeans.quantize(col("b"))).as("d"))
    assert(df.head().getLong(0) == 4L * KMeans.Scale * KMeans.Scale)
  }

  test("pivot cells sum back to the orders rowcount, empty cells are 0") {
    val piv = RelQueries.o5Pivot(spark, dir)
    val cells = piv.select(
      (col("p_urgent") + col("p_high") + col("p_medium") +
       col("p_notspec") + col("p_low")).as("s"))
      .agg(sum("s")).head().getLong(0)
    assert(cells == graft.table(spark, dir, "orders").count())
    assert(!piv.columns.contains("1-URGENT")) // renamed to stable names
  }

  test("cube emits all four grouping sets with postgres-style gid bits") {
    val c = RelQueries.a12Cube(spark, dir).cache()
    try {
      val gids = c.select("gid").distinct().collect().map(_.getInt(0)).sorted
      assert(gids.toSeq == Seq(0, 1, 2, 3))
      // gid 3 = both dims rolled up = the grand total, exactly once
      val tot = c.filter(col("gid") === 3).collect()
      assert(tot.length == 1 &&
        tot(0).getLong(3) == graft.table(spark, dir, "lineitem").count())
      // gid bit order: MSB = first cube column (returnflag)
      assert(c.filter(col("gid") === 2).select("rf").distinct()
        .head().getString(0) == "<all>")
    } finally c.unpersist()
  }

  test("higher-order fold equals the explode/re-aggregate formulation") {
    val hof = RelQueries.f10HigherOrder(spark, dir)
    val brute = graft.table(spark, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("p", "x")))
      .groupBy("vec_id")
      .agg(sum(when(col("x") > 0f, 1).otherwise(0)).cast("int").as("n_pos"),
           round(sum(col("x").cast("double") * col("x").cast("double")), 4)
             .as("sumsq"),
           round(max(abs(col("x").cast("double"))), 4).as("max_abs"))
    // sumsq: unordered shuffle sum vs ordered fold can differ sub-ulp;
    // the 4dp round absorbs it, so exact frame equality is expected
    assert(hof.exceptAll(brute).isEmpty && brute.exceptAll(hof).isEmpty)
  }

  test("lloyd training converges to a fixed point on separable clusters") {
    import spark.implicits._
    // two blobs; seeds 0,1 both start inside blob A, so convergence
    // requires centroid 1 to MIGRATE to blob B across rounds (round 1
    // pulls it to the midpoint, round 2 hands blob A entirely to
    // centroid 0) — a fixture a single Lloyd step cannot satisfy.
    val emb = Seq(
      (0L, Array(0f, 0f)), (1L, Array(1f, 0f)),
      (2L, Array(0.1f, 0f)), (3L, Array(0.9f, 0f)),
      (4L, Array(10f, 0f)), (5L, Array(10.2f, 0f)), (6L, Array(9.8f, 0f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), KMeans.quantize(col("embedding")).as("qv"))
    val codebook = KMeans.train(emb, k = 2, maxIter = 10)
      .orderBy("cid").collect()
    assert(codebook.length == 2)
    val c0 = codebook(0).getSeq[Long](1).head.toDouble / KMeans.Scale
    val c1 = codebook(1).getSeq[Long](1).head.toDouble / KMeans.Scale
    // fixed point: centroid 0 owns the low blob, centroid 1 the high one
    assert(math.abs(c0 - 0.5) < 0.3, s"c0=$c0")
    assert(math.abs(c1 - 10.0) < 0.3, s"c1=$c1")
  }

  test("lloyd training fails when maxIter ends with the codebook still moving") {
    import spark.implicits._
    // seeds 0 and 1; round 1 hands vector 2 to centroid 1, which moves
    val emb = Seq((0L, Array(0f, 0f)), (1L, Array(1f, 0f)), (2L, Array(10f, 0f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), KMeans.quantize(col("embedding")).as("qv"))
    val e = intercept[IllegalArgumentException] {
      KMeans.train(emb, k = 2, maxIter = 1)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("orc roundtrip preserves values and types") {
    val orc = RelQueries.src4Orc(spark, dir)
    val direct = graft.table(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
           sum("l_quantity").cast("long").as("sum_qty"),
           sum(round(col("l_extendedprice") * 100).cast("long"))
             .as("sum_base_cents"))
    assert(orc.exceptAll(direct).isEmpty && direct.exceptAll(orc).isEmpty)
  }

  test("chunk overlap: window/stride arithmetic and partial tails") {
    import spark.implicits._
    def words(k: Int) = (1 to k).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, words(10)),   // <= window: one chunk of 10
      (2L, words(64)),   // == window: one chunk of 64
      (3L, words(65)),   // one over: chunks of 64 and 17 (start 49)
      (4L, words(160)))  // 1 + ceil(96/48) = 3 full-ish chunks
      .toDF("doc_id", "text")
    val got = graft.llm.Packing
      .chunkOverlap(docs, col("doc_id"), col("text"))
      .orderBy("doc_id", "chunk_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(got.toSeq == Seq(
      (1L, 0, 1, 10), (2L, 0, 1, 64),
      (3L, 0, 1, 64), (3L, 1, 49, 17),
      (4L, 0, 1, 64), (4L, 1, 49, 64), (4L, 2, 97, 64)))
    // consecutive chunks overlap by window - stride tokens
    val c3 = graft.llm.Packing
      .chunkOverlap(docs.filter(col("doc_id") === 4), col("doc_id"),
        col("text"), window = 64, stride = 48)
      .select("start_tok", "n_tok").orderBy("start_tok").collect()
    assert(c3.sliding(2).forall { w =>
      w.length < 2 ||
        w(0).getInt(0) + 64 - w(1).getInt(0) == 16  // 64 - 48
    })
  }

  test("bpe training: greedy merges compound across rounds") {
    import spark.implicits._
    import graft.llm.Bpe
    // classic BPE fixture: "lo" dominates, then "low" builds ON the
    // first merge's output symbol — proving rounds compound rather than
    // recount raw characters
    val docs = Seq((1L, ("low " * 6 + "lower " * 3 + "lowest " * 2).trim))
      .toDF("doc_id", "text")
    val merges = Bpe.train(Bpe.wordHistogram(docs, col("text")), nMerges = 2)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges(0) == ((1, "l", "o", 11L)))   // lo in all 11 words
    assert(merges(1) == ((2, "lo", "w", 11L)))  // built on merged "lo"
  }

  test("bpe training survives fully-merged words and pair exhaustion") {
    import spark.implicits._
    import graft.llm.Bpe
    // After rank 2 the word "low" is the single symbol ["low"]: rank-3
    // pairWeights must not explode it (sequence(1, 0) descends and
    // element_at(syms, 0) throws). Asking for more merges than exist
    // must stop at exhaustion, not annihilate syms with a 0-row winner.
    val docs = Seq((1L, ("low " * 6 + "lower " * 3 + "lowest " * 2).trim))
      .toDF("doc_id", "text")
    val merges = Bpe.train(Bpe.wordHistogram(docs, col("text")), nMerges = 8)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges.length == 6)  // vocabulary runs dry after 6 merges
    assert(merges(2) == ((3, "low", "e", 5L)))  // the round that crashed
    assert(merges(5) == ((6, "lowes", "t", 2L)))
    intercept[IllegalArgumentException] {
      Bpe.train(Bpe.wordHistogram(docs, col("text")), nMerges = 0)
    }
  }

  test("bpe encode compresses repetitive text more than junk") {
    import spark.implicits._
    import graft.llm.Bpe
    // doc 1 is one word repeated — its pairs dominate training and every
    // merge lands in it; doc 2 is distinct junk bigrams that win nothing
    val docsDf = Seq(
      (1L, "banana banana banana banana banana"),
      (2L, "qw er ty ui op as")).toDF("doc_id", "text")
    val merges = Bpe.train(Bpe.wordHistogram(docsDf, col("text")), 4)
    val enc = Bpe.encode(docsDf, col("doc_id"), col("text"), merges)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    val (w1, s1, t1) = enc(0)
    val (w2, s2, t2) = enc(1)
    assert(w1 == 5L && s1 == 30L && w2 == 6L && s2 == 12L)
    assert(t1 < s1, "repetitive doc must compress")
    // per-symbol compression must be strictly better on the repetitive doc
    assert(t1.toDouble / s1 < t2.toDouble / s2,
      s"banana $t1/$s1 not tighter than junk $t2/$s2")
  }

  test("bpe encodeIds: hand-checked token ids, consistent with encode") {
    import spark.implicits._
    import graft.llm.Bpe
    val docsDf = Seq(
      (1L, "banana banana banana banana banana"),
      (2L, "qw er ty ui op as"),
      (3L, "b an")).toDF("doc_id", "text")
    val merges = Bpe.train(Bpe.wordHistogram(docsDf, col("text")), 4)
    // 4 merges on "banana"x5: an -> ban?? deterministic replay below via
    // the vocab itself — assertions stay structural + cross-kernel
    val v = Bpe.vocab(docsDf, col("text"), merges)
      .collect().map(r => (r.getInt(0), r.getString(1)))
    // ids are 0..n-1 dense, syms unique, base chars before merges
    assert(v.map(_._1).sorted.toSeq == (0 until v.length).toSeq)
    assert(v.map(_._2).distinct.length == v.length)
    val baseChars = docsDf.collect().flatMap(_.getString(1).split(" "))
      .flatMap(_.split("")).filter(_.nonEmpty).distinct.sorted
    assert(v.sortBy(_._1).take(baseChars.length).map(_._2).toSeq ==
      baseChars.toSeq)
    val ids = Bpe.encodeIds(docsDf, col("doc_id"), col("text"), merges)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2)))
    val enc = Bpe.encode(docsDf, col("doc_id"), col("text"), merges)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(3)))
    // n_tok from the id kernel == n_tok from the counting kernel, and
    // every id resolves inside the vocab
    assert(ids.map(i => (i._1, i._2)).toSeq == enc.toSeq)
    val vmap = v.map(x => x._1 -> x._2).toMap
    assert(ids.flatMap(_._3).forall(vmap.contains))
    // doc 3's words are pure base symbols ("b", "an" only if merged):
    // its ids decode back to its text via the vocab
    val d3 = ids.find(_._1 == 3L).get._3.map(vmap).mkString
    assert(d3 == "ban")
  }

  test("bpe encodeIds == encode token counts on random corpora, ids " +
       "decode back to the document (property)") {
    import org.scalacheck.{Gen, Prop}
    import spark.implicits._
    import graft.llm.Bpe
    val genWord = for {
      n <- Gen.choose(1, 6)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString
    val genDoc = for {
      n <- Gen.choose(1, 8)
      ws <- Gen.listOfN(n, genWord)
    } yield ws.mkString(" ")
    val genCorpus = Gen.choose(2, 5).flatMap(n => Gen.listOfN(n, genDoc))
    graft.PropCheck.checkProp(Prop.forAll(genCorpus) { corpus =>
      val d = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val merges = Bpe.train(Bpe.wordHistogram(d, col("text")), 3)
      val v = Bpe.vocab(d, col("text"), merges)
        .collect().map(r => (r.getInt(0), r.getString(1))).toMap
      val ids = Bpe.encodeIds(d, col("doc_id"), col("text"), merges)
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
      val enc = Bpe.encode(d, col("doc_id"), col("text"), merges)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      // same doc set, same token counts, and concatenated decoded ids
      // reproduce the document text minus spaces
      ids.keySet == enc.keySet &&
        ids.forall { case (k, seq) => seq.length.toLong == enc(k) } &&
        ids.forall { case (k, seq) =>
          seq.map(v).mkString == corpus(k.toInt).replace(" ", "") }
    }, minTests = 10)
  }

  test("HostRank: hand-computed iteration — orientation matters, " +
       "dangling mass redistributes, total mass conserved") {
    import spark.implicits._
    import graft.llm.HostRank
    // 3 nodes; the only edge is 0 -> 1; nodes 1 and 2 are dangling.
    // Hand-computed (Scale = 2^20): r0 = 349525 each, tp = 52428,
    // contrib(1) = 349525, dangling = r(1)+r(2) = 699050, share 233016.
    // rank(0) = rank(2) = 52428 + 85*233016 div 100         = 250491
    // rank(1) = 52428 + 85*(349525 + 233016) div 100        = 547587
    val edges = Seq((0L, 1L, 1L)).toDF("src", "dst", "w")
    val r = HostRank.ranks(edges, nNodes = 3, iters = 1)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(0L -> 250491L, 1L -> 547587L, 2L -> 250491L))
    // a transposed join (src/dst swapped) would rank node 0 highest —
    // this pins the direction; and Σ rank ≈ Scale (truncation only)
    assert(r(1L) > r(0L))
    // per node per round: <1 unit at each of the tp, share, and damp
    // truncations -> slack 3 units x 3 nodes (measured leak here: 7)
    assert(math.abs(r.values.sum - HostRank.Scale) <= 3 * 3)
  }

  test("pq/adc: codes pick nearest subspace centroid, ADC sums lookups") {
    import spark.implicits._
    // dim 4, m=2 (subdim 2), stride 3 -> centroids id3=[1,1,5,5],
    // id6=[9,9,1,1]; query=[1,1,1,1]. Hand-computed ADC in 2^40 units:
    //   id1=[1,1,1,1] -> codes (c3,c6), approx 0
    //   id4=[2,2,2,2] -> same codes, approx 0 (quantizes to its own
    //                    grid point but ADC only sees the CODES)
    //   id3, id5      -> codes (c3,c3), approx 2*(5-1)^2 = 32
    //   id6=[9,9,1,1] -> codes (c6,c6), approx 2*(9-1)^2 = 128
    //   id2=[9,9,5,5] -> codes (c6,c3), approx 128 + 32 = 160
    val emb = Seq(
      0L -> Array(1f, 1f, 1f, 1f), 1L -> Array(1f, 1f, 1f, 1f),
      2L -> Array(9f, 9f, 5f, 5f), 3L -> Array(1f, 1f, 5f, 5f),
      4L -> Array(2f, 2f, 2f, 2f), 5L -> Array(1f, 1f, 9f, 9f),
      6L -> Array(9f, 9f, 1f, 1f)).toDF("vec_id", "embedding")
    val got = graft.llm.Pq.pqTopK(
        emb.filter(col("vec_id") =!= 0), col("vec_id"), col("embedding"),
        emb.filter(col("vec_id") === 0), col("embedding"),
        k = 6, m = 2, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1) >> 40, r.getInt(2)))
    assert(got.toSeq == Seq(
      (1L, 0L, 1), (4L, 0L, 2), (3L, 32L, 3), (5L, 32L, 4),
      (6L, 128L, 5), (2L, 160L, 6)))
  }

  test("incremental lsh: batch probes the stored index, contract holds") {
    import spark.implicits._
    import graft.llm.Dedup
    def words(pre: String, k: Int) = (1 to k).map(i => s"$pre$i").mkString(" ")
    val base = Seq(
      (1L, words("a", 12)), (2L, words("b", 12)), (3L, words("c", 12)))
      .toDF("doc_id", "text")
    val idxPath =
      java.nio.file.Files.createTempDirectory("graft_lshidx").toString
    Dedup.bandSignatures(base, col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(idxPath)
    // batch: a near-dup of doc 2 (one appended word, J = 10/11 ≥ 0.8),
    // a novel doc, and an EXACT copy of the near-dup — the batch-internal
    // pair must NOT be reported (next ingest's job, per the contract)
    val batch = Seq(
      (101L, words("b", 12) + " zz"), (102L, words("z", 12)),
      (103L, words("b", 12) + " zz")).toDF("doc_id", "text")
    val got = Dedup.incrementalLsh(
        spark.read.parquet(idxPath), batch, col("doc_id"), col("text"),
        base.unionByName(batch), col("doc_id"), col("text"))
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.toSeq == Seq((2L, 101L), (2L, 103L)),
      s"wrong pair set: ${got.toSeq}")
  }

  test("misra-gries two-pass: exact heavy hitters under any partitioning") {
    import spark.implicits._
    // 200 distinct rare tokens vs k=8 counters — the sketch is heavily
    // lossy — plus three true heavy hitters (n=440, threshold n/9≈48.9).
    // The two-pass output must be exactly the true heavy hitters for
    // every input order and partition count.
    val words = (1 to 200).map(i => s"r$i") ++
      Seq.fill(100)("hh1") ++ Seq.fill(80)("hh2") ++ Seq.fill(60)("hh3")
    val expect = Map("hh1" -> 100L, "hh2" -> 80L, "hh3" -> 60L)
    for {
      order <- Seq(words, words.reverse,
        words.sortBy(w => (w.hashCode * 2654435761L) & 0xffffffL))
      parts <- Seq(1, 7)
    } {
      val docs = order.zipWithIndex
        .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
        .repartition(parts)
      val got = graft.llm.HeavyHitters.heavyHitters(docs, col("text"), 8)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expect, s"order-dependence leaked (parts=$parts)")
    }
  }

  test("misra-gries algebra: eps-guarantees survive random merge trees") {
    import spark.implicits._ // Encoder[Map[String,Long]] for the ctor
    import org.scalacheck.{Gen, Prop}
    val gen = for {
      k <- Gen.choose(2, 12)
      n <- Gen.choose(0, 300)
      toks <- Gen.listOfN(n, Gen.choose(0, 29).map(i => s"t$i"))
      cuts <- Gen.listOfN(3, Gen.choose(0, n))
    } yield (k, toks, cuts)
    graft.PropCheck.checkProp(Prop.forAll(gen) { case (k, toks, cuts) =>
      val m = new graft.llm.MisraGries(k)
      // split the stream at random cut points, sketch each chunk, merge
      val bounds = (0 +: cuts.sorted :+ toks.length).distinct.sorted
      val chunks = bounds.zip(bounds.tail)
        .map { case (a, b) => toks.slice(a, b) }
      // foldLeft from zero: an empty stream yields zero chunks, and an
      // empty .reduce would throw rather than test the empty summary
      val merged = chunks.map(_.foldLeft(m.zero)(m.reduce))
        .foldLeft(m.zero)(m.merge)
      val exact = toks.groupBy(identity).map { case (t, l) =>
        t -> l.size.toLong }
      val n1 = toks.length.toLong
      val heavies = exact.collect { case (t, c) if c * (k + 1) > n1 => t }
      heavies.forall(merged.contains) &&         // no heavy hitter lost
      merged.size <= k &&                        // bounded state
      merged.forall { case (t, c) =>             // eps undercount only
        val e = exact.getOrElse(t, 0L)
        c <= e && (e - c) * (k + 1) <= n1
      }
    })
  }

  private def jobsInGroup(tag: String)(f: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try f finally sc.clearJobGroup()
    // the status store is fed by an async listener — poll until stable
    var n = -1
    var stable = 0
    while (stable < 3) {
      Thread.sleep(100)
      val m = sc.statusTracker.getJobIdsForGroup(tag).length
      if (m == n) stable += 1 else { n = m; stable = 0 }
    }
    n
  }

  test("batched bpe training: identical merge table on real corpora") {
    import spark.implicits._
    import graft.llm.Bpe
    def table(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rank").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
    // the low-fixture (compounding merges + exhaustion before nMerges)
    val low = Seq((1L, ("low " * 6 + "lower " * 3 + "lowest " * 2).trim))
      .toDF("doc_id", "text")
    val lowHist = Bpe.wordHistogram(low, col("text"))
    assert(table(Bpe.train(lowHist, 8)) == table(Bpe.trainBatched(lowHist, 8)))
    // the documents fixture — shared letters everywhere, so batching
    // must DEGRADE to naive rounds rather than diverge
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val hist = Bpe.wordHistogram(docs, col("text"))
    assert(table(Bpe.train(hist, 6)) == table(Bpe.trainBatched(hist, 6)))
  }

  test("batched bpe training: >=4x fewer jobs on batchable vocabulary") {
    import spark.implicits._
    import graft.llm.Bpe
    // 64 two-char words over disjoint alphabets (Latin Extended-A),
    // strictly decreasing counts: every pair is isolated, so one round
    // batches the whole vocabulary — the merge-heavy regime the naive
    // loop pays ~4 scheduler jobs per merge for
    val hist = (0 until 64).map { i =>
      val c1 = (0x100 + 2 * i).toChar
      val c2 = (0x100 + 2 * i + 1).toChar
      (s"$c1$c2", 200L - i)
    }.toDF("tok", "c")
    var naive: Seq[(Int, String, String, Long)] = null
    var batched: Seq[(Int, String, String, Long)] = null
    val jn = jobsInGroup("bpe-naive") {
      naive = Bpe.train(hist, 64).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
    }
    val jb = jobsInGroup("bpe-batched") {
      batched = Bpe.trainBatched(hist, 64).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
    }
    assert(naive.sortBy(_._1) == batched.sortBy(_._1))
    assert(naive.length == 64 && naive.head == ((1, "Ā", "ā", 200L)))
    assert(jn >= 4 * jb, s"naive $jn jobs vs batched $jb — batching lost its edge")
  }

  test("bpe fused kernel matches the declarative twin on adversarial docs") {
    import spark.implicits._
    import graft.llm.Bpe
    // repeated-merge chains, multi-spaces, single chars, empty text,
    // plus 40 pseudo-random docs over a tiny alphabet (fixed LCG seed)
    var seed = 42L
    def nextInt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound).toInt + bound) % bound
    }
    val alphabet = "aabbc "
    val random = (1L to 40L).map { i =>
      (100 + i, (1 to (5 + nextInt(40)))
        .map(_ => alphabet(nextInt(alphabet.length))).mkString)
    }
    val docs = (Seq(
      (1L, "aaa aaaa aaaaa"), (2L, "low lower  lowest"), (3L, "x"),
      (4L, ""), (5L, "  ab ab ab  "), (6L, "ababab ba")) ++ random)
      .toDF("doc_id", "text")
    val merges = Bpe.train(Bpe.wordHistogram(docs, col("text")), 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(Bpe.encode(docs, col("doc_id"), col("text"), merges)) ==
           rows(Bpe.encodeDeclarative(docs, col("doc_id"), col("text"),
             merges)))
  }

  test("bpe pair merge is greedy left-to-right on overlaps") {
    import spark.implicits._
    import graft.llm.Bpe
    val df = Seq(Array("a", "a", "a")).toDF("syms")
      .select(Bpe.mergePair(col("syms"), lit("a"), lit("a")).as("m"))
    assert(df.head().getSeq[String](0) == Seq("aa", "a"))
  }

  test("bigram surprise ranks out-of-distribution text above corpus text") {
    import spark.implicits._
    val normal = (1L to 30L).map(i =>
      (i, s"the quick brown fox number $i jumps over the lazy dog again"))
    val junk = Seq((99L, "zq xv qj vk wz qq kx jv zx qk wv xj"))
    val docs = (normal ++ junk).toDF("doc_id", "text")
    val scored = graft.llm.TextAnalysis
      .bigramSurprise(docs, col("doc_id"), col("text"))
      .select(col("doc_id"),
        (col("surprise").cast("double") / col("n_bg")).as("rate"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val junkRate = scored(99L)
    assert((scored - 99L).values.forall(_ < junkRate),
      s"junk rate $junkRate not above corpus rates")
  }

  test("bigram surprise keeps sub-2-char docs with zero score") {
    import spark.implicits._
    val docs = Seq((1L, "a"), (2L, ""), (3L, "abcd")).toDF("doc_id", "text")
    val got = graft.llm.TextAnalysis
      .bigramSurprise(docs, col("doc_id"), col("text"))
      .orderBy("doc_id").collect()
    assert(got.length == 3)
    assert(got(0).getLong(1) == 0L && got(1).getLong(1) == 0L)
    assert(got(2).getLong(1) == 3L)
  }

  test("funnel fold: ordered stages, strict times, partial funnels") {
    import spark.implicits._
    val ev = Seq(
      // user 1: full funnel in order
      (1L, "click", 10L), (1L, "view", 20L), (1L, "purchase", 30L),
      // user 2: purchase BEFORE the view stage opened — stops at stage 2
      (2L, "click", 10L), (2L, "purchase", 15L), (2L, "view", 20L),
      // user 3: view before any click — funnel never opens past stage 1
      (3L, "view", 5L), (3L, "click", 10L),
      // user 4: view at EXACTLY the click time — strict > excludes it
      (4L, "click", 10L), (4L, "view", 10L), (4L, "view", 11L))
      .toDF("user_id", "event_type", "t")
    val got = TsQueries.funnelTimes(ev, Seq("click", "view", "purchase"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)),
                 Option(r.get(3))))
    assert(got.toSeq == Seq(
      (1L, Some(10L), Some(20L), Some(30L)),
      (2L, Some(10L), Some(20L), None),
      (3L, Some(10L), None, None),
      (4L, Some(10L), Some(11L), None)))
  }

  test("funnel generalizes to four stages") {
    import spark.implicits._
    val ev = Seq(
      (1L, "signup", 1L), (1L, "click", 2L), (1L, "view", 3L),
      (1L, "purchase", 4L),
      // user 2 skips click: later stages can never open
      (2L, "signup", 1L), (2L, "view", 3L), (2L, "purchase", 4L))
      .toDF("user_id", "event_type", "t")
    val got = TsQueries.funnelTimes(ev,
      Seq("signup", "click", "view", "purchase")).orderBy("user_id")
      .collect().map(r => (1 to 4).map(i => Option(r.get(i))))
    assert(got(0) == Seq(Some(1L), Some(2L), Some(3L), Some(4L)))
    assert(got(1) == Seq(Some(1L), None, None, None))
  }

  test("ed1 join finds every edit class and kills the ED-2 false candidate") {
    import spark.implicits._
    val left = Seq((1L, "cat"), (2L, "ab")).toDF("id", "s")
    val right = Seq(
      (10L, "cat"),   // equal
      (11L, "car"),   // substitution
      (12L, "cart"),  // insertion
      (13L, "at"),    // deletion
      (14L, "ba"),    // shares deletion variants with "ab" but ED=2
      (15L, "dog"))   // no relation
      .toDF("id", "s")
    val got = RelQueries.ed1Join(left, col("id"), col("s"),
                                 right, col("id"), col("s"))
      .select("l_id", "r_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // (2,13): "ab"~"at" is a substitution — also ED 1
    assert(got == Set((1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L), (2L, 13L)))
  }

  test("ed1 join: empty and 1-char strings don't fabricate variants") {
    import spark.implicits._
    val l = Seq((1L, ""), (2L, "a")).toDF("id", "s")
    val r = Seq((10L, ""), (11L, "b"), (12L, "xy")).toDF("id", "s")
    val got = RelQueries.ed1Join(l, col("id"), col("s"),
                                 r, col("id"), col("s"))
      .select("l_id", "r_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    // ""~"" (equal), ""~"b" (insert), "a"~"" (delete), "a"~"b" (subst);
    // "xy" is ED 2 from both
    assert(got == Set((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L)))
  }

  test("ed1 candidates are complete for every random single edit") {
    import spark.implicits._
    // derive right side from left by one random-but-deterministic edit
    val base = (0 until 200).map { i =>
      val s = f"w${i}%03drd" + ("abcde".charAt(i % 5))
      val edited = (i % 3) match {
        case 0 => s.updated(i % s.length, 'z')          // substitute
        case 1 => s.patch(i % s.length, "", 1)          // delete
        case 2 => s.patch(i % s.length, "z", 0)         // insert
      }
      (i.toLong, s, edited)
    }
    val l = base.map(t => (t._1, t._2)).toDF("id", "s")
    val r = base.map(t => (t._1, t._3)).toDF("id", "s")
    val matched = RelQueries.ed1Join(l, col("id"), col("s"),
                                     r, col("id"), col("s"))
      .filter(col("l_id") === col("r_id")).count()
    assert(matched == 200L, s"only $matched/200 single-edit pairs found")
  }

  test("q1/q10 composites: shapes and deterministic ordering") {
    val q1 = RelQueries.q1PricingSummary(spark, dir).collect()
    assert(q1.length <= 6 && q1.nonEmpty)
    val q10 = RelQueries.q10ReturnedItems(spark, dir).collect()
    assert(q10.length <= 20)
    val revs = q10.map(_.getLong(3))
    assert(revs.sameElements(revs.sortBy(-_: Long)))
  }

  test("a24 sketch merge is LOSSLESS: bottom-k of unioned per-group " +
       "bottom-k's equals bottom-k over all rows (property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1L to 700L).map(i =>
      (s"g${rnd.nextInt(5)}", i, rnd.nextInt(100000)))
    val df = rows.toDF("grp", "id", "v")
      .withColumn("h", md5(col("id").cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("h"), col("id"))
    val perGroup = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 64).drop("rn")
    def bottomK(d: org.apache.spark.sql.DataFrame) =
      d.orderBy(col("h"), col("id")).limit(64)
        .select("id").collect().map(_.getLong(0)).toSet
    // merging the 5 sketches loses nothing vs sampling the raw union
    assert(bottomK(perGroup) == bottomK(df))
    // and the declared query's global row estimates from exactly that
    // merged sample (deterministic end to end)
    val out = RelQueries.a24SampleQuantiles(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out.contains("ALL") && out.size == 6)
    val (nAll, sAll, _, _) = out("ALL")
    assert(nAll == out.filterKeys(_ != "ALL").values.map(_._1).sum)
    assert(sAll == 64L)
    spark.catalog.clearCache()
  }
}
