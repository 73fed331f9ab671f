package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark

/** Lexical retrieval: TF-IDF, BM25, RRF fusion, MMR, bigram surprisal.
  * Hand-computed oracles on tiny corpora; the cross-engine hash gates live in
  * SparkEntry (q_tfidf .. q_perplexity).
  */
class FullTextSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val docs = Seq(
    (1L, "spark spark spark hash join"),
    (2L, "spark window stream window"),
    (3L, "totally unrelated words about cats and dogs sleeping"),
    (4L, "hash join hash join hash join hash join fast"))
    .toDF("doc_id", "text")

  test("tfIdfTopTerms: corpus-wide terms score 0, rare terms rank first") {
    val r = FullText.tfIdfTopTerms(docs, k = 2).collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getString(2), x.getDouble(4)))
    // doc 1's top term must be 'spark' (tf=3) over 'hash'/'join' (tf=1):
    // idf('spark') = ln(5/3) > 0 and tf dominates
    val d1 = r.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.head._3 == "spark")
    // every score is tf * ln((N+1)/(df+1)) rounded to 6dp — check one exactly
    val sparkScore = 3 * math.log(5.0 / 3.0)
    assert(math.abs(d1.head._4 - BigDecimal(sparkScore).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("bm25TopK: query-term frequency and doc length drive rank; non-matching docs absent") {
    val r = FullText.bm25TopK(docs, "hash join", k = 10).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    // doc 3 shares no query term: must not appear at all
    assert(!r.exists(_._1 == 3L))
    // doc 4 (hash x4, join x4) outscores doc 1 (hash x1, join x1) and doc 2 (neither)
    assert(r.head._1 == 4L && r.head._2 == 2L)
    assert(r.map(_._1).toSet == Set(1L, 4L))
  }

  // the per-call term-count checkpoint is released before bm25TopK returns
  test("bm25TopK: 20 calls keep the block-manager census flat, same page each time") {
    val sc = spark.sparkContext
    val first = FullText.bm25TopK(docs, "hash join", k = 3).collect().toSeq
    val live = sc.getPersistentRDDs.size
    // every persisted RDD stays referenced here, so only an explicit
    // release — never a driver GC — can drop a call's blocks
    val held = scala.collection.mutable.Buffer.empty[org.apache.spark.rdd.RDD[_]]
    for (i <- 1 to 20) {
      assert(FullText.bm25TopK(docs, "hash join", k = 3).collect().toSeq == first, s"call $i")
      held ++= sc.getPersistentRDDs.values
      assert(sc.getPersistentRDDs.size <= live,
        s"call $i: ${sc.getPersistentRDDs.size} persisted RDDs, was $live")
    }
  }

  test("bm25 score matches the hand-computed Okapi formula") {
    // corpus: N=4, dl = (5,4,8,9), avgdl = 26/4 = 6.5
    // term 'fast': df=1, tf in doc 4 = 1, dl=9
    val idf = math.log(1.0 + (4 - 1 + 0.5) / (1 + 0.5))
    val ts = idf * 1 * (1.2 + 1) / (1 + 1.2 * (1.0 - 0.75 + 0.75 * 9 / 6.5))
    val expect = math.round(ts * 1e6) / 1e6
    val r = FullText.bm25TopK(docs, "fast", k = 1).collect()(0)
    assert(r.getLong(0) == 4L && math.abs(r.getDouble(2) - expect) < 1e-9)
  }

  test("hybridRrf: a doc ranked by both lists beats docs on one list; absent ranks are 0") {
    val r = FullText.hybridRrf(docs, "spark hash join window stream fast",
      k = 10, kCand = 4).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    // doc 3 matches nothing lexically but still has a vector rank (cosine over
    // hash buckets can be nonzero); it must never beat docs on both lists
    val both = r.filter(x => x._2 > 0 && x._3 > 0).map(_._4)
    val single = r.filter(x => x._2 == 0 || x._3 == 0).map(_._4)
    assert(both.nonEmpty)
    if (single.nonEmpty) assert(both.max > single.max)
    // rrf score is exactly sum of 1/(60+rank) over present ranks (6dp)
    r.foreach { case (_, vr, br, s) =>
      val expect = (if (vr > 0) 1.0 / (60 + vr) else 0.0) +
        (if (br > 0) 1.0 / (60 + br) else 0.0)
      assert(math.abs(s - BigDecimal(expect).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
  }

  // ranks are row positions in a TakeOrderedAndProject page; at or above
  // the fallback threshold Spark plans a sort + limit instead, whose output
  // order (and so the ranks) depends on the physical plan
  test("hybridRrf rejects kCand at or above topKSortFallbackThreshold") {
    val key = "spark.sql.execution.topKSortFallbackThreshold"
    spark.conf.set(key, "4")
    try {
      val e = intercept[IllegalArgumentException](
        FullText.hybridRrf(docs, "spark hash join", k = 2, kCand = 4))
      assert(e.getMessage.contains("kCand 4") && e.getMessage.contains(s"$key 4"), e.getMessage)
      FullText.hybridRrf(docs, "spark hash join", k = 2, kCand = 3).collect()
    } finally spark.conf.unset(key)
  }

  test("mmrRerank: pick 1 is argmax relevance; lambda=1 reduces to pure relevance order") {
    val pure = FullText.mmrRerank(docs, "spark hash", k = 3, kCand = 4, lambda = 1.0)
      .orderBy("pick").collect().map(x => (x.getInt(0), x.getLong(1), x.getDouble(2)))
    // with lambda=1 the greedy loop is exactly relevance descending
    assert(pure.map(_._3).toSeq == pure.map(_._3).sortBy(-_).toSeq)
    val mmr = FullText.mmrRerank(docs, "spark hash", k = 3, kCand = 4, lambda = 0.5)
      .orderBy("pick").collect()
    assert(mmr.head.getLong(1) == pure.head._2) // pick 1 identical (maxSim over empty = 0)
    assert(mmr.map(_.getLong(1)).distinct.length == 3) // no repeats
  }

  test("mmrRerank diversifies: near-duplicate of pick 1 is deferred under low lambda") {
    val dup = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // exact dup of 1 — sim 1.0
      (3L, "alpha zeta eta theta iota"))      // shares one term
      .toDF("doc_id", "text")
    val picks = FullText.mmrRerank(dup, "alpha beta", k = 3, kCand = 3, lambda = 0.3)
      .orderBy("pick").collect().map(_.getLong(1))
    // docs 1 and 2 tie on relevance (1 wins by id); pick 2 must be the
    // diverse doc 3, not the duplicate
    assert(picks(0) == 1L && picks(1) == 3L && picks(2) == 2L)
  }

  test("bigramSurprisal: repeated bigram scores below a one-off; short docs get 0") {
    val d = Seq(
      (1L, "a b a b a b a b"),   // one dominant bigram pattern
      (2L, "c d e f g h"),       // all singleton bigrams
      (3L, "solo"))              // < 2 tokens: zero bigrams
      .toDF("doc_id", "text")
    val r = FullText.bigramSurprisal(d).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).sortBy(_._1)
    assert(r(2) == ((3L, 0L, 0.0)))
    assert(r(0)._2 == 7L && r(1)._2 == 5L)
    // doc 1's bigrams are high-count => higher P => LOWER mean surprisal
    assert(r(0)._3 < r(1)._3)
    // spot-check one position exactly: P(b|a) = (B(a,b)+1)/(U(a)+V), doc 1:
    // B(a,b)=4, U(a)=4+... (a appears 4x in doc1; plus none elsewhere), V=11
    val pAB = (4 + 1.0) / (4 + 11)
    assert(pAB > 0 && pAB < 1) // formula sanity anchor for the comment above
  }

  test("trigramSurprisalKN: exact tiny-corpus value, repetition orders below diversity") {
    val d = Seq(
      (1L, "a b c a b c a b c"),  // one dominant trigram pattern
      (2L, "p q r s t u v"),      // all singleton trigrams
      (3L, "so lo"))              // < 3 tokens: zero trigrams
      .toDF("doc_id", "text")
    val r = FullText.trigramSurprisalKN(d).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).sortBy(_._1)
    assert(r(2) == ((3L, 0L, 0.0)))
    assert(r(0)._2 == 7L && r(1)._2 == 5L)
    // repetition => high trigram counts => LOWER mean surprisal
    assert(r(0)._3 < r(1)._3)
    // exact replay of one position, P(c|a b), doc 1:
    //   c3(a,b,c)=3, c2(a,b·)=3, N1+(ab·)=1
    //   N1+(·bc)=1, N1+(·b·)=1, N1+(b·)=1
    //   N1+(·c)=1, N1+(··)=7+5-? distinct (w2,w3) types: doc1 has
    //   (b,c),(c,a),(a,b); doc2 has (q,r),(r,s),(s,t),(t,u),(u,v) => 8
    //   V = 12 distinct unigrams
    val pc = (1 + 1.0) / (8 + 12)                       // Pcont(c)
    val p2 = (math.max(1 - 0.75, 0.0) + 0.75 * 1 * pc) / 1  // P(c|b)
    val p3 = (math.max(3 - 0.75, 0.0) + 0.75 * 1 * p2) / 3  // P(c|ab)
    // doc 1 = 7 positions: abc ×3, bca ×2, cab ×2 — all structurally
    // symmetric (every trigram type has the analogous counts), so the
    // doc mean equals -ln(p) of the class with its own c3: abc has c3=3
    // (p3 above); bca and cab have c3=2
    val p3bca = (math.max(2 - 0.75, 0.0) + 0.75 * 1 * p2) / 2
    val expect = (3 * math.round(-math.log(p3) * 1e6) +
      4 * math.round(-math.log(p3bca) * 1e6)) / (7 * 1e6)
    assert(math.abs(r(0)._3 - (math.rint(expect * 1e6) / 1e6)) < 2e-6,
      s"doc1 ${r(0)._3} vs $expect")
    // unseen-context fallback: scoring a FOREIGN doc against this LM
    // never yields NaN/zero p (the +1/V floor) — the raw path guards it
    val foreign = FullText.trigramSurprisalKN(
      d.union(Seq((9L, "zz yy xx ww")).toDF("doc_id", "text"))).collect()
    assert(foreign.forall(x => !x.getDouble(2).isNaN && x.getDouble(2) >= 0))
  }

  test("trigramSurprisalKNAgainst: true backoff on unseen trigrams in seen contexts") {
    val train = Seq((1L, "a b c a b c")).toDF("doc_id", "text")
    val score = Seq((9L, "a b d")).toDF("doc_id", "text")
    val r = FullText.trigramSurprisalKNAgainst(train, score).collect()
    assert(r.length == 1 && r(0).getLong(1) == 1L)
    // hand replay: context (a,b) SEEN (c2=2, mid=1), trigram abd unseen
    // (tc=0 → the discount-zeroed numerator, NOT a fallback to p2);
    // low(b,d) unseen, ctx2(b)=(1,1); cont(d)=0; n2types=3
    // ((b,c),(c,a),(a,b)), v=3 (a,b,c)
    val pc = (0 + 1.0) / (3 + 3)
    val p2 = (math.max(0 - 0.75, 0.0) + 0.75 * 1 * pc) / 1
    val p3 = (math.max(0 - 0.75, 0.0) + 0.75 * 1 * p2) / 2
    val expect = math.round(-math.log(p3) * 1e6) / 1e6
    assert(math.abs(r(0).getDouble(2) - (math.rint(expect * 1e6) / 1e6)) < 2e-6,
      s"${r(0).getDouble(2)} vs $expect")
    // a fully-unseen word never yields zero p / infinite surprisal
    val far = FullText.trigramSurprisalKNAgainst(train,
      Seq((8L, "zz yy xx")).toDF("doc_id", "text")).collect()
    assert(far(0).getDouble(2) > 0 && !far(0).getDouble(2).isInfinite)
  }

  test("fourgramSurprisalKN: repetition below diversity, finite, order consistency") {
    val rep = Seq((1L, "a b c d a b c d a b c d")).toDF("doc_id", "text")
    val div = Seq((2L, "p q r s t u v w x y z aa")).toDF("doc_id", "text")
    val r = FullText.fourgramSurprisalKN(rep.union(div)).orderBy("doc_id").collect()
    assert(r.length == 2)
    assert(r(0).getLong(1) == 9L && r(1).getLong(1) == 9L, "12 tokens -> 9 fourgrams")
    assert(r(0).getDouble(2) < r(1).getDouble(2),
      s"repetition must score below diversity: ${r(0).getDouble(2)} vs ${r(1).getDouble(2)}")
    assert(r.forall(x => !x.getDouble(2).isInfinite && x.getDouble(2) > 0))
    // a doc too short for any fourgram scores 0 with n = 0
    val short = FullText.fourgramSurprisalKN(
      Seq((3L, "only three words")).toDF("doc_id", "text")).collect()
    assert(short(0).getLong(1) == 0L && short(0).getDouble(2) == 0.0)
    // pruning monotonicity carries to order 4: the corpus where every
    // fourgram is a singleton scores strictly higher under minCount=2
    val single = Seq((4L, "k l m n o p")).toDF("doc_id", "text")
    val base = FullText.fourgramSurprisalKN(single).collect()(0).getDouble(2)
    val pruned = FullText.fourgramSurprisalKN(single, minCount = 2).collect()(0).getDouble(2)
    assert(pruned > base, s"$pruned vs $base")
  }

  test("KN pruning: minCount=1 is bit-identical; pruned singletons score as unseen") {
    // train: "a b c" twice (tc=2) and "a b d" once (tc=1, the singleton)
    val train = Seq((1L, "a b c"), (2L, "a b c"), (3L, "a b d")).toDF("doc_id", "text")
    val score = Seq((9L, "a b d"), (10L, "a b c")).toDF("doc_id", "text")
    val base = FullText.trigramSurprisalKNAgainst(train, score)
      .orderBy("doc_id").collect()
    val mc1 = FullText.trigramSurprisalKNAgainst(train, score, minCount = 1)
      .orderBy("doc_id").collect()
    assert(base.map(_.getDouble(2)).toSeq == mc1.map(_.getDouble(2)).toSeq,
      "minCount=1 must not change a single score")
    val pruned = FullText.trigramSurprisalKNAgainst(train, score, minCount = 2)
      .orderBy("doc_id").collect()
    // the singleton 'a b d' is pruned: its discounted-count term is
    // gone and only the (renormalized) interpolation weight carries it
    // — the score must RISE and stay finite
    assert(pruned(0).getDouble(2) > base(0).getDouble(2),
      s"pruned singleton must score higher: ${pruned(0).getDouble(2)} vs ${base(0).getDouble(2)}")
    assert(!pruned(0).getDouble(2).isInfinite)
    // RENORMALIZATION (mass conservation): the pruned type's discounted
    // mass max(1−0.75, 0) = 0.25 folds into the context's interpolation
    // weight, so the SURVIVING tc=2 type gains redistributed weight and
    // its score strictly DECREASES — the pruned distribution still sums
    // to 1 over the (a,b) context. Exact replay: numerator goes from
    // 1.25 + (0.75·2)·p2 to 1.25 + (0.75·2 + 0.25)·p2.
    assert(pruned(1).getDouble(2) < base(1).getDouble(2),
      s"kept type must absorb the redistributed weight: ${pruned(1).getDouble(2)} vs ${base(1).getDouble(2)}")
    // self-trained path prunes arithmetically (consolidated join keeps
    // the row): same monotonicity both ways
    val selfBase = FullText.trigramSurprisalKN(train).orderBy("doc_id").collect()
    val selfPruned = FullText.trigramSurprisalKN(train, minCount = 2)
      .orderBy("doc_id").collect()
    assert(selfPruned(2).getDouble(2) > selfBase(2).getDouble(2),
      "self-trained doc holding the singleton scores higher under pruning")
    assert(selfPruned(0).getDouble(2) < selfBase(0).getDouble(2),
      "self-trained doc holding the kept type absorbs the weight")
  }

  /** Independent pure-Scala interpolated-KN reference (same math, no
    * Spark, no shared code with the engine's Column fold): the full
    * continuation chain + ladder computed with plain Maps. Lets the
    * order-parameterized fold be checked at ANY order on ANY tiny
    * corpus, not just at hand-replayable golden points.
    */
  private def refKN(corpus: Seq[(Long, String)], order: Int,
                    d: Double = 0.75, minCount: Int = 1): Map[Long, (Long, Double)] =
    refKNAgainst(corpus, corpus, order, d, minCount)

  private def refKNAgainst(train: Seq[(Long, String)], corpus: Seq[(Long, String)],
                           order: Int, d: Double = 0.75,
                           minCount: Int = 1): Map[Long, (Long, Double)] = {
    import graft.functions.TextKernel
    def grams(t: String): Seq[Vector[String]] =
      TextKernel.tokens(t).toSeq.sliding(order).filter(_.length == order).map(_.toVector).toSeq
    val all = train.flatMap { case (_, t) => grams(t) }
    val cN = all.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val ctx = cN.groupBy(_._1.init).map { case (k, m) =>
      k -> ((m.values.sum, m.size.toLong,
        m.values.filter(_ < minCount).map(tc => math.max(tc - d, 0.0)).sum))
    }
    var lows = Map.empty[Int, Map[Vector[String], Long]]
    var prev: Iterable[Vector[String]] = cN.keys
    for (j <- (order - 1) to 2 by -1) {
      val lj = prev.groupBy(_.takeRight(j)).map { case (k, v) => k -> v.size.toLong }
      lows += j -> lj
      prev = lj.keys
    }
    val ctxs = (2 to order - 1).map { j =>
      j -> lows(j).groupBy(_._1.init).map { case (k, m) => k -> ((m.values.sum, m.size.toLong)) }
    }.toMap
    val cont = lows(2).groupBy(_._1.last).map { case (k, m) => k -> m.size.toLong }
    val ntypes = lows(2).size
    val v = train.flatMap { case (_, t) => TextKernel.tokens(t) }.distinct.size
    def prob(g: Vector[String]): Double = {
      var p = (cont.getOrElse(g.last, 0L) + 1.0) / (ntypes + v)
      for (j <- 2 to order - 1) {
        val (ctot, ctyp) = ctxs(j).getOrElse(g.takeRight(j).init, (0L, 0L))
        val lowc = lows(j).getOrElse(g.takeRight(j), 0L)
        if (ctot > 0) p = (math.max(lowc - d, 0.0) + d * ctyp * p) / ctot
      }
      val (csum, mid, pmass) = ctx.getOrElse(g.init, (0L, 0L, 0.0))
      val tc = cN.getOrElse(g, 0L)
      val tcEff = if (tc >= minCount) tc else 0L
      if (csum > 0) (math.max(tcEff - d, 0.0) + (d * mid + pmass) * p) / csum else p
    }
    corpus.map { case (id, t) =>
      val gs = grams(t)
      val n = gs.size.toLong
      val s = gs.map(g => math.round(-math.log(prob(g)) * 1e6)).sum
      id -> ((n, if (n == 0) 0.0 else s.toDouble / (n * 1e6)))
    }.toMap
  }

  test("ngramSurprisalKN order 5 and 6: engine fold matches the independent reference") {
    val corpus = Seq(
      (1L, "a b c d e a b c d e a b c d e"), // dominant repeated 5-grams
      (2L, "p q r s t u v w x y z"),          // all singleton 5-grams
      (3L, "a b c d e f g a b c d e f g"),    // overlapping repeats
      (4L, "one two three four"))              // < 5 tokens: no 5-grams
    val df = corpus.toDF("doc_id", "text")
    for (order <- Seq(5, 6); mc <- Seq(1, 2)) {
      val got = FullText.ngramSurprisalKN(df, order, minCount = mc)
        .orderBy("doc_id").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
      val want = refKN(corpus, order, minCount = mc)
      for ((id, n, s) <- got) {
        val (wn, ws) = want(id)
        assert(n == wn, s"order=$order mc=$mc doc=$id ngram count $n vs $wn")
        assert(math.abs(s - ws) < 2e-6, s"order=$order mc=$mc doc=$id score $s vs $ws")
      }
    }
    // repetition scores below diversity at order 5 too
    val r5 = FullText.ngramSurprisalKN(df, 5).orderBy("doc_id").collect()
    assert(r5(0).getDouble(2) < r5(1).getDouble(2))
    assert(r5(3).getLong(1) == 0L && r5(3).getDouble(2) == 0.0)
  }

  test("ngramSurprisalKN: orders 3/4 delegate — named entry points unchanged") {
    val a = FullText.trigramSurprisalKN(docs).orderBy("doc_id").collect()
    val b = FullText.ngramSurprisalKN(docs, 3).orderBy("doc_id").collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    val c = FullText.fourgramSurprisalKN(docs).orderBy("doc_id").collect()
    val d4 = FullText.ngramSurprisalKN(docs, 4).orderBy("doc_id").collect()
    assert(c.map(_.toSeq).toSeq == d4.map(_.toSeq).toSeq)
    // the generic fold reproduces the trigram hand-replay corpus too
    val tiny = Seq((1L, "a b c a b c a b c"), (2L, "p q r s t u v"))
    val got = FullText.ngramSurprisalKN(tiny.toDF("doc_id", "text"), 3)
      .orderBy("doc_id").collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    val want = refKN(tiny, 3)
    for ((id, n, s) <- got) {
      assert(n == want(id)._1)
      assert(math.abs(s - want(id)._2) < 2e-6, s"doc=$id $s vs ${want(id)._2}")
    }
  }

  test("ngramSurprisalKNAgainst order 5: foreign scoring finite, pruning renormalizes") {
    val train = Seq(
      (1L, "a b c d e a b c d e"),   // tc(abcde)=2 — survives minCount=2
      (2L, "a b c d f"))             // tc(abcdf)=1 — pruned singleton
    val score = Seq((9L, "a b c d f"), (10L, "a b c d e"), (11L, "zz yy xx ww vv"))
    val base = FullText.ngramSurprisalKNAgainst(
      train.toDF("doc_id", "text"), score.toDF("doc_id", "text"), 5)
      .orderBy("doc_id").collect()
    assert(base.forall(x => !x.getDouble(2).isInfinite && x.getDouble(2) > 0))
    val pruned = FullText.ngramSurprisalKNAgainst(
      train.toDF("doc_id", "text"), score.toDF("doc_id", "text"), 5, minCount = 2)
      .orderBy("doc_id").collect()
    // pruned singleton scores higher; the survivor absorbs the
    // renormalized mass and scores lower — at order 5, same as order 3
    assert(pruned(0).getDouble(2) > base(0).getDouble(2))
    assert(pruned(1).getDouble(2) < base(1).getDouble(2))
    // both runs match the independent foreign-scoring reference exactly
    for ((rows, mc) <- Seq((base, 1), (pruned, 2))) {
      val want = refKNAgainst(train, score, 5, minCount = mc)
      for (x <- rows) {
        val (wn, ws) = want(x.getLong(0))
        assert(x.getLong(1) == wn, s"mc=$mc doc=${x.getLong(0)}")
        assert(math.abs(x.getDouble(2) - ws) < 2e-6,
          s"mc=$mc doc=${x.getLong(0)} ${x.getDouble(2)} vs $ws")
      }
    }
  }

  test("hashEmbedBuckets drops zero-weight buckets and counts multiplicity") {
    val d = Seq((1L, "x x y")).toDF("doc_id", "text")
    val r = FullText.hashEmbedBuckets(d).collect()
    // |weight| for the 'x' bucket is 2 unless x,y collide; total abs weight <= 3
    assert(r.nonEmpty && r.map(x => math.abs(x.getLong(2))).sum <= 3)
    assert(r.forall(_.getLong(2) != 0))
  }

  test("indexed BM25 reproduces the full-scan scores from a pruned posting read") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-inv").toString + "/idx"
    FullText.invertedIndexWrite(docs, tmp, nBuckets = 16)
    for (q <- Seq("hash join", "spark", "fast stream")) {
      val full = FullText.bm25TopK(docs, q, k = 10).collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSeq
      val idx = FullText.bm25TopKIndexed(spark, tmp, q, k = 10, nBuckets = 16).collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSeq
      assert(idx == full, s"query '$q': indexed $idx != full $full")
    }
    // driver-side bucket twin agrees with the column kernel (pruning
    // correctness depends on it)
    val colBuckets = docs.select(explode(graft.functions.textkernel.word_tokens(col("text"))).as("t"))
      .distinct()
      .select(col("t"), pmod(graft.functions.textfn.hexhash60(col("t")), lit(16L)).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    colBuckets.foreach { case (t, b) =>
      assert(FullText.hexhash60Local(t) % 16 == b, s"bucket twin diverges on '$t'")
    }
    // versioned rebuild: a pinned reader plan built before replaceWith
    // still resolves (same VersionedDir discipline as the ANN indexes)
    FullText.invertedIndexWrite(docs.limit(2), tmp, nBuckets = 16)
    val after = FullText.bm25TopKIndexed(spark, tmp, "spark", k = 10, nBuckets = 16).collect()
    assert(after.nonEmpty)
  }

  test("surprisalBuckets at KN order 5: bands track the order-5 scores (r18 fold as config)") {
    val docs = (1L to 12L).map { i =>
      val t = if (i % 2 == 0) "a b c d e a b c d e a b c d e a b c d e"
              else s"u$i v$i w$i x$i y$i z$i q$i r$i s$i t$i"
      (i, t, "en")
    }.toDF("doc_id", "text", "lang")
    val r = FullText.surprisalBuckets(docs, order = 5).collect()
      .map(x => (x.getLong(0), x.getInt(3).toLong)).toMap
    // repetitive (even) docs score lower -> land in an equal-or-lower
    // band than every diverse (odd) doc
    val evenMax = (2L to 12L by 2).map(r).max
    val oddMin = (1L to 11L by 2).map(r).min
    assert(evenMax <= oddMin, s"even bands ${(2L to 12L by 2).map(r)} vs odd ${(1L to 11L by 2).map(r)}")
    assert(intercept[IllegalArgumentException](
      FullText.surprisalBuckets(docs, order = 9)).getMessage.contains("order"))
  }

  test("surprisalBuckets: per-lang thirds, no-bigram docs in tail, band order tracks surprisal") {
    // two languages with very different corpora; en has 9 scoreable docs
    // (3/3/3 split) plus one no-bigram doc that must land in tail
    val en = (0 until 9).map { i =>
      // increasing disfluency: doc i repeats a common bigram 9-i times and
      // adds i singleton bigrams → surprisal increases with i
      val common = Seq.fill(9 - i)("the cat").mkString(" ")
      val rare = (0 until i).map(j => s"w${i}x$j z${i}y$j").mkString(" ")
      (i.toLong, s"$common $rare", "en")
    } :+ ((9L, "solo", "en"))
    val de = (10 until 16).map { i =>
      val k = i - 10
      val common = Seq.fill(6 - k)("der hund").mkString(" ")
      val rare = (0 until k).map(j => s"g${i}a$j q${i}b$j").mkString(" ")
      (i.toLong, s"$common $rare", "de")
    }
    val d = (en ++ de).toDF("doc_id", "text", "lang")
    val r = FullText.surprisalBuckets(d).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getInt(3).toLong, x.getString(4)))
      .sortBy(_._1)
    // no-bigram doc → tail, named
    assert(r(9) == ((9L, "en", 2L, "tail")))
    // every bucket name matches its index
    r.foreach { case (_, _, b, n) =>
      assert(n == Seq("head", "middle", "tail")(b.toInt)) }
    // en splits 3/3/3 (+1 forced tail); thresholds are per-language so the
    // de corpus gets its own bands (6 docs → 2/2/2)
    val enB = r.filter(_._2 == "en").map(_._3)
    assert(enB.count(_ == 0L) == 3 && enB.count(_ == 1L) == 3 && enB.count(_ == 2L) == 4)
    val deB = r.filter(_._2 == "de").map(_._3)
    assert(deB.count(_ == 0L) == 2 && deB.count(_ == 1L) == 2 && deB.count(_ == 2L) == 2)
    // band order follows the surprisal order the corpus was built with:
    // head docs have lower scores than tail docs
    val byBucket = r.filter(x => x._2 == "en" && x._1 != 9L)
      .groupBy(_._3).view.mapValues(_.map(_._1).toSet).toMap
    assert(byBucket(0L).max < byBucket(2L).min,
      s"head ids ${byBucket(0L)} must precede tail ids ${byBucket(2L)}")
  }

  test("surprisalBuckets: NULL-lang docs get real per-group thresholds, not free head passes") {
    // r14 advice finding: null lang never equi-joined, every threshold
    // came back null and all null-lang docs scored bucket 0. With the
    // "und" sentinel key they must band among themselves like any
    // language group (output lang stays null).
    val nullLang: Option[String] = None
    val d = ((0 until 9).map { i =>
      val common = Seq.fill(9 - i)("the cat").mkString(" ")
      val rare = (0 until i).map(j => s"w${i}x$j z${i}y$j").mkString(" ")
      (i.toLong, s"$common $rare", nullLang)
    } :+ ((9L, "solo", nullLang)))
      .toDF("doc_id", "text", "lang")
    val r = FullText.surprisalBuckets(d).collect()
      .map(x => (x.getLong(0), Option(x.getString(1)), x.getInt(3)))
      .sortBy(_._1)
    assert(r.forall(_._2.isEmpty), "output lang column must stay original (null)")
    val bands = r.map(_._3)
    assert(bands.count(_ == 0) == 3 && bands.count(_ == 1) == 3 &&
      bands.count(_ == 2) == 4, s"null-lang group must band 3/3/3+tail: ${bands.toSeq}")
  }
}
