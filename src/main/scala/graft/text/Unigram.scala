package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM subword tokenizer (Kudo 2018, "Subword Regularization",
  * arXiv:1804.10959 — the SentencePiece `unigram` model; like [[Bpe]], a
  * training-pipeline extension beyond the reference's estimator heuristics).
  *
  * Model: each piece x has probability p(x); a segmentation's probability is
  * ∏ p(x_i); encode = Viterbi argmax. Training: seed a candidate vocabulary
  * from frequent substrings, refine p with EM over the segmentation lattice
  * (forward-backward expected counts), prune to the target size.
  *
  * Scale shape — identical posture to [[Bpe]]:
  *  - the ONLY corpus-wide pass is the word-frequency aggregation
  *    ([[Bpe.wordCounts]]): one map-side-combined groupBy; EM runs on the
  *    collected (word, count) VOCABULARY, bounded by the language, not the
  *    corpus (this is how SentencePiece itself trains — on a sentence/word
  *    frequency table). The collect is bounded by a distributed
  *    top-`maxVocab` frequency prune (loud-abort at the cap by default;
  *    `strict = false` loud-prunes).
  *  - encoding is a compiled per-row kernel
  *    ([[graft.functions.textkernel.unigram_encode]]) with the piece table
  *    a plan-time constant and a capped per-executor word memo — scan
  *    speed, no shuffle.
  *
  * Determinism: piece scores are SCALED-LONG log-probs
  * (`round(ln(p)·1e6)`), so Viterbi comparisons are integer-exact and the
  * DuckDB oracle replays the seed-model encode bit-identically (same
  * rounded-to-fixed-precision convention as every score in this engine);
  * Viterbi ties break toward the SMALLEST split point (see [[viterbi]]).
  */
object Unigram {

  /** Scaled-long log-prob floor for a character absent from the vocabulary
    * (can't occur when encoding corpus words against a corpus-seeded vocab —
    * single chars are always kept — but keeps encode total on novel input).
    */
  val UnkScore: Long = -20_000_000L

  /** A trained model: piece → scaled-long log-prob (`round(ln(p)·1e6)`). */
  final case class Model(scores: Map[String, Long], maxPieceLen: Int)

  /** Seed candidate counts: every substring of length 1..maxPieceLen of
    * every vocabulary word, weighted by word frequency (one count per
    * OCCURRENCE — Kudo seeds from frequent substrings the same way); kept =
    * the top `seedSize` by (count desc, piece asc) PLUS every single
    * character (mandatory: they guarantee any word can be segmented).
    */
  def seedCounts(vocab: Seq[(String, Long)], maxPieceLen: Int = 4,
                 seedSize: Int = 200): Seq[(String, Long)] = {
    val counts = new java.util.HashMap[String, Long]()
    for ((w, c) <- vocab) {
      var i = 0
      while (i < w.length) {
        var l = 1
        while (l <= maxPieceLen && i + l <= w.length) {
          counts.merge(w.substring(i, i + l), c, (a, b) => a + b)
          l += 1
        }
        i += 1
      }
    }
    val all = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    counts.forEach((p, c) => all += ((p, c)))
    val ranked = all.sortBy { case (p, c) => (-c, p) }
    (ranked.take(seedSize) ++ ranked.drop(seedSize).filter(_._1.length == 1)).toSeq
  }

  /** Model from raw counts: p(x) = cnt(x) / Σ cnt, scores scaled-long. */
  def modelFromCounts(counts: Seq[(String, Long)], maxPieceLen: Int): Model = {
    val total = counts.iterator.map(_._2).sum.toDouble
    Model(counts.iterator.map { case (p, c) =>
      p -> math.round(math.log(c / total) * 1e6)
    }.toMap, maxPieceLen)
  }

  /** The deterministic SEED model — frequency probabilities over
    * [[seedCounts]], no EM. This is the oracle-gated surface (the
    * q_unigram_encode construction is replayed in SQL); EM refinement
    * ([[train]]) is spec-gated, like BPE's merge loop vs q_bpe_pairs.
    */
  def seedModel(vocab: Seq[(String, Long)], maxPieceLen: Int = 4,
                seedSize: Int = 200): Model =
    modelFromCounts(seedCounts(vocab, maxPieceLen, seedSize), maxPieceLen)

  /** Viterbi best segmentation: maximize the sum of piece scores;
    * equal-score paths break toward the smallest split point j (ascending-j
    * scan keeps the first maximum — the oracle's `ORDER BY score DESC,
    * j ASC` twin). Characters missing from the vocabulary segment as
    * single-char pieces at [[UnkScore]].
    */
  def viterbi(word: String, m: Model): Array[String] = {
    val n = word.length
    if (n == 0) return Array.empty
    val best = new Array[Long](n + 1)
    val back = new Array[Int](n + 1)
    var i = 1
    while (i <= n) {
      var bestScore = Long.MinValue
      var bestJ = -1
      var j = math.max(0, i - m.maxPieceLen)
      while (j < i) {
        val piece = word.substring(j, i)
        val sc = m.scores.get(piece) match {
          case Some(s) => s
          case None if i - j == 1 => UnkScore
          case None => Long.MinValue
        }
        if (sc != Long.MinValue && best(j) != Long.MinValue &&
            best(j) + sc > bestScore) {
          bestScore = best(j) + sc; bestJ = j
        }
        j += 1
      }
      best(i) = bestScore; back(i) = bestJ
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var p = n
    while (p > 0) { out += word.substring(back(p), p); p = back(p) }
    out.reverseIterator.toArray
  }

  /** One EM iteration (Kudo §3.2): E-step accumulates expected piece counts
    * with forward-backward over every word's segmentation lattice (log-space
    * α/β, real probabilities — EM is spec-gated, not oracle-replayed, so
    * doubles are fine here); M-step renormalizes. Pieces the lattice never
    * uses keep zero expectation and die in the next normalization.
    */
  def emStep(vocab: Seq[(String, Long)], m: Model): Model = {
    val logp = m.scores.map { case (p, s) => p -> s / 1e6 }
    val expected = new java.util.HashMap[String, Double]()
    def logsumexp(a: Double, b: Double): Double =
      if (a == Double.NegativeInfinity) b
      else if (b == Double.NegativeInfinity) a
      else { val hi = math.max(a, b); hi + math.log1p(math.exp(math.min(a, b) - hi)) }
    for ((w, cnt) <- vocab) {
      val n = w.length
      val alpha = Array.fill(n + 1)(Double.NegativeInfinity)
      val beta = Array.fill(n + 1)(Double.NegativeInfinity)
      alpha(0) = 0.0; beta(n) = 0.0
      var i = 1
      while (i <= n) {
        var j = math.max(0, i - m.maxPieceLen)
        while (j < i) {
          logp.get(w.substring(j, i)).foreach { lp =>
            alpha(i) = logsumexp(alpha(i), alpha(j) + lp)
          }
          j += 1
        }
        i += 1
      }
      i = n - 1
      while (i >= 0) {
        var k = i + 1
        while (k <= math.min(n, i + m.maxPieceLen)) {
          logp.get(w.substring(i, k)).foreach { lp =>
            beta(i) = logsumexp(beta(i), lp + beta(k))
          }
          k += 1
        }
        i -= 1
      }
      val z = alpha(n)
      if (z != Double.NegativeInfinity) {
        i = 0
        while (i < n) {
          var k = i + 1
          while (k <= math.min(n, i + m.maxPieceLen)) {
            val piece = w.substring(i, k)
            logp.get(piece).foreach { lp =>
              val post = math.exp(alpha(i) + lp + beta(k) - z)
              if (post > 0) expected.merge(piece, cnt * post, (a, b) => a + b)
            }
            k += 1
          }
          i += 1
        }
      }
    }
    var total = 0.0
    expected.forEach((_, c) => total += c)
    val scores = scala.collection.mutable.Map.empty[String, Long]
    expected.forEach { (p, c) =>
      if (c > 0) scores(p) = math.round(math.log(c / total) * 1e6)
    }
    Model(scores.toMap, m.maxPieceLen)
  }

  /** Corpus log-likelihood under the model (marginal over all
    * segmentations) — the quantity EM must not decrease; pinned by
    * UnigramSpec.
    */
  def logLikelihood(vocab: Seq[(String, Long)], m: Model): Double = {
    val logp = m.scores.map { case (p, s) => p -> s / 1e6 }
    var ll = 0.0
    for ((w, cnt) <- vocab) {
      val n = w.length
      val alpha = Array.fill(n + 1)(Double.NegativeInfinity)
      alpha(0) = 0.0
      var i = 1
      while (i <= n) {
        var j = math.max(0, i - m.maxPieceLen)
        while (j < i) {
          logp.get(w.substring(j, i)).foreach { lp =>
            alpha(i) =
              if (alpha(i) == Double.NegativeInfinity) alpha(j) + lp
              else {
                val hi = math.max(alpha(i), alpha(j) + lp)
                hi + math.log1p(math.exp(math.min(alpha(i), alpha(j) + lp) - hi))
              }
          }
          j += 1
        }
        i += 1
      }
      if (alpha(n) != Double.NegativeInfinity) ll += cnt * alpha(n)
    }
    ll
  }

  /** Train: seed → `emIters` EM rounds → prune to `vocabSize` (drop the
    * lowest-probability multi-char pieces 20% at a time, re-running one EM
    * round after each prune — the standard simplification of Kudo's
    * likelihood-loss prune; single characters are never pruned, so coverage
    * is total by construction).
    */
  def trainFromVocab(vocab: Seq[(String, Long)], vocabSize: Int,
                     maxPieceLen: Int = 4, seedSize: Int = 1000,
                     emIters: Int = 2): Model = {
    var m = seedModel(vocab, maxPieceLen, seedSize)
    (1 to emIters).foreach(_ => m = emStep(vocab, m))
    while (m.scores.size > vocabSize) {
      val (chars, multi) = m.scores.toSeq.partition(_._1.length == 1)
      val dropTarget = math.max(1, math.min(multi.size,
        math.min(m.scores.size - vocabSize, m.scores.size / 5)))
      if (multi.isEmpty) return m
      val keptMulti = multi.sortBy { case (p, s) => (-s, p) }
        .dropRight(dropTarget)
      m = emStep(vocab, Model((chars ++ keptMulti).toMap, maxPieceLen))
    }
    m
  }

  /** Train over a corpus: one distributed word-count pass, then the bounded
    * driver-side loop (the [[Bpe.collectVocab]] posture — distributed
    * top-`maxVocab` frequency prune; loud-abort at the cap by default,
    * `strict = false` for loud-prune).
    */
  def train(docs: DataFrame, vocabSize: Int, textCol: String = "text",
            maxPieceLen: Int = 4, seedSize: Int = 1000, emIters: Int = 2,
            maxVocab: Int = 4_000_000, strict: Boolean = true): Model =
    trainFromVocab(
      Bpe.collectVocab(docs, textCol, maxVocab, strict, "Unigram.train"),
      vocabSize, maxPieceLen, seedSize, emIters)

  /** Viterbi-encode a corpus: per document, the concatenated piece stream of
    * its words plus the learned-token count. One compiled kernel pass.
    */
  def encode(docs: DataFrame, m: Model, textCol: String = "text"): DataFrame = {
    val toks = graft.functions.textkernel.unigram_encode(col(textCol), m)
    docs.select(col("doc_id"), toks.as("unigram_tokens"))
      .withColumn("n_tokens_unigram", size(col("unigram_tokens")).cast("long"))
  }
}
