package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.SparkInternals.{toColumn, toExpression, AbstractDataType}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Compiled text/hash kernels for the dedup & text-analysis hot path.
  *
  * Why these exist: the same pipelines are expressible with Spark
  * higher-order functions (filter/transform/aggregate — see the SQL twins in
  * SparkEntry), but HOF lambdas are evaluated INTERPRETED per array element.
  * MinHash at sf0.1 is ~12M lambda evaluations (~50µs each ⇒ minutes); these
  * expressions do the same work in one tight JVM loop per row (~µs). They are
  * `CodegenFallback` (compiled eval, no codegen splice) — the per-element
  * interpretation is what mattered, not the per-row call.
  *
  * Semantics are bit-identical to the column/SQL formulations (md5-derived
  * hashes, first-15-hex-chars 60-bit values), verified by TextExpressionsSpec
  * and the DuckDB oracle.
  */
object TextKernel {
  private val digests = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** Lower-cased alphanumeric tokens; equals
    * `filter(split(lower(s),"[^a-z0-9]+"), _ != "")` for BMP input.
    */
  def tokens(s: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = Character.toLowerCase(s.charAt(i))
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) sb.append(c)
      else if (sb.length > 0) { out += sb.toString; sb.setLength(0) }
      i += 1
    }
    if (sb.length > 0) out += sb.toString
    out.toArray
  }

  /** The published GPT-2 pretokenizer pattern (encoder.py): contractions,
    * then optionally-space-prefixed letter / digit / punctuation runs,
    * then whitespace runs (all-but-last space of an interior run via the
    * lookahead, so the last space prefixes the following word).
    */
  val Gpt2PretokenPattern: String =
    """'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+"""

  // UNICODE_CHARACTER_CLASS so \s matches unicode whitespace like the
  // Python `regex` module GPT-2 uses (\p{L}/\p{N} are unicode by default)
  private val gpt2Pat = java.util.regex.Pattern.compile(
    Gpt2PretokenPattern, java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)

  /** GPT-2 pretokenization: every char of `s` lands in exactly one
    * pretoken (the pattern's branches cover all of letter / digit /
    * other / whitespace), so concatenating the output restores `s`.
    */
  def gpt2Pretokens(s: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val m = gpt2Pat.matcher(s)
    while (m.find()) out += m.group()
    out.toArray
  }

  // per-thread 16-byte scratch output: MessageDigest.digest() allocates a
  // fresh array per call, and the hex60 consumers (winnowing, shingle
  // hashing) issue one digest per char/word gram — the 1000× SCALING point
  // showed that allocation rate dominating (same finding as minhashSig)
  private val scratch = ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](16))
  private def md5bytes(s: String): Array[Byte] = {
    val d = digests.get()
    val out = scratch.get()
    d.reset()
    d.update(s.getBytes("UTF-8"))
    d.digest(out, 0, 16)
    out
  }

  /** First 15 hex chars of md5 as a 60-bit non-negative long —
    * equals `conv(substr(md5(s),1,15),16,10)`.
    */
  def hex60(s: String): Long = {
    val b = md5bytes(s)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
    (v << 4) | ((b(7) & 0xffL) >>> 4)
  }

  /** First 8 hex chars of md5 as an unsigned 32-bit value in a long. */
  def hex32(s: String): Long = {
    val b = md5bytes(s)
    ((b(0) & 0xffL) << 24) | ((b(1) & 0xffL) << 16) | ((b(2) & 0xffL) << 8) | (b(3) & 0xffL)
  }

  /** Distinct word n-gram shingles (first-occurrence order). */
  def shingles(s: String, n: Int): Array[String] = {
    val ws = tokens(s)
    if (ws.length < n) return Array.empty
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + n <= ws.length) {
      val sb = new java.lang.StringBuilder(ws(i))
      var j = 1
      while (j < n) { sb.append(' ').append(ws(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    seen.toArray(new Array[String](seen.size))
  }

  private val minhashPrefixCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Byte]]]()
  private def minhashPrefixes(numHashes: Int): Array[Array[Byte]] =
    minhashPrefixCache.computeIfAbsent(numHashes,
      n => Array.tabulate(n)(j => s"$j:".getBytes("UTF-8")))

  /** MinHash signature: for seed j, min over shingles of hex60(s"$j:$sh") —
    * value-identical to that formula (the DuckDB oracle replays it), but
    * the shingle is UTF-8-encoded ONCE and the seed prefixes are cached
    * byte arrays streamed into the digest, instead of building and
    * re-encoding a fresh `"$j:$sh"` string per (seed, shingle) pair. At
    * 100× scale this kernel is the honest CPU floor of the dedup family
    * (SCALING.md), so the constant factor matters.
    */
  def minhashSig(sh: Array[String], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val d = digests.get()
    val prefixes = minhashPrefixes(numHashes)
    // digest(out, 0, 16) writes into this scratch buffer — the no-arg
    // digest() allocates a fresh 16-byte array per call, which at the 1000×
    // measurement point is ~35 GB of garbage (2.2B digests; SCALING.md
    // attributes the minhash row's excess over linear to exactly this)
    val out = new Array[Byte](16)
    var i = 0
    while (i < sh.length) {
      val shb = sh(i).getBytes("UTF-8")
      var j = 0
      while (j < numHashes) {
        d.update(prefixes(j))
        d.update(shb)
        d.digest(out, 0, 16)
        var v = 0L
        var k = 0
        while (k < 7) { v = (v << 8) | (out(k) & 0xffL); k += 1 }
        val h = (v << 4) | ((out(7) & 0xffL) >>> 4)
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    sig
  }

  /** bits-bit SimHash over distinct tokens (same convention as
    * textfn.simhash: bit j set iff Σ ±1 by bit j of hex32(word) > 0).
    */
  def simhash(s: String, bits: Int): Long = {
    val seen = new java.util.HashSet[String]()
    val counts = new Array[Int](bits)
    for (w <- tokens(s)) {
      if (seen.add(w)) {
        val h = hex32(w)
        var j = 0
        while (j < bits) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
    }
    var v = 0L
    var j = 0
    while (j < bits) { if (counts(j) > 0) v |= (1L << j); j += 1 }
    v
  }

  /** Naive token estimate — char-scan twin of the regex formulation
    * `ceil(max(ceil(chars/4), ceil(count('[^\w\s]|\w+')*0.75)))` with ASCII
    * \w and Java \s classes (see NaiveTokenCounter).
    */
  def naiveTokens(s: String): Long = {
    var words = 0
    var inWord = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val isW = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_'
      val isS = c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
      if (isW) { if (!inWord) { words += 1; inWord = true } }
      else { inWord = false; if (!isS) words += 1 }
      i += 1
    }
    math.ceil(math.max(math.ceil(s.length / 4.0), math.ceil(words * 0.75))).toLong
  }

  /** Whitespace token count — twin of size(split(trim(s), "\\s+")). */
  def wsTokens(s: String): Long = {
    var i = 0; var j = s.length
    def isS(c: Char) = c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    while (i < j && isS(s.charAt(i))) i += 1
    while (j > i && isS(s.charAt(j - 1))) j -= 1
    if (i == j) return 1L // split("") yields one empty token
    var n = 1L
    var inGap = false
    var k = i
    while (k < j) {
      if (isS(s.charAt(k))) { if (!inGap) { n += 1; inGap = true } }
      else inGap = false
      k += 1
    }
    n
  }

  /** BPE-ish pre-token count — twin of
    * count('[a-z]+|[0-9]+|[^a-z0-9\s]') over lower(s).
    */
  def bpeishTokens(s: String): Long = {
    var n = 0L
    var state = 0 // 0 none, 1 letters, 2 digits
    var i = 0
    while (i < s.length) {
      val c = Character.toLowerCase(s.charAt(i))
      val isS = c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
      if (c >= 'a' && c <= 'z') { if (state != 1) { n += 1; state = 1 } }
      else if (c >= '0' && c <= '9') { if (state != 2) { n += 1; state = 2 } }
      else { state = 0; if (!isS) n += 1 }
      i += 1
    }
    n
  }

  /** One-pass word/bigram/trigram repetition counters (the Gopher-style
    * repetition quality filters ride these counts — Rae et al. 2021,
    * "Scaling Language Models", table A1): returns
    * [n_words, n_uniq_words, n_bigrams, top_bigram_cnt, n_trigrams,
    * dup_trigram_occ] where top_bigram_cnt is the occurrence count of the
    * most frequent bigram and dup_trigram_occ counts every occurrence of a
    * trigram that appears more than once. Counts only — the fraction
    * arithmetic (and its rounding) lives in the query so the SQL oracle
    * replays it exactly.
    */
  def repetitionStats(s: String): Array[Long] = {
    val ws = tokens(s)
    val n = ws.length
    val uniq = new java.util.HashSet[String]()
    var i = 0
    while (i < n) { uniq.add(ws(i)); i += 1 }
    val bi = new java.util.HashMap[String, Int]()
    i = 0
    while (i + 2 <= n) {
      bi.merge(ws(i) + " " + ws(i + 1), 1, (a, b) => a + b)
      i += 1
    }
    var topBi = 0L
    bi.forEach((_, c) => if (c > topBi) topBi = c)
    val tri = new java.util.HashMap[String, Int]()
    i = 0
    while (i + 3 <= n) {
      tri.merge(ws(i) + " " + ws(i + 1) + " " + ws(i + 2), 1, (a, b) => a + b)
      i += 1
    }
    var dupTri = 0L
    tri.forEach((_, c) => if (c > 1) dupTri += c)
    Array(n.toLong, uniq.size.toLong, math.max(0, n - 1).toLong, topBi,
      math.max(0, n - 2).toLong, dupTri)
  }

  /** The eight English indicator words of the Gopher stopword rule
    * (Rae et al. 2021, Table A1: "contains at least two of ...").
    */
  val GopherStops: Array[String] =
    Array("the", "be", "to", "of", "and", "that", "have", "with")

  /** One-pass counters behind the Gopher quality rules (Rae et al. 2021,
    * Table A1). Word model for counts/lengths/alpha is WHITESPACE tokens
    * (the paper's), lengths in Unicode code points (DuckDB `length`
    * semantics, so the oracle replays astral characters exactly); the
    * stopword rule reuses the engine's lowercase-alphanumeric token model
    * ([[tokens]]) so "The," still hits "the" and the SQL twin reuses the
    * shared word expression. Ellipsis = non-overlapping left-to-right
    * "..." or U+2026 (RE2 `regexp_extract_all` scan order). Bullet lines:
    * first non-space/tab char in {-, *, U+2022}; ellipsis-ended lines
    * strip trailing space/tab first. Returns
    * [nWords, wordChars, alphaWords, nHash, nEllipsis, nLines,
    *  bulletLines, ellipsisEndLines, stopDistinct].
    */
  def gopherStats(s: String): Array[Long] = {
    def isWs(c: Char) = c == ' ' || c == '\t' || c == '\n' ||
      c == '\u000B' || c == '\f' || c == '\r'
    var nWords = 0L; var wordChars = 0L; var alphaWords = 0L
    val n = s.length
    var i = 0
    while (i < n) {
      if (!isWs(s.charAt(i))) {
        var hasAlpha = false
        var cp = 0L
        while (i < n && !isWs(s.charAt(i))) {
          val c = s.charAt(i)
          if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) hasAlpha = true
          if (!Character.isLowSurrogate(c)) cp += 1
          i += 1
        }
        nWords += 1; wordChars += cp; if (hasAlpha) alphaWords += 1
      } else i += 1
    }
    var nHash = 0L; var nEll = 0L
    i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '#') { nHash += 1; i += 1 }
      else if (c == '…') { nEll += 1; i += 1 }
      else if (c == '.' && i + 2 < n && s.charAt(i + 1) == '.' && s.charAt(i + 2) == '.') {
        nEll += 1; i += 3
      } else i += 1
    }
    val lines = s.split("\n", -1)
    var bullet = 0L; var ellEnd = 0L
    var li = 0
    while (li < lines.length) {
      val l = lines(li)
      var j = 0
      while (j < l.length && (l.charAt(j) == ' ' || l.charAt(j) == '\t')) j += 1
      if (j < l.length && (l.charAt(j) == '-' || l.charAt(j) == '*' || l.charAt(j) == '•'))
        bullet += 1
      var e = l.length
      while (e > 0 && (l.charAt(e - 1) == ' ' || l.charAt(e - 1) == '\t')) e -= 1
      if (e >= 1 && l.charAt(e - 1) == '…') ellEnd += 1
      else if (e >= 3 && l.charAt(e - 1) == '.' && l.charAt(e - 2) == '.' &&
        l.charAt(e - 3) == '.') ellEnd += 1
      li += 1
    }
    var mask = 0
    for (w <- tokens(s)) {
      var k = 0
      while (k < GopherStops.length) {
        if (GopherStops(k) == w) mask |= 1 << k
        k += 1
      }
    }
    Array(nWords, wordChars, alphaWords, nHash, nEll, lines.length.toLong,
      bullet, ellEnd, java.lang.Integer.bitCount(mask).toLong)
  }

  /** One-pass C4 line-filter counters + cleaned text (Raffel et al. 2020,
    * §2.2): a line (split on \n, trimmed of spaces/tabs) is KEPT iff it has
    * ≥ `minLineWords` whitespace words, ends in terminal punctuation
    * (`.`, `!`, `?`, or a closing `"`), and does not contain "javascript"
    * (case-insensitive substring — the published heuristic). Returns
    * [nLines, nKept, nSentences] plus the cleaned text (kept trimmed lines
    * joined by \n); nSentences counts `[.!?]` occurrences in the cleaned
    * text (the page-level "at least 3 sentences" rule's approximation,
    * replayable in SQL).
    */
  def c4LineStats(s: String, minLineWords: Int): (Array[Long], String) = {
    val lines = s.split("\n", -1)
    val kept = new java.lang.StringBuilder()
    var nKept = 0L
    var li = 0
    while (li < lines.length) {
      val raw = lines(li)
      // trim space/tab/\r both ends (\r so CRLF corpora don't lose every
      // line to a trailing carriage return failing the terminal-punct rule)
      def isTrim(c: Char) = c == ' ' || c == '\t' || c == '\r'
      var b = 0
      var e = raw.length
      while (b < e && isTrim(raw.charAt(b))) b += 1
      while (e > b && isTrim(raw.charAt(e - 1))) e -= 1
      val l = raw.substring(b, e)
      val terminal = l.nonEmpty && {
        val last = l.charAt(l.length - 1)
        last == '.' || last == '!' || last == '?' || last == '"'
      }
      if (terminal && wsWordCount(l) >= minLineWords &&
        !containsIgnoreCaseAscii(l, "javascript")) {
        if (nKept > 0) kept.append('\n')
        kept.append(l)
        nKept += 1
      }
      li += 1
    }
    val clean = kept.toString
    var nSent = 0L
    var i = 0
    while (i < clean.length) {
      val c = clean.charAt(i)
      if (c == '.' || c == '!' || c == '?') nSent += 1
      i += 1
    }
    (Array(lines.length.toLong, nKept, nSent), clean)
  }

  /** Whitespace word count: number of maximal non-whitespace runs — the
    * per-line twin of `len(list_filter(split_on_ws, _ != ""))`.
    */
  private def wsWordCount(l: String): Int = {
    def isS(c: Char) = c == ' ' || c == '\t' || c == '\n' ||
      c == '\u000B' || c == '\f' || c == '\r'
    var n = 0
    var inWord = false
    var i = 0
    while (i < l.length) {
      if (isS(l.charAt(i))) inWord = false
      else { if (!inWord) n += 1; inWord = true }
      i += 1
    }
    n
  }

  /** ASCII case-insensitive substring test (the needle is ASCII lowercase). */
  private def containsIgnoreCaseAscii(hay: String, needle: String): Boolean = {
    val n = needle.length
    if (n == 0) return true
    var i = 0
    while (i + n <= hay.length) {
      var j = 0
      var ok = true
      while (ok && j < n) {
        val c = hay.charAt(i + j)
        val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
        if (lc != needle.charAt(j)) ok = false else j += 1
      }
      if (ok) return true
      i += 1
    }
    false
  }

  /** Winnowing fingerprint: min over char 5-gram windows of the normalized
    * (space-joined token) text of hex60; whole-text hash when shorter than 5.
    *
    * Value-identical to `min(hex60(norm.substring(i, i+5)))`, but the
    * normalized text is pure ASCII by construction (tokens are [a-z0-9],
    * joined by spaces), so each gram's UTF-8 bytes are a SLICE of one
    * pre-encoded array — zero per-gram allocations where the substring
    * formulation allocated a String + char[] + byte[] per window (~1.7B
    * allocations at the 1000× point; the digest output reuses the shared
    * scratch the same way as minhashSig).
    */
  def winnowFp(s: String): Long = {
    val norm = tokens(s).mkString(" ")
    if (norm.length < 5) return hex60(norm)
    val bytes = norm.getBytes("UTF-8") // ASCII: byte i == char i
    val d = digests.get()
    val out = scratch.get()
    var min = Long.MaxValue
    var i = 0
    while (i + 5 <= bytes.length) {
      d.update(bytes, i, 5)
      d.digest(out, 0, 16)
      var v = 0L
      var k = 0
      while (k < 7) { v = (v << 8) | (out(k) & 0xffL); k += 1 }
      val h = (v << 4) | ((out(7) & 0xffL) >>> 4)
      if (h < min) min = h
      i += 1
    }
    min
  }
}

abstract class StringKernelExpression extends UnaryExpression with CodegenFallback {
  override def nullable: Boolean = true
  protected def input(v: Any): String = v.asInstanceOf[UTF8String].toString
  protected def strArray(a: Array[String]): ArrayData =
    new GenericArrayData(a.map(UTF8String.fromString(_)).asInstanceOf[Array[Any]])
}

/** words(text) → array<string> (compiled twin of textfn.words). */
case class WordTokens(child: Expression) extends StringKernelExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  protected override def nullSafeEval(v: Any): Any = strArray(TextKernel.tokens(input(v)))
  override protected def withNewChildInternal(c: Expression): WordTokens = copy(child = c)
}

/** word n-gram distinct shingles → array<string>. */
case class WordShinglesExpr(child: Expression, n: Int) extends StringKernelExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  protected override def nullSafeEval(v: Any): Any = strArray(TextKernel.shingles(input(v), n))
  override protected def withNewChildInternal(c: Expression): WordShinglesExpr = copy(child = c)
}

/** word n-grams → array<struct<w1..wn>> — one parameterized kernel for
  * the KN n-gram family (order 3 and 4 today; the KenLM-5 target is a
  * call-site change). Struct fields are w1..wn in position order.
  */
case class WordNgramsExpr(child: Expression, n: Int) extends StringKernelExpression {
  require(n >= 2 && n <= 8, s"ngram order out of range: $n")
  override def dataType: DataType = ArrayType(StructType(
    (1 to n).map(i => StructField(s"w$i", StringType, nullable = false))),
    containsNull = false)
  protected override def nullSafeEval(v: Any): Any = {
    val t = TextKernel.tokens(input(v))
    val m = math.max(0, t.length - (n - 1))
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      val fields = new Array[Any](n)
      var j = 0
      while (j < n) { fields(j) = UTF8String.fromString(t(i + j)); j += 1 }
      out(i) = org.apache.spark.sql.catalyst.InternalRow.fromSeq(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(fields))
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): WordNgramsExpr = copy(child = c)
}

/** minhash signature over word shingles → array<long>; NULL when the doc has
  * fewer than `shingleSize` words (matches the HOF/SQL formulation where
  * array_min of an empty list is NULL).
  */
case class MinHashSigExpr(child: Expression, numHashes: Int, shingleSize: Int)
    extends StringKernelExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  protected override def nullSafeEval(v: Any): Any = {
    val sh = TextKernel.shingles(input(v), shingleSize)
    if (sh.isEmpty) null
    else new GenericArrayData(TextKernel.minhashSig(sh, numHashes))
  }
  override protected def withNewChildInternal(c: Expression): MinHashSigExpr = copy(child = c)
}

/** simhash over distinct words → long. */
case class SimHashExpr(child: Expression, bits: Int) extends StringKernelExpression {
  override def dataType: DataType = LongType
  protected override def nullSafeEval(v: Any): Any = TextKernel.simhash(input(v), bits)
  override protected def withNewChildInternal(c: Expression): SimHashExpr = copy(child = c)
}

/** Random-hyperplane LSH bucket of a float vector → long. The ±1 hyperplane
  * matrix is derived from md5 parity (same convention as
  * SimilaritySearch.hyperplaneSign) and precomputed at plan time; evaluation
  * is one tight dims×bits loop with left-to-right double accumulation —
  * bit-identical to the literal-matrix column/SQL formulation, without the
  * bits×dims-term generated expression (which took seconds of janino/JIT
  * compilation per plan).
  */
case class LshBucketExpr(child: Expression, dims: Int, bits: Int,
                         planeOffset: Int = 0) extends UnaryExpression with CodegenFallback {
  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  @transient private lazy val signs: Array[Array[Double]] = {
    val md = MessageDigest.getInstance("MD5")
    // planeOffset shifts into an INDEPENDENT hyperplane set (rotation r uses
    // planes r·bits … r·bits+bits-1) — multi-rotation blocking for recall
    Array.tabulate(bits, dims) { (j, i) =>
      val h = md.digest(s"${planeOffset + j}:$i".getBytes("UTF-8"))
      md.reset()
      if ((h(0) & 1) == 0) 1.0 else -1.0
    }
  }
  protected override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = math.min(dims, arr.numElements())
    var bucket = 0L
    var j = 0
    while (j < bits) {
      val s = signs(j)
      var dot = 0.0
      var i = 0
      while (i < n) { dot += arr.getFloat(i).toDouble * s(i); i += 1 }
      if (dot > 0) bucket |= (1L << j)
      j += 1
    }
    bucket
  }
  override protected def withNewChildInternal(c: Expression): LshBucketExpr = copy(child = c)
}

/** the three token-count estimators in one pass → struct(naive, ws, bpe). */
case class TokenStatsExpr(child: Expression) extends StringKernelExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens_naive", LongType, nullable = false),
    StructField("n_tokens_ws", LongType, nullable = false),
    StructField("n_tokens_bpe", LongType, nullable = false)))
  protected override def nullSafeEval(v: Any): Any = {
    val s = input(v)
    org.apache.spark.sql.catalyst.InternalRow(
      TextKernel.naiveTokens(s), TextKernel.wsTokens(s), TextKernel.bpeishTokens(s))
  }
  override protected def withNewChildInternal(c: Expression): TokenStatsExpr = copy(child = c)
}

/** one-pass Gopher-rule counters → struct (see TextKernel.gopherStats). */
case class GopherStatsExpr(child: Expression) extends StringKernelExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("word_chars", LongType, nullable = false),
    StructField("n_alpha_words", LongType, nullable = false),
    StructField("n_hash", LongType, nullable = false),
    StructField("n_ellipsis", LongType, nullable = false),
    StructField("n_lines", LongType, nullable = false),
    StructField("n_bullet_lines", LongType, nullable = false),
    StructField("n_ellipsis_end_lines", LongType, nullable = false),
    StructField("n_stop_distinct", LongType, nullable = false)))
  protected override def nullSafeEval(v: Any): Any = {
    val c = TextKernel.gopherStats(input(v))
    org.apache.spark.sql.catalyst.InternalRow(
      c(0), c(1), c(2), c(3), c(4), c(5), c(6), c(7), c(8))
  }
  override protected def withNewChildInternal(c: Expression): GopherStatsExpr = copy(child = c)
}

/** one-pass C4 line-filter counters + cleaned text → struct
  * (see TextKernel.c4LineStats).
  */
case class C4LineStatsExpr(child: Expression, minLineWords: Int)
    extends StringKernelExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_lines", LongType, nullable = false),
    StructField("n_lines_kept", LongType, nullable = false),
    StructField("n_sentences", LongType, nullable = false),
    StructField("clean_text", StringType, nullable = false)))
  protected override def nullSafeEval(v: Any): Any = {
    val (c, clean) = TextKernel.c4LineStats(input(v), minLineWords)
    org.apache.spark.sql.catalyst.InternalRow(
      c(0), c(1), c(2), UTF8String.fromString(clean))
  }
  override protected def withNewChildInternal(c: Expression): C4LineStatsExpr = copy(child = c)
}

/** one-pass repetition counters → struct (see TextKernel.repetitionStats). */
case class RepetitionStatsExpr(child: Expression) extends StringKernelExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("n_uniq_words", LongType, nullable = false),
    StructField("n_bigrams", LongType, nullable = false),
    StructField("top_bigram_cnt", LongType, nullable = false),
    StructField("n_trigrams", LongType, nullable = false),
    StructField("dup_trigram_occ", LongType, nullable = false)))
  protected override def nullSafeEval(v: Any): Any = {
    val c = TextKernel.repetitionStats(input(v))
    org.apache.spark.sql.catalyst.InternalRow(c(0), c(1), c(2), c(3), c(4), c(5))
  }
  override protected def withNewChildInternal(c: Expression): RepetitionStatsExpr = copy(child = c)
}

/** winnowing min-hash fingerprint over normalized char 5-grams → long. */
case class WinnowFpExpr(child: Expression) extends StringKernelExpression {
  override def dataType: DataType = LongType
  protected override def nullSafeEval(v: Any): Any = TextKernel.winnowFp(input(v))
  override protected def withNewChildInternal(c: Expression): WinnowFpExpr = copy(child = c)
}

/** sorted distinct hex60 hashes of word n-gram shingles → array<long>.
  * Shuffle- and compare-friendly form of WordShinglesExpr (8 bytes/shingle
  * instead of a ~20-byte string; Jaccard over two sorted arrays is a linear
  * merge). Empty array when the doc has fewer than n words.
  */
case class ShingleHashesExpr(child: Expression, n: Int) extends StringKernelExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  protected override def nullSafeEval(v: Any): Any = {
    val sh = TextKernel.shingles(input(v), n)
    val hs = new Array[Long](sh.length)
    var i = 0
    while (i < sh.length) { hs(i) = TextKernel.hex60(sh(i)); i += 1 }
    java.util.Arrays.sort(hs)
    new GenericArrayData(hs)
  }
  override protected def withNewChildInternal(c: Expression): ShingleHashesExpr = copy(child = c)
}

/** hex60 hashes of word n-gram shingles in POSITION order (stride 1, index
  * i = window starting at token i) → array<long>. The positional sibling of
  * [[ShingleHashesExpr]] (which sorts for set comparison): span-level dedup
  * needs to know WHERE a duplicated window sits to merge runs into maximal
  * spans. Empty array when the doc has fewer than n words.
  */
case class PositionalShingleHashesExpr(child: Expression, n: Int) extends StringKernelExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  protected override def nullSafeEval(v: Any): Any = {
    // own stride-1 loop: TextKernel.shingles DEDUPES (set semantics for
    // Jaccard/minhash) — here index i must be the window at token i, so a
    // within-doc repeat must keep every occurrence
    val ws = TextKernel.tokens(input(v))
    if (ws.length < n) return new GenericArrayData(Array.emptyLongArray)
    val hs = new Array[Long](ws.length - n + 1)
    var i = 0
    while (i + n <= ws.length) {
      val sb = new java.lang.StringBuilder(ws(i))
      var j = 1
      while (j < n) { sb.append(' ').append(ws(i + j)); j += 1 }
      hs(i) = TextKernel.hex60(sb.toString)
      i += 1
    }
    new GenericArrayData(hs)
  }
  override protected def withNewChildInternal(c: Expression): PositionalShingleHashesExpr = copy(child = c)
}

/** DSIR hashed-feature buckets → array<long>: every unigram then every
  * bigram of the tokenized text, hashed to `hex32(feature) % buckets` — a
  * MULTISET (occurrence counts carry the model weights), value-identical to
  * exploding the feature strings through `hexhash32 % buckets` but with one
  * tokenization, no per-feature string column, and an 8-byte/feature
  * explode. The bigram digest streams `w1 + ' ' + w2` without building the
  * joined string.
  */
case class DsirBucketsExpr(child: Expression, buckets: Int) extends StringKernelExpression {
  require(buckets > 0, "buckets must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  protected override def nullSafeEval(v: Any): Any = {
    val ws = TextKernel.tokens(input(v))
    val n = ws.length
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](if (n >= 2) 2 * n - 1 else n)
    var i = 0
    while (i < n) { out(i) = TextKernel.hex32(ws(i)) % buckets; i += 1 }
    var j = 0
    while (j + 1 < n) {
      out(n + j) = TextKernel.hex32(ws(j) + " " + ws(j + 1)) % buckets
      j += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): DsirBucketsExpr = copy(child = c)
}

/** Jaccard similarity of two SORTED long arrays (set semantics) via a
  * two-pointer merge — no per-element lambda interpretation, no hash sets.
  */
case class JaccardSortedExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { inter += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    val union = nx + ny - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSortedExpr =
    copy(left = l, right = r)
}

/** remove_spans(text, spans) — tokenize `text` (TextKernel.tokens), drop
  * every token whose position falls inside any `[s, e]` span, reassemble the
  * survivors space-joined → struct(n_tokens, n_kept, clean_text).
  *
  * Spans are `array<struct<s:int, e:int>>` and MAY overlap (islands built
  * from marked window STARTS overlap when two islands sit closer than the
  * window width); the kernel sorts by start and sweep-merges before
  * subtracting, so covered positions are counted once. This replaces the
  * token-level explode → distinct → anti-join → collect_list rebuild with
  * one per-row loop: the span table rides a doc-keyed join (~16 B per
  * maximal span) instead of one shuffled row per corpus TOKEN.
  */
case class RemoveSpansExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_kept", LongType, nullable = false),
    StructField("clean_text", StringType, nullable = false)))
  override def nullable: Boolean = true
  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val ws = TextKernel.tokens(a.asInstanceOf[UTF8String].toString)
    val n = ws.length
    val sp = b.asInstanceOf[ArrayData]
    val m = sp.numElements()
    // pack (start << 32 | end) so one primitive sort orders the sweep
    val packed = new Array[Long](m)
    var i = 0
    while (i < m) {
      val row = sp.getStruct(i, 2)
      packed(i) = (row.getInt(0).toLong << 32) | (row.getInt(1).toLong & 0xffffffffL)
      i += 1
    }
    java.util.Arrays.sort(packed)
    val sb = new java.lang.StringBuilder
    var kept = 0L
    var pos = 0
    var si = 0
    var curEnd = -1 // exclusive sweep frontier: positions < curEnd are covered
    while (pos < n) {
      while (si < m && (packed(si) >>> 32).toInt <= pos) {
        val e = packed(si).toInt
        if (e >= curEnd) curEnd = e + 1
        si += 1
      }
      if (pos >= curEnd) {
        if (kept > 0) sb.append(' ')
        sb.append(ws(pos))
        kept += 1
      }
      pos += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      n.toLong, kept, UTF8String.fromString(sb.toString))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): RemoveSpansExpr =
    copy(left = l, right = r)
}

/** cut_spans_in_set(text) — the zero-exchange decontamination kernel:
  * tokenize, hash every stride-1 `w`-token window (hex60 of the
  * space-joined tokens, identical to [[PositionalShingleHashesExpr]]),
  * mark windows whose hash is in the expression-embedded SORTED eval-hash
  * array (binary search), merge marked runs into maximal intervals
  * [start, start + w - 1] on the fly (marked starts arrive in order), and
  * emit the surviving tokens → struct(n_tokens, n_kept, clean_text).
  *
  * This is the entire mark → islands → merge → cut of
  * [[graft.ops.TextAnalysis.decontaminateSpans]] in one per-row pass:
  * marking is per-document against a FIXED set, so nothing about it needs
  * an exchange — the join/window formulation only existed to reuse the
  * corpus-vs-itself spanDedup machinery.
  */
case class CutSpansInSetExpr(child: Expression, hashes: Array[Long], w: Int)
    extends StringKernelExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_kept", LongType, nullable = false),
    StructField("clean_text", StringType, nullable = false)))
  protected override def nullSafeEval(v: Any): Any = {
    val ws = TextKernel.tokens(input(v))
    val n = ws.length
    var m = 0
    var ss: Array[Int] = null
    var ee: Array[Int] = null
    var i = 0
    while (i + w <= n) {
      val sb = new java.lang.StringBuilder(ws(i))
      var j = 1
      while (j < w) { sb.append(' ').append(ws(i + j)); j += 1 }
      if (java.util.Arrays.binarySearch(hashes, TextKernel.hex60(sb.toString)) >= 0) {
        val e = i + w - 1
        if (m > 0 && i <= ee(m - 1) + 1) ee(m - 1) = e
        else {
          if (ss == null) { ss = new Array[Int](n - i); ee = new Array[Int](n - i) }
          ss(m) = i; ee(m) = e; m += 1
        }
      }
      i += 1
    }
    val out = new java.lang.StringBuilder
    var kept = 0L
    var k = 0
    var p = 0
    while (p < n) {
      if (k < m && p >= ss(k)) { p = ee(k) + 1; k += 1 }
      else {
        if (kept > 0) out.append(' ')
        out.append(ws(p)); kept += 1; p += 1
      }
    }
    org.apache.spark.sql.catalyst.InternalRow(
      n.toLong, kept, UTF8String.fromString(out.toString))
  }
  override protected def withNewChildInternal(c: Expression): CutSpansInSetExpr = copy(child = c)
}

/** Shared per-word subword-encode kernel: tokenize the text, encode each
  * word via the concrete tokenizer's [[encodeWord]], emit the concatenated
  * piece stream. Encodings are memoized per expression instance (Zipf: the
  * memo turns O(tokens) apply-loops into ~O(distinct words) per executor),
  * capped — a crawl's unbounded distinct-word tail must not grow an
  * unbounded executor-side map. One implementation for the whole tokenizer
  * family (BPE / WordPiece / unigram): memo policy and output assembly
  * cannot diverge between them.
  */
abstract class WordEncodeKernelExpression extends StringKernelExpression {
  protected def encodeWord(w: String): Array[String]
  /** unit of encoding: lower-alnum words by default; byte-level BPE
    * overrides with GPT-2 pretokens. */
  protected def words(s: String): Array[String] = TextKernel.tokens(s)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  @transient private lazy val memo =
    new java.util.HashMap[String, Array[String]]()
  private val MemoCap = 1 << 16
  protected override def nullSafeEval(v: Any): Any = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    for (w <- words(input(v))) {
      var enc = memo.get(w)
      if (enc == null) {
        enc = encodeWord(w)
        if (memo.size < MemoCap) memo.put(w, enc)
      }
      var i = 0
      while (i < enc.length) { out += UTF8String.fromString(enc(i)); i += 1 }
    }
    new GenericArrayData(out.toArray)
  }
}

/** BPE-encode text with a learned merge table → array<string> (token stream
  * of every word's subword symbols, words in order, each word ending in its
  * `</w>`-bearing final symbol). The merge ranks are plan-time constants.
  */
case class BpeEncodeExpr(child: Expression, merges: Seq[(String, String)])
    extends WordEncodeKernelExpression {
  @transient private lazy val ranks: java.util.HashMap[String, Int] = {
    val m = new java.util.HashMap[String, Int]()
    merges.zipWithIndex.foreach { case ((a, b), r) => m.putIfAbsent(a + " " + b, r) }
    m
  }
  protected def encodeWord(w: String): Array[String] = graft.text.Bpe.encodeWord(w, ranks)
  override protected def withNewChildInternal(c: Expression): BpeEncodeExpr = copy(child = c)
}

/** jusText GOOD-block text of an HTML page → string (row-local
  * segmentation + classification + revise — [[graft.ops.Justext]]; the
  * relational twin with the DuckDB oracle is Html.justextBlocks, pinned
  * equal in JustextSpec). Exists so the crawl ingest path can run
  * block-level boilerplate at scan speed without adding exchanges.
  */
case class JustextTextExpr(child: Expression) extends StringKernelExpression {
  override def dataType: DataType = StringType
  protected override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(graft.ops.Justext.goodText(input(v)))
  override protected def withNewChildInternal(c: Expression): JustextTextExpr =
    copy(child = c)
}

/** GPT-2 pretokenization → array<string> (compiled regex kernel; every
  * char lands in exactly one pretoken, concatenation restores the input).
  */
case class Gpt2PretokensExpr(child: Expression) extends StringKernelExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  protected override def nullSafeEval(v: Any): Any =
    strArray(TextKernel.gpt2Pretokens(input(v)))
  override protected def withNewChildInternal(c: Expression): Gpt2PretokensExpr =
    copy(child = c)
}

/** Byte-level-BPE-encode text with a learned merge table → array<string>
  * (token stream of every GPT-2 pretoken's merged byte symbols, pretokens
  * in order). The merge ranks are plan-time constants; the pretoken memo
  * comes from the shared kernel base.
  */
case class ByteBpeEncodeExpr(child: Expression, merges: Seq[(String, String)])
    extends WordEncodeKernelExpression {
  @transient private lazy val ranks: java.util.HashMap[String, Int] = {
    val m = new java.util.HashMap[String, Int]()
    merges.zipWithIndex.foreach { case ((a, b), r) => m.putIfAbsent(a + " " + b, r) }
    m
  }
  override protected def words(s: String): Array[String] = TextKernel.gpt2Pretokens(s)
  protected def encodeWord(w: String): Array[String] =
    graft.text.ByteBpe.encodePretoken(w, ranks)
  override protected def withNewChildInternal(c: Expression): ByteBpeEncodeExpr =
    copy(child = c)
}

/** decode(bytes, charsetName) through the JVM's full charset table →
  * string. Spark's built-in `decode` rejects everything outside its short
  * VALID_CHARSETS list (windows-1252 — a top-3 crawl encoding — throws
  * INVALID_PARAMETER_VALUE.CHARSET), so crawl decoding needs the JVM
  * seam. Unknown/unsupported names, and undecodable byte sequences, fall
  * back to UTF-8 with replacement — a crawl row must never fail the job.
  */
case class DecodeCharsetExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  @transient private lazy val charsetMemo =
    new java.util.HashMap[String, java.nio.charset.Charset]()
  protected override def nullSafeEval(bytesV: Any, charsetV: Any): Any = {
    val name = charsetV.asInstanceOf[UTF8String].toString
    var cs = charsetMemo.get(name)
    if (cs == null) {
      cs = try java.nio.charset.Charset.forName(name)
        catch { case _: Exception => java.nio.charset.StandardCharsets.UTF_8 }
      charsetMemo.put(name, cs)
    }
    // Charset.decode never throws: malformed input becomes U+FFFD
    UTF8String.fromString(
      cs.decode(java.nio.ByteBuffer.wrap(bytesV.asInstanceOf[Array[Byte]])).toString)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DecodeCharsetExpr =
    copy(left = l, right = r)
}

/** Mojibake repair kernel (the ftfy fix real pipelines run before
  * quality filtering): text that went UTF-8-bytes → cp1252/latin-1
  * decode → re-encode ("é" surfacing as "Ã©", "—" as "â€"-family
  * garbage) is reversed by mapping each char back to its byte through
  * SLOPPY WINDOWS-1252 (cp1252's 0x80–0x9F specials, latin-1 identity
  * for everything else ≤ 0xFF — the superset ftfy calls
  * sloppy-windows-1252, so C1-control survivors of a latin-1 decode
  * reverse too) and STRICTLY re-decoding as UTF-8. The fix applies only
  * when the whole string maps and the strict decode succeeds AND
  * changes it — single-encoded "café"/"naïve" fails the strict decode
  * (0xE9 + ASCII is not a UTF-8 sequence) and passes through untouched,
  * as does anything with chars outside cp1252; multi-encoded text
  * unwinds fully (each accepted level strictly shortens the string, so
  * the loop terminates on its own). Conservative by construction:
  * never introduces U+FFFD, never touches clean text.
  */
case class FixMojibakeExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  protected override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(
      FixMojibakeExpr.fix(v.asInstanceOf[UTF8String].toString))
  override protected def withNewChildInternal(c: Expression): FixMojibakeExpr =
    copy(child = c)
}

object FixMojibakeExpr {
  /** char → byte under sloppy windows-1252: cp1252's 0x80–0x9F
    * punctuation/letter specials, identity for all other chars ≤ 0xFF
    * (latin-1, INCLUDING the C1 controls cp1252 leaves undefined);
    * −1 = unmappable.
    */
  private val Cp1252Specials: Map[Char, Int] = Map(
    '€' -> 0x80, '‚' -> 0x82, 'ƒ' -> 0x83, '„' -> 0x84, '…' -> 0x85,
    '†' -> 0x86, '‡' -> 0x87, 'ˆ' -> 0x88, '‰' -> 0x89, 'Š' -> 0x8A,
    '‹' -> 0x8B, 'Œ' -> 0x8C, 'Ž' -> 0x8E, '‘' -> 0x91,
    '’' -> 0x92, '“' -> 0x93, '”' -> 0x94, '•' -> 0x95,
    '–' -> 0x96, '—' -> 0x97, '˜' -> 0x98, '™' -> 0x99, 'š' -> 0x9A,
    '›' -> 0x9B, 'œ' -> 0x9C, 'ž' -> 0x9E, 'Ÿ' -> 0x9F)

  private def sloppyByte(c: Char): Int =
    if (c <= 0xFF) c.toInt else Cp1252Specials.getOrElse(c, -1)

  /** One unwind level: None when the string is not whole-string
    * reversible-and-different (the conservative gate).
    */
  private[functions] def fixOnce(s: String): Option[String] = {
    val n = s.length
    // fast gate: a multibyte UTF-8 read needs a lead char in 0xC2–0xF4
    var hasLead = false
    var i = 0
    while (i < n && !hasLead) {
      val c = s.charAt(i)
      if (c >= 0xC2 && c <= 0xF4) hasLead = true
      i += 1
    }
    if (!hasLead) return None
    val bytes = new Array[Byte](n)
    i = 0
    while (i < n) {
      val b = sloppyByte(s.charAt(i))
      if (b < 0) return None
      bytes(i) = b.toByte
      i += 1
    }
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try {
      val out = dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
      if (out == s) None else Some(out)
    } catch { case _: java.nio.charset.CharacterCodingException => None }
  }

  def fix(s: String): String = {
    // unwind until fixOnce declines (r18 advice — the former 3-level cap
    // emitted partially-repaired text on 4+-times-encoded input).
    // Terminates: every accepted level came from a successful multi-byte
    // UTF-8 decode of the sloppy-cp1252 byte image, which strictly
    // SHORTENS the string (an all-single-byte decode returns the input
    // and fixOnce declines), so levels are bounded by the string length.
    var cur = s
    var continue = true
    while (continue) {
      fixOnce(cur) match {
        case Some(next) => cur = next
        case None => continue = false
      }
    }
    cur
  }
}

/** PDF → extracted text kernel ([[graft.sources.PdfCodec]], pages joined
  * with a newline): NULL when the bytes are not a parseable PDF. The
  * crawl router's column form — PDF bodies extract inside the same
  * projection as the HTML path, no second scan, no shuffle of document
  * bytes.
  */
case class PdfTextExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  protected override def nullSafeEval(bytesV: Any): Any =
    graft.sources.PdfCodec.extractText(bytesV.asInstanceOf[Array[Byte]]) match {
      case Some(d) => UTF8String.fromString(d.pages.mkString("\n"))
      case None => null
    }
  override protected def withNewChildInternal(c: Expression): PdfTextExpr = copy(child = c)
}

/** DOCX → extracted text kernel ([[graft.sources.DocxCodec]]): NULL when
  * the bytes are not a readable DOCX — the crawl router's column form,
  * like [[PdfTextExpr]].
  */
case class DocxTextExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  protected override def nullSafeEval(bytesV: Any): Any =
    graft.sources.DocxCodec.extractText(bytesV.asInstanceOf[Array[Byte]]) match {
      case Some(d) => UTF8String.fromString(d.text)
      case None => null
    }
  override protected def withNewChildInternal(c: Expression): DocxTextExpr = copy(child = c)
}

/** EPUB → extracted text kernel ([[graft.sources.EpubCodec]]): NULL when
  * the bytes are not a readable EPUB — the crawl router's column form,
  * like [[PdfTextExpr]].
  */
case class EpubTextExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  protected override def nullSafeEval(bytesV: Any): Any =
    graft.sources.EpubCodec.extractText(bytesV.asInstanceOf[Array[Byte]]) match {
      case Some(d) => UTF8String.fromString(d.text)
      case None => null
    }
  override protected def withNewChildInternal(c: Expression): EpubTextExpr = copy(child = c)
}

/** robots.txt decision kernel: allowed(robotsTxt, path) under a constant
  * agent → boolean (RFC 9309 longest-match semantics via
  * [[graft.ops.Robots]]). The PARSE is memoized per distinct robots body
  * (capped) — a crawl partition carries one body per domain, so parsing is
  * ~O(distinct domains), matching O(rules) per row.
  */
case class RobotsAllowedExpr(left: Expression, right: Expression, agent: String)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  @transient private lazy val memo =
    new java.util.HashMap[String, Seq[graft.ops.Robots.Rule]]()
  private val MemoCap = 1 << 12
  protected override def nullSafeEval(robotsV: Any, pathV: Any): Any = {
    val txt = robotsV.asInstanceOf[UTF8String].toString
    var rules = memo.get(txt)
    if (rules == null) {
      rules = graft.ops.Robots.rulesFor(txt, agent)
      if (memo.size < MemoCap) memo.put(txt, rules)
    }
    graft.ops.Robots.isAllowed(rules, pathV.asInstanceOf[UTF8String].toString)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): RobotsAllowedExpr =
    copy(left = l, right = r)
}

/** WordPiece greedy longest-match encode → array<string> (BERT surface:
  * word-initial pieces plain, continuations `##`-prefixed, unmatchable
  * words as `[UNK]`). Vocab is a plan-time constant.
  */
case class WordPieceEncodeExpr(child: Expression, initial: Seq[String],
                               cont: Seq[String], maxPieceLen: Int)
    extends WordEncodeKernelExpression {
  @transient private lazy val vocab =
    graft.text.WordPiece.Vocab(initial.toSet, cont.toSet, maxPieceLen)
  protected def encodeWord(w: String): Array[String] = graft.text.WordPiece.encodeWord(w, vocab)
  override protected def withNewChildInternal(c: Expression): WordPieceEncodeExpr = copy(child = c)
}

/** Registrable domain of a `host[:port]` authority via the embedded
  * public-suffix snapshot ([[graft.ops.PublicSuffix]]) → string.
  */
case class RegistrableDomainExpr(child: Expression) extends StringKernelExpression {
  override def dataType: DataType = StringType
  protected override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(graft.ops.PublicSuffix.registrableDomain(input(v)))
  override protected def withNewChildInternal(c: Expression): RegistrableDomainExpr = copy(child = c)
}

/** Canonical URL ([[graft.ops.Urls.canonicalColumn]]) → string, null for
  * input that is not `scheme://...`. The case mapping follows Spark's
  * `lower` (ICU unless `spark.sql.icu.caseMappings.enabled` is off).
  */
case class CanonicalUrlExpr(child: Expression) extends StringKernelExpression {
  override def dataType: DataType = StringType
  @transient private lazy val icuLower: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
  protected override def nullSafeEval(v: Any): Any =
    graft.ops.Urls.canonical(v.asInstanceOf[UTF8String], icuLower)
  override protected def withNewChildInternal(c: Expression): CanonicalUrlExpr = copy(child = c)
}

/** Unigram-LM (Kudo 2018) Viterbi encode → array<string> (piece stream of
  * every word, words in order). The piece score table is a plan-time
  * constant.
  */
case class UnigramEncodeExpr(child: Expression, pieces: Seq[(String, Long)],
                             maxPieceLen: Int)
    extends WordEncodeKernelExpression {
  @transient private lazy val model =
    graft.text.Unigram.Model(pieces.toMap, maxPieceLen)
  protected def encodeWord(w: String): Array[String] = graft.text.Unigram.viterbi(w, model)
  override protected def withNewChildInternal(c: Expression): UnigramEncodeExpr = copy(child = c)
}

/** per-set counts of tokens contained in EACH of several marker sets →
  * array<long>, one tokenization pass. `marker_hits` called k times
  * re-tokenizes the text k times (the tokenize lives inside the kernel,
  * invisible to Catalyst's subexpression elimination) — language-ID with 4
  * marker lists plus a stopword list was 5 passes per row. Tokens map to
  * their member sets through one prebuilt hash map (sets may overlap:
  * 'la' is both French and Spanish).
  */
case class MultiMarkerHitsExpr(child: Expression, markerSets: Seq[Seq[String]],
                               /** append the TOTAL token count as the final
                                 * array element — callers needing both word
                                 * count and marker hits (quality scoring)
                                 * get them from the same pass */
                               includeTotal: Boolean = false)
    extends StringKernelExpression {
  @transient private lazy val membership: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]]()
    markerSets.zipWithIndex.foreach { case (set, i) =>
      set.foreach { w =>
        m.merge(w, Array(i), (a, b) => a ++ b)
      }
    }
    m
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  protected override def nullSafeEval(v: Any): Any = {
    val counts = new Array[Long](markerSets.length + (if (includeTotal) 1 else 0))
    var total = 0L
    for (w <- TextKernel.tokens(input(v))) {
      total += 1
      val sets = membership.get(w)
      if (sets != null) {
        var i = 0
        while (i < sets.length) { counts(sets(i)) += 1; i += 1 }
      }
    }
    if (includeTotal) counts(markerSets.length) = total
    new GenericArrayData(counts)
  }
  override protected def withNewChildInternal(c: Expression): MultiMarkerHitsExpr = copy(child = c)
}

/** count of characters belonging to a fixed set → long (the counting twin
  * of `size(regexp_extract_all(s, '[chars]', 0))`, which materializes an
  * array of every match just to take its length — at ×1700 char volume
  * that allocation dominated the quality scan).
  */
case class CharsInSetCountExpr(child: Expression, chars: String)
    extends StringKernelExpression {
  @transient private lazy val member: Array[Boolean] = {
    val m = new Array[Boolean](128)
    chars.foreach(c => if (c < 128) m(c) = true)
    m
  }
  override def dataType: DataType = LongType
  protected override def nullSafeEval(v: Any): Any = {
    val s = input(v)
    var n = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 128 && member(c)) n += 1
      i += 1
    }
    n
  }
  override protected def withNewChildInternal(c: Expression): CharsInSetCountExpr = copy(child = c)
}

/** count of tokens contained in a fixed marker set → long (compiled twin of
  * size(filter(words, w -> w isin markers))).
  */
case class MarkerHitsExpr(child: Expression, markers: Seq[String]) extends StringKernelExpression {
  @transient private lazy val markerSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    markers.foreach(s.add)
    s
  }
  override def dataType: DataType = LongType
  protected override def nullSafeEval(v: Any): Any = {
    var n = 0L
    for (w <- TextKernel.tokens(input(v))) if (markerSet.contains(w)) n += 1
    n
  }
  override protected def withNewChildInternal(c: Expression): MarkerHitsExpr = copy(child = c)
}

/** Bloom-filter membership probe over a string column → boolean.
  *
  * The filter rides the expression as its SERIALIZED bytes (the stable
  * `BloomFilter.writeTo` wire format, not Java serialization). The
  * expression tree — filterBytes included — is deserialized in EVERY task,
  * so a per-instance lazy val would re-run `BloomFilter.readFrom` per task
  * and hold one bit-array copy per concurrent task: at the documented
  * sizing (~1.2 GB per 10⁹ fingerprints) 16 concurrent tasks would pin
  * ~19 GB of duplicate bits. Instead the DESERIALIZED filter lives in an
  * executor-wide JVM singleton ([[BloomFilterCache]]) keyed by a digest of
  * the bytes: first task on the executor pays one readFrom, every later
  * task (and every later stage of the same job) shares the one copy.
  * Spark's sketch BloomFilter hashes with seedless Murmur3, so probe
  * results are deterministic across runs and partitionings.
  *
  * One-sided error contract: `true` may be a false positive (rate set at
  * build time), `false` is always correct — callers use it as a PREFILTER
  * in front of an exact verification join, never as the verdict.
  */
case class BloomMightContainExpr(child: Expression, filterBytes: Array[Byte])
    extends StringKernelExpression {
  override def dataType: DataType = BooleanType
  @transient private lazy val filter: org.apache.spark.util.sketch.BloomFilter =
    BloomFilterCache.get(filterBytes)
  protected override def nullSafeEval(v: Any): Any = filter.mightContainString(input(v))
  override protected def withNewChildInternal(c: Expression): BloomMightContainExpr =
    copy(child = c)
}

/** Executor-wide cache of deserialized bloom filters, keyed by a SHA-256
  * digest of the serialized bytes (identical bytes → identical filter, so
  * the digest is a sound identity). Bounded, access-ordered (LRU): a long
  *-lived executor serving successive ingest runs against successive filter
  * generations holds at most `MaxEntries` bit arrays, evicting the
  * least-recently-probed — the cap bounds worst-case heap at
  * MaxEntries × filter size instead of concurrent-tasks × filter size.
  */
object BloomFilterCache {
  private val MaxEntries = 4
  private val cache =
    new java.util.LinkedHashMap[String, org.apache.spark.util.sketch.BloomFilter](
      8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, org.apache.spark.util.sketch.BloomFilter]): Boolean =
        size() > MaxEntries
    }

  def get(filterBytes: Array[Byte]): org.apache.spark.util.sketch.BloomFilter = {
    val key = java.util.Base64.getEncoder.encodeToString(
      java.security.MessageDigest.getInstance("SHA-256").digest(filterBytes))
    cache.synchronized {
      val hit = cache.get(key)
      if (hit != null) hit
      else {
        val f = org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(filterBytes))
        cache.put(key, f)
        f
      }
    }
  }

  /** visible for specs */
  private[graft] def size: Int = cache.synchronized(cache.size())
}

object textkernel {
  def bloom_might_contain(c: Column, filterBytes: Array[Byte]): Column =
    toColumn(BloomMightContainExpr(toExpression(c), filterBytes))
  def word_tokens(c: Column): Column = toColumn(WordTokens(toExpression(c)))
  def marker_hits(c: Column, markers: Seq[String]): Column =
    toColumn(MarkerHitsExpr(toExpression(c), markers))
  def multi_marker_hits(c: Column, markerSets: Seq[Seq[String]],
                        includeTotal: Boolean = false): Column =
    toColumn(MultiMarkerHitsExpr(toExpression(c), markerSets, includeTotal))
  def chars_in_set_count(c: Column, chars: String): Column =
    toColumn(CharsInSetCountExpr(toExpression(c), chars))
  def shingle_hashes(c: Column, n: Int): Column = toColumn(ShingleHashesExpr(toExpression(c), n))
  def positional_shingle_hashes(c: Column, n: Int): Column = toColumn(PositionalShingleHashesExpr(toExpression(c), n))
  def dsir_buckets(c: Column, buckets: Int): Column =
    toColumn(DsirBucketsExpr(toExpression(c), buckets))
  def token_stats(c: Column): Column = toColumn(TokenStatsExpr(toExpression(c)))
  def lsh_bucket(c: Column, dims: Int, bits: Int, planeOffset: Int = 0): Column =
    toColumn(LshBucketExpr(toExpression(c), dims, bits, planeOffset))
  def jaccard_sorted(a: Column, b: Column): Column =
    toColumn(JaccardSortedExpr(toExpression(a), toExpression(b)))
  def remove_spans(text: Column, spans: Column): Column =
    toColumn(RemoveSpansExpr(toExpression(text), toExpression(spans)))
  def cut_spans_in_set(text: Column, hashes: Array[Long], w: Int): Column =
    toColumn(CutSpansInSetExpr(toExpression(text), hashes, w))
  def word_shingles(c: Column, n: Int): Column = toColumn(WordShinglesExpr(toExpression(c), n))
  def word_trigrams(c: Column): Column = toColumn(WordNgramsExpr(toExpression(c), 3))
  def word_ngrams(c: Column, n: Int): Column = toColumn(WordNgramsExpr(toExpression(c), n))
  def minhash_sig(c: Column, numHashes: Int, shingleSize: Int): Column =
    toColumn(MinHashSigExpr(toExpression(c), numHashes, shingleSize))
  def simhash_fast(c: Column, bits: Int): Column = toColumn(SimHashExpr(toExpression(c), bits))
  def winnow_fp(c: Column): Column = toColumn(WinnowFpExpr(toExpression(c)))
  def repetition_stats(c: Column): Column = toColumn(RepetitionStatsExpr(toExpression(c)))
  def gopher_stats(c: Column): Column = toColumn(GopherStatsExpr(toExpression(c)))
  def c4_line_stats(c: Column, minLineWords: Int): Column =
    toColumn(C4LineStatsExpr(toExpression(c), minLineWords))
  def bpe_tokens(c: Column, merges: Seq[(String, String)]): Column =
    toColumn(BpeEncodeExpr(toExpression(c), merges))
  def gpt2_pretokens(c: Column): Column = toColumn(Gpt2PretokensExpr(toExpression(c)))
  def justext_text(c: Column): Column = toColumn(JustextTextExpr(toExpression(c)))
  def bbpe_tokens(c: Column, merges: Seq[(String, String)]): Column =
    toColumn(ByteBpeEncodeExpr(toExpression(c), merges))
  def unigram_encode(c: Column, m: graft.text.Unigram.Model): Column =
    toColumn(UnigramEncodeExpr(toExpression(c),
      m.scores.toSeq.sortBy(_._1), m.maxPieceLen))
  def registrable_domain(c: Column): Column =
    toColumn(RegistrableDomainExpr(toExpression(c)))
  def canonical_url(c: Column): Column = toColumn(CanonicalUrlExpr(toExpression(c)))
  def wordpiece_tokens(c: Column, v: graft.text.WordPiece.Vocab): Column =
    toColumn(WordPieceEncodeExpr(toExpression(c),
      v.initial.toSeq.sorted, v.cont.toSeq.sorted, v.maxPieceLen))
  def robots_allowed(robotsTxt: Column, path: Column, agent: String): Column =
    toColumn(RobotsAllowedExpr(toExpression(robotsTxt), toExpression(path), agent))
  def decode_charset(bytes: Column, charsetName: Column): Column =
    toColumn(DecodeCharsetExpr(toExpression(bytes), toExpression(charsetName)))
  def fix_mojibake(c: Column): Column = toColumn(FixMojibakeExpr(toExpression(c)))
  def pdf_text(bytes: Column): Column = toColumn(PdfTextExpr(toExpression(bytes)))
  def docx_text(bytes: Column): Column = toColumn(DocxTextExpr(toExpression(bytes)))
  def epub_text(bytes: Column): Column = toColumn(EpubTextExpr(toExpression(bytes)))
}
