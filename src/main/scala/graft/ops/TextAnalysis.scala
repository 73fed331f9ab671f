package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Checkpoints.MaterializeSyntax
import graft.functions.textfn._
import graft.functions.textkernel._

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, language-ID heuristic, document fingerprinting.
  * All are narrow per-row column pipelines (no shuffle, fully codegen'd,
  * filter/projection pushdown applies) — at 100 TB these run at scan speed.
  */
object TextAnalysis {

  /** Per-document token statistics (naive estimator ports the reference's
    * splitter length function — ai_utils/text_splitting/naive.py:31-55).
    */
  def tokenStats(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"), token_stats(col(textCol)).as("__ts"))
      .select(col("doc_id"), col("__ts.n_tokens_naive").as("n_tokens_naive"),
        col("__ts.n_tokens_ws").as("n_tokens_ws"), col("__ts.n_tokens_bpe").as("n_tokens_bpe"))

  /** English-ish stopwords for quality scoring. */
  val Stopwords: Seq[String] = Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "that", "for")

  /** Heuristic quality score in [0,1] from length / punctuation / stopword
    * ratios. Deterministic formula (mirrored by the SQL oracle):
    * len_score = min(1, n_words/100); punct_ratio = punct_chars/chars;
    * stop_ratio = stopwords/words; quality = len_score*(0.5 + 0.5*min(1, 10*stop_ratio))*(1 - punct_penalty)
    */
  def qualityScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // stop hits AND the word count from one tokenization pass; punctuation
    // counted by a char-class kernel (the regexp_extract_all formulation
    // materializes an array of every match just to take its length)
    val mh = multi_marker_hits(col(textCol), Seq(Stopwords), includeTotal = true)
    val pre = docs.select(col("doc_id"), col(textCol).as("__t"), mh.as("__mh"))
    val nWords = pre("__mh")(1).cast("double")
    val stopHits = pre("__mh")(0).cast("double")
    val punct = chars_in_set_count(col("__t"), ".,;:!?'\"()").cast("double")
    val chars = length(col("__t")).cast("double")
    val lenScore = least(lit(1.0), nWords / lit(100.0))
    val punctRatio = when(chars === 0, lit(0.0)).otherwise(punct / chars)
    val stopRatio = when(nWords === 0, lit(0.0)).otherwise(stopHits / nWords)
    val quality = lenScore * (lit(0.5) + lit(0.5) * least(lit(1.0), stopRatio * lit(10.0))) * (lit(1.0) - least(lit(0.5), punctRatio))
    pre.select(
      col("doc_id"),
      pre("__mh")(1).cast("long").as("n_words"),
      round(punctRatio, 6).as("punct_ratio"),
      round(stopRatio, 6).as("stop_ratio"),
      round(quality, 6).as("quality"))
  }

  /** Marker-word lists per language for the n-gram/stopword language-ID
    * heuristic. Scored by hit count over word tokens; deterministic
    * tie-break: en > de > fr > es > und.
    */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "is", "in", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "un", "una", "que", "por"))

  /** Language identification: argmax of marker-word hits; "und" when no
    * marker appears. Per-row projection, no shuffle — ONE tokenization
    * pass for all four marker sets (`multi_marker_hits`; four separate
    * `marker_hits` calls each re-tokenize inside the kernel, where
    * Catalyst's subexpression elimination cannot see it).
    */
  def langId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val hits = multi_marker_hits(col(textCol),
      Seq(LangMarkers("en"), LangMarkers("de"), LangMarkers("fr"), LangMarkers("es")))
    val withHits = docs.select(col("doc_id"), hits.as("__h"))
      .select(col("doc_id"), col("__h")(0).as("en_hits"), col("__h")(1).as("de_hits"),
        col("__h")(2).as("fr_hits"), col("__h")(3).as("es_hits"))
    val en = col("en_hits"); val de = col("de_hits")
    val fr = col("fr_hits"); val es = col("es_hits")
    val best = greatest(en, de, fr, es)
    val pred = when(best === 0, lit("und"))
      .when(en === best, lit("en"))
      .when(de === best, lit("de"))
      .when(fr === best, lit("fr"))
      .otherwise(lit("es"))
    withHits.select(col("doc_id"), en, de, fr, es, pred.as("lang_pred"))
  }

  /** LINE-level language split (r18) — the multilingual-page treatment
    * OSCAR's Ungoliant pipeline runs (Ortiz Suárez et al. / Abadji et
    * al. 2021: classify each LINE, group a document's lines by
    * language): a crawled page mixing languages contributes each slice
    * to ITS language's corpus instead of polluting one, and the output
    * feeds the per-language stages this engine already ships
    * (per-language KN perplexity, [[graft.ops.FullText.surprisalBuckets]]
    * head/middle/tail). Per line: the [[langId]] marker argmax (same
    * kernel, same en>de>fr>es>und tie-break); per (doc, language): line
    * count and the lines rejoined in PAGE ORDER.
    *
    * Scale shape: one compiled-kernel pass tags lines in-row; the only
    * exchange is the (doc_id, lang) groupBy — map-side combined, and
    * line text crosses it once. Returns (doc_id, lang, n_lines, text).
    */
  def splitByLanguage(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val lines = docs
      .select(col("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("line_idx", "line")))
      .filter(length(trim(col("line"))) > 0)
    val hits = multi_marker_hits(col("line"),
      Seq(LangMarkers("en"), LangMarkers("de"), LangMarkers("fr"), LangMarkers("es")))
    val tagged = lines.withColumn("__h", hits)
    val en = col("__h")(0); val de = col("__h")(1)
    val fr = col("__h")(2); val es = col("__h")(3)
    val best = greatest(en, de, fr, es)
    val lang = when(best === 0, lit("und"))
      .when(en === best, lit("en"))
      .when(de === best, lit("de"))
      .when(fr === best, lit("fr"))
      .otherwise(lit("es"))
    tagged.select(col("doc_id"), col("line_idx"), col("line"), lang.as("lang"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_lines"),
        concat_ws("\n", transform(sort_array(collect_list(
          struct(col("line_idx"), col("line")))),
          s => s.getField("line"))).as("text"))
  }

  /** Document fingerprints: (a) md5 of the normalized word stream (exact
    * near-identity after whitespace/case/punct normalization) and (b) a
    * rolling min-hash over character 5-grams of the normalized text
    * (winnowing-style content fingerprint robust to local edits).
    */
  def fingerprint(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(
      col("doc_id"),
      md5(concat_ws(" ", word_tokens(col(textCol)))).as("exact_fp"),
      winnow_fp(col(textCol)).as("winnow_fp"))

  /** Fused cleaning pipeline — the decision pass a training-data pipeline
    * runs over every crawled document, computed in ONE scan: language-ID,
    * quality score, token count, and exact-dup canonicality, then a single
    * `keep` verdict. All scalar signals fuse into one codegen'd projection.
    * Canonicality (lowest doc_id per exact fingerprint) is a map-side-
    * combined `groupBy(exact_fp).agg(min(doc_id))` joined back — NOT a
    * window over `partitionBy(exact_fp)`: a duplicate-heavy corpus makes
    * exact_fp hot BY CONSTRUCTION (that is what the dedup is for), and a
    * window would drag every duplicate row into one partition while the
    * partial agg reduces each to one row per fingerprint per task, and the
    * join back is AQE-skew-splittable. Running four separate passes at
    * 100 TB costs four scans; this costs one.
    */
  def cleanPipeline(docs: DataFrame, textCol: String = "text",
                    minQuality: Double = 0.1, minTokens: Long = 5,
                    keepLangs: Seq[String] = Seq("en")): DataFrame = {
    val t = col(textCol)
    // all five marker lists counted in ONE tokenization pass (was five)
    val mh = multi_marker_hits(t,
      Seq(LangMarkers("en"), LangMarkers("de"), LangMarkers("fr"),
        LangMarkers("es"), Stopwords))
    val pre = docs.select(col("doc_id"), t, mh.as("__mh"))
    val en = col("__mh")(0); val de = col("__mh")(1)
    val fr = col("__mh")(2); val es = col("__mh")(3)
    val best = greatest(en, de, fr, es)
    val lang = when(best === 0, lit("und"))
      .when(en === best, lit("en")).when(de === best, lit("de"))
      .when(fr === best, lit("fr")).otherwise(lit("es"))
    val ws = word_tokens(t)
    val nWords = size(ws).cast("double")
    val punct = chars_in_set_count(t, ".,;:!?'\"()").cast("double")
    val chars = length(t).cast("double")
    val stopHits = col("__mh")(4).cast("double")
    val punctRatio = when(chars === 0, lit(0.0)).otherwise(punct / chars)
    val stopRatio = when(nWords === 0, lit(0.0)).otherwise(stopHits / nWords)
    val quality = least(lit(1.0), nWords / lit(100.0)) *
      (lit(0.5) + lit(0.5) * least(lit(1.0), stopRatio * lit(10.0))) *
      (lit(1.0) - least(lit(0.5), punctRatio))
    val scanned = pre.select(
      col("doc_id"), lang.as("lang_pred"), round(quality, 6).as("quality"),
      token_stats(t).getField("n_tokens_naive").as("n_tokens"),
      md5(concat_ws(" ", ws)).as("exact_fp"))
    // canonicality stays a map-side-combined agg + broadcast join-back,
    // NOT a window (r5 verdict: exact_fp is hot by construction on
    // duplicate-heavy corpora — a window would co-locate every copy of a
    // boilerplate fingerprint in one task; with the broadcast join the
    // corpus rows never shuffle at all). The trade is a second kernel
    // scan on the agg side — cheap here relative to co-locating the
    // corpus; contrast with Multimodal.mediaDedup, where the re-evaluated
    // side would re-DECODE the media and the windowed rows are 24-byte
    // fingerprints, flipping the trade the other way.
    val canon = scanned.groupBy(col("exact_fp"))
      .agg(min(col("doc_id")).as("__canonical_id"))
    scanned.join(canon, Seq("exact_fp"))
      .withColumn("is_canonical", col("doc_id") === col("__canonical_id"))
      .drop("__canonical_id")
      .withColumn("keep",
        col("is_canonical") && col("quality") >= minQuality &&
        col("n_tokens") >= minTokens && col("lang_pred").isin(keepLangs: _*))
      .select((scanned.columns.toIndexedSeq.map(col) :+ col("is_canonical") :+ col("keep")): _*)
  }

  /** Gopher-style repetition quality signals (Rae et al. 2021, table A1
    * adapted to single-line documents): duplicate-word fraction,
    * most-frequent-bigram fraction, and the fraction of trigram occurrences
    * whose trigram appears more than once. All counts come from ONE compiled
    * per-row kernel pass ([[graft.functions.RepetitionStatsExpr]]) — no
    * explode, no shuffle, runs at scan speed at any corpus size; the
    * fraction arithmetic stays in the projection so the SQL oracle replays
    * it bit-exactly.
    */
  def repetitionSignals(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val r = repetition_stats(col(textCol)).as("__r")
    docs.select(col("doc_id"), r)
      .select(
        col("doc_id"),
        col("__r.n_words").as("n_words"),
        round(when(col("__r.n_words") === 0, lit(0.0)).otherwise(
          (col("__r.n_words") - col("__r.n_uniq_words")).cast("double") / col("__r.n_words")),
          6).as("dup_word_frac"),
        round(when(col("__r.n_bigrams") === 0, lit(0.0)).otherwise(
          col("__r.top_bigram_cnt").cast("double") / col("__r.n_bigrams")),
          6).as("top_bigram_frac"),
        round(when(col("__r.n_trigrams") === 0, lit(0.0)).otherwise(
          col("__r.dup_trigram_occ").cast("double") / col("__r.n_trigrams")),
          6).as("dup_trigram_frac"))
  }

  /** Gopher quality-filter rules (Rae et al. 2021, "Scaling Language
    * Models: Methods, Analyses & Insights from Training Gopher", Table A1 —
    * the published rule set MassiveText was cleaned with, and the de-facto
    * baseline every later corpus pipeline starts from). Per document:
    * the measured signals, one boolean per rule, and `keep` = all rules
    * pass. Defaults are the paper's thresholds; every bound is a
    * parameter because downstream corpora retune them.
    *
    *  - `rule_words`: word count in [minWords, maxWords];
    *  - `rule_word_len`: mean word length (code points) in
    *    [minMeanWordLen, maxMeanWordLen];
    *  - `rule_symbol`: (hash + ellipsis) / words ≤ maxSymbolRatio;
    *  - `rule_bullet`: fraction of lines starting with a bullet
    *    ≤ maxBulletLineFrac;
    *  - `rule_ellipsis`: fraction of lines ending with an ellipsis
    *    ≤ maxEllipsisLineFrac;
    *  - `rule_alpha`: fraction of words containing an alphabetic char
    *    ≥ minAlphaWordFrac;
    *  - `rule_stop`: ≥ minStopwords DISTINCT hits among the paper's eight
    *    indicator words ([[graft.functions.TextKernel.GopherStops]]).
    *
    * The paper's repetition rules (dup line/paragraph/n-gram fractions)
    * live in [[repetitionSignals]] — compose the two frames on doc_id.
    *
    * Scale shape: ONE compiled kernel pass per row
    * ([[graft.functions.textkernel.gopher_stats]]) + a projection — zero
    * exchanges; the rules compare the ROUNDED fractions so the DuckDB
    * oracle replays keep decisions bit-exactly.
    */
  def gopherFilter(docs: DataFrame, textCol: String = "text",
                   minWords: Long = 50, maxWords: Long = 100000,
                   minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                   maxSymbolRatio: Double = 0.1,
                   maxBulletLineFrac: Double = 0.9,
                   maxEllipsisLineFrac: Double = 0.3,
                   minAlphaWordFrac: Double = 0.8,
                   minStopwords: Int = 2): DataFrame = {
    val g = gopher_stats(col(textCol)).as("__g")
    val nW = col("__g.n_words").cast("double")
    def frac(num: Column): Column =
      round(when(nW === 0, lit(0.0)).otherwise(num.cast("double") / nW), 6)
    val nLines = col("__g.n_lines").cast("double")
    def lineFrac(num: Column): Column =
      round(when(nLines === 0, lit(0.0)).otherwise(num.cast("double") / nLines), 6)
    docs.select(col("doc_id"), g)
      .select(col("doc_id"),
        col("__g.n_words").as("n_words"),
        frac(col("__g.word_chars")).as("mean_word_len"),
        frac(col("__g.n_hash") + col("__g.n_ellipsis")).as("symbol_ratio"),
        frac(col("__g.n_alpha_words")).as("alpha_word_frac"),
        lineFrac(col("__g.n_bullet_lines")).as("bullet_line_frac"),
        lineFrac(col("__g.n_ellipsis_end_lines")).as("ellipsis_line_frac"),
        col("__g.n_stop_distinct").as("n_stop_distinct"))
      .withColumn("rule_words",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("rule_word_len",
        col("mean_word_len") >= minMeanWordLen && col("mean_word_len") <= maxMeanWordLen)
      .withColumn("rule_symbol", col("symbol_ratio") <= maxSymbolRatio)
      .withColumn("rule_bullet", col("bullet_line_frac") <= maxBulletLineFrac)
      .withColumn("rule_ellipsis", col("ellipsis_line_frac") <= maxEllipsisLineFrac)
      .withColumn("rule_alpha", col("alpha_word_frac") >= minAlphaWordFrac)
      .withColumn("rule_stop", col("n_stop_distinct") >= minStopwords)
      .withColumn("keep",
        col("rule_words") && col("rule_word_len") && col("rule_symbol") &&
          col("rule_bullet") && col("rule_ellipsis") && col("rule_alpha") &&
          col("rule_stop"))
  }

  /** C4 cleaning rules (Raffel et al. 2020, "Exploring the Limits of
    * Transfer Learning...", §2.2 — the line-level filter the C4 corpus was
    * built with; the complement of the doc-level [[gopherFilter]]).
    *
    * Line rules (a line is trimmed of space/tab/CR; kept iff ALL hold):
    * ends in terminal punctuation (`.` `!` `?` `"`), has ≥ `minLineWords`
    * whitespace words, and does not contain "javascript"
    * (case-insensitive). Page rules on the ORIGINAL text: no
    * "lorem ipsum" (case-insensitive), no `{` (the code heuristic), and
    * the CLEANED text must contain ≥ `minSentences` sentence marks
    * (`[.!?]` count — the replayable approximation of C4's ≥ 3 sentences).
    * C4's bad-words list is a data seam (`blockedWords` over the
    * lowercase-alnum token model): the published pipeline ships the
    * "List of Dirty, Naughty, Obscene..." blocklist, which we deliberately
    * do NOT vendor — callers supply their list; the gate query exercises
    * the mechanism with a synthetic token. C4's 3-sentence span dedup is
    * [[graft.ops.Dedup.spanDedup]] — compose on doc_id.
    *
    * Returns per document: line/sentence counters, the page-rule flags,
    * `keep`, and the cleaned text (kept lines joined by newline). One
    * compiled kernel pass + scalar projections — zero exchanges.
    */
  def c4Filter(docs: DataFrame, textCol: String = "text",
               minLineWords: Int = 5, minSentences: Int = 3,
               blockedWords: Seq[String] = Nil): DataFrame = {
    val g = c4_line_stats(col(textCol), minLineWords).as("__c4")
    // evaluated in the SECOND projection, where textCol is already renamed
    // to __t — must reference __t, not textCol (C4Spec pins a non-empty list)
    val badWordHit: Column =
      if (blockedWords.isEmpty) lit(false)
      else marker_hits(col("__t"), blockedWords.map(_.toLowerCase)) > 0
    docs.select(col("doc_id"), col(textCol).as("__t"), g)
      .select(col("doc_id"),
        col("__c4.n_lines").as("n_lines"),
        col("__c4.n_lines_kept").as("n_lines_kept"),
        col("__c4.n_sentences").as("n_sentences"),
        contains(lower(col("__t")), lit("lorem ipsum")).as("has_lorem"),
        contains(col("__t"), lit("{")).as("has_brace"),
        badWordHit.as("has_bad_word"),
        col("__c4.clean_text").as("clean_text"))
      .withColumn("keep",
        col("n_sentences") >= minSentences &&
          !col("has_lorem") && !col("has_brace") && !col("has_bad_word"))
  }

  /** Load a bad-words blocklist for [[c4Filter]] from a one-token-per-line
    * file (the format the published "List of Dirty, Naughty, Obscene..."
    * lists ship in) — the production form of the `blockedWords` seam, which
    * stays caller-supplied because this engine deliberately does not vendor
    * an obscenity list. Lines are trimmed and lower-cased; blank lines and
    * `#` comments are skipped. Read through the Hadoop filesystem so the
    * path may live on HDFS/S3 alongside the data; the list is driver-
    * resident by design (these lists are a few hundred tokens — they ride
    * to executors inside the [[graft.functions.textkernel.marker_hits]]
    * literal, the same broadcast-small-side posture as every other LUT
    * here).
    */
  def loadBlockedWords(spark: org.apache.spark.sql.SparkSession, path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim.toLowerCase)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .distinct.toList
    } finally in.close()
  }

  /** [[c4Filter]] with the blocklist loaded from `blockedWordsPath` via
    * [[loadBlockedWords]].
    */
  def c4FilterFromFile(docs: DataFrame, blockedWordsPath: String,
                       textCol: String = "text",
                       minLineWords: Int = 5, minSentences: Int = 3): DataFrame =
    c4Filter(docs, textCol, minLineWords, minSentences,
      loadBlockedWords(docs.sparkSession, blockedWordsPath))

  /** Benchmark decontamination: flag training documents sharing word
    * n-grams with an evaluation set (the GPT-3 appendix-C / PaLM method —
    * exact n-gram collision against the benchmark, n=13 there; n is a
    * parameter because short documents need shorter grams). Returns one row
    * per corpus document: total distinct n-grams, how many collide with ANY
    * eval document, the overlap fraction, and a contaminated flag.
    *
    * Scale shape: the eval side (a benchmark — thousands of documents) is
    * exploded to DISTINCT n-gram hashes and BROADCAST; the corpus side is
    * one kernel pass (sorted distinct 60-bit gram hashes per row —
    * [[graft.functions.ShingleHashesExpr]], 8 bytes per gram) + a narrow
    * explode + the broadcast hash join + a map-side-combined groupBy
    * (a document's grams are co-partitioned by construction, so the partial
    * agg emits ONE row per document). The 100 TB corpus is never shuffled
    * by content — the one exchange carries a row per document.
    */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame, n: Int = 13,
                    idCol: String = "doc_id", textCol: String = "text",
                    evalTextCol: String = "text"): DataFrame = {
    require(n > 0, s"n-gram size must be positive: $n")
    val evalGrams = broadcast(
      evalSet.select(explode(shingle_hashes(col(evalTextCol), n)).as("__h"))
        .distinct().withColumn("__hit", lit(1L)))
    corpus
      .select(col(idCol), shingle_hashes(col(textCol), n).as("__sh"))
      // explode_outer keeps documents with fewer than n words (empty gram
      // set) in the output with n_grams = 0
      .select(col(idCol), size(col("__sh")).cast("long").as("__n"),
        explode_outer(col("__sh")).as("__h"))
      .join(evalGrams, Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(max(col("__n")).as("n_grams"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hits"))
      .withColumn("overlap_frac",
        round(when(col("n_grams") === 0, lit(0.0))
          .otherwise(col("n_hits").cast("double") / col("n_grams")), 6))
      .withColumn("contaminated", (col("n_hits") > 0).cast("int"))
  }

  /** Span-level decontamination — where [[decontaminate]] FLAGS documents
    * overlapping the eval set, this surgically CUTS the overlapping spans
    * and keeps the rest of the document (the span-removal discipline of
    * Lee et al. 2021 applied to benchmark contamination: dropping a whole
    * web page because one paragraph quotes a benchmark question wastes the
    * other 95% of it). Any stride-1 window of `windowWords` tokens whose
    * hash appears ANYWHERE in the eval set is marked; runs of marked
    * window starts merge into maximal spans ([[Dedup.cutMarkedSpans]]) and
    * are removed in-row by the remove_spans kernel.
    *
    * Scale shape: marking is per-document against a FIXED benchmark, so
    * with the eval side reduced to DISTINCT window hashes and collected
    * (sorted, embedded in the kernel — the same bounded-benchmark bet the
    * n-gram [[decontaminate]] makes when it broadcasts eval grams), the
    * ENTIRE mark → islands → merge → cut runs in one per-row kernel pass:
    * ZERO exchanges on the corpus, streaming-compatible for free. A
    * degenerate eval side with more than `maxEvalWindows` distinct window
    * hashes falls back to the broadcast-semi + islands-window +
    * remove_spans plan (identical semantics; the corpus then crosses two
    * doc-keyed exchanges but is still never hash-shuffled).
    *
    * Returns one row per corpus document:
    * (idCol, n_tokens, n_removed, clean_text).
    */
  def decontaminateSpans(corpus: DataFrame, evalSet: DataFrame,
                         windowWords: Int = 13, idCol: String = "doc_id",
                         textCol: String = "text",
                         evalTextCol: String = "text",
                         maxEvalWindows: Int = 4_000_000): DataFrame = {
    require(windowWords >= 2, s"windowWords must be >= 2: $windowWords")
    val evalWins = evalSet.select(explode(
      positional_shingle_hashes(col(evalTextCol), windowWords)).as("win_hash"))
      .distinct()
    val head = evalWins.limit(maxEvalWindows + 1).collect()
    if (head.length <= maxEvalWindows) {
      val hashes = head.map(_.getLong(0))
      java.util.Arrays.sort(hashes)
      corpus
        .select(col(idCol),
          cut_spans_in_set(col(textCol), hashes, windowWords).as("r"))
        .select(col(idCol), col("r.n_tokens").as("n_tokens"),
          (col("r.n_tokens") - col("r.n_kept")).as("n_removed"),
          col("r.clean_text").as("clean_text"))
    } else {
      val marked = corpus
        .select(col(idCol),
          posexplode(positional_shingle_hashes(col(textCol), windowWords)))
        .select(col(idCol), col("pos"), col("col").as("win_hash"))
        .join(broadcast(evalWins), Seq("win_hash"), "left_semi")
        .select(col(idCol), col("pos"))
      Dedup.cutMarkedSpans(corpus, marked, windowWords, textCol, idCol)
    }
  }

  /** PII patterns for [[redactPii]]: (kind, regex, replacement), applied in
    * order. Patterns stay inside the Java-regex ∩ RE2 common subset (char
    * classes, bounded quantifiers, ASCII \b) so the DuckDB oracle replays
    * them verbatim.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("emails", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "[IP]"),
    ("phones", "\\+\\d[\\d\\- ]{5,}\\d", "[PHONE]"))

  /** PII scrubbing (the redaction pass a crawled-corpus pipeline runs
    * before training): sequentially count-and-replace emails, IPv4
    * addresses, and international-format phone numbers. Sequential
    * semantics — each count applies to the text with the PRIOR kinds
    * already redacted, so an address inside an email never double-counts.
    * Pure per-row `regexp_count`/`regexp_replace` projections: codegen'd,
    * zero exchanges, scan speed at any corpus size.
    */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val (counts, redacted) = PiiPatterns.foldLeft(
      (Seq.empty[Column], col(textCol))) { case ((cs, t), (kind, pat, repl)) =>
      (cs :+ regexp_count(t, lit(pat)).cast("long").as(s"n_$kind"),
        regexp_replace(t, lit(pat), lit(repl)))
    }
    docs.select(col("doc_id") +: counts :+ redacted.as("redacted"): _*)
  }

  /** Corpus-level word frequency: explode word tokens, count, top-k.
    * The groupBy is map-side combined (partial aggregation) — the shuffle
    * carries one row per distinct word per partition, not per token.
    */
  def wordFrequency(docs: DataFrame, textCol: String = "text", k: Int = 50): DataFrame =
    docs.select(explode(word_tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("word").asc)
      .limit(k)

  /** Corpus-wide heavy-hitter n-grams by DOCUMENT frequency — boilerplate
    * discovery: shingles shared verbatim by many documents are navigation
    * chrome, license footers, and template text, and the output of this op
    * is the candidate blocklist the C4/Gopher filters consume. Distinct
    * shingles PER DOC (word_shingles — a repeat inside one doc is not
    * boilerplate evidence), so `df` counts documents containing the n-gram.
    *
    * Scale: the groupBy is map-side combined (each task emits a shingle at
    * most once per local doc batch), `minDf` prunes the long tail BEFORE
    * the top-k, and the top-k is TakeOrderedAndProject (per-partition heap)
    * — never a global sort. The one exchange carries (shingle, partial
    * count) pairs for shingles that survive combining, not the corpus.
    */
  def topNgrams(docs: DataFrame, n: Int = 3, k: Int = 50, minDf: Long = 2,
                textCol: String = "text"): DataFrame =
    docs.select(explode(word_shingles(col(textCol), n)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .orderBy(desc("df"), col("ngram").asc)
      .limit(k)

  /** Sequence packing for training-data assembly: documents in
    * deterministic `idCol` order fill fixed-token-budget bins — a document
    * lands in bin `tokens_before div budget` (contiguous greedy fill;
    * documents stay atomic, a bin absorbs the doc that crosses its
    * boundary). Returns (doc_id, n_tokens, tok_before, bin).
    *
    * The global running total is a PARALLEL prefix sum, never a
    * single-partition window: rows group into DATA-DERIVED id-range chunks
    * (`(doc_id - minId) div span`, ≤ ~1k groups — deterministic, unlike
    * spark_partition_id(), which is re-sampled per action under a range
    * exchange), chunk totals stay distributed and roll up through a second
    * superblock level (only superblock totals reach the driver), and each
    * group runs a LOCAL cumsum window shifted by the preceding groups'
    * totals. Two scans of the sized projection + one tiny collect — at any
    * scale the windows are parallel across groups and each is bounded by
    * the group's id span.
    */
  def packSequences(docs: DataFrame, tokenBudget: Long,
                    idCol: String = "doc_id", textCol: String = "text",
                    targetGroups: Long = 1024L,
                    /** Pack WITHIN each value of this column (per-source /
                      * per-language bins — each group gets its own
                      * independent prefix sum and bin numbering).
                      */
                    groupCol: Option[String] = None,
                    /** Precomputed per-document token-count column (e.g.
                      * `n_tokens_bpe_learned` from [[graft.text.Bpe.encode]]
                      * — pack by the tokenizer the pipeline just trained,
                      * not the estimator). None = the naive estimate of
                      * `textCol`.
                      */
                    tokenCol: Option[String] = None): DataFrame = {
    val outCols = groupCol.map(c => col("__gk").as(c)).toSeq ++ Seq(
      col("doc_id"), col("n_tokens"), col("tok_before"), col("bin"))
    packCut(docs, tokenBudget, idCol, textCol, targetGroups, groupCol, tokenCol,
      carryText = false).select(outCols: _*)
  }

  /** The cut both packers run on, with its prefix sum: `(__gk, doc_id,
    * n_tokens[, __text], tok_before, bin)`.
    *
    * The cut is MATERIALIZED lazily (r20, guide §2.4): prefixSum consumes
    * it three times (id bounds, chunk totals, the final cumsum join) and
    * the token estimator is a full kernel pass — without the lineage cut
    * the caller's plan re-runs per consumer. Lazy: the first prefixSum job
    * (bounds) materializes the rows; no extra blocking job. `carryText`
    * keeps the text in the cut for [[assemblePacked]], so the bins group
    * from it and the caller's plan runs once per call. Per-call state only.
    */
  private def packCut(docs: DataFrame, tokenBudget: Long, idCol: String, textCol: String,
                      targetGroups: Long, groupCol: Option[String], tokenCol: Option[String],
                      carryText: Boolean): DataFrame = {
    require(tokenBudget > 0, s"tokenBudget must be positive: $tokenBudget")
    val gk = groupCol.map(c => col(c).cast("string")).getOrElse(lit(""))
    val tokens = tokenCol.map(c => col(c).cast("long"))
      .getOrElse(token_stats(col(textCol)).getField("n_tokens_naive"))
    val text = if (carryText) Seq(col(textCol).as("__text")) else Nil
    val sized = docs.select(Seq(gk.as("__gk"), col(idCol).cast("long").as("doc_id"),
      tokens.as("n_tokens")) ++ text: _*).materialize(false)
    prefixSum(sized, targetGroups, "tok_before", idCol)
      .getOrElse(sized.withColumn("tok_before", lit(0L)).limit(0))
      .withColumn("bin", expr(s"tok_before div $tokenBudget"))
  }

  /** Parallel prefix sum of `n_tokens` in (group `__gk`, doc_id) order —
    * the shared core of [[packSequences]] and [[mixtureOrder]]. Input needs
    * (__gk: string, doc_id: long, n_tokens: long); output adds `outCol` =
    * sum of n_tokens over STRICTLY PRECEDING docs of the same __gk. None
    * for an empty input (caller shapes the empty frame).
    *
    * Mechanics — a TWO-LEVEL prefix sum, fully distributed: rows chunk into
    * data-derived id ranges (never spark_partition_id — a range exchange
    * re-samples boundaries per action); per-(group, chunk) totals stay a
    * distributed relation; chunks roll up into superblocks of 1024 and ONLY
    * the superblock totals are collected (1024x fewer rows than the chunk
    * count — the driver never holds a per-chunk array). Chunk offsets are a
    * bounded cumsum window within each (group, superblock) (≤ 1024 rows per
    * window partition) plus the broadcast superblock offset; each (group,
    * chunk) then runs a LOCAL cumsum window shifted by its offset. The
    * offsets join is UNHINTED — AQE broadcasts it when small, and its
    * shuffle clustering is reused by the final window either way.
    *
    * Ids must be unique per group — duplicate (group, id) pairs would make
    * the within-chunk cumsum order nondeterministic, so they FAIL LOUDLY.
    * The check is FREE: duplicates share a chunk and sit adjacent in the
    * final window's existing (group, chunk, id) sort, so a lag-based
    * raise_error guard rides that sort — no extra job, shuffle, or
    * distinct aggregation (the naive count-vs-countDistinct probe costs a
    * full extra shuffle of the id set). Null ids have no prefix order
    * either: they are counted in the id-bounds job and fail loudly,
    * naming the caller's id column `idCol`.
    */
  private[graft] def prefixSum(sized: DataFrame, targetGroups: Long,
                        outCol: String, idCol: String,
                        /** Driver-collect guard: max non-empty (group,
                          * superblock) rows. The default (4M rows ≈ ~200 MB
                          * boxed on the driver) is sized for the 64 GB-heap
                          * driver class; parameterized so specs can pin the
                          * failure message and scaling runs can probe the
                          * boundary without an 8-minute setup.
                          */
                        maxSuperblocks: Long = 4_000_000L): Option[DataFrame] = {
    val spark = sized.sparkSession
    import spark.implicits._
    val bounds = sized.agg(min("doc_id"), max("doc_id"),
      count(when(col("doc_id").isNull, lit(1)))).head()
    require(bounds.getLong(2) == 0,
      s"null id in column $idCol (${bounds.getLong(2)} rows): prefix order would be " +
        "undefined; drop or assign the null ids first")
    if (bounds.isNullAt(0)) return None
    val (minId, maxId) = (bounds.getLong(0), bounds.getLong(1))
    val span = math.max(1L, (maxId - minId + targetGroups) / targetGroups)
    val grouped = sized.withColumn("__grp", expr(s"(doc_id - $minId) div $span"))
    // chunk totals are MATERIALIZED once (one row per (group, chunk) — tiny
    // next to the data): the superblock collect, the offsets window, and
    // the final join all read this checkpoint instead of re-running the
    // sized scan, keeping the whole prefix sum at the same three data
    // scans as a single-level design
    val totals = grouped.groupBy("__gk", "__grp").agg(sum("n_tokens").as("__t"))
      .materialize(true)
    val sbSpan = 1024L
    val withSb = totals.withColumn("__sb", expr(s"__grp div $sbSpan"))
    val sbTotals = withSb.groupBy("__gk", "__sb").agg(sum("__t").as("__st"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    require(sbTotals.length <= maxSuperblocks,
      s"group cardinality x id superblocks too large to collect (${sbTotals.length}); lower targetGroups")
    val sbOffsets = sbTotals.groupBy(_._1).toSeq.flatMap { case (g, rows) =>
      rows.toSeq.sortBy(_._2)
        .scanLeft((-1L, 0L)) { case ((_, acc), (_, sb, t)) => (sb, acc + t) }
        .sliding(2).collect { case Seq((_, acc), (sb, _)) => (g, sb, acc) }
    }
    val sbOffsetsDf = sbOffsets.toDF("__gk", "__sb", "__sboff")
    val wChunk = Window.partitionBy("__gk", "__sb").orderBy("__grp")
      .rowsBetween(Window.unboundedPreceding, -1)
    // NULL-SAFE group-key joins throughout: a null group value (crawled data
    // routinely has null lang/source) is a real group — a plain equi-join
    // would never match its offsets row and silently restart its cumsum
    val localCum = withSb.withColumn("__local", coalesce(sum("__t").over(wChunk), lit(0L)))
    // the offsets relation shares `grouped`'s lineage (unlike the old
    // driver-collected offsets), so its join keys are RENAMED — leaving the
    // ambiguity to Spark's self-join fallback resolution would be fragile
    val offsetsDf = localCum
      .join(broadcast(sbOffsetsDf),
        localCum("__gk") <=> sbOffsetsDf("__gk") && localCum("__sb") === sbOffsetsDf("__sb"),
        "left")
      .drop(sbOffsetsDf("__gk")).drop(sbOffsetsDf("__sb"))
      .select(col("__gk").as("__ogk"), col("__grp").as("__ogrp"),
        (col("__local") + coalesce(col("__sboff"), lit(0L))).as("__off"))
    val w = Window.partitionBy("__gk", "__grp").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    // same partitioning and sort as `w` — the duplicate guard adds no
    // exchange; raise_error fires at execution on the first adjacent
    // duplicate id, folded into the output column so it cannot be pruned
    val wLag = Window.partitionBy("__gk", "__grp").orderBy("doc_id")
    val dupGuard = when(lag(col("doc_id"), 1).over(wLag) === col("doc_id"),
      raise_error(concat(lit("duplicate (group, id) pair: prefix order would be "),
        lit("nondeterministic; dropDuplicates first (group="), col("__gk"),
        lit(", id="), col("doc_id"), lit(")")))).otherwise(lit(0L))
    Some(grouped
      .join(offsetsDf,
        col("__gk") <=> col("__ogk") && col("__grp") === col("__ogrp"),
        "left")
      .drop("__ogk", "__ogrp")
      .withColumn(outCol,
        coalesce(sum("n_tokens").over(w), lit(0L)) + coalesce(col("__off"), lit(0L)) + dupGuard))
  }

  /** Materialize the packed training sequences [[packSequences]] plans: one
    * row per bin with the member documents' text concatenated in id order,
    * plus doc/token counts. The concat is a map-side-combinable
    * collect_list + a deterministic array_sort — same content at any
    * parallelism — and per-bin state is BOUNDED by the token budget (a bin
    * holds ≤ budget tokens plus the one doc that crosses the boundary), so
    * the aggregation never accumulates unbounded rows per key.
    *
    * The text rides the prefix sum's cut, so the bins group straight from
    * it: no join back to `docs`, whose plan is planned and run once.
    */
  def assemblePacked(docs: DataFrame, tokenBudget: Long,
                     idCol: String = "doc_id", textCol: String = "text",
                     targetGroups: Long = 1024L,
                     groupCol: Option[String] = None,
                     sep: String = "\n\n",
                     tokenCol: Option[String] = None): DataFrame = {
    val keys = groupCol.map(c => col("__gk").as(c)).toSeq :+ col("bin")
    packCut(docs, tokenBudget, idCol, textCol, targetGroups, groupCol, tokenCol,
      carryText = true)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("__text")))),
          x => x.getField("__text")), sep).as("content"))
  }

  /** Deterministic mixture interleave (domain mixing): emit groups'
    * documents in an order where group g appears in proportion to
    * `weights(g)` — document r (1-based rank within its group, id order)
    * gets position `r / weight`, and the global training order is
    * ascending position. A weight-2.0 group places a doc every 0.5
    * positions; a weight-0.5 group every 2 — upsampling without
    * materializing repeats. Rank is the same parallel prefix machinery as
    * [[packSequences]] with count-1 payloads (never a per-group global
    * window, which would funnel a giant domain into one task). Groups
    * absent from `weights` get weight 1.
    */
  /** Quality-ranked token-budget selection — "fill a 1T-token training
    * budget from the best-quality documents first". A document is selected
    * iff the token sum of every STRICTLY PRECEDING document in
    * (q_level desc, doc_id asc) order — selected or not — plus its own
    * tokens, fits `tokenBudget` (q_level = `qualityCol` rounded to
    * `precision` dp). A doc that overflows is dropped but still advances
    * the cumulative, so the rule is one deterministic window predicate
    * (the DuckDB twin is a single running sum), and total selected tokens
    * never exceed the budget.
    *
    * Scale shape — the naive formulation (global sort + running-sum
    * window) funnels the corpus through ONE window partition; instead:
    *  1. one map-side-combined groupBy builds the per-level token
    *     histogram (≤ 10^precision + 1 rows for [0,1] scores; collect is
    *     guarded like [[packSequences]]' superblocks);
    *  2. the driver walks levels best-first to find the single BOUNDARY
    *     level where the cumulative crosses the budget — every better
    *     level is selected wholesale by a literal comparison (no join,
    *     no sort);
    *  3. only the boundary level's docs (one quality level of the corpus)
    *     pay a prefix sum, and that reuses [[packSequences]]' two-level
    *     distributed cumsum in doc-id order.
    * Null quality sorts below everything (selected only if the budget
    * survives every real level).
    *
    * Returns one row per doc: (doc_id, q_level, n_tokens, selected 0/1).
    */
  def selectByBudget(docs: DataFrame, tokenBudget: Long,
                     qualityCol: String = "quality", idCol: String = "doc_id",
                     textCol: String = "text", tokenCol: Option[String] = None,
                     precision: Int = 4,
                     targetGroups: Long = 1024L): DataFrame = {
    require(tokenBudget > 0, s"tokenBudget must be positive: $tokenBudget")
    val tokens = tokenCol.map(c => col(c).cast("long"))
      .getOrElse(token_stats(col(textCol)).getField("n_tokens_naive"))
    // MATERIALIZED lazily (r20, guide §2.4): the level histogram, the
    // non-boundary slice and the boundary prefix sum each re-ran the token
    // kernel over the corpus; the first job (the histogram collect below)
    // now materializes the narrow (id, level, n_tokens) rows once.
    val sized = docs.select(col(idCol).cast("long").as("doc_id"),
      coalesce(round(nanvl(col(qualityCol).cast("double"), lit(null)), precision),
        lit(Double.NegativeInfinity)).as("q_level"),
      tokens.as("n_tokens")).materialize(false)
    val levels = sized.groupBy("q_level").agg(sum("n_tokens").as("__t"))
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    require(levels.length <= 4_000_000,
      s"quality-level cardinality too large to collect (${levels.length}); lower precision")
    if (levels.isEmpty) return sized.withColumn("selected", lit(1)).limit(0)
    var running = 0L
    var boundary = Option.empty[(Double, Long)] // (level, budget left for it)
    for ((q, t) <- levels.sortBy(-_._1) if boundary.isEmpty) {
      if (running + t > tokenBudget) boundary = Some((q, tokenBudget - running))
      else running += t
    }
    boundary match {
      case None => sized.withColumn("selected", lit(1)) // everything fits
      case Some((b, budgetLeft)) =>
        val nonB = sized.filter(col("q_level") =!= b)
          .withColumn("selected", (col("q_level") > b).cast("int"))
        val bSub = sized.filter(col("q_level") === b)
          .select(lit("").as("__gk"), col("doc_id"), col("n_tokens"))
        val bOut = prefixSum(bSub, targetGroups, "tok_before", idCol).get
          .select(col("doc_id"), lit(b).as("q_level"), col("n_tokens"),
            (col("tok_before") + col("n_tokens") <= budgetLeft).cast("int").as("selected"))
        nonB.select("doc_id", "q_level", "n_tokens", "selected").union(bOut)
    }
  }

  def mixtureOrder(docs: DataFrame, weights: Map[String, Double],
                   groupCol: String, idCol: String = "doc_id",
                   targetGroups: Long = 1024L): DataFrame = {
    require(weights.values.forall(_ > 0), s"positive weights required: $weights")
    // lazy lineage cut for the same three-consumer reason as
    // [[packSequences]] (payload here is cheap, but the corpus scan still
    // repeated per prefixSum consumer)
    val sized = docs.select(col(groupCol).cast("string").as("__gk"),
      col(idCol).cast("long").as("doc_id"), lit(1L).as("n_tokens"))
      .materialize(false)
    val wCol = weights.foldLeft(lit(1.0)) { case (acc, (g, wt)) =>
      when(col("__gk") === g, lit(wt)).otherwise(acc)
    }
    prefixSum(sized, targetGroups, "__rank0", idCol) match {
      case None => sized.select(col("__gk").as(groupCol), col("doc_id"),
        lit(0L).as("rank_in_group"), lit(0.0).as("pos")).limit(0)
      case Some(cum) => cum
        .withColumn("rank_in_group", col("__rank0") + 1)
        .withColumn("pos", round(col("rank_in_group") / wCol, 6))
        .select(col("__gk").as(groupCol), col("doc_id"),
          col("rank_in_group"), col("pos"))
    }
  }

  /** DSIR-style importance weights for data selection (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling" —
    * public method; implementation original): per-document
    * `log p_target(x) − log p_raw(x)` under bag-of-hashed-ngram models.
    * Features are unigrams + bigrams hashed into `buckets` buckets (the
    * repo-wide md5 hash conventions, so the oracle replays them); both
    * distributions are add-one smoothed over the bucket space. A document's
    * weight is `Σ_b n_doc[b] · λ[b]` with
    * `λ[b] = round((ln p_t[b] − ln p_r[b])·10⁶)` — per-bucket log-ratios
    * rounded to micro-nats ONCE, then summed as exact longs
    * (order-independent, engine-exact; the q_perplexity convention).
    * Selecting the top-weight fraction of a raw corpus approximates
    * sampling from the target distribution — the standard
    * domain-targeting / quality-targeting selection step before training.
    *
    * Scale shape: one token+bigram explode per side; per-(doc, bucket)
    * and per-bucket aggregations are map-side combined; the λ table is
    * BUCKETS-bounded (≤ `buckets` rows) and broadcast into the per-doc
    * join; the final exchange carries one row per (doc, bucket) —
    * vocabulary-bounded per doc, never corpus×corpus. No global window:
    * rank/cutoff selection composes downstream (orderBy+limit, or
    * [[Sampling.splitAssign]]-style threshold on the weight).
    */
  def dsirWeights(corpus: DataFrame, target: DataFrame, buckets: Int = 1024,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val docBuckets = dsirFeatBuckets(corpus, textCol, idCol, buckets)
      .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("n"))
    val rawCnt = docBuckets.groupBy("bucket").agg(sum(col("n")).as("rc"))
    val tgtCnt = dsirFeatBuckets(target, textCol, idCol, buckets)
      .groupBy("bucket").agg(count(lit(1)).as("tc"))
    val modelCnt = rawCnt.join(tgtCnt, Seq("bucket"), "left")
      .select(col("bucket"), col("rc"), coalesce(col("tc"), lit(0L)).as("tc"))
    dsirScore(corpus, docBuckets, modelCnt, buckets, idCol)
  }

  /** [[dsirWeights]] when the target is a SLICE of the corpus (the common
    * in-pipeline case: "docs that look like wiki" / "lang = en" / "label =
    * high-quality"): ONE tokenize+explode pass feeds BOTH models — the
    * target flag rides the exploded features, and one fused aggregation
    * produces raw and target counts together. Identical math and output to
    * `dsirWeights(corpus, corpus.filter(isTarget))`, half the scans.
    */
  def dsirWeightsSlice(corpus: DataFrame, isTarget: Column, buckets: Int = 1024,
                       textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    // MATERIALIZED (r19): the per-(doc, bucket) counts feed BOTH the model
    // count table and the scoring join — without the lineage cut each ran
    // its own kernel+explode+aggregate pass over the corpus. Narrow rows
    // (id, bucket, n, tn), ≤ `buckets` per doc; per-call state only.
    val docBuckets = dsirFeatBuckets(corpus, textCol, idCol, buckets, Some(isTarget))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__t"), lit(1L)).otherwise(lit(0L))).as("tn"))
      .materialize(true)
    val modelCnt = docBuckets.groupBy("bucket")
      .agg(sum(col("n")).as("rc"), sum(col("tn")).as("tc"))
    dsirScore(corpus, docBuckets.select(col(idCol), col("bucket"), col("n")),
      modelCnt, buckets, idCol)
  }

  /** One compiled kernel pass + ONE 8-byte/feature explode per document:
    * [[graft.functions.DsirBucketsExpr]] tokenizes once and emits the
    * hashed unigram+bigram bucket MULTISET directly — no per-feature
    * string column ever materializes.
    */
  private def dsirFeatBuckets(df: DataFrame, textCol: String, idCol: String,
                              buckets: Int, isTarget: Option[Column] = None): DataFrame =
    df.select(Seq(col(idCol),
      explode(dsir_buckets(col(textCol), buckets)).as("bucket")) ++
      isTarget.map(_.as("__t")).toSeq: _*)

  /** Shared scoring tail: λ[b] = micro-nat rounded log-ratio of the add-one
    * smoothed models (BUCKETS-bounded, broadcast), per-doc exact long sums.
    */
  private def dsirScore(corpus: DataFrame, docBuckets: DataFrame, modelCnt: DataFrame,
                        buckets: Int, idCol: String): DataFrame = {
    val tots = modelCnt.agg(coalesce(sum("rc"), lit(0L)).as("rt"),
      coalesce(sum("tc"), lit(0L)).as("tt"))
    val lam = modelCnt.crossJoin(broadcast(tots))
      .select(col("bucket"),
        round((log((col("tc") + lit(1.0)) / (col("tt") + lit(buckets))) -
               log((col("rc") + lit(1.0)) / (col("rt") + lit(buckets)))) * 1e6)
          .cast("long").as("lam"))
    val perDoc = docBuckets.join(broadcast(lam), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(sum(col("n")).as("n_feats"), sum(col("n") * col("lam")).as("s"))
    corpus.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(round(col("s") / 1e6, 6), lit(0.0)).as("log_ratio"))
  }

  /** Corpus distribution DRIFT between two document sets over the hashed
    * unigram+bigram buckets (the DSIR feature space): add-one-smoothed
    * KL(A‖B), KL(B‖A) and Jensen–Shannon divergence — the "did this dump
    * shift the corpus" monitor a recurring ingest runs before accepting a
    * dump (JS near 0 = same distribution; rising JS = topic/language/
    * boilerplate drift worth a look before training on it).
    *
    * Scale: one kernel scan per side → bucket counts (map-side combined,
    * ≤ `buckets` rows each) → a buckets-sized full-outer join → per-bucket
    * divergence contributions quantized to NANO-nats and summed as longs
    * (exact, order-free — the engine discipline), so the DuckDB twin
    * replays it term by term. Output: one row —
    * (n_feats_a, n_feats_b, kl_ab, kl_ba, js) in nats, 6 dp.
    */
  def distributionDrift(a: DataFrame, b: DataFrame, buckets: Int = 1024,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    def cnt(df: DataFrame, out: String) =
      df.select(explode(dsir_buckets(col(textCol), buckets)).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as(out))
    val joined = cnt(a, "ca").join(cnt(b, "cb"), Seq("bucket"), "full_outer")
      .select(col("bucket"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val tots = joined.agg(sum("ca").as("na"), sum("cb").as("nb"))
    val bD = lit(buckets.toDouble)
    def terms(caC: Column, cbC: Column) = {
      val pa = (caC + lit(1.0)) / (col("na") + bD)
      val pb = (cbC + lit(1.0)) / (col("nb") + bD)
      val m = (pa + pb) / lit(2.0)
      def nano(c: Column) = round(c * lit(1e9)).cast("long")
      (nano(pa * log(pa / pb)), nano(pb * log(pb / pa)),
        nano(pa * log(pa / m) / lit(2.0) + pb * log(pb / m) / lit(2.0)))
    }
    val (tab, tba, tjs) = terms(col("ca"), col("cb"))
    // buckets seen by NEITHER corpus still carry smoothed mass — when
    // na ≠ nb their identical per-bucket terms are nonzero (omitting them
    // can even drive KL negative); they are (buckets − n_present) copies
    // of the ca=0, cb=0 term, added analytically after the agg
    val (zab, zba, zjs) = terms(lit(0.0), lit(0.0))
    joined.crossJoin(broadcast(tots))
      .select(col("na"), col("nb"),
        tab.as("__ab"), tba.as("__ba"), tjs.as("__js"))
      .groupBy("na", "nb")
      .agg(sum("__ab").as("sab"), sum("__ba").as("sba"), sum("__js").as("sjs"),
        count(lit(1)).as("__npresent"))
      .select(col("na").as("n_feats_a"), col("nb").as("n_feats_b"),
        round((col("sab") + (lit(buckets.toLong) - col("__npresent")) * zab) / 1e9, 6).as("kl_ab"),
        round((col("sba") + (lit(buckets.toLong) - col("__npresent")) * zba) / 1e9, 6).as("kl_ba"),
        round((col("sjs") + (lit(buckets.toLong) - col("__npresent")) * zjs) / 1e9, 6).as("js"))
  }

  // ---- hashed logistic-regression quality classifier ----

  /** Train a hashed-feature logistic-regression text classifier — the
    * fastText/CCNet move ("train a tiny linear model on wiki-vs-crawl, keep
    * what scores wiki-like") made a first-class engine op. Features are the
    * SAME hashed unigram+bigram buckets DSIR uses ([[graft.functions.DsirBucketsExpr]]
    * — one compiled-kernel pass, 8 B/feature), x = L1-normalized bucket
    * counts, y = `isPositive`. Full-batch gradient descent, `iters` steps.
    *
    * DETERMINISM (the engine-wide scaled-long discipline): the margin is an
    * EXACT long dot product (feature count × µ-scaled weight); the only
    * per-doc double math is the sigmoid, immediately re-quantized to a
    * nano-scaled long factor, so every cross-row aggregation sums LONGS —
    * bit-identical across partitionings, and the DuckDB twin replays
    * training outright (unrolled iterations of the same integer pipeline).
    *
    * Scale: the feature table materializes ONCE (lazy localCheckpoint,
    * forced by the doc-count job) and each iteration is ONE pass over its
    * blocks — the per-doc margin and feature count ride the rows as
    * doc-keyed window sums (groups bounded by a doc's feature count), then
    * one map-side-combined per-bucket gradient aggregation — plus a
    * BROADCAST of the ≤`buckets`-row weight table; per-iteration cost is
    * two bounded shuffles, weights live on the driver (buckets ≈ 2¹⁰⁻²⁰,
    * megabytes at most). Docs with
    * zero features are excluded from training (no gradient signal) and
    * score σ(0) = 0.5 at inference.
    *
    * Returns the trained weight table (bucket, w_micro) — persist it next
    * to the corpus like any other model artifact.
    */
  def trainQualityClassifier(docs: DataFrame, isPositive: Column,
                             buckets: Int = 1024, iters: Int = 2, lr: Double = 10.0,
                             textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(buckets > 0 && iters >= 1 && lr > 0,
      s"need buckets > 0, iters >= 1, lr > 0: $buckets/$iters/$lr")
    val spark = docs.sparkSession
    import spark.implicits._
    // r20 (VERDICT r19 #5): feats' checkpoint is LAZY — the nDocs count
    // below is the one blocking job and it materializes the blocks; and
    // each GD iteration is ONE pass over those blocks instead of three
    // (margins agg + perDoc join + gradient join): the per-doc margin and
    // feature count ride the feature rows as doc-keyed window sums
    // (bounded groups — a doc's feature rows), so the perDoc table, its
    // checkpoint job and both per-iteration joins disappear. All window
    // sums are over exact longs; fn is computed per row from the same
    // per-doc (mm, nd, y) the join version attached, so every gradient is
    // bit-identical.
    val feats = docs.select(col(idCol), isPositive.cast("boolean").as("__y"),
        explode(dsir_buckets(col(textCol), buckets)).as("bucket"))
      .groupBy(col(idCol), col("__y"), col("bucket")).agg(count(lit(1)).as("n"))
      .materialize(false)
    val nDocs = feats.select(col(idCol)).distinct().count()
    require(nDocs > 0, "no documents with features to train on")
    val wid = Window.partitionBy(col(idCol))
    var w = Map.empty[Long, Long] // bucket -> µ-scaled weight
    for (_ <- 1 to iters) {
      val wDf = broadcast(spark.createDataset(
        if (w.isEmpty) Seq((-1L, 0L)) else w.toSeq).toDF("bucket", "wm"))
      // exact long margin: Σ n·wm; sigmoid → (p − y)/nd re-quantized to
      // nano units so the gradient sum below is again exact longs
      val grads = feats.join(wDf, Seq("bucket"), "left")
        .withColumn("mm", sum(col("n") * coalesce(col("wm"), lit(0L))).over(wid))
        .withColumn("nd", sum(col("n")).over(wid))
        .withColumn("fn",
          round(((lit(1.0) / (lit(1.0) + exp(-(col("mm") / (lit(1e6) * col("nd")))))) -
            when(col("__y"), lit(1.0)).otherwise(lit(0.0))) / col("nd") * lit(1e9))
            .cast("long"))
        .groupBy(col("bucket"))
        .agg(sum(col("n") * col("fn")).as("gn"))
        .as[(Long, Long)].collect()
      // HALF_UP (away from zero) — the rounding Spark's round() and the
      // DuckDB twin both use; Math.round would differ on negative .5s
      def halfUp(x: Double): Long =
        BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      w = grads.map { case (b, gn) =>
        b -> (w.getOrElse(b, 0L) - halfUp(lr * gn / (1000.0 * nDocs)))
      }.toMap ++ (w -- grads.map(_._1)) // untouched buckets keep their weight
    }
    // the returned weight table is driver-built — the checkpointed feature
    // tables are dead here; release their blocks NOW instead of waiting for
    // a driver GC (a bench/ingest loop calling train repeatedly would
    // otherwise accumulate dead blocks in the block manager)
    graft.core.Checkpoints.release(feats)
    spark.createDataset(w.toSeq.sortBy(_._1)).toDF("bucket", "w_micro")
  }

  /** Score documents with a [[trainQualityClassifier]] weight table:
    * score = σ(exact-long margin / (10⁶·n_feats)) rounded 6 dp,
    * pred = score ≥ 0.5. One kernel scan + one broadcast join + one
    * map-side-combined per-doc sum; zero-feature docs score 0.5.
    */
  def scoreQualityClassifier(docs: DataFrame, weights: DataFrame,
                             buckets: Int = 1024, textCol: String = "text",
                             idCol: String = "doc_id"): DataFrame = {
    val feats = docs.select(col(idCol),
        explode(dsir_buckets(col(textCol), buckets)).as("bucket"))
      .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("n"))
    val perDoc = feats.join(broadcast(weights.select(col("bucket"), col("w_micro"))),
        Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("n")).as("n_feats"),
        sum(col("n") * coalesce(col("w_micro"), lit(0L))).as("mm"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        round(when(col("n_feats").isNull, lit(0.5))
          .otherwise(lit(1.0) / (lit(1.0) +
            exp(-(col("mm") / (lit(1e6) * col("n_feats")))))), 6).as("score"))
      .withColumn("pred", (col("score") >= 0.5).cast("int"))
  }
}
