package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Warc

/** One-call crawl front door: WARC archives in, clean deduplicated training
  * documents out — the composition of the pieces this engine ships
  * individually ([[graft.sources.WarcCodec]] → [[Html]] → [[Urls]]), each
  * of which is oracle-gated on its own (q_warc_extract, q_html_extract,
  * q_boilerplate, q_url_canon, q_url_dedup).
  *
  * Pipeline (the CCNet/C4 front-end order — cheapest filters first):
  *  1. stream-parse the archives (executor-opened files, one record in
  *     memory at a time);
  *  2. keep HTTP 200 HTML responses only;
  *  3. canonicalize URLs, drop blocklisted domains (string ops — before
  *     any content work);
  *  4. URL-level dedup: first record per canonical URL survives (min
  *     (crawl file, record index) — re-crawls and tracking variants drop
  *     before the expensive content stages);
  *  5. extract text ([[Html.extractText]]) + line-level boilerplate drop.
  *
  * Output: (doc_id, url_canon, url_domain, title, n_links, text) — doc_id
  * is a deterministic 60-bit hash of the canonical URL, the join key the
  * downstream stages (langID / quality / content dedup / packing) expect.
  * Everything after the per-URL dedup groupBy is projection-only; the one
  * shuffle carries (url, small fields), never archive bytes.
  */
object Crawl {

  /** Request target for robots-rule matching: everything from the first
    * `/` or `?` after the authority (RFC 9309 matches on path + query).
    * The authority match stops at `?`/`#` too, so a query-only canonical
    * URL (`scheme://host?q=1`) yields `/?q=1` — wildcard Disallow rules
    * targeting the query apply — instead of the query being swallowed into
    * the host and the rule silently bypassed. Empty/no match defaults
    * to `/`.
    */
  private[ops] def robotsPath(urlCanon: Column): Column = {
    val tail = regexp_extract(urlCanon, "^[a-z]+://[^/?#]+([/?].*)?$", 1)
    when(tail === "", lit("/"))
      .when(tail.startsWith("?"), concat(lit("/"), tail))
      .otherwise(tail)
  }

  /** Broadcast anti-join against a `(domain)` blocklist — string ops
    * only, before any content work or exchange.
    */
  private def applyBlocklist(canon: DataFrame,
                             blockedDomains: Option[DataFrame]): DataFrame =
    blockedDomains match {
      case Some(bl) =>
        require(bl.columns.contains("domain"),
          s"blocklist needs a 'domain' column: ${bl.columns.mkString(",")}")
        canon.join(
          broadcast(bl.select(lower(col("domain")).as("url_domain")).distinct()),
          Seq("url_domain"), "left_anti")
      case None => canon
    }

  /** robots.txt politeness: broadcast the per-host robots bodies, evaluate
    * the longest-match rules with the compiled kernel on the URL's
    * path+query, keep rows with no robots row (allowed by default) or an
    * allow verdict. Runs before the dedup exchange: disallowed bodies
    * never shuffle.
    */
  private def applyRobots(allowed: DataFrame, robots: Option[DataFrame],
                          agent: String): DataFrame =
    robots match {
      case Some(rb) =>
        require(rb.columns.contains("host") && rb.columns.contains("robots_txt"),
          s"robots table needs (host, robots_txt) columns: ${rb.columns.mkString(",")}")
        allowed
          .join(broadcast(rb.select(lower(col("host")).as("url_host"),
            col("robots_txt").as("__robots"))), Seq("url_host"), "left")
          .filter(col("__robots").isNull ||
            Robots.allowedColumn(col("__robots"), robotsPath(col("url_canon")), agent))
          .drop("__robots")
      case None => allowed
    }

  /** @param robots optional politeness table `(host, robots_txt)` — one
    *   row per site authority (RFC 9309 scopes robots.txt per authority;
    *   pass registrable domains as hosts if that's the crawl's fetch
    *   granularity). Broadcast-joined on the canonical host BEFORE the
    *   URL-dedup exchange, so disallowed records neither shuffle their
    *   bodies nor reach extraction; hosts absent from the table are
    *   allowed (no robots.txt ⇒ everything crawlable, RFC 9309 §2.3.1.2).
    * @param agent product token the rules are evaluated for.
    * @param fixMojibake opt-in ftfy-style repair applied to the
    *   EXTRACTED text in the same projection (see [[ingestWet]] — here
    *   it catches pages whose declared charset lies about an upstream
    *   double-encoding). Off by default: plans stay byte-stable.
    * @param blockBoilerplate opt-in jusText block-level boilerplate
    *   (Pomikálek 2011 — [[Justext.goodText]], the CCNet-grade upgrade
    *   of the line rule): HTML rows classify whole blocks by
    *   link/length/stopword density with context-sensitive revision,
    *   IN-ROW via the compiled kernel so the one-exchange ingest plan is
    *   unchanged; PDF/DOCX/EPUB/plain rows (no markup to segment) keep
    *   the line rule. Off by default: existing outputs stay byte-stable.
    */
  def ingest(spark: SparkSession, warcDir: String,
             blockedDomains: Option[DataFrame] = None,
             minTextChars: Int = 1,
             robots: Option[DataFrame] = None,
             agent: String = "graftbot",
             fixMojibake: Boolean = false,
             blockBoilerplate: Boolean = false): DataFrame = {
    // header names/values are case-insensitive (RFC 9110): match
    // 'Text/HTML' too, and honour a declared charset parameter (with a
    // <meta charset> prescan fallback below — bodies arrive already
    // de-chunked and Content-Encoding-inflated from the WARC HTTP
    // parse). PDFs (application/pdf), DOCX (the wordprocessingml OOXML
    // type) and EPUB (application/epub+zip) ride the SAME pipeline —
    // URL canonicalization, blocklist, robots, first-per-URL dedup —
    // and route to the PdfCodec / DocxCodec / EpubCodec text kernels at
    // extraction instead of the HTML passes.
    val DocxType = "application/vnd.openxmlformats-officedocument.wordprocessingml"
    val EpubType = "application/epub+zip"
    val records = Warc.readWarcFiles(spark, warcDir)
      .filter(col("http_status") === 200 &&
        (lower(col("http_content_type")).startsWith("text/html") ||
          lower(col("http_content_type")).startsWith("text/plain") ||
          lower(col("http_content_type")).startsWith("application/pdf") ||
          lower(col("http_content_type")).startsWith(EpubType) ||
          lower(col("http_content_type")).startsWith(DocxType)))
      .select(col("path"), col("rec_idx"), col("target_uri").as("url"), col("body"),
        lower(col("http_content_type")).startsWith("application/pdf").as("is_pdf"),
        lower(col("http_content_type")).startsWith(DocxType).as("is_docx"),
        lower(col("http_content_type")).startsWith(EpubType).as("is_epub"),
        lower(col("http_content_type")).startsWith("text/plain").as("is_txt"),
        lower(regexp_extract(col("http_content_type"),
          "(?i)charset=\"?([A-Za-z0-9_\\-]+)", 1)).as("charset"))
    val canon = Urls.canonicalize(records).filter(col("url_canon").isNotNull)
    val polite = applyRobots(applyBlocklist(canon, blockedDomains), robots, agent)
    // first-per-canonical-URL: min_by keyed on (path, rec_idx) — one
    // map-side-combined exchange on the canonical URL; deterministic
    // because (archive name, record ordinal) totally orders the crawl.
    // ONE min_by over the record's columns: (path, rec_idx) is unique, so
    // it picks the same record six per-column min_bys would, with one
    // ordering comparison and one aggregation buffer instead of six
    val recordCols = Seq("body", "charset", "is_pdf", "is_docx", "is_epub", "is_txt")
    val deduped = polite
      .groupBy("url_canon", "url_domain")
      .agg(min_by(struct(recordCols.map(col): _*), struct(col("path"), col("rec_idx"))).as("__rec"))
      .select(col("url_canon") +: col("url_domain") +: recordCols.map(c => col(s"__rec.$c")): _*)
    // extraction columns inlined (not Html.extractText) so url_domain rides
    // the same projection — no join back, nothing after the dedup shuffles.
    // Decode honours the surviving record's declared charset through the
    // JVM's FULL charset table (Spark's built-in `decode` rejects
    // windows-1252 — a top-3 crawl encoding — with a runtime error);
    // unknown names and undecodable bytes fall back to UTF-8/U+FFFD — a
    // crawl row must never fail the job
    val isDoc = col("is_pdf") || col("is_docx") || col("is_epub")
    // charset resolution chain (HTML spec prescan order): the header's
    // charset parameter wins; otherwise sniff a `<meta charset=...>` /
    // `<meta http-equiv content="...charset=..."` declaration from the
    // first 1024 BODY BYTES decoded as latin-1 (ASCII-superset, never
    // fails — the prescan window the HTML spec prescribes); otherwise
    // UTF-8. Runs AFTER the URL dedup so only surviving records pay it.
    val sniffedCharset = lower(regexp_extract(
      graft.functions.textkernel.decode_charset(
        substring(col("body"), 1, 1024), lit("iso-8859-1")),
      "(?i)<meta[^>]{0,512}?charset\\s*=\\s*[\"']?([A-Za-z0-9_\\-]+)", 1))
    val effCharset = when(col("charset") =!= "", col("charset"))
      .when(sniffedCharset =!= "", sniffedCharset)
      .otherwise(lit("utf-8"))
    // `html` = the charset-decoded body for markup AND plain-text rows
    // (both need the decode; binary documents skip it)
    val withHtml = deduped.withColumn("html",
      when(isDoc, lit(null).cast("string"))
        .otherwise(graft.functions.textkernel.decode_charset(col("body"), effCharset)))
    // PDF/DOCX rows extract through their codec kernels in the SAME
    // projection (coalesce: an unparseable document yields empty text and
    // is length-filtered out below, the garbage-in posture); text/plain
    // IS its decoded body; titles/links are HTML concepts — empty/zero
    // for documents and plain text
    val isPlainy = isDoc || col("is_txt")
    // block mode: HTML rows get jusText GOOD-block text straight from the
    // kernel (already boilerplate-filtered); the line rule below then
    // applies only to the markup-less routes
    val htmlText =
      if (blockBoilerplate) graft.functions.textkernel.justext_text(col("html"))
      else Html.extractColumn(col("html"))
    val extracted = withHtml.select(col("url_canon"), col("url_domain"),
      isPlainy.as("__plainy"),
      when(isPlainy, lit("")).otherwise(
        Html.titleColumn(col("html"))).as("title"),
      when(isPlainy, lit(0L)).otherwise(
        regexp_count(col("html"), lit("(?i)<a\\b")).cast("long")).as("n_links"),
      when(col("is_pdf"),
        coalesce(graft.functions.textkernel.pdf_text(col("body")), lit("")))
        .when(col("is_docx"),
          coalesce(graft.functions.textkernel.docx_text(col("body")), lit("")))
        .when(col("is_epub"),
          coalesce(graft.functions.textkernel.epub_text(col("body")), lit("")))
        .when(col("is_txt"), col("html"))
        .otherwise(htmlText).as("text"))
    val repaired =
      if (fixMojibake)
        extracted
          .withColumn("text", graft.functions.textkernel.fix_mojibake(col("text")))
          // the title is extracted from the same garbled markup — repair
          // it too, or dedup keys/display ship the mojibake the flag
          // exists to remove
          .withColumn("title", graft.functions.textkernel.fix_mojibake(col("title")))
      else extracted
    val boiled =
      if (blockBoilerplate)
        repaired.withColumn("text",
          when(col("__plainy"), Html.keptLinesColumn(col("text")))
            .otherwise(col("text")))
      else Html.dropBoilerplateLines(repaired)
    boiled
      .filter(length(col("text")) >= minTextChars)
      .select(
        graft.functions.textfn.hexhash60(col("url_canon")).as("doc_id"),
        col("url_canon"), col("url_domain"), col("title"), col("n_links"),
        col("text"))
  }

  /** WET front door (r17): Common Crawl's `*.warc.wet.gz` extracted-text
    * sidecars — the input most training pipelines actually start from
    * (CCNet, C4 and RefinedWeb all read WET, not raw WARC). A WET shard
    * is a WARC file whose payload records are `WARC-Type: conversion`
    * with `Content-Type: text/plain` and a UTF-8 body that IS the page
    * text (the crawler already ran HTML extraction), prefixed by a
    * `warcinfo` header record this filter drops.
    *
    * The pipeline is [[ingest]] minus the stages WET has already paid —
    * no HTTP envelope, no content-type routing, no charset chain (WET is
    * UTF-8 by the format spec), no HTML/codec extraction — and keeps the
    * ones it has not: URL canonicalization, domain blocklist, robots
    * politeness, first-per-canonical-URL dedup (re-crawls appear in WET
    * too) and the line-level boilerplate filter (WET text famously
    * retains nav/menu lines — the filter is MORE load-bearing here than
    * on self-extracted text). Same output schema and doc_id derivation
    * as [[ingest]], so every downstream stage is source-agnostic. Plan
    * shape: one exchange (the URL dedup), text bytes shuffle once inside
    * it, everything after is projection-only.
    */
  /** @param fixMojibake opt-in ftfy-style repair
    *   ([[graft.functions.textkernel.fix_mojibake]]) applied to the
    *   decoded text in the SAME projection — old WET vintages carry
    *   upstream cp1252/UTF-8 double-encodings the crawler baked in.
    *   Row-local, adds no exchange; off by default so the plan is
    *   byte-stable for existing callers.
    */
  def ingestWet(spark: SparkSession, wetDir: String,
                blockedDomains: Option[DataFrame] = None,
                minTextChars: Int = 1,
                robots: Option[DataFrame] = None,
                agent: String = "graftbot",
                fixMojibake: Boolean = false): DataFrame = {
    val records = Warc.readWarcFiles(spark, wetDir,
        extensions = Seq(".wet", ".wet.gz", ".wet.zst"))
      .filter(col("warc_type") === "conversion" &&
        lower(col("content_type")).startsWith("text/plain") &&
        col("target_uri").isNotNull && col("target_uri") =!= "")
      .select(col("path"), col("rec_idx"), col("target_uri").as("url"),
        col("body"))
    val canon = Urls.canonicalize(records).filter(col("url_canon").isNotNull)
    val polite = applyRobots(applyBlocklist(canon, blockedDomains), robots, agent)
    val deduped = polite
      .groupBy("url_canon", "url_domain")
      .agg(min_by(col("body"), struct(col("path"), col("rec_idx"))).as("body"))
    val decoded =
      graft.functions.textkernel.decode_charset(col("body"), lit("utf-8"))
    val textCol =
      if (fixMojibake) graft.functions.textkernel.fix_mojibake(decoded)
      else decoded
    val extracted = deduped.select(col("url_canon"), col("url_domain"),
      lit("").as("title"), lit(0L).as("n_links"), textCol.as("text"))
    Html.dropBoilerplateLines(extracted)
      .filter(length(col("text")) >= minTextChars)
      .select(
        graft.functions.textfn.hexhash60(col("url_canon")).as("doc_id"),
        col("url_canon"), col("url_domain"), col("title"), col("n_links"),
        col("text"))
  }
}
