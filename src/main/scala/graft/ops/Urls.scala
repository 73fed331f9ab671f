package graft.ops

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.CollationSupport
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** URL canonicalization, URL-level dedup, and domain filtering — the crawl
  * bookkeeping stage of a training-data pipeline (CCNet/C4 both dedup at
  * the URL level and drop blocklisted domains before any content work,
  * because it is orders of magnitude cheaper than content dedup: one
  * string-normalize + one hash-groupBy vs shingling the text).
  *
  * Canonicalization is DETERMINISTIC sequential decomposition + passes
  * (same oracle discipline as [[Html]]/[[TextAnalysis.redactPii]]): parts
  * are extracted with shared regexes, then the query string loses tracking
  * parameters via ordered regex passes that stay in the Java-regex ∩ RE2
  * common subset, run by one row kernel with precompiled patterns.
  * Everything is a per-row projection — zero exchanges until the
  * (map-side-combined) dedup groupBy.
  */
object Urls {

  /** `scheme://` grammar prefix (RFC 3986 scheme chars). */
  private val SchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"

  /** Query parameters that vary per-visitor, not per-content: analytics
    * campaign tags and click ids. Dropping them is what makes URL dedup
    * actually fire on crawl data (the same article arrives once per
    * campaign otherwise).
    */
  val TrackingParams: Seq[String] =
    Seq("utm_[a-z]+", "fbclid", "gclid", "msclkid", "ref")

  /** Canonical form, null for input that is not `scheme://...`:
    *  1. scheme and host lowercase (path/query case is significant — kept);
    *  2. leading `www.` and a scheme-default port (`:80` http / `:443`
    *     https) drop from the host;
    *  3. the `#fragment` drops (client-side only — same resource);
    *  4. tracking parameters ([[TrackingParams]]) drop from the QUERY
    *     part only (path and query split at the first `?` first — a
    *     literal `&` in a query-less path is legal per RFC 3986 pchar and
    *     must survive untouched), then the query tidies: runs of `&`
    *     collapse, leading/trailing `&` drop, an emptied query drops its
    *     `?`;
    *  5. an empty path becomes `/` (`http://a.com` ≡ `http://a.com/`).
    *
    * Evaluated by one row kernel ([[graft.functions.textkernel.canonical_url]],
    * body [[canonical]]) with precompiled patterns. Written as a Column
    * chain of trim/lower/regexp_extract/regexp_replace, the same steps
    * inlined every regex at each use site: a ~450 KB whole-stage class
    * with ~130 `Pattern.compile`s, compiled on the driver and again in a
    * task for every plan that canonicalizes.
    */
  def canonicalColumn(url: Column): Column =
    graft.functions.textkernel.canonical_url(url)

  private val SchemeP = Pattern.compile(SchemeRe)
  private val HostP = Pattern.compile(SchemeRe + "([^/?#]*)")
  private val WwwP = Pattern.compile("^www\\.")
  private val HttpPortP = Pattern.compile(":80$")
  private val HttpsPortP = Pattern.compile(":443$")
  private val RestP = Pattern.compile(SchemeRe + "[^/?#]*((?s).*)$")
  private val FragmentP = Pattern.compile("(?s)#.*$")
  private val PathP = Pattern.compile("(?s)^([^?]*)")
  private val BeforeQueryP = Pattern.compile("(?s)^[^?]*\\?")
  private val TrackingP = Pattern.compile(s"(?i)&(${TrackingParams.mkString("|")})=[^&#]*")
  private val AmpRunP = Pattern.compile("&{2,}")
  private val AmpEdgeP = Pattern.compile("^&|&$")

  /** Spark's `regexp_extract`: the group of the first match, `""` when
    * nothing (or a non-participating group) matches.
    */
  private def extract(p: Pattern, s: String, group: Int): String = {
    val m = p.matcher(s)
    if (!m.find()) "" else { val g = m.group(group); if (g == null) "" else g }
  }

  private def replace(p: Pattern, s: String, by: String): String = p.matcher(s).replaceAll(by)

  /** [[canonicalColumn]] over one value, step for step with Spark's string
    * functions: `trim` strips ASCII spaces only (tabs and newlines stay),
    * `lower` is Spark's UTF8_BINARY lower (ICU case mapping unless
    * `spark.sql.icu.caseMappings.enabled` is off), and the regexes are the
    * ones the Column form ran, in the same order.
    */
  private[graft] def canonical(url: UTF8String, icuLower: Boolean): UTF8String = {
    def lower(s: String): String = {
      val u = UTF8String.fromString(s)
      (if (icuLower) CollationSupport.Lower.execBinaryICU(u)
       else CollationSupport.Lower.execBinary(u)).toString
    }
    val u = url.trim().toString
    val scheme = lower(extract(SchemeP, u, 1))
    if (scheme.isEmpty) return null
    val host1 = replace(WwwP, lower(extract(HostP, u, 2)), "")
    val host = scheme match {
      case "http"  => replace(HttpPortP, host1, "")
      case "https" => replace(HttpsPortP, host1, "")
      case _       => host1
    }
    if (host.isEmpty) return null
    val rest1 = replace(FragmentP, extract(RestP, u, 2), "")
    // split path/query at the FIRST `?` before touching tracking params:
    // stripping `?utm=x` textually and restoring the `?` afterwards turned
    // a legal literal `&` in a query-less path (http://a.com/a&b, RFC 3986
    // pchar) into a bogus `?` (r8 advice)
    val path = extract(PathP, rest1, 1)
    val query0 = if (rest1.indexOf('?') >= 0) replace(BeforeQueryP, rest1, "") else ""
    // uniform `&name=value` matching via a sentinel `&`, then tidy
    val query1 = replace(TrackingP, "&" + query0, "")
    val query2 = replace(AmpEdgeP, replace(AmpRunP, query1, "&"), "")
    val rest5 = if (query2.isEmpty) path else path + "?" + query2
    val rest = if (rest5.isEmpty) "/" else rest5
    UTF8String.fromString(scheme + "://" + host + rest)
  }

  /** Registrable domain of the canonical host, resolved against the
    * embedded Public Suffix List snapshot ([[PublicSuffix]]): longest
    * matching public suffix plus one label, so `blog.example.co.uk` →
    * `example.co.uk` (the last-two-labels heuristic collapsed every co.uk
    * site to `co.uk`, merging unrelated domains — r8 advice). Extending
    * coverage = swapping the snapshot data behind this seam.
    */
  def domainColumn(canonicalHost: Column): Column =
    graft.functions.textkernel.registrable_domain(canonicalHost)

  /** Canonicalize a URL column: adds `url_canon`, `url_host`, `url_domain`
    * (null/empty for rows whose url does not parse — keep them visible for
    * a quality gate rather than silently dropping).
    */
  def canonicalize(docs: DataFrame, urlCol: String = "url"): DataFrame = {
    // host derives from the url_canon COLUMN and domain from url_host —
    // NOT from re-embedded expression trees: inlining the ~10-regex canon
    // chain into host (and again, twice, under the interpreted-eval domain
    // kernel) evaluated it ~4x per row, a measured 4.4x slowdown of the
    // whole projection. Referencing the alias keeps one evaluation per
    // row; CollapseProject leaves multiply-referenced non-cheap aliases
    // staged, which is exactly the layout wanted here.
    docs.withColumn("url_canon", canonicalColumn(col(urlCol)))
      .withColumn("url_host", when(col("url_canon").isNull, lit("")).otherwise(
        regexp_extract(col("url_canon"), SchemeRe + "([^/?#]*)", 2)))
      .withColumn("url_domain", domainColumn(col("url_host")))
  }

  /** URL-level dedup: one map-side-combined groupBy on the canonical form
    * (the [[Dedup.exact]] shape — shuffle carries one row per distinct
    * canonical URL per partition). Returns (url_canon, n_dups, keeper_id)
    * with keeper = min id; unparseable rows (null canon) are excluded —
    * they have no meaningful URL identity.
    */
  def dedupByUrl(docs: DataFrame, urlCol: String = "url",
                 idCol: String = "doc_id"): DataFrame =
    canonicalize(docs, urlCol)
      .filter(col("url_canon").isNotNull)
      .groupBy("url_canon")
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keeper_id"))

  /** Drop rows whose registrable domain is blocklisted. The blocklist is a
    * fixed curated set (thousands of rows at most) — BROADCAST anti-join,
    * the corpus never moves.
    */
  def domainFilter(docs: DataFrame, blockedDomains: DataFrame,
                   urlCol: String = "url"): DataFrame = {
    require(blockedDomains.columns.contains("domain"),
      s"blocklist needs a 'domain' column: ${blockedDomains.columns.mkString(",")}")
    canonicalize(docs, urlCol)
      .join(broadcast(blockedDomains.select(lower(col("domain")).as("url_domain")).distinct()),
        Seq("url_domain"), "left_anti")
  }
}
