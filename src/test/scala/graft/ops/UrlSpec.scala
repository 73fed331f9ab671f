package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.TestSpark

class UrlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def canon(url: String): String = {
    val r = Urls.canonicalize(Seq((1L, url)).toDF("doc_id", "url")).head()
    r.getAs[String]("url_canon")
  }

  test("golden canonicalization table") {
    val cases = Seq(
      "HTTP://WWW.Example.COM" -> "http://example.com/",
      "http://example.com:80/a" -> "http://example.com/a",
      "https://example.com:443/a" -> "https://example.com/a",
      "https://example.com:8443/a" -> "https://example.com:8443/a", // non-default port kept
      "http://example.com:443/a" -> "http://example.com:443/a",    // 443 is not http's default
      "http://example.com/A/B?Q=1" -> "http://example.com/A/B?Q=1", // path/query case kept
      "http://example.com/a#frag" -> "http://example.com/a",
      "http://example.com/a?utm_source=x" -> "http://example.com/a",
      "http://example.com/a?utm_source=x&b=2" -> "http://example.com/a?b=2",
      "http://example.com/a?b=2&utm_source=x" -> "http://example.com/a?b=2",
      "http://example.com/a?b=2&ref=z&c=3" -> "http://example.com/a?b=2&c=3",
      // literal `&` in a query-less path is legal (RFC 3986 pchar) and must
      // NOT become a `?` (r8 advice fix) — with or without tracking params
      "http://a.com/a&b" -> "http://a.com/a&b",
      "http://a.com/a&b?utm_source=x" -> "http://a.com/a&b",
      "http://a.com/a&b?utm_source=x&c=1" -> "http://a.com/a&b?c=1",
      "  http://example.com/a  " -> "http://example.com/a")
    cases.foreach { case (in, want) => assert(canon(in) == want, s"for $in") }
  }

  /** The Column chain `canonicalColumn` was before it became one row
    * kernel — the reference the kernel must reproduce value for value.
    */
  private def chainCanonical(url: Column): Column = {
    val schemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"
    val u = trim(url)
    val scheme = lower(regexp_extract(u, schemeRe, 1))
    val host0 = lower(regexp_extract(trim(url), schemeRe + "([^/?#]*)", 2))
    val host1 = regexp_replace(host0, "^www\\.", "")
    val host = when(scheme === "http", regexp_replace(host1, ":80$", ""))
      .when(scheme === "https", regexp_replace(host1, ":443$", ""))
      .otherwise(host1)
    val rest0 = regexp_extract(u, schemeRe + "[^/?#]*((?s).*)$", 2)
    val rest1 = regexp_replace(rest0, "(?s)#.*$", "")
    val path = regexp_extract(rest1, "(?s)^([^?]*)", 1)
    val query0 = when(instr(rest1, "?") > 0,
      regexp_replace(rest1, "(?s)^[^?]*\\?", "")).otherwise(lit(""))
    val query1 = regexp_replace(concat(lit("&"), query0),
      s"(?i)&(${Urls.TrackingParams.mkString("|")})=[^&#]*", "")
    val query2 = regexp_replace(regexp_replace(query1, "&{2,}", "&"), "^&|&$", "")
    val rest5 = when(query2 === "", path).otherwise(concat(path, lit("?"), query2))
    val rest = when(rest5 === "", lit("/")).otherwise(rest5)
    when(scheme === "" || host === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), host, rest))
  }

  /** Seeded URL-shaped strings built from parts that exercise every step
    * of the canonicalization, plus fully random strings over URL syntax.
    */
  private def fuzzedUrls(n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    def pick(xs: Seq[String]): String = xs(rnd.nextInt(xs.length))
    val pad = Seq("", "", " ", "  ", "\t", "\n", " \t", "\t ", "\r\n", " \n ", "\u00a0")
    val lead = Seq("", "", "", " ", "  ", "\t", "\n", " \t", "\r\n", "\u00a0")
    val schemes = Seq("http", "https", "HTTP", "HtTpS", "ftp", "git+ssh", "h2.x-y",
      "", "1http", "h")
    val seps = Seq("://", "://", "://", "://", "://", "://", ":/", ":///", "//", ":")
    val hosts = Seq("www.Example.COM", "example.com", "WWW.a.b", "wwwx.com", "www.",
      "\u0130stanbul.example", "stra\u00dfe.de", "M\u00dcLLER.de", "\u00fc.com",
      "\u03a3\u039f\u03a6\u0399\u0391.gr", "[::1]", "[::1]:80", "localhost", "", "a b.com",
      "xn--bcher-kva.ch", "user:pw@Host.com", "h\tost.com", "HOST.com\n")
    val ports = Seq("", "", "", ":80", ":443", ":8080", ":8443", ":", ":080", ":80\n", ":443 ")
    val paths = Seq("", "", "/", "/a/B", "/a&b", "/a&&b", "/x%20y", "/\u00fc/\u0130",
      "/p/../q", "/#", "/a?", "/a\nb", "//double")
    val params = Seq("a=1", "b=2", "utm_source=x", "UTM_Medium=y", "utm_=z", "Fbclid=1",
      "gclid=2", "MSCLKID=3", "ref=z", "refx=1", "xref=2", "ref", "utm_source", "=", "",
      "c=3#x", "q=a?b")
    def query: String =
      if (rnd.nextInt(3) == 0) ""
      else "?" + Seq.fill(rnd.nextInt(5))(pick(params)).mkString(if (rnd.nextBoolean()) "&" else "&&")
    val frags = Seq("", "", "", "#", "#top", "#a?b=1", "#x&utm_source=1", "#\n")
    val syntax = "ab:/?#&=.W %\t\nu\u00fc\u0130"
    Seq.fill(n) {
      rnd.nextInt(20) match {
        case 0 => Seq.fill(rnd.nextInt(30))(syntax(rnd.nextInt(syntax.length))).mkString
        case 1 => pick(Seq("", " ", "not a url", "mailto:a@b.c", "://x.com", "http://",
          "https:// ", "http://?", "http://#", "http://:80", "&&&"))
        case 2 => // fragment before the query
          pick(lead) + pick(schemes) + "://" + pick(hosts) + pick(paths) + pick(frags) + query
        case _ =>
          pick(lead) + pick(schemes) + pick(seps) + pick(hosts) + pick(ports) + pick(paths) +
            query + pick(frags) + pick(pad)
      }
    }
  }

  test("canonical_url kernel equals the Column chain on 24k seeded URLs") {
    val urls = fuzzedUrls(24000, seed = 31) ++ Seq(null, "", "HTTP://WWW.Example.COM")
    val df = urls.zipWithIndex.map { case (u, i) => (i.toLong, u) }.toDF("doc_id", "url")
      .repartition(4)
    val rows = df.select(col("doc_id"), col("url"), Urls.canonicalColumn(col("url")).as("kernel"),
      chainCanonical(col("url")).as("chain")).collect()
    assert(rows.length == urls.length)
    val bad = rows.filter(r => r.getString(2) != r.getString(3))
    assert(bad.isEmpty, s"${bad.length} mismatches, e.g. " + bad.take(5).map(r =>
      s"[${r.getString(1)}] kernel=[${r.getString(2)}] chain=[${r.getString(3)}]").mkString("; "))
    // the corpus reaches both the URL and the null branch, and every step
    val urlRows = rows.flatMap(r => Option(r.getString(2)))
    assert(urlRows.length > 4000 && rows.count(_.getString(2) == null) > 4000)
    assert(urlRows.exists(_.startsWith("https://")) && urlRows.exists(_.contains("?")) &&
      urlRows.exists(_.contains("\u0307")) && urlRows.exists(_.contains(":8080")))
    // a null stays null; a tab is not trimmed
    assert(canon("\thttp://a.com/") == null && canon(" http://a.com ") == "http://a.com/")
  }

  test("non-URL input canonicalizes to null, not garbage") {
    assert(canon("not a url") == null)
    assert(canon("") == null)
    assert(canon("mailto:a@b.c") == null) // no ://
    assert(canon("://missing-scheme.com") == null)
  }

  test("registrable domain: PSL snapshot handles co.uk-style registries; single labels empty") {
    val r = Urls.canonicalize(Seq(
      (1L, "https://a.b.news.example.com/x"),
      (2L, "http://localhost/x"),
      (3L, "https://blog.example.co.uk/y"),     // r8 advice golden
      (4L, "http://shop.papers.com.au/z"),      // r8 advice golden
      (5L, "http://www.example.co.jp:8080/p"),  // suffix + port
      (6L, "http://co.uk/"),                    // host IS a public suffix
      (7L, "http://deep.a.b.gov.uk/x")).toDF("doc_id", "url"))
      .orderBy("doc_id").collect().map(_.getAs[String]("url_domain"))
    assert(r(0) == "example.com")
    assert(r(1) == "")
    assert(r(2) == "example.co.uk", r(2))
    assert(r(3) == "papers.com.au", r(3))
    assert(r(4) == "example.co.jp", r(4))
    assert(r(5) == "", r(5))
    assert(r(6) == "b.gov.uk", r(6))
    // review finding: the FQDN trailing-dot spelling of a public suffix
    // must behave exactly like the bare spelling
    val fq = Urls.canonicalize(Seq(
      (1L, "http://co.uk./x"),
      (2L, "http://blog.example.co.uk./y")).toDF("doc_id", "url"))
      .orderBy("doc_id").collect().map(_.getAs[String]("url_domain"))
    assert(fq(0) == "", fq(0))
    assert(fq(1) == "example.co.uk", fq(1))
  }

  test("PSL wildcard and exception rules: *.ck / !www.ck / Japanese city wildcards") {
    import PublicSuffix.registrableDomain
    // wildcard *.ck: every second-level label is itself a public suffix
    assert(registrableDomain("foo.bar.ck") == "foo.bar.ck")
    assert(registrableDomain("bar.ck") == "")          // IS a public suffix
    assert(registrableDomain("deep.foo.bar.ck") == "foo.bar.ck")
    // exception !www.ck carves www back out: www.ck is registrable
    assert(registrableDomain("www.ck") == "www.ck")
    assert(registrableDomain("sub.www.ck") == "www.ck")
    // *.kawasaki.jp with !city.kawasaki.jp
    assert(registrableDomain("foo.bar.kawasaki.jp") == "foo.bar.kawasaki.jp")
    assert(registrableDomain("bar.kawasaki.jp") == "")
    assert(registrableDomain("city.kawasaki.jp") == "city.kawasaki.jp")
    assert(registrableDomain("sub.city.kawasaki.jp") == "city.kawasaki.jp")
    // kawasaki.jp itself: no rule matches a 2-label host against *.kawasaki.jp,
    // so the default * rule prevails and kawasaki.jp is registrable
    assert(registrableDomain("kawasaki.jp") == "kawasaki.jp")
    // wildcard registries still compose with ports and FQDN dots
    assert(registrableDomain("foo.bar.ck:8080") == "foo.bar.ck")
    assert(registrableDomain("www.ck.") == "www.ck")
    // *.bd: the explicit snapshot entries and the wildcard agree
    assert(registrableDomain("example.com.bd") == "example.com.bd")
    assert(registrableDomain("example.anything.bd") == "example.anything.bd")
    assert(registrableDomain("anything.bd") == "")
  }

  test("dedupByUrl groups tracking-variant URLs; unparseable rows excluded") {
    val docs = Seq(
      (1L, "http://a.com/x?utm_source=tw"),
      (2L, "http://WWW.A.com/x"),
      (3L, "http://a.com/x#top"),
      (4L, "http://a.com/y"),
      (5L, "garbage")).toDF("doc_id", "url")
    val out = Urls.dedupByUrl(docs).orderBy("url_canon").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq == Seq(
      ("http://a.com/x", 3L, 1L), ("http://a.com/y", 1L, 4L)))
  }

  test("domainFilter drops blocklisted registrable domains via broadcast anti-join") {
    val docs = Seq(
      (1L, "http://spam.bad-site.com/x"),
      (2L, "http://www.bad-site.com/y"),
      (3L, "http://good.com/z")).toDF("doc_id", "url")
    val block = Seq("BAD-SITE.com").toDF("domain")
    val kept = Urls.domainFilter(docs, block)
    assert(kept.select("doc_id").as[Long].collect().toSeq == Seq(3L))
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan)
  }

  test("canonicalization is a zero-exchange projection; dedup shuffle is partial-agg") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("url", concat(lit("http://h"), $"doc_id" % 10, lit(".com/p")))
    val c = Urls.canonicalize(docs)
    assert(!c.queryExecution.executedPlan.toString.contains("Exchange"))
    val d = Urls.dedupByUrl(docs)
    val plan = d.queryExecution.executedPlan.toString
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"), plan)
  }
}
