package perfbench

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, md5}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.functions.TextKernel
import graft.ops.{Crawl, Dedup, TextAnalysis}
import graft.sources.WarcCodec

/** Batch corpus pipeline over seeded `.warc.gz` shards: crawl ingest →
  * clean → span dedup → decontaminate → pack, output collected. The only
  * workload that exercises sources, the crawl/clean/dedup operators and
  * the text kernels; it does no vector work.
  */
final class CorpusPipelineWorkload extends Workload {
  val Pages = 500
  val Shards = 4
  val MeanWords = 220
  val EvalDocs = 30
  val TokenBudget = 512L

  private var warcDir = ""
  private var warcBytes = 0L
  private var nPages = 0
  private var shards: Seq[Array[Byte]] = Nil
  private var evalRows: Seq[Row] = Nil
  private var outputHash: Option[String] = None

  private val evalSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType)))

  def generate(seed: Long): String = {
    val topics = new Gen.Topics(seed + 4)
    // one cookie notice per site: shared boilerplate that survives the
    // line filter and that span dedup must cut
    val sites = 8
    val notices = (0 until sites).map(s => topics.paragraph(Gen.rng(seed, 51, s), s, 30))
    val evalTexts = (0 until EvalDocs).map(i => topics.paragraph(Gen.rng(seed, 52, i), i % topics.n, 60))
    evalRows = evalTexts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }
    val pages = Pages
    val lens = Gen.skewedLengths(Gen.rng(seed, 53), pages, MeanWords, 0.6, 40)
    val bodies = ArrayBuffer.empty[Seq[String]]
    val records = (0 until pages).map { p =>
      val pr = Gen.rng(seed, 54, p)
      val topic = pr.nextInt(topics.n)
      val german = pr.nextInt(100) < 8 // dropped by the language filter
      val stop = if (german) Gen.GermanStop else Gen.EnglishStop
      var paras: Seq[String] = {
        val out = ArrayBuffer.empty[String]
        var left = lens(p)
        while (left > 0) { val n = math.min(left, 40 + pr.nextInt(60)); out += topics.paragraph(pr, topic, n, stop); left -= n }
        out.toSeq
      }
      val roll = pr.nextInt(100)
      if (p > 0 && roll < 3) paras = bodies(pr.nextInt(p)) // exact duplicate page
      else if (p > 0 && roll < 18) paras = paras :+ bodies(pr.nextInt(p)).head // copied span
      else if (roll < 23) paras = paras :+ evalTexts(pr.nextInt(EvalDocs)) // contamination
      bodies += paras
      val site = p % sites
      // 2% re-crawls of an earlier URL: the ingest keeps the first record
      val urlId = if (p > 0 && pr.nextInt(100) < 2) pr.nextInt(p) else p
      val html = s"<html><head><title>Page $p</title></head><body>" +
        "<div>Home</div><div>News</div><div>Contact us</div>" +
        paras.map(x => s"<p>$x</p>").mkString + s"<p>${notices(site)}</p>" +
        s"<div>Copyright site $site</div></body></html>"
      val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n\r\n").getBytes(US_ASCII) ++
        html.getBytes(UTF_8)
      WarcCodec.WarcRecord("response", s"http://site$site.example.com/page/$urlId",
        "2024-01-01T00:00:00Z", s"<urn:uuid:perfbench-$p>", "application/http; msgtype=response", http)
    }
    shards = (0 until Shards).map(s => WarcCodec.writeWarcGz(records.indices.filter(_ % Shards == s).map(records)))
    warcBytes = shards.map(_.length.toLong).sum
    nPages = pages
    val fp = new Gen.Fingerprint()
    shards.foreach(fp.add)
    evalTexts.foreach(fp.add)
    fp.hex
  }

  def setup(ctx: Ctx): Unit = {
    generate(ctx.seed)
    warcDir = ctx.newDir("warc")
    shards.zipWithIndex.foreach { case (b, s) =>
      val f = new FileOutputStream(new File(warcDir, f"shard-$s%02d.warc.gz"))
      try f.write(b) finally f.close()
    }
    ctx.record("sizes") = Map("pages" -> nPages, "shards" -> Shards, "warc_bytes" -> warcBytes,
      "eval_docs" -> EvalDocs)
    outputHash = None
  }

  /** One pass over the first shard: compiles every stage's code at a
    * quarter of a full pass's cost.
    */
  def warmUp(ctx: Ctx): Unit = {
    val dir = ctx.newDir("warm-warc")
    val f = new FileOutputStream(new File(dir, "shard-00.warc.gz"))
    try f.write(shards.head) finally f.close()
    val (packed, _, cached) = pipeline(ctx, dir, forced = false)
    packed.collect()
    cached.foreach(_.unpersist(false))
  }

  private def evalDf(ctx: Ctx): DataFrame =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(evalRows, 1), evalSchema)

  /** The five stages with persisted boundaries, as a production pipeline
    * writes them. Traced runs force each boundary inside its own span; the
    * untraced run leaves the composition lazy until the final collect.
    * Returns (packed output, survivors, cached boundaries).
    */
  private def pipeline(ctx: Ctx, dir: String, forced: Boolean): (DataFrame, DataFrame, Seq[DataFrame]) = {
    val tr = ctx.tracer
    def stage(name: String, df: DataFrame): DataFrame = {
      val p = df.persist()
      if (forced) tr.span(name)(Common.force(p))
      p
    }
    val ingested = stage("ops.ingest", Crawl.ingest(ctx.spark, dir))
    val keep = TextAnalysis.cleanPipeline(ingested).filter(col("keep")).select("doc_id")
    val kept = stage("ops.clean", ingested.select(col("doc_id"), col("text"))
      .join(keep, Seq("doc_id"), "left_semi"))
    val deduped = stage("ops.span_dedup", Dedup.spanDedup(kept, windowWords = 20))
    val cleaned = deduped.select(col("doc_id"), col("clean_text").as("text"))
    val decon = stage("ops.decontaminate", TextAnalysis.decontaminate(cleaned, evalDf(ctx)))
    val survivors = cleaned.join(decon.filter(col("contaminated") === 0).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val packed = TextAnalysis.assemblePacked(survivors, TokenBudget, targetGroups = 64)
      .select(col("bin"), col("n_docs"), col("n_tokens"), md5(col("content")).as("packed_md5"))
    (packed, survivors, Seq(ingested, kept, deduped, decon))
  }

  def run(ctx: Ctx, seconds: Double): Phase = {
    val calls = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (calls.isEmpty || (System.nanoTime() - t0) / 1e9 + Stats.median(calls.toSeq) / 1e3 <= seconds) {
      var cached: Seq[DataFrame] = Nil
      var survivors: DataFrame = null
      val (rows, ms) = ctx.timed("ops.corpus_pipeline") {
        val (packed, surv, c) = pipeline(ctx, warcDir, forced = ctx.traced)
        cached = c; survivors = surv
        if (ctx.traced) ctx.tracer.span("ops.pack")(packed.collect()) else packed.collect()
      }
      calls += ms
      ctx.operation {
        val hash = new Gen.Fingerprint()
        rows.map(r => s"${r.get(0)}:${r.get(1)}:${r.get(2)}:${r.getString(3)}").sorted
          .foreach(hash.add)
        val h = hash.hex
        val survivorTokens = survivors.select("text").collect()
          .map(r => TextKernel.naiveTokens(r.getString(0)).toLong).sum
        val same = ctx.check(outputHash.forall(_ == h), s"packed output hash $h differs within one seed")
        outputHash = Some(h)
        ctx.record("output_hash") = h
        same & ctx.check(rows.map(_.getAs[Number](2).longValue).sum == survivorTokens,
          s"packed n_tokens ${rows.map(_.getAs[Number](2).longValue).sum} != survivors' $survivorTokens") &
          ctx.check(rows.nonEmpty, "no packed output")
      }
      if (ctx.traced) stageRatios(ctx, cached)
      cached.foreach(_.unpersist(false))
    }
    ctx.detailMetric("corpus_mb_per_s", warcBytes / 1e6 / (Stats.median(calls.toSeq) / 1e3), "MB/s")
    if (ctx.traced) {
      Seq("ops.ingest" -> "ops.ingest_s", "ops.clean" -> "ops.clean_s",
        "ops.span_dedup" -> "ops.span_dedup_s", "ops.decontaminate" -> "ops.decontaminate_s",
        "ops.pack" -> "ops.pack_s").foreach { case (span, metric) =>
        ctx.layerMetric(metric, Stats.median(ctx.tracer.spans.filter(_.name == span).map(_.seconds).toSeq), "s")
      }
      val t1 = System.nanoTime()
      val parsed = shards.map(b => WarcCodec.parseBytes(b).size).sum
      val parseS = (System.nanoTime() - t1) / 1e9
      ctx.check(parsed == nPages, s"WarcCodec.parse read $parsed records, wrote $nPages")
      ctx.layerMetric("sources.warc_parse_mb_per_s", warcBytes / 1e6 / parseS, "MB/s")
    }
    Phase(calls.toSeq, warcBytes / 1e6 * calls.size)
  }

  /** Row and byte ratios per stage, from the cached boundaries. */
  private def stageRatios(ctx: Ctx, cached: Seq[DataFrame]): Unit = {
    val Seq(ingested, kept, deduped, decon) = cached
    val nIngested = ingested.count().toDouble
    ctx.layerMetric("ops.kept_ratio", kept.count() / nIngested, "ratio")
    val sums = deduped.selectExpr("sum(n_removed)", "sum(n_tokens)").head()
    ctx.layerMetric("ops.span_removed_ratio",
      sums.getAs[Number](0).doubleValue / sums.getAs[Number](1).doubleValue, "ratio")
    ctx.layerMetric("ops.decontaminated_ratio",
      decon.filter(col("contaminated") === 1).count().toDouble / decon.count(), "ratio")
  }
}
