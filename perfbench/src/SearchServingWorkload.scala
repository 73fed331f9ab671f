package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}

import graft.api.{SearchMode, VectorIndex}
import graft.query.Retrieval

/** Closed-loop search serving, one client: a seeded, shuffled mix of exact,
  * IVF and HNSW `search`, `findSimilar` and RAG `query`, k = 10, against an
  * index built during set-up. Query texts come from a Zipf pool, so about
  * half of them repeat an earlier text: the workload where reuse across
  * repeated top-k searches has something to win.
  */
final class SearchServingWorkload extends Workload {
  val Objects = 300
  val MeanWords = 300
  /** Zipf pool sizes: about half of the 20-30 requests of a run repeat an
    * earlier text (`repeat_share` in the record).
    */
  val QueryPool = 24
  val SimilarPool = 8
  val Kinds: Seq[String] = Seq("search", "search_ivf", "search_hnsw", "find_similar", "rag_query")

  private var idx: VectorIndex = _
  private var truth: Common.Truth = _
  private var queries: IndexedSeq[String] = _
  private var ranked: IndexedSeq[Seq[(Int, Double)]] = _
  private var objects: IndexedSeq[Gen.SourceObject] = _
  /** An edit of the objects, for the build-layer probes of a traced run. */
  private var edit: Gen.Edit = _
  private var src = ""
  /** (kind, pool index) of every request, in order. */
  private var plan: IndexedSeq[(String, Int)] = _
  private var next = 0

  def generate(seed: Long): String = {
    val topics = new Gen.Topics(seed + 1)
    objects = Gen.sourceObjects(topics, seed + 1, Objects, MeanWords)
    queries = (0 until QueryPool).map(i => Gen.query(topics, seed, i))
    val r = Gen.rng(seed, 30)
    val qCdf = Gen.zipfCdf(QueryPool, 1.0)
    // findSimilar probes objects of the median chunk count, so a probe's
    // cost does not swing with which object the Zipf head lands on
    val chunkCounts = objects.map(o => o.id -> Common.chunkContents(o).size).toMap
    val medianChunks = chunkCounts.values.toSeq.sorted.apply(objects.size / 2)
    val similarIds = Gen.shuffle(r, objects.map(_.id).filter(chunkCounts(_) == medianChunks).toArray)
      .take(SimilarPool)
    val sCdf = Gen.zipfCdf(similarIds.length, 1.0)
    plan = (0 until 4000 / Kinds.size).flatMap { _ =>
      Gen.shuffle(r, Kinds.toArray).toSeq.map {
        case "find_similar" => ("find_similar", similarIds(Gen.draw(sCdf, r)).toInt)
        case k => (k, Gen.draw(qCdf, r))
      }
    }
    edit = Gen.edit(topics, seed + 1, objects, MeanWords)
    new Gen.Fingerprint().addObjects(objects).add(queries.mkString("\n")).add(plan.mkString(","))
      .addObjects(edit.source).hex
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    generate(ctx.seed)
    next = 0
    src = ctx.newDir("src")
    Common.writeSource(spark, objects, src)
    idx = Common.index(spark, ctx.newDir("index"))
    idx.rebuild(spark.read.parquet(src))

    // reference top-k outside the engine, once per seed
    val chunks = objects.flatMap(o => Common.chunkContents(o).map(c => (Common.key(o.id), c)))
    truth = new Common.Truth(chunks.map(_._1).toArray, chunks.map(_._2).toArray)
    ranked = queries.map(q => truth.topK(Common.backend.embedOne(q), 2 * Common.K))
    ctx.record("sizes") = Map("objects" -> objects.size, "chunks" -> chunks.size,
      "query_pool" -> QueryPool, "similar_pool" -> SimilarPool)
  }

  /** Every request kind once. */
  def warmUp(ctx: Ctx): Unit = Kinds.foreach(k => request(k, queries(0), objects(0).id))

  /** One request, its output collected inside the call. */
  private def request(kind: String, q: String, objectId: Long): Seq[Row] = kind match {
    case "search"       => idx.search(q, Common.K).collect().toSeq
    case "search_ivf"   => idx.search(q, Common.K, mode = SearchMode.Ivf()).collect().toSeq
    case "search_hnsw"  => idx.search(q, Common.K, mode = SearchMode.Hnsw()).collect().toSeq
    case "find_similar" => idx.findSimilar(Common.key(objectId), Common.K).collect().toSeq
    case "rag_query" =>
      val resp = idx.query(q, Common.K)
      Row(resp.response) +: resp.sources.collect().toSeq
  }

  /** The same request split at its layer boundaries (traced runs). */
  private def tracedRequest(ctx: Ctx, kind: String, q: String, objectId: Long): Seq[Row] = {
    val tr = ctx.tracer
    if (kind != "find_similar") tr.span("embed.query")(Common.backend.embedOne(q))
    var head: Option[Row] = None
    val df: DataFrame = tr.span("api.build") {
      kind match {
        case "search"       => idx.search(q, Common.K)
        case "search_ivf"   => idx.search(q, Common.K, mode = SearchMode.Ivf())
        case "search_hnsw"  => idx.search(q, Common.K, mode = SearchMode.Hnsw())
        case "find_similar" => idx.findSimilar(Common.key(objectId), Common.K)
        case "rag_query" =>
          val resp = idx.query(q, Common.K)
          head = Some(Row(resp.response))
          resp.sources
      }
    }
    tr.span("query.plan")(df.queryExecution.executedPlan)
    val rows = tr.span("query.exec")(df.collect().toSeq)
    tr.count("rows", rows.size)
    head.toSeq ++ rows
  }

  def run(ctx: Ctx, seconds: Double): Phase = {
    val calls = ArrayBuffer.empty[Double]
    val byKind = mutable.LinkedHashMap(Kinds.map(_ -> ArrayBuffer.empty[Double]): _*)
    val recall = mutable.Map("search_ivf" -> ArrayBuffer.empty[Double], "search_hnsw" -> ArrayBuffer.empty[Double])
    val seen = mutable.Set.empty[(String, Int)]
    var repeats = 0
    // whole blocks only: every kind is equally represented in a run
    val t0 = System.nanoTime()
    while (calls.size % Kinds.size != 0 || calls.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      val (kind, i) = plan(next % plan.size)
      next += 1
      val q = if (kind == "find_similar") "" else queries(i)
      val objectId = if (kind == "find_similar") i.toLong else -1L
      if (!seen.add((if (kind == "find_similar") "o" else "q", i))) repeats += 1
      val (rows, ms) = ctx.timed(s"request.$kind") {
        if (ctx.traced) tracedRequest(ctx, kind, q, objectId) else request(kind, q, objectId)
      }
      calls += ms; byKind(kind) += ms
      ctx.operation(check(ctx, kind, i, q, rows, recall))
    }
    val metricName = Map("search" -> "search_p50_ms", "search_ivf" -> "search_ivf_p50_ms",
      "search_hnsw" -> "search_hnsw_p50_ms", "find_similar" -> "find_similar_p50_ms",
      "rag_query" -> "rag_query_p50_ms")
    byKind.foreach { case (k, xs) => ctx.detailMetric(metricName(k), Stats.median(xs.toSeq), "ms") }
    Stats.tail(calls.toSeq, 0.9).foreach(ctx.detailMetric("request_p90_ms", _, "ms"))
    ctx.detailMetric("ivf_recall_at_10", Stats.mean(recall("search_ivf").toSeq), "ratio")
    ctx.detailMetric("hnsw_recall_at_10", Stats.mean(recall("search_hnsw").toSeq), "ratio")
    ctx.record("repeat_share") = repeats.toDouble / calls.size
    if (ctx.traced) {
      layerProbes(ctx)
      val src1 = ctx.newDir("src-edited")
      Common.writeSource(ctx.spark, edit.source, src1)
      BuildProbes.run(ctx, src, src1, edit.source.size)
    }
    Phase(calls.toSeq, calls.size.toDouble)
  }

  private def check(ctx: Ctx, kind: String, i: Int, q: String, rows: Seq[Row],
                    recall: mutable.Map[String, ArrayBuffer[Double]]): Boolean = kind match {
    case "search" =>
      val got = rows.map(_.getAs[String]("key")).toSet
      ctx.check(Common.sameTopKeys(truth, ranked(i), Common.K, got),
        s"search '$q': top-${Common.K} keys differ from the brute-force reference")
    case "search_ivf" | "search_hnsw" =>
      val want = ranked(i).take(Common.K).map(x => truth.keys(x._1)).toSet
      val got = rows.map(_.getAs[String]("key")).toSet
      recall(kind) += (if (want.isEmpty) 1.0 else (got & want).size.toDouble / want.size)
      ctx.check(rows.size <= Common.K, s"$kind returned ${rows.size} rows")
    case "find_similar" =>
      val self = Common.key(i.toLong)
      ctx.check(rows.nonEmpty && !rows.exists(_.getAs[String]("key") == self),
        s"findSimilar($self) returned itself or nothing")
    case "rag_query" =>
      // the echo chat backend returns the prompt: system prompt, the merged
      // context of the raw top-k chunks, then the question
      val response = rows.head.getString(0)
      val prefix = s"This is an echo backend: ${Retrieval.DefaultSystemPrompt} "
      val context = response.stripPrefix(prefix).stripSuffix(s" $q")
      val lines = context.split("\n", -1).toSeq
      val top = ranked(i).take(Common.K)
      val want = top.map(x => truth.contents(x._1))
      val score = ranked(i).map(x => truth.contents(x._1) -> x._2).toMap
      val parts = chunkLines(context, want)
      ctx.check(response.startsWith(prefix) && response.endsWith(s" $q") && lines.nonEmpty,
        s"query '$q': response is not the echoed prompt") &&
      ctx.check(parts.isDefined && Common.sameTopKeys(truth, ranked(i), Common.K,
          parts.get.map(c => truth.keys(truth.contents.indexOf(c))).toSet) &&
          parts.get.sliding(2).forall {
            case Seq(a, b) => score.getOrElse(a, -1.0) >= score.getOrElse(b, -1.0) - 1e-4
            case _ => true
          },
        s"query '$q': context is not the concatenated top-${Common.K} chunk contents")
  }

  /** Split a merged context back into chunk contents (chunks hold
    * newlines themselves), trying the reference chunks in order; None when
    * the context is not a concatenation of reference top-k chunks.
    */
  private def chunkLines(context: String, want: Seq[String]): Option[Seq[String]] = {
    val candidates = want.toSet ++ truth.contents.filter(c => context.contains(c))
    var rest = context
    val out = ArrayBuffer.empty[String]
    while (rest.nonEmpty) {
      val hit = candidates.filter(c => rest == c || rest.startsWith(c + "\n")).maxByOption(_.length)
      hit match {
        case Some(c) => out += c; rest = rest.drop(c.length).stripPrefix("\n")
        case None    => return None
      }
    }
    if (out.size == want.size) Some(out.toSeq) else None
  }

  /** Traced only: query-layer ratios measured once per run. */
  private def layerProbes(ctx: Ctx): Unit = {
    val tr = ctx.tracer
    tr.drain()
    val reqs = tr.spans.filter(s => ctx.callSpans.contains(s.id))
    def spansNamed(n: String) = tr.spans.filter(_.name == n).toSeq
    ctx.layerMetric("embed.query_ms", Stats.median(spansNamed("embed.query").map(_.seconds * 1e3)), "ms")
    ctx.layerMetric("api.build_ms", Stats.median(spansNamed("api.build").map(_.seconds * 1e3)), "ms")
    ctx.layerMetric("query.plan_ms", Stats.median(spansNamed("query.plan").map(_.seconds * 1e3)), "ms")
    ctx.layerMetric("query.exec_ms", Stats.median(spansNamed("query.exec").map(_.seconds * 1e3)), "ms")
    // listener input records over rows returned, per request kind
    Kinds.foreach { k =>
      val rs = reqs.filter(_.name == s"request.$k").toSeq
      val read = rs.map(s => tr.totalWork(s).inputRecords).sum.toDouble
      val returned = rs.flatMap(tr.subtree).map(_.counts.getOrElse("rows", 0.0)).sum
      ctx.layerMetric(s"query.rows_read_per_result.$k", read / math.max(returned, 1.0), "ratio")
    }
  }
}
