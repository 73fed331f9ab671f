package graft.query

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.core.Metric
import graft.embed.{ConstantEmbeddingBackend, EchoChatBackend, FixedChatBackend, HashEmbeddingBackend}
import graft.functions.vector.vec_cosine

/** Ports the reference's retrieval-behavior tests: the content-keyed vector
  * fixture and threshold table (tests/test_index.py:18-26, 256-284),
  * first-key dedup (test_django_converter.py:169-180), and the RAG response
  * shape (tests/conftest.py:56-67, test_model_index.py:24-49).
  */
class RetrievalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Content-keyed fixture (reference test_index.py:18-26): query [1,0,0]. */
  val fixture = Seq(
    (1L, Seq("p:1"), Seq(0.9f, 0.1f, 0.0f), "Very similar to the query"),
    (2L, Seq("p:2"), Seq(0.7f, 0.3f, 0.0f), "Somewhat similar"),
    (3L, Seq("p:3"), Seq(1.0f, 0.0f, 0.0f), "test exact"),
    (4L, Seq("p:4"), Seq(0.1f, 0.1f, 0.8f), "unrelated"))

  def index = fixture.toDF("doc_id", "object_keys", "vector", "content")
  val query = Seq(1.0f, 0.0f, 0.0f)

  test("threshold table: higher thresholds keep fewer results (0/1/2/3 shape)") {
    // cosines: d3=1.0, d1≈0.994, d2≈0.919, d4≈0.122
    def n(t: Double) = Retrieval.knn(index, query, k = 5, threshold = t).count()
    assert(n(0.999) == 1)   // only the exact match
    assert(n(0.95) == 2)
    assert(n(0.6) == 3)
    assert(n(0.0) == 4)
  }

  test("knn returns top-k in similarity order with deterministic ties") {
    val got = Retrieval.knn(index, query, k = 3).select("doc_id").as[Long].collect()
    assert(got.toSeq == Seq(3L, 1L, 2L))
  }

  test("L2 and MIP metrics order correctly") {
    val l2 = Retrieval.knn(index, query, k = 1, threshold = Double.NegativeInfinity,
      metric = Metric.L2).select("doc_id").as[Long].head()
    assert(l2 == 3L)
    val mip = Retrieval.knn(index, query, k = 1, threshold = Double.NegativeInfinity,
      metric = Metric.MaxInnerProduct).select("doc_id").as[Long].head()
    assert(mip == 3L) // dot: d3=1.0 > d1=0.9
  }

  test("dedupByKey keeps first per key in score order") {
    val results = Seq(
      ("p:1", 10L, 0.9), ("p:1", 11L, 0.8), ("p:2", 12L, 0.7), ("p:2", 13L, 0.75))
      .toDF("key", "doc_id", "score")
    val got = Retrieval.dedupByKey(results).select("doc_id").as[Long].collect().toSet
    assert(got == Set(10L, 13L))
  }

  test("search embeds query, dedups by first object key") {
    val backend = HashEmbeddingBackend(8)
    val docs = Seq(
      (1L, Seq("p:1"), "spark vector engine", "spark vector engine"),
      (2L, Seq("p:2"), "other content here", "other content here"))
      .map { case (id, keys, text, content) =>
        (id, keys, backend.embedOne(text).toSeq, content) }
      .toDF("doc_id", "object_keys", "vector", "content")
    val hits = Retrieval.search(docs, "spark vector engine", backend, k = 2, threshold = -1.0)
    val top = hits.orderBy(desc("score")).select("key").as[String].head()
    assert(top == "p:1")
  }

  test("findSimilar excludes the probe object unless includeSelf") {
    val withoutSelf = Retrieval.findSimilar(index, "p:3", k = 4, threshold = -1.0)
    assert(!withoutSelf.select("key").as[String].collect().contains("p:3"))
    val withSelf = Retrieval.findSimilar(index, "p:3", k = 4, threshold = -1.0, includeSelf = true)
    assert(withSelf.select("key").as[String].collect().contains("p:3"))
  }

  test("hydrate joins parsed keys back to the source table") {
    val results = Seq(("customer:1", 0.9), ("customer:3", 0.8)).toDF("key", "score")
    val source = Seq((1L, "Alice"), (2L, "Bob"), (3L, "Carol")).toDF("c_custkey", "c_name")
    val got = Retrieval.hydrate(results, source, "customer", "c_custkey")
      .select("c_name").as[String].collect().toSet
    assert(got == Set("Alice", "Carol"))
  }

  test("ragQuery assembles context and returns chat response with sources") {
    val embed = ConstantEmbeddingBackend(Seq(1f, 0f, 0f))
    val resp = Retrieval.ragQuery(index, "what is similar?", embed, FixedChatBackend(),
      sourcesLimit = 2, threshold = -1.0)
    assert(resp.response == "AI! Don't talk to me about AI!")
    assert(resp.sources.count() == 2)
    val echo = Retrieval.ragQuery(index, "q", embed, EchoChatBackend(), sourcesLimit = 1,
      threshold = -1.0)
    assert(echo.response.startsWith("This is an echo backend:"))
  }

  // --- page finish: results against a brute-force reference ---

  /** Several chunks per object, score ties across and within objects, a
    * zero vector and an opposite vector.
    */
  private def pageIndex = Seq(
      (1L, Seq("p:1"), Seq(0.9f, 0.1f, 0.0f)),
      (2L, Seq("p:1"), Seq(0.9f, 0.1f, 0.0f)),
      (3L, Seq("p:2"), Seq(0.9f, 0.1f, 0.0f)),
      (4L, Seq("p:2"), Seq(1.0f, 0.0f, 0.0f)),
      (5L, Seq("p:3"), Seq(0.0f, 0.0f, 0.0f)),
      (6L, Seq("p:4"), Seq(-1.0f, 0.0f, 0.0f)),
      (7L, Seq("p:4"), Seq(0.1f, 0.1f, 0.8f)),
      (8L, Seq("p:5"), Seq(0.7f, 0.3f, 0.0f)))
    .map { case (id, keys, v) => (id, keys, v, s"content $id") }
    .toDF("doc_id", "object_keys", "vector", "content")

  /** Rank (score desc, doc_id asc) the (doc_id, key, score) rows passing
    * `threshold`; then the first row per key.
    */
  private def rank(rows: Seq[(Long, String, Double)], threshold: Double) =
    rows.filter(_._3 >= threshold)
      .sortWith((a, b) => a._3 > b._3 || (a._3 == b._3 && a._1 < b._1))
  private def firstPerKey(ranked: Seq[(Long, String, Double)]) = {
    val seen = scala.collection.mutable.Set.empty[String]
    ranked.filter(r => seen.add(r._2))
  }
  private def triples(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"), col("key"), col("score")).as[(Long, String, Double)].collect().toSeq

  test("page finish: search, ragQuery and findSimilar match a brute-force reference") {
    val idx = pageIndex
    val keyOf = idx.select(col("doc_id"), col("object_keys").getItem(0)).as[(Long, String)]
      .collect().toMap
    def scores(qv: org.apache.spark.sql.Column) =
      idx.select(col("doc_id"), vec_cosine(col("vector"), qv)).as[(Long, Double)].collect()
        .toSeq.map { case (d, s) => (d, keyOf(d), s) }
    for (q <- Seq(Seq(1f, 0f, 0f), Seq(0f, 0f, 0f), Seq(0.2f, 0.1f, 0.9f));
         t <- Seq(-2.0, 0.0, 0.9); k <- Seq(1, 2, 3, 6)) {
      val what = s"query $q, threshold $t, k $k"
      val ranked = rank(scores(typedLit(q)), t)
      val hits = Retrieval.search(idx, "q", ConstantEmbeddingBackend(q), k, t)
      assert(hits.columns.toSeq == idx.columns.toSeq ++ Seq("score", "key"))
      assert(triples(hits) == firstPerKey(ranked.take(k)), what)
      val resp = Retrieval.ragQuery(idx, "q", ConstantEmbeddingBackend(q), EchoChatBackend(), k, t)
      val context = ranked.take(k).map(r => s"content ${r._1}").mkString("\n")
      assert(resp.response == s"This is an echo backend: ${Retrieval.DefaultSystemPrompt} $context q",
        what)
      assert(triples(resp.sources) == firstPerKey(ranked.take(k)), what)
    }
    // findSimilar: per-chunk top-k, best score per doc, first per key, self
    // excluded unless includeSelf — p:3's only chunk is a zero vector
    for (obj <- Seq("p:1", "p:3", "p:4"); t <- Seq(-2.0, 0.0, 0.9); k <- Seq(1, 3, 8);
         self <- Seq(false, true)) {
      val probes = idx.filter(array_contains(col("object_keys"), obj))
        .select("vector").as[Seq[Float]].collect().toSeq
      val perChunk = probes.flatMap(p => rank(scores(typedLit(p)), t).take(k))
      val best = rank(perChunk.groupBy(_._1).values.map(_.maxBy(_._3)).toSeq, -3.0)
      val got = Retrieval.findSimilar(idx, obj, k, t, includeSelf = self)
      assert(got.columns.toSeq == Seq("doc_id", "score", "object_keys", "vector", "content", "key"))
      assert(triples(got) == firstPerKey(best).filter(r => self || r._2 != obj),
        s"findSimilar($obj), threshold $t, k $k, includeSelf $self")
    }
    // nothing passes the threshold: an empty result, and no hydration read
    assert(Retrieval.findSimilar(idx, "p:1", 3, threshold = 1.5).isEmpty)
    assert(Retrieval.search(idx, "q", ConstantEmbeddingBackend(Seq(1f, 0f, 0f)), 3, 1.5).isEmpty)
  }

  // the driver's first-per-key dedup is dedupByKey's window: same rows on
  // random pages with tied, NaN and signed-zero scores and null keys
  test("page finish: driver first-per-key dedup agrees with dedupByKey on random pages") {
    val rnd = new scala.util.Random(5)
    val scoresPool = Seq(0.9, 0.5, 0.5, 0.0, -0.0, -0.3, Double.NaN, 1.0)
    for (trial <- 0 until 30) {
      val n = 1 + rnd.nextInt(25)
      val rows = rnd.shuffle((0L until 40L).toList).take(n).map { id =>
        val key = if (rnd.nextInt(8) == 0) null else s"k${rnd.nextInt(6)}"
        (key, id, scoresPool(rnd.nextInt(scoresPool.size)))
      }
      val page = rows.toDF("key", "doc_id", "score")
      val window = Retrieval.dedupByKey(page).collect().map(r => (r.getString(0), r.getLong(1)))
      val local = Retrieval.firstPerKey(page.collect().toSeq, page.schema)
      assert(local.map(r => (r.getString(0), r.getLong(1))).toSet == window.toSet,
        s"trial $trial: $rows")
      assert(local == local.sorted(Retrieval.byRank(page.schema)), s"trial $trial: not in rank order")
    }
  }

  // hydration binds its ids as one InSet, whose generated code is the same
  // for every id set, so a new id set compiles nothing (an `In` of <= 10
  // literals compiled 2 classes per call)
  test("hydratePage: after warm-up, hydrations of new id sets compile no classes") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val dir = java.nio.file.Files.createTempDirectory("graft-hydrate").toString + "/docs"
    (0L until 200L).map(i => (i, Seq(s"p:${i % 50}"), Seq(i.toFloat, 1f), s"content $i"))
      .toDF("doc_id", "object_keys", "vector", "content").write.parquet(dir)
    val docs = spark.read.parquet(dir)
    val scoreField = org.apache.spark.sql.types.StructField("score",
      org.apache.spark.sql.types.DoubleType, nullable = false)
    def hydrate(ids: Seq[Long]) =
      Retrieval.hydratePage(docs, ids.map(i => org.apache.spark.sql.Row(i, i / 1000.0)), scoreField)
    hydrate(Seq(1L, 2L, 3L))
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    for (call <- 0 until 10) {
      val ids = (0 until 1 + call).map(j => (call * 17L + j * 3) % 200)
      val (rows, schema) = hydrate(ids)
      assert(schema.fieldNames.toSeq == Seq("doc_id", "score", "object_keys", "vector", "content", "key"))
      assert(rows.map(_.getLong(0)) == ids.distinct.sortBy(i => (-i / 1000.0, i)), s"call $call")
      assert(rows.forall(r => r.getString(4) == s"content ${r.getLong(0)}" && r.getString(5) == s"p:${r.getLong(0) % 50}"))
    }
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before == 0, "classes compiled by new id sets")
  }
}
