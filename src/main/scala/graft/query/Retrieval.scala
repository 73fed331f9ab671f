package graft.query

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SparkInternals.{toColumn, toExpression}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.core.Metric
import graft.embed.{ChatBackend, ChatMessage, EmbeddingBackend}
import graft.functions.vector._

/** Online query surface: KNN search, per-object dedup, source hydration and
  * RAG assembly — Spark re-expression of the reference's query lifecycle
  * (storage/base.py:174-354; SURVEY.md §3).
  *
  * All scoring is "similarity: higher is better" in a single convention
  * (cosine in [-1,1]); L2 is negated, MIP is raw dot. The per-backend
  * similarity↔distance conversions of the reference
  * (pgvector provider.py:119-122, qdrant 88-93, weaviate 93-97) collapse into
  * this one rule.
  */
object Retrieval {

  /** Similarity score column for a (vectorCol, query literal vector) pair. */
  def scoreCol(vectorCol: Column, queryVec: Seq[Float], metric: Metric = Metric.Cosine): Column =
    scoreColOf(vectorCol, typedLit(queryVec), metric)

  /** Column-vs-column variant (probe vectors coming from another table). */
  def scoreColOf(vectorCol: Column, queryCol: Column, metric: Metric): Column =
    metric match {
      case Metric.Cosine          => vec_cosine(vectorCol, queryCol)
      case Metric.L2              => -vec_l2(vectorCol, queryCol)
      case Metric.MaxInnerProduct => vec_dot(vectorCol, queryCol)
    }

  /** Brute-force exact KNN: score every row, threshold, take top-k.
    *
    * Plan shape: scan → (dim filter) → score expr → filter ≥ threshold →
    * TakeOrderedAndProject(k). No global sort: Catalyst turns orderBy+limit
    * into per-partition top-k + driver merge, which is the scalable shape
    * (each of 1000 executors returns k rows, driver merges 1000·k).
    *
    * The dimension pre-filter mirrors the reference's multi-model index
    * support (pgvector provider.py:112: filter embedding dims = len(query)).
    * Threshold filter: reference numpy provider.py:52-53 keeps
    * similarity ≥ threshold. Ties broken by `tieBreaker` for determinism.
    */
  def knn(index: DataFrame, queryVec: Seq[Float], k: Int = 5,
          threshold: Double = 0.0, metric: Metric = Metric.Cosine,
          vectorCol: String = "vector", tieBreaker: String = "doc_id",
          checkDims: Boolean = false): DataFrame = {
    val base = if (checkDims) index.filter(size(col(vectorCol)) === lit(queryVec.length)) else index
    base
      .withColumn("score", scoreCol(col(vectorCol), queryVec, metric))
      .filter(col("score") >= lit(threshold))
      .orderBy(desc("score"), col(tieBreaker).asc)
      .limit(k)
  }

  /** Order-preserving first-per-key dedup (reference storage/django.py:211-222:
    * streaming `seen_keys` set keeps the FIRST document per object key in
    * similarity-rank order). The window row_number is the reference's only
    * window-shaped operator (SURVEY.md §2.6 A5).
    */
  def dedupByKey(results: DataFrame, keyCol: String = "key",
                 scoreColName: String = "score", tieBreaker: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(desc(scoreColName), col(tieBreaker).asc)
    results.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Hydration join: resolve result keys back to source rows
    * (reference storage/django.py:224-240 — per-model `pk IN (...)` fetch;
    * in Spark one broadcast equi-join per source table). `sourceDf` rows are
    * keyed by `sourceKeyCol`; result keys of form `"<table>:<id>"` are parsed
    * with split. Result tables are tiny (k rows) so the JOIN build side is
    * the results — Catalyst broadcasts it automatically under AQE; we hint it.
    */
  def hydrate(results: DataFrame, sourceDf: DataFrame, table: String,
              sourceKeyCol: String, resultKeyCol: String = "key"): DataFrame = {
    val parsed = results
      .withColumn("__tbl", split(col(resultKeyCol), ":").getItem(0))
      .withColumn("__id", split(col(resultKeyCol), ":").getItem(1))
      .filter(col("__tbl") === lit(table))
    broadcast(parsed)
      .join(sourceDf, parsed("__id") === sourceDf(sourceKeyCol).cast("string"), "inner")
      .drop("__tbl", "__id")
  }

  /** search(q): embed the query (driver-side single call, reference
    * storage/base.py:303-316) → KNN → dedup by first object key. The KNN
    * page (≤ k full rows, one TakeOrderedAndProject job) is finished on
    * the driver ([[finishPage]]).
    */
  def search(index: DataFrame, query: String, backend: EmbeddingBackend,
             k: Int = 5, threshold: Double = 0.0,
             metric: Metric = Metric.Cosine): DataFrame =
    finishPage(keyed(knn(index, backend.embedOne(query).toSeq, k, threshold, metric)))

  /** find_similar(obj): per-chunk KNN of the probe object's own chunks,
    * union, dedup, exclude self (reference storage/base.py:278-301 — which
    * loops one similarity query per chunk). Here the probe chunks stay a
    * DataFrame and are BROADCAST into a single index scan ([[similarPage]]);
    * the ≤ chunks·k (doc_id, score) page is collected once, each doc keeps
    * its best score, and one read of the hit ids hydrates full documents for
    * the first-per-key dedup on the driver ([[hydratePage]]).
    */
  def findSimilar(index: DataFrame, probeKey: String, k: Int = 5,
                  threshold: Double = 0.0, metric: Metric = Metric.Cosine,
                  includeSelf: Boolean = false): DataFrame = {
    val page = similarPage(index, probeKey, k, threshold, metric)
    val (rows, schema) = hydratePage(index, page.collect().toSeq, page.schema("score"))
    localFrame(index.sparkSession,
      excludeKey(firstPerKey(rows, schema), schema, probeKey, includeSelf), schema)
  }

  /** The candidate page of [[findSimilar]]: score every (probe-chunk, doc)
    * pair over a NARROW (doc_id, vector) projection, bounded per-chunk top-k
    * via [[graft.ops.SimilaritySearch.topKByProbe]] (partial aggregation
    * keeps ≤ k rows per chunk per partition — the one shuffle carries
    * O(chunks·k), where a window row_number would shuffle every row passing
    * the threshold, i.e. the scored corpus). Output (doc_id, score), one row
    * per (chunk, hit).
    */
  private[graft] def similarPage(index: DataFrame, probeKey: String, k: Int,
                                 threshold: Double, metric: Metric): DataFrame = {
    val probes = index
      .filter(array_contains(col("object_keys"), probeKey))
      .select(col("doc_id").as("__qid"), col("vector").as("__qv"))
    val scored = index.select(col("doc_id"), col("vector")).crossJoin(broadcast(probes))
      .select(col("__qid"), col("doc_id"),
        scoreColOf(col("vector"), col("__qv"), metric).as("score"))
      .filter(col("score") >= lit(threshold))
    graft.ops.SimilaritySearch.topKByProbe(scored, k, "__qid", "doc_id")
      .select(col("doc_id"), col("score"))
  }

  final case class QueryResponse(response: String, sources: DataFrame)

  /** R4: streaming twin of [[QueryResponse]] — `response` yields the chat
    * reply incrementally (reference AsyncQueryResponse, storage/base.py:37-44).
    */
  final case class StreamingQueryResponse(response: Iterator[String], sources: DataFrame)

  val DefaultSystemPrompt: String =
    "You are a helpful assistant. Use the following context to answer the question. Don't mention the context in your reply."

  /** RAG query: search → merge contexts with "\n" → 3-message prompt → chat
    * (reference storage/base.py:194-228). The merged context is built from
    * the RAW top-k chunk hits BEFORE object dedup — the reference assembles
    * merged_context from similar_documents (base.py:214) and dedups only the
    * sources list — so two chunks of one object both contribute content.
    * `sourcesLimit` IS honored here — the reference accepts it but drops it
    * (base.py:197,208-212, quirk O4); divergence documented in SURVEY.md §7.
    * Context and sources come from ONE collected KNN page.
    */
  def ragQuery(index: DataFrame, query: String, embedBackend: EmbeddingBackend,
               chatBackend: ChatBackend, sourcesLimit: Int = 5,
               threshold: Double = 0.0, systemPrompt: String = DefaultSystemPrompt): QueryResponse = {
    val (messages, sources) = ragPrompt(index, query, embedBackend, sourcesLimit, threshold, systemPrompt)
    QueryResponse(chatBackend.chat(messages), sources)
  }

  /** R4: streaming RAG query — identical retrieval/prompt assembly to
    * [[ragQuery]], but the chat response arrives as a chunk iterator
    * (reference aquery with stream=True, storage/base.py:230-276; the
    * stream wrapper yields chunk contents, base.py:269-276).
    */
  def ragQueryStream(index: DataFrame, query: String, embedBackend: EmbeddingBackend,
                     chatBackend: ChatBackend, sourcesLimit: Int = 5,
                     threshold: Double = 0.0,
                     systemPrompt: String = DefaultSystemPrompt): StreamingQueryResponse = {
    val (messages, sources) = ragPrompt(index, query, embedBackend, sourcesLimit, threshold, systemPrompt)
    StreamingQueryResponse(chatBackend.chatStream(messages), sources)
  }

  private def ragPrompt(index: DataFrame, query: String, embedBackend: EmbeddingBackend,
                        sourcesLimit: Int, threshold: Double,
                        systemPrompt: String): (Seq[ChatMessage], DataFrame) = {
    val page = keyed(knn(index, embedBackend.embedOne(query).toSeq, sourcesLimit, threshold))
    val rows = page.collect().toSeq
    (ragMessages(rows, page.schema, query, systemPrompt),
      localFrame(index.sparkSession, firstPerKey(rows, page.schema), page.schema))
  }

  /** The RAG prompt of one ranked chunk page: the context is every chunk's
    * content in rank order. Its sources are the page deduped per object key.
    */
  private[graft] def ragMessages(rows: Seq[Row], schema: StructType, query: String,
                                 systemPrompt: String): Seq[ChatMessage] = {
    val content = schema.fieldIndex("content")
    val context = rows.sorted(byRank(schema)).map(_.getString(content)).mkString("\n")
    Seq(
      ChatMessage("system", systemPrompt),
      ChatMessage("system", context),
      ChatMessage("user", query))
  }

  // ---- candidate-page finish -------------------------------------------
  //
  // Every query path collects its bounded candidate page once (≤ probes·k
  // rows — the TakeOrderedAndProject and TopK-aggregator results already
  // land on the driver) and finishes it here: threshold, best score per
  // doc, first-per-key dedup and self-exclusion run over those local rows,
  // with Spark's ordering, and the result is a DataFrame over the rows.

  /** The first object key of each hit — the dedup key. */
  private[graft] def keyed(hits: DataFrame): DataFrame =
    hits.withColumn("key", col("object_keys").getItem(0))

  /** Spark's order of two doubles (`SQLOrderingUtil.compareDoubles`): -0.0
    * equals 0.0, NaN equals itself and sorts above every other value. A
    * `score >= threshold` filter is `compareScores(score, threshold) >= 0`.
    */
  private[graft] def compareScores(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  private def doubleAt(r: Row, i: Int): Double = r.get(i).asInstanceOf[Number].doubleValue

  /** Rank order of page rows: score descending, then doc_id ascending —
    * [[dedupByKey]]'s window order and [[knn]]'s sort.
    */
  private[graft] def byRank(schema: StructType): Ordering[Row] = {
    val s = schema.fieldIndex("score")
    val d = schema.fieldIndex("doc_id")
    (a: Row, b: Row) => {
      val c = compareScores(doubleAt(b, s), doubleAt(a, s))
      if (c != 0) c
      else java.lang.Long.compare(a.get(d).asInstanceOf[Number].longValue,
        b.get(d).asInstanceOf[Number].longValue)
    }
  }

  /** The first row per `key` in rank order — [[dedupByKey]] over a
    * collected page — returned in rank order. A null key is one key, as in
    * the window's partitioning.
    */
  private[graft] def firstPerKey(rows: Seq[Row], schema: StructType): Seq[Row] = {
    val k = schema.fieldIndex("key")
    val seen = new java.util.HashSet[Any]()
    rows.sorted(byRank(schema)).filter(r => seen.add(r.get(k)))
  }

  /** find_similar's self-exclusion, `key =!= probeKey` (a null key fails it). */
  private[graft] def excludeKey(rows: Seq[Row], schema: StructType, probeKey: String,
                                includeSelf: Boolean): Seq[Row] =
    if (includeSelf) rows
    else {
      val k = schema.fieldIndex("key")
      rows.filter(r => r.get(k) != null && r.get(k) != probeKey)
    }

  /** Collect a page of full rows (with `score` and `key`) and finish it:
    * first per key, in rank order.
    */
  private[graft] def finishPage(page: DataFrame): DataFrame =
    localFrame(page.sparkSession, firstPerKey(page.collect().toSeq, page.schema), page.schema)

  /** Hydrate a collected (doc_id, score) page with ONE read of its ids:
    * rows shaped like `page.join(docs, Seq("doc_id"))` plus `key` — doc_id,
    * score, the other document columns, key — in rank order, one per
    * (page row, document row) pair. A doc hit by several probes keeps its
    * best score. Scores are thresholded before this by the caller. The read
    * is [[idRows]]'.
    */
  private[graft] def hydratePage(docs: DataFrame, page: Seq[Row],
                                 scoreField: StructField): (Seq[Row], StructType) =
    hydrate(docs.schema, page, scoreField)(idRows(docs, _))

  /** [[hydratePage]] over a planned scan: the ids are read with
    * [[VersionScan.byIds]].
    */
  private[graft] def hydratePage(scan: VersionScan, page: Seq[Row],
                                 scoreField: StructField): (Seq[Row], StructType) =
    hydrate(scan.schema, page, scoreField)(scan.byIds)

  private[graft] def hydrate(docSchema: StructType, page: Seq[Row], scoreField: StructField)(
      read: Set[Long] => Seq[Row]): (Seq[Row], StructType) = {
    val best = scala.collection.mutable.LinkedHashMap.empty[Long, Double]
    page.foreach { r =>
      val id = r.getLong(0)
      val s = doubleAt(r, 1)
      if (best.get(id).forall(compareScores(s, _) > 0)) best(id) = s
    }
    val idIdx = docSchema.fieldIndex("doc_id")
    val keysIdx = docSchema.fieldIndex("object_keys")
    val others = docSchema.fields.indices.filter(_ != idIdx)
    val schema = StructType(docSchema(idIdx) +: scoreField +: others.map(docSchema.fields(_)) :+
      keyField(docSchema))
    val docRows = if (best.isEmpty) Nil else read(best.keySet.toSet)
    val byId = docRows.groupBy(_.get(idIdx).asInstanceOf[Number].longValue)
    val rows = best.toSeq.flatMap { case (id, score) =>
      byId.getOrElse(id, Nil).map { d =>
        val keys = d.getSeq[Any](keysIdx)
        val key = if (keys == null || keys.isEmpty) null else keys.head
        Row.fromSeq(d.get(idIdx) +: score +: others.map(d.get) :+ key)
      }
    }
    (rows.sorted(byRank(schema)), schema)
  }

  /** The rows of `docs` whose doc_id is one of `ids`. The ids are bound as
    * one `InSet`: the filter is pushed into the parquet scan and its
    * generated code is the same for every id set, so a new id set compiles
    * no class.
    */
  private[graft] def idRows(docs: DataFrame, ids: Set[Long]): Seq[Row] = {
    // a HashSet at every size: the generated code names the set's class,
    // and Scala's small sets (Set1..Set4) would each compile their own
    val set = scala.collection.immutable.HashSet.from[Any](ids)
    docs.filter(toColumn(InSet(toExpression(col("doc_id").cast(LongType)), set))).collect().toSeq
  }

  // ---- pages read from a planned scan ----------------------------------

  /** The [[knn]] page of `keyed(knn(...))` read from a planned scan: the
    * document columns, `score` and `key`, in rank order. One job.
    */
  private[graft] def knnPage(scan: VersionScan, queryVec: Seq[Float], k: Int, threshold: Double,
                             metric: Metric): (Seq[Row], StructType) = {
    val hits = scan.topK(Seq(queryVec), k, threshold, metric).head
    (hits.map(h => Row.fromSeq(h.row.toSeq :+ h.score :+ h.key)),
      scan.schema.add(ScoreField).add(keyField(scan.schema)))
  }

  /** [[findSimilar]]'s hydrated page, read from a planned scan: one job
    * for the probe object's chunks and one multi-probe top-k, both over the
    * narrow (doc_id, vector, object_keys) projection, then the scan's read
    * of the hit ids ([[VersionScan.byIds]]). A key with no documents runs
    * the first job only.
    */
  private[graft] def similarRows(scan: VersionScan, probeKey: String, k: Int, threshold: Double,
                                 metric: Metric): (Seq[Row], StructType) = {
    val hits = scan.topKIds(scan.withKey(probeKey).map(_._2), k, threshold, metric)
    hydratePage(scan, hits.map { case (id, score) => Row(id, score) }, ScoreField)
  }

  /** The `key` field a page adds: the type of an `object_keys` element. */
  private def keyField(docSchema: StructType): StructField = docSchema("object_keys").dataType match {
    case org.apache.spark.sql.types.ArrayType(t, _) => StructField("key", t, nullable = true)
    case t => throw new IllegalArgumentException(s"object_keys must be an array, got $t")
  }

  /** The `score` field of the [[knn]] and [[similarPage]] pages. */
  private[graft] val ScoreField = StructField("score", DoubleType, nullable = true)

  /** A DataFrame over rows already on the driver (a LocalRelation:
    * collecting, projecting or filtering it runs no Spark job).
    */
  private[graft] def localFrame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
}
