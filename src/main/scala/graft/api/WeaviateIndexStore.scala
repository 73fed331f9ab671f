package graft.api

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, DoubleType, StructType}

/** Serializable weaviate wire client — the executor-shippable half of
  * [[WeaviateIndexStore]] (same split as [[QdrantWire]]): batch-object
  * uploads above the store's threshold POST per-partition from executors,
  * capturing only these plain fields.
  *
  * Wire shapes are weaviate's literal REST/GraphQL API, the calls the
  * reference's provider issues through the weaviate client
  * (storage/weaviate/provider.py:35-121):
  * {{{
  *   GET    /v1/schema/{Class}            exists probe (200 | 404)
  *   POST   /v1/schema                    {"class", "description", "vectorizer": "none", "properties"}
  *   DELETE /v1/schema/{Class}
  *   POST   /v1/batch/objects             {"objects": [{"class", "id", "properties", "vector"}]}
  *   GET    /v1/objects?class=&limit=&after=   cursor-paged listing
  *   DELETE /v1/batch/objects             {"match": {"class", "where": {...}}}
  *   POST   /v1/graphql                   Get { Class(nearVector: ...) { ... } }
  * }}}
  *
  * Object ids are DETERMINISTIC UUIDs derived from doc_id, and weaviate
  * replaces a batch object whose id already exists — so, like the qdrant
  * connector, a retry after an ambiguous failure rewrites instead of
  * duplicating: idempotent by wire design.
  */
final case class WeaviateWire(base: String, className: String,
                              apiKey: Option[String],
                              maxRetries: Int, backoffMs: Long,
                              requestTimeoutMs: Long,
                              uploadBatchRows: Int) extends StoreWire {

  /** URL of a `/v1/` API path. */
  def v1(path: String): String = s"$base/v1/$path"

  /** doc_id → deterministic weaviate object UUID (weaviate requires UUID
    * ids; deriving them from doc_id keeps uploads id-keyed and retryable).
    */
  def uuidOf(docId: Long): String = new java.util.UUID(0L, docId).toString

  /** Document row JSON → weaviate batch object. The FULL row rides in a
    * `doc_json` text property — the reference stores its metadata as a JSON
    * string for the same reason ("otherwise we need to explicitly request
    * each field back in the query", provider.py:46-59) — alongside an
    * `embedding_pk` int property (the reference's own field) used for
    * where-filter deletes, plus the vector for nearVector search.
    */
  def objectOf(rowJson: String): ObjectNode = {
    val (_, id, vector) = keyedRow(rowJson)
    val o = mapper.createObjectNode()
    o.put("class", className)
    o.put("id", uuidOf(id))
    val props = o.putObject("properties")
    props.put("doc_json", rowJson)
    props.put("embedding_pk", id)
    o.set[JsonNode]("vector", vector)
    o
  }

  /** Id-keyed batch-objects POST. A real weaviate batch insert reports
    * PER-OBJECT failures inside a 200 response (each element carries
    * result.status / result.errors — e.g. a vector length mismatch fails
    * only that object), so the response array is inspected and any FAILED
    * element raises loudly instead of being silently dropped from the index.
    */
  protected def uploadBatch(batch: Seq[String]): Unit = {
    val root = mapper.createObjectNode()
    val objs = root.putArray("objects")
    batch.foreach(r => objs.add(objectOf(r)))
    val results = mapper.readTree(expect200("POST", v1("batch/objects"),
      Some(mapper.writeValueAsString(root))))
    if (results.isArray) results.forEach { r =>
      if (r.path("result").path("status").asText("") == "FAILED")
        throw new IllegalStateException(
          s"batch object ${r.path("id").asText()} failed: " +
            r.path("result").path("errors").toString.take(500))
    }
  }
}

/** [[IndexStore]] speaking weaviate's LITERAL REST + GraphQL wire protocol —
  * closing S9 with the real dialect rather than the generic
  * [[RestIndexStore]] one. Mirrors the reference's weaviate provider
  * (storage/weaviate/provider.py):
  *
  *  - `replace` = schema.delete_class + schema.create_class + batched
  *    add_data_object (rebuild_index + upsert, provider.py:35-59; not
  *    atomic — neither is the reference's);
  *  - documents ride as a JSON-string property exactly like the reference's
  *    `metadata` (provider.py:48-57), so reads are schema-directed parses;
  *  - [[searchSimilar]] = GraphQL `Get { Class(nearVector: ...) }` with the
  *    similarity threshold converted to weaviate's cosine DISTANCE
  *    (distance = 1 - similarity, provider.py:93-103) and
  *    `_additional { distance vector }` requested back (provider.py:105-121);
  *  - `delete` uses weaviate's batch-delete-by-where-filter
  *    (`ContainsAny` on embedding_pk) — the reference leaves delete
  *    `NotImplementedError` (provider.py:61-63); this connector implements
  *    it with the real dialect instead of inheriting the gap.
  *
  * Weaviate class names must match `[A-Z][_0-9A-Za-z]*`, so the collection
  * name is sanitized deterministically ([[WeaviateIndexStore.classNameOf]]).
  * The Spark schema JSON travels in the class `description`, so a fresh
  * session reads exact types back. Scale posture matches the qdrant
  * connector: driver-mediated reads (serving-sized indexes), uploads and
  * old-wins upserts as [[RemoteIndexStore]] runs them.
  */
final class WeaviateIndexStore(spark: SparkSession, base: String,
                               collection: String,
                               apiKey: Option[String] = None,
                               maxRetries: Int = 3, backoffMs: Long = 200,
                               requestTimeoutMs: Long = 60000,
                               uploadBatchRows: Int = 500,
                               executorUploadMinRows: Long = 10000,
                               listBatchRows: Int = 1000)
    extends RemoteIndexStore(spark, executorUploadMinRows) with ServerSideSearch {

  val className: String = WeaviateIndexStore.classNameOf(collection)
  protected val wire: WeaviateWire = WeaviateWire(base, className, apiKey, maxRetries,
    backoffMs, requestTimeoutMs, uploadBatchRows)
  protected def collectionUrl: String = wire.v1(s"schema/$className")

  private def createClass(schema: StructType): Unit = {
    val root = mapper.createObjectNode()
    root.put("class", className)
    root.put("description", schema.json) // schema JSON rides the class description
    root.put("vectorizer", "none")       // vectors are provided, never server-computed
    val props = root.putArray("properties")
    val pj = props.addObject(); pj.put("name", "doc_json"); pj.putArray("dataType").add("text")
    val pk = props.addObject(); pk.put("name", "embedding_pk"); pk.putArray("dataType").add("int")
    wire.expect200("POST", wire.v1("schema"), Some(mapper.writeValueAsString(root)))
  }

  override def replace(docs: DataFrame): Unit = {
    val d = docs.dropDuplicates("doc_id")
    // reference rebuild_index: delete_class + create_class + upsert
    // (provider.py:35-44); like it, not atomic. A real delete failure
    // surfaces here instead of as a confusing duplicate-class error
    wire.deleteIfExists(collectionUrl)
    createClass(d.schema)
    upload(d)
  }

  private def storedSchema(): StructType = {
    val body = wire.expect200("GET", collectionUrl, None)
    val json = mapper.readTree(body).path("description").asText()
    if (json.isEmpty) throw new IllegalStateException(
      s"class $className carries no graft schema description — not a graft-written class?")
    DataType.fromJson(json).asInstanceOf[StructType]
  }

  /** Cursor-paged object listing (`after` = last id of the previous page —
    * weaviate's exhaustive-listing API), invoking `f` per object node.
    */
  private def listObjects(include: Option[String])(f: JsonNode => Unit): Unit = {
    var after: Option[String] = None
    var more = true
    while (more) {
      val inc = include.map(i => s"&include=$i").getOrElse("")
      val afterQ = after.map(a => s"&after=$a").getOrElse("")
      val body = wire.expect200("GET",
        wire.v1(s"objects?class=$className&limit=$listBatchRows$inc$afterQ"), None)
      val objs = mapper.readTree(body).path("objects")
      var last: Option[String] = None
      objs.forEach { o => f(o); last = Some(o.path("id").asText()) }
      if (objs.size() < listBatchRows || last.isEmpty) more = false
      else after = last
    }
  }

  override def read(): DataFrame = {
    if (!exists) throw new IllegalStateException(s"class $className does not exist")
    val schema = storedSchema()
    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    listObjects(include = None) { o =>
      rows += o.path("properties").path("doc_json").asText()
    }
    rowsOf(schema, rows.toSeq)
  }

  protected def existingIds(): Seq[Long] = {
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    listObjects(include = None) { o =>
      ids += o.path("properties").path("embedding_pk").asLong()
    }
    ids.toSeq
  }

  /** Batch delete by where-filter — `ContainsAny` over the embedding_pk
    * property with the array-typed `valueIntArray` operand weaviate's
    * filter dialect requires for array operators (scalar `valueInt` is for
    * Equal-style operators). (The reference's weaviate delete is
    * NotImplementedError, provider.py:61-63.)
    */
  override def delete(docIds: Seq[Long]): Unit = if (docIds.nonEmpty && exists) {
    val root = mapper.createObjectNode()
    val m = root.putObject("match")
    m.put("class", className)
    val where = m.putObject("where")
    val path = where.putArray("path"); path.add("embedding_pk")
    where.put("operator", "ContainsAny")
    val vals = where.putArray("valueIntArray")
    docIds.foreach(vals.add)
    wire.expect200("DELETE", wire.v1("batch/objects"),
      Some(mapper.writeValueAsString(root)))
  }

  /** SERVER-side similarity search: GraphQL `nearVector` with the threshold
    * converted to a cosine-distance bound (reference get_similar_documents,
    * provider.py:65-121; the reference wraps the distance in a list —
    * `{"distance": [d]}` — which the weaviate API does not accept, so this
    * connector sends the scalar the server expects). Returns the stored
    * document schema plus a `score` double (1 - distance, back in
    * similarity terms).
    */
  override def searchSimilar(queryVector: Seq[Float], limit: Int = 5,
                             similarityThreshold: Double = 0.0): DataFrame = {
    require(similarityThreshold >= 0 && similarityThreshold <= 1,
      "similarity_threshold must be between 0 and 1") // provider.py:90-91
    val schema = storedSchema()
    val distanceArg =
      if (similarityThreshold > 0) s", distance: ${1 - similarityThreshold}" else ""
    val vec = queryVector.mkString("[", ", ", "]")
    val gql = s"{ Get { $className(limit: $limit, nearVector: {vector: $vec$distanceArg})" +
      " { doc_json embedding_pk _additional { distance vector } } } }"
    val root = mapper.createObjectNode()
    root.put("query", gql)
    val resp = wire.expect200("POST", wire.v1("graphql"),
      Some(mapper.writeValueAsString(root)))
    val tree = mapper.readTree(resp)
    val errors = tree.path("errors")
    if (errors.isArray && errors.size() > 0)
      throw new IllegalStateException(s"GraphQL query failed: ${errors.toString.take(500)}")
    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    tree.path("data").path("Get").path(className).forEach { hit =>
      val row = mapper.readTree(hit.path("doc_json").asText()).asInstanceOf[ObjectNode]
      row.put("score", 1.0 - hit.path("_additional").path("distance").asDouble())
      rows += row.toString
    }
    rowsOf(schema.add("score", DoubleType), rows.toSeq)
  }
}

object WeaviateIndexStore {
  /** Deterministic weaviate-legal class name (`[A-Z][_0-9A-Za-z]*`) for a
    * collection name: illegal characters become `_`, and a leading
    * lowercase letter is uppercased (a non-letter start gains a `C_`
    * prefix). A name the sanitization had to CHANGE gets a short md5
    * suffix of the original, so distinct collection names can never
    * silently share one class ("foo" vs "Foo", "a-b" vs "a_b" — without
    * the suffix a replace on one would destroy the other's documents).
    * Already-legal names pass through untouched.
    */
  def classNameOf(collection: String): String = {
    require(collection.nonEmpty, "collection name must be non-empty")
    if (collection.matches("[A-Z][_0-9A-Za-z]*")) collection
    else {
      val cleaned = collection.replaceAll("[^0-9A-Za-z_]", "_")
      val base =
        if (cleaned.head.isLower) cleaned.head.toUpper + cleaned.tail
        else if (cleaned.head.isUpper) cleaned
        else "C_" + cleaned
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(collection.getBytes("UTF-8"))
      val suffix = md.take(3).map(b => f"${b & 0xFF}%02x").mkString
      s"${base}_$suffix"
    }
  }
}
