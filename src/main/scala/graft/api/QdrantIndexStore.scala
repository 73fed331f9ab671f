package graft.api

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, DoubleType, StructType}

/** Serializable qdrant wire client — the executor-shippable half of
  * [[QdrantIndexStore]]. Point uploads above the store's threshold run as
  * per-partition PUTs from executors, so the closure captures THIS (plain
  * strings and numbers), never the SparkSession or the store.
  *
  * The wire shapes are qdrant's literal REST API, the same calls the
  * reference's provider issues through qdrant_client
  * (storage/qdrant/provider.py:34-104):
  * {{{
  *   GET    /collections/{name}                    exists probe (200 | 404)
  *   PUT    /collections/{name}                    {"vectors": {"size": N, "distance": "Cosine"}}
  *   DELETE /collections/{name}
  *   PUT    /collections/{name}/points?wait=true   {"points": [{"id", "vector", "payload"}]}
  *   POST   /collections/{name}/points             {"ids": [...]} retrieve-by-id
  *   POST   /collections/{name}/points/scroll      {"limit", "offset", "with_payload", "with_vector"}
  *   POST   /collections/{name}/points/delete      {"points": [ids]}
  *   POST   /collections/{name}/points/search      {"vector", "limit", "score_threshold", "filter"}
  * }}}
  *
  * Every mutation goes through the ID-KEYED points upsert: qdrant replaces a
  * point whose id already exists, so a retry after an ambiguous failure
  * (server committed, response lost) rewrites the same points instead of
  * duplicating them — retries are idempotent by wire design.
  */
final case class QdrantWire(base: String, collection: String,
                            apiKey: Option[String],
                            maxRetries: Int, backoffMs: Long,
                            requestTimeoutMs: Long,
                            uploadBatchRows: Int) extends StoreWire {

  def collectionUrl: String = s"$base/collections/$collection"
  def pointsUrl: String = s"$collectionUrl/points"

  /** Document row JSON → qdrant PointStruct: id = doc_id, vector = the
    * vector column, payload = every remaining column INCLUDING the vector
    * (the reference maps id=document.pk / vector / payload=metadata the
    * same way, provider.py:45-52). The vector is deliberately duplicated
    * into the payload: a real qdrant server NORMALIZES stored vectors for
    * Cosine collections and returns the normalized copy on
    * scroll/retrieve/search, so round-tripping through the point's own
    * vector field would alter non-unit vectors — the payload copy is what
    * `read()` restores, keeping write/read fidelity exact.
    */
  def pointOf(rowJson: String): ObjectNode = {
    val (row, id, vector) = keyedRow(rowJson)
    val pt = mapper.createObjectNode()
    pt.put("id", id)
    pt.set[JsonNode]("vector", vector.deepCopy[JsonNode]())
    row.remove("doc_id")
    pt.set[JsonNode]("payload", row)
    pt
  }

  /** Id-keyed points upsert — `?wait=true` so a 200 means the points are
    * readable (the reference's client defaults to waiting the same way).
    */
  protected def uploadBatch(batch: Seq[String]): Unit = {
    val root = mapper.createObjectNode()
    val pts = root.putArray("points")
    batch.foreach(r => pts.add(pointOf(r)))
    expect200("PUT", s"$pointsUrl?wait=true", Some(mapper.writeValueAsString(root)))
  }
}

/** [[IndexStore]] speaking qdrant's LITERAL REST wire protocol — the
  * connector a real qdrant server accepts, unlike the generic
  * [[RestIndexStore]] dialect. Mirrors the reference's qdrant provider
  * call-for-call (storage/qdrant/provider.py):
  *
  *  - `replace` = delete_collection + create_collection + upsert
  *    (rebuild_index, provider.py:34-42; NOT atomic — neither is the
  *    reference's, a reader mid-rebuild sees the partial collection);
  *  - `insertPrechecked`/`upsert` = `PUT /points` PointStructs
  *    (provider.py:44-55) — old-wins enforced CLIENT-side
  *    ([[RemoteIndexStore]]) against an ids-only scroll, because qdrant's
  *    own upsert is new-wins by id;
  *  - `delete` = `POST /points/delete` PointIdsList (provider.py:57-61);
  *  - [[searchSimilar]] = `POST /points/search` with `score_threshold`
  *    (get_similar_documents, provider.py:63-104) — similarity search runs
  *    SERVER-side, the driver only receives the k hits.
  *
  * Spark schema fidelity: qdrant collections carry no schema metadata, so
  * the store writes ONE reserved meta point (UUID zero id, zero vector)
  * whose payload holds the Spark schema JSON; reads parse payloads
  * schema-directed (exact array<float>/map types, no inference) and searches
  * exclude the meta point with a `must_not has_id` filter.
  *
  * Scale posture: reads are driver-mediated (scroll pages through one JVM —
  * this is a serving-index connector, like the reference's own providers),
  * but WRITES distribute ([[RemoteIndexStore]]'s upload).
  */
final class QdrantIndexStore(spark: SparkSession, base: String,
                             collection: String, dims: Int,
                             apiKey: Option[String] = None,
                             maxRetries: Int = 3, backoffMs: Long = 200,
                             requestTimeoutMs: Long = 60000,
                             uploadBatchRows: Int = 500,
                             executorUploadMinRows: Long = 10000,
                             scrollBatchRows: Int = 1000)
    extends RemoteIndexStore(spark, executorUploadMinRows) with ServerSideSearch {
  import QdrantIndexStore.SchemaPointId

  protected val wire: QdrantWire = QdrantWire(base, collection, apiKey, maxRetries,
    backoffMs, requestTimeoutMs, uploadBatchRows)
  protected def collectionUrl: String = wire.collectionUrl

  private def createCollection(): Unit = {
    val root = mapper.createObjectNode()
    val vectors = root.putObject("vectors")
    vectors.put("size", dims)
    vectors.put("distance", "Cosine")
    wire.expect200("PUT", collectionUrl, Some(mapper.writeValueAsString(root)))
  }

  private def putSchemaPoint(schema: StructType): Unit = {
    val root = mapper.createObjectNode()
    val pts = root.putArray("points")
    val pt = pts.addObject()
    pt.put("id", SchemaPointId)
    val vec = pt.putArray("vector")
    (0 until dims).foreach(_ => vec.add(0.0f))
    pt.putObject("payload").put("__graft_schema", schema.json)
    wire.expect200("PUT", s"${wire.pointsUrl}?wait=true",
      Some(mapper.writeValueAsString(root)))
  }

  override def replace(docs: DataFrame): Unit = {
    val d = docs.dropDuplicates("doc_id")
    // reference rebuild_index: delete_collection + create_collection + upsert
    // (provider.py:34-42). Not atomic — qdrant has no versioned swap; a
    // failed upload leaves a partial collection, exactly like the reference.
    // A real delete failure surfaces HERE, not as a baffling 409 from the
    // create that follows
    wire.deleteIfExists(collectionUrl)
    createCollection()
    putSchemaPoint(d.schema)
    upload(d)
  }

  /** Ids currently in the collection (payload- and vector-free scroll — the
    * cheapest read qdrant offers), excluding the schema meta point.
    */
  protected def existingIds(): Seq[Long] = {
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    scroll(withPayload = false, withVector = false) { p =>
      val id = p.path("id")
      if (!id.isTextual) ids += id.asLong()
    }
    ids.toSeq
  }

  /** Scroll the whole collection, invoking `f` per point; follows
    * `next_page_offset` (opaque to the client) until the server returns null.
    */
  private def scroll(withPayload: Boolean, withVector: Boolean)(f: JsonNode => Unit): Unit = {
    var offset: Option[JsonNode] = None
    var more = true
    while (more) {
      val root = mapper.createObjectNode()
      root.put("limit", scrollBatchRows)
      root.put("with_payload", withPayload)
      root.put("with_vector", withVector)
      offset.foreach(o => root.set[JsonNode]("offset", o))
      val resp = wire.expect200("POST", s"${wire.pointsUrl}/scroll",
        Some(mapper.writeValueAsString(root)))
      val result = mapper.readTree(resp).path("result")
      result.path("points").forEach(f(_))
      val next = result.path("next_page_offset")
      if (next.isMissingNode || next.isNull) more = false
      else offset = Some(next)
    }
  }

  /** Stored Spark schema, from the reserved meta point (retrieve-by-id). */
  private def storedSchema(): StructType = {
    val root = mapper.createObjectNode()
    root.putArray("ids").add(SchemaPointId)
    root.put("with_payload", true)
    val resp = wire.expect200("POST", wire.pointsUrl,
      Some(mapper.writeValueAsString(root)))
    val result = mapper.readTree(resp).path("result")
    if (!result.isArray || result.size() == 0)
      throw new IllegalStateException(
        s"collection $collection carries no graft schema point — not a graft-written collection?")
    val json = result.path(0).path("payload").path("__graft_schema").asText()
    DataType.fromJson(json).asInstanceOf[StructType]
  }

  /** Point → document row JSON: payload columns (the vector comes from the
    * payload copy, NOT the point's vector field, which a real Cosine
    * collection returns normalized) + doc_id from the point id — inverse of
    * [[QdrantWire.pointOf]].
    */
  private def rowJsonOf(p: JsonNode): String = {
    val row = p.path("payload").asInstanceOf[ObjectNode]
    row.put("doc_id", p.path("id").asLong())
    row.toString
  }

  override def read(): DataFrame = {
    if (!exists) throw new IllegalStateException(
      s"collection $collection does not exist")
    var schemaJson: Option[String] = None
    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    // vectors restore from the payload copy — no need to ship the (possibly
    // normalized) stored vectors over the wire at all
    scroll(withPayload = true, withVector = false) { p =>
      val id = p.path("id")
      if (id.isTextual && id.asText() == SchemaPointId)
        schemaJson = Some(p.path("payload").path("__graft_schema").asText())
      else rows += rowJsonOf(p)
    }
    val schema = schemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .getOrElse(throw new IllegalStateException(
        s"collection $collection carries no graft schema point — not a graft-written collection?"))
    rowsOf(schema, rows.toSeq)
  }

  override def delete(docIds: Seq[Long]): Unit = if (docIds.nonEmpty && exists) {
    val root = mapper.createObjectNode()
    val pts = root.putArray("points")
    docIds.foreach(pts.add)
    wire.expect200("POST", s"${wire.pointsUrl}/delete?wait=true",
      Some(mapper.writeValueAsString(root)))
  }

  /** SERVER-side similarity search (reference get_similar_documents,
    * provider.py:63-104): `POST /points/search`, cosine score, with the
    * similarity threshold passed straight through as qdrant's
    * `score_threshold` (only when > 0, like the reference). Returns the
    * stored document schema plus a `score` double column; the meta point is
    * excluded with a `must_not has_id` filter.
    */
  override def searchSimilar(queryVector: Seq[Float], limit: Int = 5,
                             similarityThreshold: Double = 0.0): DataFrame = {
    require(similarityThreshold >= 0 && similarityThreshold <= 1,
      "similarity_threshold must be between 0 and 1") // provider.py:88-89
    val schema = storedSchema()
    val root = mapper.createObjectNode()
    val vec = root.putArray("vector")
    queryVector.foreach(vec.add)
    root.put("limit", limit)
    root.put("with_payload", true)
    root.put("with_vector", true)
    if (similarityThreshold > 0) root.put("score_threshold", similarityThreshold)
    root.putObject("filter").putArray("must_not")
      .addObject().putArray("has_id").add(SchemaPointId)
    val resp = wire.expect200("POST", s"${wire.pointsUrl}/search",
      Some(mapper.writeValueAsString(root)))
    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    mapper.readTree(resp).path("result").forEach { hit =>
      val row = mapper.readTree(rowJsonOf(hit)).asInstanceOf[ObjectNode]
      row.put("score", hit.path("score").asDouble())
      rows += row.toString
    }
    rowsOf(schema.add("score", DoubleType), rows.toSeq)
  }
}

object QdrantIndexStore {
  /** Reserved qdrant point id (UUID form) carrying the Spark schema JSON —
    * excluded from every read and search.
    */
  val SchemaPointId = "00000000-0000-0000-0000-000000000000"
}
