package graft.api

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Serializable wire client for [[RestIndexStore]]'s graft REST dialect —
  * the executor-shippable half (same split as [[QdrantWire]] /
  * [[WeaviateWire]]): point uploads above the store's threshold POST
  * per-partition from executors, capturing only these plain fields.
  */
final case class RestWire(base: String, collection: String,
                          apiKey: Option[String],
                          maxRetries: Int, backoffMs: Long,
                          requestTimeoutMs: Long,
                          uploadBatchRows: Int) extends StoreWire {

  def collectionUrl: String = s"$base/collections/$collection"
  def pointsUrl: String = s"$collectionUrl/points"

  /** Batched points POST. The wire append is an UPSERT KEYED BY doc_id
    * (the server replaces an existing id, like qdrant/weaviate points), so
    * a retry after an ambiguous failure (server committed, response lost)
    * rewrites the same rows instead of duplicating them — idempotent.
    */
  protected def uploadBatch(batch: Seq[String]): Unit = {
    val root = mapper.createObjectNode()
    val pts = root.putArray("points")
    batch.foreach(r => pts.add(mapper.readTree(r)))
    expect200("POST", pointsUrl, Some(mapper.writeValueAsString(root)))
  }
}

/** [[IndexStore]] connector against a remote REST collection service — the
  * generic graft REST dialect (the qdrant/weaviate LITERAL wire protocols
  * live in [[QdrantIndexStore]] / [[WeaviateIndexStore]]; this one is the
  * clean protocol a new service would implement). Shaped like the providers
  * the reference ships (storage/qdrant/provider.py:44-104,
  * storage/weaviate/provider.py:46-121): a named collection of JSON points
  * keyed by integer doc_id, mutated over HTTP.
  *
  * Wire protocol (what the contract suite pins):
  * {{{
  *   GET    {base}/collections/{name}               -> 200 {"schema": <json>} | 404
  *   PUT    {base}/collections/{name}               {"schema": <json>, "points": [...]}
  *                                                  — ONE request recreates the
  *                                                  collection: schema and points
  *                                                  replace together (the server
  *                                                  applies both atomically, like
  *                                                  qdrant recreate_collection), so
  *                                                  no reader can observe the new
  *                                                  schema over the old points
  *   GET    {base}/collections/{name}/points        -> 200 {"points": [<rowJson>...]}
  *   POST   {base}/collections/{name}/points        {"points": [...]}   UPSERT keyed
  *                                                  by doc_id — the server replaces
  *                                                  an existing id, so retried
  *                                                  appends are idempotent
  *   POST   {base}/collections/{name}/points/delete {"ids": [...]}
  *   DELETE {base}/collections/{name}
  * }}}
  *
  * The collection stores the Spark schema JSON alongside the points, so a
  * fresh session reads rows back with exact types (array<float> vectors
  * survive the JSON round-trip via schema-directed parsing, not inference).
  * Retry, upload and old-wins upsert are [[RemoteIndexStore]]'s.
  *
  * Scale posture: reads are driver-mediated (this is a serving-index
  * connector), but WRITES distribute — batches of at least
  * `executorUploadMinRows` rows POST per-partition from executors via the
  * serializable [[RestWire]]. A `replace` above the threshold first PUTs
  * the schema with an empty point set, then appends per-partition: it
  * trades the small-replace single-request atomicity for a distributed
  * upload (the qdrant/weaviate providers' replace was never atomic either).
  */
final class RestIndexStore(spark: SparkSession, base: String, collection: String,
                           apiKey: Option[String] = None,
                           maxRetries: Int = 3, backoffMs: Long = 200,
                           requestTimeoutMs: Long = 60000,
                           uploadBatchRows: Int = 500,
                           executorUploadMinRows: Long = 10000)
    extends RemoteIndexStore(spark, executorUploadMinRows) {

  protected val wire: RestWire = RestWire(base, collection, apiKey, maxRetries,
    backoffMs, requestTimeoutMs, uploadBatchRows)
  protected def collectionUrl: String = wire.collectionUrl

  /** Stored points, each a document-row JSON. */
  private def points(): Seq[JsonNode] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[JsonNode]
    mapper.readTree(wire.expect200("GET", wire.pointsUrl, None)).path("points").forEach(p => buf += p)
    buf.toSeq
  }

  override def read(): DataFrame = {
    val meta = wire.getOption(collectionUrl).getOrElse(
      throw new IllegalStateException(s"collection $collection does not exist"))
    val schema = DataType.fromJson(mapper.readTree(meta).path("schema").asText())
      .asInstanceOf[StructType]
    rowsOf(schema, points().map(_.toString))
  }

  protected def existingIds(): Seq[Long] = points().map(_.path("doc_id").asLong())

  /** Below `executorUploadMinRows`, ONE request: schema and points replace
    * together (server-side atomic), so a concurrent reader sees either the
    * old collection or the new one — never the new schema parsed over the
    * old points, and a failed call leaves the old collection fully intact.
    * At or above it, the schema is PUT with an empty point set and the
    * points append per partition from executors.
    */
  override def replace(docs: DataFrame): Unit = withJson(docs.dropDuplicates("doc_id")) { (json, n) =>
    val small = n < executorUploadMinRows
    val body = mapper.createObjectNode()
    body.put("schema", docs.schema.json)
    val pts = body.putArray("points")
    if (small) json.collect().foreach(r => pts.add(mapper.readTree(r)))
    wire.expect200("PUT", collectionUrl, Some(mapper.writeValueAsString(body)))
    if (!small) ship(json, n)
  }

  override def delete(docIds: Seq[Long]): Unit = if (docIds.nonEmpty && exists) {
    val root = mapper.createObjectNode()
    val ids = root.putArray("ids")
    docIds.foreach(ids.add)
    wire.expect200("POST", s"${wire.pointsUrl}/delete",
      Some(mapper.writeValueAsString(root)))
  }
}
