package graft.api

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

import graft.embed.HttpSupport
import graft.query.VersionScan

/** Pluggable index storage — the Spark analog of the reference's
  * StorageProvider seam (storage/base.py:48-71, storage/__init__.py:29-49):
  * every index operation (`read`/`replace`/`upsert`/`delete`/`clear`) is a
  * provider op, so a qdrant/weaviate/pgvector-shaped connector only has to
  * implement this trait; the engine and [[VectorIndex]] never touch the
  * physical layout directly.
  *
  * Writer contract: compound mutations (`upsert`/`delete` are
  * read-then-replace) assume a SINGLE writer at a time. Concurrent writers
  * never corrupt storage (version dirs are reservation-protected), but the
  * HIGHEST-NUMBERED installed version wins resolution — a slower writer
  * holding a lower reserved number loses even if its flip marker lands
  * last — so one racing mutation's effect can be lost. Serialize writers
  * externally (e.g. one streaming query per index).
  */
trait IndexStore {
  /** Current index contents; throws if the index does not exist. */
  def read(): DataFrame

  /** None iff the index verifiably does NOT exist. A transient read failure
    * (FS hiccup, corrupt footer, permissions) PROPAGATES instead of being
    * mistaken for an empty index — `upsert`'s None branch would otherwise
    * replace the whole index with just the new batch.
    */
  def readOption(): Option[DataFrame] = if (exists) Some(read()) else None

  /** Atomically replace the whole index with `docs` (doc_id-deduped).
    * Readers holding a DataFrame from a previous `read()` keep working.
    */
  def replace(docs: DataFrame): Unit
  /** Conflict-ignore upsert, reference-faithful OLD-WINS semantics
    * (pgvector provider bulk_create(ignore_conflicts=True) keeps the
    * existing row on a doc_id conflict, provider.py:65-72) — and
    * deterministic, unlike a dropDuplicates over a union whose survivor
    * depends on partition order.
    */
  def upsert(docs: DataFrame): Unit
  def delete(docIds: Seq[Long]): Unit
  /** Remove every document; subsequent `read()` throws until re-written. */
  def clear(): Unit
  def exists: Boolean

  /** Insert rows the CALLER already proved conflict-free and doc_id-deduped
    * ([[VectorIndex.upsert]] runs the old-wins probe once for its ANN
    * maintenance) — impls override to skip re-deriving the conflict set
    * (the parquet store's second index scan, a REST store's second
    * full-collection download). Default: a plain `upsert`, which on a
    * conflict-free batch degenerates to the same insert.
    */
  private[graft] def insertPrechecked(inserted: DataFrame): Unit = upsert(inserted)

  /** [[read]] as a [[VersionScan]], together with a token of the version
    * it read, both from one snapshot: two reads with equal tokens have the
    * same contents, and every write yields a new token. `None` means the
    * store cannot tell, and nothing derived from the read may be reused
    * ([[VectorIndex]]'s page cache keys on this). A store with version
    * tokens keeps one scan per version, so a version is planned once; by
    * default every call gets a scan of its own.
    */
  private[graft] def readScan(): (VersionScan, Option[Any]) =
    (new VersionScan(read(), None), None)
}

/** Connector capability: the backing service answers similarity search
  * SERVER-side (qdrant `POST /points/search`, weaviate GraphQL
  * `nearVector`) — the reference's `get_similar_documents` runs there too
  * (storage/qdrant/provider.py:63-104, storage/weaviate/provider.py:65-121).
  * [[VectorIndex]] routes exact cosine searches through this instead of
  * downloading the collection and scanning it in Spark: only the k hits
  * cross the wire. Scores are cosine similarity; `similarityThreshold`
  * must be in [0, 1] and is only enforced server-side when > 0 (the
  * reference's convention — 0 means unfiltered).
  */
trait ServerSideSearch { this: IndexStore =>
  def searchSimilar(queryVector: Seq[Float], limit: Int = 5,
                    similarityThreshold: Double = 0.0): DataFrame
}

/** The executor-shippable half of a remote connector: plain serializable
  * settings, the retrying HTTP calls ([[HttpSupport]]'s policy: 429/5xx/IO
  * back off, other 4xx surface) and the batched upload of document-row
  * JSONs, one dialect request ([[uploadBatch]]) per `uploadBatchRows`
  * rows. An executor-side upload captures only this, never the
  * SparkSession or the store.
  */
trait StoreWire extends Serializable {
  def apiKey: Option[String]
  def maxRetries: Int
  def backoffMs: Long
  def requestTimeoutMs: Long
  def uploadBatchRows: Int

  @transient private lazy val http = HttpSupport.client(requestTimeoutMs)
  protected def mapper: ObjectMapper = HttpSupport.mapper

  private def send(method: String, url: String, body: Option[String]): (Int, String) =
    HttpSupport.sendWithRetry(http, method, url, body, apiKey, maxRetries,
      backoffMs, requestTimeoutMs)

  private def failure(method: String, url: String, status: Int, body: String) =
    new IllegalStateException(s"$method $url returned $status: ${body.take(500)}")

  def expect200(method: String, url: String, body: Option[String]): String =
    send(method, url, body) match {
      case (200, b) => b
      case (status, b) => throw failure(method, url, status, b)
    }

  /** GET `url`: its body on 200, None on 404; any other status throws. */
  def getOption(url: String): Option[String] = send("GET", url, None) match {
    case (200, b) => Some(b)
    case (404, _) => None
    case (status, b) => throw failure("GET", url, status, b)
  }

  /** DELETE `url`, accepting 404 (already gone); a real failure (5xx
    * after retries, 403) surfaces here.
    */
  def deleteIfExists(url: String): Unit = send("DELETE", url, None) match {
    case (200, _) | (404, _) => ()
    case (status, b) => throw failure("DELETE", url, status, b)
  }

  /** `rowJson` parsed, with its doc_id and its vector — what every vector
    * service keys and searches on; a row lacking either fails loudly.
    */
  protected def keyedRow(rowJson: String): (ObjectNode, Long, JsonNode) = {
    val row = mapper.readTree(rowJson).asInstanceOf[ObjectNode]
    val id = row.path("doc_id")
    require(id.canConvertToLong,
      s"document row lacks an integral doc_id: ${rowJson.take(200)}")
    val vector = row.path("vector")
    require(vector.isArray,
      s"document row lacks a vector array column: ${rowJson.take(200)}")
    (row, id.asLong(), vector)
  }

  /** One upload request carrying `batch`, a group of document-row JSONs. */
  protected def uploadBatch(batch: Seq[String]): Unit

  def uploadRowJsons(rows: Iterator[String]): Unit =
    rows.grouped(uploadBatchRows).foreach(uploadBatch)
}

/** What every remote connector ([[RestIndexStore]], [[QdrantIndexStore]],
  * [[WeaviateIndexStore]]) does the same way: the exists probe, the
  * 404-tolerant drop, the upload of document rows and the client-side
  * old-wins upsert. A connector supplies its dialect: URLs, the JSON shape
  * of a stored row, id listing, schema storage and search.
  *
  * Uploads run driver-side below `executorUploadMinRows` rows (no Spark job
  * for a small batch) and per partition from executors at or above it, so
  * a large index upload never serializes through the driver.
  */
abstract class RemoteIndexStore(spark: SparkSession, executorUploadMinRows: Long)
    extends IndexStore {
  protected def wire: StoreWire
  protected def mapper: ObjectMapper = HttpSupport.mapper
  /** GET answers 200 iff the collection exists and 404 iff not; DELETE
    * drops it.
    */
  protected def collectionUrl: String
  /** The doc_ids the collection holds. */
  protected def existingIds(): Seq[Long]

  override def exists: Boolean = wire.getOption(collectionUrl).isDefined

  override def clear(): Unit = wire.deleteIfExists(collectionUrl)

  /** Old-wins upsert. The services' own upserts replace by id (new-wins),
    * so the contract's old-wins semantics are enforced client-side: the
    * stored ids feed a broadcast anti-join that drops conflicting rows
    * before upload.
    */
  override def upsert(docs: DataFrame): Unit =
    if (!exists) replace(docs)
    else {
      import spark.implicits._
      insertPrechecked(docs
        .join(broadcast(existingIds().toDF("doc_id")), Seq("doc_id"), "left_anti")
        .dropDuplicates("doc_id"))
    }

  /** Conflict-free pre-deduped rows are uploaded as they are: no second
    * id listing (the caller already holds the conflict set).
    */
  override private[graft] def insertPrechecked(inserted: DataFrame): Unit =
    if (!exists) replace(inserted) else upload(inserted)

  protected def upload(docs: DataFrame): Unit = withJson(docs)(ship)

  /** Runs `f` on `docs` as JSON rows and their count, persisted across
    * both so the upstream plan (for `upsert`, a broadcast anti-join)
    * computes once.
    */
  protected def withJson(docs: DataFrame)(f: (Dataset[String], Long) => Unit): Unit = {
    val json = docs.toJSON.persist()
    try f(json, json.count())
    finally json.unpersist(false)
  }

  /** Upload the `n` rows of `json` through [[StoreWire.uploadRowJsons]]. */
  protected def ship(json: Dataset[String], n: Long): Unit =
    if (n > 0) {
      val w = wire
      if (n < executorUploadMinRows) w.uploadRowJsons(json.collect().iterator)
      else json.foreachPartition((it: Iterator[String]) => w.uploadRowJsons(it))
    }

  /** Document-row JSONs read with the stored schema: a schema-directed
    * parse (exact array<float>/map types, no inference).
    */
  protected def rowsOf(schema: StructType, rows: Seq[String]): DataFrame =
    spark.read.schema(schema).json(spark.createDataset(rows)(Encoders.STRING))
}

/** Parquet-backed store with versioned atomic swaps (see [[VersionedDir]]
  * for the layout and reader/writer guarantees). `keepVersions` controls how
  * many versions stay readable for in-flight readers (default 2 = current +
  * previous; raise it for long-running readers that may lag more rebuilds).
  * A root holding bare parquet files and no version is not a store: reads
  * and writes on it throw `IllegalStateException`.
  */
final class ParquetIndexStore(spark: SparkSession, root: String,
                              keepVersions: Int = 2,
                              /** Auto-fold threshold: when an upsert/delete
                                * leaves this many delta sidecars pending,
                                * they fold into a fresh base version (one
                                * amortized rewrite instead of a rewrite per
                                * mutation; merge-on-read depth stays
                                * bounded). Streaming drives its own cadence
                                * via `compactEvery` instead.
                                */
                              foldEvery: Int = 16) extends IndexStore {

  private val dir = new VersionedDir(spark, root, keepVersions)

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def exists: Boolean = dir.exists

  override def read(): DataFrame = readScan()._1.docs

  /** The token is the resolved read's key. */
  override private[graft] def readScan(): (VersionScan, Option[Any]) = {
    val snap = dir.snapshot
    if (!snap.exists) throw new IllegalStateException(s"no index under $root")
    val key = (snap, broadcastDeltaCap)
    (resolved(key), Some(key))
  }

  /** One snapshot decides both existence and contents, so `exists` and
    * `read` cannot disagree across a concurrent write.
    */
  override def readOption(): Option[DataFrame] = {
    val snap = dir.snapshot
    if (snap.exists) Some(resolved((snap, broadcastDeltaCap)).docs) else None
  }

  /** The resolved read of the last snapshot seen: the base relation (file
    * listing and schema resolved once) merged with its deltas, and its
    * [[VersionScan]], planned on first use — given the base's files when
    * no delta is pending, so reads by doc_id skip files. Version and
    * delta directories are immutable, so while the root's snapshot is
    * unchanged the same DataFrame is the same contents; any write — through
    * this handle, another handle or another process — changes the snapshot
    * and replaces the entry. Every DataFrame stays pinned to its concrete
    * version directory. The broadcast cap is part of the key because the
    * merge plan depends on it.
    */
  @volatile private var lastRead: Option[((VersionedDir.Snapshot, Long), VersionScan)] = None

  private def resolved(key: (VersionedDir.Snapshot, Long)): VersionScan = {
    val (snap, cap) = key
    lastRead.collect { case (k, scan) if k == key => scan }.getOrElse {
      val base = spark.read.parquet(snap.dir.get)
      val scan =
        if (snap.deltas.isEmpty) new VersionScan(base, Some(base.inputFiles.toSeq))
        else new VersionScan(mergeOnRead(base, snap.deltas, cap), None)
      lastRead = Some((key, scan))
      scan
    }
  }

  private def broadcastDeltaCap: Long =
    spark.conf.getOption("graft.store.broadcastDeltaMaxBytes").map(_.toLong).getOrElse(64L << 20)

  /** Merge of the base version with its delta sidecars, by delta kind.
    * The base relation is never shuffled or widened: every resolution step
    * is a BROADCAST equi-join against a delta-derived side (small by
    * construction — O(pending mutations), never O(index)); only delta rows
    * themselves go through a (tiny) latest-per-doc aggregation. At 100 TB a
    * merge-on-read therefore costs one pruned base scan + broadcast
    * hash-join filters, not an index-wide shuffle.
    *
    *  - "put" (streaming batch): per doc_id the highest-sequence copy
    *    survives, and any row sharing an object key with a LATER put delta
    *    is shadowed — the batch REPLACES all documents of its touched keys
    *    (same semantics as the full-rewrite it replaces);
    *  - "add" (conflict-checked upsert insert): rows simply union in — the
    *    writer already dropped doc_id conflicts (old-wins), and an insert
    *    must NOT shadow other chunks sharing its object key;
    *  - "del" (tombstones, doc_id-only rows): a doc_id is dropped unless a
    *    LATER delta re-introduced it.
    */
  private def mergeOnRead(base: DataFrame, deltas: Seq[VersionedDir.DeltaRef],
                          cap: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    // The explicit broadcast hint bypasses autoBroadcastJoinThreshold, so it
    // is only safe while the pending delta set is genuinely small. Streaming
    // "put" sidecars are whole micro-batches and up to foldEvery can be
    // pending: measure them (cheap FS metadata sum) and drop the hint past
    // the cap — AQE then picks the join strategy from actual runtime sizes.
    val hint: DataFrame => DataFrame = {
      val f = fs
      val pendingBytes = deltas.iterator
        .map(d => f.getContentSummary(new Path(d.path)).getLength).sum
      if (pendingBytes <= cap) broadcast _ else identity _
    }
    val (dels, lives) = deltas.partition(_.kind == "del")
    // r20 (guide §6): every delta read carries an EXPLICIT schema — "put"/
    // "add" sidecars are written from index-schema rows by construction and
    // "del" tombstones are bare doc_id files, so re-inferring each sidecar's
    // schema from its footers is pure driver overhead repeated on every
    // merge-on-read (one footer read + file-listing round per delta per
    // search on the incremental gates).
    val baseSchema = base.schema
    val tombSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType)))
    val deltaRows = lives.map { d =>
      spark.read.schema(baseSchema).parquet(d.path).withColumn("__seq", lit(d.seq)) }
      .reduceOption(_.unionByName(_))
    // latest copy per doc_id AMONG DELTAS (an unchanged object re-batched
    // keeps one row); base copies of those ids are shadowed by an anti-join
    val deltaLatest = deltaRows.map { rows =>
      rows.join(rows.groupBy("doc_id").agg(max("__seq").as("__seq")),
        Seq("doc_id", "__seq"))
    }
    val baseLive = deltaRows match {
      case Some(rows) =>
        base.join(hint(rows.select("doc_id").distinct()), Seq("doc_id"), "left_anti")
      case None => base
    }
    val latest = deltaLatest.foldLeft(baseLive.withColumn("__seq", lit(0L)))(_.unionByName(_))
    val puts = lives.filter(_.kind == "put")
    val unshadowed = if (puts.isEmpty) latest else {
      val touched = puts.map { d =>
          spark.read.schema(baseSchema).parquet(d.path).select(explode(col("object_keys")).as("__key"), lit(d.seq).as("__tseq")) }
        .reduce(_.unionByName(_))
        .groupBy("__key").agg(max("__tseq").as("__max_seq"))
      val shadowed = latest
        .select(col("doc_id"), col("__seq"), explode(col("object_keys")).as("__key"))
        .join(hint(touched), Seq("__key"))
        .filter(col("__max_seq") > col("__seq"))
        .select("doc_id").distinct()
      latest.join(hint(shadowed), Seq("doc_id"), "left_anti")
    }
    val surviving = if (dels.isEmpty) unshadowed else {
      val tombs = dels.map { d =>
          spark.read.schema(tombSchema).parquet(d.path).select(col("doc_id"), lit(d.seq).as("__dseq")) }
        .reduce(_.unionByName(_))
        .groupBy("doc_id").agg(max("__dseq").as("__dseq"))
      unshadowed.join(hint(tombs), Seq("doc_id"), "left")
        .filter(col("__dseq").isNull || col("__dseq") < col("__seq"))
        .drop("__dseq")
    }
    surviving.drop("__seq")
  }

  /** O(batch) incremental write: the batch lands as a delta sidecar of the
    * active version instead of rewriting the index; [[read]] resolves
    * new-wins. First write (no base) falls back to [[replace]]. Fold the
    * accumulated deltas into a full version with [[foldDeltas]].
    */
  def appendDelta(docs: DataFrame): Unit =
    if (!dir.exists) replace(docs)
    else {
      dir.currentDir.foreach(d => requireBaseSchema(spark.read.parquet(d).schema, docs))
      dir.appendDelta { tmpDir =>
        docs.dropDuplicates("doc_id").write.mode("overwrite").parquet(tmpDir)
      }
    }

  /** Schema-drift guard for batches written next to a base: merge-on-read
    * reads every delta sidecar WITH the base schema, so a batch missing a
    * base column (or carrying a renamed or retyped one) would surface as
    * silent nulls. Column order and nullability are not drift.
    */
  private def requireBaseSchema(base: StructType, batch: DataFrame): Unit = {
    def shape(t: StructType) = t.fields.map(f => f.name -> sansNullability(f.dataType)).toMap
    val (want, got) = (shape(base), shape(batch.schema))
    val missing = want.keys.filterNot(got.contains).toSeq.sorted
    val extra = got.keys.filterNot(want.contains).toSeq.sorted
    val retyped = want.keys.filter(k => got.get(k).exists(_ != want(k))).toSeq.sorted
      .map(k => s"$k (${want(k).simpleString} in the base, ${got(k).simpleString} in the batch)")
    require(missing.isEmpty && extra.isEmpty && retyped.isEmpty,
      s"batch schema differs from the index base at $root: " +
        s"missing [${missing.mkString(", ")}], extra [${extra.mkString(", ")}], " +
        s"retyped [${retyped.mkString(", ")}]")
  }

  private def sansNullability(t: DataType): DataType = t match {
    case ArrayType(e, _) => ArrayType(sansNullability(e), containsNull = true)
    case MapType(k, v, _) => MapType(sansNullability(k), sansNullability(v), valueContainsNull = true)
    case StructType(fs) => StructType(fs.map(f =>
      StructField(f.name, sansNullability(f.dataType), nullable = true)))
    case other => other
  }

  /** Number of delta sidecars pending against the active version. */
  def deltaCount: Int = dir.listDeltas.size

  /** Fold pending deltas into a full base version (readers keep the prior
    * version + its sidecars; the swap is atomic as ever).
    */
  def foldDeltas(): Unit = if (deltaCount > 0) replace(read())

  /** Full versions are laid out RANGE-partitioned and sorted by doc_id:
    * every file carries a tight, non-overlapping doc_id min/max footer, so
    * id-probing reads (upsert's conflict semi-join, key lookups, hydration)
    * skip whole files instead of scanning the index. Costs nothing extra —
    * dropDuplicates reuses the range exchange (RangePartitioning satisfies
    * the aggregation's clustering), so it's one shuffle either way.
    */
  override def replace(docs: DataFrame): Unit =
    dir.replaceWith { versionDir =>
      docs.repartitionByRange(col("doc_id")).dropDuplicates("doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(versionDir)
    }

  /** Rewrite the active version bin-packed to `targetFileMB` files, in
    * [[replace]]'s layout (range-partitioned to the file count, sorted by
    * doc_id within files) — heals the small-file accretion of repeated
    * upsert/replace cycles without interrupting readers (atomic versioned
    * swap, like any other write).
    */
  def compact(targetFileMB: Int = 128): Unit = {
    foldDeltas() // the rewrite reads the base version only — fold first
    val src = dir.currentDir.getOrElse(
      throw new IllegalStateException(s"nothing to compact under $root"))
    val (bytes, target) = (fs.getContentSummary(new Path(src)).getLength, targetFileMB.toLong << 20)
    val nFiles = math.max(1, ((bytes + target - 1) / target).toInt)
    dir.replaceWith { versionDir =>
      spark.read.parquet(src).repartitionByRange(nFiles, col("doc_id"))
        .sortWithinPartitions("doc_id").write.mode("overwrite").parquet(versionDir)
    }
  }

  /** O(batch) write: the conflict check reads the index (a scan — at scale,
    * the layout's min/max doc_id footer stats prune it), but only the
    * genuinely-new rows are WRITTEN, as an "add" delta.
    */
  override def upsert(docs: DataFrame): Unit = readOption() match {
    case None => replace(docs)
    case Some(existing) =>
      // old-wins: only doc_ids not already present are inserted. The
      // conflict set is found by probing the column-pruned index id scan
      // with a BROADCAST of the batch ids (left_semi, index streamed) —
      // never by making the index the build side of an anti-join, which
      // would shuffle O(index) ids per upsert. Persisted: the emptiness
      // check and the write must not each re-run the probe.
      val conflicts = existing.select("doc_id")
        .join(broadcast(docs.select("doc_id").distinct()), Seq("doc_id"), "left_semi")
      val inserted = docs.join(broadcast(conflicts), Seq("doc_id"), "left_anti")
        .dropDuplicates("doc_id").persist()
      try writeInserted(inserted, existing)
      finally inserted.unpersist(false)
  }

  /** Write rows the CALLER already proved conflict-free (and doc_id-deduped)
    * — [[graft.api.VectorIndex.upsert]] performs the old-wins probe once for
    * its own ANN maintenance, and this entry point spares the second
    * identical index id scan `upsert` would run. Same delta kind, fold
    * cadence, and no-op skip as [[upsert]].
    */
  override private[graft] def insertPrechecked(inserted: DataFrame): Unit = readOption() match {
    case None           => replace(inserted)
    case Some(existing) => writeInserted(inserted, existing)
  }

  /** Shared tail of [[upsert]]/[[insertPrechecked]]: `inserted` must be
    * conflict-free and deduped, and match the base schema (checked before
    * any job runs). An all-conflict batch is a NO-OP — writing an empty
    * "add" sidecar would still tick foldEvery, so idempotent replays would
    * trigger pointless full folds.
    */
  private def writeInserted(inserted: DataFrame, existing: DataFrame): Unit = {
    requireBaseSchema(existing.schema, inserted)
    if (!inserted.isEmpty) appendFolding("add")(inserted.write.mode("overwrite").parquet(_))
  }

  /** O(batch) write: ids land as a "del" tombstone delta; the rows vanish
    * at merge-on-read and physically at the next fold/compact.
    */
  override def delete(docIds: Seq[Long]): Unit = if (docIds.nonEmpty && dir.exists) {
    import spark.implicits._
    appendFolding("del")(docIds.toDF("doc_id").write.mode("overwrite").parquet(_))
  }

  /** Append a `kind` delta through `write`, then fold once `foldEvery`
    * deltas are pending.
    */
  private def appendFolding(kind: String)(write: String => Unit): Unit = {
    dir.appendDelta(write, kind)
    if (deltaCount >= foldEvery) foldDeltas()
  }

  override def clear(): Unit = dir.deleteAll()
}

/** Driver-memory store — the second [[IndexStore]] impl, proving the
  * provider seam the reference gets from its numpy in-memory provider
  * (storage/numpy/provider.py; storage/__init__.py:29-49). Holds collected
  * Document rows on the driver; suitable for tests and small indexes only
  * (an external qdrant/weaviate/pgvector connector implements the same five
  * ops against its service API). Mutators are synchronized so interleaved
  * read-then-replace sequences can't drop one side's rows.
  */
final class InMemoryIndexStore(spark: SparkSession) extends IndexStore {
  @volatile private var rows: Option[(Seq[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType)] = None

  override def exists: Boolean = rows.isDefined

  override def read(): DataFrame = rows match {
    case Some((rs, schema)) =>
      spark.createDataFrame(spark.sparkContext.parallelize(rs, math.max(1, rs.size / 1000 + 1)), schema)
    case None => throw new IllegalStateException("index does not exist")
  }

  override def replace(docs: DataFrame): Unit = synchronized {
    val d = docs.dropDuplicates("doc_id")
    rows = Some((d.collect().toSeq, d.schema))
  }

  override def upsert(docs: DataFrame): Unit = synchronized {
    rows match {
      case None => replace(docs)
      case Some(_) =>
        val existing = read()
        replace(docs.join(existing.select("doc_id"), Seq("doc_id"), "left_anti")
          .unionByName(existing))
    }
  }

  override def delete(docIds: Seq[Long]): Unit = synchronized {
    import spark.implicits._
    if (rows.isDefined)
      replace(read().join(docIds.toDF("doc_id"), Seq("doc_id"), "left_anti"))
  }

  override def clear(): Unit = synchronized { rows = None }
}
