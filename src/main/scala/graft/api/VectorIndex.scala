package graft.api

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.core.{Checkpoints, IndexConfig, Metric}
import graft.core.Checkpoints.MaterializeSyntax
import graft.embed.{ChatBackend, EchoChatBackend, EmbeddingBackend, HashEmbeddingBackend}
import graft.ops.SimilaritySearch
import graft.pipeline.IndexBuild
import graft.query.Retrieval

/** How [[VectorIndex.search]] matches candidates. `Exact` (the default, and
  * the reference's own posture — its numpy provider is a full scan,
  * storage/numpy/provider.py:38-59) scans every vector. The ANN modes
  * query the bucket/cell-partitioned side indexes maintained at
  * rebuild/update/upsert/delete time — partition-PRUNED reads
  * ([[graft.ops.SimilaritySearch.lshTopKPruned]] / `ivfTopKPruned`), the
  * 100 TB path. ANN modes score cosine (rerank convention).
  */
sealed trait SearchMode
object SearchMode {
  case object Exact extends SearchMode
  final case class Lsh(bits: Int = 8, maxHamming: Int = 1) extends SearchMode
  final case class Ivf(nCells: Int = 16, nProbe: Int = 4, lloydIters: Int = 1) extends SearchMode
  /** IVF cell pruning × product-quantized candidate scoring: the scan
    * reads only candidate cell PARTITIONS and only 8-byte CODES (not the
    * full vectors); exact cosine rerank touches the top k·refine ids. The
    * 100 TB path when even the pruned candidate read is vector-bound.
    */
  final case class IvfPq(nCells: Int = 16, nProbe: Int = 4, m: Int = 8,
                         ksub: Int = 16, refine: Int = 4, lloydIters: Int = 1) extends SearchMode
  /** [[IvfPq]] with RESIDUAL encoding (the FAISS IVFPQ construction):
    * codebooks train on and codes encode `v − centroid(cell)`, and each
    * (probe, cell) pair scores with a LUT built from the query's residual
    * in that cell's frame. Same pruned codes-only read shape; lower
    * quantization error per bit on clustered data (PqSpec measures ≥ 2×).
    */
  final case class RpqIvf(nCells: Int = 16, nProbe: Int = 4, m: Int = 8,
                          ksub: Int = 16, refine: Int = 4, lloydIters: Int = 1) extends SearchMode
  /** Scalar-quantized scan: 1 byte/dim codes (4× less read than floats),
    * integer-exact asymmetric scoring, exact cosine rerank of the top
    * k·refine. No training beyond a d-row min/max aggregation.
    */
  final case class Sq(refine: Int = 4) extends SearchMode
  /** Binary-quantized scan: 1 bit/dim codes (32× less read),
    * popcount-Hamming candidates, exact cosine rerank — the
    * overfetch-rescore recipe of qdrant's binary mode.
    */
  final case class Bq(refine: Int = 4) extends SearchMode
  /** Sharded HNSW graphs ([[graft.ops.Hnsw]]): per-shard adjacency
    * persisted under the versioned root, beam search width `ef` at query
    * time (`ef ≥ shard size` ⇒ exact). Incremental mutations ride the
    * same (id, vector) delta sidecar as Lsh/Ivf — new wins, stale graph
    * rows suppressed — until the fold rebuilds the graphs.
    */
  final case class Hnsw(m: Int = 8, efConstruction: Int = 48,
                        ef: Int = 32) extends SearchMode
}

/** User-facing index handle — the Spark re-expression of the reference's
  * VectorIndex public API (storage/base.py:174-354): `search`, `find_similar`,
  * `query` (RAG) plus the provider operations `rebuild_index` / `upsert` /
  * `delete` / `clear`. A user of the reference maps 1:1:
  *
  *   index.search(q, limit, threshold)      -> index.search(q, k, threshold)
  *   index.find_similar(obj, ...)           -> index.findSimilar("table:id", ...)
  *   index.query(q, sources_limit)          -> index.query(q, sourcesLimit)
  *   index.rebuild_index()                  -> index.rebuild(sourceDf)
  *   provider.upsert/delete/clear           -> index.upsert / delete / clear
  *
  * The index is a parquet Document table at `indexPath`; all query methods
  * are lazy DataFrames (Catalyst plans them; see PLANS.md §1-§3).
  */
final class VectorIndex(
    val spark: SparkSession,
    val config: IndexConfig,
    val backend: EmbeddingBackend,
    val chatBackend: ChatBackend,
    val indexPath: String,
    val sourceTable: String,
    val idColumn: String,
    storeOverride: Option[IndexStore] = None,
    /** ANN structures maintained alongside the documents at every mutation;
      * a [[SearchMode.Lsh]]/[[SearchMode.Ivf]] here makes the matching
      * `search(..., mode = ...)` partition-pruned.
      */
    val ann: Seq[SearchMode] = Nil
) {

  /** Provider seam (reference StorageProvider, storage/base.py:48-71):
    * all physical index ops go through here — swap in another [[IndexStore]]
    * for a different backend.
    */
  val store: IndexStore = storeOverride.getOrElse(new ParquetIndexStore(spark, indexPath))

  def documents: DataFrame = store.read()

  /** Full rebuild: clear + build from scratch (reference rebuild_index,
    * pgvector provider.py:61-63).
    */
  def rebuild(source: DataFrame): Unit = {
    store.replace(IndexBuild.buildDocuments(source, config, backend, sourceTable, idColumn))
    refreshAnn()
  }

  /** Incremental update: diff against the stored index, re-embed only
    * changed objects, keep the rest (reference A4 incremental path,
    * storage/django.py:320-383). The store's versioned replace means the
    * stored read and the new write never race — no cache, no swap window.
    */
  def update(source: DataFrame): Unit = {
    val stored = store.readOption()
    store.replace(IndexBuild.buildDocuments(source, config, backend, sourceTable, idColumn, stored))
    refreshAnn()
  }

  /** Upsert pre-built Document rows (reference provider upsert, S7) —
    * conflict-ignore, old-wins, deterministic (see [[IndexStore.upsert]]).
    * ANN structures are patched INCREMENTALLY: only the rows actually
    * inserted (old-wins drops conflicts) are assigned against the existing
    * hyperplanes/centroids/codebooks — a 1-row upsert never rescans the
    * corpus.
    */
  def upsert(docs: DataFrame): Unit = {
    import org.apache.spark.sql.functions.broadcast
    val preIds = store.readOption().map(_.select("doc_id"))
    // ONE old-wins probe per upsert: `inserted` probes the index id scan
    // (broadcast of the batch ids; the index is never an anti-join build
    // side), PERSISTED so the store write, the emptiness check, and each
    // ANN structure's delta write reuse it — a ParquetIndexStore takes the
    // prechecked rows directly instead of re-running the identical probe.
    // Dedup mirrors the store write, so an in-batch duplicate id can't
    // occupy two top-k slots via the overlay.
    val inserted = (preIds match {
      case Some(ids) =>
        val conflicts = ids.join(broadcast(docs.select("doc_id").distinct()),
          Seq("doc_id"), "left_semi")
        docs.join(broadcast(conflicts), Seq("doc_id"), "left_anti")
      case None => docs
    }).dropDuplicates("doc_id").persist()
    try {
      // the PERSISTED conflict-free rows go to the store — handing it raw
      // `docs` would let the store's own dropDuplicates pick a DIFFERENT
      // survivor for an in-batch duplicate id than the ANN overlay did,
      // and `insertPrechecked` lets impls skip re-deriving the conflict
      // set this method already computed (a second index id scan for
      // parquet, a second full-collection download for a REST connector)
      store.insertPrechecked(inserted)
      // all-conflict (no-op) batches write no ANN deltas and tick no fold
      // counter — idempotent replays must not trigger retrains
      if (!inserted.isEmpty) refreshAnnIncremental(inserted, emptyIds)
    } finally inserted.unpersist(false)
  }

  /** Delete documents by doc_id (S10) — ANN side indexes get tombstone
    * deltas, not a retrain.
    */
  def delete(docIds: Seq[Long]): Unit = if (docIds.nonEmpty) {
    import spark.implicits._
    store.delete(docIds)
    refreshAnnIncremental(emptyDocs, docIds.toDF("doc_id"))
  }

  private def emptyIds: DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.range(0).select(col("id").as("doc_id"))
  }

  private def emptyDocs: DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    spark.range(0).select(col("id").as("doc_id"),
      lit(null).cast("array<float>").as("vector"))
  }

  /** Remove every document (S11), including ANN side indexes. */
  def clear(): Unit = {
    store.clear()
    if (ann.nonEmpty) VectorIndex.AnnLayouts.keys.foreach(c => new VersionedDir(spark, annRoot(c)).deleteAll())
  }

  /** Versioned roots of the ANN side indexes (underscore-free siblings of
    * nothing — they live UNDER indexPath; the document store's version
    * listing ignores non-v\d+ names).
    */
  def annLshPath: String = annRoot(classOf[SearchMode.Lsh])
  def annIvfPath: String = annRoot(classOf[SearchMode.Ivf])
  def annIvfPqPath: String = annRoot(classOf[SearchMode.IvfPq])
  def annRpqPath: String = annRoot(classOf[SearchMode.RpqIvf])
  def annSqPath: String = annRoot(classOf[SearchMode.Sq])
  def annBqPath: String = annRoot(classOf[SearchMode.Bq])
  def annHnswPath: String = annRoot(classOf[SearchMode.Hnsw])

  private def annRoot(mode: Class[_]): String = s"$indexPath/__ann_${VectorIndex.AnnLayouts(mode)._1}"

  /** The configured ANN modes (Exact has no side index). */
  private def annModes: Seq[SearchMode] = ann.filter(_ != SearchMode.Exact)

  /** Rebuild every configured ANN structure from the CURRENT documents —
    * called after each mutation, so ANN search always reflects the store.
    * Each write is a versioned atomic swap: a search planned against the
    * previous ANN version still completes mid-refresh.
    */
  def refreshAnn(): Unit = if (ann.nonEmpty && store.exists) {
    import org.apache.spark.sql.functions.col
    import graft.ops.{BinaryQuantization => BQ, ProductQuantization => PQ, ScalarQuantization => SQ}
    val docs = store.read()
    annModes.foreach { m =>
      val root = annRoot(m.getClass)
      m match {
        case SearchMode.Lsh(bits, _) =>
          SimilaritySearch.lshIndexWrite(docs, root, config.dims, bits, itemVec = "vector")
        case SearchMode.Hnsw(hm, efc, _) =>
          graft.ops.Hnsw.hnswIndexWrite(docs.select(col("doc_id"), col("vector")),
            root, config.dims, hm, efc, itemId = "doc_id", itemVec = "vector")
        case SearchMode.Ivf(nCells, _, lloydIters) =>
          val (assigned, centroids) = SimilaritySearch.ivfAssign(docs, nCells,
            itemId = "doc_id", itemVec = "vector", lloydIters = lloydIters)
          SimilaritySearch.ivfIndexWrite(assigned, root, Some(centroids))
        case IvfPqMode(nCells, _, pm, ksub, _, lloydIters, residual) =>
          val cfg = PQ.PqConfig(config.dims, pm, ksub)
          val (assigned, centroids) = SimilaritySearch.ivfAssign(docs, nCells,
            itemId = "doc_id", itemVec = "vector", lloydIters = lloydIters)
          val (framed, vec) = pqFrame(assigned, centroids, residual)
          val cb = PQ.pqTrain(framed, cfg, itemId = "doc_id", itemVec = vec, lloydIters = lloydIters)
          PQ.pqIndexWrite(PQ.pqEncode(framed, cb, cfg, itemVec = vec)
            .select(col("doc_id"), col("cell"), col("codes")), cb, root, Some(centroids))
        case SearchMode.Sq(_) =>
          val params = SQ.sqTrain(docs, itemVec = "vector")
          val (mins, maxs) = SQ.collectParams(params)
          SQ.sqIndexWrite(SQ.sqEncode(docs, mins, maxs, itemVec = "vector")
            .select(col("doc_id"), col("sq")), params, root)
        case SearchMode.Bq(_) =>
          val params = BQ.bqTrain(docs, itemVec = "vector")
          BQ.bqIndexWrite(BQ.bqEncode(docs, BQ.collectThresholds(params), itemVec = "vector")
            .select(col("doc_id"), col("bq")), params, root)
        case SearchMode.Exact => ()
      }
    }
  }

  /** IVF-PQ and residual IVF-PQ, which share every field: (nCells, nProbe,
    * m, ksub, refine, lloydIters, residual).
    */
  private object IvfPqMode {
    def unapply(m: SearchMode): Option[(Int, Int, Int, Int, Int, Int, Boolean)] = m match {
      case SearchMode.IvfPq(c, p, pm, ks, r, l)  => Some((c, p, pm, ks, r, l, false))
      case SearchMode.RpqIvf(c, p, pm, ks, r, l) => Some((c, p, pm, ks, r, l, true))
      case _                                     => None
    }
  }

  /** The frame a PQ mode trains and encodes in, as (rows, vector column):
    * the vector itself, or for the residual form (the FAISS IVFPQ
    * construction) `v − centroid(cell)` ([[graft.ops.ProductQuantization.residualize]]).
    */
  private def pqFrame(assigned: DataFrame, centroids: DataFrame,
                      residual: Boolean): (DataFrame, String) =
    if (!residual) (assigned, "vector")
    else (graft.ops.ProductQuantization.residualize(assigned, centroids, itemVec = "vector"), "residual")

  /** Incremental ANN maintenance (the 100 TB mutation path): changed rows
    * are assigned against the EXISTING structures — LSH hyperplanes are
    * static by construction, IVF centroids and PQ codebooks are read from
    * the active version — and land as O(batch) delta sidecars beside the
    * versioned layout ([[VersionedDir.appendDelta]]); removed ids become
    * tombstones. Search merges deltas new-wins over the pruned base scan.
    * A full retrain (re-seeded centroids/codebooks + rewrite) happens only
    * on [[rebuild]]/[[update]] or when `foldEvery` deltas accumulate —
    * never on a 1-row upsert/delete.
    */
  def refreshAnnIncremental(changedDocs: DataFrame, removedIds: DataFrame,
                            foldEvery: Int = 10): Unit = if (ann.nonEmpty && store.exists) {
    import org.apache.spark.sql.functions._
    import graft.functions.vector.{bq_encode, nearest_centroid, pq_encode, sq_encode}
    // one listing per root serves the missing-base check, the side tables
    // the writes encode against, and the fold's pending-delta count
    val roots = annModes.map(m => annRoot(m.getClass))
    val snaps = roots.distinct.map(r => r -> new VersionedDir(spark, r).snapshot).toMap
    if (snaps.values.exists(!_.exists)) { refreshAnn(); return }
    // one overlay row per doc: a duplicate id in the delta would occupy two
    // top-k candidate slots (the store write is deduped; mirror it here for
    // callers invoking this directly)
    val changed = changedDocs.dropDuplicates("doc_id").select(col("doc_id"), col("vector"))
    val tombIds = removedIds.select(col("doc_id").cast("long").as("doc_id"))
    annModes.zip(roots).foreach { case (m, root) =>
      lazy val v = annVersion(root, snaps(root))
      // side tables come from the STORED version — no retrain on a 1-row upsert
      val adds = m match {
        case SearchMode.Lsh(bits, _) =>
          SimilaritySearch.lshBuckets(changed, config.dims, bits, itemVec = "vector")
            .select(col("doc_id"), col("vector"), col("bucket").cast("long").as("bucket"))
        case SearchMode.Hnsw(_, _, _) => changed
        case SearchMode.Ivf(_, _, _) =>
          val (cvs, cids) = v.centroids
          changed.withColumn("cell", nearest_centroid(col("vector"), cvs, cids))
        case IvfPqMode(_, _, pm, ksub, _, _, residual) =>
          // encoded in the assigned cell's frame for the residual form (the
          // FAISS IVFPQ add path)
          val cfg = graft.ops.ProductQuantization.PqConfig(config.dims, pm, ksub)
          val (cvs, cids) = v.centroids
          val (framed, vec) = pqFrame(
            changed.withColumn("cell", nearest_centroid(col("vector"), cvs, cids)), v.centroidsDf, residual)
          framed.select(col("doc_id"), col("cell"), pq_encode(col(vec), v.codebooks(cfg), cfg.dsub).as("codes"))
        case SearchMode.Sq(_) =>
          val (mins, maxs) = v.sqParams
          changed.select(col("doc_id"), sq_encode(col("vector"), mins, maxs).as("sq"))
        case SearchMode.Bq(_) =>
          changed.select(col("doc_id"), bq_encode(col("vector"), v.bqThresholds).as("bq"))
        case SearchMode.Exact => throw new IllegalStateException("unreachable")
      }
      // a tombstone row has the adds' columns, null but for doc_id; cast by
      // type name, so array elements stay nullable in the written schema
      val tombs = tombIds.select(col("doc_id") +: adds.schema.fields.toSeq.filter(_.name != "doc_id")
        .map(f => lit(null).cast(f.dataType.catalogString).as(f.name)) :+ lit(true).as("deleted"): _*)
      annDeltaWrite(root, adds.withColumn("deleted", lit(false)).unionByName(tombs))
    }
    // fold: when enough deltas accumulate, retrain + rewrite once — the
    // amortized cost of staying incremental between folds. Each root holds
    // the deltas of its snapshot plus the ones just appended to it.
    val pending = roots.groupBy(identity).map { case (r, appended) => snaps(r).deltas.size + appended.size }
    if (pending.exists(_ >= foldEvery)) refreshAnn()
  }

  private def annDeltaWrite(root: String, rows: DataFrame): Unit =
    new VersionedDir(spark, root).appendDelta { tmp =>
      rows.coalesce(1).write.mode("overwrite").parquet(tmp)
    }

  /** Latest-per-doc merge view of an ANN structure's pending deltas (None
    * when the structure has no deltas — the common, zero-overhead case).
    */
  private def annDeltaRead(deltas: Seq[VersionedDir.DeltaRef]): Option[DataFrame] = {
    import org.apache.spark.sql.functions._
    if (deltas.isEmpty) None
    else {
      // every sidecar of one ANN structure is written by [[annDeltaWrite]]
      // with the same row shape — infer the schema from the FIRST delta
      // only and pin the rest (guide §6: per-read footer inference is
      // repeated driver work on every incremental search)
      val first = spark.read.parquet(deltas.head.path)
      val pinned = first.schema
      val all = deltas.zipWithIndex.map { case (d, i) =>
        (if (i == 0) first else spark.read.schema(pinned).parquet(d.path))
          .withColumn("__seq", lit(d.seq)) }.reduce(_.unionByName(_))
      val latest = all.groupBy("doc_id").agg(max("__seq").as("__seq"))
      Some(all.join(latest, Seq("doc_id", "__seq")).drop("__seq"))
    }
  }

  /** One resolved version of an ANN side index: everything a search or an
    * incremental write reads from it — the relation pinned to the concrete
    * version dir, the side tables collected to the driver, the merged delta
    * overlay — resolved on first use and then reused for as long as the
    * root's snapshot stays the same.
    */
  private final class AnnVersion(val snapshot: VersionedDir.Snapshot, dir: String) {
    lazy val relation: DataFrame = spark.read.parquet(dir)
    lazy val centroidsDf: DataFrame = VersionedDir.readSide(spark, s"$dir/_centroids")
    lazy val centroids: (Array[Array[Float]], Array[Long]) =
      SimilaritySearch.collectCentroids(centroidsDf)
    private lazy val codebookRows = graft.ops.ProductQuantization.codebookRows(
      VersionedDir.readSide(spark, s"$dir/_codebooks"))
    def codebooks(cfg: graft.ops.ProductQuantization.PqConfig): Array[Array[Array[Float]]] =
      graft.ops.ProductQuantization.codebooksFrom(codebookRows, cfg)
    lazy val sqParams: (Array[Float], Array[Float]) = graft.ops.ScalarQuantization.collectParams(
      VersionedDir.readSide(spark, s"$dir/_sqparams"))
    lazy val bqThresholds: Array[Double] = graft.ops.BinaryQuantization.collectThresholds(
      VersionedDir.readSide(spark, s"$dir/_bqparams"))
    lazy val delta: Option[DataFrame] = annDeltaRead(snapshot.deltas)
    lazy val deltaIds: Set[Long] = graft.ops.Hnsw.deltaIdSet(delta, "doc_id")
    private var graph: Option[DataFrame] = None
    /** The HNSW graph relation exchanged by shard once and materialized on
      * first use, so a query searches it without a shuffle.
      */
    def hnswGraph: DataFrame = synchronized {
      graph.getOrElse {
        val g = graft.ops.Hnsw.shardGraph(relation).materialize(true)
        graph = Some(g)
        g
      }
    }
    /** Drop the materialized graph — called when the version is replaced. */
    def release(): Unit = synchronized {
      graph.foreach(Checkpoints.release)
      graph = None
    }
  }

  /** One [[AnnVersion]] per ANN root, replaced whenever the root's snapshot
    * differs from the one it was resolved at — so every mutation, through
    * this handle or any other writer, invalidates it.
    */
  private val annVersions = TrieMap.empty[String, AnnVersion]

  private def annVersion(root: String, snap: VersionedDir.Snapshot): AnnVersion =
    annVersions.get(root).filter(_.snapshot == snap).getOrElse {
      val v = new AnnVersion(snap, snap.dir.getOrElse(root))
      annVersions.put(root, v).foreach(_.release())
      v
    }

  def search(query: String, k: Int = 5, threshold: Double = 0.0,
             metric: Metric = Metric.Cosine,
             mode: SearchMode = SearchMode.Exact,
             filter: Option[Column] = None): DataFrame = (mode, store) match {
    // server-side-capable connectors answer exact cosine searches on the
    // service (same embed-then-route shape as the ANN modes); a payload
    // filter routes through the Spark scan instead — our wire clients carry
    // no filter clause, and a silent post-filter would change which k
    // survive (documented divergence from qdrant's native filtered search)
    case (SearchMode.Exact, _: ServerSideSearch) if metric == Metric.Cosine && filter.isEmpty =>
      searchVector(backend.embedOne(query).toSeq, k, threshold, metric, mode)
    case (SearchMode.Exact, _) =>
      val docs = documents
      Retrieval.search(filter.fold(docs)(docs.filter), query, backend, k, threshold, metric)
    case (m, _) =>
      searchVector(backend.embedOne(query).toSeq, k, threshold, metric, m, filter)
  }

  /** The ANN candidate page of a driver-resident probe batch: the route's
    * per-probe top-k as (doc_id, score), the top-k operator at the plan root
    * — a single probe's is one TakeOrderedAndProject job, a batch's the
    * bounded TopK aggregator. Lazy; [[annHits]] collects it.
    */
  private[graft] def annPage(probes: Seq[(Long, Seq[Float])], k: Int,
                             m: SearchMode): DataFrame = {
    require(ann.exists(_.getClass == m.getClass),
      s"index was not built with ANN mode $m — pass it in VectorIndex(ann = ...)")
    import org.apache.spark.sql.functions.col
    import graft.ops.{BinaryQuantization => BQ, ProductQuantization => PQ, ScalarQuantization => SQ}
    val root = annRoot(m.getClass)
    val v = annVersion(root, new VersionedDir(spark, root).snapshot)
    val scored = VectorIndex.AnnLayouts(m.getClass)._2
    def page(candidates: DataFrame) =
      SimilaritySearch.topKPage(candidates, k, probes.size, "doc_id")
    // SQ/BQ codes are unpartitioned: the whole relation under the overlay
    def codes = SimilaritySearch.prunedRead(v.relation, None, Seq("doc_id", scored), v.delta, None)
    val topk = m match {
      case SearchMode.Lsh(bits, maxHamming) =>
        page(SimilaritySearch.lshCandidates(v.relation, probes, config.dims,
          bits, maxHamming, itemId = "doc_id", itemVec = scored, v.delta, payloadFilter = None))
      case SearchMode.Ivf(_, nProbe, _) =>
        page(SimilaritySearch.ivfCandidates(v.relation, v.centroids, probes,
          nProbe, itemId = "doc_id", itemVec = scored, v.delta, payloadFilter = None))
      case IvfPqMode(_, nProbe, pm, ksub, refine, _, residual) =>
        val cfg = PQ.PqConfig(config.dims, pm, ksub)
        PQ.ivfPqTopKResolved(v.relation, v.centroids, v.codebooks(cfg), documents, probes, cfg,
          k, nProbe, refine, itemId = "doc_id", itemVec = "vector", v.delta, residual)
      case SearchMode.Sq(refine) =>
        val (mins, maxs) = v.sqParams
        SQ.sqTopK(codes, documents, mins, maxs, probes, k, refine, itemId = "doc_id", itemVec = "vector")
      case SearchMode.Bq(refine) =>
        BQ.bqTopK(codes, documents, v.bqThresholds, probes, k, refine, itemId = "doc_id", itemVec = "vector")
      case SearchMode.Hnsw(_, _, ef) =>
        page(graft.ops.Hnsw.hnswCandidates(v.hnswGraph, probes, k, ef, v.delta, v.deltaIds,
          itemId = "doc_id", itemVec = scored))
      case SearchMode.Exact => throw new IllegalStateException("unreachable")
    }
    topk.select(col("doc_id"), col("score"))
  }

  /** [[annPage]] collected, thresholded on the driver and hydrated back to
    * full documents (+`key`) with one read of the ≤ probes·k hit ids — the
    * shared tail of every ANN-routed query method. Rows in rank order.
    */
  private def annHits(probes: Seq[(Long, Seq[Float])], k: Int, threshold: Double,
                      m: SearchMode): (Seq[Row], StructType) = {
    val page = annPage(probes, k, m)
    val hits = page.collect().toSeq
      .filter(r => Retrieval.compareScores(r.getDouble(1), threshold) >= 0)
    Retrieval.hydratePage(documents, hits, page.schema("score"))
  }

  /** Search by a raw query vector (the reference's get_similar_documents
    * takes a query_vector, storage/base.py:311-315). ANN modes route through
    * the partition-pruned index paths; the k hit ids are then hydrated back
    * to full documents and deduped per object key, so every mode returns
    * the same shape as [[search]]. Every mode collects its candidate page
    * once and returns a DataFrame over the finished rows, in rank order.
    */
  def searchVector(queryVec: Seq[Float], k: Int = 5, threshold: Double = 0.0,
                   metric: Metric = Metric.Cosine,
                   mode: SearchMode = SearchMode.Exact,
                   filter: Option[Column] = None): DataFrame = mode match {
    case SearchMode.Exact if filter.nonEmpty =>
      // metadata-filtered exact search: the predicate lands BEFORE the knn
      // top-k, pushed into the documents scan — results are the true top-k
      // of the filtered set (PRE-filtering; qdrant's `filter` +
      // `query_vector` semantics), never a post-filtered page
      Retrieval.finishPage(Retrieval.keyed(
        Retrieval.knn(documents.filter(filter.get), queryVec, k, threshold, metric)))
    case SearchMode.Exact =>
      import org.apache.spark.sql.functions.col
      val hits = store match {
        // a connector that searches SERVER-side (qdrant points/search,
        // weaviate nearVector) answers exact cosine queries itself — the
        // reference's get_similar_documents does exactly this; routing
        // through read() would download the whole collection per search.
        // The client-side threshold re-filter restores the engine's
        // threshold semantics (the wire rejects thresholds the engine
        // allows, e.g. negative = unfiltered). One DOCUMENTED divergence
        // from the Spark scan: which hits survive an equal-score tie at
        // the k boundary is the server's choice (the wire carries only
        // `limit`, no doc_id tie-break) — ordering WITHIN the returned
        // set stays deterministic via the (score, doc_id) rank order.
        case s: ServerSideSearch if metric == Metric.Cosine =>
          s.searchSimilar(queryVec, k,
              similarityThreshold = math.min(math.max(threshold, 0.0), 1.0))
            .filter(col("score") >= threshold)
        case _ =>
          Retrieval.knn(documents, queryVec, k, threshold, metric)
      }
      Retrieval.finishPage(Retrieval.keyed(hits))
    case m =>
      require(metric == Metric.Cosine, s"ANN modes rerank by cosine; got $metric")
      filter match {
        case None =>
          val (rows, schema) = annHits(Seq((0L, queryVec)), k, threshold, m)
          Retrieval.localFrame(spark, Retrieval.firstPerKey(rows, schema), schema)
        case Some(pred) =>
          // ANN + filter = POST-filtering with overfetch: the candidate page
          // is k·overfetch hits of the unfiltered index, filtered after
          // hydration, re-limited to k. A very selective predicate can
          // return < k rows — the documented ANN/filter trade-off (the
          // pre-filtering alternative is the exact path above, or
          // ivfTopKPruned(payloadFilter) when the payload rides in the index)
          val (rows, schema) = annHits(Seq((0L, queryVec)), k * VectorIndex.AnnFilterOverfetch,
            threshold, m)
          // the predicate runs over the local rows (no Spark job)
          val kept = Retrieval.localFrame(spark, rows, schema).filter(pred).collect().toSeq
          Retrieval.localFrame(spark,
            Retrieval.firstPerKey(kept.sorted(Retrieval.byRank(schema)).take(k), schema), schema)
      }
  }

  /** find_similar with an optional ANN route: the probe object's chunk
    * vectors are collected driver-side (an object has FEW chunks — the
    * reference itself runs one query per chunk, storage/base.py:278-301) and
    * searched as one multi-probe pruned batch; per-chunk top-k, union,
    * first-per-key dedup, self-exclusion — same semantics as the exact path,
    * but only the candidate buckets/cells are read.
    */
  def findSimilar(objectKey: String, k: Int = 5, threshold: Double = 0.0,
                  includeSelf: Boolean = false,
                  mode: SearchMode = SearchMode.Exact): DataFrame = mode match {
    case SearchMode.Exact =>
      Retrieval.findSimilar(documents, objectKey, k, threshold, config.metric, includeSelf)
    case m =>
      import org.apache.spark.sql.functions.{array_contains, col}
      val probes = documents.filter(array_contains(col("object_keys"), objectKey))
        .select(col("doc_id"), col("vector")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      require(probes.nonEmpty, s"no documents found for object key $objectKey")
      val (rows, schema) = annHits(probes, k, threshold, m)
      Retrieval.localFrame(spark, Retrieval.excludeKey(
        Retrieval.firstPerKey(rows, schema), schema, objectKey, includeSelf), schema)
  }

  /** RAG query; ANN modes retrieve through the pruned index. Reference
    * semantics preserved: the merged context is built from the RAW top-k
    * chunk hits BEFORE object dedup, sources are the deduped list
    * (storage/base.py:194-228; see [[Retrieval.ragQuery]]).
    */
  def query(question: String, sourcesLimit: Int = 5, threshold: Double = 0.0,
            mode: SearchMode = SearchMode.Exact): Retrieval.QueryResponse = mode match {
    case SearchMode.Exact =>
      Retrieval.ragQuery(documents, question, backend, chatBackend, sourcesLimit, threshold)
    case m =>
      val (messages, sources) = annRagPrompt(question, sourcesLimit, threshold, m)
      Retrieval.QueryResponse(chatBackend.chat(messages), sources)
  }

  /** R4: streaming RAG query (reference aquery, storage/base.py:230-276). */
  def queryStream(question: String, sourcesLimit: Int = 5, threshold: Double = 0.0,
                  mode: SearchMode = SearchMode.Exact): Retrieval.StreamingQueryResponse = mode match {
    case SearchMode.Exact =>
      Retrieval.ragQueryStream(documents, question, backend, chatBackend, sourcesLimit, threshold)
    case m =>
      val (messages, sources) = annRagPrompt(question, sourcesLimit, threshold, m)
      Retrieval.StreamingQueryResponse(chatBackend.chatStream(messages), sources)
  }

  private def annRagPrompt(question: String, sourcesLimit: Int, threshold: Double,
                           m: SearchMode): (Seq[graft.embed.ChatMessage], DataFrame) = {
    val (rows, schema) = annHits(Seq((0L, backend.embedOne(question).toSeq)), sourcesLimit, threshold, m)
    Retrieval.ragFinish(spark, rows, schema, question, Retrieval.DefaultSystemPrompt)
  }
}

/** Index registry + rebuild-all — the reference's registry of indexes
  * (storage/django.py:603-611) and the `update_vector_indexes` management
  * command (management/commands/update_vector_indexes.py:18-44), including
  * its interactive confirmation gate: a rebuild fans out chargeable
  * embedding-API calls and ships indexed content to third parties, so the
  * command asks before proceeding unless forced.
  */
object IndexRegistry {
  private val indexes = TrieMap.empty[String, (VectorIndex, () => DataFrame)]

  /** Register an index with the closure that produces its source rows
    * (the analog of the reference's queryset providers).
    */
  def register(index: VectorIndex, source: () => DataFrame): VectorIndex = {
    indexes.put(index.config.name, (index, source))
    index
  }

  def get(name: String): Option[VectorIndex] = indexes.get(name).map(_._1)
  def registered: Seq[String] = indexes.keys.toSeq.sorted

  /** The reference command's confirmation prompt, verbatim in spirit
    * (update_vector_indexes.py:22-33).
    */
  val confirmationWarning: String =
    """WARNING:
      |You are triggering a vector index update.
      |
      |Depending on your configured AI backend;
      | * Multiple API calls will be triggered to chargeable services.
      | * Contents from every indexed model will be sent to third-party APIs.
      |
      |Are you sure you want to do this?
      |Type 'yes' to continue, or 'no' to cancel: """.stripMargin

  /** Rebuild every registered index from its source. `confirm` is the
    * interactive seam (update_vector_indexes.py:18-44): it receives the
    * warning text and returns the operator's answer — only the exact
    * string "yes" proceeds, anything else cancels (the reference's rule).
    * The default is force semantics (non-interactive `--noinput`).
    * Returns true iff the rebuild ran.
    */
  def rebuildAll(confirm: String => String = _ => "yes"): Boolean =
    if (confirm(confirmationWarning) == "yes") {
      indexes.values.foreach { case (idx, src) => idx.rebuild(src()) }
      true
    } else false

  /** Incremental twin of [[rebuildAll]]: every registered index runs the A4
    * diff-and-embed update against its current source — only changed objects
    * re-embed.
    */
  def updateAll(): Unit =
    indexes.values.foreach { case (idx, src) => idx.update(src()) }

  def clearRegistry(): Unit = indexes.clear()
}

object VectorIndex {
  /** Per ANN mode: the name of its versioned root under the index path
    * (`__ann_<name>`), and the column its rows are scored by — the vector,
    * or the mode's codes. Delta sidecars carry it too, beside doc_id, any
    * partition key and `deleted`.
    */
  private val AnnLayouts: Map[Class[_], (String, String)] = Map(
    classOf[SearchMode.Lsh] -> ("lsh", "vector"),
    classOf[SearchMode.Ivf] -> ("ivf", "vector"),
    classOf[SearchMode.IvfPq] -> ("ivfpq", "codes"),
    classOf[SearchMode.RpqIvf] -> ("rpq", "codes"),
    classOf[SearchMode.Sq] -> ("sq", "sq"),
    classOf[SearchMode.Bq] -> ("bq", "bq"),
    classOf[SearchMode.Hnsw] -> ("hnsw", "vector"))

  /** Candidate-page multiplier for ANN + post-filter searches: fetch
    * k·overfetch hits before the payload predicate re-limits to k.
    */
  val AnnFilterOverfetch = 4

  /** Convenience constructor with the dev/test backends. */
  def local(spark: SparkSession, config: IndexConfig, indexPath: String,
            sourceTable: String, idColumn: String,
            backend: EmbeddingBackend = null,
            chatBackend: ChatBackend = EchoChatBackend()): VectorIndex =
    new VectorIndex(spark, config,
      Option(backend).getOrElse(HashEmbeddingBackend(config.dims)),
      chatBackend, indexPath, sourceTable, idColumn)
}
