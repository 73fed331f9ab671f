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
    if (ann.nonEmpty) {
      new VersionedDir(spark, annLshPath).deleteAll()
      new VersionedDir(spark, annIvfPath).deleteAll()
      new VersionedDir(spark, annIvfPqPath).deleteAll()
      new VersionedDir(spark, annRpqPath).deleteAll()
      new VersionedDir(spark, annSqPath).deleteAll()
      new VersionedDir(spark, annBqPath).deleteAll()
      new VersionedDir(spark, annHnswPath).deleteAll()
    }
  }

  /** Versioned roots of the ANN side indexes (underscore-free siblings of
    * nothing — they live UNDER indexPath; the document store's version
    * listing ignores non-v\d+ names).
    */
  def annLshPath: String = s"$indexPath/__ann_lsh"
  def annIvfPath: String = s"$indexPath/__ann_ivf"
  def annIvfPqPath: String = s"$indexPath/__ann_ivfpq"
  def annRpqPath: String = s"$indexPath/__ann_rpq"
  def annSqPath: String = s"$indexPath/__ann_sq"
  def annBqPath: String = s"$indexPath/__ann_bq"
  def annHnswPath: String = s"$indexPath/__ann_hnsw"

  /** Rebuild every configured ANN structure from the CURRENT documents —
    * called after each mutation, so ANN search always reflects the store.
    * Each write is a versioned atomic swap: a search planned against the
    * previous ANN version still completes mid-refresh.
    */
  def refreshAnn(): Unit = if (ann.nonEmpty && store.exists) {
    val docs = store.read()
    ann.foreach {
      case SearchMode.Lsh(bits, _) =>
        SimilaritySearch.lshIndexWrite(docs, annLshPath, config.dims, bits, itemVec = "vector")
      case SearchMode.Hnsw(m, efc, _) =>
        graft.ops.Hnsw.hnswIndexWrite(docs.select(
            org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("vector")),
          annHnswPath, config.dims, m, efc, itemId = "doc_id", itemVec = "vector")
      case SearchMode.Ivf(nCells, _, lloydIters) =>
        val (assigned, centroids) = SimilaritySearch.ivfAssign(docs, nCells,
          itemId = "doc_id", itemVec = "vector", lloydIters = lloydIters)
        SimilaritySearch.ivfIndexWrite(assigned, annIvfPath, Some(centroids))
      case SearchMode.IvfPq(nCells, _, m, ksub, _, lloydIters) =>
        val cfg = graft.ops.ProductQuantization.PqConfig(config.dims, m, ksub)
        val (assigned, centroids) = SimilaritySearch.ivfAssign(docs, nCells,
          itemId = "doc_id", itemVec = "vector", lloydIters = lloydIters)
        val cb = graft.ops.ProductQuantization.pqTrain(docs, cfg,
          itemId = "doc_id", itemVec = "vector", lloydIters = lloydIters)
        val encoded = graft.ops.ProductQuantization.pqEncode(assigned, cb, cfg, itemVec = "vector")
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("cell"),
            org.apache.spark.sql.functions.col("codes"))
        graft.ops.ProductQuantization.pqIndexWrite(encoded, cb, annIvfPqPath, Some(centroids))
      case SearchMode.RpqIvf(nCells, _, m, ksub, _, lloydIters) =>
        // FAISS IVFPQ construction: codebooks train on and codes encode the
        // RESIDUAL v − centroid(cell), not the raw vector
        val cfg = graft.ops.ProductQuantization.PqConfig(config.dims, m, ksub)
        val (assigned, centroids) = SimilaritySearch.ivfAssign(docs, nCells,
          itemId = "doc_id", itemVec = "vector", lloydIters = lloydIters)
        val res = graft.ops.ProductQuantization.residualize(assigned, centroids,
          itemVec = "vector")
        val cb = graft.ops.ProductQuantization.pqTrain(res, cfg,
          itemId = "doc_id", itemVec = "residual", lloydIters = lloydIters)
        val encoded = graft.ops.ProductQuantization.pqEncode(res, cb, cfg, itemVec = "residual")
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("cell"),
            org.apache.spark.sql.functions.col("codes"))
        graft.ops.ProductQuantization.pqIndexWrite(encoded, cb, annRpqPath, Some(centroids))
      case SearchMode.Sq(_) =>
        val params = graft.ops.ScalarQuantization.sqTrain(docs, itemVec = "vector")
        val (mins, maxs) = graft.ops.ScalarQuantization.collectParams(params)
        graft.ops.ScalarQuantization.sqIndexWrite(
          graft.ops.ScalarQuantization.sqEncode(docs, mins, maxs, itemVec = "vector")
            .select(org.apache.spark.sql.functions.col("doc_id"),
              org.apache.spark.sql.functions.col("sq")),
          params, annSqPath)
      case SearchMode.Bq(_) =>
        val params = graft.ops.BinaryQuantization.bqTrain(docs, itemVec = "vector")
        val thr = graft.ops.BinaryQuantization.collectThresholds(params)
        graft.ops.BinaryQuantization.bqIndexWrite(
          graft.ops.BinaryQuantization.bqEncode(docs, thr, itemVec = "vector")
            .select(org.apache.spark.sql.functions.col("doc_id"),
              org.apache.spark.sql.functions.col("bq")),
          params, annBqPath)
      case SearchMode.Exact => ()
    }
  }

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
    val anyMissingBase = ann.exists {
      case SearchMode.Lsh(_, _)      => !new VersionedDir(spark, annLshPath).exists
      case SearchMode.Ivf(_, _, _)   => !new VersionedDir(spark, annIvfPath).exists
      case SearchMode.IvfPq(_, _, _, _, _, _) => !new VersionedDir(spark, annIvfPqPath).exists
      case SearchMode.RpqIvf(_, _, _, _, _, _) => !new VersionedDir(spark, annRpqPath).exists
      case SearchMode.Sq(_)          => !new VersionedDir(spark, annSqPath).exists
      case SearchMode.Bq(_)          => !new VersionedDir(spark, annBqPath).exists
      case SearchMode.Hnsw(_, _, _)  => !new VersionedDir(spark, annHnswPath).exists
      case SearchMode.Exact          => false
    }
    if (anyMissingBase) { refreshAnn(); return }
    // one overlay row per doc: a duplicate id in the delta would occupy two
    // top-k candidate slots (the store write is deduped; mirror it here for
    // callers invoking this directly)
    val changedDocs1 = changedDocs.dropDuplicates("doc_id")
    val tombIds = removedIds.select(col("doc_id").cast("long").as("doc_id"))
    ann.foreach {
      case SearchMode.Lsh(bits, _) =>
        val adds = SimilaritySearch
          .lshBuckets(changedDocs1.select(col("doc_id"), col("vector")),
            config.dims, bits, itemVec = "vector")
          .select(col("doc_id"), col("vector"),
            col("bucket").cast("long").as("bucket"), lit(false).as("deleted"))
        val tombs = tombIds.select(col("doc_id"),
          lit(null).cast("array<float>").as("vector"),
          lit(null).cast("long").as("bucket"), lit(true).as("deleted"))
        annDeltaWrite(annLshPath, adds.unionByName(tombs))
      case SearchMode.Hnsw(_, _, _) =>
        val adds = changedDocs1.select(col("doc_id"), col("vector"),
          lit(false).as("deleted"))
        val tombs = tombIds.select(col("doc_id"),
          lit(null).cast("array<float>").as("vector"), lit(true).as("deleted"))
        annDeltaWrite(annHnswPath, adds.unionByName(tombs))
      case SearchMode.Ivf(_, _, _) =>
        val (cvs, cids) = annVersion(annIvfPath).centroids
        val adds = changedDocs1.select(col("doc_id"), col("vector"),
            graft.functions.vector.nearest_centroid(col("vector"), cvs, cids).as("cell"),
            lit(false).as("deleted"))
        val tombs = tombIds.select(col("doc_id"),
          lit(null).cast("array<float>").as("vector"),
          lit(null).cast("long").as("cell"), lit(true).as("deleted"))
        annDeltaWrite(annIvfPath, adds.unionByName(tombs))
      case SearchMode.IvfPq(_, _, m, ksub, _, _) =>
        val cfg = graft.ops.ProductQuantization.PqConfig(config.dims, m, ksub)
        val v = annVersion(annIvfPqPath)
        val (cvs, cids) = v.centroids
        val cbs = v.codebooks(cfg)
        val adds = changedDocs1.select(col("doc_id"),
            graft.functions.vector.nearest_centroid(col("vector"), cvs, cids).as("cell"),
            graft.functions.vector.pq_encode(col("vector"), cbs, cfg.dsub).as("codes"),
            lit(false).as("deleted"))
        val tombs = tombIds.select(col("doc_id"), lit(null).cast("long").as("cell"),
          lit(null).cast("array<int>").as("codes"), lit(true).as("deleted"))
        annDeltaWrite(annIvfPqPath, adds.unionByName(tombs))
      case SearchMode.RpqIvf(_, _, m, ksub, _, _) =>
        // assign against the STORED centroids, residualize in the assigned
        // cell's frame, encode against the STORED residual codebooks — no
        // retrain on a 1-row upsert (the FAISS IVFPQ add path)
        val cfg = graft.ops.ProductQuantization.PqConfig(config.dims, m, ksub)
        val v = annVersion(annRpqPath)
        val (cvs, cids) = v.centroids
        val cbs = v.codebooks(cfg)
        val assigned = changedDocs1.select(col("doc_id"), col("vector"),
          graft.functions.vector.nearest_centroid(col("vector"), cvs, cids).as("cell"))
        val adds = graft.ops.ProductQuantization.residualize(assigned, v.centroidsDf,
            itemVec = "vector")
          .select(col("doc_id"), col("cell"),
            graft.functions.vector.pq_encode(col("residual"), cbs, cfg.dsub).as("codes"),
            lit(false).as("deleted"))
        val tombs = tombIds.select(col("doc_id"), lit(null).cast("long").as("cell"),
          lit(null).cast("array<int>").as("codes"), lit(true).as("deleted"))
        annDeltaWrite(annRpqPath, adds.unionByName(tombs))
      case SearchMode.Sq(_) =>
        // encode against the STORED params — no retrain on a 1-row upsert
        val (mins, maxs) = annVersion(annSqPath).sqParams
        val adds = changedDocs1.select(col("doc_id"),
          graft.functions.vector.sq_encode(col("vector"), mins, maxs).as("sq"),
          lit(false).as("deleted"))
        val tombs = tombIds.select(col("doc_id"),
          lit(null).cast("binary").as("sq"), lit(true).as("deleted"))
        annDeltaWrite(annSqPath, adds.unionByName(tombs))
      case SearchMode.Bq(_) =>
        val thr = annVersion(annBqPath).bqThresholds
        val adds = changedDocs1.select(col("doc_id"),
          graft.functions.vector.bq_encode(col("vector"), thr).as("bq"),
          lit(false).as("deleted"))
        val tombs = tombIds.select(col("doc_id"),
          lit(null).cast("binary").as("bq"), lit(true).as("deleted"))
        annDeltaWrite(annBqPath, adds.unionByName(tombs))
      case SearchMode.Exact => ()
    }
    // fold: when enough deltas accumulate, retrain + rewrite once — the
    // amortized cost of staying incremental between folds
    val maxPending = ann.map {
      case SearchMode.Lsh(_, _)    => new VersionedDir(spark, annLshPath).listDeltas.size
      case SearchMode.Ivf(_, _, _) => new VersionedDir(spark, annIvfPath).listDeltas.size
      case SearchMode.IvfPq(_, _, _, _, _, _) => new VersionedDir(spark, annIvfPqPath).listDeltas.size
      case SearchMode.RpqIvf(_, _, _, _, _, _) => new VersionedDir(spark, annRpqPath).listDeltas.size
      case SearchMode.Sq(_)        => new VersionedDir(spark, annSqPath).listDeltas.size
      case SearchMode.Bq(_)        => new VersionedDir(spark, annBqPath).listDeltas.size
      case SearchMode.Hnsw(_, _, _) => new VersionedDir(spark, annHnswPath).listDeltas.size
      case SearchMode.Exact        => 0
    }.maxOption.getOrElse(0)
    if (maxPending >= foldEvery) refreshAnn()
  }

  /** New-wins overlay of a codes delta onto an UNPARTITIONED codes scan
    * (SQ/BQ — full-scan structures, so there is no partition filter to
    * preserve): every delta doc shadows its base row (broadcast anti
    * equi-join — the delta is O(batch)), live delta rows union in.
    */
  private def annCodesOverlay(base: DataFrame, delta: Option[DataFrame],
                              codeCol: String): DataFrame = delta match {
    case None => base
    case Some(d) =>
      import org.apache.spark.sql.functions.{broadcast, col, not}
      base.join(broadcast(d.select(col("doc_id")).distinct()), Seq("doc_id"), "left_anti")
        .unionByName(d.filter(not(col("deleted"))).select(col("doc_id"), col(codeCol)))
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

  private def annVersion(root: String): AnnVersion = {
    val snap = new VersionedDir(spark, root).snapshot
    annVersions.get(root).filter(_.snapshot == snap).getOrElse {
      val v = new AnnVersion(snap, snap.dir.getOrElse(root))
      annVersions.put(root, v).foreach(_.release())
      v
    }
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
    def page(candidates: DataFrame) =
      SimilaritySearch.topKPage(candidates, k, probes.size, "doc_id")
    val topk = m match {
      case SearchMode.Lsh(bits, maxHamming) =>
        val v = annVersion(annLshPath)
        page(SimilaritySearch.lshCandidates(v.relation, probes, config.dims,
          bits, maxHamming, itemId = "doc_id", itemVec = "vector", v.delta, payloadFilter = None))
      case SearchMode.Ivf(_, nProbe, _) =>
        val v = annVersion(annIvfPath)
        page(SimilaritySearch.ivfCandidates(v.relation, v.centroids, probes,
          nProbe, itemId = "doc_id", itemVec = "vector", v.delta, payloadFilter = None))
      case SearchMode.IvfPq(_, nProbe, pm, ksub, refine, _) =>
        val v = annVersion(annIvfPqPath)
        val cfg = graft.ops.ProductQuantization.PqConfig(config.dims, pm, ksub)
        graft.ops.ProductQuantization.ivfPqTopKResolved(v.relation, v.centroids,
          v.codebooks(cfg), documents, probes, cfg, k, nProbe, refine,
          itemId = "doc_id", itemVec = "vector", v.delta)
      case SearchMode.RpqIvf(_, nProbe, pm, ksub, refine, _) =>
        val v = annVersion(annRpqPath)
        val cfg = graft.ops.ProductQuantization.PqConfig(config.dims, pm, ksub)
        graft.ops.ProductQuantization.residualIvfPqTopKResolved(v.relation, v.centroids,
          v.codebooks(cfg), documents, probes, cfg, k, nProbe, refine,
          itemId = "doc_id", itemVec = "vector", v.delta)
      case SearchMode.Sq(refine) =>
        val v = annVersion(annSqPath)
        val (mins, maxs) = v.sqParams
        val codes = annCodesOverlay(v.relation.select(col("doc_id"), col("sq")), v.delta, "sq")
        graft.ops.ScalarQuantization.sqTopK(codes, documents, mins, maxs,
          probes, k, refine, itemId = "doc_id", itemVec = "vector")
      case SearchMode.Bq(refine) =>
        val v = annVersion(annBqPath)
        val codes = annCodesOverlay(v.relation.select(col("doc_id"), col("bq")), v.delta, "bq")
        graft.ops.BinaryQuantization.bqTopK(codes, documents, v.bqThresholds,
          probes, k, refine, itemId = "doc_id", itemVec = "vector")
      case SearchMode.Hnsw(_, _, ef) =>
        val v = annVersion(annHnswPath)
        page(graft.ops.Hnsw.hnswCandidates(v.hnswGraph, probes, k, ef, v.delta, v.deltaIds,
          itemId = "doc_id", itemVec = "vector"))
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
