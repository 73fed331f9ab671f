package graft.api

import scala.collection.concurrent.TrieMap

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{BoundReference, CaseWhen, Cast, EqualTo, Expression, If, InSet,
  Literal, Round, UnaryMinus, UnsafeArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DoubleType, FloatType, LongType, StructType}

import graft.core.{IndexConfig, Metric}
import graft.embed.{ChatBackend, EchoChatBackend, EmbeddingBackend, HashEmbeddingBackend}
import graft.functions.{BqHammingExpr, PqAdcExpr, SqAdcExpr}
import graft.ops.{BinaryQuantization => BQ, ProductQuantization => PQ, ScalarQuantization => SQ, SimilaritySearch}
import graft.pipeline.IndexBuild
import graft.query.{Retrieval, VersionScan}

/** How [[VectorIndex.search]] matches candidates. `Exact` (the default, and
  * the reference's own posture — its numpy provider is a full scan,
  * storage/numpy/provider.py:38-59) scans every vector. The ANN modes
  * query the side indexes maintained at rebuild/update/upsert/delete time:
  * a miss reads only the buckets or cells its probe selects (or, for SQ
  * and BQ, the whole codes relation, and for HNSW the shard graphs), each
  * read planned once per index version. ANN modes score cosine (rerank
  * convention).
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
  * The index is a parquet Document table at `indexPath`. Every query method
  * reads its bounded candidate page eagerly and returns a DataFrame over the
  * finished rows, so collecting the result runs no further job.
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

  import VectorIndex.Page

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

  private def annRoot(mode: Class[_]): String = s"$indexPath/__ann_${VectorIndex.AnnLayouts(mode).name}"

  /** The configured ANN modes (Exact has no side index). */
  private def annModes: Seq[SearchMode] = ann.filter(_ != SearchMode.Exact)

  /** Rebuild every configured ANN structure from the CURRENT documents —
    * called after each mutation, so ANN search always reflects the store.
    * Each write is a versioned atomic swap: a search planned against the
    * previous ANN version still completes mid-refresh.
    */
  def refreshAnn(): Unit = if (ann.nonEmpty && store.exists) {
    import org.apache.spark.sql.functions.col
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
    else (PQ.residualize(assigned, centroids, itemVec = "vector"), "residual")

  /** Incremental ANN maintenance (the 100 TB mutation path): changed rows
    * are assigned against the EXISTING structures — LSH hyperplanes are
    * static by construction, IVF centroids and PQ codebooks are read from
    * the active version — and land as O(batch) delta sidecars beside the
    * versioned layout ([[VersionedDir.appendDelta]]); removed ids become
    * tombstones. Search merges deltas new-wins over the pruned base scan.
    * A full retrain (re-seeded centroids/codebooks + rewrite) happens only
    * on [[rebuild]]/[[update]] or when [[VectorIndex.AnnFoldEvery]] deltas
    * accumulate on a root — never on a 1-row upsert/delete.
    */
  def refreshAnnIncremental(changedDocs: DataFrame, removedIds: DataFrame): Unit = if (ann.nonEmpty && store.exists) {
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
      lazy val v = annVersion(m, snaps(root))
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
          val cfg = PQ.PqConfig(config.dims, pm, ksub)
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
    if (pending.exists(_ >= VectorIndex.AnnFoldEvery)) refreshAnn()
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
    * overlay, and the planned reads every miss runs — resolved on first use
    * and then reused for as long as the root's snapshot stays the same.
    */
  private final class AnnVersion(val snapshot: VersionedDir.Snapshot, dir: String,
                                 layout: VectorIndex.AnnLayout) {
    lazy val relation: DataFrame = spark.read.parquet(dir)
    lazy val centroidsDf: DataFrame = VersionedDir.readSide(spark, s"$dir/_centroids")
    lazy val centroids: (Array[Array[Float]], Array[Long]) =
      SimilaritySearch.collectCentroids(centroidsDf)
    private lazy val codebookRows = PQ.codebookRows(VersionedDir.readSide(spark, s"$dir/_codebooks"))
    private val codebookArrays = TrieMap.empty[PQ.PqConfig, Array[Array[Array[Float]]]]
    def codebooks(cfg: PQ.PqConfig): Array[Array[Array[Float]]] =
      codebookArrays.getOrElseUpdate(cfg, PQ.codebooksFrom(codebookRows, cfg))
    lazy val sqParams: (Array[Float], Array[Float]) =
      SQ.collectParams(VersionedDir.readSide(spark, s"$dir/_sqparams"))
    lazy val bqThresholds: Array[Double] = BQ.collectThresholds(VersionedDir.readSide(spark, s"$dir/_bqparams"))
    lazy val delta: Option[DataFrame] = annDeltaRead(snapshot.deltas)

    /** The columns a planned read selects: doc_id and the scored column,
      * the vector or the codes. A part's read adds its key as a long
      * `__<key>` ([[SimilaritySearch.prunedRead]]).
      */
    private def readCols: Seq[String] = Seq("doc_id", layout.scored)

    /** The scored column of a planned read's rows, bound. */
    lazy val scored: BoundReference = BoundReference(1, relation.schema(layout.scored).dataType, nullable = true)

    /** [[delta]] on the driver, collected once: every id it shadows, live
      * or tombstoned, and its live rows laid out as a planned read's rows.
      */
    private lazy val overlay: (Set[Long], Seq[InternalRow]) = delta.fold((Set.empty[Long], Seq.empty[InternalRow])) { d =>
      import org.apache.spark.sql.functions.col
      val rows = d.select(readCols.map(col) ++ layout.part.map(k => col(k).cast("long")) :+ col("deleted"): _*)
        .queryExecution.executedPlan.executeCollect().toSeq
      val deleted = readCols.size + layout.part.size
      (rows.map(_.getLong(0)).toSet, rows.filter(!_.getBoolean(deleted)))
    }

    private val parts = scala.collection.mutable.Map.empty[Option[Long], RDD[InternalRow]]
    private var graphs: Option[RDD[graft.ops.Hnsw.Shard]] = None
    private var released = false

    /** The read of one cell or bucket, or with None of the whole relation
      * of an unpartitioned layout, through [[SimilaritySearch.prunedRead]].
      */
    private def read(value: Option[Long]): DataFrame =
      SimilaritySearch.prunedRead(relation, value.map(v => (layout.part.get, Seq(v))), readCols, None, None)

    /** [[read]], planned and persisted on first use ([[kept]]). */
    private def part(value: Option[Long]): RDD[InternalRow] = synchronized {
      parts.getOrElseUpdate(value, kept(read(value).queryExecution.toRdd.map(_.copy())))
    }

    /** The shard graphs, persisted on first use ([[kept]]). */
    private def shardGraphs: RDD[graft.ops.Hnsw.Shard] = synchronized {
      graphs.getOrElse {
        val g = kept(graft.ops.Hnsw.shardGraphs(relation))
        graphs = Some(g)
        g
      }
    }

    /** `rdd` persisted, unless the version is already released: then it
      * serves the searches still holding this version unpersisted.
      */
    private def kept[T](rdd: RDD[T]): RDD[T] = if (released) rdd else rdd.persist()

    /** Unpersist the parts and graphs — called when the version is
      * replaced. A search still running over them recomputes what it
      * misses from their lineage.
      */
    def release(): Unit = synchronized {
      released = true
      (parts.values ++ graphs).foreach(_.unpersist(false))
      graphs = None
      parts.clear()
    }

    /** Per probe `p`, its top `k` candidates among the planned reads of
      * `probed` ([[part]]'s values) under the overlay, by `scores(p)`: null
      * where a row is not its candidate (a part it does not probe) — the
      * batch route's equi-join on the part key and its top-k page, no
      * threshold. One job over the probed parts.
      */
    def partTopK(scores: Array[Expression], probed: Seq[Option[Long]], k: Int): Seq[Seq[VersionScan.Kept]] = {
      val (shadowed, live) = overlay
      VersionScan.topK(spark.sparkContext.union(probed.distinct.map(part)), live, AnnVersion.Id, scores, k,
        Double.NegativeInfinity, shadowed, keepRows = false)
    }

    /** The (doc_id, score) candidates of the HNSW route: per probe, the top
      * `k` of every shard's beam hits (ids the overlay shadows skipped) and
      * of the overlay's live rows, scored `round(cosine, 6)`. One job over
      * the shard graphs.
      */
    def graphTopK(probes: Seq[(Long, Seq[Float])], k: Int, ef: Int): Seq[(Long, Double)] =
      if (probes.isEmpty || k <= 0) Nil
      else {
        val (shadowed, live) = overlay
        val beams = graft.ops.Hnsw.searchShards(shardGraphs, probes, k, ef, shadowed).groupBy(_._1)
        val fromGraph = probes.map { case (qid, _) =>
          beams.getOrElse(qid, Array.empty[(Long, Long, Double)]).map { case (_, id, score) =>
            VersionScan.Kept(AnnVersion.Round6.eval(InternalRow(score)).asInstanceOf[Double], id, null)
          }
        }.toArray
        val fromDelta = VersionScan.heaps(live.iterator, AnnVersion.Id,
          probes.map(p => VersionScan.rounded(AnnVersion.Vector, p._2)).toArray, k, Double.NegativeInfinity,
          Set.empty, keepRows = false)
        VersionScan.merge(Seq(fromGraph, fromDelta), k).flatten.map(h => (h.id, h.score))
      }
  }

  private object AnnVersion {
    /** The columns of a planned read's rows, and of (doc_id, vector) rows, bound. */
    val Id: BoundReference = BoundReference(0, LongType, nullable = true)
    val Vector: BoundReference = BoundReference(1, ArrayType(FloatType), nullable = true)
    val Part: BoundReference = BoundReference(2, LongType, nullable = true)
    /** `round(score, 6)` of a score computed outside Spark. */
    val Round6: Round = Round(BoundReference(0, DoubleType, nullable = false), Literal(6))
    /** The score of a row that is not the probe's candidate. */
    val NoScore: Literal = Literal(null, DoubleType)
  }

  /** One [[AnnVersion]] per ANN root, replaced whenever the root's snapshot
    * differs from the one it was resolved at — so every mutation, through
    * this handle or any other writer, invalidates it. The replacement is
    * made under a lock: threads resolving one new snapshot at once share
    * one version, and none releases a graph another is searching.
    */
  private val annVersions = TrieMap.empty[String, AnnVersion]

  private def annVersion(m: SearchMode, snap: VersionedDir.Snapshot): AnnVersion = {
    val root = annRoot(m.getClass)
    def current = annVersions.get(root).filter(_.snapshot == snap)
    current.getOrElse(annVersions.synchronized(current.getOrElse {
      val v = new AnnVersion(snap, snap.dir.getOrElse(root), VectorIndex.AnnLayouts(m.getClass))
      annVersions.put(root, v).foreach(_.release())
      v
    }))
  }

  // ---- the page cache ----------------------------------------------------
  //
  // Every cacheable request ends in a collected page that depends only on
  // the index version it read and on the request: the exact KNN page, an ANN
  // route's hydrated hits, findSimilar's hydrated page. The page is kept
  // under (version token, request) in one bounded LRU per handle, with the
  // DataFrames finished from it (first per key, and without self for
  // findSimilar), so a repeat returns a frame Spark has already planned; the
  // RAG prompt and the chat call run on every call. Any write, through any
  // handle, changes the token, so a page of an older version is never
  // served; it ages out. A miss reads the store's version scan
  // ([[IndexStore.readScan]]) and, on the ANN routes, the ANN version's
  // planned parts or shard graphs ([[AnnVersion]]), each planned once per
  // version.
  // Filtered searches (a predicate may be non-deterministic), server-side
  // searches and stores without a version token are never cached.

  private val pages = new VectorIndex.PageCache(VectorIndex.PageCacheEntries, VectorIndex.PageCacheRows)

  /** (entries, rows) held in this handle's page cache. */
  private[graft] def pageCacheSize: (Int, Int) = pages.size

  /** This handle, its page cache emptied: the next request of each kind
    * reads the index again.
    */
  private[graft] def withEmptyPageCache(): VectorIndex = {
    pages.clear()
    this
  }

  /** `page`, kept under (`token`, `request`) — unless the token is None. */
  private def cached(token: Option[Any], request: VectorIndex.Request)(page: => Page): Page =
    token.fold(page)(t => pages.getOrElseUpdate((t, request), page))

  /** What an ANN request in mode `m` reads, each root resolved from one
    * snapshot: the documents' version scan, the ANN version, and the token
    * of both.
    */
  private def annRead(m: SearchMode): (VersionScan, AnnVersion, Option[Any]) = {
    require(ann.exists(_.getClass == m.getClass),
      s"index was not built with ANN mode $m — pass it in VectorIndex(ann = ...)")
    val (scan, token) = store.readScan()
    val v = annVersion(m, new VersionedDir(spark, annRoot(m.getClass)).snapshot)
    (scan, v, token.map((_, v.snapshot)))
  }

  /** The delta overlay an ANN request in mode `m` reads now: the
    * latest-per-doc rows of the version's pending sidecars.
    */
  private[graft] def annDelta(m: SearchMode): Option[DataFrame] = annRead(m)._2.delta

  /** search(q): embed the query once on the driver (reference
    * storage/base.py:303-316) and search by its vector ([[searchVector]]).
    */
  def search(query: String, k: Int = 5, threshold: Double = 0.0,
             metric: Metric = Metric.Cosine,
             mode: SearchMode = SearchMode.Exact,
             filter: Option[Column] = None): DataFrame =
    searchVector(backend.embedOne(query).toSeq, k, threshold, metric, mode, filter)

  /** The route's per-probe top-k hits, thresholded on the driver and
    * hydrated to full documents (+`key`) — the shared tail of every
    * ANN-routed query method. HNSW searches the version's shard graphs
    * ([[AnnVersion.graphTopK]]); every other mode scores its planned parts
    * ([[AnnVersion.partTopK]], scores by [[annScore]]), and the quantized
    * modes rerank their top k·refine per probe exactly ([[reranked]]) over
    * one read of the candidates' documents, which also hydrates the hits.
    * The other routes hydrate with one read of the hit ids. Rows in rank
    * order.
    */
  private def annHits(scan: VersionScan, v: AnnVersion, probes: Seq[(Long, Seq[Float])], k: Int,
                      threshold: Double, m: SearchMode): Page = {
    val refine = m match {
      case IvfPqMode(_, _, _, _, refine, _, _) => Some(refine)
      case SearchMode.Sq(refine)               => Some(refine)
      case SearchMode.Bq(refine)               => Some(refine)
      case _                                   => None
    }
    val (hits, read) = m match {
      case SearchMode.Hnsw(_, _, ef) => (v.graphTopK(probes, k, ef), scan.byIds _)
      case _ =>
        val scores = probes.map(p => annScore(v, p._2, m))
        val cands = v.partTopK(scores.map(_._2).toArray, scores.flatMap(_._1), k * refine.getOrElse(1))
        refine.fold((cands.flatten.map(h => (h.id, h.score)), scan.byIds _)) { _ =>
          val rows = scan.byIds(cands.flatten.map(_.id).toSet)
          (reranked(scan.schema, rows, probes.map(_._2), cands, k), (_: Set[Long]) => rows)
        }
    }
    Page(Retrieval.hydrate(scan.schema, hits.collect {
      case (id, score) if Retrieval.compareScores(score, threshold) >= 0 => Row(id, score)
    }, Retrieval.ScoreField)(read))
  }

  /** What a miss in mode `m` reads of version `v` for probe `q`, and how it
    * scores a row: the parts the probe probes ([[AnnVersion.partTopK]];
    * None, the whole codes relation, for SQ and BQ), and its score — for
    * LSH and IVF `round(cosine, 6)`, for the quantized modes the negated
    * distance of the mode's kernel to the probe's lookup table or bits, a
    * literal. A row of a part the probe does not probe scores null; the
    * residual form scores each probed cell with that cell's lookup table.
    */
  private def annScore(v: AnnVersion, q: Seq[Float], m: SearchMode): (Seq[Option[Long]], Expression) = {
    def in(parts: Seq[Long], score: Expression) = (parts.map(Some(_)),
      If(InSet(AnnVersion.Part, scala.collection.immutable.HashSet.from[Any](parts)), score, AnnVersion.NoScore))
    def negated(distance: Expression): Expression = Cast(UnaryMinus(distance), DoubleType)
    def lut(values: Array[Long]) = Literal(UnsafeArrayData.fromPrimitiveArray(values), PQ.LutType)
    lazy val (cvs, cids) = v.centroids
    m match {
      case SearchMode.Lsh(bits, maxHamming) =>
        val bucket = SimilaritySearch.lshBucketLocal(q, config.dims, bits)
        in(SimilaritySearch.hammingMasks(bits, maxHamming).map(bucket ^ _), VersionScan.rounded(v.scored, q))
      case SearchMode.Ivf(_, nProbe, _) =>
        in(SimilaritySearch.nearestCellsLocal(q, cvs, cids, nProbe), VersionScan.rounded(v.scored, q))
      case IvfPqMode(_, nProbe, pm, ksub, _, _, residual) =>
        val cfg = PQ.PqConfig(config.dims, pm, ksub)
        def adc(frame: Seq[Float]) = negated(PqAdcExpr(v.scored, lut(PQ.adcLut(frame, v.codebooks(cfg), cfg)), ksub))
        val cells = SimilaritySearch.nearestCellsLocal(q, cvs, cids, nProbe)
        if (!residual) in(cells, adc(q))
        else (cells.map(Some(_)), CaseWhen(cells.map(c =>
          EqualTo(AnnVersion.Part, Literal(c)) -> adc(PQ.residualOf(q, cvs(cids.indexOf(c))))), AnnVersion.NoScore))
      case SearchMode.Sq(_) =>
        val (mins, maxs) = v.sqParams
        (Seq(None), negated(SqAdcExpr(v.scored, lut(SQ.sqLut(q, mins, maxs)))))
      case SearchMode.Bq(_) =>
        (Seq(None), negated(BqHammingExpr(v.scored, Literal(BQ.bqEncodeLocal(q, v.bqThresholds), BinaryType))))
      case other => throw new IllegalArgumentException(s"$other does not score planned parts")
    }
  }

  /** The exact rerank of a quantized mode: per probe, the top `k` of its
    * candidates `cands` by `round(cosine, 6)` of their documents' vectors
    * in `rows` (their read, in the documents' `schema`), as (doc_id, score)
    * — the rank order of [[VersionScan.topK]]'s heap.
    */
  private def reranked(schema: StructType, rows: Seq[Row], probes: Seq[Seq[Float]],
                       cands: Seq[Seq[VersionScan.Kept]], k: Int): Seq[(Long, Double)] = {
    val (id, vec) = (schema.fieldIndex("doc_id"), schema.fieldIndex("vector"))
    val toVector = CatalystTypeConverters.createToCatalystConverter(schema(vec).dataType)
    val scores = probes.zip(cands).map[Expression] { case (q, c) =>
      If(InSet(AnnVersion.Id, scala.collection.immutable.HashSet.from[Any](c.map(_.id))),
        VersionScan.rounded(AnnVersion.Vector, q), AnnVersion.NoScore)
    }
    VersionScan.heaps(rows.iterator.map(r => InternalRow(r.get(id), toVector(r.get(vec)))), AnnVersion.Id,
      scores.toArray, k, Double.NegativeInfinity, Set.empty, keepRows = false).flatten.map(h => (h.id, h.score))
  }

  /** The top-k chunk page of one query vector — exact (the KNN page) or
    * through the ANN route — kept in the page cache. Exact and ANN search,
    * searchVector, query and queryStream all read it.
    */
  private def vectorPage(queryVec: Seq[Float], k: Int, threshold: Double, metric: Metric,
                         mode: SearchMode): Page = {
    val request = VectorIndex.Request(queryVec.map(java.lang.Float.floatToIntBits).toVector,
      k, threshold, metric, mode)
    mode match {
      case SearchMode.Exact =>
        val (scan, token) = store.readScan()
        cached(token, request)(Page(Retrieval.knnPage(scan, queryVec, k, threshold, metric)))
      case m =>
        val (scan, v, token) = annRead(m)
        cached(token, request)(annHits(scan, v, Seq((0L, queryVec)), k, threshold, m))
    }
  }

  /** The first row per object key of a page, as a DataFrame over its rows —
    * one per page, shared by the searches and RAG sources it answers.
    */
  private def firstPerKey(page: Page): DataFrame = page.firstPerKey {
    Retrieval.localFrame(spark, Retrieval.firstPerKey(page.rows, page.schema), page.schema)
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
      // `query_vector` semantics), never a post-filtered page. A
      // server-side connector takes this route too: our wire clients carry
      // no filter clause, and a silent post-filter would change which k
      // survive (documented divergence from qdrant's native filtered search)
      Retrieval.finishPage(Retrieval.keyed(
        Retrieval.knn(documents.filter(filter.get), queryVec, k, threshold, metric)))
    case SearchMode.Exact => store match {
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
        import org.apache.spark.sql.functions.col
        Retrieval.finishPage(Retrieval.keyed(s.searchSimilar(queryVec, k,
            similarityThreshold = math.min(math.max(threshold, 0.0), 1.0))
          .filter(col("score") >= threshold)))
      case _ => firstPerKey(vectorPage(queryVec, k, threshold, metric, mode))
    }
    case m =>
      require(metric == Metric.Cosine, s"ANN modes rerank by cosine; got $metric")
      filter match {
        case None => firstPerKey(vectorPage(queryVec, k, threshold, metric, m))
        case Some(pred) =>
          // ANN + filter = POST-filtering with overfetch: the candidate page
          // is k·overfetch hits of the unfiltered index, filtered after
          // hydration, re-limited to k. A very selective predicate can
          // return < k rows — the documented ANN/filter trade-off (the
          // pre-filtering alternative is the exact path above, or
          // ivfTopKPruned(payloadFilter) when the payload rides in the index)
          val (scan, v, _) = annRead(m)
          val page = annHits(scan, v, Seq((0L, queryVec)), k * VectorIndex.AnnFilterOverfetch,
            threshold, m)
          // the predicate runs over the local rows (no Spark job)
          val kept = Retrieval.localFrame(spark, page.rows, page.schema).filter(pred).collect().toSeq
          firstPerKey(new Page(kept.sorted(Retrieval.byRank(page.schema)).take(k), page.schema))
      }
  }

  /** find_similar with an optional ANN route: the probe object's chunk
    * vectors are collected driver-side (an object has FEW chunks — the
    * reference itself runs one query per chunk, storage/base.py:278-301) and
    * searched as one multi-probe pruned batch; per-chunk top-k, union,
    * first-per-key dedup, self-exclusion — same semantics as the exact path,
    * but only the candidate buckets/cells are read. The hydrated page is
    * kept in the page cache before self-exclusion, so both `includeSelf`
    * variants share it. A key with no documents yields an empty result in
    * every mode.
    */
  def findSimilar(objectKey: String, k: Int = 5, threshold: Double = 0.0,
                  includeSelf: Boolean = false,
                  mode: SearchMode = SearchMode.Exact): DataFrame = {
    val request = VectorIndex.Request(objectKey, k, threshold, config.metric, mode)
    val page = mode match {
      case SearchMode.Exact =>
        val (scan, token) = store.readScan()
        cached(token, request)(Page(Retrieval.similarRows(scan, objectKey, k, threshold, config.metric)))
      case m =>
        val (scan, v, token) = annRead(m)
        cached(token, request) {
          val probes = scan.withKey(objectKey)
          // nothing to probe: the exact path's empty page
          if (probes.isEmpty) Page(Retrieval.hydratePage(scan, Nil, Retrieval.ScoreField))
          else annHits(scan, v, probes, k, threshold, m)
        }
    }
    if (includeSelf) firstPerKey(page)
    else page.withoutSelf {
      val rows = Retrieval.firstPerKey(page.rows, page.schema)
      Retrieval.localFrame(spark, Retrieval.excludeKey(rows, page.schema, objectKey, includeSelf = false),
        page.schema)
    }
  }

  /** RAG query; ANN modes retrieve through the pruned index. Reference
    * semantics preserved: the merged context is built from the RAW top-k
    * chunk hits BEFORE object dedup, sources are the deduped list
    * (storage/base.py:194-228; see [[Retrieval.ragQuery]]).
    */
  def query(question: String, sourcesLimit: Int = 5, threshold: Double = 0.0,
            mode: SearchMode = SearchMode.Exact): Retrieval.QueryResponse = {
    val (messages, sources) = ragPrompt(question, sourcesLimit, threshold, mode)
    Retrieval.QueryResponse(chatBackend.chat(messages), sources)
  }

  /** R4: streaming RAG query (reference aquery, storage/base.py:230-276). */
  def queryStream(question: String, sourcesLimit: Int = 5, threshold: Double = 0.0,
                  mode: SearchMode = SearchMode.Exact): Retrieval.StreamingQueryResponse = {
    val (messages, sources) = ragPrompt(question, sourcesLimit, threshold, mode)
    Retrieval.StreamingQueryResponse(chatBackend.chatStream(messages), sources)
  }

  /** The prompt and sources of a RAG question, from its cosine top-k page. */
  private def ragPrompt(question: String, sourcesLimit: Int, threshold: Double,
                        mode: SearchMode): (Seq[graft.embed.ChatMessage], DataFrame) = {
    val page = vectorPage(backend.embedOne(question).toSeq, sourcesLimit, threshold, Metric.Cosine, mode)
    (Retrieval.ragMessages(page.rows, page.schema, question, Retrieval.DefaultSystemPrompt), firstPerKey(page))
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
    * (`__ann_<name>`), the column its rows are scored by — the vector, or
    * the mode's codes — and the column it is partitioned by, if any. Delta
    * sidecars carry them too, beside doc_id and `deleted`.
    */
  private final case class AnnLayout(name: String, scored: String, part: Option[String])

  private val AnnLayouts: Map[Class[_], AnnLayout] = Map(
    classOf[SearchMode.Lsh] -> AnnLayout("lsh", "vector", Some("bucket")),
    classOf[SearchMode.Ivf] -> AnnLayout("ivf", "vector", Some("cell")),
    classOf[SearchMode.IvfPq] -> AnnLayout("ivfpq", "codes", Some("cell")),
    classOf[SearchMode.RpqIvf] -> AnnLayout("rpq", "codes", Some("cell")),
    classOf[SearchMode.Sq] -> AnnLayout("sq", "sq", None),
    classOf[SearchMode.Bq] -> AnnLayout("bq", "bq", None),
    classOf[SearchMode.Hnsw] -> AnnLayout("hnsw", "vector", None))

  /** Candidate-page multiplier for ANN + post-filter searches: fetch
    * k·overfetch hits before the payload predicate re-limits to k.
    */
  val AnnFilterOverfetch = 4

  /** Pending deltas on one ANN root at which an incremental write folds
    * them into a retrained version ([[VectorIndex.refreshAnnIncremental]]).
    */
  private val AnnFoldEvery = 10

  /** A collected page: its rows in rank order, their schema, and the
    * DataFrames finished from it. Each frame is built once, so a request the
    * page answers again gets a DataFrame Spark has already planned.
    */
  private[graft] final class Page(val rows: Seq[Row], val schema: StructType) {
    private var first: DataFrame = _
    private var noSelf: DataFrame = _

    /** The first row per object key, built by `build` on first use. */
    def firstPerKey(build: => DataFrame): DataFrame = synchronized {
      if (first == null) first = build
      first
    }

    /** findSimilar's frame without the probe object, built on first use. */
    def withoutSelf(build: => DataFrame): DataFrame = synchronized {
      if (noSelf == null) noSelf = build
      noSelf
    }
  }

  private[graft] object Page {
    /** The page of a `(rows, schema)` pair. */
    def apply(page: (Seq[Row], StructType)): Page = new Page(page._1, page._2)
  }

  /** What a cached page answers: its probe — the bit pattern of a query
    * vector (`floatToIntBits`, so -0.0 and 0.0 differ and NaN equals NaN)
    * or an object key — with k, threshold, metric and mode.
    */
  private[graft] final case class Request(probe: Any, k: Int, threshold: Double,
                                          metric: Metric, mode: SearchMode)

  /** The bounds of a handle's page cache: pages, and rows over all pages. */
  private[graft] val PageCacheEntries = 256
  private[graft] val PageCacheRows = 4096

  /** A bounded LRU of pages: at most `maxEntries` pages holding at most
    * `maxRows` rows in all, least recently used evicted first. A page with
    * more rows than `maxRows` is not kept. A page is computed outside the
    * lock, so two threads missing one key may both compute it (the same
    * page); the later insert replaces the earlier.
    */
  private[graft] final class PageCache(maxEntries: Int, maxRows: Int) {
    private val entries = new java.util.LinkedHashMap[Any, Page](16, 0.75f, true)
    private var rows = 0

    def getOrElseUpdate(key: Any, page: => Page): Page =
      synchronized(Option(entries.get(key))).getOrElse {
        val p = page
        if (p.rows.size <= maxRows) synchronized {
          rows += p.rows.size - Option(entries.put(key, p)).fold(0)(_.rows.size)
          val eldest = entries.values.iterator
          while (entries.size > maxEntries || rows > maxRows) {
            rows -= eldest.next().rows.size
            eldest.remove()
          }
        }
        p
      }

    /** (pages, rows) held. */
    def size: (Int, Int) = synchronized((entries.size, rows))

    def clear(): Unit = synchronized {
      entries.clear()
      rows = 0
    }
  }

  /** Convenience constructor with the dev/test backends. */
  def local(spark: SparkSession, config: IndexConfig, indexPath: String,
            sourceTable: String, idColumn: String,
            backend: EmbeddingBackend = null,
            chatBackend: ChatBackend = EchoChatBackend()): VectorIndex =
    new VectorIndex(spark, config,
      Option(backend).getOrElse(HashEmbeddingBackend(config.dims)),
      chatBackend, indexPath, sourceTable, idColumn)
}
