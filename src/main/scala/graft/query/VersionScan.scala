package graft.query

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GetArrayItem, Literal, Round, UnaryMinus}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, FloatType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Metric
import graft.functions.{CosineSimilarity, DotProduct, L2Distance}

/** One version of a document relation, planned once: the physical plan's
  * RDD (`queryExecution.toRdd`) of the full rows and of the NARROW
  * (doc_id, vector, object_keys) projection, so analysis, optimization,
  * planning, codegen, the file scan's broadcasts and any merge-on-read
  * broadcast sides are paid once per version, not once per request. Each
  * plan is made on first use; each read below is one RDD job over it, and
  * nothing is persisted.
  *
  * `files` are the version's parquet files when `docs` is exactly their
  * rows (a store version without pending deltas), else None. Reads by
  * doc_id ([[byIds]]) then go only to the files whose doc_id range holds an
  * id: each file's range is read from its footer once per version, and each
  * file's full-row read is planned on first use.
  */
private[graft] final class VersionScan(val docs: DataFrame, files: Option[Seq[String]]) {
  private lazy val full = new VersionScan.Plan(docs)
  private lazy val narrow = new VersionScan.Plan(docs.select(col("doc_id"), col("vector"), col("object_keys")))

  def schema: StructType = docs.schema

  /** Per probe vector, its top `k` full rows scoring at least `threshold`,
    * in rank order — [[Retrieval.knn]]'s page: the score is the metric's
    * Catalyst expression evaluated against the probe, a null score is
    * dropped, and rank is [[Retrieval.byRank]]'s. Rows come back as
    * `collect` yields them. One job.
    */
  def topK(probes: Seq[Seq[Float]], k: Int, threshold: Double, metric: Metric): Seq[Seq[VersionScan.Hit]] = {
    val plan = full
    val firstKey = GetArrayItem(plan.keys, Literal(0)) // the dedup key of Retrieval.keyed
    val toKey = CatalystTypeConverters.createToScalaConverter(firstKey.dataType)
    plan.topK(probes, k, threshold, metric, keepRows = true)
      .map(_.map(h => VersionScan.Hit(plan.external(h.row), h.score, toKey(firstKey.eval(h.row)))))
  }

  /** [[topK]] over the narrow projection: per probe and hit, its
    * (doc_id, score) — [[Retrieval.similarPage]]'s rows.
    */
  def topKIds(probes: Seq[Seq[Float]], k: Int, threshold: Double, metric: Metric): Seq[(Long, Double)] =
    narrow.topK(probes, k, threshold, metric, keepRows = false).flatten.map(h => (h.id, h.score))

  /** The (doc_id, vector) of the rows whose `object_keys` contain
    * `objectKey` — `array_contains`'s true, so a null array never matches.
    * One job over the narrow projection.
    */
  def withKey(objectKey: String): Seq[(Long, Seq[Float])] = {
    val plan = narrow
    val key = UTF8String.fromString(objectKey)
    val at = plan.keys.ordinal
    val toVector = CatalystTypeConverters.createToScalaConverter(plan.vector.dataType)
    plan.rows.mapPartitions(_.filter { r =>
      !r.isNullAt(at) && key != null && {
        val a = r.getArray(at)
        (0 until a.numElements()).exists(i => !a.isNullAt(i) && a.getUTF8String(i) == key)
      }
    }.map(_.copy())).collect().toSeq
      .map(r => (VersionScan.idOf(r, plan.id), toVector(plan.vector.eval(r)).asInstanceOf[Seq[Float]]))
  }

  /** (file, lowest doc_id, highest doc_id) of every file holding rows. */
  private lazy val ranges: Seq[(String, Long, Long)] = {
    val conf = docs.sparkSession.sparkContext.hadoopConfiguration
    files.toSeq.flatten.flatMap(f => VersionScan.idRange(f, conf).map { case (lo, hi) => (f, lo, hi) })
  }

  private val filePlans = scala.collection.mutable.Map.empty[String, VersionScan.Plan]

  private def filePlan(file: String): VersionScan.Plan = filePlans.synchronized {
    filePlans.getOrElseUpdate(file, new VersionScan.Plan(docs.sparkSession.read.schema(schema).parquet(file)))
  }

  /** The rows whose doc_id is one of `ids`, as `collect` yields them. With
    * the version's files: one job over the files whose doc_id range holds
    * an id. Otherwise [[Retrieval.idRows]]'s read of `docs`.
    */
  def byIds(ids: Set[Long]): Seq[Row] = files match {
    case None => Retrieval.idRows(docs, ids)
    case Some(_) =>
      val read = ranges.collect { case (f, lo, hi) if ids.exists(i => lo <= i && i <= hi) => filePlan(f) }
      if (read.isEmpty) Nil
      else {
        val id = read.head.id
        docs.sparkSession.sparkContext.union(read.map(_.rows))
          .mapPartitions(_.filter(r => !r.isNullAt(id.ordinal) && ids.contains(VersionScan.idOf(r, id)))
            .map(_.copy()))
          .collect().toSeq.map(read.head.external)
      }
  }
}

private[graft] object VersionScan {
  /** A ranked row: as `collect` yields it, its score, and its dedup key. */
  final case class Hit(row: Row, score: Double, key: Any)

  /** A candidate kept by a top-k heap: its score, its doc_id, and its row
    * when the caller keeps rows.
    */
  final case class Kept(score: Double, id: Long, row: InternalRow)

  /** One relation planned: its RDD, and the columns the reads bind. */
  private final class Plan(df: DataFrame) {
    val rows: RDD[InternalRow] = df.queryExecution.toRdd
    private val schema = df.schema
    private val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    val id: BoundReference = bind(schema, "doc_id")
    val vector: BoundReference = bind(schema, "vector")
    val keys: BoundReference = bind(schema, "object_keys")

    def external(r: InternalRow): Row = toRow(r).asInstanceOf[Row]

    /** Per probe, its top `k` rows scoring at least `threshold`. */
    def topK(probes: Seq[Seq[Float]], k: Int, threshold: Double, metric: Metric,
             keepRows: Boolean): Seq[Seq[Kept]] =
      VersionScan.topK(rows, Nil, id, probes.map(p => score(vector, p, metric)).toArray, k, threshold,
        skip = Set.empty, keepRows)
  }

  /** Per probe `p`, its top `k` candidates among the rows of `rows` and of
    * `local` (rows already on the driver), best first: a row is a candidate
    * when `scores(p)` is not null and at least `threshold`, and when its
    * doc_id is not in `skip` (checked for `rows` only). Rank is
    * [[Retrieval.byRank]]'s: score descending, then doc_id ascending. One
    * job: a bounded heap per probe and partition ([[heaps]]), merged here.
    */
  def topK(rows: RDD[InternalRow], local: Seq[InternalRow], id: BoundReference, scores: Array[Expression],
           k: Int, threshold: Double, skip: Set[Long], keepRows: Boolean): Seq[Seq[Kept]] =
    if (scores.isEmpty || k <= 0) scores.toSeq.map(_ => Nil)
    else merge(rows.mapPartitions { it =>
      Iterator.single(heaps(it, id, scores, k, threshold, skip, keepRows))
    }.collect().toSeq :+ heaps(local.iterator, id, scores, k, threshold, Set.empty, keepRows), k)

  /** The per-probe heaps of one partition of [[topK]], each holding at most
    * `k` candidates; rows are `copy()`'d only when `keepRows`.
    */
  def heaps(it: Iterator[InternalRow], id: BoundReference, scores: Array[Expression], k: Int,
            threshold: Double, skip: Set[Long], keepRows: Boolean): Array[Array[Kept]] = {
    val perProbe = scores.map(_ => new java.util.PriorityQueue[Kept](math.max(k, 1), worstFirst))
    it.foreach { r =>
      if (skip.isEmpty || !skip.contains(idOf(r, id))) {
        var copy: InternalRow = null
        var p = 0
        while (p < scores.length) {
          val s = scores(p).eval(r)
          if (s != null && Retrieval.compareScores(s.asInstanceOf[Double], threshold) >= 0) {
            val kept = Kept(s.asInstanceOf[Double], idOf(r, id), null)
            val heap = perProbe(p)
            if (heap.size < k || worstFirst.compare(heap.peek, kept) < 0) {
              if (keepRows && copy == null) copy = r.copy()
              heap.add(kept.copy(row = copy))
              if (heap.size > k) heap.poll()
            }
          }
          p += 1
        }
      }
    }
    perProbe.map(_.toArray(Array.empty[Kept]))
  }

  /** Per probe, the best `k` of the candidates of every part — each part
    * one array of candidates per probe — best first.
    */
  def merge(parts: Seq[Array[Array[Kept]]], k: Int): Seq[Seq[Kept]] =
    parts.head.indices.map(p => parts.flatMap(_(p)).sorted(worstFirst.reverse).take(k))

  private def bind(schema: StructType, name: String): BoundReference =
    BoundReference(schema.fieldIndex(name), schema(name).dataType, nullable = true)

  /** The reverse of [[Retrieval.byRank]]: the lower score first, then the
    * larger doc_id.
    */
  private val worstFirst: Ordering[Kept] = (a: Kept, b: Kept) => {
    val c = Retrieval.compareScores(a.score, b.score)
    if (c != 0) c else java.lang.Long.compare(b.id, a.id)
  }

  /** A null doc_id sorts first, as in an ascending sort. */
  private def idOf(r: InternalRow, id: BoundReference): Long =
    if (r.isNullAt(id.ordinal)) Long.MinValue else r.get(id.ordinal, id.dataType).asInstanceOf[Number].longValue

  /** [[Retrieval.scoreColOf]]'s expression, bound to `vector` and a probe. */
  private def score(vector: Expression, probe: Seq[Float], metric: Metric): Expression = {
    val q = Literal(if (probe == null) null else UnsafeArrayData.fromPrimitiveArray(probe.toArray),
      ArrayType(FloatType, containsNull = false))
    metric match {
      case Metric.Cosine          => CosineSimilarity(vector, q)
      case Metric.L2              => UnaryMinus(L2Distance(vector, q))
      case Metric.MaxInnerProduct => DotProduct(vector, q)
    }
  }

  /** The ANN routes' rerank score, `round(vec_cosine(vector, probe), 6)`,
    * bound to `vector` and a probe.
    */
  def rounded(vector: Expression, probe: Seq[Float]): Expression =
    Round(score(vector, probe, Metric.Cosine), Literal(6))

  /** (lowest, highest) doc_id of a parquet file from its footer statistics:
    * None when no row group holds a non-null doc_id, the whole long range
    * when a row group has no statistics.
    */
  private def idRange(file: String, conf: org.apache.hadoop.conf.Configuration): Option[(Long, Long)] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
    val stats = try reader.getFooter.getBlocks.asScala.toSeq.filter(_.getRowCount > 0).map(
      _.getColumns.asScala.find(_.getPath.toDotString == "doc_id").map(_.getStatistics).filter(!_.isEmpty))
    finally reader.close()
    if (stats.exists(_.isEmpty)) Some((Long.MinValue, Long.MaxValue))
    else {
      val bounds = stats.flatten.filter(_.hasNonNullValue).map(s =>
        (s.genericGetMin.asInstanceOf[Number].longValue, s.genericGetMax.asInstanceOf[Number].longValue))
      if (bounds.isEmpty) None else Some((bounds.map(_._1).min, bounds.map(_._2).max))
    }
  }
}
