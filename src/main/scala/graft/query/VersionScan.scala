package graft.query

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GetArrayItem, Literal, UnaryMinus}
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
  * nothing is persisted. Reads by doc_id stay on `docs`, where the id
  * filter is pushed into the parquet scan and skips files on their footer
  * statistics.
  */
private[graft] final class VersionScan(val docs: DataFrame) {
  private lazy val full = new VersionScan.Plan(docs)
  private lazy val narrow = new VersionScan.Plan(docs.select(col("doc_id"), col("vector"), col("object_keys")))

  def schema: StructType = docs.schema

  /** Per probe vector, its top `k` full rows scoring at least `threshold`,
    * in rank order — [[Retrieval.knn]]'s page: the score is the metric's
    * Catalyst expression evaluated against the probe, a null score is
    * dropped, and rank is [[Retrieval.byRank]]'s. Rows come back as
    * `collect` yields them. One job: a bounded heap per probe and
    * partition, merged here.
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
}

private[graft] object VersionScan {
  /** A ranked row: as `collect` yields it, its score, and its dedup key. */
  final case class Hit(row: Row, score: Double, key: Any)

  private final case class Kept(score: Double, id: Long, row: InternalRow)

  /** One relation planned: its RDD, and the columns the reads bind. */
  private final class Plan(df: DataFrame) {
    val rows: RDD[InternalRow] = df.queryExecution.toRdd
    private val schema = df.schema
    private val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    val id: BoundReference = bind(schema, "doc_id")
    val vector: BoundReference = bind(schema, "vector")
    val keys: BoundReference = bind(schema, "object_keys")

    def external(r: InternalRow): Row = toRow(r).asInstanceOf[Row]

    /** Per probe, its top `k` rows, best first; the rows are `copy()`'d
      * only when `keepRows`.
      */
    def topK(probes: Seq[Seq[Float]], k: Int, threshold: Double, metric: Metric,
             keepRows: Boolean): Seq[Seq[Kept]] =
      if (probes.isEmpty || k <= 0) probes.map(_ => Nil)
      else {
        val scores = probes.map(p => score(vector, p, metric)).toArray
        val idRef = id
        val perPartition = rows.mapPartitions { it =>
          val heaps = scores.map(_ => new java.util.PriorityQueue[Kept](k, worstFirst))
          it.foreach { r =>
            var copy: InternalRow = null
            var p = 0
            while (p < scores.length) {
              val s = scores(p).eval(r)
              if (s != null && Retrieval.compareScores(s.asInstanceOf[Double], threshold) >= 0) {
                val kept = Kept(s.asInstanceOf[Double], idOf(r, idRef), null)
                val heap = heaps(p)
                if (heap.size < k || worstFirst.compare(heap.peek, kept) < 0) {
                  if (keepRows && copy == null) copy = r.copy()
                  heap.add(kept.copy(row = copy))
                  if (heap.size > k) heap.poll()
                }
              }
              p += 1
            }
          }
          Iterator.single(heaps.map(_.toArray(Array.empty[Kept])))
        }.collect()
        scores.indices.map(p => perPartition.flatMap(_(p)).sorted(worstFirst.reverse).take(k).toSeq)
      }
  }

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
}
