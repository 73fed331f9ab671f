package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row

import graft.api.{SearchMode, VectorIndex, VersionedDir}
import graft.core.DocumentSchema

/** Closed-loop writes beside reads, one client: each step is an `upsert` of
  * new chunk rows or a `delete` of live ids, followed by an IVF and an HNSW
  * search. The ANN side indexes take deltas and fold (retrain) every 10
  * mutations, so a run covers at least two fold cycles. Every search
  * follows a mutation, so caching across searches has nothing to win here.
  */
final class UpsertMixedWorkload extends Workload {
  val Objects = 150
  val MeanWords = 300
  val UpsertRows = 200
  val DeleteIds = 50
  /** The fold cadence of VectorIndex's ANN maintenance. */
  val FoldEvery = 10
  val MinMutations = 2 * FoldEvery

  private var idx: VectorIndex = _
  private var topics: Gen.Topics = _
  private var objects: IndexedSeq[Gen.SourceObject] = _
  private var live: mutable.LinkedHashSet[Long] = _
  private val deleted = mutable.Set.empty[Long]
  private var step = 0
  private var queries: IndexedSeq[String] = _

  def generate(seed: Long): String = {
    topics = new Gen.Topics(seed + 3)
    objects = Gen.sourceObjects(topics, seed + 3, Objects, MeanWords)
    queries = (0 until 256).map(i => Gen.query(topics, seed + 3, i))
    new Gen.Fingerprint().addObjects(objects).add(queries.mkString("\n"))
      .add(newRows(seed, 0, 8).map(_.toString).mkString).hex
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    generate(ctx.seed)
    val src = ctx.newDir("src")
    Common.writeSource(spark, objects, src)
    idx = Common.index(spark, ctx.newDir("index"))
    idx.rebuild(spark.read.parquet(src))
    live = mutable.LinkedHashSet(idx.documents.select("doc_id").collect().map(_.getLong(0)).sorted.toIndexedSeq: _*)
    deleted.clear()
    step = 0
    ctx.record("sizes") = Map("objects" -> objects.size, "chunks" -> live.size,
      "upsert_rows" -> UpsertRows, "delete_ids" -> DeleteIds, "fold_every" -> FoldEvery)
  }

  /** One upsert, one delete and both searches. */
  def warmUp(ctx: Ctx): Unit = {
    mutate(ctx, upsert = true)
    mutate(ctx, upsert = false)
    idx.search(queries(0), Common.K, mode = SearchMode.Ivf()).collect()
    idx.search(queries(0), Common.K, mode = SearchMode.Hnsw()).collect()
  }

  /** Generated Document rows of upsert step `s`: new ids, vectors embedded
    * from generated text.
    */
  private def newRows(seed: Long, s: Int, n: Int): Seq[Row] = {
    val r = Gen.rng(seed, 40, s)
    val texts = (0 until n).map(_ => topics.paragraph(r, r.nextInt(topics.n), 40 + r.nextInt(40)))
    val vecs = Common.backend.embedBatch(texts)
    texts.indices.map { j =>
      val id = (1L << 40) + s.toLong * 100000L + j
      Row(id, Seq(s"new:$id"), vecs(j).toSeq, texts(j), Map("step" -> s.toString))
    }
  }

  /** The next mutation, its arguments drawn from the seed and the live
    * set; returns the upserted rows (none for a delete).
    */
  private def mutate(ctx: Ctx, upsert: Boolean): Seq[Row] = {
    val s = step
    step += 1
    if (upsert) {
      val rows = newRows(ctx.seed, s, UpsertRows)
      idx.upsert(ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, 1),
        DocumentSchema.schema))
      rows.foreach(r => live += r.getLong(0))
      rows
    } else {
      val r = Gen.rng(ctx.seed, 41, s)
      val ids = Gen.shuffle(r, live.toArray).take(DeleteIds).toSeq
      idx.delete(ids)
      live --= ids; deleted ++= ids
      Nil
    }
  }

  def run(ctx: Ctx, seconds: Double): Phase = {
    val spark = ctx.spark
    val calls = ArrayBuffer.empty[Double]
    val mutationMs = ArrayBuffer.empty[Double]
    val ivfMs = ArrayBuffer.empty[Double]
    val hnswMs = ArrayBuffer.empty[Double]
    val pending = ArrayBuffer.empty[Double]
    var folds = 0
    var lastPending = -1
    var inserted = 0L
    var attemptedRows = 0L
    val r = Gen.rng(ctx.seed, 42, step)
    var mutations = 0
    val minMutations = if (seconds >= ctx.seconds) MinMutations else FoldEvery
    val t0 = System.nanoTime()
    while (mutations < minMutations || (System.nanoTime() - t0) / 1e9 < seconds) {
      // upserts and deletes alternate in seeded order, one of each per pair
      val upsertFirst = r.nextBoolean()
      Seq(upsertFirst, !upsertFirst).foreach { upsert =>
        val before = if (ctx.traced) idx.documents.count() else 0L
        val (rows, ms) = ctx.timed(if (upsert) "api.upsert" else "api.delete")(mutate(ctx, upsert))
        mutations += 1
        calls += ms; mutationMs += ms
        if (ctx.traced && upsert) {
          inserted += idx.documents.count() - before
          attemptedRows += rows.size
        }
        ctx.operation {
          if (!upsert) true
          else {
            // read-your-writes: an exact search for an upserted row's own
            // vector finds it (two seeded rows per upsert)
            Seq(rows.head, rows(r.nextInt(rows.size))).forall { row =>
              val hits = idx.searchVector(row.getSeq[Float](2), Common.K)
                .select("doc_id").collect().map(_.getLong(0))
              ctx.check(hits.contains(row.getLong(0)),
                s"upserted doc ${row.getLong(0)} not found by an exact search for its own vector")
            }
          }
        }
        Seq("ivf" -> SearchMode.Ivf(), "hnsw" -> SearchMode.Hnsw()).foreach { case (n, m) =>
          val q = queries(r.nextInt(queries.size))
          if (ctx.traced) {
            val p = new VersionedDir(spark, if (n == "ivf") idx.annIvfPath else idx.annHnswPath)
              .listDeltas.size
            pending += p
            if (n == "ivf") { if (lastPending > 0 && p < lastPending) folds += 1; lastPending = p }
          }
          val (got, sms) = ctx.timed(s"request.search_$n") {
            if (!ctx.traced) idx.search(q, Common.K, mode = m).select("doc_id").collect()
            else {
              val df = ctx.tracer.span("api.build")(idx.search(q, Common.K, mode = m))
              ctx.tracer.span("query.plan")(df.queryExecution.executedPlan)
              ctx.tracer.span("query.exec")(df.select("doc_id").collect())
            }
          }
          calls += sms
          (if (n == "ivf") ivfMs else hnswMs) += sms
          ctx.operation {
            val ids = got.map(_.getLong(0))
            ctx.check(!ids.exists(deleted.contains), s"$n search returned a deleted id")
          }
        }
      }
    }
    ctx.detailMetric("upsert_p50_ms", Stats.median(mutationMs.toSeq), "ms")
    ctx.detailMetric("search_ivf_p50_ms", Stats.median(ivfMs.toSeq), "ms")
    ctx.detailMetric("search_hnsw_p50_ms", Stats.median(hnswMs.toSeq), "ms")
    Stats.tail(calls.toSeq, 0.9).foreach(ctx.detailMetric("request_p90_ms", _, "ms"))
    ctx.detailMetric("mixed_ops_per_s", calls.size / (calls.sum / 1e3), "ops/s")
    if (ctx.traced) {
      ctx.layerMetric("api.pending_deltas", Stats.mean(pending.toSeq), "count")
      ctx.layerMetric("api.folds", folds, "count")
      ctx.layerMetric("api.upsert_inserted_ratio", inserted.toDouble / math.max(attemptedRows, 1L), "ratio")
    }
    ctx.record("mutations") = mutations
    Phase(calls.toSeq, calls.size.toDouble)
  }

  override def finish(ctx: Ctx): Unit = ctx.operation {
    val n = idx.documents.count()
    ctx.check(n == live.size, s"final document count $n, expected ${live.size}")
  }
}
