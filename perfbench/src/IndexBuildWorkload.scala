package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Batch index build: `rebuild` from scratch, then an `update` in which 5%
  * of objects are edited, 1% deleted and 1% added. The text, embed,
  * pipeline, store-write and ANN-training layers do nearly all the work.
  */
final class IndexBuildWorkload extends Workload {
  val Objects = 400
  val MeanWords = 300

  private var base: IndexedSeq[Gen.SourceObject] = _
  private var edit: Gen.Edit = _
  private var src0, src1 = ""
  private var expected0, expected1: Map[String, Seq[String]] = _

  def generate(seed: Long): String = {
    val topics = new Gen.Topics(seed)
    base = Gen.sourceObjects(topics, seed, Objects, MeanWords)
    edit = Gen.edit(topics, seed, base, MeanWords)
    new Gen.Fingerprint().addObjects(base).addObjects(edit.source).hex
  }

  def setup(ctx: Ctx): Unit = {
    generate(ctx.seed)
    src0 = ctx.newDir("src0"); src1 = ctx.newDir("src1")
    Common.writeSource(ctx.spark, base, src0)
    Common.writeSource(ctx.spark, edit.source, src1)
    expected0 = base.map(o => Common.key(o.id) -> Common.chunkContents(o)).toMap
    expected1 = edit.source.map(o => Common.key(o.id) -> Common.chunkContents(o)).toMap
    ctx.record("sizes") = Map("objects" -> base.size, "chunks" -> expected0.values.map(_.size).sum,
      "update_objects" -> edit.source.size, "edited" -> edit.edited.size,
      "deleted" -> edit.deleted.size, "added" -> edit.added.size,
      "source_text_bytes" -> sourceBytes(edit.source))
  }

  def warmUp(ctx: Ctx): Unit = {
    val dir = ctx.newDir("warm-index")
    val idx = Common.index(ctx.spark, dir)
    idx.rebuild(ctx.spark.read.parquet(src0))
    snapshot(idx.documents)
    idx.update(ctx.spark.read.parquet(src1))
    Common.deleteTree(dir)
  }

  private def sourceBytes(objs: Seq[Gen.SourceObject]): Long =
    objs.map(o => o.title.getBytes("UTF-8").length + o.body.getBytes("UTF-8").length).sum.toLong

  /** (key, doc_id, content, vector) of every stored document. */
  private def snapshot(docs: DataFrame): Seq[(String, Long, String, Seq[Float])] =
    docs.select(col("object_keys").getItem(0), col("doc_id"), col("content"), col("vector"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getSeq[Float](3))).toSeq

  private def matches(ctx: Ctx, snap: Seq[(String, Long, String, Seq[Float])],
                      expected: Map[String, Seq[String]], what: String): Boolean = {
    val byKey = snap.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._3).sorted }
    ctx.check(snap.size == expected.values.map(_.size).sum,
      s"$what: ${snap.size} documents, expected ${expected.values.map(_.size).sum}") &
    ctx.check(snap.map(_._2).distinct.size == snap.size, s"$what: duplicate doc_id") &
    ctx.check(byKey == expected.map { case (k, v) => k -> v.sorted }.filter(_._2.nonEmpty),
      s"$what: stored chunk contents differ from the splitter run outside Spark")
  }

  def run(ctx: Ctx, seconds: Double): Phase = {
    val spark = ctx.spark
    val calls = ArrayBuffer.empty[Double]
    val rebuildMs = ArrayBuffer.empty[Double]
    val updateMs = ArrayBuffer.empty[Double]
    var storeRatio = Double.NaN
    val t0 = System.nanoTime()
    while (calls.isEmpty || (System.nanoTime() - t0) / 1e9 + Stats.median(calls.toSeq) / 1e3 <= seconds) {
      val dir = ctx.newDir("index")
      val acc = Option.when(ctx.traced)((spark.sparkContext.longAccumulator, spark.sparkContext.longAccumulator))
      val be = acc.fold(Common.backend)(a => Common.CountingBackend(Common.backend, a._1, a._2))
      val idx = Common.index(spark, dir, be)
      val (_, rb) = ctx.timed("api.rebuild")(idx.rebuild(spark.read.parquet(src0)))
      var before: Seq[(String, Long, String, Seq[Float])] = Nil
      ctx.operation {
        before = snapshot(idx.documents)
        matches(ctx, before, expected0, "rebuild")
      }
      acc.foreach { case (c, t) => c.reset(); t.reset() }
      val (_, up) = ctx.timed("api.update")(idx.update(spark.read.parquet(src1)))
      acc.foreach { case (c, t) =>
        ctx.layerMetric("embed.batch_calls", c.value.toDouble, "count")
        ctx.layerMetric("embed.reembedded_ratio",
          t.value.toDouble / expected1.values.map(_.size).sum, "ratio")
      }
      ctx.operation {
        val after = snapshot(idx.documents)
        val unchanged = (base.map(_.id).toSet -- edit.edited -- edit.deleted).map(Common.key)
        val keep = (s: Seq[(String, Long, String, Seq[Float])]) =>
          s.filter(x => unchanged(x._1)).map(x => (x._2, x._3, x._4)).toSet
        matches(ctx, after, expected1, "update") &
        ctx.check(keep(after) == keep(before),
          "update: an unchanged object's (doc_id, content, vector) changed") &
        ctx.check(!after.exists(x => edit.deleted.map(Common.key).contains(x._1)),
          "update: a deleted object is still indexed")
      }
      storeRatio = Common.duBytes(dir).toDouble / sourceBytes(edit.source)
      if (ctx.traced) BuildProbes.run(ctx, src0, src1, edit.source.size)
      Common.deleteTree(dir)
      rebuildMs += rb; updateMs += up; calls += rb + up
    }
    ctx.detailMetric("build_objects_per_s", base.size / (Stats.median(rebuildMs.toSeq) / 1e3), "objects/s")
    ctx.detailMetric("update_objects_per_s", edit.source.size / (Stats.median(updateMs.toSeq) / 1e3), "objects/s")
    ctx.detailMetric("store_bytes_per_input_byte", storeRatio, "ratio")
    Phase(calls.toSeq, (base.size + edit.source.size).toDouble * calls.size)
  }
}
