package perfbench

import org.apache.spark.sql.functions.{col, concat_ws, lit}

import graft.api.{ParquetIndexStore, SearchMode}
import graft.embed.EmbedStage
import graft.pipeline.IndexBuild

/** Layer probes of the index build, run in traced runs of the vector
  * workloads: `text`, `embed`, `pipeline`, the store write and ANN training
  * each timed as a request of its own.
  */
object BuildProbes {
  /** Time each build layer on its own, its inputs forced first: the
    * source at `src1` is chunked, embedded, diffed against an index built
    * from `src0`, written, and ANN-trained one mode at a time.
    */
  def run(ctx: Ctx, src0: String, src1: String, objects: Int): Unit = {
    val spark = ctx.spark
    val indexDir = ctx.newDir("probe")
    val source = spark.read.parquet(src1)
      .withColumn("key", concat_ws(":", lit(Common.Table), col("id")))
    val chunks = IndexBuild.chunk(IndexBuild.extractFields(source, Common.config), Common.config)
      .select(col("key"), col("chunk_index"), col("content")).persist()
    val splitS = ctx.probe("text.split")(Common.force(chunks))
    val nChunks = chunks.count()
    ctx.layerMetric("text.split_s", splitS, "s")
    ctx.layerMetric("text.chunks_per_object", nChunks.toDouble / objects, "count")

    val embedded = EmbedStage.embed(chunks, "content", Common.backend, 100)
    val embedS = ctx.probe("embed.embed")(Common.force(embedded))
    ctx.layerMetric("embed.embed_s", embedS, "s")
    ctx.layerMetric("embed.texts_per_s", nChunks / embedS, "texts/s")

    // the diff against the index built from the original source
    val stored = new ParquetIndexStore(spark, s"$indexDir-diffbase")
    stored.replace(IndexBuild.buildDocuments(spark.read.parquet(src0), Common.config,
      Common.backend, Common.Table, "id"))
    val storedDocs = stored.read().persist()
    Common.force(storedDocs)
    val (changed, unchanged) = IndexBuild.diffAgainstIndex(chunks, Some(storedDocs))
    ctx.layerMetric("pipeline.diff_s",
      ctx.probe("pipeline.diff") { Common.force(changed); Common.force(unchanged) }, "s")
    ctx.layerMetric("pipeline.changed_object_ratio",
      changed.select("key").distinct().count().toDouble / objects, "ratio")

    val docs = IndexBuild.buildDocuments(spark.read.parquet(src1), Common.config,
      Common.backend, Common.Table, "id").persist()
    Common.force(docs)
    val writeDir = s"$indexDir-write"
    ctx.layerMetric("api.store_write_s",
      ctx.probe("api.store_write")(new ParquetIndexStore(spark, writeDir).replace(docs)), "s")

    Seq("ivf" -> SearchMode.Ivf(), "hnsw" -> SearchMode.Hnsw()).foreach { case (n, m) =>
      val one = Common.index(spark, writeDir, ann = Seq(m))
      ctx.layerMetric(s"api.ann_train_s.$n", ctx.probe(s"api.ann_train.$n")(one.refreshAnn()), "s")
    }
    Seq(chunks, storedDocs, docs).foreach(_.unpersist(false))
    Seq(s"$indexDir-diffbase", writeDir).foreach(Common.deleteTree)
  }
}
