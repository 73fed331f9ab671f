package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, size, sum, typedLit}
import org.apache.spark.sql.types.{ArrayType, FloatType, StringType, StructField, StructType}

import graft.functions.textkernel.{minhash_sig, multi_marker_hits, word_tokens}
import graft.functions.vector.{nearest_centroid, vec_cosine}

/** Kernel microbenchmarks (traced runs only): each compiled expression runs
  * as one projection over cached generated input and a sum, so its rate is
  * measured apart from any workload's planning overhead.
  */
object Kernels {
  val VectorRows = 40000
  val TextRows = 4000
  val Reps = 3

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = Gen.rng(ctx.seed, 60)
    val topics = new Gen.Topics(ctx.seed + 6)
    val vecs = spark.createDataFrame(spark.sparkContext.parallelize(
      (0 until VectorRows).map(_ => Row(Array.fill(Common.Dims)(r.nextFloat() - 0.5f).toSeq)), 4),
      StructType(Seq(StructField("v", ArrayType(FloatType, containsNull = false))))).persist()
    val paragraphs = (0 until TextRows).map(i => topics.paragraph(r, i % topics.n, 150))
    def textFrame(ps: Seq[String]) = spark.createDataFrame(spark.sparkContext.parallelize(
      ps.map(Row(_)), 4), StructType(Seq(StructField("t", StringType)))).persist()
    def mb(ps: Seq[String]) = ps.map(_.getBytes("UTF-8").length.toLong).sum / 1e6
    val texts = textFrame(paragraphs)
    // minhash is two orders slower than the other text kernels: a tenth
    val slice = textFrame(paragraphs.take(TextRows / 10))
    Seq(vecs, texts, slice).foreach(_.count())
    val q = Array.fill(Common.Dims)(r.nextFloat() - 0.5f).toSeq
    val centroids = Array.fill(16, Common.Dims)(r.nextFloat() - 0.5f)
    val cids = Array.tabulate(16)(_.toLong)

    def rate(name: String, df: DataFrame, kernel: Column, work: Double): Unit = {
      val times = (0 until Reps + 1).map { i =>
        val t0 = System.nanoTime()
        ctx.tracer.request(s"functions.$name")(df.select(kernel.as("k")).agg(sum(col("k"))).collect())
        (System.nanoTime() - t0) / 1e9
      }.drop(1) // the first rep compiles the plan
      ctx.layerMetric(s"functions.$name", work / Stats.median(times), if (name.endsWith("mb_per_s")) "MB/s" else "rows/s")
    }
    rate("vec_cosine_rows_per_s", vecs, vec_cosine(col("v"), typedLit(q)), VectorRows)
    rate("nearest_centroid_rows_per_s", vecs, nearest_centroid(col("v"), centroids, cids), VectorRows)
    rate("minhash_sig_mb_per_s", slice, size(minhash_sig(col("t"), 64, 5)), mb(paragraphs.take(TextRows / 10)))
    rate("tokens_mb_per_s", texts, size(word_tokens(col("t"))), mb(paragraphs))
    rate("multi_marker_hits_mb_per_s", texts,
      size(multi_marker_hits(col("t"), Seq(Gen.EnglishStop.toSeq, Gen.GermanStop.toSeq))), mb(paragraphs))
    Seq(vecs, texts, slice).foreach(_.unpersist(false))
  }
}
