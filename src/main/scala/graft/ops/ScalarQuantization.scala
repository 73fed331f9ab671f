package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

import graft.functions.vector._

/** Scalar quantization (SQ8) — the lightweight sibling of
  * [[ProductQuantization]], and the second of qdrant's two quantization
  * modes (its "scalar quantization": int8 per dimension, asymmetric
  * scoring against the original query, optional exact rescore — the same
  * recipe as here). Each dimension is affinely mapped onto one byte using
  * per-dimension corpus min/max, so a 64-dim float32 vector becomes 64
  * bytes: a 4× reduction in scan/shuffle volume with near-lossless
  * ranking, no codebook training, and O(1) encode per element (PQ trades
  * more compression, 32×, for codebook training and m-argmin encodes).
  *
  * Scale shape: training is ONE map-side-combined aggregation over
  * (dim → min/max), d rows total, collected to the driver (d is tiny —
  * embedding width, not corpus size). Encoding is a per-row kernel
  * projection, zero exchanges. Scoring reads the 1-byte/dim codes only
  * ([[graft.functions.SqAdcExpr]] — integer math inside whole-stage
  * codegen), keeps a bounded per-probe candidate page, and reranks
  * exactly over the full vectors of the candidates alone.
  *
  * Determinism (the oracle contract): min/max are exact float extremes
  * (no summation order); encode rounds a non-negative double, so JVM
  * `Math.round` and SQL `round` agree; ADC distances are scaled-long
  * integer sums — order-independent, engine-exact.
  */
object ScalarQuantization {

  /** Per-dimension quantization params: one row per `pos` (0-based) with
    * the corpus `mn`/`mx` float extremes of that dimension.
    */
  def sqTrain(items: DataFrame, itemVec: String = "embedding"): DataFrame =
    items.select(posexplode(col(itemVec)).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))

  /** Collect the params table to (mins, maxs) arrays indexed by pos. */
  def collectParams(params: DataFrame): (Array[Float], Array[Float]) = {
    val rows = params.select(col("pos"), col("mn"), col("mx"))
      .collect().sortBy(_.getInt(0))
    (rows.map(_.getFloat(1)), rows.map(_.getFloat(2)))
  }

  /** Encode every item: adds an `sq` column (`binary`, 1 byte per dim). */
  def sqEncode(items: DataFrame, mins: Array[Float], maxs: Array[Float],
               itemVec: String = "embedding"): DataFrame =
    items.withColumn("sq", sq_encode(col(itemVec), mins, maxs))

  /** The per-probe flattened ADC lookup table (3 longs per dimension):
    * `lut[3i] = round((q_i−mn_i)²·10⁶)`,
    * `lut[3i+1] = round(2(q_i−mn_i)·(Δ_i/255)·10⁶)`,
    * `lut[3i+2] = round((Δ_i/255)²·10⁶)` — the expansion of
    * `(q_i − x̂_i)²` with `x̂_i = mn_i + c_i·Δ_i/255`, so
    * `Σ_i lut[3i] − lut[3i+1]·c_i + lut[3i+2]·c_i²` is the scaled L2²
    * against the dequantized row, in exact integers. Driver-side — a
    * probe batch is driver-resident by construction.
    */
  def sqLut(qv: Seq[Float], mins: Array[Float], maxs: Array[Float]): Array[Long] = {
    val d = math.min(qv.length, mins.length)
    val lut = new Array[Long](3 * d)
    var i = 0
    while (i < d) {
      val q = qv(i).toDouble
      val mn = mins(i).toDouble
      val mx = maxs(i).toDouble
      val step = (mx - mn) / 255.0
      lut(3 * i) = Math.round((q - mn) * (q - mn) * 1e6)
      lut(3 * i + 1) = Math.round(2.0 * (q - mn) * step * 1e6)
      lut(3 * i + 2) = Math.round(step * step * 1e6)
      i += 1
    }
    lut
  }

  /** SQ top-k with exact rerank — same staging as
    * [[ProductQuantization.adcTopK]]: broadcast probes carrying their LUTs,
    * score the codes-only scan with [[graft.functions.SqAdcExpr]] (integer
    * kernel, 1 byte/dim read), bounded per-probe top-(k·refine)
    * candidates, exact cosine rerank over the candidates' full vectors.
    *
    * `encoded` needs (itemId, sq); `items` needs (itemId, itemVec).
    */
  def sqTopK(encoded: DataFrame, items: DataFrame,
             mins: Array[Float], maxs: Array[Float],
             probes: Seq[(Long, Seq[Float])],
             k: Int = 10, refine: Int = 4,
             itemId: String = "vec_id", itemVec: String = "embedding"): DataFrame =
    ProductQuantization.codesTopK(encoded.select(col(itemId), col("sq")), "sq", None,
      probes.map { case (qid, qv) => Row(qid, qv, sqLut(qv, mins, maxs).toSeq) },
      ProductQuantization.LutType, sq_adc, items, k, refine, itemId, itemVec)

  /** Write an SQ-encoded index with its params riding INSIDE the version
    * dir (`_sqparams`) — codes and the extremes they were computed against
    * flip atomically together, like [[ProductQuantization.pqIndexWrite]].
    * When the input carries a `cell` column (IVF composition) the codes are
    * partitioned by cell, and the centroids ride in-dir too.
    */
  def sqIndexWrite(encoded: DataFrame, params: DataFrame, path: String,
                   centroids: Option[DataFrame] = None, keepVersions: Int = 2): Unit =
    new graft.api.VersionedDir(encoded.sparkSession, path, keepVersions).replaceWith { dir =>
      val w =
        if (encoded.columns.contains("cell")) encoded.repartition(col("cell")).write.partitionBy("cell")
        else encoded.write
      w.mode("overwrite").parquet(dir)
      params.coalesce(1).write.mode("overwrite").parquet(s"$dir/_sqparams")
      centroids.foreach(_.coalesce(1).write.mode("overwrite").parquet(s"$dir/_centroids"))
    }

  /** IVF × SQ — cell pruning over the 1-byte/dim codes index: probe cells
    * are picked driver-side against the version's own centroids (static
    * partition pruning — only candidate cell directories are read, carrying
    * d bytes/row instead of 4d), candidates are scored by the probe's SQ
    * LUT on a probe↔cell equi-join, and the top k·refine ids rerank
    * exactly. The index must have been written by [[sqIndexWrite]] with a
    * `cell` column and centroids — the SQ sibling of
    * [[ProductQuantization.ivfPqTopKPruned]].
    */
  def ivfSqTopKPruned(spark: SparkSession, indexPath: String, items: DataFrame,
                      probes: Seq[(Long, Seq[Float])],
                      k: Int = 10, nProbe: Int = 4, refine: Int = 4,
                      itemId: String = "vec_id", itemVec: String = "embedding"): DataFrame = {
    val resolved = graft.api.VersionedDir.resolve(spark, indexPath)
    val (mins, maxs) = collectParams(graft.api.VersionedDir.readSide(spark, s"$resolved/_sqparams"))
    ProductQuantization.ivfCodesTopK(spark.read.parquet(resolved),
      SimilaritySearch.collectCentroids(graft.api.VersionedDir.readSide(spark, s"$resolved/_centroids")),
      probes, nProbe, "sq", (qv, _) => sqLut(qv, mins, maxs).toSeq, ProductQuantization.LutType,
      sq_adc, items, k, refine, itemId, itemVec, delta = None)
  }

  /** Params of the ACTIVE index version. */
  def sqParamsRead(spark: SparkSession, path: String): DataFrame =
    graft.api.VersionedDir.readSide(spark, s"${graft.api.VersionedDir.resolve(spark, path)}/_sqparams")
}

/** Binary quantization (BQ) — the most aggressive quantization tier
  * (qdrant's "binary quantization"): ONE bit per dimension, thresholded at
  * the per-dimension corpus mean, so a 64-dim float32 vector becomes 8
  * bytes (32×). Candidates are ranked by Hamming distance — popcount of a
  * bytewise XOR, the cheapest possible scorer — and survivors are reranked
  * exactly, the same overfetch-then-rescore recipe qdrant documents for
  * its binary mode.
  *
  * Determinism: thresholds are means from SCALED-LONG sums (round(x·10⁶)
  * longs — order-independent), divided out in a pinned double op order, so
  * the `x > thr` bit replays exactly in SQL; Hamming distances are small
  * exact integers.
  */
object BinaryQuantization {

  /** Per-dimension mean thresholds: one row per `pos` (0-based) with the
    * scaled-long sum `s`, count `n`, and the threshold `thr` =
    * `(s / 10⁶) / n` in double — the exact expression the oracle replays.
    */
  def bqTrain(items: DataFrame, itemVec: String = "embedding"): DataFrame =
    items.select(posexplode(col(itemVec)).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(sum(round(col("x").cast("double") * 1e6).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .select(col("pos"), (col("s").cast("double") / 1e6 / col("n")).as("thr"))

  /** Collect thresholds to an array indexed by pos. */
  def collectThresholds(params: DataFrame): Array[Double] =
    params.select(col("pos"), col("thr")).collect()
      .sortBy(_.getInt(0)).map(_.getDouble(1))

  /** Encode every item: adds a `bq` column (`binary`, 1 bit per dim). */
  def bqEncode(items: DataFrame, thresholds: Array[Double],
               itemVec: String = "embedding"): DataFrame =
    items.withColumn("bq", bq_encode(col(itemVec), thresholds))

  /** Driver-side twin of [[graft.functions.BqEncodeExpr]] (same packing,
    * same comparison) for probe vectors already on the driver.
    */
  def bqEncodeLocal(qv: Seq[Float], thresholds: Array[Double]): Array[Byte] = {
    val d = math.min(qv.length, thresholds.length)
    val out = new Array[Byte]((d + 7) / 8)
    var i = 0
    while (i < d) {
      if (qv(i).toDouble > thresholds(i))
        out(i / 8) = (out(i / 8) | (1 << (i % 8))).toByte
      i += 1
    }
    out
  }

  /** BQ top-k with exact rerank: broadcast probes carrying their packed
    * query bits, Hamming-score the 1-bit/dim codes
    * ([[graft.functions.BqHammingExpr]] — popcount-XOR in codegen),
    * bounded per-probe top-(k·refine) candidates (ties → smaller id via
    * the shared TopK aggregator), exact cosine rerank.
    */
  def bqTopK(encoded: DataFrame, items: DataFrame, thresholds: Array[Double],
             probes: Seq[(Long, Seq[Float])],
             k: Int = 10, refine: Int = 4,
             itemId: String = "vec_id", itemVec: String = "embedding"): DataFrame =
    ProductQuantization.codesTopK(encoded.select(col(itemId), col("bq")), "bq", None,
      probes.map { case (qid, qv) => Row(qid, qv, bqEncodeLocal(qv, thresholds)) }, BinaryType,
      bq_hamming, items, k, refine, itemId, itemVec)

  /** Write a BQ-encoded index with its thresholds riding INSIDE the
    * version dir (`_bqparams`) — codes and params flip atomically, like
    * [[ScalarQuantization.sqIndexWrite]]. Cell-partitions when the input
    * carries a `cell` column (IVF composition), centroids riding in-dir.
    */
  def bqIndexWrite(encoded: DataFrame, params: DataFrame, path: String,
                   centroids: Option[DataFrame] = None, keepVersions: Int = 2): Unit =
    new graft.api.VersionedDir(encoded.sparkSession, path, keepVersions).replaceWith { dir =>
      val w =
        if (encoded.columns.contains("cell")) encoded.repartition(col("cell")).write.partitionBy("cell")
        else encoded.write
      w.mode("overwrite").parquet(dir)
      params.coalesce(1).write.mode("overwrite").parquet(s"$dir/_bqparams")
      centroids.foreach(_.coalesce(1).write.mode("overwrite").parquet(s"$dir/_centroids"))
    }

  /** IVF × BQ — cell pruning over the 1-BIT/dim codes index (d/8 bytes per
    * row; at d=64 an 8-byte row, the smallest candidate representation in
    * the engine), Hamming-scored on the probe↔cell equi-join, exact cosine
    * rerank — completing the IVF × {PQ, SQ, BQ} composition matrix.
    */
  def ivfBqTopKPruned(spark: SparkSession, indexPath: String, items: DataFrame,
                      probes: Seq[(Long, Seq[Float])],
                      k: Int = 10, nProbe: Int = 4, refine: Int = 4,
                      itemId: String = "vec_id", itemVec: String = "embedding"): DataFrame = {
    val resolved = graft.api.VersionedDir.resolve(spark, indexPath)
    val thr = collectThresholds(graft.api.VersionedDir.readSide(spark, s"$resolved/_bqparams"))
    ProductQuantization.ivfCodesTopK(spark.read.parquet(resolved),
      SimilaritySearch.collectCentroids(graft.api.VersionedDir.readSide(spark, s"$resolved/_centroids")),
      probes, nProbe, "bq", (qv, _) => bqEncodeLocal(qv, thr), BinaryType,
      bq_hamming, items, k, refine, itemId, itemVec, delta = None)
  }
}
