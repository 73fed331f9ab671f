package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.vector._

/** Product quantization (PQ) — the memory side of ANN at 100 TB.
  *
  * Every scale path in [[SimilaritySearch]] still reads full `array<float>`
  * embeddings for candidate SCORING: at 64 dims that is 256 B per row
  * through every scan/shuffle. PQ splits each vector into `m` subvectors,
  * learns a tiny per-subspace codebook (`ksub` codewords), and stores each
  * row as `m` small ints — 8 B per row at m=8 — a 32× reduction in what
  * candidate scoring has to move. A probe is scored against codes with a
  * per-probe LOOKUP TABLE (asymmetric distance, ADC): `m` array reads and
  * integer adds per candidate, no float math in the hot loop. Exact
  * reranking then touches full vectors for the top candidates only — a
  * broadcast-join fetch of O(probes · refine · k) rows, never the corpus.
  * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * IEEE TPAMI 2011 — public method; implementation is original.)
  *
  * The reference has no scale path at all (numpy full scan
  * storage/numpy/provider.py:38-59; pgvector seq-scan, models.py:86-87
  * TODO) — this is a beyond-reference extension like LSH/IVF.
  *
  * Determinism (the oracle contract every gate query obeys):
  *  - codebooks: codewords are the subvectors of the first `ksub` items in
  *    md5-min order (`hexhash60('pq:' || id)`, id tie-break) — an
  *    engine-replayable deterministic sample; optional Lloyd refinement
  *    accumulates per-dimension sums as SCALED LONGS (order-independent);
  *  - encoding: per-subspace argmin of L2² with first-win (= smallest code)
  *    tie-break, double accumulation left-to-right ([[graft.functions.PqEncodeExpr]]);
  *  - ADC: LUT entries are `round(d² · 10⁶)` longs, so candidate distances
  *    are exact integers — no float summation order to disagree on.
  */
object ProductQuantization {

  /** Codebook layout: one row per (sub, code) with the codeword vector. */
  final case class PqConfig(dims: Int, m: Int = 8, ksub: Int = 16) {
    require(dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val dsub: Int = dims / m
  }

  /** Train deterministic codebooks: the codewords of every subspace are the
    * corresponding subvector slices of the `ksub` md5-min sample items
    * (code j = sample rank j). With `lloydIters > 0`, each subspace's
    * codebook is refined by deterministic Lloyd iterations (scaled-long
    * sums, empty codes keep their codeword) — better quantization error,
    * same replayability.
    */
  def pqTrain(items: DataFrame, cfg: PqConfig,
              itemId: String = "vec_id", itemVec: String = "embedding",
              lloydIters: Int = 0): DataFrame = {
    val spark = items.sparkSession
    import spark.implicits._
    // sample rank = code id. The sample is ≤ ksub rows by construction, so
    // ranks are assigned on the DRIVER from the ordered collect (a
    // TakeOrderedAndProject — no window at all; an unpartitioned
    // Window.orderBy here would be a single-task pattern begging to be
    // copy-pasted into unbounded contexts)
    val sample = items
      .withColumn("__h", graft.functions.textfn.hexhash60(concat(lit("pq:"), col(itemId))))
      .orderBy(col("__h").asc, col(itemId).asc)
      .limit(cfg.ksub)
      .select(col(itemVec).as("__v"))
      .collect()
    val seeds = sample.toSeq.zipWithIndex.flatMap { case (r, code) =>
      val v = r.getSeq[Float](0)
      (0 until cfg.m).map(s => (s, code, v.slice(s * cfg.dsub, (s + 1) * cfg.dsub)))
    }.toDF("sub", "code", "cv")
    (1 to lloydIters).foldLeft(seeds)((cb, _) => pqLloydStep(items, cb, cfg, itemVec))
  }

  /** One deterministic Lloyd iteration over every subspace at once: encode
    * against the current codebooks (one kernel projection), explode to
    * (sub, code, pos, x), recompute codeword means with scaled-long sums
    * (map-side combined; ≤ m·ksub·dsub rows leave each task). Mirrors
    * [[SimilaritySearch.lloydStep]].
    */
  private def pqLloydStep(items: DataFrame, codebooks: DataFrame,
                          cfg: PqConfig, itemVec: String): DataFrame = {
    val cbs = collectCodebooks(codebooks, cfg)
    val scale = 1e6
    val means = items
      .select(posexplode(pq_encode(col(itemVec), cbs, cfg.dsub)).as(Seq("sub", "code")),
        col(itemVec).as("__v"))
      .select(col("sub"), col("code"),
        posexplode(slice(col("__v"), col("sub") * cfg.dsub + 1, lit(cfg.dsub))).as(Seq("pos", "x")))
      .groupBy("sub", "code", "pos")
      .agg(sum(round(col("x").cast("double") * scale).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .groupBy("sub", "code")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("s"), col("n")))),
        e => (e.getField("s").cast("double") / scale / e.getField("n")).cast("float")).as("mv"))
    codebooks.join(means, Seq("sub", "code"), "left")
      .select(col("sub"), col("code"), coalesce(col("mv"), col("cv")).as("cv"))
  }

  /** Encode every item: adds a `codes` column (`array<int>`, length m). */
  def pqEncode(items: DataFrame, codebooks: DataFrame, cfg: PqConfig,
               itemVec: String = "embedding"): DataFrame =
    items.withColumn("codes", pq_encode(col(itemVec), collectCodebooks(codebooks, cfg), cfg.dsub))

  /** Write a PQ-encoded index (optionally IVF-cell-partitioned when the
    * input carries a `cell` column) with the codebooks — and, when
    * composed with IVF, the centroid table — riding INSIDE the same
    * version dir (`_codebooks`/`_centroids`): codes and the structures
    * they were computed against flip atomically together.
    */
  def pqIndexWrite(encoded: DataFrame, codebooks: DataFrame, path: String,
                   centroids: Option[DataFrame] = None, keepVersions: Int = 2): Unit =
    new graft.api.VersionedDir(encoded.sparkSession, path, keepVersions).replaceWith { dir =>
      val w =
        if (encoded.columns.contains("cell")) encoded.repartition(col("cell")).write.partitionBy("cell")
        else encoded.write
      w.mode("overwrite").parquet(dir)
      codebooks.coalesce(1).write.mode("overwrite").parquet(s"$dir/_codebooks")
      centroids.foreach(_.coalesce(1).write.mode("overwrite").parquet(s"$dir/_centroids"))
    }

  /** Residual vectors for the FAISS-style IVFPQ construction: each assigned
    * item gains `residual = v − centroid(cell)`. Residuals concentrate near
    * zero (the centroid already explains the coarse position), so a PQ
    * codebook of the same size quantizes them with far lower error than raw
    * vectors — the reason FAISS's IVFPQ encodes residuals, not vectors
    * (Jégou et al. 2011 §IV; public method, original implementation).
    *
    * Centroid table is ≤ nCells rows → BROADCAST join; the subtraction is
    * computed in double and rounded once to float, which is bit-identical
    * to native float32 subtraction (both are correctly-rounded IEEE) — the
    * property the DuckDB oracle's `CAST(… AS FLOAT)` replay relies on.
    */
  def residualize(assigned: DataFrame, centroids: DataFrame,
                  itemVec: String = "embedding"): DataFrame =
    assigned.join(broadcast(centroids.select(col("cid").cast("long").as("cell"), col("cv"))), "cell")
      .withColumn("residual",
        zip_with(col(itemVec), col("cv"),
          (a, b) => (a.cast("double") - b.cast("double")).cast("float")))
      .drop("cv")

  /** IVF×PQ search over a RESIDUAL-encoded index ([[residualize]] +
    * [[pqTrain]]/[[pqEncode]] on the residual column): identical read shape
    * to [[ivfPqTopKPruned]] — static cell partition pruning, codes-only
    * scan, integer ADC, exact rerank — except each (probe, cell) pair gets
    * its OWN lookup table built from the probe's residual `q − centroid`
    * (the residual of the query in that cell's frame). Same plan, better
    * recall per bit.
    */
  def residualIvfPqTopKPruned(spark: SparkSession, indexPath: String, items: DataFrame,
                              probes: Seq[(Long, Seq[Float])], cfg: PqConfig,
                              k: Int = 10, nProbe: Int = 4, refine: Int = 4,
                              itemId: String = "vec_id", itemVec: String = "embedding",
                              delta: Option[org.apache.spark.sql.DataFrame] = None): DataFrame =
    ivfPqTopKResolved(spark, indexPath, items, probes, cfg, k, nProbe, refine, itemId, itemVec, delta,
      residual = true)

  /** Codebooks of the ACTIVE index version. */
  def pqCodebooksRead(spark: SparkSession, path: String): DataFrame =
    graft.api.VersionedDir.readSide(spark, s"${graft.api.VersionedDir.resolve(spark, path)}/_codebooks")

  /** The per-probe ADC lookup table, flattened (`lut[s*ksub + j]`):
    * scaled-long partial L2² between the probe's subvector `s` and codeword
    * `j`. Driver-side — a probe batch is driver-resident by construction.
    */
  def adcLut(qv: Seq[Float], cbs: Array[Array[Array[Float]]], cfg: PqConfig): Array[Long] = {
    val lut = new Array[Long](cfg.m * cfg.ksub)
    var s = 0
    while (s < cfg.m) {
      val off = s * cfg.dsub
      var j = 0
      while (j < cbs(s).length) {
        val c = cbs(s)(j)
        val n = math.min(cfg.dsub, math.max(0, qv.length - off))
        var d2 = 0.0
        var i = 0
        while (i < n) { val d = qv(off + i).toDouble - c(i).toDouble; d2 += d * d; i += 1 }
        lut(s * cfg.ksub + j) = math.round(d2 * 1e6)
        j += 1
      }
      s += 1
    }
    lut
  }

  /** ADC top-k with exact rerank:
    *  1. broadcast the probe batch, each probe carrying its LUT;
    *  2. score every encoded row with [[graft.functions.PqAdcExpr]] — m
    *     integer adds per (row, probe), codes-only input (the 32×-smaller
    *     scan; full vectors are NOT read here);
    *  3. bounded per-probe top-(k·refine) candidates via the TopK
    *     aggregator (shuffle carries ≤ k·refine rows per probe);
    *  4. exact cosine rerank: join the candidate ids (broadcast — tiny)
    *     back to the full-vector table and keep top-k per probe.
    *
    * `encoded` needs (itemId, codes); `items` needs (itemId, itemVec).
    */
  def adcTopK(encoded: DataFrame, items: DataFrame, codebooks: DataFrame,
              probes: Seq[(Long, Seq[Float])], cfg: PqConfig,
              k: Int = 10, refine: Int = 4,
              itemId: String = "vec_id", itemVec: String = "embedding"): DataFrame = {
    val cbs = collectCodebooks(codebooks, cfg)
    codesTopK(encoded.select(col(itemId), col("codes")), "codes", None,
      probes.map { case (qid, qv) => Row(qid, qv, adcLut(qv, cbs, cfg).toSeq) }, LutType,
      pq_adc(_, _, cfg.ksub), items, k, refine, itemId, itemVec)
  }

  /** Spark type of an ADC lookup table ([[adcLut]], [[ScalarQuantization.sqLut]]). */
  private[graft] val LutType = ArrayType(LongType, containsNull = false)

  /** Quantized scoring with exact rerank — the shared body of every PQ, SQ
    * and BQ route. Each probe row is (qid, qv[, key], code): the probe's
    * code built on the driver (an ADC lookup table or packed query bits),
    * plus, with `key` set, the partition key it probes — one row per
    * (probe, cell), joined to the `codes` rows of its cell (the `__cell`
    * of [[SimilaritySearch.prunedRead]]); without a key every probe scores
    * every row. `score(codes, code)` is an exact long distance, negated
    * because the TopK aggregator keeps the LARGEST scores (≪ 2^53, so the
    * double is still exact).
    */
  private[ops] def codesTopK(codes: DataFrame, codeCol: String, key: Option[String],
                             probeRows: Seq[Row], codeType: DataType,
                             score: (Column, Column) => Column, items: DataFrame,
                             k: Int, refine: Int, itemId: String, itemVec: String): DataFrame = {
    val schema = StructType(Seq(StructField("qid", LongType), StructField("qv", ArrayType(FloatType))) ++
      key.map(StructField(_, LongType)) :+ StructField("code", codeType))
    val probeDf = codes.sparkSession.createDataFrame(probeRows.asJava, schema)
    val probeSide = broadcast(probeDf.drop("qv"))
    val scored = key.fold(codes.crossJoin(probeSide))(kc => codes.join(probeSide, Seq(kc)))
      .select(col("qid"), col(itemId), (-score(col(codeCol), col("code"))).cast("double").as("score"))
    rerankExact(scored, items, probeDf, k, refine, itemId, itemVec)
  }

  /** [[codesTopK]] over a cell-partitioned codes relation `raw` (one
    * version directory's read): each probe's `nProbe` nearest cells are
    * picked on the driver against the version's centroids, and the codes
    * are read through [[SimilaritySearch.prunedRead]] — static cell prune
    * plus the new-wins `delta` overlay. `probeCode(qv, j)` builds a probe's
    * code for the cell with centroid index j.
    */
  private[ops] def ivfCodesTopK(raw: DataFrame, centroids: (Array[Array[Float]], Array[Long]),
                                probes: Seq[(Long, Seq[Float])], nProbe: Int, codeCol: String,
                                probeCode: (Seq[Float], Int) => Any, codeType: DataType,
                                score: (Column, Column) => Column, items: DataFrame,
                                k: Int, refine: Int, itemId: String, itemVec: String,
                                delta: Option[DataFrame]): DataFrame = {
    val probeRows = SimilaritySearch.probeCells(probes, centroids, nProbe).map { case (qid, qv, c) =>
      Row(qid, qv, c, probeCode(qv, centroids._2.indexOf(c)))
    }
    val codes = SimilaritySearch.prunedRead(raw, Some(("cell", probeRows.map(_.getLong(2)))),
      Seq(itemId, codeCol), delta, None)
    codesTopK(codes, codeCol, Some("__cell"), probeRows, codeType, score, items, k, refine,
      itemId, itemVec)
  }

  /** Shared exact-rerank tail: bounded candidate selection on the ADC
    * score, then cosine over the full vectors of the ≤ probes·k·refine
    * candidate ids only (both candidate sides broadcast — tiny).
    */
  private def rerankExact(scored: DataFrame, items: DataFrame, probeDf: DataFrame,
                          k: Int, refine: Int, itemId: String, itemVec: String): DataFrame = {
    val cand = SimilaritySearch.topKByProbe(scored, k * refine, "qid", itemId)
      .select(col("qid"), col(itemId))
    // probeDf may carry one row per (probe, cell) — dedupe to one qv per qid
    val rer = items.join(broadcast(cand), Seq(itemId))
      .join(broadcast(probeDf.select(col("qid"), col("qv")).dropDuplicates("qid")), Seq("qid"))
      .select(col("qid"), col(itemId),
        round(vec_cosine(col(itemVec), col("qv")), 6).as("score"))
    val w = Window.partitionBy("qid").orderBy(desc("score"), col(itemId).asc)
    rer.withColumn("rank", row_number().over(w)) // ≤ probes·k·refine rows
      .filter(col("rank") <= k)
      .select(col("qid"), col(itemId), col("rank"), col("score"))
  }

  /** IVF × PQ — the full 100 TB read path: probe cells are picked
    * driver-side against the version's own centroids (static partition
    * pruning on the cell-partitioned CODES index — only candidate cell
    * directories are listed/read, and they carry 8-byte codes, not
    * 256-byte vectors), candidates are ADC-scored via the probe's LUT on
    * an equi-join of probe↔cell, and the top k·refine ids rerank exactly
    * against the full-vector table. The index must have been written by
    * [[pqIndexWrite]] with a `cell` column and centroids.
    */
  def ivfPqTopKPruned(spark: SparkSession, indexPath: String, items: DataFrame,
                      probes: Seq[(Long, Seq[Float])], cfg: PqConfig,
                      k: Int = 10, nProbe: Int = 4, refine: Int = 4,
                      itemId: String = "vec_id", itemVec: String = "embedding",
                      delta: Option[org.apache.spark.sql.DataFrame] = None): DataFrame =
    ivfPqTopKResolved(spark, indexPath, items, probes, cfg, k, nProbe, refine, itemId, itemVec, delta,
      residual = false)

  /** [[ivfPqTopKPruned]] (`residual` false) and [[residualIvfPqTopKPruned]]
    * (`residual` true) over the version of `indexPath` active now: its
    * cell-partitioned codes relation pinned to the concrete version dir,
    * and the centroids and codebooks riding in that dir, collected. The two
    * differ only in the frame the LUT is built in — the probe `q`, or per
    * probed cell its residual `q − centroid`. Delta codes rows were encoded
    * against THIS version's codebooks, in the same frame.
    */
  private def ivfPqTopKResolved(spark: SparkSession, indexPath: String, items: DataFrame,
      probes: Seq[(Long, Seq[Float])], cfg: PqConfig, k: Int, nProbe: Int, refine: Int,
      itemId: String, itemVec: String, delta: Option[DataFrame], residual: Boolean): DataFrame = {
    val resolved = graft.api.VersionedDir.resolve(spark, indexPath)
    val (cvs, cids) = SimilaritySearch.collectCentroids(graft.api.VersionedDir.readSide(spark, s"$resolved/_centroids"))
    val cbs = collectCodebooks(graft.api.VersionedDir.readSide(spark, s"$resolved/_codebooks"), cfg)
    ivfCodesTopK(spark.read.parquet(resolved), (cvs, cids), probes, nProbe, "codes",
      (qv, j) => adcLut(if (residual) residualOf(qv, cvs(j)) else qv, cbs, cfg).toSeq, LutType,
      pq_adc(_, _, cfg.ksub), items, k, refine, itemId, itemVec, delta)
  }

  /** A probe's residual `qv − centroid` in a cell's frame, each component
    * computed in double and rounded once to float, as [[residualize]] does.
    */
  private[graft] def residualOf(qv: Seq[Float], centroid: Array[Float]): Seq[Float] =
    Seq.tabulate(qv.length)(i => (qv(i).toDouble - centroid(i).toDouble).toFloat)

  /** (sub, code, cv) rows → `cbs(sub)(code)` float arrays (tiny by design:
    * ≤ m·ksub rows). A corpus with fewer than `ksub` training rows yields
    * only codes 0..n-1 (contiguous by construction — sample rank IS the
    * code), so each subspace is trimmed to its filled prefix: encode and
    * ADC loops are bounded by the codewords that exist, never indexing an
    * empty placeholder. (An empty corpus trims to zero codewords, which
    * [[graft.functions.PqEncodeExpr]] rejects with a clear message.)
    */
  def collectCodebooks(codebooks: DataFrame, cfg: PqConfig): Array[Array[Array[Float]]] =
    codebooksFrom(codebookRows(codebooks), cfg)

  /** The (sub, code, cv) rows of a codebook table, collected (one job). */
  private[graft] def codebookRows(codebooks: DataFrame): Array[Row] =
    codebooks.select(col("sub").cast("int"), col("code").cast("int"), col("cv")).collect()

  /** [[collectCodebooks]] over rows already collected by [[codebookRows]]. */
  private[graft] def codebooksFrom(rows: Array[Row], cfg: PqConfig): Array[Array[Array[Float]]] = {
    val out = Array.fill(cfg.m, cfg.ksub)(Array.empty[Float])
    rows.foreach(r => out(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).toArray)
    out.map { cb =>
      val filled = cb.indexWhere(_.isEmpty) match { case -1 => cb.length; case i => i }
      cb.take(filled)
    }
  }
}
