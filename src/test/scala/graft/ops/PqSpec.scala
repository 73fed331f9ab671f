package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.functions.vector._
import graft.ops.ProductQuantization.{PqConfig, adcLut, collectCodebooks}

class PqSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dims = 16
  private val cfg = PqConfig(dims = dims, m = 4, ksub = 8)

  /** Deterministic pseudo-random vectors: component = seeded hash → [-1, 1]. */
  private def vec(id: Long): Seq[Float] =
    (0 until dims).map { i =>
      val h = new scala.util.Random(id * 1000 + i).nextDouble()
      (h * 2 - 1).toFloat
    }

  private lazy val items = (0L until 200L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    .select(col("vec_id"), col("embedding").cast("array<float>"))

  test("codes have m entries in [0, ksub)") {
    val cb = ProductQuantization.pqTrain(items, cfg)
    val codes = ProductQuantization.pqEncode(items, cb, cfg)
      .select("codes").as[Seq[Int]].collect()
    assert(codes.forall(_.length == cfg.m))
    assert(codes.flatten.forall(c => c >= 0 && c < cfg.ksub))
    assert(codes.flatten.distinct.length > 1) // not degenerate
  }

  test("a sampled codeword vector encodes to its own code in every subspace") {
    val cb = ProductQuantization.pqTrain(items, cfg)
    val cbs = collectCodebooks(cb, cfg)
    // reconstruct sample item 0's full vector from code-0 codewords
    val v0 = (0 until cfg.m).flatMap(s => cbs(s)(0))
    val df = Seq((0L, v0)).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    val codes = ProductQuantization.pqEncode(df, cb, cfg).select("codes").as[Seq[Int]].head()
    assert(codes == Seq.fill(cfg.m)(0))
  }

  test("pq_adc kernel equals a driver-side LUT sum") {
    val cb = ProductQuantization.pqTrain(items, cfg)
    val cbs = collectCodebooks(cb, cfg)
    val probe = vec(7L)
    val lut = adcLut(probe, cbs, cfg)
    val enc = ProductQuantization.pqEncode(items, cb, cfg)
      .withColumn("lut", typedLit(lut.toSeq))
      .select(col("vec_id"), col("codes"),
        pq_adc(col("codes"), col("lut"), cfg.ksub).as("adc"))
      .as[(Long, Seq[Int], Long)].collect()
    enc.foreach { case (_, codes, adc) =>
      val expected = codes.zipWithIndex.map { case (c, s) => lut(s * cfg.ksub + c) }.sum
      assert(adc == expected)
    }
  }

  test("ADC top-k with exact rerank recovers most brute-force neighbours") {
    val cb = ProductQuantization.pqTrain(items, cfg, lloydIters = 1)
    val encoded = ProductQuantization.pqEncode(items, cb, cfg)
    val probes = (0L until 5L).map(i => (i, vec(i)))
    val pq = ProductQuantization.adcTopK(encoded, items, cb, probes, cfg, k = 5, refine = 8)
      .select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val exact = SimilaritySearch.bruteForceTopK(items, probes.toDF("qid", "qv")
        .select(col("qid"), col("qv").cast("array<float>")), k = 5)
      .select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val recall = probes.map { case (q, _) =>
      (pq(q) intersect exact(q)).size.toDouble / exact(q).size
    }.sum / probes.size
    assert(recall >= 0.8, s"recall@5 $recall") // refine=8 reranks 40 of 200 rows exactly
  }

  test("one Lloyd iteration does not increase total quantization error") {
    def qerror(cb: org.apache.spark.sql.DataFrame): Double = {
      val cbs = collectCodebooks(cb, cfg)
      ProductQuantization.pqEncode(items, cb, cfg)
        .select(col("vec_id"), col("codes"), col("embedding")).as[(Long, Seq[Int], Seq[Float])]
        .collect().map { case (_, codes, v) =>
          codes.zipWithIndex.map { case (c, s) =>
            val cw = cbs(s)(c)
            (0 until cfg.dsub).map { i =>
              val d = v(s * cfg.dsub + i).toDouble - cw(i).toDouble; d * d
            }.sum
          }.sum
        }.sum
    }
    val cb0 = ProductQuantization.pqTrain(items, cfg)
    val cb1 = ProductQuantization.pqTrain(items, cfg, lloydIters = 1)
    assert(qerror(cb1) <= qerror(cb0) + 1e-9)
  }

  // r5 verdict crash #1: fewer training rows than ksub used to leave empty
  // codeword slots that encode/ADC indexed into → AIOOBE.
  test("a corpus smaller than ksub trains a trimmed codebook and still encodes + searches") {
    val tiny = (0L until 5L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    val cb = ProductQuantization.pqTrain(tiny, cfg) // 5 rows < ksub=8
    val cbs = collectCodebooks(cb, cfg)
    assert(cbs.forall(_.length == 5)) // trimmed to the codewords that exist
    val codes = ProductQuantization.pqEncode(tiny, cb, cfg).select("codes").as[Seq[Int]].collect()
    assert(codes.forall(c => c.length == cfg.m && c.forall(j => j >= 0 && j < 5)))
    val top = ProductQuantization.adcTopK(
      ProductQuantization.pqEncode(tiny, cb, cfg), tiny, cb, Seq((0L, vec(0L))), cfg, k = 3)
      .select("vec_id").as[Long].collect()
    assert(top.length == 3 && top.contains(0L)) // self is its own nearest neighbour
  }

  test("pqIndexWrite versions codes + codebooks together; reader survives a rebuild") {
    val path = java.nio.file.Files.createTempDirectory("graft-pq").toString + "/idx"
    val cb = ProductQuantization.pqTrain(items, cfg)
    val enc = ProductQuantization.pqEncode(items, cb, cfg).select("vec_id", "codes")
    ProductQuantization.pqIndexWrite(enc, cb, path)
    val resolved = graft.api.VersionedDir.resolve(spark, path)
    val reader = spark.read.parquet(resolved) // pins v00001 files
    assert(ProductQuantization.pqCodebooksRead(spark, path).count() == cfg.m * cfg.ksub)
    // rebuild flips to v00002; the pinned reader must still complete
    ProductQuantization.pqIndexWrite(enc.limit(50), cb, path)
    assert(reader.count() == 200)
    assert(spark.read.parquet(graft.api.VersionedDir.resolve(spark, path)).count() == 50)
  }

  /** Clustered fixture: 8 well-separated centers + small noise — the data
    * shape where residual encoding earns its keep (uniform data has no
    * coarse structure for the centroid to explain).
    */
  private def cvec(id: Long): Seq[Float] = {
    val cluster = (id % 8).toInt
    (0 until dims).map { i =>
      val center = if (i % 8 == cluster) 4f else 0f
      val noise = (new scala.util.Random(id * 7919 + i).nextDouble() * 0.4 - 0.2).toFloat
      center + noise
    }
  }
  private lazy val clustered = (0L until 200L).map(i => (i, cvec(i))).toDF("vec_id", "embedding")
    .select(col("vec_id"), col("embedding").cast("array<float>"))

  test("residual PQ reconstructs clustered data with lower error than raw PQ") {
    // Lloyd-refined, farthest-first-seeded centroids: residuals only shrink
    // when the centroid actually explains the coarse position (raw md5-min
    // seed centroids are arbitrary corpus items — v − randomItem can be
    // LARGER than v, measured here before choosing this config)
    val (assigned, centroids) = SimilaritySearch.ivfAssign(clustered, nCells = 8,
      lloydIters = 10, seedSample = 32)
    val res = ProductQuantization.residualize(assigned, centroids)
    // spot-check the residual arithmetic itself
    val row = res.select(col("embedding"), col("residual"), col("cell")).head()
    val (v, r) = (row.getSeq[Float](0), row.getSeq[Float](1))
    val cvMap = centroids.collect().map(x => x.getLong(0) -> x.getSeq[Float](1)).toMap
    val cv = cvMap(row.getLong(2))
    (0 until dims).foreach(i => assert(math.abs(r(i) - (v(i) - cv(i))) < 1e-6))

    def err(encodedVecCol: String, base: org.apache.spark.sql.DataFrame,
            cb: org.apache.spark.sql.DataFrame, addCentroid: Boolean): Double = {
      val cbs = collectCodebooks(cb, cfg)
      val rows = ProductQuantization.pqEncode(base, cb, cfg, itemVec = encodedVecCol)
        .select(col("embedding"), col("codes"),
          if (addCentroid) col("cell") else lit(0L).as("cell"))
        .collect()
      rows.map { x =>
        val v = x.getSeq[Float](0); val codes = x.getSeq[Int](1)
        val dec = (0 until cfg.m).flatMap(s => cbs(s)(codes(s)))
        val cv = if (addCentroid) cvMap(x.getLong(2)) else Seq.fill(dims)(0f)
        (0 until dims).map(i => math.pow(v(i) - (dec(i) + cv(i)), 2)).sum
      }.sum / rows.length
    }
    val rawErr = err("embedding", clustered, ProductQuantization.pqTrain(clustered, cfg), addCentroid = false)
    val resErr = err("residual", res,
      ProductQuantization.pqTrain(res, cfg, itemVec = "residual"), addCentroid = true)
    assert(resErr < rawErr * 0.5,
      s"residual encoding should at least halve the error on clustered data: raw $rawErr residual $resErr")
  }

  test("residual IVF-PQ search at full probe width + full refine equals brute force") {
    val tmp = java.nio.file.Files.createTempDirectory("rpq_spec").toString
    val (assigned, centroids) = SimilaritySearch.ivfAssign(clustered, nCells = 8)
    val res = ProductQuantization.residualize(assigned, centroids)
    val cb = ProductQuantization.pqTrain(res, cfg, itemVec = "residual")
    val encoded = ProductQuantization.pqEncode(res, cb, cfg, itemVec = "residual")
      .select(col("vec_id"), col("cell"), col("codes"))
    ProductQuantization.pqIndexWrite(encoded, cb, s"$tmp/rpq", Some(centroids))
    // plain IVF-PQ over the same cells: codes of the raw vectors
    val plainCb = ProductQuantization.pqTrain(clustered, cfg)
    ProductQuantization.pqIndexWrite(ProductQuantization.pqEncode(assigned, plainCb, cfg)
      .select(col("vec_id"), col("cell"), col("codes")), plainCb, s"$tmp/pq", Some(centroids))
    val probes = (0L until 4L).map(i => (i, cvec(i)))
    val exact = SimilaritySearch.bruteForceTopK(clustered, probes.toDF("qid", "qv")
        .select(col("qid"), col("qv").cast("array<float>")), k = 5)
      .select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val routes = Seq(
      "residual" -> ProductQuantization.residualIvfPqTopKPruned(spark, s"$tmp/rpq", clustered,
        probes, cfg, k = 5, nProbe = 8, refine = 40),
      "plain" -> ProductQuantization.ivfPqTopKPruned(spark, s"$tmp/pq", clustered,
        probes, cfg, k = 5, nProbe = 8, refine = 40))
    routes.foreach { case (name, df) =>
      val got = df.select("qid", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
      probes.foreach { case (q, _) => assert(got(q) == exact(q), s"$name: probe $q") }
    }
  }
}
