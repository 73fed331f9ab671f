package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool (test scope): round-14 scaling measurements.
  *
  * Sections (`SPARK_GRAFT_SCALING_SECTIONS=subrecall,bloomfpp,prefix`,
  * default all):
  *
  *  - **subrecall** — WITHIN-corpus pair recall under bucket saturation
  *    for [[graft.ops.Dedup.embeddingNearDupLsh]]: r13 measured 0.809 at
  *    2M vectors with auto bits + 4 rotations, because a saturated bucket
  *    pairs members against the min-id representative only. This measures
  *    the `subBucket` fix (two-level all-pairs inside hot buckets) against
  *    the star-only baseline at the same decades, with wall time — target
  *    ≥ 0.9 within-recall at 2M at ≤ 1.5× the r4 star cost. Same planted-
  *    copy method as Round13Scaling (ground truth known by construction).
  *
  *  - **bloomfpp** — observed false-positive drift across
  *    [[graft.ops.Dedup.extendFingerprintBloom]] ingests: build the
  *    reference filter sized for ONE dump, fold two more dumps in, and
  *    measure [[graft.ops.Dedup.observedFpp]] after each — the number the
  *    "rebuild when fpp drifts" rule runs on.
  *
  *  - **prefix** — the packing prefix sum's driver-collect boundary
  *    ([[graft.ops.TextAnalysis.prefixSum]], 4M (group, superblock) cap):
  *    drive a synthetic corpus to ~0.5M / ~4.0M collected superblock rows
  *    and past the cap, measuring wall time at each point and pinning that
  *    the failure is loud with the targetGroups guidance — the boundary is
  *    measured, not just asserted.
  *
  *  - **jpeg** — [[graft.ops.JpegCodec]] decode throughput inside
  *    [[graft.ops.Multimodal.imagePixelStats]] across three decades of
  *    asset count (ImageIO-ENCODED 64×48 gradient JPEGs, full AC
  *    content — the real Huffman/IDCT path, not the DC-only gate
  *    fixtures): per-asset µs must stay flat (decode is in-partition;
  *    only the 48 B stats row shuffles).
  *
  *  - **ccnet** — [[graft.ops.FullText.surprisalBuckets]] across three
  *    decades of corpus size: wall time plus the (lang, score) histogram
  *    cardinality the thresholds are computed from — the histogram must
  *    stay bounded by langs × score resolution while the corpus grows
  *    100× (the "no global sort" claim, measured).
  *
  *  - **hnsw** — sharded [[graft.ops.Hnsw]] across three decades of
  *    synthetic clustered vectors: build+search wall time and recall@10
  *    at realistic ef vs brute-force truth. The per-shard graph keeps
  *    build CPU-bound and shuffle-free; recall must hold as shard
  *    population grows 100×.
  *
  * `Test/runMain graft.Round14Scaling [dirs...]`; defaults to sf0.1 +
  * /tmp/graft_sf10x + /tmp/graft_sf100x (built by [[ScalingFixture]]).
  */
object Round14Scaling {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/graft_sf10x", "/tmp/graft_sf100x")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sections = sys.env.getOrElse("SPARK_GRAFT_SCALING_SECTIONS",
      "subrecall,bloomfpp,prefix,jpeg,ccnet,hnsw").split(",").map(_.trim).toSet

    if (sections("subrecall")) for (dir <- dirs) {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val n = emb.count()
      val stride = math.max(1L, n / 200L)
      val probes = emb.filter(pmod(col("vec_id"), lit(stride)) === 0)
        .select((col("vec_id") + 900000000000L).as("vec_id"), col("embedding"))
      val nProbes = probes.count()
      val planted = emb.unionByName(probes).localCheckpoint(true)
      for ((rot, sub, name) <- Seq((4, false, "auto_r4"), (2, true, "auto_r2_sub"),
                                   (4, true, "auto_r4_sub"))) {
        val t0 = System.nanoTime()
        val pairs = graft.ops.Dedup.embeddingNearDupLsh(planted, dims = 64,
          bits = 0, threshold = 0.999, hotBucketCap = 64, rotations = rot,
          subBucket = sub)
        val found = pairs
          .filter(col("id_b") >= 900000000000L || col("id_a") >= 900000000000L)
          .select(when(col("id_a") >= 900000000000L, col("id_a"))
            .otherwise(col("id_b")).as("p"))
          .distinct().count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[r14subrecall] $dir n=$n probes=$nProbes mode=$name " +
          f"within_recall=${found.toDouble / nProbes}%.3f time=${dt}%.1fs")
      }
      graft.core.Checkpoints.release(planted)
    }

    if (sections("bloomfpp")) {
      // three synthetic dumps of 200k distinct fingerprints each; the
      // filter is sized for exactly ONE dump at 1% — each extension fills
      // it further and observed fpp must drift up
      def dump(k: Int) = spark.range(200000)
        .select((col("id") + k * 1000000L).as("doc_id"),
          concat(lit(s"dump $k document number "), col("id"),
            lit(" with distinct content")).as("text"))
      val d0 = dump(0); val d1 = dump(1); val d2 = dump(2)
      var bf = graft.ops.Dedup.buildFingerprintBloom(d0,
        expectedItems = 200000L, fpp = 0.01)
      // probe dump: 1-in-37 verbatim dump-0 dups (real ingests always carry
      // some — and a fully-disjoint probe lets AQE's empty-relation
      // propagation skip the observed branch, starving the Observation),
      // the rest fresh
      val probe = spark.range(200000)
        .select((col("id") + 9000000L).as("doc_id"),
          when(col("id") % 37 === 0,
            concat(lit("dump 0 document number "), col("id"), lit(" with distinct content")))
          .otherwise(concat(lit("probe item "), col("id"), lit(" unseen anywhere"))).as("text"))
      def measure(ref: org.apache.spark.sql.DataFrame, tag: String): Unit = {
        val sat = org.apache.spark.sql.Observation(s"r14sat_$tag")
        val ver = org.apache.spark.sql.Observation(s"r14ver_$tag")
        graft.ops.Dedup.crossCorpusExactDedupBloom(probe, ref, bf,
          saturation = Some(sat), verification = Some(ver))
          .filter(col("exact_dup")).count()
        println(f"[r14bloomfpp] $tag observed_fpp=${graft.ops.Dedup.observedFpp(sat.get, ver.get)}%.5f " +
          s"candidates=${sat.get("n_candidates")}/${sat.get("n_probed")}")
      }
      measure(d0, "built_1dump")
      bf = graft.ops.Dedup.extendFingerprintBloom(bf, d1, 200000L, 0.01)
      measure(d0.unionByName(d1), "extended_2dumps")
      bf = graft.ops.Dedup.extendFingerprintBloom(bf, d2, 200000L, 0.01)
      measure(d0.unionByName(d1).unionByName(d2), "extended_3dumps")
    }

    if (sections("prefix")) {
      // synthetic sized relation: 8M docs, groups interleaved by id. At
      // targetGroups=8M the span is 1, so superblocks = ⌈8M/1024⌉ = 7813
      // and (group, superblock) cardinality = 7813·groups: 511 groups →
      // 3,992,443 (just UNDER the 4M cap — the near-bound measurement),
      // 520 groups → 4,062,760 (just OVER — the loud-failure pin)
      def sizedWith(groups: Int) = spark.range(8000000L)
        .select(concat(lit("g"), pmod(col("id"), lit(groups))).cast("string").as("__gk"),
          col("id").as("doc_id"), lit(3L).as("n_tokens"))
        .localCheckpoint(true)
      val sized = sizedWith(511)
      for ((tg, tag) <- Seq((1000000L, "0.5M_sb"), (8000000L, "3.99M_sb"))) {
        val t0 = System.nanoTime()
        val out = graft.ops.TextAnalysis.prefixSum(sized, tg, "tok_before", "doc_id").get
        val mx = out.agg(max("tok_before")).head().getLong(0)
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[r14prefix] targetGroups=$tg ($tag) time=${dt}%.1fs max_prefix=$mx")
      }
      graft.core.Checkpoints.release(sized)
      val over = sizedWith(520)
      val loud = try {
        graft.ops.TextAnalysis.prefixSum(over, 8000000L, "tok_before", "doc_id")
          .get.agg(max("tok_before")).head(); "NOT-RAISED"
      } catch { case e: IllegalArgumentException =>
        e.getMessage.linesIterator.next().take(120) }
      println(s"[r14prefix] 520 groups x 7813 sb (4.06M) past-cap -> $loud")
      graft.core.Checkpoints.release(over)
    }
    if (sections("jpeg")) {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("media", BinaryType)))
      for (n <- Seq(20000L, 200000L, 2000000L)) {
        val media = spark.createDataFrame(
          spark.range(n).rdd.mapPartitions { it =>
            it.map { boxed =>
              val id: Long = boxed
              // 64×48 gradient + texture — full AC coefficients through
              // the JDK encoder (quality default), varied per id
              val img = new java.awt.image.BufferedImage(64, 48,
                java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
              var y = 0
              while (y < 48) {
                var x = 0
                while (x < 64) {
                  img.getRaster.setSample(x, y, 0,
                    ((x * 3 + y * 5 + id * 13 + (x * y + id.toInt) % 11) % 256).toInt)
                  x += 1
                }
                y += 1
              }
              val bos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(img, "jpeg", bos)
              Row(id, bos.toByteArray)
            }
          }, schema).localCheckpoint(true)
        val t0 = System.nanoTime()
        val decoded = graft.ops.Multimodal.imagePixelStats(media, "doc_id")
          .agg(count(lit(1)), sum("px_sum")).head()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[r14jpeg] n=$n decoded=${decoded.getLong(0)} " +
          f"time=${dt}%.1fs per_asset_us=${dt * 1e6 / n}%.1f")
        graft.core.Checkpoints.release(media)
      }
    }

    if (sections("ccnet")) {
      // synthetic multilingual corpus: 8 languages; the doc's share of
      // RARE bigrams varies with id%13 (0..12 singleton pairs against a
      // fixed common phrase), so per-doc surprisal genuinely spreads and
      // every language has non-degenerate bands
      for (n <- Seq(20000L, 200000L, 2000000L)) {
        val docs = spark.range(n)
          .select(col("id").as("doc_id"),
            concat(lit("l"), pmod(col("id"), lit(8))).as("lang"),
            concat_ws(" ",
              flatten(transform(sequence(lit(1), lit(10)),
                _ => array(lit("the"), lit("common"), lit("phrase")))),
              concat_ws(" ", transform(sequence(lit(0), pmod(col("id"), lit(13))),
                j => concat(lit("r"), pmod(col("id") * 31 + j * 7, lit(4096)),
                  lit(" s"), pmod(col("id") * 17 + j * 11, lit(4093)))))).as("text"))
          .localCheckpoint(true)
        val t0 = System.nanoTime()
        val buckets = graft.ops.FullText.surprisalBuckets(docs)
        val counts = buckets.groupBy("bucket").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        val dt = (System.nanoTime() - t0) / 1e9
        // the histogram the thresholds came from — must stay tiny
        val histRows = buckets.select("lang", "score_mnat").distinct().count()
        println(f"[r14ccnet] n=$n time=${dt}%.1fs bands=${counts.toSeq.sorted.mkString(",")} " +
          s"hist_rows=$histRows")
        graft.core.Checkpoints.release(docs)
      }
    }
    if (sections("hnsw")) {
      // clustered synthetic vectors (32 clusters, 64 dims) — the regime
      // graph search is built for; 20 probes drawn from cluster centers
      // with noise so true neighbours span shards
      for (n <- Seq(20000L, 200000L, 2000000L)) {
        val dims = 64
        val items = spark.range(n).select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(dims - 1)), d =>
            (sin(pmod(col("id"), lit(32)) * 31 + d * 7) +
              cos(col("id") * 13 + d) * 0.05).cast("float")).as("embedding"))
          .localCheckpoint(true)
        val probes = items.filter(pmod(col("vec_id"), lit(n / 20)) === 3)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val truth = graft.ops.SimilaritySearch.bruteForceTopK(items, probes, k = 10)
          .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val t0 = System.nanoTime()
        val approx = graft.ops.Hnsw.hnswTopK(items, probes, dims = dims, k = 10,
          m = 8, efConstruction = 48, ef = 64, shards = 32)
          .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val dt = (System.nanoTime() - t0) / 1e9
        val recall = (approx & truth).size.toDouble / truth.size
        println(f"[r14hnsw] n=$n build+search=${dt}%.1fs recall@10=${recall}%.3f " +
          f"per_vec_us=${dt * 1e6 / n}%.2f")
        graft.core.Checkpoints.release(items)
      }
    }
    spark.stop()
  }
}
