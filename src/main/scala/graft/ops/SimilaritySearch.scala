package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.vector._

/** Approximate/exact nearest-neighbour search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (exact; the reference's own posture —
  * its numpy provider is a full scan, storage/numpy/provider.py:38-59, and
  * its pgvector schema creates no ANN index, pgvector/models.py:86-87).
  *
  * Scale paths:
  *  - [[lshBuckets]]/[[lshTopK]]: random-hyperplane (SimHash) bucketing. The
  *    probe is expanded into its Hamming-ball of candidate buckets
  *    (Σ_{i≤h} C(bits,i) rows per probe — 37 at bits=8, h≤2), so the
  *    probe↔item match is a plain EQUI-JOIN on `bucket`: hash-partitioned,
  *    broadcastable, and — against an index written `partitionBy("bucket")`
  *    via [[lshIndexWrite]] — partition-PRUNED ([[lshTopKPruned]]): only the
  *    candidate buckets' files are read at all.
  *  - [[ivfAssign]]/[[ivfTopK]]: inverted-file: deterministically-seeded
  *    centroids, each vector assigned to its nearest centroid by a single
  *    per-row projection (a [[graft.functions.NearestCentroidExpr]] kernel —
  *    no join, no shuffle); probes scan the `nProbe` nearest cells only.
  */
object SimilaritySearch {

  /** Exact brute-force top-k for a batch of probe vectors: score every
    * (probe, item) pair per probe, keep top-k per probe.
    *
    * The probe set is broadcast (it is small by construction); the item scan
    * is embarrassingly parallel; per-probe top-k is a window over the scored
    * pairs — the one shuffle, on the probe id. For single-probe use
    * [[graft.query.Retrieval.knn]] which avoids the shuffle entirely via
    * TakeOrderedAndProject.
    */
  def bruteForceTopK(items: DataFrame, probes: DataFrame, k: Int = 10,
                     itemId: String = "vec_id", itemVec: String = "embedding",
                     probeId: String = "qid", probeVec: String = "qv"): DataFrame = {
    val scored = items.crossJoin(broadcast(probes))
      .select(col(probeId), col(itemId),
        round(vec_cosine(col(itemVec), col(probeVec)), 6).as("score"))
    topKByProbe(scored, k, probeId, itemId)
  }

  /** Bounded per-probe top-k via [[graft.functions.TopKAggregator]]: partial
    * aggregation keeps ≤ k rows per (partition, probe), so the one shuffle
    * carries O(probes·k) — a window row_number would shuffle EVERY scored
    * row (at 100 TB, the entire scored corpus). Same ordering contract as
    * the window it replaces: score DESC, id ASC.
    */
  def topKByProbe(scored: DataFrame, k: Int,
                  probeId: String, itemId: String): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored
      .select(col(probeId).cast("long"), col(itemId).cast("long"), col("score").cast("double"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => graft.functions.TopKAggregator.Scored(t._2, t._3))
      .agg(graft.functions.TopKAggregator.topK(k))
      .toDF(probeId, "__topk")
      .select(col(probeId), posexplode(col("__topk")).as(Seq("__pos", "__s")))
      .select(col(probeId), col("__s.id").as(itemId), col("__s.score").as("score"),
        (col("__pos") + 1).cast("int").as("rank"))
  }

  /** Deterministic random-hyperplane LSH bucket id (`bits`-bit SimHash of the
    * embedding): bit j = sign of <v, h_j> where hyperplane h_j components are
    * ±1 derived from md5(j:i). Identical across engines and runs — the SQL
    * twin bakes the same sign matrix in as literals, and the compiled kernel
    * accumulates in the same left-to-right double order.
    */
  def lshBucket(vecCol: Column, dims: Int, bits: Int = 8, planeOffset: Int = 0): Column =
    graft.functions.textkernel.lsh_bucket(vecCol, dims, bits, planeOffset)

  /** ±1 hyperplane component: parity of the first md5 byte of "j:i". */
  def hyperplaneSign(j: Int, i: Int): Boolean = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"$j:$i".getBytes("UTF-8"))
    (h(0) & 1) == 0
  }

  /** Driver-side twin of [[lshBucket]] for probe vectors already on the
    * driver (the embedded query string) — same sign matrix, same
    * left-to-right double accumulation as LshBucketExpr, so driver- and
    * executor-computed buckets agree bitwise.
    */
  def lshBucketLocal(v: Seq[Float], dims: Int, bits: Int = 8): Long = {
    val n = math.min(dims, v.length)
    var bucket = 0L
    var j = 0
    while (j < bits) {
      var dot = 0.0
      var i = 0
      while (i < n) {
        dot += v(i).toDouble * (if (hyperplaneSign(j, i)) 1.0 else -1.0)
        i += 1
      }
      if (dot > 0) bucket |= (1L << j)
      j += 1
    }
    bucket
  }

  /** All XOR masks within Hamming distance `maxHamming` of zero, i.e. the
    * Hamming ball a multi-probe query expands into: Σ_{i≤h} C(bits,i) masks
    * (37 at bits=8, h=2). Enumerated by choosing bit positions — never 2^bits
    * work — so it stays cheap at any realistic `bits`.
    */
  def hammingMasks(bits: Int, maxHamming: Int): Seq[Long] = {
    def choose(start: Int, remaining: Int): Seq[Long] =
      if (remaining == 0) Seq(0L)
      else (start to bits - remaining).flatMap(i => choose(i + 1, remaining - 1).map(_ | (1L << i)))
    (0 to maxHamming).flatMap(h => choose(0, h))
  }

  /** Assign every item its LSH bucket — the index-build side. Written
    * partitioned by `bucket` ([[lshIndexWrite]]), probes read only their
    * candidate partitions.
    */
  def lshBuckets(items: DataFrame, dims: Int, bits: Int = 8,
                 itemVec: String = "embedding"): DataFrame =
    items.withColumn("bucket", lshBucket(col(itemVec), dims, bits))

  /** Write the LSH-bucketed index partitioned by bucket: the physical layout
    * that makes [[lshTopKPruned]]'s candidate-bucket filter a partition-
    * pruning scan (S5; the scale posture the reference's pgvector schema
    * lacks by admission — pgvector/models.py:86-87 TODO).
    *
    * Versioned like the document store ([[graft.api.VersionedDir]]): the new
    * bucket layout lands in a fresh version dir and the manifest flips —
    * a reader querying mid-rebuild never sees a partial directory, and a
    * reader that resolved the previous version still completes.
    */
  def lshIndexWrite(items: DataFrame, path: String, dims: Int, bits: Int = 8,
                    itemVec: String = "embedding", keepVersions: Int = 2): Unit =
    new graft.api.VersionedDir(items.sparkSession, path, keepVersions).replaceWith { dir =>
      lshBuckets(items, dims, bits, itemVec)
        // co-locate each bucket before the partitioned write: one file per
        // bucket dir instead of (#tasks × #buckets) shards — at scale, tune
        // with an additional range/hash split inside hot buckets
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(dir)
    }

  /** Approximate top-k: each probe is expanded into its Hamming-≤h candidate
    * buckets (`pb XOR mask` for every mask in [[hammingMasks]]), then items
    * are matched by a plain equi-join on the bucket id — identical candidate
    * set to the Hamming-distance θ-join (ib = pb^m with popcount(m) ≤ h ⟺
    * hamming(ib,pb) ≤ h) but planned as a broadcast HASH join over the item
    * scan, not a nested loop. Exact cosine rerank on the candidates.
    */
  def lshTopK(items: DataFrame, probes: DataFrame, dims: Int, k: Int = 10,
              bits: Int = 8, maxHamming: Int = 1,
              itemId: String = "vec_id", itemVec: String = "embedding",
              probeId: String = "qid", probeVec: String = "qv"): DataFrame = {
    val bucketed = items.withColumn("__bkt", lshBucket(col(itemVec), dims, bits))
    val masks = hammingMasks(bits, maxHamming)
    val probed = probes
      .withColumn("__pb", lshBucket(col(probeVec), dims, bits))
      .select(col(probeId), col(probeVec), col("__pb"), explode(typedLit(masks)).as("__m"))
      .withColumn("__bkt", col("__pb").bitwiseXOR(col("__m")))
      .drop("__m", "__pb")
    rerank(scoreCandidates(bucketed.join(broadcast(probed), Seq("__bkt")),
      itemId, itemVec, probeId, probeVec), k, probeId, itemId, singleProbe = false)
  }

  /** Query a [[lshIndexWrite]]-written index with partition pruning: the
    * probe batch is collected (a query batch is driver-resident by
    * construction — the analog of embedding the query string), its candidate
    * buckets are computed driver-side, and the scan carries
    * `bucket IN (candidates)` — a static partition filter, so only those
    * directories are listed/read. `.explain` shows the PartitionFilters.
    */
  def lshTopKPruned(spark: SparkSession, indexPath: String, probes: Seq[(Long, Seq[Float])],
                    dims: Int, k: Int = 10, bits: Int = 8, maxHamming: Int = 1,
                    itemId: String = "vec_id", itemVec: String = "embedding",
                    delta: Option[DataFrame] = None,
                    payloadFilter: Option[Column] = None): DataFrame =
    // pin the concrete version dir (plain dirs resolve to themselves)
    rerank(lshCandidates(spark.read.parquet(graft.api.VersionedDir.resolve(spark, indexPath)),
      probes, dims, bits, maxHamming, itemId, itemVec, delta, payloadFilter),
      k, "qid", itemId, singleProbe = probes.size == 1)

  /** The scored candidates of [[lshTopKPruned]] — (qid, itemId, score) for
    * every item in a probe's Hamming ball — over an already-resolved
    * bucket-partitioned relation `raw` (one version directory's read).
    */
  private def lshCandidates(raw: DataFrame, probes: Seq[(Long, Seq[Float])],
                                   dims: Int, bits: Int, maxHamming: Int,
                                   itemId: String, itemVec: String,
                                   delta: Option[DataFrame],
                                   payloadFilter: Option[Column]): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    val masks = hammingMasks(bits, maxHamming)
    val expanded = probes.flatMap { case (qid, qv) =>
      val pb = lshBucketLocal(qv, dims, bits)
      masks.map(m => (qid, qv, pb ^ m))
    }
    lazy val probeDf = expanded.toDF("qid", "qv", "__bucket")
      .select(col("qid"), col("qv").cast("array<float>"), col("__bucket"))
    val live = prunedRead(raw, Some(("bucket", expanded.map(_._3))), Seq(itemId, itemVec),
      delta, payloadFilter)
    scoreCandidates(withProbes(live, probes, probeDf, Some("__bucket")), itemId, itemVec, "qid", "qv")
  }

  /** The one pruned ANN read, shared by the public lazy routes over a
    * versioned ANN relation (LSH buckets; IVF cells over vectors, PQ,
    * residual PQ, SQ and BQ codes) and by the once-planned reads of
    * [[graft.api.VectorIndex]]'s misses — one bucket or cell each, or a
    * whole unpartitioned SQ or BQ relation — which pass no delta and
    * resolve the overlay on the driver instead:
    *  1. prune — with `part = Some((key, candidates))` the scan carries
    *     `key IN (candidates)`, the candidates computed on the driver. The
    *     literals take the parquet-inferred partition type (small dirs read
    *     back as int), so the In stays a bare partition filter: no cast
    *     wrapper, static pruning guaranteed. `payloadFilter` pushes to the
    *     parquet row groups INSIDE the surviving partitions (the index
    *     write carries the item's payload columns through): partitions ×
    *     filter, never a corpus scan. The key is renamed to the long
    *     `__<key>` the probe side joins on;
    *  2. overlay — an incremental-maintenance delta
    *     ([[graft.api.VectorIndex.refreshAnnIncremental]]) merges new-wins:
    *     every id in the delta shadows its base copies (broadcast anti
    *     equi-join — the delta is small by construction, and the base
    *     scan's partition filter survives untouched), then the delta's LIVE
    *     rows in the candidate partitions union in. Tombstones
    *     (`deleted = true`) contribute only the shadowing.
    * Output: `cols` (the item id first), then `__<key>` when partitioned.
    */
  private[graft] def prunedRead(raw: DataFrame, part: Option[(String, Seq[Long])],
                                cols: Seq[String], delta: Option[DataFrame],
                                payloadFilter: Option[Column]): DataFrame = {
    require(payloadFilter.isEmpty || delta.isEmpty,
      "payloadFilter over a delta overlay is unsupported: delta sidecars carry " +
        "only (id, vector) — fold the deltas first, or filter the hydrated results")
    def pruned(rows: DataFrame): DataFrame = part.fold(rows.select(cols.map(col): _*)) {
      case (key, candidates) =>
        val lits: Seq[Any] = rows.schema(key).dataType match {
          case org.apache.spark.sql.types.IntegerType => candidates.distinct.map(_.toInt)
          case _                                      => candidates.distinct
        }
        rows.filter(col(key).isin(lits: _*))
          .select(cols.map(col) :+ col(key).cast("long").as(s"__$key"): _*)
    }
    val base = pruned(payloadFilter.fold(raw)(raw.filter))
    delta.fold(base) { d =>
      base.join(broadcast(d.select(col(cols.head)).distinct()), Seq(cols.head), "left_anti")
        .unionByName(pruned(d.filter(!col("deleted"))))
    }
  }

  /** Attach candidate rows to their probe's (qid, qv). A single probe's
    * values ride as literals — every pruned row is its candidate, so there
    * is no join and no broadcast job; a batch joins its broadcast probe
    * rows on `key` (cross-joins them when `key` is None).
    */
  private[graft] def withProbes(cands: DataFrame, probes: Seq[(Long, Seq[Float])],
                                probeDf: => DataFrame, key: Option[String]): DataFrame =
    probes match {
      case Seq((qid, qv)) =>
        key.fold(cands)(cands.drop).withColumn("qid", lit(qid)).withColumn("qv", typedLit(qv))
      case _ =>
        key.fold(cands.crossJoin(broadcast(probeDf)))(k => cands.join(broadcast(probeDf), Seq(k)))
    }

  /** Exact rerank score of joined (item, probe) candidate pairs:
    * (probeId, itemId, score), the cosine rounded to 6 dp.
    */
  private def scoreCandidates(joined: DataFrame, itemId: String, itemVec: String,
                              probeId: String, probeVec: String): DataFrame =
    joined.select(col(probeId), col(itemId),
      round(vec_cosine(col(itemVec), col(probeVec)), 6).as("score"))

  /** The top-k page of scored (qid, itemId, score) candidates. A single
    * probe's is `orderBy+limit`, which Catalyst plans as
    * TakeOrderedAndProject — per-partition top-k, the driver merges
    * partitions×k rows — where a window would funnel EVERY candidate into
    * one task; a batch's is the bounded per-probe TopK aggregator
    * ([[topKByProbe]], which also adds `rank`).
    */
  private[graft] def topKPage(scored: DataFrame, k: Int, nProbes: Int, itemId: String): DataFrame =
    if (nProbes == 1) scored.orderBy(desc("score"), col(itemId).asc).limit(k)
    else topKByProbe(scored, k, "qid", itemId)

  /** Shared exact-rerank tail: the [[topKPage]] with a per-probe `rank`.
    * For a single probe the rank window runs over the k limited rows only.
    */
  private def rerank(scored: DataFrame, k: Int, probeId: String, itemId: String,
                     singleProbe: Boolean): DataFrame =
    if (singleProbe) {
      // partitioned by the (single) probe id: operates on the k limited
      // rows either way, but keeps the no-unpartitioned-window invariant
      // (and the WindowExec warning) out of the engine entirely
      val w = Window.partitionBy(probeId).orderBy(desc("score"), col(itemId).asc)
      topKPage(scored, k, 1, itemId).withColumn("rank", row_number().over(w))
    } else topKByProbe(scored, k, probeId, itemId)

  /** Auto cell count for [[ivfAssign]]: ≈ √N (the FAISS `IVF√N` heuristic —
    * balances cells-scanned-per-probe against items-per-cell, keeping BOTH
    * at O(√N) as the corpus grows; a fixed nCells keeps recall only at the
    * corpus size it was tuned for). One count job at index-build time.
    */
  def autoCells(items: DataFrame): Int = {
    val n = items.count()
    math.max(1, math.round(math.sqrt(n.toDouble)).toInt)
  }

  /** Auto hyperplane-count for [[lshBucket]]-based blocking — the bucketed
    * analog of [[autoCells]]: pick `bits` so the EXPECTED bucket occupancy
    * N / 2^bits lands at `targetBucket` (the hot-bucket cap the caller will
    * apply), i.e. bits = ceil(log2(N / targetBucket)). A fixed `bits` keeps
    * recall only at the corpus size it was tuned for: at 1000× the data
    * every bucket saturates its cap and each item is verified against the
    * same capped representative set — a silent recall floor. Growing bits
    * with log2(N) keeps per-bucket occupancy (and therefore both recall
    * under the cap and per-bucket verify cost) on the design curve as the
    * corpus grows. Clamped to [4, 24]: ≥4 so tiny corpora still split at
    * all, ≤24 (16M buckets) because beyond that the hyperplane projections
    * dominate hash time. One count job at call time, same as [[autoCells]].
    */
  def autoBits(n: Long, targetBucket: Int): Int = {
    require(targetBucket > 0, s"targetBucket must be positive: $targetBucket")
    val raw = math.ceil(math.log(math.max(1L, n).toDouble / targetBucket) / math.log(2.0)).toInt
    math.min(24, math.max(4, raw))
  }

  /** IVF: pick `nCells` deterministic centroid seeds (lowest md5 of id —
    * a deterministic uniform sample; collected to the driver, tiny by
    * design), then assign every item to its nearest centroid with ONE
    * per-row kernel projection — zero joins, zero exchanges before the
    * output (vs. the crossJoin+window argmin this replaces). The cell id is
    * the partition key at scale.
    *
    * `nCells <= 0` selects [[autoCells]] (≈ √N, the FAISS heuristic): a
    * corpus that grows 100× gets 10× the cells instead of 100×-fatter
    * cells, so per-probe work AND recall-at-fixed-nProbe stay on the
    * design curve (measured in SCALING.md's recall table).
    */
  def ivfAssign(items: DataFrame, nCells: Int = 0,
                itemId: String = "vec_id", itemVec: String = "embedding",
                lloydIters: Int = 0, seedSample: Int = 0): (DataFrame, DataFrame) = {
    val cells = if (nCells > 0) nCells else autoCells(items)
    val ordered = items
      .withColumn("__h", graft.functions.textfn.hexhash60(concat(lit("ivf:"), col(itemId))))
      .orderBy(col("__h").asc, col(itemId).asc)
      .select(col(itemId).cast("long").as("cid"), col(itemVec).as("cv"))
    val seeds =
      if (seedSample <= 0) ordered.limit(cells)
      else {
        // kmeans++-flavoured deterministic seeding: farthest-first over an
        // md5-min sample (one job; the sample is driver-resident). Spreads
        // seeds across natural clusters instead of letting the uniform
        // sample drop two seeds in one cluster and none in another.
        val spark = items.sparkSession
        import spark.implicits._
        val sample = ordered.limit(math.max(cells, seedSample)).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        val chosen = scala.collection.mutable.ArrayBuffer(sample.head)
        def d2(a: Array[Float], b: Array[Float]): Double = {
          var s = 0.0; var i = 0; val n = math.min(a.length, b.length)
          while (i < n) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
          s
        }
        while (chosen.size < math.min(cells, sample.length)) {
          // farthest point from its nearest chosen seed; ties → smaller id
          val next = sample.filterNot(s => chosen.exists(_._1 == s._1))
            .map(s => (s, chosen.map(c => d2(s._2, c._2)).min))
            .maxBy { case ((id, _), dist) => (dist, -id) }._1
          chosen += next
        }
        chosen.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("cid", "cv")
          .select(col("cid"), col("cv").cast("array<float>"))
      }
    val centroids = (1 to lloydIters).foldLeft(seeds)((c, _) => lloydStep(items, c, itemVec))
    val (cvs, cids) = collectCentroids(centroids)
    val assigned = items.withColumn("cell", nearest_centroid(col(itemVec), cvs, cids))
    (assigned, centroids)
  }

  /** Prototypicality pruning — the SSL-prototypes rule of Sorscher et al.
    * 2022 ("Beyond neural scaling laws", arXiv:2206.14486): score each
    * embedding by its L2 distance to its cluster centroid and PRUNE the
    * EASIEST (most prototypical, smallest-distance) fraction of every
    * cluster — on large corpora, dropping easy examples beats random
    * pruning. Clustering is the engine's deterministic IVF assignment
    * ([[ivfAssign]] — one per-row kernel projection, optional Lloyd
    * refinement), so one clustering can serve the ANN index, SemDeDup, and
    * this pruner.
    *
    * Plan shape: one kernel-projection scan (cell + centroid lookup happen
    * inside the same expression domain — the centroid table is plan-time
    * driver state, there is no join at all), then ONE cell-keyed window
    * exchange for the within-cell rank. Ranking uses the ROUNDED distance
    * with ascending-id tie-break, so ranks are reproducible bit-for-bit
    * across engines and partitionings.
    *
    * Output: one row per item — (itemId, cell, proto_dist, proto_rank
    * (1 = most prototypical), n_cell, kept = rank beyond the pruned
    * fraction). `pruneEasiest` ∈ [0,1]: 0 keeps everything, 1 prunes all.
    */
  def prototypicality(emb: DataFrame, nCells: Int = 0, pruneEasiest: Double = 0.5,
                      itemId: String = "vec_id", itemVec: String = "embedding",
                      lloydIters: Int = 0): DataFrame = {
    require(pruneEasiest >= 0.0 && pruneEasiest <= 1.0,
      s"pruneEasiest must be in [0,1]: $pruneEasiest")
    val (_, centroids) = ivfAssign(emb, nCells, itemId, itemVec, lloydIters)
    val (cvs, cids) = collectCentroids(centroids)
    val w = Window.partitionBy("cell")
    // assignment + distance in ONE kernel pass (struct(cell, dist)) — the
    // assign-then-look-up-own-centroid form scans the centroid table twice
    val scored = emb
      .select(col(itemId), nearest_centroid_dist(col(itemVec), cvs, cids).as("cd"))
      .select(col(itemId), col("cd.cell").as("cell"),
        round(col("cd.dist"), 6).as("proto_dist"))
    scored
      .withColumn("proto_rank",
        row_number().over(w.orderBy(col("proto_dist").asc, col(itemId).asc)))
      .withColumn("n_cell", count(lit(1)).over(w))
      .withColumn("kept",
        (col("proto_rank") > ceil(lit(pruneEasiest) * col("n_cell"))).cast("int"))
  }

  /** Cluster PROFILE — corpus cartography: for each deterministic-IVF cell
    * of the embedding space, its population and the `topTerms` words that
    * occur in the most member documents (document frequency within the
    * cell, within-doc repeats counted once) — the "what IS this cluster"
    * readout that turns an opaque embedding clustering into an auditable
    * corpus map (and the label source for SemDeDup/prototypicality
    * decisions made on the same cells).
    *
    * Plan: one kernel-projection scan assigns cells (zero exchanges), one
    * id equi-join attaches the text (co-partition both tables by id at
    * scale and it is exchange-free too), one map-side-combined
    * (cell, word) count, and the per-cell top-k is a rank ≤ k window —
    * WindowGroupLimit, bounded per-task state. Output one row per
    * (cell, rank): (cell, n_docs, rank, term, df).
    */
  def clusterProfile(emb: DataFrame, docs: DataFrame, nCells: Int = 0,
                     topTerms: Int = 5,
                     itemId: String = "vec_id", itemVec: String = "embedding",
                     docId: String = "doc_id", textCol: String = "text",
                     lloydIters: Int = 0): DataFrame = {
    require(topTerms > 0, s"topTerms must be positive: $topTerms")
    val (assigned, _) = ivfAssign(emb, nCells, itemId, itemVec, lloydIters)
    val cells = assigned.select(col(itemId).as(docId), col("cell").cast("long").as("cell"))
    val nDocs = cells.groupBy("cell").agg(count(lit(1)).as("n_docs"))
    val words = cells.join(docs.select(col(docId),
        graft.functions.textkernel.word_tokens(col(textCol)).as("__w")), Seq(docId))
      .select(col("cell"), explode(array_distinct(col("__w"))).as("term"))
      .groupBy("cell", "term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("cell").orderBy(col("df").desc, col("term").asc)
    words.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topTerms)
      .join(nDocs, Seq("cell"))
      .select(col("cell"), col("n_docs"), col("rank").cast("long").as("rank"),
        col("term"), col("df"))
  }

  /** Retrieval-quality metrics — first-class evaluation of any ANN route
    * against an exact truth set, per probe: recall@k, MRR, nDCG. The ad-hoc
    * recall math SCALING.md's curves used, promoted to an operator so a
    * production index can be scored continuously (the "is my index still
    * good after this dump" check a 100 TB ingest runs after each merge).
    *
    * Inputs are two ranked result tables with (qidCol, itemCol, rankCol)
    * — `truth` (e.g. [[bruteForceTopK]]) and `retrieved` (any ANN route).
    * Binary relevance: an item is relevant iff it appears in the probe's
    * truth rows. Per probe:
    *  - recall  = |truth ∩ retrieved| / |truth|
    *  - mrr     = 1 / (smallest retrieved rank holding a truth item); 0 when none
    *  - ndcg    = Σ_{hits} 1/log₂(rank+1)  /  Σ_{r=1..|truth|} 1/log₂(r+1)
    *
    * DCG terms sum as SCALED LONGS (round(term·10⁶)) so the aggregation is
    * order-independent — bit-identical across partitionings and engines
    * (the Lloyd-step discipline); the final ratios round to 6 dp. Cost: one
    * (qid,item) equi-join + one per-qid agg over k·|probes| rows — metric
    * tables are probe-sized, never corpus-sized.
    */
  def retrievalMetrics(truth: DataFrame, retrieved: DataFrame,
                       qidCol: String = "qid", itemCol: String = "vec_id",
                       rankCol: String = "rank"): DataFrame = {
    val scale = 1e6
    def gain(rank: Column): Column =
      round(lit(1.0) / log2(rank.cast("double") + lit(1.0)) * scale).cast("long")
    val t = truth.select(col(qidCol), col(itemCol), col(rankCol).cast("int").as("__tr"))
    val r = retrieved.select(col(qidCol), col(itemCol), col(rankCol).cast("int").as("__rr"))
    t.join(r, Seq(qidCol, itemCol), "full_outer")
      .groupBy(col(qidCol))
      .agg(
        count(when(col("__tr").isNotNull, lit(1))).as("n_truth"),
        count(when(col("__tr").isNotNull && col("__rr").isNotNull, lit(1))).as("n_hit"),
        min(when(col("__tr").isNotNull, col("__rr"))).as("__first"),
        sum(when(col("__tr").isNotNull && col("__rr").isNotNull, gain(col("__rr")))
          .otherwise(lit(0L))).as("__dcg"),
        sum(when(col("__tr").isNotNull, gain(col("__tr"))).otherwise(lit(0L))).as("__idcg"))
      .select(col(qidCol), col("n_truth"), col("n_hit"),
        // a qid with NO truth rows (retrieved-only probe, kept deliberately
        // by the full-outer join) scores 0, not null — null recall/ndcg
        // from the 0-denominator division would silently drop the probe
        // from any downstream mean
        round(when(col("n_truth") > 0,
          col("n_hit").cast("double") / col("n_truth")).otherwise(lit(0.0)), 6)
          .as("recall"),
        round(coalesce(lit(1.0) / col("__first"), lit(0.0)), 6).as("mrr"),
        round(when(col("__idcg") > 0,
          col("__dcg").cast("double") / col("__idcg")).otherwise(lit(0.0)), 6)
          .as("ndcg"))
  }

  /** One deterministic Lloyd iteration: assign each item to its nearest
    * current centroid (per-row kernel, no join), then recompute each cell's
    * mean. Per-dimension sums accumulate as SCALED LONGS (round(x·10⁶)) so
    * the reduction is associative+commutative — bit-identical regardless of
    * partition/merge order, unlike a double sum. The (cell,pos) aggregation
    * is map-side combined (≤ nCells·dims rows leave each task), so an
    * iteration costs one scan + one tiny shuffle at any scale. Empty cells
    * keep their previous centroid; `cid` stays the stable seed label.
    */
  private def lloydStep(items: DataFrame, centroids: DataFrame, itemVec: String): DataFrame = {
    val (cvs, cids) = collectCentroids(centroids)
    val scale = 1e6
    val means = items
      .select(nearest_centroid(col(itemVec), cvs, cids).as("cell"),
        posexplode(col(itemVec)).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      .agg(sum(round(col("x").cast("double") * scale).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("s"), col("n")))),
        e => (e.getField("s").cast("double") / scale / e.getField("n")).cast("float")).as("mv"))
    centroids.join(means, centroids("cid") === means("cell"), "left")
      .select(col("cid"), coalesce(col("mv"), col("cv")).as("cv"))
  }

  /** Write an IVF-assigned index partitioned by cell — symmetric to
    * [[lshIndexWrite]], and versioned the same way. The centroid table the
    * assignment was computed against rides INSIDE the same version dir
    * (`_centroids` — underscore-prefixed, so data reads of the version dir
    * ignore it): centroids and assignment flip atomically together.
    */
  def ivfIndexWrite(assigned: DataFrame, path: String,
                    centroids: Option[DataFrame] = None, keepVersions: Int = 2): Unit =
    new graft.api.VersionedDir(assigned.sparkSession, path, keepVersions).replaceWith { dir =>
      assigned.repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
      centroids.foreach(_.coalesce(1).write.mode("overwrite").parquet(s"$dir/_centroids"))
    }

  /** Read back the centroid table written by [[ivfIndexWrite]] from the
    * ACTIVE version (guaranteed consistent with that version's cells).
    */
  def ivfCentroidsRead(spark: SparkSession, path: String): DataFrame =
    graft.api.VersionedDir.readSide(spark, s"${graft.api.VersionedDir.resolve(spark, path)}/_centroids")

  /** Probe-side IVF search: each probe selects its `nProbe` nearest cells
    * with one kernel projection (array of cell ids, exploded), then an
    * equi-join on `cell` against the assigned items — partition-prunable
    * when the index is stored partitioned by cell — and exact rerank.
    */
  def ivfTopK(assigned: DataFrame, centroids: DataFrame, probes: DataFrame,
              k: Int = 10, nProbe: Int = 4,
              itemId: String = "vec_id", itemVec: String = "embedding",
              probeId: String = "qid", probeVec: String = "qv",
              candidateFilter: Option[Column] = None): DataFrame = {
    val (cvs, cids) = collectCentroids(centroids)
    val probeCells = probes
      .withColumn("cell", explode(nearest_cells(col(probeVec), cvs, cids, nProbe)))
      .select(col(probeId), col(probeVec), col("cell"))
    // Filtered ANN (qdrant-style payload filter + vector search): the
    // predicate lands on the item side BEFORE the probe join — Catalyst
    // evaluates it in the scan's codegen stage (and pushes pushdown-eligible
    // shapes like In/comparisons into parquet) — so candidates are
    // (probed cells ∩ filter), and top-k ranks only rows satisfying the
    // filter. This is PRE-filtering: the k results are the true top-k of the
    // filtered set within the probed cells (vs post-filtering a top-k page,
    // which can return < k rows for selective filters).
    val items = candidateFilter.fold(assigned)(assigned.filter)
    rerank(scoreCandidates(items.join(broadcast(probeCells), Seq("cell")),
      itemId, itemVec, probeId, probeVec), k, probeId, itemId, singleProbe = false)
  }

  /** Query an [[ivfIndexWrite]]-written index with partition pruning —
    * the IVF twin of [[lshTopKPruned]]: probe cells are computed
    * driver-side against the collected centroid table, the scan carries
    * `cell IN (…)` as a static partition filter, then the equi-join +
    * exact rerank.
    */
  def ivfTopKPruned(spark: SparkSession, indexPath: String, centroids: DataFrame,
                    probes: Seq[(Long, Seq[Float])], k: Int = 10, nProbe: Int = 4,
                    itemId: String = "vec_id", itemVec: String = "embedding",
                    delta: Option[DataFrame] = None,
                    payloadFilter: Option[Column] = None): DataFrame =
    rerank(ivfCandidates(spark.read.parquet(graft.api.VersionedDir.resolve(spark, indexPath)),
      collectCentroids(centroids), probes, nProbe, itemId, itemVec, delta, payloadFilter),
      k, "qid", itemId, singleProbe = probes.size == 1)

  /** The scored candidates of [[ivfTopKPruned]] — (qid, itemId, score) for
    * every item in a probe's nProbe nearest cells — over an already-resolved
    * cell-partitioned relation `raw` and its version's collected centroids.
    */
  private def ivfCandidates(raw: DataFrame,
                                   centroids: (Array[Array[Float]], Array[Long]),
                                   probes: Seq[(Long, Seq[Float])], nProbe: Int,
                                   itemId: String, itemVec: String,
                                   delta: Option[DataFrame],
                                   payloadFilter: Option[Column]): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    val expanded = probeCells(probes, centroids, nProbe)
    lazy val probeDf = expanded.toDF("qid", "qv", "__cell")
      .select(col("qid"), col("qv").cast("array<float>"), col("__cell"))
    val live = prunedRead(raw, Some(("cell", expanded.map(_._3))), Seq(itemId, itemVec),
      delta, payloadFilter)
    scoreCandidates(withProbes(live, probes, probeDf, Some("__cell")), itemId, itemVec, "qid", "qv")
  }

  /** (qid, qv, cell) for each probe's `nProbe` nearest cells, on the driver. */
  private[ops] def probeCells(probes: Seq[(Long, Seq[Float])],
                              centroids: (Array[Array[Float]], Array[Long]),
                              nProbe: Int): Seq[(Long, Seq[Float], Long)] =
    probes.flatMap { case (qid, qv) =>
      nearestCellsLocal(qv, centroids._1, centroids._2, nProbe).map(c => (qid, qv, c))
    }

  /** Driver-side twin of NearestCellsExpr (same distance accumulation and
    * (dist, cid) tie order) for probe vectors already on the driver.
    */
  def nearestCellsLocal(v: Seq[Float], cvs: Array[Array[Float]], cids: Array[Long],
                        nProbe: Int): Seq[Long] = {
    val scored = Array.tabulate(cvs.length) { j =>
      val c = cvs(j)
      val n = math.min(v.length, c.length)
      var s = 0.0
      var i = 0
      while (i < n) { val d = v(i).toDouble - c(i).toDouble; s += d * d; i += 1 }
      (math.sqrt(s), cids(j))
    }
    scored.sortBy { case (d, cid) => (d, cid) }.take(nProbe).map(_._2).toSeq
  }

  private[graft] def collectCentroids(centroids: DataFrame): (Array[Array[Float]], Array[Long]) = {
    val rows = centroids.collect()
    val cids = rows.map(r => r.get(0) match {
      case l: Long => l
      case i: Int  => i.toLong
      case other   => other.toString.toLong
    })
    (rows.map(_.getSeq[Float](1).toArray), cids)
  }
}
