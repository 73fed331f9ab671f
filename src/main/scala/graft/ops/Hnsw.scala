package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sharded HNSW (Malkov & Yashunin 2016) — the graph-based ANN family
  * member next to the LSH / IVF / PQ / SQ routes in
  * [[SimilaritySearch]]. HNSW is inherently sequential-insert, so the
  * Spark-first shape is the one production systems actually ship:
  * partition the corpus into shards, build an independent in-memory HNSW
  * graph PER SHARD inside `mapPartitions` (vectors never leave their
  * partition), search every shard with the broadcast probe batch, and
  * merge the per-shard top-k with the bounded [[graft.functions.TopKAggregator]]
  * (each shard emits its local top-k, so the one shuffle carries exactly
  * O(shards · probes · k) rows — the beam width `ef` never reaches the
  * wire). Search cost is
  * shards × O(ef · log n_shard) instead of one global O(ef · log n) — the
  * classic trade for embarrassing parallelism and incremental shard
  * rebuilds.
  *
  * Determinism (the correctness-gate requirement): level assignment is
  * the standard geometric draw but fed by a SPLITMIX-style hash of the
  * vector id instead of a RNG, inserts go in ascending-id order within a
  * shard, and neighbour selection breaks distance ties by id — so the
  * same shard contents always yield the same graph. At `ef ≥ shard size`
  * the beam visits every reachable node of a connected graph and the
  * result is EXACTLY the brute-force top-k (the q_ann_hnsw oracle); at
  * realistic ef the recall curve is measured in SCALING.md.
  *
  * Scale notes: a shard graph holds n_shard · (M·levels) int edges plus
  * the float vectors — executors size shards via `repartition(shards)`;
  * 1M vectors × 64 dims × M=8 ≈ 300 MB per shard, well inside an
  * executor. Graph build is O(n · ef_c · log n) per shard, all CPU, no
  * shuffle. The build is redone per query batch here (stateless
  * operator); a VersionedDir-persisted variant would serialize adjacency
  * the way the LSH/IVF index writers do.
  *
  * Shard COUNT auto-sizing: `shards = defaultParallelism` keeps every
  * core busy but lets the per-shard population — and with it the
  * O(n_shard · ef_c · log n_shard) build — grow linearly with the corpus
  * at fixed cluster size. When `shards` is not given, [[autoShards]]
  * caps the population at `TargetRowsPerShard` instead: shards =
  * max(parallelism, ceil(n / target)), so per-shard build cost stays
  * flat from 10⁵ to 10⁹ vectors and the extra cost surfaces only in the
  * (cheap, k-bounded) merge.
  */
object Hnsw {

  /** Default shard-population cap for [[autoShards]]. 32k sits inside
    * the measured ≥0.9-recall band of the shard-population knee
    * (SCALING.md r15hnswshards: recall@10 at ef=64 is 0.180 at
    * 250k/shard, 0.810 at 62.5k, 1.000 at 15.6k — r16 adds the row AT
    * THESE DEFAULTS). The r15 default of 256k pinned shards exactly at
    * the measured-collapse population whenever `autoShards` bound
    * (n/256k > parallelism, i.e. precisely at the 100× scale-up).
    * Memory is a non-issue either way: 32k × 64 dims ≈ 9 MB of floats
    * + ~3 MB of edges per shard; the cost of more shards is only the
    * k-bounded merge (shards · probes · k rows).
    */
  val TargetRowsPerShard: Long = 32768L

  /** Adaptive beam-width floor: the effective search beam is
    * max(ef, k, shardPop / EfPerShardRows). At fixed ef, recall falls
    * as the shard population grows (a constant-width beam covers a
    * shrinking fraction of a growing graph — the measured knee above);
    * scaling the floor with population holds the covered fraction
    * constant, so callers who pass a small ef (the SearchMode.Hnsw
    * default is 32) keep their recall when `autoShards` is overridden
    * with bigger shards. At the 32k default population the floor is 64.
    * Exact-mode calls (ef ≥ shard size) are unaffected — max() only
    * ever widens the beam.
    */
  val EfPerShardRows: Int = 512

  private[graft] def effectiveEf(ef: Int, k: Int, shardPop: Int): Int =
    math.max(math.max(ef, k), shardPop / EfPerShardRows)

  /** Shard count for an unsharded call: enough shards that no shard
    * exceeds `target` vectors, but never fewer than the cluster's
    * parallelism (one count() job; callers that already know n should
    * pass `shards` explicitly).
    */
  def autoShards(items: DataFrame, target: Long = TargetRowsPerShard): Int = {
    val n = items.count()
    val byRows = ((n + target - 1) / target).toInt
    math.max(items.sparkSession.sparkContext.defaultParallelism, math.max(1, byRows))
  }

  /** Approximate top-k: per-shard HNSW beam search + exact cosine rerank
    * of the beam, merged across shards. `ef ≥ shard size` ⇒ exact.
    */
  def hnswTopK(items: DataFrame, probes: DataFrame, dims: Int, k: Int = 10,
               m: Int = 8, efConstruction: Int = 48, ef: Int = 32,
               shards: Int = 0,
               itemId: String = "vec_id", itemVec: String = "embedding",
               probeId: String = "qid", probeVec: String = "qv"): DataFrame =
    SimilaritySearch.topKByProbe(
      shardBeams(items, probes, k, m, efConstruction, ef, shards,
        itemId, itemVec, probeId, probeVec)
        .withColumn("score", round(col("score"), 6)), k, probeId, itemId)

  /** The pre-merge stage of [[hnswTopK]]: per-(shard, probe) local top-k
    * rows — AT MOST shards · probes · k of them, the entire shuffle the
    * operator pays (exposed so the bound is spec-pinnable).
    */
  private[ops] def shardBeams(items: DataFrame, probes: DataFrame, k: Int,
                              m: Int, efConstruction: Int, ef: Int, shards: Int,
                              itemId: String, itemVec: String,
                              probeId: String, probeVec: String): DataFrame = {
    require(m >= 2 && efConstruction >= m && ef >= 1, s"bad HNSW params m=$m efC=$efConstruction ef=$ef")
    val spark = items.sparkSession
    val nShards = if (shards > 0) shards else autoShards(items)
    val probeRows = probes.select(col(probeId).cast("long"), col(probeVec)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    require(probeRows.length <= 4096, s"probe batch too large: ${probeRows.length}")
    val probesB = spark.sparkContext.broadcast(probeRows)
    val outSchema = StructType(Seq(
      StructField(probeId, LongType), StructField(itemId, LongType),
      StructField("score", DoubleType)))
    perShard(items, nShards, m, efConstruction, itemId, itemVec, outSchema) { (buf, g) =>
      val efEff = effectiveEf(ef, k, buf.length)
      probesB.value.iterator.flatMap { case (qid, qv) =>
        // beam width scales with shard population (effectiveEf), but
        // only the shard-local top-k crosses the shuffle — the merge
        // needs no more than k rows per shard
        g.search(qv, efEff).take(k).map { case (idx, score) =>
          Row(qid, buf(idx)._1, score)
        }
      }
    }
  }

  /** Per shard of `items` — hash-partitioned by id into `nShards` — the rows
    * `out` gives for its members as (id, vector), sorted by id, and the
    * graph [[build]] makes of them; an empty shard gives none.
    */
  private def perShard(items: DataFrame, nShards: Int, m: Int, efConstruction: Int, itemId: String,
                       itemVec: String, outSchema: StructType)(
      out: (Array[(Long, Array[Float])], Graph) => Iterator[Row]): DataFrame = {
    implicit val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    items.select(col(itemId).cast("long"), col(itemVec))
      .repartition(nShards, col(itemId))
      .mapPartitions { rows =>
        val buf = rows.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toArray
        if (buf.isEmpty) Iterator.empty
        else {
          java.util.Arrays.sort(buf, Ordering.by((t: (Long, Array[Float])) => t._1))
          out(buf, build(buf, m, efConstruction))
        }
      }
  }

  /** Persist the per-shard graphs so recurring query batches skip the
    * build: one parquet row per node — (shard, pos, vec_id, level,
    * embedding, nbrs[0..level][..]) with neighbour links as in-shard
    * POSITIONS — behind the same [[graft.api.VersionedDir]]
    * manifest-flip discipline as the LSH/IVF index writers (readers
    * never see a partial graph). The node's hierarchy level is an
    * EXPLICIT column (and `nbrs` is trimmed to it): the reader must
    * reconstruct the same entry point and descent depth the builder
    * used, and inferring levels from adjacency-array length would read
    * every node as shard-max-level, collapsing the hierarchical descent.
    */
  def hnswIndexWrite(items: DataFrame, path: String, dims: Int,
                     m: Int = 8, efConstruction: Int = 48, shards: Int = 0,
                     itemId: String = "vec_id", itemVec: String = "embedding",
                     keepVersions: Int = 2): Unit = {
    val spark = items.sparkSession
    val nShards = if (shards > 0) shards else autoShards(items)
    val outSchema = StructType(Seq(
      StructField("shard", IntegerType), StructField("pos", IntegerType),
      StructField("vec_id", LongType), StructField("level", IntegerType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("nbrs", ArrayType(ArrayType(IntegerType)))))
    val graphRows = perShard(items, nShards, m, efConstruction, itemId, itemVec, outSchema) { (buf, g) =>
      val shard = org.apache.spark.TaskContext.getPartitionId()
      (0 until buf.length).iterator.map { pos =>
        val level = g.levelOf(pos)
        val lvls = (0 to level).map { l =>
          Option(g.neighbors(l)(pos)).map(_.toSeq).getOrElse(Seq.empty[Int])
        }
        Row(shard, pos, buf(pos)._1, level, buf(pos)._2.toSeq, lvls)
      }
    }
    new graft.api.VersionedDir(spark, path, keepVersions).replaceWith { dir =>
      graphRows.write.mode("overwrite").parquet(dir)
    }
  }

  /** Query a persisted index ([[hnswIndexWrite]]); `ef ≥ shard size` ⇒
    * exact, same contract as [[hnswTopK]]. `delta` is the incremental
    * sidecar, (id, vector) rows, NEW WINS: ids present in the delta are
    * dropped from graph results (their stored vectors are stale — the
    * node is still traversable, its result row is not emitted) and the
    * delta itself is scored exactly (it is small by construction — fold
    * into a rebuild when it stops being small, the same rule as the
    * LSH/IVF delta sidecars).
    */
  def hnswTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                      probes: Seq[(Long, Seq[Float])], k: Int = 10, ef: Int = 32,
                      delta: Option[DataFrame] = None,
                      itemId: String = "vec_id", itemVec: String = "embedding"): DataFrame =
    SimilaritySearch.topKByProbe(
      hnswCandidates(spark.read.parquet(graft.api.VersionedDir.resolve(spark, path)),
        probes, k, ef, delta, itemId, itemVec),
      k, "qid", itemId)

  /** A persisted graph relation ([[hnswIndexWrite]]) exchanged by shard, so
    * each partition holds whole shards.
    */
  private def shardGraph(raw: DataFrame): DataFrame =
    raw.select(col("shard"), col("pos"), col("vec_id"),
        col("level"), col("embedding"), col("nbrs"))
      .repartition(col("shard"))

  /** The graphs of a persisted graph relation ([[hnswIndexWrite]]), one
    * element per shard, rebuilt from their stored positions. Planned, not
    * run: the caller persists or searches it.
    */
  private[graft] def shardGraphs(raw: DataFrame): RDD[Shard] = shardGraph(raw).rdd.mapPartitions(shards)

  /** The live top-k of every (probe, shard) of `graphs`: (qid, id, cosine),
    * ids in `stale` skipped. One job, the probes in its closure.
    */
  private[graft] def searchShards(graphs: RDD[Shard], probes: Seq[(Long, Seq[Float])], k: Int, ef: Int,
                                  stale: Set[Long]): Array[(Long, Long, Double)] = {
    val probeArr = probes.map { case (qid, qv) => (qid, qv.toArray) }.toArray
    graphs.mapPartitions(_.flatMap(shard => probeArr.iterator.flatMap { case (qid, qv) =>
      shard.search(qv, k, ef, stale).map { case (id, score) => (qid, id, score) }
    })).collect()
  }

  /** The scored candidates of [[hnswTopKIndexed]] — (qid, itemId, score),
    * ≤ k live beam hits per (probe, shard) plus every live delta row.
    */
  private def hnswCandidates(raw: DataFrame, probes: Seq[(Long, Seq[Float])],
                             k: Int, ef: Int, delta: Option[DataFrame],
                             itemId: String, itemVec: String): DataFrame = {
    val spark = raw.sparkSession
    require(probes.size <= 4096, s"probe batch too large: ${probes.size}")
    val probeArr = probes.map { case (qid, qv) => (qid, qv.toArray) }.toArray
    val probesB = spark.sparkContext.broadcast(probeArr)
    // the ids a delta overlay suppresses in graph results (one collect)
    val deltaIds = delta.fold(Set.empty[Long])(
      _.select(col(itemId).cast("long")).collect().map(_.getLong(0)).toSet)
    require(deltaIds.size <= 1000000, s"delta too large to overlay: ${deltaIds.size} — rebuild")
    val deltaIdsB = spark.sparkContext.broadcast(deltaIds)
    val outSchema = StructType(Seq(
      StructField("qid", LongType), StructField(itemId, LongType),
      StructField("score", DoubleType)))
    implicit val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val graphBeams = shardGraph(raw).mapPartitions { rows =>
      shards(rows).flatMap(shard => probesB.value.iterator.flatMap { case (qid, qv) =>
        shard.search(qv, k, ef, deltaIdsB.value).map { case (id, score) => Row(qid, id, score) }
      })
    }
    val withDelta = delta.fold(graphBeams: DataFrame) { d =>
      import spark.implicits._
      lazy val probeDf = probeArr.toSeq.map { case (qid, qv) => (qid, qv.toSeq) }
        .toDF("qid", "qv").select(col("qid"), col("qv").cast("array<float>"))
      // VectorIndex-style sidecars carry a `deleted` tombstone column
      // (null vector): every delta id — live or tombstoned — suppresses
      // its stale graph row above; only LIVE rows score here
      val live = if (d.columns.contains("deleted")) d.filter(!col("deleted")) else d
      val deltaScored = SimilaritySearch.withProbes(
          live.select(col(itemId).cast("long"), col(itemVec)), probes, probeDf, key = None)
        .select(col("qid"), col(itemId),
          graft.functions.vector.vec_cosine(col(itemVec), col("qv")).cast("double").as("score"))
      graphBeams.unionByName(deltaScored)
    }
    withDelta.withColumn("score", round(col("score"), 6))
  }

  /** One shard's graph with the ids of its nodes, by position. */
  private[graft] final class Shard private[Hnsw] (ids: Array[Long], g: Graph) extends Serializable {
    /** The best `k` nodes for `qv` whose ids `stale` does not hold, as
      * (id, cosine), best first: a beam at the population-scaled width
      * ([[effectiveEf]]), of which only the top-k live rows are kept.
      */
    def search(qv: Array[Float], k: Int, ef: Int, stale: Set[Long]): Iterator[(Long, Double)] =
      g.search(qv, effectiveEf(ef, k, ids.length)).iterator
        .filter { case (idx, _) => !stale.contains(ids(idx)) }
        .take(k)
        .map { case (idx, score) => (ids(idx), score) }
  }

  /** The shards among one partition of [[shardGraph]]'s rows — hash
    * partitioning may put several whole shards in one — each graph
    * reassembled from its stored positions.
    */
  private def shards(rows: Iterator[Row]): Iterator[Shard] =
    rows.toSeq.groupBy(_.getInt(0)).iterator.map { case (_, nodes) =>
      val n = nodes.length
      val vecs = new Array[Array[Float]](n)
      val ids = new Array[Long](n)
      val levels = new Array[Int](n)
      val nbrSeqs = new Array[Seq[Seq[Int]]](n)
      nodes.foreach { r =>
        val pos = r.getInt(1)
        ids(pos) = r.getLong(2)
        levels(pos) = r.getInt(3)
        vecs(pos) = r.getSeq[Float](4).toArray
        nbrSeqs(pos) = r.getSeq[Seq[Int]](5)
      }
      val g = new Graph(vecs, vecs.map(norm), levels, 0)
      var pos = 0
      while (pos < n) {
        val lv = nbrSeqs(pos)
        var l = 0
        while (l < lv.length) {
          if (lv(l).nonEmpty) g.neighbors(l)(pos) = lv(l).toArray
          l += 1
        }
        pos += 1
      }
      // entry = deepest node, lowest pos on ties (the build invariant:
      // build() only moves the entry on a STRICTLY deeper insert, and
      // inserts ascend by pos)
      var e = 0; var eL = levels(0)
      var i = 1
      while (i < n) { if (levels(i) > eL) { e = i; eL = levels(i) }; i += 1 }
      g.entry = e
      new Shard(ids, g)
    }

  // ---- in-memory per-shard graph ----

  /** `sqrt(Σ v_i²)`, each component widened to double first. */
  private def norm(v: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { val x = v(i).toDouble; s += x * x; i += 1 }
    math.sqrt(s)
  }

  /** Deterministic "uniform" in (0,1) from an id (splitmix64 finalizer). */
  private def u01(id: Long): Double = {
    var z = id + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    ((z >>> 11).toDouble / (1L << 53).toDouble) max 1e-12
  }

  private final class Graph(vecs: Array[Array[Float]], norms: Array[Double],
                            levels: Array[Int], m: Int) extends Serializable {
    val n = vecs.length
    val maxLevel = if (n == 0) 0 else levels.max
    // adjacency per level: neighbors(level)(node) = growable int array
    val neighbors: Array[Array[Array[Int]]] =
      Array.tabulate(maxLevel + 1)(_ => new Array[Array[Int]](n))
    var entry = 0

    def levelOf(i: Int): Int = levels(i)

    def cosineNodes(a: Int, b: Int): Double = cosine(vecs(a), b)

    /** [[graft.functions.CosineSimilarity]]'s arithmetic: each component
      * widened to double before it is multiplied, 0 when a norm is.
      */
    def cosine(a: Array[Float], i: Int): Double = {
      val b = vecs(i)
      var s = 0.0; var na = 0.0
      var j = 0
      while (j < a.length) { val x = a(j).toDouble; s += x * b(j); na += x * x; j += 1 }
      val den = math.sqrt(na) * norms(i)
      if (den == 0.0) 0.0 else s / den
    }

    /** Beam search at one level from `start`, width `ef`, by descending
      * cosine (ties → lower id first, for determinism). CONSTRUCTION
      * passes `exclude` = the inserting node's own position so the beam
      * never selects the query node itself (cosine 1 would dominate the
      * beam and burn a neighbour slot on a self-edge — the r14 advice
      * defect). Other not-yet-inserted nodes REMAIN visitable during
      * construction, deliberately: this is a BATCH build (mapPartitions
      * holds every vector up front), and the level-0 id-chain walk over
      * the full buffer gives each insert shard-wide candidate
      * exploration — bounding it to the inserted prefix was measured to
      * collapse realistic-ef recall at 62.5k-vector shards from ~0.96
      * to ~0.80 (SCALING.md r15hnswshards). Forward edges to
      * later-inserted nodes are real edges at query time, and their
      * insert MERGES rather than overwrites, so nothing is lost.
      */
    def searchLayer(q: Array[Float], start: Int, ef: Int, level: Int,
                    exclude: Int = -1): Array[(Int, Double)] = {
      val visited = new java.util.HashSet[Integer]()
      // candidates: best-first by score desc then id asc
      val candOrd = Ordering.by[(Int, Double), (Double, Int)](t => (-t._2, t._1))
      val cand = scala.collection.mutable.PriorityQueue.empty[(Int, Double)](candOrd.reverse)
      // result: bounded, worst-first on top for eviction
      val resOrd = Ordering.by[(Int, Double), (Double, Int)](t => (t._2, -t._1))
      val res = scala.collection.mutable.PriorityQueue.empty[(Int, Double)](resOrd.reverse)
      val s0 = (start, cosine(q, start))
      visited.add(start); cand.enqueue(s0); res.enqueue(s0)
      while (cand.nonEmpty) {
        val (c, cScore) = cand.dequeue()
        val worst = res.head._2
        if (cScore < worst && res.size >= ef) { cand.clear() }
        else {
          val nbrs = neighbors(level)(c)
          // level 0 additionally walks the STRUCTURAL id-chain (c±1):
          // back-link pruning can orphan a node from its selected
          // neighbours, and the chain keeps the layer provably connected —
          // that is what turns "ef ≥ shard size" into an EXACTNESS
          // guarantee rather than a hope (and at realistic ef the extra
          // two edges only add recall)
          val deg = (if (nbrs != null) nbrs.length else 0) + (if (level == 0) 2 else 0)
          var i = 0
          while (i < deg) {
            val nb =
              if (nbrs != null && i < nbrs.length) nbrs(i)
              else if (i == deg - 2 || (nbrs == null && i == 0)) c - 1
              else c + 1
            if (nb >= 0 && nb < n && nb != exclude && !visited.contains(nb)) {
              visited.add(nb)
              val sc = cosine(q, nb)
              if (res.size < ef || sc > res.head._2 ||
                (sc == res.head._2 && nb < res.head._1)) {
                cand.enqueue((nb, sc))
                res.enqueue((nb, sc))
                if (res.size > ef) res.dequeue()
              }
            }
            i += 1
          }
        }
      }
      res.toArray.sortBy(t => (-t._2, t._1))
    }

    def search(q: Array[Float], ef: Int): Array[(Int, Double)] = {
      var ep = entry
      var lvl = maxLevel
      while (lvl > 0) {
        ep = searchLayer(q, ep, 1, lvl).head._1
        lvl -= 1
      }
      searchLayer(q, ep, ef, 0)
    }
  }

  /** The paper's neighbour-selection heuristic over a beam result:
    * candidates arrive (score desc, id asc); one is SELECTED only if it
    * is closer to q than to every neighbour already selected — pruning
    * same-direction redundancy so the m slots span directions — then
    * remaining slots fill with the nearest discards (keepPruned), which
    * preserves degree for the connectivity the exactness chain assumes.
    */
  private def selectDiverse(g: Graph, q: Array[Float],
                            cands: Array[(Int, Double)], m: Int): Array[Int] = {
    if (cands.length <= m) return cands.map(_._1)
    val selected = new scala.collection.mutable.ArrayBuffer[Int](m)
    val discarded = new scala.collection.mutable.ArrayBuffer[Int]()
    var i = 0
    while (i < cands.length && selected.length < m) {
      val (e, scoreToQ) = cands(i)
      var diverse = true
      var j = 0
      while (diverse && j < selected.length) {
        if (g.cosineNodes(e, selected(j)) > scoreToQ) diverse = false
        j += 1
      }
      if (diverse) selected += e else discarded += e
      i += 1
    }
    var d = 0
    while (selected.length < m && d < discarded.length) {
      selected += discarded(d)
      d += 1
    }
    selected.toArray
  }

  /** Sequential deterministic HNSW construction over id-sorted members. */
  private def build(buf: Array[(Long, Array[Float])], m: Int,
                    efConstruction: Int): Graph = {
    val n = buf.length
    val vecs = buf.map(_._2)
    val mL = 1.0 / math.log(m.toDouble)
    val levels = buf.map(t => math.min(31, (-math.log(u01(t._1)) * mL).toInt))
    val g = new Graph(vecs, vecs.map(norm), levels, m)
    if (n == 0) return g
    g.entry = 0
    var entryLevel = levels(0)
    var i = 1
    while (i < n) {
      val q = vecs(i)
      val nodeLevel = levels(i)
      var ep = g.entry
      var lvl = entryLevel
      while (lvl > nodeLevel) { // greedy descent above the node's level
        ep = g.searchLayer(q, ep, 1, lvl, exclude = i).head._1
        lvl -= 1
      }
      var l = math.min(nodeLevel, entryLevel)
      while (l >= 0) {
        // exclude = i: no self-edges; candidates may include
        // later-inserted nodes (batch build — see searchLayer's note),
        // whose own inserts MERGE with these back-links below
        val cands = g.searchLayer(q, ep, efConstruction, l, exclude = i)
        val mmax = if (l == 0) 2 * m else m
        // SELECT-NEIGHBORS-HEURISTIC (Malkov & Yashunin 2016, Alg. 4):
        // plain top-m selection gives clustered data no long-range edges
        // and recall collapses as shards grow — keep a candidate only if
        // it is closer to q than to every already-selected neighbour
        // (diversity), then fill remaining slots with the nearest
        // discards (keepPruned), all ties id-broken for determinism
        val sel = selectDiverse(g, q, cands, m)
        // MERGE with back-links earlier inserts wrote onto i (the r14
        // advice defect was overwriting them away), bounded at mmax
        val prior = Option(g.neighbors(l)(i)).getOrElse(Array.emptyIntArray)
        g.neighbors(l)(i) = (sel ++ prior.filterNot(sel.contains)).take(mmax)
        // bidirectional link + prune the neighbour back to mmax by score
        sel.foreach { nb =>
          val cur = Option(g.neighbors(l)(nb)).getOrElse(Array.emptyIntArray)
          val merged = (cur :+ i).distinct
          g.neighbors(l)(nb) =
            if (merged.length <= mmax) merged
            else {
              // back-link prune with the same diversity heuristic (the
              // paper applies Alg. 4 on both sides; measured +recall at
              // saturated shard populations, SCALING.md r15hnswshards)
              val ranked = merged.map(x => (x, g.cosine(vecs(nb), x)))
                .sortBy(t => (-t._2, t._1))
              selectDiverse(g, vecs(nb), ranked, mmax)
            }
        }
        ep = cands.head._1
        l -= 1
      }
      if (nodeLevel > entryLevel) { g.entry = i; entryLevel = nodeLevel }
      i += 1
    }
    g
  }
}
