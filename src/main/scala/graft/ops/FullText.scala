package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.core.Checkpoints
import graft.core.Checkpoints.MaterializeSyntax
import graft.functions.{textfn, textkernel, TextKernel}

/** Lexical retrieval and ranking over the `documents` corpus: TF-IDF terms,
  * Okapi BM25 keyword search, hybrid keyword+vector fusion (reciprocal-rank
  * fusion), and MMR diversification re-ranking.
  *
  * The reference ships pure vector retrieval (storage/base.py:283-346 —
  * `search`/`find_similar` are embedding-only); production vector stores it
  * targets (qdrant ≥1.10 hybrid queries, weaviate `hybrid` GraphQL) pair that
  * with a lexical scorer and rank fusion, so a migrating user needs these
  * alongside KNN/ANN. Formulas are the published ones: BM25 (Robertson &
  * Spärck Jones' probabilistic idf with tf saturation k1 and length
  * normalization b), RRF score Σ 1/(K + rank) with K=60 (Cormack et al.
  * 2009), MMR argmax λ·rel − (1−λ)·max-sim-to-selected (Carbonell &
  * Goldstein 1998).
  *
  * Cross-engine determinism (the oracle gate): tokens and hashes are the
  * repo-wide md5 conventions from [[graft.functions.textfn]]; per-term BM25
  * scores are rounded to 6 dp and summed as SCALED LONGS (order-independent
  * — a raw double sum would depend on row order); every ordering is by
  * (score DESC, doc_id ASC); cosines divide exact integer dot products by
  * IEEE-exact sqrt, so they are bit-identical in any engine.
  *
  * Scale shape: tf/df aggregations are map-side-combined `groupBy`s keyed by
  * (doc, term) / term; the df and query-side tables are vocabulary- or
  * query-bound and BROADCAST; top-k is orderBy+limit (TakeOrderedAndProject
  * — per-partition top-k, driver merges partitions×k rows). Only the final
  * ≤`kCand`-row rank windows are single-partition, and MMR's greedy loop
  * collects exactly the candidate page (bounded by construction, like the
  * reference's k≤5 RAG context merge).
  */
object FullText {

  private val Micro = 1e6

  /** words of a query string, driver-side (same kernel as the column twin). */
  private[graft] def queryTerms(query: String): Seq[String] =
    TextKernel.tokens(query).toSeq

  /** md5-parity ±1 sign for the hashing-trick embedding: bit 0 of md5 hex
    * chars 9-10 (the q_hash_embed convention). SQL twin:
    * CASE WHEN CAST('0x' || substr(md5(w), 9, 2) AS BIGINT) & 1 = 1 THEN -1 ELSE 1 END
    */
  private def hashSign(w: Column): Column =
    when(conv(substring(md5(w), 9, 2), 16, 10).cast(LongType).bitwiseAND(lit(1L)) === 1L,
      lit(-1L)).otherwise(lit(1L))

  /** Sparse hashing-trick embedding of each document: (id, bucket, weight),
    * bucket = hexhash32(word) % dims, weight = Σ ±1 over token OCCURRENCES
    * (multiplicity counts, like the dense [[graft.embed.HashEmbeddingBackend]]).
    * Zero-weight buckets are dropped. One token explode + one map-side-combined
    * agg keyed (id, bucket).
    */
  def hashEmbedBuckets(docs: DataFrame, dims: Int = 64, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol), explode(textkernel.word_tokens(col(textCol))).as("w"))
      .select(col(idCol), (textfn.hexhash32(col("w")) % dims).as("bucket"),
        hashSign(col("w")).as("sign"))
      .groupBy(col(idCol), col("bucket")).agg(sum(col("sign")).as("weight"))
      .filter(col("weight") =!= 0)

  /** The same sparse embedding for a literal query string — a ≤dims-row
    * DataFrame built through the SAME column kernels (convention parity by
    * construction, not by re-implementation).
    */
  private def queryBuckets(docs: DataFrame, query: String, dims: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    queryTerms(query).toDF("w")
      .select((textfn.hexhash32(col("w")) % dims).as("bucket"), hashSign(col("w")).as("sign"))
      .groupBy("bucket").agg(sum(col("sign")).as("qw"))
      .filter(col("qw") =!= 0)
  }

  // ------------------------------------------------------------- TF-IDF

  /** Top-k terms per document by tf·idf, idf = ln((N+1)/(df+1)).
    * Plan: tf agg keyed (doc, term) → shuffle join with the df table on term
    * (df is VOCABULARY-bound — web-scale corpora have 10⁸-10⁹ distinct terms,
    * far past broadcast range, so no hint: AQE broadcasts it when it happens
    * to be small) → per-doc rank window (WindowGroupLimit forwards ≤k rows
    * per doc through the window shuffle). Returns (doc_id, rank, term, tf,
    * score).
    */
  def tfIdfTopTerms(docs: DataFrame, k: Int = 5, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    // MATERIALIZED (r19): tf feeds BOTH the document-frequency aggregate
    // and the scoring join — the lineage cut stops the second
    // tokenize+explode+aggregate corpus pass (narrow (doc, term, tf) rows;
    // per-call state only)
    val tf = docs.select(col(idCol), explode(textkernel.word_tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .materialize(true)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col(idCol)).orderBy(desc("score"), asc("term"))
    tf.join(df, "term")
      .join(broadcast(n))
      .withColumn("score",
        round(col("tf") * log((col("n_docs") + 1) / (col("df") + lit(1.0))), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("score"))
  }

  // ------------------------------------------------------------- BM25

  /** Okapi BM25 per-(doc, query-term) partial scores over the materialized
    * per-doc term counts `pre` ([[bm25Page]]). Returns one row per matched
    * (doc, term): (id, term, tf, dl, df, score_micro).
    */
  private def bm25TermScores(pre: DataFrame, terms: Seq[String], k1: Double, b: Double,
                             idCol: String): DataFrame = {
    val dlCol = col("__h").getItem(terms.size).cast(LongType)
    // corpus stats: ONE tiny broadcast row; avgdl division is IEEE-exact given
    // the exact integer inputs, so both engines compute the same double
    val stats = pre.agg(count(lit(1)).as("n_docs"), sum(dlCol).as("tot_dl"))
    // (doc, term) rows only for terms the doc actually contains — the same
    // rows the old filtered explode produced
    val termArr = array(terms.map(lit): _*)
    val tf = pre.select(col(idCol), dlCol.as("dl"),
        posexplode(slice(col("__h"), 1, terms.size)).as(Seq("__i", "tf")))
      .filter(col("tf") > 0)
      .select(col(idCol), element_at(termArr, col("__i").cast("int") + 1).as("term"),
        col("dl"), col("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val avgdl = col("tot_dl").cast("double") / col("n_docs")
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val termScore = idf * col("tf") * (k1 + 1) /
      (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / avgdl))
    tf.join(broadcast(df), "term")
      .join(broadcast(stats))
      // round-then-scale to LONG micro-units: the per-doc sum below is an
      // exact integer sum, independent of row order (a double sum is not)
      .withColumn("score_micro", round(termScore * Micro).cast(LongType))
      .select(col(idCol), col("term"), col("tf"), col("dl"), col("df"), col("score_micro"))
  }

  /** BM25 top-k for a query string: Σ over matched query terms of
    * idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)), idf = ln(1+(N−df+0.5)/(df+0.5)).
    * Docs matching no term never enter the plan. Returns
    * (doc_id, n_terms, score), collected from one TakeOrderedAndProject
    * page: a DataFrame over the ≤ k local rows, in rank order.
    */
  def bm25TopK(docs: DataFrame, query: String, k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75,
               textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    bm25Page(docs, query, k, k1, b, textCol, idCol) { page =>
      docs.sparkSession.createDataFrame(java.util.Arrays.asList(page.collect(): _*), page.schema)
    }

  /** The BM25 top-k page of [[bm25TopK]], handed to `consume` while the
    * per-doc term counts it reads are materialized; they are released when
    * `consume` returns.
    */
  private[graft] def bm25Page[R](docs: DataFrame, query: String, k: Int, k1: Double, b: Double,
                                 textCol: String, idCol: String)(consume: DataFrame => R): R = {
    val terms = queryTerms(query).distinct
    require(terms.nonEmpty, s"query has no tokens: '$query'")
    // r20 (guide §2.4 / §4.1): ONE compiled-kernel pass over the corpus —
    // multi_marker_hits with one single-term set per query term counts each
    // term's occurrences AND the total token count (dl) together (same
    // TextKernel.tokens stream word_tokens wraps, so tf/dl are
    // value-identical to the old explode+filter+agg). The old plan
    // tokenized the corpus TWICE (the corpus-stats agg and the tf explode
    // re-derived `w` per consumer); the per-doc hit row here is ≤
    // |terms|+1 longs, materialized per call, and both consumers read it.
    val hits = docs.select(col(idCol),
      textkernel.multi_marker_hits(col(textCol), terms.map(Seq(_)),
        includeTotal = true).as("__h"))
    Checkpoints.scoped(hits) { pre =>
      consume(bm25TermScores(pre, terms, k1, b, idCol)
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_terms"),
          round(sum(col("score_micro")) / Micro, 6).as("score"))
        .orderBy(desc("score"), col(idCol).asc)
        .limit(k))
    }
  }

  // ------------------------------------------- persisted inverted index

  /** Driver-side twin of [[textfn.hexhash60]] (first 15 hex chars of md5)
    * — query terms hash to their bucket ON THE DRIVER, so the bucket
    * filter is a literal list and partition pruning happens at planning.
    */
  private[graft] def hexhash60Local(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Build a PERSISTED posting-list index for BM25 — the lexical twin of
    * [[SimilaritySearch.lshIndexWrite]]: at 100 TB you tokenize the corpus
    * ONCE at ingest, not per query. Postings are partitioned by
    * `bucket = hexhash60(term) % nBuckets`, so a query reads only its
    * terms' partitions (PartitionFilters — same static pruning as the ANN
    * indexes). Each posting row is fully DENORMALIZED —
    * (bucket, term, doc_id, tf, dl, df) — the classic posting-list trade:
    * a few extra bytes per row buy a query path with ZERO corpus-side
    * joins (df and doc length ride the row; only the tiny corpus-stats
    * row joins, broadcast). Written through [[graft.api.VersionedDir]]
    * (atomic replace, pinned readers survive rebuilds) with the corpus
    * stats as a flat `_stats` side table.
    */
  def invertedIndexWrite(docs: DataFrame, path: String, nBuckets: Int = 64,
                         textCol: String = "text", idCol: String = "doc_id",
                         keepVersions: Int = 2): Unit = {
    require(nBuckets >= 1, s"nBuckets must be positive: $nBuckets")
    new graft.api.VersionedDir(docs.sparkSession, path, keepVersions).replaceWith { dir =>
      val base = docs.select(col(idCol), textkernel.word_tokens(col(textCol)).as("w"))
        .select(col(idCol), col("w"), size(col("w")).cast(LongType).as("dl"))
      val tf = base.select(col(idCol), col("dl"), explode(col("w")).as("term"))
        .groupBy(col(idCol), col("term"), col("dl")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      tf.join(df, "term") // term-keyed shuffle join: vocabulary-bound, AQE broadcasts when small
        .withColumn("bucket", pmod(textfn.hexhash60(col("term")), lit(nBuckets.toLong)))
        .select(col("bucket"), col("term"), col(idCol), col("tf"), col("dl"), col("df"))
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(dir)
      base.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/_stats")
    }
  }

  /** BM25 top-k FROM THE PERSISTED INDEX — score-identical to
    * [[bm25TopK]] (same formula, same round-then-sum scaled-long
    * discipline, df fixed at build time = query-time df over the same
    * corpus), but the plan reads ONLY the query terms' bucket partitions
    * and does zero corpus-side joins: pruned scan → term filter (pushed)
    * → broadcast stats → per-doc integer sum → TakeOrderedAndProject.
    */
  def bm25TopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                      query: String, k: Int = 10,
                      k1: Double = 1.2, b: Double = 0.75,
                      nBuckets: Int = 64, idCol: String = "doc_id"): DataFrame = {
    val terms = queryTerms(query).distinct
    require(terms.nonEmpty, s"query has no tokens: '$query'")
    val dir = graft.api.VersionedDir.resolve(spark, path)
    val buckets = terms.map(t => hexhash60Local(t) % nBuckets).distinct
    val stats = graft.api.VersionedDir.readSide(spark, s"$dir/_stats")
    val avgdl = col("tot_dl").cast("double") / col("n_docs")
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val termScore = idf * col("tf") * (k1 + 1) /
      (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / avgdl))
    spark.read.parquet(dir)
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
      .join(broadcast(stats))
      .withColumn("score_micro", round(termScore * Micro).cast(LongType))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms"),
        round(sum(col("score_micro")) / Micro, 6).as("score"))
      .orderBy(desc("score"), col(idCol).asc)
      .limit(k)
  }

  // ------------------------------------------------------------- hybrid RRF

  /** Hash-embedding cosine of every document against a literal query, from
    * exact integers: cos = dot / sqrt(na·nb) over the sparse bucket weights.
    * Returns (id, dot, na, cos); docs with no overlapping bucket score
    * through dot=0. One agg shuffle keyed by id.
    */
  def hashEmbedCosine(docs: DataFrame, query: String, dims: Int = 64,
                      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    cosineFromBuckets(hashEmbedBuckets(docs, dims, textCol, idCol),
      queryBuckets(docs, query, dims), idCol)

  /** cosine scoring given prebuilt doc buckets — lets callers that also need
    * the buckets themselves (MMR's pairwise sims) compute them ONCE.
    */
  private def cosineFromBuckets(buckets: DataFrame, qb: DataFrame, idCol: String): DataFrame = {
    val nb = qb.agg(sum(col("qw") * col("qw")).as("nb"))
    buckets
      .join(broadcast(qb), Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("weight") * coalesce(col("qw"), lit(0L))).as("dot"),
        sum(col("weight") * col("weight")).as("na"))
      .join(broadcast(nb))
      .withColumn("cos",
        col("dot").cast("double") / sqrt((col("na") * col("nb")).cast("double")))
      .select(col(idCol), col("dot"), col("na"), col("cos"))
  }

  /** Hybrid retrieval: BM25 rank list ⊕ hash-embedding-cosine rank list,
    * fused by reciprocal-rank fusion score = Σ 1/(rrfK + rank). Each side
    * first takes its top `kCand` DISTRIBUTED (TakeOrderedAndProject); the
    * rank row_number windows then run on those ≤kCand-row results (the only
    * single-partition step, bounded by construction). Absent ranks
    * contribute 0 and surface as rank 0. Returns
    * (doc_id, vec_rank, bm25_rank, rrf_score).
    */
  def hybridRrf(docs: DataFrame, query: String, k: Int = 10, kCand: Int = 20,
                dims: Int = 64, rrfK: Int = 60,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // r20 (VERDICT r19 #2, carrying r18 #6): no window at all. The r19
    // Window.partitionBy(lit(0)) was optimized away at runtime (foldable
    // partition spec), leaving an unpartitioned WindowExec that moved the
    // candidate page to one partition WITH the warning spam. Both rank
    // lists come out of an orderBy().limit(kCand) — planned as
    // TakeOrderedAndProject, whose output is ONE partition in sort order
    // (pinned by PlanSpec) — so the rank is simply the row position:
    // monotonically_increasing_id() numbers rows 0..n-1 within the single
    // partition 0. Ranks are identical to the old row_number (same total
    // order, same tie-break), with zero exchanges and zero WindowExecs.
    // ...which holds only while the limit plans as TakeOrderedAndProject
    val topKMax = docs.sparkSession.conf.get("spark.sql.execution.topKSortFallbackThreshold").toInt
    require(kCand < topKMax, s"hybridRrf: kCand $kCand must be below " +
      s"spark.sql.execution.topKSortFallbackThreshold $topKMax, else the candidate " +
      "pages plan as sort + limit and their ranks depend on the physical plan")
    def posRank(rankCol: String)(page: DataFrame): DataFrame =
      page.withColumn(rankCol, (monotonically_increasing_id() + 1).cast("int"))
    val vecTop = posRank("vec_rank")(
        hashEmbedCosine(docs, query, dims, textCol, idCol)
          .orderBy(desc("cos"), col(idCol).asc).limit(kCand))
      .select(col(idCol), col("vec_rank"))
    // the BM25 page is already local and in rank order: rank it on the driver
    val bmPage = bm25TopK(docs, query, kCand, textCol = textCol, idCol = idCol)
      .select(col(idCol))
    val bmTop = docs.sparkSession.createDataFrame(
      java.util.Arrays.asList(bmPage.collect().zipWithIndex
        .map { case (r, i) => Row(r.get(0), i + 1) }: _*),
      StructType(Seq(bmPage.schema(idCol), StructField("bm25_rank", IntegerType, nullable = false))))
    vecTop.join(bmTop, Seq(idCol), "full_outer")
      .withColumn("rrf_score", round(
        coalesce(lit(1.0) / (col("vec_rank") + rrfK), lit(0.0)) +
          coalesce(lit(1.0) / (col("bm25_rank") + rrfK), lit(0.0)), 6))
      .withColumn("vec_rank", coalesce(col("vec_rank"), lit(0)).cast(LongType))
      .withColumn("bm25_rank", coalesce(col("bm25_rank"), lit(0)).cast(LongType))
      .orderBy(desc("rrf_score"), col(idCol).asc)
      .limit(k)
  }

  // ------------------------------------------------------------- MMR

  /** MMR diversification over the hash-embedding candidate page: take the
    * top `kCand` docs by query cosine (distributed), then greedily pick k
    * docs maximizing λ·rel − (1−λ)·max-sim-to-already-picked (Carbonell &
    * Goldstein; maxSim over the empty set is 0, so pick 1 is argmax rel).
    *
    * The greedy loop is inherently sequential in k and runs DRIVER-side on
    * exactly the candidate page (kCand rows + their kCand² pairwise
    * cosines) — the same bounded-collect posture as the reference's RAG
    * context merge. Candidate selection and all similarity math stay
    * distributed and integer-exact; driver arithmetic is the same IEEE
    * mul/sub the oracle replays, so scores are bit-identical.
    *
    * Returns (pick, doc_id, rel, mmr_score) with pick = 1..k in selection
    * order.
    */
  def mmrRerank(docs: DataFrame, query: String, k: Int = 5, kCand: Int = 20,
                lambda: Double = 0.5, dims: Int = 64,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(k >= 1 && kCand >= k, s"need kCand >= k >= 1: k=$k kCand=$kCand")
    // the corpus-wide bucket table feeds BOTH the query cosine and the
    // pairwise candidate sims — compute the token scan + agg once
    // r20 (VERDICT r19 #6): materialize the bucket table as checkpoint
    // blocks instead of `.persist()` — the CacheManager route paid the
    // columnar cache encode plus plan-normalization lookups on every one
    // of the candidate/sims scans below; checkpoint blocks are the narrow
    // rows as-is, released explicitly when the candidate page is done.
    val allBuckets = hashEmbedBuckets(docs, dims, textCol, idCol).materialize(true)
    try {
      // ONE collect of the candidate page: (id, rel) pairs, kCand rows
      val candPage = cosineFromBuckets(allBuckets, queryBuckets(docs, query, dims), idCol)
        .orderBy(desc("cos"), col(idCol).asc).limit(kCand)
        .select(col(idCol), col("cos").as("rel"))
        .as[(Long, Double)].collect()
      val candIds = candPage.map(_._1).toSeq
      val buckets = allBuckets.filter(col(idCol).isin(candIds: _*))
      // pairwise candidate cosines from exact integers: one self-equi-join on
      // bucket over the ≤kCand·dims candidate rows, agg keyed (a, b)
      val a = buckets.select(col(idCol).as("a"), col("bucket"), col("weight").as("wa"))
      val bSide = buckets.select(col(idCol).as("b"), col("bucket"), col("weight").as("wb"))
      val norms = buckets.groupBy(col(idCol)).agg(sum(col("weight") * col("weight")).as("nn"))
      val sims = a.join(bSide, "bucket").filter(col("a") =!= col("b"))
        .groupBy(col("a"), col("b")).agg(sum(col("wa") * col("wb")).as("dot"))
        .join(norms.select(col(idCol).as("a"), col("nn").as("na")), "a")
        .join(norms.select(col(idCol).as("b"), col("nn").as("nb")), "b")
        .select(col("a"), col("b"),
          (col("dot").cast("double") / sqrt((col("na") * col("nb")).cast("double"))).as("sim"))
        .as[(Long, Long, Double)].collect()
        .map { case (x, y, s) => (x, y) -> s }.toMap
      val rel = candPage.toMap
      val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double, Double)]
      val remaining = scala.collection.mutable.SortedSet[Long](candIds: _*)
      for (step <- 1 to math.min(k, candIds.size)) {
        // argmax over remaining, ties to the smallest id (SortedSet order +
        // strict > keeps the first maximum)
        var bestId = -1L; var bestScore = Double.NegativeInfinity
        for (id <- remaining) {
          val maxSim = if (picked.isEmpty) 0.0
            else picked.map(p => sims.getOrElse((id, p._2), 0.0)).max
          val s = lambda * rel(id) - (1 - lambda) * maxSim
          if (s > bestScore) { bestScore = s; bestId = id }
        }
        // HALF_UP like Spark round()/DuckDB round() — rint's half-even differs
        val rounded = BigDecimal(bestScore).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        picked += ((step, bestId, rel(bestId), rounded))
        remaining -= bestId
      }
      picked.toSeq.toDF("pick", idCol, "rel", "mmr_score")
        .withColumn("rel", round(col("rel"), 6))
    } finally graft.core.Checkpoints.release(allBuckets)
  }

  // ------------------------------------------------------------- bigram LM

  /** Self-trained bigram-LM surprisal per document — the n-gram-LM quality
    * signal of CCNet-style pipelines (Wenzek et al. 2020 score corpora with a
    * KenLM 5-gram; the 2-gram here is the same filter shape with the model
    * trained ON the corpus, like [[TextAnalysis.decontaminate]]'s self-gate).
    * P(w2|w1) = (B(w1,w2)+1) / (U(w1)+V)  (add-one smoothing; U = corpus
    * occurrences of w1, V = vocabulary size), per-doc score = mean −ln P over
    * the doc's bigram positions.
    *
    * Determinism: each position's −ln P is rounded to LONG micro-nats —
    * the per-doc sum is an exact integer sum (order-independent), and the
    * distinct (B, U) input pairs are few, so the round boundary is touched
    * with negligible probability in ANY engine pair.
    *
    * Scale shape: counts are map-side-combined aggs; scoring joins instances
    * to the counts tables on (w1,w2) / w1 — both sides shuffle-keyed by the
    * join key (counts tables ≪ instance table; Spark broadcasts them when
    * small). Low-surprisal docs ≈ repetitive/templated; high ≈ OOV-heavy.
    * Returns one row per input doc: (doc_id, n_bigrams, avg_neg_logp).
    */
  def bigramSurprisal(docs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame =
    bigramSurprisalRaw(docs, textCol, idCol)
      .select(col(idCol), col("n_bigrams"),
        coalesce(round(col("s") / (col("n_bigrams") * Micro), 6), lit(0.0))
          .as("avg_neg_logp"))

  /** [[bigramSurprisal]] with the EXACT integer accumulator exposed:
    * (id, n_bigrams, s) where `s` is the per-doc sum of micro-nat bigram
    * surprisals (null when the doc has no bigram). The integer form is
    * what lets downstream consumers ([[surprisalBuckets]]) stay exact.
    */
  private[graft] def bigramSurprisalRaw(docs: DataFrame, textCol: String,
                                        idCol: String): DataFrame = {
    val toks = docs.select(col(idCol), textkernel.word_tokens(col(textCol)).as("w"))
    val pairs = toks.select(col(idCol), explode(when(size(col("w")) >= 2,
        transform(sequence(lit(1), size(col("w")) - 1),
          i => struct(element_at(col("w"), i).as("w1"), element_at(col("w"), i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("p"))
      .select(col(idCol), col("p.w1"), col("p.w2"))
    val uni = toks.select(explode(col("w")).as("w1")).groupBy("w1")
      .agg(count(lit(1)).as("uc"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    // pre-aggregate occurrences to (doc, w1, w2, k) BEFORE joining the LM
    // counts: the join input shrinks by within-doc bigram multiplicity,
    // and — the 100× concern — the Zipf heavy hitters ("of the" in every
    // doc) join once per document instead of once per occurrence, so the
    // count-table join stops amplifying on exactly the keys that skew it.
    // Arithmetic is unchanged: n = Σk, s = Σ k · surprisal(w1,w2).
    // MATERIALIZED (r19, guide §2.3/§2.4): both the bigram count table and
    // the scored side derive from this one table, so truncating lineage
    // here stops the plan re-scanning/re-exploding the corpus per consumer
    // (per-call state — recomputed on every invocation, never reused
    // across runs).
    val docPairs = pairs.groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("k")).materialize(true)
    // B(w1,w2) as an agg of docPairs — Σ_docs k ≡ the corpus occurrence
    // count, but the shuffle carries doc-collapsed rows instead of every
    // bigram INSTANCE (r19: one fewer corpus-scale explode+exchange)
    val big = docPairs.groupBy("w1", "w2").agg(sum("k").as("bc"))
    val scored = docPairs
      .join(big, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"), "left")
      .join(broadcast(vocab))
      .withColumn("neg_logp_micro",
        round(-log((coalesce(col("bc"), lit(0L)) + lit(1.0)) /
          (coalesce(col("uc"), lit(0L)) + col("v"))) * Micro).cast(LongType))
      .groupBy(col(idCol))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("k") * col("neg_logp_micro")).as("s"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("s"))
  }

  /** Interpolated Kneser-Ney n-gram surprisal at ANY order ≥ 3 — ONE
    * order-parameterized fold replacing the r16 trigram / r17 fourgram
    * hand-unrolled ladders (both now delegate here), shipping the KenLM
    * deployment order 5 (CCNet scores with a KenLM 5-gram; Wenzek et al.
    * 2020) as a parameter value, not new code. Standard interpolated KN
    * with a fixed absolute discount D (Chen & Goodman 1999 eq. 4.22
    * family), self-trained:
    *
    *   P_n(wₙ|w₁..wₙ₋₁) = (max(c(w₁..wₙ)−D, 0) + W·P_{n−1}) / c(w₁..wₙ₋₁·)
    *   P_j(wₙ|ctxⱼ)     = (max(N1+(·ctxⱼwₙ)−D, 0) + D·N1+(ctxⱼ·)·P_{j−1}) / N1+(·ctxⱼ·)   (2 ≤ j < n)
    *   P_1(wₙ)          = (N1+(·wₙ) + 1) / (N1+(··) + V)
    *
    * where W = D·N1+(w₁..wₙ₋₁·) (+ the pruned mass when `minCount` > 1 —
    * the KenLM renormalize-into-backoff behavior), every level's
    * continuation table is an aggregation of the PREVIOUS level's type
    * table (the Kneser-Ney "count of contexts" chain: c_n → low_{n−1} →
    * … → low_2 → cont), and the +1/V Laplace floor keeps foreign-corpus
    * scores finite. Per-doc score = mean −ln P over n-gram positions,
    * each rounded to LONG micro-nats first (integer sums are
    * order-independent → deterministic).
    *
    * Scale shape (measured for order 3 in SCALING.md r17kncurve; the
    * fold preserves it at every order): documents collapse to
    * (doc, w₁..wₙ, k) BEFORE the count joins so Zipf heavy hitters join
    * once per doc; all count tables are map-side-combined aggs of the
    * single c_n type aggregation, shuffled on their own join keys; the
    * self-trained path consolidates every stat onto the type table so
    * the doc side pays ONE (w₁..wₙ)-keyed join. Pruning (`minCount`)
    * shrinks the doc-side LM table by the singleton fraction — on Zipf
    * corpora the majority of types — at every order.
    *
    * Returns one row per input doc: (idCol, n_<order>grams,
    * avg_neg_logp).
    */
  def ngramSurprisalKN(docs: DataFrame, order: Int,
                       textCol: String = "text", idCol: String = "doc_id",
                       discount: Double = 0.75,
                       minCount: Int = 1): DataFrame =
    finishKN(ngramSurprisalKNRaw2(order, docs, docs, textCol, idCol, discount, minCount),
      order, idCol)

  /** [[ngramSurprisalKN]] against a SEPARATE reference LM — the real
    * CCNet deployment shape (train the KenLM on clean Wikipedia, score
    * the crawl against it): count tables from `train`, scored positions
    * from `score`. Unseen n-grams / contexts take the interpolation
    * fallbacks for real, and a fully-unseen word bottoms out at the
    * +1/V continuation floor — no zero probabilities, every score
    * finite.
    */
  def ngramSurprisalKNAgainst(train: DataFrame, score: DataFrame, order: Int,
                              textCol: String = "text", idCol: String = "doc_id",
                              discount: Double = 0.75,
                              minCount: Int = 1): DataFrame =
    finishKN(ngramSurprisalKNRaw2(order, train, score, textCol, idCol, discount, minCount),
      order, idCol)

  /** Interpolated Kneser-Ney TRIGRAM surprisal — [[ngramSurprisalKN]]
    * at order 3 (kept as the named entry point the r16 gates and
    * [[surprisalBuckets]] bind to).
    */
  def trigramSurprisalKN(docs: DataFrame, textCol: String = "text",
                         idCol: String = "doc_id",
                         discount: Double = 0.75,
                         minCount: Int = 1): DataFrame =
    ngramSurprisalKN(docs, 3, textCol, idCol, discount, minCount)

  /** [[trigramSurprisalKN]] against a SEPARATE reference LM — see
    * [[ngramSurprisalKNAgainst]].
    */
  def trigramSurprisalKNAgainst(train: DataFrame, score: DataFrame,
                                textCol: String = "text",
                                idCol: String = "doc_id",
                                discount: Double = 0.75,
                                minCount: Int = 1): DataFrame =
    ngramSurprisalKNAgainst(train, score, 3, textCol, idCol, discount, minCount)

  /** Interpolated Kneser-Ney FOURGRAM surprisal — [[ngramSurprisalKN]]
    * at order 4 (the r17 hand-unrolled ladder, now a parameter value).
    */
  def fourgramSurprisalKN(docs: DataFrame, textCol: String = "text",
                          idCol: String = "doc_id",
                          discount: Double = 0.75,
                          minCount: Int = 1): DataFrame =
    ngramSurprisalKN(docs, 4, textCol, idCol, discount, minCount)

  /** [[ngramSurprisalKN]] with the exact integer accumulator exposed —
    * the [[surprisalBuckets]] contract at any order. */
  private[graft] def ngramSurprisalKNRaw(order: Int, docs: DataFrame,
                                         textCol: String, idCol: String,
                                         discount: Double,
                                         minCount: Int = 1): DataFrame =
    ngramSurprisalKNRaw2(order, docs, docs, textCol, idCol, discount, minCount)

  /** canonical count-column name per order (n_trigrams / n_fourgrams /
    * n_fivegrams keep the gate schemas the unrolled versions shipped).
    */
  private def knCountCol(order: Int): String = order match {
    case 3 => "n_trigrams"
    case 4 => "n_fourgrams"
    case 5 => "n_fivegrams"
    case n => s"n_${n}grams"
  }

  /** raw (id, n_grams, s) → public (id, n_grams, avg_neg_logp). */
  private def finishKN(raw: DataFrame, order: Int, idCol: String): DataFrame = {
    val cnt = knCountCol(order)
    raw.select(col(idCol), col(cnt),
      coalesce(round(col("s") / (col(cnt) * Micro), 6), lit(0.0))
        .as("avg_neg_logp"))
  }

  /** The order-parameterized KN fold. Emits the EXACT expression trees
    * the unrolled trigram/fourgram versions built (same aggregation
    * shapes, same join orders, same double associativity), so the
    * pre-existing kn/kn4/kn_pruned/kn_xc gates stay bit-identical; the
    * order shows up only in the number of (low_j, ctx_j) levels the fold
    * emits and the width of the type-table key.
    *
    * @param minCount KenLM-style count pruning (CCNet ships pruned
    *   KenLM models): top-order types with tc < minCount lose their
    *   discounted-count term, and that SAME mass — Σ max(tc−D, 0) over
    *   the context's pruned types — folds into the context's
    *   interpolation weight, so the pruned distribution still sums to 1
    *   over every seen context and routes the pruned probability
    *   through the next level down. Lower-order stats stay computed
    *   from the UNPRUNED type table (KenLM's counts-then-prune order).
    *   At minCount = 1 the expressions reduce to the unpruned originals
    *   bit-for-bit. The SCALE effect binds on the foreign-corpus path:
    *   the doc side's (w₁..wₙ) join reads the PRUNED type table.
    */
  private def ngramSurprisalKNRaw2(order: Int, train: DataFrame, docs: DataFrame,
                                   textCol: String, idCol: String,
                                   discount: Double,
                                   minCount: Int = 1): DataFrame = {
    require(order >= 3 && order <= 8, s"KN order must be in [3,8]: $order")
    require(discount > 0 && discount < 1, s"discount must be in (0,1): $discount")
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    val n = order
    val d = lit(discount)
    val wCols = (1 to n).map(i => s"w$i")
    val toks = train.select(col(idCol), textkernel.word_tokens(col(textCol)).as("w"))
    val grams = train.select(col(idCol),
        explode(textkernel.word_ngrams(col(textCol), n)).as("t"))
      .select(col(idCol) +: wCols.map(w => col(s"t.$w")): _*)
    // SCORED documents collapse to distinct n-grams with multiplicity
    // first (the self-trained path shares one aggregation: train eq docs)
    val scoreGrams =
      if (docs eq train) grams
      else docs.select(col(idCol),
          explode(textkernel.word_ngrams(col(textCol), n)).as("t"))
        .select(col(idCol) +: wCols.map(w => col(s"t.$w")): _*)
    // MATERIALIZED (r19, guide §2.4): on the self-trained path docGrams
    // feeds BOTH the type table and the scored side, and cN feeds every
    // count table below (ctx, the low_j chain, ctx_j, cont, totals) plus
    // the consolidated LM join — without lineage truncation the physical
    // plan re-scans, re-tokenizes and re-explodes the corpus once per
    // consumer (measured r19: 26 parquet scans / 24 Generates / 86
    // Exchanges in the order-5 plan). localCheckpoint is per-CALL state:
    // recomputed on every invocation, nothing persists across runs. The
    // KenLM analog is materializing the adjusted-counts table before
    // deriving the smoothing stats.
    // r20 (VERDICT r19 #3): docGrams' checkpoint is LAZY — the eager cN
    // job below is the one blocking build job, and computing cN's
    // aggregation materializes docGrams' blocks as a side effect (lazy
    // localCheckpoint persists partitions on first compute), so both
    // tables land in the block manager off ONE corpus pass instead of two
    // sequential blocking jobs (docGrams ~0.8s + cN ~0.7s serialized at
    // sf0.1). The scored side then reads the cached docGrams blocks, same
    // as before; the plan below the checkpoints is unchanged.
    val docGrams0 = scoreGrams.groupBy(col(idCol) +: wCols.map(col): _*)
      .agg(count(lit(1)).as("k"))
    val docGrams = if (docs eq train) docGrams0.materialize(false) else docGrams0
    // the LM: ONE top-order TYPE table; every stat below derives from it
    val cN =
      (if (docs eq train) docGrams.groupBy(wCols.map(col): _*).agg(sum("k").as("tc"))
       else grams.groupBy(wCols.map(col): _*).agg(count(lit(1)).as("tc")))
        .materialize(true)
    val ctxKeys = wCols.init
    // with pruning, each context also aggregates the discounted mass of
    // the types `minCount` removes — folded into the interpolation
    // weight below so the pruned model still sums to 1 over each seen
    // context; at minCount = 1 the column is omitted and the plan is
    // the unpruned one
    val ctx =
      if (minCount <= 1)
        cN.groupBy(ctxKeys.map(col): _*)
          .agg(sum("tc").as("csum"), count(lit(1)).as("mid")) // c(ctx·), N1+(ctx·)
      else
        cN.groupBy(ctxKeys.map(col): _*)
          .agg(sum("tc").as("csum"), count(lit(1)).as("mid"),
            sum(when(col("tc") < minCount, greatest(col("tc") - d, lit(0.0)))
              .otherwise(lit(0.0))).as("prunedMass"))
    // the Kneser-Ney continuation chain: low_j keyed on the LAST j words,
    // each level an agg of the level above (c_n → low_{n-1} → … → low_2)
    val lows = scala.collection.mutable.Map.empty[Int, DataFrame]
    var prevLevel: DataFrame = cN
    for (j <- (n - 1) to 2 by -1) {
      val lj = prevLevel.groupBy(wCols.takeRight(j).map(col): _*)
        .agg(count(lit(1)).as(s"lowc$j")) // N1+(· last-j-words)
      lows(j) = lj
      prevLevel = lj
    }
    // ctx_j = the context marginals of low_j: N1+(·ctx·), N1+(ctx·)
    val ctxs = (2 to n - 1).map { j =>
      j -> lows(j).groupBy(wCols.slice(n - j, n - 1).map(col): _*)
        .agg(sum(s"lowc$j").as(s"ctot$j"), count(lit(1)).as(s"ctyp$j"))
    }.toMap
    val cont = lows(2).groupBy(col(wCols.last)).agg(count(lit(1)).as("cw")) // N1+(·wₙ)
    val totals = lows(2).agg(count(lit(1)).as("ntypes"))
      .crossJoin(toks.select(explode(col("w")).as("u")).agg(count_distinct(col("u")).as("v")))
    // self-trained path: consolidate all stats onto the TYPE table so the
    // DOC side — the big side — pays ONE (w₁..wₙ)-keyed join instead of
    // 2n−2. Valid ONLY when every scored n-gram exists in the LM (train
    // eq docs); a FOREIGN corpus needs the per-LEVEL joins below so an
    // unseen n-gram in a SEEN context still reads that context's
    // csum/mid (true KN backoff), not a null row.
    //
    // r19 (guide §2.4): the context marginals (csum/mid/prunedMass on the
    // type table, ctot/ctyp on each low_j, cw on low_2) ride their source
    // tables as WINDOW aggregates instead of groupBy+join — every group
    // key exists by construction on this path, so the values are
    // identical row-for-row, and the n-1 marginal joins (each a type-
    // count-sized broadcast hash build at this sf) disappear: the LM
    // consolidation is n-2 suffix joins, nothing else.
    lazy val lm = {
      val ctxW = Window.partitionBy(ctxKeys.map(col): _*)
      var t = cN
        .withColumn("csum", sum("tc").over(ctxW))
        .withColumn("mid", count(lit(1)).over(ctxW))
      if (minCount > 1)
        t = t.withColumn("prunedMass",
          sum(when(col("tc") < minCount, greatest(col("tc") - d, lit(0.0)))
            .otherwise(lit(0.0))).over(ctxW))
      for (j <- (n - 1) to 2 by -1) {
        val cW = Window.partitionBy(wCols.slice(n - j, n - 1).map(col): _*)
        var lj = lows(j)
          .withColumn(s"ctot$j", sum(col(s"lowc$j")).over(cW))
          .withColumn(s"ctyp$j", count(lit(1)).over(cW))
        if (j == 2)
          lj = lj.withColumn("cw",
            count(lit(1)).over(Window.partitionBy(col(wCols.last))))
        t = t.join(lj, wCols.takeRight(j))
      }
      t
    }
    // the interpolation ladder, bottom-up: continuation floor, then one
    // backoff level per order below the top, then the top-order term
    val p1 = (coalesce(col("cw"), lit(0L)) + lit(1.0)) /
      (col("ntypes") + col("v"))
    var p: Column = p1
    for (j <- 2 to n - 1) {
      p = when(coalesce(col(s"ctot$j"), lit(0L)) > 0,
          (greatest(coalesce(col(s"lowc$j"), lit(0L)) - d, lit(0.0)) +
            d * coalesce(col(s"ctyp$j"), lit(0L)) * p) / col(s"ctot$j"))
        .otherwise(p)
    }
    // pruned types contribute a ZERO discounted-count term (their mass
    // rides the interpolation weight) — at minCount = 1 this is the
    // plain coalesce, keeping existing gates bit-identical
    val tcEff =
      if (minCount <= 1) coalesce(col("tc"), lit(0L))
      else when(coalesce(col("tc"), lit(0L)) >= minCount, col("tc"))
        .otherwise(lit(0L))
    val interpW =
      if (minCount <= 1) d * coalesce(col("mid"), lit(0L))
      else d * coalesce(col("mid"), lit(0L)) +
        coalesce(col("prunedMass"), lit(0.0))
    val pTop = when(coalesce(col("csum"), lit(0L)) > 0,
        (greatest(tcEff - d, lit(0.0)) + interpW * p) / col("csum"))
      .otherwise(p)
    // foreign path: the doc side joins the PRUNED type table (absent
    // rows read tc null -> 0, the same semantics tcEff applies) — the
    // LM state actually shrinks; the self-trained consolidated join
    // keeps all rows (scored n-grams all exist in-corpus) and prunes
    // arithmetically via tcEff
    val cNDoc = if (minCount <= 1) cN else cN.filter(col("tc") >= minCount)
    val statted =
      if (docs eq train) docGrams.join(lm, wCols, "left")
      else {
        var t = docGrams
          .join(cNDoc, wCols, "left")
          .join(ctx, ctxKeys, "left")
        for (j <- (n - 1) to 2 by -1) {
          t = t.join(lows(j), wCols.takeRight(j), "left")
            .join(ctxs(j), wCols.slice(n - j, n - 1), "left")
        }
        t.join(cont, Seq(wCols.last), "left")
      }
    val cnt = knCountCol(n)
    val scored = statted
      .join(broadcast(totals))
      .withColumn("neg_logp_micro", round(-log(pTop) * Micro).cast(LongType))
      .groupBy(col(idCol))
      .agg(sum(col("k")).as(cnt),
        sum(col("k") * col("neg_logp_micro")).as("s"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col(cnt), lit(0L)).as(cnt), col("s"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 — the
    * head/middle/tail split LLaMA-class corpora are built on): per
    * language, documents are cut into `nBuckets` equal-count bands by
    * their LM surprisal (here the self-trained bigram LM of
    * [[bigramSurprisal]], micro-nat integer arithmetic), lowest-surprisal
    * band first ("head" = most fluent).
    *
    * SCALE design — no global sort, no per-language single-partition
    * window over the corpus: the per-doc score is floored to MIL-nats
    * (`score_mnat = s / (n·1000)`, an exact integer in [0, ~30000]), and
    * the band boundaries are exact ORDER STATISTICS read off a
    * per-(lang, score_mnat) count histogram — a table bounded by
    * languages × score resolution (~30k rows/lang) regardless of corpus
    * size. Thresholds: t_k = min score with cumulative count ≥ ⌈k·n/B⌉;
    * assignment is `bucket = #{k : score > t_k}` via a broadcast
    * threshold join — ties at a boundary all land in the lower band
    * (deterministic; band sizes are approximately, not exactly, n/B,
    * same as value-thresholded CCNet). Documents with no bigram score
    * land in the WORST band (tail), never silently in head.
    *
    * Returns (id, lang, score_mnat, bucket, bucket_name) — bucket_name is
    * head/middle/tail for the canonical B = 3, "b<i>" otherwise.
    */
  def surprisalBuckets(docs: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id", langCol: String = "lang",
                       nBuckets: Int = 3, order: Int = 2): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2: $nBuckets")
    require(order >= 2 && order <= 8,
      s"order must be 2 (add-one bigram) or 3..8 (interpolated KN): $order")
    // order >= 3 buckets on the interpolated-KN LM at that order (the
    // r18 fold makes 5 — the KenLM/CCNet deployment — a config value);
    // the same exact-integer pipeline either way
    val raw = (if (order == 2)
        bigramSurprisalRaw(docs, textCol, idCol)
          .withColumnRenamed("n_bigrams", "__np")
      else
        ngramSurprisalKNRaw(order, docs, textCol, idCol, 0.75)
          .withColumnRenamed(knCountCol(order), "__np"))
      .join(docs.select(col(idCol), col(langCol)), Seq(idCol))
    // NULL langs never equi-join (the r14 advice finding: every __t_k
    // came back null and all null-lang docs silently landed in "head").
    // Key the histogram and the threshold join on a coalesced sentinel —
    // BCP-47 "und" (undetermined) — so unknown-language docs get real
    // per-group order statistics; the OUTPUT lang column stays original.
    val langKey = coalesce(col(langCol), lit("und"))
    // MATERIALIZED (r19): the per-doc score table feeds BOTH the histogram
    // (threshold derivation) and the output threshold join — without
    // lineage truncation the whole LM-scoring subtree runs twice. Narrow
    // (id, lang, score) rows, the CCNet posture of materializing per-doc
    // perplexities before bucketing; per-call state only.
    val scored = raw.withColumn("score_mnat",
      when(col("__np") > 0, expr("s div (__np * 1000)")))
      .withColumn("__lang", langKey)
      .materialize(true)
    val hist = scored.filter(col("score_mnat").isNotNull)
      .groupBy(col("__lang"), col("score_mnat")).agg(count(lit(1)).as("__c"))
    val cum = hist.withColumn("__cum",
      sum(col("__c")).over(Window.partitionBy(col("__lang")).orderBy("score_mnat")))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy(col("__lang"))))
    // cum ≥ ⌈k·n/B⌉ ⇔ cum·B ≥ k·n for integer cum — no floats needed
    val thCols = (1 until nBuckets).map { k =>
      min(when(col("__cum") * nBuckets >= col("__n") * k, col("score_mnat")))
        .as(s"__t$k")
    }
    val thresholds = cum.groupBy(col("__lang")).agg(thCols.head, thCols.tail: _*)
    val bucket = (1 until nBuckets).map { k =>
      when(col("score_mnat") > col(s"__t$k"), 1).otherwise(0)
    }.reduce(_ + _)
    val name = if (nBuckets == 3)
      when(col("bucket") === 0, "head").when(col("bucket") === 1, "middle")
        .otherwise("tail")
    else concat(lit("b"), col("bucket").cast("string"))
    scored.join(broadcast(thresholds), Seq("__lang"), "left")
      .withColumn("bucket",
        when(col("score_mnat").isNull, lit(nBuckets - 1)).otherwise(bucket))
      .withColumn("bucket_name", name)
      .select(col(idCol), col(langCol), col("score_mnat"), col("bucket"),
        col("bucket_name"))
  }
}
