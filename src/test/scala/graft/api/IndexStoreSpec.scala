package graft.api

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark

/** Versioned parquet store: atomic swaps (concurrent readers never observe a
  * missing index), deterministic old-wins upsert (reference conflict-ignore,
  * pgvector provider.py:65-72), version pruning, and the one on-disk layout:
  * the installed version wins over an unflipped dir, a never-installed root
  * resolves to its newest dir, and a root of bare parquet files is rejected.
  */
class IndexStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "content")
      .withColumn("object_keys", array(concat(lit("t:"), col("doc_id"))))
      .withColumn("vector", typedLit(Seq(1.0f, 0.0f)))
      .withColumn("metadata", map(lit("table"), lit("t")))

  private def newStore(name: String): ParquetIndexStore = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-store").toString
    new ParquetIndexStore(spark, s"$tmp/$name")
  }

  test("replace keeps a concurrent reader's version readable (atomic swap)") {
    val store = newStore("swap")
    store.replace(docs(1L -> "one", 2L -> "two"))
    val reader = store.read() // resolves v00001
    reader.count()            // materialize the file listing
    store.replace(docs(3L -> "three"))
    // the old version must still be fully readable after the flip
    assert(reader.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(store.read().select("doc_id").as[Long].collect().toSet == Set(3L))
  }

  test("upsert is old-wins on doc_id conflict and inserts new rows") {
    val store = newStore("upsert")
    store.replace(docs(1L -> "original", 2L -> "two"))
    store.upsert(docs(1L -> "conflicting rewrite", 3L -> "three"))
    val m = store.read().select("doc_id", "content").as[(Long, String)].collect().toMap
    assert(m == Map(1L -> "original", 2L -> "two", 3L -> "three"))
  }

  // --- O(batch) mutations: upsert/delete land as typed delta sidecars ---

  test("upsert writes an add-delta, not a rewrite; shared object keys are NOT shadowed") {
    val store = newStore("updelta")
    // two docs sharing one object key (multi-chunk) — an insert with that
    // key must coexist with them, unlike a streaming put-batch
    val multi = Seq(10L -> "chunk a", 11L -> "chunk b").toDF("doc_id", "content")
      .withColumn("object_keys", array(lit("t:X")))
      .withColumn("vector", typedLit(Seq(1.0f, 0.0f)))
      .withColumn("metadata", map(lit("table"), lit("t")))
    store.replace(multi)
    val vd = new VersionedDir(spark, storeRoot(store))
    val v0 = vd.currentVersion.get
    val more = docs(11L -> "conflict", 12L -> "new").drop("object_keys")
      .withColumn("object_keys", array(lit("t:X")))
    store.upsert(more)
    assert(vd.currentVersion.contains(v0), "upsert rewrote the base version")
    assert(vd.listDeltas.map(d => (d.seq, d.kind)) == Seq((1L, "add")))
    val m = store.read().select("doc_id", "content").as[(Long, String)].collect().toMap
    // 11 old-wins; 10 kept despite sharing key t:X with the inserted 12
    assert(m == Map(10L -> "chunk a", 11L -> "chunk b", 12L -> "new"))
  }

  // merge-on-read pins the base schema on delta reads, so a drifted batch
  // would otherwise surface as silent nulls (or a renamed column vanish)
  test("schema drift in an upsert or delta batch fails loudly; the index is unchanged") {
    val store = newStore("drift")
    store.replace(docs(1L -> "one", 2L -> "two"))
    def snapshot() = store.read().orderBy("doc_id").collect().map(_.toString).toSeq
    val before = snapshot()
    val missing = intercept[IllegalArgumentException](
      store.upsert(docs(3L -> "three").drop("metadata")))
    assert(missing.getMessage.contains("metadata"), missing.getMessage)
    val renamed = intercept[IllegalArgumentException](
      store.appendDelta(docs(4L -> "four").withColumnRenamed("content", "body")))
    assert(renamed.getMessage.contains("content") && renamed.getMessage.contains("body"),
      renamed.getMessage)
    val retyped = intercept[IllegalArgumentException](
      store.upsert(docs(5L -> "five").withColumn("doc_id", col("doc_id").cast("int"))))
    assert(retyped.getMessage.contains("doc_id"), retyped.getMessage)
    assert(snapshot() == before)
    assert(store.deltaCount == 0)
    // column order and nullability are not drift
    store.upsert(docs(6L -> "six").select("metadata", "vector", "object_keys", "content", "doc_id"))
    assert(store.read().select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 6L))
  }

  test("delete writes a del tombstone; a later re-insert revives the id") {
    val store = newStore("deldelta")
    store.replace(docs(1L -> "a", 2L -> "b"))
    val vd = new VersionedDir(spark, storeRoot(store))
    val v0 = vd.currentVersion.get
    store.delete(Seq(2L))
    assert(vd.currentVersion.contains(v0), "delete rewrote the base version")
    assert(vd.listDeltas.map(_.kind) == Seq("del"))
    assert(store.read().select("doc_id").as[Long].collect().toSet == Set(1L))
    // re-insert the deleted id: the add-delta outsequences the tombstone
    store.upsert(docs(2L -> "b2"))
    assert(store.read().select("doc_id", "content").as[(Long, String)].collect().toMap ==
      Map(1L -> "a", 2L -> "b2"))
    // and a later delete wins again over that add
    store.delete(Seq(2L))
    assert(store.read().select("doc_id").as[Long].collect().toSet == Set(1L))
  }

  test("deltas auto-fold into a fresh base version at foldEvery") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-store").toString
    val store = new ParquetIndexStore(spark, s"$tmp/fold", foldEvery = 3)
    store.replace(docs(1L -> "a"))
    val vd = new VersionedDir(spark, s"$tmp/fold")
    store.upsert(docs(2L -> "b"))
    store.delete(Seq(1L))
    assert(vd.currentVersion.contains("v00001") && vd.listDeltas.size == 2)
    store.upsert(docs(3L -> "c")) // third delta trips foldEvery=3
    assert(vd.currentVersion.exists(_ != "v00001") && vd.listDeltas.isEmpty)
    assert(store.read().select("doc_id").as[Long].collect().toSet == Set(2L, 3L))
  }

  private def storeRoot(store: ParquetIndexStore): String =
    new org.apache.hadoop.fs.Path(store.read().inputFiles.head).getParent.getParent.toString

  test("delete and clear; read after clear throws") {
    val store = newStore("del")
    store.replace(docs(1L -> "a", 2L -> "b", 3L -> "c"))
    store.delete(Seq(2L))
    assert(store.read().select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
    store.clear()
    assert(!store.exists)
    intercept[Throwable] { store.read().count() }
  }

  test("old versions are pruned, keeping current + previous") {
    val store = newStore("prune")
    (1 to 4).foreach(i => store.replace(docs(i.toLong -> s"v$i")))
    assert(store.read().select("content").as[String].head() == "v4")
    // only the last two version dirs remain on disk
    val root = new org.apache.hadoop.fs.Path(
      store.read().inputFiles.head).getParent.getParent
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(root).map(_.getPath.getName).filter(_.startsWith("v")).sorted
    assert(versions.toSeq == Seq("v00003", "v00004"))
  }

  test("keepVersions=3 keeps a reader two rebuilds behind readable") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-store").toString
    val store = new ParquetIndexStore(spark, s"$tmp/lease", keepVersions = 3)
    store.replace(docs(1L -> "v1"))
    val laggard = store.read() // resolves v00001
    laggard.count()
    store.replace(docs(2L -> "v2"))
    store.replace(docs(3L -> "v3")) // laggard now two rebuilds behind
    assert(laggard.select("content").as[String].head() == "v1")
    store.replace(docs(4L -> "v4")) // v00001 pruned now (4 - keepVersions)
    intercept[Throwable] { laggard.count() }
  }

  test("version names sort numerically past five digits (v99999 -> v100000)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-store").toString
    val root = s"$tmp/wide"
    val dir = new VersionedDir(spark, root, keepVersions = 2)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, "v99999"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, "v100000"))
    assert(dir.listVersions == Seq("v99999", "v100000")) // numeric, not lexicographic
    assert(dir.currentVersion.contains("v100000"))       // no-manifest fallback = newest
    dir.replaceWith(d => docs(1L -> "next").write.parquet(d))
    assert(dir.currentVersion.contains("v100001"))       // derives past the 5-digit width
    assert(spark.read.parquet(dir.currentDir.get).select("content").as[String].head() == "next")
  }

  test("racing writers reserve distinct version dirs (no clobber)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-store").toString
    val dir = new VersionedDir(spark, s"$tmp/race", keepVersions = 10)
    // plain-file payloads: the property under test is the version-name
    // reservation, and a concurrent Spark write job failing for unrelated
    // reasons (observed flake) would silently drop a version via the bare
    // Thread and fail the count
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { i =>
      new Thread(() => try {
        dir.replaceWith { d =>
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
          java.nio.file.Files.write(java.nio.file.Paths.get(d, "payload"),
            s"w$i".getBytes("UTF-8"))
        }
      } catch { case t: Throwable => failures.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(failures.isEmpty, s"writer failed: ${failures.peek()}")
    assert(dir.listVersions.size == 4) // four distinct dirs, none overwritten
    assert(dir.listVersions == Seq("v00001", "v00002", "v00003", "v00004"))
  }

  test("racing delta writers claim distinct sequence numbers and both stay visible") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-store").toString
    val dir = new VersionedDir(spark, s"$tmp/deltas")
    dir.replaceWith(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    // both writers are inside `write` at once, so each has picked its
    // number (and temp dir) before either renames; plain-file payloads as
    // above, one file per writer holding its ids
    val inWrite = new java.util.concurrent.CountDownLatch(2)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { w =>
      new Thread(() => try {
        dir.appendDelta { d =>
          inWrite.countDown()
          assert(inWrite.await(60, java.util.concurrent.TimeUnit.SECONDS))
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
          java.nio.file.Files.write(java.nio.file.Paths.get(d, s"payload_w$w"),
            (0 until 3).map(i => (w * 10 + i).toString).mkString("\n").getBytes("UTF-8"))
        }
      } catch { case t: Throwable => failures.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(failures.isEmpty, s"writer failed: ${failures.peek()}")
    val deltas = dir.listDeltas
    assert(deltas.map(_.seq) == Seq(1L, 2L))
    val ids = deltas.flatMap { d =>
      val files = new java.io.File(new java.net.URI(d.path).getPath).listFiles()
        .filter(f => f.isFile && f.getName.startsWith("payload_"))
      files.toSeq.flatMap(f => scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(f.toPath)).asScala.map(_.toLong))
    }
    assert(ids.sorted == Seq(10L, 11L, 12L, 20L, 21L, 22L))
  }

  test("compact bin-packs a fragmented version; pinned readers survive the swap") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-store").toString
    val store = new ParquetIndexStore(spark, s"$tmp/cmp")
    // fragment: several files for 100 tiny rows (AQE small-partition
    // coalescing would heal the fixture before compact gets to prove itself)
    val many = spark.range(100).selectExpr("id AS doc_id", "'c' || id AS content")
      .repartition(16)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try store.replace(many)
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val dir = new VersionedDir(spark, s"$tmp/cmp")
    def parquetFiles(p: String): Int = {
      val f = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.listStatus(new org.apache.hadoop.fs.Path(p))
        .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    }
    assert(parquetFiles(dir.currentDir.get) > 1)
    val pinned = spark.read.parquet(dir.currentDir.get) // reader on v1
    store.compact()
    assert(parquetFiles(dir.currentDir.get) == 1) // 100 rows ≪ 128 MB target
    assert(store.read().count() == 100)           // contents unchanged
    assert(pinned.count() == 100)                 // v1 retained (keepVersions=2)
  }

  test("InMemoryIndexStore implements the same provider contract (S8/S9 seam)") {
    val store = new InMemoryIndexStore(spark)
    assert(!store.exists)
    store.replace(docs(1L -> "one", 2L -> "two"))
    assert(store.read().count() == 2)
    store.upsert(docs(1L -> "rewrite", 3L -> "three"))
    val m = store.read().select("doc_id", "content").as[(Long, String)].collect().toMap
    assert(m == Map(1L -> "one", 2L -> "two", 3L -> "three")) // old-wins, like parquet store
    store.delete(Seq(2L))
    assert(store.read().select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
    store.clear()
    intercept[Throwable] { store.read() }
    // a VectorIndex runs its full lifecycle against the alternate provider
    val cfg = graft.core.IndexConfig("mem", "id",
      Seq(graft.core.EmbeddingField("title", important = true), graft.core.EmbeddingField("body")),
      tokenLimit = 64, chunkOverlap = 8, dims = 16)
    val idx = new VectorIndex(spark, cfg, graft.embed.HashEmbeddingBackend(16),
      graft.embed.EchoChatBackend(), "unused://path", "page", "id",
      storeOverride = Some(new InMemoryIndexStore(spark)))
    idx.rebuild(Seq((1L, "T", "some body text")).toDF("id", "title", "body"))
    assert(idx.documents.count() == 1)
  }

  // r7 advice #1: the merge-on-read broadcast hint must be conditional on
  // pending delta size — an unbounded hint bypasses the broadcast threshold
  // and OOMs the driver at exactly the scale the store exists for
  test("merge-on-read drops its broadcast hints when pending deltas exceed the cap") {
    // hints are consumed during optimization — count them in the analyzed
    // plan, where an explicit broadcast() still shows as ResolvedHint
    def hintCount(df: org.apache.spark.sql.DataFrame): Int =
      "ResolvedHint".r.findAllIn(df.queryExecution.analyzed.toString).size
    val store = newStore("bcap")
    store.replace(docs(1L -> "a", 2L -> "b"))
    store.upsert(docs(3L -> "c"))
    store.delete(Seq(2L))
    assert(hintCount(store.read()) > 0, "small pending deltas keep the explicit hint")
    spark.conf.set("graft.store.broadcastDeltaMaxBytes", "0")
    try {
      assert(hintCount(store.read()) == 0, "over-cap deltas must go unhinted (AQE decides)")
      // and the unhinted path returns the same rows
      assert(store.read().select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
    } finally spark.conf.unset("graft.store.broadcastDeltaMaxBytes")
  }

  // r7 advice #4: racing writers may interleave flips in any order, but the
  // manifest must end at the NUMERICALLY NEWEST version — an older writer
  // finishing late abandons rather than regressing the pointer
  test("racing manifest flips resolve to the newest version, never a regression") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-store").toString
    val dir = new VersionedDir(spark, s"$tmp/newest", keepVersions = 10)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 6).map { i =>
      new Thread(() => try {
        dir.replaceWith { d =>
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
          java.nio.file.Files.write(java.nio.file.Paths.get(d, "payload"),
            s"w$i".getBytes("UTF-8"))
        }
      } catch { case t: Throwable => failures.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(failures.isEmpty, s"writer failed: ${failures.peek()}")
    assert(dir.currentVersion.contains(dir.listVersions.last),
      s"manifest ${dir.currentVersion} regressed below newest ${dir.listVersions.last}")
  }

  // r7 advice #3: an in-batch duplicate id must resolve to ONE survivor
  // shared by the store and the ANN overlay (the store receives the same
  // persisted conflict-free rows the overlay was built from)
  test("VectorIndex.upsert hands non-parquet stores its deduped conflict-free rows") {
    val cfg = graft.core.IndexConfig("updup", "id",
      Seq(graft.core.EmbeddingField("title")), tokenLimit = 64, dims = 4)
    val idx = new VectorIndex(spark, cfg, graft.embed.HashEmbeddingBackend(4),
      graft.embed.EchoChatBackend(), "unused://path", "page", "id",
      storeOverride = Some(new InMemoryIndexStore(spark)))
    val dupBatch = Seq(
      (10L, "first copy", Seq(1.0f, 0f, 0f, 0f)),
      (10L, "second copy", Seq(0f, 1.0f, 0f, 0f)),
      (11L, "unique", Seq(0f, 0f, 1.0f, 0f)))
      .toDF("doc_id", "content", "vector")
      .withColumn("object_keys", array(concat(lit("page:"), col("doc_id"))))
      .withColumn("metadata", map(lit("table"), lit("page")))
    idx.upsert(dupBatch)
    val stored = idx.documents.select("doc_id").as[Long].collect().toSeq.sorted
    assert(stored == Seq(10L, 11L), s"one survivor per id, got $stored")
  }

  // one on-disk layout: parquet written straight under the root (no
  // version directory) is not an index, and no operation may read it as
  // one or install a version beside it
  test("a root holding bare parquet files fails loudly on exists, read and upsert and writes nothing") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-store").toString
    docs(7L -> "bare").write.parquet(s"$tmp/flat")
    def listing() = new java.io.File(s"$tmp/flat").list().toSeq.sorted
    val before = listing()
    val store = new ParquetIndexStore(spark, s"$tmp/flat")
    for ((what, op) <- Seq[(String, () => Any)](
        "exists" -> (() => store.exists),
        "read" -> (() => store.read()),
        "upsert" -> (() => store.upsert(docs(8L -> "new"))))) {
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains("bare parquet"), s"$what: ${e.getMessage}")
    }
    assert(listing() == before, "a rejected operation wrote under the root")
  }

  test("a version dir written without its flip marker does not shadow the installed version") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-store").toString
    val store = new ParquetIndexStore(spark, s"$tmp/crash")
    store.replace(docs(1L -> "installed"))
    // a writer that crashed after its data write and before its marker create
    docs(2L -> "unflipped").write.parquet(s"$tmp/crash/v00002")
    val dir = new VersionedDir(spark, s"$tmp/crash")
    assert(dir.listVersions == Seq("v00001", "v00002"))
    assert(dir.currentVersion.contains("v00001"))
    assert(store.read().select("content").as[String].collect().toSeq == Seq("installed"))
  }

  test("a root where no version was ever installed resolves to its newest dir") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-store").toString
    docs(1L -> "older").write.parquet(s"$tmp/unflipped/v00001")
    docs(2L -> "newest").write.parquet(s"$tmp/unflipped/v00002")
    val store = new ParquetIndexStore(spark, s"$tmp/unflipped")
    assert(new VersionedDir(spark, s"$tmp/unflipped").currentVersion.contains("v00002"))
    assert(store.exists)
    assert(store.read().select("content").as[String].collect().toSeq == Seq("newest"))
  }

  // readSide's flat-layout contract: side tables are written coalesce(1),
  // no partitionBy. A partitioned side table would silently regress to the
  // hidden-path directory read — fail loudly instead.
  test("readSide reads flat side tables and rejects partitioned layouts") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-side").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1).write.parquet(s"$tmp/_side_flat")
    assert(VersionedDir.readSide(spark, s"$tmp/_side_flat").count() == 2L)
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.partitionBy("v").parquet(s"$tmp/_side_part")
    val e = intercept[IllegalArgumentException](
      VersionedDir.readSide(spark, s"$tmp/_side_part"))
    assert(e.getMessage.contains("flat"), e.getMessage)
  }
}
