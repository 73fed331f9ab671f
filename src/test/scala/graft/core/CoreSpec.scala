package graft.core

import org.scalatest.funsuite.AnyFunSuite

class CoreSpec extends AnyFunSuite {

  test("ModelKey round-trips table:id") {
    val k = ModelKey.make("customer", 42)
    assert(k == "customer:42")
    assert(ModelKey.table(k) == "customer")
    assert(ModelKey.id(k) == "42")
    // ids containing ':' stay intact (split limit 2)
    assert(ModelKey.id("t:a:b") == "a:b")
  }

  test("EmbeddingField dedup: last wins per column (reference django.py:119-124)") {
    val fields = Seq(
      EmbeddingField("title", important = true),
      EmbeddingField("body"),
      EmbeddingField("title", important = false))
    val d = EmbeddingField.dedup(fields)
    assert(d == Seq(EmbeddingField("body", false), EmbeddingField("title", false)))
  }

  test("IndexConfig splits important vs splittable columns") {
    val c = IndexConfig("i", "id", Seq(EmbeddingField("t", important = true), EmbeddingField("b")))
    assert(c.importantCols == Seq("t"))
    assert(c.splittableCols == Seq("b"))
  }

  test("BackendRegistry resolves token limits and dims with overrides (reference E5)") {
    assert(BackendRegistry.tokenLimit("text-embedding-ada-002") == 8191)
    assert(BackendRegistry.dims("text-embedding-3-large") == 3072)
    assert(BackendRegistry.tokenLimit("unknown-model", Some(512)) == 512)
    intercept[IllegalArgumentException] { BackendRegistry.tokenLimit("unknown-model") }
  }

  test("camelCase generates provider index class names (P8; reference django.py:513-529)") {
    assert(Naming.camelCase("default") == "Default")
    assert(Naming.indexClassName("default") == "DefaultVectorIndex")
    // the reference's own join(*map(...)) raises TypeError on multi-part
    // aliases; we implement the evident intent (documented divergence)
    assert(Naming.camelCase("my_pgvector_alias") == "MyPgvectorAlias")
  }

  test("Metric.fromString accepts the reference's distance names") {
    assert(Metric.fromString("cosine") == Metric.Cosine)
    assert(Metric.fromString("euclidean") == Metric.L2)
    assert(Metric.fromString("max_inner_product") == Metric.MaxInnerProduct)
    intercept[IllegalArgumentException] { Metric.fromString("hamming") }
  }

  // a reliable checkpoint's files outlive its blocks: release must delete
  // them, or a long-lived session accretes one directory per call
  test("reliable checkpoints: release deletes the files, 20 cycles keep the directory count flat") {
    val spark = graft.TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    def rddDirs(): Int = spark.sparkContext.getCheckpointDir.fold(0) { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
        .count(_.getPath.getName.startsWith("rdd-"))
    }
    val counts = (1 to 20).map { i =>
      val ds = Checkpoints.materializeIn(spark.range(0, 100).selectExpr(s"id * $i AS x"),
        eager = true, Some(dir))
      assert(ds.count() == 100)
      assert(spark.sparkContext.getCheckpointDir.isDefined)
      assert(Checkpoints.release(ds))
      rddDirs()
    }
    assert(counts.forall(_ == counts.head), s"checkpoint dirs per cycle: $counts")
  }
}
