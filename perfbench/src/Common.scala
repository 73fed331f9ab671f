package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.util.LongAccumulator

import graft.api.{SearchMode, VectorIndex}
import graft.core.{EmbeddingField, IndexConfig}
import graft.embed.{EchoChatBackend, EmbeddingBackend, HashEmbeddingBackend}
import graft.text.RecursiveCharacterTextSplitter

/** Index settings and the reference computations (outside Spark) shared by the
  * vector workloads.
  */
object Common {
  val Table = "obj"
  val Dims = 128
  val config: IndexConfig = IndexConfig("perfbench", "id",
    Seq(EmbeddingField("title", important = true), EmbeddingField("body")),
    tokenLimit = 256, chunkOverlap = 32, dims = Dims)
  /** The user-default ANN modes the index maintains. */
  val Ann: Seq[SearchMode] = Seq(SearchMode.Ivf(), SearchMode.Hnsw())
  val K = 10
  val backend: EmbeddingBackend = HashEmbeddingBackend(Dims)

  def index(spark: SparkSession, path: String, be: EmbeddingBackend = backend,
            ann: Seq[SearchMode] = Ann): VectorIndex =
    new VectorIndex(spark, config, be, EchoChatBackend(), path, Table, "id", ann = ann)

  private val splitter = new RecursiveCharacterTextSplitter(config.tokenLimit, config.chunkOverlap)

  /** Chunk contents of one object exactly as the index stores them. */
  def chunkContents(o: Gen.SourceObject): Seq[String] =
    splitter.splitText(o.body).map(c => o.title + "\n" + c)

  def key(id: Long): String = s"$Table:$id"

  private val sourceSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("title", StringType), StructField("body", StringType)))

  /** Write generated objects as the parquet source table. */
  def writeSource(spark: SparkSession, objs: Seq[Gen.SourceObject], dir: String): Unit = {
    val rows = objs.map(o => Row(o.id, o.title, o.body))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), sourceSchema)
      .write.mode("overwrite").parquet(dir)
  }

  /** Bytes of every file under `dir`. */
  def duBytes(dir: String): Long = {
    def walk(f: File): Long = if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum else f.length
    walk(new File(dir))
  }

  def deleteTree(dir: String): Unit = {
    def walk(f: File): Unit = { if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(walk); f.delete() }
    walk(new File(dir))
  }

  /** Force every column of a plan without collecting it. */
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  /** Brute-force reference over generated chunks, outside Spark: contents,
    * owning keys and vectors embedded outside the engine.
    */
  final class Truth(val keys: Array[String], val contents: Array[String]) {
    val vectors: Array[Array[Float]] = contents.grouped(512).flatMap(g => backend.embedBatch(g.toSeq)).toArray
    private val norms = vectors.map(v => math.sqrt(dot(v, v)))

    /** Cosine of every chunk against `q`, as the engine scores it. */
    def scores(q: Array[Float]): Array[Double] = {
      val qn = math.sqrt(dot(q, q))
      vectors.indices.map(i => if (norms(i) == 0 || qn == 0) 0.0 else dot(vectors(i), q) / (norms(i) * qn)).toArray
    }

    /** Top-k chunk indices with score >= 0, best first. */
    def topK(q: Array[Float], k: Int): Seq[(Int, Double)] =
      scores(q).zipWithIndex.filter(_._1 >= 0).sortBy { case (s, i) => (-s, contents(i)) }
        .take(k).map { case (s, i) => (i, s) }.toSeq
  }

  /** Keys of the exact top-k chunks, with a tolerance for near-ties at the
    * k-th score (the engine scores in float, the reference in double):
    * `got` must hold every key that beats the boundary and only keys that
    * reach it. `ranked` is the reference ranking, longer than k.
    */
  def sameTopKeys(truth: Truth, ranked: Seq[(Int, Double)], k: Int, got: Set[String],
                  eps: Double = 1e-4): Boolean = {
    val top = ranked.take(k)
    val boundary = if (ranked.size >= k) top.last._2 else Double.NegativeInfinity
    val must = top.filter(_._2 > boundary + eps).map(x => truth.keys(x._1)).toSet
    val allowed = ranked.filter(_._2 >= boundary - eps).map(x => truth.keys(x._1)).toSet
    must.subsetOf(got) && got.subsetOf(allowed)
  }

  /** Embedding backend that counts batch calls and texts. */
  final case class CountingBackend(inner: EmbeddingBackend, calls: LongAccumulator,
                                   texts: LongAccumulator) extends EmbeddingBackend {
    override def dims: Int = inner.dims
    override def tokenLimit: Int = inner.tokenLimit
    override def embedBatch(t: Seq[String]): Seq[Array[Float]] = {
      calls.add(1); texts.add(t.size.toLong)
      inner.embedBatch(t)
    }
  }
}
