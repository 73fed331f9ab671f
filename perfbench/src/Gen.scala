package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded input generator. Every workload input is a pure function of the
  * command-line seed: the engine only ever sees the rows and files made
  * here. Text comes from a topic model over a fixed synthetic vocabulary
  * with English function words mixed in, so hash embeddings cluster by
  * topic (ANN recall means something) and the corpus language filter keeps
  * the English pages.
  */
object Gen {
  final case class SourceObject(id: Long, title: String, body: String)

  /** One stream per (seed, purpose, item): inputs of one workload do not
    * shift when another workload's generator changes.
    */
  def rng(seed: Long, stream: Long, item: Long = 0L): SplittableRandom =
    new SplittableRandom(mix(mix(seed * 0x9E3779B97F4A7C15L + stream) + item))

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val Consonants = "bcdfghjklmnprstvz"
  private val Vowels = "aeiou"
  private val VocabSize = 4000

  /** Fixed vocabulary: 2-3 consonant-vowel syllables, never an English or
    * German function word, so only the injected stopwords carry language.
    */
  val vocab: Array[String] = Array.tabulate(VocabSize) { i =>
    val syl = Consonants.length * Vowels.length
    val sb = new StringBuilder
    var v = i + syl // every word has at least two syllables
    while (v > 0) {
      val s = v % syl
      sb.append(Consonants.charAt(s / Vowels.length)).append(Vowels.charAt(s % Vowels.length))
      v /= syl
    }
    sb.toString
  }

  val EnglishStop: Array[String] = Array("the", "a", "and", "of", "to", "is", "in", "that", "it", "for")
  val GermanStop: Array[String] = Array("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf")

  /** Topic model: each topic is a Zipf-weighted slice of the vocabulary. */
  final class Topics(seed: Long, val n: Int = 24, wordsPerTopic: Int = 150) {
    private val words: Array[Array[String]] = Array.tabulate(n) { t =>
      val r = rng(seed, 1, t)
      val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (picked.size < wordsPerTopic) picked += r.nextInt(VocabSize)
      picked.toArray.map(vocab)
    }
    private val cdf: Array[Double] = zipfCdf(wordsPerTopic, 1.0)

    def word(r: SplittableRandom, topic: Int): String = words(topic)(draw(cdf, r))

    /** `nWords` tokens, a quarter of them function words of `stop`. */
    def sentence(r: SplittableRandom, topic: Int, nWords: Int,
                 stop: Array[String] = EnglishStop): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < nWords) {
        val w = if (r.nextDouble() < 0.25) stop(r.nextInt(stop.length)) else word(r, topic)
        if (i == 0) sb.append(w.capitalize) else sb.append(' ').append(w)
        i += 1
      }
      sb.append('.').toString
    }

    /** Sentences of 8-19 words until about `nWords` words. */
    def paragraph(r: SplittableRandom, topic: Int, nWords: Int,
                  stop: Array[String] = EnglishStop): String = {
      val out = ArrayBuffer.empty[String]
      var left = nWords
      while (left > 0) {
        val n = math.min(left, 8 + r.nextInt(12))
        out += sentence(r, topic, math.max(n, 3), stop)
        left -= n
      }
      out.mkString(" ")
    }
  }

  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def draw(cdf: Array[Double], r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  /** Lognormal lengths rescaled to a fixed total, so the size of a run's
    * input does not drift with the seed while its skew does not change.
    */
  def skewedLengths(r: SplittableRandom, n: Int, meanWords: Int, sigma: Double,
                    minWords: Int): Array[Int] = {
    val raw = Array.fill(n)(math.exp(sigma * gaussian(r)))
    val scale = n.toDouble * meanWords / raw.sum
    raw.map(x => math.max(minWords, math.round(x * scale).toInt))
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller on SplittableRandom, which has no nextGaussian on JDK 17
    val u1 = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Source object `id` at edit `version`: an `important` title plus a
    * body of paragraphs. Deterministic in (seed, id, version).
    */
  def sourceObject(topics: Topics, seed: Long, id: Long, version: Int,
                   nWords: Int): SourceObject = {
    val r = rng(seed, 2 + version, id)
    val topic = r.nextInt(topics.n)
    val title = s"Item $id " + (1 to 3).map(_ => topics.word(r, topic)).mkString(" ")
    val paras = ArrayBuffer.empty[String]
    var left = nWords
    while (left > 0) {
      val n = math.min(left, 40 + r.nextInt(80))
      // one paragraph in five drifts to a second topic, as real pages do
      val t = if (r.nextInt(5) == 0) r.nextInt(topics.n) else topic
      paras += topics.paragraph(r, t, n)
      left -= n
    }
    SourceObject(id, title, paras.mkString("\n\n"))
  }

  /** `n` objects with ids 0 until n and lognormal body lengths. */
  def sourceObjects(topics: Topics, seed: Long, n: Int, meanWords: Int): IndexedSeq[SourceObject] = {
    val lens = skewedLengths(rng(seed, 10), n, meanWords, sigma = 0.9, minWords = 20)
    (0 until n).map(i => sourceObject(topics, seed, i.toLong, 0, lens(i)))
  }

  /** The edited source of an `update`: `editFrac` of objects get a new
    * body, `delFrac` are dropped and `addFrac` new ids appended.
    */
  final case class Edit(source: IndexedSeq[SourceObject], edited: Set[Long],
                        deleted: Set[Long], added: Set[Long])

  def edit(topics: Topics, seed: Long, base: IndexedSeq[SourceObject], meanWords: Int,
           editFrac: Double = 0.05, delFrac: Double = 0.01, addFrac: Double = 0.01): Edit = {
    val r = rng(seed, 11)
    val order = shuffle(r, base.indices.toArray)
    val nEdit = math.round(base.size * editFrac).toInt
    val nDel = math.round(base.size * delFrac).toInt
    val nAdd = math.round(base.size * addFrac).toInt
    val edited = order.take(nEdit).map(i => base(i).id).toSet
    val deleted = order.slice(nEdit, nEdit + nDel).map(i => base(i).id).toSet
    val lens = skewedLengths(rng(seed, 12), nEdit + nAdd, meanWords, 0.9, 20)
    val nextId = base.map(_.id).max + 1
    val added = (0 until nAdd).map(i => sourceObject(topics, seed, nextId + i, 0, lens(nEdit + i)))
    var li = 0
    val kept = base.filterNot(o => deleted(o.id)).map { o =>
      if (edited(o.id)) { li += 1; sourceObject(topics, seed, o.id, 1, lens(li - 1)) } else o
    }
    Edit(kept ++ added, edited, deleted, added.map(_.id).toSet)
  }

  def shuffle[T](r: SplittableRandom, a: Array[T]): Array[T] = {
    val out = a.clone()
    var i = out.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = out(i); out(i) = out(j); out(j) = t
      i -= 1
    }
    out
  }

  /** Query text: a short sentence on one topic. */
  def query(topics: Topics, seed: Long, i: Int): String = {
    val r = rng(seed, 20, i)
    topics.sentence(r, r.nextInt(topics.n), 6 + r.nextInt(8))
  }

  /** Running SHA-256 of the generated inputs: the run's fingerprint. */
  final class Fingerprint {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): this.type = { md.update(s.getBytes(UTF_8)); md.update(0.toByte); this }
    def add(b: Array[Byte]): this.type = { md.update(b); md.update(0.toByte); this }
    def addObjects(objs: Iterable[SourceObject]): this.type = {
      objs.foreach(o => add(o.id.toString).add(o.title).add(o.body)); this
    }
    def hex: String = md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }
}
