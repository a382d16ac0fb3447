package perfbench

import java.text.Normalizer
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded word-level text generator for the streaming workload and the
  * kernel timings. Documents are word arrays with a fixed sentence and line
  * layout, so a near-duplicate (a few substituted words) keeps every
  * other word-3-shingle of its base. With at least [[MinWords]] words
  * and at most [[MaxEdits]] substitutions per variant, two members of
  * one planted group share a shingle Jaccard of at least
  * (78 - 12) / (78 + 12) = 0.73, while unrelated documents drawn from
  * the 4000-word vocabulary share almost none: planted groups are the
  * whole truth at any threshold in between (0.5 is used). */
final class Vocab(seed: Long) {
  private val rng = new SplittableRandom(seed ^ 0x5eedL)
  /** Stop words, the indicator words of Gopher-style quality signals. */
  val stop: Array[String] = Array("the", "be", "to", "of", "and", "that", "have", "with")
  private val consonants = "bcdfghjklmnprstvwz"
  private val vowels = "aeiou"
  val words: Array[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < 4000) {
      val syl = 2 + rng.nextInt(3)
      val sb = new StringBuilder
      (0 until syl).foreach { _ =>
        sb += consonants(rng.nextInt(consonants.length))
        sb += vowels(rng.nextInt(vowels.length))
      }
      if (rng.nextInt(3) == 0) sb += consonants(rng.nextInt(consonants.length))
      val w = sb.toString
      if (!stop.contains(w) && w != "nan") out += w
    }
    out.toArray
  }
  /** Composed (NFC) words with one accented letter each. */
  val accented: Array[String] = {
    val marks = Array("é", "ü", "ñ", "ç", "ö", "á")
    words.take(300).map { w =>
      val i = 1 + rng.nextInt(w.length - 1)
      w.substring(0, i) + marks(rng.nextInt(marks.length)) + w.substring(i)
    }
  }
}

object Corpus {
  val MinWords = 80
  val MaxWords = 140
  val MaxEdits = 2

  /** Words 2 and 3 of a normal document: two stop words at fixed places,
    * while the other words draw stop words rarely, so unrelated documents
    * share few shingles and few SimHash bits. */
  val Fixed = Map(2 -> "the", 3 -> "and")

  def randomWords(rng: SplittableRandom, v: Vocab, n: Int): Array[String] =
    Array.fill(n) {
      val r = rng.nextInt(100)
      if (r < 6) v.stop(rng.nextInt(v.stop.length))
      else if (r < 9) v.accented(rng.nextInt(v.accented.length))
      else v.words(rng.nextInt(v.words.length))
    }

  def normalDoc(rng: SplittableRandom, v: Vocab): Array[String] = {
    val ws = randomWords(rng, v, MinWords + rng.nextInt(MaxWords - MinWords + 1))
    Fixed.foreach { case (i, w) => ws(i) = w }
    ws
  }

  /** A copy with 1 to [[MaxEdits]] words, none of them [[Fixed]], replaced
    * by vocabulary words. */
  def variant(rng: SplittableRandom, v: Vocab, ws: Array[String]): Array[String] = {
    val out = ws.clone()
    val edits = 1 + rng.nextInt(MaxEdits)
    (0 until edits).foreach { _ =>
      var i = rng.nextInt(out.length)
      while (Fixed.contains(i)) i = rng.nextInt(out.length)
      var w = out(i)
      while (w == out(i)) w = v.words(rng.nextInt(v.words.length))
      out(i) = w
    }
    out
  }

  /** Sentences of 11 words, three sentences to a line. */
  def render(ws: Array[String]): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < ws.length) {
      if (i > 0) sb.append(if (i % 33 == 0) "\n" else " ")
      sb.append(ws(i))
      if (i % 11 == 10 || i == ws.length - 1) sb.append('.')
      i += 1
    }
    sb.toString
  }

  def nfd(text: String): String = Normalizer.normalize(text, Normalizer.Form.NFD)

  /** A fixed text sample for the kernel timings: the same bytes on every
    * seed, a tenth of it in decomposed form so normalization has work. */
  def kernelSample(n: Int): Array[String] = {
    val v = new Vocab(7L)
    val rng = new SplittableRandom(7L)
    Array.tabulate(n) { i =>
      val t = render(normalDoc(rng, v))
      if (i % 10 == 0) nfd(t) else t
    }
  }
}

/** Seeded float vectors: Gaussian, and unit vectors clustered around
  * random centres. */
object Vectors {
  def gaussian(rng: SplittableRandom, dim: Int, scale: Double = 1.0): Array[Float] = {
    val a = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      // Box-Muller from the seeded stream
      val u1 = math.max(rng.nextDouble(), 1e-12)
      val u2 = rng.nextDouble()
      a(i) = (math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2) * scale).toFloat
      i += 1
    }
    a
  }

  def unit(a: Array[Float]): Array[Float] = {
    val n = math.sqrt(a.map(x => x.toDouble * x).sum)
    a.map(x => (x / n).toFloat)
  }

  /** Vectors around `blobs` random centres, for the streaming index. */
  def blobs(rng: SplittableRandom, n: Int, dim: Int, k: Int): Array[Array[Float]] = {
    val centres = Array.fill(k)(unit(gaussian(rng, dim)))
    Array.fill(n) {
      val c = centres(rng.nextInt(k))
      val g = gaussian(rng, dim, 0.15)
      unit(c.indices.map(i => c(i) + g(i)).toArray)
    }
  }
}

/** A planted near-duplicate structure: every index in a group is a
  * near-duplicate of every other; indexes outside groups are unrelated. */
final case class Planted(texts: Array[String], groupOf: Array[Int])

object Planted {
  /** `n` documents, `groupShare` of them in near-duplicate groups of two
    * or three, in shuffled order. */
  def docs(rng: SplittableRandom, v: Vocab, n: Int, groupShare: Double): Planted = {
    val texts = ArrayBuffer.empty[Array[String]]
    val groups = ArrayBuffer.empty[Int]
    var g = 0
    val target = (n * groupShare).toInt
    while (texts.size < target) {
      val base = Corpus.normalDoc(rng, v)
      val size = math.min(2 + rng.nextInt(2), target - texts.size)
      texts += base
      groups += (if (size > 1) g else -1)
      (1 until size).foreach { _ => texts += Corpus.variant(rng, v, base); groups += g }
      g += 1
    }
    while (texts.size < n) { texts += Corpus.normalDoc(rng, v); groups += -1 }
    val order = shuffled(rng, n)
    Planted(order.map(i => Corpus.render(texts(i))), order.map(i => groups(i)))
  }

  def shuffled(rng: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }
}
