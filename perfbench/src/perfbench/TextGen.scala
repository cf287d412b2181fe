package perfbench

import java.io.{File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import scala.util.Random

/** Seeded text and embedding corpora for the gate workload.
  *
  * Words follow a Zipf law (s = 1.1) over a fixed synthetic vocabulary, with
  * English stopwords mixed in so language ID sees English; document lengths
  * are log-normal. Every corpus is written as JSON lines, one object per
  * document, by this code (not by Spark), so one seed gives byte-identical
  * files.
  */
object TextGen {

  private val Syllables = Seq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "da",
    "fe", "gu", "ha", "ji", "po", "be", "cu", "wy")
  val Vocab: IndexedSeq[String] = (0 until 4000).map { i =>
    val n = Syllables.size
    Syllables(i % n) + Syllables((i / n) % n) + (if (i >= n * n) Syllables(i / (n * n) % n) else "") + "r"
  }
  private val En = Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for")

  private val cumulative: Array[Double] = {
    val w = Vocab.indices.map(r => 1.0 / math.pow(r + 1, 1.1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _ / total).tail.toArray
  }

  def word(rnd: Random): String = {
    val i = java.util.Arrays.binarySearch(cumulative, rnd.nextDouble())
    Vocab(math.min(if (i >= 0) i else -i - 1, Vocab.size - 1))
  }

  /** A document of about `len` tokens. */
  def doc(rnd: Random, len: Int): Vector[String] =
    Vector.fill(len)(if (rnd.nextInt(4) == 0) En(rnd.nextInt(En.size)) else word(rnd))

  /** Log-normal length, median ~80 tokens, clipped to [20, 400]. */
  def length(rnd: Random): Int =
    math.min(400, math.max(20, math.exp(4.4 + 0.6 * rnd.nextGaussian()).toInt))

  /** `n` lengths drawn as [[length]] draws them, but from a generator fixed
    * by `n` alone and then shuffled by `rnd`: every seed gets the same
    * multiset of lengths, so work per file does not vary with the seed.
    */
  def lengths(rnd: Random, n: Int): Seq[Int] = {
    val fixed = new Random(n)
    rnd.shuffle(Seq.fill(n)(length(fixed)))
  }

  /** A near copy: each token replaced with probability `rate`. */
  def perturb(rnd: Random, toks: Vector[String], rate: Double): Vector[String] =
    toks.map(t => if (rnd.nextDouble() < rate) word(rnd) else t)

  def unitVector(rnd: Random, dim: Int): Vector[Float] = normalize(Vector.fill(dim)(rnd.nextGaussian()))

  def near(rnd: Random, v: Vector[Float], noise: Double): Vector[Float] =
    normalize(v.map(_ + noise * rnd.nextGaussian()))

  private def normalize(v: Vector[Double]): Vector[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** Write documents as JSON lines; returns the file size in bytes. */
  def writeJsonl(path: String, docs: Seq[(Long, String, Option[Vector[Float]])]): Long = {
    new File(path).getParentFile.mkdirs()
    val w = new OutputStreamWriter(new FileOutputStream(path), StandardCharsets.UTF_8)
    try docs.foreach { case (id, text, emb) =>
      w.write(s"""{"doc_id":$id,"text":${Util.json(text)}""")
      emb.foreach(e => w.write(e.map(x => String.format(java.util.Locale.ROOT, "%.6f", Float.box(x)))
        .mkString(""","embedding":[""", ",", "]")))
      w.write("}\n")
    } finally w.close()
    new File(path).length()
  }
}
