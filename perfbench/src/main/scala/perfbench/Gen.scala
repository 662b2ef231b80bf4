package perfbench

/** Seeded input generator. Every value is a pure function of `(seed, index)`,
  * so a row comes out the same whichever Spark task or thread makes it, and
  * the same seed always gives the same inputs.
  */
object Gen {

  /** SplitMix64 finaliser: a well-mixed 64-bit value from two longs. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Small sequential generator (SplitMix64 stream). */
  final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = { s += 0x9E3779B97F4A7C15L; mix(s, 0L) }
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def nextInt(n: Int): Int = (((nextLong() >>> 1) % n)).toInt
  }

  /** Zipf(s) over ranks `0 until n`: rank r is drawn with weight 1/(r+1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(r: Rng): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      val at = if (i >= 0) i else -i - 1
      math.min(at, n - 1)
    }
  }

  private val Consonants = "bcdfghjklmnprstvwz"
  private val Vowels = "aeiou"

  /** `n` distinct lowercase pseudo-words. Rank 0 is the most frequent word
    * under [[Zipf]] sampling. A word's length depends on its rank only and
    * its letters on the seed, so text volume (and so the KB's bytes per
    * text byte) does not drift with the seed.
    */
  def vocabulary(seed: Long, n: Int): Array[String] = {
    val seen = new java.util.HashSet[String]()
    val out = new Array[String](n)
    val r = new Rng(mix(seed, 0x766F6361L))
    var i = 0
    while (i < n) {
      val sb = new StringBuilder
      var j = 0
      while (j < 2 + i % 3) {
        sb.append(Consonants.charAt(r.nextInt(Consonants.length)))
        sb.append(Vowels.charAt(r.nextInt(Vowels.length)))
        j += 1
      }
      if (i % 2 == 0) sb.append(Consonants.charAt(r.nextInt(Consonants.length)))
      val w = sb.toString
      if (seen.add(w)) { out(i) = w; i += 1 }
    }
    out
  }

  /** Text of `words` Zipf-drawn words, sentence-punctuated, for one item. */
  def text(seed: Long, id: Long, vocab: Array[String], zipf: Zipf,
           words: Int): String = {
    val r = new Rng(mix(seed, id))
    val sb = new StringBuilder
    var i = 0
    while (i < words) {
      if (i > 0) sb.append(if (i % 12 == 0) ". " else " ")
      sb.append(vocab(zipf.sample(r)))
      i += 1
    }
    sb.append('.').toString
  }

  /** A deterministic vector with components uniform in [-1, 1). */
  def vector(seed: Long, id: Long, dims: Int): Array[Float] = {
    val r = new Rng(mix(seed ^ 0x76656374L, id))
    Array.fill(dims)((r.nextDouble() * 2.0 - 1.0).toFloat)
  }

  /** A pool of `n` distinct queries of 2 to 4 words. Query words skip the
    * `skipTop` most frequent ranks, which act like stop words.
    */
  def queryPool(seed: Long, n: Int, vocab: Array[String], skipTop: Int): Array[String] = {
    val r = new Rng(mix(seed, 0x71756572L))
    val zipf = new Zipf(vocab.length - skipTop, 0.8)
    val seen = new java.util.LinkedHashSet[String]()
    while (seen.size < n) {
      val k = 2 + r.nextInt(3)
      seen.add(Seq.fill(k)(vocab(skipTop + zipf.sample(r))).mkString(" "))
    }
    seen.toArray(new Array[String](0))
  }

  /** A question that few texts but `text` answer well: its `k` rarest
    * distinct words (highest Zipf rank first).
    */
  def probeQuery(text: String, vocab: Array[String], k: Int): String = {
    val rank = vocab.zipWithIndex.toMap
    text.split("[ .]+").filter(_.nonEmpty).distinct.sortBy(w => -rank(w)).take(k).mkString(" ")
  }

  /** An endless sequence of pool indices: every `freshEvery`-th query is
    * the next unused pool entry (index 0 is left for the warm-up call), and
    * the others repeat an earlier query of the sequence, drawn with Zipf(s)
    * popularity over the order of first use. The repeat share is fixed by
    * construction, so every seed sees the same cache hit/miss mix; element
    * i of the sequence is the same for a given seed however many are drawn.
    */
  final class QueryStream(seed: Long, poolSize: Int, freshEvery: Int, s: Double) {
    private val r = new Rng(mix(seed, 0x706F7075L))
    private val issued = scala.collection.mutable.ArrayBuffer[Int]()
    private var count = 0
    def next(): Int = {
      val fresh = issued.isEmpty || count % freshEvery == 0
      count += 1
      if (fresh) {
        issued += 1 + issued.size % (poolSize - 1)
        issued.last
      } else issued(new Zipf(issued.size, s).sample(r))
    }
  }

  /** Landed-file plan for the append workload: batch `b` lands `perBatch`
    * files; a fixed share of them re-ingests (byte-identical content under
    * a new file name) a document landed in an earlier batch.
    *
    * @return per batch, the source document ids of its files; a document id
    *         seen before in the plan is a re-ingest
    */
  def landingPlan(seed: Long, batches: Int, perBatch: Int,
                  reingestShare: Double): IndexedSeq[IndexedSeq[Long]] = {
    val r = new Rng(mix(seed, 0x6C616E64L))
    var nextDoc = 0L
    (0 until batches).map { b =>
      val nRe = if (b == 0) 0 else math.round(perBatch * reingestShare).toInt
      val fresh = (0 until perBatch - nRe).map { _ => nextDoc += 1; nextDoc }
      val re = (0 until nRe).map(_ => 1L + (r.nextLong() >>> 1) % (nextDoc - fresh.size))
      fresh ++ re
    }
  }
}
