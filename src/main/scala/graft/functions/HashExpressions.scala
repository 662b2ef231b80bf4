package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd Catalyst expressions for the hot dedup / vector-scoring loops
  * (SURVEY §4 "custom `Expression` candidates": `dot_f32`, hash families).
  *
  * The column-function versions in [[TextFunctions]] / [[VectorFunctions]]
  * are built on higher-order functions (`aggregate`/`transform`), which
  * Spark evaluates INTERPRETED — and Catalyst's CollapseProject inlines a
  * materialized hash array back into every one of the 16 MinHash mins / 60
  * SimHash bit-aggregates, making signatures O(perms · tokens · chars)
  * interpreted evals per row. These expressions compute the identical math
  * (bit-for-bit: same 64-bit integer mod-1e9+7 arithmetic, same sequential
  * double accumulation) in one tight JVM loop and stay inside whole-stage
  * codegen via `defineCodeGen` → a static call on [[HashAlgos]].
  *
  * Oracle parity: the DuckDB oracle SQL reproduces the same integer math, so
  * the driver's hash-compare gate (CORRECTNESS_r{N}) verifies these
  * implementations against an independent engine every round.
  */
object HashAlgos {
  final val P = 1000000007L

  /** Polynomial rolling hash h = Σ (h·mult + codepoint) mod p over the
    * string's codepoints — identical to the spec column fn
    * `aggregate(split(s,""), 0, (acc,ch) => pmod(acc*mult + ascii(ch), p))`
    * for all BMP text (split("") yields one codepoint per element).
    */
  def polyHash(s: UTF8String, mult: Long): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      h = (h * mult + cp) % P
      i += Character.charCount(cp)
    }
    h
  }

  /** Deterministic embedding, one codepoint pass + O(digits) extension per
    * component (see [[DeterministicEmbedExpr]]): base = poly31(text), then
    * component j continues the rolling hash over "|" and j's decimal
    * digits — identical to poly31(text + "|" + j) because the hash is a
    * left-to-right polynomial.
    */
  def deterministicEmbed(s: UTF8String, dims: Int): ArrayData = {
    val str = s.toString
    var base = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      base = (base * 31L + cp) % P
      i += Character.charCount(cp)
    }
    base = (base * 31L + '|'.toInt) % P
    val out = new Array[Float](dims)
    var j = 0
    while (j < dims) {
      var h = base
      val ds = java.lang.Integer.toString(j)
      var k = 0
      while (k < ds.length) {
        h = (h * 31L + ds.charAt(k).toInt) % P
        k += 1
      }
      out(j) = ((h % 1000L).toFloat - 500f) / 500f
      j += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Combined pair hash poly31(s)·P + poly131(s) in ONE codepoint pass —
    * ~60 bits where a single poly hash has ~30 (birthday collisions at
    * ~2³⁰ ≈ 1B strings instead of ~50k). Both component hashes are the
    * same spec math as [[polyHash]], so the DuckDB oracle reproduces the
    * pairing as `poly31 * 1000000007 + poly131`. Max value
    * (P−1)·P + (P−1) ≈ 10¹⁸ < 2⁶³ — never overflows a LONG.
    */
  def polyHashPair(s: UTF8String): Long = {
    val str = s.toString
    var h1 = 0L
    var h2 = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      h1 = (h1 * 31L + cp) % P
      h2 = (h2 * 131L + cp) % P
      i += Character.charCount(cp)
    }
    h1 * P + h2
  }

  /** MinHash signature over word-shingles of a token array.
    * Shingle i = tokens[i..i+n) joined by " " (short docs yield one shingle
    * of all tokens; empty docs yield none → empty signature, caller filters).
    * Permutation k: h_k(x) = ((2k+1)·x + 12289·k) mod p; sig[k] = min over
    * the distinct-shingle hash set. Distinct-by-hash equals
    * distinct-by-string for the min.
    */
  /** Iterate the word n-gram shingles of a token array: `f(start,
    * clampedEnd, joinedShingle)` per shingle, in position order. THE
    * single definition of the shingle walk (token copy, `n < shingleN →
    * one partial shingle` clamp, space join) shared by every shingle
    * consumer — a drifting copy would silently break oracle parity.
    * Returns the shingle count (0 for an empty token array).
    */
  @inline private def eachShingle(tokens: ArrayData, shingleN: Int)(
      f: (Int, Int, java.lang.StringBuilder) => Unit): Int = {
    val n = tokens.numElements()
    if (n == 0) return 0
    val toks = new Array[String](n)
    var i = 0
    while (i < n) { toks(i) = tokens.getUTF8String(i).toString; i += 1 }
    val nShingles = if (n < shingleN) 1 else n - shingleN + 1
    val sb = new java.lang.StringBuilder()
    var s = 0
    while (s < nShingles) {
      sb.setLength(0)
      var j = s
      val end = math.min(s + shingleN, n)
      while (j < end) {
        if (j > s) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      f(s, end, sb)
      s += 1
    }
    nShingles
  }

  /** polyHash(mult) over a builder's codepoints (same loop as [[polyHash]]). */
  @inline private def polyOf(sb: java.lang.StringBuilder, mult: Long): Long = {
    var h = 0L
    var ci = 0
    val len = sb.length
    while (ci < len) {
      val cp = sb.codePointAt(ci)
      h = (h * mult + cp) % P
      ci += Character.charCount(cp)
    }
    h
  }

  def minhashSig(tokens: ArrayData, shingleN: Int, numHashes: Int): ArrayData = {
    val hs = new java.util.HashSet[java.lang.Long]()
    eachShingle(tokens, shingleN) { (_, _, sb) => hs.add(polyOf(sb, 31L)) }
    if (hs.isEmpty) new GenericArrayData(Array.emptyLongArray)
    else {
      val arr = new Array[Long](numHashes)
      var k = 0
      while (k < numHashes) {
        var mn = Long.MaxValue
        val it = hs.iterator()
        while (it.hasNext) {
          val h = it.next().longValue()
          val perm = ((2L * k + 1L) * h + 12289L * k) % P
          if (perm < mn) mn = perm
        }
        arr(k) = mn
        k += 1
      }
      new GenericArrayData(arr)
    }
  }

  /** 60-bit SimHash over a token array: token hash = polyHash31 + polyHash131
    * · 2^30; per bit, sum ±1 across tokens; signature bit set iff sum > 0.
    * Empty token array → 0L (all sums 0).
    */
  def simhash60(tokens: ArrayData): Long = {
    val counts = new Array[Int](60)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val str = tokens.getUTF8String(i).toString
      var h1 = 0L
      var h2 = 0L
      var j = 0
      val len = str.length
      while (j < len) {
        val cp = str.codePointAt(j)
        h1 = (h1 * 31L + cp) % P
        h2 = (h2 * 131L + cp) % P
        j += Character.charCount(cp)
      }
      val th = h1 + h2 * 1073741824L // h1 + h2 << 30
      var b = 0
      while (b < 60) {
        if (((th >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) {
      if (counts(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Distinct word-shingles of a token array as strings, first-seen order —
    * the exact shingle set [[minhashSig]] hashes and
    * `TextFunctions.shingles + array_distinct` builds interpreted (short
    * docs yield one shingle of all tokens; empty docs none).
    */
  def wordShingles(tokens: ArrayData, shingleN: Int): ArrayData = {
    val seen = new java.util.LinkedHashSet[String]()
    eachShingle(tokens, shingleN) { (_, _, sb) => seen.add(sb.toString) }
    val out = new Array[AnyRef](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  /** Word n-gram shingle spans in one pass: (pos, end, h) per shingle,
    * where end = min(pos + n, |tokens|) and h is the ~60-bit combined
    * rolling hash poly31·P + poly131 over the space-joined shingle — the
    * exact values `duplicatedSpans` previously assembled from
    * `shingles` + `polyHash` + `polyHash2` (interpreted per shingle).
    */
  def shingleSpans(tokens: ArrayData, shingleN: Int): ArrayData = {
    val out = new java.util.ArrayList[AnyRef]()
    eachShingle(tokens, shingleN) { (s, end, sb) =>
      var h1 = 0L
      var h2 = 0L
      var ci = 0
      val len = sb.length
      while (ci < len) {
        val cp = sb.codePointAt(ci)
        h1 = (h1 * 31L + cp) % P
        h2 = (h2 * 131L + cp) % P
        ci += Character.charCount(cp)
      }
      out.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](s, end, h1 * P + h2)))
    }
    new GenericArrayData(out.toArray)
  }

  /** DSIR feature-bucket walk: unigrams ++ word-2-shingles of the token
    * array (the [[eachShingle]] clamp makes a 1-token doc contribute the
    * token twice — identical to `concat(toks, shingles(toks, 2))`), each
    * hashed poly-31 mod `buckets`. `f(bucket)` per feature occurrence;
    * returns the feature count.
    */
  @inline private def eachDsirBucket(tokens: ArrayData, buckets: Int)(
      f: Int => Unit): Long = {
    var nf = 0L
    nf += eachShingle(tokens, 1) { (_, _, sb) =>
      f((polyOf(sb, 31L) % buckets).toInt) }
    nf += eachShingle(tokens, 2) { (_, _, sb) =>
      f((polyOf(sb, 31L) % buckets).toInt) }
    nf
  }

  /** DSIR per-document score in ONE pass: [n_feats, Σ ratio(bucket)] over
    * the unigram+bigram feature walk — the higher-order-function form
    * (`aggregate` + `element_at` over a B-literal) is interpreted per
    * feature.
    */
  def dsirScore(tokens: ArrayData, buckets: Int, ratio: Array[Long]): ArrayData = {
    var s = 0L
    val nf = eachDsirBucket(tokens, buckets)(b => s += ratio(b))
    new GenericArrayData(Array(nf, s))
  }

  /** DSIR feature buckets of one document, one array element per feature
    * occurrence — the counting-pass twin of [[dsirScore]].
    */
  def dsirBuckets(tokens: ArrayData, buckets: Int): ArrayData = {
    val out = new java.util.ArrayList[java.lang.Long]()
    eachDsirBucket(tokens, buckets)(b => out.add(b.toLong))
    val arr = new Array[Long](out.size)
    var i = 0
    while (i < arr.length) { arr(i) = out.get(i).longValue(); i += 1 }
    new GenericArrayData(arr)
  }

  /** Stupid-Backoff bigram document cost in ONE pass: [n_tokens,
    * cost_micro] with cost = cu(t₀) + Σᵢ≥₁ (bg("tᵢ₋₁ tᵢ") | cb(tᵢ)) —
    * the resident-model twin of the broadcast-join scoring plan
    * (`LmQuality.scoreBigram`); `uni` maps token → [cu, cb], misses take
    * the OOV floors. Integer table values, so both paths sum identical
    * 64-bit terms.
    */
  def bigramCost(tokens: ArrayData,
                 uni: java.util.HashMap[String, Array[Long]],
                 bg: java.util.HashMap[String, java.lang.Long],
                 cuOov: Long, cbOov: Long): ArrayData = {
    val n = tokens.numElements()
    if (n == 0) return new GenericArrayData(Array(0L, 0L))
    var prev = tokens.getUTF8String(0).toString
    val u0 = uni.get(prev)
    var cost = if (u0 == null) cuOov else u0(0)
    var i = 1
    while (i < n) {
      val cur = tokens.getUTF8String(i).toString
      val b = bg.get(prev + " " + cur)
      if (b != null) cost += b.longValue()
      else {
        val u = uni.get(cur)
        cost += (if (u == null) cbOov else u(1))
      }
      prev = cur
      i += 1
    }
    new GenericArrayData(Array(n.toLong, cost))
  }

  /** 1 − distinct/total word n-gram shingles, one pass (0.0 when the doc
    * has no shingles). The shingle set and the division order match the
    * Column form `1.0 - size(array_distinct(grams))/size(grams)` exactly.
    */
  def wordRepetition(tokens: ArrayData, shingleN: Int): Double = {
    val seen = new java.util.HashSet[String]()
    val nShingles = eachShingle(tokens, shingleN) { (_, _, sb) => seen.add(sb.toString) }
    if (nShingles == 0) 0.0
    else 1.0 - seen.size.toDouble / nShingles.toDouble
  }

  private val TokenSplit = java.util.regex.Pattern.compile("[^a-z0-9]+")
  private val StopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    TextFunctions.EnglishStopwords.foreach(s.add)
    s
  }

  /** [[TextFunctions.tokenize]] as one JVM pass: UTF8String lowercase
    * (Spark's own locale-independent lowering), regex split, drop empties.
    * Bit-identical to `filter(split(lower(c), "[^a-z0-9]+"), len > 0)`.
    */
  def tokenize(s: UTF8String): ArrayData = {
    val parts = TokenSplit.split(s.toLowerCase.toString, -1)
    val out = new java.util.ArrayList[AnyRef](parts.length)
    var i = 0
    while (i < parts.length) {
      if (parts(i).nonEmpty) out.add(UTF8String.fromString(parts(i)))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** [[TextFunctions.tokenizeBm25]] in one pass: tokenize + drop single-char
    * non-digits + minimal stopword set. Same output as the HOF spec chain.
    */
  def tokenizeBm25(s: UTF8String): ArrayData = {
    val parts = TokenSplit.split(s.toLowerCase.toString, -1)
    val out = new java.util.ArrayList[AnyRef](parts.length)
    var i = 0
    while (i < parts.length) {
      val t = parts(i)
      if (t.length > 1 || (t.length == 1 && t.charAt(0) >= '0' && t.charAt(0) <= '9')) {
        if (!StopSet.contains(t)) out.add(UTF8String.fromString(t))
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Distinct character n-gram hashes of a string in one pass: polynomial
    * base-31 mod-1e9+7 hash of each length-n codepoint window, first-seen
    * order. For cleaned ASCII text with n ≤ 4 the polynomial never wraps the
    * modulus, so hash-distinctness IS string-distinctness (injective) — the
    * DuckDB oracle's string-gram counts match exactly, not probabilistically.
    * Strings shorter than n yield no grams (matches the
    * `transform(sequence)+substr+filter(len=n)` column chain).
    */
  def charNgramHashes(s: UTF8String, n: Int): ArrayData = {
    val str = s.toString
    val len = str.length
    // codepoint array (cleaned text is BMP/ASCII; surrogate-safe anyway)
    val cps = new Array[Int](len)
    var ci = 0
    var m = 0
    while (ci < len) {
      val cp = str.codePointAt(ci)
      cps(m) = cp
      m += 1
      ci += Character.charCount(cp)
    }
    if (m < n) return new GenericArrayData(Array.emptyLongArray)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i <= m - n) {
      var h = 0L
      var j = 0
      while (j < n) {
        h = (h * 31L + cps(i + j)) % P
        j += 1
      }
      seen.add(h)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next().longValue(); k += 1 }
    new GenericArrayData(out)
  }

  /** PQ encode one vector against a flat codebook: for each subspace s,
    * the index j minimizing squared L2 distance (float→double subtraction,
    * square, sequential accumulation — the exact op order of
    * `VectorFunctions.l2Sq` — ties to the lowest j, mirroring the oracle's
    * `row_number(ORDER BY dist, j)`). `cb` is laid out
    * `[(s*k + j) * subDim + i]`.
    */
  def pqEncode(vec: ArrayData, cb: Array[Float], m: Int, k: Int, subDim: Int): ArrayData = {
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      var bestD = Double.MaxValue
      var bestJ = 0
      var j = 0
      while (j < k) {
        val base = (s * k + j) * subDim
        var acc = 0.0
        var i = 0
        while (i < subDim) {
          val d = vec.getFloat(s * subDim + i).toDouble - cb(base + i).toDouble
          acc = acc + d * d
          i += 1
        }
        if (acc < bestD) { bestD = acc; bestJ = j }
        j += 1
      }
      out(s) = bestJ
      s += 1
    }
    new GenericArrayData(out)
  }

  /** ADC distance from PQ codes: Σ_s lut[s*k + codes[s]], sequential from
    * 0.0 — identical association order to the oracle's list_reduce.
    */
  def pqAdcDist(codes: ArrayData, lut: Array[Double], k: Int): Double = {
    var acc = 0.0
    var s = 0
    val m = codes.numElements()
    while (s < m) {
      acc = acc + lut(s * k + codes.getInt(s))
      s += 1
    }
    acc
  }

  /** [[pqAdcDist]] with the LUT as column DATA instead of a plan literal —
    * the batched-query form (each query row carries its own LUT).
    * `k` (codewords per subspace) is lut.length / m.
    */
  def pqAdcDistCols(codes: ArrayData, lut: ArrayData): Double = {
    val m = codes.numElements()
    if (m == 0) return 0.0
    val k = lut.numElements() / m
    var acc = 0.0
    var s = 0
    while (s < m) {
      acc = acc + lut.getDouble(s * k + codes.getInt(s))
      s += 1
    }
    acc
  }

  /** Dot product of two float arrays in sequential double accumulation —
    * same rounding as `aggregate(zip_with(a,b,(x,y)=>x*y), 0.0, _+_)`.
    * Assumes equal lengths and no null elements (embedding columns).
    */
  def dotF32(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** Symmetric int8 quantization q_j = round(v_j·127/max|v|), rounding
    * half AWAY FROM ZERO on the binary double — identical to Spark's
    * `round(x, 0)` (HALF_UP over the shortest decimal repr) and DuckDB's
    * `round` (std::round) while |x| < 2^52, trivially true at |x| ≤ 127
    * (the same parity invariant PLANS.md records for the cents idiom).
    * All-zero vectors quantize to all zeros.
    */
  def quantizeI8(v: ArrayData): ArrayData = {
    val n = v.numElements()
    var mx = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(v.getFloat(i).toDouble)
      if (a > mx) mx = a
      i += 1
    }
    val out = new Array[Byte](n)
    if (mx > 0) {
      i = 0
      while (i < n) {
        val x = v.getFloat(i).toDouble * 127.0 / mx
        // x - floor(x) is exact for |x| ≤ 127 (Sterbenz), so the .5
        // comparison is on the true binary value — no floor(x+0.5) drift
        val r =
          if (x >= 0) { val f = math.floor(x); if (x - f >= 0.5) f + 1.0 else f }
          else { val c = math.ceil(x); if (c - x >= 0.5) c - 1.0 else c }
        out(i) = r.toByte
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  /** Cosine over int8-quantized vectors: 64-bit-exact integer dot and
    * norms, one double division at the end; 0.0 for zero-norm inputs.
    */
  def cosineI8(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0L
    var na = 0L
    var nb = 0L
    var i = 0
    while (i < n) {
      val x = a.getByte(i).toLong
      val y = b.getByte(i).toLong
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na.toDouble) * math.sqrt(nb.toDouble)
    if (denom > 0) dot.toDouble / denom else 0.0
  }

  /** Cosine similarity with the column-fn's exact float→double→sqrt order:
    * denom = sqrt(Σa²)·sqrt(Σb²); 0.0 when denom is not > 0.
    */
  def cosineF32(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom > 0) dot / denom else 0.0
  }

  /** [[cosineF32]] over plain arrays — the SAME operation order, so a
    * driver/executor-side caller (e.g. the in-memory graph serving path)
    * is bit-identical to the column expression.
    */
  def cosineF32(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom > 0) dot / denom else 0.0
  }

  /** sqrt(Σa²) in [[cosineF32]]'s accumulation order. */
  def normF32(a: Array[Float]): Double = {
    var na = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble
      na += x * x
      i += 1
    }
    math.sqrt(na)
  }

  /** [[cosineF32]] with both norms already known ([[normF32]]): one dot
    * loop in the same order and denom = aNorm·bNorm, so equal-length inputs
    * give the same bits. Unequal lengths truncate the norms to the shorter
    * vector, so they take [[cosineF32]] itself.
    */
  def cosineF32(a: Array[Float], aNorm: Double, b: Array[Float], bNorm: Double): Double =
    if (a.length != b.length) cosineF32(a, b)
    else {
      var dot = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        i += 1
      }
      val denom = aNorm * bNorm
      if (denom > 0) dot / denom else 0.0
    }

  /** Spark `round(col, scale)`'s exact double semantics (BigDecimal
    * HALF_UP) — the single implementation of the pipeline's rounded-ranking
    * contract, shared by every in-process serving twin.
    */
  def roundHalfUp(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  // ── Bloom filter over 64-bit fingerprints ───────────────────────────────
  // Standard double hashing (Kirsch–Mitzenmacher 2006): k bit positions
  // g_i = h1 + i·h2 from two mixes of the key. The mixer is the public
  // splitmix64 finalizer (Steele et al., JDK SplittableRandom). Build and
  // probe share these exact functions, so the filter has no false negatives
  // by construction — callers re-verify candidates with an exact join and
  // the combination stays value-exact at any false-positive rate.

  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Set the k bloom bits for `v` in `words` (64·words.length bits). */
  def bloomSet(words: Array[Long], numHashes: Int, v: Long): Unit = {
    val bitSize = words.length.toLong * 64L
    val h1 = mix64(v)
    val h2 = mix64(v ^ 0xC2B2AE3D27D4EB4FL) | 1L // odd: never a degenerate stride
    var i = 0
    while (i < numHashes) {
      val idx = ((h1 + i.toLong * h2) & Long.MaxValue) % bitSize
      words((idx >>> 6).toInt) |= (1L << (idx & 63L))
      i += 1
    }
  }

  /** True iff all k bloom bits for `v` are set (no false negatives). */
  def bloomMightContain(words: Array[Long], numHashes: Int, v: Long): Boolean = {
    val bitSize = words.length.toLong * 64L
    val h1 = mix64(v)
    val h2 = mix64(v ^ 0xC2B2AE3D27D4EB4FL) | 1L
    var i = 0
    while (i < numHashes) {
      val idx = ((h1 + i.toLong * h2) & Long.MaxValue) % bitSize
      if ((words((idx >>> 6).toInt) & (1L << (idx & 63L))) == 0L) return false
      i += 1
    }
    true
  }
}

/** Input-type validation shared by the graft expressions (ExpectsInputTypes
  * is built on `AbstractDataType`, which is `private[sql]` — same checks,
  * public API only; nullability is ignored as `sameType` does).
  */
object GraftTypeChecks {
  private def matches(actual: DataType, expected: DataType): Boolean =
    (actual, expected) match {
      case (ArrayType(a, _), ArrayType(e, _)) => matches(a, e)
      case (a, e)                             => a == e
    }
  def require(name: String, actual: DataType, expected: DataType): TypeCheckResult =
    if (matches(actual, expected)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$name requires $expected, got $actual")
  def require2(name: String, l: DataType, r: DataType, expected: DataType): TypeCheckResult =
    if (matches(l, expected) && matches(r, expected)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$name requires ($expected, $expected), got ($l, $r)")
}

/** `pq_adc_dist_cols(codes, lut)` → DOUBLE: ADC distance with the LUT as
  * column data (batched queries — each row's own LUT rides beside it).
  */
case class PqAdcDistColsExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.require(prettyName, left.dataType, ArrayType(IntegerType)) match {
      case TypeCheckResult.TypeCheckSuccess =>
        GraftTypeChecks.require(prettyName, right.dataType, ArrayType(DoubleType))
      case f => f
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc_dist_cols"
  override protected def nullSafeEval(codes: Any, lut: Any): Any =
    HashAlgos.pqAdcDistCols(codes.asInstanceOf[ArrayData], lut.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, l) => s"graft.functions.HashAlgos.pqAdcDistCols($c, $l)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): PqAdcDistColsExpr =
    copy(left = newLeft, right = newRight)
}

/** `deterministic_embed(text, dims)` → ARRAY<FLOAT> — the deterministic
  * embedding as ONE codegen expression: component j =
  * ((poly31(text ⊕ "|" ⊕ j) mod 1000) − 500) / 500, with the rolling
  * hash of `text` computed ONCE and extended per component with "|" and
  * j's digits — O(len + dims·log dims) total, where the previous
  * `transform(sequence(...), j → polyHash(concat(text,'|',j)))`
  * formulation re-scanned the whole string per component through an
  * interpreted lambda (higher-order functions don't codegen):
  * O(dims·len) with per-element eval overhead. Values are bit-identical
  * to [[graft.embed.Embedder.Deterministic]] and the embedSql oracle
  * twins.
  */
case class DeterministicEmbedExpr(child: Expression, dims: Int)
    extends UnaryExpression {
  require(dims > 0, "dims must be positive")
  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.require(prettyName, child.dataType, StringType)
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "graft_deterministic_embed"
  override protected def nullSafeEval(s: Any): Any =
    HashAlgos.deterministicEmbed(s.asInstanceOf[UTF8String], dims)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashAlgos.deterministicEmbed($c, $dims)")
  override protected def withNewChildInternal(newChild: Expression): DeterministicEmbedExpr =
    copy(child = newChild)
}

/** `polyhash(str)` with a configurable multiplier — fingerprinting (F9). */
case class PolyHashExpr(child: Expression, mult: Long)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.require(prettyName, child.dataType, StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_polyhash"
  override protected def nullSafeEval(s: Any): Any =
    HashAlgos.polyHash(s.asInstanceOf[UTF8String], mult)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashAlgos.polyHash($c, ${mult}L)")
  override protected def withNewChildInternal(newChild: Expression): PolyHashExpr =
    copy(child = newChild)
}

/** `polyhash_pair(str)` = poly31·P + poly131 in one pass — the ≥60-bit
  * fingerprint (F9 / exact-dedup identity; a single 30-bit poly hash
  * birthday-collides around ~50k documents, far below lake scale).
  */
case class PolyHashPairExpr(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.require(prettyName, child.dataType, StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_polyhash_pair"
  override protected def nullSafeEval(s: Any): Any =
    HashAlgos.polyHashPair(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashAlgos.polyHashPair($c)")
  override protected def withNewChildInternal(newChild: Expression): PolyHashPairExpr =
    copy(child = newChild)
}

/** `minhash_sig(tokens)` → ARRAY<LONG> of length numHashes (empty if no shingles). */
case class MinHashSigExpr(child: Expression, shingleN: Int, numHashes: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.require(prettyName, child.dataType, ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"
  override protected def nullSafeEval(tokens: Any): Any =
    HashAlgos.minhashSig(tokens.asInstanceOf[ArrayData], shingleN, numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashAlgos.minhashSig($c, $shingleN, $numHashes)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

/** `simhash60(tokens)` → 60-bit LONG signature. */
case class SimHash60Expr(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.require(prettyName, child.dataType, ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash60"
  override protected def nullSafeEval(tokens: Any): Any =
    HashAlgos.simhash60(tokens.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashAlgos.simhash60($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash60Expr =
    copy(child = newChild)
}

/** `graft_tokenize(str)` → ARRAY<STRING> (plain or BM25 analysis mode). */
case class TokenizeExpr(child: Expression, bm25: Boolean)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.require(prettyName, child.dataType, StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = if (bm25) "graft_tokenize_bm25" else "graft_tokenize"
  override protected def nullSafeEval(s: Any): Any =
    if (bm25) HashAlgos.tokenizeBm25(s.asInstanceOf[UTF8String])
    else HashAlgos.tokenize(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      if (bm25) s"graft.functions.HashAlgos.tokenizeBm25($c)"
      else s"graft.functions.HashAlgos.tokenize($c)")
  override protected def withNewChildInternal(newChild: Expression): TokenizeExpr =
    copy(child = newChild)
}

/** `char_ngram_hashes(str, n)` → ARRAY<LONG> of distinct gram hashes. */
case class CharNgramHashesExpr(child: Expression, n: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.require(prettyName, child.dataType, StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_char_ngram_hashes"
  override protected def nullSafeEval(s: Any): Any =
    HashAlgos.charNgramHashes(s.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashAlgos.charNgramHashes($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): CharNgramHashesExpr =
    copy(child = newChild)
}

/** `word_shingles(tokens, n)` → ARRAY<STRING> of distinct shingles. */
case class WordShinglesExpr(child: Expression, shingleN: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.require(prettyName, child.dataType, ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_shingles"
  override protected def nullSafeEval(tokens: Any): Any =
    HashAlgos.wordShingles(tokens.asInstanceOf[ArrayData], shingleN)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashAlgos.wordShingles($c, $shingleN)")
  override protected def withNewChildInternal(newChild: Expression): WordShinglesExpr =
    copy(child = newChild)
}

/** `shingle_spans(tokens, n)` → ARRAY<STRUCT<pos INT, end INT, h LONG>>:
  * one row per word n-gram shingle with its clamped end offset and the
  * ~60-bit combined rolling hash (poly31·P + poly131).
  */
case class ShingleSpansExpr(child: Expression, shingleN: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.require(prettyName, child.dataType, ArrayType(StringType))
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("end", IntegerType, nullable = false),
      StructField("h", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_shingle_spans"
  override protected def nullSafeEval(tokens: Any): Any =
    HashAlgos.shingleSpans(tokens.asInstanceOf[ArrayData], shingleN)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashAlgos.shingleSpans($c, $shingleN)")
  override protected def withNewChildInternal(newChild: Expression): ShingleSpansExpr =
    copy(child = newChild)
}

/** `word_repetition(tokens, n)` → DOUBLE: 1 − distinct/total word n-gram
  * shingles in ONE pass (identical semantics to
  * `shingles` + `array_distinct` sizes, whose higher-order-function form
  * is interpreted per shingle — measured 7.7 s vs ~0.3 s over sf0.1).
  */
case class WordRepetitionExpr(child: Expression, shingleN: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.require(prettyName, child.dataType, ArrayType(StringType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_word_repetition"
  override protected def nullSafeEval(tokens: Any): Any =
    HashAlgos.wordRepetition(tokens.asInstanceOf[ArrayData], shingleN)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashAlgos.wordRepetition($c, $shingleN)")
  override protected def withNewChildInternal(newChild: Expression): WordRepetitionExpr =
    copy(child = newChild)
}

/** `dsir_score(tokens)` → ARRAY<LONG>[n_feats, score_micro]: the DSIR
  * unigram+bigram feature walk with the B-bucket micro log-ratio riding as
  * a codegen reference object (no per-row literal tree, no interpreted
  * higher-order functions).
  */
case class DsirScoreExpr(child: Expression, buckets: Int, ratio: Array[Long])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.require(prettyName, child.dataType, ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_dsir_score"
  override protected def nullSafeEval(tokens: Any): Any =
    HashAlgos.dsirScore(tokens.asInstanceOf[ArrayData], buckets, ratio)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ratioRef = ctx.addReferenceObj("dsirRatio", ratio, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashAlgos.dsirScore($c, $buckets, $ratioRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): DsirScoreExpr =
    copy(child = newChild)
}

/** `dsir_buckets(tokens)` → ARRAY<LONG>: one bucket id per DSIR feature
  * occurrence — the counting-pass twin of [[DsirScoreExpr]].
  */
case class DsirBucketsExpr(child: Expression, buckets: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.require(prettyName, child.dataType, ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_dsir_buckets"
  override protected def nullSafeEval(tokens: Any): Any =
    HashAlgos.dsirBuckets(tokens.asInstanceOf[ArrayData], buckets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashAlgos.dsirBuckets($c, $buckets)")
  override protected def withNewChildInternal(newChild: Expression): DsirBucketsExpr =
    copy(child = newChild)
}

/** `bigram_cost(tokens)` → ARRAY<LONG>[n_tokens, cost_micro]: the
  * Stupid-Backoff document cost with the resident unigram/bigram cost maps
  * riding as codegen reference objects — the guarded in-process rung of
  * `LmQuality.scoreBigram` (models over the entry budget keep the
  * broadcast-join plan).
  */
case class BigramCostExpr(child: Expression,
                          uni: java.util.HashMap[String, Array[Long]],
                          bg: java.util.HashMap[String, java.lang.Long],
                          cuOov: Long, cbOov: Long)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.require(prettyName, child.dataType, ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_bigram_cost"
  override protected def nullSafeEval(tokens: Any): Any =
    HashAlgos.bigramCost(tokens.asInstanceOf[ArrayData], uni, bg, cuOov, cbOov)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val uniRef = ctx.addReferenceObj("bigramUni", uni, "java.util.HashMap")
    val bgRef = ctx.addReferenceObj("bigramBg", bg, "java.util.HashMap")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashAlgos.bigramCost($c, $uniRef, $bgRef, ${cuOov}L, ${cbOov}L)")
  }
  override protected def withNewChildInternal(newChild: Expression): BigramCostExpr =
    copy(child = newChild)
}

/** `pq_encode(vec)` → ARRAY<INT> of m codes (codebook rides as a reference
  * object into codegen — no per-row literal tree).
  */
case class PqEncodeExpr(child: Expression, cb: Array[Float], m: Int, k: Int, subDim: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.require(prettyName, child.dataType, ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"
  override protected def nullSafeEval(v: Any): Any =
    HashAlgos.pqEncode(v.asInstanceOf[ArrayData], cb, m, k, subDim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqcb", cb, "float[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashAlgos.pqEncode($c, $cbRef, $m, $k, $subDim)")
  }
  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
}

/** `pq_adc_dist(codes)` → DOUBLE via a query-specific lookup table. */
case class PqAdcDistExpr(child: Expression, lut: Array[Double], k: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.require(prettyName, child.dataType, ArrayType(IntegerType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc_dist"
  override protected def nullSafeEval(codes: Any): Any =
    HashAlgos.pqAdcDist(codes.asInstanceOf[ArrayData], lut, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lutRef = ctx.addReferenceObj("pqlut", lut, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashAlgos.pqAdcDist($c, $lutRef, $k)")
  }
  override protected def withNewChildInternal(newChild: Expression): PqAdcDistExpr =
    copy(child = newChild)
}

/** `bloom_might_contain(fp)` → BOOLEAN against a driver-built bit array.
  * The words ride into codegen as ONE reference object (like
  * [[PqEncodeExpr]]'s codebook) — per row it is k mixes + k bit tests, no
  * branch out of whole-stage codegen. No false negatives, so a downstream
  * exact join keeps the composed operator value-exact at any fpp.
  */
case class BloomMightContainExpr(child: Expression, words: Array[Long], numHashes: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.require(prettyName, child.dataType, LongType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_might_contain"
  override protected def nullSafeEval(v: Any): Any =
    HashAlgos.bloomMightContain(words, numHashes, v.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("bloomWords", words, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashAlgos.bloomMightContain($wRef, $numHashes, $c)")
  }
  override protected def withNewChildInternal(newChild: Expression): BloomMightContainExpr =
    copy(child = newChild)
}

/** `dot_f32(a, b)` → DOUBLE. */
case class DotF32(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.require2(prettyName, left.dataType, right.dataType, ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot_f32"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashAlgos.dotF32(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashAlgos.dotF32($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotF32 =
    copy(left = newLeft, right = newRight)
}

/** `cosine_f32(a, b)` → DOUBLE in [-1, 1]; 0.0 for zero-norm inputs. */
case class CosineF32(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.require2(prettyName, left.dataType, right.dataType, ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine_f32"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashAlgos.cosineF32(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashAlgos.cosineF32($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineF32 =
    copy(left = newLeft, right = newRight)
}

/** `quantize_i8(vec)` → ARRAY<TINYINT>: symmetric int8 quantization. */
case class QuantizeI8Expr(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.require(prettyName, child.dataType, ArrayType(FloatType))
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "graft_quantize_i8"
  override protected def nullSafeEval(v: Any): Any =
    HashAlgos.quantizeI8(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashAlgos.quantizeI8($c)")
  override protected def withNewChildInternal(newChild: Expression): QuantizeI8Expr =
    copy(child = newChild)
}

/** `cosine_i8(a, b)` → DOUBLE over int8-quantized vectors. */
case class CosineI8Expr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.require2(prettyName, left.dataType, right.dataType, ArrayType(ByteType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine_i8"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashAlgos.cosineI8(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashAlgos.cosineI8($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineI8Expr =
    copy(left = newLeft, right = newRight)
}

/** Column-API entry points for the codegen expressions. */
object FastFunctions {
  def tokenize(c: Column): Column =
    GraftShims.column(TokenizeExpr(GraftShims.expression(c), bm25 = false))
  def tokenizeBm25(c: Column): Column =
    GraftShims.column(TokenizeExpr(GraftShims.expression(c), bm25 = true))
  def polyHash(c: Column): Column =
    GraftShims.column(PolyHashExpr(GraftShims.expression(c), 31L))
  def polyHash2(c: Column): Column =
    GraftShims.column(PolyHashExpr(GraftShims.expression(c), 131L))
  def polyHashPair(c: Column): Column =
    GraftShims.column(PolyHashPairExpr(GraftShims.expression(c)))
  def deterministicEmbed(c: Column, dims: Int): Column =
    GraftShims.column(DeterministicEmbedExpr(GraftShims.expression(c), dims))
  def charNgramHashes(c: Column, n: Int): Column =
    GraftShims.column(CharNgramHashesExpr(GraftShims.expression(c), n))
  def wordShingles(tokens: Column, shingleN: Int): Column =
    GraftShims.column(WordShinglesExpr(GraftShims.expression(tokens), shingleN))
  def wordRepetition(tokens: Column, shingleN: Int): Column =
    GraftShims.column(WordRepetitionExpr(GraftShims.expression(tokens), shingleN))
  def shingleSpans(tokens: Column, shingleN: Int): Column =
    GraftShims.column(ShingleSpansExpr(GraftShims.expression(tokens), shingleN))
  def bigramCost(tokens: Column, uni: java.util.HashMap[String, Array[Long]],
                 bg: java.util.HashMap[String, java.lang.Long],
                 cuOov: Long, cbOov: Long): Column =
    GraftShims.column(BigramCostExpr(GraftShims.expression(tokens), uni, bg,
      cuOov, cbOov))
  def dsirScore(tokens: Column, buckets: Int, ratio: Array[Long]): Column =
    GraftShims.column(DsirScoreExpr(GraftShims.expression(tokens), buckets, ratio))
  def dsirBuckets(tokens: Column, buckets: Int): Column =
    GraftShims.column(DsirBucketsExpr(GraftShims.expression(tokens), buckets))
  def pqEncode(vec: Column, cb: Array[Float], m: Int, k: Int, subDim: Int): Column =
    GraftShims.column(PqEncodeExpr(GraftShims.expression(vec), cb, m, k, subDim))
  def pqAdcDist(codes: Column, lut: Array[Double], k: Int): Column =
    GraftShims.column(PqAdcDistExpr(GraftShims.expression(codes), lut, k))
  def pqAdcDistCols(codes: Column, lut: Column): Column =
    GraftShims.column(PqAdcDistColsExpr(GraftShims.expression(codes),
      GraftShims.expression(lut)))
  def minhashSig(tokens: Column, shingleN: Int, numHashes: Int): Column =
    GraftShims.column(MinHashSigExpr(GraftShims.expression(tokens), shingleN, numHashes))
  def simhash60(tokens: Column): Column =
    GraftShims.column(SimHash60Expr(GraftShims.expression(tokens)))
  def bloomMightContain(fp: Column, words: Array[Long], numHashes: Int): Column =
    GraftShims.column(BloomMightContainExpr(GraftShims.expression(fp), words, numHashes))
  def dot(a: Column, b: Column): Column =
    GraftShims.column(DotF32(GraftShims.expression(a), GraftShims.expression(b)))
  def cosine(a: Column, b: Column): Column =
    GraftShims.column(CosineF32(GraftShims.expression(a), GraftShims.expression(b)))
  def quantizeI8(v: Column): Column =
    GraftShims.column(QuantizeI8Expr(GraftShims.expression(v)))
  def cosineI8(a: Column, b: Column): Column =
    GraftShims.column(CosineI8Expr(GraftShims.expression(a), GraftShims.expression(b)))
}
