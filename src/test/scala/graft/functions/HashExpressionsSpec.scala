package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** The codegen expressions must agree bit-for-bit with their HOF spec
  * column functions — that equivalence is what lets the DuckDB oracle keep
  * verifying them. Checked here on adversarial strings (unicode, empty,
  * punctuation) and on random token arrays.
  */
class HashExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private val samples = Seq(
    "", "a", "hello world", "The quick brown fox jumps over the lazy dog",
    "ünïcödé tëxt façade", "日本語のテキスト", "ёлка и вода",
    "punct!@#$%^&*()", "  spaces   everywhere  ", "123 456 789",
    "a" * 500)

  test("fast polyHash == HOF spec polyHash on adversarial strings") {
    val df = samples.toDF("s")
    val rows = df.select(
      FastFunctions.polyHash(col("s")).as("fast"),
      TextFunctions.polyHashSpec(col("s")).as("spec")).collect()
    rows.foreach { r => assert(r.getLong(0) == r.getLong(1), s"mismatch: $r") }
  }

  test("fast tokenizers == HOF spec tokenizers on adversarial strings") {
    val df = (samples ++ Seq("a 1 b 2 the quick", "THE QUICK the", "1")).toDF("s")
    val rows = df.select(
      TextFunctions.tokenize(col("s")).as("ft"),
      TextFunctions.tokenizeSpec(col("s")).as("st"),
      TextFunctions.tokenizeBm25(col("s")).as("fb"),
      TextFunctions.tokenizeBm25Spec(col("s")).as("sb")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), s"tokenize mismatch: $r")
      assert(r.getSeq[String](2) == r.getSeq[String](3), s"bm25 mismatch: $r")
    }
  }

  test("fast cosine/dot == HOF spec on random float vectors") {
    val rnd = new scala.util.Random(7)
    val vecs = Seq.fill(50)((Array.fill(64)(rnd.nextFloat() - 0.5f),
      Array.fill(64)(rnd.nextFloat() - 0.5f)))
    val df = vecs.toDF("a", "b")
    val rows = df.select(
      VectorFunctions.dot(col("a"), col("b")).as("fd"),
      VectorFunctions.dotSpec(col("a"), col("b")).as("sd"),
      VectorFunctions.cosine(col("a"), col("b")).as("fc"),
      VectorFunctions.cosineSpec(col("a"), col("b")).as("sc")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), s"dot mismatch: $r")
      assert(r.getDouble(2) == r.getDouble(3), s"cosine mismatch: $r")
    }
  }

  test("cosine of zero vector is 0.0; cosine of identical vectors is ~1.0") {
    val df = Seq((Array.fill(8)(0.0f), Array.fill(8)(1.0f)),
      (Array.fill(8)(0.5f), Array.fill(8)(0.5f))).toDF("a", "b")
    val out = df.select(VectorFunctions.cosine(col("a"), col("b"))).as[Double].collect()
    assert(out(0) == 0.0)
    assert(math.abs(out(1) - 1.0) < 1e-12)
  }

  test("fast wordShingles == array_distinct(HOF shingles) incl. sort-set equality") {
    val df = (samples ++ Seq("one two", "one two three four five")).toDF("s")
    val rows = df.select(
      FastFunctions.wordShingles(TextFunctions.tokenize(col("s")), 3).as("fast"),
      array_distinct(TextFunctions.shingles(
        TextFunctions.tokenize(col("s")), 3)).as("spec")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), s"mismatch: $r")
    }
  }

  test("minhash signature: length, determinism, identity for equal docs") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // exact dup of 1
      (3L, "totally different words here now"),
      (4L, "ab"), // fewer tokens than shingle size -> one shingle
      (5L, "")    // no tokens -> empty signature
    ).toDF("id", "text")
    val sigs = df.select(col("id"),
      FastFunctions.minhashSig(TextFunctions.tokenize(col("text")), 3, 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L).length == 16)
    assert(sigs(1L) == sigs(2L), "identical docs must share signatures")
    assert(sigs(1L) != sigs(3L), "different docs must differ")
    assert(sigs(4L).length == 16)
    assert(sigs(5L).isEmpty)
  }

  test("near-duplicate docs agree on most minhash positions (Jaccard estimate)") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"token$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup)).toDF("id", "text")
    val sigs = df.select(col("id"),
      FastFunctions.minhashSig(TextFunctions.tokenize(col("text")), 3, 32).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val agree = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b }
    // true Jaccard of shingle sets ≈ 32/41 ≈ 0.78; 32 hashes → expect >= ~18 agreements
    assert(agree >= 18, s"only $agree/32 minhash positions agree")
  }

  test("simhash: identical docs equal; near-dups within small Hamming distance") {
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val near = (1 to 60).map(i => if (i % 29 == 0) "swap" else s"word$i").mkString(" ")
    val far = (100 to 160).map(i => s"other$i").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, near), (4L, far)).toDF("id", "text")
    val sigs = df.select(col("id"),
      FastFunctions.simhash60(TextFunctions.tokenize(col("text"))).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    val hamNear = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    val hamFar = java.lang.Long.bitCount(sigs(1L) ^ sigs(4L))
    assert(hamNear < hamFar, s"near=$hamNear should be < far=$hamFar")
    assert(hamNear <= 12, s"near-dup Hamming $hamNear too large")
  }

  test("wordRepetition: the codegen expression matches the SQL-function spec twin value-for-value") {
    val docs = Seq(
      (1L, "zz yy xx zz yy xx zz yy xx"),          // heavy repeats
      (2L, "the quick brown fox jumps over lazy"), // all unique
      (3L, "a b"),                                 // shorter than n
      (4L, ""),                                    // no tokens
      (5L, "w w w w w w w w"),                     // one token repeated
      (6L, "alpha beta gamma alpha beta gamma delta"),
      (7L, null.asInstanceOf[String]))             // NULL text must score 0.0
      .toDF("id", "txt")
    for (n <- Seq(1, 3)) {
      val got = docs.select(col("id"),
          TextFunctions.repetitionRatio(col("txt"), n).as("r"),
          TextFunctions.repetitionRatioSpec(col("txt"), n).as("rs"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      got.foreach { case (id, r, rs) =>
        assert(r == rs, s"n=$n id=$id: expr $r != spec $rs")
      }
    }
  }

  test("DeterministicEmbedExpr matches the provider and the transform formulation bit for bit") {
    import graft.embed.Embedder
    val texts = Seq("spark join", "", "a", "naïve café ünïcode 𝔘", "x" * 500,
      "word1 word2 word3 word4 word5")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "txt")
    for (dims <- Seq(1, 8, 16)) {
      // codegen expression vs the driver-side provider (the m1/m5 contract)
      val got = docs.select(col("id"),
          Embedder.deterministicEmbed(col("txt"), dims).as("v"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
      val want = Embedder.Deterministic(dims).embedBatch(texts)
      texts.indices.foreach { i =>
        assert(got(i.toLong) == want(i).toSeq, s"dims=$dims text #$i")
      }
      // and vs the interpreted transform(sequence) chain it replaced
      val old = docs.select(col("id"),
          transform(sequence(lit(0), lit(dims - 1)), j =>
            (((pmod(FastFunctions.polyHash(concat(col("txt"), lit("|"), j.cast("string"))), lit(1000L)))
              .cast("float") - lit(500f)) / lit(500f)).cast("float")).as("v"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
      assert(old == got, s"dims=$dims: expr diverges from the old chain")
    }
    // NULL text embeds to NULL (null-safe unary)
    val n = Seq((1L, null.asInstanceOf[String])).toDF("id", "txt")
      .select(Embedder.deterministicEmbed(col("txt"), 4)).head()
    assert(n.isNullAt(0))
  }

  test("type check rejects wrong input types loudly") {
    val df = Seq((1, 2)).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(FastFunctions.cosine(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.contains("graft_cosine_f32"))
  }

  test("cosineF32 with precomputed norms is bit-identical to cosineF32") {
    val rnd = new scala.util.Random(17)
    def vec(n: Int): Array[Float] = Array.fill(n)(rnd.nextGaussian().toFloat)
    val pairs =
      Seq.fill(200)((vec(64), vec(64))) ++
      Seq.fill(20)((vec(1024), vec(1024))) ++
      Seq((Array.fill(8)(0f), vec(8)), (vec(8), Array.fill(8)(0f)),
        (Array.fill(8)(0f), Array.fill(8)(0f)),
        (Array.emptyFloatArray, Array.emptyFloatArray),
        (vec(8), vec(5)), (vec(3), vec(9)), (vec(4), Array.emptyFloatArray))
    pairs.foreach { case (a, b) =>
      val exact = HashAlgos.cosineF32(a, b)
      val normed = HashAlgos.cosineF32(a, HashAlgos.normF32(a), b, HashAlgos.normF32(b))
      assert(java.lang.Double.doubleToRawLongBits(normed) ==
        java.lang.Double.doubleToRawLongBits(exact),
        s"${a.length}x${b.length}: $normed vs $exact")
    }
  }
}
