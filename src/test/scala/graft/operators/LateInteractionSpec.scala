package graft.operators

import graft.SparkSpec

/** Late-interaction MaxSim retrieval ([[LateInteraction]]): brute-force
  * driver twin on a tiny corpus, the exact-containment score identity,
  * and the tokenless/dedup contracts.
  */
class LateInteractionSpec extends SparkSpec {
  import spark.implicits._

  private def polyHash(s: String): Long =
    s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L)

  private def emb(tok: String, dims: Int): Array[Float] =
    Array.tabulate(dims)(j =>
      ((polyHash(s"$tok|$j") % 1000 - 500).toFloat / 500f))

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { i =>
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d > 0) dot / d else 0.0
  }

  private def maxSimDriver(docText: String, qtoks: Seq[String],
                           dims: Int): Double = {
    val dtoks = LateInteraction.tokenizeValue(docText).distinct
    qtoks.map(q => dtoks.map(d => cos(emb(q, dims), emb(d, dims))).max).sum
  }

  test("maxSim scores match the brute-force driver twin") {
    val docs = Seq(
      (1L, "spark shuffles data across the cluster"),
      (2L, "window functions rank rows per partition"),
      (3L, "filter pushdown prunes parquet row groups"),
      (4L, "join strategies: broadcast hash and sort merge")).toDF("doc_id", "text")
    val q = "spark join filter window"
    val qtoks = LateInteraction.tokenizeValue(q).distinct
    val got = LateInteraction.maxSimTopK(docs, "doc_id", "text", q, 10, dims = 8)
      .as[(Long, Double)].collect().toMap
    assert(got.size == 4)
    Seq(
      1L -> "spark shuffles data across the cluster",
      2L -> "window functions rank rows per partition",
      3L -> "filter pushdown prunes parquet row groups",
      4L -> "join strategies: broadcast hash and sort merge"
    ).foreach { case (id, text) =>
      val exp = maxSimDriver(text, qtoks, 8)
      assert(math.abs(got(id) - exp) < 1e-3,
        s"doc $id: got ${got(id)}, driver twin $exp")
    }
  }

  test("a document containing every query token scores exactly |q| and ranks first") {
    val docs = Seq(
      (1L, "spark join filter window plus extra words"),
      (2L, "completely unrelated prose about cooking pasta"),
      (3L, "spark only")).toDF("doc_id", "text")
    val got = LateInteraction.maxSimTopK(docs, "doc_id", "text",
        "spark join filter window", 10, dims = 8)
      .as[(Long, Double)].collect().toSeq
    assert(got.head._1 == 1L)
    // every query token present => each MaxSim term is cos(t,t) = 1
    assert(got.head._2 == 4.0, s"got ${got.head._2}")
  }

  test("batched MaxSim equals per-query single MaxSim, with dense ranks") {
    val docs = Seq(
      (1L, "spark shuffles data across the cluster"),
      (2L, "window functions rank rows per partition"),
      (3L, "filter pushdown prunes parquet row groups"),
      (4L, "join strategies broadcast hash sort merge")).toDF("doc_id", "text")
    val queries = Seq(1L -> "spark join", 2L -> "window filter rows")
    val batch = LateInteraction.maxSimTopKBatch(docs, "doc_id", "text",
        queries, k = 3)
      .as[(Long, Long, Double, Int)].collect().toSeq
      .sortBy(r => (r._1, r._4))
    queries.foreach { case (qid, qtext) =>
      val single = LateInteraction.maxSimTopK(docs, "doc_id", "text", qtext, 3)
        .as[(Long, Double)].collect().toSeq
      val fromBatch = batch.filter(_._1 == qid).map(r => (r._2, r._3))
      assert(fromBatch == single, s"query $qid: batch $fromBatch vs single $single")
    }
    batch.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._4).sorted == (1 to rows.size))
    }
  }

  test("pruned MaxSim: candidate scores equal exact scores; wide budget = exact result") {
    val docs = (1L to 60L).map { i =>
      (i, if (i % 3 == 0) s"spark join filter window doc$i"
          else if (i % 3 == 1) s"cooking pasta recipe doc$i"
          else s"football match report doc$i")
    }.toDF("doc_id", "text")
    val q = "spark join filter window"
    val exact = LateInteraction.maxSimTopK(docs, "doc_id", "text", q, 10)
      .as[(Long, Double)].collect().toSeq
    // candidate budget >= vocab size => no doc can be pruned => identical
    val wide = LateInteraction.maxSimTopKPruned(docs, "doc_id", "text", q, 10,
        candPerTok = 10000)
      .as[(Long, Double)].collect().toSeq
    assert(wide == exact)
    // tight budget: surviving docs keep their EXACT scores (pruning only
    // excludes docs, never changes a score), and recall@10 stays high on
    // a corpus where a third of the docs share the query's tokens
    val pruned = LateInteraction.maxSimTopKPruned(docs, "doc_id", "text", q, 10,
        candPerTok = 25)
      .as[(Long, Double)].collect().toSeq
    val exactScores = LateInteraction.maxSimTopK(docs, "doc_id", "text", q, 60)
      .as[(Long, Double)].collect().toMap
    pruned.foreach { case (id, s) => assert(s == exactScores(id)) }
    val recall = pruned.map(_._1).toSet
      .intersect(exact.map(_._1).toSet).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall@10 $recall")
  }

  test("batched pruned MaxSim ≡ per-query maxSimTopKPruned, tight and wide budgets") {
    val docs = (1L to 60L).map { i =>
      (i, if (i % 3 == 0) s"spark join filter window doc$i"
          else if (i % 3 == 1) s"cooking pasta recipe doc$i"
          else s"football match report doc$i")
    }.toDF("doc_id", "text")
    val queries = Seq(1L -> "spark join filter window",
      2L -> "cooking pasta recipe", 3L -> "football report")
    for (cand <- Seq(25, 10000)) {
      val batch = LateInteraction.maxSimTopKBatchPruned(docs, "doc_id",
          "text", queries, k = 10, candPerTok = cand)
        .as[(Long, Long, Double, Int)].collect().toSeq
        .groupBy(_._1).view.mapValues(_.sortBy(_._4)
          .map(r => (r._2, r._3))).toMap
      queries.foreach { case (qid, q) =>
        val single = LateInteraction.maxSimTopKPruned(docs, "doc_id", "text",
            q, 10, candPerTok = cand)
          .as[(Long, Double)].collect().toSeq
        assert(batch.getOrElse(qid, Nil) == single, s"cand=$cand query $qid")
      }
    }
    // waves: a 3-column budget forces one query per wave — same result
    val waved = LateInteraction.maxSimTopKBatchPruned(docs, "doc_id", "text",
        queries, k = 10, candPerTok = 25, colsPerWave = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    val unwaved = LateInteraction.maxSimTopKBatchPruned(docs, "doc_id", "text",
        queries, k = 10, candPerTok = 25)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(waved == unwaved)
  }

  test("empty queries are refused loudly at every entry point") {
    val docs = Seq((1L, "spark join")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      LateInteraction.maxSimScores(docs, "doc_id", "text", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      LateInteraction.maxSimTopK(docs, "doc_id", "text", "!!! ...", 10)
    }
    intercept[IllegalArgumentException] {
      LateInteraction.maxSimTopKPruned(docs, "doc_id", "text", "", 10)
    }
    intercept[IllegalArgumentException] { // per-query in a batch
      LateInteraction.maxSimTopKBatch(docs, "doc_id", "text",
        Seq(1L -> "spark", 2L -> "???"), 10)
    }
    intercept[IllegalArgumentException] { // empty batch
      LateInteraction.maxSimTopKBatch(docs, "doc_id", "text", Seq.empty, 10)
    }
  }

  test("column-budget waves: chunked batch result equals the single-wave result") {
    val docs = (1L to 40L).map { i =>
      (i, if (i % 2 == 0) s"spark join filter doc$i"
          else s"cooking pasta recipe doc$i")
    }.toDF("doc_id", "text")
    val batch = (1L to 8L).map(i => i -> s"spark join filter query $i")
    val single = LateInteraction.maxSimTopKBatch(
        docs, "doc_id", "text", batch, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSeq.sorted
    // a 10-column budget forces ~5-token queries into 2-query waves; the
    // union + shared ranking window must reproduce the one-wave result
    val waved = LateInteraction.maxSimTopKBatch(
        docs, "doc_id", "text", batch, k = 5, colsPerWave = 10)
      .as[(Long, Long, Double, Int)].collect().toSeq.sorted
    assert(waved == single)
    // degenerate budget: one query per wave (every query over-budget)
    val tiny = LateInteraction.maxSimTopKBatch(
        docs, "doc_id", "text", batch, k = 5, colsPerWave = 1)
      .as[(Long, Long, Double, Int)].collect().toSeq.sorted
    assert(tiny == single)
  }

  test("auto tier policy: exact below the bound, pruned above, exact dispatch") {
    import LateInteraction.Tier
    assert(LateInteraction.chooseTier(10L) == Tier.Exact)
    assert(LateInteraction.chooseTier(LateInteraction.ExactMaxDocs) == Tier.Exact)
    assert(LateInteraction.chooseTier(LateInteraction.ExactMaxDocs + 1) ==
      Tier.Pruned(50))
    assert(LateInteraction.chooseTier(1000000L, candPerTok = 7) ==
      Tier.Pruned(7))
    // below the bound the auto result IS the exact result
    val docs = Seq((1L, "spark join filter"), (2L, "window scan"),
      (3L, "spark window")).toDF("doc_id", "text")
    val auto = LateInteraction.maxSimTopKAuto(docs, "doc_id", "text",
      "spark window", 5).as[(Long, Double)].collect().toSeq
    val exact = LateInteraction.maxSimTopK(docs, "doc_id", "text",
      "spark window", 5).as[(Long, Double)].collect().toSeq
    assert(auto == exact)
    // forcing the pruned dispatch via corpusDocs: scores of returned docs
    // still equal the exact scores (pruning only excludes docs)
    val pruned = LateInteraction.maxSimTopKAuto(docs, "doc_id", "text",
        "spark window", 5, corpusDocs = Some(LateInteraction.ExactMaxDocs + 1))
      .as[(Long, Double)].collect().toMap
    val exactMap = exact.toMap
    assert(pruned.forall { case (id, s) => exactMap(id) == s })
  }

  test("batch tier policy: overlap + corpus geometry route the crossover") {
    import LateInteraction.Tier
    val big = LateInteraction.ExactMaxDocs + 1
    // selective geometry: huge vocab, short docs — keep fraction tiny
    val wideVocab = (Some(100000000L), Some(20.0))
    // template batch: 200 queries over one 5-token template + a unique
    // suffix -> dup factor >> BatchOverlapMax -> EXACT whatever the corpus
    val template = (1L to 200L).map(i => i -> s"spark join filter window query $i")
    assert(LateInteraction.chooseBatchTier(big, template,
      vocabSize = wideVocab._1, avgDocTokens = wideVocab._2) == Tier.Exact)
    // disjoint batch: dup factor 1.0 -> PRUNED on a big SELECTIVE corpus...
    val disjoint = (1L to 20L).map(i => i -> s"a${i}x b${i}x c${i}x")
    assert(LateInteraction.chooseBatchTier(big, disjoint,
      vocabSize = wideVocab._1, avgDocTokens = wideVocab._2) == Tier.Pruned(50))
    assert(LateInteraction.chooseBatchTier(big, disjoint, candPerTok = 9,
      vocabSize = wideVocab._1, avgDocTokens = wideVocab._2) == Tier.Pruned(9))
    // ...EXACT on a small corpus (pruning is pure overhead there)...
    assert(LateInteraction.chooseBatchTier(10L, disjoint,
      vocabSize = wideVocab._1, avgDocTokens = wideVocab._2) == Tier.Exact)
    // ...EXACT when the keep-set would cover the corpus (tiny vocab — the
    // word-soup receipt shape: pruned 15.0 s vs exact 7.4 s at 100×)...
    assert(LateInteraction.chooseBatchTier(big, disjoint,
      vocabSize = Some(31L), avgDocTokens = Some(23.0)) == Tier.Exact)
    // ...and EXACT when the geometry is unknown (blind pruning lost on
    // every receipted batch shape)
    assert(LateInteraction.chooseBatchTier(big, disjoint) == Tier.Exact)
    // dispatch identity: small corpus -> batch auto IS the exact batch
    val docs = Seq((1L, "spark join filter"), (2L, "window scan"),
      (3L, "spark window")).toDF("doc_id", "text")
    val batch = Seq(1L -> "spark window", 2L -> "join scan")
    val auto = LateInteraction.maxSimTopKBatchAuto(docs, "doc_id", "text",
        batch, 5).as[(Long, Long, Double, Int)].collect().toSet
    val exact = LateInteraction.maxSimTopKBatch(docs, "doc_id", "text",
        batch, 5).as[(Long, Long, Double, Int)].collect().toSet
    assert(auto == exact)
    // forced pruned dispatch: returned scores still equal exact scores
    val pruned = LateInteraction.maxSimTopKBatchAuto(docs, "doc_id", "text",
        batch, 5, corpusDocs = Some(big))
      .as[(Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val exactMap = exact.map(r => (r._1, r._2) -> r._3).toMap
    assert(pruned.forall { case (k2, s) => exactMap(k2) == s })
  }

  test("tokenless docs get no score row; repeated tokens count once") {
    val docs = Seq(
      (1L, "spark spark spark"),
      (2L, ""),
      (3L, "spark")).toDF("doc_id", "text")
    val got = LateInteraction.maxSimTopK(docs, "doc_id", "text", "spark", 10)
      .as[(Long, Double)].collect().toSeq
    assert(got.map(_._1).toSet == Set(1L, 3L))
    // dedup: identical distinct-token sets => identical scores
    assert(got.map(_._2).distinct.size == 1)
  }

  test("at-rest index round-trip: stored serving equals the computed tier") {
    val docs = Seq(
      (1L, "spark shuffles data across the cluster"),
      (2L, "window functions rank rows per partition"),
      (3L, "filter pushdown prunes parquet row groups"),
      (4L, "join strategies: broadcast hash and sort merge"),
      (5L, "")).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("latestore").toString
    LateInteraction.writeIndex(
      LateInteraction.buildIndex(docs, "doc_id", "text", dims = 8), dir)
    val ix = LateInteraction.readIndex(spark, dir)
    assert(ix.idCol == "doc_id" && ix.dims == 8)
    val q = "spark join filter window"
    // single query: stored == computed, row for row (incl. order)
    val stored = LateInteraction.maxSimTopKStored(ix, q, 10)
      .as[(Long, Double)].collect().toSeq
    val computed = LateInteraction.maxSimTopK(docs, "doc_id", "text", q, 10)
      .as[(Long, Double)].collect().toSeq
    assert(stored == computed)
    // batch: same contract, one-column wave budget forces multi-wave so
    // the stored path's per-wave vocabulary re-read is exercised
    val batch = Seq(1L -> "spark window", 2L -> "join scan broadcast")
    val sb = LateInteraction.maxSimTopKBatchStored(ix, batch, 5,
      colsPerWave = 2).as[(Long, Long, Double, Int)].collect().toSet
    val cb = LateInteraction.maxSimTopKBatch(docs, "doc_id", "text",
      batch, 5).as[(Long, Long, Double, Int)].collect().toSet
    assert(sb == cb)
  }

  test("t11_late_pruned's vocab memo misses after the documents are rewritten in place") {
    val dir = java.nio.file.Files.createTempDirectory("graft_late_rw").toString
    val path = s"$dir/documents.parquet"
    val t11 = graft.queries.EngineQueries.defs.find(_.name == "t11_late_pruned").get.fn
    Seq((1L, "lorem ipsum dolor"), (2L, "sit amet consectetur"))
      .toDF("doc_id", "text").write.parquet(path)
    t11(spark, dir).collect() // memoizes the first corpus's vocabulary
    Seq((1L, "spark join planner"), (2L, "window filter pushdown"), (3L, "spark window"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(path)
    // the table read itself sits behind Tables' read-only contract: drop
    // that one entry, so only the vocab key's fingerprint can notice
    SessionMemo.forget(spark, path)
    val keyless = LateInteraction.maxSimTopKPruned(spark.read.parquet(path),
      "doc_id", "text", "spark join filter window", 20, dims = 8, candPerTok = 50)
    assert(t11(spark, dir).collect().toSeq == keyless.collect().toSeq)
  }
}
