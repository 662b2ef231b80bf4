package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ANN quality-evidence harness (not part of the library surface):
  * measures recall@k against exact ground truth for each serving tier
  * across its quality knob — nprobe for IVF, shortlist for IVFPQ, beam for
  * the graph — at 1× and 50× corpus (sf0.1 embeddings replicated, the
  * Scale protocol). The engine's ANN claim is "same ranking contract,
  * exactness is the only thing traded"; this prints the measured trade so
  * PLANS.md can carry numbers instead of an assertion.
  */
object RecallSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local()
    import spark.implicits._

    val emb1 = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val kRep = 50
    val embN = (0 until kRep).map(i => emb1.select(
        (col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"), col("embedding")))
      .reduce(_ unionByName _).localCheckpoint(true)

    val k = 10
    def queries(e: DataFrame) = e.limit(50)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      .localCheckpoint(true)

    def topSet(df: DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "doc_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }

    def recall(got: Map[Long, Set[Long]], truth: Map[Long, Set[Long]]): Double = {
      val per = truth.map { case (q, t) =>
        got.get(q).map(g => (g intersect t).size.toDouble / t.size).getOrElse(0.0) }
      per.sum / per.size
    }

    // ── r11: recall-target auto-sizing (VectorSearch.tuneServing) on a
    //    CLUSTERED fixture. PLANS.md's round-10 reading #1: the random sf
    //    corpus is every ANN family's worst case and real embedding corpora
    //    cluster — the tuner's contract is "reach the target on clustered
    //    data with measured, auto-chosen knobs" ─────────────────────────────
    {
      import operators.VectorSearch
      val rnd = new scala.util.Random(11)
      val centers = (0 until 20).map(_ => Array.fill(32)(rnd.nextFloat() - 0.5f))
      val clustered = (0L until 2000L).map { i =>
        i -> centers((i % 20).toInt).map(v => v + (rnd.nextFloat() - 0.5f) * 0.1f).toSeq
      }.toDF("vec_id", "embedding").localCheckpoint(true)
      val nC = clustered.count()
      val target = 0.9
      val tiers: Seq[(String, VectorSearch.Serving)] = Seq(
        "ivf" -> VectorSearch.buildServing(clustered, "vec_id", "embedding",
          VectorSearch.IndexStrategy.Ivf(16)),
        "ivfpq" -> VectorSearch.buildServing(clustered, "vec_id", "embedding",
          VectorSearch.IndexStrategy.IvfPq(16, 8)),
        "graph" -> {
          val g = VectorSearch.knnGraph(clustered, "vec_id", "embedding", k = 8,
            numPlanes = VectorSearch.graphPlanesFor(nC)).localCheckpoint(true)
          // one entry per cluster (round-robin ids): entry coverage is part
          // of the graph serving config, mirroring graphSearchDeduped's
          // smallest-representative-ids convention
          VectorSearch.Serving.Graph(g, 64, 3, (0L until 20L).toSeq)
        })
      for ((name, srv) <- tiers) {
        val t0 = System.nanoTime()
        val (_, knobs) = VectorSearch.tuneServing(clustered, "vec_id", "embedding",
          srv, k = k, recallTarget = target)
        println(f"[recall] clustered(n=$nC) auto $name%-6s target=$target%.2f -> nprobe=${knobs.nprobe} short=${knobs.shortlist} beam=${knobs.beam} entries=${knobs.entries} recall@$k=${knobs.measuredRecall}%.3f  (${(System.nanoTime() - t0) / 1e9}%.2f s)")
      }
    }

    // ── r11b: the ENTRY-COVERAGE tuning dimension on the UNCLUSTERED sf
    //    corpus — every graph tier's worst case (the round-10/11 sweeps:
    //    beams alone saturate at 0.24-0.62 recall from 4 fixed entries;
    //    the fixed-entry baseline IS the "1x graph beam=…" rows below).
    //    A beam search reaches only what its entry basins cover, so the
    //    tuner widens the start set too ─────────────────────────────────────
    val e1: DataFrame = emb1.localCheckpoint(true)
    locally {
      import operators.VectorSearch
      val n = e1.count()
      val g = VectorSearch.knnGraph(e1, "vec_id", "embedding", k = 8,
        numPlanes = VectorSearch.graphPlanesFor(n)).localCheckpoint(true)
      val srv = VectorSearch.Serving.Graph(g, 64, 3, Seq(0L, 100L, 200L, 300L))
      val t0 = System.nanoTime()
      val (_, knobs) = VectorSearch.tuneServing(e1, "vec_id", "embedding",
        srv, k = k, recallTarget = 0.9)
      val demoted = if (knobs.demotedFrom.nonEmpty)
        s" (demoted from ${knobs.demotedFrom}: nprobe=${knobs.nprobe} short=${knobs.shortlist})" else ""
      println(f"[recall] unclustered(n=$n) auto graph -> entries=${knobs.entries} beam=${knobs.beam} hops=${knobs.hops} recall@$k=${knobs.measuredRecall}%.3f$demoted  (${(System.nanoTime() - t0) / 1e9}%.2f s)")
    }

    for ((label, e) <- Seq("1x" -> e1, s"${kRep}x" -> embN)) {
      val qs = queries(e)
      val n = e.count()
      val truth = topSet(operators.VectorSearch.bruteTopKBatchAgg(
        e, "vec_id", "embedding", qs, "query_id", "qvec", k))
      println(f"[recall] $label corpus n=$n ground truth = exact top-$k, 50 queries")

      // IVF: seeded 8-centroid assignment, sweep nprobe
      val cents = e.filter(col("vec_id") < 8).select(col("vec_id"), col("embedding"))
        .collect().map(r => (r.getLong(0).toInt, r.getSeq[Float](1))).sortBy(_._1).toSeq
      val assigned = operators.VectorSearch
        .seededIvfAssign(e, "vec_id", "embedding", cents).localCheckpoint(true)
      val centDf = cents.toDF("cid", "cv").localCheckpoint(true)
      for (nprobe <- Seq(1, 2, 4, 8)) {
        val t0 = System.nanoTime()
        val got = topSet(operators.VectorSearch.ivfTopKBatch(assigned, "vec_id",
          "embedding", centDf, qs, "query_id", "qvec", k, nprobe))
        println(f"[recall] $label ivf       nprobe=$nprobe%-3d recall@$k=${recall(got, truth)}%.3f  (${(System.nanoTime()-t0)/1e9}%.2f s)")
      }

      // IVFPQ: nprobe=4, m=8 seeded codebook, sweep the ADC shortlist that
      // feeds the exact re-rank
      val cb = operators.VectorSearch.seededPqCodebook(e, "vec_id", "embedding",
        seedIds = 0L until 16L, m = 8)
      val encoded = operators.VectorSearch.pqEncode(assigned, "vec_id", "embedding", cb)
        .localCheckpoint(true)
      // query vectors and their probed clusters are shortlist-invariant —
      // hoisted so each timed row measures only ADC + re-rank work
      val probeIds = qs.select("query_id", "qvec").collect().map { r =>
        (r.getLong(0), r.getSeq[Float](1))
      }.map { case (qid, qv) =>
        (qid, qv, operators.VectorSearch.probeIdsExact(spark,
          cents.map(_._2.toArray).toArray, qv.toSeq, 4))
      }
      for (shortlist <- Seq(20, 50, 100)) {
        val t0 = System.nanoTime()
        // per-query: probe nprobe=4 clusters, ADC-shortlist, exact re-rank
        val got = probeIds.map { case (qid, qv, probes) =>
          val enc = encoded.filter(col("cluster_id").isin(probes: _*))
          val short = operators.VectorSearch.pqAdcTopK(enc, "vec_id", "codes",
            cb, qv.toSeq, shortlist).select(col("doc_id").as("vec_id"))
          val ids = operators.VectorSearch.bruteTopK(
              enc.join(short, Seq("vec_id"), "left_semi"),
              "vec_id", "embedding", qv.toSeq, k)
            .select("doc_id").as[Long].collect().toSet
          qid -> ids
        }.toMap
        println(f"[recall] $label ivfpq     short=$shortlist%-4d recall@$k=${recall(got, truth)}%.3f  (${(System.nanoTime()-t0)/1e9}%.2f s, nprobe=4)")
      }

      // Graph: corpus-sized planes, sweep beam at hops=3
      val g = operators.VectorSearch.knnGraph(e, "vec_id", "embedding", k = 8,
        numPlanes = operators.VectorSearch.graphPlanesFor(n)).localCheckpoint(true)
      for (beam <- Seq(16, 32, 48, 64)) {
        val t0 = System.nanoTime()
        val got = topSet(operators.VectorSearch.graphSearch(g, e, "vec_id",
          "embedding", qs, "query_id", "qvec", k, beam = beam, hops = 3,
          entryIds = Seq(0L, 100L, 200L, 300L)))
        println(f"[recall] $label graph     beam=$beam%-4d recall@$k=${recall(got, truth)}%.3f  (${(System.nanoTime()-t0)/1e9}%.2f s)")
      }

      // Deduped graph (the duplicate-saturation fix): graph over UNIQUE
      // vectors, copies expanded after search. At 1x the corpus is already
      // unique so only the replicated corpus is informative.
      if (label != "1x") {
        for (beam <- Seq(32, 48, 64)) {
          val t0 = System.nanoTime()
          val got = topSet(operators.VectorSearch.graphSearchDeduped(e,
            "vec_id", "embedding", qs, "query_id", "qvec", k, kGraph = 8,
            numPlanes = operators.VectorSearch.graphPlanesFor(n / kRep),
            beam = beam, hops = 3, nEntries = 4))
          println(f"[recall] $label graphDedup beam=$beam%-4d recall@$k=${recall(got, truth)}%.3f  (${(System.nanoTime()-t0)/1e9}%.2f s)")
        }
      }
    }

    // ── r13: the AUTO tier at 50× corpus — the round-12 verdict's one
    //    `weak`: the fixed-knob graphDedup rows above top out ~0.86 at
    //    n=100k while the tuner rows that hit 0.9 were only run at
    //    n=2000. This runs tuneServing's full ladder (entries × beam ×
    //    hops, then the recorded IVFPQ demotion if the ladder exhausts)
    //    against the SAME 50× fixture and prints what the auto path
    //    actually serves at that scale ─────────────────────────────────────
    locally {
      import operators.VectorSearch
      val n = embN.count()
      val target = 0.9
      val t0 = System.nanoTime()
      val (srv, knobs) = VectorSearch.tuneServing(embN, "vec_id", "embedding",
        VectorSearch.Serving.GraphDeduped(s"recall50x|$sfDir", kGraph = 8,
          numPlanes = VectorSearch.graphPlanesFor(n / kRep)),
        k = k, recallTarget = target)
      val tier = srv match {
        case _: VectorSearch.Serving.IvfPq => "ivfpq"
        case _: VectorSearch.Serving.Ivf => "ivf"
        case _: VectorSearch.Serving.GraphDeduped => "graphDedup"
        case _: VectorSearch.Serving.Graph => "graph"
        case VectorSearch.Serving.Flat => "flat"
      }
      val demoted = if (knobs.demotedFrom.nonEmpty)
        s" DEMOTED from ${knobs.demotedFrom}" else ""
      println(f"[recall] ${kRep}x auto graphDedup(n=$n) target=$target%.2f -> serves=$tier nprobe=${knobs.nprobe} short=${knobs.shortlist} beam=${knobs.beam} entries=${knobs.entries} hops=${knobs.hops} recall@$k=${knobs.measuredRecall}%.3f$demoted  (${(System.nanoTime() - t0) / 1e9}%.2f s)")

      // and the pure policy path: chooseIndex at n=100k picks IVFPQ —
      // build + calibrate it, the serving the auto KB config would get
      val dim = embN.select(col("embedding")).head.getSeq[Float](0).length
      val strat = VectorSearch.chooseIndex(n, dim)
      val t1 = System.nanoTime()
      val (_, kn2) = VectorSearch.buildServingTuned(embN, "vec_id", "embedding",
        strat, recallTarget = target, k = k)
      println(f"[recall] ${kRep}x auto chooseIndex(n=$n,dim=$dim)=$strat -> nprobe=${kn2.nprobe} short=${kn2.shortlist} recall@$k=${kn2.measuredRecall}%.3f  (${(System.nanoTime() - t1) / 1e9}%.2f s)")
    }
    spark.stop()
  }
}
