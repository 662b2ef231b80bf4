package graft

import org.apache.spark.sql.functions._

/** Receipt harness for the eval verb's retrieval-quality A/B
  * (tools/eval_r15.txt): builds a kb from a testdata documents table
  * (chunks → deterministic embed → at-rest BM25) and runs
  * `eval --rerank`, which prints nDCG@k/MRR/P@k/R@k for the plain BM25
  * ranking plus the lexical and the in-repo-trained learned rerankers on
  * shared pseudo-qrels. Not part of the library surface.
  *
  * Usage: `runMain graft.EvalReceipt [sfDir] [kbDir]`
  */
object EvalReceipt {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val kb = if (args.length > 1) args(1) else "/tmp/graft_evalkb"
    val spark = Sessions.local()
    val docs = Tables.documents(spark, sfDir)
    docs.select(col("doc_id"), col("text").as("chunk_text"),
        col("source").as("sourcedoc"))
      .write.mode("overwrite").parquet(s"$kb/chunks")
    Main.run(Array("embed", kb), spark)
    Main.run(Array("bm25", kb), spark)
    // single-sourced from the planted-query list the qrels builders use
    // (ADVICE r17): position i in this arg IS query_id i+1 in the qrels,
    // by construction — editing either can no longer silently misalign
    // the A/B's query ids
    val queriesArg = graft.queries.EngineQueries.plantedQueriesArg
    // planted LEXICAL qrels (the TREC shape the --qrels flag reads):
    // per query, docs ranked by total query-term OCCURRENCES (raw tf
    // mass, ties by doc_id) — top 20 grade 3, next 30 grade 2, next 50
    // grade 1, everything else non-relevant. Deterministic, graded, and
    // SMALL (100 relevant docs out of 5000), so rankings can actually
    // disagree — a first cut by "contains ≥1 term" graded ~everything
    // relevant and saturated every scorer at 1.0; the deterministic hash
    // embedder's cosine tier (the pseudo-qrels default) has the opposite
    // failure, relevance-uncorrelated → all-zeros (receipted below).
    // both planted families come from the SAME builders the hash-gated
    // m15_retrieval_planted / _prox oracle entries use
    graft.queries.EngineQueries.tfQrels(spark, sfDir)
      .write.mode("overwrite").parquet(s"$kb/qrels")
    // the r17 DE-CIRCULARIZED family (verdict r16 #2): graded by
    // ordered-bigram proximity, a signal the tf-mass-aligned r16 receipt
    // never tested — the honest history is in the gate specs
    // (Rm16EvalGateSpec / Rm17ProxGateSpec)
    graft.queries.EngineQueries.proxQrels(spark, sfDir)
      .write.mode("overwrite").parquet(s"$kb/qrels_prox")
    println("[receipt] A/B vs the vector-tier PSEUDO-qrels (deterministic " +
      "hash embedder -> expected ~0 for every scorer):")
    Main.run(Array("eval", kb, queriesArg, "10", "--rerank"), spark)
    println("[receipt] A/B vs planted LEXICAL tf-mass qrels (--qrels):")
    Main.run(Array("eval", kb, queriesArg, "10", "--rerank",
      s"--qrels=$kb/qrels"), spark)
    println("[receipt] A/B vs planted PROXIMITY qrels (de-circularized):")
    Main.run(Array("eval", kb, queriesArg, "10", "--rerank",
      s"--qrels=$kb/qrels_prox"), spark)
    // r18 third family: SEMANTIC qrels — graded by a held-out-salt pooled
    // hash-embedder cosine (see EngineQueries.semQrels)
    graft.queries.EngineQueries.semQrels(spark, sfDir)
      .write.mode("overwrite").parquet(s"$kb/qrels_sem")
    println("[receipt] A/B vs planted SEMANTIC qrels (held-out embedder):")
    Main.run(Array("eval", kb, queriesArg, "10", "--rerank",
      s"--qrels=$kb/qrels_sem"), spark)
    // ── r18 model-recipe A/B (verdict #4): candidate pretrained models ×
    // all three qrels families, mean nDCG@10 of the learned rerank of
    // the SAME bm25 head (bm25 row printed once per family as the bar).
    // Candidates: the r17-style frozen backbone WITHOUT the dense
    // feature (w6 = 0), the frozen backbone with both 1-D pairwise tunes
    // (f5 then f6), and the full JOINT pairwise ranking fit.
    locally {
      import graft.query.Rerank.LogisticScorer
      val frozen = LogisticScorer.pretrainedFrozen
      val models = Seq(
        // the r17 recipe: dense feature dead (w6 = 0)
        "backbone+f5" -> LogisticScorer(frozen.w.updated(6, 0.0), frozen.b),
        // the SHIPPED r18 model: w6 dev/test-selected (sf0.01 dev,
        // largest sem margin s.t. the Rm16 per-query tf gate; sf0.1 validation) — see Rerank.DevSelectedW6
        "shipped-w6=0.35" -> LogisticScorer.pretrained,
        // the fixture pairwise 1-D tune's own w6 (~0.70) — oversized:
        // trades the tf family below its bm25 bar
        "fixture-w6" -> frozen,
        // the full-vector JOINT pairwise ranking fit (verdict r18 #4's
        // question: does joint beat the frozen-backbone recipe?)
        "joint" -> LogisticScorer.pretrainedJoint)
      models.foreach { case (n, m) =>
        println(s"[receipt] model $n weights = " +
          m.w.map(w => f"$w%.3f").mkString("[", ", ", "]"))
      }
      Seq("tf", "prox", "sem").foreach { fam =>
        val rows = models.map { case (name, m) =>
          val df = graft.queries.EngineQueries
            .plantedEvalWith(spark, sfDir, m, fam)
            .groupBy("variant").agg(avg("ndcg").as("ndcg"))
            .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
          (name, df("learned"), df("bm25"))
        }
        val bm = rows.head._3
        println(f"[receipt] family=$fam%-5s bm25=$bm%.4f " +
          rows.map { case (n, l, _) => f"$n=$l%.4f" }.mkString(" "))
      }
    }
    spark.stop()
  }
}
