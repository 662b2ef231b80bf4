package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Multinomial Naive Bayes text classifier — the deterministic analogue of
  * the linear "quality classifier" regime training-data pipelines run at
  * corpus scale (GPT-3 / CCNet filter crawl text with a cheap linear model
  * scoring curated-vs-crawl; Brown et al. 2020 §A, Wenzek et al. 2020). The
  * reference has no classifier of its own (its quality gate is the heuristic
  * score, `utils/text_utils.py`); this supplies the missing curation rung as
  * pure relational algebra so it scales and oracles like everything else.
  *
  * ==Determinism contract==
  * Every log is micro-quantized to an integer (`floor(ln(·) · 1e6)`) BEFORE
  * any aggregation, so all sums are exact 64-bit integer math — order-free
  * across partitions and bit-identical in any ANSI engine (the same recipe
  * as [[LmQuality]]'s costs and the BM25 oracle). Ties in the argmax break
  * by label text.
  *
  * ==100 TB shape==
  * Training is one token-level groupBy (`(label, token) → count`) with
  * map-side combine plus a label-level rollup. Scoring explodes doc tokens
  * once, fans them across the (tiny) label list, and left-joins the model —
  * broadcast when the model fits (V·L rows; a 1M-token vocabulary × 10
  * labels ≈ 10M rows, still broadcastable), a shuffled hash join keyed on
  * token beyond that. No driver loop anywhere.
  */
object QualityClassifier {
  private val Micro = 1000000L

  /** The trained model as three tables:
    *  - `priors`:      (label, lp_micro)        — ⌊ln(n_label / n_docs)·1e6⌋
    *  - `likelihoods`: (label, token, ll_micro) — ⌊ln((c+1)/(total_label+V))·1e6⌋
    *  - `oov`:         (label, oov_micro)       — the c = 0 cost per label
    * V = distinct training vocabulary (shared across labels — the standard
    * Laplace-smoothed multinomial).
    */
  final case class NbModel(priors: DataFrame, likelihoods: DataFrame,
                           oov: DataFrame)

  /** Train on `(idCol, textCol, labelCol)` rows. Null/empty texts contribute
    * no tokens but still count toward their label's prior (a document with
    * no evidence is classified by priors alone).
    */
  def train(docs: DataFrame, idCol: String, textCol: String,
            labelCol: String): NbModel = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(col(labelCol).as("label"),
      explode(TextFunctions.tokenize(coalesce(col(textCol), lit("")))).as("token"))
    // ONE corpus pass: the (label, token, c) table is vocab·L-sized (tiny
    // next to the corpus) but feeds the vocab count, the totals, the
    // likelihoods, AND their broadcasts — without the checkpoint the
    // explode+groupBy re-ran for each consumer (~5 corpus passes)
    val counts = toks.groupBy("label", "token").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val totals = counts.groupBy("label").agg(sum("c").as("n_tok"))
    val vocab = counts.select("token").distinct().count()
    // priors from ONE label-level aggregation (label-cardinality rows),
    // collected — replaces a second full docs.count() action
    val labelN = docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n")).as[(String, Long)].collect()
    val nDocs = labelN.map(_._2).sum
    val priors = labelN.toSeq.map { case (l, n) =>
      (l, math.floor(math.log(n.toDouble / nDocs.toDouble) * Micro).toLong)
    }.toDF("label", "lp_micro")
    val likelihoods = counts.join(totals, "label")
      .select(col("label"), col("token"),
        floor(log((col("c") + 1).cast("double") /
          (col("n_tok") + lit(vocab)).cast("double")) * Micro)
          .cast("long").as("ll_micro"))
    val oov = totals.select(col("label"),
      floor(log(lit(1.0) / (col("n_tok") + lit(vocab)).cast("double")) * Micro)
        .cast("long").as("oov_micro"))
    NbModel(priors, likelihoods, oov)
  }

  /** Score and argmax: `(doc_id, label, score_micro)` — the winning label
    * per document, score = prior + Σ tokens (likelihood | OOV cost), ties
    * to the lexically smallest label. Tokenless docs classify by priors.
    *
    * SPARSE evidence: Σ_t (ll | oov) rewrites exactly (integer math — no
    * float reassociation) as n_tok·oov + Σ_{t seen for label} (ll − oov),
    * so tokens join the model ON TOKEN ONLY — work is the number of
    * (doc-token, label-with-that-token) hits, not tokens × labels. The
    * dense fan survives only at the DOC level (docs × L prior rows). A
    * 100-label corpus sharing one vocabulary degrades back toward dense —
    * that is the classifier's true cost model (L dot products per doc),
    * not a plan artifact.
    */
  def classify(model: NbModel, docs: DataFrame, idCol: String,
               textCol: String): DataFrame = {
    val labels = broadcast(model.priors.join(model.oov, "label"))
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(TextFunctions.tokenize(coalesce(col(textCol), lit("")))).as("token"))
    val sparse = toks
      .join(broadcast(model.likelihoods), Seq("token"))
      .join(broadcast(model.oov), Seq("label"))
      .groupBy("doc_id", "label")
      .agg(sum(col("ll_micro") - col("oov_micro")).as("adj_micro"))
    // n_tok is a PROJECTION (array size), not an explode+groupBy — one
    // corpus pass and no shuffle for the count side
    val scored = docs.select(col(idCol).as("doc_id"),
        size(TextFunctions.tokenize(coalesce(col(textCol), lit(""))))
          .cast("long").as("n_tok"))
      .join(labels)
      .join(sparse, Seq("doc_id", "label"), "left")
      .select(col("doc_id"), col("label"),
        (col("lp_micro") +
          col("n_tok") * col("oov_micro") +
          coalesce(col("adj_micro"), lit(0L))).as("score_micro"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("score_micro").desc, col("label"))
    scored.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1).drop("_rk")
  }

  /** Train-on-split / classify-the-rest in one call — the curation-rung
    * shape: `hashMod` of the id under `trainBuckets` trains, the rest is
    * scored. Returns `(doc_id, label, score_micro, actual)` for the held-out
    * split (actual = the true label, for accuracy audits downstream).
    */
  private val memo = new SessionMemo[DataFrame]

  /** [[trainAndClassify]] memoized per (session, corpus key) and
    * materialized once (`localCheckpoint`) — the train-once / audit-many
    * regime: the per-doc argmax query and the accuracy report read the
    * same held-out classification instead of re-training per consumer.
    * `cacheKey` should carry the table directory + a change stamp
    * (the same staleness contract as `Bm25.cachedIndex`).
    */
  def cachedTrainAndClassify(docs: DataFrame, idCol: String, textCol: String,
                             labelCol: String, cacheKey: String): DataFrame =
    memo.getOrBuild(docs.sparkSession, s"nb|$cacheKey")(
      trainAndClassify(docs, idCol, textCol, labelCol).localCheckpoint(true))

  def trainAndClassify(docs: DataFrame, idCol: String, textCol: String,
                       labelCol: String, buckets: Int = 10,
                       trainBuckets: Int = 7): DataFrame = {
    val bucket = pmod(col(idCol) * 2654435761L, lit(1000000007L)) % buckets
    val train0 = docs.filter(bucket < trainBuckets)
    val test0 = docs.filter(bucket >= trainBuckets)
    val model = train(train0, idCol, textCol, labelCol)
    classify(model, test0, idCol, textCol)
      .join(test0.select(col(idCol).as("doc_id"), col(labelCol).as("actual")),
        "doc_id")
  }
}
