package graft.operators

import org.apache.spark.sql.functions.{col, lit}

/** Writes a BM25 index in the at-rest layout used before manifests — the
  * four tables directly under `dir`, postings partitioned into
  * `term_bucket=` directories (or flat, with `termBuckets = 0`) — with
  * plain `write.parquet`. Specs use it to check that such stores still
  * read, and that the next commit merges them into a version.
  */
object LegacyBm25Store {
  def write(ix: Bm25.Index, dir: String, termBuckets: Int = Bm25.DefaultTermBuckets): Unit = {
    val post = Bm25.withDocLen(ix).drop("term_bucket")
    if (termBuckets > 0)
      post.withColumn("term_bucket", Bm25.termBucket(col("term"), termBuckets))
        .write.mode("overwrite").partitionBy("term_bucket").parquet(s"$dir/postings")
    else post.write.mode("overwrite").parquet(s"$dir/postings")
    ix.lengths.write.mode("overwrite").parquet(s"$dir/lengths")
    ix.idf.write.mode("overwrite").parquet(s"$dir/idf")
    ix.stats.withColumn("term_buckets", lit(termBuckets))
      .write.mode("overwrite").parquet(s"$dir/stats")
    SessionMemo.forget(ix.postings.sparkSession, dir)
  }
}
