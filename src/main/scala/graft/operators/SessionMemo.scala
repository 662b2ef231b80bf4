package graft.operators

import org.apache.spark.sql.SparkSession

/** Cheap driver-side change marker for a locally-stored table directory
  * (or a single-file table): CRC32 over the sorted (name, mtime, length)
  * tuples of its files — 0 when the path
  * has no local java.io view (non-local filesystems fall back to
  * path-only identity, the pre-existing cachedIndex staleness contract).
  * A plain mtime+length SUM collides on rewrites inside the mtime
  * granularity with equal sizes; the tuple hash does not.
  */
private[graft] object PathFingerprint {
  def apply(path: String): Long =
    scala.util.Try {
      val d = new java.io.File(path)
      val fs =
        if (d.isFile) Array(d)
        else Option(d.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
      val crc = new java.util.zip.CRC32()
      fs.foreach { f =>
        crc.update(s"${f.getName}:${f.lastModified()}:${f.length()};"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      crc.getValue
    }.getOrElse(0L)
}

/** Per-FILE inventory of a stored table directory — sorted
  * `(relative path, mtime, length)` rows over the DATA files
  * (Spark-hidden `_`/`.` metadata like `_SUCCESS` is excluded at every
  * path level: a legitimate append rewrites the success marker). Where
  * [[PathFingerprint]] answers "did ANYTHING change", the inventory
  * answers the append-soundness question (ADVICE r15): append-only
  * parquet growth adds new part files without touching old ones, so
  * `recorded ⊆ current` discriminates pure id growth from an in-place
  * re-embed that also added files in the same step.
  *
  * Routed through the Hadoop FileSystem API with RECURSIVE listing
  * (ADVICE r16): the previous `java.io.File` top-level view returned
  * empty on remote kbs AND on subdirectory-partitioned layouts, silently
  * degrading every incremental run there to a full rebuild. Keys are
  * base-relative paths so a partitioned layout's files stay distinct.
  * Empty when the path is absent or unlistable — callers treat empty as
  * UNATTESTABLE (not merely stale) and take the rebuild path; note
  * name+mtime+length is change detection, not content attestation (a
  * same-size rewrite with preserved mtime evades it — the documented
  * limit of fingerprint-level staleness everywhere in this engine).
  */
private[graft] object PathInventory {
  def apply(spark: SparkSession, path: String): Seq[(String, Long, Long)] =
    scala.util.Try {
      val base = new org.apache.hadoop.fs.Path(path)
      val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
      val baseUri = fs.makeQualified(base).toUri
      val out = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
      val it = fs.listFiles(base, true) // recursive
      while (it.hasNext) {
        val st = it.next()
        val rel = baseUri.relativize(st.getPath.toUri).getPath
        val hidden = rel.split('/')
          .exists(seg => seg.startsWith("_") || seg.startsWith("."))
        if (!hidden) out += ((rel, st.getModificationTime, st.getLen))
      }
      out.sortBy(_._1).toSeq
    }.getOrElse(Seq.empty)
}

/** Per-(session, key) memoization — the one shape of every per-session
  * cache in the engine (in-process serving rungs, stored-index plans, table
  * reads, bound expressions): weak-keyed by SparkSession so a stopped
  * session's entries (and their broadcasts) can be collected,
  * ConcurrentHashMap inside for compute-once semantics. The guard policies
  * in front of these memos (LIMIT-bounded counts, byte budgets) are easier
  * to audit when the memo itself has exactly one shape.
  *
  * Keep one instance per kind of value: a build that reads another entry
  * of the SAME instance re-enters `ConcurrentHashMap.computeIfAbsent`,
  * which throws.
  *
  * Keys name the store they memoize by its path — `dir`,
  * `dir/table.parquet`, `tag:dir@fingerprint|knobs`. A fingerprint in the
  * key keeps an entry coherent with rewrites on a filesystem with a
  * `java.io` view; [[SessionMemo.forget]] is the one eviction, for writers
  * and for filesystems without that view. `forget(spark, dir)` drops, from
  * every instance, the session's entries whose key holds `dir` as a whole
  * path: at the start of the key or right after a `:`, and followed by the
  * end of the key, `/`, `@` or `|`. So `/a/b` evicts `/a/b`,
  * `/a/b/x.parquet` and `stored:/a/b@7|lim=5`, but not `/a/bc`. `release`
  * runs on each evicted value (an unpersist, for a persisted plan).
  */
private[graft] final class SessionMemo[V](release: V => Unit = (_: V) => ()) {
  private val cache =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, V]]()
  SessionMemo.register(this)

  def getOrBuild(spark: SparkSession, key: String)(build: => V): V = {
    val perSession = cache.synchronized {
      cache.computeIfAbsent(spark,
        _ => new java.util.concurrent.ConcurrentHashMap[String, V]())
    }
    perSession.computeIfAbsent(key, _ => build)
  }

  private def evict(spark: SparkSession, dir: String): Unit = {
    val perSession = cache.synchronized(cache.get(spark))
    if (perSession != null) {
      val it = perSession.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (SessionMemo.holds(e.getKey, dir)) {
          release(e.getValue)
          it.remove()
        }
      }
    }
  }
}

private[graft] object SessionMemo {
  private val live = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SessionMemo[_], java.lang.Boolean]())
  private def register(m: SessionMemo[_]): Unit = live.synchronized(live.add(m))

  /** Drop `dir`'s entries of this session from every memo (the key rule is
    * on [[SessionMemo]]); other sessions keep theirs.
    */
  def forget(spark: SparkSession, dir: String): Unit = {
    val d = dir.stripSuffix("/")
    require(d.nonEmpty, "SessionMemo.forget needs a directory, not the root")
    val memos = live.synchronized(live.toArray(Array.empty[SessionMemo[_]]))
    memos.foreach(_.evict(spark, d))
  }

  private[graft] def holds(key: String, dir: String): Boolean = {
    var i = key.indexOf(dir)
    while (i >= 0) {
      val end = i + dir.length
      if ((i == 0 || key.charAt(i - 1) == ':') &&
          (end == key.length || "/@|".indexOf(key.charAt(end)) >= 0))
        return true
      i = key.indexOf(dir, i + 1)
    }
    false
  }
}
