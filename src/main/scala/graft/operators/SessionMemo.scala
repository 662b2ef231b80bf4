package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Per-FILE inventory of a stored table — sorted `(relative path, mtime,
  * length)` rows over the DATA files under a directory, or the one row of
  * a single-file table. Spark-hidden `_`/`.` metadata like `_SUCCESS` is
  * excluded at every path level: a legitimate append rewrites the success
  * marker. The engine's one change detector: [[stamp]] answers "did
  * anything change" for a memo key, and the rows answer the
  * append-soundness question — append-only parquet growth adds new part
  * files without touching old ones, so `recorded ⊆ current` discriminates
  * pure id growth from an in-place re-embed that also added files in the
  * same step.
  *
  * Walked with `FileSystem.listStatus`, recursively, so a remote store and
  * a `cluster_id=`-partitioned layout list like a local flat one; keys are
  * base-relative paths so a partitioned layout's files stay distinct.
  * (`listFiles` would build a `LocatedFileStatus` per file, which loads
  * each file's permissions — milliseconds a file on the local FS.) Empty
  * when the path is absent or unlistable; callers treat empty as
  * UNATTESTABLE (not merely stale). Name+mtime+length is change detection,
  * not content attestation: a same-size rewrite with preserved mtime
  * evades it, the documented limit of staleness keys in this engine.
  */
private[graft] object PathInventory {
  def apply(spark: SparkSession, path: String): Seq[(String, Long, Long)] =
    scala.util.Try {
      val base = new Path(path)
      val fs = graft.sources.KbStorage.fileSystem(spark, base)
      val out = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
      def walk(dir: Path, rel: String): Unit =
        fs.listStatus(dir).foreach { st =>
          val name = st.getPath.getName
          if (!name.startsWith("_") && !name.startsWith(".")) {
            val r = if (rel.isEmpty) name else s"$rel/$name"
            if (st.isDirectory) walk(st.getPath, r)
            else out += ((r, st.getModificationTime, st.getLen))
          }
        }
      walk(base, "")
      out.sortBy(_._1).toSeq
    }.getOrElse(Seq.empty)

  /** CRC32 over the sorted rows — a memo key's change marker, 0 for an
    * empty inventory. A plain mtime+length SUM collides on rewrites inside
    * the mtime granularity with equal sizes; the row hash does not.
    */
  def stamp(rows: Seq[(String, Long, Long)]): Long = {
    val crc = new java.util.zip.CRC32()
    rows.foreach { case (f, mtime, length) =>
      crc.update(s"$f:$mtime:$length;".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    crc.getValue
  }

  def stamp(spark: SparkSession, path: String): Long = stamp(apply(spark, path))
}

/** Per-(session, key) memoization — the one shape of every per-session
  * cache in the engine (in-process serving rungs, stored-index plans, table
  * reads, bound expressions): weak-keyed by SparkSession so a stopped
  * session's entries (and their broadcasts) can be collected,
  * ConcurrentHashMap inside for compute-once semantics. The serving rungs
  * decide what may become resident through one guard in front of their
  * memos, [[Resident]].
  *
  * Keep one instance per kind of value: a build that reads another entry
  * of the SAME instance re-enters `ConcurrentHashMap.computeIfAbsent`,
  * which throws.
  *
  * Keys name the store they memoize by its path — `dir`,
  * `dir/table.parquet`, `tag:dir@stamp|knobs`. A [[PathInventory.stamp]]
  * in the key keeps an entry coherent with a rewrite by any writer, on any
  * Hadoop filesystem; [[SessionMemo.forget]] is the one eviction, for the
  * engine's own writers and for keys with no stamp. `forget(spark, dir)`
  * drops, from every instance, the session's entries whose key holds `dir`
  * as a whole path: at the start of the key or right after a `:`, and
  * followed by the end of the key, `/`, `@` or `|`. So `/a/b` evicts
  * `/a/b`, `/a/b/x.parquet` and `stored:/a/b@7|flat`, but not `/a/bc`.
  * `release` runs on each evicted value (an unpersist, for a persisted
  * plan).
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

  /** A snapshot of the session's `(key, value)` entries. */
  def entries(spark: SparkSession): Seq[(String, V)] = {
    import scala.jdk.CollectionConverters._
    Option(cache.synchronized(cache.get(spark)))
      .fold(Seq.empty[(String, V)])(_.asScala.toSeq)
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
