package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.operators.SessionMemo
import graft.sources.KbStorage

/** The one commit protocol of the at-rest stores (BM25's
  * [[graft.operators.Bm25.Version]], [[graft.query.QueryCache]]): segments
  * `root/v<N>/` named by manifests `root/_manifest/v<N>`, which `decode`
  * turns into the user's version value once per session. Commit N takes N
  * one past every manifest, complete or not, lets the user write
  * `root/v<N>/`, then creates the manifest with overwrite = false through
  * the Hadoop FileSystem API — the commit point. A manifest holds
  * `version N`, the user's `key value` lines, a `segment s` line per live
  * segment and a closing `end`; without `end` it reads as absent. Readers
  * open the newest complete manifest's segments, never a listing of the
  * root. A commit keeps its version and the one before it, and deletes
  * older manifests, the `versionTables` of older versions whose segment
  * is live and every other `v<K>` below N (above N is a commit in flight).
  *
  * Commits to one root from one JVM run one at a time, under a lock per
  * root. On the local filesystem that lock is the only exclusion:
  * `RawLocalFileSystem` (hadoop-client 3.4.2) creates with overwrite =
  * false by an `exists` check and a plain open, not an exclusive create,
  * so two processes committing one local root at once can both take N.
  */
private[graft] class Versioned[V <: AnyRef](decode: Versioned.Manifest => V,
                                            versionTables: Seq[String] = Nil) {
  import Versioned._

  // complete manifests never change; an incomplete one is not memoized
  private val parsed = new SessionMemo[(Manifest, V)]
  private def load(spark: SparkSession, fs: => FileSystem, root: String,
                   n: Long): Option[(Manifest, V)] =
    Option(parsed.getOrBuild(spark, s"manifest:$root/_manifest/v$n")(
      parse(fs, root, n).map(m => (m, decode(m))).orNull))
  private def newest(spark: SparkSession, fs: FileSystem, root: String, ns: Seq[Long]) =
    ns.sorted.reverseIterator.flatMap(load(spark, fs, root, _)).nextOption()

  /** The newest committed version of the store at `root`. */
  def latest(spark: SparkSession, root: String): Option[V] = {
    val fs = KbStorage.fileSystem(spark, new Path(root))
    newest(spark, fs, root, numbers(fs, root)).map(_._2)
  }

  /** The committed version `dir`, `<root>/v<N>`, names. */
  def at(spark: SparkSession, dir: String): Option[V] = {
    val (root, name) = dir.stripSuffix("/").splitAt(dir.stripSuffix("/").lastIndexOf('/'))
    name.drop(1) match {
      case Name(n) if root.nonEmpty => load(spark, KbStorage.fileSystem(spark, new Path(root)), root, n.toLong).map(_._2)
      case _ => None
    }
  }

  /** Commit the next version of the store at `root`: `write(n, prev)`
    * writes `root/v<n>/` on top of the newest version and returns the
    * manifest's `key value` lines and live segments.
    */
  def commit(spark: SparkSession, root: String)(
      write: (Long, Option[V]) => (Seq[(String, String)], Seq[String])): V =
    locks.computeIfAbsent(root, _ => new Object).synchronized {
      val fs = KbStorage.fileSystem(spark, new Path(root))
      val ns = numbers(fs, root)
      val prev = newest(spark, fs, root, ns)
      val number = ns.maxOption.getOrElse(0L) + 1
      val (fields, segments) = write(number, prev.map(_._2))
      val m = Manifest(root, number, fields, segments)
      val out = fs.create(new Path(s"$root/_manifest/v$number"), false)
      try out.write(m.render.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      prev.foreach { case (p, _) =>
        val kept = Set(number, p.number)
        val live = (segments ++ p.segments).toSet
        def rm(rel: String): Unit = { fs.delete(new Path(s"$root/$rel"), true); () }
        ns.filterNot(kept).foreach(n => rm(s"_manifest/v$n"))
        fs.listStatus(new Path(root)).map(_.getPath.getName).foreach {
          case name @ Name(n) if n.toLong < number && !kept(n.toLong) =>
            if (live(name)) versionTables.foreach(t => rm(s"$name/$t")) else rm(name)
          case _ => ()
        }
      }
      SessionMemo.forget(spark, s"$root/_manifest")
      decode(m)
    }
}

private[graft] object Versioned {
  /** Segments a manifest lists at most; a commit past it merges them. */
  val MaxSegments = 8

  /** Version `number` of the store at `root`. Its memo `key` lies under
    * `root/_manifest`, which a commit forgets ([[SessionMemo.forget]]).
    */
  final case class Manifest(root: String, number: Long, fields: Seq[(String, String)],
                            segments: Seq[String]) {
    def path: String = s"$root/v$number"
    def key: String = s"$root/_manifest/v$number"
    def apply(field: String): String = fields.collectFirst { case (`field`, v) => v }.get
    def segmentPaths: Seq[String] = segments.map(s => s"$root/$s")
    def render: String = ((s"version $number" +: fields.map { case (k, v) => s"$k $v" }) ++
      segments.map(s => s"segment $s") :+ "end").mkString("", "\n", "\n")
  }

  private val Name = "v(\\d+)".r
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def numbers(fs: FileSystem, root: String): Seq[Long] =
    try fs.listStatus(new Path(s"$root/_manifest")).toSeq
      .map(_.getPath.getName).collect { case Name(n) => n.toLong }
    catch { case _: java.io.FileNotFoundException => Nil }

  private def parse(fs: FileSystem, root: String, n: Long): Option[Manifest] =
    (try {
      val in = fs.open(new Path(s"$root/_manifest/v$n"))
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None })
      .map(_.split("\n").toSeq).filter(_.lastOption.contains("end")).map { lines =>
        val kv = lines.init.map(l => l.splitAt(l.indexOf(' '))).map { case (k, v) => (k, v.drop(1)) }
        Manifest(root, n, kv.filterNot(f => f._1 == "version" || f._1 == "segment"),
          kv.collect { case ("segment", s) => s })
      }
}
