package graft

/** The `.scala` files under `src/main/scala`, for the source-guard specs. */
object MainSources {
  def files: Seq[java.io.File] = {
    def under(dir: java.io.File): Seq[java.io.File] = {
      val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
      kids.filter(_.getName.endsWith(".scala")) ++
        kids.filter(_.isDirectory).flatMap(under)
    }
    under(new java.io.File("src/main/scala"))
  }
}
