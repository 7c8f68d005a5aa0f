package graft

/** Main source as the source lints see it: every `.scala` file under
  * `src/main/scala` with its lines kept in place (line numbers hold) but
  * scaladoc/block comments blanked and line-comment tails removed. */
object MainSource {

  def code(): Seq[(java.io.File, IndexedSeq[String])] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(new java.io.File("src/main/scala")).map { f =>
      var inDoc = false
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try f -> src.getLines().map { l =>
        val t = l.trim
        if (inDoc) { if (t.contains("*/")) inDoc = false; "" }
        else if (t.startsWith("/*")) { inDoc = !t.contains("*/"); "" }
        else l.split("//", 2)(0)
      }.toIndexedSeq
      finally src.close()
    }
  }
}
