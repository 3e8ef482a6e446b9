/** Writes every `Esql.jNQuery` text as `name<TAB>base64(UTF-8)` lines. */
object DumpEsqlTexts {
  def main(args: Array[String]): Unit = {
    val e = graft.ops.Esql
    val ms = e.getClass.getMethods
      .filter(m => m.getName.matches("j\\d+Query") && m.getParameterCount == 0)
      .sortBy(_.getName)
    val out = new java.io.PrintWriter(args(0), "UTF-8")
    for (m <- ms) {
      val t = m.invoke(e).asInstanceOf[String]
      out.println(m.getName + "\t" +
        java.util.Base64.getEncoder.encodeToString(t.getBytes("UTF-8")))
    }
    out.close()
    println(s"[dump] ${ms.length} texts")
  }
}
