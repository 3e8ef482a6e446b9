package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — the driver passes exactly
    // two; any further names restrict the dump to those queries (dev-loop
    // convenience for tools/check.py iteration)
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet
    val spark = LocalSession("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // some queries persist() intermediates reused within their own plan;
      // release them so 81 queries don't accumulate cached partitions
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Table refs are spelled exactly '<name>.parquet' (SURVEY.md §7.5#8).
    // The driver's DuckDB does NOT run with cwd=sfDir (round-1 lesson:
    // every oracle failed with "No files found ... 'lineitem.parquet'"),
    // so absolutize each ref against the sfDir this verify run used.
    val absSf = Paths.get(sfDir).toAbsolutePath.normalize.toString
    // quoteReplacement: a '$' or '\' in the path would otherwise be a
    // regex-replacement group reference and crash (or corrupt) the dump
    val absQ = java.util.regex.Matcher.quoteReplacement(absSf)
    def absolutize(sql: String): String =
      sql.replaceAll("'([a-z_]+)\\.parquet'", s"'$absQ/$$1.parquet'")
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(absolutize(v))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
