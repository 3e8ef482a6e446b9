package graft.tools

import graft.LocalSession

/** Dump formatted plans for many queries in one JVM.
  * Usage: runMain graft.tools.MultiExplain <outDir> <suffix> <dataDir> <q1> [q2...]
  * Core count / shuffle partitions come from SPARK_GRAFT_CPUS (default 4)
  * so plans can be dumped under the same sizing the bench runs at. */
object MultiExplain {
  def main(args: Array[String]): Unit = {
    val outDir = args(0); val suf = args(1); val dataDir = args(2)
    val names = args.drop(3)
    val spark = LocalSession("ERROR")
    for (n <- names) {
      try {
        val df = graft.SparkEntry.queries(n)(spark, dataDir)
        df.count()
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${n}_$suf.txt"),
          txt.getBytes("UTF-8"))
        println(s"[me] $n ok")
      } catch { case e: Throwable => println(s"[me] $n FAILED: $e") }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
