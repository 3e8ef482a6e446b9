package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession of `Bench`, `Verify` and the tool mains:
  * `local[N]` with N shuffle partitions, N from SPARK_GRAFT_CPUS (default
  * 4), no UI, and UTC everywhere — the events ts_us mapping
  * (Tables.eventsUs) and the DuckDB oracle's epoch_us() must agree on the
  * epoch. */
private[graft] object LocalSession {
  def apply(logLevel: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
