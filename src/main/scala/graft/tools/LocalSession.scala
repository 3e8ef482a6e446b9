package graft.tools

import org.apache.spark.sql.SparkSession

/** The tool mains' local SparkSession: `local[N]` with N shuffle
  * partitions, N from SPARK_GRAFT_CPUS (default 4, as Bench and Verify),
  * UTC session time zone (Tables.eventsUs asserts it), no UI. */
private[tools] object LocalSession {
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
