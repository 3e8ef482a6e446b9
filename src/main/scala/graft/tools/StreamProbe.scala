package graft.tools

import org.apache.spark.sql.functions._

/** Dev probe for the STREAMING serve paths (r13 verdict item 6): the
  * batch ScaleProbe covers declared queries, but i19's TS store serves
  * through compose-over-pages — its cost axis is PAGE COUNT, not corpus
  * size. This probe builds TS partial-cell stores with increasing epoch
  * counts from the SAME event feed, times the composed serve at each,
  * then compacts (N pages → 1, byte-identical rows) and re-times — the
  * nightly-maintenance claim ("flat serve cost as pages accumulate,
  * restored by compaction") as a measured table for PLANS.md.
  *
  * Usage: runMain graft.tools.StreamProbe <sfDir> [epochCounts...]
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val counts = if (args.length > 1) args.tail.map(_.toInt).toSeq else Seq(3, 12, 48)
    val spark = LocalSession("WARN")
    // the ordered change feed, materialized once (the CDC contract the
    // RATE boundary-delta composition relies on)
    // coalesce(1) keeps the global sort order so monotonically_increasing
    // ids are contiguous — probe-scale only, never a production shape
    val feed = graft.Tables.eventsUs(spark, sfDir)
      .orderBy(col("ts_us"), col("event_id")).coalesce(1).localCheckpoint()
    val total = feed.count()

    def serveSecs(store: String): Double = {
      val t0 = System.nanoTime()
      val cells = graft.ops.Esql.tsComposeCells(
        spark.read.format("graft-sync").load(store))
      // the j249-shaped outer aggregate a dashboard would run
      cells.groupBy(col("day"))
        .agg(sum(col("sc")), sum(col("n")), max(col("mx")), min(col("mn")))
        .count()
      (System.nanoTime() - t0) / 1e9
    }

    for (k <- counts) {
      val store = java.nio.file.Files
        .createTempDirectory(s"tsprobe-$k").toString + "/store"
      val per = math.max(1L, (total + k - 1) / k)
      for (i <- 0 until k) {
        val slice = feed
          .withColumn("__rn", monotonically_increasing_id())
          .filter(col("__rn") >= i * per && col("__rn") < (i + 1) * per)
          .drop("__rn")
        graft.ops.Esql.tsCellPartials(slice)
          .write.format("graft-sync").mode("append")
          .option("page-tag", s"probe-epoch-$i").save(store)
      }
      // warmup then min-of-3 (the Bench estimator)
      serveSecs(store)
      val before = (1 to 3).map(_ => serveSecs(store)).min
      graft.sources.GraftSyncMaintenance.compact(store)
      serveSecs(store)
      val after = (1 to 3).map(_ => serveSecs(store)).min
      println(f"[stream-probe] epochs=$k%3d serve=$before%6.3f s  compacted=$after%6.3f s")
    }
    spark.stop()
  }
}
