package graft.tools

import graft.LocalSession
import org.apache.spark.sql.functions._

/** r16 measurement probe (read-only; not part of any query path).
  *
  * Mode "occupancy <dataDir>": hyperplane-LSH bucket occupancy for j31's
  * 8-plane signature — the r15 verdict's watch item on the SHUFFLE_HASH
  * hint (a skewed bucket would concentrate one hash build).
  *
  * Mode "jobs <dataDir> [query...]": wall time and Spark-job count of
  * three reps of each named declared query (default
  * j282_transition_pagerank), cache cleared between reps — the
  * single-query timing loop for optimization work.
  *
  * Mode "floor <dataDir>": splits a trivial query's wall time into
  * plan/analysis vs first-action execution, averaged over reps — the
  * session-floor breakdown the r15 verdict asked for (item 8).
  *
  * Plan dumps of declared queries are MultiExplain's job.
  */
object Probe16 {
  def main(args: Array[String]): Unit = {
    val mode = args(0); val d = args(1)
    val spark = LocalSession("ERROR")
    import spark.implicits._
    mode match {
      case "occupancy" =>
        graft.functions.VectorExpressions.register(spark)
        val hp = spark.range(1).select(expr(
          s"""transform(sequence(0, 7), k -> transform(sequence(1, 64),
             |  i -> (CAST(${graft.ops.Hashing.nibbleInt("md5(concat('hp:', k, ':', i))")} AS DOUBLE) / 65536.0) - 0.5))""".stripMargin)
          .as("hps"))
        val occ = graft.Tables.embeddings(spark, d)
          .crossJoin(broadcast(hp))
          .select(expr("hp_sig(embedding, hps, 0, 8)").as("bucket"))
          .groupBy($"bucket").agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_buckets"), max($"n").as("max_n"),
            sum($"n").as("total"),
            expr("percentile(n, 0.5)").as("median_n"))
          .collect()(0)
        println(s"[occ] buckets=${occ.getLong(0)} max=${occ.getLong(1)} " +
          s"total=${occ.getLong(2)} median=${occ.get(3)} " +
          f"max_share=${occ.getLong(1).toDouble / occ.getLong(2)}%.4f")
      case "jobs" =>
        // Spark-job count per query run — the r15 verdict item 7
        // "job count per round drops by 1" evidence for j282
        val qs = if (args.length > 2) args.drop(2).toSeq
          else Seq("j282_transition_pagerank")
        val counter = new java.util.concurrent.atomic.AtomicInteger(0)
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(
                js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
              counter.incrementAndGet(); ()
            }
          })
        for (q <- qs; r <- 1 to 3) {
          counter.set(0)
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(q)(spark, d).count()
          spark.catalog.clearCache()
          Thread.sleep(500) // listener bus is async
          println(f"[jobs] rep=$r $q jobs=${counter.get} " +
            f"time=${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
      case "floor" =>
        for (r <- 1 to 6) {
          val t0 = System.nanoTime()
          val df = graft.SparkEntry.queries("d1_agg_group")(spark, d)
          val plan = df.queryExecution.executedPlan // force analysis+planning
          val t1 = System.nanoTime()
          df.count()
          val t2 = System.nanoTime()
          spark.catalog.clearCache()
          println(f"[floor] rep=$r plan=${(t1 - t0) / 1e6}%7.1f ms exec=${(t2 - t1) / 1e6}%7.1f ms (${plan.nodeName})")
        }
      case other =>
        System.err.println(s"unknown mode '$other'; usage: Probe16 " +
          "(occupancy | jobs | floor) <dataDir> [query..., for jobs]")
        spark.stop()
        sys.exit(2)
    }
    spark.stop()
  }
}
