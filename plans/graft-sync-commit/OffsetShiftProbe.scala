package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Shows a checkpointed `readStream.format("graft-sync")` losing a row
  * when a page tag is superseded by a generation with fewer pages: the
  * reader's offsets count committed pages, so every later page shifts
  * down. It prints what the two drains return instead of asserting.
  *
  * Needs the test session, so copy it into `src/test/scala/graft/` of a
  * scratch copy of the tree and run
  * `sbt "testOnly graft.OffsetShiftProbe"` there. */
class OffsetShiftProbe extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("a supersede with fewer pages shifts a checkpointed reader's offsets") {
    val dir = Files.createTempDirectory("probe").toString + "/store"
    val ck = Files.createTempDirectory("probe-ck").toString
    val rows = (0L until 10L).map(i => (i, i * 1.5))
    def tagged(parts: Int): Unit =
      rows.toDF("id", "v").repartition(parts)
        .write.format("graft-sync").mode("append")
        .option("page-tag", "rollup-7").option("bulk-rows", "3").save(dir)
    def plain(id: Long): Unit =
      Seq((id, 0.0)).toDF("id", "v").coalesce(1)
        .write.format("graft-sync").mode("append").save(dir)
    def drain(): Seq[Long] = {
      val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
      spark.readStream.format("graft-sync").load(dir).writeStream
        .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
          seen ++= d.collect().map(_.getLong(0)); ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      seen.toSeq.sorted
    }
    tagged(5)
    plain(100L)
    println(s"[probe] first drain: ${drain()}")
    tagged(2) // the replay: same rows, 4 pages instead of 5
    plain(200L)
    println(s"[probe] second drain after supersede + append of 200: ${drain()}")
  }
}
