package graft.sources

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}

/** The reference's CHANGE-POLLING loop, shared by the wire connectors
  * (`graft-cql`, `graft-es`): each micro-batch is the half-open
  * update-timestamp window (prev, mark], where mark is the store's current
  * max ts. The offset is that mark, serialized as a bare long, so a
  * checkpointed replay re-issues exactly the same window. A fresh query
  * starts at Long.MinValue (everything), and a trigger whose mark did not
  * move past the previous one plans no partitions — no wire read at all.
  *
  * Deterministic under the CDC contract (the ts column is
  * append-monotone): late rows with ts ≤ a committed mark are missed, the
  * documented limitation of EVERY poll-by-timestamp sync, the reference's
  * included.
  *
  * A connector supplies only `maxTs` (None on an empty store) and
  * `partitions`, which splits one (from, to] window exactly as its batch
  * scan splits the whole store. */
private[sources] class TsWindowStream(maxTs: () => Option[Long],
    partitions: (Long, Long) => Array[InputPartition],
    readerFactory: PartitionReaderFactory) extends MicroBatchStream {

  private case class TsOffset(ts: Long) extends Offset {
    override def json(): String = ts.toString
  }

  override def initialOffset(): Offset = TsOffset(Long.MinValue)
  override def latestOffset(): Offset = TsOffset(maxTs().getOrElse(Long.MinValue))
  override def deserializeOffset(json: String): Offset = TsOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[TsOffset].ts, end.asInstanceOf[TsOffset].ts)
    if (e <= s) Array.empty else partitions(s, e)
  }

  override def createReaderFactory(): PartitionReaderFactory = readerFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
