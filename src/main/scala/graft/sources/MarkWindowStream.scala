package graft.sources

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit,
  ReadMaxFiles, SupportsTriggerAvailableNow}

/** The one micro-batch stream of every connector: the reference's
  * CHANGE-POLLING loop. Each micro-batch is the half-open window
  * (prev, mark], where mark is a position in the store that grows as
  * writers append.
  * The offset is that mark, serialized as a bare long, so a checkpointed
  * replay re-issues exactly the same window, and a trigger whose mark did
  * not move past the previous one plans no partitions: no read at all.
  *
  * What a mark is belongs to the connector:
  *   - `graft-cql`, `graft-es`: the store's max update timestamp. A fresh
  *     query starts at Long.MinValue (everything). Deterministic under the
  *     CDC contract (the ts column is append-monotone): late rows with
  *     ts ≤ a committed mark are missed, the documented limitation of
  *     EVERY poll-by-timestamp sync, the reference's included.
  *   - `graft-sync`: the highest generation (manifest) ordinal, so a batch
  *     is the generations whose ordinal is in (prev, mark].
  *
  * A connector supplies `mark`, `window` (which splits one (from, to]
  * window exactly as its batch scan splits the whole store), and
  * optionally the mark a fresh query starts at, a per-trigger budget and
  * `admit`, which picks the end of the next batch from (start, mark,
  * budget). The store is read for its mark once per trigger, and under
  * Trigger.AvailableNow once per run: the mark is pinned, so a run drains
  * what was there when it started and ends even if a writer keeps
  * appending. Spark runs an AvailableNow query over a source without
  * SupportsTriggerAvailableNow as one batch, which would drop the budget. */
private[sources] class MarkWindowStream(mark: () => Long,
    window: (Long, Long) => Array[InputPartition],
    readerFactory: PartitionReaderFactory,
    initialMark: () => Long = () => Long.MinValue,
    maxPerTrigger: Option[Int] = None,
    admit: (Long, Long, Option[Int]) => Long = (_, to, _) => to)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private case class MarkOffset(mark: Long) extends Offset {
    override def json(): String = mark.toString
  }

  @volatile private var pinned: Option[Long] = None
  @volatile private var lastSeen: Offset = _

  override def prepareForTriggerAvailableNow(): Unit = pinned = Some(mark())

  override def getDefaultReadLimit: ReadLimit =
    maxPerTrigger.fold(ReadLimit.allAvailable())(ReadLimit.maxFiles)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val end = pinned.getOrElse(mark())
    lastSeen = MarkOffset(end)
    val budget = Some(limit).collect { case m: ReadMaxFiles => m.maxFiles() }
    MarkOffset(admit(start.asInstanceOf[MarkOffset].mark, end, budget))
  }

  /** For progress reports: the mark latestOffset just used, so reporting
    * never reads the store. */
  override def reportLatestOffset(): Offset = lastSeen

  override def initialOffset(): Offset = MarkOffset(initialMark())
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("call latestOffset(start, limit)")
  override def deserializeOffset(json: String): Offset = MarkOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (MarkOffset(s), MarkOffset(e)) = (start, end)
    if (e <= s) Array.empty else window(s, e)
  }

  override def createReaderFactory(): PartitionReaderFactory = readerFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] object MarkWindowStream {
  /** A wire connector's poll-by-timestamp stream over its
    * `incremental-column` `col`: mark = `maxTs(col)` (Long.MinValue on an
    * empty store), and each (from, to] window rides on every partition of
    * the batch scan. A stream needs the option; a batch scan does not. */
  def byTimestamp(connector: String, col: Option[String],
      maxTs: String => Option[Long],
      partitions: Option[(String, Long, Long)] => Array[InputPartition],
      readerFactory: PartitionReaderFactory): MarkWindowStream = {
    val c = col.getOrElse(throw new IllegalArgumentException(
      s"$connector: incremental-column must be set for a streaming read, got ''"))
    new MarkWindowStream(() => maxTs(c).getOrElse(Long.MinValue),
      (from, to) => partitions(Some((c, from, to))), readerFactory)
  }
}
