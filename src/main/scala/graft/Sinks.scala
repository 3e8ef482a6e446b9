package graft

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Sink layer — the write side of the "connector" surface (the reference's
  * ES `_bulk` / CQL batch inserts).
  *
  * Layout choices are the write-side half of the 100 TB story:
  *
  *  - [[writePartitioned]]: hive-style directory partitioning on a
  *    low-cardinality column → readers get partition PRUNING (a query for
  *    one day/lang/source touches only its directories).
  *  - [[writeBucketed]]: fixed hash buckets on a join/merge key → a
  *    downstream join or LWW merge on that key needs NO shuffle of this
  *    side (bucketed SMJ), the layout the incremental sync snapshot wants.
  *  - [[writeJsonl]]: line-delimited JSON — the dynamic-document export
  *    format (ES side of the reference).
  */
object Sinks {

  /** Directory-partitioned parquet (partition pruning on `cols`). */
  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(cols: _*).parquet(path)

  /** Hash-bucketed table on `key` (shuffle-free joins/merges on `key`).
    * Bucketing requires the table catalog, hence saveAsTable. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Line-delimited JSON export (dynamic-document form). */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** CSV export with header — the lowest-common-denominator interchange
    * format (bulk loads, spreadsheets). Quotes/escapes are Spark defaults;
    * read back with an explicit schema (`spark.read.schema(...).csv`) —
    * CSV carries no types, and inference at 100 TB means an extra full
    * scan. Array/map/struct columns are rejected by Spark's CSV writer by
    * design; flatten first. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** ORC export — the other columnar format Spark ships built-in.
    * Same pushdown/pruning story as parquet (predicate + column pruning
    * reach the ORC reader), so it's a drop-in for parquet-incompatible
    * consumers. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)
}
