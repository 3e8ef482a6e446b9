package graft

import graft.sources.Cql
import graft.streaming.Sync
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's user-facing surface: a configured, periodic,
  * bidirectional sync. The reference is driven by a YAML file naming the
  * two stores and an interval (SURVEY §3.1); [[SyncConfig]] is that config
  * re-expressed for the parquet-backed endpoints of this harness, and
  * [[SyncJob]] is the running loop — initial full sync + incremental
  * rounds, exactly-once effect via checkpoints, last-write-wins with
  * tombstone deletes.
  *
  * A user of the reference maps their config onto this one-to-one:
  * contact-points/keyspace/table → `sideA`, ES URL/index → `sideB`,
  * `sync_interval` → `interval`; the update-timestamp column the reference
  * reads from WRITETIME()/`_timestamp` is the `ts` column here.
  */
final case class SyncConfig(
    sideA: String,            // change-feed directory of store A
    sideB: String,            // change-feed directory of store B
    snapshotA: String,        // merged snapshot A maintains of B's data
    snapshotB: String,        // merged snapshot B maintains of A's data
    checkpointDir: String,
    interval: Trigger = Trigger.AvailableNow(),
    formatA: String = "parquet",   // feed format: parquet | graft-sync
    formatB: String = "parquet",
    merge: String = "row",    // conflict granularity: row | cell
    cells: Seq[String] = Nil, // merge=cell: the data columns under per-cell LWW
    tables: Seq[String] = Nil) // multi-table: expand {table} in feeds/snapshots

object SyncConfig {

  /** Load a reference-shaped YAML sync config (SURVEY §3.1: the reference
    * is driven by a YAML file naming the two stores and an interval):
    *
    * {{{
    * cassandra:                 # store A
    *   feed: /data/feedA        # change feed (stands in for keyspace/table)
    *   snapshot: /data/snapA    # merged view A maintains of B's data
    * elasticsearch:             # store B
    *   feed: /data/feedB        # change feed (stands in for the ES index)
    *   snapshot: /data/snapB
    * checkpoint_dir: /data/ckpt
    * sync_interval: 30          # seconds; 0 or absent = one-shot (AvailableNow)
    * }}}
    *
    * The parser is a deliberate two-level YAML subset (sections, scalar
    * `key: value` pairs, `#` comments, optional quotes) — the whole config
    * grammar the reference uses — so the engine stays dependency-free. */
  def load(path: String): SyncConfig =
    fromYaml(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8))

  def fromYaml(yaml: String): SyncConfig = {
    val flat = parseFlat(yaml)
    def req(k: String): String = flat.getOrElse(k,
      throw new IllegalArgumentException(
        s"sync config missing '$k' (have: ${flat.keys.toSeq.sorted.mkString(", ")})"))
    val interval = flat.get("sync_interval").map { v =>
      try v.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"sync config 'sync_interval' must be whole seconds, got '$v'")
      }
    } match {
      case Some(n) if n > 0 => Trigger.ProcessingTime(n * 1000L)
      case _                => Trigger.AvailableNow()
    }
    SyncConfig(
      sideA = req("cassandra.feed"),
      sideB = req("elasticsearch.feed"),
      snapshotA = req("cassandra.snapshot"),
      snapshotB = req("elasticsearch.snapshot"),
      checkpointDir = req("checkpoint_dir"),
      interval = interval,
      // optional per-side feed format: the parquet harness default,
      // `graft-sync` (the paged-endpoint stand-in), or the REAL wires —
      // `graft-cql` (feed: cql://host:port/ks/table?pk=<col>) and
      // `graft-es` (feed: es://host:port/index) — the reference's actual
      // contact-points/keyspace/table and ES-URL/index config lines
      formatA = flat.getOrElse("cassandra.format", "parquet"),
      formatB = flat.getOrElse("elasticsearch.format", "parquet"),
      // merge: cell — resolve conflicts per COLUMN (C*'s true WRITETIME
      // semantics, the i20 rule) instead of per row; `cells` names the
      // data columns under per-cell LWW
      merge = flat.getOrElse("merge", "row") match {
        case m @ ("row" | "cell") => m
        case other => throw new IllegalArgumentException(
          s"sync config 'merge' must be row or cell, got '$other'")
      },
      cells = flat.get("cells").map(
        _.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil),
      // tables: t1,t2,... — the reference's "sync this keyspace's tables
      // from one config": every feed/snapshot line carries a {table}
      // placeholder, one stream pair runs per table under one checkpoint
      // root (checkpoint_dir/<table>/...)
      tables = flat.get("tables").map(
        _.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil))
  }

  /** Two-level YAML subset → flat "section.key" map. Unknown keys pass
    * through (forward-compatible); nesting deeper than one level, flow
    * collections, and multi-line scalars are out of grammar and rejected
    * by the missing-key check above rather than silently misread. */
  private def parseFlat(yaml: String): Map[String, String] = {
    var section = ""
    val out = Map.newBuilder[String, String]
    yaml.linesIterator.foreach { raw =>
      // a '#' starts a comment only when preceded by whitespace (or at
      // line start) and outside double quotes — YAML's actual rule, so a
      // value like /data/snap#prod survives while `key: "v"  # note`
      // strips cleanly
      val noComment = {
        var inQ = false
        var cut = raw.length
        var i = 0
        while (i < raw.length && cut == raw.length) {
          raw.charAt(i) match {
            case '"' => inQ = !inQ
            case '#' if !inQ &&
                (i == 0 || raw.charAt(i - 1) == ' ' || raw.charAt(i - 1) == '\t') =>
              cut = i
            case _ => ()
          }
          i += 1
        }
        raw.substring(0, cut)
      }
      val line = noComment.replaceAll("\\s+$", "")
      if (line.trim.nonEmpty) {
        val indented = line.head == ' ' || line.head == '\t'
        line.trim.split(":", 2) match {
          case Array(k, rest) =>
            val v = rest.trim.stripPrefix("\"").stripSuffix("\"")
            if (v.isEmpty && !indented) section = k.trim
            // an indented key with an empty value is the start of a
            // deeper-nested block — out of grammar; store NOTHING so the
            // missing-key check reports it instead of silently reading ""
            else if (v.nonEmpty)
              out += (if (indented && section.nonEmpty) s"$section.${k.trim}"
                      else k.trim) -> v
          case _ => // bare scalar line: out of grammar, ignore
        }
      }
    }
    out.result()
  }
}

object SyncJob {

  /** Expand a multi-table config into its per-table single-table configs:
    * `{table}` substitutes into both feeds and both snapshots (each table
    * MUST resolve to distinct paths — a shared snapshot would interleave
    * two tables' merges), and each table checkpoints under its own
    * subdirectory of the one configured root. A config without `tables:`
    * expands to itself — the single-table surface is unchanged. */
  def expand(cfg: SyncConfig): Seq[SyncConfig] =
    if (cfg.tables.isEmpty) Seq(cfg)
    else {
      Seq("cassandra.feed" -> cfg.sideA, "elasticsearch.feed" -> cfg.sideB,
        "cassandra.snapshot" -> cfg.snapshotA,
        "elasticsearch.snapshot" -> cfg.snapshotB).foreach { case (k, v) =>
        require(v.contains("{table}"),
          s"sync config: with 'tables:', '$k' must carry a {table} placeholder, got '$v'")
      }
      cfg.tables.map { t =>
        def sub(s: String) = s.replace("{table}", t)
        cfg.copy(sideA = sub(cfg.sideA), sideB = sub(cfg.sideB),
          snapshotA = sub(cfg.snapshotA), snapshotB = sub(cfg.snapshotB),
          checkpointDir = s"${cfg.checkpointDir}/$t", tables = Nil)
      }
    }

  /** Start the loop for EVERY configured table (one stream pair per
    * table, all under the one checkpoint root). Single-table configs
    * return one pair — `start`'s behavior, list-shaped. */
  def startAll(spark: SparkSession,
      cfg: SyncConfig): Seq[(StreamingQuery, StreamingQuery)] =
    expand(cfg).map(start(spark, _))

  /** One batch round over every configured table; returns per-table
    * (snapshotA rows, snapshotB rows) in `tables:` order. */
  def runOnceAll(spark: SparkSession, cfg: SyncConfig): Seq[(Long, Long)] =
    expand(cfg).map(runOnce(spark, _))

  /** Start the bidirectional loop: each side's change feed is LWW-merged
    * into the opposite snapshot. Returns both running queries.
    *
    * `merge: cell` runs ONE union stream instead (both feeds fold into a
    * single per-cell merge — see [[startCell]]); both returned handles are
    * then that one query (stop/processAllAvailable are idempotent). */
  def start(spark: SparkSession, cfg: SyncConfig): (StreamingQuery, StreamingQuery) =
    if (cfg.tables.nonEmpty) throw new IllegalArgumentException(
      "sync config declares 'tables:' — run it with startAll/runOnceAll")
    else if (cfg.merge == "cell") { val q = startCell(spark, cfg); (q, q) }
    else {
      val aToB = Sync.lwwSink(
        changeFeed(spark, cfg.sideA, cfg.formatA),
        cfg.snapshotB, s"${cfg.checkpointDir}/a2b", cfg.interval)
      val bToA = Sync.lwwSink(
        changeFeed(spark, cfg.sideB, cfg.formatB),
        cfg.snapshotA, s"${cfg.checkpointDir}/b2a", cfg.interval)
      (aToB, bToA)
    }

  /** The `merge: cell` loop — C*'s true per-CELL conflict semantics
    * (the i20 rule) end-to-end over both wires. Topology differences vs
    * the row loop, each forced by cell granularity:
    *
    *   - ONE union stream, not two: a cell merge needs BOTH sides' stamps
    *     for the same key in one place before either store is written,
    *     or a relay could regress the other store's newer cells. The
    *     sink keeps each row's store, so a store is not sent a merged
    *     row it sent unchanged itself.
    *   - side A is the C* DATA table itself (graft-cql with
    *     `writetime-of` over every data cell — C* IS its own per-cell
    *     merged state), polled incrementally on its update-ts column;
    *     side B is the ES index whose docs carry `<cell>_wt` stamp fields
    *     beside the data fields.
    *   - writeback to C* is ONE graft-cql write per round with
    *     `writetime-of` over every cell: each cell rides its own
    *     `INSERT … USING TIMESTAMP <stamp>` in the same batches, so the
    *     SERVER re-resolves by the same rule and a replayed or reordered
    *     relay can never regress a newer cell. The relay deliberately
    *     never touches the update-ts column: relayed data must not echo
    *     back through A's own feed.
    *   - writeback to ES sends the MERGED doc guarded by external_gte
    *     versioning (version = the row's greatest stamp), ES's only
    *     regress guard — a relay planned before a local ES write lands as
    *     a 409 no-op and the next round re-merges.
    *
    * Requires formatA=graft-cql and formatB=graft-es (the reference's
    * exact topology) and `cells` naming the data columns; the C* table
    * carries a `ts` bigint (epoch-µs) update column — the reference's own
    * poll-by-update-timestamp contract. */
  def startCell(spark: SparkSession, cfg: SyncConfig): StreamingQuery = {
    import org.apache.spark.sql.functions.{col, greatest}
    require(cfg.cells.nonEmpty,
      "sync config: merge=cell needs 'cells: <c1,c2,...>'")
    require(cfg.formatA == "graft-cql" && cfg.formatB == "graft-es",
      "sync config: merge=cell is the C*⟷ES topology " +
        "(cassandra.format: graft-cql, elasticsearch.format: graft-es)")
    val a = cqlEndpoint(cfg.sideA)
    val b = esEndpoint(cfg.sideB)
    val columns = Sync.cellColumns(a.pk, cfg.cells)
    // the connector's stamp column for each `<cell>_wt`, read and write
    val writetimeOf = cfg.cells.mkString(",")
    val stampOf = Cql.writetimeCols(cfg.cells).map { case (s, c) => s"${c}_wt" -> s }

    val feedA = cqlStream(spark, a).option("writetime-of", writetimeOf).load()
      .select(columns.map(n => col(stampOf.getOrElse(n, n)).as(n)): _*)
    val feedB = esStream(spark, b).load().select(columns.map(col): _*)

    // store 0 is C*, store 1 is ES: each is sent only the merged rows it
    // does not already hold
    Sync.cellSyncSink(Seq(feedA, feedB), a.pk, cfg.cells,
      Seq(cfg.snapshotA, cfg.snapshotB),
      s"${cfg.checkpointDir}/cell", cfg.interval) {
      case (0, affected) =>
        affected.select(col(a.pk) +: cfg.cells.flatMap(c =>
            Seq(col(c), col(s"${c}_wt").as(stampOf(s"${c}_wt")))): _*)
          .write.format("graft-cql").options(a.options)
          .option("writetime-of", writetimeOf)
          .mode("append").save()
      case (_, affected) =>
        // one stable version per merged row: its greatest stamp. Stable
        // across echo rounds, so relays converge instead of ping-ponging.
        affected.withColumn("ts",
            greatest(col("ts") +: cfg.cells.map(c => col(s"${c}_wt")): _*))
          .write.format("graft-es").options(b.options)
          .option("id-column", a.pk).option("version-column", "ts")
          .mode("append").save()
    }
  }

  /** One side's change feed as a stream in [[Sync.changeSchema]] shape.
    * The non-parquet feeds carry `ts` as epoch-micros longs (the
    * connectors' value domain) and are re-homed to TimestampType here, so
    * every downstream operator sees one schema regardless of the
    * endpoint. The wire feeds poll by that ts column — exactly the
    * reference's poll-by-update-timestamp rounds. */
  private def changeFeed(spark: SparkSession, dir: String,
      format: String): DataFrame = {
    def fromMicros(df: DataFrame) =
      df.withColumn("ts", expr("timestamp_micros(ts)")).select("key", "ts", "uid", "payload")
    format match {
      case "parquet" => Sync.changeStream(spark, dir)
      case "graft-sync" => fromMicros(spark.readStream.format("graft-sync").load(dir))
      case "graft-cql" => fromMicros(cqlStream(spark, cqlEndpoint(dir)).load())
      case "graft-es" => fromMicros(esStream(spark, esEndpoint(dir)).load())
      case other => throw new IllegalArgumentException(
        s"sync config: unknown feed format '$other' " +
          "(parquet | graft-sync | graft-cql | graft-es)")
    }
  }

  /** A `cql://host:port/keyspace/table?pk=<col>` feed: the reference's
    * contact-points/keyspace/table config lines. */
  private final case class CqlEndpoint(host: String, ks: String, table: String,
      pk: String) {
    def options: Map[String, String] = Map("host" -> host, "keyspace" -> ks, "table" -> table)
  }

  /** An `es://host:port/index` feed (http assumed — a TLS deployment
    * would extend the scheme): the reference's ES-URL/index line. */
  private final case class EsEndpoint(nodes: String, index: String) {
    def options: Map[String, String] = Map("nodes" -> nodes, "index" -> index)
  }

  /** `uri`'s `host:port`, non-empty path segments and query parameters,
    * if it is a `scheme://host:port/…` URI. */
  private def uriParts(uri: String,
      scheme: String): Option[(String, Seq[String], Map[String, String])] =
    scala.util.Try(new java.net.URI(uri)).toOption
      .filter(u => u.getScheme == scheme && u.getHost != null && u.getPort >= 0)
      .map { u =>
        val query = Option(u.getQuery).toSeq.flatMap(_.split("&")).map(_.split("=", 2))
          .collect { case Array(k, v) if v.nonEmpty => k -> v }.toMap
        (s"${u.getHost}:${u.getPort}",
          Option(u.getPath).toSeq.flatMap(_.split("/")).filter(_.nonEmpty), query)
      }

  private def cqlEndpoint(uri: String): CqlEndpoint = uriParts(uri, "cql") match {
    case Some((host, Seq(ks, table), query)) if query.contains("pk") =>
      CqlEndpoint(host, ks, table, query("pk"))
    case _ => throw new IllegalArgumentException("graft-cql feed must be " +
      s"cql://host:port/keyspace/table?pk=<partition key column>, got '$uri'")
  }

  private def esEndpoint(uri: String): EsEndpoint = uriParts(uri, "es") match {
    case Some((host, Seq(index), _)) => EsEndpoint(s"http://$host", index)
    case _ => throw new IllegalArgumentException(
      s"graft-es feed must be es://host:port/index, got '$uri'")
  }

  private def cqlStream(spark: SparkSession, a: CqlEndpoint) =
    spark.readStream.format("graft-cql").options(a.options)
      .option("partition-key", a.pk).option("incremental-column", "ts")

  private def esStream(spark: SparkSession, b: EsEndpoint) =
    spark.readStream.format("graft-es").options(b.options)
      .option("incremental-column", "ts")

  /** One batch round (the reference's non-streaming mode): read whatever
    * is in both feeds now, merge both directions once, return row counts.
    * The counts are the snapshots' parquet footer row counts, so nothing
    * runs after the query stops. */
  def runOnce(spark: SparkSession, cfg: SyncConfig): (Long, Long) = {
    val (qa, qb) = start(spark, cfg)
    try { qa.processAllAvailable(); qb.processAllAvailable() }
    finally { qa.stop(); qb.stop() }
    val columns =
      if (cfg.merge == "cell") Sync.cellColumns(cqlEndpoint(cfg.sideA).pk, cfg.cells)
      else Sync.changeSchema.fieldNames.toSeq
    (Sync.snapshotRows(spark, cfg.snapshotA, columns),
      Sync.snapshotRows(spark, cfg.snapshotB, columns))
  }
}
