package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.slf4j.LoggerFactory

/** On-disk layout of the `graft-sync` store — the zero-egress stand-in for
  * the external systems the reference syncs (a paged CQL table scan on the
  * read side, the ES `_bulk` NDJSON endpoint on the write side; SURVEY
  * §3.1). A store directory holds:
  *
  *   - `_schema.json` — the table schema as a Spark DDL string,
  *   - data pages `*.jsonl` — one JSON object per row (exactly the NDJSON
  *     row shape an ES bulk request carries),
  *   - commit manifests `_manifest-<ordinal>-<tag>.json` — each lists the
  *     data pages one committed generation produced. Readers see ONLY
  *     manifested pages, so a torn write (job died before driver commit)
  *     is invisible — the same reader-side guarantee a transactional bulk
  *     endpoint gives. Every commit publishes through [[supersedeTag]]:
  *     the tag is the generation's idempotency key (a batch `page-tag`,
  *     `epoch-<n>` for streaming epoch n, else the write's queryId).
  *
  * Everything in this object is driver/executor-agnostic plain-JDK I/O:
  * executors touch only the page files their split names.
  */
/** Public maintenance surface for graft-sync stores (the operations a
  * store owner runs OUTSIDE a query: today, compaction). */
object GraftSyncMaintenance {
  /** See [[GraftSyncStore.compact]]: N committed pages → 1, one atomic
    * snapshot manifest, answers unchanged. Quiescent stores only. */
  def compact(dir: String): Unit = GraftSyncStore.compact(dir)

  /** See [[GraftSyncStore.compactLww]]: the Cassandra tombstone
    * lifecycle — per-key LWW resolution at compaction, shadowed versions
    * purged, winning tombstones retained until `gcGraceUs` has passed
    * (then purged). Quiescent stores only. */
  def compactLww(dir: String, keyCols: Seq[String], tsCol: String,
      deletedCol: String, gcGraceUs: Long, nowUs: Long): Unit =
    GraftSyncStore.compactLww(dir, keyCols, tsCol, deletedCol, gcGraceUs, nowUs)
}

private[sources] object GraftSyncStore {
  val SchemaFile = "_schema.json"
  val ManifestPrefix = "_manifest-"

  private val mapper = new ObjectMapper()
  private val log = LoggerFactory.getLogger(getClass)

  def writeSchema(dir: String, schema: StructType): Unit = {
    val p = Paths.get(dir)
    Files.createDirectories(p)
    atomicWrite(p.resolve(SchemaFile))(_.write(schema.toDDL.getBytes(UTF_8)))
  }

  def readSchema(dir: String): Option[StructType] = {
    val f = Paths.get(dir, SchemaFile)
    if (Files.isRegularFile(f))
      Some(StructType.fromDDL(new String(Files.readAllBytes(f), UTF_8)))
    else None
  }

  /** Atomically publish a manifest for one committed generation, named
    * `_manifest-<ordinal>-<tag>.json`. The ORDINAL defines the feed order
    * and is the mark a stream's offsets hold (generations concatenate in
    * ordinal order — page names themselves are never globally sorted,
    * because a later job's random queryId could sort before an earlier
    * one's).
    *
    * `replacesUpTo`: a SNAPSHOT manifest (compaction) additionally
    * records the highest ordinal it subsumes — readers ignore every
    * manifest at or below it (the LSM/iceberg snapshot rule), which is
    * what makes compaction a ONE-FILE atomic operation. */
  private def writeManifest(dir: String, ordinal: Long, tag: String,
      pages: Seq[String], replacesUpTo: Option[Long] = None,
      sealedTags: Seq[String] = Nil): Unit = {
    val node = mapper.createObjectNode()
    val arr = node.putArray("pages")
    pages.sorted.foreach(arr.add)
    replacesUpTo.foreach(node.put("replaces_up_to", _))
    if (sealedTags.nonEmpty) {
      val st = node.putArray("sealed_tags")
      sealedTags.sorted.foreach(st.add)
    }
    atomicWrite(Paths.get(dir, manifestName(ordinal, tag)))(
      _.write(mapper.writeValueAsBytes(node)))
  }

  /** Manifest filename for one (ordinal, tag). */
  private def manifestName(ordinal: Long, tag: String): String =
    f"$ManifestPrefix$ordinal%012d-$tag.json"

  /** The store's manifest filenames, in ordinal (= feed) order. */
  private def manifests(dir: String): Seq[String] =
    listFiles(dir).map(_.getFileName.toString)
      .filter(n => n.startsWith(ManifestPrefix) && n.endsWith(".json")).sorted

  /** The ordinal component of a manifest filename. */
  private def manifestOrdinal(name: String): Long =
    name.stripPrefix(ManifestPrefix).takeWhile(_.isDigit).toLong

  private def readManifest(dir: String, name: String): JsonNode =
    mapper.readTree(Files.readAllBytes(Paths.get(dir, name)))

  private def manifestPages(node: JsonNode): Seq[String] =
    node.get("pages").elements().asScala.map(_.asText()).toSeq

  /** The tag component of a manifest filename (`_manifest-<ord>-<tag>
    * .json`). Exact structural parse — never a substring match: an
    * endsWith("-$tag.json") test would conflate tag "epoch-1" with
    * "ts-rollup-epoch-1" and let a supersede destroy another tag's
    * committed generation (r13 advice). */
  private def manifestTag(name: String): String =
    name.stripPrefix(ManifestPrefix).dropWhile(_.isDigit)
      .stripPrefix("-").stripSuffix(".json")

  /** Tags sealed by compaction snapshots: their rows live inside snapshot
    * pages and can no longer be individually superseded. Union over the
    * `sealed_tags` lists of the snapshot (`compact`) manifests among
    * `names`, the only manifests that carry one (snapshots chain the list
    * forward, so one read of the live snapshots is complete). A commit
    * thus reads no manifest of a store that was never compacted. */
  private def sealedTags(dir: String, names: Seq[String]): Set[String] =
    names.filter(manifestTag(_) == "compact").flatMap(m =>
      readManifest(dir, m).path("sealed_tags").elements().asScala.map(_.asText())).toSet

  /** Compact every committed generation into ONE page under ONE
    * snapshot manifest — ES force-merge for the NDJSON store, the
    * nightly-maintenance half of the rollup story (r12 verdict item 6:
    * an append-per-epoch store otherwise accumulates pages forever).
    *
    * Row contract: the compacted page holds the committed pages' bytes
    * concatenated in FEED ORDER — the row multiset AND order are
    * byte-identical, so every reader (including the rollup serve paths,
    * which re-aggregate partials) answers exactly as before; only the
    * page count changes.
    *
    * Crash safety is the snapshot rule, not a multi-file dance: the
    * compacted page is written first (unreferenced = invisible), then
    * ONE atomic manifest publish with `replaces_up_to = <max prior
    * ordinal>` makes readers ignore all prior manifests; the deletes
    * after it are pure GC of already-ignored files — a crash anywhere
    * leaves a store that reads correctly.
    *
    * QUIESCENT stores only (no live writer/reader — the force-merge
    * caveat). Streamed stores compact like any other: their `epoch-<n>`
    * tags are sealed, so a post-compaction replay of a committed epoch is
    * a no-op and the stream's next epoch lands after the snapshot. An
    * epoch tag names a stream position, not a source: once a streamed
    * store is compacted, only the same checkpoint or a full replay of the
    * same source may write to it again. Another query started with a
    * fresh checkpoint has each of its epochs up to the highest sealed one
    * dropped, rows and all, with only a log warning. */
  def compact(dir: String): Unit = {
    val pages = committedPages(dir)
    if (pages.size > 1)
      publishSnapshot(dir, pages)(out => pages.foreach(p => Files.copy(Paths.get(dir, p), out)))
  }

  /** Compaction's commit: `write` fills the snapshot page
    * `compact-<ord>.jsonl` (unreferenced, so invisible), then ONE atomic
    * manifest publishes it at the next ordinal `ord`, then the prior
    * manifests and `priorPages`, the pages it replaces, are deleted
    * (idempotent; they are already invisible to readers). The snapshot
    * SEALS every tag it subsumes (chaining forward tags already sealed by
    * earlier snapshots): a post-compaction replay of a tagged generation
    * finds its tag sealed and no-ops instead of appending rows the
    * snapshot already holds (r13 advice). The list is bounded by the
    * store's total distinct commit tags — names only, never data. */
  private def publishSnapshot(dir: String, priorPages: Seq[String])(
      write: java.io.OutputStream => Unit): Unit = {
    val priorManifests = manifests(dir)
    val ord = nextOrdinal(priorManifests)
    val page = f"compact-$ord%012d.jsonl"
    atomicWrite(Paths.get(dir, page))(write)
    val toSeal = (sealedTags(dir, priorManifests) ++
      priorManifests.map(manifestTag)).filterNot(_ == "compact").toSeq
    writeManifest(dir, ord, "compact", Seq(page),
      replacesUpTo = Some(ord - 1), // the atomic cut-over
      sealedTags = toSeal)
    (priorManifests ++ priorPages)
      .foreach(f => Files.deleteIfExists(Paths.get(dir, f)))
  }

  /** LWW-compact a store that holds a CHANGE LOG with tombstones — the
    * Cassandra compaction + gc_grace lifecycle (SURVEY §1.1) on the
    * stand-in store. Deletes written through the connector are ordinary
    * rows whose `deletedCol` is true; until compaction the store serves
    * every version and the READER merges (the i12 liveView rule). This
    * maintenance pass resolves the merge physically:
    *
    *   - per key (`keyCols`), the newest row by (`tsCol`, feed order)
    *     wins — every shadowed older version is PURGED;
    *   - a winning LIVE row is kept;
    *   - a winning TOMBSTONE younger than `nowUs − gcGraceUs` is KEPT —
    *     it must keep shadowing replayed older updates (purging it early
    *     is exactly C*'s zombie-resurrection bug, and i12's rule:
    *     the merge retains winning tombstones);
    *   - a winning tombstone at or past gc-grace is PURGED — by then no
    *     replayable write predates it (C*'s gc_grace_seconds contract).
    *
    * Crash safety = [[compact]]'s snapshot rule verbatim: compacted page
    * first (unreferenced = invisible), ONE atomic manifest publish with
    * `replaces_up_to` + sealed tags, then pure-GC deletes. Sealing makes
    * a post-compaction tagged replay a no-op, so compaction can never
    * re-admit purged versions through a lagging writer's retry.
    *
    * Output rows keep their committed BYTES verbatim (no re-serialize
    * drift), ordered by key then stamp — deterministic, and the order a
    * key-range scan of the real store (a CQL partition walk) would give.
    *
    * Quiescent stores only (compact's rule). Store-local
    * driver I/O like every maintenance op here; at real scale this exact
    * resolution is SyncOps i12's one-shuffle plan writing a fresh store —
    * the stand-in keeps it store-local so the lifecycle is testable
    * without a cluster. */
  def compactLww(dir: String, keyCols: Seq[String], tsCol: String,
      deletedCol: String, gcGraceUs: Long, nowUs: Long): Unit = {
    require(keyCols.nonEmpty, "compactLww needs at least one key column")
    val pages = committedPages(dir)
    if (pages.isEmpty) return
    // newest per key: (ts, feed position) is a total order
    case class Win(line: String, ts: Long, pos: Long, deleted: Boolean)
    val winners = scala.collection.mutable.LinkedHashMap.empty[String, Win]
    var pos = 0L
    for (p <- pages; line <- Files.readAllLines(Paths.get(dir, p)).asScala) {
      val node = mapper.readTree(line)
      // Length-prefixing each part makes the composite key unambiguous for
      // ANY key text (no separator char can be: JSON strings may contain
      // every code point, including NUL): ("a b","c") -> "3:a b|1:c" can
      // never equal ("a","b c") -> "1:a|3:b c".
      val key = keyCols.map { k =>
        val v = node.get(k)
        require(v != null && !v.isNull, s"compactLww: row missing key '$k': $line")
        val t = v.asText()
        s"${t.length}:$t"
      }.mkString("|")
      val tsNode = node.get(tsCol)
      require(tsNode != null && tsNode.isNumber,
        s"compactLww: row missing numeric ts '$tsCol': $line")
      val ts = tsNode.asLong()
      val del = Option(node.get(deletedCol)).exists(n => n.isBoolean && n.asBoolean())
      val w = Win(line, ts, pos, del)
      winners.get(key) match {
        case Some(prev) if prev.ts > ts || (prev.ts == ts && prev.pos > pos) => ()
        case _ => winners.update(key, w)
      }
      pos += 1
    }
    val kept = winners.toSeq
      .filter { case (_, w) => !w.deleted || w.ts > nowUs - gcGraceUs }
      .sortBy { case (k, w) => (k, w.ts, w.pos) }
      .map(_._2.line)
    publishSnapshot(dir, pages)(_.write(kept.map(_ + "\n").mkString.getBytes(UTF_8)))
  }

  /** Publish one commit with SUPERSEDE semantics — the store's only
    * commit protocol. The tag is an idempotency key — the store holds
    * exactly ONE committed generation per tag. A new tag lands at the
    * next ordinal (max + 1), so the feed never reorders. If the tag
    * already appears in a committed manifest, this commit REPLACES that
    * generation: the new page list is published at the PRIOR ordinal
    * (same position in the feed), then the prior generation's pages that
    * the new set does not reuse are deleted. A replayed streaming epoch
    * (tag `epoch-<n>`) and a replayed foreachBatch append (tag
    * `rollup-epoch-<n>`) converge the same way. This closes the replay
    * hole name-keyed dedupe alone cannot: a post-crash re-execution may
    * shuffle into a DIFFERENT partition layout (AQE coalescing, changed
    * spark.sql.shuffle.partitions), landing the same rows under
    * different page names — merge would double-count; supersede
    * converges to the replay's exact output regardless of layout.
    *
    * Crash safety: the new manifest is atomic-renamed FIRST, then stale
    * files are deleted — a crash between the two leaves unreferenced
    * orphan pages (invisible to committedPages), never a manifest
    * pointing at deleted data. */
  def supersedeTag(dir: String, tag: String, pages: Seq[String]): Unit = {
    // A tag subsumed by a compaction snapshot is SEALED: its generation's
    // rows live inside the snapshot page, so there is no prior generation
    // to replace — a post-compaction replay of the tag (stream restart
    // whose last foreachBatch commit raced the checkpoint) must be a
    // no-op, not an append that double-counts the snapshot's rows (r13
    // advice). The staged pages are unreferenced; GC them. A writer that
    // wants to REPLACE a sealed generation must use a fresh tag.
    val names = manifests(dir)
    if (sealedTags(dir, names).contains(tag)) {
      log.warn(s"graft-sync: $dir: tag '$tag' is sealed by compaction; " +
        s"dropping its commit of ${pages.size} page(s)")
      pages.foreach(p => Files.deleteIfExists(Paths.get(dir, p)))
      return
    }
    val prior = names.filter(manifestTag(_) == tag)
    val priorPages = prior.flatMap(m => manifestPages(readManifest(dir, m)))
    val ordinal = prior.headOption.map(manifestOrdinal)
      .getOrElse(nextOrdinal(names))
    writeManifest(dir, ordinal, tag, pages) // atomic replace of the prior
    val keepName = manifestName(ordinal, tag)
    prior.filterNot(_ == keepName)
      .foreach(n => Files.deleteIfExists(Paths.get(dir, n)))
    val keep = pages.toSet
    priorPages.distinct.filterNot(keep)
      .foreach(p => Files.deleteIfExists(Paths.get(dir, p)))
  }

  /** The next free ordinal after the manifests `names` (in ordinal
    * order): max + 1. Driver-side only (one committing driver per store —
    * the same single-committer assumption a file-sink manifest makes). */
  private def nextOrdinal(names: Seq[String]): Long =
    names.lastOption.fold(1L)(manifestOrdinal(_) + 1L)

  /** The overwrite half of `SaveMode.Overwrite` (and of a streaming
    * complete-mode epoch): drop every manifest and every page file except
    * `keep`, the commit's own pages, before they are published. */
  def dropAllExcept(dir: String, keep: Set[String]): Unit =
    listFiles(dir).filter { f =>
      val n = f.getFileName.toString
      n.startsWith(ManifestPrefix) || (n.endsWith(".jsonl") && !keep(n))
    }.foreach(Files.deleteIfExists(_))

  /** One committed generation: the manifest `name` at `ordinal` (`name`
    * is empty for the one generation of a hand-assembled directory). */
  final case class Generation(ordinal: Long, name: String)

  /** The store's generations in FEED (ordinal) order, from the manifest
    * file names alone. Everything a reader sees derives from this list:
    * the batch scan's [[committedPages]] and a stream's [[mark]],
    * [[window]] and [[admit]].
    *
    * A hand-assembled directory (pages copied in: no `_schema.json` and no
    * manifest) is one generation at ordinal 1 holding every `*.jsonl`,
    * name-sorted. A sink-produced store always carries the schema marker,
    * so its readers never see pages a task flushed before the driver
    * committed the manifest — torn jobs stay invisible even
    * mid-first-write. */
  def generations(dir: String): Seq[Generation] = {
    val gens = manifests(dir).map(n => Generation(manifestOrdinal(n), n))
    val whole = Seq(Generation(1L, ""))
    if (gens.isEmpty && readSchema(dir).isEmpty && pages(dir, whole).nonEmpty) whole else gens
  }

  /** The pages of `gens` in feed order, pages sorted within a generation,
    * first occurrence wins, files that are gone dropped. */
  private def pages(dir: String, gens: Seq[Generation]): Seq[String] =
    gens.flatMap { g =>
      if (g.name.nonEmpty) manifestPages(readManifest(dir, g.name))
      else listFiles(dir).map(_.getFileName.toString).filter(_.endsWith(".jsonl")).sorted
    }.distinct.filter(p => Files.isRegularFile(Paths.get(dir, p)))

  /** The generations that a reader which has consumed every generation up
    * to ordinal `from` reads in (from, to], in feed order. Of the store's
    * manifests only the compaction snapshot is read, for its
    * `replaces_up_to` r: every manifest at or below r is pre-GC garbage
    * (the snapshot rule), and the snapshot holds their rows. So
    *   - a reader that has consumed nothing (`from` = 0) reads it whole;
    *   - a reader at or past r skips it: it holds only rows that reader
    *     has consumed;
    *   - a reader in between fails: the snapshot merges rows it has read
    *     with rows it has not. */
  private def unread(dir: String, gens: Seq[Generation], from: Long,
      to: Long): Seq[Generation] = {
    val snapshot = gens.filter(g => manifestTag(g.name) == "compact").lastOption
    val r = snapshot.fold(0L)(g => readManifest(dir, g.name).path("replaces_up_to").asLong(0L))
    if (from < r && (from > 0 || snapshot.exists(_.ordinal > to)))
      throw new IllegalStateException(s"graft-sync: $dir was compacted up to generation " +
        s"$r while a stream had read only up to $from; restart it with a fresh checkpoint")
    val cut = if (from < r) r else math.max(from, snapshot.fold(0L)(_.ordinal))
    gens.filter(g => g.ordinal > cut && g.ordinal <= to)
  }

  /** The committed page list in FEED ORDER: what a reader that has
    * consumed nothing reads. */
  def committedPages(dir: String): Seq[String] =
    pages(dir, unread(dir, generations(dir), 0L, Long.MaxValue))

  /** A stream's mark: the highest generation ordinal, 0 for an empty
    * store. Reads no manifest. */
  def mark(dir: String): Long = generations(dir).lastOption.fold(0L)(_.ordinal)

  /** The pages of one stream batch (from, to]: the generations [[unread]]
    * gives a reader at `from`. A superseded generation keeps its ordinal,
    * so a reader past it never reads it again (its tag is the idempotency
    * key), and every later generation keeps its place. */
  def window(dir: String, from: Long, to: Long): Seq[String] = {
    val gens = generations(dir)
    val last = gens.lastOption.fold(0L)(_.ordinal)
    if (to > last) throw rewritten(dir, to, last)
    pages(dir, unread(dir, gens, from, to))
  }

  /** The end of a stream's next batch from `from` with the store at mark
    * `to`: `to` itself, or under a page budget the last of the whole
    * generations whose pages fit it (at least one generation). Reads the
    * manifests of the generations it admits, plus one. */
  def admit(dir: String, from: Long, to: Long, maxPages: Option[Int]): Long = {
    if (to < from) throw rewritten(dir, from, to)
    maxPages.fold(to) { n =>
      val gens = unread(dir, generations(dir), from, to)
      val total = gens.iterator.map(g => pages(dir, Seq(g)).size.toLong).scanLeft(0L)(_ + _)
      val fit = gens.iterator.zip(total.drop(1)).takeWhile(_._2 <= n).map(_._1).toSeq
      if (fit.size == gens.size) to else fit.lastOption.getOrElse(gens.head).ordinal
    }
  }

  /** An overwrite restarts ordinals at 1, so a store mark below a reader's
    * means the store was rewritten under it. */
  private def rewritten(dir: String, readerMark: Long, storeMark: Long) = new IllegalStateException(
    s"graft-sync: a stream has read $dir up to generation $readerMark but its last is " +
      s"$storeMark — the store was overwritten or truncated while a stream was reading it")

  private def listFiles(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq.filter(Files.isRegularFile(_))
      finally s.close()
    }
  }

  /** `write` fills `<target>.tmp`, which then replaces `target` in one
    * atomic rename: a reader sees the old file or the whole new one. */
  def atomicWrite(target: Path)(write: java.io.OutputStream => Unit): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    val out = Files.newOutputStream(tmp)
    try write(out) finally out.close()
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  // ---------- row codec (shared by reader and writer) ----------

  /** The store's value domain: the primitive + flat-array subset every
    * engine in the sync pair can represent. Nested structs/maps are
    * rejected at write time with a clear message instead of silently
    * mangling. */
  def checkSchema(schema: StructType): Unit = schema.fields.foreach { f =>
    f.dataType match {
      case IntegerType | LongType | FloatType | DoubleType | BooleanType |
           StringType => ()
      // µs-precision wall-clock timestamps move as epoch-µs JSON numbers —
      // both sync endpoints (CQL `timestamp`, ES `date`) have this type,
      // so the connector must too (events.ts is one as of round 5)
      case TimestampNTZType => ()
      case ArrayType(IntegerType | LongType | FloatType | DoubleType |
           StringType, _) => ()
      case other => throw new IllegalArgumentException(
        s"graft-sync: unsupported column type ${other.simpleString} for " +
          s"field '${f.name}' (supported: int/long/float/double/boolean/" +
          "string/timestamp_ntz and flat arrays of the numerics/strings)")
    }
  }

  /** One InternalRow as a JSON object in the store's value domain —
    * the NDJSON row shape shared by the graft-sync pages and the ES
    * connector's `_bulk` document lines (one encoder, no drift). */
  def rowToNode(mapper: ObjectMapper,
      row: org.apache.spark.sql.catalyst.InternalRow,
      fields: Array[StructField]): com.fasterxml.jackson.databind.node.ObjectNode = {
    val node = mapper.createObjectNode()
    var i = 0
    while (i < fields.length) {
      val f = fields(i)
      if (row.isNullAt(i)) node.putNull(f.name)
      else f.dataType match {
        case IntegerType => node.put(f.name, row.getInt(i))
        case LongType => node.put(f.name, row.getLong(i))
        case TimestampNTZType => node.put(f.name, row.getLong(i)) // epoch µs
        case FloatType => node.put(f.name, row.getFloat(i))
        case DoubleType => node.put(f.name, row.getDouble(i))
        case BooleanType => node.put(f.name, row.getBoolean(i))
        case StringType => node.put(f.name, row.getUTF8String(i).toString)
        case ArrayType(et, _) =>
          val arr = node.putArray(f.name)
          val a = row.getArray(i)
          var j = 0
          while (j < a.numElements()) {
            // Null slots must emit JSON null: a.getInt on a null slot
            // silently yields 0 and a.getUTF8String NPEs.
            if (a.isNullAt(j)) arr.addNull()
            else et match {
              case IntegerType => arr.add(a.getInt(j))
              case LongType => arr.add(a.getLong(j))
              case FloatType => arr.add(a.getFloat(j))
              case DoubleType => arr.add(a.getDouble(j))
              case StringType => arr.add(a.getUTF8String(j).toString)
              case other => throw new IllegalStateException(s"unreachable: $other")
            }
            j += 1
          }
        case other => throw new IllegalStateException(s"unreachable: $other")
      }
      i += 1
    }
    node
  }

  /** Parse one JSONL line into column values for `fields` (null-safe;
    * a field absent from the JSON object reads as SQL NULL — the dynamic-
    * document semantics of the ES side). Returns raw JVM values; the
    * caller converts to Catalyst form with [[internalRow]]. */
  def parseLine(mapper: ObjectMapper, line: String,
      fields: Array[StructField]): Array[Any] =
    parseNode(mapper.readTree(line), fields)

  /** [[parseLine]] over an already-parsed JSON object — the ES connector
    * reads document objects out of a _search response envelope. */
  def parseNode(node: JsonNode, fields: Array[StructField]): Array[Any] = {
    val out = new Array[Any](fields.length)
    var i = 0
    while (i < fields.length) {
      val v = node.get(fields(i).name)
      out(i) = if (v == null || v.isNull) null else fromJson(v, fields(i).dataType)
      i += 1
    }
    out
  }

  /** The row every connector reader emits: the first `fields.length` raw
    * values (from [[parseNode]] or the CQL decoder) in Catalyst form —
    * strings become UTF8String, arrays GenericArrayData, and the numeric,
    * boolean and epoch-µs values pass through. Values past `fields` (a
    * reader's filter-only columns) are dropped. */
  def internalRow(vals: Array[Any], fields: Array[StructField]): InternalRow = {
    val out = new Array[Any](fields.length)
    var i = 0
    while (i < fields.length) {
      out(i) = toCatalyst(vals(i), fields(i).dataType)
      i += 1
    }
    new GenericInternalRow(out)
  }

  private def toCatalyst(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (s: String, StringType) => UTF8String.fromString(s)
    case (a: Array[Any], ArrayType(et, _)) =>
      new GenericArrayData(a.map(toCatalyst(_, et)))
    case (x, _) => x
  }

  /** STRICT decode: a value of the wrong JSON kind throws instead of
    * jackson's silent `asLong()==0` coercion — schema drift in a sync
    * feed must surface as an error, not as zeros. */
  private def fromJson(v: JsonNode, dt: DataType): Any = dt match {
    case IntegerType if v.isNumber => v.asInt()
    case LongType if v.isNumber => v.asLong()
    case TimestampNTZType if v.isNumber => v.asLong() // epoch µs = Catalyst repr
    case FloatType if v.isNumber => v.asDouble().toFloat
    case DoubleType if v.isNumber => v.asDouble()
    case BooleanType if v.isBoolean => v.asBoolean()
    case StringType if v.isTextual => v.asText()
    case ArrayType(et, _) if v.isArray =>
      v.elements().asScala
        .map(e => if (e.isNull) null else fromJson(e, et)).toArray[Any]
    case other => throw new IllegalArgumentException(
      s"expected ${other.simpleString}, found JSON ${v.getNodeType} ($v)")
  }
}
