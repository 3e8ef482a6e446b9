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

/** On-disk layout of the `graft-sync` store — the zero-egress stand-in for
  * the external systems the reference syncs (a paged CQL table scan on the
  * read side, the ES `_bulk` NDJSON endpoint on the write side; SURVEY
  * §3.1). A store directory holds:
  *
  *   - `_schema.json` — the table schema as a Spark DDL string,
  *   - data pages `*.jsonl` — one JSON object per row (exactly the NDJSON
  *     row shape an ES bulk request carries),
  *   - commit manifests `_manifest-*.json` — each lists the data pages one
  *     committed job/epoch produced. Readers see ONLY manifested pages, so
  *     a torn write (job died before driver commit) is invisible — the
  *     same reader-side guarantee a transactional bulk endpoint gives.
  *
  * Everything in this object is driver/executor-agnostic plain-JDK I/O:
  * executors touch only the page files their split names.
  */
/** Public maintenance surface for graft-sync stores (the operations a
  * store owner runs OUTSIDE a query: today, compaction). */
object GraftSyncMaintenance {
  /** See [[GraftSyncStore.compact]]: N committed pages → 1, one atomic
    * snapshot manifest, answers unchanged. Quiescent batch-lineage
    * stores only. */
  def compact(dir: String): Unit = GraftSyncStore.compact(dir)

  /** See [[GraftSyncStore.compactLww]]: the Cassandra tombstone
    * lifecycle — per-key LWW resolution at compaction, shadowed versions
    * purged, winning tombstones retained until `gcGraceUs` has passed
    * (then purged). Quiescent batch-lineage stores only. */
  def compactLww(dir: String, keyCols: Seq[String], tsCol: String,
      deletedCol: String, gcGraceUs: Long, nowUs: Long): Unit =
    GraftSyncStore.compactLww(dir, keyCols, tsCol, deletedCol, gcGraceUs, nowUs)
}

private[sources] object GraftSyncStore {
  val SchemaFile = "_schema.json"
  val ManifestPrefix = "_manifest-"

  private val mapper = new ObjectMapper()

  def writeSchema(dir: String, schema: StructType): Unit = {
    val p = Paths.get(dir)
    Files.createDirectories(p)
    atomicWrite(p.resolve(SchemaFile), schema.toDDL.getBytes(UTF_8))
  }

  def readSchema(dir: String): Option[StructType] = {
    val f = Paths.get(dir, SchemaFile)
    if (Files.isRegularFile(f))
      Some(StructType.fromDDL(new String(Files.readAllBytes(f), UTF_8)))
    else None
  }

  /** Atomically publish a manifest for one committed job/epoch, named
    * `_manifest-<ordinal>-<tag>.json`. The ORDINAL defines the feed order
    * the micro-batch offsets index into (manifests concatenate in ordinal
    * order — page names themselves are never globally sorted, because a
    * later job's random queryId could sort before an earlier one's). A
    * REPLAYED streaming epoch passes the same (ordinal=epochId, tag) and
    * so rewrites the same manifest with the same page list — the sink's
    * idempotency under retries.
    *
    * `replacesUpTo`: a SNAPSHOT manifest (compaction) additionally
    * records the highest ordinal it subsumes — readers ignore every
    * manifest at or below it (the LSM/iceberg snapshot rule), which is
    * what makes compaction a ONE-FILE atomic operation. */
  def writeManifest(dir: String, ordinal: Long, tag: String,
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
    atomicWrite(Paths.get(dir, f"$ManifestPrefix$ordinal%012d-$tag.json"),
      mapper.writeValueAsBytes(node))
  }

  /** Manifest filename for one (ordinal, tag). */
  private def manifestName(ordinal: Long, tag: String): String =
    f"$ManifestPrefix$ordinal%012d-$tag.json"

  /** The tag component of a manifest filename (`_manifest-<ord>-<tag>
    * .json`). Exact structural parse — never a substring match. */
  private def manifestTag(name: String): String =
    name.stripPrefix(ManifestPrefix).dropWhile(_.isDigit)
      .stripPrefix("-").stripSuffix(".json")

  /** True iff `name` is the manifest of generation `tag` — ordinal
    * digits, then EXACTLY this tag. An endsWith("-$tag.json") test would
    * conflate tag "epoch-1" with "ts-rollup-epoch-1" and let a supersede
    * destroy another tag's committed generation (r13 advice). */
  private def manifestHasTag(name: String, tag: String): Boolean =
    name.startsWith(ManifestPrefix) && name.endsWith(".json") &&
      manifestTag(name) == tag && {
        val digits = name.stripPrefix(ManifestPrefix).takeWhile(_.isDigit)
        digits.nonEmpty && name == manifestName(digits.toLong, tag)
      }

  /** Tags sealed by compaction snapshots: their rows live inside snapshot
    * pages and can no longer be individually superseded. Union over every
    * manifest carrying a `sealed_tags` list (snapshots chain the list
    * forward, so one read of the live manifest set is complete). */
  private def sealedTags(dir: String): Set[String] =
    listFiles(dir).map(_.getFileName.toString)
      .filter(_.startsWith(ManifestPrefix))
      .flatMap { m =>
        val node = mapper.readTree(Files.readAllBytes(Paths.get(dir, m)))
        Option(node.get("sealed_tags")).toSeq
          .flatMap(_.elements().asScala.map(_.asText()).toSeq)
      }.toSet

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
    * Batch lineage only, on a QUIESCENT store (no live writer/reader —
    * the force-merge caveat): an epoch-lineage store's ordinals are
    * epoch ids a restarted stream would collide with, so it is refused
    * loudly. A post-compaction page-tag replay would re-append rows the
    * snapshot already holds — compaction is for stores whose epochs are
    * checkpoint-committed (the quiescence requirement covers it). */
  def compact(dir: String): Unit = {
    requireLineage(dir, wantEpochs = false)
    val priorManifests = listFiles(dir).map(_.getFileName.toString)
      .filter(_.startsWith(ManifestPrefix)).sorted
    val pages = committedPages(dir)
    if (pages.size <= 1) return
    val ord = nextOrdinal(dir)
    val page = f"compact-$ord%012d.jsonl"
    val tmp = Paths.get(dir, page + ".tmp")
    val out = Files.newOutputStream(tmp)
    try pages.foreach(p => Files.copy(Paths.get(dir, p), out))
    finally out.close()
    Files.move(tmp, Paths.get(dir, page), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // the snapshot SEALS every tag it subsumes (chaining forward tags
    // already sealed by earlier snapshots): a post-compaction replay of a
    // tagged generation finds its tag sealed and no-ops instead of
    // appending rows the snapshot already holds (r13 advice). The list is
    // bounded by the store's total distinct commit tags — names only,
    // never data.
    val toSeal = (sealedTags(dir) ++ priorManifests.map(manifestTag))
      .filterNot(_ == "compact").toSeq
    writeManifest(dir, ord, "compact", Seq(page),
      replacesUpTo = Some(ord - 1), // the atomic cut-over
      sealedTags = toSeal)
    // GC (idempotent; everything below is already invisible to readers)
    priorManifests.foreach(m => Files.deleteIfExists(Paths.get(dir, m)))
    pages.foreach(p => Files.deleteIfExists(Paths.get(dir, p)))
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
    * Quiescent batch-lineage stores only (compact's rule). Store-local
    * driver I/O like every maintenance op here; at real scale this exact
    * resolution is SyncOps i12's one-shuffle plan writing a fresh store —
    * the stand-in keeps it store-local so the lifecycle is testable
    * without a cluster. */
  def compactLww(dir: String, keyCols: Seq[String], tsCol: String,
      deletedCol: String, gcGraceUs: Long, nowUs: Long): Unit = {
    requireLineage(dir, wantEpochs = false)
    require(keyCols.nonEmpty, "compactLww needs at least one key column")
    val priorManifests = listFiles(dir).map(_.getFileName.toString)
      .filter(_.startsWith(ManifestPrefix)).sorted
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
    val ord = nextOrdinal(dir)
    val page = f"compact-$ord%012d.jsonl"
    atomicWrite(Paths.get(dir, page),
      kept.map(_ + "\n").mkString.getBytes(UTF_8))
    val toSeal = (sealedTags(dir) ++ priorManifests.map(manifestTag))
      .filterNot(_ == "compact").toSeq
    writeManifest(dir, ord, "compact", Seq(page),
      replacesUpTo = Some(ord - 1), sealedTags = toSeal)
    priorManifests.foreach(m => Files.deleteIfExists(Paths.get(dir, m)))
    pages.foreach(p => Files.deleteIfExists(Paths.get(dir, p)))
  }

  /** Publish (or REPUBLISH, on post-crash epoch replay) the manifest for
    * streaming epoch `epochId`, then GC any pages the superseded
    * publication of the same epoch referenced but the new list does not —
    * the streaming twin of [[supersedeTag]]'s crash-safety order: atomic
    * manifest swap FIRST, deletes after, so a crash between the two
    * leaves only unreferenced orphans, never a manifest naming deleted
    * (or torn) data. Page names carry a run-unique token, so the replay's
    * staged bytes can never collide with the committed generation's. */
  def republishEpoch(dir: String, epochId: Long, pages: Seq[String]): Unit = {
    val priorName = manifestName(epochId, "epoch")
    val priorPages = {
      val p = Paths.get(dir, priorName)
      if (!Files.isRegularFile(p)) Seq.empty[String]
      else mapper.readTree(Files.readAllBytes(p))
        .get("pages").elements().asScala.map(_.asText()).toSeq
    }
    writeManifest(dir, epochId, "epoch", pages)
    val keep = pages.toSet
    priorPages.distinct.filterNot(keep)
      .foreach(p => Files.deleteIfExists(Paths.get(dir, p)))
  }

  /** Publish a TAGGED batch commit with SUPERSEDE semantics: a page-tag
    * is an idempotency key — the store holds exactly ONE committed
    * generation per tag. If the tag already appears in a committed
    * manifest, this commit REPLACES that generation: the new page list
    * is published at the PRIOR ordinal (same position in the feed
    * lineage, mirroring the streaming epoch path's ordinal=epochId
    * rule), then the prior generation's pages that the new set does not
    * reuse are deleted. This closes the replay hole name-keyed dedupe
    * alone cannot: a post-crash foreachBatch re-execution may shuffle
    * into a DIFFERENT partition layout (AQE coalescing, changed
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
    if (sealedTags(dir).contains(tag)) {
      pages.foreach(p => Files.deleteIfExists(Paths.get(dir, p)))
      return
    }
    val prior = listFiles(dir).map(_.getFileName.toString)
      .filter(manifestHasTag(_, tag))
      .sorted
    val priorPages = prior.flatMap { m =>
      val node = mapper.readTree(Files.readAllBytes(Paths.get(dir, m)))
      node.get("pages").elements().asScala.map(_.asText()).toSeq
    }
    val ordinal = prior.headOption
      .map(_.stripPrefix(ManifestPrefix).takeWhile(_.isDigit).toLong)
      .getOrElse(nextOrdinal(dir))
    writeManifest(dir, ordinal, tag, pages) // atomic replace of the prior
    val keepName = manifestName(ordinal, tag)
    prior.filterNot(_ == keepName)
      .foreach(n => Files.deleteIfExists(Paths.get(dir, n)))
    val keep = pages.toSet
    priorPages.distinct.filterNot(keep)
      .foreach(p => Files.deleteIfExists(Paths.get(dir, p)))
  }

  /** The next free batch-commit ordinal: max over existing manifests + 1.
    * Driver-side only (one committing driver per store — the same
    * single-committer assumption a file-sink manifest makes). */
  def nextOrdinal(dir: String): Long = {
    val ords = listFiles(dir).map(_.getFileName.toString)
      .filter(_.startsWith(ManifestPrefix))
      .flatMap(n => n.stripPrefix(ManifestPrefix).takeWhile(_.isDigit) match {
        case "" => None
        case d => Some(d.toLong)
      })
    if (ords.isEmpty) 1L else ords.max + 1L
  }

  /** A store's manifests are ONE writer lineage: either batch commits
    * (max+1 ordinals) or streaming epochs (ordinal = epochId, stable under
    * replay). Interleaving the two would let a later commit's manifest
    * sort BEFORE existing ones — reordering the feed a checkpointed
    * reader's offsets index into — so the sinks refuse it loudly instead
    * of corrupting silently. (Batch-append then a FRESH stream into the
    * same store restarts at epoch 0, which also sorts before the batch
    * generation — same refusal.) */
  def requireLineage(dir: String, wantEpochs: Boolean): Unit = {
    val names = listFiles(dir).map(_.getFileName.toString)
      .filter(_.startsWith(ManifestPrefix))
    val (epochs, batches) = names.partition(_.endsWith("-epoch.json"))
    val conflict = if (wantEpochs) batches else epochs
    if (conflict.nonEmpty) throw new IllegalStateException(
      s"graft-sync: store $dir already holds ${conflict.size} " +
        s"${if (wantEpochs) "batch" else "epoch"}-committed manifest(s); " +
        "a store is a single writer lineage (batch or streaming, not " +
        "both) — write to a fresh directory or truncate first")
  }

  def deleteManifests(dir: String): Unit =
    listFiles(dir).filter(_.getFileName.toString.startsWith(ManifestPrefix))
      .foreach(Files.deleteIfExists(_))

  /** The committed page list in FEED ORDER: manifests concatenate by
    * ordinal (append order — the order micro-batch offsets index into,
    * stable because committed manifests are never reordered), pages sorted
    * within each manifest, first occurrence wins.
    *
    * The "every *.jsonl, name-sorted" fallback applies ONLY to
    * hand-assembled dirs (no `_schema.json`): a sink-produced store always
    * carries the schema marker, so its readers never see pages a task
    * flushed before the driver committed the manifest — torn jobs stay
    * invisible even mid-first-write. */
  def committedPages(dir: String): Seq[String] = {
    val manifests = listFiles(dir)
      .filter(_.getFileName.toString.startsWith(ManifestPrefix))
      .sortBy(_.getFileName.toString)
    val pages =
      if (manifests.isEmpty && readSchema(dir).isEmpty)
        listFiles(dir).map(_.getFileName.toString)
          .filter(_.endsWith(".jsonl")).sorted
      else {
        val parsed = manifests.map { m =>
          val ord = m.getFileName.toString.stripPrefix(ManifestPrefix)
            .takeWhile(_.isDigit).toLong
          (ord, mapper.readTree(Files.readAllBytes(m)))
        }
        // snapshot rule: a compaction manifest subsumes every manifest
        // at or below its replaces_up_to — those are pre-GC garbage
        val cutoff = parsed.flatMap { case (_, n) =>
          Option(n.get("replaces_up_to")).map(_.asLong)
        }.foldLeft(-1L)(math.max)
        parsed.filter(_._1 > cutoff).flatMap { case (_, node) =>
          node.get("pages").elements().asScala.map(_.asText()).toSeq
        }
      }
    pages.distinct.filter(p => Files.isRegularFile(Paths.get(dir, p)))
  }

  /** Overwrite semantics for `SaveMode.Overwrite`/`truncate()`: drop every
    * manifest and every page file, keep the directory. */
  def truncate(dir: String): Unit = {
    deleteManifests(dir)
    listFiles(dir).filter(_.getFileName.toString.endsWith(".jsonl"))
      .foreach(Files.deleteIfExists(_))
  }

  private def listFiles(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq.filter(Files.isRegularFile(_))
      finally s.close()
    }
  }

  def atomicWrite(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.write(tmp, bytes)
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
