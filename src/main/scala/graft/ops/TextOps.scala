package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2-J text-analysis / dedup operators + the k1 UDF surface.
  *
  * j2 is the scale-critical one: near-dup detection never materializes the
  * doc×doc cross product. Docs are shingled (3-token), shingles form an
  * inverted index, candidate pairs come from the index self-join, and the
  * exact Jaccard is computed from per-pair intersection counts — the
  * standard shingle-index shape that LSH banding slots into at 100 TB
  * (band the shingle MinHashes instead of joining raw shingles; the
  * pair-generation and verify stages stay identical).
  */
object TextOps {

  /** j1_dedup_exact — exact dedup by content hash; deterministic keeper =
    * min doc_id per hash (CurationOps.exactDedup bound to the table). */
  def j1(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    CurationOps.exactDedup(Tables.documents(s, d))
      .select($"doc_id", $"content_hash", $"lang")
      .orderBy($"doc_id")
  }

  /** 3-token shingle set per doc (distinct), hashed to 64 bits with
    * xxhash64 INSIDE the generating transform, as (doc_id, sh) rows.
    * Hashing before the inverted-index self-join shrinks the shuffled key
    * from ~25-byte strings to 8-byte longs — measured 2× on the whole pair
    * pipeline at sf0.1 — and is the standard first step of every shingle/
    * MinHash pipeline. 64-bit collisions are the only way this can diverge
    * from string-shingle Jaccard (expected collisions ≈ n²/2⁶⁵ ≈ 1e-10 at
    * 10⁵ distinct shingles); the cross-engine oracle computes the
    * string-shingle form, so any consequential collision fails the gate. */
  /** The 3-token shingle at transform position `i` — THE single source of
    * the n-gram construction. Every shingle relation in the engine (batch
    * TextOps/PipelineOps, streaming Sync) composes this fragment inside
    * its own transform, so an n-gram change (width, separator) cannot
    * silently diverge between the batch and streaming dedup paths. Only
    * valid inside `transform(sequence(...), i -> ...)`. The oracle side
    * has one copy too: every dedup oracle interpolates [[ShingleSql]],
    * so a change to the n-gram touches this fragment and that one. */
  private[graft] def shingle3(toksCol: String): String =
    s"concat(element_at($toksCol, i), ' ', element_at($toksCol, i + 1), ' ', element_at($toksCol, i + 2))"

  /** The span oracles' `t` (doc_id, t): each non-empty document's
    * tokens. */
  private[ops] val SpanTokensSql =
    """t AS (SELECT doc_id, string_split(text, ' ') AS t
      |           FROM 'documents.parquet'
      |           WHERE len(string_split(text, ' ')) >= 1)""".stripMargin

  /** The span family's one skeleton (j36/j84/j99/j125/j145/j159/j169/
    * j173): split each document's `text` into `toks`, add the `lets`
    * columns (position lists from `span_pos(toks, 'term')` and
    * intermediates over them), then the named `outs` as BIGINT, each
    * column in order and evaluated once per document, and keep the
    * documents where `keep` — a predicate over any of those columns —
    * holds. Returns `doc_id` plus the outputs, ordered by `doc_id`.
    *
    * The keep predicate runs as a generate (`explode` of a one-element
    * array filtered by it), never as a Filter: a deterministic Filter on
    * these computed columns is pushed into the parquet scan's
    * DataFilters, where it evaluates the whole position algebra a second
    * time beside the Project (measured 2–4× per query at sf0.1, still so
    * on Spark 4.1.2). A generator is never pushed, so every column is
    * evaluated once per row; PlanSpec pins this for all eight queries. */
  private[graft] def spanMatches(s: SparkSession, d: String,
      lets: Seq[(String, String)], outs: Seq[(String, String)],
      keep: String): DataFrame = {
    graft.functions.VectorExpressions.register(s) // span_pos
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val cols = lets.map { case (n, e) => n -> expr(e) } ++
      outs.map { case (n, e) => n -> expr(e).cast("long") }
    cols.foldLeft(docs) { case (df, (n, c)) => df.withColumn(n, c) }
      .select(col("doc_id") +: outs.map(o => col(o._1)) :+
        explode(expr(s"filter(array($keep), k -> k)")).as("_keep"): _*)
      .drop("_keep")
      .orderBy(col("doc_id"))
  }

  private def shingles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", split($"text", " ").as("toks"))
      .filter(size($"toks") >= 3)
      .select($"doc_id", explode(expr(
        s"""array_distinct(transform(sequence(1, size(toks) - 2),
           |  i -> xxhash64(${shingle3("toks")})))""".stripMargin))
        .as("sh"))
  }

  /** Hot-shingle document-frequency cap for the near-dup index. A shingle
    * occurring in more than this many documents is boilerplate, carries no
    * dedup signal, and — the real reason at 100 TB — makes the inverted-
    * index self-join quadratic in its bucket size. Measured bound at
    * sf0.1: max df = 25 over 27k distinct shingles, so the default never
    * binds on the fixture corpus; the binding path is unit-tested with a
    * small cap. Mirrored exactly in the DuckDB oracles (QUALIFY over a
    * window count), so capped semantics stay cross-engine identical. */
  private[ops] val ShingleDfCap = 1000L

  /** The DuckDB oracles' form of [[shingles]]: one (doc_id, sh) row per
    * distinct string shingle of each document of ≥ 3 tokens. */
  private[ops] val ShingleSql =
    """SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(string_split(text, ' ')) - 2),
      |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))) AS sh
      |  FROM 'documents.parquet' WHERE len(string_split(text, ' ')) >= 3""".stripMargin

  /** The oracles' form of [[pairStatsFrom]] as CTEs: `s0` (shingles), `s`
    * (df-capped at [[ShingleDfCap]]), `n` (shingles per doc) and `p`
    * (shared shingles per pair d1 < d2). */
  private[ops] val PairStatsSql =
    s"""s0 AS (
       |  $ShingleSql),
       |s AS (SELECT doc_id, sh FROM s0 QUALIFY count(*) OVER (PARTITION BY sh) <= $ShingleDfCap),
       |n AS (SELECT doc_id, count(*) AS ns FROM s GROUP BY doc_id),
       |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2)""".stripMargin

  /** The oracles' near-dup pairs over [[PairStatsSql]]: (d1, d2, jaccard)
    * with exact Jaccard ≥ 0.5, the jaccard rounded to 6 places. */
  private[ops] val NearDupJaccardSql =
    """SELECT d1, d2, floor(inter / (na.ns + nb.ns - inter) * 1000000 + 0.5) / 1000000.0 AS jaccard
      |FROM p JOIN n na ON p.d1 = na.doc_id JOIN n nb ON p.d2 = nb.doc_id
      |WHERE inter / (na.ns + nb.ns - inter) >= 0.5""".stripMargin

  /** The oracles' near-dup pairs as the CTE `pr` (d1, d2). */
  private[ops] val NearDupPairsSql =
    """pr AS (SELECT d1, d2 FROM p JOIN n na ON p.d1 = na.doc_id
      |       JOIN n nb ON p.d2 = nb.doc_id
      |       WHERE inter / (na.ns + nb.ns - inter) >= 0.5)""".stripMargin

  /** Near-dup pairs (d1 < d2, exact Jaccard ≥ 0.5) with the raw jac column
    * — shared by j2 (pair listing) and j21 (cluster assignment). The
    * returned frame's plan reads the persisted shingle relation; callers
    * that materialize the pairs (j21) release it via the second element.
    * j2 returns the frame directly, so its cache is dropped by the
    * harness-level clearCache between queries. */
  private[graft] def nearDupPairs(
      s: SparkSession, d: String, dfCap: Long = ShingleDfCap): DataFrame =
    nearDupPairsReleasable(s, d, dfCap)._1

  /** Unfiltered pair statistics (d1 < d2, ≥1 shared shingle): inter, n1,
    * n2, jac — the frame BOTH similarity metrics cut from: Jaccard
    * (nearDupPairs → j2/j21) and containment (j127). Shares the hot-
    * shingle df-cap and the persisted shingle relation. */
  private[graft] def pairStatsReleasable(
      s: SparkSession, d: String,
      dfCap: Long = ShingleDfCap): (DataFrame, () => Unit) = {
    import s.implicits._
    // the shingle relation feeds the self-join twice plus the size agg —
    // persist so the corpus is exploded once, not four times
    val sh = shingles(s, d).persist()
    (pairStatsFrom(sh, dfCap), () => { sh.unpersist(); () })
  }

  /** [[pairStatsReleasable]]'s body over a CALLER-provided (doc_id, sh)
    * hashed-shingle relation (already persisted by the caller). Lets a
    * query that needs BOTH the minhash signatures and the exact-Jaccard
    * ground truth (j136) explode the corpus once instead of once per
    * pipeline — the caller owns the persist lifecycle. */
  private[graft] def pairStatsFrom(
      sh: DataFrame, dfCap: Long = ShingleDfCap): DataFrame = {
    val s = sh.sparkSession
    import s.implicits._
    // hot-shingle removal as a broadcast ANTI-join against the (tiny) list
    // of over-cap shingles: the df agg is map-side combined (no skewed
    // shuffle — a 10⁹-row shingle contributes one partial per partition),
    // and Catalyst's exchange reuse evaluates the broadcast once even
    // though `shf` feeds three plan branches below
    val hot = sh.groupBy($"sh").agg(count(lit(1)).as("df"))
      .filter($"df" > dfCap).select($"sh")
    val shf = sh.join(broadcast(hot), Seq("sh"), "left_anti")
    val ns = shf.groupBy($"doc_id").agg(count(lit(1)).as("ns"))
    // SHUFFLE_HASH: the equi-key (sh) is hash-distributed 64-bit values, so
    // per-partition hash tables beat sort-merge's two full sorts of the
    // shingle relation (measured 2.4 s -> 1.1 s warm at sf0.1 for the
    // pair stage). Build-side memory is bounded by the post-shuffle
    // partition size (AQE advisory sizing), not by the corpus.
    val pairs = shf.as("a").hint("SHUFFLE_HASH")
      .join(shf.as("b").hint("SHUFFLE_HASH"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(ns.select($"doc_id".as("d1"), $"ns".as("n1")), "d1")
      .join(ns.select($"doc_id".as("d2"), $"ns".as("n2")), "d2")
      .withColumn("jac", $"inter" / ($"n1" + $"n2" - $"inter"))
  }

  private[graft] def nearDupPairsReleasable(
      s: SparkSession, d: String,
      dfCap: Long = ShingleDfCap): (DataFrame, () => Unit) = {
    val (stats, release) = pairStatsReleasable(s, d, dfCap)
    (stats.filter(col("jac") >= 0.5), release)
  }

  /** j2_dedup_near_jaccard — near-dup pairs with exact shingle-set Jaccard
    * ≥ 0.5, candidates via the shingle inverted index (no cross join). */
  def j2(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    nearDupPairs(s, d)
      .select($"d1", $"d2", Parity.round6($"jac").as("jaccard"))
      .orderBy($"d1", $"d2")
  }

  /** j127_containment_dedup — near-dup pairs by CONTAINMENT
    * C(A,B) = |A∩B| / min(|A|,|B|) ≥ 0.8 — the asymmetric metric that
    * catches doc-inside-doc duplication (quote-and-extend, boilerplate
    * wrapping) which symmetric Jaccard under-scores when sizes differ.
    * Reports containment beside Jaccard with a `jaccard_visible` flag:
    * pairs where the flag is false are exactly the dedup mass a
    * Jaccard-only pipeline (j2/j12) silently keeps. (On the fixture's
    * similarly-sized word-salad docs every ≥0.8-containment pair is also
    * Jaccard-visible — the flag column proves it rather than assuming.)
    *
    * Scale shape: identical to j2 — the same df-capped shingle inverted
    * index generates candidates (never doc×doc); only the final cut
    * differs, on the shared [[pairStatsReleasable]] frame. */
  def j127(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    pairStatsReleasable(s, d)._1
      .withColumn("containment",
        $"inter".cast("double") / least($"n1", $"n2").cast("double"))
      .filter($"containment" >= 0.8d)
      .select($"d1", $"d2", Parity.round6($"containment").as("containment"),
        Parity.round6($"jac").as("jaccard"), ($"jac" >= 0.5d).as("jaccard_visible"))
      .orderBy($"d1", $"d2")
  }

  /** j130_shingle_novelty — corpus novelty curve: per document (in doc_id
    * ingestion order), the fraction of its distinct 3-gram shingles seen
    * in NO earlier document. A pipeline watches this to decide when a
    * source is mined out (novelty → 0 means new docs only repeat the
    * corpus). Cumulative-distinct made scale-safe by j93's first-seen
    * rewrite: "shingle unseen before doc i" ≡ "min(doc_id) over the
    * shingle's postings = i", so the whole curve is one shingle-keyed
    * MIN aggregate (map-side combined) re-aggregated by first_doc — no
    * growing seen-set state, no ordered scan.
    *
    * Scale shape: two map-combined aggregations over the shingle stream
    * plus a doc-keyed join of two doc-sized frames. At 100 TB the
    * shingle min-agg is the same shape as j2's df agg. */
  def j130(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // persisted because both aggs below read it; released by the
    // harness-level clearCache between queries (j2's pattern — the frame
    // is returned directly, so its plan must keep reading the cache)
    val sh = shingles(s, d).persist()
    val ns = sh.groupBy($"doc_id").agg(count(lit(1)).as("ns"))
    val novel = sh.groupBy($"sh").agg(min($"doc_id").as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_novel"))
    ns.join(novel, Seq("doc_id"), "left_outer")
      .select($"doc_id", $"ns", coalesce($"n_novel", lit(0L)).as("n_novel"),
        Parity.round6(coalesce($"n_novel", lit(0L)).cast("double") /
          $"ns".cast("double")).as("novelty"))
      .orderBy($"doc_id")
  }

  /** j55_sorted_neighbor_dedup — sorted-neighborhood near-dup pairs: block
    * docs by a 12-char sort-key prefix, order each block lexicographically,
    * and Jaccard-verify each doc against its w=2 predecessors only — the
    * fourth blocking strategy beside hash buckets (j12), label cells (j14),
    * and clusters (j53), and the one that needs NO hash family or model:
    * prefix-stable edits (truncation, suffix boilerplate, tail corruption)
    * land adjacent in sort order and are caught by a bounded window.
    *
    * Scale shape: the only exchange is the hash partition on the block
    * prefix; within a block the window is ordered but blocks are tiny
    * (prefix entropy bounds them — max 13 docs/block at sf0.1, 2964
    * blocks), so no global sort and no unpartitioned window exists in the
    * plan (PlanSpec pins the window's partition key). Each doc compares
    * against ≤ w neighbors ⇒ candidate count is ≤ w·N at any corpus size —
    * linear by construction, vs the pair-count-driven cost of the index
    * joins. At 100 TB the toks payload rides as a minhash signature
    * (j12's key discipline) instead of the raw token array; the window
    * algebra is unchanged. Classic SNM caveat applies and is documented:
    * edits INSIDE the first 12 chars break adjacency — complementary to
    * j12/j31, which are prefix-position-blind but hash-collision-bound. */
  def j55(s: SparkSession, d: String): DataFrame =
    sortedNeighborPairs(Tables.documents(s, d))

  /** Transformer form of j55 (the domainMix/shuffleShard discipline):
    * composes over any frame with (doc_id, text); output is a pure
    * function of the data — input partitioning cannot move a pair
    * (TextOpsSpec pins the invariance). */
  def sortedNeighborPairs(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val win = Window.partitionBy($"block").orderBy($"text", $"doc_id")
    // both lags share one windowspec (partition+order), so they evaluate
    // in a SINGLE WindowExec pass; the two candidates then explode from
    // the same frame — one scan, one exchange, one window in the plan
    // (a Union of per-lag branches would re-plan the whole subtree twice)
    val cand = docs
      .select($"doc_id", $"text",
        substring($"text", 1, 12).as("block"),
        array_distinct(split($"text", " ")).as("toks"))
      .select($"doc_id", $"toks",
        lag($"doc_id", 1).over(win).as("p1_id"),
        lag($"toks", 1).over(win).as("p1_toks"),
        lag($"doc_id", 2).over(win).as("p2_id"),
        lag($"toks", 2).over(win).as("p2_toks"))
      .select($"doc_id", $"toks",
        explode(array(
          struct($"p1_id".as("id"), $"p1_toks".as("tk")),
          struct($"p2_id".as("id"), $"p2_toks".as("tk")))).as("c"))
      .filter($"c.id".isNotNull)
    val inter = size(array_intersect($"toks", $"c.tk"))
    cand
      .select(least($"doc_id", $"c.id").as("d1"),
        greatest($"doc_id", $"c.id").as("d2"),
        (inter.cast("double") /
          (size($"toks") + size($"c.tk") - inter)).as("jac"))
      .filter($"jac" >= 0.5)
      .select($"d1", $"d2", Parity.round6($"jac").as("jaccard"))
      .orderBy($"d1", $"d2")
  }

  /** j21_dedup_clusters — near-dup pairs → connected components → one
    * cluster id per document (the min doc_id in its component): the step
    * that turns pairwise similarity into an actionable keep/drop decision
    * (keep cluster_id == doc_id, drop the rest).
    *
    * Distributed min-label propagation WITH pointer jumping: each round
    * every node takes the min of (its label, its neighbours' labels, its
    * label's label). The neighbour step alone needs O(diameter) rounds —
    * prefix-duplicate chains make that non-trivial — but the label-of-label
    * shortcut doubles the reach of every label per round, so the fixpoint
    * lands in O(log diameter) rounds (the pointer-jumping half of
    * large-star/small-star — Kiveris et al., "Connected Components in
    * MapReduce and Beyond"). The driver-side loop aggregates ONE scalar per
    * round (the change count); per-round work is 2 joins + a groupBy, fully
    * distributed, so the same loop runs unchanged on a 1000-executor
    * cluster.
    *
    * Two lineage disciplines keep the constant factor down (measured: these
    * took sf0.1 from 60.8 s to low single digits): the pair list is
    * localCheckpoint-ed so no round's plan re-nests the whole shingle
    * pipeline (`edges` stays a lazy projection over it), and each round's
    * `labels` is localCheckpoint-ed so round k plans O(1) work, not O(k).
    * persist() alone does NOT do this — it caches data but the optimizer
    * still walks (and grows) the full plan tree every round. Superseded
    * checkpoint blocks are unpersisted explicitly each round (RDD-level
    * caches are invisible to spark.catalog.clearCache), and the CONVERGED
    * labels are re-homed to a reliable (file-based) checkpoint before
    * return, so a finished call pins zero block-manager storage — pinned
    * in TextOpsSpec ("j21 leaves no cached relations behind").
    *
    * Cluster caveat: localCheckpoint trades fault-tolerance for speed — its
    * blocks live in executor storage, so an executor lost mid-loop (e.g.
    * dynamic allocation) makes the truncated lineage unrecoverable. On a
    * long-running 1000-executor job, swap the per-round localCheckpoints
    * for reliable `checkpoint()` too (the exit already is one); the loop
    * structure is unchanged. */
  def j21(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // eager checkpoint: materializes the pair list once and truncates
    // lineage, so downstream edge projections read the cached RDD instead
    // of re-running the shingle pipeline; the shingle cache backing the
    // pair computation is released right after
    val (rawPairs, releaseShingles) = nearDupPairsReleasable(s, d)
    val pairs = rawPairs.select($"d1", $"d2").localCheckpoint()
    releaseShingles()
    val comp = connectedComponents(pairs)
    releaseCheckpoint(pairs) // the final labels plan no longer reads pairs
    comp.select($"node".as("doc_id"), $"label".as("cluster_id"))
      .orderBy($"doc_id")
  }

  /** j138_dedup_keep_best — the survivor-selection POLICY on top of j21's
    * clusters: within each near-dup cluster, keep the highest-quality
    * member (the shared [[CurationOps.qualityLogit]] — the same Column
    * every quality surface gates on), tiebreak doc_id. j1/j21 keep
    * min-doc_id (ingestion order); a real pipeline keeps the best copy —
    * this is that step, reporting per cluster the kept doc, its quality,
    * and how many copies were dropped. Ranking is on the ROUNDED logit
    * (qualityLogit rounds to 6dp) so both engines pick identical
    * survivors.
    *
    * Scale shape: j21's machinery verbatim (invoked, not restated) plus
    * one doc-keyed join of the cluster table against the row-local logit
    * and a per-cluster window — clusters are tiny (near-dup groups), so
    * the window partitions are bounded like j1's hash groups. */
  def j138(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val clusters = j21(s, d) // (doc_id, cluster_id)
    val q = Tables.documents(s, d)
      .select($"doc_id", CurationOps.qualityLogit($"text").as("q"))
    clusters.join(q, "doc_id")
      .withColumn("rk", row_number().over(Window.partitionBy($"cluster_id")
        .orderBy($"q".desc, $"doc_id".asc)))
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(when($"rk" === 1, $"doc_id")).as("kept_doc_id"),
        max(when($"rk" === 1, $"q")).as("kept_quality"))
      .select($"cluster_id", $"n_members", $"kept_doc_id", $"kept_quality",
        ($"n_members" - 1L).as("n_dropped"))
      .orderBy($"cluster_id")
  }

  /** j182_preference_pairs — DPO/RLHF preference-pair preparation from
    * the near-dup structure: within each j21 cluster (documents saying
    * the same thing), pair the HIGHEST-quality member (chosen) with the
    * LOWEST (rejected) by the shared qualityLogit, with the score gap —
    * the "same content, different quality" pairs preference-tuning data
    * engineers mine from dedup clusters precisely because content is
    * controlled. Pair selection tiebreaks are pinned on both ends
    * (chosen: q desc, id asc; rejected: q asc, id desc — so an all-tied
    * cluster still yields a deterministic, distinct pair). The gap
    * column is the trainer's threshold knob, emitted rather than
    * pre-filtered.
    *
    * Scale shape: j21's fixpoint is the cost (invoked, not restated —
    * the j135/j138 audit discipline); the pairing adds one doc-keyed
    * join and two cluster-partitioned windows over cluster-sized
    * partitions. */
  def j182(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val clusters = j21(s, d)
    val q = Tables.documents(s, d)
      .select($"doc_id", CurationOps.qualityLogit($"text").as("q"))
    val wBest = Window.partitionBy($"cluster_id").orderBy($"q".desc, $"doc_id".asc)
    val wWorst = Window.partitionBy($"cluster_id").orderBy($"q".asc, $"doc_id".desc)
    clusters.join(q, "doc_id")
      .withColumn("rk1", row_number().over(wBest))
      .withColumn("rk2", row_number().over(wWorst))
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(when($"rk1" === 1, $"doc_id")).as("chosen_doc"),
        max(when($"rk1" === 1, $"q")).as("cq"),
        max(when($"rk2" === 1, $"doc_id")).as("rejected_doc"),
        max(when($"rk2" === 1, $"q")).as("rq"))
      .select($"cluster_id", $"n_members", $"chosen_doc", $"rejected_doc",
        round($"cq", 6).as("chosen_q"), round($"rq", 6).as("rejected_q"),
        round($"cq" - $"rq", 6).as("gap"))
      .orderBy($"cluster_id")
  }

  /** The oracles' near-dup pairs (`pr`) and their transitive closure
    * (`e`, `reach`) — the recursive stand-in for [[connectedComponents]];
    * needs WITH RECURSIVE. */
  private[ops] val ReachSql =
    s"""$NearDupPairsSql,
       |e AS (SELECT d1 AS a, d2 AS b FROM pr UNION SELECT d2, d1 FROM pr),
       |reach(a, b) AS (
       |  SELECT a, b FROM e
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)""".stripMargin

  /** The oracles' j21 clusters as CTEs through `cl` (doc_id, cluster_id). */
  private[ops] val ClusterSql =
    s"""$PairStatsSql,
       |$ReachSql,
       |cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
       |       FROM reach GROUP BY a)""".stripMargin

  /** Connected components over an undirected pair list `(d1, d2)` of Long
    * node ids (the reusable core of j21): returns one `(node, label)` row
    * per node appearing in any pair, where label = the component's minimum
    * node id. Expects `pairs` to already be checkpointed/cached — the edge
    * relation and every round's plan re-reads it. Property-tested against
    * an in-memory union-find on random graphs including long chains (the
    * O(log diameter) pointer-jumping case the fixture corpus never
    * exercises). */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val Seq(c1, c2) = pairs.columns.toSeq.map(col)
    // edges / init labels stay LAZY plans over the checkpointed pair RDD —
    // they are two cheap projections; materializing them as their own
    // checkpoints costs a scheduler round-trip each and buys nothing
    val edges = pairs.select(c1.as("src"), c2.as("dst"))
      .union(pairs.select(c2.as("src"), c1.as("dst")))
    // fold the first neighbour-min step into the init: label(v) =
    // min(v, min N(v)) — cliques (the common near-dup shape) converge here.
    // (The loop always runs at least once, so init needs no `old` column.)
    var labels = edges.groupBy($"src")
      .agg(min($"dst").as("m"))
      .select($"src".as("node"), least($"src", $"m").as("label"))
      .localCheckpoint(false)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 25) {
      // SHUFFLE_HASH on every per-round join: both sides are checkpointed
      // (stat-less) frames, so the planner would otherwise sort-merge —
      // two sorts per join per round. Hash build is bounded by the
      // post-shuffle partition, the same envelope as the pair join's.
      val prop = edges
        .join(labels.select($"node".as("dst"), $"label".as("nbr_label"))
          .hint("SHUFFLE_HASH"), "dst")
        .groupBy($"src").agg(min($"nbr_label").as("nbr"))
      val cur = labels.select($"node", $"label")
      // pointer jump: my label's current label (labels are node ids, so the
      // lookup self-joins the label table; left + coalesce for safety)
      val jump = cur.select($"node".as("jnode"), $"label".as("jlabel"))
      val next = cur
        .join(prop.select($"src".as("node"), $"nbr").hint("SHUFFLE_HASH"),
          Seq("node"), "left")
        .join(jump.hint("SHUFFLE_HASH"), cur("label") === jump("jnode"), "left")
        .select($"node",
          least($"label", coalesce($"nbr", $"label"),
            coalesce($"jlabel", $"label")).as("label"),
          $"label".as("old"))
        // lazy checkpoint: first action below both materializes the round
        // and truncates its lineage — one job per round, no extra action
        .localCheckpoint(false)
      changed = next.filter($"label" < $"old").count()
      releaseCheckpoint(labels) // superseded round — free its blocks now
      labels = next
      rounds += 1
    }
    // 25 pointer-jumping rounds cover components of diameter ~2^25; if we
    // ever exit non-converged the result would silently diverge from the
    // transitive-closure oracle, so fail loudly instead
    if (changed > 0)
      throw new IllegalStateException(
        s"label propagation did not converge after $rounds rounds ($changed labels still changing)")
    // Exit discipline (ADVICE r3 #1): reliable-checkpoint the converged
    // labels (files, not block-manager memory) and release the last
    // round's localCheckpoint blocks. The returned frame then pins NOTHING
    // in executor storage — a j21/nearDupDropSet caller that drops the
    // frame leaks nothing, and spark.catalog.clearCache is not needed.
    // The checkpoint files are deleted at JVM exit (TempCleanup — the
    // ContextCleaner only removes reliable checkpoints when
    // cleanCheckpoints was set before the context started, which a
    // library cannot assume); the labels frame is component-sized (one
    // row per near-dup doc), so the disk write is trivial next to the
    // fixpoint.
    val sc = s.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(graft.TempCleanup.register(
        java.nio.file.Files.createTempDirectory("graft-ckpt").toString))
    val out = labels.select($"node", $"label").checkpoint() // eager + reliable
    releaseCheckpoint(labels)
    out
  }

  /** The near-dup documents that are NOT their cluster's representative —
    * the drop set of the j2→j21 pass, with the same checkpoint lifecycle
    * discipline as j21 (pair list checkpointed for the fixpoint, released
    * once the final labels no longer read it). Reused by
    * CurationOps.curate. */
  private[graft] def nearDupDropSet(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (rawPairs, releaseShingles) = nearDupPairsReleasable(s, d)
    val pairs = rawPairs.select($"d1", $"d2").localCheckpoint()
    releaseShingles()
    val comp = connectedComponents(pairs)
    releaseCheckpoint(pairs)
    comp.filter($"node" =!= $"label").select($"node".as("doc_id"))
  }

  /** Unpersist the RDD behind a localCheckpoint-ed frame. Dataset.unpersist
    * only clears CacheManager entries; checkpoint blocks are RDD-level and
    * would otherwise stay pinned until a driver GC lets the ContextCleaner
    * find them. */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  /** Session-validated train-once cache lookup (the Tables.read
    * discipline applied to the pq/pca/sem model caches, r9 advice): a
    * localCheckpoint'd frame is bound to the session that built it, so
    * the key carries the session identity AND the hit is re-validated
    * with `eq` via `live` (identityHashCode can be reused after a GC'd
    * session — a stale hit would hand a dead session's frame to a new
    * one and fail confusingly; worst case here is a recompute). */
  private[ops] def sessionCached[V](
      cache: java.util.concurrent.ConcurrentHashMap[(Int, String), V],
      s: org.apache.spark.sql.SparkSession, d: String)(
      live: V => DataFrame)(build: => V): V = {
    val key = (System.identityHashCode(s), d)
    // bound stale-session pins by evicting ONLY entries whose session
    // fails the `eq` liveness check — never the live session's own
    // models (r10 advice: clear() threw those away too)
    if (cache.size > 64)
      cache.entrySet().removeIf(e => !(live(e.getValue).sparkSession eq s))
    // atomic per-key get-validate-build (r10 advice: the non-atomic
    // get/put let concurrent callers both build); the remapping function
    // re-validates a hit with `eq` because identityHashCode can be
    // reused after the keyed session is GC'd
    cache.compute(key, (_, v) =>
      if (v != null && (live(v).sparkSession eq s)) v else build)
  }

  /** j6_wordcount — token frequency over the corpus. */
  def j6(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(explode(split($"text", " ")).as("token"))
      .groupBy($"token")
      .agg(count(lit(1)).as("n"))
      .orderBy($"token")
  }

  /** j7_tfidf — tf·ln(N/df) per (doc, term); top-3 terms per doc. */
  def j7(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val toks = docs.select($"doc_id", explode(split($"text", " ")).as("token"))
    // df falls out of tf (one tf row per distinct (doc, token)): persist the
    // small aggregate, not the exploded tokens, and skip the second
    // explode+distinct shuffle entirely
    val tf = toks.groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf")).persist()
    val df = tf.groupBy($"token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"token".asc)
    tf.join(df, "token")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round($"tf" * log($"n_docs" / $"df"), 6))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= 3)
      .select($"doc_id", $"token", $"tfidf", $"rn")
      .orderBy($"doc_id", $"rn")
  }

  /** j8_pivot_stats — docs-per-source pivoted by language (explicit value
    * list for deterministic columns). */
  def j8(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val langs = Seq("de", "en", "es", "fr", "zh")
    val p = Tables.documents(s, d)
      .groupBy($"source")
      .pivot("lang", langs)
      .count()
    langs.foldLeft(p)((df, l) => df.withColumn(l, coalesce(col(l), lit(0L))))
      .orderBy($"source")
  }

  /** j34_bm25_search — relevance-ranked retrieval, the ES query-side
    * capability (the reference's search engine half): score every document
    * against a multi-token query with BM25 (Robertson/Okapi; the +1 idf
    * variant Lucene uses so no term scores negative), return the top 10
    * with deterministic (rounded-score, doc_id) ordering.
    *
    * Scale shape: the explode is filtered to the query's terms BEFORE any
    * shuffle — the tf aggregation moves O(docs containing a query term),
    * never the corpus token stream. df/idf and the corpus stats (N, avgdl)
    * ride one broadcast each; the per-(doc,term) score is pure row
    * arithmetic; the final top-k is ORDER BY+LIMIT = TakeOrderedAndProject
    * (per-partition heaps, no global sort). An inverted-index engine keeps
    * tf/df precomputed; this is the same dataflow with the index build
    * inlined.
    *
    * Determinism: per-doc term scores are summed via sorted-fold (j24/j33
    * discipline — groupBy sum over doubles is order-nondeterministic);
    * BM25 constants are spelled as the same literals in both engines
    * (2.2 = k1+1, 0.25 = 1-b) so the arithmetic is bit-identical. */
  def j34(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val terms = Seq("spark", "vector", "dup") // mixed df: two common, one rare
    bm25Frames(Tables.documents(s, d), terms).scored
      .groupBy($"doc_id")
      .agg(Parity.sortedFoldSum($"tscore").as("sc"), count(lit(1)).as("n_terms"))
      .select($"doc_id", round($"sc", 6).as("bm25"), $"n_terms")
      .orderBy($"bm25".desc, $"doc_id".asc)
      .limit(10)
  }

  /** The BM25 scoring DATAFLOW, single-sourced like the formula: doc
    * lengths (plus any carried metadata columns), the term-filtered tf
    * aggregate, per-term df, and the 1-row corpus stats — shared by every
    * term-scored operator (j34 / j46 rescore / j51 msm / j61 sampler /
    * j62 collapse / j70 boosting), so the tokenization and the tf/df
    * definitions cannot drift between them. The oracle SQL strings
    * necessarily restate the same CTEs. */
  private[graft] case class Bm25Frames(tf: DataFrame, dl: DataFrame,
      dfreq: DataFrame, stats: DataFrame) {
    /** The per-(doc, term) scored join — the common consumption shape:
      * tf ⋈ dl ⋈ broadcast(df) × broadcast(stats) with `tscore`. */
    def scored: DataFrame = tf.join(dl, "doc_id")
      .join(broadcast(dfreq), "token")
      .crossJoin(broadcast(stats))
      .withColumn("tscore",
        bm25Tscore(col("tf"), col("df"), col("dl"), col("n_docs"), col("avgdl")))
  }

  private[graft] def bm25Frames(docs: DataFrame, terms: Seq[String],
      dlExtra: Seq[String] = Nil): Bm25Frames = {
    val dl = docs.select(col("doc_id") +: dlExtra.map(col) :+
      size(split(col("text"), " ")).cast("double").as("dl"): _*)
    val tf = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    Bm25Frames(tf, dl, dfreq, stats)
  }

  /** The BM25 per-(doc, term) score — Lucene's +1 idf variant with
    * k1=1.2, b=0.75 spelled as the merged literals (2.2 = k1+1,
    * 0.25 = 1−b) so Spark and DuckDB compute bit-identical doubles. ONE
    * definition shared by j34 and the rescore phase (SearchOps.j46);
    * [[Bm25TermSql]] is its one DuckDB form. */
  private[graft] def bm25Tscore(tf: Column, df: Column, dl: Column,
      nDocs: Column, avgdl: Column): Column =
    log(lit(1.0) + (nDocs - df + 0.5) / (df + 0.5)) *
      (tf * 2.2) / (tf + lit(1.2) * (lit(0.25) + lit(0.75) * dl / avgdl))

  /** The oracles' form of [[bm25Tscore]] over CTEs `tf`, `dl`, `df` and
    * `st`. */
  private[ops] val Bm25TermSql =
    """ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5)) *
      |           (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))""".stripMargin

  /** The oracles' BM25 corpus statistics over `tf` (doc_id, token, tf) and
    * `dl` (doc_id, dl): `df` and `st` (n_docs, avgdl). */
  private[ops] val Bm25StatsSql =
    """df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl)""".stripMargin

  /** The oracles' form of [[bm25Frames]] for the ('spark', 'vector',
    * 'dup') query: `dl` (doc length), `tf`, [[Bm25StatsSql]] and `sc`
    * (doc_id, tscore). */
  private[ops] val Bm25Sql =
    s"""dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
       |            FROM 'documents.parquet'),
       |tf AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf FROM (
       |         SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |         FROM 'documents.parquet')
       |       WHERE token IN ('spark', 'vector', 'dup') GROUP BY 1, 2),
       |$Bm25StatsSql,
       |sc AS (SELECT tf.doc_id,
       |         $Bm25TermSql AS tscore
       |       FROM tf JOIN dl USING (doc_id) JOIN df USING (token) CROSS JOIN st)""".stripMargin

  /** The oracles' BM25 inputs over a `toks` CTE, for the tokens where
    * `token <pred>`: `toks`, `dl`, `tf` and [[Bm25StatsSql]]. */
  private[ops] def bm25InputsSql(pred: String): String =
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |              FROM 'documents.parquet'),
       |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
       |       FROM 'documents.parquet'),
       |tf AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf FROM toks
       |       WHERE token $pred GROUP BY 1, 2),
       |$Bm25StatsSql""".stripMargin

  /** [[Bm25Sql]] over [[bm25InputsSql]]. */
  private[ops] def bm25TokensSql(pred: String): String =
    s"""${bm25InputsSql(pred)},
       |sc AS (SELECT tf.doc_id,
       |         $Bm25TermSql AS tscore
       |       FROM tf JOIN dl USING (doc_id)
       |            JOIN df USING (token) CROSS JOIN st)""".stripMargin

  /** j35_fuzzy_search — the ES `fuzziness` capability: expand each query
    * term to the vocabulary tokens within edit distance 1 (classic
    * Levenshtein, Spark's built-in = DuckDB's), reporting per-match df and
    * occurrence counts — the term-dictionary rewrite an ES fuzzy query
    * performs before scoring.
    *
    * Scale shape: edit distance runs over the VOCABULARY (the distinct-
    * token aggregate, millions of rows at 100 TB), never the corpus token
    * stream (trillions); the 3-row term list rides a broadcast, so the
    * expansion is one map-combined aggregation plus row-local arithmetic.
    * (ES does the same against its term dictionary; a production variant
    * would prune candidates with a length/prefix filter before the
    * distance — unnecessary at fixture vocabulary sizes.) */
  def j35(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val terms = Seq("sprk", "joid", "vectr").toDF("term") // distance-1 typos
    Tables.documents(s, d)
      .select($"doc_id", explode(split($"text", " ")).as("token"))
      .groupBy($"token")
      .agg(countDistinct($"doc_id").as("df"), count(lit(1)).as("n_occ"))
      .crossJoin(broadcast(terms))
      .withColumn("dist", levenshtein($"token", $"term").cast("long"))
      .filter($"dist" <= 1)
      .select($"term", $"token", $"dist", $"df", $"n_occ")
      .orderBy($"term", $"token")
  }

  /** j36_phrase_search — ES `match_phrase`: documents containing the exact
    * adjacent token sequence, with per-doc occurrence counts. Positional
    * adjacency is evaluated inside the row (a 'hash' position whose next
    * token is 'join', over [[spanMatches]]), which is what a positional
    * inverted index gives a search engine without the index build. The
    * only exchange is the presentation ORDER BY. */
  def j36(s: SparkSession, d: String): DataFrame =
    spanMatches(s, d, Nil,
      Seq("n_matches" -> """size(filter(span_pos(toks, 'hash'),
          |  i -> i < size(toks) AND element_at(toks, i + 1) = 'join'))""".stripMargin,
        "n_tokens" -> "size(toks)"),
      keep = "n_matches >= 1")

  /** The oracles' JLH significance (j37/j108): the top 15 tokens of a
    * CTE `st` (token, bg, fg) by JLH score. */
  private[ops] val JlhTopSql =
    """tot AS (SELECT sum(bg) AS bg_tot, sum(fg) AS fg_tot FROM st)
      |SELECT token, fg, bg,
      |  floor((fg / fg_tot - bg / bg_tot) * ((fg / fg_tot) / (bg / bg_tot)) * 1000000 + 0.5) / 1000000.0 AS jlh
      |FROM st CROSS JOIN tot
      |WHERE fg > 0 AND fg / fg_tot > bg / bg_tot
      |ORDER BY floor((fg / fg_tot - bg / bg_tot) * ((fg / fg_tot) / (bg / bg_tot)) * 1000000 + 0.5) / 1000000.0 DESC,
      |         token ASC
      |LIMIT 15""".stripMargin

  /** j37_significant_terms — ES `significant_terms`: tokens
    * overrepresented in a foreground slice (lang = 'zh') relative to the
    * whole corpus, JLH-scored ((fgPct − bgPct) · fgPct/bgPct) — "what
    * makes this slice different", equally a search-facet and a
    * training-data diagnostics op.
    *
    * Scale shape: ONE map-combined aggregation computes background and
    * foreground counts together (conditional count inside the same
    * groupBy), totals ride a one-row broadcast, the score is row-local
    * arithmetic on exact integer counts, and the top-15 is
    * TakeOrderedAndProject. */
  def j37(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select($"lang", explode(split($"text", " ")).as("token"))
    val stats = toks.groupBy($"token").agg(
      count(lit(1)).as("bg"),
      count(when($"lang" === "zh", 1)).as("fg"))
    val tot = stats.agg(sum($"bg").as("bg_tot"), sum($"fg").as("fg_tot"))
    stats.filter($"fg" > 0)
      .crossJoin(broadcast(tot))
      .withColumn("fg_pct", $"fg" / $"fg_tot")
      .withColumn("bg_pct", $"bg" / $"bg_tot")
      .filter($"fg_pct" > $"bg_pct")
      .withColumn("jlh", Parity.round6(($"fg_pct" - $"bg_pct") * ($"fg_pct" / $"bg_pct")))
      .select($"token", $"fg", $"bg", $"jlh")
      .orderBy($"jlh".desc, $"token".asc)
      .limit(15)
  }

  /** k1_scala_udf — registered Scala UDF in a query (lower + strip
    * non-alphanumerics), oracled by the equivalent SQL expression. */
  def k1(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tokenClean = udf((x: String) =>
      if (x == null) null else x.toLowerCase.replaceAll("[^a-z0-9 ]", ""))
    s.udf.register("token_clean", tokenClean)
    Tables.customer(s, d)
      .select($"c_custkey", tokenClean($"c_name").as("clean_name"))
      .orderBy($"c_custkey")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "j1_dedup_exact" -> j1, "j2_dedup_near_jaccard" -> j2,
    "j127_containment_dedup" -> j127, "j130_shingle_novelty" -> j130,
    "j21_dedup_clusters" -> j21, "j138_dedup_keep_best" -> j138,
    "j182_preference_pairs" -> j182,
    "j55_sorted_neighbor_dedup" -> j55,
    "j6_wordcount" -> j6, "j7_tfidf" -> j7, "j8_pivot_stats" -> j8,
    "j34_bm25_search" -> j34, "j35_fuzzy_search" -> j35,
    "j36_phrase_search" -> j36, "j37_significant_terms" -> j37,
    "k1_scala_udf" -> k1)

  val oracle: Map[String, String] = Map(
    "j1_dedup_exact" ->
      """SELECT doc_id, md5(text) AS content_hash, lang
        |FROM 'documents.parquet'
        |QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) = 1
        |ORDER BY doc_id""".stripMargin,
    "j2_dedup_near_jaccard" ->
      s"""WITH $PairStatsSql
         |$NearDupJaccardSql
         |ORDER BY d1, d2""".stripMargin,
    "j127_containment_dedup" ->
      s"""WITH $PairStatsSql
         |SELECT d1, d2,
         |       floor(CAST(inter AS DOUBLE) / CAST(least(na.ns, nb.ns) AS DOUBLE)
         |             * 1000000 + 0.5) / 1000000.0 AS containment,
         |       floor(inter / (na.ns + nb.ns - inter) * 1000000 + 0.5) / 1000000.0 AS jaccard,
         |       inter / (na.ns + nb.ns - inter) >= 0.5 AS jaccard_visible
         |FROM p JOIN n na ON p.d1 = na.doc_id JOIN n nb ON p.d2 = nb.doc_id
         |WHERE CAST(inter AS DOUBLE) / CAST(least(na.ns, nb.ns) AS DOUBLE) >= 0.8
         |ORDER BY d1, d2""".stripMargin,
    "j130_shingle_novelty" ->
      s"""WITH s0 AS (
         |  $ShingleSql),
         |n AS (SELECT doc_id, count(*) AS ns FROM s0 GROUP BY 1),
         |fs AS (SELECT sh, min(doc_id) AS doc_id FROM s0 GROUP BY 1),
         |nv AS (SELECT doc_id, count(*) AS n_novel FROM fs GROUP BY 1)
         |SELECT n.doc_id, n.ns,
         |       CAST(coalesce(nv.n_novel, 0) AS BIGINT) AS n_novel,
         |       floor(CAST(coalesce(nv.n_novel, 0) AS DOUBLE)
         |             / CAST(n.ns AS DOUBLE) * 1000000 + 0.5) / 1000000.0 AS novelty
         |FROM n LEFT JOIN nv USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "j55_sorted_neighbor_dedup" ->
      """WITH k AS (
        |  SELECT doc_id, text, substr(text, 1, 12) AS block,
        |    list_distinct(string_split(text, ' ')) AS toks
        |  FROM 'documents.parquet'),
        |w AS (
        |  SELECT doc_id, toks,
        |    lag(doc_id, 1) OVER win AS p1_id, lag(toks, 1) OVER win AS p1_toks,
        |    lag(doc_id, 2) OVER win AS p2_id, lag(toks, 2) OVER win AS p2_toks
        |  FROM k WINDOW win AS (PARTITION BY block ORDER BY text, doc_id)),
        |pairs AS (
        |  SELECT least(doc_id, p1_id) AS d1, greatest(doc_id, p1_id) AS d2,
        |    len(list_intersect(toks, p1_toks))::DOUBLE /
        |    (len(toks) + len(p1_toks) - len(list_intersect(toks, p1_toks))) AS jac
        |  FROM w WHERE p1_id IS NOT NULL
        |  UNION ALL
        |  SELECT least(doc_id, p2_id), greatest(doc_id, p2_id),
        |    len(list_intersect(toks, p2_toks))::DOUBLE /
        |    (len(toks) + len(p2_toks) - len(list_intersect(toks, p2_toks)))
        |  FROM w WHERE p2_id IS NOT NULL)
        |SELECT d1, d2, floor(jac * 1000000 + 0.5) / 1000000.0 AS jaccard FROM pairs
        |WHERE jac >= 0.5 ORDER BY d1, d2""".stripMargin,
    "j21_dedup_clusters" ->
      s"""WITH RECURSIVE $PairStatsSql,
         |$ReachSql
         |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,
    "j138_dedup_keep_best" ->
      s"""WITH RECURSIVE $ClusterSql,
         |${CurationOps.QualityLogitSql},
         |rk AS (SELECT cl.cluster_id, cl.doc_id, ql.q,
         |         row_number() OVER (PARTITION BY cl.cluster_id
         |           ORDER BY ql.q DESC, cl.doc_id ASC) AS rk
         |       FROM cl JOIN ql USING (doc_id))
         |SELECT cluster_id, count(*) AS n_members,
         |       CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS kept_doc_id,
         |       max(CASE WHEN rk = 1 THEN q END) AS kept_quality,
         |       CAST(count(*) - 1 AS BIGINT) AS n_dropped
         |FROM rk GROUP BY 1 ORDER BY cluster_id""".stripMargin,
    "j182_preference_pairs" ->
      s"""WITH RECURSIVE $ClusterSql,
         |${CurationOps.QualityLogitSql},
         |rk AS (SELECT cl.cluster_id, cl.doc_id, ql.q,
         |         row_number() OVER (PARTITION BY cl.cluster_id
         |           ORDER BY ql.q DESC, cl.doc_id ASC) AS rk1,
         |         row_number() OVER (PARTITION BY cl.cluster_id
         |           ORDER BY ql.q ASC, cl.doc_id DESC) AS rk2
         |       FROM cl JOIN ql USING (doc_id))
         |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
         |       CAST(max(CASE WHEN rk1 = 1 THEN doc_id END) AS BIGINT)
         |         AS chosen_doc,
         |       CAST(max(CASE WHEN rk2 = 1 THEN doc_id END) AS BIGINT)
         |         AS rejected_doc,
         |       round(max(CASE WHEN rk1 = 1 THEN q END), 6) AS chosen_q,
         |       round(max(CASE WHEN rk2 = 1 THEN q END), 6) AS rejected_q,
         |       round(max(CASE WHEN rk1 = 1 THEN q END) -
         |             max(CASE WHEN rk2 = 1 THEN q END), 6) AS gap
         |FROM rk GROUP BY 1 ORDER BY cluster_id""".stripMargin,
    "j6_wordcount" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM 'documents.parquet')
        |GROUP BY token ORDER BY token""".stripMargin,
    "j7_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM 'documents.parquet'),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM 'documents.parquet')
        |SELECT doc_id, token,
        |round(tf * ln(n_docs / df), 6) AS tfidf,
        |row_number() OVER (PARTITION BY doc_id ORDER BY round(tf * ln(n_docs / df), 6) DESC, token ASC) AS rn
        |FROM tf JOIN df USING (token) CROSS JOIN n
        |QUALIFY rn <= 3
        |ORDER BY doc_id, rn""".stripMargin,
    "j8_pivot_stats" ->
      """SELECT source,
        |count(*) FILTER (WHERE lang = 'de') AS de,
        |count(*) FILTER (WHERE lang = 'en') AS en,
        |count(*) FILTER (WHERE lang = 'es') AS es,
        |count(*) FILTER (WHERE lang = 'fr') AS fr,
        |count(*) FILTER (WHERE lang = 'zh') AS zh
        |FROM 'documents.parquet' GROUP BY source ORDER BY source""".stripMargin,
    "j34_bm25_search" ->
      s"""WITH $Bm25Sql,
         |agg AS (SELECT doc_id, list_sum(list_sort(list(tscore))) AS s,
         |               count(*) AS n_terms
         |        FROM sc GROUP BY 1)
         |SELECT doc_id, round(s, 6) AS bm25, n_terms
         |FROM agg ORDER BY round(s, 6) DESC, doc_id ASC LIMIT 10""".stripMargin,
    "j35_fuzzy_search" ->
      """WITH v AS (SELECT token, count(DISTINCT doc_id) AS df, count(*) AS n_occ
        |           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |                 FROM 'documents.parquet') GROUP BY 1)
        |SELECT t.term, v.token, CAST(levenshtein(v.token, t.term) AS BIGINT) AS dist,
        |       v.df, v.n_occ
        |FROM v CROSS JOIN (VALUES ('sprk'), ('joid'), ('vectr')) t(term)
        |WHERE levenshtein(v.token, t.term) <= 1
        |ORDER BY t.term, v.token""".stripMargin,
    "j36_phrase_search" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t
        |           FROM 'documents.parquet'),
        |m AS (SELECT doc_id,
        |        CAST(len(list_filter(generate_series(1, len(t) - 1),
        |          i -> t[i] = 'hash' AND t[i + 1] = 'join')) AS BIGINT) AS n_matches,
        |        CAST(len(t) AS BIGINT) AS n_tokens
        |      FROM t)
        |SELECT doc_id, n_matches, n_tokens FROM m
        |WHERE n_matches >= 1 ORDER BY doc_id""".stripMargin,
    "j37_significant_terms" ->
      s"""WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS token
         |              FROM 'documents.parquet'),
         |st AS (SELECT token, count(*) AS bg,
         |              count(*) FILTER (WHERE lang = 'zh') AS fg
         |       FROM toks GROUP BY 1),
         |$JlhTopSql""".stripMargin,
    "k1_scala_udf" ->
      """SELECT c_custkey,
        |regexp_replace(lower(c_name), '[^a-z0-9 ]', '', 'g') AS clean_name
        |FROM 'customer.parquet' ORDER BY c_custkey""".stripMargin)
}
