package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** ES query-DSL capabilities beyond the core ranked-retrieval suite
  * (j34 BM25 / j35 fuzzy / j36 phrase / j37 significant-terms live in
  * [[TextOps]]): more-like-this, phrase-prefix, highlighting, search_after
  * pagination, and function_score decay ranking. Together with TextOps'
  * suite these cover the query surface a user of the reference's ES side
  * actually issues (SURVEY §1.1/§3.1 `[pub]`: match/fuzzy/phrase/MLT/
  * significant-terms queries, pagination, highlight, decay scoring).
  *
  * Shared determinism discipline (j24/j33/j34): per-doc double sums go
  * through sorted-fold (`aggregate(array_sort(collect_list(…)))` =
  * DuckDB `list_sum(list_sort(list(…)))`), scores round to 6dp, and every
  * ORDER BY carries a unique-id tiebreak — so the oracle hash compare is
  * exact, not approximately-equal.
  */
object SearchOps {

  /** j38_mlt_search — ES `more_like_this`: rank the corpus against a
    * source document. The source doc's terms are weighted tf·idf and the
    * top 5 kept (ES `max_query_terms`, tiebreak token asc); every other
    * document scores sum(candidate_tf · idf) over the shared terms.
    *
    * Scale shape: term selection reduces the source doc (one row) against
    * the token-level df aggregate; the selected 5 terms ride a broadcast
    * onto the corpus token stream, so — exactly like j34 — the shuffle
    * moves O(docs containing a selected term), never the corpus. Final
    * top-10 is ORDER BY+LIMIT = TakeOrderedAndProject. */
  def j38(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val toks = docs.select($"doc_id", explode(split($"text", " ")).as("token"))
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val dfreq = toks.groupBy($"token")
      .agg(countDistinct($"doc_id").cast("double").as("df"))
    val srcTf = toks.filter($"doc_id" === 1)
      .groupBy($"token").agg(count(lit(1)).cast("double").as("src_tf"))
    val terms = srcTf.join(dfreq, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("idf", log($"n_docs" / $"df"))
      // the cut orders on the ROUNDED weight (like every other score cut
      // in the suite): an unrounded tf·idf order could select different
      // term sets across engines on a log() ulp tie, and a different
      // 5-term query diverges by whole units — 6dp can't absorb that
      .orderBy(round($"src_tf" * $"idf", 6).desc, $"token".asc)
      .limit(5)
      .select($"token", $"idf")
    toks.filter($"doc_id" =!= 1)
      .groupBy($"doc_id", $"token").agg(count(lit(1)).cast("double").as("tf"))
      .join(broadcast(terms), "token")
      .withColumn("tscore", $"tf" * $"idf")
      .groupBy($"doc_id")
      .agg(Parity.sortedFoldSum($"tscore").as("sc"), count(lit(1)).as("n_shared"))
      .select($"doc_id", round($"sc", 6).as("mlt_score"), $"n_shared")
      .orderBy($"mlt_score".desc, $"doc_id".asc)
      .limit(10)
  }

  /** j39_prefix_search — ES `match_phrase_prefix`: an exact leading token
    * followed by a prefix-matched completion ('merge s*'), reporting the
    * distinct completions each doc supplied (what the autocomplete UI
    * shows). Positional adjacency and the prefix test both run inside the
    * row (filter/transform over token positions — zero shuffles, pure
    * codegen), the j36 discipline; completions are CSV-encoded per the
    * no-array-output contract (QueriesSpec). */
  def j39(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", split($"text", " ").as("toks"))
      // same guard as j36: sequence(1, 0) would infer step -1
      .filter(size($"toks") >= 2)
      // hits through a GENERATE (1-element array explode), not a
      // withColumn: the previous `.filter(size(hits) >= 1)` was pushed
      // below the projection and re-evaluated the whole position scan —
      // and the collapsed projection inlined it AGAIN into each of its
      // two uses (the j145 pushed-Filter hazard; the before-plan shows
      // the filter(sequence…) HOF twice and the split eight times).
      // A Generate output is a bound attribute, so the scan runs ONCE
      // per row and filter/size/transform all read the materialized hits.
      .select($"doc_id", $"toks", explode(expr(
        """array(filter(sequence(1, size(toks) - 1),
          |  i -> element_at(toks, i) = 'merge'
          |       AND startswith(element_at(toks, i + 1), 's')))""".stripMargin))
        .as("hits"))
      .filter(size($"hits") >= 1)
      .select(
        $"doc_id",
        size($"hits").cast("long").as("n_matches"),
        expr("array_join(array_sort(array_distinct(transform(hits, i -> element_at(toks, i + 1)))), ',')")
          .as("completions"))
      .orderBy($"doc_id")
  }

  /** j40_highlight — ES highlighting: for each document matching the term
    * ('vector'), return the first match position and a ±2-token snippet
    * around it. Entirely row-local string/array arithmetic (the only
    * exchange is the presentation ORDER BY); a search engine serves this
    * from stored positions, this is the same computation inlined. */
  def j40(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", split($"text", " ").as("toks"))
      .withColumn("pos", array_position($"toks", "vector"))
      .filter($"pos" > 0)
      .withColumn("st", greatest($"pos" - 2, lit(1L)))
      .withColumn("en", least($"pos" + 2, size($"toks").cast("long")))
      .select(
        $"doc_id", $"pos",
        expr("array_join(slice(toks, cast(st as int), cast(en - st + 1 as int)), ' ')")
          .as("snippet"))
      .orderBy($"doc_id")
  }

  /** j41_search_after — ES `search_after` keyset pagination: resume a
    * (value DESC, event_id ASC) result stream after cursor (480.0, 1000).
    *
    * Scale shape — WHY keyset beats OFFSET at 100 TB: the cursor is a
    * plain predicate, so it pushes to the parquet scan (PushedFilters,
    * PlanSpec-pinned) and row groups whose value-stats lie entirely above
    * the cursor never leave disk; the page is then ORDER BY+LIMIT =
    * TakeOrderedAndProject (per-partition heaps). OFFSET n would instead
    * materialize and sort-merge the n skipped rows on every page — depth-
    * proportional work per page vs constant work per page. */
  def j41(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .filter($"value" < 480.0 || ($"value" === 480.0 && $"event_id" > 1000L))
      .select($"event_id", $"value", $"event_type")
      .orderBy($"value".desc, $"event_id".asc)
      .limit(20)
  }

  /** j42_decay_rank — ES `function_score` gaussian decay (recency boost):
    * score = value · exp(−Δd²/2σ²) with origin 2024-01-31T00:00:00Z and
    * σ = 7 days, top 20. Δ is computed in the epoch-µs integer domain
    * (e3/i2 discipline — Spark and DuckDB subtract identically) and only
    * then divided into fractional days; scores round to 6dp with an
    * event_id tiebreak. Pure per-row arithmetic; the only exchange is the
    * TakeOrderedAndProject top-k. */
  def j42(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // 2024-01-31T00:00:00Z in epoch-µs; spelled as a literal so the
    // arithmetic is session-timezone-independent in both engines
    val originUs = 1706659200000000L
    Tables.eventsUs(s, d)
      .select($"event_id", $"event_type", $"value", $"ts_us".as("us"))
      .withColumn("dd", (lit(originUs) - $"us").cast("double") / lit(8.64e10))
      .withColumn("decayed", round($"value" * exp(-($"dd" * $"dd") / lit(98.0)), 6))
      .select($"event_id", $"event_type", $"decayed")
      .orderBy($"decayed".desc, $"event_id".asc)
      .limit(20)
  }

  /** The stored percolation queries: AND-semantics term sets (ES
    * percolator documents). Shared by the batch operator and the
    * streaming twin ([[graft.streaming.Sync.percolateStream]]) so the
    * two paths cannot drift. */
  val percolateQueries: Seq[(String, Seq[String])] = Seq(
    ("q1_spark_join", Seq("spark", "join")),
    ("q2_vector_window_hash", Seq("vector", "window", "hash")),
    ("q3_merge_slow", Seq("merge", "slow")))

  /** j43_percolate — the ES percolator: stored queries (AND-semantics
    * term sets) matched against the document corpus — "which of my saved
    * searches does this doc satisfy", the reverse of a search. The same
    * operator routes training documents to topic buckets by stored term
    * rules.
    *
    * Scale shape: the inverted evaluation — doc tokens are distinct'd
    * in-row, the (term → query) table rides a broadcast, and the per-
    * (doc, query) hit count compares to the query's term count. The
    * shuffle moves only (doc, query-term) hits — tokens no stored query
    * mentions never leave the scan stage. ES evaluates percolation
    * against an in-memory query index; this is the same term-indexed
    * dataflow. The streaming twin percolates arriving docs row-locally
    * with zero state. */
  def j43(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qt = percolateQueries
      .flatMap { case (qid, ts) => ts.map(t => (qid, t, ts.size.toLong)) }
      .toDF("query_id", "term", "n_terms")
    Tables.documents(s, d)
      .select($"doc_id", explode(array_distinct(split($"text", " "))).as("token"))
      .join(broadcast(qt), $"token" === $"term")
      .groupBy($"query_id", $"doc_id")
      .agg(count(lit(1)).as("n_hit"), max($"n_terms").as("n_terms"))
      .filter($"n_hit" === $"n_terms")
      .select($"query_id", $"doc_id", $"n_terms")
      .orderBy($"query_id", $"doc_id")
  }

  /** j44_composite_agg — ES `composite` aggregation with `after_key`:
    * page through the (lang, source) bucket space in key order, resuming
    * after bucket ('en', 'src12'), 10 buckets per page with count + sum
    * metrics — the bucket-space complement of j41's row pagination (how
    * a client walks ALL buckets of a high-cardinality aggregation
    * without a giant single response).
    *
    * Scale shape: the after_key cursor is a predicate on the GROUPING
    * columns, so it filters the scan before any aggregation — row groups
    * wholly before the cursor never leave disk (PushedFilters,
    * PlanSpec-pinned), the per-bucket metrics map-side combine, and the
    * page is TakeOrderedAndProject. ES walks a doc_values index the same
    * way; pages are constant work regardless of how deep the cursor is. */
  def j44(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .filter($"lang" > "en" || ($"lang" === "en" && $"source" > "src12"))
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("doc_count"), sum($"n_chars").as("sum_chars"))
      .orderBy($"lang".asc, $"source".asc)
      .limit(10)
  }

  /** j45_sharded_terms_agg — ES `terms` aggregation semantics on a
    * sharded index, error bound included: each shard returns its local
    * top-3 terms (`shard_size`), the coordinator merges them by summing
    * the counts of shards that returned the term, and
    * `doc_count_error_upper_bound` = Σ (3rd-place count) over the shards
    * that did NOT return it — the worst case the term could have hidden
    * there. Reported beside the exact global count so the approximation
    * error is visible, the d3/d15 sketch-oracle discipline.
    *
    * The shard key is `doc_id % 4` — DETERMINISTIC, not Spark's physical
    * partitioning — because the approximation's *value* depends on the
    * shard layout; pinning it makes the op cross-engine reproducible
    * (and is exactly how an ES index routes: hash(routing_key) % shards).
    *
    * Scale shape: two keyed aggregations (per-shard counts, exact
    * counts), a window over the (shard, token) aggregate — #shards ×
    * vocabulary rows, not corpus rows — and a one-row total broadcast.
    * This is the coordinator-merge dataflow a distributed engine runs to
    * answer global top-k without shipping full per-shard term lists. */
  def j45(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, d)
      .select(($"doc_id" % 4).as("shard"), explode(split($"text", " ")).as("token"))
    val cnt = toks.groupBy($"shard", $"token").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy($"shard").orderBy($"c".desc, $"token".asc)
    val local = cnt.withColumn("rn", row_number().over(w)).filter($"rn" <= 3)
    val shardMin = local.groupBy($"shard").agg(min($"c").as("last_c"))
    val totLast = shardMin.agg(sum($"last_c").as("all_last"))
    val exact = toks.groupBy($"token").agg(count(lit(1)).as("exact_count"))
    local.join(broadcast(shardMin), "shard")
      .groupBy($"token")
      .agg(sum($"c").as("merged_count"), sum($"last_c").as("present_last"))
      .crossJoin(broadcast(totLast))
      .select($"token", $"merged_count",
        ($"all_last" - $"present_last").as("error_bound"))
      .join(exact, "token")
      .orderBy($"merged_count".desc, $"token".asc)
      .limit(5)
  }

  /** j46_rescore — ES `rescore`: two-phase ranking. Phase 1 (recall) is
    * the cheap match — anchor-term tf, top-50 candidates ("window_size");
    * phase 2 re-ranks ONLY that window with the full BM25 over the
    * 3-term query, combined as p1 + 2·bm25 (query_weight=1,
    * rescore_query_weight=2), top-10. This is how production retrieval
    * actually runs: a cheap index probe bounds the candidate set, the
    * expensive scorer never sees the corpus.
    *
    * Scale shape: the candidate window (50 rows) rides a broadcast onto
    * the term-filtered tf aggregate, so the expensive scoring join moves
    * O(candidates × query terms) rows; corpus-wide work is only the df
    * counts (term-filtered, tiny) and doc lengths (column-pruned scan).
    * Same determinism discipline as j34 (sorted-fold, 6dp, doc_id
    * tiebreaks at both cuts). */
  def j46(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val cands = docs.select($"doc_id", explode(split($"text", " ")).as("token"))
      .filter($"token" === "spark")
      .groupBy($"doc_id").agg(count(lit(1)).cast("double").as("p1"))
      .orderBy($"p1".desc, $"doc_id".asc).limit(50)
    // ONE BM25 definition engine-wide: formula AND dataflow live in
    // TextOps (bm25Tscore / bm25Frames), shared with j34
    TextOps.bm25Frames(docs, Seq("spark", "vector", "dup")).scored
      .join(broadcast(cands), "doc_id")
      .groupBy($"doc_id")
      .agg(Parity.sortedFoldSum($"tscore").as("bm25"), max($"p1").as("p1"))
      .select($"doc_id",
        round($"p1" + lit(2.0) * $"bm25", 6).as("rescore"),
        round($"bm25", 6).as("bm25"))
      .orderBy($"rescore".desc, $"doc_id".asc)
      .limit(10)
  }

  /** j47_date_histogram — ES `date_histogram` with `min_doc_count: 0` and
    * `extended_bounds`: day buckets over the full event-time span, zero-
    * filled where the filtered stream (purchases ≥ 200) has no events, with
    * a `cardinality` sub-aggregation (distinct users). A plain groupBy
    * (i1's shape) silently drops empty buckets; a monitoring client needs
    * the gaps to BE rows — that's the capability this adds.
    *
    * Scale shape: the spine is one min/max aggregate exploded into ~days
    * rows (tiny at any corpus size — bounded by calendar time, not data),
    * broadcast onto the histogram; the histogram itself is one keyed
    * aggregation that map-side combines. Both metrics are integers, so no
    * double-sum ordering hazard. */
  def j47(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d)
      .select(to_date($"ts").as("day"), $"event_type", $"value", $"user_id")
    val spine = e.agg(min($"day").as("d0"), max($"day").as("d1"))
      .select(explode(sequence($"d0", $"d1")).as("day"))
    val hist = e.filter($"event_type" === "purchase" && $"value" >= 200.0)
      .groupBy($"day")
      .agg(count(lit(1)).as("doc_count"), countDistinct($"user_id").as("n_users"))
    spine.join(broadcast(hist), Seq("day"), "left")
      .select($"day",
        coalesce($"doc_count", lit(0L)).as("doc_count"),
        coalesce($"n_users", lit(0L)).as("n_users"))
      .orderBy($"day")
  }

  /** The term-suggester inputs: misspelled query terms (shared with the
    * oracle SQL so the two can't drift). */
  val suggestInputs: Seq[String] = Seq("sprak", "vektor", "mrege")

  /** j48_term_suggest — ES `term` suggester ("did you mean"): for each
    * misspelled input term, the corpus-vocabulary tokens within edit
    * distance 2, ranked distance asc, frequency desc, token asc, top 3
    * per input.
    *
    * Scale shape: the candidate space is the VOCABULARY aggregate (tokens ×
    * frequencies), never the corpus — at 100 TB the vocabulary is millions
    * of rows while the corpus is trillions, so the expensive levenshtein
    * runs on the reduced side only. The 3-term input rides a broadcast
    * nested-loop join guarded by the standard length-band bound
    * (|len(tok) − len(input)| ≤ 2 ⇒ edit distance ≥ 3 impossible to pass),
    * which prunes most of the vocabulary before any edit-distance work —
    * ES's FST traversal bounds candidates the same way. Top-3-per-input is
    * a window over the surviving candidates (a handful of rows). */
  def j48(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val inputs = suggestInputs.toDF("input")
    val vocab = Tables.documents(s, d)
      .select(explode(split($"text", " ")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy($"input")
      .orderBy($"dist".asc, $"freq".desc, $"token".asc)
    vocab.join(broadcast(inputs),
        abs(length($"token") - length($"input")) <= 2)
      .withColumn("dist", levenshtein($"token", $"input").cast("long"))
      .filter($"dist" <= 2)
      .withColumn("rn", row_number().over(w)).filter($"rn" <= 3)
      .select($"input", $"token".as("suggestion"), $"dist", $"freq")
      .orderBy($"input".asc, $"dist".asc, $"freq".desc, $"suggestion".asc)
  }

  /** j51_bool_msm — ES `bool` query with `should` clauses and
    * `minimum_should_match: 2`: documents matching at least 2 of the 4
    * query terms, scored as the BM25 sum over the matched terms only,
    * top 15. This is the boolean-coverage gate between a single `match`
    * (j34, any term qualifies) and `match_phrase` (j36, all terms adjacent).
    *
    * Scale shape: identical to j34 — the term filter bounds every
    * aggregate to O(docs containing a query term), df/stats ride
    * broadcasts, and the msm gate is a HAVING on the already-grouped
    * per-doc frame (no extra pass). Same determinism discipline
    * (sorted-fold, 6dp, doc_id tiebreak); ONE BM25 definition engine-wide
    * via [[TextOps.bm25Tscore]]. */
  def j51(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    TextOps.bm25Frames(Tables.documents(s, d),
        Seq("spark", "join", "vector", "slow")).scored
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_matched"), Parity.sortedFoldSum($"tscore").as("sc"))
      .filter($"n_matched" >= 2)
      .select($"doc_id", $"n_matched", round($"sc", 6).as("score"))
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(15)
  }

  /** j58_pipeline_agg — ES pipeline aggregations (`derivative`,
    * `cumulative_sum`, `moving_fn` avg, window 3) computed over the j47
    * parent date_histogram: per-day purchase counts, zero-filled, then
    * day-over-day delta, running total, and a 3-bucket trailing moving
    * average — the monitoring-dashboard post-processing ES layers on top
    * of a histogram response.
    *
    * Scale shape: pipeline aggs run on the BUCKET frame, never the event
    * stream — the histogram map-side combines down to ≤ calendar-days
    * rows, and the unpartitioned window that follows moves ~30 rows (the
    * domainMix global-window argument: bounded by calendar time, not
    * data). Metrics stay integral until the one rounded division, so no
    * double-sum ordering hazard. */
  def j58(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, d)
      .select(to_date($"ts").as("day"), $"event_type")
    val spine = e.agg(min($"day").as("d0"), max($"day").as("d1"))
      .select(explode(sequence($"d0", $"d1")).as("day"))
    val hist = e.filter($"event_type" === "purchase")
      .groupBy($"day").agg(count(lit(1)).as("doc_count"))
    val buckets = spine.join(broadcast(hist), Seq("day"), "left")
      .select($"day", coalesce($"doc_count", lit(0L)).as("doc_count"))
    val w = Window.orderBy($"day") // ≤ calendar-days rows by construction
    buckets
      .withColumn("deriv", $"doc_count" - lag($"doc_count", 1).over(w))
      .withColumn("cum", sum($"doc_count")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("mavg", Parity.round6(avg($"doc_count")
        .over(w.rowsBetween(-2, Window.currentRow))))
      .orderBy($"day")
  }

  /** j59_rare_terms — ES `rare_terms` aggregation: the long-tail buckets a
    * `terms` agg (ordered count DESC) structurally cannot surface —
    * 3-gram shingles appearing in at most `max_doc_count = 2` documents,
    * ordered count ASC, first 100 by (count, term). Token-level df is
    * useless for rarity on this fixture (31-token vocabulary, every token
    * near-ubiquitous), so the terms are the shingle space — the same
    * high-cardinality term domain the dedup pipeline (j2/j12/j50) keys on.
    *
    * Scale shape: one distinct-per-doc explode + one map-combined count
    * keyed on the (uniform) shingle term; the rarity filter reduces on the
    * AGGREGATE; the cut is ORDER BY+LIMIT = TakeOrderedAndProject. ES
    * bounds the same computation with a CuckooFilter (approximate,
    * memory-capped); exact counting is the honest equivalent when the
    * engine has a shuffle. */
  def j59(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", split($"text", " ").as("toks"))
      .filter(size($"toks") >= 3)
      .select(explode(expr(
        s"""array_distinct(transform(sequence(1, size(toks) - 2),
           |  i -> ${TextOps.shingle3("toks")}))""".stripMargin)).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("doc_count"))
      .filter($"doc_count" <= 2)
      .orderBy($"doc_count".asc, $"term".asc)
      .limit(100)
  }

  /** j60_adjacency_matrix — ES `adjacency_matrix` aggregation: named
    * filters A (lang = 'en'), B (n_chars ≥ 350), C (source ∈ src0..src3),
    * one bucket per filter and per pairwise intersection ('A&B' keys),
    * empty buckets omitted — the co-occurrence matrix ES computes for
    * graph-style exploration.
    *
    * Scale shape: the entire matrix is ONE map-side-combinable global
    * aggregate of 0/1 flag products (a single reduce row at any corpus
    * size); `stack` unpivots the 6 sums into ES's bucket rows. Zero
    * joins, zero windows, one exchange of one row. */
  def j60(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(
        ($"lang" === "en").as("a"),
        ($"n_chars" >= 350).as("b"),
        $"source".isin("src0", "src1", "src2", "src3").as("c"))
      // conditional counts, not sums-of-flags: BIGINT in both engines
      // (DuckDB promotes sum(BIGINT) to HUGEINT, which the compare rejects)
      .agg(
        count(when($"a", 1)).as("ka"), count(when($"b", 1)).as("kb"),
        count(when($"c", 1)).as("kc"), count(when($"a" && $"b", 1)).as("kab"),
        count(when($"a" && $"c", 1)).as("kac"), count(when($"b" && $"c", 1)).as("kbc"))
      .selectExpr(
        """stack(6, 'A', ka, 'B', kb, 'C', kc,
          |         'A&B', kab, 'A&C', kac, 'B&C', kbc)
          |  AS (key, doc_count)""".stripMargin)
      .filter($"doc_count" > 0)
      .orderBy($"key")
  }

  /** j61_sampler_agg — ES `diversified_sampler` + sub-aggregation: score
    * the corpus with BM25 for the query term 'spark', keep at most 5 docs
    * per source (the diversity constraint), sample the top 100 of the
    * survivors (`shard_size`), then run a `terms` agg on lang over the
    * sample with a `max` metric — "what does the high-relevance slice
    * look like, without any one source dominating".
    *
    * Scale shape: scoring is j34's term-filtered aggregation (shuffle
    * moves docs containing the term, never the corpus); the diversity
    * rank compiles to WindowGroupLimit-prunable per-source top-5; the
    * sample cut is TakeOrderedAndProject on (rounded score, doc_id); the
    * final agg sees ≤ 100 rows. Determinism: ranking on ROUNDED score
    * with doc_id tiebreak in both engines, so the sample set is exact. */
  def j61(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val wDiv = Window.partitionBy($"source").orderBy($"score".desc, $"doc_id".asc)
    TextOps.bm25Frames(Tables.documents(s, d), Seq("spark"),
        dlExtra = Seq("source", "lang")).scored
      .withColumn("score", round($"tscore", 6))
      .withColumn("rs", row_number().over(wDiv)).filter($"rs" <= 5)
      .orderBy($"score".desc, $"doc_id".asc).limit(100)
      .groupBy($"lang")
      .agg(count(lit(1)).as("doc_count"), max($"score").as("max_score"))
      .orderBy($"lang")
  }

  /** j62_collapse — ES field collapsing (`collapse` on `source` +
    * `inner_hits`): BM25-rank the corpus for a two-term query, return the
    * best hit PER SOURCE with its group's hit count — one result slot per
    * source no matter how many docs a source matches, exactly
    * search-result grouping.
    *
    * Scale shape: scoring is the j34 dataflow; collapse is one window
    * over the per-source partitions of the SCORED frame (matching docs,
    * not the corpus), and the final cut TakeOrderedAndProject. */
  def j62(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // dl carries source — no second pass over docs
    val scored = TextOps.bm25Frames(Tables.documents(s, d),
        Seq("hash", "join"), dlExtra = Seq("source")).scored
      .groupBy($"doc_id", $"source")
      .agg(Parity.sortedFoldSum($"tscore").as("sc"))
      .withColumn("score", round($"sc", 6))
    val wc = Window.partitionBy($"source").orderBy($"score".desc, $"doc_id".asc)
    scored
      .withColumn("rn", row_number().over(wc))
      .withColumn("n_hits", count(lit(1)).over(Window.partitionBy($"source")).cast("long"))
      .filter($"rn" === 1)
      .select($"source", $"doc_id", $"score", $"n_hits")
      .orderBy($"score".desc, $"source".asc)
      .limit(10)
  }

  /** The completion-suggester inputs (shared with the oracle SQL). */
  val completionPrefixes: Seq[String] = Seq("c", "s", "w")

  /** j63_completion_suggest — ES `completion` suggester (autocomplete):
    * for each typed prefix, the top-3 vocabulary completions by
    * (frequency DESC, token ASC) with their weights — the FST lookup ES
    * serves from RAM, expressed over the term dictionary.
    *
    * Scale shape: j48's discipline — candidates come from the VOCABULARY
    * aggregate (millions of rows at 100 TB, vs trillions of corpus
    * tokens); the 3-row prefix list rides a broadcast nested-loop join
    * on `startswith` (ES walks an FST edge instead — same pruning role);
    * top-3-per-prefix is a window over the few surviving rows. */
  def j63(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val prefixes = completionPrefixes.toDF("prefix")
    val vocab = Tables.documents(s, d)
      .select(explode(split($"text", " ")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy($"prefix").orderBy($"freq".desc, $"token".asc)
    vocab.join(broadcast(prefixes), $"token".startsWith($"prefix"))
      .withColumn("rn", row_number().over(w).cast("long")).filter($"rn" <= 3)
      .select($"prefix", $"token".as("completion"), $"freq", $"rn")
      .orderBy($"prefix".asc, $"rn".asc)
  }

  /** j64_auto_date_histogram — ES `auto_date_histogram` with
    * `buckets: 12`: the engine, not the caller, picks the interval — the
    * smallest rung of the 1h/1d/7d/30d/90d/360d ladder that covers the
    * event span in at most 12 buckets — then zero-fills contiguous buckets
    * at that interval. The ≤12-bucket invariant holds for spans up to
    * 12·360d (~12 years); beyond that ES escalates to multi-year calendar
    * rungs (out of scope for this fixture's weeks-long span). The interval choice is data-dependent but deterministic
    * (integer epoch-µs arithmetic on the span, identical in both
    * engines).
    *
    * Scale shape: the choice consumes one min/max aggregate row; buckets
    * are a broadcast spine (≤ 12 rows by construction — the POINT of the
    * operator) left-joining the map-combined histogram, j47's exact
    * dataflow with the interval made adaptive. */
  def j64(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hourUs = 3600000000L
    val dayUs = 86400000000L
    val weekUs = 604800000000L
    val monthUs = 2592000000000L // 30d rung — ES uses calendar months; fixed-width keeps both engines identical
    val qtrUs = 7776000000000L   // 90d rung
    val yearUs = 31104000000000L // 360d rung — spans ≥ 12·360d (~12 years)
    // would exceed 12 buckets again; past that ES escalates to multi-year
    // calendar rungs, out of scope for an events fixture spanning weeks
    val e = Tables.eventsUs(s, d).select($"ts_us")
    // interval choice + bucket math stay in the INTEGER domain end-to-end:
    // Spark's `/` on longs is double division (and DuckDB's differs again),
    // so spans compare against 12·interval and buckets use `div`
    val stats = e.agg(min($"ts_us").as("lo"), max($"ts_us").as("hi"))
      .withColumn("iv",
        when($"hi" - $"lo" < 12L * hourUs, hourUs)
          .when($"hi" - $"lo" < 12L * dayUs, dayUs)
          .when($"hi" - $"lo" < 12L * weekUs, weekUs)
          .when($"hi" - $"lo" < 12L * monthUs, monthUs)
          .when($"hi" - $"lo" < 12L * qtrUs, qtrUs)
          .otherwise(yearUs))
      .withColumn("lbl",
        when($"iv" === hourUs, "1h").when($"iv" === dayUs, "1d")
          .when($"iv" === weekUs, "7d").when($"iv" === monthUs, "30d")
          .when($"iv" === qtrUs, "90d").otherwise("360d"))
    val spine = stats.select($"lo", $"iv", $"lbl",
      explode(sequence(lit(0L), expr("(hi - lo) div iv"))).as("b"))
    val hist = e.crossJoin(broadcast(stats.select($"lo", $"iv")))
      .select(expr("(ts_us - lo) div iv").as("b"))
      .groupBy($"b").agg(count(lit(1)).as("doc_count"))
    spine.join(broadcast(hist), Seq("b"), "left")
      .select(
        expr("cast(timestamp_micros(lo + b * iv) as timestamp_ntz)").as("bucket_start"),
        $"lbl".as("interval"),
        coalesce($"doc_count", lit(0L)).as("doc_count"))
      .orderBy($"bucket_start")
  }

  /** j67_percentile_ranks — ES `percentile_ranks` aggregation: the inverse
    * of d12's percentiles — for each probe value, the percentage of the
    * metric's population at or under it. ES serves this from the same
    * TDigest as `percentiles`; exact counting is the d12 discipline (the
    * sketch-tier complement is d15).
    *
    * Scale shape: all three ranks come from ONE map-side-combinable
    * global aggregate of conditional counts (j60's shape — a single
    * reduce row at any corpus size), unpivoted by `stack`. */
  def j67(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .agg(count(lit(1)).as("n"),
        count(when($"value" <= 100.0, 1)).as("le100"),
        count(when($"value" <= 250.0, 1)).as("le250"),
        count(when($"value" <= 400.0, 1)).as("le400"))
      .selectExpr(
        """stack(3, CAST(100.0 AS DOUBLE), le100, CAST(250.0 AS DOUBLE), le250,
          |         CAST(400.0 AS DOUBLE), le400)
          |  AS (probe, n_le)""".stripMargin, "n")
      .select($"probe",
        Parity.round6(lit(100.0) * $"n_le" / $"n".cast("double")).as("pct_rank"))
      .orderBy($"probe")
  }

  /** j68_mad — ES `median_absolute_deviation` aggregation: per event
    * type, the median of |value − median(value)| — the robust dispersion
    * metric ES serves from the same TDigest as `percentiles`; exact
    * two-pass computation is the d12 discipline (`percentile` ≡ DuckDB
    * `percentile_cont`, identical interpolation arithmetic).
    *
    * Scale shape: two keyed map-combined aggregations with the per-type
    * median table (one row per event type) broadcast between them — the
    * corpus shuffles on
    * event_type once per pass, never collects. (ES's one-pass sketch is
    * the d15-style trade; exact MAD fundamentally needs the second pass.) */
  def j68(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d).select($"event_type", $"value")
    val med = e.groupBy($"event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    e.join(broadcast(med), "event_type")
      .withColumn("ad", abs($"value" - $"med"))
      .groupBy($"event_type")
      .agg(round(max($"med"), 6).as("median_value"), // constant per group
        round(expr("percentile(ad, 0.5)"), 6).as("mad"),
        count(lit(1)).as("n"))
      .orderBy($"event_type")
  }

  /** j69_boxplot — ES `boxplot` aggregation: per event type, min / q1 /
    * median / q3 / max plus the 1.5·IQR Tukey fences clipped to the data
    * range (the fence FORMULA, the summary a plotting client consumes; ES
    * additionally snaps whiskers to the nearest datapoint inside the
    * fence — that refinement needs a TDigest-style pass ES already has in
    * hand). Exact percentiles = the d12/j68 discipline.
    *
    * Scale shape: ONE keyed map-combined aggregation; the fence
    * arithmetic is row-local on the 5-number summary. */
  def j69(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"event_type")
      .agg(round(min($"value"), 6).as("min_v"),
        round(expr("percentile(value, 0.25)"), 6).as("q1"),
        round(expr("percentile(value, 0.5)"), 6).as("q2"),
        round(expr("percentile(value, 0.75)"), 6).as("q3"),
        round(max($"value"), 6).as("max_v"))
      .withColumn("lower_fence",
        round(greatest($"min_v", $"q1" - lit(1.5) * ($"q3" - $"q1")), 6))
      .withColumn("upper_fence",
        round(least($"max_v", $"q3" + lit(1.5) * ($"q3" - $"q1")), 6))
      .orderBy($"event_type")
  }

  /** j70_boosting_query — ES `boosting` query: rank by the positive
    * clause's BM25 score ('spark'), demoting — not excluding — documents
    * matching the negative clause ('slow') by `negative_boost` 0.5. The
    * capability a bool must_not cannot express: soft demotion keeps
    * recall while re-ordering.
    *
    * Scale shape: j34's term-filtered dataflow for BOTH clauses in one
    * pass (the explode filters to positive ∪ negative terms); the demote
    * factor is row arithmetic on the per-doc aggregate; top-15 =
    * TakeOrderedAndProject. */
  def j70(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    TextOps.bm25Frames(Tables.documents(s, d), Seq("spark", "slow")).scored
      // the negative clause contributes 0 to the score — it only demotes
      .withColumn("tscore",
        when($"token" === "spark", $"tscore").otherwise(lit(0.0)))
      .groupBy($"doc_id")
      .agg(Parity.sortedFoldSum($"tscore").as("pos"),
        max(when($"token" === "slow", 1).otherwise(0)).as("neg"))
      .filter($"pos" > 0.0) // positive clause must match (ES semantics)
      .select($"doc_id",
        round($"pos" * when($"neg" === 1, 0.5).otherwise(1.0), 6).as("score"),
        $"neg".cast("int").as("demoted"))
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(15)
  }

  /** j71_extended_stats — ES `extended_stats`: the `stats` fields plus
    * sum_of_squares, variance, std_deviation, and the ±2σ
    * std_deviation_bounds. Quantities are integral-valued doubles, so
    * sum and sum-of-squares are order-exact; variance/σ are computed FROM
    * those exact sums — var = (Σx² − (Σx)²/n)/(n−1) — as the identical
    * IEEE expression in both engines (Spark's var_samp central-moment
    * merge vs DuckDB's accumulation are order-dependent; this form makes
    * the cross-engine parity structural, not rounding-masked). The ±2σ
    * bounds derive from the ROUNDED avg/σ so both engines compose
    * identical doubles.
    *
    * Scale shape: one keyed map-combined aggregation; variance and bounds
    * are row arithmetic on the aggregate. */
  def j71(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        min($"l_quantity").as("min_q"), max($"l_quantity").as("max_q"),
        sum($"l_quantity").as("s1"),
        sum($"l_quantity" * $"l_quantity").as("s2"),
        Parity.round6(avg($"l_quantity")).as("avg_q"))
      .withColumn("var_u", ($"s2" - $"s1" * $"s1" / $"n") / ($"n" - 1))
      .select($"l_returnflag", $"n", $"min_q", $"max_q",
        round($"s1", 2).as("sum_q"), round($"s2", 2).as("sum_sq"),
        $"avg_q",
        Parity.round6($"var_u").as("var_q"),
        round(sqrt($"var_u"), 6).as("sd_q"))
      .withColumn("upper_2sd", round($"avg_q" + lit(2.0) * $"sd_q", 6))
      .withColumn("lower_2sd", round($"avg_q" - lit(2.0) * $"sd_q", 6))
      .orderBy($"l_returnflag")
  }

  /** j72_weighted_avg — ES `weighted_avg`: mean extendedprice weighted by
    * quantity per return flag. Money sums ride exact DECIMAL(18,2) (d1's
    * parity discipline — a double sum is order-nondeterministic); the one
    * division happens AFTER both operands are exact, as a single double
    * op both engines compute identically. */
  def j72(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .agg(
        sum($"l_extendedprice".cast("decimal(18,2)") *
          $"l_quantity".cast("decimal(18,2)")).as("wsum"),
        sum($"l_quantity".cast("decimal(18,2)")).as("qsum"))
      // decimal→double THROUGH A STRING (j83's rule): wsum's magnitude
      // approaches 2^53 at sf0.1, where Spark's and DuckDB's native
      // decimal→double conversions can round a different way; string →
      // double parsing is correctly rounded in both engines
      .select($"l_returnflag",
        Parity.round6(expr("cast(cast(wsum as string) as double)") /
          expr("cast(cast(qsum as string) as double)")).as("weighted_avg"),
        expr("cast(cast(qsum as string) as double)").as("total_weight"))
      .orderBy($"l_returnflag")
  }

  /** j73_range_agg — ES `range` aggregation on the value metric: buckets
    * [*,100) / [100,250) / [250,*) with doc_count and an exact sum
    * sub-metric. Money sums go through integer cents (h9/i13's
    * discipline) — the 2dp doubles are exact as cents, so the per-bucket
    * sum is order-independent.
    *
    * Scale shape: the bucket label is row-local; ONE keyed map-combined
    * aggregation over ≤ 3 keys. */
  def j73(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select(
        when($"value" < 100.0, "*-100.0")
          .when($"value" < 250.0, "100.0-250.0")
          .otherwise("250.0-*").as("range_key"),
        round($"value" * 100, 0).cast("long").as("cents"))
      .groupBy($"range_key")
      .agg(count(lit(1)).as("doc_count"),
        round(sum($"cents") / lit(100.0), 2).as("sum_value"))
      .orderBy($"range_key")
  }

  /** Mini Lucene `query_string` parser (j172) — the full-syntax surface
    * beside j120's simple_query_string: explicit AND/OR/NOT with
    * NOT > AND > OR precedence, parentheses, `field:term`, trailing-`*`
    * prefix terms, and quoted phrases on the default `text` field. The
    * parse happens at PLAN BUILD time (the query is a constant): the
    * AST compiles to one boolean Column, so the executed plan is a plain
    * pushable filter — parsing never runs per row, exactly as ES parses
    * once at the coordinator. Unfielded bare terms hit the default
    * field as whole-token matches; phrases use the space-delimited
    * adjacency trick (tokens are single-space separated by fixture
    * contract, so ' a b ' containment IS the 2-token phrase match). */
  private[graft] object QueryString {
    sealed trait Node
    case class Clause(field: Option[String], value: String,
        prefix: Boolean, phrase: Boolean) extends Node
    case class Not(n: Node) extends Node
    case class And(l: Node, r: Node) extends Node
    case class Or(l: Node, r: Node) extends Node

    /** KQL entry: Kibana Query Language is this grammar with
      * CASE-INSENSITIVE and/or/not keywords — normalize bare operator
      * tokens (quoted phrases untouched: the tokenizer isolates them
      * first) and reuse the one parser. */
    def parseKql(q: String): Node = {
      val toks = """\(|\)|"[^"]*"|[^\s()]+""".r.findAllIn(q).map { t =>
        if (!t.startsWith("\"") &&
            Set("and", "or", "not")(t.toLowerCase)) t.toUpperCase else t
      }
      parse(toks.mkString(" "))
    }

    def parse(q: String): Node = {
      val toks = """\(|\)|"[^"]*"|[^\s()]+""".r.findAllIn(q).toList
      var rest = toks
      def peek = rest.headOption
      def eat(): String = { val h = rest.head; rest = rest.tail; h }
      def primary(): Node = eat() match {
        case "(" =>
          val n = or()
          require(eat() == ")", s"expected ) in: $q")
          n
        case "NOT" => Not(primary())
        case t if t.startsWith("\"") =>
          Clause(None, t.stripPrefix("\"").stripSuffix("\""),
            prefix = false, phrase = true)
        case t =>
          val (f, v) = t.indexOf(':') match {
            case -1 => (None, t)
            case i => (Some(t.take(i)), t.drop(i + 1))
          }
          // an empty value means a fielded GROUP (`lang:(en or fr)` —
          // the tokenizer split at the paren): unsupported syntax must
          // be a LOUD parse error, never a silent `col === ""` filter
          require(v.nonEmpty,
            s"empty value in clause '$t' (fielded groups like f:(a OR b) " +
              s"are not supported — distribute the field: f:a OR f:b) in: $q")
          if (v.endsWith("*"))
            Clause(f, v.dropRight(1), prefix = true, phrase = false)
          else Clause(f, v, prefix = false, phrase = false)
      }
      def and(): Node = {
        var n = primary()
        while (peek.contains("AND")) { eat(); n = And(n, primary()) }
        n
      }
      def or(): Node = {
        var n = and()
        while (peek.contains("OR")) { eat(); n = Or(n, and()) }
        n
      }
      val n = or()
      require(rest.isEmpty, s"trailing tokens in: $q")
      n
    }

    def compile(n: Node): org.apache.spark.sql.Column = n match {
      case Clause(None, v, false, true) =>
        concat(lit(" "), col("text"), lit(" ")).contains(s" $v ")
      case Clause(None, v, false, false) =>
        array_contains(split(col("text"), " "), v)
      case Clause(None, v, true, _) =>
        exists(split(col("text"), " "), t => t.startsWith(v))
      case Clause(Some(f), v, true, _) => col(f).startsWith(v)
      case Clause(Some(f), v, _, _) => col(f) === v
      case Not(x) => !compile(x)
      case And(l, r) => compile(l) && compile(r)
      case Or(l, r) => compile(l) || compile(r)
    }
  }

  /** j172_query_string — the ES `query_string` query (full Lucene
    * syntax) for `("spark join" OR dup) AND lang:en AND NOT
    * source:src1*`: a quoted default-field phrase, a bare term, a
    * fielded keyword equality, a NOT-negated trailing-wildcard (which
    * prunes src1 AND src10–src19 — the prefix semantics users actually
    * get bitten by), under explicit precedence and parentheses —
    * parsed by [[QueryString]] into one Column.
    *
    * Scale shape: the compiled predicate is a single conjunctive filter
    * over one scan — the keyword legs (lang/source) are
    * pushdown-eligible comparisons, the text legs row-local; no joins,
    * no shuffles before the presentation sort. */
  def j172(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pred = QueryString.compile(QueryString.parse(
      """("spark join" OR dup) AND lang:en AND NOT source:src1*"""))
    Tables.documents(s, d)
      .filter(pred)
      .select($"doc_id", $"lang", $"source")
      .orderBy($"doc_id")
  }

  /** j179_leading_wildcard — the query j85 documents as impossible to
    * prune (`*rc19*` — a leading wildcard can't use a prefix seek in
    * parquet stats OR an ES term dictionary) answered the way ES's
    * `wildcard` FIELD TYPE actually does it: a character-trigram index.
    * Every distinct keyword value posts its 3-grams; the pattern's
    * trigrams ('rc1', 'c19') intersect posting lists to a candidate set
    * (necessary, not sufficient — trigram collisions happen), and a
    * final contains() verifies. Matching sources report doc_count +
    * char sum.
    *
    * Scale shape: the index is built over DISTINCT values (the value
    * dictionary, ≪ corpus — at 100 TB it's a stored index updated
    * incrementally, as in ES); candidate intersection is a grouped
    * count over the pattern's ≤|pattern| trigrams; the verified set
    * rides a broadcast back onto the corpus scan. The corpus itself is
    * never substring-scanned — that is the entire point. */
  def j179(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pattern = "rc19"
    val qgrams = pattern.sliding(3).toSeq // rc1, c19
    val docs = Tables.documents(s, d)
    val srcs = docs.select($"source").distinct()
      .filter(length($"source") >= 3) // sequence(1, len-2) must ascend
    val tri = srcs.select($"source", explode(expr(
      "transform(sequence(1, length(source) - 2), i -> substring(source, i, 3))"))
      .as("g"))
    val cands = tri.filter($"g".isin(qgrams: _*))
      .groupBy($"source").agg(countDistinct($"g").as("ng"))
      .filter($"ng" === qgrams.size)
    val verified = cands.filter($"source".contains(pattern)).select($"source")
    docs.join(broadcast(verified), "source")
      .groupBy($"source")
      .agg(count(lit(1)).as("doc_count"), sum($"n_chars").as("sum_chars"))
      .orderBy($"source")
  }

  /** j197_combined_fields — the ES `combined_fields` query (the modern
    * recommended multi-field full-text query, term-CENTRIC where j77's
    * `multi_match`/dis_max is field-centric): all fields are treated as
    * ONE combined field, BM25F-style. Here `text` (weight 1.0) and
    * `source` (weight 2.0) combine for the query terms (spark, src3):
    * combined tf(doc, t) = Σ_f weight_f · tf_f(doc, t), combined doc
    * length = Σ_f weight_f · len_f (source is single-token, so +2.0),
    * df(t) = docs where ANY field matches t, corpus stats over the
    * combined lengths — then the standard shared [[TextOps.bm25Tscore]]
    * (same merged literals as j34, so the constants cannot drift),
    * summed per doc via sorted-fold, top-15 on (rounded score, doc_id).
    *
    * Scale shape: j34's exact dataflow with a 2-leg tf union — the text
    * explode is term-filtered BEFORE its shuffle, the source leg is a
    * row-local filter (no explode), and the union groupBy moves
    * O(matching docs × terms). df/stats ride one broadcast each; both
    * field weights keep tf and dl integer-valued doubles, so every sum
    * is exact and engine-order-independent. */
  def j197(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val terms = Seq("spark", "src3") // one per field: text-only + keyword-only
    val docs = Tables.documents(s, d)
    val dl = docs.select($"doc_id",
      (size(split($"text", " ")).cast("double") + lit(2.0)).as("dl"))
    val tfText = docs.select($"doc_id", explode(split($"text", " ")).as("token"))
      .filter($"token".isin(terms: _*))
      .groupBy($"doc_id", $"token").agg(count(lit(1)).cast("double").as("w"))
    val tfSrc = docs.filter($"source".isin(terms: _*))
      .select($"doc_id", $"source".as("token"), lit(2.0).as("w"))
    val tfc = tfText.unionByName(tfSrc)
      .groupBy($"doc_id", $"token").agg(sum($"w").as("tf"))
    val dfreq = tfc.groupBy($"token").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg($"dl").as("avgdl"))
    tfc.join(dl, "doc_id")
      .join(broadcast(dfreq), "token")
      .crossJoin(broadcast(stats))
      .withColumn("tscore",
        TextOps.bm25Tscore($"tf", $"df", $"dl", $"n_docs", $"avgdl"))
      .groupBy($"doc_id")
      .agg(Parity.sortedFoldSum($"tscore").as("sc"), count(lit(1)).as("n_terms"))
      .select($"doc_id", round($"sc", 6).as("score"), $"n_terms")
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(15)
  }

  /** j202_sparse_vector — the ES `sparse_vector` query (the SPLADE /
    * ELSER learned-sparse-retrieval shape): every document carries a
    * SPARSE term→weight vector, the query carries its own, and the
    * score is their dot product over shared terms. The container has no
    * learned expansion model, so doc weights are the deterministic
    * stand-in tf·idf (w = tf · ln(N/df), the j38 formula) pruned to the
    * TOP-8 terms per doc — exactly the index-time weight pruning ES
    * applies to ELSER vectors (`prune: true`) — and the query vector is
    * a 5-term literal frame. Score = Σ w_doc(t)·w_query(t) via the
    * inverted term join, sorted-fold summed (j24 discipline), top-15 on
    * (rounded score, doc_id); n_terms counts the matched overlap.
    *
    * Scale shape: tf/df are map-combined token aggregates; the top-8
    * pruning is a per-doc window (doc-bounded partitions, never
    * corpus-wide); the query vector and the 1-row corpus count ride
    * broadcasts, so scoring joins move O(docs containing a query term)
    * — the posting-list bound, same as j34. The per-doc weight cut also
    * bounds index size linearly in docs at 100 TB (8 postings/doc),
    * which is the point of ELSER's pruning. Rank order keys on
    * ROUND(w, 6) before the tie-break (the r6 lesson at j38: unrounded
    * tf·idf order can differ between engines at repr boundaries). */
  def j202(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    // read twice (dfreq + the topk join) — persist so the corpus explode
    // + per-doc aggregation runs once; released by the harness clearCache
    val tf = docs.select($"doc_id", explode(split($"text", " ")).as("token"))
      .groupBy($"doc_id", $"token").agg(count(lit(1)).cast("double").as("tf"))
      .persist()
    val dfreq = tf.groupBy($"token").agg(count(lit(1)).cast("double").as("df"))
    val stats = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val wk = Window.partitionBy($"doc_id")
      .orderBy(round($"w", 6).desc, $"token".asc)
    val topk = tf.join(dfreq, "token")
      .crossJoin(broadcast(stats))
      .withColumn("w", $"tf" * log($"n_docs" / $"df"))
      .withColumn("rn", row_number().over(wk)).filter($"rn" <= 8)
    val qv = Seq(("spark", 3.0), ("vector", 2.0), ("stream", 1.5),
      ("slow", 1.0), ("hash", 1.0)).toDF("token", "qw")
    topk.join(broadcast(qv), "token")
      .groupBy($"doc_id")
      .agg(Parity.sortedFoldSum($"w" * $"qw").as("sc"),
        count(lit(1)).as("n_terms"))
      .select($"doc_id", round($"sc", 6).as("score"), $"n_terms")
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(15)
  }

  /** j204_diversified_sampler — the ES `diversified_sampler` agg: a
    * best-N sample (shard_size=40 by relevance, here the deterministic
    * (n_chars DESC, doc_id) order) that first caps each dedup-key's
    * contribution (`field: source`, max_docs_per_value=3) so one
    * dominant source can't monopolize the sample, then feeds downstream
    * aggs — the "cheap diverse preview" device for expensive analyses.
    * Downstream: per-lang count / char mass / first doc over the
    * sample.
    *
    * Scale shape: the diversity cap is a per-source window
    * (source-bounded partitions); the best-N cut plans as
    * TakeOrderedAndProject (a per-partition heap + 40-row merge, never
    * a global sort); the final agg runs over ≤40 rows. At 100 TB the
    * sample stays 40 rows — the whole point of sampler aggs. */
  def j204(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val wdiv = Window.partitionBy($"source")
      .orderBy($"n_chars".desc, $"doc_id".asc)
    Tables.documents(s, d)
      .withColumn("rn", row_number().over(wdiv)).filter($"rn" <= 3)
      .orderBy($"n_chars".desc, $"doc_id".asc).limit(40)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_sampled"), sum($"n_chars").as("sum_chars"),
        min($"doc_id").as("first_doc"))
      .orderBy($"n_sampled".desc, $"lang")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "j197_combined_fields" -> j197,
    "j202_sparse_vector" -> j202,
    "j204_diversified_sampler" -> j204,
    "j67_percentile_ranks" -> j67, "j68_mad" -> j68, "j69_boxplot" -> j69,
    "j70_boosting_query" -> j70, "j71_extended_stats" -> j71,
    "j72_weighted_avg" -> j72, "j73_range_agg" -> j73,
    "j58_pipeline_agg" -> j58, "j59_rare_terms" -> j59,
    "j60_adjacency_matrix" -> j60, "j61_sampler_agg" -> j61,
    "j62_collapse" -> j62, "j63_completion_suggest" -> j63,
    "j64_auto_date_histogram" -> j64,
    "j38_mlt_search" -> j38, "j39_prefix_search" -> j39,
    "j40_highlight" -> j40, "j41_search_after" -> j41,
    "j42_decay_rank" -> j42, "j43_percolate" -> j43,
    "j44_composite_agg" -> j44, "j45_sharded_terms_agg" -> j45,
    "j46_rescore" -> j46, "j47_date_histogram" -> j47,
    "j48_term_suggest" -> j48, "j51_bool_msm" -> j51,
    "j172_query_string" -> j172, "j179_leading_wildcard" -> j179)

  val oracle: Map[String, String] = Map(
    "j202_sparse_vector" ->
      """WITH tf AS (SELECT doc_id, tok AS token, CAST(count(*) AS DOUBLE) AS tf
        |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |                  FROM 'documents.parquet')
        |            GROUP BY 1, 2),
        |df AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM 'documents.parquet'),
        |w AS (SELECT tf.doc_id, tf.token, tf.tf * ln(st.n_docs / df.df) AS w
        |      FROM tf JOIN df ON tf.token = df.token CROSS JOIN st),
        |topk AS (SELECT doc_id, token, w FROM w
        |         QUALIFY row_number() OVER (PARTITION BY doc_id
        |           ORDER BY round(w, 6) DESC, token ASC) <= 8),
        |qv AS (SELECT * FROM (VALUES ('spark', 3.0), ('vector', 2.0),
        |         ('stream', 1.5), ('slow', 1.0), ('hash', 1.0)) AS t(token, qw)),
        |sc AS (SELECT k.doc_id, list_sum(list_sort(list(k.w * qv.qw))) AS score,
        |              CAST(count(*) AS BIGINT) AS n_terms
        |       FROM topk k JOIN qv ON k.token = qv.token GROUP BY 1)
        |SELECT doc_id, round(score, 6) AS score, n_terms
        |FROM sc ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 15""".stripMargin,
    "j204_diversified_sampler" ->
      """WITH ranked AS (
        |  SELECT doc_id, lang, n_chars,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM 'documents.parquet'),
        |div AS (SELECT doc_id, lang, n_chars FROM ranked WHERE rn <= 3
        |        ORDER BY n_chars DESC, doc_id ASC LIMIT 40)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(min(doc_id) AS BIGINT) AS first_doc
        |FROM div GROUP BY 1 ORDER BY n_sampled DESC, lang""".stripMargin,
    "j197_combined_fields" ->
      """WITH dl AS (SELECT doc_id,
        |              CAST(len(string_split(text, ' ')) AS DOUBLE) + 2.0 AS dl
        |            FROM 'documents.parquet'),
        |u AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS w FROM (
        |        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |        FROM 'documents.parquet')
        |      WHERE token IN ('spark', 'src3') GROUP BY 1, 2
        |      UNION ALL
        |      SELECT doc_id, source AS token, 2.0 AS w
        |      FROM 'documents.parquet' WHERE source IN ('spark', 'src3')),
        |tfc AS (SELECT doc_id, token, sum(w) AS tf FROM u GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM tfc GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
        |sc AS (SELECT tfc.doc_id,
        |         ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5)) *
        |           (tfc.tf * 2.2) / (tfc.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS tscore
        |       FROM tfc JOIN dl USING (doc_id) JOIN df USING (token) CROSS JOIN st),
        |agg AS (SELECT doc_id, list_sum(list_sort(list(tscore))) AS s,
        |               count(*) AS n_terms
        |        FROM sc GROUP BY 1)
        |SELECT doc_id, round(s, 6) AS score, n_terms
        |FROM agg ORDER BY round(s, 6) DESC, doc_id ASC LIMIT 15""".stripMargin,
    "j179_leading_wildcard" ->
      """WITH srcs AS (SELECT DISTINCT source FROM 'documents.parquet'
        |              WHERE length(source) >= 3),
        |tri AS (SELECT source, unnest(list_transform(
        |          generate_series(1, length(source) - 2),
        |          i -> substring(source, i, 3))) AS g
        |        FROM srcs),
        |cands AS (SELECT source, count(DISTINCT g) AS ng FROM tri
        |          WHERE g IN ('rc1', 'c19') GROUP BY 1),
        |ver AS (SELECT source FROM cands
        |        WHERE ng = 2 AND contains(source, 'rc19'))
        |SELECT d.source, CAST(count(*) AS BIGINT) AS doc_count,
        |       CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
        |FROM 'documents.parquet' d JOIN ver ON d.source = ver.source
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "j172_query_string" ->
      """SELECT doc_id, lang, source FROM 'documents.parquet'
        |WHERE ((contains(' ' || text || ' ', ' spark join ')
        |        OR list_contains(string_split(text, ' '), 'dup'))
        |  AND lang = 'en' AND NOT starts_with(source, 'src1'))
        |ORDER BY doc_id""".stripMargin,
    "j71_extended_stats" ->
      """WITH a AS (SELECT l_returnflag, count(*) AS n,
        |             min(l_quantity) AS min_q, max(l_quantity) AS max_q,
        |             sum(l_quantity) AS s1,
        |             sum(l_quantity * l_quantity) AS s2,
        |             floor(avg(l_quantity) * 1000000 + 0.5) / 1000000.0 AS avg_q
        |           FROM 'lineitem.parquet' GROUP BY 1),
        |v AS (SELECT *, (s2 - s1 * s1 / n) / (n - 1) AS var_u FROM a)
        |SELECT l_returnflag, n, min_q, max_q,
        |       round(s1, 2) AS sum_q, round(s2, 2) AS sum_sq, avg_q,
        |       floor(var_u * 1000000 + 0.5) / 1000000.0 AS var_q, round(sqrt(var_u), 6) AS sd_q,
        |       round(avg_q + 2.0 * round(sqrt(var_u), 6), 6) AS upper_2sd,
        |       round(avg_q - 2.0 * round(sqrt(var_u), 6), 6) AS lower_2sd
        |FROM v ORDER BY l_returnflag""".stripMargin,
    "j72_weighted_avg" ->
      """SELECT l_returnflag,
        |  floor(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                      CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
        |        / CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
        |        * 1000000 + 0.5) / 1000000.0 AS weighted_avg,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_weight
        |FROM 'lineitem.parquet' GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "j73_range_agg" ->
      """WITH b AS (SELECT CASE WHEN value < 100.0 THEN '*-100.0'
        |                       WHEN value < 250.0 THEN '100.0-250.0'
        |                       ELSE '250.0-*' END AS range_key,
        |             CAST(round(value * 100, 0) AS BIGINT) AS cents
        |           FROM 'events.parquet')
        |SELECT range_key, count(*) AS doc_count,
        |       round(CAST(sum(cents) AS BIGINT) / 100.0, 2) AS sum_value
        |FROM b GROUP BY 1 ORDER BY range_key""".stripMargin,
    "j70_boosting_query" ->
      s"""WITH ${TextOps.bm25InputsSql("IN ('spark', 'slow')")},
         |sc AS (SELECT tf.doc_id,
         |         CASE WHEN tf.token = 'spark' THEN
         |           ${TextOps.Bm25TermSql}
         |         ELSE 0.0 END AS tscore,
         |         CASE WHEN tf.token = 'slow' THEN 1 ELSE 0 END AS neg
         |       FROM tf JOIN dl USING (doc_id)
         |            JOIN df USING (token) CROSS JOIN st),
         |agg AS (SELECT doc_id, list_sum(list_sort(list(tscore))) AS pos,
         |               max(neg) AS neg
         |        FROM sc GROUP BY 1 HAVING list_sum(list_sort(list(tscore))) > 0.0)
         |SELECT doc_id,
         |       round(pos * CASE WHEN neg = 1 THEN 0.5 ELSE 1.0 END, 6) AS score,
         |       CAST(neg AS INT) AS demoted
         |FROM agg
         |ORDER BY score DESC, doc_id ASC LIMIT 15""".stripMargin,
    "j69_boxplot" ->
      """WITH b AS (SELECT event_type,
        |             round(min(value), 6) AS min_v,
        |             round(percentile_cont(0.25) WITHIN GROUP (ORDER BY value), 6) AS q1,
        |             round(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 6) AS q2,
        |             round(percentile_cont(0.75) WITHIN GROUP (ORDER BY value), 6) AS q3,
        |             round(max(value), 6) AS max_v
        |           FROM 'events.parquet' GROUP BY 1)
        |SELECT event_type, min_v, q1, q2, q3, max_v,
        |       round(greatest(min_v, q1 - 1.5 * (q3 - q1)), 6) AS lower_fence,
        |       round(least(max_v, q3 + 1.5 * (q3 - q1)), 6) AS upper_fence
        |FROM b ORDER BY event_type""".stripMargin,
    "j68_mad" ->
      """WITH m AS (SELECT event_type,
        |             percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
        |           FROM 'events.parquet' GROUP BY 1)
        |SELECT e.event_type,
        |       round(max(m.med), 6) AS median_value,
        |       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(e.value - m.med)), 6) AS mad,
        |       count(*) AS n
        |FROM 'events.parquet' e JOIN m USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "j67_percentile_ranks" ->
      """WITH m AS (SELECT count(*) AS n,
        |             count(*) FILTER (WHERE value <= 100.0) AS le100,
        |             count(*) FILTER (WHERE value <= 250.0) AS le250,
        |             count(*) FILTER (WHERE value <= 400.0) AS le400
        |           FROM 'events.parquet'),
        |u AS (SELECT CAST(100.0 AS DOUBLE) AS probe, le100 AS n_le, n FROM m
        |      UNION ALL SELECT CAST(250.0 AS DOUBLE), le250, n FROM m
        |      UNION ALL SELECT CAST(400.0 AS DOUBLE), le400, n FROM m)
        |SELECT probe, floor(100.0 * n_le / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000.0 AS pct_rank
        |FROM u ORDER BY probe""".stripMargin,
    "j58_pipeline_agg" ->
      s"""WITH ${BucketOps.DailySql}
         |SELECT day, doc_count,
         |       doc_count - lag(doc_count) OVER (ORDER BY day) AS deriv,
         |       CAST(sum(doc_count) OVER (ORDER BY day
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |       floor(avg(doc_count) OVER (ORDER BY day
         |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) * 1000000 + 0.5)
         |         / 1000000.0 AS mavg
         |FROM b ORDER BY day""".stripMargin,
    "j59_rare_terms" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(
        |    generate_series(1, len(string_split(text, ' ')) - 2),
        |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS term
        |  FROM 'documents.parquet' WHERE len(string_split(text, ' ')) >= 3),
        |df AS (SELECT term, count(*) AS doc_count FROM sh GROUP BY 1)
        |SELECT term, doc_count FROM df WHERE doc_count <= 2
        |ORDER BY doc_count ASC, term ASC LIMIT 100""".stripMargin,
    "j60_adjacency_matrix" ->
      """WITH f AS (SELECT (lang = 'en') AS a, (n_chars >= 350) AS b,
        |             (source IN ('src0','src1','src2','src3')) AS c
        |           FROM 'documents.parquet'),
        |m AS (SELECT count(*) FILTER (WHERE a) AS ka,
        |             count(*) FILTER (WHERE b) AS kb,
        |             count(*) FILTER (WHERE c) AS kc,
        |             count(*) FILTER (WHERE a AND b) AS kab,
        |             count(*) FILTER (WHERE a AND c) AS kac,
        |             count(*) FILTER (WHERE b AND c) AS kbc FROM f),
        |u AS (SELECT 'A' AS "key", ka AS doc_count FROM m
        |      UNION ALL SELECT 'B', kb FROM m
        |      UNION ALL SELECT 'C', kc FROM m
        |      UNION ALL SELECT 'A&B', kab FROM m
        |      UNION ALL SELECT 'A&C', kac FROM m
        |      UNION ALL SELECT 'B&C', kbc FROM m)
        |SELECT "key", doc_count FROM u WHERE doc_count > 0
        |ORDER BY "key"""".stripMargin,
    "j61_sampler_agg" ->
      """WITH docs AS (SELECT doc_id, source, lang, string_split(text, ' ') AS toks
        |              FROM 'documents.parquet'),
        |dl AS (SELECT doc_id, source, lang, CAST(len(toks) AS DOUBLE) AS dl FROM docs),
        |tf AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS tf
        |       FROM (SELECT doc_id, unnest(toks) AS token FROM docs)
        |       WHERE token = 'spark' GROUP BY 1),
        |d AS (SELECT count(*) AS df FROM tf),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
        |sc AS (SELECT tf.doc_id, dl.source, dl.lang,
        |         round(ln(1.0 + (st.n_docs - d.df + 0.5) / (d.df + 0.5)) *
        |           (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)), 6) AS score
        |       FROM tf JOIN dl USING (doc_id) CROSS JOIN d CROSS JOIN st),
        |div AS (SELECT * FROM sc QUALIFY
        |          row_number() OVER (PARTITION BY source
        |                             ORDER BY score DESC, doc_id ASC) <= 5),
        |samp AS (SELECT * FROM div ORDER BY score DESC, doc_id ASC LIMIT 100)
        |SELECT lang, count(*) AS doc_count, max(score) AS max_score
        |FROM samp GROUP BY 1 ORDER BY 1""".stripMargin,
    "j62_collapse" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |              FROM 'documents.parquet'),
         |dl AS (SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
         |       FROM 'documents.parquet'),
         |tf AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf FROM toks
         |       WHERE token IN ('hash', 'join') GROUP BY 1, 2),
         |${TextOps.Bm25StatsSql},
         |sc AS (SELECT tf.doc_id, dl.source,
         |         ${TextOps.Bm25TermSql} AS tscore
         |       FROM tf JOIN dl USING (doc_id)
         |            JOIN df USING (token) CROSS JOIN st),
         |agg AS (SELECT doc_id, source,
         |               round(list_sum(list_sort(list(tscore))), 6) AS score
         |        FROM sc GROUP BY 1, 2),
         |coll AS (SELECT source, doc_id, score,
         |           count(*) OVER (PARTITION BY source) AS n_hits,
         |           row_number() OVER (PARTITION BY source
         |                              ORDER BY score DESC, doc_id ASC) AS rn
         |         FROM agg)
         |SELECT source, doc_id, score, n_hits FROM coll WHERE rn = 1
         |ORDER BY score DESC, source ASC LIMIT 10""".stripMargin,
    "j63_completion_suggest" ->
      """WITH v AS (SELECT token, count(*) AS freq
        |           FROM (SELECT unnest(string_split(text, ' ')) AS token
        |                 FROM 'documents.parquet') GROUP BY 1),
        |inp(prefix) AS (VALUES ('c'), ('s'), ('w')),
        |c AS (SELECT inp.prefix, v.token AS completion, v.freq,
        |        CAST(row_number() OVER (PARTITION BY inp.prefix
        |               ORDER BY v.freq DESC, v.token ASC) AS BIGINT) AS rn
        |      FROM v JOIN inp ON starts_with(v.token, inp.prefix))
        |SELECT prefix, completion, freq, rn FROM c WHERE rn <= 3
        |ORDER BY prefix ASC, rn ASC""".stripMargin,
    "j64_auto_date_histogram" ->
      """WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |           FROM 'events.parquet'),
        |s AS (SELECT min(us) AS lo, max(us) AS hi FROM e),
        |iv AS (SELECT lo, hi,
        |         CASE WHEN hi - lo < 12 * 3600000000 THEN 3600000000
        |              WHEN hi - lo < 12 * 86400000000 THEN 86400000000
        |              WHEN hi - lo < 12 * 604800000000 THEN 604800000000
        |              WHEN hi - lo < 12 * 2592000000000 THEN 2592000000000
        |              WHEN hi - lo < 12 * 7776000000000 THEN 7776000000000
        |              ELSE 31104000000000 END AS iv,
        |         CASE WHEN hi - lo < 12 * 3600000000 THEN '1h'
        |              WHEN hi - lo < 12 * 86400000000 THEN '1d'
        |              WHEN hi - lo < 12 * 604800000000 THEN '7d'
        |              WHEN hi - lo < 12 * 2592000000000 THEN '30d'
        |              WHEN hi - lo < 12 * 7776000000000 THEN '90d'
        |              ELSE '360d' END AS lbl FROM s),
        |spine AS (SELECT lo, iv, lbl, unnest(generate_series(0, (hi - lo) // iv)) AS b
        |          FROM iv),
        |h AS (SELECT (e.us - iv.lo) // iv.iv AS b, count(*) AS doc_count
        |      FROM e CROSS JOIN iv GROUP BY 1)
        |SELECT make_timestamp(lo + b * iv) AS bucket_start, lbl AS "interval",
        |       coalesce(doc_count, 0) AS doc_count
        |FROM spine LEFT JOIN h USING (b) ORDER BY bucket_start""".stripMargin,
    "j38_mlt_search" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |              FROM 'documents.parquet'),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM 'documents.parquet'),
        |df AS (SELECT token, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
        |       FROM toks GROUP BY 1),
        |src AS (SELECT token, CAST(count(*) AS DOUBLE) AS src_tf
        |        FROM toks WHERE doc_id = 1 GROUP BY 1),
        |terms AS (SELECT src.token, ln(n.n_docs / df.df) AS idf
        |          FROM src JOIN df USING (token) CROSS JOIN n
        |          ORDER BY round(src.src_tf * ln(n.n_docs / df.df), 6) DESC,
        |                   src.token ASC
        |          LIMIT 5),
        |cand AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
        |         FROM toks WHERE doc_id <> 1 GROUP BY 1, 2),
        |sc AS (SELECT cand.doc_id, cand.tf * terms.idf AS tscore
        |       FROM cand JOIN terms USING (token)),
        |agg AS (SELECT doc_id, list_sum(list_sort(list(tscore))) AS s,
        |               count(*) AS n_shared
        |        FROM sc GROUP BY 1)
        |SELECT doc_id, round(s, 6) AS mlt_score, n_shared
        |FROM agg ORDER BY round(s, 6) DESC, doc_id ASC LIMIT 10""".stripMargin,
    "j39_prefix_search" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t
        |           FROM 'documents.parquet'),
        |m AS (SELECT doc_id, t,
        |        list_filter(generate_series(1, len(t) - 1),
        |          i -> t[i] = 'merge' AND starts_with(t[i + 1], 's')) AS hits
        |      FROM t)
        |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_matches,
        |  array_to_string(list_sort(list_distinct(
        |    list_transform(hits, i -> t[i + 1]))), ',') AS completions
        |FROM m WHERE len(hits) >= 1 ORDER BY doc_id""".stripMargin,
    "j40_highlight" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t
        |           FROM 'documents.parquet'),
        |p AS (SELECT doc_id, t, CAST(list_position(t, 'vector') AS BIGINT) AS pos
        |      FROM t)
        |SELECT doc_id, pos,
        |  array_to_string(list_slice(t,
        |    CAST(greatest(pos - 2, 1) AS INT),
        |    CAST(least(pos + 2, len(t)) AS INT)), ' ') AS snippet
        |FROM p WHERE pos IS NOT NULL AND pos > 0
        |ORDER BY doc_id""".stripMargin,
    "j41_search_after" ->
      """SELECT event_id, value, event_type FROM 'events.parquet'
        |WHERE value < 480.0 OR (value = 480.0 AND event_id > 1000)
        |ORDER BY value DESC, event_id ASC LIMIT 20""".stripMargin,
    "j43_percolate" ->
      """WITH qt(query_id, term, n_terms) AS (VALUES
        |  ('q1_spark_join', 'spark', 2), ('q1_spark_join', 'join', 2),
        |  ('q2_vector_window_hash', 'vector', 3),
        |  ('q2_vector_window_hash', 'window', 3),
        |  ('q2_vector_window_hash', 'hash', 3),
        |  ('q3_merge_slow', 'merge', 2), ('q3_merge_slow', 'slow', 2)),
        |toks AS (SELECT DISTINCT doc_id, token FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM 'documents.parquet')),
        |m AS (SELECT qt.query_id, toks.doc_id,
        |        count(*) AS n_hit, CAST(max(qt.n_terms) AS BIGINT) AS n_terms
        |      FROM toks JOIN qt ON toks.token = qt.term GROUP BY 1, 2)
        |SELECT query_id, doc_id, n_terms FROM m
        |WHERE n_hit = n_terms ORDER BY query_id, doc_id""".stripMargin,
    "j44_composite_agg" ->
      """SELECT lang, source, count(*) AS doc_count,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM 'documents.parquet'
        |WHERE lang > 'en' OR (lang = 'en' AND source > 'src12')
        |GROUP BY lang, source ORDER BY lang, source LIMIT 10""".stripMargin,
    "j45_sharded_terms_agg" ->
      """WITH toks AS (SELECT doc_id % 4 AS shard,
        |                     unnest(string_split(text, ' ')) AS token
        |              FROM 'documents.parquet'),
        |cnt AS (SELECT shard, token, count(*) AS c FROM toks GROUP BY 1, 2),
        |loc AS (SELECT shard, token, c FROM cnt
        |        QUALIFY row_number() OVER (
        |          PARTITION BY shard ORDER BY c DESC, token ASC) <= 3),
        |sm AS (SELECT shard, min(c) AS last_c FROM loc GROUP BY 1),
        |tot AS (SELECT sum(last_c) AS all_last FROM sm),
        |ex AS (SELECT token, count(*) AS exact_count FROM toks GROUP BY 1),
        |m AS (SELECT l.token, CAST(sum(l.c) AS BIGINT) AS merged_count,
        |             sum(sm.last_c) AS present_last
        |      FROM loc l JOIN sm USING (shard) GROUP BY 1)
        |SELECT m.token, m.merged_count,
        |       CAST(tot.all_last - m.present_last AS BIGINT) AS error_bound,
        |       ex.exact_count
        |FROM m CROSS JOIN tot JOIN ex USING (token)
        |ORDER BY m.merged_count DESC, m.token ASC LIMIT 5""".stripMargin,
    "j46_rescore" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |              FROM 'documents.parquet'),
         |cand AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS p1 FROM toks
         |         WHERE token = 'spark' GROUP BY 1
         |         ORDER BY p1 DESC, doc_id ASC LIMIT 50),
         |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
         |       FROM 'documents.parquet'),
         |tf AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf FROM toks
         |       WHERE token IN ('spark', 'vector', 'dup') GROUP BY 1, 2),
         |${TextOps.Bm25StatsSql},
         |sc AS (SELECT tf.doc_id, cand.p1,
         |         ${TextOps.Bm25TermSql} AS tscore
         |       FROM tf JOIN cand USING (doc_id) JOIN dl USING (doc_id)
         |            JOIN df USING (token) CROSS JOIN st),
         |agg AS (SELECT doc_id, max(p1) AS p1,
         |               list_sum(list_sort(list(tscore))) AS bm25
         |        FROM sc GROUP BY 1)
         |SELECT doc_id, round(p1 + 2.0 * bm25, 6) AS rescore, round(bm25, 6) AS bm25
         |FROM agg ORDER BY round(p1 + 2.0 * bm25, 6) DESC, doc_id ASC LIMIT 10""".stripMargin,
    "j47_date_histogram" ->
      """WITH e AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |             event_type, value, user_id
        |           FROM 'events.parquet'),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM e),
        |spine AS (SELECT CAST(unnest(generate_series(
        |            CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
        |            INTERVAL 1 DAY)) AS DATE) AS day FROM b),
        |h AS (SELECT day, count(*) AS doc_count,
        |             count(DISTINCT user_id) AS n_users
        |      FROM e WHERE event_type = 'purchase' AND value >= 200.0
        |      GROUP BY 1)
        |SELECT spine.day, coalesce(h.doc_count, 0) AS doc_count,
        |       coalesce(h.n_users, 0) AS n_users
        |FROM spine LEFT JOIN h USING (day) ORDER BY spine.day""".stripMargin,
    "j48_term_suggest" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token
        |              FROM 'documents.parquet'),
        |v AS (SELECT token, count(*) AS freq FROM toks GROUP BY 1),
        |inp(input) AS (VALUES ('sprak'), ('vektor'), ('mrege')),
        |c AS (SELECT inp.input, v.token AS suggestion,
        |        CAST(levenshtein(v.token, inp.input) AS BIGINT) AS dist, v.freq
        |      FROM v CROSS JOIN inp
        |      WHERE abs(len(v.token) - len(inp.input)) <= 2
        |        AND levenshtein(v.token, inp.input) <= 2)
        |SELECT input, suggestion, dist, freq FROM c
        |QUALIFY row_number() OVER (
        |  PARTITION BY input ORDER BY dist ASC, freq DESC, suggestion ASC) <= 3
        |ORDER BY input ASC, dist ASC, freq DESC, suggestion ASC""".stripMargin,
    "j51_bool_msm" ->
      s"""WITH ${TextOps.bm25TokensSql("IN ('spark', 'join', 'vector', 'slow')")},
         |agg AS (SELECT doc_id, count(*) AS n_matched,
         |               list_sum(list_sort(list(tscore))) AS sc
         |        FROM sc GROUP BY 1 HAVING count(*) >= 2)
         |SELECT doc_id, n_matched, round(sc, 6) AS score
         |FROM agg ORDER BY round(sc, 6) DESC, doc_id ASC LIMIT 15""".stripMargin,
    "j42_decay_rank" ->
      """WITH e AS (SELECT event_id, event_type, value,
        |             CAST(1706659200000000 - epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE)
        |               / 86400000000.0 AS dd
        |           FROM 'events.parquet')
        |SELECT event_id, event_type,
        |       round(value * exp(-(dd * dd) / 98.0), 6) AS decayed
        |FROM e
        |ORDER BY round(value * exp(-(dd * dd) / 98.0), 6) DESC, event_id ASC
        |LIMIT 20""".stripMargin)
}
