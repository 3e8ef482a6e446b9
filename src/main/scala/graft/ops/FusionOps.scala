package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 fourth wave — hybrid retrieval and corpus/event analytics that
  * close the remaining "a search+pipeline team runs this weekly" gaps:
  * RRF hybrid rank fusion (the ES 8.x `rrf` retriever), leakage-safe
  * train/val/test splitting over near-dup clusters, weighted sampling
  * (sequential Poisson — Ohlsson 1998), cohort retention over the event
  * stream, the ES `children` aggregation and `date_range` aggregation,
  * `span_not`, and per-user inter-arrival (burstiness) statistics.
  *
  * Shared disciplines: ranking cuts order on ROUNDED scores with id
  * tiebreaks (j38's rule); pseudo-randomness is the md5-nibble device
  * (Hashing.nibbleInt, mirrored strpos-for-strpos in every oracle);
  * money rides BIGINT cents; epoch arithmetic runs in the `ts_us` long
  * domain (Tables.eventsUs). Every operator here composes the engine's
  * existing single-source frames (TextOps.bm25Frames, VectorOps.cosCol,
  * TextOps.j21) instead of restating them, so the audited pipeline and
  * its consumer cannot drift.
  */
object FusionOps {

  // ---------- j139 RRF hybrid rank fusion ----------

  /** j139_rrf_fusion — the ES 8.x `rrf` retriever: fuse a lexical BM25
    * ranking (j34's query, top-20) with a semantic kNN ranking (j4's
    * cosine leg over the embedding table, top-20) by Reciprocal Rank
    * Fusion: score(d) = Σ_legs 1/(60 + rank_leg(d)), rank_constant 60 =
    * ES's default. Docs appearing in only one leg keep that leg's
    * contribution (the other coalesces to 0) — exactly ES's union
    * semantics. Both leg rankings cut on the ROUNDED leg score with id
    * tiebreak (j38's rule) so the fused set is engine-identical.
    *
    * Scale shape: each leg is a TakeOrderedAndProject over its own
    * pipeline (the BM25 leg pays j34's postings aggregate, the kNN leg a
    * single scan — at 100 TB the j20 IVF path would replace brute force);
    * the fusion itself is a full-outer join of two ≤20-row frames — free
    * at any scale. */
  def j139(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lex = TextOps.bm25Frames(Tables.documents(s, d),
        Seq("spark", "vector", "dup")).scored
      .groupBy($"doc_id")
      .agg(Parity.sortedFoldSum($"tscore").as("sc"))
      .select($"doc_id", round($"sc", 6).as("bm25"))
      .orderBy($"bm25".desc, $"doc_id".asc)
      .limit(20) // TakeOrdered — the unpartitioned rank below sees ≤20 rows
      .withColumn("lex_rank", row_number()
        .over(Window.orderBy($"bm25".desc, $"doc_id".asc)).cast("long"))
      .select($"doc_id", $"lex_rank")
    val sem = Tables.embeddings(s, d)
      .select($"vec_id".as("doc_id"), VectorOps.cosCol.as("cos_q"))
      .orderBy($"cos_q".desc, $"doc_id".asc)
      .limit(20)
      .withColumn("sem_rank", row_number()
        .over(Window.orderBy($"cos_q".desc, $"doc_id".asc)).cast("long"))
      .select($"doc_id", $"sem_rank")
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select($"doc_id", $"lex_rank", $"sem_rank",
        Parity.round6(coalesce(lit(1.0) / (lit(60) + $"lex_rank"), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + $"sem_rank"), lit(0.0)))
          .as("rrf_score"))
      .orderBy($"rrf_score".desc, $"doc_id".asc)
      .limit(10)
  }

  // ---------- j140 leakage-safe cluster split ----------

  /** j140_cluster_split — train/val/test splitting that cannot leak
    * near-duplicates across splits: assign each document's whole near-dup
    * CLUSTER (j21 invoked verbatim; docs in no cluster are singletons)
    * to a split by hashing the cluster id — a doc-level hash split (j23)
    * would put two near-identical docs on opposite sides of the
    * train/test fence, the classic contamination bug group-aware
    * splitting exists to prevent. Reports, per split, the doc count,
    * cluster count, docs living in multi-member clusters, and the largest
    * cluster — the numbers a data audit reads to confirm no straddle
    * (straddle is impossible by construction: the split key is a pure
    * function of cluster_id).
    *
    * Scale shape: j21's machinery (bucketed candidates + pointer-jumped
    * label propagation) plus one doc-keyed left join and two map-combined
    * aggregations — nothing here outgrows j21 itself. */
  def j140(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val clusters = TextOps.j21(s, d) // (doc_id, cluster_id) — paired docs only
    // SHUFFLE_HASH: the cluster table is a checkpointed (stat-less) frame,
    // so the planner sort-merges this join — two sorts of the corpus id
    // column for a hash-key lookup (r15's keep-rule: SHJ where the
    // alternative is SMJ; the build side is bounded by near-dup docs)
    val all = Tables.documents(s, d).select($"doc_id")
      .join(clusters.hint("SHUFFLE_HASH"), Seq("doc_id"), "left_outer")
      .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("cluster_id"))
      .withColumn("h", md5(concat(lit("cs:"), $"cluster_id".cast("string"))))
      .withColumn("bucket", expr(s"${Hashing.nibbleInt("h")} % 100"))
      .withColumn("split",
        when($"bucket" < 80, "train")
          .when($"bucket" < 90, "validation")
          .otherwise("test"))
    all.groupBy($"split", $"cluster_id")
      .agg(count(lit(1)).as("sz"))
      .groupBy($"split")
      .agg(sum($"sz").as("n_docs"),
        count(lit(1)).as("n_clusters"),
        sum(when($"sz" > 1, $"sz").otherwise(0L)).as("n_grouped_docs"),
        max($"sz").as("max_cluster_size"))
      .orderBy($"split")
  }

  // ---------- j141 weighted sampling ----------

  /** j141_weighted_sample — weight-proportional sampling without
    * replacement by sequential Poisson sampling (Ohlsson 1998, the
    * order-sampling scheme production ETL uses for top-k weighted draws):
    * draw u ∈ (0,1) per doc, rank by u/w ascending, keep the first k.
    * Weight = n_chars (longer docs proportionally likelier). u is the
    * seedless md5-nibble draw (j23/j95 discipline): 6 nibbles → u =
    * (nib + 0.5)/16^6 — so the "random" order is a pure function of
    * doc_id, bit-identical in both engines; the ranking key is two IEEE
    * divisions of exactly-representable operands, so the selected SET is
    * deterministic, not merely tolerance-close.
    *
    * Scale shape: the draw and key are row-local; the k-cut is one
    * TakeOrderedAndProject. This is the scale path for weighted
    * subsampling at 100 TB — no per-group windows, no global sort. */
  def j141(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .withColumn("h", md5(concat(lit("ws:"), $"doc_id".cast("string"))))
      .withColumn("u",
        (expr(Hashing.nibbleInt("h", 6)).cast("double") + 0.5d) / 16777216.0d)
      .withColumn("key", $"u" / $"n_chars".cast("double"))
      .orderBy($"key".asc, $"doc_id".asc)
      .limit(30)
      .select($"doc_id", $"n_chars".as("weight"),
        round($"key", 9).as("draw_key"))
      .orderBy($"doc_id")
  }

  // ---------- j142 cohort retention ----------

  /** j142_cohort_retention — the standard product-analytics cohort table
    * over the event stream: cohort = the ISO-agnostic week index
    * (epoch-µs div one week — pure integer arithmetic, no calendar) of a
    * user's FIRST event; for each (cohort, week_offset) cell, the
    * distinct users active that week and the retention percentage vs the
    * cohort's week-0 size.
    *
    * Scale shape: first-event is a map-combined min per user; the
    * cohort-tag join is user-keyed (co-partitioned with the groupBy that
    * follows); the distinct-user count per cell is the standard two-level
    * expansion; the week-0 base rides a cohort-partitioned window whose
    * partitions are bounded by the number of week offsets, not by data. */
  def j142(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wk = Tables.eventsUs(s, d)
      .select($"user_id", expr("ts_us div 604800000000").as("week_idx"))
    val cohort = wk.groupBy($"user_id").agg(min($"week_idx").as("cohort_week"))
    val cells = wk.join(cohort, "user_id")
      .groupBy($"cohort_week", ($"week_idx" - $"cohort_week").as("week_offset"))
      .agg(countDistinct($"user_id").as("n_active"))
    val base = Window.partitionBy($"cohort_week")
    cells
      .withColumn("cohort_size",
        max(when($"week_offset" === 0, $"n_active")).over(base))
      .select($"cohort_week", $"week_offset", $"n_active",
        Parity.round6($"n_active".cast("double") / $"cohort_size" * 100)
          .as("retention_pct"))
      .orderBy($"cohort_week", $"week_offset")
  }

  // ---------- j143 ES children aggregation ----------

  /** j143_children_agg — the ES `children` aggregation (the agg-side dual
    * of j131's has_child QUERY): bucket by a PARENT field
    * (o_orderpriority terms) and aggregate metrics over each bucket's
    * CHILD documents (lineitems) — parent count, child count, child
    * quantity, child revenue (BIGINT cents, the money discipline).
    *
    * Scale shape: one equi-join on the parent key (orderkey — AQE-planned
    * shuffle join of co-keyed sides) and one 5-group map-combined
    * aggregate; the distinct-parent count expands over (priority,
    * orderkey) — bounded by the orders table, never child-multiplied. */
  def j143(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d).select($"o_orderkey", $"o_orderpriority")
      .join(Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_quantity", $"l_extendedprice"),
        $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderpriority")
      .agg(countDistinct($"o_orderkey").as("n_parents"),
        count(lit(1)).as("n_children"),
        round(sum($"l_quantity"), 6).as("sum_qty"),
        sum(expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)"))
          .as("revenue_cents"))
      .orderBy($"o_orderpriority")
  }

  // ---------- j277 ES parent aggregation ----------

  /** j277_parent_agg — the ES `parent` aggregation (j143's inverse: that
    * one buckets by a PARENT field and aggregates children; this one
    * buckets by a CHILD field — l_returnflag terms — and rolls UP to the
    * parents): per child bucket, the DISTINCT parent count and the
    * parent-level value where each parent counts ONCE per bucket no
    * matter how many of its children matched (ES's join-field upward
    * semantics — double-counting a parent per child is exactly the bug
    * the agg exists to avoid), beside the raw child count.
    *
    * Scale shape: the (bucket, parent) dedup is a map-combinable
    * distinct BEFORE the parent join (candidate pairs ≤ |parents|·
    * |buckets|, never child-multiplied), the join is co-keyed on
    * orderkey, and the final agg is |buckets| rows. */
  def j277(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d).select($"l_orderkey", $"l_returnflag")
    val children = li.groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_children"))
    val parents = li.distinct()
      .join(Tables.orders(s, d).select($"o_orderkey", $"o_totalprice"),
        $"o_orderkey" === $"l_orderkey")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_parents"),
        Parity.money(sum(Parity.dec2($"o_totalprice"))).as("parent_value"))
    parents.join(children, Seq("l_returnflag"))
      .select($"l_returnflag", $"n_children", $"n_parents", $"parent_value")
      .orderBy($"l_returnflag")
  }

  // ---------- j144 ES date_range aggregation ----------

  /** j144_date_range_agg — the ES `date_range` aggregation with keyed
    * half-open ranges (`from` inclusive, `to` exclusive) and unbounded
    * edge ranges: early [−∞, t1), mid [t1, t2), late [t2, +∞), where
    * t1/t2 split the observed event span in integer-µs thirds (the
    * j64/j103 data-dependent-but-deterministic device — fixed absolute
    * dates would go vacuous when the driver regenerates the fixture
    * window). Per bucket: the from/to epochs, doc count, value cents, and
    * distinct users.
    *
    * Scale shape: the span is ONE 1-row aggregate riding a broadcast
    * (BroadcastNestedLoopJoin of a single row); bucket classification is
    * row-local; the final aggregate has 3 groups and map-combines. ES
    * fidelity (r6 ADVICE): every configured range is ALWAYS emitted, even
    * with doc_count 0 — observed buckets left-join onto a static 3-row
    * range spine derived from the same span aggregate, zeros coalesced
    * in (the j47 min_doc_count=0 discipline). */
  def j144(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.eventsUs(s, d)
    val span = e.agg(min($"ts_us").as("lo"), max($"ts_us").as("hi"))
      .withColumn("t1", $"lo" + expr("(hi - lo) div 3"))
      .withColumn("t2", $"lo" + expr("2 * ((hi - lo) div 3)"))
    val spine = span.select(explode(array(
      struct(lit("early").as("range_key"),
        lit(null).cast("long").as("from_us"), $"t1".as("to_us")),
      struct(lit("mid").as("range_key"),
        $"t1".as("from_us"), $"t2".as("to_us")),
      struct(lit("late").as("range_key"),
        $"t2".as("from_us"), lit(null).cast("long").as("to_us")))).as("r"))
      .select($"r.*")
    val obs = e.crossJoin(broadcast(span))
      .withColumn("range_key",
        when($"ts_us" < $"t1", "early")
          .when($"ts_us" < $"t2", "mid")
          .otherwise("late"))
      .groupBy($"range_key")
      .agg(
        count(lit(1)).as("dc"),
        sum(expr("CAST(round(value * 100, 0) AS BIGINT)")).as("vc"),
        countDistinct($"user_id").as("nu"))
    spine.join(obs, Seq("range_key"), "left_outer")
      .select($"range_key", $"from_us", $"to_us",
        coalesce($"dc", lit(0L)).as("doc_count"),
        coalesce($"vc", lit(0L)).as("value_cents"),
        coalesce($"nu", lit(0L)).as("n_users"))
      .orderBy($"range_key")
  }

  // ---------- j145 span_not ----------

  /** j145_span_not — the ES `span_not` query: occurrences of the include
    * term ('spark') that are NOT within `pre`/`post` = 2 positions of any
    * exclude term ('slow'); a doc matches when at least one occurrence
    * survives. Reports per matching doc the total, surviving, and
    * excluded occurrence counts.
    *
    * Scale shape: the j84/j99/j125 corpus-linear family over
    * [[TextOps.spanMatches]] — position lists and the exclusion test are
    * row-local; ZERO exchanges before the final presentation sort
    * (PlanSpec-pinned). Cost per row is O(|spark| · |slow|) on per-doc
    * occurrence counts, not document length squared. */
  def j145(s: SparkSession, d: String): DataFrame =
    TextOps.spanMatches(s, d,
      Seq("inc" -> "span_pos(toks, 'spark')", "exc" -> "span_pos(toks, 'slow')"),
      Seq("n_spark" -> "size(inc)",
        "n_kept" -> "size(filter(inc, x -> !exists(exc, y -> abs(x - y) <= 2)))",
        "n_excluded" -> "size(inc) - n_kept"),
      keep = "n_kept > 0")

  // ---------- j146 inter-arrival statistics ----------

  /** j146_interarrival_stats — per-user inter-arrival (burstiness)
    * statistics over the event stream: for the 20 most active users, the
    * gap count, mean / median / max gap in whole seconds. Gaps run in the
    * integer-seconds domain (µs div 10⁶) so every aggregate is exact
    * cross-engine: the mean's sum is an exact-integer double, and linear
    * percentile interpolation over integer doubles is exact arithmetic in
    * both engines (ADVICE r5's var/stddev order-dependence lesson —
    * central-moment aggregates are avoided by construction).
    *
    * Scale shape: one user-partitioned window (lag) feeding a
    * user-keyed aggregate — the exchange is shared between them (same
    * key), then a TakeOrderedAndProject cut. */
  def j146(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_us".asc, $"event_id".asc)
    Tables.eventsUs(s, d)
      .select($"user_id", $"event_id", $"ts_us")
      .withColumn("prev", lag($"ts_us", 1).over(w))
      .filter($"prev".isNotNull)
      .withColumn("gap_s", expr("(ts_us - prev) div 1000000"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_gaps"),
        round(avg($"gap_s"), 6).as("mean_gap_s"),
        round(expr("percentile(gap_s, 0.5)"), 6).as("median_gap_s"),
        max($"gap_s").as("max_gap_s"))
      .orderBy($"n_gaps".desc, $"user_id".asc)
      .limit(20)
  }

  // ---------- j147 linear retriever (min-max normalized hybrid) ----------

  /** j147_linear_retriever — ES 8.16's `retriever: linear`, the OTHER
    * hybrid-search combiner beside j139's RRF: each leg's top-20 scores
    * are min-max normalized over that leg's result window, then combined
    * as 0.7·lex + 0.3·sem (missing leg contributes 0 — union semantics).
    * Unlike RRF this keeps score MAGNITUDE information (a runaway
    * top hit stays far ahead after normalization; RRF flattens it to
    * 1/61 vs 1/62). Norms are rounded to 6dp BEFORE the weighted sum, so
    * the combination is arithmetic over engine-identical inputs. A
    * degenerate leg (max = min) normalizes to 1.0 — every doc in the
    * window is equally a top hit.
    *
    * Scale shape: j139's exactly — legs are TakeOrdered cuts, the
    * min/max is a 1-row aggregate OVER THE ≤20-ROW window riding a
    * broadcast, the fusion join sees two ≤20-row frames at any corpus
    * size. */
  def j147(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def minmax(leg: DataFrame, score: String, normName: String): DataFrame = {
      val stats = leg.agg(min(col(score)).as("mn"), max(col(score)).as("mx"))
      leg.crossJoin(broadcast(stats))
        .select($"doc_id",
          round(when($"mx" > $"mn",
            (col(score) - $"mn") / ($"mx" - $"mn")).otherwise(lit(1.0d)), 6)
            .as(normName))
    }
    val lex = minmax(
      TextOps.bm25Frames(Tables.documents(s, d), Seq("spark", "vector", "dup"))
        .scored
        .groupBy($"doc_id")
        .agg(Parity.sortedFoldSum($"tscore").as("sc"))
        .select($"doc_id", round($"sc", 6).as("bm25"))
        .orderBy($"bm25".desc, $"doc_id".asc).limit(20),
      "bm25", "lex_norm")
    val sem = minmax(
      Tables.embeddings(s, d)
        .select($"vec_id".as("doc_id"), VectorOps.cosCol.as("cos_q"))
        .orderBy($"cos_q".desc, $"doc_id".asc).limit(20),
      "cos_q", "sem_norm")
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select($"doc_id", $"lex_norm", $"sem_norm",
        round(lit(0.7d) * coalesce($"lex_norm", lit(0.0d)) +
          lit(0.3d) * coalesce($"sem_norm", lit(0.0d)), 6).as("lin_score"))
      .orderBy($"lin_score".desc, $"doc_id".asc)
      .limit(10)
  }

  // ---------- j148 cross-source duplication overlap ----------

  /** j148_source_overlap — "how much of source A duplicates source B":
    * j2's near-dup pairs (the shared pairStats pipeline, invoked — not
    * restated) tagged with each side's `source` and aggregated per
    * unordered source pair — the matrix a curation team reads before
    * deciding which feed to drop, since removing the smaller side of a
    * heavily-overlapping pair costs almost no unique data. Within-source
    * rows (src1 = src2) measure internal duplication.
    *
    * Scale shape: j2's machinery (df-capped inverted index, never
    * doc×doc) plus two doc-keyed joins against the (doc_id, source)
    * projection and a source²-bounded aggregate. */
  def j148(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // nearDupPairs leaves its shingle relation persist()ed (the j2/j7
    // precedent — harness clearCache releases it); the pair frame is
    // consumed once by the tag-join chain, so no materialization barrier
    // is needed. A localCheckpoint here would pin RDD blocks clearCache
    // cannot see (the j21 doc's caveat — the j66 leak lesson).
    val pairs = TextOps.nearDupPairs(s, d)
      .select($"d1", $"d2", Parity.round6($"jac").as("jaccard"))
    val src = Tables.documents(s, d).select($"doc_id", $"source")
    pairs
      .join(src.select($"doc_id".as("d1"), $"source".as("s1")), "d1")
      .join(src.select($"doc_id".as("d2"), $"source".as("s2")), "d2")
      .groupBy(least($"s1", $"s2").as("src1"), greatest($"s1", $"s2").as("src2"))
      .agg(count(lit(1)).as("n_pairs"),
        // near-dup pair counts per source pair grow with the corpus —
        // quantized exact sum, not a collected list (r13 audit)
        Parity.qsum($"jaccard").as("js"))
      .select($"src1", $"src2", $"n_pairs",
        Parity.round6($"js" / $"n_pairs").as("mean_jaccard"))
      .orderBy($"src1", $"src2")
  }

  // ---------- j149 tokenizer vocabulary coverage (OOV rate) ----------

  /** j149_oov_rate — vocabulary-coverage audit: fix the vocabulary to the
    * corpus's top-20 tokens by frequency (ties broken lexicographically)
    * and report, per language, the out-of-vocabulary token mass and type
    * count — the first number a tokenizer migration checks (a vocab that
    * covers 99% of en mass but 80% of de mass will inflate de sequence
    * lengths, j124's fertility effect, before training even starts).
    * Vocab size 20 is fixture-measured (j116's discipline): the synthetic
    * corpus has exactly 31 token types, so ≥40 covers everything (a
    * vacuous audit — every rate 0.0) while 20 leaves 31–34% OOV mass with
    * real per-lang variation; a production run would pass 32k–50k, the
    * mechanism is unchanged.
    *
    * Scale shape: the corpus reduces ONCE to the (lang, token) count
    * aggregate (map-combined, vocabulary-bounded keys — the j24/j35
    * discipline); corpus totals derive from that aggregate, the
    * top-VOCAB_SIZE cut (20 here, 32k–50k in production) is a
    * TakeOrdered, and the membership join is a broadcast of that many
    * rows onto the vocabulary-sized frame. The corpus token stream is
    * never joined or shuffled. */
  def j149(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lt = Tables.documents(s, d)
      .select($"lang", explode(split($"text", " ")).as("token"))
      .groupBy($"lang", $"token").agg(count(lit(1)).as("cnt"))
    val vocab = lt.groupBy($"token").agg(sum($"cnt").as("tot"))
      .orderBy($"tot".desc, $"token".asc).limit(20)
      .select($"token", lit(true).as("in_vocab"))
    lt.join(broadcast(vocab), Seq("token"), "left_outer")
      .withColumn("oov", $"in_vocab".isNull)
      .groupBy($"lang")
      .agg(sum($"cnt").as("n_tokens"),
        sum(when($"oov", $"cnt").otherwise(0L)).as("n_oov_tokens"),
        count(lit(1)).as("n_types"),
        sum(when($"oov", 1L).otherwise(0L)).as("n_oov_types"))
      .select($"lang", $"n_tokens", $"n_oov_tokens",
        Parity.round6($"n_oov_tokens".cast("double") / $"n_tokens".cast("double"))
          .as("oov_rate"),
        $"n_types", $"n_oov_types")
      .orderBy($"lang")
  }

  // ---------- j150 quality-signal agreement ----------

  /** j150_quality_agreement — do the engine's two quality signals agree?
    * Per (lang, qualityLogit-decile), the Gopher rule-battery pass rate
    * (both signals are the SHARED single-source definitions:
    * CurationOps.qualityLogit and CorpusQualityOps.gopherPass — the same
    * Columns j65/j133/curateStreamReleasable and j115/gopherGateStream gate on).
    * A well-calibrated pair shows pass_rate rising with decile; flat or
    * inverted bands are where the two filters would fight each other in
    * a curation chain. Deciles are per-lang ntile over (score, doc_id) —
    * j112's device, a total order so both engines bucket identically.
    *
    * Scale shape: the logit and the rule flags are row-local; the decile
    * window and the (lang, decile) aggregate share the per-lang exchange
    * (j112's envelope — lang partitions are corpus-linear but
    * per-partition work is a sort, the honest cost of rank-based
    * deciles; fixed score BANDS would be exchange-free but
    * distribution-dependent). */
  def j150(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"lang").orderBy($"score".asc, $"doc_id".asc)
    Tables.documents(s, d)
      .select($"lang", $"doc_id", $"n_chars",
        CurationOps.qualityLogit($"text").as("score"),
        split($"text", " ").as("toks"))
      .withColumn("gpass", CorpusQualityOps.gopherPass)
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy($"lang", $"decile")
      .agg(count(lit(1)).as("n_docs"),
        sum($"gpass".cast("long")).as("n_gopher_pass"),
        // (lang, decile) cells are corpus-unbounded — quantized exact
        // sum (r13 audit, the j112 shape)
        Parity.qsum($"score").as("ss"))
      .select($"lang", $"decile", $"n_docs", $"n_gopher_pass",
        Parity.round6($"n_gopher_pass".cast("double") / $"n_docs".cast("double"))
          .as("gopher_pass_rate"),
        Parity.round6($"ss" / $"n_docs").as("mean_score"))
      .orderBy($"lang", $"decile")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "j139_rrf_fusion" -> j139, "j140_cluster_split" -> j140,
    "j141_weighted_sample" -> j141, "j142_cohort_retention" -> j142,
    "j143_children_agg" -> j143, "j277_parent_agg" -> j277, "j144_date_range_agg" -> j144,
    "j145_span_not" -> j145, "j146_interarrival_stats" -> j146,
    "j147_linear_retriever" -> j147, "j148_source_overlap" -> j148,
    "j149_oov_rate" -> j149, "j150_quality_agreement" -> j150)

  val oracle: Map[String, String] = Map(
    "j139_rrf_fusion" ->
      s"""WITH ${TextOps.Bm25Sql},
         |agg AS (SELECT doc_id, round(list_sum(list_sort(list(tscore))), 6) AS bm25
         |        FROM sc GROUP BY 1),
         |lexr AS (SELECT doc_id,
         |           CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS lex_rank
         |         FROM agg QUALIFY lex_rank <= 20),
         |cos AS (SELECT vec_id AS doc_id,
         |          ${VectorOps.cosSql} AS cos_q
         |        FROM 'embeddings.parquet'),
         |semr AS (SELECT doc_id,
         |           CAST(row_number() OVER (ORDER BY cos_q DESC, doc_id ASC) AS BIGINT) AS sem_rank
         |         FROM cos QUALIFY sem_rank <= 20)
         |SELECT doc_id, l.lex_rank, r.sem_rank,
         |       floor((coalesce(1.0 / (60 + l.lex_rank), 0.0) +
         |             coalesce(1.0 / (60 + r.sem_rank), 0.0)) * 1000000 + 0.5)
         |         / 1000000.0 AS rrf_score
         |FROM lexr l FULL JOIN semr r USING (doc_id)
         |ORDER BY rrf_score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "j140_cluster_split" ->
      s"""WITH RECURSIVE ${TextOps.ClusterSql},
         |alldocs AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
         |            FROM 'documents.parquet' d LEFT JOIN cl ON d.doc_id = cl.doc_id),
         |b AS (SELECT doc_id, cluster_id,
         |        ${Hashing.duckNibble("md5('cs:' || CAST(cluster_id AS VARCHAR))")} % 100 AS bucket
         |      FROM alldocs),
         |sp AS (SELECT CASE WHEN bucket < 80 THEN 'train'
         |                   WHEN bucket < 90 THEN 'validation'
         |                   ELSE 'test' END AS split, cluster_id FROM b),
         |pc AS (SELECT split, cluster_id, count(*) AS sz FROM sp GROUP BY 1, 2)
         |SELECT split, CAST(sum(sz) AS BIGINT) AS n_docs, count(*) AS n_clusters,
         |       CAST(sum(CASE WHEN sz > 1 THEN sz ELSE 0 END) AS BIGINT) AS n_grouped_docs,
         |       max(sz) AS max_cluster_size
         |FROM pc GROUP BY 1 ORDER BY 1""".stripMargin,
    "j141_weighted_sample" ->
      s"""WITH k AS (SELECT doc_id, n_chars,
         |             ((${Hashing.duckNibble("md5('ws:' || CAST(doc_id AS VARCHAR))", 6)} + 0.5) / 16777216.0)
         |               / CAST(n_chars AS DOUBLE) AS key
         |           FROM 'documents.parquet')
         |SELECT doc_id, n_chars AS weight, round(key, 9) AS draw_key
         |FROM k
         |QUALIFY row_number() OVER (ORDER BY key ASC, doc_id ASC) <= 30
         |ORDER BY doc_id""".stripMargin,
    "j142_cohort_retention" ->
      """WITH wk AS (SELECT user_id, epoch_us(ts) // 604800000000 AS week_idx
        |            FROM 'events.parquet'),
        |c AS (SELECT user_id, min(week_idx) AS cohort_week FROM wk GROUP BY 1),
        |cells AS (SELECT c.cohort_week, wk.week_idx - c.cohort_week AS week_offset,
        |            count(DISTINCT wk.user_id) AS n_active
        |          FROM wk JOIN c USING (user_id) GROUP BY 1, 2),
        |wb AS (SELECT *, max(CASE WHEN week_offset = 0 THEN n_active END)
        |         OVER (PARTITION BY cohort_week) AS cohort_size
        |       FROM cells)
        |SELECT cohort_week, week_offset, n_active,
        |       floor(CAST(n_active AS DOUBLE) / cohort_size * 100 * 1000000 + 0.5) / 1000000.0 AS retention_pct
        |FROM wb ORDER BY cohort_week, week_offset""".stripMargin,
    "j277_parent_agg" ->
      """WITH ch AS (SELECT l_returnflag, count(*) AS n_children
        |           FROM 'lineitem.parquet' GROUP BY 1),
        |pr AS (SELECT d.l_returnflag, count(*) AS n_parents,
        |         CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,2))), 2)
        |           AS DOUBLE) AS parent_value
        |       FROM (SELECT DISTINCT l_orderkey, l_returnflag
        |             FROM 'lineitem.parquet') d
        |       JOIN 'orders.parquet' o ON o.o_orderkey = d.l_orderkey
        |       GROUP BY 1)
        |SELECT pr.l_returnflag, ch.n_children, pr.n_parents, pr.parent_value
        |FROM pr JOIN ch USING (l_returnflag)
        |ORDER BY pr.l_returnflag""".stripMargin,
    "j143_children_agg" ->
      """SELECT o.o_orderpriority, count(DISTINCT o.o_orderkey) AS n_parents,
        |       count(*) AS n_children,
        |       round(sum(l.l_quantity), 6) AS sum_qty,
        |       CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
        |         AS BIGINT) AS revenue_cents
        |FROM 'orders.parquet' o JOIN 'lineitem.parquet' l
        |  ON o.o_orderkey = l.l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "j144_date_range_agg" ->
      """WITH e AS (SELECT epoch_us(ts) AS ts_us, user_id, value
        |           FROM 'events.parquet'),
        |bnd AS (SELECT min(ts_us) AS lo, max(ts_us) AS hi,
        |          min(ts_us) + (max(ts_us) - min(ts_us)) // 3 AS t1,
        |          min(ts_us) + 2 * ((max(ts_us) - min(ts_us)) // 3) AS t2
        |        FROM e),
        |spine AS (
        |  SELECT 'early' AS range_key, CAST(NULL AS BIGINT) AS from_us,
        |         t1 AS to_us FROM bnd
        |  UNION ALL SELECT 'mid', t1, t2 FROM bnd
        |  UNION ALL SELECT 'late', t2, CAST(NULL AS BIGINT) FROM bnd),
        |kb AS (SELECT e.*, CASE WHEN ts_us < bnd.t1 THEN 'early'
        |                        WHEN ts_us < bnd.t2 THEN 'mid'
        |                        ELSE 'late' END AS range_key
        |       FROM e CROSS JOIN bnd),
        |obs AS (SELECT range_key, count(*) AS dc,
        |          CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |            AS vc,
        |          count(DISTINCT user_id) AS nu
        |        FROM kb GROUP BY 1)
        |SELECT s.range_key, s.from_us, s.to_us,
        |       CAST(coalesce(o.dc, 0) AS BIGINT) AS doc_count,
        |       CAST(coalesce(o.vc, 0) AS BIGINT) AS value_cents,
        |       CAST(coalesce(o.nu, 0) AS BIGINT) AS n_users
        |FROM spine s LEFT JOIN obs o ON s.range_key = o.range_key
        |ORDER BY 1""".stripMargin,
    "j145_span_not" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM 'documents.parquet'),
        |p AS (SELECT doc_id,
        |        list_filter(generate_series(1, len(toks)), x -> toks[x] = 'spark') AS inc,
        |        list_filter(generate_series(1, len(toks)), x -> toks[x] = 'slow') AS exc
        |      FROM t),
        |k AS (SELECT doc_id, len(inc) AS n_spark,
        |        len(list_filter(inc, x ->
        |          len(list_filter(exc, y -> abs(x - y) <= 2)) = 0)) AS n_kept
        |      FROM p WHERE len(inc) > 0)
        |SELECT doc_id, CAST(n_spark AS BIGINT) AS n_spark,
        |       CAST(n_kept AS BIGINT) AS n_kept,
        |       CAST(n_spark - n_kept AS BIGINT) AS n_excluded
        |FROM k WHERE n_kept > 0 ORDER BY doc_id""".stripMargin,
    "j147_linear_retriever" ->
      s"""WITH ${TextOps.Bm25Sql},
         |agg AS (SELECT doc_id, round(list_sum(list_sort(list(tscore))), 6) AS bm25
         |        FROM sc GROUP BY 1),
         |lexw AS (SELECT doc_id, bm25 FROM agg
         |         QUALIFY row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) <= 20),
         |lexs AS (SELECT min(bm25) AS mn, max(bm25) AS mx FROM lexw),
         |lexn AS (SELECT doc_id,
         |           round(CASE WHEN mx > mn THEN (bm25 - mn) / (mx - mn)
         |                      ELSE 1.0 END, 6) AS lex_norm
         |         FROM lexw CROSS JOIN lexs),
         |cos AS (SELECT vec_id AS doc_id,
         |          ${VectorOps.cosSql} AS cos_q
         |        FROM 'embeddings.parquet'),
         |semw AS (SELECT doc_id, cos_q FROM cos
         |         QUALIFY row_number() OVER (ORDER BY cos_q DESC, doc_id ASC) <= 20),
         |sems AS (SELECT min(cos_q) AS mn, max(cos_q) AS mx FROM semw),
         |semn AS (SELECT doc_id,
         |           round(CASE WHEN mx > mn THEN (cos_q - mn) / (mx - mn)
         |                      ELSE 1.0 END, 6) AS sem_norm
         |         FROM semw CROSS JOIN sems)
         |SELECT doc_id, l.lex_norm, r.sem_norm,
         |       round(0.7 * coalesce(l.lex_norm, 0.0) +
         |             0.3 * coalesce(r.sem_norm, 0.0), 6) AS lin_score
         |FROM lexn l FULL JOIN semn r USING (doc_id)
         |ORDER BY lin_score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "j148_source_overlap" ->
      s"""WITH ${TextOps.PairStatsSql},
         |pr AS (${TextOps.NearDupJaccardSql}),
         |tagged AS (SELECT least(da.source, db.source) AS src1,
         |             greatest(da.source, db.source) AS src2, pr.jaccard
         |           FROM pr JOIN 'documents.parquet' da ON pr.d1 = da.doc_id
         |                   JOIN 'documents.parquet' db ON pr.d2 = db.doc_id)
         |SELECT src1, src2, count(*) AS n_pairs,
         |       ${Parity.qmeanSql("jaccard")} AS mean_jaccard
         |FROM tagged GROUP BY 1, 2 ORDER BY src1, src2""".stripMargin,
    "j149_oov_rate" ->
      """WITH lt AS (SELECT lang, token, count(*) AS cnt FROM (
        |              SELECT lang, unnest(string_split(text, ' ')) AS token
        |              FROM 'documents.parquet') GROUP BY 1, 2),
        |c AS (SELECT token, sum(cnt) AS tot FROM lt GROUP BY 1),
        |v AS (SELECT token FROM c
        |      QUALIFY row_number() OVER (ORDER BY tot DESC, token ASC) <= 20),
        |f AS (SELECT lt.lang, lt.cnt, (v.token IS NULL) AS oov
        |      FROM lt LEFT JOIN v ON lt.token = v.token)
        |SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN oov THEN cnt ELSE 0 END) AS BIGINT) AS n_oov_tokens,
        |       floor(CAST(sum(CASE WHEN oov THEN cnt ELSE 0 END) AS DOUBLE)
        |             / CAST(sum(cnt) AS DOUBLE) * 1000000 + 0.5) / 1000000.0 AS oov_rate,
        |       count(*) AS n_types,
        |       CAST(sum(oov::INT) AS BIGINT) AS n_oov_types
        |FROM f GROUP BY 1 ORDER BY lang""".stripMargin,
    "j150_quality_agreement" ->
      s"""WITH t AS (SELECT lang, doc_id, n_chars, string_split(text, ' ') AS toks
         |           FROM 'documents.parquet'),
         |f AS (SELECT lang, doc_id,
         |        ${CurationOps.QualityGopherSql}
         |      FROM t),
         |dec AS (SELECT lang, score, gpass,
         |          CAST(ntile(10) OVER (PARTITION BY lang
         |            ORDER BY score ASC, doc_id ASC) AS BIGINT) AS decile
         |        FROM f)
         |SELECT lang, decile, count(*) AS n_docs,
         |       CAST(sum(gpass::INT) AS BIGINT) AS n_gopher_pass,
         |       floor(CAST(sum(gpass::INT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |             * 1000000 + 0.5) / 1000000.0 AS gopher_pass_rate,
         |       ${Parity.qmeanSql("score")} AS mean_score
         |FROM dec GROUP BY 1, 2 ORDER BY lang, decile""".stripMargin,
    "j146_interarrival_stats" ->
      """WITH g AS (SELECT user_id,
        |             (epoch_us(ts) - lag(epoch_us(ts)) OVER
        |               (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |               // 1000000 AS gap_s
        |           FROM 'events.parquet'),
        |a AS (SELECT user_id, count(*) AS n_gaps,
        |        round(avg(gap_s), 6) AS mean_gap_s,
        |        round(quantile_cont(gap_s, 0.5), 6) AS median_gap_s,
        |        max(gap_s) AS max_gap_s
        |      FROM g WHERE gap_s IS NOT NULL GROUP BY 1)
        |SELECT * FROM a
        |ORDER BY n_gaps DESC, user_id ASC LIMIT 20""".stripMargin)
}
