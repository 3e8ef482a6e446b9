package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 fifth wave — held-out LM scoring and event/corpus report
  * operators: Stupid Backoff n-gram scoring (Brants et al. 2007, the
  * production-scale LM smoothing that needs no normalization pass),
  * the per-source data card, an ordered multi-step event funnel with a
  * conversion window, and the hour-of-day activity profile.
  *
  * Disciplines as everywhere: train/held-out split via the doc_id mod
  * device (j22/j52), sorted folds for cross-engine double sums
  * (Parity.sortedFoldSum), money in BIGINT cents, epoch math in the
  * ts_us long domain, quality signals via the shared single-source
  * Columns (CurationOps.qualityLogit, CorpusQualityOps.gopherPass).
  */
object AnalyticsOps {

  // ---------- j151 Stupid Backoff LM scoring ----------

  /** j151_stupid_backoff — score HELD-OUT documents (doc_id ≡ 0 mod 10,
    * j22's split device) under a trigram Stupid Backoff LM trained on the
    * REST of the corpus (Brants et al. 2007): S(w₃|w₁w₂) = c₁₂₃/c₁₂ when
    * the trigram was seen in training, else 0.4·c₂₃/c₂, else 0.16·c₃/N —
    * unnormalized score backoff, the trick that made web-scale LMs
    * trainable with pure counting. Per held-out doc: trigram count, how
    * often backoff fired, and the mean log-score. Self-scoring (j33)
    * never exercises backoff — every bigram scores itself — which is
    * exactly why this operator trains on a split: the fixture's held-out
    * trigram mass is ~35% unseen (measured at both sf0.001 and sf0.01),
    * so the ladder does real work. All backoff counts are marginals of
    * the ONE trigram aggregate (suffix c₂₃, middle c₂, last c₃, total N)
    * — one corpus reduce, no second pass; this differs from raw-bigram
    * counting only at document edges, and the oracle restates the same
    * marginal definition. The unigram floor coalesces an unseen w₃ to
    * count 1 (never fires on the shared-vocab fixture; the guard keeps
    * log() finite on any input).
    *
    * Scale shape: the trigram count table is vocab³-bounded (persisted —
    * five marginals derive from it without re-reducing the corpus; the
    * harness clearCache releases it, j7's precedent) and rides
    * broadcasts with its marginals, so the held-out trigram stream
    * shuffles ONCE — its per-doc aggregation. For vocabularies where
    * vocab³ outgrows a broadcast, the joins degrade to keyed shuffles
    * and the structure is unchanged. */
  def j151(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tg = Tables.documents(s, d)
      .select($"doc_id", split($"text", " ").as("toks"))
      .filter(size($"toks") >= 3)
      .select($"doc_id", explode(expr(
        """transform(sequence(1, size(toks) - 2),
          |  i -> named_struct('w1', element_at(toks, i),
          |                    'w2', element_at(toks, i + 1),
          |                    'w3', element_at(toks, i + 2)))""".stripMargin))
        .as("t"))
      .select($"doc_id", $"t.w1".as("w1"), $"t.w2".as("w2"), $"t.w3".as("w3"))
    val c3 = tg.filter($"doc_id" % 10 =!= 0)
      .groupBy($"w1", $"w2", $"w3").agg(count(lit(1)).as("c123"))
      .persist() // vocab³-bounded; feeds the five marginals below
    val c12 = c3.groupBy($"w1", $"w2").agg(sum($"c123").as("c12"))
    val c23 = c3.groupBy($"w2", $"w3").agg(sum($"c123").as("c23"))
    val c2 = c3.groupBy($"w2").agg(sum($"c123").as("c2"))
    val cw3 = c3.groupBy($"w3").agg(sum($"c123").as("cw3"))
    val n = c3.agg(sum($"c123").as("n_total"))
    tg.filter($"doc_id" % 10 === 0)
      .join(broadcast(c3), Seq("w1", "w2", "w3"), "left_outer")
      .join(broadcast(c12), Seq("w1", "w2"), "left_outer")
      .join(broadcast(c23), Seq("w2", "w3"), "left_outer")
      .join(broadcast(c2), Seq("w2"), "left_outer")
      .join(broadcast(cw3), Seq("w3"), "left_outer")
      .crossJoin(broadcast(n))
      .withColumn("lvl",
        when($"c123".isNotNull, 1).when($"c23".isNotNull, 2).otherwise(3))
      .withColumn("ll",
        when($"lvl" === 1, log($"c123" / $"c12"))
          .when($"lvl" === 2, log(lit(0.4d) * $"c23" / $"c2"))
          .otherwise(log(lit(0.16d) * coalesce($"cw3", lit(1L)) / $"n_total")))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when($"lvl" >= 2, 1L).otherwise(0L)).as("n_backoff"),
        Parity.sortedFoldSum($"ll").as("sll"))
      .select($"doc_id", $"n_trigrams", $"n_backoff",
        round($"sll" / $"n_trigrams", 6).as("avg_ll"))
      .orderBy($"doc_id")
  }

  // ---------- j152 per-source data card ----------

  /** j152_source_card — the per-source "data card" row a corpus release
    * ships: doc count, char and token mass, language spread, mean model
    * quality (the shared qualityLogit) and Gopher-battery pass rate (the
    * shared gopherPass) — every quality number in the card is the SAME
    * Column the curation operators gate on, so the card cannot disagree
    * with the pipeline it describes.
    *
    * Scale shape: ONE corpus scan, row-local signals, one source-keyed
    * map-combined aggregate (j133's one-scan discipline); the distinct-
    * lang count expands over (source, lang) — bounded by sources×langs. */
  def j152(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"source", $"lang", $"n_chars",
        CurationOps.qualityLogit($"text").as("score"),
        split($"text", " ").as("toks"))
      .withColumn("gpass", CorpusQualityOps.gopherPass)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("sum_chars"),
        sum(size($"toks").cast("long")).as("sum_tokens"),
        countDistinct($"lang").as("n_langs"),
        // per-source groups are corpus-unbounded — quantized exact sum,
        // not a collected score list (r13 audit)
        Parity.qsum($"score").as("ss"),
        sum($"gpass".cast("long")).as("n_gopher_pass"))
      .select($"source", $"n_docs", $"sum_chars", $"sum_tokens", $"n_langs",
        Parity.round6($"ss" / $"n_docs").as("mean_quality"),
        Parity.round6($"n_gopher_pass".cast("double") / $"n_docs".cast("double"))
          .as("gopher_pass_rate"))
      .orderBy($"source")
  }

  // ---------- j153 ordered event funnel ----------

  /** j153_event_funnel — the ordered product funnel view → click →
    * purchase with a 12-hour conversion window per step (each step must
    * happen AFTER the previous step's first completion and within the
    * window — the standard funnel semantics analytics warehouses
    * implement; the window is fixture-measured to produce real attrition:
    * unconstrained, every user completes — 15→6→3 at 12 h). Per funnel
    * entrant: the step timestamps, the stage reached, and the step
    * delays in whole seconds.
    *
    * Scale shape: three user-keyed min-aggregates, each joined back
    * user-keyed (co-partitioned with the aggregates — one exchange
    * lineage per step); the event_type predicates push to the scans. No
    * windows, no per-user event arrays. */
  def j153(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val winUs = 43200000000L // 12 h in µs
    val e = Tables.eventsUs(s, d).select($"user_id", $"event_type", $"ts_us")
    val t1 = e.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts_us").as("t1_us"))
    val t2 = e.filter($"event_type" === "click").join(t1, "user_id")
      .filter($"ts_us" > $"t1_us" && $"ts_us" <= $"t1_us" + winUs)
      .groupBy($"user_id").agg(min($"ts_us").as("t2_us"))
    val t3 = e.filter($"event_type" === "purchase").join(t2, "user_id")
      .filter($"ts_us" > $"t2_us" && $"ts_us" <= $"t2_us" + winUs)
      .groupBy($"user_id").agg(min($"ts_us").as("t3_us"))
    t1.join(t2, Seq("user_id"), "left_outer")
      .join(t3, Seq("user_id"), "left_outer")
      .select($"user_id", $"t1_us", $"t2_us", $"t3_us",
        when($"t3_us".isNotNull, 3L).when($"t2_us".isNotNull, 2L)
          .otherwise(1L).as("stage"),
        expr("(t2_us - t1_us) div 1000000").as("click_delay_s"),
        expr("(t3_us - t2_us) div 1000000").as("purchase_delay_s"))
      .orderBy($"user_id")
  }

  // ---------- j154 hour-of-day activity profile ----------

  /** j154_hourly_profile — events by (type, UTC hour of day): count,
    * value cents, and each hour's share of its type's traffic — the
    * capacity-planning / anomaly-baseline profile beside j47's calendar
    * histogram. Hour from pure integer µs arithmetic (div + mod), no
    * calendar functions.
    *
    * Scale shape: one map-combined (type, hour) aggregate — ≤ 24·|types|
    * groups; the share window runs over that bounded frame, partitioned
    * by type. */
  def j154(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.eventsUs(s, d)
      .select($"event_type",
        expr("(ts_us div 3600000000) % 24").as("hour_utc"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
      .groupBy($"event_type", $"hour_utc")
      .agg(count(lit(1)).as("n_events"), sum($"cents").as("value_cents"))
      .withColumn("type_share",
        Parity.round6($"n_events".cast("double") /
          sum($"n_events").over(Window.partitionBy($"event_type"))))
      .orderBy($"event_type", $"hour_utc")
  }

  // ---------- j155 PMI collocations ----------

  /** j155_pmi_collocations — collocation mining by pointwise mutual
    * information over document-level co-occurrence: PMI(a,b) =
    * ln(c_ab·N / (df_a·df_b)) for token pairs co-occurring in ≥20 docs,
    * top-20 by rounded PMI (pair tiebreak). The classic "which terms
    * travel together beyond chance" table behind related-terms UIs and
    * phrase induction (support cut from the fixture: 456 qualifying
    * pairs, PMI spanning −0.037…0.188 — small on word salad, but real
    * variation the ordering exercises).
    *
    * Scale shape: the per-doc distinct-token explode is row-local; the
    * co-occurrence self-join is doc-keyed (pairs per doc bounded by the
    * per-doc distinct count, not corpus size) and reduces to a
    * vocab²-bounded aggregate; df and N ride broadcasts onto that
    * aggregate; the cut is a TakeOrdered. */
  def j155(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // read 4x (n agg, dfreq broadcast, both self-join sides) — persist so
    // the corpus explode runs once; released by the harness clearCache
    val dt = Tables.documents(s, d)
      .select($"doc_id", explode(array_distinct(split($"text", " "))).as("t"))
      .persist()
    val n = dt.agg(countDistinct($"doc_id").as("n"))
    val dfreq = dt.groupBy($"t").agg(count(lit(1)).as("df"))
    // SHUFFLE_HASH: doc-keyed self-join, hash build beats two sorts
    dt.as("a").hint("SHUFFLE_HASH")
      .join(dt.as("b").hint("SHUFFLE_HASH"),
        col("a.doc_id") === col("b.doc_id") && col("a.t") < col("b.t"))
      .groupBy(col("a.t").as("t1"), col("b.t").as("t2"))
      .agg(count(lit(1)).as("c12"))
      .filter($"c12" >= 20)
      .join(broadcast(dfreq.select($"t".as("t1"), $"df".as("df1"))), "t1")
      .join(broadcast(dfreq.select($"t".as("t2"), $"df".as("df2"))), "t2")
      .crossJoin(broadcast(n))
      .select($"t1", $"t2", $"c12",
        round(log($"c12".cast("double") * $"n" / ($"df1" * $"df2")), 6)
          .as("pmi"))
      .orderBy($"pmi".desc, $"t1".asc, $"t2".asc)
      .limit(20)
  }

  // ---------- j156 event-type transition matrix ----------

  /** j156_event_transitions — the first-order Markov transition matrix of
    * the event stream: per (previous type → type) pair, the transition
    * count and conditional probability — the session-flow map (and the
    * baseline a sequence-anomaly monitor compares against). Transitions
    * order by (ts_us, event_id) within user — j146's total order.
    *
    * Scale shape: one user-partitioned lag window, then a map-combined
    * aggregate over ≤|types|² keys; the probability window runs over
    * that bounded frame. */
  /** j282_transition_pagerank — PageRank centrality over the event-type
    * transition graph (j156's edges; the "which state matters most"
    * companion to j176's graph explore): 8 power iterations, damping
    * 0.85, dangling mass redistributed uniformly. Every quantity is an
    * exact BIGINT in 1e-12 rank units — contributions are integral
    * divisions `(r·w) DIV w_out`, sums are integer sums — so the
    * fixpoint is bit-identical in both engines regardless of aggregation
    * order (the float-PageRank nondeterminism a naive port would hit).
    *
    * Scale shape: the edge extraction is j156's one keyed window over
    * the corpus (linear, the dominant cost at 100 TB); the iterations
    * run on the TYPE-VOCABULARY-bounded edge frame (|V|² at most —
    * persisted once), so 8 rounds move KBs however large the corpus.
    * `n` (the node count) is a vocabulary scalar like j66's merge
    * rounds, not data. The 1-row dangling-mass frame broadcasts per
    * round (the scalar-broadcast idiom). At fleet scale the per-edge
    * weight would be pre-normalized to bound r·w; documented here, not
    * needed at the fixture's magnitudes. */
  def j282(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val U = 1000000000000L
    val w = Window.partitionBy($"user_id").orderBy($"ts_us".asc, $"event_id".asc)
    val eAgg = Tables.eventsUs(s, d)
      .select($"user_id", $"event_id", $"event_type", $"ts_us")
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_type".isNotNull)
      .groupBy($"prev_type".as("src"), $"event_type".as("dst"))
      .agg(count(lit(1)).as("wt"))
      .persist() // every iteration reuses it
    val nodesAgg = eAgg.select($"src".as("node"))
      .union(eAgg.select($"dst")).distinct().persist()
    val n = nodesAgg.count() // type-vocabulary cardinality (bounded scalar)
    // vocab²-bounded (KBs under the bounded-vocab contract): a single
    // partition keeps every downstream stage of the 8 rounds at one task
    // instead of 32 — but GATED on the measured node count (r15 ADVICE),
    // so a vocabulary that outgrows the contract keeps the parallel
    // layout instead of silently serializing the loop. Integer-exact
    // arithmetic is partitioning-independent, so both layouts are
    // result-identical.
    val c1: DataFrame => DataFrame =
      if (n <= 4096) df => df.coalesce(1) else identity
    val edges = c1(eAgg)
    // vocab-bounded and read twice per round (contrib join + dangling
    // anti-join) — persist beside edges rather than re-aggregating 16×
    val outW = c1(eAgg.groupBy($"src").agg(sum($"wt").as("w_out"))).persist()
    val nodes = c1(nodesAgg)
    val base = 15L * U / (100L * n)
    // Each round references the previous ranks TWICE (contrib + dangling),
    // so a lazy chain doubles the plan per round — 2^8 subplan copies by
    // round 8 (the exact blow-up the oracle's MATERIALIZED CTEs avoid, and
    // j21's per-round checkpoint discipline). Eager-localCheckpoint every
    // round (the frame is vocab-sized — KBs) and free the superseded one.
    var ranks = c1(nodes.withColumn("r", lit(U / n))).localCheckpoint()
    for (_ <- 1 to 8) {
      // every side here is vocab-bounded, but a localCheckpointed frame
      // carries no size statistics, so without hints the planner falls
      // back to exchange-backed joins — broadcast explicitly
      val contrib = edges.join(outW, "src")
        .join(broadcast(ranks.withColumnRenamed("node", "src")), "src")
        .groupBy($"dst".as("node"))
        .agg(sum(expr("(r * wt) DIV w_out")).as("in_c"))
      // The rank frame is its own node spine (one row per node), so the
      // round reads ranks instead of nodes and carries r through.
      val spine = ranks
        .join(broadcast(outW.withColumnRenamed("src", "node")
          .withColumn("has_out", lit(true))), Seq("node"), "left")
        .join(broadcast(contrib), Seq("node"), "left")
      val scored =
        if (n <= 4096)
          // dangling mass FOLDED into the per-round plan (r15 verdict
          // item 7): an AllTuples window over the vocab-bounded 1-partition
          // frame replaces the separate anti-join aggregate — one fewer
          // materialized job per round, exact integer sum either way
          spine.withColumn("dang", coalesce(
            sum(when($"has_out".isNull, $"r")).over(Window.partitionBy()),
            lit(0L)))
        else {
          // parallel layout (vocabulary outgrew the contract): keep the
          // separate aggregate — an unpartitioned window would funnel a
          // corpus-scale vocabulary through one task
          val dangling = ranks
            .join(broadcast(outW.withColumnRenamed("src", "node")),
              Seq("node"), "left_anti")
            .agg(coalesce(sum($"r"), lit(0L)).as("dang"))
          spine.crossJoin(broadcast(dangling))
        }
      val next = scored
        .select($"node",
          (lit(base) +
            expr(s"(85 * (COALESCE(in_c, 0) + dang DIV $n)) DIV 100")).as("r"))
      val nextCk = c1(next).localCheckpoint()
      TextOps.releaseCheckpoint(ranks)
      ranks = nextCk
    }
    val out = ranks
      .select($"node".as("event_type"), $"r".as("rank_units"),
        Parity.round6($"r".cast("double") / lit(1.0e12)).as("rank"))
      .orderBy($"event_type")
      .localCheckpoint() // cut lineage + drop the storage pins before return
    TextOps.releaseCheckpoint(ranks)
    eAgg.unpersist(); outW.unpersist(); nodesAgg.unpersist()
    out
  }

  def j156(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_us".asc, $"event_id".asc)
    Tables.eventsUs(s, d)
      .select($"user_id", $"event_id", $"event_type", $"ts_us")
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_type".isNotNull)
      .groupBy($"prev_type", $"event_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("p_next",
        Parity.round6($"n".cast("double") /
          sum($"n").over(Window.partitionBy($"prev_type"))))
      .orderBy($"prev_type", $"event_type")
  }

  // ---------- j157 vocabulary coverage curve ----------

  /** j157_vocab_coverage — the Heaps/Zipf view j149's single cut comes
    * from: cumulative token-mass coverage at vocabulary sizes 1, 2, 4, 8,
    * 16 and the full vocabulary — the curve that picks a tokenizer's
    * vocab budget (where it flattens, additional entries buy nothing).
    * Reports each checkpoint's rank, the token at that rank, and the
    * cumulative coverage.
    *
    * Scale shape: the corpus reduces once to the token-count aggregate;
    * the rank/cumsum window runs over THAT frame (31 rows on the fixture,
    * ~10⁶ for a web corpus — the j100 vocab-aggregate discipline; the
    * single-partition window is bounded by vocabulary, never corpus);
    * the total and type count ride a 1-row broadcast. */
  def j157(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val counts = Tables.documents(s, d)
      .select(explode(split($"text", " ")).as("t"))
      .groupBy($"t").agg(count(lit(1)).as("cnt"))
    val stats = counts.agg(sum($"cnt").as("total"),
      count(lit(1)).as("n_types"))
    // rank + running coverage via the banded two-pass prefix (Dist) —
    // no single-partition window over the vocab frame
    Dist.bandedPrefix(counts, Dist.freqBands($"cnt", $"t"),
        Seq($"cnt".desc, $"t".asc), Seq("cum" -> $"cnt"))
      .crossJoin(broadcast(stats))
      .filter($"rank".isin(1L, 2L, 4L, 8L, 16L) || $"rank" === $"n_types")
      .select($"rank", $"t".as("token"), $"cnt", $"cum",
        Parity.round6($"cum".cast("double") / $"total".cast("double"))
          .as("coverage"))
      .orderBy($"rank")
  }

  // ---------- j158 incremental dedup ----------

  /** j158_incremental_dedup — the PRODUCTION shape of near-dup detection:
    * a daily increment (doc_id ≡ 0 mod 5, the split device) checked
    * against the full corpus WITHOUT re-pairing the corpus against
    * itself. The band join is increment-bands × all-bands — old×old pairs
    * are never generated, which is the entire point: a 100 TB corpus
    * re-deduped from scratch per increment is j12 at full cost daily,
    * while this is j12 cost on the increment only. Signatures come from
    * j12's own minhashFrames (invoked, the j135/j136 audit discipline),
    * candidates verify with exact shingle Jaccard, and each surviving
    * pair is classified new_new / new_old — new_old pairs are drops (the
    * corpus copy wins), new_new pairs dedupe within the increment.
    *
    * Scale shape: the increment's band rows join the corpus band rows on
    * (band, sig) — collision-bounded exactly like j12; the exact-verify
    * join fans out by shingles-per-doc (length-bounded); the corpus-side
    * work is ONE signature/banding pass, which a production deployment
    * stores as the persistent LSH index instead of recomputing. */
  def j158(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fr = PipelineOps.minhashFrames(s, d)
    val cand = fr.bands.filter($"doc_id" % 5 === 0).as("x").hint("SHUFFLE_HASH")
      .join(fr.bands.as("y").hint("SHUFFLE_HASH"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("d1"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("d2"))
      .distinct()
    PipelineOps.exactJaccard(fr.sh, cand)
      .withColumn("jaccard", Parity.round6($"jac"))
      .filter($"jaccard" >= 0.5)
      .select($"d1", $"d2", $"jaccard",
        when($"d1" % 5 === 0 && $"d2" % 5 === 0, "new_new")
          .otherwise("new_old").as("pair_class"))
      .orderBy($"d1", $"d2")
  }

  // ---------- j159 span_within ----------

  /** j159_span_within — the ES `span_within` query (the little-side dual
    * of j125's span_containing): occurrences of the SMALL span ('key')
    * that lie inside a big span [position of 'table', +5]; a doc matches
    * when at least one 'key' is enclosed. Reports per matching doc the
    * total 'key' occurrences and how many are enclosed.
    *
    * Scale shape: j145's family — row-local HOF position algebra, zero
    * exchanges before the presentation sort ([[TextOps.spanMatches]]). */
  def j159(s: SparkSession, d: String): DataFrame =
    TextOps.spanMatches(s, d,
      Seq("keys" -> "span_pos(toks, 'key')", "tbls" -> "span_pos(toks, 'table')"),
      Seq("n_key" -> "size(keys)",
        "n_within" -> "size(filter(keys, x -> exists(tbls, y -> x > y AND x <= y + 5)))"),
      keep = "n_within > 0")

  // ---------- j160 bucket correlation ----------

  /** j160_bucket_correlation — ES x-pack's `bucket_correlation` pipeline
    * agg: Pearson correlation between two per-day count series (clicks vs
    * purchases) over the daily bucket frame. The correlation is computed
    * from the six INTEGER power sums (n, Σx, Σy, Σxy, Σx², Σy²) — exact
    * longs in both engines at any ordering — with exactly one double
    * division at the end, so the parity is structural (the j71/ADVICE-r5
    * central-moment lesson applied to covariance: corr() in either engine
    * would be an order-dependent streaming moment).
    *
    * Scale shape: ONE conditional-count aggregate onto the day key, then
    * a 1-row reduce over the day frame — both map-combined. */
  def j160(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.eventsUs(s, d)
      .select(expr("ts_us div 86400000000").as("day"), $"event_type")
      .groupBy($"day")
      .agg(sum(when($"event_type" === "click", 1L).otherwise(0L)).as("x"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("y"))
      .agg(count(lit(1)).as("n_days"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"),
        sum($"x" * $"x").as("sxx"),
        sum($"y" * $"y").as("syy"))
      .select($"n_days", $"sx", $"sy",
        round(($"n_days" * $"sxy" - $"sx" * $"sy").cast("double") /
          sqrt(($"n_days" * $"sxx" - $"sx" * $"sx").cast("double") *
            ($"n_days" * $"syy" - $"sy" * $"sy").cast("double")), 6)
          .as("pearson_r"))
  }

  // ---------- j161 two-sample KS test ----------

  /** j161_ks_test — two-sample Kolmogorov–Smirnov (ES x-pack's
    * `bucket_count_ks_test` analog, and the classic drift test): compare
    * the value distributions of click vs purchase events. D = max over
    * the merged support of |F̂_click − F̂_purchase|, with the ECDFs built
    * from exact integer cumulative counts over the distinct-cents
    * aggregate — every D candidate is a difference of two exact-int
    * ratios, bit-identical cross-engine, so the argmax needs no
    * tolerance (tiebreak: smallest cents achieving the max). Reports D,
    * the 5%-level critical value c(0.05)·√((n1+n2)/(n1·n2)) with
    * c = 1.358, and the reject flag.
    *
    * Scale shape: the corpus reduces to the distinct-cents aggregate
    * (bounded by the value DOMAIN, not event count — the j157/j74
    * spine discipline); the cumulative window runs over that bounded
    * frame; the final cut is a 1-row TakeOrdered. */
  def j161(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d)
      .filter($"event_type".isin("click", "purchase") && $"value".isNotNull)
      .select($"event_type",
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
    val byV = e.groupBy($"cents")
      .agg(sum(when($"event_type" === "click", 1L).otherwise(0L)).as("c1"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("c2"))
    val n = byV.agg(sum($"c1").as("n1"), sum($"c2").as("n2"))
    // ECDF running counts via the banded two-pass prefix (Dist) — no
    // single-partition window; bands are integer ten-dollar ranges of
    // the cents domain (consistent with cents ASC by construction)
    Dist.bandedPrefix(byV, Seq(expr("cents div 1000")), Seq($"cents".asc),
        Seq("cum1" -> $"c1", "cum2" -> $"c2"))
      .crossJoin(broadcast(n))
      .withColumn("dv",
        abs($"cum1".cast("double") / $"n1" - $"cum2".cast("double") / $"n2"))
      .orderBy($"dv".desc, $"cents".asc)
      .limit(1)
      .select($"n1", $"n2", $"cents".as("d_at_cents"),
        round($"dv", 6).as("d_stat"),
        round(lit(1.358d) *
          sqrt(($"n1" + $"n2").cast("double") / ($"n1" * $"n2").cast("double")),
          6).as("crit_05"),
        ($"dv" > lit(1.358d) *
          sqrt(($"n1" + $"n2").cast("double") / ($"n1" * $"n2").cast("double")))
          .as("reject_05"))
  }

  // ---------- j162 PSI drift ----------

  /** j162_drift_psi — Population Stability Index, the standard
    * production-ML input-drift monitor: band the metric (value cents)
    * into 10 equal-width bands over the REFERENCE window's range, then
    * PSI = Σ (p−q)·ln(p/q) between the reference (first half of the
    * event span, integer-µs midpoint) and the current (second half)
    * distributions, add-one smoothed so empty bands stay finite.
    * Per-band rows carry both proportions and the band's PSI term; the
    * headline PSI rides every row, computed as the SORTED fold over the
    * 10 term doubles (Parity.sortedFoldSum — a window sum's addition
    * order is engine-internal, the j26/j33 lesson) broadcast back onto
    * the band frame.
    *
    * Scale shape: span + reference range are 1-row broadcasts; banding
    * is row-local; the band aggregate has 10 groups and map-combines. */
  def j162(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.eventsUs(s, d)
      .select($"ts_us", expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
    val span = e.agg(min($"ts_us").as("lo"), max($"ts_us").as("hi"))
    val halved = e.crossJoin(broadcast(span))
      .withColumn("is_ref", $"ts_us" < $"lo" + expr("(hi - lo) div 2"))
    val refRange = halved.filter($"is_ref")
      .agg(min($"cents").as("cmin"), max($"cents").as("cmax"))
    // persisted: the 10-row band frame feeds both the per-band output and
    // the 1-row PSI fold — without it each consumer re-scans the events
    // (harness clearCache releases it, the j7 precedent)
    val banded = halved.crossJoin(broadcast(refRange))
      .withColumn("band",
        least(lit(9L), greatest(lit(0L),
          expr("((cents - cmin) * 10) div (cmax - cmin + 1)"))))
      .groupBy($"band")
      .agg(sum(when($"is_ref", 1L).otherwise(0L)).as("n_ref"),
        sum(when(!$"is_ref", 1L).otherwise(0L)).as("n_cur"))
      .persist()
    val tot = banded.agg(sum($"n_ref").as("tr"), sum($"n_cur").as("tc"))
    val terms = banded.crossJoin(broadcast(tot))
      .withColumn("p", ($"n_ref" + 1L).cast("double") / ($"tr" + 10L))
      .withColumn("q", ($"n_cur" + 1L).cast("double") / ($"tc" + 10L))
      .withColumn("term", ($"p" - $"q") * log($"p" / $"q"))
    val psiRow = terms.agg(round(Parity.sortedFoldSum($"term"), 6).as("psi"))
    terms.crossJoin(broadcast(psiRow))
      .select($"band", $"n_ref", $"n_cur",
        Parity.round6($"p").as("p_ref"), Parity.round6($"q").as("q_cur"),
        round($"term", 6).as("psi_term"), $"psi")
      .orderBy($"band")
  }

  // ---------- j163 change-point detection ----------

  /** j163_change_point — ES 8.x's `change_point` aggregation, the
    * step-change flavor: over the zero-filled daily purchase series
    * (BucketOps.dailyFrame — j58/j76's single-sourced bucket frame), find
    * the split day maximizing |mean(before) − mean(after)| with ≥ 2 days
    * on each side — the piecewise-constant single-breakpoint fit. Means
    * come from exact-integer prefix sums (a running window over the
    * bounded day frame), so every candidate delta is bit-identical
    * cross-engine and the argmax needs no tolerance (tiebreak: earliest
    * day). The fixture series has no injected step, so the reported
    * delta is the stationary-noise maximum — the op reports the best
    * split and its magnitude, the caller applies the threshold (ES
    * likewise reports `change_point` with a p-value the client gates
    * on).
    *
    * Scale shape: j47's histogram machinery (map-combined counts + a
    * calendar-bounded spine), one running-sum window over the day frame,
    * a 1-row TakeOrdered. */
  def j163(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val days = BucketOps.dailyFrame(s, d).select($"day", $"purchases")
    val w = Window.orderBy($"day".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = days.agg(count(lit(1)).as("n"), sum($"purchases").as("s"))
    days
      .withColumn("rn", row_number().over(Window.orderBy($"day".asc)).cast("long"))
      .withColumn("cum", sum($"purchases").over(w))
      .crossJoin(broadcast(tot))
      .filter($"rn" >= 2 && $"rn" <= $"n" - 2) // ≥2 days on each side
      .withColumn("mean_before", $"cum".cast("double") / $"rn")
      .withColumn("mean_after",
        ($"s" - $"cum").cast("double") / ($"n" - $"rn"))
      .withColumn("delta", abs($"mean_before" - $"mean_after"))
      .orderBy($"delta".desc, $"day".asc)
      .limit(1)
      .select($"day".as("change_day"), $"rn".as("n_before"),
        ($"n" - $"rn").as("n_after"),
        Parity.round6($"mean_before").as("mean_before"),
        Parity.round6($"mean_after").as("mean_after"),
        Parity.round6($"delta").as("delta"))
  }

  // ---------- j170 moving z-score anomaly detection ----------

  /** j170_moving_zscore — the classic series anomaly monitor (ES x-pack
    * anomaly detection's simplest baseline, and what most alerting
    * rules actually compute): each day's event count scored against the
    * TRAILING 7-day window — mean and sample stddev from the exact
    * integer sums Σx/Σx², the window EXCLUDING the day under test (a
    * self-contaminated baseline shrinks every spike's score). Flags
    * |z| > 1.5 — fixture-measured (j116 discipline): the synthetic
    * series is stationary Poisson-ish noise, max |z| ≈ 1.9/2.9/2.9
    * across the three SFs, so 1.5 exercises the flag path with 3–5
    * flagged days; a production monitor would use 3.
    *
    * Parity: z is composed from integer window sums with the identical
    * IEEE expression in both engines (the j83/j160 rule — never a
    * streaming stddev_samp). Scale shape: the day frame is
    * calendar-bounded (j58's argument), its trailing window 7 rows. */
  def j170(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.orderBy($"day").rowsBetween(-7, -1)
    BucketOps.dailyFrame(s, d)
      .select($"day", $"total".as("cnt"))
      .withColumn("n7", count($"cnt").over(w))
      .withColumn("s7", sum($"cnt").over(w))
      .withColumn("ss7", sum($"cnt" * $"cnt").over(w))
      .filter($"n7" === 7)
      .withColumn("mean7", $"s7".cast("double") / 7.0d)
      .withColumn("sd7", sqrt(($"ss7".cast("double") -
        $"s7".cast("double") * $"s7".cast("double") / 7.0d) / 6.0d))
      // zero-variance guard (r7 review): a constant baseline makes sd7=0
      // and z undefined — the spike must still flag, so anomaly falls
      // back to "differs from the flat baseline at all"
      .withColumn("z", when($"sd7" > 0.0d,
        ($"cnt".cast("double") - $"mean7") / $"sd7"))
      .select($"day", $"cnt", Parity.round6($"mean7").as("mean7"),
        round($"sd7", 6).as("sd7"), round($"z", 6).as("z"),
        when($"sd7" > 0.0d, abs($"z") > 1.5d)
          .otherwise($"cnt".cast("double") =!= $"mean7").as("anomaly"))
      .orderBy($"day")
  }

  // ---------- j171 HyperLogLog cardinality sketch ----------

  /** j171_hll_cardinality — ES `cardinality` aggregation's actual
    * mechanism, audited: a HyperLogLog sketch (Flajolet 2007) with m=16
    * registers — UNDERSIZED on purpose, the j32/j95 sketch discipline —
    * beside the exact distinct count, per event type. Register index =
    * the first md5 nibble of the user key; ρ = leading zero BITS of the
    * remaining 120 bits + 1 (computed from the hex digits: zero-nibble
    * run length ×4 plus the first non-zero nibble's 4−bitlen, all
    * string/integer ops mirrored operator-for-operator in the oracle —
    * the md5-nibble draw discipline). Estimate = α₁₆m²/Σ2^(−Mⱼ) with
    * the small-range linear-counting correction (E ≤ 2.5m and empty
    * registers present → m·ln(m/V)); both paths exercised across the
    * SFs (15 users/type at sf0.001 leaves empty registers). The
    * relative error column is the answer to "is m=16 enough here" —
    * measured, not assumed.
    *
    * Scale shape: ONE map-combined (type, register) max-aggregate over
    * the event stream — 16·|types| groups; the register→estimate fold
    * runs on that bounded frame (2^(−Mⱼ) is a power of two, exact in
    * IEEE, so the Σ is engine-identical after the sorted fold). This is
    * THE bounded-state distinct counter: at 100 TB the exact
    * countDistinct beside it is the expensive audit leg, the sketch is
    * the production leg. */
  def j171(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d)
      .select($"event_type",
        md5(concat(lit("u"), $"user_id".cast("string"))).as("h"))
      .withColumn("reg",
        (expr("instr('0123456789abcdef', substring(h, 1, 1))") - 1).cast("long"))
      .withColumn("rest", expr("substring(h, 2, 30)"))
      .withColumn("zn", length(regexp_extract($"rest", "^(0*)", 1)))
      .withColumn("rho", when($"zn" === 30, lit(121L)).otherwise(
        $"zn" * 4 +
          (lit(5) - length(expr(
            "bin(instr('0123456789abcdef', substring(rest, zn + 1, 1)) - 1)")))
          .cast("long")))
    val regs = e.groupBy($"event_type", $"reg").agg(max($"rho").as("m"))
    val sk = regs.groupBy($"event_type")
      .agg(count(lit(1)).as("n_regs"),
        Parity.sortedFoldSum(pow(lit(2.0d), -$"m".cast("double"))).as("s_present"))
      .withColumn("v_zero", lit(16L) - $"n_regs")
      .withColumn("s", $"s_present" + $"v_zero".cast("double"))
      .withColumn("e_raw", lit(0.673d * 256.0d) / $"s")
      .withColumn("e_est", when($"e_raw" <= 40.0d && $"v_zero" > 0,
        lit(16.0d) * log(lit(16.0d) / $"v_zero".cast("double")))
        .otherwise($"e_raw"))
    val exact = Tables.events(s, d).groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_exact"))
    sk.join(exact, "event_type")
      .select($"event_type", $"n_exact", $"n_regs", $"v_zero",
        round($"e_raw", 4).as("e_raw"), round($"e_est", 4).as("e_est"),
        round(($"e_est" - $"n_exact".cast("double")) /
          $"n_exact".cast("double"), 4).as("rel_err"))
      .orderBy($"event_type")
  }

  // ---------- j174 batch sessionization ----------

  /** j174_sessionize — gap-based sessionization, the batch twin of the
    * i8 streaming sessionizer and the precursor of every session-level
    * metric (j142's cohorts, j153's funnels): a user's events split into
    * sessions at inactivity gaps > 30 min; per session — ordinal, event
    * count, start/end, duration, purchases. The 30-min gap is the
    * industry default; the fixture's inter-arrival spread (j146) makes
    * it bind.
    *
    * Determinism: events are ordered (ts, type, id) so same-timestamp
    * ties can't flip the lag; the gap flag is order-insensitive within a
    * tie (gap 0 ⇒ same session either way), but the PIN is structural.
    *
    * Scale shape: ONE user-keyed exchange carries everything — the lag
    * window, the running session counter, and the (user, session)
    * aggregate are all partitioned by user_id and co-partition (the
    * j146 shared-exchange discipline). No global windows, no joins. */
  def j174(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val gapUs = 1800000000L // 30 min
    val wU = Window.partitionBy($"user_id")
      .orderBy($"ts_us".asc, $"event_type".asc, $"event_id".asc)
    Tables.eventsUs(s, d)
      .select($"user_id", $"event_id", $"event_type", $"ts_us")
      .withColumn("gap_us", $"ts_us" - lag($"ts_us", 1).over(wU))
      .withColumn("new_s",
        when($"gap_us".isNull || $"gap_us" > gapUs, 1L).otherwise(0L))
      .withColumn("session", sum($"new_s").over(
        wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session")
      .agg(count(lit(1)).as("n_events"),
        min($"ts_us").as("start_us"), max($"ts_us").as("end_us"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L))
          .as("n_purchases"))
      .select($"user_id", $"session", $"n_events", $"start_us", $"end_us",
        expr("(end_us - start_us) div 1000000").as("duration_s"),
        $"n_purchases")
      .orderBy($"user_id", $"session")
  }

  // ---------- j176 graph explore ----------

  /** j176_graph_explore — the ES x-pack Graph `_explore` API: breadth-
    * first expansion over the term co-occurrence graph. Seed 'spark' →
    * hop 1: its top-5 co-occurring terms (document-level co-occurrence
    * count, term tiebreak); hop 2: each hop-1 vertex's top-3 neighbors,
    * EXCLUDING all already-discovered vertices (the API's dedup rule).
    * Output: the explored edges (hop, from, to, cooc).
    *
    * Scale shape: BFS over an implicit graph, the way it must run on a
    * shuffle engine — each hop's frontier is a tiny broadcast; edge
    * formation is a doc-keyed join RESTRICTED to frontier-containing
    * documents (never all-pairs co-occurrence); per-vertex cuts are
    * windows over the (vertex, term) AGGREGATE. Hop count is the loop
    * bound, frontier size the broadcast bound — exactly how graph
    * exploration composes with Catalyst. */
  def j176(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val seed = "spark"
    val dt = Tables.documents(s, d)
      .select($"doc_id", explode(array_distinct(split($"text", " "))).as("t"))
    val h1 = dt.filter($"t" === seed).select($"doc_id")
      .join(dt, "doc_id").filter($"t" =!= seed)
      .groupBy($"t").agg(count(lit(1)).as("cooc"))
      .orderBy($"cooc".desc, $"t".asc).limit(5)
    val frontier = h1.select($"t".as("v"))
    val seen = frontier.union(Seq(seed).toDF("v"))
    val wV = Window.partitionBy($"v").orderBy($"cooc".desc, $"t".asc)
    val h2 = dt.join(broadcast(frontier), $"t" === $"v").select($"doc_id", $"v")
      .join(dt, "doc_id").filter($"t" =!= $"v")
      .join(broadcast(seen.select($"v".as("sv"))), $"t" === $"sv", "left_anti")
      .groupBy($"v", $"t").agg(count(lit(1)).as("cooc"))
      .withColumn("rn", row_number().over(wV)).filter($"rn" <= 3)
    h1.select(lit(1L).as("hop"), lit(seed).as("from_t"),
        $"t".as("to_t"), $"cooc")
      .unionByName(h2.select(lit(2L).as("hop"), $"v".as("from_t"),
        $"t".as("to_t"), $"cooc"))
      .orderBy($"hop", $"from_t", $"cooc".desc, $"to_t".asc)
  }

  // ---------- j178 day-of-week seasonality profile ----------

  /** j178_dow_seasonality — the diurnal/weekly decomposition every
    * anomaly detector (x-pack's "multi-bucket" modeling) conditions on:
    * the daily event-count series profiled by day of week — per dow the
    * day count, total events, mean, and the deviation from the global
    * daily mean. A flat profile (this synthetic fixture) means j170's
    * unconditional z-score is the right monitor; a real weekday/weekend
    * corpus would show it immediately, and the residual (cnt − dow
    * mean) is what j170 would then score. Day-of-week from pure integer
    * arithmetic — (days since 1970-01-01 + 4) mod 7, 0 = Monday — no
    * calendar/locale functions (the j64/j97 epoch discipline).
    *
    * Parity: means are one double division from exact integer sums
    * (j83 rule). Scale shape: the day frame is calendar-bounded; the
    * dow aggregate has ≤7 groups; the global mean is a 1-row
    * broadcast. */
  def j178(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val f = BucketOps.dailyFrame(s, d)
      // 1970-01-01 was a Thursday: +3 makes Monday ≡ 0 (r7 review
      // caught the original +4, which mapped 0 to Sunday)
      .withColumn("dow",
        (datediff($"day", lit("1970-01-01").cast("date")) + 3) % 7)
    val g = f.agg(sum($"total").as("gt"), count(lit(1)).as("gn"))
    f.groupBy($"dow")
      .agg(count(lit(1)).as("n_days"), sum($"total").as("cnt_total"))
      .crossJoin(broadcast(g))
      .select($"dow".cast("long").as("dow"), $"n_days", $"cnt_total",
        Parity.round6($"cnt_total".cast("double") / $"n_days".cast("double"))
          .as("mean_cnt"),
        Parity.round6($"cnt_total".cast("double") / $"n_days".cast("double") -
          $"gt".cast("double") / $"gn".cast("double")).as("dev_from_global"))
      .orderBy($"dow")
  }

  // ---------- j180 Holt linear-trend forecast ----------

  /** j180_holt_forecast — Holt's linear-trend double exponential
    * smoothing (the `holt` model of ES `moving_fn` and the core of
    * x-pack forecasting): level/trend recurrences lₜ = αxₜ +
    * (1−α)(lₜ₋₁+bₜ₋₁), bₜ = β(lₜ−lₜ₋₁) + (1−β)bₜ₋₁ with the standard
    * init l₁=x₁, b₁=x₂−x₁, α=0.5 β=0.3, folded over the daily purchase
    * series IN DAY ORDER as the identical struct-accumulator left fold
    * in both engines (j175's no-closed-form rule — coupled recurrences
    * have no pow-free closed form at all, so the fold IS the only
    * parity-safe evaluation). Output: the final level/trend and the
    * h = 1..3 day-ahead forecasts ŷ = l + h·b.
    *
    * Scale shape: the series is the calendar-bounded day frame reduced
    * to ONE row (sorted collect — bounded by days, not data); the fold
    * and forecasts are row-local arithmetic on it. */
  def j180(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val series = BucketOps.dailyFrame(s, d)
      .agg(expr(
        """transform(array_sort(collect_list(struct(day, purchases))),
          |  t -> CAST(t.purchases AS DOUBLE))""".stripMargin).as("xs"))
    val folded = series.withColumn("st", expr(
      """aggregate(slice(xs, 3, size(xs) - 2),
        |  named_struct('l', element_at(xs, 1),
        |    'b', element_at(xs, 2) - element_at(xs, 1)),
        |  (s, x) -> named_struct(
        |    'l', CAST(0.5 AS DOUBLE) * x +
        |         CAST(0.5 AS DOUBLE) * (s.l + s.b),
        |    'b', CAST(0.3 AS DOUBLE) *
        |           ((CAST(0.5 AS DOUBLE) * x +
        |             CAST(0.5 AS DOUBLE) * (s.l + s.b)) - s.l) +
        |         CAST(0.7 AS DOUBLE) * s.b))""".stripMargin))
    folded.select(explode(expr("sequence(1, 3)")).as("h"),
        $"st.l".as("l"), $"st.b".as("b"))
      .select($"h".cast("long").as("h"),
        Parity.round6($"l").as("level"), Parity.round6($"b").as("trend"),
        Parity.round6($"l" + $"h" * $"b").as("forecast"))
      .orderBy($"h")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "j151_stupid_backoff" -> j151, "j152_source_card" -> j152,
    "j153_event_funnel" -> j153, "j154_hourly_profile" -> j154,
    "j155_pmi_collocations" -> j155, "j156_event_transitions" -> j156,
    "j282_transition_pagerank" -> j282,
    "j157_vocab_coverage" -> j157, "j158_incremental_dedup" -> j158,
    "j159_span_within" -> j159, "j160_bucket_correlation" -> j160,
    "j161_ks_test" -> j161, "j162_drift_psi" -> j162,
    "j163_change_point" -> j163,
    "j170_moving_zscore" -> j170, "j171_hll_cardinality" -> j171,
    "j174_sessionize" -> j174, "j176_graph_explore" -> j176,
    "j178_dow_seasonality" -> j178, "j180_holt_forecast" -> j180)

  /** j282's oracle: the SAME 8 integer-unit power iterations, unrolled
    * as CTEs by the same loop bounds — exact BIGINT arithmetic, so
    * aggregation order cannot perturb the fixpoint in either engine.
    * Every CTE is MATERIALIZED: DuckDB inlines CTEs by default and each
    * round references the previous one twice (contrib + dangling), so
    * un-materialized unrolling re-expands the corpus-scan chain 2^8
    * times — the query hangs instead of finishing in milliseconds. */
  private val j282Oracle: String = {
    val U = "1000000000000"
    val iters = (1 to 8).map { i =>
      val p = s"r${i - 1}"
      s"""c$i AS MATERIALIZED (SELECT e.dst AS node,
         |          CAST(SUM((p.r * e.wt) // ow.w_out) AS BIGINT) AS in_c
         |        FROM e JOIN ow ON e.src = ow.src
         |        JOIN $p p ON p.node = e.src GROUP BY 1),
         |d$i AS MATERIALIZED (SELECT CAST(COALESCE(SUM(p.r), 0) AS BIGINT) AS dang FROM $p p
         |        LEFT JOIN ow ON p.node = ow.src WHERE ow.src IS NULL),
         |r$i AS MATERIALIZED (SELECT nodes.node,
         |          CAST((15 * $U // (100 * st.n)) +
         |            (85 * (COALESCE(c$i.in_c, 0) + d$i.dang // st.n)) // 100
         |            AS BIGINT) AS r
         |        FROM nodes CROSS JOIN st CROSS JOIN d$i
         |        LEFT JOIN c$i ON nodes.node = c$i.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH l AS (SELECT event_type,
       |             lag(event_type) OVER (PARTITION BY user_id
       |               ORDER BY epoch_us(ts), event_id) AS prev_type
       |           FROM 'events.parquet'),
       |e AS MATERIALIZED (SELECT prev_type AS src, event_type AS dst, count(*) AS wt
       |      FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2),
       |ow AS MATERIALIZED (SELECT src, sum(wt) AS w_out FROM e GROUP BY 1),
       |nodes AS MATERIALIZED (SELECT DISTINCT node FROM
       |          (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |st AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
       |r0 AS MATERIALIZED (SELECT node, CAST($U // st.n AS BIGINT) AS r
       |       FROM nodes CROSS JOIN st),
       |$iters
       |SELECT node AS event_type, r AS rank_units,
       |       floor(CAST(r AS DOUBLE) / 1e12 * 1000000 + 0.5) / 1000000.0 AS rank
       |FROM r8 ORDER BY event_type""".stripMargin
  }

  /** The j170/j178 oracles' zero-filled daily event counts: `f` (day,
    * cnt) over [[BucketOps.DaySpineSql]]. */
  private val DailyCountsSql =
    s"""e AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
       |           FROM 'events.parquet'),
       |${BucketOps.DaySpineSql},
       |h AS (SELECT day, count(*) AS c FROM e GROUP BY 1),
       |f AS (SELECT s.day, CAST(coalesce(h.c, 0) AS BIGINT) AS cnt
       |      FROM spine s LEFT JOIN h ON s.day = h.day)""".stripMargin

  val oracle: Map[String, String] = Map(
    "j282_transition_pagerank" -> j282Oracle,
    "j151_stupid_backoff" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM 'documents.parquet'
        |           WHERE len(string_split(text, ' ')) >= 3),
        |tg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2, b.w3 AS w3 FROM (
        |         SELECT doc_id, unnest(list_transform(
        |           generate_series(1, len(toks) - 2),
        |           i -> {'w1': toks[i], 'w2': toks[i + 1], 'w3': toks[i + 2]})) AS b
        |         FROM t)),
        |c3 AS (SELECT w1, w2, w3, count(*) AS c123 FROM tg
        |       WHERE doc_id % 10 != 0 GROUP BY 1, 2, 3),
        |c12 AS (SELECT w1, w2, sum(c123) AS c12 FROM c3 GROUP BY 1, 2),
        |c23 AS (SELECT w2, w3, sum(c123) AS c23 FROM c3 GROUP BY 1, 2),
        |c2 AS (SELECT w2, sum(c123) AS c2 FROM c3 GROUP BY 1),
        |cw3 AS (SELECT w3, sum(c123) AS cw3 FROM c3 GROUP BY 1),
        |nt AS (SELECT sum(c123) AS n_total FROM c3),
        |sc AS (SELECT h.doc_id,
        |         CASE WHEN c3.c123 IS NOT NULL THEN 1
        |              WHEN c23.c23 IS NOT NULL THEN 2 ELSE 3 END AS lvl,
        |         CASE WHEN c3.c123 IS NOT NULL THEN ln(c3.c123 / c12.c12)
        |              WHEN c23.c23 IS NOT NULL THEN ln(0.4 * c23.c23 / c2.c2)
        |              ELSE ln(0.16 * coalesce(cw3.cw3, 1) / nt.n_total) END AS ll
        |       FROM (SELECT * FROM tg WHERE doc_id % 10 = 0) h
        |       LEFT JOIN c3 USING (w1, w2, w3)
        |       LEFT JOIN c12 USING (w1, w2)
        |       LEFT JOIN c23 USING (w2, w3)
        |       LEFT JOIN c2 USING (w2)
        |       LEFT JOIN cw3 USING (w3)
        |       CROSS JOIN nt)
        |SELECT doc_id, count(*) AS n_trigrams,
        |       CAST(sum(CASE WHEN lvl >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_backoff,
        |       round(list_sum(list_sort(list(ll))) / count(*), 6) AS avg_ll
        |FROM sc GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "j152_source_card" ->
      s"""WITH t AS (SELECT source, lang, n_chars, string_split(text, ' ') AS toks
         |           FROM 'documents.parquet'),
         |f AS (SELECT source, lang, n_chars, len(toks) AS n_toks,
         |        ${CurationOps.QualityGopherSql}
         |      FROM t)
         |SELECT source, count(*) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |       CAST(sum(n_toks) AS BIGINT) AS sum_tokens,
         |       count(DISTINCT lang) AS n_langs,
         |       ${Parity.qmeanSql("score")} AS mean_quality,
         |       floor(CAST(sum(gpass::INT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |             * 1000000 + 0.5) / 1000000.0 AS gopher_pass_rate
         |FROM f GROUP BY 1 ORDER BY source""".stripMargin,
    "j153_event_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
        |           FROM 'events.parquet'),
        |t1 AS (SELECT user_id, min(ts_us) AS t1_us FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(e.ts_us) AS t2_us
        |       FROM e JOIN t1 ON e.user_id = t1.user_id
        |       WHERE e.event_type = 'click' AND e.ts_us > t1.t1_us
        |         AND e.ts_us <= t1.t1_us + 43200000000 GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(e.ts_us) AS t3_us
        |       FROM e JOIN t2 ON e.user_id = t2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts_us > t2.t2_us
        |         AND e.ts_us <= t2.t2_us + 43200000000 GROUP BY 1)
        |SELECT t1.user_id, t1.t1_us, t2.t2_us, t3.t3_us,
        |       CAST(CASE WHEN t3.t3_us IS NOT NULL THEN 3
        |                 WHEN t2.t2_us IS NOT NULL THEN 2 ELSE 1 END AS BIGINT)
        |         AS stage,
        |       (t2.t2_us - t1.t1_us) // 1000000 AS click_delay_s,
        |       (t3.t3_us - t2.t2_us) // 1000000 AS purchase_delay_s
        |FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
        |ORDER BY user_id""".stripMargin,
    "j163_change_point" ->
      s"""WITH ${BucketOps.DailyEventsSql},
         |h AS (SELECT day, count(*) AS purchases FROM e
         |      WHERE event_type = 'purchase' GROUP BY 1),
         |b AS (SELECT spine.day, coalesce(h.purchases, 0) AS purchases
         |      FROM spine LEFT JOIN h USING (day)),
         |tot AS (SELECT count(*) AS n, CAST(sum(purchases) AS BIGINT) AS s FROM b),
         |c AS (SELECT day,
         |        CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn,
         |        CAST(sum(purchases) OVER (ORDER BY day
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |      FROM b),
         |m AS (SELECT day, rn, n - rn AS n_after,
         |        CAST(cum AS DOUBLE) / rn AS mean_before,
         |        CAST(s - cum AS DOUBLE) / (n - rn) AS mean_after
         |      FROM c CROSS JOIN tot
         |      WHERE rn >= 2 AND rn <= n - 2)
         |SELECT day AS change_day, rn AS n_before, n_after,
         |       floor(mean_before * 1000000 + 0.5) / 1000000.0 AS mean_before,
         |       floor(mean_after * 1000000 + 0.5) / 1000000.0 AS mean_after,
         |       floor(abs(mean_before - mean_after) * 1000000 + 0.5) / 1000000.0 AS delta
         |FROM m
         |QUALIFY row_number() OVER (
         |  ORDER BY abs(mean_before - mean_after) DESC, day ASC) = 1""".stripMargin,
    "j160_bucket_correlation" ->
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |  CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS x,
        |  CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS y
        |  FROM 'events.parquet' GROUP BY 1),
        |st AS (SELECT count(*) AS n_days,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(x * y) AS BIGINT) AS sxy,
        |         CAST(sum(x * x) AS BIGINT) AS sxx,
        |         CAST(sum(y * y) AS BIGINT) AS syy
        |       FROM d)
        |SELECT n_days, sx, sy,
        |       round(CAST(n_days * sxy - sx * sy AS DOUBLE) /
        |             sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE) *
        |                  CAST(n_days * syy - sy * sy AS DOUBLE)), 6) AS pearson_r
        |FROM st""".stripMargin,
    "j161_ks_test" ->
      """WITH e AS (SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents
        |           FROM 'events.parquet'
        |           WHERE event_type IN ('click', 'purchase')
        |             AND value IS NOT NULL),
        |v AS (SELECT cents,
        |        CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS c1,
        |        CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS c2
        |      FROM e GROUP BY 1),
        |n AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM v),
        |c AS (SELECT cents,
        |        CAST(sum(c1) OVER (ORDER BY cents
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum1,
        |        CAST(sum(c2) OVER (ORDER BY cents
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum2
        |      FROM v),
        |dv AS (SELECT cents, abs(CAST(cum1 AS DOUBLE) / n1 - CAST(cum2 AS DOUBLE) / n2) AS dv,
        |              n1, n2
        |       FROM c CROSS JOIN n)
        |SELECT n1, n2, cents AS d_at_cents, round(dv, 6) AS d_stat,
        |       round(1.358 * sqrt(CAST(n1 + n2 AS DOUBLE) / CAST(n1 * n2 AS DOUBLE)), 6)
        |         AS crit_05,
        |       dv > 1.358 * sqrt(CAST(n1 + n2 AS DOUBLE) / CAST(n1 * n2 AS DOUBLE))
        |         AS reject_05
        |FROM dv
        |QUALIFY row_number() OVER (ORDER BY dv DESC, cents ASC) = 1""".stripMargin,
    "j162_drift_psi" ->
      """WITH e AS (SELECT epoch_us(ts) AS ts_us,
        |             CAST(round(value * 100, 0) AS BIGINT) AS cents
        |           FROM 'events.parquet'),
        |sp AS (SELECT min(ts_us) AS lo, max(ts_us) AS hi FROM e),
        |h AS (SELECT e.cents, e.ts_us < sp.lo + (sp.hi - sp.lo) // 2 AS is_ref
        |      FROM e CROSS JOIN sp),
        |rr AS (SELECT min(cents) AS cmin, max(cents) AS cmax FROM h WHERE is_ref),
        |b AS (SELECT least(9, greatest(0,
        |        ((h.cents - rr.cmin) * 10) // (rr.cmax - rr.cmin + 1))) AS band,
        |        is_ref
        |      FROM h CROSS JOIN rr),
        |bd AS (SELECT band,
        |         CAST(count(*) FILTER (WHERE is_ref) AS BIGINT) AS n_ref,
        |         CAST(count(*) FILTER (WHERE NOT is_ref) AS BIGINT) AS n_cur
        |       FROM b GROUP BY 1),
        |tt AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
        |              CAST(sum(n_cur) AS BIGINT) AS tc FROM bd),
        |tm AS (SELECT band, n_ref, n_cur,
        |         CAST(n_ref + 1 AS DOUBLE) / (tr + 10) AS p,
        |         CAST(n_cur + 1 AS DOUBLE) / (tc + 10) AS q
        |       FROM bd CROSS JOIN tt),
        |t2 AS (SELECT *, (p - q) * ln(p / q) AS term FROM tm),
        |ps AS (SELECT round(list_sum(list_sort(list(term))), 6) AS psi FROM t2)
        |SELECT band, n_ref, n_cur, floor(p * 1000000 + 0.5) / 1000000.0 AS p_ref, floor(q * 1000000 + 0.5) / 1000000.0 AS q_cur,
        |       round(term, 6) AS psi_term, ps.psi
        |FROM t2 CROSS JOIN ps ORDER BY band""".stripMargin,
    "j158_incremental_dedup" ->
      s"""WITH s AS (${TextOps.ShingleSql}),
         |${PipelineOps.MinhashSql},
         |${PipelineOps.MinhashBandsSql},
         |cand AS (SELECT DISTINCT least(x.doc_id, y.doc_id) AS d1,
         |                greatest(x.doc_id, y.doc_id) AS d2
         |         FROM (SELECT * FROM bands WHERE doc_id % 5 = 0) x
         |         JOIN bands y
         |           ON x.band = y.band AND x.sig = y.sig AND x.doc_id != y.doc_id),
         |${PipelineOps.CandInterSql}
         |SELECT d1, d2, floor(inter / (na.ns + nb.ns - inter) * 1000000 + 0.5)
         |         / 1000000.0 AS jaccard,
         |       CASE WHEN d1 % 5 = 0 AND d2 % 5 = 0 THEN 'new_new'
         |            ELSE 'new_old' END AS pair_class
         |FROM i2 JOIN n na ON d1 = na.doc_id JOIN n nb ON d2 = nb.doc_id
         |WHERE floor(inter / (na.ns + nb.ns - inter) * 1000000 + 0.5) / 1000000.0 >= 0.5
         |ORDER BY d1, d2""".stripMargin,
    "j159_span_within" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM 'documents.parquet'),
        |p AS (SELECT doc_id,
        |        list_filter(generate_series(1, len(toks)), x -> toks[x] = 'key') AS keys,
        |        list_filter(generate_series(1, len(toks)), x -> toks[x] = 'table') AS tbls
        |      FROM t),
        |k AS (SELECT doc_id, len(keys) AS n_key,
        |        len(list_filter(keys, x ->
        |          len(list_filter(tbls, y -> x > y AND x <= y + 5)) > 0)) AS n_within
        |      FROM p WHERE len(keys) > 0)
        |SELECT doc_id, CAST(n_key AS BIGINT) AS n_key,
        |       CAST(n_within AS BIGINT) AS n_within
        |FROM k WHERE n_within > 0 ORDER BY doc_id""".stripMargin,
    "j155_pmi_collocations" ->
      """WITH dt AS (SELECT DISTINCT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
        |            FROM 'documents.parquet'),
        |n AS (SELECT count(DISTINCT doc_id) AS n FROM dt),
        |df AS (SELECT t, count(*) AS df FROM dt GROUP BY 1),
        |p AS (SELECT a.t AS t1, b.t AS t2, count(*) AS c12
        |      FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.t < b.t
        |      GROUP BY 1, 2)
        |SELECT t1, t2, c12,
        |       round(ln(CAST(c12 AS DOUBLE) * n.n / (d1.df * d2.df)), 6) AS pmi
        |FROM p JOIN df d1 ON p.t1 = d1.t JOIN df d2 ON p.t2 = d2.t CROSS JOIN n
        |WHERE c12 >= 20
        |ORDER BY pmi DESC, t1 ASC, t2 ASC LIMIT 20""".stripMargin,
    "j156_event_transitions" ->
      """WITH l AS (SELECT event_type,
        |             lag(event_type) OVER (PARTITION BY user_id
        |               ORDER BY epoch_us(ts), event_id) AS prev_type
        |           FROM 'events.parquet'),
        |a AS (SELECT prev_type, event_type, count(*) AS n FROM l
        |      WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, event_type, n,
        |       floor(CAST(n AS DOUBLE) /
        |             sum(n) OVER (PARTITION BY prev_type)
        |             * 1000000 + 0.5) / 1000000.0 AS p_next
        |FROM a ORDER BY prev_type, event_type""".stripMargin,
    "j157_vocab_coverage" ->
      """WITH c AS (SELECT t, count(*) AS cnt FROM (
        |             SELECT unnest(string_split(text, ' ')) AS t
        |             FROM 'documents.parquet') GROUP BY 1),
        |st AS (SELECT sum(cnt) AS total, count(*) AS n_types FROM c),
        |r AS (SELECT t, cnt,
        |        CAST(row_number() OVER (ORDER BY cnt DESC, t ASC) AS BIGINT) AS rank,
        |        CAST(sum(cnt) OVER (ORDER BY cnt DESC, t ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM c)
        |SELECT rank, t AS token, cnt, cum,
        |       floor(CAST(cum AS DOUBLE) / CAST(st.total AS DOUBLE) * 1000000 + 0.5) / 1000000.0 AS coverage
        |FROM r CROSS JOIN st
        |WHERE rank IN (1, 2, 4, 8, 16) OR rank = st.n_types
        |ORDER BY rank""".stripMargin,
    "j154_hourly_profile" ->
      """WITH h AS (SELECT event_type,
        |             (epoch_us(ts) // 3600000000) % 24 AS hour_utc,
        |             CAST(round(value * 100, 0) AS BIGINT) AS cents
        |           FROM 'events.parquet'),
        |a AS (SELECT event_type, hour_utc, count(*) AS n_events,
        |        CAST(sum(cents) AS BIGINT) AS value_cents
        |      FROM h GROUP BY 1, 2)
        |SELECT event_type, hour_utc, n_events, value_cents,
        |       floor(CAST(n_events AS DOUBLE) /
        |             sum(n_events) OVER (PARTITION BY event_type)
        |             * 1000000 + 0.5) / 1000000.0 AS type_share
        |FROM a ORDER BY event_type, hour_utc""".stripMargin,
    "j170_moving_zscore" ->
      s"""WITH $DailyCountsSql,
         |w AS (SELECT day, cnt,
         |        count(*) OVER win AS n7,
         |        sum(cnt) OVER win AS s7,
         |        sum(cnt * cnt) OVER win AS ss7
         |      FROM f WINDOW win AS (ORDER BY day
         |        ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
         |z AS (SELECT day, cnt, CAST(s7 AS DOUBLE) / 7.0 AS mean7,
         |        sqrt((CAST(ss7 AS DOUBLE) -
         |              CAST(s7 AS DOUBLE) * CAST(s7 AS DOUBLE) / 7.0) / 6.0)
         |          AS sd7
         |      FROM w WHERE n7 = 7)
         |SELECT day, cnt, floor(mean7 * 1000000 + 0.5) / 1000000.0 AS mean7, round(sd7, 6) AS sd7,
         |       CASE WHEN sd7 > 0
         |            THEN round((CAST(cnt AS DOUBLE) - mean7) / sd7, 6)
         |       END AS z,
         |       CASE WHEN sd7 > 0
         |            THEN abs((CAST(cnt AS DOUBLE) - mean7) / sd7) > 1.5
         |            ELSE CAST(cnt AS DOUBLE) <> mean7 END AS anomaly
         |FROM z ORDER BY day""".stripMargin,
    "j171_hll_cardinality" ->
      """WITH e AS (SELECT event_type,
        |             md5(concat('u', CAST(user_id AS VARCHAR))) AS h
        |           FROM 'events.parquet'),
        |r AS (SELECT event_type,
        |        CAST(strpos('0123456789abcdef', substring(h, 1, 1)) - 1
        |          AS BIGINT) AS reg,
        |        substring(h, 2, 30) AS rest,
        |        length(regexp_extract(substring(h, 2, 30), '^(0*)', 1)) AS zn
        |      FROM e),
        |rho AS (SELECT event_type, reg,
        |          CASE WHEN zn = 30 THEN 121
        |               ELSE zn * 4 + 5 - length(bin(
        |                 strpos('0123456789abcdef',
        |                   substring(rest, zn + 1, 1)) - 1))
        |          END AS rho
        |        FROM r),
        |regs AS (SELECT event_type, reg, max(rho) AS m
        |         FROM rho GROUP BY 1, 2),
        |sk AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_regs,
        |         list_sum(list_sort(list(power(2.0, -CAST(m AS DOUBLE)))))
        |           AS s_present
        |       FROM regs GROUP BY 1),
        |est AS (SELECT event_type, n_regs, 16 - n_regs AS v_zero,
        |          0.673 * 256.0 / (s_present + CAST(16 - n_regs AS DOUBLE))
        |            AS e_raw
        |        FROM sk),
        |fin AS (SELECT event_type, n_regs, CAST(v_zero AS BIGINT) AS v_zero,
        |          e_raw,
        |          CASE WHEN e_raw <= 40.0 AND v_zero > 0
        |               THEN 16.0 * ln(16.0 / CAST(v_zero AS DOUBLE))
        |               ELSE e_raw END AS e_est
        |        FROM est),
        |ex AS (SELECT event_type,
        |         CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
        |       FROM 'events.parquet' GROUP BY 1)
        |SELECT f.event_type, ex.n_exact, f.n_regs, f.v_zero,
        |       round(f.e_raw, 4) AS e_raw, round(f.e_est, 4) AS e_est,
        |       round((f.e_est - CAST(ex.n_exact AS DOUBLE)) /
        |             CAST(ex.n_exact AS DOUBLE), 4) AS rel_err
        |FROM fin f JOIN ex ON f.event_type = ex.event_type
        |ORDER BY f.event_type""".stripMargin,
    "j174_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |           FROM 'events.parquet'),
        |g AS (SELECT *, ts_us - lag(ts_us) OVER w AS gap_us FROM e
        |      WINDOW w AS (PARTITION BY user_id
        |        ORDER BY ts_us, event_type, event_id)),
        |f AS (SELECT *, CASE WHEN gap_us IS NULL OR gap_us > 1800000000
        |                     THEN 1 ELSE 0 END AS new_s FROM g),
        |c AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
        |        ORDER BY ts_us, event_type, event_id
        |        ROWS UNBOUNDED PRECEDING) AS session FROM f)
        |SELECT user_id, CAST(session AS BIGINT) AS session,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       min(ts_us) AS start_us, max(ts_us) AS end_us,
        |       (max(ts_us) - min(ts_us)) // 1000000 AS duration_s,
        |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_purchases
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "j176_graph_explore" ->
      """WITH dt AS (SELECT doc_id,
        |              unnest(list_distinct(string_split(text, ' '))) AS t
        |            FROM 'documents.parquet'),
        |sd AS (SELECT doc_id FROM dt WHERE t = 'spark'),
        |h1 AS (SELECT dt.t, CAST(count(*) AS BIGINT) AS cooc
        |       FROM sd JOIN dt USING (doc_id)
        |       WHERE dt.t <> 'spark' GROUP BY 1
        |       ORDER BY cooc DESC, t ASC LIMIT 5),
        |seen AS (SELECT t AS v FROM h1 UNION ALL SELECT 'spark'),
        |fd AS (SELECT dt.doc_id, h1.t AS v FROM dt JOIN h1 ON dt.t = h1.t),
        |h2 AS (SELECT * FROM (
        |         SELECT fd.v, dt.t, CAST(count(*) AS BIGINT) AS cooc
        |         FROM fd JOIN dt ON fd.doc_id = dt.doc_id
        |         WHERE dt.t <> fd.v
        |           AND dt.t NOT IN (SELECT v FROM seen)
        |         GROUP BY 1, 2)
        |       QUALIFY row_number() OVER (PARTITION BY v
        |         ORDER BY cooc DESC, t ASC) <= 3)
        |SELECT CAST(1 AS BIGINT) AS hop, 'spark' AS from_t, t AS to_t, cooc
        |FROM h1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), v, t, cooc FROM h2
        |ORDER BY hop, from_t, cooc DESC, to_t ASC""".stripMargin,
    "j178_dow_seasonality" ->
      s"""WITH $DailyCountsSql,
         |dw AS (SELECT (day - DATE '1970-01-01' + 3) % 7 AS dow, cnt FROM f),
         |g AS (SELECT sum(cnt) AS gt, count(*) AS gn FROM f)
         |SELECT CAST(dow AS BIGINT) AS dow,
         |       CAST(count(*) AS BIGINT) AS n_days,
         |       CAST(sum(cnt) AS BIGINT) AS cnt_total,
         |       floor(CAST(sum(cnt) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |             * 1000000 + 0.5) / 1000000.0 AS mean_cnt,
         |       floor((CAST(sum(cnt) AS DOUBLE) / CAST(count(*) AS DOUBLE) -
         |             CAST(g.gt AS DOUBLE) / CAST(g.gn AS DOUBLE)) * 1000000 + 0.5) / 1000000.0
         |         AS dev_from_global
         |FROM dw CROSS JOIN g GROUP BY dow, g.gt, g.gn
         |ORDER BY dow""".stripMargin,
    "j180_holt_forecast" ->
      s"""WITH RECURSIVE ${BucketOps.DailySql},
         |ser AS (SELECT list(CAST(doc_count AS DOUBLE) ORDER BY day) AS xs
         |        FROM b),
         |f(i, l, tr) AS (
         |  SELECT 2, xs[1], xs[2] - xs[1] FROM ser
         |  UNION ALL
         |  SELECT i + 1,
         |    CAST(0.5 AS DOUBLE) * xs[i + 1] +
         |      CAST(0.5 AS DOUBLE) * (l + tr),
         |    CAST(0.3 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * xs[i + 1] +
         |      CAST(0.5 AS DOUBLE) * (l + tr)) - l) +
         |      CAST(0.7 AS DOUBLE) * tr
         |  FROM f, ser WHERE i < len(xs)),
         |st AS (SELECT l, tr FROM f, ser WHERE i = len(xs))
         |SELECT CAST(t.h AS BIGINT) AS h, floor(st.l * 1000000 + 0.5) / 1000000.0 AS level,
         |       floor(st.tr * 1000000 + 0.5) / 1000000.0 AS trend,
         |       floor((st.l + t.h * st.tr) * 1000000 + 0.5) / 1000000.0 AS forecast
         |FROM st, (SELECT unnest(generate_series(1, 3)) AS h) t
         |ORDER BY h""".stripMargin)
}
