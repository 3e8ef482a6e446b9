package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 widening of the ES aggregation/query surface (SURVEY §2-J,
  * judge r5 "next round" items 1-5 plus the remaining common aggs): the
  * plain numeric `histogram`, `top_hits`, the bucket_script/
  * bucket_selector/bucket_sort/serial_diff pipeline aggs, `multi_match`/
  * `dis_max`, `filters`, `multi_terms`, `string_stats`, `matrix_stats`,
  * `span_near`, `wildcard`, `rate`, and the `missing` bucket.
  *
  * Shared disciplines (established by SearchOps/TextOps):
  *  - money/value sums ride integer cents (j73) or exact DECIMAL (j72) —
  *    never order-dependent double sums;
  *  - per-doc double sums go through Parity.sortedFoldSum ≡ DuckDB
  *    `list_sum(list_sort(list(…)))`;
  *  - every score ORDER BY ranks the ROUNDED value with a unique-id
  *    tiebreak, so both engines cut identical sets;
  *  - bucket spines are bounded by calendar time or literal bounds, never
  *    by data volume, and ride broadcasts onto map-combined histograms.
  */
object BucketOps {

  /** j74_histogram — ES plain numeric `histogram` on `value` per
    * event_type: fixed interval 50, offset 0, `min_doc_count: 0`,
    * `extended_bounds: {min: 0, max: 500}`, with an exact sum sub-metric.
    * The most common ES agg after terms/date_histogram; j47's spine/
    * zero-fill machinery with a numeric (not calendar) spine.
    *
    * Scale shape: the spine is (event_types × ≤(range/interval)) rows —
    * bounded by the value DOMAIN, not the corpus — broadcast onto the
    * map-combined histogram. Bucketing runs in the integer-cents domain
    * (j73's discipline): `(cents div 5000) * 50` avoids cross-engine
    * double-division-and-floor drift, and the sum metric is exact. */
  def j74(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d).select($"event_type",
      round($"value" * 100, 0).cast("long").as("cents"))
    // extended_bounds [0,500] ∪ the data's own bucket range (ES semantics:
    // bounds EXTEND the histogram; out-of-bounds data still buckets)
    val bd = e.agg(min($"cents").as("mn"), max($"cents").as("mx"))
      .selectExpr("least((mn div 5000) * 50, 0L) AS b0",
        "greatest((mx div 5000) * 50, 500L) AS b1")
    val buckets = bd.select(explode(sequence($"b0", $"b1", lit(50L))).as("bucket"))
    val spine = e.select($"event_type").distinct()
      .crossJoin(broadcast(buckets))
    val hist = e
      .select($"event_type", (expr("cents div 5000") * 50).as("bucket"), $"cents")
      .groupBy($"event_type", $"bucket")
      .agg(count(lit(1)).as("doc_count"), sum($"cents").as("sc"))
    spine.join(broadcast(hist), Seq("event_type", "bucket"), "left")
      .select($"event_type", $"bucket",
        coalesce($"doc_count", lit(0L)).as("doc_count"),
        round(coalesce($"sc", lit(0L)) / lit(100.0), 2).as("sum_value"))
      .orderBy($"event_type", $"bucket")
  }

  /** j75_top_hits — ES `top_hits` sub-aggregation: for each lang bucket,
    * the top-3 documents by (n_chars DESC, doc_id ASC) with their fields,
    * alongside the bucket's doc_count — the standard drill-down companion
    * to every bucket agg (j62's collapse is the 1-hit special case).
    *
    * Scale shape: rank ≤ k over a literal cut compiles to Spark 4's
    * WindowGroupLimit (j54's shape, PlanSpec-pinned) — each task prunes
    * to its own top-3 per bucket BEFORE the exchange, so the shuffle
    * carries ≤ k·partitions rows per bucket, not the corpus. The bucket
    * doc_count deliberately comes from a separate map-combined groupBy
    * joined back as a broadcast — a count-over-partition window would
    * force the full partition through the window and defeat the prune. */
  def j75(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"lang", $"doc_id", $"source", $"n_chars")
    val counts = docs.groupBy($"lang").agg(count(lit(1)).as("doc_count"))
    val w = Window.partitionBy($"lang").orderBy($"n_chars".desc, $"doc_id".asc)
    docs.withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= 3)
      .join(broadcast(counts), "lang")
      .select($"lang", $"doc_count", $"rn", $"doc_id", $"source", $"n_chars")
      .orderBy($"lang", $"rn")
  }

  /** The j58/j76/j78/j79 parent frame: the zero-filled per-day purchase
    * histogram (day, doc_count) plus the day's total event count — j47's
    * spine machinery, shared so the pipeline-agg family can't drift. */
  private[ops] def dailyFrame(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d).select(to_date($"ts").as("day"), $"event_type")
    val spine = e.agg(min($"day").as("d0"), max($"day").as("d1"))
      .select(explode(sequence($"d0", $"d1")).as("day"))
    val hist = e.groupBy($"day")
      .agg(count(lit(1)).as("total"),
        count(when($"event_type" === "purchase", 1)).as("purchases"))
    spine.join(broadcast(hist), Seq("day"), "left")
      .select($"day", coalesce($"total", lit(0L)).as("total"),
        coalesce($"purchases", lit(0L)).as("purchases"))
  }

  /** The oracles' day spine over a CTE `e` with a `day` column: `bnd`
    * (first and last day) and `spine` (every day between, zero-fill's
    * left side). */
  private[ops] val DaySpineSql =
    """bnd AS (SELECT min(day) AS d0, max(day) AS d1 FROM e),
      |spine AS (SELECT CAST(unnest(generate_series(
      |            CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
      |            INTERVAL 1 DAY)) AS DATE) AS day FROM bnd)""".stripMargin

  /** The oracles' events by day: `e` (day, event_type) and its
    * [[DaySpineSql]]. */
  private[ops] val DailyEventsSql =
    s"""e AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type
       |           FROM 'events.parquet'),
       |$DaySpineSql""".stripMargin

  /** The oracles' form of [[dailyFrame]]'s purchase count: [[DailyEventsSql]],
    * `h` (purchases per day) and `b` (day, doc_count), zero-filled. */
  private[ops] val DailySql =
    s"""$DailyEventsSql,
       |h AS (SELECT day, count(*) AS doc_count FROM e
       |      WHERE event_type = 'purchase' GROUP BY 1),
       |b AS (SELECT spine.day, coalesce(h.doc_count, 0) AS doc_count
       |      FROM spine LEFT JOIN h USING (day))""".stripMargin

  /** j76_bucket_script + bucket_selector — ES pipeline aggs over the j58
    * parent date_histogram: `bucket_script` derives each day's purchase
    * share (purchases / total events), then `bucket_selector` keeps only
    * buckets where the share ≥ 0.2 — the HAVING/derived-metric layer of
    * the pipeline-agg family (judge r5 item 3).
    *
    * Scale shape: both pipeline stages are row arithmetic + a filter on
    * the BUCKET frame (≤ calendar-days rows), never the event stream;
    * the histogram itself map-side combines. */
  def j76(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    dailyFrame(s, d)
      .withColumn("purchase_share",
        when($"total" > 0,
          Parity.round6($"purchases".cast("double") / $"total".cast("double")))
          .otherwise(lit(0.0)))
      .filter($"purchase_share" >= 0.2)
      .orderBy($"day")
  }

  /** j77_multi_match — ES `multi_match` with `dis_max` combination: one
    * query scored against TWO fields — full-text BM25 on `text` (term
    * 'spark') and an exact keyword match on `source` ('src3', field boost
    * 1.5) — combined as max + 0.3·min (dis_max `tie_breaker`), top-15.
    * Every search UI sends multi_match; all prior scorers were
    * single-field (judge r5 item 4).
    *
    * Scale shape: the text leg is j34's term-filtered dataflow (ONE
    * corpus pass; the shuffle moves docs containing the term); the
    * keyword leg is row-local; combining them is a left join from the
    * full doc frame onto the (small) scored frame. Same determinism
    * discipline: sorted-fold sums, rank on the ROUNDED score, doc_id
    * tiebreak. */
  def j77(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val ts = TextOps.bm25Frames(docs, Seq("spark")).scored
      .groupBy($"doc_id").agg(Parity.sortedFoldSum($"tscore").as("tsc"))
    val base = docs.select($"doc_id",
      when($"source" === "src3", 1.5).otherwise(0.0).as("src_score"))
    base.join(ts, Seq("doc_id"), "left")
      .withColumn("tsc", coalesce($"tsc", lit(0.0)))
      .filter($"tsc" > 0.0 || $"src_score" > 0.0)
      .select($"doc_id",
        round(greatest($"tsc", $"src_score")
          + lit(0.3) * least($"tsc", $"src_score"), 6).as("score"),
        round($"tsc", 6).as("text_score"), $"src_score")
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(15)
  }

  /** j78_serial_diff — ES `serial_diff` pipeline agg: lag-7 differencing
    * (one calendar week) of the per-day purchase count over the j58
    * parent frame — the seasonality-removal companion of `derivative`
    * (lag-1), completing the pipeline-agg family (judge r5 item 5).
    *
    * Scale shape: j58's exact argument — the unpartitioned window is
    * sound ONLY because the frame is bounded by calendar days, not data;
    * a finer-grained histogram must add a partition key. */
  def j78(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.orderBy($"day") // ≤ calendar-days rows by construction
    dailyFrame(s, d)
      .select($"day", $"purchases".as("doc_count"))
      .withColumn("serial_diff", $"doc_count" - lag($"doc_count", 7).over(w))
      .orderBy($"day")
  }

  /** j79_bucket_sort — ES `bucket_sort` pipeline agg with `sort`, `from`
    * and `size`: re-order the j58 parent's day buckets by purchase count
    * DESC (day ASC tiebreak — a total order, so both engines cut the same
    * set), skip 2, keep 5 — the "page inside the histogram response"
    * post-processing ES clients use.
    *
    * Scale shape: sort + offset + limit on the BUCKET frame (≤ calendar
    * days), not the events; the histogram map-side combines first. */
  def j79(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    dailyFrame(s, d)
      .select($"day", $"purchases".as("doc_count"))
      .orderBy($"doc_count".desc, $"day".asc)
      .offset(2).limit(5)
      .orderBy($"day")
  }

  /** j80_filters_agg — ES `filters` aggregation with `other_bucket`:
    * named overlapping filters (purchases, big_value ≥ 400, errors),
    * each an independent bucket with doc_count + an exact sum metric,
    * plus the `other` bucket for events matching none — the fixed-bucket
    * complement of `terms` (j60's conditional-aggregation shape).
    *
    * Scale shape: the whole response is ONE map-side-combinable global
    * aggregate (a single reduce row at any corpus size); `stack` unpivots
    * it into ES's bucket rows. Sums ride integer cents (j73). */
  def j80(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = $"event_type" === "purchase"
    val b = $"value" >= 400.0
    val er = $"event_type" === "error"
    val oth = !p && !b && !er
    Tables.events(s, d)
      .select($"event_type", $"value",
        round($"value" * 100, 0).cast("long").as("cents"))
      .agg(
        count(when(p, 1)).as("kp"), sum(when(p, $"cents")).as("sp"),
        count(when(b, 1)).as("kb"), sum(when(b, $"cents")).as("sb"),
        count(when(er, 1)).as("ke"), sum(when(er, $"cents")).as("se"),
        count(when(oth, 1)).as("ko"), sum(when(oth, $"cents")).as("so"))
      .selectExpr(
        """stack(4, 'big_value', kb, sb, 'errors', ke, se,
          |         'other', ko, so, 'purchases', kp, sp)
          |  AS (key, doc_count, sc)""".stripMargin)
      .select($"key", $"doc_count",
        round(coalesce($"sc", lit(0L)) / lit(100.0), 2).as("sum_value"))
      .orderBy($"key")
  }

  /** j81_multi_terms — ES `multi_terms` aggregation: buckets keyed by the
    * (lang, source) VALUE PAIR, ordered doc_count DESC (key tiebreak),
    * top 10, with a sum sub-metric — the unpaged, relevance-ordered
    * complement of j44's composite (which pages the key space in key
    * order).
    *
    * Scale shape: one keyed map-combined aggregation; the cut is ORDER
    * BY+LIMIT = TakeOrderedAndProject over the bucket frame. */
  def j81(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("doc_count"), sum($"n_chars").as("sum_chars"))
      .orderBy($"doc_count".desc, $"lang".asc, $"source".asc)
      .limit(10)
  }

  /** j82_string_stats — ES `string_stats` metric agg (with
    * `show_distribution`'s entropy) over `text`: doc count, min/max/avg
    * length, and the Shannon entropy (bits) of the corpus's character
    * distribution — the term-dictionary health metric ES exposes.
    *
    * Scale shape: length stats are one global map-combined aggregate;
    * entropy reduces the corpus to ≤ |alphabet| (here ~30) char-count
    * rows — another map-combined aggregate — and the Σ c·ln c fold runs
    * over THAT frame via the sorted-fold discipline (identical addition
    * order in both engines). H = (ln T − Σ c·ln c / T) / ln 2 — one
    * formula, same IEEE ops; 6dp absorbs libm ln() ulp drift (the j42
    * rule). */
  def j82(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val lenStats = docs.agg(count(lit(1)).as("n_docs"),
      min(length($"text")).cast("long").as("min_length"),
      max(length($"text")).cast("long").as("max_length"),
      Parity.round6(avg(length($"text"))).as("avg_length"))
    val freq = docs
      // chars via a zero-width regex split — NOT substring(text, i, 1)
      // per position, which is O(len²) per doc (UTF8String.substring
      // seeks from the start) and a real hazard on long documents. The
      // lookarounds exclude the start and the TRUE end of input (\z, not
      // $ — Java's $ also matches before a trailing newline, which would
      // glom the last two chars of a \n-terminated text into one
      // element), so no empty elements appear either way.
      .select(explode(split($"text", "(?!^)(?!\\z)")).as("ch"))
      .groupBy($"ch").agg(count(lit(1)).cast("double").as("c"))
    val ent = freq
      .agg(sum($"c").as("t"),
        Parity.sortedFoldSum($"c" * log($"c")).as("clnc"))
      .select(round((log($"t") - $"clnc" / $"t") / log(lit(2.0)), 6).as("entropy"))
    lenStats.crossJoin(broadcast(ent))
  }

  /** j83_matrix_stats — ES `matrix_stats` over the (l_quantity,
    * l_extendedprice) field pair: count, means, variances, covariance and
    * correlation. All five moments derive from EXACT DECIMAL sums (Σx,
    * Σy, Σx², Σxy, Σy² — j72's discipline; a double sum is
    * order-nondeterministic), cast to double once, then composed with the
    * identical IEEE expressions in both engines (the j71 rule: the parity
    * is structural, not rounding-masked).
    *
    * The decimal→double step goes THROUGH A STRING on both sides: Σy²
    * exceeds 2^53 at sf0.1 (~2.2e15 with 4 fractional digits), so the
    * conversion must round — and Spark's BigDecimal.doubleValue vs
    * DuckDB's native decimal→double conversion disagreed by 1 ulp at
    * exactly that magnitude (caught by the sf0.1 hash gate). String →
    * double parsing is correctly rounded in BOTH engines, so casting the
    * identical digit strings yields identical doubles — conversion
    * parity made structural.
    *
    * Scale shape: ONE global map-combined aggregation; every derived
    * moment is row arithmetic on the single reduce row. */
  def j83(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val x = $"l_quantity".cast("decimal(18,2)")
    val y = $"l_extendedprice".cast("decimal(18,2)")
    Tables.lineitem(s, d)
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(x * y).as("sxy"), sum(y * y).as("syy"))
      .selectExpr("n",
        "cast(cast(sx as string) as double) AS dx",
        "cast(cast(sy as string) as double) AS dy",
        "cast(cast(sxx as string) as double) AS dxx",
        "cast(cast(sxy as string) as double) AS dxy",
        "cast(cast(syy as string) as double) AS dyy")
      .select($"n",
        Parity.round6($"dx" / $"n").as("mean_q"),
        Parity.round6($"dy" / $"n").as("mean_p"),
        Parity.round6(($"dxx" - $"dx" * $"dx" / $"n") / ($"n" - 1)).as("var_q"),
        Parity.round6(($"dyy" - $"dy" * $"dy" / $"n") / ($"n" - 1)).as("var_p"),
        Parity.round6(($"dxy" - $"dx" * $"dy" / $"n") / ($"n" - 1)).as("cov_qp"),
        round((($"dxy" - $"dx" * $"dy" / $"n") / ($"n" - 1)) /
          sqrt((($"dxx" - $"dx" * $"dx" / $"n") / ($"n" - 1)) *
            (($"dyy" - $"dy" * $"dy" / $"n") / ($"n" - 1))), 6).as("corr_qp"))
  }

  /** j84_span_near — ES `span_near` query (`in_order: true`, `slop: 3`):
    * documents where 'spark' is followed by 'join' within at most 3
    * intervening tokens, with per-doc match counts and the first match
    * position — the proximity query between `match` (any distance) and
    * `match_phrase` (adjacent, j36).
    *
    * Scale shape: the span test runs INSIDE the row over
    * [[TextOps.spanMatches]] (filter over token positions), zero hash
    * exchanges before the presentation sort. */
  def j84(s: SparkSession, d: String): DataFrame =
    // slop-3 in-order = ordered position pairs within distance 4. A doc
    // without 'join' has no hits and skips the 'spark' scan; that second
    // reference to join_pos also keeps it a column of its own; with one
    // reference, CollapseProject inlines its scan into the lambda, where
    // it re-runs once per 'spark' hit (PlanSpec pins this)
    TextOps.spanMatches(s, d,
      Seq("join_pos" -> "span_pos(toks, 'join')",
        "hits" -> """if(size(join_pos) = 0, join_pos, filter(span_pos(toks, 'spark'),
        |  i -> exists(join_pos, j -> j > i AND j - i <= 4)))""".stripMargin),
      Seq("n_matches" -> "size(hits)",
        "first_pos" -> "if(size(hits) >= 1, element_at(hits, 1), 0)"),
      keep = "n_matches >= 1")

  /** j85_wildcard_query — ES `wildcard` on a keyword field: `src1*` over
    * `source`, bucketed per matching source with doc_count + sum metric.
    *
    * Scale shape: a trailing-star wildcard is a prefix predicate, which
    * Spark pushes to the parquet scan as StringStartsWith (PushedFilters
    * — row groups whose source-stats exclude the prefix never leave
    * disk), exactly as ES bounds the same query by a term-dictionary
    * seek. A LEADING-star wildcard cannot prune in either engine — that
    * shape belongs to j2-style inverted indexing, not this operator. */
  def j85(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .filter($"source".startsWith("src1"))
      .groupBy($"source")
      .agg(count(lit(1)).as("doc_count"), sum($"n_chars").as("sum_chars"))
      .orderBy($"source")
  }

  /** j86_rate_agg — ES `rate` aggregation inside a date_histogram:
    * per calendar week (date_trunc 'week' — Monday-based in both
    * engines), the purchase count and the per-day rate (`unit: "day"` ⇒
    * count/7), zero-filled across the span — "how fast is this happening"
    * normalized so bucket width doesn't distort the series.
    *
    * Scale shape: j47's exact dataflow with a weekly spine (bounded by
    * calendar time); the rate is row arithmetic on the bucket frame. */
  def j86(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d)
      .select(date_trunc("week", $"ts").cast("date").as("week"), $"event_type")
    val spine = e.agg(min($"week").as("w0"), max($"week").as("w1"))
      .select(explode(expr("sequence(w0, w1, interval 7 days)")).as("week"))
    val hist = e.filter($"event_type" === "purchase")
      .groupBy($"week").agg(count(lit(1)).as("doc_count"))
    spine.join(broadcast(hist), Seq("week"), "left")
      .select($"week", coalesce($"doc_count", lit(0L)).as("doc_count"))
      .withColumn("rate_per_day", Parity.round6($"doc_count" / lit(7.0)))
      .orderBy($"week")
  }

  /** j87_missing_agg — ES `terms` aggregation with the `missing`
    * parameter (and the standalone `missing` agg's count): a derived
    * `tier` attribute exists only for events whose props.k ≥ 50 (a
    * GENUINELY null column — the b3 discipline: real nulls, not
    * sentinels); docs lacking it land in the '(missing)' bucket instead
    * of silently dropping out of the terms agg.
    *
    * Scale shape: schema-on-read JSON extraction (a3's path) + ONE keyed
    * map-combined aggregation over ≤ 3 buckets; sums ride integer cents. */
  def j87(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.eventsRaw(s, d)
      .select(
        when(get_json_object($"props", "$.k").cast("int") >= 80, "high")
          .when(get_json_object($"props", "$.k").cast("int") >= 50, "mid")
          .as("tier"), // null for k < 50 — the absent attribute
        round($"value" * 100, 0).cast("long").as("cents"))
      .groupBy(coalesce($"tier", lit("(missing)")).as("tier"))
      .agg(count(lit(1)).as("doc_count"),
        round(sum($"cents") / lit(100.0), 2).as("sum_value"))
      .orderBy($"tier")
  }

  /** j89_top_metrics — ES `top_metrics` aggregation: per event_type
    * bucket, the metric values (value, user_id) of the event with the
    * LATEST timestamp (`sort: ts desc`, event_id ASC tiebreak for
    * cross-engine determinism) — the "current reading per key" the sync
    * loop's monitoring reads (e8's LWW winner, surfaced as an agg
    * response instead of a dedup).
    *
    * Scale shape: rank = 1 over a literal cut compiles to Spark 4's
    * WindowGroupLimit (j54/j75's shape) — each task ships one row per
    * bucket, never its slice. The ts ordering runs in the epoch-µs
    * integer domain (e3's discipline). */
  def j89(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_type")
      .orderBy($"ts_us".desc, $"event_id".asc)
    Tables.eventsUs(s, d)
      .select($"event_type", $"event_id", $"ts", $"ts_us", $"user_id", $"value")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"event_type", $"ts", $"user_id", $"value")
      .orderBy($"event_type")
  }

  /** j90_t_test — ES `t_test` aggregation (unpaired, heteroscedastic =
    * Welch): is the purchase value distribution different from the click
    * one? Reports both means, Welch's t statistic and the
    * Welch–Satterthwaite degrees of freedom. ES additionally maps (t, df)
    * to a p-value through the t-distribution CDF — a client-side
    * constant-time lookup whose incomplete-beta implementation is
    * libm-specific, so the ENGINE surfaces the distributed part (the
    * exact moments and the statistic) and leaves the CDF to the caller.
    *
    * Determinism: all moments come from exact integer-cents sums (ONE
    * j60-style conditional-count reduce row); every derived quantity is
    * the identical IEEE expression in both engines (j71/j83's structural
    * rule). */
  def j90(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = $"event_type" === "purchase"
    val k = $"event_type" === "click"
    Tables.events(s, d)
      .select($"event_type", round($"value" * 100, 0).cast("long").as("c"))
      .agg(
        count(when(p, 1)).as("n1"), sum(when(p, $"c")).as("s1"),
        sum(when(p, $"c" * $"c")).as("q1"),
        count(when(k, 1)).as("n2"), sum(when(k, $"c")).as("s2"),
        sum(when(k, $"c" * $"c")).as("q2"))
      // cents sums are exact longs < 2^53 — the double casts are lossless
      .selectExpr("n1", "n2",
        "cast(s1 as double) AS ds1", "cast(q1 as double) AS dq1",
        "cast(s2 as double) AS ds2", "cast(q2 as double) AS dq2")
      .select($"n1", $"n2",
        Parity.round6($"ds1" / $"n1" / 100.0).as("mean_purchase"),
        Parity.round6($"ds2" / $"n2" / 100.0).as("mean_click"),
        // variances in dollars²: cents² / 1e4
        ((($"dq1" - $"ds1" * $"ds1" / $"n1") / ($"n1" - 1)) / 10000.0).as("v1"),
        ((($"dq2" - $"ds2" * $"ds2" / $"n2") / ($"n2" - 1)) / 10000.0).as("v2"))
      .select($"n1", $"n2", $"mean_purchase", $"mean_click",
        round(($"mean_purchase" - $"mean_click") /
          sqrt($"v1" / $"n1" + $"v2" / $"n2"), 6).as("t_stat"),
        round(pow($"v1" / $"n1" + $"v2" / $"n2", 2) /
          (pow($"v1" / $"n1", 2) / ($"n1" - 1) +
            pow($"v2" / $"n2", 2) / ($"n2" - 1)), 6).as("welch_df"))
  }

  /** j91_frequent_item_sets — ES `frequent_item_sets` aggregation
    * (market-basket analysis), k=2: part pairs co-purchased within the
    * same order with support ≥ 2, top-20 by (support DESC, pair ASC).
    * ES runs a sampled Eclat over transactions; exact pair counting is
    * the honest equivalent when the engine has a shuffle.
    *
    * Scale shape: the pair generator is a SELF-JOIN ON THE BASKET KEY —
    * co-partitioned on l_orderkey, so the quadratic blowup is bounded by
    * basket size (≤ 7 lineitems per order here; ~k² rows per basket, not
    * corpus²); pair support then map-side combines and the cut is
    * TakeOrderedAndProject. Larger itemsets (k>2) iterate a-priori style
    * on the surviving pairs — same join shape, support-pruned input. */
  def j91(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_partkey").distinct()
    // SHUFFLE_HASH: basket-key self-join of a freshly distinct'd frame —
    // hash build beats sort-merge's two sorts (the pair-join lesson)
    li.as("a").hint("SHUFFLE_HASH").join(li.as("b").hint("SHUFFLE_HASH"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
      .agg(count(lit(1)).as("support"))
      .filter($"support" >= 2)
      .orderBy($"support".desc, $"p1".asc, $"p2".asc)
      .limit(20)
  }

  /** j198_ip_range — the ES `ip_range` aggregation with CIDR masks (the
    * network/security dashboard staple): bucket an IPv4 STRING field by
    * explicit from/to ranges AND a `10.2.0.0/15` CIDR mask, including
    * the unbounded edge buckets (`*-to` / `from-*` — j144's open-edge
    * spine discipline), each with doc_count + an exact integer-cents
    * metric. Ranges may OVERLAP (each is an independent predicate —
    * the ES contract), which the fixture exercises: `10.3.0.0-*` sits
    * inside the /15.
    *
    * The fixture carries no organic IPs, so each event synthesizes one
    * deterministically from key arithmetic (j49's device):
    * `10.(u%4).(u%256).((u·7)%256)` — built as a STRING, then parsed
    * back to its numeric form octet-by-octet IN the query, which is
    * exactly what ES does to an `ip`-typed field before range-testing
    * (CIDR `a.b.c.d/p` = the numeric interval [base, base + 2^(32−p))).
    *
    * Scale shape: j80's — the whole response is ONE map-side-combinable
    * global aggregate (conditional count/sum per bucket, a single
    * reduce row at any corpus size) unpivoted by `stack`; no join, no
    * per-range pass. Metric rides integer cents (j73). */
  def j198(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val u = $"user_id"
    val e = Tables.events(s, d)
      .select(concat_ws(".", lit(10), u % 4, u % 256, (u * 7) % 256).as("ip"),
        round($"value" * 100, 0).cast("long").as("cents"))
      .withColumn("o", split($"ip", "\\."))
      // numeric IPv4: the CIDR-comparable form ES derives for ip fields
      .withColumn("ipn",
        element_at($"o", 1).cast("long") * 16777216L +
          element_at($"o", 2).cast("long") * 65536L +
          element_at($"o", 3).cast("long") * 256L +
          element_at($"o", 4).cast("long"))
    // 10.0.1.0=167772416  10.2.0.0=167903232  10.4.0.0=168034304  10.3.0.0=167968768
    val r1 = $"ipn" < 167772416L
    val r2 = $"ipn" >= 167772416L && $"ipn" < 167903232L
    val r3 = $"ipn" >= 167903232L && $"ipn" < 168034304L // 10.2.0.0/15
    val r4 = $"ipn" >= 167968768L
    e.agg(
        count(when(r1, 1)).as("k1"), sum(when(r1, $"cents")).as("s1"),
        count(when(r2, 1)).as("k2"), sum(when(r2, $"cents")).as("s2"),
        count(when(r3, 1)).as("k3"), sum(when(r3, $"cents")).as("s3"),
        count(when(r4, 1)).as("k4"), sum(when(r4, $"cents")).as("s4"))
      .selectExpr(
        """stack(4,
          |  '*-10.0.1.0',        CAST(NULL AS STRING), '10.0.1.0', k1, s1,
          |  '10.0.1.0-10.2.0.0', '10.0.1.0', '10.2.0.0',           k2, s2,
          |  '10.2.0.0/15',       '10.2.0.0', '10.4.0.0',           k3, s3,
          |  '10.3.0.0-*',        '10.3.0.0', CAST(NULL AS STRING), k4, s4)
          |  AS (key, ip_from, ip_to, doc_count, sc)""".stripMargin)
      .select($"key", $"ip_from", $"ip_to", $"doc_count",
        coalesce($"sc", lit(0L)).as("sum_cents"))
      .orderBy($"key")
  }

  /** j203_ip_prefix — the ES `ip_prefix` bucket aggregation (8.6+): one
    * bucket per network prefix at a fixed prefix_length (here /24),
    * keyed by the network ADDRESS — the subnet-rollup view of the same
    * traffic j198's explicit ranges slice. The IPv4 is synthesized from
    * key arithmetic exactly as j198/j49 (`10.(u%4).(u%256).((u·7)%256)`)
    * but directly in numeric form — bucket = ipn − ipn mod 2^(32−p),
    * rendered back to the dotted `a.b.c.0/24` key ES returns. Octet
    * arithmetic stays in exact integers end-to-end; the metric rides
    * integer cents (j73). Bucket count is bounded by the /24 space
    * actually occupied (≤256 with this derivation — u%256 determines
    * both variable octets), so the response is small at any corpus
    * size.
    *
    * Scale shape: ONE map-side-combinable keyed aggregate over the
    * event stream — no join, no window; the prefix key is row-local
    * integer math. The same plan at 100 TB shuffles only
    * (#prefixes × #partitions) partial rows. */
  def j203(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val u = $"user_id"
    Tables.events(s, d)
      .select((lit(10L) * 16777216L + (u % 4) * 65536L +
          (u % 256) * 256L + (u * 7) % 256).as("ipn"),
        round($"value" * 100, 0).cast("long").as("cents"))
      .withColumn("net", $"ipn" - $"ipn" % 256)
      .groupBy($"net")
      .agg(count(lit(1)).as("doc_count"), sum($"cents").as("sum_cents"))
      .select(
        concat(lit("10."), expr("net DIV 65536 % 256").cast("string"), lit("."),
          expr("net DIV 256 % 256").cast("string"), lit(".0/24")).as("prefix"),
        lit(24).as("prefix_length"), $"doc_count", $"sum_cents")
      .orderBy($"prefix")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "j198_ip_range" -> j198,
    "j203_ip_prefix" -> j203,
    "j89_top_metrics" -> j89, "j90_t_test" -> j90,
    "j91_frequent_item_sets" -> j91,
    "j74_histogram" -> j74, "j75_top_hits" -> j75,
    "j76_bucket_selector" -> j76, "j77_multi_match" -> j77,
    "j78_serial_diff" -> j78, "j79_bucket_sort" -> j79,
    "j80_filters_agg" -> j80, "j81_multi_terms" -> j81,
    "j82_string_stats" -> j82, "j83_matrix_stats" -> j83,
    "j84_span_near" -> j84, "j85_wildcard_query" -> j85,
    "j86_rate_agg" -> j86, "j87_missing_agg" -> j87)

  val oracle: Map[String, String] = Map(
    "j203_ip_prefix" ->
      """WITH e AS (SELECT 10 * 16777216 + (user_id % 4) * 65536 +
        |             (user_id % 256) * 256 + (user_id * 7 % 256) AS ipn,
        |             CAST(round(value * 100, 0) AS BIGINT) AS cents
        |           FROM 'events.parquet'),
        |p AS (SELECT ipn - ipn % 256 AS net, cents FROM e)
        |SELECT '10.' || CAST(net // 65536 % 256 AS VARCHAR) || '.' ||
        |       CAST(net // 256 % 256 AS VARCHAR) || '.0/24' AS prefix,
        |       CAST(24 AS INT) AS prefix_length,
        |       CAST(count(*) AS BIGINT) AS doc_count,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM p GROUP BY 1 ORDER BY prefix""".stripMargin,
    "j198_ip_range" ->
      """WITH e AS (SELECT CAST(10 AS VARCHAR) || '.' ||
        |             CAST(user_id % 4 AS VARCHAR) || '.' ||
        |             CAST(user_id % 256 AS VARCHAR) || '.' ||
        |             CAST(user_id * 7 % 256 AS VARCHAR) AS ip,
        |             CAST(round(value * 100, 0) AS BIGINT) AS cents
        |           FROM 'events.parquet'),
        |n AS (SELECT CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216 +
        |             CAST(string_split(ip, '.')[2] AS BIGINT) * 65536 +
        |             CAST(string_split(ip, '.')[3] AS BIGINT) * 256 +
        |             CAST(string_split(ip, '.')[4] AS BIGINT) AS ipn, cents
        |      FROM e),
        |a AS (SELECT
        |        count(*) FILTER (WHERE ipn < 167772416) AS k1,
        |        sum(cents) FILTER (WHERE ipn < 167772416) AS s1,
        |        count(*) FILTER (WHERE ipn >= 167772416 AND ipn < 167903232) AS k2,
        |        sum(cents) FILTER (WHERE ipn >= 167772416 AND ipn < 167903232) AS s2,
        |        count(*) FILTER (WHERE ipn >= 167903232 AND ipn < 168034304) AS k3,
        |        sum(cents) FILTER (WHERE ipn >= 167903232 AND ipn < 168034304) AS s3,
        |        count(*) FILTER (WHERE ipn >= 167968768) AS k4,
        |        sum(cents) FILTER (WHERE ipn >= 167968768) AS s4
        |      FROM n)
        |SELECT key, ip_from, ip_to, doc_count,
        |       CAST(coalesce(sc, 0) AS BIGINT) AS sum_cents FROM (
        |  SELECT '*-10.0.1.0' AS key, CAST(NULL AS VARCHAR) AS ip_from,
        |         '10.0.1.0' AS ip_to, k1 AS doc_count, s1 AS sc FROM a
        |  UNION ALL SELECT '10.0.1.0-10.2.0.0', '10.0.1.0', '10.2.0.0', k2, s2 FROM a
        |  UNION ALL SELECT '10.2.0.0/15', '10.2.0.0', '10.4.0.0', k3, s3 FROM a
        |  UNION ALL SELECT '10.3.0.0-*', '10.3.0.0', CAST(NULL AS VARCHAR), k4, s4 FROM a)
        |ORDER BY key""".stripMargin,
    "j91_frequent_item_sets" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey
        |            FROM 'lineitem.parquet'),
        |p AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2,
        |             count(*) AS support
        |      FROM li a JOIN li b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2)
        |SELECT p1, p2, support FROM p WHERE support >= 2
        |ORDER BY support DESC, p1 ASC, p2 ASC LIMIT 20""".stripMargin,
    "j89_top_metrics" ->
      """SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, user_id, value
        |FROM 'events.parquet'
        |QUALIFY row_number() OVER (PARTITION BY event_type
        |  ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC, event_id ASC) = 1
        |ORDER BY event_type""".stripMargin,
    "j90_t_test" ->
      """WITH e AS (SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c
        |           FROM 'events.parquet'),
        |m AS (SELECT
        |        count(*) FILTER (WHERE event_type = 'purchase') AS n1,
        |        CAST(CAST(sum(c) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS DOUBLE) AS ds1,
        |        CAST(CAST(sum(c * c) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS DOUBLE) AS dq1,
        |        count(*) FILTER (WHERE event_type = 'click') AS n2,
        |        CAST(CAST(sum(c) FILTER (WHERE event_type = 'click') AS BIGINT) AS DOUBLE) AS ds2,
        |        CAST(CAST(sum(c * c) FILTER (WHERE event_type = 'click') AS BIGINT) AS DOUBLE) AS dq2
        |      FROM e),
        |d AS (SELECT n1, n2,
        |        floor(ds1 / n1 / 100.0 * 1000000 + 0.5) / 1000000.0 AS mean_purchase,
        |        floor(ds2 / n2 / 100.0 * 1000000 + 0.5) / 1000000.0 AS mean_click,
        |        ((dq1 - ds1 * ds1 / n1) / (n1 - 1)) / 10000.0 AS v1,
        |        ((dq2 - ds2 * ds2 / n2) / (n2 - 1)) / 10000.0 AS v2
        |      FROM m)
        |SELECT n1, n2, mean_purchase, mean_click,
        |       round((mean_purchase - mean_click) /
        |             sqrt(v1 / n1 + v2 / n2), 6) AS t_stat,
        |       round(pow(v1 / n1 + v2 / n2, 2) /
        |             (pow(v1 / n1, 2) / (n1 - 1) +
        |              pow(v2 / n2, 2) / (n2 - 1)), 6) AS welch_df
        |FROM d""".stripMargin,
    "j74_histogram" ->
      """WITH e AS (SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents
        |           FROM 'events.parquet'),
        |bd AS (SELECT least((min(cents) // 5000) * 50, 0) AS b0,
        |              greatest((max(cents) // 5000) * 50, 500) AS b1 FROM e),
        |bk AS (SELECT unnest(generate_series(b0, b1, 50)) AS bucket FROM bd),
        |ty AS (SELECT DISTINCT event_type FROM e),
        |spine AS (SELECT ty.event_type, bk.bucket FROM ty CROSS JOIN bk),
        |h AS (SELECT event_type, (cents // 5000) * 50 AS bucket,
        |             count(*) AS doc_count, CAST(sum(cents) AS BIGINT) AS sc
        |      FROM e GROUP BY 1, 2)
        |SELECT spine.event_type, spine.bucket,
        |       coalesce(h.doc_count, 0) AS doc_count,
        |       round(coalesce(h.sc, 0) / 100.0, 2) AS sum_value
        |FROM spine LEFT JOIN h USING (event_type, bucket)
        |ORDER BY spine.event_type, spine.bucket""".stripMargin,
    "j75_top_hits" ->
      """WITH c AS (SELECT lang, count(*) AS doc_count
        |           FROM 'documents.parquet' GROUP BY 1),
        |r AS (SELECT lang, doc_id, source, n_chars,
        |        CAST(row_number() OVER (PARTITION BY lang
        |               ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS rn
        |      FROM 'documents.parquet')
        |SELECT r.lang, c.doc_count, r.rn, r.doc_id, r.source, r.n_chars
        |FROM r JOIN c USING (lang) WHERE r.rn <= 3
        |ORDER BY r.lang, r.rn""".stripMargin,
    "j76_bucket_selector" ->
      s"""WITH $DailyEventsSql,
         |h AS (SELECT day, count(*) AS total,
         |             count(*) FILTER (WHERE event_type = 'purchase') AS purchases
         |      FROM e GROUP BY 1),
         |b AS (SELECT spine.day, coalesce(h.total, 0) AS total,
         |             coalesce(h.purchases, 0) AS purchases
         |      FROM spine LEFT JOIN h USING (day)),
         |sc AS (SELECT day, total, purchases,
         |         CASE WHEN total > 0
         |           THEN floor(CAST(purchases AS DOUBLE) / CAST(total AS DOUBLE) * 1000000 + 0.5) / 1000000.0
         |           ELSE 0.0 END AS purchase_share
         |       FROM b)
         |SELECT day, total, purchases, purchase_share FROM sc
         |WHERE purchase_share >= 0.2 ORDER BY day""".stripMargin,
    "j77_multi_match" ->
      s"""WITH ${TextOps.bm25TokensSql("= 'spark'")},
         |ts AS (SELECT doc_id, list_sum(list_sort(list(tscore))) AS tsc
         |       FROM sc GROUP BY 1),
         |base AS (SELECT doc_id,
         |           CAST(CASE WHEN source = 'src3' THEN 1.5 ELSE 0.0 END AS DOUBLE) AS src_score
         |         FROM 'documents.parquet'),
         |j AS (SELECT base.doc_id, coalesce(ts.tsc, 0.0) AS tsc, base.src_score
         |      FROM base LEFT JOIN ts USING (doc_id))
         |SELECT doc_id,
         |       round(greatest(tsc, src_score) + 0.3 * least(tsc, src_score), 6) AS score,
         |       round(tsc, 6) AS text_score, src_score
         |FROM j WHERE tsc > 0.0 OR src_score > 0.0
         |ORDER BY score DESC, doc_id ASC LIMIT 15""".stripMargin,
    "j78_serial_diff" ->
      s"""WITH $DailySql
         |SELECT day, doc_count,
         |       doc_count - lag(doc_count, 7) OVER (ORDER BY day) AS serial_diff
         |FROM b ORDER BY day""".stripMargin,
    "j79_bucket_sort" ->
      s"""WITH $DailySql,
         |sel AS (SELECT day, doc_count FROM b
         |        ORDER BY doc_count DESC, day ASC LIMIT 5 OFFSET 2)
         |SELECT day, doc_count FROM sel ORDER BY day""".stripMargin,
    "j80_filters_agg" ->
      """WITH e AS (SELECT event_type, value,
        |             CAST(round(value * 100, 0) AS BIGINT) AS cents
        |           FROM 'events.parquet'),
        |m AS (SELECT
        |        count(*) FILTER (WHERE event_type = 'purchase') AS kp,
        |        CAST(coalesce(sum(cents) FILTER (WHERE event_type = 'purchase'), 0) AS BIGINT) AS sp,
        |        count(*) FILTER (WHERE value >= 400.0) AS kb,
        |        CAST(coalesce(sum(cents) FILTER (WHERE value >= 400.0), 0) AS BIGINT) AS sb,
        |        count(*) FILTER (WHERE event_type = 'error') AS ke,
        |        CAST(coalesce(sum(cents) FILTER (WHERE event_type = 'error'), 0) AS BIGINT) AS se,
        |        count(*) FILTER (WHERE NOT (event_type = 'purchase')
        |          AND NOT (value >= 400.0) AND NOT (event_type = 'error')) AS ko,
        |        CAST(coalesce(sum(cents) FILTER (WHERE NOT (event_type = 'purchase')
        |          AND NOT (value >= 400.0) AND NOT (event_type = 'error')), 0) AS BIGINT) AS so
        |      FROM e),
        |u AS (SELECT 'big_value' AS "key", kb AS doc_count, sb AS sc FROM m
        |      UNION ALL SELECT 'errors', ke, se FROM m
        |      UNION ALL SELECT 'other', ko, so FROM m
        |      UNION ALL SELECT 'purchases', kp, sp FROM m)
        |SELECT "key", doc_count, round(sc / 100.0, 2) AS sum_value
        |FROM u ORDER BY "key"""".stripMargin,
    "j81_multi_terms" ->
      """SELECT lang, source, count(*) AS doc_count,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM 'documents.parquet' GROUP BY 1, 2
        |ORDER BY doc_count DESC, lang ASC, source ASC LIMIT 10""".stripMargin,
    "j82_string_stats" ->
      """WITH ls AS (SELECT count(*) AS n_docs,
        |              min(length(text)) AS min_length,
        |              max(length(text)) AS max_length,
        |              floor(avg(length(text)) * 1000000 + 0.5) / 1000000.0 AS avg_length
        |            FROM 'documents.parquet'),
        |ch AS (SELECT unnest(list_transform(generate_series(1, length(text)),
        |                i -> substring(text, i, 1))) AS ch
        |       FROM 'documents.parquet'),
        |f AS (SELECT ch, CAST(count(*) AS DOUBLE) AS c FROM ch GROUP BY 1),
        |ent AS (SELECT sum(c) AS t,
        |          list_sum(list_sort(list(c * ln(c)))) AS clnc FROM f)
        |SELECT ls.n_docs, ls.min_length, ls.max_length, ls.avg_length,
        |       round((ln(ent.t) - ent.clnc / ent.t) / ln(2.0), 6) AS entropy
        |FROM ls CROSS JOIN ent""".stripMargin,
    "j83_matrix_stats" ->
      """WITH a AS (SELECT count(*) AS n,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS dx,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS dy,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS dxx,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS dxy,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS dyy
        |  FROM 'lineitem.parquet')
        |SELECT n,
        |  floor(dx / n * 1000000 + 0.5) / 1000000.0 AS mean_q,
        |  floor(dy / n * 1000000 + 0.5) / 1000000.0 AS mean_p,
        |  floor((dxx - dx * dx / n) / (n - 1) * 1000000 + 0.5) / 1000000.0 AS var_q,
        |  floor((dyy - dy * dy / n) / (n - 1) * 1000000 + 0.5) / 1000000.0 AS var_p,
        |  floor((dxy - dx * dy / n) / (n - 1) * 1000000 + 0.5) / 1000000.0 AS cov_qp,
        |  round(((dxy - dx * dy / n) / (n - 1)) /
        |    sqrt(((dxx - dx * dx / n) / (n - 1)) *
        |         ((dyy - dy * dy / n) / (n - 1))), 6) AS corr_qp
        |FROM a""".stripMargin,
    "j84_span_near" ->
      s"""WITH ${TextOps.SpanTokensSql},
         |m AS (SELECT doc_id,
         |        list_filter(generate_series(1, len(t)),
         |          i -> t[i] = 'spark'
         |               AND len(list_filter(list_slice(t, i + 1, i + 4),
         |                                   x -> x = 'join')) > 0) AS hits
         |      FROM t)
         |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_matches,
         |       CAST(hits[1] AS BIGINT) AS first_pos
         |FROM m WHERE len(hits) >= 1 ORDER BY doc_id""".stripMargin,
    "j85_wildcard_query" ->
      """SELECT source, count(*) AS doc_count,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM 'documents.parquet' WHERE source LIKE 'src1%'
        |GROUP BY 1 ORDER BY source""".stripMargin,
    "j86_rate_agg" ->
      """WITH e AS (SELECT CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week,
        |             event_type
        |           FROM 'events.parquet'),
        |bnd AS (SELECT min(week) AS w0, max(week) AS w1 FROM e),
        |spine AS (SELECT CAST(unnest(generate_series(
        |            CAST(w0 AS TIMESTAMP), CAST(w1 AS TIMESTAMP),
        |            INTERVAL 7 DAY)) AS DATE) AS week FROM bnd),
        |h AS (SELECT week, count(*) AS doc_count FROM e
        |      WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT spine.week, coalesce(h.doc_count, 0) AS doc_count,
        |       floor(coalesce(h.doc_count, 0) / 7.0 * 1000000 + 0.5) / 1000000.0 AS rate_per_day
        |FROM spine LEFT JOIN h USING (week) ORDER BY spine.week""".stripMargin,
    "j87_missing_agg" ->
      """WITH e AS (SELECT
        |    CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) >= 80 THEN 'high'
        |         WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50 THEN 'mid'
        |         END AS tier,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM 'events.parquet')
        |SELECT coalesce(tier, '(missing)') AS tier, count(*) AS doc_count,
        |       round(CAST(sum(cents) AS BIGINT) / 100.0, 2) AS sum_value
        |FROM e GROUP BY 1 ORDER BY tier""".stripMargin)
}
