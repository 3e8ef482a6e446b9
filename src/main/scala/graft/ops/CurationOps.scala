package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2-J corpus-curation operators (round 3 additions): the sampling /
  * filtering / ordering mechanics a pretraining data pipeline applies
  * AFTER the dedup + quality passes (TextOps, PipelineOps) and BEFORE the
  * tokenizer: domain mixture rebalancing (j28), intra-document repetition
  * filtering (j29), and the deterministic global shuffle that fixes the
  * training order (j30).
  *
  * Each pass exists in two forms: a reusable DataFrame transformer
  * ([[domainMix]] / [[repetitionStats]] / [[shuffleShard]]) that a
  * production pipeline composes over whatever survives its previous
  * stages (see [[curate]] for the full chain), and the jNN query wrapper
  * that binds it to the fixture table with deterministic presentation —
  * the oracled surface.
  *
  * Same portability discipline as PipelineOps: every pseudo-random choice
  * is md5-nibble arithmetic over a salted id, so the sample/shuffle is
  * bit-reproducible across engines, runs, and cluster layouts — the
  * DuckDB oracle computes the identical bytes.
  */
object CurationOps {

  /** Exact dedup over any frame with (doc_id, text): keep the min-doc_id
    * row per md5(text), adding the `content_hash` column. One shuffle on
    * the hash; the window carries one row per duplicate group member.
    * (j1's core — TextOps.j1 binds it to the table.) */
  def exactDedup(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("content_hash")).orderBy(col("doc_id").asc)
    docs
      .withColumn("content_hash", md5(col("text")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Mixture rebalancing over any frame with (lang, doc_id): downsample
    * every language to the size of the smallest one (rate = min_cnt /
    * cnt), keeping a row iff its salted-hash fraction < its language's
    * rate. Deterministic — no RNG state, so adding executors or
    * re-running yields the same sample; expected per-lang output size is
    * min_cnt for every lang. Returns the kept rows with a `rate` column.
    *
    * Scale shape: one map-combined count per lang (5-ish rows) and the
    * rate table broadcast onto the input — the 100 TB side is filtered
    * in place with NO shuffle. Swapping `min(cnt)` for an explicit
    * target-weight table turns this into general mixture reweighting
    * (DoReMi-style) with the same plan. */
  def domainMix(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
    // global-window min instead of a separate agg+crossJoin: keeps the
    // count subtree single (Catalyst won't reuse the exchange across two
    // branches) — the single-partition window moves ~5 rows, not data
    val rates = counts.select(col("lang"),
      (min(col("cnt")).over(Window.partitionBy()) / col("cnt")).as("rate"))
    docs
      .withColumn("h", md5(concat(lit("mix:"), col("doc_id").cast("string"))))
      .withColumn("frac", expr(Hashing.nibbleInt("h")) / lit(65536.0))
      .join(broadcast(rates), "lang")
      .filter(col("frac") < col("rate"))
      .drop("h", "frac")
  }

  /** j28_domain_mix — [[domainMix]] bound to the documents table. */
  def j28(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    domainMix(Tables.documents(s, d))
      .select($"doc_id", $"lang", $"source", Parity.round6($"rate").as("rate"))
      .orderBy($"doc_id")
  }

  /** Intra-document repetition signal (the MassiveText/Gopher
    * "repetitious text" family) over any frame with a `text` column: the
    * fraction of duplicate 2-grams and 3-grams among each doc's word
    * n-grams (columns d2/d3, unrounded) plus the keep decision
    * (dup-2-gram fraction ≤ 0.10). Docs too short to form an n-gram
    * cannot be repetitious: their fraction is 0 and they are KEPT — a
    * filtering transformer must not silently eat short documents.
    *
    * Scale shape: the whole computation is per-row array arithmetic
    * (transform + array_distinct + size) — ZERO shuffles, no joins; the
    * n-gram lists live only inside the row being processed, so memory is
    * O(doc length) per row at any corpus size. */
  def repetitionStats(docs: DataFrame, keepTokens: Boolean = false): DataFrame = {
    def grams(n: Int): String = {
      val parts = (0 until n).map(k => s"element_at(__toks, i + $k)").mkString(", ")
      s"transform(sequence(1, size(__toks) - ${n - 1}), i -> concat_ws(' ', $parts))"
    }
    def dupFrac(g: String): Column =
      when(size(col(g)) > 0,
        lit(1.0) - size(array_distinct(col(g))).cast("double") / size(col(g)))
        .otherwise(lit(0.0))
    // materialize each gram array (and the reused dup-2 fraction) as a
    // named column in its own projection: HOFs are CodegenFallback, so
    // codegen subexpression elimination can NOT merge repeated transform
    // calls — without this, g2 would be built 3× and g3 2× per row.
    // The >= guards keep sequence() from ever running backwards on short
    // docs (sequence(1, 0) would DESCEND, not return empty).
    docs
      .withColumn("__toks", split(col("text"), " "))
      .withColumn("n_toks", size(col("__toks")).cast("long"))
      .withColumn("__g2", when(col("n_toks") >= 2, expr(grams(2)))
        .otherwise(expr("CAST(array() AS ARRAY<STRING>)")))
      .withColumn("__g3", when(col("n_toks") >= 3, expr(grams(3)))
        .otherwise(expr("CAST(array() AS ARRAY<STRING>)")))
      .withColumn("d2", dupFrac("__g2"))
      .withColumn("d3", dupFrac("__g3"))
      .withColumn("keep", when(col("d2") <= 0.10, 1).otherwise(0))
      // keepTokens: a caller that needs the token array next (e.g.
      // curateStreamReleasable's shingle probe) avoids re-splitting the text
      .drop(Seq("__g2", "__g3") ++ (if (keepTokens) Nil else Seq("__toks")): _*)
  }

  /** j29_repetition_filter — [[repetitionStats]] bound to the documents
    * table, fractions rounded for presentation. The oracled query keeps
    * its historical ≥3-token scope (the fixture has no shorter docs). */
  def j29(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    repetitionStats(Tables.documents(s, d))
      .filter($"n_toks" >= 3)
      .select($"doc_id", $"n_toks",
        Parity.round6($"d2").as("dup2_frac"),
        Parity.round6($"d3").as("dup3_frac"),
        $"keep")
      .orderBy($"doc_id")
  }

  /** Deterministic global training-order shuffle over any frame with a
    * `doc_id` column: every row gets a salted md5 shuffle key, a shard
    * (top TWO key bytes mod `shards` — 65536 hash values, so the knob
    * genuinely supports the ~10k shards a 100 TB run wants and residual
    * skew from non-divisors stays ≤ shards/65536), and its position
    * within the shard (rank by key). The (shard, pos) pair IS the
    * training order — reproducible across engines and runs, no RNG, no
    * driver-side state.
    *
    * Scale shape: one hash projection + one rank per shard — a single
    * hashpartitioning exchange does the real work. The shard count is
    * the parallelism knob — the demo's 8 becomes ~10k at 100 TB so each
    * shard's window sort fits one task comfortably (the key is uniform,
    * so shards are balanced by construction); equivalently
    * `repartitionByRange(shard, skey)` + a per-partition running index. */
  def shuffleShard(docs: DataFrame, shards: Int = 8): DataFrame = {
    require(shards > 0 && shards <= 65536,
      s"shards must be in 1..65536 (two hash bytes), got $shards")
    val w = Window.partitionBy(col("shard")).orderBy(col("skey"), col("doc_id"))
    docs
      .withColumn("skey", md5(concat(lit("shuf:"), col("doc_id").cast("string"))))
      .withColumn("shard",
        expr(s"${Hashing.nibbleInt("skey", 4)} % $shards").cast("long"))
      .withColumn("pos", row_number().over(w).cast("long"))
  }

  /** j30_shuffle_shard — [[shuffleShard]] bound to the documents table
    * (the trailing presentation sort adds an output-only range exchange;
    * a production run writes partitionBy(shard) sorted files instead). */
  def j30(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    shuffleShard(Tables.documents(s, d))
      .select($"shard", $"pos", $"doc_id")
      .orderBy($"shard", $"pos")
  }

  /** The full curation chain, composed the way a production pretraining
    * pipeline runs it — each stage consumes what the previous one kept
    * (so e.g. mixture rates are computed over the FILTERED corpus, not
    * the raw one):
    *
    *   1. exact dedup — keep the min-doc_id copy per content hash (j1)
    *   2. near-dup dedup — keep only cluster representatives
    *      (cluster_id == doc_id) from the j2→j21 pair/component pass
    *   3. repetition filter — drop docs with dup-2-gram fraction > 0.10
    *      (j29's gate)
    *   3b. quality gate — drop docs the fixed-weight classifier scores
    *      at or under the 0.8 decision boundary (j65's gate; the
    *      model-based filter a production pipeline runs beside the
    *      heuristics)
    *   4. decontamination — drop the eval docs themselves (doc_id%10==0
    *      stand-in) and every training doc whose j22 contamination ratio
    *      (shared shingles / own shingles) reaches 0.30. The ratio gate,
    *      not any-single-shingle: on a boilerplate-heavy corpus (this
    *      fixture: 424 of 450 docs share ≥1 shingle with eval, median
    *      ratio ≈0.1) the binary criterion would empty the corpus, while
    *      verbatim eval copies sit at ratio 1.0 — the 0.30 cut drops
    *      exactly the plagiarized tail
    *   5. domain mix — rebalance languages over the survivors (j28)
    *   6. deterministic shuffle — fix the training order (j30)
    *
    * Returns (shard, pos, doc_id, lang, source, text), ordered. Every
    * stage's semantics are pinned by its operator's DuckDB oracle; the
    * composition itself is pinned by CurateSpec's cross-checks against
    * those operators' outputs. */
  def curate(s: SparkSession, d: String): DataFrame =
    curateChain(s, d, semantic = false)

  private def curateChain(s: SparkSession, d: String,
      semantic: Boolean): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val exactKept = exactDedup(docs).drop("content_hash")
    val nearKept = exactKept
      .join(TextOps.nearDupDropSet(s, d), Seq("doc_id"), "left_anti")
    val repKept = repetitionStats(nearKept)
      .filter($"keep" === 1).drop("n_toks", "d2", "d3", "keep")
    // model-based quality gate (j65): row-local classification — the gate
    // is the SAME shared Column the streaming twin filters on, applied in
    // place (zero extra scans/exchanges; an anti-join against the j65
    // frame would re-scan the corpus and shuffle, and would silently KEEP
    // a null-text doc the stream's `> cut` predicate drops)
    val qualKept = repKept.filter(qualityLogit($"text") > qualityCut)
    // gate on the UNROUNDED ratio (same boundary as Sync.curateStreamReleasable) —
    // j22's presentation rounding could otherwise flip a doc whose true
    // ratio sits within 5e-7 of the threshold
    val contaminated = PipelineOps.contamination(s, d)
      .filter($"raw_contamination" >= 0.30).select($"doc_id")
    val decon = qualKept
      .filter($"doc_id" % 10 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
    // the semantic-dedup gate sits BEFORE mixing/sharding: mixture rates
    // must be computed over what actually survives, and the shard/pos
    // training order must stay hole-free
    val gated =
      if (!semantic) decon
      else decon.join(
        PipelineOps.j53(s, d).filter($"keep" === 0)
          .select($"vec_id".as("doc_id")),
        Seq("doc_id"), "left_anti")
    // localCheckpoint: domainMix reads the surviving corpus TWICE (the
    // per-lang rate counts and the filtered output) — without truncation
    // each branch would re-run the whole upstream filter chain (including
    // j53's clustering on the semantic path). The checkpoint backs the
    // returned frame and is freed by the ContextCleaner once the result
    // is dropped.
    val mixed = domainMix(gated.localCheckpoint()).drop("rate")
    val sharded = shuffleShard(mixed)
    if (!semantic)
      sharded.select($"shard", $"pos", $"doc_id", $"lang", $"source", $"text")
        .orderBy($"shard", $"pos")
    else sharded
      .join(PipelineOps.j52(s, d).select($"doc_id", $"dsir_score"),
        Seq("doc_id"), "left")
      .select($"shard", $"pos", $"doc_id", $"lang", $"source", $"text",
        $"dsir_score")
      .orderBy($"shard", $"pos")
  }

  /** [[curate]] extended with the round-4 SEMANTIC passes — what a
    * pipeline adds once the corpus has embeddings:
    *
    *   7. semantic dedup — drop every doc whose embedding j53 marks as a
    *      within-cluster duplicate (keep=0); docs without an embedding
    *      row pass through (no evidence, no drop). Runs BETWEEN
    *      decontamination and domain mixing, so the mixture rates are
    *      computed over the true survivors and the shard/pos training
    *      order stays hole-free
    *   8. DSIR provenance — attach j52's importance score as a column.
    *      The score is a SELECTION KNOB, not a gate: DSIR resampling is
    *      a training-time weighted draw, so the engine supplies the
    *      weight and leaves the draw to the trainer. Docs j52 cannot
    *      score (under 2 tokens) carry null.
    *
    * Same output contract as [[curate]] plus `dsir_score`; the semantic
    * exclusions are cross-checked bidirectionally by CurateSpec exactly
    * like the text gates. Scale: both joins key on doc_id against frames
    * no larger than the corpus (j53's verdicts are one row per VECTOR),
    * and everything upstream keeps its own plan shape. */
  def curateSemantic(s: SparkSession, d: String): DataFrame =
    curateChain(s, d, semantic = true)

  // PII patterns, shared by the transformer and the count — spelled in the
  // common RE2/Java subset (char classes + bounded repeats, no lookaround)
  // so Spark and the DuckDB oracle compile them identically.
  private[graft] val EmailRe = "[a-z0-9]+@[a-z0-9.]+"
  private[graft] val PhoneRe = "\\+1-[0-9]{3}-555-[0-9]{4}"
  private[graft] val IpRe =
    "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** Redact emails, NANP phone numbers, and IPv4 addresses from a string
    * column — the PII scrub a pretraining pipeline runs before anything
    * else sees the text. Order matters only for overlap hygiene: emails
    * first (their domains contain dots an IP pattern could nibble), then
    * phones, then bare IPs. Pure per-row codegen'd regex — zero shuffles,
    * linear at any corpus size. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      IpRe, "<IP>")

  /** Count of PII hits in a string column (sum over the three patterns),
    * counted on the RAW text before redaction. */
  def piiCount(c: Column): Column =
    (size(regexp_extract_all(c, lit(EmailRe), lit(0))) +
      size(regexp_extract_all(c, lit(PhoneRe), lit(0))) +
      size(regexp_extract_all(c, lit(IpRe), lit(0)))).cast("long")

  /** j49_pii_redact — [[redactPii]]/[[piiCount]] over a deterministic
    * contact-card corpus derived from the customer table (the fixture
    * text carries no organic PII, so the query synthesizes it from
    * c_custkey arithmetic — identically in both engines — with each PII
    * kind present on a different key residue so the counts vary 0–3).
    * Every transformation is per-row; the only exchange is the
    * presentation ORDER BY. */
  def j49(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = $"c_custkey"
    val contact = concat_ws(" ",
      $"c_name",
      when(k % 3 =!= 0,
        concat(lit("user"), k.cast("string"), lit("@example.com"))),
      when(k % 2 === 0,
        concat(lit("+1-"), lpad((k % 1000).cast("string"), 3, "0"),
          lit("-555-"), lpad((k % 10000).cast("string"), 4, "0"))),
      when(k % 5 === 0,
        concat(lit("10.0."), (k % 256).cast("string"), lit("."),
          ((k * 7) % 256).cast("string"))))
    Tables.customer(s, d)
      .withColumn("contact", contact)
      .select($"c_custkey", redactPii($"contact").as("redacted"),
        piiCount($"contact").as("n_pii"))
      .orderBy($"c_custkey")
  }

  /** j50_span_dedup — exact substring-level duplication stats (the
    * Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    * Better" measurement, at 10-token granularity): for each document,
    * how many of its 10-token spans also appear in ANOTHER document.
    * Document-level dedup (j1/j2/j12) misses boilerplate shared between
    * otherwise-distinct pages; this is the operator that sees it.
    *
    * Scale shape: spans explode to O(corpus tokens) rows but carry only
    * (doc_id, 32-byte span hash); both aggregations key on the span hash
    * (map-side combined, uniformly distributed — no skew), and the
    * cross-doc count is a window over the ALREADY-GROUPED (span, doc)
    * frame, so no doc×doc comparison exists anywhere. At 100 TB the md5
    * would be swapped for an 8-byte xxhash64 (the j2/j12 key discipline);
    * md5 here because the oracle must compute the identical key. */
  def j50(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val spans = Tables.documents(s, d)
      .select($"doc_id", split($"text", " ").as("t"))
      .filter(size($"t") >= 10)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(t) - 9), i -> md5(array_join(slice(t, i, 10), ' ')))"))
        .as("span_h"))
    val w = Window.partitionBy($"span_h")
    spans.groupBy($"span_h", $"doc_id").agg(count(lit(1)).as("c"))
      .withColumn("nd", count(lit(1)).over(w))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_spans"),
        sum(when($"nd" >= 2, $"c").otherwise(0L)).as("n_dup_spans"))
      .filter($"n_dup_spans" > 0)
      .select($"doc_id", $"n_spans", $"n_dup_spans",
        Parity.round6($"n_dup_spans".cast("double") / $"n_spans").as("dup_frac"))
      .orderBy($"doc_id")
  }

  /** Temperature-based mixture sampling over any frame with (lang,
    * doc_id) — the multilingual-pretraining rebalance: sampling weight
    * ∝ n_lang^τ with τ = 0.5, so high-resource languages are compressed
    * and low-resource ones boosted relative to their raw shares. Realized
    * as exact per-lang quotas: quota_l = floor(target · √n_l / Σ√n),
    * filled by the quota_l docs with the smallest salted-hash draw (salt
    * `temp:` keeps the draw independent of j28/j30/j54). The COMPUTED
    * complement of j28 (which needs explicit targets) — corpus statistics
    * decide the mixture, a temperature knob decides how flat.
    *
    * Cross-engine float discipline: the normalizer Σ√n folds in sorted
    * lang order (j53's sorted-fold device) — √ is IEEE-exact and a fixed
    * summation order makes the double, hence every floor(quota), bit-
    * identical across engines and cluster layouts.
    *
    * Scale shape: the rank cut happens in two stages — a LITERAL cut at
    * `target` first (quota_l ≤ target always), which compiles to a
    * map-side Partial WindowGroupLimit exactly like j54, then the exact
    * per-lang quota as a 5-row broadcast-join filter. So the shuffle
    * carries ≤ target·tasks rows per language even though the final
    * quota is data-dependent — the non-literal rank filter never sees
    * more than the literal one lets through. */
  def temperatureMix(docs: DataFrame, target: Int = 250): DataFrame = {
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    // global-window collect instead of agg+crossJoin (domainMix's trick):
    // keeps the count subtree single; the window moves ~5 rows
    val quotas = counts
      .withColumn("z", aggregate(
        array_sort(collect_list(struct(col("lang"), sqrt(col("n_docs").cast("double")).as("w")))
          .over(Window.partitionBy())),
        lit(0.0), (acc, x) => acc + x.getField("w")))
      .select(col("lang"),
        floor(lit(target) * sqrt(col("n_docs").cast("double")) / col("z"))
          .cast("long").as("quota"))
    val win = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    docs
      .withColumn("h", md5(concat(lit("temp:"), col("doc_id").cast("string"))))
      .withColumn("rk", row_number().over(win).cast("long"))
      .filter(col("rk") <= target) // literal cut -> map-side WindowGroupLimit
      .join(broadcast(quotas), "lang")
      .filter(col("rk") <= col("quota"))
      .drop("h")
  }

  /** j57_temperature_mix — [[temperatureMix]] bound to the documents
    * table at target 250 (≈ half the fixture corpus). */
  def j57(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    temperatureMix(Tables.documents(s, d).select($"lang", $"doc_id"))
      .select($"lang", $"doc_id", $"rk", $"quota")
      .orderBy($"lang", $"rk")
  }

  /** j54_stratified_sample — exact-k deterministic sample per stratum:
    * the k=20 docs per language with the smallest salted-hash draw (the
    * shape of carving a fixed-size eval/validation split per domain).
    * The fixed-SIZE complement of j28's fixed-RATE sampling: j28's
    * output size floats with the data; an eval carve-out must not.
    * Deterministic — no RNG state, re-runs and executor counts don't
    * move the sample; the hash order IS the draw (salt `strat:` keeps it
    * independent of j28/j30's draws).
    *
    * Scale shape: rank ≤ k over a hash order compiles to Spark 4's
    * WindowGroupLimit (PlanSpec-pinned) — each partition keeps only its
    * own top-k per stratum BEFORE the exchange, so the shuffle carries
    * ≤ k·partitions rows per language, not the corpus; a skewed stratum
    * costs the same as a balanced one. */
  def j54(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"lang").orderBy($"h", $"doc_id")
    Tables.documents(s, d)
      .select($"lang", $"doc_id",
        md5(concat(lit("strat:"), $"doc_id".cast("string"))).as("h"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 20)
      .select($"lang", $"doc_id", $"rk")
      .orderBy($"lang", $"rk")
  }

  /** j65_quality_classifier — model-based quality gating: a fixed-weight
    * linear classifier over the j16 heuristic features (token count,
    * type-token ratio, mean token length, stopword ratio) — the shape of
    * fastText/logistic quality filters (CCNet, GPT-3's Wikipedia-vs-crawl
    * classifier) with the learned weights pinned as literals so the gate
    * is reproducible across engines. The logit is reported instead of the
    * sigmoid (monotone in it) — exp() is libm-dependent, the linear form
    * is bit-exact IEEE arithmetic in both engines.
    *
    * Scale shape: pure per-row array arithmetic — zero exchanges before
    * the presentation sort (j29's shape); a learned-weights swap is a
    * literal change, not a plan change. */
  /** The quality logit as a row-local Column over `text` — ONE definition
    * shared by the declared query, the batch curation chain, and the
    * streaming gate (the j56/j28 single-source discipline, so the decision
    * boundary cannot drift between surfaces). `length(text)` stands in for
    * the table's `n_chars` (equal by the fixture's construction, and the
    * honest definition on a feed that carries only text). */
  def qualityLogit(text: Column): Column = {
    val toks = split(text, " ")
    val nToks = size(toks).cast("double")
    val ttr = size(array_distinct(toks)) / nToks
    val meanTokLen = (length(text) - size(toks) + 1) / nToks
    val stopRatio = size(filter(toks, t => t.isin("a", "the"))) / nToks
    Parity.round6(lit(-3.0) + lit(0.01) * nToks + lit(4.0) * ttr
      + lit(0.5) * meanTokLen - lit(6.0) * stopRatio)
  }

  /** Decision boundary: 0.8 sits at the fixture's ~5th percentile, so the
    * gate actually drops the low-quality tail (a 0 cut keeps everything). */
  val qualityCut = 0.8

  /** The oracles' [[qualityLogit]] as CTEs: `t` (doc_id, toks, n_chars)
    * and `ql` (doc_id, q). */
  private[ops] val QualityLogitSql =
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks, n_chars
      |      FROM 'documents.parquet'),
      |ql AS (SELECT doc_id,
      |         floor((-3.0 + 0.01 * len(toks)
      |           + 4.0 * (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE))
      |           + 0.5 * ((n_chars - len(toks) + 1) / CAST(len(toks) AS DOUBLE))
      |           - 6.0 * (len(list_filter(toks, x -> x IN ('a', 'the')))
      |                    / CAST(len(toks) AS DOUBLE))) * 1000000 + 0.5)
      |           / 1000000.0 AS q
      |       FROM t)""".stripMargin

  /** The oracles' [[qualityLogit]] features over `t` (toks, n_chars):
    * the select items `ttr`, `mean_tok_len` and `stop_ratio`. */
  private[ops] val QualityFeaturesSql =
    """len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) AS ttr,
      |        (n_chars - len(toks) + 1) / CAST(len(toks) AS DOUBLE) AS mean_tok_len,
      |        len(list_filter(toks, t -> t IN ('a', 'the')))
      |          / CAST(len(toks) AS DOUBLE) AS stop_ratio""".stripMargin

  /** The oracles' [[qualityLogit]] `score` beside the Gopher-style rule
    * pass `gpass`, as two select items over `toks` and `n_chars`. */
  private[ops] val QualityGopherSql =
    """floor((-3.0 + 0.01 * CAST(len(toks) AS DOUBLE)
      |          + 4.0 * (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE))
      |          + 0.5 * ((n_chars - len(toks) + 1) / CAST(len(toks) AS DOUBLE))
      |          - 6.0 * (len(list_filter(toks, x -> x IN ('a', 'the')))
      |                   / CAST(len(toks) AS DOUBLE))) * 1000000 + 0.5)
      |          / 1000000.0 AS score,
      |        (len(toks) BETWEEN 25 AND 90
      |         AND CAST(n_chars - len(toks) + 1 AS DOUBLE)
      |             / CAST(len(toks) AS DOUBLE) BETWEEN 4.0 AND 5.0
      |         AND len(list_filter(toks, x -> x IN ('a', 'the'))) >= 2
      |         AND CAST(len(list_filter(toks, x -> len(x) <= 2)) AS DOUBLE)
      |             / CAST(len(toks) AS DOUBLE) <= 0.09) AS gpass""".stripMargin

  /** The classifier as a transformer: (doc_id, text, …) ⇒
    * (doc_id, score, keep). */
  def qualityScore(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), qualityLogit(col("text")).as("score"))
      .withColumn("keep", (col("score") > qualityCut).cast("int"))

  def j65(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    qualityScore(Tables.documents(s, d)).orderBy($"doc_id")
  }

  /** j280_url_canonical_dedup — URL canonicalization + dedup, the FIRST
    * step of every web-corpus pipeline (CommonCrawl processors dedup on
    * the canonical URL before any content pass): scheme and `www.`
    * stripped, trailing slash dropped, tracking params (`utm_*`) removed,
    * remaining query params SORTED — so `http://www.h1.example.com/p/9/
    * ?utm_source=x&ref=2&id=9` and `https://h1.example.com/p/9?id=9&ref=2`
    * collapse to one identity. Each canonical group keeps its best
    * variant (longest doc, doc_id tiebreak — j138's keep-best rule). The
    * messy inputs are doc_id-derived (scheme/www/slash/param-order/utm
    * junk all vary deterministically), so both engines canonicalize the
    * SAME mess.
    *
    * Scale shape: canonicalization is row-local string algebra on a
    * map-only projection; the dedup is ONE keyed window (keep-one +
    * counts per canonical key — WindowGroupLimit prunes map-side). At
    * 100 TB this is the cheapest possible dedup: no pair join, no
    * shingles, key cardinality ≈ distinct pages. */
  def j280(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val g = ($"doc_id" % 150).cast("long")
    val url = concat(
      when($"doc_id" % 3 === 0, "http").otherwise("https"), lit("://"),
      when($"doc_id" % 2 === 0, "www.").otherwise(""),
      lit("h"), (g % 37).cast("string"), lit(".example.com"),
      lit("/p/"), g.cast("string"),
      when($"doc_id" % 5 === 0, "/").otherwise(""),
      lit("?"),
      when($"doc_id" % 4 < 2, "utm_source=x&").otherwise(""),
      // surviving params derive from the GROUP (the page identity) —
      // only order, scheme, www, slash and utm junk vary per variant
      when($"doc_id" % 2 === 0,
        concat(lit("ref="), (g % 7).cast("string"), lit("&id="), g.cast("string")))
        .otherwise(
          concat(lit("id="), g.cast("string"), lit("&ref="), (g % 7).cast("string"))))
    val withUrl = Tables.documents(s, d).select($"doc_id", $"n_chars", url.as("url"))
      .withColumn("base",
        regexp_replace(regexp_replace(regexp_replace(
          expr("split(url, '\\\\?')[0]"),
          "^https?://", ""), "^www\\.", ""), "/$", ""))
      .withColumn("canon_q", expr(
        "array_join(array_sort(filter(split(split(url, '\\\\?')[1], '&'), " +
          "p -> NOT startswith(p, 'utm_'))), '&')"))
      .withColumn("canon_url",
        concat($"base", when($"canon_q" =!= "", concat(lit("?"), $"canon_q")).otherwise(lit(""))))
    val w = Window.partitionBy($"canon_url")
      .orderBy($"n_chars".desc, $"doc_id".asc)
    withUrl
      .withColumn("rn", row_number().over(w))
      .withColumn("n_variants", count(lit(1)).over(Window.partitionBy($"canon_url")))
      .filter($"rn" === 1)
      .select($"canon_url", $"n_variants", $"doc_id".as("kept_doc"),
        $"n_chars".as("kept_chars"))
      .orderBy($"canon_url")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "j28_domain_mix" -> j28, "j29_repetition_filter" -> j29,
    "j30_shuffle_shard" -> j30, "j49_pii_redact" -> j49,
    "j50_span_dedup" -> j50, "j54_stratified_sample" -> j54,
    "j57_temperature_mix" -> j57, "j65_quality_classifier" -> j65,
    "j280_url_canonical_dedup" -> j280)


  val oracle: Map[String, String] = Map(
    "j280_url_canonical_dedup" ->
      """WITH u AS (SELECT doc_id, n_chars,
        |  (CASE WHEN doc_id % 3 = 0 THEN 'http' ELSE 'https' END) || '://' ||
        |  (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END) ||
        |  'h' || CAST((doc_id % 150) % 37 AS VARCHAR) || '.example.com' ||
        |  '/p/' || CAST(doc_id % 150 AS VARCHAR) ||
        |  (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) || '?' ||
        |  (CASE WHEN doc_id % 4 < 2 THEN 'utm_source=x&' ELSE '' END) ||
        |  (CASE WHEN doc_id % 2 = 0
        |        THEN 'ref=' || CAST((doc_id % 150) % 7 AS VARCHAR) ||
        |             '&id=' || CAST(doc_id % 150 AS VARCHAR)
        |        ELSE 'id=' || CAST(doc_id % 150 AS VARCHAR) ||
        |             '&ref=' || CAST((doc_id % 150) % 7 AS VARCHAR) END) AS url
        |  FROM 'documents.parquet'),
        |c AS (SELECT doc_id, n_chars,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    string_split(url, '?')[1], '^https?://', ''), '^www\.', ''),
        |    '/$', '') AS base,
        |  array_to_string(list_sort(list_filter(
        |    string_split(string_split(url, '?')[2], '&'),
        |    p -> NOT starts_with(p, 'utm_'))), '&') AS cq
        |  FROM u),
        |k AS (SELECT doc_id, n_chars,
        |        base || CASE WHEN cq <> '' THEN '?' || cq ELSE '' END AS canon_url
        |      FROM c),
        |r AS (SELECT canon_url, doc_id, n_chars,
        |        row_number() OVER (PARTITION BY canon_url
        |          ORDER BY n_chars DESC, doc_id ASC) AS rn,
        |        count(*) OVER (PARTITION BY canon_url) AS n_variants
        |      FROM k)
        |SELECT canon_url, n_variants, doc_id AS kept_doc, n_chars AS kept_chars
        |FROM r WHERE rn = 1 ORDER BY canon_url""".stripMargin,
    "j65_quality_classifier" ->
      s"""WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks
         |           FROM 'documents.parquet'),
         |f AS (SELECT doc_id,
         |        CAST(len(toks) AS DOUBLE) AS n_toks,
         |        $QualityFeaturesSql
         |      FROM t),
         |sc AS (SELECT doc_id,
         |         floor((-3.0 + 0.01 * n_toks + 4.0 * ttr
         |           + 0.5 * mean_tok_len - 6.0 * stop_ratio) * 1000000 + 0.5)
         |           / 1000000.0 AS score
         |       FROM f)
         |SELECT doc_id, score, CAST(score > 0.8 AS INT) AS keep
         |FROM sc ORDER BY doc_id""".stripMargin,
    "j28_domain_mix" -> {
      val h = "md5('mix:' || CAST(d.doc_id AS VARCHAR))"
      s"""WITH c AS (SELECT lang, count(*) AS cnt FROM 'documents.parquet' GROUP BY lang),
         |r AS (SELECT lang, cnt, min(cnt) OVER () / cnt AS rate FROM c),
         |k AS (SELECT d.doc_id, d.lang, d.source, r.rate,
         |      ${Hashing.duckNibble(h)} / 65536.0 AS frac
         |      FROM 'documents.parquet' d JOIN r USING (lang))
         |SELECT doc_id, lang, source, floor(rate * 1000000 + 0.5) / 1000000.0 AS rate
         |FROM k WHERE frac < rate ORDER BY doc_id""".stripMargin
    },
    "j29_repetition_filter" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM 'documents.parquet'),
        |g AS (SELECT doc_id, len(toks) AS n_toks,
        |        list_transform(generate_series(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1]) AS g2,
        |        list_transform(generate_series(1, len(toks) - 2),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS g3
        |      FROM t WHERE len(toks) >= 3)
        |SELECT doc_id, n_toks,
        |floor((1.0 - len(list_distinct(g2)) / len(g2)) * 1000000 + 0.5) / 1000000.0 AS dup2_frac,
        |floor((1.0 - len(list_distinct(g3)) / len(g3)) * 1000000 + 0.5) / 1000000.0 AS dup3_frac,
        |CAST((1.0 - len(list_distinct(g2)) / len(g2)) <= 0.10 AS INT) AS keep
        |FROM g ORDER BY doc_id""".stripMargin,
    "j49_pii_redact" ->
      """WITH c AS (SELECT c_custkey, concat_ws(' ', c_name,
        |    CASE WHEN c_custkey % 3 <> 0
        |      THEN 'user' || CAST(c_custkey AS VARCHAR) || '@example.com' END,
        |    CASE WHEN c_custkey % 2 = 0
        |      THEN '+1-' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') ||
        |           '-555-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') END,
        |    CASE WHEN c_custkey % 5 = 0
        |      THEN '10.0.' || CAST(c_custkey % 256 AS VARCHAR) || '.' ||
        |           CAST(c_custkey * 7 % 256 AS VARCHAR) END) AS contact
        |  FROM 'customer.parquet')
        |SELECT c_custkey,
        |  regexp_replace(regexp_replace(regexp_replace(contact,
        |    '[a-z0-9]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |    '\+1-[0-9]{3}-555-[0-9]{4}', '<PHONE>', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(contact, '[a-z0-9]+@[a-z0-9.]+'))
        |     + len(regexp_extract_all(contact, '\+1-[0-9]{3}-555-[0-9]{4}'))
        |     + len(regexp_extract_all(contact,
        |         '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_pii
        |FROM c ORDER BY c_custkey""".stripMargin,
    "j50_span_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t
        |           FROM 'documents.parquet'
        |           WHERE len(string_split(text, ' ')) >= 10),
        |sp AS (SELECT doc_id, unnest(list_transform(
        |         generate_series(1, len(t) - 9),
        |         i -> md5(array_to_string(t[i:i+9], ' ')))) AS span_h FROM t),
        |g AS (SELECT span_h, doc_id, count(*) AS c FROM sp GROUP BY 1, 2),
        |w AS (SELECT doc_id, c,
        |        count(*) OVER (PARTITION BY span_h) AS nd FROM g),
        |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_spans,
        |        CAST(sum(CASE WHEN nd >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_dup_spans
        |      FROM w GROUP BY 1)
        |SELECT doc_id, n_spans, n_dup_spans,
        |  floor(CAST(n_dup_spans AS DOUBLE) / n_spans * 1000000 + 0.5) / 1000000.0 AS dup_frac
        |FROM a WHERE n_dup_spans > 0 ORDER BY doc_id""".stripMargin,
    "j30_shuffle_shard" ->
      s"""WITH k AS (SELECT doc_id, md5('shuf:' || CAST(doc_id AS VARCHAR)) AS skey
         |           FROM 'documents.parquet'),
         |s AS (SELECT doc_id, skey,
         |        CAST(${Hashing.duckNibble("skey")} % 8 AS BIGINT) AS shard
         |      FROM k)
         |SELECT shard, row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS pos, doc_id
         |FROM s ORDER BY shard, pos""".stripMargin,
    "j54_stratified_sample" ->
      """SELECT lang, doc_id, rk FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM 'documents.parquet')
        |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin,
    "j57_temperature_mix" ->
      """WITH d AS (SELECT lang, doc_id FROM 'documents.parquet'),
        |c AS (SELECT lang, count(*) AS n_docs FROM d GROUP BY 1),
        |z AS (SELECT list_sum(list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY lang)) AS z FROM c),
        |q AS (SELECT lang, CAST(floor(250 * sqrt(CAST(n_docs AS DOUBLE)) / z) AS BIGINT) AS quota
        |      FROM c, z),
        |r AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
        |        ORDER BY md5('temp:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM d)
        |SELECT r.lang, doc_id, rk, quota FROM r JOIN q ON r.lang = q.lang
        |WHERE rk <= quota ORDER BY r.lang, rk""".stripMargin)
}
