package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.to_timestamp_ntz
import graft.ops.Esql

/** The ES|QL compiler must fold pipe stages into ordinary Catalyst
  * plans: semantics pinned on tiny pipelines, and the scale-relevant
  * property — the WHERE predicate REACHES the parquet scan — pinned on
  * the declared query's physical plan. */
class EsqlSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  test("stage folding: WHERE + EVAL + STATS BY + SORT + LIMIT end-to-end") {
    val rows = Esql.compile(s, TestSpark.sf0001,
      """FROM events
        || WHERE event_type == "click" OR event_type == "view"
        || EVAL cents = ROUND(value * 100)
        || STATS cnt = COUNT(*), mx = MAX(cents) BY event_type
        || SORT event_type
        || LIMIT 10""".stripMargin).collect()
    assert(rows.length === 2)
    assert(rows.map(_.getString(0)).toSeq === Seq("click", "view"))
    assert(rows.forall(_.getLong(1) > 0))
  }

  test("expression precedence on a literal frame — fixture-independent (r7 review)") {
    import s.implicits._
    val df = Seq((1L, 5.0, "a"), (2L, -3.0, "nope"), (3L, 0.0, "b"))
      .toDF("id", "v", "t")
    def ids(e: String): Seq[Long] =
      df.filter(Esql.parseExpr(e)).select($"id").as[Long].collect().sorted.toSeq
    // AND binds tighter than OR: (t == "nope" AND v < 0) OR v >= 0
    assert(ids("""t == "nope" AND v < 0 OR v >= 0""") === Seq(1L, 2L, 3L))
    // multiplicative before additive before comparison
    assert(ids("v * 0 + 1 == 1") === Seq(1L, 2L, 3L))
    assert(ids("2 + 3 * 0 == 2") === Seq(1L, 2L, 3L))
    // lowercase keywords and NOT parse (r7 review: lowercase 'and' was
    // silently DROPPED before, truncating the predicate)
    assert(ids("""t == "nope" and v < 0 or v >= 0""") === Seq(1L, 2L, 3L))
    assert(ids("""NOT (v >= 0)""") === Seq(2L))
    // the '||' spelling of OR survives stage splitting too
    val both = Esql.compile(s, TestSpark.sf0001,
      """FROM events | WHERE event_type == "click" || event_type == "view" | STATS cnt = COUNT(*) BY event_type""")
      .collect()
    assert(both.length === 2)
    // trailing garbage is an ERROR, never a truncated predicate
    intercept[IllegalArgumentException] {
      Esql.parseExpr("""v >= 0 nonsense nonsense""")
    }
  }

  test("unaliased BY expressions keep full expression; BY inside string literals is not a clause") {
    // r7 review: 'BY user_id % 10' silently grouped by user_id alone
    val bands = Esql.compile(s, TestSpark.sf0001,
      "FROM events | STATS cnt = COUNT(*) BY user_id % 10")
    assert(bands.count() === 10)
    // a quoted " by " in an aggregate argument must not split the stage
    val ok = Esql.compile(s, TestSpark.sf0001,
      """FROM events | STATS n = COUNT(event_type == "sort by name") | LIMIT 1""")
    assert(ok.columns.toSeq === Seq("n"))
  }

  test("KEEP projects and the declared query's WHERE pushes to the scan") {
    val kept = Esql.compile(s, TestSpark.sf0001,
      "FROM events | KEEP event_id, event_type | LIMIT 3")
    assert(kept.columns.toSeq === Seq("event_id", "event_type"))
    val p = Esql.compile(s, TestSpark.sf0001, Esql.j188Query)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("EqualTo(event_type,purchase)"), p)
    assert(p.contains("partial_count"), p) // STATS map-combines
    assert(p.contains("TakeOrderedAndProject"), p) // SORT+LIMIT is a heap
  }

  test("dissect compiles to anchored quoted-literal regex; grok to dictionary regex") {
    val (drx, dkeys) = Esql.dissectToRegex("%{a} - %{}x%{b}")
    assert(dkeys === Seq("a", "b"))
    assert(drx === "^(.*?)\\Q - \\E(?:.*?)\\Qx\\E(.*?)$")
    val (grx, gkeys) = Esql.grokToRegex("""%{WORD:u} %{INT:k:long} %{DATA}end""")
    assert(gkeys === Seq("u" -> None, "k" -> Some("long")))
    assert(grx === """(\w+) ((?:[+-]?\d+)) (?:.*?)end""")
    intercept[IllegalArgumentException] { Esql.grokToRegex("%{NOSUCH:x}") }
  }

  test("DISSECT/GROK extraction semantics on a literal frame") {
    import s.implicits._
    val df = Seq("src12 INFO done", "src7 ERROR boom").toDF("line")
      .createOrReplaceTempView("ignore_me")
    val out = Seq("src12 INFO done", "src7 ERROR boom").toDF("line")
    // dissect: leftmost-separator binding
    val d = out.withColumn("x",
      org.apache.spark.sql.functions.regexp_extract(
        org.apache.spark.sql.functions.col("line"),
        Esql.dissectToRegex("src%{n} %{rest}")._1, 1))
    assert(d.orderBy("line").select("x").as[String].collect().toSeq === Seq("12", "7"))
    // grok through the full pipeline machinery, incl. the :long cast and
    // a triple-quoted pattern containing a literal double-quote
    val tq = "\"\"\""
    val piped = Esql.compile(s, TestSpark.sf0001,
      "FROM events" +
        " | GROK props " + tq + """\{"k": %{INT:k:long}\}""" + tq +
        " | WHERE k >= 50" +
        " | STATS n = COUNT(*), mx = MAX(k)" +
        " | LIMIT 1")
    val r = piped.collect()(0)
    assert(r.getAs[Long]("n") > 0)
    assert(r.getAs[Long]("mx") <= 99)
  }

  test("stage split + BY location survive ODD embedded quotes and '|' inside string literals") {
    import s.implicits._
    val tq = "\"\"\""
    // the grok pattern holds ONE '"' (odd count — flips naive quote
    // parity for the whole remainder of the query) and the WHERE holds a
    // literal '|' inside a plain string; both later '|' separators and
    // the top-level BY must still be found (r8 review: the old per-char
    // quote counters broke on exactly this)
    val piped = Esql.compile(s, TestSpark.sf0001,
      "FROM events" +
        " | GROK props " + tq + """": %{INT:k:long}""" + tq +
        " | WHERE k >= 50 AND event_type != \"a|b\"" +
        " | STATS n = COUNT(*), mx = MAX(k) BY event_type" +
        " | SORT n DESC, event_type" +
        " | LIMIT 3")
    val rows = piped.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Long]("mx") >= 50 && r.getAs[Long]("mx") <= 99))
    assert(piped.columns.toSeq === Seq("event_type", "n", "mx"))
  }

  test("MV_EXPAND explodes SPLIT arrays; WHERE on a base column still pushes below DISSECT/GROK") {
    val exp = Esql.compile(s, TestSpark.sf0001,
      """FROM documents
        || EVAL tok = SPLIT(text, " ")
        || MV_EXPAND tok
        || STATS n = COUNT(*)""".stripMargin).collect()(0).getAs[Long]("n")
    val toks = Tables.documents(s, TestSpark.sf0001)
      .selectExpr("sum(size(split(text, ' '))) AS n").collect()(0).getAs[Long]("n")
    assert(exp === toks)
    // extraction stages are projections — a filter on an UNTOUCHED base
    // column must still reach the parquet scan beneath them
    val p = Esql.compile(s, TestSpark.sf0001,
      """FROM documents
        || DISSECT source "src%{idx}"
        || GROK text "%{WORD:w1}"
        || WHERE lang == "en"
        || STATS n = COUNT(*) BY w1""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("EqualTo(lang,en)"), p)
  }

  test("LOOKUP JOIN keeps unmatched rows (LEFT) and adds every lookup column") {
    // a key outside nation's 0..24 range must survive with null n_name —
    // the LEFT-join contract real ES|QL LOOKUP JOIN has. sf0.001 has
    // user_ids 0..14, so ·7 % 100 straddles the range: {0,7,14,21} hit,
    // {28..98} miss — both sides of the contract exercised
    val out = Esql.compile(s, TestSpark.sf0001,
      """FROM events
        || EVAL n_nationkey = user_id * 7 % 100
        || LOOKUP JOIN nation ON n_nationkey
        || STATS matched = COUNT(n_name), total = COUNT(*)""".stripMargin)
      .collect()(0)
    assert(out.getAs[Long]("matched") > 0L, "some keys must hit the lookup")
    assert(out.getAs[Long]("total") > out.getAs[Long]("matched"),
      "keys ≥ 25 must keep their rows with a null lookup side")
    // every lookup column is visible downstream
    val cols = Esql.compile(s, TestSpark.sf0001,
      """FROM customer
        || EVAL n_nationkey = c_nationkey
        || LOOKUP JOIN nation ON n_nationkey
        || LIMIT 1""".stripMargin).columns.toSet
    assert(Set("n_name", "n_regionkey").subsetOf(cols), cols.toString)
  }

  test("ENRICH prunes to the WITH fields; malformed stages are errors, not truncations") {
    val cols = Esql.compile(s, TestSpark.sf0001,
      """FROM events
        || EVAL n_nationkey = user_id % 25
        || ENRICH nation ON n_nationkey WITH n_name
        || LIMIT 1""".stripMargin).columns.toSet
    assert(cols.contains("n_name"))
    assert(!cols.contains("n_regionkey"),
      "ENRICH must only append the WITH-listed fields")
    intercept[IllegalArgumentException] {
      Esql.compile(s, TestSpark.sf0001,
        "FROM events | LOOKUP nation ON user_id")
    }
    intercept[IllegalArgumentException] {
      Esql.compile(s, TestSpark.sf0001,
        "FROM events | ENRICH nation ON user_id")
    }
  }

  test("STATS WHERE filters per aggregate; unfiltered siblings see every row") {
    val r = Esql.compile(s, TestSpark.sf0001,
      """FROM events
        || STATS n = COUNT(*), nc = COUNT(*) WHERE event_type == "click",
        |        mx = MAX(user_id) WHERE user_id < 5""".stripMargin)
      .collect()(0)
    val full = Tables.events(s, TestSpark.sf0001).count()
    val clicks = Tables.events(s, TestSpark.sf0001)
      .filter(org.apache.spark.sql.functions.col("event_type") === "click").count()
    assert(r.getAs[Long]("n") === full)
    assert(r.getAs[Long]("nc") === clicks)
    assert(r.getAs[Long]("mx") === 4L)
  }

  test("INLINESTATS adds the group aggregate to every row; no BY is an error") {
    val df = Esql.compile(s, TestSpark.sf0001,
      """FROM events
        || INLINESTATS n_in_type = COUNT(*) BY event_type
        || LIMIT 2000""".stripMargin)
    assert(df.columns.contains("n_in_type"))
    assert(df.count() === Tables.events(s, TestSpark.sf0001).count(),
      "INLINESTATS must keep every row")
    intercept[IllegalArgumentException] {
      Esql.compile(s, TestSpark.sf0001,
        "FROM events | INLINESTATS n = COUNT(*)")
    }
  }

  test("RENAME/DROP are metadata-only: WHERE on the renamed column pushes as the original; dropped columns leave the read schema") {
    val p = Esql.compile(s, TestSpark.sf0001, Esql.j213Query)
      .queryExecution.executedPlan.toString
    // the filter arrived through RENAME value AS v — it must reach the
    // scan as a predicate on the ORIGINAL column name
    assert(p.contains("GreaterThanOrEqual(value,100.0)"), p)
    // DROPped columns must not be read at all
    assert(!p.contains("props"), "dropped column still in the scan: " + p)
  }

  test("LIKE prefix pushes as StartsWith; IN folds to an In pushdown") {
    val p = Esql.compile(s, TestSpark.sf0001, Esql.j214Query)
      .queryExecution.executedPlan.toString
    assert(p.contains("StringStartsWith(source,src1)"), p)
    assert(p.contains("In(lang"), p)
    // semantics: * is a wildcard, % is a literal — a doc source never
    // contains '%', so a literal-% pattern matches nothing
    val none = Esql.compile(s, TestSpark.sf0001,
      """FROM documents | WHERE source LIKE "src%" | STATS n = COUNT(*)""")
      .collect()(0).getAs[Long]("n")
    assert(none === 0L, "'%' must be literal in ES|QL patterns")
    val some = Esql.compile(s, TestSpark.sf0001,
      """FROM documents | WHERE source LIKE "src*" | STATS n = COUNT(*)""")
      .collect()(0).getAs[Long]("n")
    assert(some > 0L)
  }

  test("DATE_TRUNC/CASE/COALESCE fold to projections on a literal frame") {
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, 5.0), (2L, 50.0), (3L, 500.0)).toDF("id", "v")
    val banded = df.withColumn("band", Esql.parseExpr(
      """CASE(v < 10, "low", v < 100, "mid", "high")"""))
    assert(banded.orderBy(col("id")).select(col("band"))
      .collect().map(_.getString(0)).toSeq === Seq("low", "mid", "high"))
    val co = df.withColumn("c", Esql.parseExpr("""COALESCE(v, 0.0)"""))
    assert(co.count() === 3)
    intercept[IllegalArgumentException] {
      Esql.parseExpr("""CASE(v < 10, "low")""") // no default
    }
    intercept[IllegalArgumentException] {
      Esql.compile(s, TestSpark.sf0001,
        "FROM events | EVAL h = DATE_TRUNC(3 hour, ts)") // multi-unit
    }
  }

  test("FORK branches continue from the shared frame and union with _fork; mismatched schemas null-fill") {
    val df = Esql.compile(s, TestSpark.sf0001,
      """FROM events
        || FORK (WHERE event_type == "click" | STATS n = COUNT(*))
        |       (WHERE event_type == "view" | STATS n = COUNT(*), mx = MAX(user_id))""".stripMargin)
    val rows = df.collect()
    assert(rows.length === 2)
    val byFork = rows.map(r => r.getAs[String]("_fork") -> r).toMap
    assert(byFork.keySet === Set("fork1", "fork2"))
    // fork1 lacks mx — allowMissingColumns must null-fill it
    assert(byFork("fork1").isNullAt(byFork("fork1").fieldIndex("mx")))
    assert(!byFork("fork2").isNullAt(byFork("fork2").fieldIndex("mx")))
    // a single fork is an error, not a silent pass-through
    intercept[IllegalArgumentException] {
      Esql.compile(s, TestSpark.sf0001,
        """FROM events | FORK (WHERE event_type == "click" | STATS n = COUNT(*))""")
    }
  }

  test("IS NULL / IS NOT NULL work against real LOOKUP JOIN misses") {
    val r = Esql.compile(s, TestSpark.sf0001,
      """FROM events
        || EVAL n_nationkey = user_id * 7 % 100
        || LOOKUP JOIN nation ON n_nationkey
        || FORK (WHERE n_name IS NULL | STATS n = COUNT(*))
        |       (WHERE n_name IS NOT NULL | STATS n = COUNT(*))""".stripMargin)
      .collect().map(r => r.getAs[String]("_fork") -> r.getAs[Long]("n")).toMap
    val total = Tables.events(s, TestSpark.sf0001).count()
    assert(r("fork1") > 0 && r("fork2") > 0)
    assert(r("fork1") + r("fork2") === total)
  }

  test("string functions fold on a literal frame; SUBSTRING is 1-based") {
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(("  Spark  ", "abcdef")).toDF("a", "b")
    val out = df.select(
      Esql.parseExpr("TRIM(a)").as("t"),
      Esql.parseExpr("TO_UPPER(b)").as("u"),
      Esql.parseExpr("TO_LOWER(TO_UPPER(b))").as("l"),
      Esql.parseExpr("""SUBSTRING(b, 2, 3)""").as("s"),
      Esql.parseExpr("""STARTS_WITH(b, "abc")""").as("p"),
      Esql.parseExpr("""ENDS_WITH(b, "xyz")""").as("e")).head()
    assert(out.getString(0) === "Spark")
    assert(out.getString(1) === "ABCDEF")
    assert(out.getString(2) === "abcdef")
    assert(out.getString(3) === "bcd")
    assert(out.getBoolean(4) === true)
    assert(out.getBoolean(5) === false)
  }

  test("FORK branch filters push to each branch's scan copy") {
    val p = Esql.compile(s, TestSpark.sf0001, Esql.j215Query)
      .queryExecution.executedPlan.toString
    // both branches' WHERE predicates must reach their parquet scans —
    // the SURVEY row's claim, pinned
    assert(p.contains("EqualTo(event_type,purchase)"), p)
    assert(p.contains("EqualTo(event_type,click)"), p)
  }

  test("BUCKET buckets by exact width anchored at min; values past max extend") {
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(5L, 10L, 99L, 250L).toDF("x")
    val out = df.select(Esql.parseExpr("BUCKET(x, 10, 0, 100)").as("b"))
      .collect().map(_.getLong(0)).toSeq
    assert(out === Seq(0L, 10L, 90L, 250L))
    intercept[IllegalArgumentException] {
      Esql.parseExpr("BUCKET(x, 0, 0, 100)")
    }
  }

  test("NOT binds between AND and the comparisons: NOT x LIKE p is NOT(x LIKE p) (r9 advice)") {
    import s.implicits._
    val df = Seq(("alpha", 1L), ("beta", 2L)).toDF("t", "id")
    def ids(e: String): Seq[Long] =
      df.filter(Esql.parseExpr(e)).select($"id").as[Long].collect().sorted.toSeq
    // the old primary-level NOT compiled (NOT t) LIKE "a*" — inverted
    assert(ids("""NOT t LIKE "a*"""") === Seq(2L))
    assert(ids("""NOT NOT t LIKE "a*"""") === Seq(1L))
    assert(ids("""NOT t IN ("beta")""") === Seq(1L))
    assert(ids("""NOT t IS NULL""") === Seq(1L, 2L))
    // NOT still binds tighter than AND/OR
    assert(ids("""NOT t LIKE "a*" AND id == 2""") === Seq(2L))
  }

  test("SUBSTRING negative start counts from the end; non-literal start errors clearly (r9 advice)") {
    import s.implicits._
    val df = Seq("abcdef").toDF("b")
    val out = df.select(
      Esql.parseExpr("SUBSTRING(b, -3, 2)").as("s"),
      Esql.parseExpr("SUBSTRING(b, -2)").as("t")).head()
    assert(out.getString(0) === "de")
    assert(out.getString(1) === "ef")
    val err = intercept[IllegalArgumentException] {
      Esql.parseExpr("SUBSTRING(b, b, 2)")
    }
    assert(err.getMessage.contains("start"), err.getMessage)
  }

  test("unrecognized tokens are parse errors, not bogus columns (r9 advice)") {
    intercept[IllegalArgumentException] { Esql.parseExpr("x IN ()") }
    intercept[IllegalArgumentException] { Esql.parseExpr(", x") }
  }

  test("date functions fold deterministically on a literal frame") {
    import s.implicits._
    val df = Seq("2024-01-30 23:00:00").toDF("t0")
      .select(to_timestamp_ntz($"t0").as("ts"))
    val out = df.select(
      Esql.parseExpr("""DATE_DIFF("hour", ts, NOW())""").as("h"),
      Esql.parseExpr("""DATE_DIFF("day", ts, NOW())""").as("d"),
      Esql.parseExpr("""DATE_EXTRACT("day_of_week", ts)""").as("dow"),
      Esql.parseExpr("""DATE_EXTRACT("hour_of_day", ts)""").as("hr"),
      Esql.parseExpr("""DATE_FORMAT("yyyy-MM-dd HH", ts)""").as("f")).head()
    // pinned NOW = 2024-02-01 00:00 → 25 elapsed hours = 1 COMPLETE day
    // (the ES elapsed-units contract, not a calendar-boundary count)
    assert(out.getLong(0) === 25L)
    assert(out.getLong(1) === 1L)
    assert(out.getLong(2) === 2L) // 2024-01-30 is a Tuesday — ISO dow 2
    assert(out.getLong(3) === 23L)
    assert(out.getString(4) === "2024-01-30 23")
    // round-trip: DATE_PARSE inverts DATE_FORMAT at the day grain
    val rt = df.select(Esql.parseExpr(
      """DATE_PARSE("yyyy-MM-dd", DATE_FORMAT("yyyy-MM-dd", ts))""").as("p"))
      .head().getAs[java.time.LocalDateTime](0)
    assert(rt === java.time.LocalDateTime.of(2024, 1, 30, 0, 0))
    intercept[IllegalArgumentException] {
      Esql.parseExpr("""DATE_DIFF("fortnight", ts, NOW())""")
    }
    intercept[IllegalArgumentException] {
      Esql.parseExpr("""DATE_EXTRACT("epoch", ts)""")
    }
    // locale-bearing patterns (month names) are rejected, not mistranslated
    intercept[IllegalArgumentException] {
      Esql.parseExpr("""DATE_FORMAT("MMM yyyy", ts)""")
    }
  }

  test("multi-index FROM pushes a shared WHERE into BOTH scans; only _index is legal METADATA") {
    val p = Esql.compile(s, TestSpark.sf0001, Esql.j225Query)
      .queryExecution.executedPlan.toString
    // the union is plan-level: each index keeps its own parquet scan and
    // the WHERE reaches both as a pushed filter
    assert("GreaterThanOrEqual\\(value,".r.findAllIn(p).size >= 2, p)
    intercept[IllegalArgumentException] {
      Esql.compile(s, TestSpark.sf0001, "FROM events METADATA _score | LIMIT 1")
    }
  }

  test("CHANGE_POINT marks the max-CUSUM split exactly once, at the step, stat exact") {
    import s.implicits._
    // synthetic step series: 4×10 then 4×50 — mean 30, |CUSUM| peaks at
    // the 4th row (|S_4 − 4·30| = 80), so the split lands on key 4
    val df = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L),
      (5L, 50L), (6L, 50L), (7L, 50L), (8L, 50L)).toDF("k", "v")
    val out = Esql.applyPipe(s, TestSpark.sf0001, df,
      "CHANGE_POINT v ON k AS ct, cs | SORT k").collect()
    assert(out.length === 8)
    val hits = out.filter(r => !r.isNullAt(2))
    assert(hits.length === 1)
    assert(hits.head.getLong(0) === 4L)
    assert(hits.head.getString(2) === "step_change")
    assert(hits.head.getDouble(3) === 80.0)
    // every row passes through (the ES output shape) — values untouched
    assert(out.map(_.getLong(1)).toSeq === Seq(10L, 10L, 10L, 10L, 50L, 50L, 50L, 50L))
  }

  test("MV_SORT/MV_SLICE/MV_FIRST/MV_LAST/MV_CONCAT fold on a literal frame") {
    import s.implicits._
    val df = Seq("c b a d").toDF("t")
    val out = df.select(
      Esql.parseExpr("""MV_CONCAT(MV_SORT(SPLIT(t, " ")), "-")""").as("sorted"),
      Esql.parseExpr("""MV_CONCAT(MV_SORT(SPLIT(t, " "), "desc"), "-")""").as("rsorted"),
      Esql.parseExpr("""MV_CONCAT(MV_SLICE(MV_SORT(SPLIT(t, " ")), 1, 2), "-")""").as("mid"),
      Esql.parseExpr("""MV_FIRST(SPLIT(t, " "))""").as("f"),
      Esql.parseExpr("""MV_LAST(SPLIT(t, " "))""").as("l")).head()
    assert(out.getString(0) === "a-b-c-d")
    assert(out.getString(1) === "d-c-b-a")
    assert(out.getString(2) === "b-c") // 0-based INCLUSIVE bounds
    assert(out.getString(3) === "c") // raw positional first, not sorted
    assert(out.getString(4) === "d")
    intercept[IllegalArgumentException] {
      Esql.parseExpr("""MV_SLICE(SPLIT(t, " "), 2, 1)""") // end < start
    }
    intercept[IllegalArgumentException] {
      Esql.parseExpr("""MV_SORT(SPLIT(t, " "), "sideways")""")
    }
  }

  test("TOP is well-defined: sort after collect; limit capped like ES") {
    import s.implicits._
    val df = Seq((1L, 5L), (1L, 9L), (1L, 7L), (1L, 3L), (2L, 1L))
      .toDF("k", "v")
    val out = Esql.applyPipe(s, TestSpark.sf0001, df,
      """STATS t = MV_CONCAT(TOP(v, 2, "desc"), ","), lo = MV_CONCAT(TOP(v, 2, "asc"), ",") BY k | SORT k""")
      .collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ===
      Seq((1L, "9,7", "3,5"), (2L, "1", "1")))
    intercept[IllegalArgumentException] {
      Esql.parseExpr("""TOP(v, 500, "desc")""") // ES-mirrored cap
    }
  }

  test("QSTR delegates to the j172 Lucene parser: phrases, fields, wildcards, NOT") {
    import s.implicits._
    val df = Seq(
      (1L, "spark join vector", "en", "src3"),
      (2L, "dup table agg", "en", "src12"),
      (3L, "spark vector", "en", "src12")).toDF("id", "text", "lang", "source")
    def ids(q: String): Seq[Long] =
      df.filter(Esql.parseExpr(q)).select($"id").as[Long].collect().sorted.toSeq
    // the phrase form needs the escape-free triple-quoted string —
    // exactly what it exists for
    assert(ids("QSTR(\"\"\"\"spark join\" OR dup\"\"\")") === Seq(1L, 2L))
    assert(ids("""QSTR("spark AND NOT source:src1*")""") === Seq(1L))
    assert(ids("""MATCH(text, "vector")""") === Seq(1L, 3L))
    // MATCH is token-set membership, not substring containment
    assert(ids("""MATCH(text, "vec")""") === Seq())
  }

  test("j231: the keyword leg still pushes to the scan beside row-local full-text legs") {
    val p = Esql.compile(s, TestSpark.sf0001, Esql.j231Query)
      .queryExecution.executedPlan.toString
    assert(p.contains("EqualTo(lang,en)"), p)
  }

  test("j223/j226: the WHERE pushes to the scan beneath the date stages") {
    // the date projections (DATE_DIFF/NOW, DATE_TRUNC) and the bounded
    // window must not block predicate pushdown — the 100 TB property
    val p223 = Esql.compile(s, TestSpark.sf0001, Esql.j223Query)
      .queryExecution.executedPlan.toString
    assert(p223.contains("EqualTo(event_type,purchase)"), p223)
    val p226 = Esql.compile(s, TestSpark.sf0001, Esql.j226Query)
      .queryExecution.executedPlan.toString
    assert(p226.contains("EqualTo(event_type,purchase)"), p226)
    // CHANGE_POINT's window runs AFTER the aggregate: exactly one
    // aggregate pair below it, and the scan reads only what it needs
    assert(p226.contains("Window"), p226)
  }

  test("KEEP/DROP expand * wildcards against the schema; no-match patterns fail loudly") {
    import s.implicits._
    val df = Seq((1L, 2L, 3L, "x")).toDF("c_a", "c_b", "d_a", "name")
    val kept = Esql.applyPipe(s, TestSpark.sf0001, df, "KEEP c_*, name")
    assert(kept.columns.toSeq === Seq("c_a", "c_b", "name"))
    val dropped = Esql.applyPipe(s, TestSpark.sf0001, df, "DROP *_a")
    assert(dropped.columns.toSeq === Seq("c_b", "name"))
    intercept[IllegalArgumentException] {
      Esql.applyPipe(s, TestSpark.sf0001, df, "KEEP z_*")
    }
  }

  test("SORT honors NULLS FIRST/LAST around join-miss nulls") {
    import s.implicits._
    val df = Seq((1L, Some(5L)), (2L, None), (3L, Some(1L)))
      .toDF("id", "v")
    def order(sort: String): Seq[Long] =
      Esql.applyPipe(s, TestSpark.sf0001, df, sort)
        .select($"id").collect().map(_.getLong(0)).toSeq
    assert(order("SORT v DESC NULLS LAST") === Seq(1L, 3L, 2L))
    assert(order("SORT v DESC NULLS FIRST") === Seq(2L, 1L, 3L))
    assert(order("SORT v ASC NULLS LAST") === Seq(3L, 1L, 2L))
  }

  test("ENRICH WITH alias lands the appended column under the new name") {
    val out = Esql.compile(s, TestSpark.sf0001,
      """FROM customer
        || EVAL n_nationkey = c_nationkey
        || ENRICH nation ON n_nationkey WITH nation_name = n_name
        || STATS n = COUNT(*) BY nation_name
        || SORT n DESC, nation_name
        || LIMIT 3""".stripMargin)
    assert(out.columns.contains("nation_name"))
    val rows = out.collect()
    assert(rows.nonEmpty && rows.forall(!_.isNullAt(0)))
  }

  test("structurally malformed pipelines fail at COMPILE time with parse errors") {
    val malformed = Seq(
      "STATS n = COUNT(*)", // no FROM
      "FROM events | FLATTEN x", // unknown stage
      "FROM events | WHERE value >= ", // truncated predicate
      "FROM events | WHERE (value >= 10", // unbalanced paren
      "FROM events | EVAL x = value +", // dangling operator
      "FROM events | STATS n = COUNT(*) BY", // empty BY
      "FROM events | LOOKUP JOIN nation", // missing ON
      "FROM events | FORK (WHERE value > 1)", // FORK needs 2 branches
      "FROM events METADATA _id | LIMIT 1", // only _index supported
      "FROM events | CHANGE_POINT n ON day", // missing AS pair
      "FROM events | SAMPLE 1.5 event_id", // p outside (0,1)
      // round-11 stages, same loud-error discipline
      "TS events | STATS m = MAX(MAX_OVER_TIME(value)) BY event_type", // no ON
      "TS events ON user_id | LIMIT 5", // no OVER_TIME STATS
      "TS events ON user_id | STATS m = MAX(RATE(value)) BY event_type", // RATE sans span
      """FROM documents | RERANK "q" ON text""", // missing BY tiebreak
      "FROM documents | COMPLETION summary text", // missing =
      """FROM documents | WHERE MATCH_PHRASE(text)""", // missing phrase
      "FROM documents | STATS s = SAMPLE(source, 3) BY lang", // sample agg sans id
      "SHOW LICENSE | LIMIT 1", // only SHOW INFO exists
      "FROM documents | EVAL b = ROUND_TO(n_chars)", // no points
      "FROM documents | EVAL p = MV_PERCENTILE(lang, 150)", // p > 100
      // round-12 geo functions, same loud-error discipline
      """FROM events | EVAL g = ST_GEOHASH(TO_GEOPOINT("POINT(0 0)"), 0)""", // precision < 1
      """FROM events | EVAL g = ST_GEOHASH(TO_GEOPOINT("POINT(0 0)"), 13)""", // precision > 12
      """FROM events | EVAL t = ST_GEOTILE(TO_GEOPOINT("POINT(0 0)"), 30)""", // zoom > 29
      """FROM events | EVAL t = ST_GEOTILE(TO_GEOPOINT("POINT(0 0)"), value)""", // non-literal zoom
      """FROM events | EVAL d = ST_DISTANCE(TO_GEOPOINT("POINT(0 0)"))""") // one arg
    // (an aggregate in EVAL — e.g. ST_CENTROID_AGG or COUNT — surfaces
    // as Catalyst's aggregate-in-projection analysis error, the shared
    // dispatcher's long-standing behavior for ALL agg functions; the
    // compile-time sweep covers the compiler's OWN structural checks)
    val outcomes = malformed.map { q =>
      q -> (try { Esql.compile(s, TestSpark.sf0001, q); None }
            catch { case e: Exception => Some(e) })
    }
    val silent = outcomes.collect { case (q, None) => q }
    assert(silent.isEmpty, s"compiled without error: $silent")
    // a parse/structure problem must surface as the compiler's own
    // IllegalArgumentException (require/throw) or a cursor underrun,
    // never escape to a Catalyst analysis error three layers later
    val wrong = outcomes.collect {
      case (q, Some(e)) if !e.isInstanceOf[IllegalArgumentException] &&
        !e.isInstanceOf[NoSuchElementException] => s"'$q' -> ${e.getClass}"
    }
    assert(wrong.isEmpty, wrong.mkString("; "))
  }

  test("WHERE after STATS filters the aggregated frame — the HAVING idiom needs no new stage") {
    val rows = Esql.compile(s, TestSpark.sf0001,
      """FROM events
        || STATS n = COUNT(*) BY event_type
        || WHERE n >= 100
        || SORT event_type""".stripMargin).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(1) >= 100L))
    // and the unfiltered frame genuinely has groups the HAVING drops —
    // otherwise this pin is vacuous
    val all = Esql.compile(s, TestSpark.sf0001,
      "FROM events | STATS n = COUNT(*) BY event_type").collect()
    assert(all.length >= rows.length)
  }

  test("LEFT/RIGHT/REPLACE/LOCATE/REVERSE fold on a literal frame") {
    import s.implicits._
    val df = Seq("abcdef").toDF("b")
    val out = df.select(
      Esql.parseExpr("LEFT(b, 2)").as("l"),
      Esql.parseExpr("RIGHT(b, 2)").as("r"),
      Esql.parseExpr("RIGHT(b, 99)").as("r99"),
      Esql.parseExpr("""REPLACE(b, "[bd]", "-")""").as("rep"),
      Esql.parseExpr("""LOCATE(b, "cd")""").as("pos"),
      Esql.parseExpr("""LOCATE(b, "zz")""").as("miss"),
      Esql.parseExpr("REVERSE(b)").as("rev")).head()
    assert(out.getString(0) === "ab")
    assert(out.getString(1) === "ef")
    assert(out.getString(2) === "abcdef") // n past length = whole string
    assert(out.getString(3) === "a-c-ef") // regex-based, the ES contract
    assert(out.getInt(4) === 3) // 1-based
    assert(out.getInt(5) === 0) // absent = 0
    assert(out.getString(6) === "fedcba")
  }

  test("type conversions: TO_INTEGER / TO_BOOLEAN / TO_DATETIME(epoch ms)") {
    import s.implicits._
    val df = Seq(("42", 1L, 1704067200000L)).toDF("sn", "b", "ms")
    val out = df.select(
      Esql.parseExpr("TO_INTEGER(sn)").as("i"),
      Esql.parseExpr("TO_BOOLEAN(b)").as("t"),
      Esql.parseExpr("TO_DATETIME(ms)").as("dt")).head()
    assert(out.getInt(0) === 42)
    assert(out.getBoolean(1) === true)
    assert(out.getAs[java.time.LocalDateTime](2) ===
      java.time.LocalDateTime.of(2024, 1, 1, 0, 0)) // 2024-01-01T00:00Z in ms
  }

  test("math scalars fold on a literal frame; variadic GREATEST/LEAST need two args") {
    import s.implicits._
    val df = Seq((16L, 2L, 9L)).toDF("a", "b", "c")
    val out = df.select(
      Esql.parseExpr("SQRT(a)").as("rt"),
      Esql.parseExpr("POW(b, 3)").as("pw"),
      Esql.parseExpr("ROUND(EXP(0), 6)").as("ex"),
      Esql.parseExpr("LOG10(100)").as("lg"),
      Esql.parseExpr("FLOOR(c / 2.0)").as("fl"),
      Esql.parseExpr("CEIL(c / 2.0)").as("ce"),
      Esql.parseExpr("GREATEST(a, b, c)").as("g"),
      Esql.parseExpr("LEAST(a, b, c)").as("l")).head()
    assert(out.getDouble(0) === 4.0)
    assert(out.getDouble(1) === 8.0)
    assert(out.getDouble(2) === 1.0)
    assert(out.getDouble(3) === 2.0)
    assert(out.getLong(4) === 4L)
    assert(out.getLong(5) === 5L)
    assert(out.getLong(6) === 16L)
    assert(out.getLong(7) === 2L)
    intercept[IllegalArgumentException] { Esql.parseExpr("GREATEST(a)") }
  }

  test("DATE_DIFF truncates toward zero on a negative span; unknown plain KEEP/DROP columns error (r10 advice)") {
    import s.implicits._
    val df = Seq(("2024-01-01 10:00:00", "2024-01-01 09:30:00")).toDF("a0", "b0")
      .select(to_timestamp_ntz($"a0").as("a"), to_timestamp_ntz($"b0").as("b"))
    val out = df.select(
      Esql.parseExpr("""DATE_DIFF("hour", a, b)""").as("neg"),
      Esql.parseExpr("""DATE_DIFF("hour", b, a)""").as("pos"),
      Esql.parseExpr("""DATE_DIFF("minute", a, b)""").as("negm")).head()
    // −30 min = 0 complete hours in BOTH directions (ES truncates toward
    // zero; the old pmod form floored the negative span to −1)
    assert(out.getLong(0) === 0L)
    assert(out.getLong(1) === 0L)
    assert(out.getLong(2) === -30L)
    // df.drop ignores missing names — the compiler must not (a DROP typo
    // was a silent no-op while a no-match wildcard errored)
    intercept[IllegalArgumentException] {
      Esql.applyPipe(s, TestSpark.sf0001, df, "DROP nope")
    }
    intercept[IllegalArgumentException] {
      Esql.applyPipe(s, TestSpark.sf0001, df, "KEEP a, nope")
    }
  }

  test("STD_DEV/MEDIAN_ABSOLUTE_DEVIATION/VALUES aggregate in STATS; MAD outside STATS is a compile error") {
    import s.implicits._
    val df = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "a"), (10L, "b"), (20L, "b"))
      .toDF("v", "k")
    val out = Esql.applyPipe(s, TestSpark.sf0001, df,
      """STATS sd = ROUND(STD_DEV(v), 6), mad = MEDIAN_ABSOLUTE_DEVIATION(v), vals = MV_CONCAT(VALUES(v), ",") BY k | SORT k""")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getString(3)))
    // a: 1..4 → population σ = √1.25 = 1.118034; median 2.5, deviations
    // {1.5,0.5,0.5,1.5} → MAD = 1.0. b: {10,20} → σ = 5, MAD = 5.
    // VALUES is SORTED (the documented determinism deviation).
    assert(out.toSeq === Seq(("a", 1.118034, 1.0, "1,2,3,4"), ("b", 5.0, 5.0, "10,20")))
    // MAD needs the STATS-stage median pre-pass — EVAL/INLINESTATS
    // cannot host it and must say so at compile time
    intercept[IllegalArgumentException] {
      Esql.applyPipe(s, TestSpark.sf0001, df, "EVAL x = MEDIAN_ABSOLUTE_DEVIATION(v)")
    }
    intercept[IllegalArgumentException] {
      Esql.applyPipe(s, TestSpark.sf0001, df, "INLINESTATS m = MEDIAN_ABSOLUTE_DEVIATION(v) BY k")
    }
  }

  test("the per-aggregate WHERE threads through the MAD rewrite (filtered median AND deviation)") {
    import s.implicits._
    val df = Seq(1L, 2L, 3L, 4L, 100L, 200L, 300L).toDF("v")
    val r = Esql.applyPipe(s, TestSpark.sf0001, df,
      "STATS mad_small = MEDIAN_ABSOLUTE_DEVIATION(v) WHERE v < 10, mad_all = MEDIAN_ABSOLUTE_DEVIATION(v)")
      .collect()(0)
    // small = {1,2,3,4}: median 2.5 → MAD 1.0 — the filter must bind the
    // FIRST-pass median too (an unfiltered median of 4 would give 1.5)
    assert(r.getDouble(0) === 1.0)
    // all 7 values: median 4 → deviations sorted {0,1,2,3,96,196,296},
    // middle element = 3.0
    assert(r.getDouble(1) === 3.0)
  }

  test("LTRIM/RTRIM/REPEAT/LOG/SIGNUM/MD5 fold on a literal frame") {
    import s.implicits._
    val df = Seq(("  pad  ", 8L)).toDF("t", "v")
    val out = df.select(
      Esql.parseExpr("LTRIM(t)").as("l"),
      Esql.parseExpr("RTRIM(t)").as("r"),
      Esql.parseExpr("REPEAT(RTRIM(LTRIM(t)), 2)").as("rep"),
      Esql.parseExpr("LOG(2, v)").as("lg2"),
      Esql.parseExpr("ROUND(LOG(v), 6)").as("ln"),
      Esql.parseExpr("SIGNUM(0 - v)").as("sg"),
      Esql.parseExpr("""MD5("abc")""").as("h")).head()
    assert(out.getString(0) === "pad  ")
    assert(out.getString(1) === "  pad")
    assert(out.getString(2) === "padpad")
    assert(out.getDouble(3) === 3.0) // LOG(base, x) — the 2-arg arity
    assert(out.getDouble(4) === 2.079442) // 1-arg = NATURAL log (ES, not log10)
    assert(out.getDouble(5) === -1.0)
    assert(out.getString(6) === "900150983cd24fb0d6963f7d28e17f72")
    intercept[IllegalArgumentException] { Esql.parseExpr("REPEAT(t, v)") }
    intercept[IllegalArgumentException] { Esql.parseExpr("LOG(1, v)") }
  }

  test("MV_SUM/MV_AVG/MV_MEDIAN fold row-locally; empty arrays yield null (the ES contract)") {
    import s.implicits._
    val df = Seq((Seq(3.0, 1.0, 2.0, 10.0), Seq(7.0, 5.0, 6.0), Seq.empty[Double]))
      .toDF("even", "odd", "none")
    val out = df.select(
      Esql.parseExpr("MV_SUM(even)").as("s"),
      Esql.parseExpr("MV_AVG(even)").as("a"),
      Esql.parseExpr("MV_MEDIAN(even)").as("me"), // even count → mean of middles
      Esql.parseExpr("MV_MEDIAN(odd)").as("mo"), // odd count → the middle itself
      Esql.parseExpr("MV_SUM(none)").as("se"),
      Esql.parseExpr("MV_MEDIAN(none)").as("mn")).head()
    assert(out.getDouble(0) === 16.0)
    assert(out.getDouble(1) === 4.0)
    assert(out.getDouble(2) === 2.5) // sorted [1,2,3,10] → (2+3)/2
    assert(out.getDouble(3) === 6.0) // sorted [5,6,7] → 6
    assert(out.isNullAt(4) && out.isNullAt(5))
  }

  test("ROW is an inline one-row source through the ordinary stage pipeline") {
    val r = Esql.compile(s, TestSpark.sf0001,
      """ROW a = 1, b = "two"
        || EVAL c = a + 1, up = TO_UPPER(b)
        || KEEP a, c, up""".stripMargin).collect()
    assert(r.length === 1)
    assert(r(0).getLong(0) === 1L)
    assert(r(0).getLong(1) === 2L)
    assert(r(0).getString(2) === "TWO")
    // ROW is a SOURCE command — not a mid-pipeline stage
    intercept[IllegalArgumentException] {
      Esql.compile(s, TestSpark.sf0001, """FROM events | ROW x = 1""")
    }
  }

  test("BUCKET duration form floors to multi-unit widths anchored at the epoch") {
    import s.implicits._
    val df = Seq("2024-01-01 07:59:59", "2024-01-01 09:00:00")
      .toDF("t0").select(to_timestamp_ntz($"t0").as("ts"))
    val out = df.select(Esql.parseExpr("BUCKET(ts, 3 hour)").cast("string").as("b"))
      .collect().map(_.getString(0))
    // [06:00, 09:00) and [09:00, 12:00) — a width DATE_TRUNC cannot spell
    assert(out === Seq("2024-01-01 06:00:00", "2024-01-01 09:00:00"))
    // the plural unit spelling works; unknown units are parse errors
    val plural = df.select(Esql.parseExpr("BUCKET(ts, 30 minutes)").cast("string").as("b"))
      .collect().map(_.getString(0))
    assert(plural === Seq("2024-01-01 07:30:00", "2024-01-01 09:00:00"))
    intercept[IllegalArgumentException] { Esql.parseExpr("BUCKET(ts, 2 fortnights)") }
  }

  test("FUSE merges FORK branches by RRF (rank_constant 60, j139's formula); no _fork is an error") {
    import s.implicits._
    val df = Seq((1L, 10L, "fork1"), (2L, 5L, "fork1"), (2L, 9L, "fork2"), (3L, 1L, "fork2"))
      .toDF("id", "score", "_fork")
    val out = Esql.applyPipe(s, TestSpark.sf0001, df,
      "FUSE id BY score | SORT fuse_score DESC, id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    // fork1 ranks id1=1, id2=2; fork2 ranks id2=1, id3=2 →
    // id2 = 1/61 + 1/62 = 0.032522 over BOTH branches, singles keep one
    assert(out === Seq((2L, 0.032522, 2L), (1L, 0.016393, 1L), (3L, 0.016129, 1L)))
    intercept[IllegalArgumentException] {
      Esql.applyPipe(s, TestSpark.sf0001, df.drop("_fork"), "FUSE id BY score")
    }
  }

  test("trig family folds; TO_RADIANS/TO_DEGREES round-trip; PI is Math.PI") {
    import s.implicits._
    val df = Seq(90L).toDF("deg")
    val out = df.select(
      Esql.parseExpr("ROUND(SIN(TO_RADIANS(deg)), 6)").as("s"),
      Esql.parseExpr("ROUND(COS(TO_RADIANS(deg)), 6)").as("c"),
      Esql.parseExpr("ROUND(TO_DEGREES(TO_RADIANS(deg)), 6)").as("rt"),
      Esql.parseExpr("ROUND(ATAN2(1, 1), 6)").as("a"),
      Esql.parseExpr("CBRT(27)").as("cb"),
      Esql.parseExpr("ROUND(PI(), 6)").as("p")).head()
    assert(out.getDouble(0) === 1.0)
    assert(out.getDouble(1) === 0.0) // cos(π/2) ≈ 6.1e-17 → 0 at 6dp
    assert(out.getDouble(2) === 90.0)
    assert(out.getDouble(3) === 0.785398) // π/4
    assert(out.getDouble(4) === 3.0)
    assert(out.getDouble(5) === 3.141593)
  }

  test("inverse trig + hyperbolics are the exact exp compositions; E/TAU constants") {
    import s.implicits._
    val df = Seq(0.5).toDF("x")
    val out = df.select(
      Esql.parseExpr("ROUND(ASIN(x), 6)").as("as"),
      Esql.parseExpr("ROUND(ACOS(x), 6)").as("ac"),
      Esql.parseExpr("ROUND(ATAN(x), 6)").as("at"),
      Esql.parseExpr("ROUND(SINH(x), 6)").as("sh"),
      Esql.parseExpr("ROUND(COSH(x), 6)").as("ch"),
      Esql.parseExpr("ROUND(TANH(x), 6)").as("th"),
      Esql.parseExpr("HYPOT(3, 4)").as("hy"),
      Esql.parseExpr("ROUND(E(), 6)").as("e"),
      Esql.parseExpr("ROUND(TAU(), 6)").as("tau")).head()
    assert(out.getDouble(0) === 0.523599)
    assert(out.getDouble(1) === 1.047198)
    assert(out.getDouble(2) === 0.463648)
    // the compiled value is the exp composition — but JVM Math.exp may
    // sit 1 ULP off C libm's (both are allowed that error), so the
    // determinism contract is composition + the mandatory 6dp ROUND,
    // never raw-double equality (the j234 rule; matrix-verified)
    assert(out.getDouble(3) === 0.521095)
    assert(out.getDouble(4) === 1.127626)
    assert(out.getDouble(5) === 0.462117)
    assert(out.getDouble(6) === 5.0)
    assert(out.getDouble(7) === 2.718282)
    assert(out.getDouble(8) === 6.283185)
  }

  test("hash/encode family: SHA256 hex, base64 round-trip, bit/byte lengths") {
    import s.implicits._
    val df = Seq("abc").toDF("t")
    val out = df.select(
      Esql.parseExpr("SHA256(t)").as("h"),
      Esql.parseExpr("TO_BASE64(t)").as("b"),
      Esql.parseExpr("FROM_BASE64(TO_BASE64(t))").as("rt"),
      Esql.parseExpr("BIT_LENGTH(t)").as("bl"),
      Esql.parseExpr("BYTE_LENGTH(t)").as("yl")).head()
    assert(out.getString(0) ===
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    assert(out.getString(1) === "YWJj")
    assert(out.getString(2) === "abc")
    assert(out.getInt(3) === 24)
    assert(out.getInt(4) === 3)
  }

  test("ROUND_TO floors to the LARGEST point ≤ x and clamps below the minimum") {
    import s.implicits._
    // pins the fold-order bug the sf0.01 matrix leg caught: 600 must
    // take the TOP point (500), not the first ≥-match in fold order
    val df = Seq(600L, 300L, 120L, 50L, -3L).toDF("v")
    val out = df.select(Esql.parseExpr("ROUND_TO(v, 0, 100, 250, 500)").as("b"))
      .collect().map(_.getLong(0)).toSeq
    assert(out === Seq(500L, 250L, 100L, 0L, 0L))
    intercept[IllegalArgumentException] {
      Esql.parseExpr("ROUND_TO(v, x)") // non-literal point
    }
  }

  test("MV_APPEND concatenates; MV_ZIP pairs with delimiter, unpaired values pass through") {
    import s.implicits._
    val df = Seq(("a b c", "x y")).toDF("l", "r")
    val out = df.select(
      Esql.parseExpr("""MV_CONCAT(MV_APPEND(SPLIT(l, " "), SPLIT(r, " ")), ",")""").as("ap"),
      Esql.parseExpr("""MV_CONCAT(MV_ZIP(SPLIT(l, " "), SPLIT(r, " "), "-"), ",")""").as("zp"),
      Esql.parseExpr("""MV_CONCAT(MV_ZIP(SPLIT(r, " "), SPLIT(r, " ")), ",")""").as("zd")).head()
    assert(out.getString(0) === "a,b,c,x,y")
    assert(out.getString(1) === "a-x,b-y,c") // longer side's extra kept alone
    assert(out.getString(2) === "x,x,y,y")   // default "," delimiter
  }

  test("MATCH_PHRASE needs adjacency in order; KQL operators are case-insensitive") {
    import s.implicits._
    val df = Seq(
      (1L, "spark join fast", "en", "src1"),
      (2L, "join spark fast", "en", "src1"),  // terms present, wrong order
      (3L, "spark fast join", "fr", "src2"))  // terms present, not adjacent
      .toDF("id", "text", "lang", "source")
    val mp = Esql.applyPipe(s, TestSpark.sf0001, df,
      """WHERE MATCH_PHRASE(text, "spark join")""").collect().map(_.getLong(0)).toSeq
    assert(mp === Seq(1L))
    val kql = Esql.applyPipe(s, TestSpark.sf0001, df,
      """WHERE KQL("lang:en and not source:src2* and join")""")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(kql === Seq(1L, 2L))
    // lowercase operators inside a quoted phrase are NOT operators
    // (direct parseKql: the ES|QL lexer has no escaped-quote form)
    val pred = ops.SearchOps.QueryString.compile(
      ops.SearchOps.QueryString.parseKql("\"spark join\" or lang:fr"))
    val ph = df.filter(pred).collect().map(_.getLong(0)).toSeq.sorted
    assert(ph === Seq(1L, 3L))
    // a fielded group is a LOUD parse error, not a silent col==="" filter
    intercept[IllegalArgumentException] {
      ops.SearchOps.QueryString.parseKql("lang:(en or fr)")
    }
  }

  test("SAMPLE aggregate draws N by md5-of-id; per-agg WHERE filters the draw pool") {
    import s.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v")
    val r = Esql.applyPipe(s, TestSpark.sf0001, df,
      """STATS all4 = SAMPLE(v, 4, id), two = SAMPLE(v, 2, id), odd = SAMPLE(v, 9, id) WHERE id % 2 == 1""")
      .collect()(0)
    val all4 = r.getString(0).split(",").toSeq
    assert(all4.sorted === Seq("a", "b", "c", "d")) // N ≥ group → all values
    assert(r.getString(1).split(",").toSeq === all4.take(2)) // same draw order, cut
    assert(r.getString(2).split(",").toSeq.sorted === Seq("a", "c")) // WHERE pool
  }

  test("MV_PERCENTILE interpolates over sorted elements; PSERIES folds in order; SPACE pads") {
    import s.implicits._
    val df = Seq((Seq(4.0, 1.0, 3.0, 2.0), Seq(4.0, 2.0), Seq.empty[Double]))
      .toDF("a", "b", "e")
    val r = df.select(
      Esql.parseExpr("MV_PERCENTILE(a, 75)").as("p75"),
      Esql.parseExpr("MV_PERCENTILE(a, 0)").as("p0"),
      Esql.parseExpr("MV_PERCENTILE(e, 50)").as("pe"),
      Esql.parseExpr("MV_PSERIES_WEIGHTED_SUM(b, 1)").as("pw"),
      Esql.parseExpr("""CONCAT("x", SPACE(3), "y")""").as("sp")).head()
    assert(r.getDouble(0) === 3.25) // sorted [1,2,3,4], rank 2.25 → 3 + .25
    assert(r.getDouble(1) === 1.0)
    assert(r.isNullAt(2))           // empty multivalue → null
    assert(r.getDouble(3) === 4.0 / 1 + 2.0 / 2) // in-order Σ vᵢ/i^1
    assert(r.getString(4) === "x   y")
    intercept[IllegalArgumentException] {
      Esql.parseExpr("MV_PERCENTILE(a, 101)")
    }
  }

  test("COMPLETION extracts top-3 frequent tokens; WITH model id optional; SHOW INFO pinned") {
    import s.implicits._
    val df = Seq((1L, "b b b a a c d")).toDF("id", "p")
    val r = Esql.applyPipe(s, TestSpark.sf0001, df,
      "COMPLETION sum = p WITH test_model").collect()(0)
    assert(r.getAs[String]("sum") === "b a c") // freq 3,2,1; d loses the tie to c
    val r2 = Esql.applyPipe(s, TestSpark.sf0001, df,
      "COMPLETION sum = p").collect()(0)      // WITH is optional
    assert(r2.getAs[String]("sum") === "b a c")
    val info = Esql.compile(s, TestSpark.sf0001, "SHOW INFO").collect()(0)
    assert(info.getAs[String]("version") === "9.1.0-graft")
    intercept[IllegalArgumentException] {
      Esql.applyPipe(s, TestSpark.sf0001, df, "COMPLETION sum p") // missing =
    }
  }

  test("TS STATS is a two-level rollup: inner per series cell, outer across series") {
    import s.implicits._
    // two series (a, b) in one bucket; a rises 10→30 (increase 20),
    // b falls 50→40 (a "reset" — no observable increase → NULL rate)
    val df = Seq(
      ("a", 1L, 10L), ("a", 2L, 25L), ("a", 3L, 30L),
      ("b", 4L, 50L), ("b", 5L, 40L))
      .toDF("k", "ts", "v")
      .withColumn("bkt", org.apache.spark.sql.functions.lit(0L))
    val r = Esql.tsStats(df, Seq("k"),
      "mx = MAX(MAX_OVER_TIME(v)), sm = SUM(SUM_OVER_TIME(v)), " +
      "nser = COUNT(COUNT_OVER_TIME(v)), fst = SUM(FIRST_OVER_TIME(v)), " +
      "lst = SUM(LAST_OVER_TIME(v)), mxr = MAX(RATE(v, 10)), " +
      "nrate = COUNT(RATE(v, 10)) BY bkt").collect()(0)
    assert(r.getAs[Long]("mx") === 50L)
    assert(r.getAs[Long]("sm") === 65L + 90L)
    assert(r.getAs[Long]("nser") === 2L)
    assert(r.getAs[Long]("fst") === 10L + 50L) // per-series earliest values
    assert(r.getAs[Long]("lst") === 30L + 40L) // per-series latest values
    assert(r.getAs[Double]("mxr") === 2.0)     // a's increase 20 / span 10
    assert(r.getAs[Long]("nrate") === 1L)      // b never increases → NULL
    // the promql-descended delta family on the same frame: a rises
    // 10→25→30 (delta 20, last step +5 over 1 s), b falls 50→40
    val r2 = Esql.tsStats(df, Seq("k"),
      "mxd = MAX(DELTA(v)), mnd = MIN(DELTA(v)), lid = MAX(IDELTA(v)), " +
      "tinc = SUM(INCREASE(v)), mxir = MAX(IRATE(v)), " +
      "snd = SUM(COUNT_DISTINCT_OVER_TIME(v)) BY bkt").collect()(0)
    assert(r2.getAs[Long]("mxd") === 20L)
    assert(r2.getAs[Long]("mnd") === -10L)
    assert(r2.getAs[Long]("lid") === 5L)       // a's last consecutive delta
    assert(r2.getAs[Long]("tinc") === 20L)     // b contributes NULL, not 0
    assert(r2.getAs[Double]("mxir") === 5.0)   // +5 over the 1 s gap
    assert(r2.getAs[Long]("snd") === 3L + 2L)
  }

  test("the TS rollup's output frame folds like any frame: post-STATS and WHERE compose") {
    import s.implicits._
    // a second, PLAIN aggregation over the rollup result (the "how many
    // days exceeded X" meta-question) plus a HAVING-style WHERE — the
    // rollup returns an ordinary frame, so the rest of the language
    // composes with no special cases
    val out = Esql.compile(s, TestSpark.sf0001,
      """TS events ON user_id, event_type
        || EVAL cents = ROUND(value * 100)
        || STATS mx = MAX(MAX_OVER_TIME(cents)) BY day = BUCKET(ts, 1 day)
        || WHERE mx >= 20000
        || STATS hot_days = COUNT(*)""".stripMargin).collect()(0)
    assert(out.getLong(0) > 0L && out.getLong(0) < 40L)
  }

  test("KQL and QSTR agree on the shared syntax (one parser, no drift)") {
    import s.implicits._
    val df = Seq((1L, "alpha beta", "en"), (2L, "alpha", "fr"), (3L, "beta gamma", "en"))
      .toDF("id", "text", "lang")
    // same query, both case spellings — must select identical rows
    val viaKql = Esql.applyPipe(s, TestSpark.sf0001, df,
      """WHERE KQL("lang:en and beta")""").collect().map(_.getLong(0)).toSeq
    val viaQstr = Esql.applyPipe(s, TestSpark.sf0001, df,
      """WHERE QSTR("lang:en AND beta")""").collect().map(_.getLong(0)).toSeq
    assert(viaKql === viaQstr && viaKql === Seq(1L, 3L))
  }

  test("TS grammar: ON required, BY required, RATE span literal, outer fn restricted") {
    intercept[IllegalArgumentException] {
      Esql.compile(s, TestSpark.sf0001, "TS events | LIMIT 1")
    }
    intercept[IllegalArgumentException] {
      Esql.compile(s, TestSpark.sf0001,
        "TS events ON user_id | STATS m = MAX(MAX_OVER_TIME(value))")
    }
    intercept[IllegalArgumentException] {
      Esql.compile(s, TestSpark.sf0001,
        "TS events ON user_id | STATS m = MAX(RATE(value, x)) BY event_type")
    }
    intercept[IllegalArgumentException] {
      Esql.compile(s, TestSpark.sf0001,
        "TS events ON user_id | STATS m = MEDIAN(MAX_OVER_TIME(value)) BY event_type")
    }
    // a TS pipeline without any OVER_TIME/RATE stats is a loud error
    intercept[IllegalArgumentException] {
      Esql.compile(s, TestSpark.sf0001,
        "TS events ON user_id | STATS n = COUNT(*) BY event_type")
    }
  }

  test("FIRST/LAST aggregate by sort key; per-agg WHERE filters both operands") {
    import s.implicits._
    val df = Seq((1L, 10L), (2L, 5L), (3L, 20L)).toDF("t", "v")
    val r = Esql.applyPipe(s, TestSpark.sf0001, df,
      "STATS f = FIRST(v, t), l = LAST(v, t), fb = FIRST(v, t) WHERE v >= 10, none = LAST(v, t) WHERE v > 99")
      .collect()(0)
    assert(r.getLong(0) === 10L) // earliest t=1 carries v=10
    assert(r.getLong(1) === 20L) // latest t=3 carries v=20
    assert(r.getLong(2) === 10L) // among v>=10 the earliest is still t=1
    assert(r.isNullAt(3)) // no qualifying row → NULL, = arg_max FILTER
  }

  test("RERANK re-orders by query-term overlap with the BY tiebreak; missing BY errors") {
    import s.implicits._
    val df = Seq((1L, "alpha beta"), (2L, "alpha beta gamma"), (3L, "alpha"))
      .toDF("id", "txt")
    val out = Esql.applyPipe(s, TestSpark.sf0001, df,
      """RERANK "beta gamma" ON txt BY id | SORT new_rank""")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("_rerank"),
        r.getAs[Long]("new_rank"))).toSeq
    // overlap is DISTINCT-term membership (j34's analysis chain), not
    // substring or frequency counting
    assert(out === Seq((2L, 2L, 1L), (1L, 1L, 2L), (3L, 0L, 3L)))
    intercept[IllegalArgumentException] {
      Esql.applyPipe(s, TestSpark.sf0001, df, """RERANK "beta" ON txt""")
    }
  }

  test("SAMPLE keeps ~p of the rows, deterministically") {
    val full = Tables.events(s, TestSpark.sf0001).count()
    val a = Esql.compile(s, TestSpark.sf0001,
      "FROM events | SAMPLE 0.25 event_id").count()
    val b = Esql.compile(s, TestSpark.sf0001,
      "FROM events | SAMPLE 0.25 event_id").count()
    assert(a === b, "the md5 draw must be run-stable")
    val frac = a.toDouble / full
    assert(frac > 0.18 && frac < 0.32, s"sampled fraction $frac far from 0.25")
  }

  test("ADVICE r11 fixes: TANH overflow, MAD null key, SAMPLE empty pool, TS detector masking, LOG diagnostic") {
    import s.implicits._
    // TANH beyond the exp-overflow bound is ±1.0 (libm semantics), not
    // Inf/Inf = NaN; the small-|x| path is the exp composition as before
    val th = Seq(400.0, -400.0, 0.5).toDF("x")
      .select(Esql.parseExpr("TANH(x)").as("t")).collect().map(_.getDouble(0))
    assert(th(0) === 1.0 && th(1) === -1.0)
    assert(math.abs(th(2) - math.tanh(0.5)) < 1e-9)
    // a NULL grouping key survives a STATS that contains MAD — the
    // median pre-pass joins null-safely (<=>), so the null-key group
    // keeps ALL its aggregates instead of silently vanishing
    val mad = Esql.compile(s, TestSpark.sf0001,
      """FROM events
        || EVAL k = CASE(user_id % 3 == 0, value, LOG(0.0 - 1.0))
        || STATS n = COUNT(*), mad = ROUND(MEDIAN_ABSOLUTE_DEVIATION(value), 6) BY k
        || STATS groups = COUNT(*), null_groups = COUNT(CASE(k IS NULL, 1, LOG(0.0 - 1.0)))""".stripMargin)
    val noMad = Esql.compile(s, TestSpark.sf0001,
      """FROM events
        || EVAL k = CASE(user_id % 3 == 0, value, LOG(0.0 - 1.0))
        || STATS n = COUNT(*) BY k
        || STATS groups = COUNT(*), null_groups = COUNT(CASE(k IS NULL, 1, LOG(0.0 - 1.0)))""".stripMargin)
    val (mr, nr) = (mad.collect()(0), noMad.collect()(0))
    assert(mr.getLong(0) === nr.getLong(0),
      "a STATS with MAD must keep the same group set as one without")
    assert(mr.getLong(1) === 1L && nr.getLong(1) === 1L,
      "the null-key group must be present in both")
    // SAMPLE over an empty draw pool (per-agg WHERE matches nothing)
    // yields NULL like ES and the oracle's FILTERed list, never ""
    val sRows = Esql.compile(s, TestSpark.sf0001,
      """FROM events
        || STATS sm = SAMPLE(event_type, 2, user_id) WHERE user_id < 0 BY event_type""".stripMargin)
      .collect()
    assert(sRows.nonEmpty && sRows.forall(_.isNullAt(1)))
    // TS-rollup detection runs over the string-masked stage text: a
    // plain STATS whose only "RATE(" lives in a string literal is NOT
    // misrouted into tsStats — the pipeline dies with the TARGETED
    // "needs a STATS with TS aggregates" error, not a grammar error
    val e1 = intercept[IllegalArgumentException] {
      Esql.compile(s, TestSpark.sf0001,
        """TS events ON user_id | STATS n = COUNT(event_type == "RATE(x") BY event_type""")
    }
    assert(e1.getMessage.contains("TS pipeline needs a STATS"))
    // ...and a delta-family-only STATS (no *_OVER_TIME/RATE substring)
    // IS detected as the rollup
    val d = Esql.compile(s, TestSpark.sf0001,
      """TS events ON user_id
        || STATS d = MAX(DELTA(user_id)) BY day = DATE_TRUNC(1 day, ts)
        || STATS n = COUNT(*)""".stripMargin).collect()
    assert(d.length === 1 && d(0).getLong(0) > 0)
    // LOG with a non-literal base dies with the targeted message
    val e2 = intercept[IllegalArgumentException] {
      Esql.parseExpr("LOG(x, 10)")
    }
    assert(e2.getMessage.contains("numeric literal"))
  }

  test("a column where a literal operand belongs is refused with a message naming the function") {
    // one row per function that takes a literal operand: (name, call
    // with the column `v` in the literal's place)
    val rows = Seq(
      "SPLIT" -> "SPLIT(t, v)",
      "REPLACE" -> """REPLACE(t, v, "x")""",
      "MV_CONCAT" -> "MV_CONCAT(a, v)",
      "MV_ZIP" -> "MV_ZIP(a, b, v)",
      "MV_SORT" -> "MV_SORT(a, v)",
      "MV_SLICE" -> "MV_SLICE(a, v, 2)",
      "MV_PERCENTILE" -> "MV_PERCENTILE(a, v)",
      "MV_PSERIES_WEIGHTED_SUM" -> "MV_PSERIES_WEIGHTED_SUM(a, v)",
      "MATCH" -> "MATCH(t, v)",
      "MATCH_PHRASE" -> "MATCH_PHRASE(t, v)",
      "KQL" -> "KQL(v)",
      "QSTR" -> "QSTR(v)",
      "DATE_DIFF" -> "DATE_DIFF(v, a, b)",
      "DATE_FORMAT" -> "DATE_FORMAT(v, ts)",
      "DATE_PARSE" -> "DATE_PARSE(v, t)",
      "DATE_EXTRACT" -> "DATE_EXTRACT(v, ts)",
      "DATE_TRUNC" -> "DATE_TRUNC(v, ts)",
      "TOP" -> """TOP(a, v, "asc")""",
      "SAMPLE" -> "SAMPLE(a, v, id)",
      "PERCENTILE" -> "PERCENTILE(a, v)",
      "REPEAT" -> "REPEAT(t, v)",
      "SPACE" -> "SPACE(v)",
      "ROUND" -> "ROUND(a, v)",
      "ROUND_TO" -> "ROUND_TO(a, v)",
      "BUCKET" -> "BUCKET(a, 10, v, 100)",
      "CIDR_MATCH" -> "CIDR_MATCH(ip, v)",
      "ST_GEOHASH" -> "ST_GEOHASH(p, v)",
      "ST_GEOTILE" -> "ST_GEOTILE(p, v)",
      "ST_GEOHEX" -> "ST_GEOHEX(p, v)")
    val bad = rows.flatMap { case (fn, q) =>
      try { Esql.parseExpr(q); Some(s"$q compiled") }
      catch {
        case e: IllegalArgumentException if e.getMessage.contains(fn) => None
        case e: Exception => Some(s"$q -> $e")
      }
    }
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("an unknown function or a wrong arity fails with a message naming the function") {
    val unknown = intercept[IllegalArgumentException] { Esql.parseExpr("FOO(x)") }
    assert(unknown.getMessage.contains("FOO"), unknown.getMessage)
    val arity = intercept[IllegalArgumentException] { Esql.parseExpr("ABS(a, b)") }
    assert(arity.getMessage.contains("ABS"), arity.getMessage)
  }
}
