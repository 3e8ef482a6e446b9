package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** ES|QL (j188, j194/j195, j200/j201, j208–j220) — a compiler for the
  * everyday core of Elasticsearch's piped query language. Stages:
  * `FROM src | WHERE … | EVAL … | STATS … [WHERE …] … BY … |
  * INLINESTATS … BY … | SORT … | LIMIT n | KEEP … | DROP … |
  * RENAME a AS b | DISSECT col "pat" | GROK col "pat" | MV_EXPAND col |
  * LOOKUP JOIN idx ON f | ENRICH policy ON f WITH … | SAMPLE p id |
  * FORK (…) (…)`. Like j172's query_string parser, ALL parsing and
  * compilation happens at plan-build time: each pipe stage folds into
  * the DataFrame plan (WHERE → filter that Catalyst can push, EVAL →
  * projection, STATS → one keyed aggregation with map-side combine,
  * INLINESTATS → key-bounded window aggregates, SORT+LIMIT →
  * TakeOrderedAndProject, LOOKUP/ENRICH → broadcast left equi-joins,
  * FORK → null-filling union of sub-pipelines), so the executed plan
  * is indistinguishable from the hand-written DataFrame program — the
  * language is surface, Catalyst is the optimizer, exactly the ES|QL
  * architecture (its own engine compiles to a physical plan the same
  * way).
  *
  * Expression grammar (Pratt-style precedence): OR < AND < comparisons
  * (== != >= <= > < LIKE RLIKE IN IS [NOT] NULL) < additive <
  * multiplicative < unary/primary; primaries are numbers, "strings",
  * identifiers, parens, and function calls — one case each in
  * [[primary]], the only list of function names (an unknown name fails
  * as an unknown ES|QL function). `%` is multiplicative. Aliases bind
  * with `name = expr` in EVAL/STATS/BY; STATS items take a
  * per-aggregate trailing `WHERE cond` (8.16 filtered stats). Every
  * function and stage reads its tokens through the [[Cursor]] readers,
  * whose errors name the function or stage. */
object Esql {

  // ---------- lexer ----------
  // """…""" (ES|QL's escape-free string form, needed for patterns that
  // contain '"') must be tried before the plain "…" alternative
  private val tokenRe =
    """(?s)\s*(>=|<=|==|!=|\|\||&&|[(),=%*/+\-<>|]|"{3}.*?"{3}|"[^"]*"|[A-Za-z_][A-Za-z_0-9.]*|\d+\.\d+|\d+)"""
      .r

  /** Strip one level of ES|QL string quoting (triple or plain). */
  private def unquote(t: String): String =
    if (t.startsWith("\"\"\"")) t.drop(3).dropRight(3)
    else t.stripPrefix("\"").stripSuffix("\"")

  private def lex(q: String): List[String] = {
    var rest = q.trim
    val out = scala.collection.mutable.ListBuffer.empty[String]
    while (rest.nonEmpty) {
      tokenRe.findPrefixMatchOf(rest) match {
        case Some(m) => out += m.group(1); rest = rest.drop(m.end).trim
        case None => throw new IllegalArgumentException(s"ES|QL lex error at: $rest")
      }
    }
    out.toList
  }

  private val identRe = "[A-Za-z_][A-Za-z_0-9.]*"

  /** `toks` cut at every token `sep` accepts outside parentheses. */
  private def splitTop(toks: List[String], sep: String => Boolean): List[List[String]] = {
    import scala.collection.mutable.ListBuffer
    val out = ListBuffer(ListBuffer.empty[String])
    var depth = 0
    for (t <- toks) {
      if (depth == 0 && sep(t)) out += ListBuffer.empty
      else {
        if (t == "(") depth += 1
        if (t == ")") depth -= 1
        out.last += t
      }
    }
    out.map(_.toList).toList
  }

  // ---------- expression parser (over a mutable token cursor) ----------
  /** A token cursor over one expression, one stage body or one function
    * argument. `ctx` names the function or stage being read in the
    * errors the readers raise. [[expr]], [[str]], [[int]] and [[num]]
    * read the REST of the cursor: a literal operand must be the whole
    * argument.
    *
    * `aggFilter` is the per-aggregate filter (ES|QL `STATS agg WHERE
    * cond`, 8.16+), set by [[statsList]] BEFORE the item's expression is
    * parsed, so every aggregate call built inside the item wraps its
    * argument in `IF(cond, arg, NULL)` — null-skipping aggregation makes
    * that exactly the FILTER semantics for COUNT/SUM/MIN/MAX/AVG.
    *
    * `madAccum` is the MAD collection point (set by [[statsList]], null
    * elsewhere): MEDIAN_ABSOLUTE_DEVIATION needs a per-group median
    * PRE-PASS (the j68 two-pass shape — exact MAD fundamentally cannot
    * be one aggregate call), so parsing one registers its argument here
    * and returns a percentile over the deviation column the STATS stage
    * materializes before the final aggregation. Argument cursors share
    * both with the cursor they were cut from. */
  private class Cursor(var toks: List[String], val ctx: String = "ES|QL",
      val aggFilter: Option[Column] = None,
      val madAccum: scala.collection.mutable.ListBuffer[MadSpec] = null) {
    def peek: Option[String] = toks.headOption
    def eat(): String = {
      require(toks.nonEmpty, s"$ctx: unexpected end of input")
      val h = toks.head; toks = toks.tail; h
    }
    def expect(t: String): Unit = {
      val h = eat()
      require(h == t, s"expected '$t', got '$h'")
    }
    def filt(a: Column): Column =
      aggFilter.map(f => when(f, a)).getOrElse(a)
    private def sub(ts: List[String], c: String) = new Cursor(ts, c, aggFilter, madAccum)

    /** End of input: every token was read. */
    def end(): Unit = require(toks.isEmpty, s"unparsed ES|QL tokens: ${toks.mkString(" ")}")
    /** Reads `kw` (any case) if it is next. */
    def accept(kw: String): Boolean =
      peek.exists(_.equalsIgnoreCase(kw)) && { eat(); true }
    /** The keyword `kw`. */
    def keyword(kw: String): Unit =
      require(accept(kw), s"$ctx needs $kw, got '${peek.getOrElse("")}'")
    /** An identifier (a column, table or alias name). */
    def ident(what: String): String = {
      require(peek.exists(_.matches(identRe)), s"$ctx needs $what, got '${peek.getOrElse("")}'")
      eat()
    }
    /** The rest as one expression. */
    def expr(): Column = { val e = orExpr(this); end(); e }
    /** The rest as one string literal. */
    def str(what: String): String = {
      val t = eat()
      require(t.startsWith("\""), s"$ctx needs a literal $what, got '$t'")
      end()
      unquote(t)
    }
    /** The rest as one integer literal in lo..hi. */
    def int(what: String, lo: Long = 0L, hi: Long = Int.MaxValue): Long = {
      val t = eat()
      val v = Some(t).filter(_.matches("""\d+""")).flatMap(_.toLongOption)
      require(v.exists(x => x >= lo && x <= hi),
        s"$ctx needs an integer literal $what in $lo..$hi, got '$t'")
      end()
      v.get
    }
    /** The rest as one numeric literal in lo..hi. */
    def num(what: String, lo: Double, hi: Double = Double.MaxValue): Double = {
      val t = eat()
      val v = Some(t).filter(_.matches("""\d+(\.\d+)?""")).map(_.toDouble)
      require(v.exists(x => x >= lo && x <= hi),
        s"$ctx needs a numeric literal $what in $lo..$hi, got '$t'")
      end()
      v.get
    }
    /** The rest cut at top-level commas: one cursor per item. */
    def items(): Seq[Cursor] = {
      val out = splitTop(toks, _ == ",").map(sub(_, ctx))
      toks = Nil
      out
    }
    /** The arguments of `fn`, whose `(` was just read, up to the
      * matching `)`: one cursor each, between `min` and `max` of them. */
    def args(fn: String, min: Int, max: Int): Seq[Cursor] = {
      var depth = 0
      val (body, rest) = toks.span { t =>
        if (t == "(") depth += 1
        if (t == ")") depth -= 1
        depth >= 0
      }
      require(rest.nonEmpty, s"$fn( has no closing ')'")
      toks = rest.tail
      val as = if (body.isEmpty) Nil else sub(body, fn).items()
      require(as.length >= min && as.length <= max, s"$fn takes " +
        (if (min == max) s"$min" else if (max == Int.MaxValue) s"at least $min"
         else s"$min to $max") + s" argument(s), got ${as.length}")
      as
    }
    /** Exactly `n` expression arguments of `fn`. */
    def exprs(fn: String, n: Int): Seq[Column] = args(fn, n, n).map(_.expr())
    /** At least `min` expression arguments of `fn`. */
    def varargs(fn: String, min: Int): Seq[Column] =
      args(fn, min, Int.MaxValue).map(_.expr())
  }

  /** One MEDIAN_ABSOLUTE_DEVIATION occurrence inside a STATS: `dev` is
    * the deviation column the pre-pass adds, `arg` the aggregated
    * expression, `filter` the item's per-aggregate WHERE (applies to the
    * first-pass median AND the final deviation percentile — exactly
    * DuckDB's FILTER on both). */
  private case class MadSpec(dev: String, arg: Column, filter: Option[Column])

  /** Deterministic NOW(): ES|QL's NOW() is query-evaluation wall-clock —
    * unusable in a bit-reproducible engine — so it compiles to this
    * PINNED instant (the frozen-clock device; just past the fixture's
    * 2024-01 event window so every age is positive). The documented
    * deviation mirrors SAMPLE's: determinism over wall-clock truth. */
  private[graft] val pinnedNowNtz = "2024-02-01 00:00:00"

  /** epoch-µs of a timestamp-typed column — the shared integer domain
    * every DATE_DIFF runs in (= DuckDB `epoch_us`; UTC sessions only,
    * the [[graft.Tables.eventsUs]] contract). */
  private def usOf(x: Column): Column =
    unix_micros(x.cast("timestamp"))

  private val dateDiffUnitUs = Map(
    "second" -> 1000000L, "minute" -> 60000000L,
    "hour" -> 3600000000L, "day" -> 86400000000L)

  /** A literal "asc"/"desc" argument (TOP, MV_SORT): true for ascending. */
  private def ascending(a: Cursor): Boolean = a.str("order").toLowerCase match {
    case "asc" => true
    case "desc" => false
    case x => throw new IllegalArgumentException(s"${a.ctx} order must be asc/desc, got '$x'")
  }

  /** A DATE_FORMAT/DATE_PARSE pattern: the locale-free numeric subset
    * (y M d H m s + separators) — identical under Spark's
    * DateTimeFormatter and the strftime translation the oracle spells,
    * with no month-name/era locale hazard. */
  private def datePattern(a: Cursor): String = {
    val fmt = a.str("pattern")
    require(fmt.matches("""[yMdHms\-:/ .]+""") && !fmt.contains("MMM"),
      s"${a.ctx} pattern '$fmt' outside the locale-free y/M/d/H/m/s " +
        "subset (MMM+ spells LOCALE month names — rejected)")
    fmt
  }

  /** Numbers, "strings", identifiers, parens, and function calls. Each
    * function is one case below — the compiler's only list of them. */
  private def primary(c: Cursor): Column = c.eat() match {
    case "(" => val e = orExpr(c); c.expect(")"); e
    case "-" => negate(primary(c))
    case t if t.startsWith("\"") => lit(unquote(t))
    case t if t.matches("""\d+\.\d+""") => lit(t.toDouble)
    case t if t.matches("""\d+""") => lit(t.toLong)
    case name if c.peek.contains("(") && name.matches(identRe) =>
      c.eat()
      val fn = name.toUpperCase
      def one: Column = c.exprs(fn, 1).head
      fn match {
        case "COUNT" =>
          val Seq(a) = c.args(fn, 1, 1)
          if (a.toks == List("*")) count(c.filt(lit(1))) else count(c.filt(a.expr()))
        case "SUM" => sum(c.filt(one))
        case "MIN" => min(c.filt(one))
        case "MAX" => max(c.filt(one))
        case "AVG" => avg(c.filt(one))
        case "COUNT_DISTINCT" =>
          // exact distinct count (ES|QL's is approximate HLL++ by
          // default; the exact form is the oracle-comparable choice and
          // what ES emits at low cardinality anyway)
          count_distinct(c.filt(one))
        case "PERCENTILE" =>
          // PERCENTILE(field, p) with p in 0..100 (the ES scale);
          // compiles to Spark's exact interpolating percentile, the
          // j69-proven cross-engine form (DuckDB quantile_cont)
          val Seq(a, p) = c.args(fn, 2, 2)
          percentile(c.filt(a.expr()), lit(p.num("p", 0, 100) / 100.0))
        case "MEDIAN" => percentile(c.filt(one), lit(0.5))
        case "STD_DEV" =>
          // STD_DEV(field) — POPULATION standard deviation (ES's
          // stats/extended_stats std_deviation is population; the d7/j71
          // precedent says rounded stddev hash-compares at every SF).
          // ROUND in the query — the pipe language owns presentation.
          stddev_pop(c.filt(one))
        case "MEDIAN_ABSOLUTE_DEVIATION" =>
          // MEDIAN_ABSOLUTE_DEVIATION(field) — median of |x − median(x)|
          // per group, EXACT (ES serves an approximation from the same
          // TDigest as percentiles; exact MAD needs two passes — the j68
          // trade, here compiled by the STATS stage: a per-group median
          // pre-pass broadcast back, then the deviation percentile in
          // the main aggregation). Registering through madAccum is what
          // triggers that rewrite; outside STATS there is no pre-pass to
          // attach to, so it is a compile error.
          val a = one
          require(c.madAccum != null, "MEDIAN_ABSOLUTE_DEVIATION is only " +
            "supported inside STATS (it needs the per-group median pre-pass)")
          val dev = s"__mad_dev_${c.madAccum.length}"
          c.madAccum += MadSpec(dev, a, c.aggFilter)
          percentile(c.filt(col(dev)), lit(0.5))
        case "FIRST" | "LAST" =>
          // FIRST(field, sort) / LAST(field, sort) — ES|QL 9.x's
          // positional aggregates: the value at the minimal/maximal
          // sort key (d8's LWW argmax surfaced in the pipe language).
          // min_by/max_by skip rows whose ORDERING is null, which is
          // exactly how the per-aggregate WHERE threads through (both
          // operands wrapped). DETERMINISM CONTRACT (d8's §7.5#6
          // discipline): the sort key must be unique per group —
          // min_by's tie choice is otherwise arbitrary; the fixture's
          // event ts is verified globally unique at every SF.
          val Seq(v, t) = c.exprs(fn, 2)
          if (fn == "FIRST") min_by(c.filt(v), c.filt(t))
          else max_by(c.filt(v), c.filt(t))
        case "SAMPLE" =>
          // SAMPLE(field, N, id) — ES|QL 9.1's sample aggregate: N of
          // the group's values. ES draws with an RNG; the deterministic
          // twin is the j210 stage's device as an aggregate — rank rows
          // by md5 of the EXPLICIT id column (the extra operand is the
          // same documented deviation as the SAMPLE stage's), take N,
          // emit CSV in draw order. The md5 key prefixes the value in
          // ONE string (32-hex + '|'), so sort/slice/strip is identical
          // text processing in both engines. Per-agg WHERE nulls the
          // key and collect_list skips nulls = FILTER semantics.
          val Seq(v0, n0, id0) = c.args(fn, 3, 3)
          val v = v0.expr()
          val n = n0.int("count").toInt
          val key = concat(
            md5(concat(id0.expr().cast("string"), lit("|sample")).cast("binary")),
            lit("|"), v.cast("string"))
          // an EMPTY draw pool (per-agg WHERE matched nothing) yields
          // NULL, not "" — ES returns null there and the oracle's
          // list(...) FILTER → NULL agrees (ADVICE r11; array_join
          // over the empty collect would give ""). Catalyst dedupes
          // the repeated collect_list into one physical aggregate.
          val pool = collect_list(c.filt(key))
          when(size(pool) > 0,
            array_join(
              transform(
                slice(array_sort(pool), 1, n),
                x => x.substr(lit(34), lit(1000000))), ","))
        case "ST_EXTENT_AGG" =>
          // ES|QL 9.x's spatial extent aggregate: the bounding envelope
          // of the group's points — four independent min/max reductions
          // packed into the SAME {xmin,xmax,ymax,ymin} struct
          // TO_GEOSHAPE builds, so ST_XMIN/…/ST_YMAX read both. All
          // map-combined; no float hazard beyond the coordinates
          // themselves (min/max are order-independent). The struct
          // obeys the no-struct-output rule: extract with ST_XMIN/… and
          // DROP the envelope before the result ships.
          val a = one
          struct(
            min(c.filt(a.getField("x"))).as("xmin"),
            max(c.filt(a.getField("x"))).as("xmax"),
            max(c.filt(a.getField("y"))).as("ymax"),
            min(c.filt(a.getField("y"))).as("ymin"))
        case "ST_CENTROID_AGG" =>
          // ES|QL's spatial centroid aggregate (each doc weight 1 —
          // geo_centroid's semantics, j268's ES|QL twin): per-component
          // means via Parity.qsum's quantized exact sums — order-
          // independent, partial-aggregable, constant group state (the
          // r13 discipline; ES itself keeps running sums per bucket).
          // Empty group (per-agg WHERE matched nothing) → NULL fields.
          // Extract with ST_X/ST_Y and DROP the struct before shipping.
          val a = one
          val vx = c.filt(a.getField("x"))
          val vy = c.filt(a.getField("y"))
          // components ship pre-rounded through Parity.round6: a
          // quantized mean is a rational that can land EXACTLY on the
          // round(…,6) half boundary where the engines' rounding
          // algorithms disagree (the r13 j105 lesson)
          struct(
            Parity.round6(Parity.qsum(vx) / count(vx)).as("x"),
            Parity.round6(Parity.qsum(vy) / count(vy)).as("y"))
        case "VALUES" =>
          // VALUES(field) — the group's distinct values as a multivalue.
          // ES documents the order as non-deterministic; a distributed,
          // oracle-compared engine cannot ship that, so the result is
          // SORTED (the MV_SORT/TOP determinism device — a documented
          // deviation that only narrows the contract). Arrays obey the
          // no-array-output rule: feed MV_CONCAT / MV_COUNT downstream.
          // Group state is bounded by the value cardinality, as in ES.
          sort_array(collect_set(c.filt(one)))
        case "WEIGHTED_AVG" =>
          // WEIGHTED_AVG(value, weight) = Σ(v·w)/Σw — over integer
          // inputs both sums are exact, then ONE double division (the
          // j72/j83 composition rule), so the result hash-compares
          val Seq(a, w) = c.exprs(fn, 2)
          sum(c.filt(a * w)) / sum(c.filt(w))
        case "TOP" =>
          // TOP(field, limit, "asc"|"desc") — the top-N values per
          // group as a multivalue. collect_list is order-nondeterministic
          // in a distributed engine, so the sort AFTER collection is
          // what makes the result well-defined (equal values are
          // indistinguishable); the array then flows to MV_* consumers
          // — the no-array-output rule keeps it out of results raw.
          // State is bounded per group by the collected column, and ES
          // caps limit the same way (its top_metrics size ≤ 100).
          val Seq(a, n, o) = c.args(fn, 3, 3)
          val v = a.expr()
          val limit = n.int("limit", 1, 100).toInt
          slice(sort_array(collect_list(c.filt(v)), ascending(o)), 1, limit)
        case "ABS" => abs(one)
        // math scalars — the libm ones (SQRT/POW/EXP/LOG10) are single
        // float-function applications; the engine discipline is ROUND
        // them in the query and aggregate only via order-independent
        // MIN/MAX (never SUM a libm output — double accumulation order
        // differs across engines/partitionings)
        case "SQRT" => sqrt(one)
        case "EXP" => exp(one)
        case "LOG10" => log10(one)
        case "POW" => val Seq(a, b) = c.exprs(fn, 2); pow(a, b)
        // CEIL/FLOOR return LONG (Spark's native behavior; ES returns
        // the input type — the integral form is the deterministic
        // cross-engine choice, CAST'd explicitly in the oracle)
        case "CEIL" => ceil(one)
        case "FLOOR" => floor(one)
        case "GREATEST" => greatest(c.varargs(fn, 2): _*)
        case "LEAST" => least(c.varargs(fn, 2): _*)
        case "TO_LONG" => one.cast("long")
        case "TO_DOUBLE" => one.cast("double")
        case "TO_INTEGER" => one.cast("int")
        case "TO_BOOLEAN" => one.cast("boolean")
        case "TO_DATETIME" =>
          // TO_DATETIME(x) — ES converts epoch-MILLIS longs (its wire
          // format for dates); strings go through DATE_PARSE instead
          timestamp_millis(one.cast("long")).cast("timestamp_ntz")
        case "LENGTH" => length(one)
        case "SPLIT" =>
          // ES|QL SPLIT delimits on a LITERAL string — quote it so the
          // regex-based Spark split can't misread ' ' vs '.' etc.
          val Seq(a, sep) = c.args(fn, 2, 2)
          split(a.expr(), java.util.regex.Pattern.quote(sep.str("delimiter")))
        case "CONCAT" => concat(c.varargs(fn, 1): _*)
        case "ROUND" =>
          c.args(fn, 1, 2) match {
            case Seq(a, digits) => round(a.expr(), digits.int("digits").toInt)
            case Seq(a) =>
              // scale-0 ROUND returns an integer in ES|QL — cast to long
              // so the integer semantics survive the hash compare
              round(a.expr(), 0).cast("long")
          }
        case "DATE_TRUNC" =>
          // DATE_TRUNC(1 hour, ts) — the ES|QL duration-literal form;
          // only 1-unit durations map onto trunc semantics (ES itself
          // delegates multi-unit rounding to BUCKET)
          val Seq(d, a) = c.args(fn, 2, 2)
          val n = d.eat()
          require(n == "1", s"DATE_TRUNC supports 1-unit durations, got '$n'")
          val unit = d.eat()
          require(Set("minute", "hour", "day", "week", "month", "year")(
            unit.toLowerCase), s"unknown DATE_TRUNC unit '$unit'")
          d.end()
          date_trunc(unit.toUpperCase, a.expr())
        case "CASE" =>
          // CASE(cond1, v1, cond2, v2, …, default) — ES|QL's variadic
          // conditional, folded to a when-chain
          val args = c.varargs(fn, 3)
          require(args.length % 2 == 1,
            s"CASE needs cond/value pairs + a default, got ${args.length} args")
          val default = args.last
          val pairs = args.dropRight(1).grouped(2).map(g => (g(0), g(1))).toSeq
          pairs.tail.foldLeft(when(pairs.head._1, pairs.head._2)) {
            case (acc, (cond, v)) => acc.when(cond, v)
          }.otherwise(default)
        case "COALESCE" => coalesce(c.varargs(fn, 1): _*)
        case "SUBSTRING" =>
          // SUBSTRING(str, start[, length]) — 1-based; a negative start
          // counts from the END (the ES|QL contract, same in Spark's
          // substring). '-' lexes as its own token, so the sign is
          // re-attached here; a non-literal start is a clear compile
          // error, not a NumberFormatException (r9 advice).
          def signed(a: Cursor, what: String): Int = {
            val neg = a.accept("-")
            val v = a.int(what).toInt
            if (neg) -v else v
          }
          val as = c.args(fn, 2, 3)
          val a = as(0).expr()
          val from = signed(as(1), "start")
          if (as.length == 3) substring(a, from, signed(as(2), "length"))
          else a.substr(lit(from), length(a))
        case "TO_UPPER" => upper(one)
        case "TO_LOWER" => lower(one)
        case "TRIM" => trim(one)
        case "LTRIM" => ltrim(one)
        case "RTRIM" => rtrim(one)
        case "REPEAT" =>
          // REPEAT(str, n) — n is a literal (the overwhelmingly common
          // form; a clear restriction beats a silent expr coercion)
          val Seq(a, n) = c.args(fn, 2, 2)
          repeat(a.expr(), n.int("count").toInt)
        case "LOG" =>
          // LOG([base,] x) — ES|QL's log: one arg is the natural log,
          // two args take a LITERAL base first. Both engines compile the
          // based form to ln(x)/ln(base); outputs are libm doubles —
          // ROUND in the query and aggregate only via MIN/MAX (the j234
          // float-determinism rule).
          c.args(fn, 1, 2) match {
            case Seq(a) => log(a.expr())
            case Seq(b, a) =>
              // targeted diagnostic (ADVICE r11): LOG(expr, x) is ES-legal
              // but this compiler requires a bare positive numeric LITERAL
              // base — say so instead of dying at the comma generically.
              require(b.toks.length == 1 && b.toks.head.matches("""\d+(\.\d+)?"""),
                "LOG's two-argument form requires the base to be a bare " +
                  "positive numeric literal (e.g. LOG(2, x)); expression, " +
                  "parenthesized, or negative bases are not supported")
              val base = b.eat().toDouble
              require(base > 0 && base != 1.0, s"LOG base must be > 0 and != 1, got $base")
              log(base, a.expr())
          }
        case "SIGNUM" =>
          // SIGNUM(x) → −1.0 / 0.0 / 1.0 (double, the ES|QL return
          // type); wrap in TO_LONG for exact SUMs
          signum(one)
        case "MD5" =>
          // MD5(str) — lowercase hex, byte-identical in Spark and DuckDB
          // (the SAMPLE stage's own draw relies on the same parity)
          md5(one.cast("binary"))
        // trig family — single libm applications under the j234 rule
        // (ROUND in the query, aggregate only via order-independent
        // MIN/MAX). TO_RADIANS/TO_DEGREES are the exact x/180·π and
        // x·180/π formulas in BOTH engines (the oracle spells pi()
        // arithmetic, not radians()/degrees(), so the pre-libm argument
        // is the identical double).
        case "SIN" => sin(one)
        case "COS" => cos(one)
        case "TAN" => tan(one)
        case "ATAN2" => val Seq(y, x) = c.exprs(fn, 2); atan2(y, x)
        case "CBRT" => cbrt(one)
        case "PI" => c.exprs(fn, 0); lit(math.Pi)
        case "TO_RADIANS" => radians(one)
        case "TO_DEGREES" => degrees(one)
        case "ASIN" => asin(one)
        case "ACOS" => acos(one)
        case "ATAN" => atan(one)
        // hyperbolics + HYPOT compile to exp/sqrt compositions (not
        // libm sinh/cosh/tanh/hypot) so both engines apply the SAME
        // formula over the SAME primitive — but JVM Math.exp may sit
        // 1 ULP off C libm's exp (both are allowed that error), so
        // unlike TO_RADIANS this is composition-identical, not
        // bit-identical: the j234 ROUND-6dp rule every query applies
        // is what absorbs the residual ULP (matrix-verified at all SFs).
        // Overflow bounds (ADVICE r11): exp overflows at x≈709.78,
        // slightly before libm sinh/cosh's own overflow at x≈710.47 —
        // SINH/COSH diverge from libm (Inf vs huge-finite) only in that
        // 0.7-wide band; documented domain bound, not guarded. TANH is
        // different: Inf/Inf = NaN where real tanh is ±1, so it IS
        // guarded — tanh(x) is ±1.0 to double precision beyond |x|≈19.
        case "SINH" => val a = one; (exp(a) - exp(negate(a))) / lit(2.0)
        case "COSH" => val a = one; (exp(a) + exp(negate(a))) / lit(2.0)
        case "TANH" =>
          val a = one
          when(abs(a) > lit(20.0), signum(a))
            .otherwise((exp(a * lit(2)) - lit(1)) / (exp(a * lit(2)) + lit(1)))
        case "HYPOT" => val Seq(x, y) = c.exprs(fn, 2); sqrt(x * x + y * y)
        case "E" => c.exprs(fn, 0); lit(math.E)
        case "TAU" => c.exprs(fn, 0); lit(math.Pi * 2)
        // geo family (r12): TO_GEOPOINT parses WKT "POINT(lon lat)" ONCE
        // into a typed {x, y} struct — exactly where ES pays its parse
        // (index time; doc values are binary) — so every downstream ST_*
        // is a free field access / pure trig with ZERO string work. The
        // first cut kept points as WKT strings re-regexed per ST_* call,
        // and EVAL-alias inlining replicated 21 regex nodes through the
        // plan: the x1→x10 ScaleProbe showed 3.9→12.5 s where the
        // equivalent j258 runs 0.5 s flat. Malformed WKT → NULL (ES's
        // contract) via try_cast + structural guards, no regex, ANSI-safe.
        // ST_* on a non-point column is an AnalysisException (no field
        // x/y) — the analog of ES refusing ST_X(keyword) at type-check.
        // ST_DISTANCE = haversine over ES's mean earth radius
        // (GeoOps.haversineMeters — ONE fragment shared with j258);
        // outputs are libm-adjacent → j234 ROUND-6dp + MIN/MAX rule.
        case "TO_GEOPOINT" =>
          // ES's WKT reader tolerates whitespace: "POINT (x y)", runs of
          // internal blanks, leading/trailing space all parse (r12 advice
          // — the exact-"POINT(" spelling rejected well-formed WKT). So:
          // trim, strip the 5-char keyword, ltrim, strip the parens, and
          // split the body on \s+ (split is regex-backed either way — no
          // new cost class vs the single-space split). Out-of-range
          // coordinates (|lon|>180, |lat|>90) → NULL, matching ES's
          // refusal of invalid geo_points — without this, downstream
          // grid keys could mint cells ES would never emit ("6/-4/32").
          val t = trim(one)
          val rest = ltrim(t.substr(lit(6), length(t)))
          val body = trim(rest.substr(lit(2), length(rest) - lit(2)))
          val parts = split(body, "\\s+")
          val x = element_at(parts, 1).try_cast("double")
          val y = element_at(parts, 2).try_cast("double")
          when(t.startsWith("POINT") && rest.startsWith("(") &&
            rest.endsWith(")") &&
            size(parts) === 2 && x.isNotNull && y.isNotNull &&
            abs(x) <= lit(180.0) && abs(y) <= lit(90.0),
            struct(x.as("x"), y.as("y")))
        case "ST_X" => one.getField("x")
        case "ST_Y" => one.getField("y")
        case "ST_DISTANCE" =>
          val Seq(a, b) = c.exprs(fn, 2)
          GeoOps.haversineMeters(a.getField("y"), a.getField("x"),
            b.getField("y"), b.getField("x"))
        // ES|QL grid-bucketing functions (8.16+/9.x): the key makers
        // behind geohash_grid / geotile_grid spelled as scalars for
        // STATS BY — ES's own docs route ES|QL grid aggs through these.
        // Literal precision/zoom (the BUCKET-span discipline); keys are
        // the SAME fragments as the j259 agg (GeoOps.geotileKey) and
        // the generated-both-engines geohash (GeoOps.geohash — unrolled
        // long shifts, no float past the two libm-free quantizations;
        // ST_GEOHEX keys by the j275 axial hex tessellation, NOT H3
        // ids (H3's icosahedral trig has no bit-stable oracle mirror —
        // the j275 documented deviation; before r14 the function was
        // absent entirely).
        case "ST_GEOHASH" =>
          val Seq(a, p) = c.args(fn, 2, 2)
          val pt = a.expr()
          GeoOps.geohash(pt.getField("x"), pt.getField("y"), p.int("precision", 1, 12).toInt)
        case "ST_GEOTILE" =>
          val Seq(a, z) = c.args(fn, 2, 2)
          val pt = a.expr()
          GeoOps.geotileKey(pt.getField("x"), pt.getField("y"), z.int("zoom", 0, 29).toInt)
        case "ST_GEOHEX" =>
          val Seq(a, r) = c.args(fn, 2, 2)
          val pt = a.expr()
          GeoOps.geohexKey(pt.getField("x"), pt.getField("y"), r.int("resolution", 0, 4).toInt)
        // ES|QL spatial relations over a geo_shape: TO_GEOSHAPE parses
        // WKT "BBOX (minLon, maxLon, maxLat, minLat)" OR
        // "POLYGON((x y, x y, …))" into ONE typed shape struct
        // {xmin,xmax,ymax,ymin, xs,ys} — the envelope fields (a
        // polygon's computed bounding box; ST_XMIN/… read them) plus
        // the ring vertices QUANTIZED to exact 1e-6 integer micro-units
        // (empty arrays for a BBOX). Malformed WKT → NULL (the regex
        // parse is fine here — shapes are query literals, so Catalyst
        // constant-folds the whole constructor; a non-literal shape
        // column pays it per row, documented). POLYGON takes an outer
        // ring plus any number of HOLES (r13 — even-odd handles them
        // natively; see the ring concatenation below); MULTIPOLYGON →
        // NULL, out-of-range vertices → NULL (TO_GEOPOINT's rule),
        // unclosed rings → NULL (WKT requires first = last). The
        // predicates run the envelope test first — ES's indexed BKD
        // prefilter, inclusive edges — and polygons then add an exact
        // integer even-odd ray cast (see pointInShape). For a point,
        // INTERSECTS ≡ WITHIN, and CONTAINS takes (shape, point) per
        // ES's argument order. NULL point/shape → NULL, per-agg WHERE
        // skips it. Every comparison is exact BIGINT arithmetic or a
        // plain double compare — no trig, codegen'd, no float hazard.
        case "TO_GEOSHAPE" =>
          // LITERAL shapes (the overwhelmingly common case — ES query
          // DSL shapes are query constants) parse at COMPILE time in
          // Scala and emit a literal struct: zero plan weight. The
          // first cut built the full multi-ring HOF expression even for
          // literals, and every downstream reference (ST_ENVELOPE's 5
          // field reads, each extractor EVAL) REPLICATED the tree —
          // j272 went 0.2 → 14.8 s in OPTIMIZER time, not execution.
          // Non-literal shape columns keep the expression path below
          // (pays per row, documented; GeoOpsSpec pins the two paths
          // byte-equal on the same inputs). The literal is detected at
          // the TOKEN level — the compiler owns the lexer, so "is this
          // a bare string literal argument" is one lookahead.
          val Seq(arg) = c.args(fn, 1, 1)
          arg.toks match {
            case List(tok) if tok.startsWith("\"") =>
              geoShapeLiteral(unquote(tok))
            case _ =>
              val a = arg.expr()
          val re = """BBOX\s*\(\s*([-+0-9.eE]+),\s*([-+0-9.eE]+),\s*([-+0-9.eE]+),\s*([-+0-9.eE]+)\s*\)"""
          def g(i: Int) = regexp_extract(a, re, i).cast("double")
          val noPts = array().cast("array<bigint>")
          val t = trim(a)
          // Multi-ring parse: "POLYGON((outer), (hole), …)" — WKT holes
          // are first-class (r13): the rings concatenate into ONE
          // quantized vertex list with a NULL SENTINEL between rings,
          // and the even-odd ray cast then handles holes with ZERO
          // predicate changes — a junction edge touching the sentinel
          // nullifies its crossing test, which counts as 0 (see
          // pointInShape), while a real hole edge crossed by the ray
          // flips parity exactly as even-odd semantics require
          // (point-in-hole = even = outside).
          val inner = regexp_extract(t, """^POLYGON\s*\((.*)\)$""", 1)
          val rings = transform(split(inner, """\)\s*,\s*\("""),
            r0 => regexp_replace(regexp_replace(r0, """^\s*\(""", ""),
              """\)\s*$""", ""))
          def ringPairs(r0: Column) =
            transform(split(r0, ","), s0 => split(trim(s0), "\\s+"))
          // `get` (0-based, NULL out of bounds) never throws under ANSI
          // — element_at here would abort on a malformed 1-token pair
          def ringXs(r0: Column) =
            transform(ringPairs(r0), p0 => get(p0, lit(0)).try_cast("double"))
          def ringYs(r0: Column) =
            transform(ringPairs(r0), p0 => get(p0, lit(1)).try_cast("double"))
          def ringOk(r0: Column): Column = {
            val pr = ringPairs(r0); val xs0 = ringXs(r0); val ys0 = ringYs(r0)
            forall(pr, p0 => size(p0) === 2) &&
              !exists(xs0, v => v.isNull || abs(v) > lit(180.0)) &&
              !exists(ys0, v => v.isNull || abs(v) > lit(90.0)) &&
              size(pr) >= 4 &&
              element_at(xs0, 1) === element_at(xs0, -1) &&
              element_at(ys0, 1) === element_at(ys0, -1)
          }
          val polyOk = t.rlike("""^POLYGON\s*\(\s*\(""") &&
            t.endsWith(")") && length(inner) > lit(0) &&
            forall(rings, ringOk _)
          def q6(v: Column) = round(v * lit(1000000.0), 0).cast("bigint")
          val sentinel = array(lit(null).cast("bigint"))
          val xsQ = flatten(transform(rings,
            r0 => concat(transform(ringXs(r0), q6 _), sentinel)))
          val ysQ = flatten(transform(rings,
            r0 => concat(transform(ringYs(r0), q6 _), sentinel)))
          def mn(arr: Column) = array_min(filter(arr, v => v.isNotNull))
          def mx(arr: Column) = array_max(filter(arr, v => v.isNotNull))
          when(a.rlike("^" + re + "$"),
            struct(g(1).as("xmin"), g(2).as("xmax"),
              g(3).as("ymax"), g(4).as("ymin"),
              noPts.as("xs"), noPts.as("ys")))
          .when(t.startsWith("POLYGON") && polyOk,
            struct(
              (mn(xsQ).cast("double") / lit(1000000.0)).as("xmin"),
              (mx(xsQ).cast("double") / lit(1000000.0)).as("xmax"),
              (mx(ysQ).cast("double") / lit(1000000.0)).as("ymax"),
              (mn(ysQ).cast("double") / lit(1000000.0)).as("ymin"),
              xsQ.as("xs"), ysQ.as("ys")))
          }
        case "ST_ENVELOPE" =>
          // the minimum bounding box of a shape, AS a shape (the BBOX
          // kind): re-pack the envelope fields, drop the ring — ES|QL
          // 9.x's ST_ENVELOPE on geo_shape. Point inputs fail at
          // type-check (no xmin field), the ST_X(keyword) refusal rule.
          val a = one
          val noPts2 = array().cast("array<bigint>")
          when(a.isNotNull, struct(
            a.getField("xmin").as("xmin"), a.getField("xmax").as("xmax"),
            a.getField("ymax").as("ymax"), a.getField("ymin").as("ymin"),
            noPts2.as("xs"), noPts2.as("ys")))
        case "ST_INTERSECTS" | "ST_WITHIN" =>
          val Seq(a, b) = c.exprs(fn, 2); pointInShape(a, b)
        case "ST_CONTAINS" => val Seq(a, b) = c.exprs(fn, 2); pointInShape(b, a)
        case "ST_DISJOINT" => val Seq(a, b) = c.exprs(fn, 2); !pointInShape(a, b)
        // envelope extractors — field reads off the {xmin,xmax,ymax,
        // ymin} struct (TO_GEOSHAPE's or ST_EXTENT_AGG's; free, the
        // ST_X/ST_Y discipline)
        case "ST_XMIN" => one.getField("xmin")
        case "ST_XMAX" => one.getField("xmax")
        case "ST_YMIN" => one.getField("ymin")
        case "ST_YMAX" => one.getField("ymax")
        case "SHA256" =>
          // lowercase hex, byte-identical cross-engine (MD5's sibling)
          sha2(one.cast("binary"), 256)
        case "TO_BASE64" => base64(one.cast("binary"))
        case "FROM_BASE64" => unbase64(one).cast("string")
        case "BIT_LENGTH" => bit_length(one)
        case "BYTE_LENGTH" => octet_length(one)
        case "ROUND_TO" =>
          // ROUND_TO(field, p1, p2, …) — ES|QL 9.1: round DOWN to the
          // largest literal point ≤ field; anything below the smallest
          // point clamps to it. Compiles to a literal CASE chain —
          // row-local, codegen'd, pushable; the fast bucketing ES added
          // precisely because per-row CASE beats a join against a
          // boundary table at scale.
          val as = c.args(fn, 2, Int.MaxValue)
          val a = as.head.expr()
          // ascending fold so the LARGEST point lands in the outermost
          // WHEN — each later fold step wraps the accumulated chain, so
          // building upward checks ≥500 before ≥250 before ≥100
          val sorted = as.tail.map(_.int("point", 0L, Long.MaxValue)).sorted
          sorted.tail.foldLeft(lit(sorted.head): Column) {
            (acc, p) => when(a >= lit(p), lit(p)).otherwise(acc)
          }
        case "MV_PERCENTILE" =>
          // MV_PERCENTILE(field, p) — PERCENTILE's row-local multivalue
          // twin: linear interpolation over the SORTED elements at rank
          // p/100·(n−1). Elements are cast to double BEFORE any
          // arithmetic so both engines interpolate in the same domain
          // (float−float subtraction would round differently than the
          // promoted form); the rank arithmetic is a literal times an
          // integer — exact. Empty/null arrays yield null (the ES
          // empty-multivalue contract, like MV_SUM/MV_MEDIAN).
          val Seq(a0, p) = c.args(fn, 2, 2)
          val a = a0.expr()
          val frac = p.num("percentile", 0, 100) / 100.0
          val sorted = array_sort(a)
          val n = size(a)
          val rank = lit(frac) * (n - lit(1)).cast("double")
          val lo = floor(rank).cast("int")
          val hi = ceil(rank).cast("int")
          val vlo = element_at(sorted, lo + lit(1)).cast("double")
          val vhi = element_at(sorted, hi + lit(1)).cast("double")
          when(a.isNull || n === lit(0), lit(null))
            .otherwise(vlo + (rank - lo.cast("double")) * (vhi - vlo))
        case "MV_PSERIES_WEIGHTED_SUM" =>
          // MV_PSERIES_WEIGHTED_SUM(field, p) — Σ v_i / i^p over the
          // elements IN ARRAY ORDER (1-based i; callers sort first —
          // the ES form expects a descending-relevance list). The
          // left-to-right double fold is j238's MV_SUM device (≡ DuckDB
          // list_sum element order); i^p is libm pow with identical
          // literal args → the j234 ROUND-6dp rule applies downstream.
          val Seq(a0, p0) = c.args(fn, 2, 2)
          val a = a0.expr()
          val p = p0.num("p", 0)
          val weighted = transform(a, (x, i) =>
            x.cast("double") / pow((i + lit(1)).cast("double"), lit(p)))
          when(a.isNull || size(a) === lit(0), lit(null))
            .otherwise(aggregate(weighted, lit(0.0), (acc, x) => acc + x))
        case "SPACE" =>
          // SPACE(n) = REPEAT(" ", n)
          val Seq(n) = c.args(fn, 1, 1)
          lit(" " * n.int("count").toInt)
        case "MV_APPEND" => val Seq(a, b) = c.exprs(fn, 2); concat(a, b)
        case "MV_ZIP" =>
          // MV_ZIP(a, b[, delim]) — pairwise join with the delimiter;
          // the longer side's unpaired values pass through alone (the
          // ES contract), which is exactly the null-coalescing branch.
          val as = c.args(fn, 2, 3)
          val a = as(0).expr()
          val b = as(1).expr()
          val delim = if (as.length == 3) as(2).str("delimiter") else ","
          zip_with(a, b, (x, y) =>
            when(x.isNull, y).when(y.isNull, x)
              .otherwise(concat(x, lit(delim), y)))
        case "LEFT" => val Seq(a, n) = c.exprs(fn, 2); substring(a, lit(1), n)
        case "RIGHT" =>
          // RIGHT(s, n) — last n chars; empty input stays empty (the
          // negative-start substr would misread n > length(s))
          val Seq(a, n) = c.exprs(fn, 2)
          a.substr(greatest(length(a) - n + lit(1), lit(1)), n)
        case "REPLACE" =>
          // REPLACE(str, regex, new) — ES|QL's replace is REGEX-based
          val Seq(a, p, r) = c.args(fn, 3, 3)
          regexp_replace(a.expr(), p.str("regex"), r.str("replacement"))
        case "LOCATE" =>
          // LOCATE(str, substr) — 1-based position, 0 when absent
          val Seq(a, b) = c.exprs(fn, 2)
          call_function("locate", b, a)
        case "REVERSE" => reverse(one)
        case "STARTS_WITH" => val Seq(a, b) = c.exprs(fn, 2); a.startsWith(b)
        case "ENDS_WITH" => val Seq(a, b) = c.exprs(fn, 2); a.endsWith(b)
        // multivalue functions — row-local array folds. MV_DEDUPE's
        // ELEMENT ORDER is engine-specific (Spark array_distinct keeps
        // first-seen order, DuckDB list_distinct does not), so it may
        // only feed order-insensitive consumers (MV_COUNT/MV_MIN/
        // MV_MAX) in oracled queries — the no-array-output rule keeps
        // the raw array out of results anyway
        case "BUCKET" =>
          // Two forms. BUCKET(field, count, min, max) — the numeric
          // histogram: integer buckets of width ceil((max−min)/count)
          // anchored at min. ES additionally "nices" the width to a
          // 1/2/5·10^k ladder; the exact-width form here is the
          // deterministic cross-engine choice (documented deviation).
          // BUCKET(ts, N unit) — the DURATION form (multi-unit
          // rounding, the one case DATE_TRUNC deliberately rejects):
          // exact integer-µs floor to width N·unit anchored at the
          // epoch in UTC (pmod, so pre-1970 instants still floor), back
          // to the canonical µs TimestampNTZ — ES's fixed_interval
          // anchor. Calendar units (week/month) stay with DATE_TRUNC.
          c.args(fn, 2, 4) match {
            case Seq(a, span) if span.toks.length == 2 =>
              val nTok = span.eat()
              require(nTok.matches("""\d+"""),
                s"BUCKET count must be an integer literal, got '$nTok'")
              val unit = span.eat().toLowerCase.stripSuffix("s")
              val unitUs = dateDiffUnitUs.getOrElse(unit,
                throw new IllegalArgumentException(
                  s"unsupported BUCKET duration unit '$unit' " +
                    s"(supported: ${dateDiffUnitUs.keys.toSeq.sorted.mkString("/")})"))
              val w = nTok.toLong * unitUs
              require(w > 0, "BUCKET duration must be positive")
              val us = usOf(a.expr())
              timestamp_micros((us - pmod(us, lit(w))).cast("long"))
                .cast("timestamp_ntz")
            case Seq(a0, n0, lo0, hi0) =>
              val a = a0.expr()
              val n = n0.int("count", 0L, Long.MaxValue)
              val lo = lo0.int("min", 0L, Long.MaxValue)
              val hi = hi0.int("max", 0L, Long.MaxValue)
              require(n > 0 && hi > lo, s"BUCKET needs count>0 and max>min")
              val width = (hi - lo + n - 1) / n
              (floor((a - lit(lo)) / lit(width)).cast("long") * width + lo)
                .as(s"bucket")
            case _ => throw new IllegalArgumentException(
              "BUCKET takes (field, count, min, max) or (ts, N unit)")
          }
        case "TO_STRING" => one.cast("string")
        case "CIDR_MATCH" =>
          // CIDR_MATCH(ip, "A.B.C.D/p" [, …]) — true if the IPv4 string
          // falls in ANY of the literal blocks. Each block folds to the
          // j198 device at COMPILE time: the string parses octet-wise
          // to its numeric form and range-checks [base, base+2^(32−p))
          // — row-local exact-integer math, no UDF, pushable like any
          // predicate.
          val as = c.args(fn, 2, Int.MaxValue)
          val a = as.head.expr()
          val ipn = {
            val o = split(a, "\\.")
            element_at(o, 1).cast("long") * 16777216L +
              element_at(o, 2).cast("long") * 65536L +
              element_at(o, 3).cast("long") * 256L +
              element_at(o, 4).cast("long")
          }
          as.tail.map { b =>
            val cidr = b.str("block")
            val Array(addr, pfx) = cidr.split("/")
            val oct = addr.split("\\.").map(_.toLong)
            require(oct.length == 4 && oct.forall(x => x >= 0 && x <= 255),
              s"bad IPv4 in CIDR '$cidr'")
            val p = pfx.toInt
            require(p >= 0 && p <= 32, s"bad prefix length in CIDR '$cidr'")
            val base0 = oct(0) * 16777216L + oct(1) * 65536L + oct(2) * 256L + oct(3)
            val span = 1L << (32 - p)
            val base = base0 - base0 % span // network address of the block
            ipn >= base && ipn < base + span
          }.reduce(_ || _)
        case "MV_COUNT" => size(one)
        case "MV_DEDUPE" => array_distinct(one)
        case "MV_MIN" => array_min(one)
        case "MV_MAX" => array_max(one)
        case "MV_SUM" =>
          // MV_SUM(arr) — row-local sum in DOUBLE, folded LEFT-TO-RIGHT
          // (the VectorOps dot-product device: Spark `aggregate` ≡ DuckDB
          // `list_sum(list_transform(·, CAST AS DOUBLE))` element order,
          // so float inputs hash-compare bit-for-bit). Empty/null arrays
          // yield null, the ES empty-multivalue contract.
          val a = one
          when(size(a) > 0,
            aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double")))
        case "MV_AVG" =>
          // MV_AVG(arr) — MV_SUM's exact fold, ONE double division
          val a = one
          when(size(a) > 0,
            aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double")) /
              size(a).cast("double"))
        case "MV_MEDIAN" =>
          // MV_MEDIAN(arr) — row-local median over the SORTED array:
          // mean of the two middle elements (which for odd length is the
          // middle element exactly — one formula, no interpolation
          // hazard: both engines pick the same elements and average two
          // exact doubles). 1-based middles: ⌈n/2⌉ and ⌊n/2⌋+1.
          val a = one
          val sorted = sort_array(transform(a, x => x.cast("double")))
          val n = size(a)
          val m1 = element_at(sorted, ((n + lit(1)) / lit(2)).cast("int"))
          val m2 = element_at(sorted, (n / lit(2)).cast("int") + lit(1))
          when(n > 0, (m1 + m2) / lit(2.0))
        case "MV_SORT" =>
          // MV_SORT(field [, "asc"|"desc"]) — a DETERMINISTIC total
          // order, unlike MV_DEDUPE's engine-specific one, so sorted
          // arrays may feed position-sensitive consumers (MV_SLICE/
          // MV_FIRST) in oracled queries
          val as = c.args(fn, 1, 2)
          val a = as(0).expr()
          sort_array(a, as.length == 1 || ascending(as(1)))
        case "MV_SLICE" =>
          // MV_SLICE(field, start, end) — 0-based INCLUSIVE bounds (the
          // ES contract); literal non-negative bounds only (the
          // documented restriction — ES's negative from-end indices
          // would need runtime array lengths in the oracle mirror)
          val Seq(a0, st, en) = c.args(fn, 3, 3)
          val a = a0.expr()
          val (s0, e0) = (st.int("start").toInt, en.int("end").toInt)
          require(e0 >= s0, s"MV_SLICE end $e0 < start $s0")
          slice(a, s0 + 1, e0 - s0 + 1)
        case "MV_FIRST" => element_at(one, 1)
        case "MV_LAST" => element_at(one, -1)
        case "MV_CONCAT" =>
          // MV_CONCAT(field, delim) — folds ANY multivalue to ONE
          // string (elements cast to string first, as ES does), which
          // is also how array-valued results obey the engine's
          // no-array-output rule
          val Seq(a, d) = c.args(fn, 2, 2)
          array_join(a.expr().cast("array<string>"), d.str("delimiter"))
        case "MATCH" =>
          // MATCH(field, "term") — ES|QL 8.17's full-text bridge: the
          // analyzed-field match query as a function. One term against
          // the whitespace analysis chain = token-set membership
          // (j34/j172's text-leg semantics; scoring stays with the
          // search DSL operators — ES|QL MATCH is a FILTER, its _score
          // only materializes via METADATA)
          val Seq(f, t) = c.args(fn, 2, 2)
          array_contains(split(f.expr(), " "), t.str("term"))
        case "CATEGORIZE" =>
          // CATEGORIZE(field) — ES|QL 8.18's log-pattern grouping
          // function (STATS … BY CATEGORIZE(msg)): delegates to the
          // SAME categorization fragment as the j96 categorize_text
          // aggregation (AggExtOps.categorizeCol — one fragment, two
          // surfaces, zero drift), composable here with arbitrary
          // aggregates and sibling BY keys
          AggExtOps.categorizeCol(one)
        case "MATCH_PHRASE" =>
          // MATCH_PHRASE(field, "a b") — ES|QL 9.1's phrase function:
          // all terms adjacent in order, j36's space-delimited
          // adjacency device on the analyzed field (tokens are
          // single-space separated by fixture contract, so ' a b '
          // containment IS the 2-token phrase match — the same trick
          // QueryString compiles quoted phrases with). Filter
          // semantics, like MATCH.
          val Seq(f, p) = c.args(fn, 2, 2)
          concat(lit(" "), f.expr(), lit(" ")).contains(s" ${p.str("phrase")} ")
        case "KQL" =>
          // KQL("kibana query") — ES|QL 9.1's KQL bridge. KQL's surface
          // (field:value, quoted phrases, trailing-* prefixes, parens)
          // is the QueryString grammar with CASE-INSENSITIVE and/or/not
          // keywords, so the compile normalizes bare operator tokens
          // and delegates to the ONE j172 parser — three surfaces
          // (query_string DSL, QSTR, KQL), zero drift.
          val Seq(q) = c.args(fn, 1, 1)
          SearchOps.QueryString.compile(
            SearchOps.QueryString.parseKql(q.str("query")))
        case "QSTR" =>
          // QSTR("lucene query") — ES|QL 8.17's query_string bridge:
          // the FULL Lucene syntax (fields, phrases, prefix wildcards,
          // AND/OR/NOT, parens) delegated to the j172 parser, so the
          // pipe language and the search DSL cannot drift on query
          // semantics. Compiles to one Column predicate — keyword legs
          // pushdown-eligible, text legs row-local.
          val Seq(q) = c.args(fn, 1, 1)
          SearchOps.QueryString.compile(SearchOps.QueryString.parse(q.str("query")))
        case "NOW" =>
          c.exprs(fn, 0)
          to_timestamp_ntz(lit(pinnedNowNtz))
        case "DATE_DIFF" =>
          // DATE_DIFF("unit", start, end) — elapsed COMPLETE units from
          // start to end (the ES contract: elapsed-time multiples, NOT
          // DuckDB-style boundary crossings — date_diff('hour', 10:59,
          // 11:01) is 0 here, 1 there). Compiled to exact integer µs
          // arithmetic: (µs(end)−µs(start)) is a long, the division is
          // made exact by subtracting the REMAINDER first (Spark `%`,
          // sign follows the dividend), so the double quotient is an
          // exact integer (< 2^53) TRUNCATED TOWARD ZERO — a negative
          // span yields 0 incomplete units, matching ES, not floor's −1
          // (r10 advice: the old pmod form floored). Non-negative spans
          // are unchanged, so the oracle's `//` over epoch_us still
          // mirrors exactly there.
          val Seq(u, a, b) = c.args(fn, 3, 3)
          val unit = u.str("unit")
          val unitUs = dateDiffUnitUs.getOrElse(unit.toLowerCase,
            throw new IllegalArgumentException(
              s"unsupported DATE_DIFF unit '$unit' " +
                s"(supported: ${dateDiffUnitUs.keys.toSeq.sorted.mkString("/")})"))
          val from = a.expr()
          val d = usOf(b.expr()) - usOf(from)
          ((d - d % lit(unitUs)) / lit(unitUs)).cast("long")
        case "DATE_FORMAT" =>
          // DATE_FORMAT("pattern", ts) — format first, the ES|QL arg
          // order; the pattern is [[datePattern]]'s locale-free subset
          val Seq(p, a) = c.args(fn, 2, 2)
          val fmt = datePattern(p)
          date_format(a.expr(), fmt)
        case "DATE_PARSE" =>
          // DATE_PARSE("pattern", str) — same restricted pattern subset;
          // yields a µs TimestampNTZ (the canonical engine shape), which
          // is exactly DuckDB strptime's TIMESTAMP
          val Seq(p, a) = c.args(fn, 2, 2)
          val fmt = datePattern(p)
          to_timestamp_ntz(a.expr(), lit(fmt))
        case "DATE_EXTRACT" =>
          // DATE_EXTRACT("part", ts) — ChronoField names, long result.
          // day_of_week is ISO (Mon=1..Sun=7, = DuckDB isodow): Spark's
          // dayofweek() is Sun=1, so it compiles via weekday()+1.
          val Seq(p, a0) = c.args(fn, 2, 2)
          val part = p.str("part")
          val a = a0.expr()
          val e = part.toLowerCase match {
            case "year" => year(a)
            case "month_of_year" => month(a)
            case "day_of_month" => dayofmonth(a)
            case "day_of_week" => weekday(a) + lit(1)
            case "hour_of_day" => hour(a)
            case "minute_of_hour" => minute(a)
            case "second_of_minute" => second(a)
            case p => throw new IllegalArgumentException(
              s"unsupported DATE_EXTRACT part '$p'")
          }
          e.cast("long")
        case _ => throw new IllegalArgumentException(s"unknown ES|QL function '$name'")
      }
    case id =>
      // an unrecognized operator/punctuation token must be a PARSE
      // error, not a bogus col(")") surfacing as a Catalyst analysis
      // failure three layers later (r9 advice)
      require(id.matches(identRe), s"unexpected ES|QL token '$id'")
      col(id)
  }

  private def negate(c: Column): Column = lit(0) - c

  private def mulExpr(c: Cursor): Column = {
    var l = primary(c)
    while (c.peek.exists(Set("*", "/", "%"))) c.eat() match {
      case "*" => l = l * primary(c)
      case "/" => l = l / primary(c)
      case "%" => l = l % primary(c)
    }
    l
  }

  private def addExpr(c: Cursor): Column = {
    var l = mulExpr(c)
    while (c.peek.exists(Set("+", "-"))) c.eat() match {
      case "+" => l = l + mulExpr(c)
      case "-" => l = l - mulExpr(c)
    }
    l
  }

  /** ES|QL wildcard pattern → SQL LIKE pattern: `*`/`?` are the
    * wildcards, so literal `%`/`_` must be escaped first. */
  private def wildcardToLike(p: String): String =
    p.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
      .replace("*", "%").replace("?", "_")

  private def cmpExpr(c: Cursor): Column = {
    val l = addExpr(c)
    c.peek.map(_.toUpperCase) match {
      case Some("==") => c.eat(); l === addExpr(c)
      case Some("!=") => c.eat(); l =!= addExpr(c)
      case Some(">=") => c.eat(); l >= addExpr(c)
      case Some("<=") => c.eat(); l <= addExpr(c)
      case Some(">") => c.eat(); l > addExpr(c)
      case Some("<") => c.eat(); l < addExpr(c)
      case Some("IS") =>
        // IS NULL / IS NOT NULL — the null predicates ES|QL pairs with
        // its left joins (an unmatched LOOKUP JOIN/ENRICH row)
        c.eat()
        val neg = c.accept("NOT")
        c.keyword("NULL")
        if (neg) l.isNotNull else l.isNull
      case Some(op @ ("LIKE" | "RLIKE")) =>
        // ES|QL LIKE: * / ? wildcards against a string literal
        c.eat()
        val p = c.eat()
        require(p.startsWith("\""), s"$op needs a string pattern, got '$p'")
        if (op == "LIKE") l.like(wildcardToLike(unquote(p))) else l.rlike(unquote(p))
      case Some("IN") =>
        // value IN (e1, e2, …) — an all-literal list builds a true In
        // expression (which reaches the scan as an In pushdown; an
        // OR-of-equalities would not fold to one), mixed lists fall
        // back to the OR chain
        c.eat(); c.expect("(")
        def litVal(tok: String): Option[Any] =
          if (tok.startsWith("\"")) Some(unquote(tok))
          else if (tok.matches("""\d+\.\d+""")) Some(tok.toDouble)
          else if (tok.matches("""\d+""")) Some(tok.toLong)
          else None
        val (lits, exprs) = c.args("IN", 1, Int.MaxValue).partitionMap { a =>
          a.toks match {
            case List(t) if litVal(t).nonEmpty => Left(litVal(t).get)
            case _ => val e = addExpr(a); a.end(); Right(e)
          }
        }
        if (exprs.isEmpty) l.isin(lits: _*)
        else (exprs ++ lits.map(lit(_))).map(v => l === v).reduce(_ || _)
      case _ => l
    }
  }

  /** NOT binds between AND and the comparisons (the ES|QL precedence):
    * `NOT x LIKE "p*"` is NOT(x LIKE "p*"), never (NOT x) LIKE …. The
    * old parser handled NOT inside primary — TIGHTER than comparisons —
    * which silently inverted that reading (r9 advice). */
  private def notExpr(c: Cursor): Column =
    if (c.accept("NOT")) !notExpr(c) else cmpExpr(c)

  private def andExpr(c: Cursor): Column = {
    var l = notExpr(c)
    while (c.accept("AND") || c.accept("&&")) l = l && notExpr(c)
    l
  }

  private def orExpr(c: Cursor): Column = {
    var l = andExpr(c)
    while (c.accept("OR") || c.accept("||")) l = l || andExpr(c)
    l
  }

  /** Parse one full expression and REQUIRE every token consumed — an
    * unrecognized trailing operator must be an error, never a silently
    * truncated predicate (r7 review). */
  private[graft] def parseExpr(src: String): Column = new Cursor(lex(src)).expr()

  /** One EVAL/STATS/BY item: `name = expr`, or an UNALIASED expression —
    * a bare column keeps its name, anything else gets a `<prefix>k`
    * auto-name (r7 review: the old parser silently dropped the tail of
    * an unaliased `user_id % 10`). The item must consume its tokens. */
  private def item(c: Cursor, prefix: String, k: Int): (String, Column) = c.toks match {
    case n :: "=" :: rest if n.matches(identRe) => c.toks = rest; n -> c.expr()
    case List(n) if n.matches(identRe) => n -> c.expr()
    case _ => s"$prefix$k" -> c.expr()
  }

  /** [[item]]s separated by commas (EVAL / BY); the list must consume
    * the whole body. */
  private def aliasedList(c: Cursor, autoPrefix: String = "expr"): Seq[(String, Column)] =
    c.items().zipWithIndex.map { case (ic, i) => item(ic, autoPrefix, i + 1) }

  /** STATS-item list: `alias = agg [WHERE cond]` items separated by
    * commas (the per-aggregate WHERE is ES|QL 8.16's filtered-stats
    * syntax). Each item splits on a top-level WHERE, and the condition
    * (parsed FIRST) is installed as the item cursor's aggFilter so every
    * aggregate call in the item builds as `agg(IF(cond, arg, NULL))`. */
  private def statsList(c: Cursor): (Seq[(String, Column)], Seq[MadSpec]) = {
    val mads = scala.collection.mutable.ListBuffer.empty[MadSpec]
    val out = c.items().zipWithIndex.map { case (it, i) =>
      val (aggToks, filter) = splitTop(it.toks, _.equalsIgnoreCase("WHERE")) match {
        case List(a) => (a, None)
        case List(a, w) => (a, Some(new Cursor(w, s"${c.ctx} WHERE").expr()))
        case _ => throw new IllegalArgumentException(
          s"${c.ctx} item has more than one WHERE: ${it.toks.mkString(" ")}")
      }
      item(new Cursor(aggToks, c.ctx, filter, mads), "agg", i + 1)
    }
    (out, mads.toSeq)
  }

  /** MEDIAN_ABSOLUTE_DEVIATION pre-pass (the j68 two-pass shape inside
    * the STATS compiler): compute each MAD argument's per-group median
    * (honoring the item's per-aggregate WHERE), broadcast the ≤ |groups|-
    * row median table back onto the frame, and materialize the deviation
    * columns the registered `percentile(__mad_dev_i, 0.5)` aggregates
    * read. The corpus shuffles on the group keys once per pass and never
    * collects — the broadcast is group-cardinality-sized, so the shape
    * holds at any corpus size (the j68 scale note). A global STATS (no
    * BY) broadcasts a 1-row median — the scalar-broadcast crossJoin
    * device. */
  private def madPrePass(df: DataFrame, keys: Seq[String],
      mads: Seq[MadSpec]): DataFrame = {
    val medAggs = mads.map { m =>
      percentile(m.filter.map(f => when(f, m.arg)).getOrElse(m.arg), lit(0.5))
        .as(m.dev + "_med")
    }
    val joined =
      if (keys.isEmpty)
        df.crossJoin(broadcast(df.agg(medAggs.head, medAggs.tail: _*)))
      else {
        // null-safe (<=>) key equality, NOT a USING join (ADVICE r11):
        // an equi-join drops the null-key group — a STATS with MAD
        // would silently lose that group's EVERY aggregate while the
        // same STATS without MAD keeps it. Keys are renamed on the
        // broadcast side so <=> has unambiguous operands.
        val meds = df.groupBy(keys.map(col): _*)
          .agg(medAggs.head, medAggs.tail: _*)
          .select(keys.map(k => col(k).as("__mad_k_" + k)) ++
            mads.map(m => col(m.dev + "_med")): _*)
        val cond = keys.map(k => col(k) <=> col("__mad_k_" + k)).reduce(_ && _)
        df.join(broadcast(meds), cond)
          .drop(keys.map("__mad_k_" + _): _*)
      }
    mads.foldLeft(joined) { (f, m) =>
      f.withColumn(m.dev, abs(m.arg - col(m.dev + "_med")))
    }
  }

  /** Same-length copy of `q` with every lexer-recognized string literal
    * replaced by 's' filler — triple-quoted form FIRST, mirroring
    * [[tokenRe]]'s alternative order, because the escape-free `"""…"""`
    * form exists precisely to embed '"' characters. Structural scans
    * (stage splitting, top-level keyword location) run over the mask, so
    * quote PARITY never matters (r8 review: the old per-char '"' toggle
    * broke on a triple-quoted pattern with an odd number of embedded
    * quotes — exactly the inputs triple-quoting was added for). */
  private val stringTokRe = """(?s)"{3}.*?"{3}|"[^"]*"""".r
  private def maskStrings(q: String): String = {
    val sb = new StringBuilder(q)
    for (m <- stringTokRe.findAllMatchIn(q); i <- m.start until m.end)
      sb.setCharAt(i, 's')
    sb.toString
  }

  /** Split a pipeline on single top-level '|' (not '||', not inside any
    * string literal, not inside parentheses — a FORK branch is a whole
    * sub-pipeline inside parens) — scans [[maskStrings]] for structure,
    * cuts the ORIGINAL text. */
  private def splitStages(query: String): Seq[String] = {
    val m = maskStrings(query)
    val cuts = scala.collection.mutable.ListBuffer(-1)
    var i = 0
    var depth = 0
    while (i < m.length) {
      m.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case '|' if depth == 0 &&
            (i == 0 || m.charAt(i - 1) != '|') &&
            (i + 1 >= m.length || m.charAt(i + 1) != '|') =>
          cuts += i
        case _ =>
      }
      i += 1
    }
    cuts += query.length
    cuts.toSeq.sliding(2).map { case Seq(a, b) => query.substring(a + 1, b) }
      .map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** First top-level (outside string literals, whitespace-delimited,
    * case-insensitive) occurrence of `word` in `body`, or -1 — indexOf
    * would match inside string literals (r7 review). Scans the mask
    * (same length as `body`, strings filled with 's'), so the returned
    * index is valid for `body` and quote parity is irrelevant. */
  private def findTopLevel(body: String, word: String): Int = {
    val msk = maskStrings(body)
    var i = 0
    while (i < msk.length) {
      if (i + word.length <= msk.length &&
        msk.regionMatches(true, i, word, 0, word.length) &&
        (i == 0 || msk.charAt(i - 1).isWhitespace) &&
        (i + word.length == msk.length ||
          msk.charAt(i + word.length).isWhitespace))
        return i
      i += 1
    }
    -1
  }

  // ---------- DISSECT / GROK pattern compilers ----------

  /** Grok's built-in pattern dictionary (the subset a log pipeline
    * actually uses). Every entry is written with NON-capturing groups
    * only, so the group index of the i-th named key is exactly i+1 —
    * the invariant the stage compiler relies on. The dialect subset
    * (\d \w lazy quantifiers alternation) behaves identically under
    * java.util.regex (Spark) and RE2 (DuckDB oracle). */
  private val grokDict = Map(
    "WORD" -> """\w+""",
    "NOTSPACE" -> """\S+""",
    "NUMBER" -> """(?:[+-]?\d+(?:\.\d+)?)""",
    "INT" -> """(?:[+-]?\d+)""",
    "DATA" -> """.*?""",
    "GREEDYDATA" -> """.*""",
    "IP" -> """(?:\d{1,3}(?:\.\d{1,3}){3})""",
    "USERNAME" -> """[a-zA-Z0-9._-]+""",
    "LOGLEVEL" -> """(?:INFO|WARN|ERROR|DEBUG|TRACE|FATAL)""")

  private val grokKeyRe =
    """%\{([A-Z0-9_]+)(?::([A-Za-z_][A-Za-z_0-9]*))?(?::(int|long|float|double|keyword))?\}""".r

  /** Compile a grok pattern to (java+RE2-safe regex, named keys with
    * optional cast). Text outside `%{…}` is passed through VERBATIM as
    * regex — grok semantics (so `\{` spells a literal brace); unnamed
    * `%{PATTERN}` keys match without capturing. Grok matches anywhere
    * in the input unless the pattern itself anchors with ^/$. */
  private[graft] def grokToRegex(pat: String): (String, Seq[(String, Option[String])]) = {
    val sb = new StringBuilder
    val keys = scala.collection.mutable.ListBuffer.empty[(String, Option[String])]
    var last = 0
    for (m <- grokKeyRe.findAllMatchIn(pat)) {
      sb.append(pat.substring(last, m.start))
      val rx = grokDict.getOrElse(m.group(1),
        throw new IllegalArgumentException(s"unknown grok pattern %{${m.group(1)}}"))
      Option(m.group(2)) match {
        case None => sb.append("(?:").append(rx).append(")")
        case Some(name) =>
          sb.append("(").append(rx).append(")")
          keys += name -> Option(m.group(3))
      }
      last = m.end
    }
    sb.append(pat.substring(last))
    (sb.toString, keys.toSeq)
  }

  private val dissectKeyRe = """%\{([A-Za-z_][A-Za-z_0-9]*)?\}""".r

  /** Compile a dissect pattern to (anchored regex, keys). Dissect is the
    * regex-free cousin of grok: literal separators (regex-QUOTED here,
    * unlike grok's verbatim pass-through) with `%{name}` keys between
    * them; keys bind to the shortest span reaching the next literal
    * (leftmost separator match — the lazy `(.*?)` under full ^…$
    * anchoring reproduces exactly that). `%{}` is a skip key.
    *
    * CROSS-ENGINE FIXTURE INVARIANT (r8 review, j194): the graded
    * pipelines extract from `documents.source` / `documents.text`,
    * which are single-line and always match (`src<digits>`, word-
    * spaced text). Two latent divergences are fenced regardless:
    * numeric casts on extractions use Spark TO_LONG ↔ DuckDB TRY_CAST
    * (both degrade to null + filtered row on a non-match), and
    * newline-bearing input would split Java's '$' (matches before a
    * trailing '\n') from RE2's (end-of-string only) — patterns over
    * multi-line columns must spell `\z`-style anchoring instead of
    * relying on '$'. */
  private[graft] def dissectToRegex(pat: String): (String, Seq[String]) = {
    val sb = new StringBuilder("^")
    val keys = scala.collection.mutable.ListBuffer.empty[String]
    var last = 0
    for (m <- dissectKeyRe.findAllMatchIn(pat)) {
      if (m.start > last)
        sb.append(java.util.regex.Pattern.quote(pat.substring(last, m.start)))
      Option(m.group(1)) match {
        case None => sb.append("(?:.*?)")
        case Some(name) => sb.append("(.*?)"); keys += name
      }
      last = m.end
    }
    if (last < pat.length)
      sb.append(java.util.regex.Pattern.quote(pat.substring(last)))
    sb.append("$")
    (sb.toString, keys.toSeq)
  }

  /** Parse a `<input-column> "<pattern>"` stage body (DISSECT / GROK). */
  private def colPattern(stage: String, body: String): (String, String) = {
    val c = new Cursor(lex(body), stage)
    val in = c.ident("an input column")
    (in, c.str("pattern"))
  }

  // ---------- pipeline compiler ----------

  /** Top-level parenthesized groups of `body` (FORK branches) — scans
    * the string mask so parens inside literals don't count. */
  private def parenGroups(body: String): Seq[String] = {
    val m = maskStrings(body)
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var depth = 0
    var start = -1
    for (i <- 0 until m.length) m.charAt(i) match {
      case '(' =>
        if (depth == 0) start = i + 1
        depth += 1
      case ')' =>
        depth -= 1
        require(depth >= 0, s"unbalanced parens in: $body")
        if (depth == 0) out += body.substring(start, i)
      case c if depth == 0 && !c.isWhitespace =>
        throw new IllegalArgumentException(
          s"expected only parenthesized branches, found '$c' in: $body")
      case _ =>
    }
    require(depth == 0, s"unbalanced parens in: $body")
    out.toSeq
  }

  /** Compile an ES|QL pipeline against the fixture tables in `d`. */
  def compile(s: SparkSession, d: String, query: String): DataFrame = {
    // single '|' splits stages; '||' is the OR operator and must not
    // (r7 review — the old regex split it into a bogus empty stage);
    // string literals are masked out first, so a '|' inside a pattern
    // never splits and quote parity never matters (r8 review)
    val stages = splitStages(query)
    // ROW a = 1, b = "x" — the inline-literal source command (ES|QL's
    // second source besides FROM, the natural vehicle for pure-function
    // probes): one row built from the aliased literal expressions, then
    // the ordinary stage pipeline. spark.range(1) seeds the single row;
    // only the declared columns survive the select.
    if (stages.head.toUpperCase.startsWith("ROW ")) {
      val items = aliasedList(new Cursor(lex(stages.head.drop(4)), "ROW"))
      val df = s.range(1).select(items.map { case (n, e) => e.as(n) }: _*)
      return applyStages(s, d, df, stages.tail)
    }
    // SHOW INFO — the third source command: one row of engine metadata
    // (date, hash, version — the ES column set). A bit-reproducible
    // engine pins all three: date = the frozen clock (NOW's device),
    // hash/version = the mirrored surface version. Completes the
    // source-command surface (FROM / ROW / TS / SHOW).
    if (stages.head.trim.equalsIgnoreCase("SHOW INFO")) {
      val df = s.range(1).select(
        to_timestamp_ntz(lit(pinnedNowNtz)).as("date"),
        md5(lit("graft-9.1").cast("binary")).as("hash"),
        lit("9.1.0-graft").as("version"))
      return applyStages(s, d, df, stages.tail)
    }
    // TS <index> ON d1, d2, … — ES|QL 9.1's time-series source command.
    // ES derives the series key (_tsid) from the index mapping's
    // dimension fields; a mapping-free engine cannot, so the dimensions
    // are DECLARED with ON (the FUSE explicit-key discipline; documented
    // deviation). Stages fold normally except the first STATS whose
    // aggregates contain *_OVER_TIME / RATE inner calls — that one
    // compiles as the TWO-LEVEL rollup [[tsStats]] implements.
    if (stages.head.toUpperCase.startsWith("TS ")) {
      val tc = new Cursor(lex(stages.head.drop(3)), "TS")
      val tbl = tc.ident("one index name")
      require(tc.accept("ON"), "TS needs ON <dimension columns> — no index " +
        "mappings exist to infer the series key from")
      val dims = tc.items().map { it => val n = it.ident("dimension columns"); it.end(); n }
      var df = tbl match {
        case "events" => Tables.events(s, d)
        case other => Tables.read(s, d, other)
      }
      var tsDone = false
      for (st <- stages.tail) {
        val sp = st.indexOf(' ')
        val kw = (if (sp < 0) st else st.take(sp)).toUpperCase
        // detection runs over maskStrings(st) with a left word boundary
        // (ADVICE r11): a string literal containing "RATE(" or an
        // identifier ending in RATE must not misroute a plain STATS
        // into the rollup. The alternation covers the FULL tsStats
        // inner-fn set — a delta-family-only STATS (DELTA/IDELTA/
        // INCREASE/IRATE, no *_OVER_TIME) is still a TS rollup.
        val isTsStats = kw == "STATS" && !tsDone &&
          maskStrings(st).matches("(?s).*(?<![A-Za-z0-9_])" +
            "(\\w+_OVER_TIME|RATE|IRATE|DELTA|IDELTA|INCREASE)\\s*\\(.*")
        if (isTsStats) { df = tsStats(df, dims, st.drop(sp + 1).trim); tsDone = true }
        else df = applyStages(s, d, df, Seq(st))
      }
      require(tsDone, "a TS pipeline needs a STATS stage with " +
        "*_OVER_TIME/RATE aggregates (otherwise use FROM)")
      return df
    }
    require(stages.head.toUpperCase.startsWith("FROM "),
      "ES|QL pipeline must start with FROM")
    // FROM idx1[, idx2, …] [METADATA _index] — ES|QL's multi-index FROM
    // unions the named indices BY NAME (a column absent from one index
    // is null there — the g5 union discipline), and METADATA _index
    // materializes the source-index tag per row. Each index keeps its
    // OWN parquet scan, so a WHERE on a shared column pushes into every
    // scan independently (EsqlSpec pins both PushedFilters).
    val fc = new Cursor(lex(stages.head.drop(5)), "FROM")
    val names = scala.collection.mutable.ListBuffer(fc.ident("index names"))
    while (fc.accept(",")) names += fc.ident("index names")
    val withMeta = fc.accept("METADATA")
    if (withMeta) {
      val meta = fc.eat()
      require(meta == "_index", s"only METADATA _index is supported, got '$meta'")
    }
    fc.end()
    def one(name: String): DataFrame = {
      val base = name match {
        case "events" => Tables.events(s, d)
        case "events_us" => Tables.eventsUs(s, d)
        case other => Tables.read(s, d, other)
      }
      if (withMeta) base.withColumn("_index", lit(name)) else base
    }
    val df = names.map(one).reduce(_.unionByName(_, allowMissingColumns = true))
    applyStages(s, d, df, stages.tail)
  }

  /** The TS STATS two-level rollup: `name = OUTER(INNER(args))` items
    * aggregate INNER within each (declared dimensions ∪ BY keys) cell —
    * one series in one bucket — then OUTER across series per BY group.
    * This is exactly the plan a 100 TB metrics store wants: the inner
    * aggregate is map-combined per series (massive cardinality, but
    * each cell is tiny and partial aggregation collapses it before the
    * exchange), and the outer aggregate runs over series-count rows,
    * orders of magnitude smaller than the event stream.
    *
    * Inner functions: MAX/MIN/SUM/COUNT/AVG_OVER_TIME(expr),
    * FIRST/LAST_OVER_TIME(expr) (value at the series-bucket's earliest/
    * latest `ts` — min_by/max_by, deterministic under the fixture's
    * globally-unique ts), RATE(expr, span_seconds) — per-second rate of
    * increase with counter-reset handling: sum of POSITIVE consecutive
    * deltas in ts order within the cell, / span. The span is an explicit
    * literal (ES derives it from the bucket; a compiler with no bucket
    * introspection takes it spelled — documented deviation). A
    * single-point or never-increasing cell yields NULL rate (no
    * increase is observable), which null-skipping outer aggregates and
    * the DuckDB CASE-sum mirror treat identically.
    * Outer functions: MIN/MAX/SUM/COUNT/AVG over the inner column.
    * Determinism: keep SUM/AVG outers to exact-integer inners (the
    * cents discipline); double-valued inners (AVG_OVER_TIME, RATE)
    * aggregate via order-independent MIN/MAX only (j234 rule). */
  private[graft] def tsStats(df0: DataFrame, dims: Seq[String], body: String): DataFrame = {
    val byIdx = findTopLevel(body, "BY")
    require(byIdx >= 0, "TS STATS requires BY (at least the time bucket)")
    val keys = aliasedList(new Cursor(lex(body.drop(byIdx + 2)), "TS STATS BY"), "key")
    val innerFns = Set("MAX_OVER_TIME", "MIN_OVER_TIME", "SUM_OVER_TIME",
      "COUNT_OVER_TIME", "AVG_OVER_TIME", "FIRST_OVER_TIME",
      "LAST_OVER_TIME", "COUNT_DISTINCT_OVER_TIME",
      "RATE", "DELTA", "IDELTA", "INCREASE", "IRATE")
    // the delta family needs the consecutive-difference pre-pass;
    // IRATE additionally needs the time gap between the last two samples
    val needsDelta = Set("RATE", "IDELTA", "INCREASE", "IRATE")
    val outerFns = Set("MIN", "MAX", "SUM", "COUNT", "AVG")
    case class TsItem(name: String, outer: String, inner: String,
        arg: Column, rateSpan: Long)
    val items = new Cursor(lex(body.take(byIdx)), "TS STATS").items().map { it =>
      val name = it.ident("name = …")
      it.expect("=")
      val outer = it.ident("an outer aggregate").toUpperCase
      require(outerFns(outer), s"TS STATS outer aggregate must be one of " +
        s"${outerFns.mkString("/")}, got '$outer'")
      it.expect("(")
      val Seq(ic) = it.args(outer, 1, 1)
      it.end()
      val inner = ic.ident("an inner function").toUpperCase
      require(innerFns(inner), s"TS STATS inner function must be one of " +
        s"${innerFns.mkString("/")}, got '$inner'")
      ic.expect("(")
      val n = if (inner == "RATE") 2 else 1
      val as = ic.args(inner, n, n)
      ic.end()
      val arg = as.head.expr()
      TsItem(name, outer, inner, arg,
        if (inner == "RATE") as(1).int("span in seconds", 0L, Long.MaxValue) else 0L)
    }
    require(df0.columns.contains("ts"),
      "TS aggregation needs the canonical `ts` time column on the frame")
    // BY keys materialize first (they may be computed, e.g. BUCKET);
    // RATE items get a per-cell consecutive delta via a window
    // PARTITIONED by the full cell key — bounded by the cell, never
    // the global single-partition hazard.
    var keyed = keys.foldLeft(df0) { case (f, (n, e)) => f.withColumn(n, e) }
    val cellCols = (dims ++ keys.map(_._1)).map(col)
    for ((it, i) <- items.zipWithIndex if needsDelta(it.inner)) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(cellCols: _*).orderBy(col("ts"))
      keyed = keyed.withColumn(s"__ts_d$i", it.arg - lag(it.arg, 1).over(w))
      if (it.inner == "IRATE")
        keyed = keyed.withColumn(s"__ts_g$i",
          usOf(col("ts")) - lag(usOf(col("ts")), 1).over(w))
    }
    val innerAggs = items.zipWithIndex.map { case (it, i) =>
      val a = it.inner match {
        case "MAX_OVER_TIME" => max(it.arg)
        case "MIN_OVER_TIME" => min(it.arg)
        case "SUM_OVER_TIME" => sum(it.arg)
        case "COUNT_OVER_TIME" => count(it.arg)
        case "AVG_OVER_TIME" => avg(it.arg)
        case "FIRST_OVER_TIME" => min_by(it.arg, col("ts"))
        case "LAST_OVER_TIME" => max_by(it.arg, col("ts"))
        case "COUNT_DISTINCT_OVER_TIME" => count_distinct(it.arg)
        case "RATE" =>
          val d = col(s"__ts_d$i")
          sum(when(d > lit(0), d)).cast("double") / lit(it.rateSpan.toDouble)
        // the promql-descended delta family (ES|QL 9.2 TS functions):
        // DELTA = last − first (gauge delta, exact integers);
        // IDELTA = the LAST consecutive delta (signed);
        // INCREASE = RATE's numerator — sum of positive deltas, no span;
        // IRATE = the last delta / its own time gap, NULL when the last
        // movement is not an increase (a reset — consistent with RATE's
        // no-observable-increase contract). All deterministic: ts is
        // unique, the operands exact integers.
        case "DELTA" =>
          max_by(it.arg, col("ts")) - min_by(it.arg, col("ts"))
        case "IDELTA" => max_by(col(s"__ts_d$i"), col("ts"))
        case "INCREASE" =>
          val d = col(s"__ts_d$i")
          sum(when(d > lit(0), d))
        case "IRATE" =>
          val lastD = max_by(col(s"__ts_d$i"), col("ts"))
          val lastG = max_by(col(s"__ts_g$i"), col("ts"))
          when(lastD > lit(0),
            lastD.cast("double") / (lastG.cast("double") / lit(1000000.0)))
      }
      a.as(s"__ts_v$i")
    }
    val inner = keyed.groupBy(cellCols: _*).agg(innerAggs.head, innerAggs.tail: _*)
    val outerAggs = items.zipWithIndex.map { case (it, i) =>
      val v = col(s"__ts_v$i")
      (it.outer match {
        case "MIN" => min(v)
        case "MAX" => max(v)
        case "SUM" => sum(v)
        case "COUNT" => count(v)
        case "AVG" => avg(v)
      }).as(it.name)
    }
    inner.groupBy(keys.map(k => col(k._1)): _*).agg(outerAggs.head, outerAggs.tail: _*)
  }

  /** The streaming half of the TS surface (r12 verdict item 2 — the
    * metrics-store ingest path ES TSDB downsampling actually is).
    * Structured Streaming cannot plan [[tsStats]]'s two stacked
    * aggregations, so the stream publishes per-(series, day) cell
    * PARTIALS per epoch and serving composes them — the downsample-
    * then-merge architecture every TSDB runs:
    *
    *   change stream → (per epoch) [[tsCellPartials]] → page-tag append
    *   (graft.streaming.Sync.tsRollupSink) → store of partial cells →
    *   [[tsComposeCells]] → finished cells ≡ tsStats's inner rollup.
    *
    * A partial carries the composable aggregate set: n/sc/mn/mx (the
    * j262 quartet), FIRST/LAST as (value, ts) pairs, and `pos` — the
    * within-slice sum of POSITIVE consecutive deltas, RATE's numerator.
    * Composition is exact BECAUSE the change feed is an ordered log
    * (epoch k's samples precede epoch k+1's per series — the CDC/
    * metrics-feed contract): merging two adjacent slices adds their
    * `pos` plus the boundary term max(0, first(k+1) − last(k)), which
    * is precisely the consecutive-delta the batch window computes
    * across that boundary. Cells carrying no positive delta anywhere
    * keep RATE NULL (the batch contract: single-point / never-
    * increasing series), tracked by the `pos IS NOT NULL ∨ boundary>0`
    * flag, not by coalescing NULL to 0.
    *
    * Compose(compose(x)) = compose(x): a composed cell has the SAME
    * schema as a partial, so the store can be COMPACTED by rewriting
    * any prefix of partial pages into composed rows without changing
    * answers — the nightly-compaction half of the 100 TB story.
    *
    * Scale shape: the epoch partial is a map-combined keyed aggregate
    * over the micro-batch (cells ≪ samples); the boundary window in
    * compose partitions by cell and orders by first-ts — bounded by
    * the number of slices that touched the cell (epochs), never the
    * sample count. StreamingSpec's i19 pins streamed-epochs ≡ batch
    * [[j249Query]]/[[j250Query]] answers on the same events, through a
    * crash-replay (page-tag supersede) and a compaction. */
  private[graft] def tsCellPartials(df: DataFrame): DataFrame = {
    val base = df.select(col("user_id"), col("event_type"),
      expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
      expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
      .withColumn("day", expr("ts_us div 86400000000"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"), col("day"))
      .orderBy(col("ts_us"))
    base.withColumn("__d", col("cents") - lag(col("cents"), 1).over(w))
      .groupBy(col("user_id"), col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"),
        min(col("cents")).as("mn"), max(col("cents")).as("mx"),
        min(col("ts_us")).as("fts"), min_by(col("cents"), col("ts_us")).as("fv"),
        max(col("ts_us")).as("lts"), max_by(col("cents"), col("ts_us")).as("lv"),
        sum(when(col("__d") > lit(0L), col("__d"))).as("pos"))
  }

  /** Merge TS cell partials (any number of slices per cell, including
    * already-composed rows) into finished cells — see [[tsCellPartials]]
    * for the contract and the boundary-delta argument.
    *
    * Slice order is TOTAL: fts alone ties when boundary samples share a
    * timestamp across epochs (or two single-sample slices duplicate a
    * ts), making lag(lv) — and hence RATE's boundary delta — vary with
    * partition layout, which would break the bit-stable streamed≡batch
    * contract i19 pins. Every slice column joins the sort key (rows
    * identical on ALL of them are interchangeable for every output),
    * and fv/lv pick their slice by the SAME total order. */
  private[graft] def tsComposeCells(partials: DataFrame): DataFrame = {
    val cell = Seq(col("user_id"), col("event_type"), col("day"))
    val ordCols = Seq("fts", "lts", "n", "sc", "mn", "mx", "fv", "lv")
    val ord = struct(ordCols.map(col): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(cell: _*).orderBy(ordCols.map(col): _*)
    partials
      .withColumn("__plv", lag(col("lv"), 1).over(w))
      .withColumn("__pb",
        when(col("__plv").isNotNull && col("fv") > col("__plv"),
          col("fv") - col("__plv")).otherwise(lit(0L)))
      .withColumn("__hp",
        when(col("pos").isNotNull || col("__pb") > lit(0L), 1L).otherwise(0L))
      .groupBy(cell: _*)
      .agg(sum(col("n")).as("n"), sum(col("sc")).as("sc"),
        min(col("mn")).as("mn"), max(col("mx")).as("mx"),
        min(col("fts")).as("fts"), min_by(col("fv"), ord).as("fv"),
        max(col("lts")).as("lts"), max_by(col("lv"), ord).as("lv"),
        (sum(coalesce(col("pos"), lit(0L))) + sum(col("__pb"))).as("__posAll"),
        max(col("__hp")).as("__hp"))
      .withColumn("pos", when(col("__hp") === 1L, col("__posAll")))
      .drop("__posAll", "__hp")
  }

  /** Expand a KEEP/DROP column list against the frame's schema: items
    * may carry `*` wildcards (ES|QL's `KEEP c_*` idiom), matched at
    * COMPILE time against df.columns so a pattern hitting nothing is a
    * loud error, not a silent no-op; order follows the list, first
    * mention wins on overlap (the ES|QL precedence rule). */
  private def expandCols(df: DataFrame, body: String): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    for (it <- body.split(",").map(_.trim)) {
      require(it.nonEmpty, s"empty column item in '$body'")
      if (it.contains("*")) {
        val rx = it.split("\\*", -1)
          .map(java.util.regex.Pattern.quote).mkString(".*")
        val hits = df.columns.filter(_.matches(rx))
        require(hits.nonEmpty, s"pattern '$it' matches no columns " +
          s"(have: ${df.columns.mkString(", ")})")
        out ++= hits
      } else {
        // a plain name must exist too: df.drop silently ignores missing
        // columns, which would make a DROP typo a no-op while a no-match
        // wildcard errors — same loud-compile-error discipline for both
        // (r10 advice; ES|QL errors on unknown columns either way)
        require(df.columns.contains(it), s"unknown column '$it' " +
          s"(have: ${df.columns.mkString(", ")})")
        out += it
      }
    }
    out.toSeq
  }

  /** Compile an ES|QL pipeline against the events CHANGE STREAM — the
    * same stage compiler over [[graft.Tables.eventsStream]]. Because
    * every stage folds into ordinary Catalyst operators, the stateless
    * stages (WHERE / EVAL / DISSECT / GROK / KEEP / DROP / RENAME /
    * MV_EXPAND / SAMPLE / the full scalar set) and keyed STATS run on
    * an unbounded frame UNCHANGED — Structured Streaming plans the
    * aggregation as incremental state (complete/update output), exactly
    * ES|QL's own 9.x streaming ambition ("queries over data streams").
    * ENRICH / LOOKUP JOIN also run unchanged: their right side is a
    * static dimension table by contract (ES `index.mode: lookup`), so
    * they plan as STREAM-STATIC broadcast joins — i7's shape; the
    * change stream is enriched without ever shuffling (StreamingSpec's
    * i17 pins a WHERE→ENRICH→STATS pipeline batch ≡ stream).
    * Not stream-legal (Spark's rules, enforced at start() not here):
    * SORT/LIMIT outside complete mode, INLINESTATS (window), LOOKUP
    * JOIN/ENRICH against another stream, CHANGE_POINT, FORK. TS
    * pipelines don't compile here (the FROM-events guard below rejects
    * them): the two-level rollup is two stacked aggregations, which
    * Structured Streaming does not plan — the streaming TS path is the
    * partial-publish architecture instead ([[tsCellPartials]] through
    * graft.streaming.Sync.tsRollupSink; i19's pin).
    * StreamingSpec replays the fixture log and pins a WHERE→EVAL→STATS
    * pipeline's streamed result equal to the batch [[compile]] row for
    * row — the two surfaces share THIS one compiler, so they cannot
    * drift. */
  def compileStream(s: SparkSession, d: String, query: String): DataFrame = {
    val stages = splitStages(query)
    require(stages.head.trim.equalsIgnoreCase("FROM events"),
      "streaming pipelines read the events change feed: start with FROM events")
    applyStages(s, d, Tables.eventsStream(s, d), stages.tail)
  }

  /** Test hook: run a stage pipeline (no FROM) against a given frame —
    * lets specs pin stage semantics on literal data, fixture-free. */
  private[graft] def applyPipe(s: SparkSession, d: String, df: DataFrame,
      pipeline: String): DataFrame =
    applyStages(s, d, df, splitStages(pipeline))

  /** Fold pipe stages onto a frame — the whole compiler; recursion
    * point for FORK branches (each branch is a sub-pipeline applied to
    * the frame FORK received). */
  private def applyStages(s: SparkSession, d: String, df0: DataFrame,
      stages: Seq[String]): DataFrame = {
    var df = df0
    for (st <- stages) {
      val sp = st.indexOf(' ')
      val (kw, body) =
        if (sp < 0) (st.toUpperCase, "")
        else (st.take(sp).toUpperCase, st.drop(sp + 1).trim)
      kw match {
        case "WHERE" if body.trim.toUpperCase.startsWith("KNN(") =>
          // WHERE KNN(<vector_col>, [v1, v2, ...], k) BY <tiebreak> —
          // ES|QL 9.x's knn function. NOT a row-local predicate: knn is
          // RETRIEVAL (keep the k nearest rows by the field's
          // similarity), so it compiles as a stage — cosine against the
          // literal query vector, `_score` = (1 + cos) / 2 (ES's cosine
          // score normalization, materialized directly — the METADATA
          // _score convention), then a TakeOrdered top-k under
          // (round(_score, 6) DESC, tiebreak ASC) — j38's rank rule; the
          // BY tiebreak is the engine's determinism addition (RERANK's
          // deviation, same reason). ES approximates per-shard HNSW and
          // merges; the exact top-k here is a TakeOrderedAndProject —
          // a k-row heap per partition, never a global sort.
          val knnRe =
            """(?is)^KNN\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*,\s*\[([^\]]*)\]\s*,\s*(\d+)\s*\)\s+BY\s+([A-Za-z_][A-Za-z0-9_]*)\s*$""".r
          val m = knnRe.findFirstMatchIn(body.trim).getOrElse(
            throw new IllegalArgumentException(
              s"KNN needs KNN(<col>, [v1, ...], k) BY <tiebreak>, got: $body"))
          val (vcol, qv, k, tie) = (m.group(1),
            m.group(2).split(",").map(_.trim.toDouble).toSeq,
            m.group(3).toInt, m.group(4))
          require(qv.nonEmpty && k > 0, "KNN needs a non-empty vector and k > 0")
          val dot = qv.zipWithIndex.map { case (v, i) =>
            expr(s"CAST(element_at($vcol, ${i + 1}) AS DOUBLE)") * lit(v)
          }.reduce(_ + _)
          val norm = sqrt(expr(
            s"""aggregate(sequence(1, ${qv.length}), CAST(0 AS DOUBLE), (a, i) ->
               |  a + CAST(element_at($vcol, i) AS DOUBLE) *
               |      CAST(element_at($vcol, i) AS DOUBLE))""".stripMargin))
          val qnorm = lit(math.sqrt(qv.map(v => v * v).sum))
          df = df.withColumn("_score", (lit(1.0) + dot / (norm * qnorm)) / lit(2.0))
            .orderBy(round(col("_score"), 6).desc, col(tie).asc)
            .limit(k)
        case "WHERE" => df = df.filter(parseExpr(body))
        case "EVAL" =>
          for ((n, e) <- aliasedList(new Cursor(lex(body), "EVAL")))
            df = df.withColumn(n, e)
        case "STATS" =>
          val byIdx = findTopLevel(body, "BY")
          val (aggPart, byPart) =
            if (byIdx < 0) (body, "")
            else (body.take(byIdx), body.drop(byIdx + 2))
          // a PRESENT but empty BY must not silently become a global
          // aggregation (spec-caught: 'STATS n = COUNT(*) BY' compiled)
          require(byIdx < 0 || byPart.trim.nonEmpty,
            "STATS BY needs at least one grouping key")
          val (aggItems, mads) = statsList(new Cursor(lex(aggPart), "STATS"))
          val aggs = aggItems.map { case (n, e) => e.as(n) }
          df =
            if (byPart.isEmpty) {
              val base = if (mads.isEmpty) df else madPrePass(df, Nil, mads)
              base.agg(aggs.head, aggs.tail: _*)
            } else {
              val keys = aliasedList(new Cursor(lex(byPart), "STATS BY"), "key")
              var keyed = keys.foldLeft(df) { case (f, (n, e)) => f.withColumn(n, e) }
              if (mads.nonEmpty) keyed = madPrePass(keyed, keys.map(_._1), mads)
              keyed.groupBy(keys.map(k => col(k._1)): _*).agg(aggs.head, aggs.tail: _*)
            }
        case "INLINESTATS" =>
          // ES|QL INLINESTATS: the grouped aggregate JOINED BACK onto
          // every row (rows and columns all survive; the agg lands as a
          // new column) — compiled as window aggregates partitioned by
          // the BY keys, which is the join-free plan for it. BY is
          // required here: the windows stay key-bounded, never the
          // single-partition global window (the r6 hazard).
          val byIdx2 = findTopLevel(body, "BY")
          require(byIdx2 >= 0, "INLINESTATS requires BY <keys> (key-bounded windows)")
          val (aggs2, mads2) = statsList(new Cursor(lex(body.take(byIdx2)), "INLINESTATS"))
          require(mads2.isEmpty, "MEDIAN_ABSOLUTE_DEVIATION is not supported " +
            "in INLINESTATS (its median pre-pass is a STATS-stage rewrite)")
          val keys2 = aliasedList(new Cursor(lex(body.drop(byIdx2 + 2)), "INLINESTATS BY"), "key")
          df = keys2.foldLeft(df) { case (f, (n, e)) => f.withColumn(n, e) }
          val wspec = org.apache.spark.sql.expressions.Window
            .partitionBy(keys2.map(k => col(k._1)): _*)
          for ((n, e) <- aggs2) df = df.withColumn(n, e.over(wspec))
        case "SAMPLE" =>
          // ES|QL SAMPLE <probability> — deterministic twin: ES samples
          // with an RNG; a cross-engine-reproducible engine cannot, so
          // the row draw is the salted md5-nibble fraction over an
          // EXPLICIT id column (`SAMPLE <p> <id_col>`, the j28/j54
          // device; the extra operand is the documented deviation from
          // the 1-arg ES form). Filter-only — pushes like any predicate.
          val parts = body.trim.split("\\s+")
          require(parts.length == 2 && parts(1).matches(identRe),
            s"SAMPLE expects <probability> <id_col>, got '$body'")
          val p = parts(0).toDouble
          require(p > 0 && p < 1, s"SAMPLE probability must be in (0,1), got $p")
          df = df.withColumn("__h",
              md5(concat(lit("sample:"), col(parts(1)).cast("string"))))
            .filter(expr(Hashing.nibbleInt("__h")) / lit(65536.0) < p)
            .drop("__h")
        case "SORT" =>
          // SORT col [ASC|DESC] [NULLS FIRST|NULLS LAST] — the null
          // placement matters after LOOKUP JOIN/ENRICH misses; ES|QL's
          // default is the engine default (Spark: asc→nulls first,
          // desc→nulls last — same as ES's missing-last under desc)
          val items = body.split(",").map(_.trim).map { it =>
            val parts = it.split("\\s+")
            val desc = parts.length > 1 && parts(1).equalsIgnoreCase("DESC")
            val nulls = parts.map(_.toUpperCase).sliding(2).collectFirst {
              case Array("NULLS", "FIRST") => "first"
              case Array("NULLS", "LAST") => "last"
            }
            (desc, nulls) match {
              case (true, Some("first")) => col(parts(0)).desc_nulls_first
              case (true, Some("last")) => col(parts(0)).desc_nulls_last
              case (true, None) => col(parts(0)).desc
              case (false, Some("first")) => col(parts(0)).asc_nulls_first
              case (false, Some("last")) => col(parts(0)).asc_nulls_last
              case _ => col(parts(0)).asc
            }
          }
          df = df.orderBy(items.toIndexedSeq: _*)
        case "LIMIT" => df = df.limit(new Cursor(lex(body), kw).int("row count").toInt)
        case "KEEP" =>
          df = df.select(expandCols(df, body).map(col): _*)
        case "DISSECT" =>
          val (in, pat) = colPattern(kw, body)
          val (rx, keys) = dissectToRegex(pat)
          for ((n, i) <- keys.zipWithIndex)
            // regexp_extract returns '' on no-match in BOTH Spark and
            // DuckDB — the parity form (ES emits null there; a consumer
            // needing that distinction filters on the match first)
            df = df.withColumn(n, regexp_extract(col(in), rx, i + 1))
        case "GROK" =>
          val (in, pat) = colPattern(kw, body)
          val (rx, keys) = grokToRegex(pat)
          for (((n, cast), i) <- keys.zipWithIndex) {
            val e0 = regexp_extract(col(in), rx, i + 1)
            val e = cast match {
              case Some("int") | Some("long") => e0.cast("long")
              case Some("float") | Some("double") => e0.cast("double")
              case _ => e0
            }
            df = df.withColumn(n, e)
          }
        case "MV_EXPAND" =>
          val c = new Cursor(lex(body), kw)
          val n = c.ident("a column")
          c.end()
          // inner explode: drops null/empty arrays — the unnest-parity
          // choice (ES keeps a null row; DuckDB unnest does not)
          df = df.withColumn(n, explode(col(n)))
        case "RENAME" =>
          // RENAME old AS new [, old AS new …] — pure metadata; Catalyst
          // aliases through it, so pushdown/pruning are unaffected
          for (it <- new Cursor(lex(body), kw).items()) {
            val old = it.ident("a column")
            it.keyword("AS")
            df = df.withColumnRenamed(old, it.ident("a new name"))
            it.end()
          }
        case "DROP" =>
          df = df.drop(expandCols(df, body): _*)
        case "LOOKUP" =>
          // LOOKUP JOIN <lookup_index> ON <field> — ES|QL's lookup-index
          // join (8.18+): LEFT join on the shared field name, adding every
          // lookup column. The lookup side is a dimension table by
          // contract (ES enforces `index.mode: lookup`, a single-shard
          // index), so it rides a broadcast — the fact stream never
          // shuffles, at any corpus size.
          val c = new Cursor(lex(body), kw)
          c.keyword("JOIN")
          val tbl = c.ident("a table")
          c.keyword("ON")
          val key = c.ident("a join column")
          c.end()
          df = df.join(broadcast(Tables.read(s, d, tbl)), Seq(key), "left")
        case "ENRICH" =>
          // ENRICH <policy> ON <match_field> WITH f1, f2, … — the enrich
          // processor's query-time twin: the policy name is modeled as
          // the enrich-source table, WITH lists the fields to append.
          // Same broadcast-left-join shape as LOOKUP JOIN (an ES enrich
          // index is a system lookup index), but only the listed fields
          // survive — the projection prunes BEFORE the broadcast.
          val c = new Cursor(lex(body), kw)
          val tbl = c.ident("a policy table")
          c.keyword("ON")
          val key = c.ident("a match column")
          c.keyword("WITH")
          // WITH items are `field` or `alias = field` (the ES|QL rename
          // form — the appended column lands under the alias)
          val fields = c.items().map { it =>
            val a = it.ident("WITH columns")
            val src = if (it.accept("=")) it.ident("a source column") else a
            it.end()
            (a, src)
          }
          val lk = Tables.read(s, d, tbl)
            .select(col(key) +: fields.map {
              case (alias, src) => col(src).as(alias) }: _*)
          df = df.join(broadcast(lk), Seq(key), "left")
        case "FORK" =>
          // FORK ( sub-pipeline ) ( sub-pipeline ) … — ES|QL 9.x's
          // branch-and-union: every branch continues from THIS frame,
          // results union by name with the `_fork` discriminator column
          // (fork1, fork2, … in branch order — the ES contract). The
          // source scan is shared by reference; Catalyst/AQE handle
          // exchange reuse, and each branch's own filters still push
          // to its copy of the scan.
          val branches = parenGroups(body)
          require(branches.length >= 2, "FORK needs at least two branches")
          val outs = branches.zipWithIndex.map { case (b, i) =>
            applyStages(s, d, df, splitStages(b))
              .withColumn("_fork", lit(s"fork${i + 1}"))
          }
          df = outs.reduce(_.unionByName(_, allowMissingColumns = true))
        case "FUSE" =>
          // FUSE <key> BY <score> — ES|QL 9.x's FORK-merger: Reciprocal
          // Rank Fusion over the branch rankings, rank_constant 60 (the
          // ES default — j139's rrf retriever formula VERBATIM, one
          // fusion rule across both surfaces). ES's own FUSE reads the
          // reserved _id/_score METADATA; this engine takes the key and
          // ranking score EXPLICITLY (the fixtures have no reserved _id,
          // and a distributed engine needs a declared tiebreak), the
          // documented deviation. Each branch ranks by (score DESC, key
          // ASC); fused score = Σ_branches 1/(60 + rank), summed through
          // Parity.sortedFoldSum so branch arrival order cannot wiggle
          // the double. CONTRACT: branches end in LIMIT (ES caps FORK
          // branches at 1000 the same way), so the per-_fork rank
          // windows are bounded — the j58/j76 discipline.
          val fc = new Cursor(lex(body), kw)
          val key = fc.ident("a key column")
          fc.keyword("BY")
          val sc = fc.ident("a score column")
          fc.end()
          require(df.columns.contains("_fork"),
            "FUSE requires a FORK upstream (no _fork column on the frame)")
          val fw = org.apache.spark.sql.expressions.Window
            .partitionBy(col("_fork")).orderBy(col(sc).desc, col(key).asc)
          df = df.withColumn("__rank", row_number().over(fw).cast("long"))
            .withColumn("__rrf", lit(1.0) / (lit(60.0) + col("__rank")))
            .groupBy(col(key))
            .agg(Parity.round6(Parity.sortedFoldSum(col("__rrf"))).as("fuse_score"),
              count(lit(1)).as("fuse_branches"))
        case "COMPLETION" =>
          // COMPLETION <col> = <prompt_expr> [WITH <model_id>] — ES|QL
          // 9.1's inference completion stage. ES calls a hosted LLM; a
          // bit-reproducible zero-egress engine cannot (the RERANK
          // discipline), so the deterministic stand-in is an EXTRACTIVE
          // summary: the prompt's 3 most frequent distinct whitespace
          // tokens (ties broken token-asc, frequency capped at 999 by
          // the encoding — prompts are fixture-bounded), space-joined.
          // The WITH model id is accepted for syntax compatibility and
          // intentionally unused (documented deviation). Row-local —
          // codegen-friendly HOFs, no shuffle, streams unchanged.
          val cc = new Cursor(lex(body), kw)
          val outName = cc.ident("<col> = <prompt>")
          cc.expect("=")
          val prompt = orExpr(cc)
          if (cc.accept("WITH")) {
            val m = cc.eat()
            require(m.matches(identRe) || m.startsWith("\""),
              s"COMPLETION WITH needs a model id, got '$m'")
          }
          cc.end()
          val ptoks = split(prompt, " ")
          val keyedToks = transform(array_distinct(ptoks), t =>
            concat(format_string("%03d",
              lit(999) - size(org.apache.spark.sql.functions.filter(
                ptoks, x => x === t))), t))
          val top3 = slice(array_sort(keyedToks), 1, 3)
          df = df.withColumn(outName,
            array_join(transform(top3, k => k.substr(lit(4), lit(100000))), " "))
        case "RERANK" =>
          // RERANK "query" ON <text_col> BY <tiebreak> — ES|QL 9.1's
          // inference rerank stage. ES calls a hosted rerank model; a
          // bit-reproducible engine cannot, so the deterministic
          // stand-in (the CHANGE_POINT discipline) scores each row by
          // QUERY TERM OVERLAP — the count of distinct query terms
          // present in the column's whitespace tokens (j34's analysis
          // chain; MATCH's membership test, summed) — appended as
          // `_rerank`, with `new_rank` the position under (_rerank
          // DESC, tiebreak ASC). The BY tiebreak is the engine's
          // determinism addition to the ES form (documented deviation).
          // BOUNDED-FRAME CONTRACT: run after a LIMIT — ES likewise
          // reranks only the top-N (inference over a full index is
          // priced out by design) — so the unpartitioned rank window
          // moves ≤ limit rows (j58/j76).
          val rc = new Cursor(lex(body), kw)
          val qTok = rc.eat()
          require(qTok.startsWith("\""), s"RERANK needs a literal query, got '$qTok'")
          rc.keyword("ON")
          val fieldCol = rc.ident("a text column")
          rc.keyword("BY")
          val tie = rc.ident("a tiebreak column")
          rc.end()
          val terms = unquote(qTok).trim.split("\\s+").toSeq.distinct
          require(terms.nonEmpty && terms.forall(_.nonEmpty),
            "RERANK needs at least one query term")
          val rtoks = split(col(fieldCol), " ")
          val overlap = terms.map(t => array_contains(rtoks, t).cast("int"))
            .reduce(_ + _).cast("long")
          val rw = org.apache.spark.sql.expressions.Window
            .orderBy(col("_rerank").desc, col(tie).asc)
          df = df.withColumn("_rerank", overlap)
            .withColumn("new_rank", row_number().over(rw).cast("long"))
        case "CHANGE_POINT" =>
          // CHANGE_POINT <value> ON <key> AS <type_col>, <stat_col> —
          // ES|QL 9.x's change-point stage. ES runs a p-value test from
          // its ML library; the deterministic twin is the max-CUSUM
          // split: with S_i the prefix sum of the first i values, the
          // change point maximizes |S_i − i·mean| (tiebreak earliest
          // key), and every row passes through with <type_col> =
          // 'step_change' / <stat_col> = the CUSUM statistic ON the
          // split row, null elsewhere (the ES output shape). The
          // statistic is kept EXACT: |cnt·S_i − i·S_n| is pure long
          // arithmetic, divided by cnt (one double op) only for the
          // reported stat — argmax is taken on the scaled integer.
          //
          // BOUNDED-FRAME CONTRACT (the j58/j76 discipline): the stage
          // windows over the WHOLE frame unpartitioned, so it must run
          // on a bucketed STATS output (≤ calendar-days rows), never a
          // raw event stream — same contract as ES, whose change_point
          // agg consumes a date_histogram and caps at 1000 buckets.
          val c = new Cursor(lex(body), kw)
          val v = c.ident("a value column")
          c.keyword("ON")
          val k = c.ident("a key column")
          c.keyword("AS")
          val tName = c.ident("a type column name")
          c.expect(",")
          val sName = c.ident("a stat column name")
          c.end()
          val w = org.apache.spark.sql.expressions.Window.orderBy(col(k))
          val wCum = w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
          val wAll = w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)
          df = df
            .withColumn("__pre", sum(col(v)).over(wCum))
            .withColumn("__tot", sum(col(v)).over(wAll))
            .withColumn("__cnt", count(lit(1)).over(wAll))
            .withColumn("__rn", row_number().over(w).cast("long"))
            .withColumn("__sc",
              abs(col("__cnt") * col("__pre") - col("__rn") * col("__tot")))
            .withColumn("__mx", max(col("__sc")).over(wAll))
            .withColumn("__cpk",
              min(when(col("__sc") === col("__mx"), col(k))).over(wAll))
            .withColumn(tName, when(col(k) === col("__cpk"), lit("step_change")))
            .withColumn(sName, when(col(k) === col("__cpk"),
              Parity.round6(col("__sc").cast("double") / col("__cnt").cast("double"))))
            .drop("__pre", "__tot", "__cnt", "__rn", "__sc", "__mx", "__cpk")
        case other => throw new IllegalArgumentException(s"unknown stage: $other")
      }
    }
    df
  }

  /** j188_esql — a representative pipeline exercising every supported
    * stage: filter + derived column + keyed aggregation + sort + limit.
    * The WHERE predicate reaches the parquet scan (PushedFilters), the
    * STATS is one map-combined aggregation, SORT+LIMIT plans as a
    * per-partition heap — all visible in `.explain`, none of it special-
    * cased: the compiler only folds stages into the DataFrame API. */
  val j188Query: String =
    """FROM events
      || WHERE event_type == "purchase" AND value >= 10
      || EVAL cents = ROUND(value * 100)
      || STATS cnt = COUNT(*), sum_cents = SUM(cents), max_cents = MAX(cents) BY band = user_id % 10
      || SORT sum_cents DESC, band
      || LIMIT 5""".stripMargin

  /** j194_esql_dissect_grok — the log-pattern-extraction stages, the
    * single most common ES|QL workload (raw text → columns): DISSECT
    * peels the numeric suffix off `source` (literal-separator parsing),
    * GROK captures the two leading words of `text` (regex-dictionary
    * parsing), and the extracted columns immediately feed EVAL / WHERE /
    * STATS like any native column — the point of the stage design: an
    * extraction is just a projection, so Catalyst still prunes and
    * pushes around it. The oracle mirrors the generated regexes
    * verbatim (both engines' regexp_extract return '' on no-match — the
    * j49 deterministic-string discipline, applied to extraction). */
  val j194Query: String =
    """FROM documents
      || DISSECT source "src%{idx}"
      || GROK text "%{WORD:w1} %{WORD:w2}"
      || EVAL idx_n = TO_LONG(idx)
      || WHERE idx_n % 2 == 0
      || STATS n = COUNT(*), chars = SUM(n_chars), nl = SUM(LENGTH(w2)) BY w1, idx_n
      || SORT n DESC, w1, idx_n
      || LIMIT 25""".stripMargin

  /** j195_esql_mv_expand — multivalue expansion: SPLIT builds an array
    * column, MV_EXPAND explodes it to rows (ES|QL's unnest), and the
    * pipeline aggregates the expanded rows — wordcount expressed in the
    * pipe language. The explode is a generator in the physical plan
    * (one pass, no shuffle until STATS), and STATS remains map-side
    * combined on (tok, lang). */
  val j195Query: String =
    """FROM documents
      || EVAL tok = SPLIT(text, " ")
      || MV_EXPAND tok
      || STATS n = COUNT(*) BY tok, lang
      || SORT n DESC, tok, lang
      || LIMIT 30""".stripMargin

  /** j200_esql_lookup_join — ES|QL `LOOKUP JOIN` (the 8.18 flagship
    * stage: enrich the stream from a lookup index mid-pipeline): rename
    * the key onto the lookup's field name with EVAL (the ES|QL
    * contract — the join field must exist on both sides), LOOKUP JOIN
    * `nation`, then aggregate over a looked-up attribute. The stage
    * compiles to a broadcast LEFT equi-join (PlanSpec pins
    * BroadcastHashJoin — a lookup index is single-shard/dimension-sized
    * by ES contract, so the fact side never shuffles for it), and the
    * WHERE on the base table still pushes to the parquet scan beneath
    * the join. Money rides ROUND(·100)'s integer-cents cast (j188). */
  val j200Query: String =
    """FROM customer
      || WHERE c_mktsegment == "BUILDING"
      || EVAL n_nationkey = c_nationkey
      || LOOKUP JOIN nation ON n_nationkey
      || EVAL cents = ROUND(c_acctbal * 100)
      || STATS cnt = COUNT(*), bal_cents = SUM(cents) BY n_name
      || SORT cnt DESC, n_name
      || LIMIT 10""".stripMargin

  /** j201_esql_enrich — ES|QL `ENRICH <policy> ON <field> WITH …`: the
    * enrich-processor twin of LOOKUP JOIN, with the policy modeled as
    * its enrich-source table and WITH pruning to the listed fields
    * BEFORE the broadcast (an enrich index materializes exactly those
    * fields). The synthetic match key (user_id % 25 → nationkey) is the
    * j49 deterministic-derivation device; the long%int key coerces
    * through the join the way ES coerces match_field types. */
  val j201Query: String =
    """FROM events
      || WHERE event_type == "click"
      || EVAL n_nationkey = user_id % 25
      || ENRICH nation ON n_nationkey WITH n_name, n_regionkey
      || STATS clicks = COUNT(*), v = SUM(ROUND(value * 100)) BY n_name, n_regionkey
      || SORT clicks DESC, n_name
      || LIMIT 12""".stripMargin

  /** j208_esql_stats_where — ES|QL filtered stats (8.16): per-aggregate
    * `WHERE` inside one STATS — the "many conditional metrics in one
    * pass" idiom that otherwise needs N pipelines. Compiled as
    * `agg(IF(cond, arg, NULL))`, which null-skipping aggregation makes
    * exactly FILTER semantics; the whole STATS stays ONE map-combined
    * aggregate (j80's conditional-counts shape) — no extra scan per
    * condition. A group with no qualifying rows yields NULL for its
    * SUM/MAX exactly as ES and DuckDB FILTER do. */
  val j208Query: String =
    """FROM events
      || EVAL cents = ROUND(value * 100)
      || STATS n_all = COUNT(*), n_big = COUNT(*) WHERE cents >= 5000, big_cents = SUM(cents) WHERE cents >= 5000, mx_small = MAX(cents) WHERE cents < 5000 BY event_type
      || SORT event_type""".stripMargin

  /** j209_esql_inlinestats — ES|QL INLINESTATS: the grouped aggregate
    * joined back onto every row, here finding each (user, type) pair's
    * peak-valued events (`cents == mx` needs the group max ON the row —
    * precisely what INLINESTATS exists for), then aggregating the peaks
    * per type. Compiled as a key-bounded window aggregate (no join, no
    * second scan); the downstream STATS stays map-combined. Integer
    * cents end-to-end, so every sum is exact. */
  val j209Query: String =
    """FROM events
      || EVAL cents = ROUND(value * 100)
      || INLINESTATS mx = MAX(cents) BY user_id, event_type
      || WHERE cents == mx
      || STATS n_peaks = COUNT(*), peak_cents = SUM(cents) BY event_type
      || SORT event_type""".stripMargin

  /** j210_esql_sample — ES|QL SAMPLE (9.1): probabilistic row sampling
    * mid-pipeline. The deterministic twin draws the salted md5-nibble
    * fraction per event_id (j28's device — bit-reproducible across
    * engines, runs, and cluster layouts, unlike ES's RNG sampling, and
    * the reason this form takes the id column as an explicit operand).
    * The stage is a pure filter, so it pushes/prunes like any predicate
    * and composes with every downstream stage; EsqlSpec pins the
    * sampled fraction against the full count (~p, the j54 audit). */
  val j210Query: String =
    """FROM events
      || SAMPLE 0.25 event_id
      || EVAL cents = ROUND(value * 100)
      || STATS n_sampled = COUNT(*), cents_sampled = SUM(cents) BY event_type
      || SORT event_type""".stripMargin

  /** j211_esql_date_trunc — ES|QL DATE_TRUNC + time-keyed STATS (the
    * dashboard date-histogram written in the pipe language): purchases
    * rolled to hour starts. DATE_TRUNC folds to Spark's `date_trunc`
    * projection, so the pipeline stays scan → map-combined agg → heap;
    * the timestamp key hash-compares via the a2 ns→µs discipline. */
  val j211Query: String =
    """FROM events
      || WHERE event_type == "purchase"
      || EVAL hour = DATE_TRUNC(1 hour, ts)
      || STATS n = COUNT(*), cents = SUM(ROUND(value * 100)) BY hour
      || SORT hour
      || LIMIT 48""".stripMargin

  /** j212_esql_case — ES|QL CASE + COALESCE over an ENRICH miss: the
    * lookup key (user_id·7 % 100, j49 derivation) straddles nation's
    * 0..24 range, so COALESCE's "unknown" arm is exercised by real
    * unmatched rows (not a synthetic null), and CASE bands the value —
    * the two workhorse conditioning functions in one conditional
    * rollup. CASE folds to a when-chain, COALESCE to coalesce; both are
    * projections, the STATS stays one map-combined pass. */
  val j212Query: String =
    """FROM events
      || EVAL n_nationkey = user_id * 7 % 100
      || ENRICH nation ON n_nationkey WITH n_name
      || EVAL nation = COALESCE(n_name, "unknown")
      || EVAL band = CASE(value < 10, "low", value < 100, "mid", "high")
      || STATS n = COUNT(*) BY nation, band
      || SORT nation, band
      || LIMIT 40""".stripMargin

  /** j213_esql_drop_rename — ES|QL RENAME/DROP projection stages: both
    * are metadata-only, so the WHERE on the RENAMED column still pushes
    * to the parquet scan as a predicate on the ORIGINAL column, and the
    * DROPped columns never reach the read schema (EsqlSpec pins both —
    * the point of compiling stages to Catalyst projections instead of
    * materializing between them). */
  val j213Query: String =
    """FROM events
      || RENAME value AS v
      || DROP props, ts
      || WHERE v >= 100
      || STATS n = COUNT(*), mx = MAX(ROUND(v * 100)) BY event_type
      || SORT event_type""".stripMargin

  /** j214_esql_like_in — ES|QL LIKE (wildcards `*` and `?`) and IN list
    * predicates: the two most common WHERE forms after plain
    * comparison. LIKE's prefix pattern pushes to the scan as a
    * StartsWith filter; IN compiles to an OR-of-equalities Catalyst
    * folds to an In pushdown (EsqlSpec pins both). */
  val j214Query: String =
    """FROM documents
      || WHERE source LIKE "src1*" AND lang IN ("en", "de")
      || STATS n = COUNT(*), chars = SUM(n_chars) BY source, lang
      || SORT source, lang""".stripMargin

  /** j215_esql_fork — ES|QL FORK (9.x): one pipeline splits into
    * branches that each continue from the shared frame, then union with
    * the `_fork` discriminator — the "several views of one scan" device
    * that otherwise needs N separate queries. Here the two branches
    * aggregate different event types over different keys (user band vs
    * hour), exercising the allowMissingColumns union ES performs when
    * branch schemas differ (each branch's absent columns are NULL).
    * Branch filters still push to their scan copies; both STATS stay
    * map-combined. */
  val j215Query: String =
    """FROM events
      || EVAL cents = ROUND(value * 100)
      || FORK (WHERE event_type == "purchase" | STATS n = COUNT(*), m = SUM(cents) BY band = user_id % 5)
      |       (WHERE event_type == "click" | EVAL hour = DATE_TRUNC(1 hour, ts) | STATS n = COUNT(*), m = SUM(cents) BY hour | SORT hour | LIMIT 10)
      || SORT _fork, band, hour""".stripMargin

  /** j217_esql_strings — the everyday ES|QL string functions
    * (SUBSTRING / TO_UPPER / TO_LOWER / TRIM / STARTS_WITH /
    * ENDS_WITH) plus the IS [NOT] NULL predicates: prefix/suffix
    * filters on the keyword field, case-normalized grouping, first-char
    * bucketing. All compile to codegen'd string expressions —
    * projections and filters only; STARTS_WITH pushes to the scan as
    * StringStartsWith (same path EsqlSpec pins for LIKE). */
  val j217Query: String =
    """FROM documents
      || WHERE STARTS_WITH(source, "src1") AND NOT ENDS_WITH(source, "3")
      || EVAL up = TO_UPPER(lang), head = SUBSTRING(text, 1, 1)
      || STATS n = COUNT(*), chars = SUM(n_chars) BY up, head
      || SORT n DESC, up, head
      || LIMIT 20""".stripMargin

  /** j218_esql_mv — ES|QL multivalue functions (MV_COUNT / MV_DEDUPE /
    * MV_MIN / MV_MAX) over SPLIT arrays: token count, distinct-token
    * count (type count — MV_DEDUPE feeds only the order-insensitive
    * MV_COUNT, since dedupe ORDER is engine-specific), lexicographic
    * first token as a grouping key. All row-local array folds —
    * projections into one map-combined STATS; nothing corpus-wide but
    * the aggregate itself. */
  val j218Query: String =
    """FROM documents
      || EVAL toks = SPLIT(text, " ")
      || EVAL n_toks = MV_COUNT(toks), n_uniq = MV_COUNT(MV_DEDUPE(toks)), first_tok = MV_MIN(toks)
      || WHERE n_toks >= 40
      || STATS docs = COUNT(*), sum_toks = SUM(n_toks), sum_uniq = SUM(n_uniq) BY lang, first_tok
      || SORT docs DESC, lang, first_tok
      || LIMIT 25""".stripMargin

  /** j219_esql_stats_fns — the ES|QL statistical aggregates beyond
    * SUM/AVG: COUNT_DISTINCT (exact — ES's default HLL++ approximation
    * is not oracle-comparable; ES itself is exact at low cardinality),
    * PERCENTILE on the 0..100 ES scale and MEDIAN, both compiling to
    * Spark's exact interpolating percentile (the j69-proven
    * quantile_cont parity, here over integer cents so the interpolation
    * inputs are exact), rounded at 6dp in the QUERY (the pipe language
    * owns presentation). One map-combined pass per group — percentile
    * is the only non-algebraic agg and Spark buffers per (group, agg),
    * bounded here by the 5-type group space. */
  val j219Query: String =
    """FROM events
      || EVAL cents = ROUND(value * 100)
      || STATS users = COUNT_DISTINCT(user_id), p50 = ROUND(PERCENTILE(cents, 50), 6), p90 = ROUND(PERCENTILE(cents, 90), 6), med = ROUND(MEDIAN(cents), 6) BY event_type
      || SORT event_type""".stripMargin

  /** j220_esql_bucket — ES|QL BUCKET, the pipe language's histogram
    * workhorse, in its numeric 4-arg form BUCKET(field, count, min,
    * max): integer buckets of width ceil((max−min)/count) anchored at
    * min (ES additionally snaps the width to a 1/2/5·10^k ladder — the
    * exact-width form is the deterministic cross-engine choice, noted
    * in the compiler; values past max extend into higher buckets
    * exactly as ES's do). The bucket key is row-local integer math, the
    * STATS one map-combined pass over ≤ a few dozen buckets. */
  val j220Query: String =
    """FROM events
      || EVAL cents = ROUND(value * 100)
      || STATS n = COUNT(*), sum_cents = SUM(cents) BY b = BUCKET(cents, 20, 0, 50000)
      || SORT b""".stripMargin

  /** j221_esql_weighted_avg — ES|QL WEIGHTED_AVG (the j72 `weighted_avg`
    * agg surfaced in the pipe language): Σ(v·w)/Σw with both sums exact
    * over integer cents × integer weights (weight = user_id + 1, the
    * j49 deterministic derivation) and ONE double division at the end,
    * rounded in the query; the filtered variant exercises the 8.16
    * per-agg WHERE against the same weights. One map-combined pass. */
  val j221Query: String =
    """FROM events
      || EVAL cents = ROUND(value * 100), w = user_id + 1
      || STATS wavg = ROUND(WEIGHTED_AVG(cents, w), 6), wavg_big = ROUND(WEIGHTED_AVG(cents, w), 6) WHERE cents >= 5000, n = COUNT(*) BY event_type
      || SORT event_type""".stripMargin

  /** j222_esql_cidr — ES|QL CIDR_MATCH (the security-dashboard staple,
    * closing the IP family beside j198 ip_range / j203 ip_prefix) +
    * TO_STRING: the IPv4 synthesizes from key arithmetic (the shared
    * j49/j198 derivation, built as a STRING exactly as an ES `ip` field
    * arrives), then CIDR_MATCH range-tests it against two DISJOINT
    * literal blocks — the /15 covers 10.2.0.0–10.3.255.255, the /22
    * covers 10.0.4.0–10.0.7.255, so each OR leg matches rows the other
    * cannot (r9 advice: an earlier comment mis-described the /22 as
    * nested inside the /15) — and CASE bands the verdict. All row-local
    * exact-integer math; ONE map-combined STATS. */
  val j222Query: String =
    """FROM events
      || EVAL ip = CONCAT("10.", TO_STRING(user_id % 4), ".", TO_STRING(user_id % 256), ".", TO_STRING(user_id * 7 % 256))
      || EVAL net = CASE(CIDR_MATCH(ip, "10.2.0.0/15", "10.0.4.0/22"), "in", "out")
      || STATS n = COUNT(*), cents = SUM(ROUND(value * 100)) BY net, event_type
      || SORT net, event_type""".stripMargin

  /** j223_esql_date_diff — ES|QL DATE_DIFF + NOW(): the age-bucketing
    * idiom every retention dashboard runs (`how long ago did this
    * happen, in days/hours`). NOW() is the pinned frozen clock
    * ([[pinnedNowNtz]] — determinism over wall-clock truth, the SAMPLE
    * deviation discipline); DATE_DIFF compiles to exact integer-µs
    * floor division (ES's elapsed-complete-units contract, NOT DuckDB
    * date_diff's boundary counting — the oracle spells `//` over
    * epoch_us, the same arithmetic). age_d keys the STATS (≤ 31
    * groups), age_h exercises DATE_DIFF inside an aggregate argument.
    * Scan → one map-combined agg → bounded sort. */
  val j223Query: String =
    """FROM events
      || WHERE event_type == "purchase"
      || EVAL age_d = DATE_DIFF("day", ts, NOW())
      || EVAL cents = ROUND(value * 100)
      || STATS n = COUNT(*), cents = SUM(cents), min_h = MIN(DATE_DIFF("hour", ts, NOW())), max_h = MAX(DATE_DIFF("hour", ts, NOW())) BY age_d
      || SORT age_d""".stripMargin

  /** j224_esql_date_fns — the rest of the everyday ES|QL date family:
    * DATE_FORMAT (→ locale-free pattern string), DATE_PARSE (the
    * round-trip back to a midnight timestamp — the log-ingest idiom),
    * DATE_EXTRACT with ISO day_of_week (Mon=1, = DuckDB isodow; Spark
    * compiles via weekday()+1 because its dayofweek() is Sun=1) and
    * hour_of_day gating a business-hours filter. All four fold to
    * projections, so the pipeline stays scan → filter → one
    * map-combined STATS; the parsed timestamp survives to the result
    * via MIN (the j211 timestamp-key hash discipline). */
  val j224Query: String =
    """FROM events
      || EVAL day_str = DATE_FORMAT("yyyy-MM-dd", ts)
      || EVAL hr = DATE_EXTRACT("hour_of_day", ts), dow = DATE_EXTRACT("day_of_week", ts)
      || WHERE hr >= 6 AND hr < 18
      || EVAL day2 = DATE_PARSE("yyyy-MM-dd", day_str)
      || STATS n = COUNT(*), days = COUNT_DISTINCT(day_str), first_day = MIN(day2) BY dow
      || SORT dow""".stripMargin

  /** j225_esql_multi_index — multi-index FROM + METADATA _index: ES|QL
    * reads `FROM idx1, idx2` as the by-name union of the indices (a
    * column absent from one is null there) and METADATA _index tags
    * each row's source index — the cross-cluster/daily-indices idiom.
    * Here the µs-view of events unions the raw view: ts_us exists only
    * on events_us, so COUNT(ts_us) counts 0 vs n per _index — the
    * null-fill genuinely observable in the result. Each index keeps its
    * own parquet scan and the WHERE pushes into BOTH (EsqlSpec pins two
    * PushedFilters); the union is plan-level (no materialization), the
    * STATS one map-combined pass over both scans. */
  val j225Query: String =
    """FROM events, events_us METADATA _index
      || WHERE value >= 250
      || EVAL cents = ROUND(value * 100)
      || STATS n = COUNT(*), sum_cents = SUM(cents), us_rows = COUNT(ts_us) BY _index, event_type
      || SORT _index, event_type""".stripMargin

  /** j226_esql_change_point — ES|QL CHANGE_POINT over a STATS-by-day
    * frame: the ops-dashboard "when did the metric shift" stage. The
    * deterministic twin of ES's ML p-value test is the max-CUSUM split
    * (argmax |S_i − i·mean|, tiebreak earliest day) — argmax taken on
    * the EXACT scaled-integer statistic |cnt·S_i − i·S_n|, one double
    * division only for the reported stat. Runs on the bucketed daily
    * frame (≤ calendar-days rows — the j58/j76 bounded-frame contract;
    * ES likewise feeds change_point from a date_histogram, capped at
    * 1000 buckets), so the unpartitioned window moves ~30 rows. */
  val j226Query: String =
    """FROM events
      || WHERE event_type == "purchase"
      || EVAL day = DATE_TRUNC(1 day, ts)
      || STATS n = COUNT(*) BY day
      || CHANGE_POINT n ON day AS cp_type, cp_stat
      || SORT day""".stripMargin

  /** j234_esql_math — the everyday ES|QL math scalars (the compiler-path
    * parallel of h4's DataFrame math, as j217 parallels h2's strings):
    * FLOOR/CEIL (integral, exact), SQRT/POW/LOG10 (single libm
    * applications, ROUNDED 6dp in the query — the j33 discipline), and
    * variadic GREATEST/LEAST over exact integers. Aggregation respects
    * the float-determinism rule: libm outputs reach STATS only through
    * order-independent MIN/MAX; every SUM is over exact longs. */
  val j234Query: String =
    """FROM events
      || EVAL cents = ROUND(value * 100)
      || EVAL whole = TO_LONG(FLOOR(cents / 100.0)), whole_up = TO_LONG(CEIL(cents / 100.0)), rt = ROUND(SQRT(cents), 6), pw = ROUND(POW(cents, 0.3), 6), lg = ROUND(LOG10(1 + cents), 6), g = GREATEST(user_id % 7, user_id % 5), l = LEAST(user_id % 7, user_id % 5)
      || STATS n = COUNT(*), sum_whole = SUM(whole), sum_up = SUM(whole_up), mn_rt = MIN(rt), mx_rt = MAX(rt), mx_pw = MAX(pw), mx_lg = MAX(lg), sum_g = SUM(g), sum_l = SUM(l) BY event_type
      || SORT event_type""".stripMargin

  /** j235_esql_categorize — ES|QL CATEGORIZE (8.18's log-pattern
    * grouping function): `STATS … BY CATEGORIZE(text)` clusters
    * semi-structured messages by pattern and aggregates per cluster —
    * the log-triage pipeline in the pipe language. The categorization
    * key is [[AggExtOps.categorizeCol]] VERBATIM (the j96
    * categorize_text aggregation's fragment — one categorizer, two
    * surfaces); the pipe form's value over j96 is composability: the
    * category is an ordinary grouping key beside any aggregate set.
    * Row-local key → one map-combined STATS → bounded heap cut. */
  val j235Query: String =
    """FROM documents
      || STATS docs = COUNT(*), example_doc = MIN(doc_id), chars = SUM(n_chars) BY cat = CATEGORIZE(text)
      || SORT docs DESC, cat
      || LIMIT 15""".stripMargin

  /** j229_esql_mv_position — the position-sensitive multivalue family
    * MV_SORT / MV_SLICE / MV_FIRST / MV_LAST / MV_CONCAT: sort gives the
    * array a DETERMINISTIC total order (unlike MV_DEDUPE's
    * engine-specific one), slice takes the 3 lexicographically-lowest
    * tokens, concat folds them to ONE string (which is also how
    * multivalues obey the engine's no-array-output rule);
    * MV_FIRST/MV_LAST read the raw split's positional ends. All
    * row-local array folds into one map-combined STATS. */
  val j229Query: String =
    """FROM documents
      || EVAL toks = SPLIT(text, " ")
      || EVAL low3 = MV_CONCAT(MV_SLICE(MV_SORT(toks), 0, 2), "-"), first_tok = MV_FIRST(toks), last_tok = MV_LAST(toks)
      || STATS n = COUNT(*), firsts = COUNT_DISTINCT(first_tok), lasts = COUNT_DISTINCT(last_tok) BY lang, low3
      || SORT n DESC, lang, low3
      || LIMIT 25""".stripMargin

  /** j230_esql_top — the TOP aggregate (ES|QL's top-N-values-per-group,
    * the top_metrics twin): the 3 largest cent values per event type,
    * folded to a CSV string by MV_CONCAT (the no-array-output rule).
    * collect_list is order-nondeterministic in ANY distributed engine —
    * the post-collection sort is what makes TOP well-defined, and the
    * oracle mirrors with list_reverse_sort(list(...)). Group state is
    * bounded by the ES-mirrored limit cap (≤ 100). */
  val j230Query: String =
    """FROM events
      || EVAL cents = ROUND(value * 100)
      || STATS top3 = MV_CONCAT(TOP(cents, 3, "desc"), ","), n = COUNT(*) BY event_type
      || SORT event_type""".stripMargin

  /** j231_esql_fulltext — ES|QL 8.17's full-text functions MATCH and
    * QSTR: the bridge between the pipe language and the search DSL.
    * QSTR delegates to the j172 Lucene query_string parser VERBATIM
    * (one compiler for both surfaces — they cannot drift), here with a
    * grouped leg, a NOT'd field prefix wildcard, and an OR rescue term;
    * MATCH is the analyzed-field match query as a filter (token-set
    * membership under the whitespace chain). Both compile to Column
    * predicates on ONE scan — keyword legs (lang/source) push down,
    * text legs are row-local; no joins before the bounded sort. */
  val j231Query: String =
    """FROM documents
      || WHERE QSTR("(spark AND NOT source:src1*) OR dup") AND MATCH(text, "join") AND lang == "en"
      || STATS n = COUNT(*), chars = SUM(n_chars) BY source
      || SORT n DESC, source
      || LIMIT 15""".stripMargin

  /** j236_esql_stats_ext — STATS aggregate parity with the DSL surface:
    * STD_DEV (population σ — d7/j71's rounded-stddev hash discipline),
    * MEDIAN_ABSOLUTE_DEVIATION (exact two-pass — the j68 shape compiled
    * by the STATS stage's median pre-pass, broadcast back, deviation
    * percentile in the main aggregation), and VALUES (distinct values
    * as a SORTED multivalue, folded by MV_CONCAT under the
    * no-array-output rule). Both new aggregates also run under the 8.16
    * per-aggregate WHERE, proving the filter threads through the MAD
    * rewrite (filtered median AND filtered deviation percentile —
    * exactly DuckDB's FILTER on both). Plan: one median pre-pass
    * (keyed, map-combined, ≤5-row broadcast back) + one main
    * aggregation — the corpus shuffles on event_type twice, never
    * collects. */
  val j236Query: String =
    """FROM events
      || EVAL cents = ROUND(value * 100)
      || STATS n = COUNT(*), sd = ROUND(STD_DEV(cents), 6), sd_big = ROUND(STD_DEV(cents), 6) WHERE cents >= 5000, mad = ROUND(MEDIAN_ABSOLUTE_DEVIATION(cents), 6), mad_big = ROUND(MEDIAN_ABSOLUTE_DEVIATION(cents), 6) WHERE cents >= 5000, vals = MV_CONCAT(VALUES(user_id % 7), ",") BY event_type
      || SORT event_type""".stripMargin

  /** j237_esql_scalars_ext — the everyday scalar stragglers a user
    * porting real ES|QL hits in the first dozen pipelines: LTRIM/RTRIM
    * (observable through the grouped key — the trimmed string IS the
    * group), REPEAT, LOG in both arities (LOG(2, x) and natural
    * LOG(x) — libm doubles, ROUNDed and aggregated only via MIN/MAX,
    * the j234 rule), SIGNUM (→ TO_LONG for an exact SUM; the 500-char
    * threshold genuinely splits the fixture: median n_chars ≈ 306, max
    * 553, so both signs occur), and MD5 (lowercase hex, bit-identical
    * cross-engine — the SAMPLE draw's own parity device, here surfaced
    * as a function). All row-local projections into ONE map-combined
    * STATS. */
  val j237Query: String =
    """FROM documents
      || EVAL trimmed = RTRIM(LTRIM(CONCAT("  ", lang, "  ")))
      || EVAL tag = REPEAT(SUBSTRING(source, 1, 4), 2)
      || EVAL lg2 = ROUND(LOG(2, n_chars), 6), ln_c = ROUND(LOG(n_chars), 6), sg = TO_LONG(SIGNUM(n_chars - 500))
      || EVAL h8 = SUBSTRING(MD5(source), 1, 8)
      || STATS n = COUNT(*), mx_lg = MAX(lg2), mn_lg = MIN(lg2), mx_ln = MAX(ln_c), sum_sg = SUM(sg), hashes = COUNT_DISTINCT(h8), mn_h = MIN(h8) BY trimmed, tag
      || SORT trimmed, tag
      || LIMIT 30""".stripMargin

  /** j238_esql_mv_arith — the numeric multivalue folds MV_SUM / MV_AVG /
    * MV_MEDIAN over a REAL float-array column (the embeddings fixture):
    * sum and mean ride the VectorOps dot-product device (double fold,
    * left-to-right ≡ DuckDB list_sum element order — float inputs
    * hash-compare bit-for-bit), the median is exact element selection
    * over the sorted array (no interpolation hazard). Row-local folds
    * into one map-combined STATS keyed by label; rounded values reach
    * the result only via order-independent MIN/MAX. */
  val j238Query: String =
    """FROM embeddings
      || EVAL s = ROUND(MV_SUM(embedding), 6), a = ROUND(MV_AVG(embedding), 6), m = ROUND(MV_MEDIAN(embedding), 6)
      || STATS n = COUNT(*), mx_s = MAX(s), mn_s = MIN(s), mx_a = MAX(a), mx_m = MAX(m), mn_m = MIN(m) BY label
      || SORT label""".stripMargin

  /** The KNN fixture's query vector — dyadic-exact literals
    * ({-0.5, -0.25, 0, 0.25, 0.5} only), so the text form parses to
    * bit-identical doubles in both engines and the norm's radicand
    * (7.875) is exact. */
  private val KnnQv: Seq[Double] = (1 to 64).map(i => ((i % 5) - 2) * 0.25)

  /** j281_esql_knn — ES|QL 9.x's KNN function: `WHERE KNN(vector_col,
    * [query_vector], k)` is RETRIEVAL, not a row predicate — keep the k
    * nearest rows by the field's similarity, with `_score` = (1+cos)/2
    * (ES's cosine score normalization) materialized for the pipeline
    * tail to sort/keep — the `METADATA _score` convention. The BY
    * tiebreak is the engine's determinism addition (RERANK's documented
    * deviation). Compiles to a TakeOrdered top-k (k-row heap per
    * partition), never a global sort; ES itself serves this per-shard
    * HNSW + merge — same candidate-bounding idea, approximate where
    * this is exact. */
  val j281Query: String =
    s"""FROM embeddings
       || WHERE KNN(embedding, [${KnnQv.mkString(", ")}], 10) BY vec_id
       || EVAL s = ROUND(_score, 6)
       || KEEP vec_id, label, s
       || SORT s DESC, vec_id""".stripMargin

  /** j239_esql_row — the ROW source command: a one-row inline-literal
    * source through the SAME stage compiler (EVAL/KEEP fold onto it
    * like onto any scan), exercising pure functions on known inputs —
    * exactly what ES|QL's own docs use ROW for. The oracle is the
    * literal SELECT; no table is read at all. */
  val j239Query: String =
    """ROW a = 1, b = "two", c = 2.5
      || EVAL d = a + 10, up = TO_UPPER(b), r = ROUND(c * 2, 1), lg = LOG(2, 8), sg = TO_LONG(SIGNUM(0 - a))
      || KEEP a, b, c, d, up, r, lg, sg""".stripMargin

  /** j241_esql_bucket_duration — BUCKET's DURATION form, the multi-unit
    * time rounding DATE_TRUNC deliberately rejects (`BUCKET(ts, 3
    * hour)` = ES's fixed_interval date histogram): exact integer-µs
    * floor to the 3-hour width anchored at the UTC epoch, back to the
    * canonical µs TimestampNTZ (the a2 hash discipline). The bucket is
    * a row-local projection, so the pipeline stays scan → one
    * map-combined STATS → bounded heap; the WHERE still pushes to the
    * scan beneath the bucketing. */
  val j241Query: String =
    """FROM events
      || WHERE event_type == "purchase"
      || EVAL b3h = BUCKET(ts, 3 hour)
      || STATS n = COUNT(*), cents = SUM(ROUND(value * 100)) BY b3h
      || SORT b3h
      || LIMIT 40""".stripMargin

  /** j242_esql_fuse — ES|QL 9.x FUSE, the FORK-merger: two branches
    * rank the corpus by different signals (a lexical MATCH leg by
    * length, a second-term leg by recency-of-id), each cut by its own
    * TakeOrdered LIMIT (the bounded-branch contract), and FUSE merges
    * them by Reciprocal Rank Fusion — j139's rrf retriever formula
    * VERBATIM (rank_constant 60, Σ 1/(60+rank) through
    * Parity.sortedFoldSum), one fusion rule across both surfaces. The
    * fixture exercises the union semantics genuinely: one doc appears
    * in both branches (fuse_branches = 2), the rest keep a single
    * branch's contribution. */
  val j242Query: String =
    """FROM documents
      || FORK (WHERE MATCH(text, "spark") | EVAL score = n_chars | SORT score DESC, doc_id | LIMIT 20 | KEEP doc_id, score)
      |       (WHERE MATCH(text, "dup") | EVAL score = 0 - doc_id | SORT score DESC, doc_id | LIMIT 20 | KEEP doc_id, score)
      || FUSE doc_id BY score
      || SORT fuse_score DESC, doc_id
      || LIMIT 15""".stripMargin

  /** j243_esql_trig — the trig/geometry scalar family SIN / COS / TAN /
    * ATAN2 / CBRT / PI / TO_RADIANS / TO_DEGREES: single libm
    * applications under the j234 float rule (ROUND 6dp in the query,
    * aggregation only via order-independent MIN/MAX). The conversion
    * functions are the exact x/180·π and x·180/π formulas in both
    * engines — the oracle spells pi() arithmetic rather than DuckDB's
    * radians()/degrees(), so the pre-libm argument is the identical
    * double (Java's toRadians is the same x/180·π). */
  val j243Query: String =
    """FROM events
      || EVAL rad = TO_RADIANS(user_id % 360)
      || EVAL sn = ROUND(SIN(rad), 6), cs = ROUND(COS(rad), 6), tn = ROUND(TAN(TO_RADIANS(user_id % 80)), 6), at2 = ROUND(ATAN2(value, 1 + user_id % 10), 6), cb = ROUND(CBRT(value), 6), pi2 = ROUND(PI() * 2, 6), bak = ROUND(TO_DEGREES(rad), 6)
      || STATS n = COUNT(*), mn_sn = MIN(sn), mx_sn = MAX(sn), mn_cs = MIN(cs), mx_cs = MAX(cs), mx_tn = MAX(tn), mx_at = MAX(at2), mx_cb = MAX(cb), mx_pi = MAX(pi2), mx_bak = MAX(bak) BY event_type
      || SORT event_type""".stripMargin

  /** j244_esql_first_last — the FIRST/LAST positional aggregates (ES|QL
    * 9.x): value at the earliest/latest sort key per group — d8's LWW
    * argmax surfaced in the pipe language, the "opening/closing value"
    * idiom every time-series dashboard runs. The per-aggregate WHERE
    * threads through (both min_by operands wrapped — a group with no
    * qualifying rows yields NULL, = DuckDB's arg_max FILTER).
    * Determinism rides the fixture-verified global uniqueness of
    * events.ts (d8's §7.5#6 contract — min_by ties are otherwise
    * arbitrary). ONE map-combined pass; min_by/max_by state is one
    * (value, key) pair per group. */
  val j244Query: String =
    """FROM events
      || EVAL cents = ROUND(value * 100)
      || STATS n = COUNT(*), first_cents = FIRST(cents, ts), last_cents = LAST(cents, ts), first_user = FIRST(user_id, ts), last_user = LAST(user_id, ts), last_big = LAST(cents, ts) WHERE cents >= 5000 BY event_type
      || SORT event_type""".stripMargin

  /** j245_esql_rerank — the RERANK stage (ES|QL 9.1) in the standard
    * retrieve-then-rerank shape: a cheap first ranking (MATCH filter +
    * length sort) cuts the corpus to 20 via TakeOrdered, then RERANK
    * re-orders those 20 by the deterministic overlap scorer against a
    * richer query ("dup vector join" — the fixture spreads overlap
    * 1/2/3 across the pool, so the rerank genuinely reorders: the
    * 3-term doc jumps to rank 1 past longer 2-term docs). The rank
    * window moves 20 rows (the bounded-frame contract the stage
    * requires); everything before it is scan → pushed filter →
    * TakeOrderedAndProject. */
  val j245Query: String =
    """FROM documents
      || WHERE MATCH(text, "spark")
      || SORT n_chars DESC, doc_id
      || LIMIT 20
      || RERANK "dup vector join" ON text BY doc_id
      || SORT new_rank
      || LIMIT 10
      || KEEP doc_id, n_chars, _rerank, new_rank""".stripMargin

  /** j246_esql_trig_inverse — the inverse-trig + hyperbolic half of the
    * ES|QL math surface: ASIN / ACOS / ATAN / SINH / COSH / TANH / E /
    * TAU (j243's siblings). The probe argument (user_id%200−100)/100.0
    * is exact integer arithmetic then one double division — the
    * identical double in both engines — and the hyperbolics are exp
    * compositions BOTH engines spell (see the compiler case); JVM
    * Math.exp may sit 1 ULP off C libm's, so the mandatory 6dp ROUND
    * is the absorber (j234 rule: libm-adjacent outputs aggregate only
    * via MIN/MAX; matrix-verified at all SFs × both CPU configs). */
  val j246Query: String =
    """FROM events
      || EVAL x = (user_id % 200 - 100) / 100.0
      || EVAL asn = ROUND(ASIN(x), 6), acs = ROUND(ACOS(x), 6), atn = ROUND(ATAN(value), 6), sh = ROUND(SINH(x), 6), ch = ROUND(COSH(x), 6), th = ROUND(TANH(x), 6), hy = ROUND(HYPOT(x, value), 6), ec = ROUND(E(), 6), tauc = ROUND(TAU(), 6)
      || STATS n = COUNT(*), mn_as = MIN(asn), mx_as = MAX(asn), mx_ac = MAX(acs), mx_at = MAX(atn), mn_sh = MIN(sh), mx_ch = MAX(ch), mx_th = MAX(th), mx_hy = MAX(hy), e_c = MAX(ec), tau_c = MAX(tauc) BY event_type
      || SORT event_type""".stripMargin

  /** j247_esql_hash_encode — the hash/encoding scalar family: SHA256
    * (lowercase hex, MD5's sibling), TO_BASE64 / FROM_BASE64 (the
    * round-trip is part of the fixture: rt = decode(encode(source))),
    * BIT_LENGTH, BYTE_LENGTH. All row-local projections into one
    * map-combined STATS; the hex/base64 strings aggregate via
    * COUNT_DISTINCT / MIN — exact string equality, no float hazard.
    * SHA1 is deliberately absent: the oracle engine doesn't ship it,
    * and an unverifiable function is not claimed (§7.5 discipline). */
  val j247Query: String =
    """FROM documents
      || EVAL h8 = SUBSTRING(SHA256(source), 1, 8), b64 = TO_BASE64(lang), rt = FROM_BASE64(TO_BASE64(source)), bl = TO_LONG(BIT_LENGTH(lang)), byl = TO_LONG(BYTE_LENGTH(text))
      || STATS n = COUNT(*), hashes = COUNT_DISTINCT(h8), mn_h = MIN(h8), mn_b64 = MIN(b64), mn_rt = MIN(rt), mn_bl = MIN(bl), mx_byl = MAX(byl) BY lang
      || SORT lang""".stripMargin

  /** j248_esql_round_to_mv — ROUND_TO (ES|QL 9.1's fixed-point
    * bucketing: round DOWN to the largest literal point ≤ x, clamp
    * below the smallest — a literal CASE chain, never a boundary-table
    * join) + the remaining multivalue combinators MV_APPEND and MV_ZIP
    * (delimiter form). Arrays never reach the output (the driver's
    * pandas contract): both fold through MV_CONCAT to CSV strings.
    * Group keys are derived row-locally; (band, ap) is unique per
    * group because zp is a function of the same inputs as ap. */
  val j248Query: String =
    """FROM documents
      || EVAL band = ROUND_TO(n_chars, 0, 100, 250, 500), a = SPLIT(CONCAT(lang, " ", source), " "), b = SPLIT("x y", " ")
      || EVAL ap = MV_CONCAT(MV_APPEND(a, b), ","), zp = MV_CONCAT(MV_ZIP(a, b, "-"), ",")
      || STATS n = COUNT(*) BY band, ap, zp
      || SORT band, ap
      || LIMIT 30""".stripMargin

  /** j249_esql_ts — the TS source command + the *_OVER_TIME inner
    * aggregate family (ES|QL 9.1 time-series): per-series-per-day inner
    * rollup (MAX/MIN/SUM/COUNT/AVG/FIRST/LAST_OVER_TIME over exact
    * cents), outer aggregate across series per day. See [[tsStats]] for
    * the two-level plan; SUM/AVG outers run over exact-integer inners,
    * the double-valued AVG_OVER_TIME reaches the result only via MAX +
    * a post-STATS 6dp ROUND (j234 rule). */
  val j249Query: String =
    """TS events ON user_id, event_type
      || EVAL cents = ROUND(value * 100)
      || STATS mx = MAX(MAX_OVER_TIME(cents)), mn = MIN(MIN_OVER_TIME(cents)), tot = SUM(SUM_OVER_TIME(cents)), nobs = SUM(COUNT_OVER_TIME(cents)), nser = COUNT(COUNT_OVER_TIME(cents)), mxavg = MAX(AVG_OVER_TIME(cents)), sfirst = SUM(FIRST_OVER_TIME(cents)), slast = SUM(LAST_OVER_TIME(cents)) BY day = BUCKET(ts, 1 day)
      || EVAL mxavg = ROUND(mxavg, 6)
      || SORT day
      || LIMIT 20""".stripMargin

  /** j250_esql_ts_rate — RATE (ES|QL 9.1's counter-rate aggregate)
    * through the same TS rollup: per-second rate of increase with
    * counter-reset handling (sum of POSITIVE consecutive deltas in ts
    * order within the series-day cell, / the spelled 86400 s span).
    * The sf0.001 fixture binds every path: days with rates, cells
    * whose rate is NULL (single-point / never-increasing — day 3 has
    * nrate=0 with 31 series), and the count asymmetry nrate < nser.
    * Rates are exact-integer sums / an exact double — identical in
    * both engines — and aggregate only via MIN/MAX (+ COUNT). */
  val j250Query: String =
    """TS events ON user_id, event_type
      || EVAL cents = ROUND(value * 100)
      || STATS mxr = MAX(RATE(cents, 86400)), mnr = MIN(RATE(cents, 86400)), nrate = COUNT(RATE(cents, 86400)), nser = COUNT(COUNT_OVER_TIME(cents)) BY day = BUCKET(ts, 1 day)
      || EVAL mxr = ROUND(mxr, 6), mnr = ROUND(mnr, 6)
      || SORT day
      || LIMIT 20""".stripMargin

  /** j251_esql_fulltext_ext — MATCH_PHRASE + KQL, the remaining ES|QL
    * 9.1 full-text functions (j231's MATCH/QSTR siblings): the phrase
    * leg is j36's adjacency device on the analyzed field; the KQL leg
    * normalizes case-insensitive and/or/not and delegates to the ONE
    * j172 QueryString parser (three surfaces, zero drift). The graded
    * query ORs the legs so both bind (26 phrase hits, 62 KQL hits, 85
    * after union at sf0.001) and the KQL exercises fielded equality,
    * NOT + trailing-* prefix, parens, and bare-term OR. Filter-only:
    * keyword legs pushdown-eligible, text legs row-local, no shuffle
    * before the presentation sort. */
  val j251Query: String =
    """FROM documents
      || WHERE MATCH_PHRASE(text, "spark join") OR KQL("lang:fr and not source:src2* and (dup or vector)")
      || KEEP doc_id, lang, source, n_chars
      || SORT doc_id""".stripMargin

  /** j253_esql_completion — the COMPLETION inference stage (ES|QL 9.1)
    * in the retrieve-then-summarize shape: MATCH filter + top-10 cut,
    * then `COMPLETION summary = text WITH test_model` appends the
    * deterministic extractive completion (3 most frequent distinct
    * tokens — see the stage case; the hosted-LLM call is the
    * documented stand-in, RERANK/CHANGE_POINT discipline). Fixture
    * summaries are genuinely per-doc (10 distinct at sf0.001). */
  val j253Query: String =
    """FROM documents
      || WHERE MATCH(text, "spark")
      || SORT n_chars DESC, doc_id
      || LIMIT 10
      || COMPLETION summary = text WITH test_model
      || EVAL n_sum = TO_LONG(LENGTH(summary))
      || KEEP doc_id, summary, n_sum
      || SORT doc_id""".stripMargin

  /** j254_esql_show_info — SHOW INFO, the last source command (the
    * command surface is now FROM / ROW / TS / SHOW — complete against
    * the ES|QL 9.1 list): one metadata row, every field pinned (the
    * frozen-clock/pinned-version devices), piped through an ordinary
    * stage to prove SHOW output folds like any source. */
  val j254Query: String =
    """SHOW INFO
      || EVAL major = TO_LONG(SUBSTRING(version, 1, 1))
      || KEEP date, hash, version, major""".stripMargin

  /** j255_esql_ts_delta — the promql-descended half of the ES|QL 9.2
    * time-series functions through the same [[tsStats]] rollup: DELTA
    * (last − first), IDELTA (last consecutive delta, signed), INCREASE
    * (sum of positive deltas — RATE's numerator without the span),
    * IRATE (last delta / its own time gap; NULL when the last movement
    * is a reset), COUNT_DISTINCT_OVER_TIME. The fixture binds the
    * interesting paths: negative deltas, a day whose max IDELTA is
    * negative and whose IRATE is NULL everywhere, nrate asymmetries.
    * Exact-integer inners aggregate via SUM/MIN/MAX; the one double
    * (IRATE) via MAX + 6dp ROUND (j234). */
  val j255Query: String =
    """TS events ON user_id, event_type
      || EVAL cents = ROUND(value * 100)
      || STATS mxd = MAX(DELTA(cents)), mnd = MIN(DELTA(cents)), mxid = MAX(IDELTA(cents)), tinc = SUM(INCREASE(cents)), mxir = MAX(IRATE(cents)), snd = SUM(COUNT_DISTINCT_OVER_TIME(cents)) BY day = BUCKET(ts, 1 day)
      || EVAL mxir = ROUND(mxir, 6)
      || SORT day
      || LIMIT 20""".stripMargin

  /** j256_esql_mv_math — the remaining numeric multivalue functions over
    * the REAL float-array column (j238's siblings): MV_PERCENTILE
    * (linear interpolation at rank p/100·(n−1) over the sorted
    * elements, cast to double BEFORE arithmetic so both engines
    * interpolate in the same domain), MV_PSERIES_WEIGHTED_SUM
    * (Σ vᵢ/i^p in array order over a MV_SORT-desc list — the ES
    * descending-relevance form; left-to-right fold = j238's MV_SUM
    * device, i^p libm pow under the j234 rule), and SPACE (REPEAT's
    * sibling, observable through the grouped pad key). */
  val j256Query: String =
    """FROM embeddings
      || EVAL p90 = ROUND(MV_PERCENTILE(embedding, 90), 6), p50 = ROUND(MV_PERCENTILE(embedding, 50), 6), pw = ROUND(MV_PSERIES_WEIGHTED_SUM(MV_SORT(embedding, "desc"), 1.5), 6), pad = CONCAT(TO_STRING(label), SPACE(2), "x")
      || STATS n = COUNT(*), mx90 = MAX(p90), mn90 = MIN(p90), mx50 = MAX(p50), mxpw = MAX(pw), mnpw = MIN(pw), mxpad = MAX(pad) BY label
      || SORT label""".stripMargin

  /** j257_esql_sample_agg — the SAMPLE aggregate (ES|QL 9.1) in STATS:
    * N of the group's values under the deterministic md5-of-id draw
    * (see the compiler case — the j210 stage device as an aggregate),
    * with a per-aggregate WHERE leg proving FILTER composition. The
    * collect is N-bounded per group AFTER an md5 rank — the collected
    * list is group-sized pre-slice, which is the ES semantics too (its
    * sampler holds the reservoir per bucket); groups here are the
    * 5-language partition, so the state is corpus/5 strings — the
    * d9-collect discipline (bounded by the group, never the corpus). */
  val j257Query: String =
    """FROM documents
      || STATS n = COUNT(*), pick = SAMPLE(source, 3, doc_id), pick_s1 = SAMPLE(source, 2, doc_id) WHERE STARTS_WITH(source, "src1") BY lang
      || SORT lang""".stripMargin

  /** j260_esql_st_distance — the ES|QL geo functions over the engine's
    * WKT-string geo_point representation: TO_GEOPOINT builds/validates
    * points (here from synthesized coordinates — the j258 device — via
    * CONCAT/TO_STRING, proving the string round-trip: both engines emit
    * shortest-roundtrip decimal, so ST_X(p) parses back the EXACT
    * source double, pinned by the unrounded MIN below), ST_X/ST_Y
    * extract, and ST_DISTANCE is j258's haversine (one shared Column
    * fragment, GeoOps.haversineMeters). The WHERE is the geo_distance
    * query spelled in ES|QL — and it leads with j258's CHEAP
    * bounding-box legs (constant-folded arithmetic on the exact
    * lat/lon doubles) before the distance leg. That ordering is
    * load-bearing, not style: Catalyst pushes a WHERE on an EVAL alias
    * below the projections by INLINING the alias — the whole
    * point-parse tree replicates into the filter per field reference —
    * so a bare `WHERE d <= R` re-parses every row ~8×. The x1→x10
    * ScaleProbe measured 23 s at 1M rows for the unguarded spelling vs
    * ~flat with the bbox legs short-circuiting the heavy conjunct down
    * to the ~2% survivor band (the And codegen evaluates left first).
    * This is exactly how ES runs geo_distance (BKD box, then
    * haversine) — the engine discipline: any WHERE on an expensive
    * EVAL column should lead with a cheap sargable guard. All
    * row-local projections into one map-combined STATS; at 100 TB the
    * only exchange is the 5-group agg. */
  val j260Query: String =
    s"""FROM events
       || EVAL lat = ${GeoOps.SynthLatSql}, lon = ${GeoOps.SynthLonSql}
       || EVAL p = TO_GEOPOINT(CONCAT("POINT(", TO_STRING(lon), " ", TO_STRING(lat), ")"))
       || EVAL d = ROUND(ST_DISTANCE(p, TO_GEOPOINT("POINT(-74.0 40.7)")), 6)
       || EVAL px = ST_X(p), py = ST_Y(p)
       || WHERE lat >= 40.7 - 2000000.0 / 111000.0 AND lat <= 40.7 + 2000000.0 / 111000.0 AND lon >= 0.0 - 74.0 - 2000000.0 / (111000.0 * COS(TO_RADIANS(40.7 + 2000000.0 / 111000.0))) AND lon <= 0.0 - 74.0 + 2000000.0 / (111000.0 * COS(TO_RADIANS(40.7 + 2000000.0 / 111000.0))) AND d <= 2000000.0
       || STATS n = COUNT(*), mn_d = MIN(d), mx_d = MAX(d), mn_x = MIN(px), mx_y = MAX(py) BY event_type
       || SORT event_type""".stripMargin

  private val geoShapeDdl =
    "struct<xmin:double,xmax:double,ymax:double,ymin:double," +
      "xs:array<bigint>,ys:array<bigint>>"

  /** COMPILE-TIME twin of the TO_GEOSHAPE expression path for literal
    * WKT: same regexes, same space-only trim, same split semantics
    * (limit −1: Spark's split keeps trailing empties), same validity
    * rules (NaN/∞ rejected like Spark's NaN-is-largest ordering does),
    * same HALF_UP quantization (BigDecimal.valueOf — Spark Round's own
    * composition). GeoOpsSpec pins the two paths equal input-by-input;
    * any divergence is a bug HERE, not a contract change. */
  private[graft] def geoShapeLiteral(s0: String): Column = {
    val nullShape = lit(null).cast(geoShapeDdl)
    if (s0 == null) return nullShape
    def q6(v: Double): Long = java.math.BigDecimal.valueOf(v * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    def shape(xmin: Double, xmax: Double, ymax: Double, ymin: Double,
        xs: Seq[Option[Long]], ys: Seq[Option[Long]]): Column =
      struct(lit(xmin).as("xmin"), lit(xmax).as("xmax"),
        lit(ymax).as("ymax"), lit(ymin).as("ymin"),
        typedLit(xs).cast("array<bigint>").as("xs"),
        typedLit(ys).cast("array<bigint>").as("ys"))
    val bboxRe = ("""^BBOX\s*\(\s*([-+0-9.eE]+),\s*([-+0-9.eE]+),""" +
      """\s*([-+0-9.eE]+),\s*([-+0-9.eE]+)\s*\)$""").r
    s0 match {
      case bboxRe(x0, x1, y1, y0) =>
        return shape(x0.toDouble, x1.toDouble, y1.toDouble, y0.toDouble,
          Seq.empty, Seq.empty)
      case _ => ()
    }
    // POLYGON: space-only trim (Spark's trim), then the same multi-ring
    // decomposition as the expression path
    val t = s0.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    val headOk = java.util.regex.Pattern.compile("""^POLYGON\s*\(\s*\(""")
      .matcher(t).find()
    val innerM = java.util.regex.Pattern.compile("""^POLYGON\s*\((.*)\)$""")
      .matcher(t)
    if (!(headOk && t.endsWith(")") && innerM.matches())) return nullShape
    val inner = innerM.group(1)
    if (inner.isEmpty) return nullShape
    val rings = inner.split("""\)\s*,\s*\(""", -1)
      .map(_.replaceAll("""^\s*\(""", "").replaceAll("""\)\s*$""", ""))
    def ringPts(r: String): Option[Seq[(Double, Double)]] = {
      val pairs = r.split(",", -1).toSeq
        .map(_.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse)
        .map(_.split("""\s+""", -1).toSeq)
      def num(tok: Option[String]): Option[Double] =
        tok.flatMap(_.toDoubleOption)
      val xs = pairs.map(p => num(p.lift(0)))
      val ys = pairs.map(p => num(p.lift(1)))
      val ok = pairs.forall(_.size == 2) &&
        !xs.exists(v => v.isEmpty || v.exists(d => d.isNaN || d.abs > 180.0)) &&
        !ys.exists(v => v.isEmpty || v.exists(d => d.isNaN || d.abs > 90.0)) &&
        pairs.size >= 4 &&
        xs.head == xs.last && ys.head == ys.last
      if (ok) Some(xs.map(_.get).zip(ys.map(_.get))) else None
    }
    val pts = rings.toSeq.map(ringPts)
    if (pts.exists(_.isEmpty)) return nullShape
    val xsQ = pts.flatMap(r => r.get.map(v => Some(q6(v._1))) :+ None)
    val ysQ = pts.flatMap(r => r.get.map(v => Some(q6(v._2))) :+ None)
    val xv = xsQ.flatten; val yv = ysQ.flatten
    shape(xv.min.toDouble / 1e6, xv.max.toDouble / 1e6,
      yv.max.toDouble / 1e6, yv.min.toDouble / 1e6, xsQ, ysQ)
  }

  /** Point-vs-shape relation. The envelope test runs FIRST — inclusive
    * on all edges (the BKD convention both ES query paths use for
    * points on a box boundary) and short-circuiting, so it is the same
    * cheap prefilter ES's indexed BKD tree applies before exact
    * geometry. A BBOX shape (empty ring) is decided by the envelope
    * alone; a POLYGON adds the even-odd ray cast over its QUANTIZED
    * ring: the point quantizes to the same 1e-6 integer lattice as the
    * vertices (TO_GEOPOINT/TO_GEOSHAPE's shared grid), and each edge's
    * crossing test is the pnpoly half-open rule with the division
    * cleared — (px−x₁)(y₂−y₁) vs (x₂−x₁)(py−y₁), sign-adjusted by the
    * edge direction. All operands are BIGINT micro-units ≤ 1.8e8, so
    * the cross-products stay ≤ ~1.3e17 ≪ 2⁶³ — EXACT integer
    * arithmetic, bit-identical in any engine (the j266 envelope
    * discipline extended to polygons; no epsilon, no orientation
    * dependence — even-odd is winding-agnostic). Boundary semantics:
    * half-open edges (a point exactly on a boundary lands
    * deterministically, identically in both engines). Holes ride the
    * SAME cast: rings concatenate with a NULL sentinel between them,
    * and an edge touching the sentinel has a NULL crossing test, which
    * the when(...).otherwise(0) counts as 0 — so only real ring edges
    * flip parity, and a point inside a hole counts even (outside). */
  private def pointInShape(p: Column, shp: Column): Column = {
    val inEnv =
      p.getField("x").between(shp.getField("xmin"), shp.getField("xmax")) &&
        p.getField("y").between(shp.getField("ymin"), shp.getField("ymax"))
    val xs = shp.getField("xs")
    val ys = shp.getField("ys")
    val px = round(p.getField("x") * lit(1000000.0), 0).cast("bigint")
    val py = round(p.getField("y") * lit(1000000.0), 0).cast("bigint")
    def crossing(i: Column): Column = {
      val x1 = element_at(xs, i); val y1 = element_at(ys, i)
      val x2 = element_at(xs, i + 1); val y2 = element_at(ys, i + 1)
      val lhs = (px - x1) * (y2 - y1)
      val rhs = (x2 - x1) * (py - y1)
      ((y1 > py) =!= (y2 > py)) &&
        when(y2 > y1, lhs < rhs).otherwise(lhs > rhs)
    }
    val odd = aggregate(
      sequence(lit(1), size(xs) - 1), lit(0L),
      (acc, i) => acc + when(crossing(i), lit(1L)).otherwise(lit(0L))) % 2 === 1
    inEnv && (size(xs) === 0 || odd)
  }

  /** j266_esql_st_predicates — the ES|QL spatial relations
    * ST_INTERSECTS / ST_WITHIN / ST_CONTAINS / ST_DISJOINT over a BBOX
    * geo_shape (point-vs-envelope — the indexed fast path; see the
    * compiler cases): per-type counts via per-aggregate WHERE on each
    * predicate. The result binds the relations' algebra in one frame:
    * for points, n_int = n_within = n_cont and n_disj = n − n_int —
    * the oracle checks all four independently. Pure comparisons on
    * exact-arithmetic doubles; the envelope constructor constant-folds. */
  val j266Query: String =
    s"""FROM events
       || EVAL lat = ${GeoOps.SynthLatSql}, lon = ${GeoOps.SynthLonSql}
       || EVAL p = TO_GEOPOINT(CONCAT("POINT(", TO_STRING(lon), " ", TO_STRING(lat), ")"))
       || EVAL env = TO_GEOSHAPE("BBOX (-120.0, -60.0, 45.0, 10.0)")
       || EVAL inside = ST_INTERSECTS(p, env), within = ST_WITHIN(p, env), cont = ST_CONTAINS(env, p), disj = ST_DISJOINT(p, env)
       || STATS n = COUNT(*), n_int = COUNT(*) WHERE inside, n_within = COUNT(*) WHERE within, n_cont = COUNT(*) WHERE cont, n_disj = COUNT(*) WHERE disj BY event_type
       || SORT event_type""".stripMargin

  /** j269_esql_st_extent — ES|QL 9.x's ST_EXTENT_AGG + the envelope
    * extractors ST_XMIN/ST_XMAX/ST_YMIN/ST_YMAX: the per-type bounding
    * envelope of the synthesized points, extracted field-by-field and
    * the envelope struct DROPped before the result ships (the
    * no-struct-output rule). A WHERE leg narrows one aggregate through
    * the per-agg filter to bind that composition too. Everything
    * map-combined min/max — order-independent, no float hazard. */
  val j269Query: String =
    s"""FROM events
       || EVAL lat = ${GeoOps.SynthLatSql}, lon = ${GeoOps.SynthLonSql}
       || EVAL p = TO_GEOPOINT(CONCAT("POINT(", TO_STRING(lon), " ", TO_STRING(lat), ")"))
       || STATS n = COUNT(*), ext = ST_EXTENT_AGG(p), ext_e = ST_EXTENT_AGG(p) WHERE lat >= 0.0 BY event_type
       || EVAL xmin = ST_XMIN(ext), xmax = ST_XMAX(ext), ymin = ST_YMIN(ext), ymax = ST_YMAX(ext), n_ymin = ST_YMIN(ext_e)
       || DROP ext, ext_e
       || SORT event_type""".stripMargin

  /** j264_esql_grid_fns — the ES|QL grid-key functions ST_GEOHASH +
    * ST_GEOTILE as STATS BY keys (how ES|QL spells grid aggregations):
    * top-20 precision-4 geohash cells by doc count, with the zoom-6
    * tile diversity per cell (COUNT_DISTINCT of the OTHER grid system —
    * binds both functions in one oracled result). Both keys are the
    * shared GeoOps fragments; the geohash is unrolled long shift/mask
    * arithmetic generated for BOTH engines from one loop. */
  val j264Query: String =
    s"""FROM events
       || EVAL lat = ${GeoOps.SynthLatSql}, lon = ${GeoOps.SynthLonSql}
       || EVAL p = TO_GEOPOINT(CONCAT("POINT(", TO_STRING(lon), " ", TO_STRING(lat), ")"))
       || EVAL gh = ST_GEOHASH(p, 4), gt = ST_GEOTILE(p, 6)
       || STATS n = COUNT(*), tiles = COUNT_DISTINCT(gt) BY gh
       || SORT n DESC, gh
       || LIMIT 20""".stripMargin

  /** j276_esql_geohex — ST_GEOHEX as a STATS BY key (the ES|QL
    * spelling of the j275 geohex_grid agg; same shared fragment, same
    * documented axial-ids-not-H3 deviation): top-20 resolution-2 hex
    * cells by doc count with per-cell user diversity. */
  val j276Query: String =
    s"""FROM events
       || EVAL lat = ${GeoOps.SynthLatSql}, lon = ${GeoOps.SynthLonSql}
       || EVAL p = TO_GEOPOINT(CONCAT("POINT(", TO_STRING(lon), " ", TO_STRING(lat), ")"))
       || EVAL hx = ST_GEOHEX(p, 2)
       || STATS n = COUNT(*), users = COUNT_DISTINCT(user_id) BY hx
       || SORT n DESC, hx
       || LIMIT 20""".stripMargin

  /** j270's polygon — ONE Scala constant generates the WKT literal in
    * the ES|QL query AND the quantized vertex arrays in the DuckDB
    * oracle, so the two spellings cannot drift (the geohashSql
    * discipline). The ring is deliberately NON-CONVEX (a notch cut into
    * the top edge): points inside the bounding box but in the notch
    * are OUT, which is exactly what an envelope test alone cannot
    * decide — the ray cast is load-bearing, not decorative. */
  private val j270Ring: Seq[(Double, Double)] = Seq(
    (-130.0, 10.0), (-60.0, 10.0), (-60.0, 45.0), (-95.0, 25.0),
    (-130.0, 45.0), (-130.0, 10.0))
  private val j270Wkt: String =
    "POLYGON((" + j270Ring.map { case (x, y) => s"$x $y" }.mkString(", ") + "))"

  /** A ring's bounding box as a predicate on the raw `lon`/`lat` columns,
    * read off the ring's extent. */
  private def boxWhere(ring: Seq[(Double, Double)]): String = {
    val (xs, ys) = ring.unzip
    s"lon >= ${xs.min} AND lon <= ${xs.max} AND lat >= ${ys.min} AND lat <= ${ys.max}"
  }
  /** The bounding box j270, j273 and their oracles' `boxed` CTE filter on. */
  private val j270Box: String = boxWhere(j270Ring)

  /** j270_geo_polygon — WKT POLYGON geo_shape + the spatial relations
    * over it (r12 verdict item 3): TO_GEOSHAPE parses the ring once
    * into quantized integer vertices; ST_WITHIN/ST_CONTAINS/
    * ST_INTERSECTS/ST_DISJOINT run the exact even-odd ray cast behind
    * the envelope prefilter. The WHERE leads with the polygon's
    * BOUNDING BOX on the raw coordinate columns (the j258/PLANS r12
    * EVAL-alias rule): the box predicate is sargable arithmetic the
    * scan prunes on, and at 100 TB it drops ~93% of the globe before
    * any geometry runs; the ray cast then touches only boxed rows.
    * The notch makes n_within < n_box strictly — the oracle checks the
    * concavity is actually exercised. */
  val j270Query: String =
    s"""FROM events
       || EVAL lat = ${GeoOps.SynthLatSql}, lon = ${GeoOps.SynthLonSql}
       || WHERE $j270Box
       || EVAL p = TO_GEOPOINT(CONCAT("POINT(", TO_STRING(lon), " ", TO_STRING(lat), ")"))
       || EVAL poly = TO_GEOSHAPE("$j270Wkt")
       || EVAL inside = ST_INTERSECTS(p, poly), within = ST_WITHIN(p, poly), cont = ST_CONTAINS(poly, p), disj = ST_DISJOINT(p, poly)
       || STATS n_box = COUNT(*), n_int = COUNT(*) WHERE inside, n_within = COUNT(*) WHERE within, n_cont = COUNT(*) WHERE cont, n_disj = COUNT(*) WHERE disj BY event_type
       || SORT event_type""".stripMargin

  /** j272_esql_st_centroid — ES|QL's spatial STATS completions (r12
    * verdict item 5): ST_CENTROID_AGG (the ES|QL twin of j268's
    * geo_centroid, per-group mean point via the Parity.qsum quantized
    * exact sums — partial-aggregable, order-independent) with a
    * per-aggregate WHERE leg, plus ST_ENVELOPE re-packing a polygon's
    * bounding box as a BBOX shape read back through ST_XMIN/ST_YMAX.
    * Centroid components ROUND at 6dp before shipping (j234); the
    * envelope numbers are exact vertex quantizations. */
  val j272Query: String =
    s"""FROM events
       || EVAL lat = ${GeoOps.SynthLatSql}, lon = ${GeoOps.SynthLonSql}
       || EVAL p = TO_GEOPOINT(CONCAT("POINT(", TO_STRING(lon), " ", TO_STRING(lat), ")"))
       || STATS n = COUNT(*), cen = ST_CENTROID_AGG(p), cen_n = ST_CENTROID_AGG(p) WHERE lat >= 0.0 BY event_type
       || EVAL cx = ROUND(ST_X(cen), 6), cy = ROUND(ST_Y(cen), 6), cnx = ROUND(ST_X(cen_n), 6)
       || EVAL env = ST_ENVELOPE(TO_GEOSHAPE("$j270Wkt"))
       || EVAL exmin = ST_XMIN(env), exmax = ST_XMAX(env), eymin = ST_YMIN(env), eymax = ST_YMAX(env)
       || DROP cen, cen_n, env
       || SORT event_type""".stripMargin

  private def ringWkt(r: Seq[(Double, Double)]): String =
    "(" + r.map { case (x, y) => s"$x $y" }.mkString(", ") + ")"
  private val j273Outer: Seq[(Double, Double)] = Seq(
    (-130.0, 10.0), (-60.0, 10.0), (-60.0, 45.0), (-130.0, 45.0), (-130.0, 10.0))
  private val j273Hole: Seq[(Double, Double)] = Seq(
    (-110.0, 20.0), (-80.0, 20.0), (-80.0, 35.0), (-110.0, 35.0), (-110.0, 20.0))
  require(boxWhere(j273Outer) == j270Box,
    "j273's outer ring must span j270's bounding box: both filter on j270Box")

  /** j273_geo_polygon_holes — WKT polygons with HOLES (the geo_shape
    * case real ES ingest hits immediately after plain polygons): the
    * donut (outer ring + hole), the solid outer, and the hole itself
    * each parse through the ONE multi-ring TO_GEOSHAPE and each count
    * through the SAME even-odd ray cast — holes need zero predicate
    * changes because rings concatenate with a NULL-sentinel edge break
    * and a hole crossing flips parity exactly as even-odd requires.
    * The three counts bind the containment algebra n_donut = n_solid −
    * n_hole on fixture data (GeoOpsSpec asserts it; the oracle computes
    * all three independently). Same bbox-leading WHERE as j270. */
  val j273Query: String =
    s"""FROM events
       || EVAL lat = ${GeoOps.SynthLatSql}, lon = ${GeoOps.SynthLonSql}
       || WHERE $j270Box
       || EVAL p = TO_GEOPOINT(CONCAT("POINT(", TO_STRING(lon), " ", TO_STRING(lat), ")"))
       || EVAL donut = TO_GEOSHAPE("POLYGON(${ringWkt(j273Outer)}, ${ringWkt(j273Hole)})")
       || EVAL solid = TO_GEOSHAPE("POLYGON(${ringWkt(j273Outer)})"), hole = TO_GEOSHAPE("POLYGON(${ringWkt(j273Hole)})")
       || EVAL ind = ST_WITHIN(p, donut), ins = ST_WITHIN(p, solid), inh = ST_WITHIN(p, hole)
       || STATS n_box = COUNT(*), n_donut = COUNT(*) WHERE ind, n_solid = COUNT(*) WHERE ins, n_hole = COUNT(*) WHERE inh BY event_type
       || SORT event_type""".stripMargin

  /** Each declared ES|QL query: its name and its text, compiled against
    * the fixture tables in the data directory. */
  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "j270_geo_polygon" -> j270Query,
    "j273_geo_polygon_holes" -> j273Query,
    "j272_esql_st_centroid" -> j272Query,
    "j269_esql_st_extent" -> j269Query,
    "j266_esql_st_predicates" -> j266Query,
    "j264_esql_grid_fns" -> j264Query,
    "j276_esql_geohex" -> j276Query,
    "j260_esql_st_distance" -> j260Query,
    "j257_esql_sample_agg" -> j257Query,
    "j256_esql_mv_math" -> j256Query,
    "j255_esql_ts_delta" -> j255Query,
    "j254_esql_show_info" -> j254Query,
    "j253_esql_completion" -> j253Query,
    "j251_esql_fulltext_ext" -> j251Query,
    "j249_esql_ts" -> j249Query,
    "j250_esql_ts_rate" -> j250Query,
    "j244_esql_first_last" -> j244Query,
    "j245_esql_rerank" -> j245Query,
    "j246_esql_trig_inverse" -> j246Query,
    "j247_esql_hash_encode" -> j247Query,
    "j248_esql_round_to_mv" -> j248Query,
    "j241_esql_bucket_duration" -> j241Query,
    "j242_esql_fuse" -> j242Query,
    "j243_esql_trig" -> j243Query,
    "j236_esql_stats_ext" -> j236Query,
    "j237_esql_scalars_ext" -> j237Query,
    "j238_esql_mv_arith" -> j238Query,
    "j239_esql_row" -> j239Query,
    "j281_esql_knn" -> j281Query,
    "j235_esql_categorize" -> j235Query,
    "j234_esql_math" -> j234Query,
    "j229_esql_mv_position" -> j229Query,
    "j230_esql_top" -> j230Query,
    "j231_esql_fulltext" -> j231Query,
    "j223_esql_date_diff" -> j223Query,
    "j224_esql_date_fns" -> j224Query,
    "j225_esql_multi_index" -> j225Query,
    "j226_esql_change_point" -> j226Query,
    "j215_esql_fork" -> j215Query,
    "j217_esql_strings" -> j217Query,
    "j218_esql_mv" -> j218Query,
    "j219_esql_stats_fns" -> j219Query,
    "j220_esql_bucket" -> j220Query,
    "j221_esql_weighted_avg" -> j221Query,
    "j222_esql_cidr" -> j222Query,
    "j188_esql" -> j188Query,
    "j194_esql_dissect_grok" -> j194Query,
    "j195_esql_mv_expand" -> j195Query,
    "j200_esql_lookup_join" -> j200Query,
    "j201_esql_enrich" -> j201Query,
    "j208_esql_stats_where" -> j208Query,
    "j209_esql_inlinestats" -> j209Query,
    "j210_esql_sample" -> j210Query,
    "j211_esql_date_trunc" -> j211Query,
    "j212_esql_case" -> j212Query,
    "j213_esql_drop_rename" -> j213Query,
    "j214_esql_like_in" -> j214Query
  ).map { case (name, q) => name -> ((s: SparkSession, d: String) => compile(s, d, q)) }

  /** DuckDB within-test generator for a ring set — the SAME ray cast
    * as [[pointInShape]] (quantized BIGINT cross-products, NULL
    * sentinel between rings) inlined over literal vertex arrays, with
    * the inclusive envelope prefilter. Expects a frame with lon/lat
    * (double) and px/py (quantized BIGINT) columns in scope. */
  private def withinSql(rings: Seq[Seq[(Double, Double)]]): String = {
    val xsEl = rings.flatMap(r => r.map(v => (v._1 * 1e6).round.toString) :+ "NULL")
    val ysEl = rings.flatMap(r => r.map(v => (v._2 * 1e6).round.toString) :+ "NULL")
    val xs = xsEl.mkString("([", ", ", "])")
    val ys = ysEl.mkString("([", ", ", "])")
    val n = xsEl.size
    val allX = rings.flatten.map(_._1); val allY = rings.flatten.map(_._2)
    s"""((lon >= CAST(${allX.min} AS DOUBLE) AND lon <= CAST(${allX.max} AS DOUBLE)
       |  AND lat >= CAST(${allY.min} AS DOUBLE) AND lat <= CAST(${allY.max} AS DOUBLE))
       | AND ((list_sum(list_transform(generate_series(1, $n - 1), i ->
       |   CASE WHEN (($ys[i] > py) <> ($ys[i+1] > py)) AND
       |     (CASE WHEN $ys[i+1] > $ys[i]
       |        THEN (px - $xs[i]) * ($ys[i+1] - $ys[i]) < ($xs[i+1] - $xs[i]) * (py - $ys[i])
       |        ELSE (px - $xs[i]) * ($ys[i+1] - $ys[i]) > ($xs[i+1] - $xs[i]) * (py - $ys[i]) END)
       |   THEN 1 ELSE 0 END))) % 2 = 1))""".stripMargin
  }

  /** The j270/j273 oracles' `boxed` CTE: the `geo` events inside the
    * polygon's bounding box. */
  private val BoxedSql =
    s"""boxed AS (
      |  SELECT * FROM geo
      |  WHERE $j270Box)""".stripMargin

  /** The TS-command oracles' events (`e`: user_id, event_type, t, cents)
    * bucketed by UTC day (`k`). */
  private val DailyCentsSql =
    """e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS t,
      |             CAST(round(value * 100, 0) AS BIGINT) AS cents
      |           FROM 'events.parquet'),
      |k AS (SELECT *, make_timestamp((epoch_us(t) // 86400000000)
      |                 * 86400000000) AS day FROM e)""".stripMargin

  val oracle: Map[String, String] = Map(
    "j273_geo_polygon_holes" ->
      s"""WITH ${GeoOps.GeoEventsSql},
         |$BoxedSql,
         |q AS (
         |  SELECT event_type, lon, lat,
         |    CAST(round(lon * 1000000) AS BIGINT) AS px,
         |    CAST(round(lat * 1000000) AS BIGINT) AS py
         |  FROM boxed),
         |rel AS (
         |  SELECT event_type,
         |    ${withinSql(Seq(j273Outer, j273Hole))} AS ind,
         |    ${withinSql(Seq(j273Outer))} AS ins,
         |    ${withinSql(Seq(j273Hole))} AS inh
         |  FROM q)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_box,
         |  CAST(count(*) FILTER (ind) AS BIGINT) AS n_donut,
         |  CAST(count(*) FILTER (ins) AS BIGINT) AS n_solid,
         |  CAST(count(*) FILTER (inh) AS BIGINT) AS n_hole
         |FROM rel GROUP BY event_type ORDER BY event_type""".stripMargin,
    "j270_geo_polygon" -> {
      val xsL = j270Ring.map(v => (v._1 * 1e6).round).mkString("[", ", ", "]")
      val ysL = j270Ring.map(v => (v._2 * 1e6).round).mkString("[", ", ", "]")
      val n = j270Ring.size
      s"""WITH ${GeoOps.GeoEventsSql},
         |$BoxedSql,
         |q AS (
         |  SELECT event_type,
         |    CAST(round(lon * 1000000) AS BIGINT) AS px,
         |    CAST(round(lat * 1000000) AS BIGINT) AS py
         |  FROM boxed),
         |v AS (SELECT CAST($xsL AS BIGINT[]) AS xs, CAST($ysL AS BIGINT[]) AS ys),
         |rel AS (
         |  SELECT event_type,
         |    (list_sum(list_transform(generate_series(1, $n - 1), i ->
         |       CASE WHEN ((ys[i] > py) <> (ys[i+1] > py)) AND
         |         (CASE WHEN ys[i+1] > ys[i]
         |            THEN (px - xs[i]) * (ys[i+1] - ys[i]) < (xs[i+1] - xs[i]) * (py - ys[i])
         |            ELSE (px - xs[i]) * (ys[i+1] - ys[i]) > (xs[i+1] - xs[i]) * (py - ys[i]) END)
         |       THEN 1 ELSE 0 END)) % 2 = 1) AS w
         |  FROM q CROSS JOIN v)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_box,
         |  CAST(count(*) FILTER (w) AS BIGINT) AS n_int,
         |  CAST(count(*) FILTER (w) AS BIGINT) AS n_within,
         |  CAST(count(*) FILTER (w) AS BIGINT) AS n_cont,
         |  CAST(count(*) FILTER (NOT w) AS BIGINT) AS n_disj
         |FROM rel GROUP BY event_type ORDER BY event_type""".stripMargin
    },
    "j272_esql_st_centroid" -> {
      val exmin = j270Ring.map(_._1).min
      val exmax = j270Ring.map(_._1).max
      val eymin = j270Ring.map(_._2).min
      val eymax = j270Ring.map(_._2).max
      s"""WITH ${GeoOps.GeoEventsSql}
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |  round(floor((CAST(sum(CAST(round(lon * 1000000) AS BIGINT)) AS DOUBLE)
         |        / 1000000.0 / count(lon)) * 1000000 + 0.5) / 1000000.0, 6) AS cx,
         |  round(floor((CAST(sum(CAST(round(lat * 1000000) AS BIGINT)) AS DOUBLE)
         |        / 1000000.0 / count(lat)) * 1000000 + 0.5) / 1000000.0, 6) AS cy,
         |  round(floor((CAST(sum(CAST(round(lon * 1000000) AS BIGINT))
         |          FILTER (lat >= 0.0) AS DOUBLE)
         |        / 1000000.0 / (count(lon) FILTER (lat >= 0.0))) * 1000000 + 0.5)
         |        / 1000000.0, 6) AS cnx,
         |  CAST($exmin AS DOUBLE) AS exmin, CAST($exmax AS DOUBLE) AS exmax,
         |  CAST($eymin AS DOUBLE) AS eymin, CAST($eymax AS DOUBLE) AS eymax
         |FROM geo GROUP BY event_type ORDER BY event_type""".stripMargin
    },
    "j269_esql_st_extent" ->
      s"""WITH ${GeoOps.GeoEventsSql}
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |  min(lon) AS xmin, max(lon) AS xmax,
         |  min(lat) AS ymin, max(lat) AS ymax,
         |  min(lat) FILTER (lat >= 0.0) AS n_ymin
         |FROM geo GROUP BY event_type ORDER BY event_type""".stripMargin,
    "j266_esql_st_predicates" ->
      s"""WITH ${GeoOps.GeoEventsSql},
         |rel AS (
         |  SELECT event_type,
         |    lon BETWEEN -120.0 AND -60.0 AND lat BETWEEN 10.0 AND 45.0 AS inside
         |  FROM geo)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(*) FILTER (inside) AS BIGINT) AS n_int,
         |  CAST(count(*) FILTER (inside) AS BIGINT) AS n_within,
         |  CAST(count(*) FILTER (inside) AS BIGINT) AS n_cont,
         |  CAST(count(*) FILTER (NOT inside) AS BIGINT) AS n_disj
         |FROM rel GROUP BY event_type ORDER BY event_type""".stripMargin,
    "j276_esql_geohex" -> {
      val lat = s"(${GeoOps.SynthLatSql})"
      val lon = s"(${GeoOps.SynthLonSql})"
      s"""WITH geo AS (
         |  SELECT ${GeoOps.geohexSql(lon, lat, 2)} AS hx, user_id
         |  FROM 'events.parquet')
         |SELECT hx, CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS users
         |FROM geo GROUP BY hx ORDER BY n DESC, hx LIMIT 20""".stripMargin
    },
    "j264_esql_grid_fns" -> {
      val lat = GeoOps.SynthLatSql
      val lon = GeoOps.SynthLonSql
      s"""WITH geo AS (
         |  SELECT ${GeoOps.geohashSql(lon, lat, 4)} AS gh,
         |    CONCAT('6/',
         |      CAST(CAST(floor(64 * (($lon) + 180) / 360) AS BIGINT) AS VARCHAR), '/',
         |      CAST(CAST(floor(round(64 * (1 - ln(tan(radians($lat)) + 1/cos(radians($lat))) / pi()) / 2, 6)) AS BIGINT) AS VARCHAR)) AS gt
         |  FROM 'events.parquet')
         |SELECT gh, CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(DISTINCT gt) AS BIGINT) AS tiles
         |FROM geo GROUP BY gh ORDER BY n DESC, gh LIMIT 20""".stripMargin
    },
    "j260_esql_st_distance" ->
      raw"""WITH ${GeoOps.GeoEventsSql},
           |pts AS (
           |  SELECT event_type,
           |    CONCAT('POINT(', CAST(lon AS VARCHAR), ' ', CAST(lat AS VARCHAR), ')') AS p
           |  FROM geo),
           |xy AS (
           |  SELECT event_type,
           |    CAST(regexp_extract(p, 'POINT\(([-+0-9.eE]+) ([-+0-9.eE]+)\)', 1) AS DOUBLE) AS px,
           |    CAST(regexp_extract(p, 'POINT\(([-+0-9.eE]+) ([-+0-9.eE]+)\)', 2) AS DOUBLE) AS py
           |  FROM pts),
           |dist AS (
           |  SELECT event_type, px, py, round(2 * 6371008.7714 * asin(sqrt(
           |    sin(radians(py - 40.7)/2) * sin(radians(py - 40.7)/2) +
           |    cos(radians(40.7)) * cos(radians(py)) *
           |      sin(radians(px - (-74.0))/2) * sin(radians(px - (-74.0))/2))), 6) AS d
           |  FROM xy)
           |SELECT event_type, count(*) AS n, min(d) AS mn_d, max(d) AS mx_d,
           |  min(px) AS mn_x, max(py) AS mx_y
           |FROM dist
           |WHERE py >= 40.7 - 2000000.0 / 111000.0
           |  AND py <= 40.7 + 2000000.0 / 111000.0
           |  AND px >= 0.0 - 74.0 - 2000000.0 / (111000.0 * cos(radians(40.7 + 2000000.0 / 111000.0)))
           |  AND px <= 0.0 - 74.0 + 2000000.0 / (111000.0 * cos(radians(40.7 + 2000000.0 / 111000.0)))
           |  AND d <= 2000000.0
           |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "j257_esql_sample_agg" ->
      """WITH d AS (SELECT lang, source,
        |             md5(CAST(doc_id AS VARCHAR) || '|sample')
        |               || '|' || source AS key
        |           FROM 'documents.parquet')
        |SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  array_to_string(list_transform(list_sort(list(key))[1:3],
        |    x -> x[34:]), ',') AS pick,
        |  array_to_string(list_transform(list_sort(
        |    list(key) FILTER (WHERE source LIKE 'src1%'))[1:2],
        |    x -> x[34:]), ',') AS pick_s1
        |FROM d GROUP BY 1 ORDER BY lang""".stripMargin,
    "j256_esql_mv_math" ->
      """WITH d AS (SELECT label, embedding AS v FROM 'embeddings.parquet'),
        |s AS (SELECT label, list_sort(v) AS sv, list_sort(v, 'DESC') AS dv,
        |             len(v) AS n FROM d),
        |c AS (SELECT label,
        |   round(CAST(sv[CAST(floor(0.9*(n-1)) AS INT)+1] AS DOUBLE)
        |     + (0.9*(n-1) - floor(0.9*(n-1)))
        |       * (CAST(sv[CAST(ceil(0.9*(n-1)) AS INT)+1] AS DOUBLE)
        |          - CAST(sv[CAST(floor(0.9*(n-1)) AS INT)+1] AS DOUBLE)), 6) AS p90,
        |   round(CAST(sv[CAST(floor(0.5*(n-1)) AS INT)+1] AS DOUBLE)
        |     + (0.5*(n-1) - floor(0.5*(n-1)))
        |       * (CAST(sv[CAST(ceil(0.5*(n-1)) AS INT)+1] AS DOUBLE)
        |          - CAST(sv[CAST(floor(0.5*(n-1)) AS INT)+1] AS DOUBLE)), 6) AS p50,
        |   round(list_sum(list_transform(dv,
        |     (x,i) -> CAST(x AS DOUBLE) / pow(CAST(i AS DOUBLE), 1.5))), 6) AS pw,
        |   CAST(label AS VARCHAR) || '  ' || 'x' AS pad
        |  FROM s)
        |SELECT label, CAST(count(*) AS BIGINT) AS n, max(p90) AS mx90,
        |       min(p90) AS mn90, max(p50) AS mx50, max(pw) AS mxpw,
        |       min(pw) AS mnpw, max(pad) AS mxpad
        |FROM c GROUP BY 1 ORDER BY label""".stripMargin,
    "j255_esql_ts_delta" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS t,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
        |             CAST(round(value * 100, 0) AS BIGINT) AS cents
        |           FROM 'events.parquet'),
        |k AS (SELECT *, make_timestamp((epoch_us(t) // 86400000000)
        |                 * 86400000000) AS day FROM e),
        |dl AS (SELECT *, cents - lag(cents) OVER w AS d,
        |         tus - lag(tus) OVER w AS g
        |       FROM k WINDOW w AS (PARTITION BY user_id, event_type, day
        |                           ORDER BY t)),
        |i AS (SELECT user_id, event_type, day,
        |        arg_max(cents, t) - arg_min(cents, t) AS delta,
        |        arg_max(d, t) AS idelta,
        |        sum(CASE WHEN d > 0 THEN d END) AS inc,
        |        CASE WHEN arg_max(d, t) > 0
        |             THEN arg_max(d, t) / (arg_max(g, t) / 1000000.0) END AS ir,
        |        count(DISTINCT cents) AS nd
        |      FROM dl GROUP BY 1, 2, 3)
        |SELECT day, CAST(max(delta) AS BIGINT) AS mxd,
        |       CAST(min(delta) AS BIGINT) AS mnd,
        |       CAST(max(idelta) AS BIGINT) AS mxid,
        |       CAST(sum(inc) AS BIGINT) AS tinc,
        |       round(max(ir), 6) AS mxir,
        |       CAST(sum(nd) AS BIGINT) AS snd
        |FROM i GROUP BY day ORDER BY day LIMIT 20""".stripMargin,
    "j254_esql_show_info" ->
      """SELECT CAST('2024-02-01 00:00:00' AS TIMESTAMP) AS date,
        |       md5('graft-9.1') AS hash,
        |       '9.1.0-graft' AS version,
        |       CAST(9 AS BIGINT) AS major""".stripMargin,
    // the same frequency-keyed extraction: 999−count prefix makes the
    // lexical sort a (count DESC, token ASC) sort, then strip-and-join
    "j253_esql_completion" ->
      """WITH d AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks
        |           FROM 'documents.parquet'),
        |top AS (SELECT doc_id, n_chars, toks FROM d
        |        WHERE list_contains(toks, 'spark')
        |        ORDER BY n_chars DESC, doc_id LIMIT 10),
        |c AS (SELECT doc_id,
        |        array_to_string(
        |          list_transform(
        |            list_sort(list_transform(list_distinct(toks),
        |              t -> printf('%03d', 999 - len(list_filter(toks, x -> x = t))) || t))[1:3],
        |            k -> k[4:]), ' ') AS summary
        |      FROM top)
        |SELECT doc_id, summary, CAST(length(summary) AS BIGINT) AS n_sum
        |FROM c ORDER BY doc_id""".stripMargin,
    "j251_esql_fulltext_ext" ->
      """WITH d AS (SELECT doc_id, lang, source, n_chars, text,
        |             string_split(text, ' ') AS toks FROM 'documents.parquet')
        |SELECT doc_id, lang, source, n_chars FROM d
        |WHERE contains(' ' || text || ' ', ' spark join ')
        |   OR (lang = 'fr' AND NOT starts_with(source, 'src2')
        |       AND (list_contains(toks, 'dup') OR list_contains(toks, 'vector')))
        |ORDER BY doc_id""".stripMargin,
    // the two-level TS rollup: inner per (series dims, day) cell,
    // outer per day — the same epoch-µs BUCKET device as j241
    "j249_esql_ts" ->
      s"""WITH $DailyCentsSql,
         |i AS (SELECT user_id, event_type, day,
         |        max(cents) AS mx, min(cents) AS mn, sum(cents) AS sm,
         |        count(cents) AS cnt, avg(cents) AS av,
         |        arg_min(cents, t) AS fv, arg_max(cents, t) AS lv
         |      FROM k GROUP BY 1, 2, 3)
         |SELECT day, CAST(max(mx) AS BIGINT) AS mx, CAST(min(mn) AS BIGINT) AS mn,
         |       CAST(sum(sm) AS BIGINT) AS tot, CAST(sum(cnt) AS BIGINT) AS nobs,
         |       CAST(count(cnt) AS BIGINT) AS nser, round(max(av), 6) AS mxavg,
         |       CAST(sum(fv) AS BIGINT) AS sfirst, CAST(sum(lv) AS BIGINT) AS slast
         |FROM i GROUP BY day ORDER BY day LIMIT 20""".stripMargin,
    // RATE mirror: lag in ts order within the cell, positive deltas
    // summed (CASE-sum = the null-skipping when() the compiler emits)
    "j250_esql_ts_rate" ->
      s"""WITH $DailyCentsSql,
         |dl AS (SELECT user_id, event_type, day, cents, t,
         |         cents - lag(cents) OVER (PARTITION BY user_id, event_type, day
         |                                  ORDER BY t) AS d
         |       FROM k),
         |i AS (SELECT user_id, event_type, day,
         |        sum(CASE WHEN d > 0 THEN d END) / 86400.0 AS r,
         |        count(cents) AS cnt
         |      FROM dl GROUP BY 1, 2, 3)
         |SELECT day, round(max(r), 6) AS mxr, round(min(r), 6) AS mnr,
         |       CAST(count(r) AS BIGINT) AS nrate, CAST(count(cnt) AS BIGINT) AS nser
         |FROM i GROUP BY day ORDER BY day LIMIT 20""".stripMargin,
    // the hyperbolics/HYPOT are the exact exp/sqrt compositions the
    // compiler emits — same formula, same doubles, not merely 6dp-close
    "j246_esql_trig_inverse" ->
      """WITH e AS (SELECT event_type,
        |             (user_id % 200 - 100) / 100.0 AS x, value AS v
        |           FROM 'events.parquet')
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  min(round(asin(x), 6)) AS mn_as, max(round(asin(x), 6)) AS mx_as,
        |  max(round(acos(x), 6)) AS mx_ac, max(round(atan(v), 6)) AS mx_at,
        |  min(round((exp(x) - exp(-x)) / 2, 6)) AS mn_sh,
        |  max(round((exp(x) + exp(-x)) / 2, 6)) AS mx_ch,
        |  max(round((exp(x * 2) - 1) / (exp(x * 2) + 1), 6)) AS mx_th,
        |  max(round(sqrt(x * x + v * v), 6)) AS mx_hy,
        |  max(round(exp(1.0), 6)) AS e_c,
        |  max(round(pi() * 2, 6)) AS tau_c
        |FROM e GROUP BY 1 ORDER BY event_type""".stripMargin,
    "j247_esql_hash_encode" ->
      """WITH d AS (SELECT lang,
        |             substr(sha256(source), 1, 8) AS h8,
        |             to_base64(CAST(lang AS BLOB)) AS b64,
        |             decode(from_base64(to_base64(CAST(source AS BLOB)))) AS rt,
        |             CAST(bit_length(lang) AS BIGINT) AS bl,
        |             CAST(strlen(text) AS BIGINT) AS byl
        |           FROM 'documents.parquet')
        |SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT h8) AS BIGINT) AS hashes, min(h8) AS mn_h,
        |       min(b64) AS mn_b64, min(rt) AS mn_rt,
        |       min(bl) AS mn_bl, max(byl) AS mx_byl
        |FROM d GROUP BY 1 ORDER BY lang""".stripMargin,
    "j248_esql_round_to_mv" ->
      """WITH d AS (SELECT
        |    CAST(CASE WHEN n_chars >= 500 THEN 500 WHEN n_chars >= 250 THEN 250
        |              WHEN n_chars >= 100 THEN 100 ELSE 0 END AS BIGINT) AS band,
        |    string_split(lang || ' ' || source, ' ') AS a,
        |    string_split('x y', ' ') AS b
        |  FROM 'documents.parquet'),
        |z AS (SELECT band,
        |    array_to_string(list_concat(a, b), ',') AS ap,
        |    array_to_string(list_transform(list_zip(a, b),
        |      p -> p[1] || '-' || p[2]), ',') AS zp
        |  FROM d)
        |SELECT band, ap, zp, CAST(count(*) AS BIGINT) AS n
        |FROM z GROUP BY 1, 2, 3 ORDER BY band, ap LIMIT 30""".stripMargin,
    "j244_esql_first_last" ->
      """WITH e AS (SELECT event_type, user_id, CAST(ts AS TIMESTAMP) AS t,
        |             CAST(round(value * 100, 0) AS BIGINT) AS cents
        |           FROM 'events.parquet')
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(arg_min(cents, t) AS BIGINT) AS first_cents,
        |       CAST(arg_max(cents, t) AS BIGINT) AS last_cents,
        |       CAST(arg_min(user_id, t) AS BIGINT) AS first_user,
        |       CAST(arg_max(user_id, t) AS BIGINT) AS last_user,
        |       CAST(arg_max(cents, t) FILTER (WHERE cents >= 5000) AS BIGINT)
        |         AS last_big
        |FROM e GROUP BY 1 ORDER BY event_type""".stripMargin,
    // the retrieve CTE mirrors the pushed MATCH + TakeOrdered cut; the
    // overlap scorer is the same three list_contains memberships
    "j245_esql_rerank" ->
      """WITH d AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks
        |           FROM 'documents.parquet'),
        |top AS (SELECT doc_id, n_chars, toks FROM d
        |        WHERE list_contains(toks, 'spark')
        |        ORDER BY n_chars DESC, doc_id LIMIT 20),
        |r AS (SELECT doc_id, n_chars,
        |        CAST(list_contains(toks, 'dup') AS INT) +
        |        CAST(list_contains(toks, 'vector') AS INT) +
        |        CAST(list_contains(toks, 'join') AS INT) AS ov
        |      FROM top)
        |SELECT doc_id, n_chars, CAST(ov AS BIGINT) AS _rerank,
        |       CAST(row_number() OVER (ORDER BY ov DESC, doc_id) AS BIGINT)
        |         AS new_rank
        |FROM r ORDER BY new_rank LIMIT 10""".stripMargin,
    // epoch-µs floor division to the 3h width, back through
    // make_timestamp — the same exact integer arithmetic the compiler
    // emits (µs TimestampNTZ ≡ DuckDB TIMESTAMP under UTC)
    "j241_esql_bucket_duration" ->
      """SELECT make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 10800000000)
        |         * 10800000000) AS b3h,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM 'events.parquet'
        |WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY b3h LIMIT 40""".stripMargin,
    // branch ranks in two CTEs, RRF summed through the
    // list_sum(list_sort(list(…))) mirror of Parity.sortedFoldSum
    "j242_esql_fuse" ->
      """WITH d AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks
        |           FROM 'documents.parquet'),
        |f1 AS (SELECT doc_id, n_chars AS score FROM d
        |       WHERE list_contains(toks, 'spark')
        |       ORDER BY score DESC, doc_id LIMIT 20),
        |f2 AS (SELECT doc_id, -doc_id AS score FROM d
        |       WHERE list_contains(toks, 'dup')
        |       ORDER BY score DESC, doc_id LIMIT 20),
        |u AS (SELECT 'fork1' AS _fork, * FROM f1
        |      UNION ALL SELECT 'fork2' AS _fork, * FROM f2),
        |r AS (SELECT _fork, doc_id, row_number() OVER (PARTITION BY _fork
        |        ORDER BY score DESC, doc_id) AS rnk FROM u)
        |SELECT doc_id,
        |       floor(list_sum(list_sort(list(1.0 / (60 + rnk)))) * 1000000 + 0.5)
        |         / 1000000.0 AS fuse_score,
        |       CAST(count(*) AS BIGINT) AS fuse_branches
        |FROM r GROUP BY 1 ORDER BY fuse_score DESC, doc_id LIMIT 15""".stripMargin,
    // pi()-arithmetic conversions (x/180·π, x·180/π) mirror Java's
    // toRadians/toDegrees bit-for-bit; libm outputs reach STATS only
    // via MIN/MAX after the 6dp round
    "j243_esql_trig" ->
      """WITH e AS (SELECT event_type, user_id, value,
        |             (user_id % 360) / 180.0 * pi() AS rad
        |           FROM 'events.parquet'),
        |t AS (SELECT event_type,
        |        round(sin(rad), 6) AS sn, round(cos(rad), 6) AS cs,
        |        round(tan((user_id % 80) / 180.0 * pi()), 6) AS tn,
        |        round(atan2(value, 1 + user_id % 10), 6) AS at2,
        |        round(cbrt(value), 6) AS cb,
        |        round(pi() * 2, 6) AS pi2,
        |        round(rad * 180.0 / pi(), 6) AS bak
        |      FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       min(sn) AS mn_sn, max(sn) AS mx_sn,
        |       min(cs) AS mn_cs, max(cs) AS mx_cs,
        |       max(tn) AS mx_tn, max(at2) AS mx_at, max(cb) AS mx_cb,
        |       max(pi2) AS mx_pi, max(bak) AS mx_bak
        |FROM t GROUP BY 1 ORDER BY event_type""".stripMargin,
    // the MAD two-pass mirrored as a median CTE joined back; FILTER on
    // both the first-pass median and the deviation quantile, exactly as
    // the compiler threads the per-aggregate WHERE through the rewrite
    "j236_esql_stats_ext" ->
      """WITH e AS (SELECT event_type, user_id,
        |             CAST(round(value * 100, 0) AS BIGINT) AS cents
        |           FROM 'events.parquet'),
        |med AS (SELECT event_type,
        |          quantile_cont(cents, 0.5) AS med_all,
        |          quantile_cont(cents, 0.5) FILTER (WHERE cents >= 5000)
        |            AS med_big
        |        FROM e GROUP BY 1)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
        |       round(stddev_pop(cents), 6) AS sd,
        |       round(stddev_pop(cents) FILTER (WHERE cents >= 5000), 6)
        |         AS sd_big,
        |       round(quantile_cont(abs(cents - med_all), 0.5), 6) AS mad,
        |       round(quantile_cont(abs(cents - med_big), 0.5)
        |               FILTER (WHERE cents >= 5000), 6) AS mad_big,
        |       array_to_string(list_sort(list_distinct(list(user_id % 7))), ',')
        |         AS vals
        |FROM e JOIN med USING (event_type)
        |GROUP BY 1 ORDER BY event_type""".stripMargin,
    "j237_esql_scalars_ext" ->
      """WITH d AS (SELECT rtrim(ltrim('  ' || lang || '  ')) AS trimmed,
        |             repeat(substring(source, 1, 4), 2) AS tag,
        |             round(log(2, n_chars), 6) AS lg2,
        |             round(ln(n_chars), 6) AS ln_c,
        |             CAST(sign(n_chars - 500) AS BIGINT) AS sg,
        |             substring(md5(source), 1, 8) AS h8
        |           FROM 'documents.parquet')
        |SELECT trimmed, tag, CAST(count(*) AS BIGINT) AS n,
        |       max(lg2) AS mx_lg, min(lg2) AS mn_lg, max(ln_c) AS mx_ln,
        |       CAST(sum(sg) AS BIGINT) AS sum_sg,
        |       CAST(count(DISTINCT h8) AS BIGINT) AS hashes,
        |       min(h8) AS mn_h
        |FROM d GROUP BY 1, 2 ORDER BY trimmed, tag LIMIT 30""".stripMargin,
    // same literal vector (dyadic-exact) and fold order as the Spark
    // stage; qnorm's radicand is the exact 7.875, so sqrt agrees bitwise
    "j281_esql_knn" ->
      s"""WITH sc AS (SELECT vec_id, label,
         |  (1.0 + (list_sum(list_transform(generate_series(1, 64), i ->
         |     CAST(embedding[i] AS DOUBLE) *
         |     ([${KnnQv.mkString(", ")}])[i])) /
         |   (sqrt(list_sum(list_transform(generate_series(1, 64), i ->
         |      CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) *
         |    sqrt(${KnnQv.map(v => v * v).sum})))) / 2.0 AS score
         |  FROM 'embeddings.parquet'),
         |top AS (SELECT vec_id, label, score FROM sc
         |        ORDER BY round(score, 6) DESC, vec_id ASC LIMIT 10)
         |SELECT vec_id, label, round(score, 6) AS s
         |FROM top ORDER BY s DESC, vec_id""".stripMargin,
    // the double fold (list_transform → list_sum) is the VectorOps
    // parity device; the median picks the two 1-based middles ⌈n/2⌉ and
    // ⌊n/2⌋+1 of the sorted list — same elements both engines
    "j238_esql_mv_arith" ->
      """WITH t AS (SELECT label,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS lt
        |           FROM 'embeddings.parquet'),
        |e AS (SELECT label, round(list_sum(lt), 6) AS s,
        |        round(list_sum(lt) / len(lt), 6) AS a,
        |        round((list_sort(lt)[(len(lt)+1)//2] +
        |               list_sort(lt)[len(lt)//2+1]) / 2.0, 6) AS m
        |      FROM t)
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |       max(s) AS mx_s, min(s) AS mn_s, max(a) AS mx_a,
        |       max(m) AS mx_m, min(m) AS mn_m
        |FROM e GROUP BY 1 ORDER BY label""".stripMargin,
    "j239_esql_row" ->
      """SELECT CAST(1 AS BIGINT) AS a, 'two' AS b, CAST(2.5 AS DOUBLE) AS c,
        |       CAST(11 AS BIGINT) AS d, 'TWO' AS up,
        |       CAST(5.0 AS DOUBLE) AS r, CAST(3.0 AS DOUBLE) AS lg,
        |       CAST(-1 AS BIGINT) AS sg""".stripMargin,
    "j235_esql_categorize" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |             array_to_string(string_split(text, ' ')[1:3], ' ')
        |               AS cat
        |           FROM 'documents.parquet')
        |SELECT cat, CAST(count(*) AS BIGINT) AS docs,
        |       CAST(min(doc_id) AS BIGINT) AS example_doc,
        |       CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM d GROUP BY 1 ORDER BY docs DESC, cat LIMIT 15""".stripMargin,
    "j234_esql_math" ->
      """WITH e AS (SELECT event_type, user_id,
        |             CAST(round(value * 100, 0) AS BIGINT) AS cents
        |           FROM 'events.parquet'),
        |m AS (SELECT event_type,
        |        CAST(floor(cents / 100.0) AS BIGINT) AS whole,
        |        CAST(ceil(cents / 100.0) AS BIGINT) AS whole_up,
        |        round(sqrt(cents), 6) AS rt,
        |        round(pow(cents, 0.3), 6) AS pw,
        |        round(log10(1 + cents), 6) AS lg,
        |        greatest(user_id % 7, user_id % 5) AS g,
        |        least(user_id % 7, user_id % 5) AS l
        |      FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(whole) AS BIGINT) AS sum_whole,
        |       CAST(sum(whole_up) AS BIGINT) AS sum_up,
        |       min(rt) AS mn_rt, max(rt) AS mx_rt,
        |       max(pw) AS mx_pw, max(lg) AS mx_lg,
        |       CAST(sum(g) AS BIGINT) AS sum_g,
        |       CAST(sum(l) AS BIGINT) AS sum_l
        |FROM m GROUP BY 1 ORDER BY event_type""".stripMargin,
    "j229_esql_mv_position" ->
      """WITH t AS (SELECT lang, string_split(text, ' ') AS toks
        |           FROM 'documents.parquet'),
        |e AS (SELECT lang,
        |        array_to_string(list_sort(toks)[1:3], '-') AS low3,
        |        toks[1] AS first_tok, toks[-1] AS last_tok
        |      FROM t)
        |SELECT lang, low3, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT first_tok) AS BIGINT) AS firsts,
        |       CAST(count(DISTINCT last_tok) AS BIGINT) AS lasts
        |FROM e GROUP BY 1, 2 ORDER BY n DESC, lang, low3 LIMIT 25""".stripMargin,
    "j230_esql_top" ->
      """WITH e AS (SELECT event_type,
        |             CAST(round(value * 100, 0) AS BIGINT) AS cents
        |           FROM 'events.parquet')
        |SELECT event_type,
        |       array_to_string(list_transform(
        |         list_reverse_sort(list(cents))[1:3],
        |         x -> CAST(x AS VARCHAR)), ',') AS top3,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM e GROUP BY 1 ORDER BY event_type""".stripMargin,
    "j231_esql_fulltext" ->
      """WITH d AS (SELECT source, n_chars, lang,
        |             string_split(text, ' ') AS toks
        |           FROM 'documents.parquet')
        |SELECT source, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM d
        |WHERE ((list_contains(toks, 'spark')
        |        AND NOT starts_with(source, 'src1'))
        |       OR list_contains(toks, 'dup'))
        |  AND list_contains(toks, 'join') AND lang = 'en'
        |GROUP BY 1 ORDER BY n DESC, source LIMIT 15""".stripMargin,
    // `//` (floor division) over epoch_us mirrors the compiler's exact
    // integer-µs arithmetic; ages are non-negative by the pinned-NOW
    // construction, so floor == ES's truncation toward zero
    "j223_esql_date_diff" ->
      """WITH e AS (SELECT
        |    (epoch_us(TIMESTAMP '2024-02-01 00:00:00') -
        |     epoch_us(CAST(ts AS TIMESTAMP))) // 86400000000 AS age_d,
        |    (epoch_us(TIMESTAMP '2024-02-01 00:00:00') -
        |     epoch_us(CAST(ts AS TIMESTAMP))) // 3600000000 AS age_h,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM 'events.parquet' WHERE event_type = 'purchase')
        |SELECT age_d, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(cents) AS BIGINT) AS cents,
        |       CAST(min(age_h) AS BIGINT) AS min_h,
        |       CAST(max(age_h) AS BIGINT) AS max_h
        |FROM e GROUP BY 1 ORDER BY age_d""".stripMargin,
    "j224_esql_date_fns" ->
      """WITH e AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day_str,
        |             isodow(CAST(ts AS TIMESTAMP)) AS dow,
        |             hour(CAST(ts AS TIMESTAMP)) AS hr
        |           FROM 'events.parquet'),
        |f AS (SELECT day_str, dow, strptime(day_str, '%Y-%m-%d') AS day2
        |      FROM e WHERE hr >= 6 AND hr < 18)
        |SELECT CAST(dow AS BIGINT) AS dow, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT day_str) AS BIGINT) AS days,
        |       min(day2) AS first_day
        |FROM f GROUP BY 1 ORDER BY dow""".stripMargin,
    "j225_esql_multi_index" ->
      """WITH u AS (
        |  SELECT 'events' AS _index, event_type, value,
        |         CAST(NULL AS BIGINT) AS ts_us
        |  FROM 'events.parquet'
        |  UNION ALL
        |  SELECT 'events_us' AS _index, event_type, value,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM 'events.parquet')
        |SELECT _index, event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS sum_cents,
        |       CAST(count(ts_us) AS BIGINT) AS us_rows
        |FROM u WHERE value >= 250
        |GROUP BY 1, 2 ORDER BY _index, event_type""".stripMargin,
    // scaled-integer CUSUM (cnt·prefix − rn·total) mirrors the stage
    // compiler exactly; the one double division happens only on the
    // reported stat, after the integer argmax
    "j226_esql_change_point" ->
      """WITH h AS (SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
        |                        AS TIMESTAMP) AS day,
        |             CAST(count(*) AS BIGINT) AS n
        |           FROM 'events.parquet' WHERE event_type = 'purchase'
        |           GROUP BY 1),
        |c AS (SELECT day, n,
        |        sum(n) OVER (ORDER BY day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre,
        |        sum(n) OVER () AS tot, count(*) OVER () AS cnt,
        |        row_number() OVER (ORDER BY day) AS rn
        |      FROM h),
        |s AS (SELECT day, n, cnt, abs(cnt * pre - rn * tot) AS sc FROM c),
        |m AS (SELECT day AS cp_day, sc AS cp_sc, cnt AS cp_cnt
        |      FROM s ORDER BY sc DESC, day ASC LIMIT 1)
        |SELECT day, n,
        |       CASE WHEN day = cp_day THEN 'step_change' END AS cp_type,
        |       CASE WHEN day = cp_day
        |            THEN floor(CAST(sc AS DOUBLE) / cnt * 1000000 + 0.5) / 1000000.0 END AS cp_stat
        |FROM s, m ORDER BY day""".stripMargin,
    "j188_esql" ->
      """SELECT user_id % 10 AS band, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS sum_cents,
        |       CAST(max(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS max_cents
        |FROM 'events.parquet'
        |WHERE event_type = 'purchase' AND value >= 10
        |GROUP BY 1 ORDER BY sum_cents DESC, band ASC LIMIT 5""".stripMargin,
    // TRY_CAST, not CAST (r8 review): Spark's TO_LONG yields null on a
    // non-numeric extraction and the row is filtered, while DuckDB's
    // CAST would ERROR — TRY_CAST restores the same degrade-to-null
    // behavior should the fixture invariant (see dissectToRegex) break
    "j194_esql_dissect_grok" ->
      """WITH d AS (
        |  SELECT TRY_CAST(regexp_extract(source, '^src(.*?)$', 1) AS BIGINT)
        |           AS idx_n,
        |         regexp_extract(text, '(\w+) (\w+)', 1) AS w1,
        |         regexp_extract(text, '(\w+) (\w+)', 2) AS w2,
        |         n_chars
        |  FROM 'documents.parquet')
        |SELECT w1, idx_n, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(n_chars) AS BIGINT) AS chars,
        |       CAST(sum(length(w2)) AS BIGINT) AS nl
        |FROM d WHERE idx_n % 2 = 0
        |GROUP BY 1, 2 ORDER BY n DESC, w1, idx_n LIMIT 25""".stripMargin,
    "j195_esql_mv_expand" ->
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
        |           FROM 'documents.parquet')
        |SELECT tok, lang, CAST(count(*) AS BIGINT) AS n
        |FROM t GROUP BY 1, 2 ORDER BY n DESC, tok, lang LIMIT 30""".stripMargin,
    "j200_esql_lookup_join" ->
      """SELECT n_name, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS bal_cents
        |FROM 'customer.parquet' JOIN 'nation.parquet' ON c_nationkey = n_nationkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY cnt DESC, n_name LIMIT 10""".stripMargin,
    "j201_esql_enrich" ->
      """SELECT n_name, n_regionkey, CAST(count(*) AS BIGINT) AS clicks,
        |       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
        |FROM 'events.parquet' e JOIN 'nation.parquet' n
        |  ON e.user_id % 25 = n.n_nationkey
        |WHERE event_type = 'click'
        |GROUP BY 1, 2 ORDER BY clicks DESC, n_name LIMIT 12""".stripMargin,
    "j208_esql_stats_where" ->
      """WITH e AS (SELECT event_type,
        |             CAST(round(value * 100, 0) AS BIGINT) AS cents
        |           FROM 'events.parquet')
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_all,
        |       CAST(count(*) FILTER (WHERE cents >= 5000) AS BIGINT) AS n_big,
        |       CAST(sum(cents) FILTER (WHERE cents >= 5000) AS BIGINT) AS big_cents,
        |       CAST(max(cents) FILTER (WHERE cents < 5000) AS BIGINT) AS mx_small
        |FROM e GROUP BY 1 ORDER BY event_type""".stripMargin,
    "j209_esql_inlinestats" ->
      """WITH w AS (SELECT event_type,
        |             CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |             max(CAST(round(value * 100, 0) AS BIGINT))
        |               OVER (PARTITION BY user_id, event_type) AS mx
        |           FROM 'events.parquet')
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_peaks,
        |       CAST(sum(cents) AS BIGINT) AS peak_cents
        |FROM w WHERE cents = mx GROUP BY 1 ORDER BY event_type""".stripMargin,
    "j222_esql_cidr" ->
      """WITH e AS (SELECT event_type,
        |             10 * 16777216 + (user_id % 4) * 65536 +
        |               (user_id % 256) * 256 + (user_id * 7 % 256) AS ipn,
        |             CAST(round(value * 100, 0) AS BIGINT) AS cents
        |           FROM 'events.parquet'),
        |b AS (SELECT event_type, cents,
        |        CASE WHEN (ipn >= 167903232 AND ipn < 168034304)
        |               OR (ipn >= 167773184 AND ipn < 167774208)
        |             THEN 'in' ELSE 'out' END AS net
        |      FROM e)
        |SELECT net, event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(cents) AS BIGINT) AS cents
        |FROM b GROUP BY 1, 2 ORDER BY net, event_type""".stripMargin,
    "j221_esql_weighted_avg" ->
      """WITH e AS (SELECT event_type,
        |             CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |             user_id + 1 AS w
        |           FROM 'events.parquet')
        |SELECT event_type,
        |       round(CAST(sum(cents * w) AS DOUBLE) /
        |             CAST(sum(w) AS DOUBLE), 6) AS wavg,
        |       round(CAST(sum(cents * w) FILTER (WHERE cents >= 5000) AS DOUBLE) /
        |             CAST(sum(w) FILTER (WHERE cents >= 5000) AS DOUBLE), 6)
        |         AS wavg_big,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM e GROUP BY 1 ORDER BY event_type""".stripMargin,
    "j220_esql_bucket" ->
      """WITH e AS (SELECT CAST(round(value * 100, 0) AS BIGINT) AS cents
        |           FROM 'events.parquet')
        |SELECT CAST(floor((cents - 0) / 2500) AS BIGINT) * 2500 + 0 AS b,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM e GROUP BY 1 ORDER BY b""".stripMargin,
    "j219_esql_stats_fns" ->
      """WITH e AS (SELECT event_type, user_id,
        |             CAST(round(value * 100, 0) AS BIGINT) AS cents
        |           FROM 'events.parquet')
        |SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS users,
        |       round(quantile_cont(cents, 0.5), 6) AS p50,
        |       round(quantile_cont(cents, 0.9), 6) AS p90,
        |       round(quantile_cont(cents, 0.5), 6) AS med
        |FROM e GROUP BY 1 ORDER BY event_type""".stripMargin,
    "j218_esql_mv" ->
      """WITH t AS (SELECT lang, string_split(text, ' ') AS toks
        |           FROM 'documents.parquet'),
        |e AS (SELECT lang, len(toks) AS n_toks,
        |        len(list_distinct(toks)) AS n_uniq,
        |        list_min(toks) AS first_tok FROM t)
        |SELECT lang, first_tok, CAST(count(*) AS BIGINT) AS docs,
        |       CAST(sum(n_toks) AS BIGINT) AS sum_toks,
        |       CAST(sum(n_uniq) AS BIGINT) AS sum_uniq
        |FROM e WHERE n_toks >= 40
        |GROUP BY 1, 2 ORDER BY docs DESC, lang, first_tok LIMIT 25""".stripMargin,
    "j217_esql_strings" ->
      """SELECT upper(lang) AS up, substring(text, 1, 1) AS head,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM 'documents.parquet'
        |WHERE starts_with(source, 'src1') AND NOT ends_with(source, '3')
        |GROUP BY 1, 2 ORDER BY n DESC, up, head LIMIT 20""".stripMargin,
    "j215_esql_fork" ->
      """WITH e AS (SELECT event_type, user_id, ts,
        |             CAST(round(value * 100, 0) AS BIGINT) AS cents
        |           FROM 'events.parquet'),
        |f1 AS (SELECT user_id % 5 AS band, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(cents) AS BIGINT) AS m
        |       FROM e WHERE event_type = 'purchase' GROUP BY 1),
        |f2 AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
        |         CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS m
        |       FROM e WHERE event_type = 'click'
        |       GROUP BY 1 ORDER BY hour LIMIT 10)
        |SELECT band, n, m, 'fork1' AS _fork, CAST(NULL AS TIMESTAMP) AS hour
        |FROM f1
        |UNION ALL
        |SELECT CAST(NULL AS BIGINT) AS band, n, m, 'fork2' AS _fork, hour
        |FROM f2
        |ORDER BY _fork, band, hour""".stripMargin,
    "j211_esql_date_trunc" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |FROM 'events.parquet'
        |WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY hour LIMIT 48""".stripMargin,
    "j212_esql_case" ->
      """WITH e AS (SELECT coalesce(n.n_name, 'unknown') AS nation,
        |             CASE WHEN value < 10 THEN 'low'
        |                  WHEN value < 100 THEN 'mid'
        |                  ELSE 'high' END AS band
        |           FROM 'events.parquet' ev
        |           LEFT JOIN 'nation.parquet' n
        |             ON ev.user_id * 7 % 100 = n.n_nationkey)
        |SELECT nation, band, CAST(count(*) AS BIGINT) AS n
        |FROM e GROUP BY 1, 2 ORDER BY nation, band LIMIT 40""".stripMargin,
    "j213_esql_drop_rename" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(max(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS mx
        |FROM 'events.parquet'
        |WHERE value >= 100
        |GROUP BY 1 ORDER BY event_type""".stripMargin,
    "j214_esql_like_in" ->
      """SELECT source, lang, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM 'documents.parquet'
        |WHERE source LIKE 'src1%' AND lang IN ('en', 'de')
        |GROUP BY 1, 2 ORDER BY source, lang""".stripMargin,
    "j210_esql_sample" -> {
      val nib = Hashing.duckNibble("md5('sample:' || CAST(event_id AS VARCHAR))")
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n_sampled,
         |       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
         |         AS cents_sampled
         |FROM 'events.parquet'
         |WHERE $nib / 65536.0 < 0.25
         |GROUP BY 1 ORDER BY event_type""".stripMargin
    })
}
