package graft.docs

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Elasticsearch SQL (`_sql`, the x-pack SQL endpoint) — the fourth and
  * last of ES's query languages (Query DSL, EQL, ES|QL, SQL), closing the
  * language surface.
  *
  * ES itself executes `_sql` by translating to the same search/agg
  * backend its other languages use; this engine does exactly that:
  * `translate` rewrites the SQL string SOURCE-TO-SOURCE into an ES|QL
  * pipe and hands it to `Esql.run`, so SQL inherits the whole compiled
  * surface — analyzed `MATCH()`, exact-decimal SUM/AVG, `BUCKET`
  * bucketing, bounded SORT+LIMIT — and every query stays ONE Catalyst
  * plan (pushed filters, one hash agg, TakeOrderedAndProject). No second
  * execution path exists to drift.
  *
  * Supported (the ES SQL SELECT core): `SELECT items FROM idx [WHERE e]
  * [GROUP BY keys] [HAVING e] [ORDER BY k [ASC|DESC], ...] [LIMIT n]
  * [OFFSET m]` with `MATCH(field, 'query')` full-text predicates,
  * `SCORE()` (rewritten to ES|QL's `METADATA _score` — the engine's
  * integer matched-term-count relevance, usable in SELECT and ORDER BY),
  * `SELECT *` (expanded at translate time into an explicit column list
  * from the registered source schema — schema expansion, not a new
  * execution path), `HISTOGRAM(col, interval)` group keys (ES SQL's
  * fixed-interval bucketing = ES|QL `BUCKET`, both floor(x/span)*span),
  * `COUNT(DISTINCT x)` → `COUNT_DISTINCT(x)`, SQL `LIKE` patterns
  * (`%`/`_` wildcards → ES|QL `*`/`?`), `[NOT] BETWEEN` (rewritten
  * to the comparison pair — ES|QL has no BETWEEN), `CAST(x AS type)`
  * (rewritten to TO_LONG/TO_DOUBLE/TO_STRING), GROUP BY / ORDER BY
  * ordinals (1-based SELECT item references — Kibana emits `GROUP BY 1`),
  * HAVING and ORDER BY on aggregate CALLS whether or not they are
  * SELECTed (each lifts to a STATS entry, synthetic `_hN` when
  * unselected, shared between the two clauses — so
  * `HAVING SUM(a) / SUM(b) > 2` is post-agg arithmetic and
  * `ORDER BY SUM(v) DESC` sorts on the lifted column, not a reject),
  * and the ES SQL date extract scalars YEAR/MONTH[_OF_YEAR]/
  * DAY[_OF_MONTH|_OF_WEEK|_OF_YEAR]/HOUR/MINUTE/SECOND/QUARTER (→
  * `DATE_EXTRACT` parts; ISO day-of-week, Monday = 1; WEEK_OF_YEAR
  * rejects loudly — locale-rule-dependent numbering). The aggregate set
  * covers the full ES SQL tail: SUM/AVG/MIN/MAX/COUNT[(DISTINCT)]/
  * MEDIAN/PERCENTILE/STD_DEV plus FIRST/LAST (a.k.a. FIRST_VALUE/
  * LAST_VALUE — value at min/max of the ordering field, deterministic
  * tie-break by value), KURTOSIS/SKEWNESS (population moments, the
  * matrix_stats shape) and PERCENTILE_RANK (exact empirical CDF).
  * `SELECT TOP n` is the LIMIT alias (Kibana emits it; combining both
  * rejects, the real ES error), and INTERVAL date arithmetic
  * (`ts + INTERVAL 1 DAY`, `- INTERVAL n unit` chains, quoted or bare
  * quantities) lowers onto the DATE_ADD scalar — exact micros math for
  * fixed units, calendar-aware months/years. DATE_ADD itself (and its
  * DATEADD/TIMESTAMP_ADD spellings) is also callable directly.
  * `TIMESTAMP '...'`/`DATE '...'` literals fold at translate time to
  * epoch-micros constants on the UTC timeline (a Kibana date-range
  * predicate is one pushed long comparison, never a per-row parse).
  * Dialect mapping is
  * purely lexical: `=`→`==`, `<>`→`!=`, `'str'`→`"str"`, and
  * `TRUE`/`FALSE` pass through as ES|QL boolean literals. The catalog
  * commands Kibana's SQL editor issues — `SHOW TABLES`, `DESCRIBE idx`
  * (and its alias `SHOW COLUMNS FROM/IN idx`) — answer from the
  * registered schemas driver-side (zero scan cost). `OFFSET m` (ES SQL's
  * `from` paging) requires ORDER BY (a page of an unordered result is
  * meaningless) and applies AFTER the bounded sort — `LIMIT n OFFSET m`
  * plans as one TakeOrderedAndProject of n+m rows, then drops m.
  * In the row path ORDER BY may reference any source column, not just
  * SELECT items (the SQL contract): SORT runs before the final KEEP.
  *
  * Deliberate v1 bounds, all rejected with a named reason at parse time
  * (never silently wrong): `SELECT DISTINCT`, subqueries, JOIN/UNION,
  * unaliased computed select items (ES SQL's auto-generated column
  * headers would make oracle column naming ambiguous), and compound
  * aggregate expressions in SELECT (`SUM(a)/SUM(b)` — ES SQL itself
  * computes these client-side from two aggs; in HAVING they work via the
  * lift). `SELECT *` without a registered schema (pure string-to-string
  * translate) also rejects.
  *
  * Reference: the `_sql` endpoint is public ES x-pack surface (ES docs
  * "SQL"); the reference repo queries ES only through the Query DSL
  * (README.md:67-147), so SQL here is reference-adjacent closure, same
  * class as EQL/ES|QL. */
object EsSql {

  // ---------------------------------------------------------- tokens
  import Lex.{Tok, isKw, Id => SId, Num => SNum, Str => SStr, Op => SOp}

  private val tokenize = new Lex.Lexer("es-sql", sqlQuotes = true,
    Seq("<>", "<=", ">=", "!=", "||", "<", ">", "+", "-", "*", "/", "%", "(", ")", ",", "="),
    signedNums = false)

  private def reject(why: String): Nothing =
    throw new IllegalArgumentException(s"es-sql: unsupported: $why")

  /** The tokens after an opening parenthesis, split at the one that
    * closes it; `unbalanced` is the rejection when none does. */
  private def group(ts: List[Tok], unbalanced: String): (List[Tok], List[Tok]) =
    Lex.closing(ts).getOrElse(reject(unbalanced))

  // ------------------------------------------------- clause splitting
  /** Split the top-level token stream into SELECT/FROM/WHERE/GROUP BY/
    * HAVING/ORDER BY/LIMIT clause bodies (paren depth 0 only, so function
    * arguments never shadow clause keywords). */
  private def clauses(ts: List[Tok]): Map[String, List[Tok]] = {
    val heads = Set("SELECT", "FROM", "WHERE", "GROUP", "HAVING", "ORDER",
      "LIMIT", "OFFSET")
    val out = scala.collection.mutable.LinkedHashMap[String, List[Tok]]()
    var cur: Option[String] = None
    var buf = scala.collection.mutable.ListBuffer[Tok]()
    var depth = 0
    def flush(): Unit = cur.foreach { c =>
      if (out.contains(c)) reject(s"duplicate $c clause")
      out(c) = buf.toList; buf = scala.collection.mutable.ListBuffer[Tok]()
    }
    var rest = ts
    while (rest.nonEmpty) {
      val t = rest.head
      t match {
        case SOp("(") => depth += 1; buf += t
        case SOp(")") => depth -= 1; buf += t
        case SId(s) if depth == 0 && heads.contains(s.toUpperCase) =>
          val kw = s.toUpperCase
          flush()
          cur = Some(kw)
          if (kw == "GROUP" || kw == "ORDER") {
            rest = rest.tail
            if (rest.isEmpty || !isKw(rest.head, "BY"))
              reject(s"$kw must be followed by BY")
          }
        case SId(s) if depth == 0 &&
          Set("JOIN", "UNION", "DISTINCT", "PIVOT").contains(s.toUpperCase) =>
          reject(s"${s.toUpperCase} (ES SQL v1 covers the single-index SELECT core)")
        case _ => buf += t
      }
      rest = rest.tail
    }
    flush()
    if (!out.contains("SELECT")) reject("query must start with SELECT")
    if (!out.contains("FROM")) reject("missing FROM")
    out.toMap
  }

  /** Split a clause body on top-level commas. */
  private def commaSplit(ts: List[Tok]): List[List[Tok]] = {
    val parts = Lex.splitTop(ts)(_ == SOp(","))
    if (parts.last.isEmpty) parts.init else parts
  }

  // --------------------------------------------- expression re-emission
  /** Re-emit a SQL expression token stream as ES|QL text. Lexical dialect
    * map only — no reassociation, so operator precedence (identical in
    * both grammars) is preserved verbatim. A string literal directly
    * after LIKE converts SQL wildcards (% _) to ES|QL's (* ?). */
  /** ES SQL function names whose ES|QL spelling differs — renamed only
    * when actually CALLED (an identifier followed by `(`), so a column
    * that happens to be named `ucase` passes through untouched. */
  private val FnRename = Map(
    "UCASE" -> "TO_UPPER", "LCASE" -> "TO_LOWER", "CHAR_LENGTH" -> "LENGTH",
    "OCTET_LENGTH" -> "BYTE_LENGTH",
    // conditionals: IIF(c,t,f) is ES|QL's variadic CASE with a default;
    // IFNULL/ISNULL/NVL are ES SQL's two-arg COALESCE spellings
    "IIF" -> "CASE", "IFNULL" -> "COALESCE", "ISNULL" -> "COALESCE",
    "NVL" -> "COALESCE",
    // ES SQL spells FIRST/LAST with _VALUE synonyms; the engine's STATS
    // agg is named FIRST/LAST (DATEADD/TIMESTAMP_ADD ride DATE_ADD's
    // shared (unit, n, ts) signature)
    "FIRST_VALUE" -> "FIRST", "LAST_VALUE" -> "LAST",
    "DATEADD" -> "DATE_ADD", "TIMESTAMP_ADD" -> "DATE_ADD",
    "TIMESTAMPADD" -> "DATE_ADD")

  private def emit(ts: List[Tok]): String = {
    val sb = new StringBuilder
    var prevLike = false
    ts.zipWithIndex.foreach { case (t, idx) =>
      if (sb.nonEmpty) sb.append(' ')
      t match {
        case SId(s) =>
          // well-formed SCORE() was rewritten to _score before clause
          // parsing; a SCORE that survives here carried arguments
          if (s.equalsIgnoreCase("SCORE"))
            reject("SCORE with arguments (use SCORE())")
          if (s.contains("\"")) reject("quoted identifiers")
          val isCall = ts.lift(idx + 1).contains(SOp("("))
          sb.append(
            if (isCall) FnRename.getOrElse(s.toUpperCase, s) else s)
          prevLike = s.equalsIgnoreCase("LIKE")
        case SNum(s) => sb.append(s); prevLike = false
        case SStr(s) =>
          val body =
            if (prevLike) {
              if (s.contains("*") || s.contains("?"))
                reject(s"literal * or ? inside a LIKE pattern ('$s')")
              s.replace('%', '*').replace('_', '?')
            } else s
          sb.append('"')
            .append(body.replace("\\", "\\\\").replace("\"", "\\\""))
            .append('"')
          prevLike = false
        case SOp("=") => sb.append("=="); prevLike = false
        case SOp("<>") => sb.append("!="); prevLike = false
        case SOp(s) => sb.append(s); prevLike = false
      }
    }
    sb.toString
  }

  /** Canonical key for expression-equality checks (matching an ORDER BY /
    * GROUP BY expression to a SELECT item): function-CALL names and SQL
    * keywords fold to upper case — ES SQL is case-insensitive on both, so
    * `ORDER BY count(distinct tag)` must match
    * `SELECT COUNT(DISTINCT tag) AS a` — while column identifiers and
    * literals stay exact (ES field names are case-sensitive; folding them
    * could bind f(a) to a different f(A)). */
  private val CanonKws = Set("DISTINCT", "AND", "OR", "NOT", "LIKE", "IS",
    "NULL", "TRUE", "FALSE")
  private def canonKey(ts: List[Tok]): String =
    emit(ts.zipWithIndex.map {
      case (SId(s), i) if ts.lift(i + 1).contains(SOp("(")) ||
        CanonKws.contains(s.toUpperCase) => SId(s.toUpperCase)
      case (t, _) => t
    })

  // -------------------------------------------------- select items
  private final case class Item(expr: List[Tok], alias: Option[String]) {
    def bareCol: Option[String] = expr match {
      case List(SId(c)) => Some(c)
      case _ => None
    }
    /** Output column name: explicit alias, or the bare column itself. */
    def name: String = alias.orElse(bareCol).getOrElse(
      reject("computed select items need an explicit alias " +
        s"(got: ${emit(expr)})"))
  }

  private def parseItem(ts: List[Tok]): Item =
    // top-level AS splits expr from alias
    Lex.splitTop(ts)(isKw(_, "AS")) match {
      case List(e) => Item(e, None)
      case List(e, List(SId(a))) => Item(e, Some(a))
      case _ => reject("AS must be followed by a single identifier")
    }

  private val Aggs = Set("SUM", "AVG", "MIN", "MAX", "COUNT", "MEDIAN",
    "PERCENTILE", "STD_DEV", "FIRST", "LAST", "FIRST_VALUE", "LAST_VALUE",
    "KURTOSIS", "SKEWNESS", "PERCENTILE_RANK")

  /** Is the item exactly one aggregate call AGG(...)? "Exactly one"
    * means the '(' at position 1 closes at the LAST token (paren depth
    * returns to 0 only there) — so `SUM(a) / SUM(b)` is NOT a single
    * call. Compound aggregate arithmetic is rejected (ES SQL computes
    * those client-side from the component aggs; this engine keeps STATS
    * entries 1:1 with aggs). */
  private def aggCall(it: Item): Option[String] = {
    val single = it.expr match {
      case SId(fn) :: SOp("(") :: rest if Aggs.contains(fn.toUpperCase) &&
        rest.nonEmpty && it.expr.last == SOp(")") =>
        // the opening paren must close exactly at the final token
        var depth = 1
        var closesEarly = false
        rest.dropRight(1).foreach {
          case SOp("(") => depth += 1
          case SOp(")") => depth -= 1; if (depth == 0) closesEarly = true
          case _ => ()
        }
        if (closesEarly) None else Some(fn.toUpperCase)
      case _ => None
    }
    single match {
      case some @ Some(_) => some
      case None =>
        if (it.expr.exists { case SId(s) => Aggs.contains(s.toUpperCase); case _ => false })
          reject(s"compound aggregate expression: ${emit(it.expr)} " +
            "(ES SQL derives these client-side from component aggregates)")
        None
    }
  }

  /** Rewrite one aggregate call body: COUNT(DISTINCT x) → COUNT_DISTINCT(x). */
  private def emitAgg(it: Item): String = it.expr match {
    case SId(fn) :: SOp("(") :: rest if fn.equalsIgnoreCase("COUNT") &&
      rest.headOption.exists(isKw(_, "DISTINCT")) =>
      "COUNT_DISTINCT ( " + emit(rest.tail) // rest ends with ")"
    case _ => emit(it.expr)
  }

  /** Lift aggregate calls out of a HAVING or ORDER BY body: each balanced
    * `AGG(...)` span becomes a column reference — the SELECTed item's name
    * when one canonically matches, else a synthetic `_hN` STATS entry the
    * final KEEP drops. This is the real ES SQL contract (Kibana emits
    * `HAVING COUNT(*) > n` and sorts on metrics whether or not they are
    * selected), and it makes compound HAVING arithmetic
    * (`SUM(a) / SUM(b) > 2`) work naturally: each component lifts and the
    * quotient is plain post-STATS arithmetic in the WHERE. `seen` carries
    * synthetics from an earlier lift so HAVING and ORDER BY share one
    * STATS entry for the same aggregate (and `_hN` numbering never
    * collides). Returns the rewritten body + the NEW synthetic entries. */
  private def liftAggCalls(h: List[Tok], items: List[Item],
                           seen: List[(String, Item)])
      : (List[Tok], List[(String, Item)]) = {
    val out = scala.collection.mutable.ListBuffer[Tok]()
    val extras = scala.collection.mutable.ListBuffer[(String, Item)]()
    var rest = h
    while (rest.nonEmpty) rest match {
      case SId(fn) :: SOp("(") :: tail if Aggs.contains(fn.toUpperCase) =>
        val (args, rem) = group(tail, "unbalanced parentheses in HAVING")
        val it = Item(SId(fn) :: SOp("(") :: args ::: List(SOp(")")), None)
        val key = canonKey(it.expr)
        val name = items
          .find(x => aggCall(x).isDefined && canonKey(x.expr) == key)
          .map(_.name)
          .orElse((seen ++ extras).find(e => canonKey(e._2.expr) == key)
            .map(_._1))
          .getOrElse {
            val n = s"_h${seen.size + extras.size}"
            extras += ((n, it)); n
          }
        out += SId(name)
        rest = rem
      case t :: tail => out += t; rest = tail
    }
    (out.toList, extras.toList)
  }

  // --------------------------------------------------------- translate
  /** Rewrite every well-formed `SCORE ( )` call to the `_score` metadata
    * column, anywhere in the statement (SELECT, ORDER BY, WHERE, HAVING).
    * Returns the rewritten stream and whether a rewrite happened. */
  private def rewriteScore(ts: List[Tok]): (List[Tok], Boolean) = {
    val out = scala.collection.mutable.ListBuffer[Tok]()
    var used = false
    var rest = ts
    while (rest.nonEmpty) rest match {
      case SId(s) :: SOp("(") :: SOp(")") :: tail if s.equalsIgnoreCase("SCORE") =>
        out += SId("_score"); used = true; rest = tail
      case t :: tail => out += t; rest = tail
    }
    (out.toList, used)
  }

  /** Rewrite `<column> [NOT] BETWEEN <literal> AND <literal>` into the
    * comparison pair ES|QL understands (it has no BETWEEN). Bound to the
    * simple-operand shape — a computed operand rejects loudly rather than
    * guessing where its expression starts. */
  private def rewriteBetween(ts: List[Tok]): List[Tok] = {
    // a literal bound is a string, a number, or a minus-prefixed number
    // (the tokenizer emits `-5` as SOp("-") :: SNum("5"))
    def bound(rest: List[Tok]): Option[(List[Tok], List[Tok])] = rest match {
      case (t @ (SNum(_) | SStr(_))) :: tail => Some((List(t), tail))
      case SOp("-") :: (t @ SNum(_)) :: tail => Some((List(SOp("-"), t), tail))
      case _ => None
    }
    val out = scala.collection.mutable.ListBuffer[Tok]()
    // the operand is the single SId before BETWEEN — if the token already
    // emitted just before IT is an arithmetic operator or ')', the real
    // operand is a compound expression (`a + b BETWEEN ...`) and grabbing
    // only `b` would mis-group; reject with the documented shape instead
    def compoundPrefix: Boolean = out.lastOption.exists {
      case SOp(o) => Set("+", "-", "*", "/", "%", ")").contains(o)
      case _ => false
    }
    var rest = ts
    while (rest.nonEmpty) rest match {
      case SId(x) :: b :: afterB if isKw(b, "BETWEEN") =>
        if (compoundPrefix)
          reject("BETWEEN on this shape (supported: " +
            "<column> [NOT] BETWEEN <literal> AND <literal>)")
        (for {
          (lo, afterLo) <- bound(afterB)
          tail1 <- afterLo match {
            case a :: t if isKw(a, "AND") => Some(t)
            case _ => None
          }
          (hi, tail) <- bound(tail1)
        } yield (lo, hi, tail)) match {
          case Some((lo, hi, tail)) =>
            out ++= List(SOp("("), SId(x), SOp(">=")) ++ lo ++
              List(SId("AND"), SId(x), SOp("<=")) ++ hi :+ SOp(")")
            rest = tail
          case None => reject("BETWEEN on this shape (supported: " +
            "<column> [NOT] BETWEEN <literal> AND <literal>)")
        }
      case SId(x) :: n :: b :: tail0 if isKw(n, "NOT") && isKw(b, "BETWEEN") =>
        // compound check must run HERE — after the rewrite below, the
        // emitted NOT would sit between the operator and the column and
        // hide the compound prefix from the plain-form case
        if (compoundPrefix)
          reject("BETWEEN on this shape (supported: " +
            "<column> [NOT] BETWEEN <literal> AND <literal>)")
        // rewrite to NOT + the plain form and let the case above handle it
        rest = SId("NOT") :: SId(x) :: b :: tail0
        out += rest.head
        rest = rest.tail
      case t :: tail =>
        if (isKw(t, "BETWEEN"))
          reject("BETWEEN on this shape (supported: " +
            "<column> [NOT] BETWEEN <literal> AND <literal>)")
        out += t; rest = tail
    }
    out.toList
  }

  /** ES SQL date/time extract scalars (what real Kibana SQL statements
    * carry) → ES|QL `DATE_EXTRACT` parts, rewritten only when CALLED so
    * a column named `year` passes through. ES SQL's DAY_OF_WEEK is
    * ISO-8601 (Monday = 1), matching the engine's DATE_EXTRACT. */
  /** Parts whose numbering is locale-rule-dependent (ISO week rules the
    * engine's ChronoField surface does not expose) or unsupported —
    * shared by the named-scalar and EXTRACT(part FROM e) paths so the
    * two can never diverge. */
  private val WeekRejectParts = Set("WEEK", "WEEK_OF_YEAR",
    "ISO_WEEK_OF_YEAR", "IW", "IWOY", "MINUTE_OF_DAY")

  private val DateExtractPart = Map(
    "YEAR" -> "year",
    "MONTH" -> "month_of_year", "MONTH_OF_YEAR" -> "month_of_year",
    "DAY" -> "day_of_month", "DAY_OF_MONTH" -> "day_of_month",
    "DOM" -> "day_of_month",
    "DAY_OF_YEAR" -> "day_of_year", "DOY" -> "day_of_year",
    "DAY_OF_WEEK" -> "day_of_week", "DOW" -> "day_of_week",
    "HOUR" -> "hour_of_day", "HOUR_OF_DAY" -> "hour_of_day",
    "MINUTE" -> "minute_of_hour", "MINUTE_OF_HOUR" -> "minute_of_hour",
    "SECOND" -> "second_of_minute", "SECOND_OF_MINUTE" -> "second_of_minute")

  /** Rewrite the ES SQL date extract scalars: `YEAR(e)` →
    * `DATE_EXTRACT("year", e)` (the argument tokens flow through and the
    * original `)` closes the call, so nested calls re-enter the scan);
    * `QUARTER(e)` → `TO_LONG(FLOOR((DATE_EXTRACT("month_of_year", e) + 2)
    * / 3))` with a balanced-argument capture. WEEK/WEEK_OF_YEAR reject
    * loudly — week-of-year numbering is locale-rule-dependent (ES uses
    * ISO-week rules the engine's ChronoField surface does not expose) and
    * a silently different week number is worse than no week number. */
  private def rewriteDateFns(ts: List[Tok]): List[Tok] = {
    val out = scala.collection.mutable.ListBuffer[Tok]()
    var rest = ts
    while (rest.nonEmpty) rest match {
      // standard-SQL EXTRACT(part FROM e) — real ES SQL accepts it as a
      // synonym of the named scalars; rewrite to the same call form and
      // let the scalar rules below handle the part (incl. QUARTER and
      // the locale-dependent WEEK rejects). The inner FROM sits at paren
      // depth ≥ 1, so the clause splitter never sees it.
      case SId(ex) :: SOp("(") :: SId(part) :: f :: tail
          if ex.equalsIgnoreCase("EXTRACT") && isKw(f, "FROM") =>
        if (!DateExtractPart.contains(part.toUpperCase) &&
            !part.equalsIgnoreCase("QUARTER") &&
            !WeekRejectParts.contains(part.toUpperCase))
          reject(s"EXTRACT part ${part.toUpperCase}")
        rest = SId(part) :: SOp("(") :: tail // re-enters as the named call
      case SId(ex) :: SOp("(") :: _ if ex.equalsIgnoreCase("EXTRACT") =>
        reject("EXTRACT without a part FROM expression " +
          "(supported: EXTRACT(<part> FROM <expr>))")
      case SId(f) :: SOp("(") :: tail if DateExtractPart.contains(f.toUpperCase) =>
        out ++= List(SId("DATE_EXTRACT"), SOp("("),
          SStr(DateExtractPart(f.toUpperCase)), SOp(","))
        rest = tail // arg + its ')' pass through and close DATE_EXTRACT
      case SId(f) :: SOp("(") :: tail if f.equalsIgnoreCase("QUARTER") =>
        // capture the balanced argument so the arithmetic suffix lands
        // AFTER it; the captured tokens re-enter the scan (nested calls)
        val (body, rem) = group(tail, "unbalanced QUARTER parentheses")
        out ++= List(SId("TO_LONG"), SOp("("), SId("FLOOR"), SOp("("),
          SOp("("), SId("DATE_EXTRACT"), SOp("("), SStr("month_of_year"),
          SOp(","))
        rest = body ++ List(SOp(")"), SOp("+"), SNum("2"), SOp(")"),
          SOp("/"), SNum("3"), SOp(")"), SOp(")")) ++ rem
      case SId(f) :: SOp("(") :: _
        if WeekRejectParts.contains(f.toUpperCase) =>
        reject(s"${f.toUpperCase} (week-of-year numbering is locale-rule-" +
          "dependent and minute-of-day has no ChronoField surface here; " +
          "use DATE_TRUNC or the supported extract parts)")
      case t :: tail => out += t; rest = tail
    }
    out.toList
  }

  /** Keywords that must never be swallowed as a function name when an
    * atom-grabbing rewrite (|| concat, paren-operand NOT IN) takes the
    * identifier before a `(...)` group. CASE is deliberately ABSENT:
    * these rewrites run after rewriteCaseWhen, so any surviving
    * `CASE (` is the ES|QL function form — a legitimate atom (this is
    * what lets a NULLIF/CASE result be a || or NOT IN operand). */
  private val NotFnKws = Set("SELECT", "FROM", "WHERE", "AND", "OR", "NOT",
    "WHEN", "THEN", "ELSE", "END", "BY", "HAVING", "LIKE", "IN",
    "AS", "ON", "DISTINCT", "BETWEEN", "IS", "NULL", "ORDER", "GROUP",
    "LIMIT", "OFFSET", "ASC", "DESC")

  /** Pop the trailing balanced `( ... )` group — plus a directly
    * preceding function name — off `buf`. The caller has checked that
    * `buf` ends with `)`. */
  private def popBalancedAtom(
      buf: scala.collection.mutable.ListBuffer[Tok]): List[Tok] = {
    var depth = 0
    var i = buf.length - 1
    var stop = false
    while (!stop) {
      buf(i) match {
        case SOp(")") => depth += 1
        case SOp("(") => depth -= 1; if (depth == 0) stop = true
        case _ => ()
      }
      if (!stop) {
        i -= 1
        if (i < 0) reject("unbalanced ')' before the operator")
      }
    }
    val start = i - (buf.lift(i - 1) match {
      case Some(SId(s)) if !NotFnKws.contains(s.toUpperCase) => 1
      case _ => 0
    })
    val atom = buf.slice(start, buf.length).toList
    buf.remove(start, buf.length - start)
    atom
  }

  /** True when the last emitted token is an arithmetic operator — the
    * real operand of whatever follows is a compound expression, and an
    * atom-grabbing rewrite would mis-group it. Shared by BETWEEN,
    * NOT IN/LIKE and || (each rejects loudly instead). */
  private def arithPrefix(
      buf: scala.collection.mutable.ListBuffer[Tok]): Boolean =
    buf.lastOption.exists {
      case SOp(o) => Set("+", "-", "*", "/", "%").contains(o)
      case _ => false
    }

  /** `a || b` (the SQL string-concat operator) → `CONCAT(a, b)` — ES|QL
    * has no `||`. Operands are single ATOMS — an identifier, a literal, a
    * function call, or a parenthesized expression; anything else (e.g. an
    * un-parenthesized arithmetic left side) rejects loudly rather than
    * mis-grouping. Chains left-fold: `a || b || c` emits
    * `CONCAT(CONCAT(a,b),c)` (same value as the variadic form) because
    * the emitted call is itself the next `||`'s left atom. Both engines
    * (and DuckDB's `||`) agree on NULL-in → NULL-out. */
  private def rewriteConcat(ts: List[Tok]): List[Tok] = {
    val out = scala.collection.mutable.ListBuffer[Tok]()
    // take the trailing balanced atom OFF `out` (mutates out)
    def takeLeft(): List[Tok] = out.lastOption match {
      case Some(SOp(")")) => popBalancedAtom(out)
      case Some(t @ (SId(_) | SStr(_) | SNum(_))) =>
        t match {
          case SId(s) if NotFnKws.contains(s.toUpperCase) =>
            reject(s"|| after keyword $s (each || operand must be a " +
              "column, literal, function call, or parenthesized expression)")
          case _ => ()
        }
        out.remove(out.length - 1)
        List(t)
      case _ => reject("|| needs a simple left operand (column, literal, " +
        "function call, or parenthesized expression)")
    }
    // capture the next balanced atom from the remainder
    def takeRight(rest0: List[Tok]): (List[Tok], List[Tok]) = {
      def balanced(pre: List[Tok], rem0: List[Tok]): (List[Tok], List[Tok]) = {
        val (inside, rem) = group(rem0, "unbalanced '(' after ||")
        (pre ++ inside :+ SOp(")"), rem)
      }
      rest0 match {
        case (t @ SId(s)) :: (o @ SOp("(")) :: tl
            if !NotFnKws.contains(s.toUpperCase) => balanced(List(t, o), tl)
        case (o @ SOp("(")) :: tl => balanced(List(o), tl)
        case (t @ (SStr(_) | SNum(_))) :: tl => (List(t), tl)
        case (t @ SId(s)) :: tl if !NotFnKws.contains(s.toUpperCase) =>
          (List(t), tl)
        case _ => reject("|| needs a simple right operand (column, literal, " +
          "function call, or parenthesized expression)")
      }
    }
    var rest = ts
    while (rest.nonEmpty) rest match {
      case SOp("||") :: tail =>
        val left = takeLeft()
        val (right, rem) = takeRight(tail)
        // arithmetic NEIGHBORS reject: `a + b || c` / `a || b + c` differ
        // by dialect precedence, so a silent grouping choice could be
        // silently wrong — require explicit parens instead
        val arithAfter = rem.headOption.exists {
          case SOp(o) => Set("+", "-", "*", "/", "%").contains(o)
          case _ => false
        }
        if (arithPrefix(out) || arithAfter)
          reject("|| next to an un-parenthesized arithmetic operand " +
            "(precedence differs by dialect — parenthesize explicitly)")
        // re-enter the scan: the emitted call is the next ||'s left atom,
        // and a || nested inside the captured right group still rewrites
        rest = (SId("CONCAT") :: SOp("(") :: left) ++
          (SOp(",") :: right) ++ (SOp(")") :: rem)
      case t :: tail => out += t; rest = tail
    }
    out.toList
  }

  /** ES SQL INTERVAL arithmetic — `<atom> + INTERVAL <n> <unit>` /
    * `<atom> - INTERVAL <n> <unit>` → `DATE_ADD("unit", ±n, atom)`, the
    * ES|QL-side date-math scalar (exact long micros arithmetic for fixed
    * units, calendar-aware month/quarter/year with day-of-month
    * clamping). The quantity may be bare (`INTERVAL 1 DAY`) or quoted
    * (`INTERVAL '1' DAY` — the standard-SQL spelling ES also accepts).
    * Chains left-fold (`ts + INTERVAL 1 DAY - INTERVAL 2 HOUR` — the
    * emitted DATE_ADD(...) is the next term's left atom). Deliberate
    * bounds, all named rejects: compound intervals (`'1-2' YEAR TO
    * MONTH`), the commuted `INTERVAL ... + expr` form (write the
    * datetime first), and an un-parenthesized arithmetic left operand
    * (same mis-grouping guard as BETWEEN/||). */
  /** `TIMESTAMP '2024-01-10 12:00:00'` / `DATE '2024-01-15'` literals
    * (standard SQL; Kibana's date-range predicates emit them) — folded
    * AT TRANSLATE TIME to the epoch-micros long the engine's datetime
    * columns carry, on the UTC session timeline. A constant per query,
    * never a per-row parse — and on a date-partitioned layout the same
    * constant prunes partitions. Unparseable literals reject with the
    * text named (never a silent null comparison). A column merely NAMED
    * `timestamp`/`date` is untouched: the rewrite needs the keyword
    * DIRECTLY followed by a string literal, which is never a column
    * reference shape. */
  private def rewriteDateLiterals(ts: List[Tok]): List[Tok] = {
    def micros(kind: String, raw: String): Long = {
      val norm = raw.trim.replace(' ', 'T')
      try {
        // zone-less first (the common Kibana shape), then zoned/offset
        // ISO-8601 ('…Z', '…+02:00') normalized onto the UTC timeline —
        // real ES SQL accepts both spellings
        val inst =
          if (norm.length <= 10)
            java.time.LocalDate.parse(norm).atStartOfDay()
              .toInstant(java.time.ZoneOffset.UTC)
          else
            try java.time.LocalDateTime.parse(norm)
              .toInstant(java.time.ZoneOffset.UTC)
            catch {
              case _: java.time.format.DateTimeParseException =>
                java.time.OffsetDateTime.parse(norm).toInstant
            }
        inst.getEpochSecond * 1000000L + inst.getNano / 1000L
      } catch {
        case _: java.time.format.DateTimeParseException =>
          reject(s"cannot parse $kind literal '$raw' (ISO-8601 expected, " +
            "zone-less or with a Z/±hh:mm offset)")
      }
    }
    val out = scala.collection.mutable.ListBuffer[Tok]()
    var rest = ts
    while (rest.nonEmpty) rest match {
      case SId(k) :: SStr(v) :: tail
          if k.equalsIgnoreCase("TIMESTAMP") || k.equalsIgnoreCase("DATE") =>
        out += SNum(micros(k.toUpperCase, v).toString)
        rest = tail
      case t :: tail => out += t; rest = tail
    }
    out.toList
  }

  private val IntervalUnits = Map(
    "YEAR" -> "year", "YEARS" -> "year",
    "QUARTER" -> "quarter", "QUARTERS" -> "quarter",
    "MONTH" -> "month", "MONTHS" -> "month",
    "WEEK" -> "week", "WEEKS" -> "week",
    "DAY" -> "day", "DAYS" -> "day",
    "HOUR" -> "hour", "HOURS" -> "hour",
    "MINUTE" -> "minute", "MINUTES" -> "minute",
    "SECOND" -> "second", "SECONDS" -> "second")

  private def rewriteInterval(ts: List[Tok]): List[Tok] = {
    val out = scala.collection.mutable.ListBuffer[Tok]()
    def qty(t: Tok): Option[String] = t match {
      case SNum(n) if !n.contains('.') => Some(n)
      case SStr(s) if s.nonEmpty && s.forall(_.isDigit) => Some(s)
      case _ => None
    }
    var rest = ts
    while (rest.nonEmpty) rest match {
      case i :: q0 :: u0 :: tail if isKw(i, "INTERVAL") =>
        val n = qty(q0).getOrElse(reject(
          "INTERVAL quantity must be an integer literal (compound " +
            "intervals like '1-2' YEAR TO MONTH are not supported)"))
        val unit = u0 match {
          case SId(u) if IntervalUnits.contains(u.toUpperCase) =>
            IntervalUnits(u.toUpperCase)
          case other => reject(s"INTERVAL unit ${emit(List(other))} " +
            "(supported: YEAR/QUARTER/MONTH/WEEK/DAY/HOUR/MINUTE/SECOND)")
        }
        if (tail.headOption.exists(isKw(_, "TO")))
          reject("compound INTERVAL (YEAR TO MONTH etc.) — use " +
            "single-unit INTERVAL <n> <unit> terms")
        val op = out.lastOption match {
          case Some(SOp(o)) if o == "+" || o == "-" => o
          case _ => reject("INTERVAL must follow + or - with the datetime " +
            "on the left (write <datetime> + INTERVAL <n> <unit>)")
        }
        out.remove(out.length - 1)
        val atom = out.lastOption match {
          case Some(SOp(")")) => popBalancedAtom(out)
          case Some(t @ SId(s)) if !NotFnKws.contains(s.toUpperCase) =>
            out.remove(out.length - 1); List(t)
          // a numeric literal operand: raw epoch micros, or the constant
          // a TIMESTAMP/DATE literal folded to (rewriteDateLiterals runs
          // first) — `TIMESTAMP '...' + INTERVAL n unit` must compose
          case Some(t @ SNum(_)) =>
            out.remove(out.length - 1); List(t)
          case _ => reject("INTERVAL arithmetic needs a simple datetime " +
            "operand (column, function call, or parenthesized expression)")
        }
        // the guard runs AFTER the atom pop (same as ||): `a * b +
        // INTERVAL 1 DAY` would otherwise silently re-group as
        // `a * DATE_ADD(..., b)`
        if (arithPrefix(out))
          reject("INTERVAL next to an un-parenthesized arithmetic operand " +
            "(precedence could mis-group — parenthesize explicitly)")
        val sign = if (op == "-") List(SOp("-")) else Nil
        // re-enters the scan: the emitted call is the next INTERVAL
        // term's left atom, so chains left-fold
        rest = (SId("DATE_ADD") :: SOp("(") :: SStr(unit) :: SOp(",") ::
          sign) ++ (SNum(n) :: SOp(",") :: atom) ++ (SOp(")") :: tail)
      case i :: _ if isKw(i, "INTERVAL") =>
        reject("INTERVAL without a quantity and unit " +
          "(expected INTERVAL <n> <unit>)")
      case t :: tail => out += t; rest = tail
    }
    out.toList
  }

  /** `NULLIF(a, b)` → `CASE((a) = (b), NULL, (a))` — ES|QL has no NULLIF.
    * The CASE form carries the exact SQL contract including the null-b
    * edge: `a = b` is never TRUE against a null `b`, so the default `a`
    * comes back. Both captured args re-enter the scan (nested NULLIFs
    * recurse); the emitted function-form `CASE (` is inert in every
    * later pass. */
  private def rewriteNullIf(ts: List[Tok]): List[Tok] = {
    val out = scala.collection.mutable.ListBuffer[Tok]()
    var rest = ts
    while (rest.nonEmpty) rest match {
      case SId(f) :: SOp("(") :: tail if f.equalsIgnoreCase("NULLIF") =>
        val (args, rem) = group(tail, "unbalanced NULLIF parentheses")
        val (a, b) = commaSplit(args) match {
          case List(a, b) if a.nonEmpty => (a, b)
          case _ => reject("NULLIF takes exactly two arguments")
        }
        rest = List(SId("CASE"), SOp("("), SOp("(")) ++ a ++
          List(SOp(")"), SOp("="), SOp("(")) ++ b ++
          List(SOp(")"), SOp(","), SId("NULL"), SOp(","), SOp("(")) ++ a ++
          List(SOp(")"), SOp(")")) ++ rem
      case t :: tail => out += t; rest = tail
    }
    out.toList
  }

  /** SQL `CASE` → ES|QL's `CASE(...)` function. The searched form
    * `CASE WHEN c THEN v [WHEN c2 THEN v2]* [ELSE e] END` maps 1:1 onto
    * `CASE(c, v [, c2, v2]*, e)` (no ELSE → no default → null, both
    * dialects' contract); the simple form `CASE x WHEN v THEN r ... END`
    * rewrites each branch condition to `(x) = (v)`. The emitted argument
    * tokens re-enter the scan, so nested CASEs recurse; the emitted
    * `CASE (` head is skipped by the not-followed-by-paren guard. */
  /** True when `tail` (the tokens after a CASE head) starts with a
    * balanced paren group followed by WHEN — the simple form with a
    * parenthesized operand (`CASE (x) WHEN ...`), which must NOT be
    * mistaken for the native function form `CASE(cond, v, ...)`. */
  private def parenCaseIsSimpleForm(tail: List[Tok]): Boolean = tail match {
    // a top-level comma inside the group means a CASE(...) argument list
    // (CASE takes >= 2 args), never a simple-form operand — a single SQL
    // expression can't contain a bare top-level comma. Without this, a
    // function-form CASE(...) sitting in a non-final THEN branch (so the
    // NEXT branch's WHEN follows its close-paren) was mistaken for the
    // simple form and the END scan miscounted.
    case SOp("(") :: t => Lex.closing(t).exists { case (inside, after) =>
      Lex.splitTop(inside)(_ == SOp(",")).size == 1 && after.headOption.exists(isKw(_, "WHEN"))
    }
    case _ => false
  }

  private def rewriteCaseWhen(ts: List[Tok]): List[Tok] = {
    val out = scala.collection.mutable.ListBuffer[Tok]()
    var rest = ts
    while (rest.nonEmpty) rest match {
      case SId(cw) :: tail if cw.equalsIgnoreCase("CASE") &&
          (!tail.headOption.contains(SOp("(")) ||
            parenCaseIsSimpleForm(tail)) =>
        // capture to the matching END, tracking nested CASE depth
        val body = scala.collection.mutable.ListBuffer[Tok]()
        var depthCase = 0
        var rem = tail
        var open = true
        while (open) rem match {
          case Nil => reject("CASE without END")
          // function-form CASE( — ES|QL native, no END — must not count;
          // the parenthesized simple form (CASE (x) WHEN) DOES have an END
          case (t @ SId(x)) :: tl if x.equalsIgnoreCase("CASE") &&
              (!tl.headOption.contains(SOp("(")) ||
                parenCaseIsSimpleForm(tl)) =>
            depthCase += 1; body += t; rem = tl
          case (t @ SId(x)) :: tl if x.equalsIgnoreCase("END") =>
            if (depthCase == 0) { open = false; rem = tl }
            else { depthCase -= 1; body += t; rem = tl }
          case t :: tl => body += t; rem = tl
        }
        // split the body at ITS OWN top-level WHEN/THEN/ELSE markers
        val parts = scala.collection.mutable.ListBuffer[(String, List[Tok])]()
        var cur = scala.collection.mutable.ListBuffer[Tok]()
        var mark = "OPERAND" // tokens before the first WHEN (simple CASE)
        var dp = 0
        var dc = 0
        var look = body.toList
        while (look.nonEmpty) { look match {
          case (t @ SOp("(")) :: _ => dp += 1; cur += t
          case (t @ SOp(")")) :: _ => dp -= 1; cur += t
          // same function-form guard: CASE( pairs with ')' (dp), not END
          case (t @ SId(x)) :: tl if x.equalsIgnoreCase("CASE") &&
              (!tl.headOption.contains(SOp("(")) ||
                parenCaseIsSimpleForm(tl)) => dc += 1; cur += t
          case (t @ SId(x)) :: _ if x.equalsIgnoreCase("END") => dc -= 1; cur += t
          case SId(x) :: _ if dp == 0 && dc == 0 &&
              Set("WHEN", "THEN", "ELSE").contains(x.toUpperCase) =>
            parts += ((mark, cur.toList))
            cur = scala.collection.mutable.ListBuffer[Tok]()
            mark = x.toUpperCase
          case t :: _ => cur += t
          case Nil => ()
        }; look = look.tail }
        parts += ((mark, cur.toList))
        val operand = parts.head._2 // empty for the searched form
        val sections = parts.toList.tail
        val args = scala.collection.mutable.ListBuffer[List[Tok]]()
        var i = 0
        while (i < sections.size) sections(i) match {
          case ("WHEN", c) =>
            if (c.isEmpty) reject("empty WHEN condition in CASE")
            if (i + 1 >= sections.size || sections(i + 1)._1 != "THEN")
              reject("CASE WHEN without THEN")
            val v = sections(i + 1)._2
            if (v.isEmpty) reject("empty THEN value in CASE")
            args += (if (operand.isEmpty) c
              else (SOp("(") +: operand :+ SOp(")")) ++ (SOp("=") +:
                SOp("(") +: c :+ SOp(")")))
            args += v
            i += 2
          case ("ELSE", e) =>
            if (e.isEmpty) reject("empty ELSE value in CASE")
            if (i != sections.size - 1) reject("ELSE must be the last CASE branch")
            args += e
            i += 1
          case (m, _) => reject(s"malformed CASE (unexpected $m section)")
        }
        if (!sections.exists(_._1 == "WHEN"))
          reject("CASE without WHEN branches")
        out ++= List(SId("CASE"), SOp("("))
        // args re-enter the scan (nested CASE WHEN inside them recurses)
        val joined = args.toList match {
          case head :: tl => head ++ tl.flatMap(a => SOp(",") +: a)
          case Nil => Nil
        }
        rest = joined ++ (SOp(")") :: rem)
      case t :: tail => out += t; rest = tail
    }
    out.toList
  }

  /** Rewrite `<column> NOT IN (...)` / `<column> NOT LIKE 'p'` into the
    * prefix-NOT form ES|QL parses (`NOT x IN (...)`). The same
    * compound-operand guard as BETWEEN: a computed left side rejects
    * loudly rather than mis-grouping the negation. */
  private def rewriteNotOps(ts: List[Tok]): List[Tok] = {
    val out = scala.collection.mutable.ListBuffer[Tok]()
    def shapeReject: Nothing =
      reject("NOT IN/LIKE on this shape (supported: <column|fn(...)> " +
        "NOT IN (...) / <column|fn(...)> NOT LIKE 'pattern')")
    var rest = ts
    while (rest.nonEmpty) rest match {
      // simple-column left operand
      case SId(x) :: n :: k :: tail if isKw(n, "NOT") &&
          (isKw(k, "IN") || isKw(k, "LIKE")) =>
        if (arithPrefix(out)) shapeReject
        out ++= List(SId("NOT"), SId(x), k)
        rest = tail
      // balanced-group left operand: `f(x) NOT IN (...)`, including a
      // function-form CASE( from the NULLIF/CASE WHEN rewrites — without
      // this the tokens flowed through as `) NOT IN` and failed in ES|QL
      // with an unrelated "bad expression"
      case n :: k :: tail if isKw(n, "NOT") &&
          (isKw(k, "IN") || isKw(k, "LIKE")) &&
          out.lastOption.contains(SOp(")")) =>
        val atom = popBalancedAtom(out)
        if (arithPrefix(out)) shapeReject
        out ++= (SId("NOT") +: atom :+ k)
        rest = tail
      case n :: k :: _ if isKw(n, "NOT") &&
          (isKw(k, "IN") || isKw(k, "LIKE")) =>
        shapeReject
      case t :: tail => out += t; rest = tail
    }
    out.toList
  }

  /** Rewrite `CAST(expr AS type)` into the ES|QL conversion function the
    * type maps to (TO_LONG/TO_DOUBLE/TO_STRING) — ES|QL has no CAST
    * keyword. The expr tokens pass through verbatim (nested CASTs
    * included: inner rewrites happen on the same pass because the scan
    * continues inside the emitted tokens). Unknown target types reject
    * loudly with the type named. DOCUMENTED DEVIATION: narrow integer /
    * float widths WIDEN — INTEGER/SMALLINT ride TO_LONG (64-bit, no
    * 32-bit wrap) and REAL/FLOAT ride TO_DOUBLE (no float32 rounding);
    * real ES SQL narrows and can overflow, which a widening engine
    * cannot silently reproduce, so it keeps the wider exact value. */
  private def rewriteCast(ts: List[Tok]): List[Tok] = {
    val fnOf = Map(
      "BIGINT" -> "TO_LONG", "INTEGER" -> "TO_LONG", "INT" -> "TO_LONG",
      "SMALLINT" -> "TO_LONG", "LONG" -> "TO_LONG",
      "DOUBLE" -> "TO_DOUBLE", "REAL" -> "TO_DOUBLE", "FLOAT" -> "TO_DOUBLE",
      "VARCHAR" -> "TO_STRING", "TEXT" -> "TO_STRING", "KEYWORD" -> "TO_STRING")
    val out = scala.collection.mutable.ListBuffer[Tok]()
    var rest = ts
    while (rest.nonEmpty) rest match {
      case SId(c) :: SOp("(") :: tail if c.equalsIgnoreCase("CAST") =>
        // capture the balanced argument up to the matching ')'; the
        // top-level `AS type` inside it splits expr from the target
        val (body, rem) = group(tail, "unbalanced CAST parentheses")
        // split on the LAST top-level AS (the target type)
        val parts = Lex.splitTop(body)(isKw(_, "AS"))
        if (parts.size < 2) reject("CAST without AS <type>")
        val asIdx = body.size - parts.last.size - 1
        val target = body.drop(asIdx + 1) match {
          case List(SId(tn)) => fnOf.getOrElse(tn.toUpperCase,
            reject(s"CAST target type $tn (supported: " +
              "BIGINT/INTEGER/SMALLINT/LONG/DOUBLE/REAL/FLOAT/VARCHAR/TEXT/KEYWORD)"))
          case other => reject(s"CAST target must be a type name, got: ${emit(other)}")
        }
        out ++= List(SId(target), SOp("(")) // inner expr re-enters the scan
        rest = body.take(asIdx) ++ (SOp(")") :: rem)
      case t :: tail => out += t; rest = tail
    }
    out.toList
  }

  /** SQL → ES|QL pipe. Pure string-to-string (no schema: `SELECT *`
    * rejects). OFFSET also rejects here: the returned pipe would carry
    * `LIMIT n+m` with no representation of the m-row drop, so a caller
    * executing it directly would get the rows paging should SKIP —
    * silently wrong. Paged statements go through `run` (which applies
    * the drop) or `translateWithOffset` (which returns it). */
  def translate(sql: String): String = translateNoOffset(sql, Map.empty)

  def translate(sql: String, schemas: Map[String, Seq[String]]): String =
    translateNoOffset(sql, schemas)

  private def translateNoOffset(sql: String,
                                schemas: Map[String, Seq[String]]): String = {
    val (pipe, offset) = translateFull(sql, schemas)
    if (offset > 0)
      reject("OFFSET in string-only translate (the ES|QL pipe cannot carry " +
        "the row drop, so executing it directly would mis-page; use run() " +
        "or translateWithOffset)")
    pipe
  }

  /** Like `translate`, but returns the OFFSET row count alongside the
    * pipe so the caller can apply the drop the pipe cannot express. */
  def translateWithOffset(sql: String,
                          schemas: Map[String, Seq[String]] = Map.empty)
      : (String, Int) = translateFull(sql, schemas)

  /** Full translation: the ES|QL pipe plus the OFFSET row count (0 when
    * absent). OFFSET cannot ride inside the pipe — ES|QL has no paging
    * command — so `run` applies it to the bounded sorted result. */
  private def translateFull(sql: String,
                            schemas: Map[String, Seq[String]]): (String, Int) = {
    val (ts0, usesScore) = rewriteScore(tokenize(sql))
    // date fns FIRST so CAST bodies and clause matching see the rewritten
    // (canonical) form on both the SELECT and GROUP BY/ORDER BY sides
    // CASE WHEN runs BEFORE between/not/concat so that by the time those
    // passes scan, every CASE is the function form `CASE (` — which lets
    // a CASE/NULLIF result be a || or NOT IN operand (balanced-group
    // atoms), with no bare WHEN/THEN/ELSE/END left in the stream. The
    // later passes are context-free, so CASE argument bodies still get
    // their BETWEEN/NOT/|| rewrites.
    val ts = rewriteConcat(rewriteNotOps(rewriteBetween(rewriteInterval(
      rewriteCaseWhen(rewriteNullIf(rewriteCast(rewriteDateFns(
        rewriteDateLiterals(ts0)))))))))
    // anything CASE-shaped that survived the rewrite is a malformed use
    // (e.g. a stray END, or WHEN outside CASE) — name it here instead of
    // letting ES|QL fail on an unrelated "bad expression"
    ts.foreach {
      case SId(s) if Set("WHEN", "THEN", "ELSE", "END").contains(s.toUpperCase) =>
        reject(s"stray ${s.toUpperCase} outside a CASE expression")
      case SId(s) if s.equalsIgnoreCase("ESCAPE") =>
        reject("LIKE ... ESCAPE (custom escape characters are not " +
          "supported; the translated ES|QL pattern uses * and ? wildcards)")
      case SId(s) if Set("CURRENT_TIMESTAMP", "CURRENT_DATE", "CURRENT_TIME")
          .contains(s.toUpperCase) =>
        reject(s"${s.toUpperCase} (wall-clock now() is nondeterministic — " +
          "an oracle-gated engine cannot reproduce it; pass the time as a " +
          "TIMESTAMP/DATE literal)")
      case _ => ()
    }
    // NOW()/TODAY() reject only when CALLED — a column named `now` is legal
    ts.zipWithIndex.foreach {
      case (SId(s), i) if Set("NOW", "TODAY").contains(s.toUpperCase) &&
          ts.lift(i + 1).contains(SOp("(")) =>
        reject(s"${s.toUpperCase}() (wall-clock now() is nondeterministic — " +
          "pass the time as a TIMESTAMP/DATE literal)")
      case _ => ()
    }
    if (ts.sliding(2).exists {
      case List(SOp("("), t) => isKw(t, "SELECT")
      case _ => false
    }) reject("subqueries")
    val cs = clauses(ts)

    // SCORE() (now `_score`) is legal only in SELECT and ORDER BY — the
    // real ES SQL contract. In WHERE it would filter on the 0 seed
    // (relevance accumulates AFTER the filter in the compiled pipe) and
    // silently return wrong rows; in HAVING the score is not an aggregate.
    Seq("WHERE", "HAVING").foreach { c =>
      if (cs.get(c).exists(_.exists {
        case SId(s) => s.equalsIgnoreCase("_score")
        case _ => false
      })) reject(s"SCORE()/_score in $c (ES SQL accepts SCORE() only in " +
        "SELECT and ORDER BY; relevance is computed after filtering, so a " +
        s"$c on it would silently test the unscored seed)")
    }

    val idx = cs("FROM") match {
      case List(SId(n)) => n
      case other => reject(s"FROM must name one index, got: ${emit(other)}")
    }

    // SELECT TOP n — ES SQL's LIMIT alias (Kibana's SQL editor emits it).
    // Only the unambiguous TOP-then-integer head is the clause; a column
    // that happens to be named `top` still parses as a select item. Real
    // ES rejects TOP combined with LIMIT — so does the engine (below).
    val (selBody, topN) = cs("SELECT") match {
      case t :: SNum(n) :: rest if isKw(t, "TOP") => (rest, Some(n))
      case b => (b, None)
    }
    val rawItems = commaSplit(selBody)
    if (rawItems.isEmpty || selBody.isEmpty) reject("empty SELECT list")
    val items: List[Item] =
      if (rawItems.exists(_ == List(SOp("*")))) {
        // SELECT * — schema expansion, not a new execution path: the
        // registered source schema becomes an explicit column list, so
        // downstream (KEEP, the oracle's column naming) sees named columns
        if (rawItems.size > 1) reject("SELECT * must be the only select item")
        val cols = schemas.getOrElse(idx, reject(
          "SELECT * needs a registered source schema to expand " +
            "(string-only translate cannot)"))
        cols.toList.map(c => Item(List(SId(c)), None))
      } else rawItems.map(parseItem)

    val pipes = scala.collection.mutable.ListBuffer[String](
      if (usesScore) s"FROM $idx METADATA _score" else s"FROM $idx")
    cs.get("WHERE").foreach(w => pipes += s"WHERE ${emit(w)}")

    // ordinals (real ES SQL accepts them; Kibana emits `GROUP BY 1`):
    // a 1-based reference to a SELECT item, resolved to that item's
    // expression BEFORE any membership checks
    def ordinalItem(n: String, what: String): Item = {
      if (n.contains('.')) reject(s"$what ordinal must be an integer, got $n")
      val i = n.toIntOption.getOrElse(
        reject(s"$what ordinal must be an integer, got $n"))
      if (i < 1 || i > items.size)
        reject(s"$what ordinal $i out of range (SELECT has ${items.size} items)")
      items(i - 1)
    }
    // agg path replaces this with the aggregate-lifted ORDER BY body
    var liftedOrder: Option[List[Tok]] = None
    val groupKeys = cs.get("GROUP").map(commaSplit).getOrElse(Nil).map {
      case List(SNum(n)) =>
        val it = ordinalItem(n, "GROUP BY")
        if (aggCall(it).isDefined)
          reject(s"GROUP BY ordinal $n references an aggregate select item")
        it.expr
      case g => g
    }
    if (groupKeys.nonEmpty || items.exists(aggCall(_).isDefined)) {
      // ---- aggregate path: one STATS, BY keys from GROUP BY
      val (aggItems, keyItems) = items.partition(aggCall(_).isDefined)
      if (aggItems.isEmpty) reject("GROUP BY without an aggregate in SELECT")
      // every non-agg select item must be (canonically) a group key
      val keyTexts = groupKeys.map(canonKey)
      keyItems.foreach { it =>
        if (!keyTexts.contains(canonKey(it.expr)))
          reject(s"non-aggregate select item '${emit(it.expr)}' " +
            "is not in GROUP BY")
      }
      val by = groupKeys.map { g =>
        g match {
          case List(SId(c)) => c
          case SId(h) :: SOp("(") :: _ if h.equalsIgnoreCase("HISTOGRAM") =>
            // HISTOGRAM(col, interval) — ES SQL's fixed-interval bucket;
            // identical math to ES|QL BUCKET (floor(x/span)*span), emitted
            // as a computed BY key so it stays inside the ONE hash agg.
            val alias = items.find(it => canonKey(it.expr) == canonKey(g)).getOrElse(
              reject("HISTOGRAM group key must appear in SELECT with an alias")
            ).name
            val inner = emit(g.drop(2).dropRight(1))
            s"$alias = BUCKET ( $inner )"
          case other =>
            // computed group key (ES SQL allows `GROUP BY UCASE(x)` etc.):
            // legal when the same expression appears in SELECT with an
            // alias — emitted as a computed BY key, the HISTOGRAM pattern
            val txt = emit(other)
            items.find(it => canonKey(it.expr) == canonKey(other))
              .filter(aggCall(_).isEmpty).flatMap(_.alias) match {
              case Some(a) => s"$a = $txt"
              case None => reject(s"GROUP BY expression: $txt (a computed " +
                "group key must appear in SELECT with an alias)")
            }
        }
      }
      // HAVING and ORDER BY aggregates lift BEFORE the STATS line is
      // emitted so the synthetic entries ride the same single hash
      // aggregation (a shared aggregate lifts once — `seen` threading)
      val havingLift = cs.get("HAVING").map(liftAggCalls(_, items, Nil))
      val orderLift = cs.get("ORDER").map(liftAggCalls(_, items,
        havingLift.map(_._2).getOrElse(Nil)))
      val liftedExtras = havingLift.map(_._2).getOrElse(Nil) ++
        orderLift.map(_._2).getOrElse(Nil)
      orderLift.foreach { case (o2, _) => liftedOrder = Some(o2) }
      val stats = items.flatMap { it =>
        aggCall(it) match {
          case Some(_) => Some(s"${it.name} = ${emitAgg(it)}")
          case None => None
        }
      } ++ liftedExtras.map { case (n, it) => s"$n = ${emitAgg(it)}" }
      val byStr = if (by.isEmpty) "" else " BY " + by.map { k =>
        // plain-column keys that were SELECTed under an alias keep the alias
        items.find(_.bareCol.contains(k)).flatMap(_.alias) match {
          case Some(a) => s"$a = $k"
          case None => k
        }
      }.mkString(", ")
      pipes += s"STATS ${stats.mkString(", ")}$byStr"
      havingLift.foreach { case (h2, _) =>
        // after the lift, HAVING is a plain post-agg WHERE over STATS
        // output columns (SELECT aliases + the lifted synthetics);
        // anything else is a reference STATS cannot produce
        val names = items.map(_.name).toSet ++ liftedExtras.map(_._1)
        val refs = h2.collect { case SId(s)
          if !Set("AND", "OR", "NOT", "IN", "IS", "NULL", "LIKE", "TRUE", "FALSE")
            .contains(s.toUpperCase) => s }
        refs.find(r => !names.contains(r)).foreach(r =>
          reject(s"HAVING may only reference SELECT aliases or aggregate " +
            s"calls (got '$r')"))
        pipes += s"WHERE ${emit(h2)}"
      }
      // the SELECT-order KEEP is emitted AFTER SORT/LIMIT (end of this
      // method) so a sort on a lifted, unselected aggregate still sees
      // its synthetic column; the bounded SORT+LIMIT shape is unchanged
    } else {
      // ---- row path: EVAL computed/aliased items; the KEEP is DEFERRED
      // to after SORT/LIMIT so ORDER BY may reference any source column,
      // not just SELECT items (the SQL contract)
      if (cs.contains("HAVING")) reject("HAVING without GROUP BY")
      val evals = items.filter(it => it.alias.isDefined || it.bareCol.isEmpty)
        .map(it => s"${it.name} = ${emit(it.expr)}")
      if (evals.nonEmpty) pipes += s"EVAL ${evals.mkString(", ")}"
    }

    liftedOrder.orElse(cs.get("ORDER")).foreach { o =>
      val keys = commaSplit(o).map { k0 =>
        // ORDER BY k [ASC|DESC] [NULLS FIRST|LAST] — the explicit NULLS
        // form passes through to ES|QL's SORT (same syntax); when absent
        // the pipe stays silent and ES|QL's default applies (nulls last
        // on ASC, first on DESC)
        val (k, nullsSuf) = k0.takeRight(2) match {
          case List(n, f) if isKw(n, "NULLS") &&
              (isKw(f, "FIRST") || isKw(f, "LAST")) =>
            (k0.dropRight(2),
              if (isKw(f, "FIRST")) " NULLS FIRST" else " NULLS LAST")
          case _ => (k0, "")
        }
        val (body, dir0) = k.lastOption match {
          case Some(t) if isKw(t, "ASC") => (k.dropRight(1), " ASC")
          case Some(t) if isKw(t, "DESC") => (k.dropRight(1), " DESC")
          case _ => (k, "")
        }
        val dir = dir0 + nullsSuf
        body match {
          case List(SId(c)) => s"$c$dir"
          // ORDER BY ordinal: 1-based SELECT item reference — sorts on
          // that item's output column (ES SQL accepts ordinals here too)
          case List(SNum(n)) => s"${ordinalItem(n, "ORDER BY").name}$dir"
          case other =>
            // real ES SQL (and Kibana's generated statements) sort on the
            // aggregate expression itself (`ORDER BY COUNT(*) DESC`);
            // after STATS/EVAL that expression IS its SELECT alias — so an
            // ORDER BY expression that textually matches a SELECT item
            // sorts on the item's output column. Anything else rejects.
            val txt = emit(other)
            items.find(it => canonKey(it.expr) == canonKey(other)) match {
              case Some(it) => s"${it.name}$dir"
              case None => reject(s"ORDER BY key: $txt (sort on a column, " +
                "a SELECT alias, or an expression that appears in SELECT)")
            }
        }
      }
      pipes += s"SORT ${keys.mkString(", ")}"
    }
    // from+size are bounded like ES's (both ≤ 1e9, sum inside Int) — an
    // out-of-range page rejects with a named reason instead of a
    // NumberFormatException or a silent Int overflow in the pipe
    def pageCount(what: String, n: String): Int = {
      if (n.contains(".")) reject(s"$what must be an integer literal, got: $n")
      val v = try n.toLong catch {
        case _: NumberFormatException => reject(s"$what out of range: $n")
      }
      if (v > 1000000000L) reject(s"$what exceeds 1e9 (got $n)")
      v.toInt
    }
    val offset = cs.get("OFFSET") match {
      case Some(List(SNum(n))) =>
        if (!cs.contains("ORDER"))
          reject("OFFSET without ORDER BY (a page of an unordered result " +
            "is meaningless)")
        pageCount("OFFSET", n)
      case Some(other) => reject(s"OFFSET must be an integer literal, " +
        s"got: ${emit(other)}")
      case None => 0
    }
    if (topN.isDefined && cs.contains("LIMIT"))
      reject("TOP and LIMIT in the same statement (real ES SQL rejects " +
        "the combination — use one)")
    topN.foreach(n => pipes += s"LIMIT ${pageCount("TOP", n) + offset}")
    cs.get("LIMIT").foreach {
      // LIMIT n OFFSET m bounds the sort at n+m rows (ES's from+size) —
      // still ONE TakeOrderedAndProject; run() drops the first m
      case List(SNum(n)) => pipes += s"LIMIT ${pageCount("LIMIT", n) + offset}"
      case other => reject(s"LIMIT must be an integer literal, got: ${emit(other)}")
    }
    // both paths: KEEP runs LAST, restoring SELECT order after SORT/LIMIT
    // (row path: ORDER BY may reference any source column; agg path: a
    // sort on a lifted aggregate reads its synthetic column before the
    // projection drops it)
    pipes += s"KEEP ${items.map(_.name).mkString(", ")}"
    (pipes.mkString("\n| "), offset)
  }

  /** ES SQL type name for a Spark type — the `_sql` dialect's vocabulary
    * (ES docs "SQL data types"), covering the types parquet sources
    * produce here. Unknown types print Spark's own name uppercased. */
  private def esTypeName(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => "BIGINT"
      case IntegerType => "INTEGER"
      case ShortType => "SMALLINT"
      case ByteType => "TINYINT"
      case DoubleType => "DOUBLE"
      case FloatType => "REAL"
      case StringType => "VARCHAR"
      case BooleanType => "BOOLEAN"
      case DateType => "DATE"
      case _: TimestampType => "TIMESTAMP"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case b if b == BinaryType => "VARBINARY"
      case other => other.sql
    }
  }

  private def describe(sources: Map[String, DataFrame],
                        session: SparkSession, idx: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    import org.apache.spark.sql.Row
    val t = sources.getOrElse(idx, reject(s"unknown index $idx " +
      s"(have: ${sources.keys.toSeq.sorted.mkString(", ")})"))
    session.createDataFrame(
      t.schema.fields.toSeq.map(f => Row(f.name, esTypeName(f.dataType))).asJava,
      StructType(Seq(StructField("column", StringType, nullable = false),
        StructField("type", StringType, nullable = false))))
  }

  def run(sources: Map[String, DataFrame], sql: String,
          spark: SparkSession = null): DataFrame = {
    // metadata commands (what Kibana's SQL editor issues before querying):
    // SHOW TABLES lists the registered indices; DESCRIBE/DESC <idx> lists
    // (column, type) in declared order. Neither touches data — both are
    // driver-side catalog reads, zero scan cost at any scale.
    val ts = tokenize(sql)
    def session: SparkSession = Option(spark)
      .orElse(sources.headOption.map(_._2.sparkSession))
      .getOrElse(reject(
        "no SparkSession available (register a source or pass one)"))
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    import org.apache.spark.sql.Row
    ts match {
      case List(s0, t0) if isKw(s0, "SHOW") && isKw(t0, "TABLES") =>
        return session.createDataFrame(
          sources.keys.toSeq.sorted.map(Row(_)).asJava,
          StructType(Seq(StructField("name", StringType, nullable = false))))
      case List(d0, SId(idx)) if isKw(d0, "DESCRIBE") || isKw(d0, "DESC") =>
        return describe(sources, session, idx)
      case List(s0, c0, f0, SId(idx)) if isKw(s0, "SHOW") &&
        isKw(c0, "COLUMNS") && (isKw(f0, "FROM") || isKw(f0, "IN")) =>
        // SHOW COLUMNS FROM/IN idx — ES SQL's alias of DESCRIBE
        return describe(sources, session, idx)
      case _ => ()
    }
    val (pipe, offset) =
      translateFull(sql, sources.map { case (k, v) => k -> v.columns.toSeq })
    val out = Esql.run(sources, pipe)
    if (offset > 0) out.offset(offset) else out
  }
}
