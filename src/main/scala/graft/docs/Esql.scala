package graft.docs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** ES|QL (`_query`, ES 8.11+) — the piped query language that is becoming
  * the primary ES analytics surface:
  *
  *   FROM events
  *   | WHERE event_type == "purchase" AND value > 50
  *   | EVAL v2 = value * 2
  *   | STATS total = SUM(v2), n = COUNT(*) BY user_id
  *   | SORT total DESC
  *   | LIMIT 10
  *
  * Each pipe command compiles DIRECTLY onto the running DataFrame —
  * WHERE is a pushdown-eligible filter, EVAL a projection, STATS one hash
  * aggregation, SORT+LIMIT a bounded TakeOrderedAndProject — so the whole
  * pipe is one declarative Catalyst plan, not an interpreter loop.
  *
  * Implemented commands: FROM, WHERE, EVAL, STATS..BY (+ INLINESTATS),
  * SORT, LIMIT, KEEP, DROP, RENAME..AS, MV_EXPAND (explode_outer — null
  * stays a null row, the ES|QL contract), DISSECT (anchored whole-string
  * split on literal separators), GROK (the core pattern subset WORD/INT/
  * NUMBER/DATA/GREEDYDATA/NOTSPACE, unanchored), ENRICH..ON..WITH — the policy
  * lookup, compiled to a BROADCAST left join against the policy table
  * (the exact Spark analogue of ES's replicated enrich index: the policy
  * frame ships to every node, the corpus never shuffles) — LOOKUP
  * JOIN..ON (8.18's index-to-index form, incl. the 9.x multi-key
  * `ON a, b`: same broadcast left join, keyed
  * on the shared column name, appending every non-key lookup column),
  * FORK (8.19 — parenthesized branch pipes recursing from the fork
  * point's frame, unioned BY NAME with a `_fork` discriminator: one
  * Catalyst Union, shared prefix plan), FUSE [RRF|LINEAR] [KEY BY col]
  * (9.1 — merges FORK branches naming the same document into one row
  * with an RRF or linear fused `_score`; branch rank pinned to
  * (_score DESC, key ASC), a documented deviation from ES's transport
  * result order), and CHANGE_POINT..ON (8.16 —
  * the CUSUM split-statistic argmax over the key-ordered series,
  * deterministic deviation from ES's ML p-values, documented inline).
  *
  * Expressions: identifiers, integer/decimal/string literals, the
  * comparison set (== != < <= > >=), arithmetic (+ - * / %), NOT/AND/OR,
  * LIKE (ES|QL wildcard * ? — compiled to Spark's like with % _),
  * RLIKE (raw regex), IN (literals), IS [NOT] NULL, and scalar functions
  * ABS/ROUND/LENGTH/SUBSTRING/CONCAT/TO_UPPER/TO_LOWER/TO_LONG/TO_DOUBLE/
  * TO_STRING/COALESCE/STARTS_WITH/ENDS_WITH/TRIM/LTRIM/RTRIM/REPLACE
  * (regex)/SPLIT (literal separator)/CASE/BUCKET;
  * math POW/SQRT/CBRT/LOG/LOG10/EXP/FLOOR/CEIL/SIGNUM/PI/E/TAU/GREATEST/
  * LEAST (libm-backed EXP/LOG/POW/CBRT stay off the bit-exact oracle
  * path — unit specs pin them); strings LEFT/RIGHT/REVERSE/REPEAT/LOCATE/
  * SPACE/BIT_LENGTH/BYTE_LENGTH/MD5/SHA256; ip TO_IP/IP_PREFIX
  * (canonical IPv4 — v6 inputs null out, documented deviation); dates
  * DATE_TRUNC/DATE_EXTRACT
  * (ChronoField names, ISO day_of_week)/DATE_FORMAT (java patterns)/
  * DATE_DIFF (whole fixed units micro→week truncated toward zero on the
  * epoch-micros timeline; calendar units are named rejects)/DATE_ADD
  * (ES SQL date math — fixed units as exact long
  * micros arithmetic, month/quarter/year calendar-aware with
  * day-of-month clamping); multivalue
  * MV_COUNT/MV_MIN/MV_MAX/MV_FIRST/MV_LAST/MV_SUM/MV_AVG (sequential
  * double folds)/MV_MEDIAN/MV_PERCENTILE (linear interpolation)/
  * MV_DEDUPE (sorted — deterministic deviation)/
  * MV_SORT/MV_SLICE/MV_CONCAT/MV_APPEND/MV_ZIP. Aggs: COUNT(*) / COUNT /
  * SUM / AVG / MIN / MAX / COUNT_DISTINCT / MEDIAN / PERCENTILE / STD_DEV
  * (population, exact-sums formula) / TOP(field, k, order) / VALUES
  * (sorted) / WEIGHTED_AVG / FIRST / LAST (value at min/max of the
  * ordering field, ties pinned by value) / SKEWNESS / KURTOSIS
  * (population moments, the matrix_stats shape) / PERCENTILE_RANK
  * (exact empirical CDF), each
  * with an optional per-agg WHERE filter. SUM/AVG
  * over double columns accumulate through the engine's exact-decimal
  * contract (DECIMAL(12,2) partials, DECIMAL(28,6) result) so the oracle
  * reproduces totals bit-for-bit. INLINESTATS (8.16) runs the same
  * aggregates as window functions over the BY partitions — appended to
  * every row, zero row reduction. Everything else — subqueries, the
  * remaining MV_* functions, the inference-backed 9.x commands
  * COMPLETION/RERANK (they call a deployed model; no serving layer
  * here) — rejects loudly at parse time.
  */
object Esql {

  /** One canonical IPv4 octet: 0-255, no leading zeros — shared by
    * TO_IP (validation) and IP_PREFIX (validation before masking). */
  private val Ipv4Octet = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"

  // ------------------------------------------------------------ tokens
  import Lex.{Tok, Id => TId, Num => TNum, Str => TStr, Op => TOp}

  private val tokenize = new Lex.Lexer("esql", sqlQuotes = false,
    Seq("==", "!=", "<=", ">=", "<", ">", "+", "-", "*", "/", "%", "(", ")", ",", "=", "|",
      "[", "]"), signedNums = false)

  // -------------------------------------------------------- expressions
  private sealed trait Ex
  private final case class EId(name: String) extends Ex
  private final case class ELong(v: Long) extends Ex
  private final case class EDouble(v: Double) extends Ex
  private final case class EStr(v: String) extends Ex
  private final case class EBool(v: Boolean) extends Ex
  private case object ENull extends Ex // `null` literal (ES|QL has one)
  private final case class EBin(op: String, l: Ex, r: Ex) extends Ex
  private final case class ENot(e: Ex) extends Ex
  private final case class EFn(name: String, args: List[Ex]) extends Ex
  // list literal `[e1, e2, …]` (ES|QL multivalue literal): compiles to a
  // Spark array — consumed by MV functions and KNN query vectors
  private final case class EArr(items: List[Ex]) extends Ex
  private final case class EIn(e: Ex, items: List[Ex]) extends Ex
  private final case class EIsNull(e: Ex, negated: Boolean) extends Ex

  /** Pratt-ish recursive-descent over the token list. */
  private final class P(ts: List[Tok]) extends Lex.Cursor[Tok]("esql", ts) {
    def expr(): Ex = nested(orExpr())
    private def orExpr(): Ex = {
      var l = andExpr()
      while (isKw("OR")) { pop(); l = EBin("or", l, andExpr()) }
      l
    }
    private def andExpr(): Ex = {
      var l = notExpr()
      while (isKw("AND")) { pop(); l = EBin("and", l, notExpr()) }
      l
    }
    private def notExpr(): Ex =
      if (isKw("NOT")) { pop(); ENot(nested(notExpr())) } else cmpExpr()
    private def cmpExpr(): Ex = {
      val l = addExpr()
      peek match {
        case Some(TOp(op @ ("==" | "!=" | "<" | "<=" | ">" | ">="))) =>
          pop(); EBin(op, l, addExpr())
        case _ if isKw("LIKE") =>
          pop(); EBin("like", l, addExpr())
        case _ if isKw("RLIKE") =>
          pop(); EBin("rlike", l, addExpr())
        case _ if isKw("IN") =>
          pop(); expect("(")
          val items = scala.collection.mutable.ListBuffer(expr())
          while (peek.contains(TOp(","))) { pop(); items += expr() }
          expect(")")
          EIn(l, items.toList)
        case _ if isKw("IS") =>
          pop()
          val neg = isKw("NOT")
          if (neg) pop()
          pop() match {
            case TId(s) if s.equalsIgnoreCase("NULL") => EIsNull(l, neg)
            case t => fail(s"expected NULL after IS${if (neg) " NOT" else ""}, got $t", t)
          }
        case _ => l
      }
    }
    private def addExpr(): Ex = {
      var l = mulExpr()
      var go = true
      while (go) peek match {
        case Some(TOp(op @ ("+" | "-"))) => pop(); l = EBin(op, l, mulExpr())
        case _ => go = false
      }
      l
    }
    private def mulExpr(): Ex = {
      var l = unary()
      var go = true
      while (go) peek match {
        case Some(TOp(op @ ("*" | "/" | "%"))) => pop(); l = EBin(op, l, unary())
        case _ => go = false
      }
      l
    }
    private def unary(): Ex = peek match {
      case Some(TOp("-")) => pop(); EBin("-", ELong(0L), nested(unary()))
      case Some(TOp("(")) => pop(); val e = expr(); expect(")"); e
      case Some(TOp("[")) => // multivalue literal [e1, e2, …]
        pop()
        val items = scala.collection.mutable.ListBuffer[Ex]()
        if (!peek.contains(TOp("]"))) {
          items += expr()
          while (peek.contains(TOp(","))) { pop(); items += expr() }
        }
        expect("]")
        require(items.nonEmpty, "esql: empty multivalue literal []")
        EArr(items.toList)
      case Some(t @ TNum(s)) => pop()
        if (s.contains('.')) EDouble(s.toDouble)
        else ELong(s.toLongOption.getOrElse(fail(s"integer literal out of range: $s", t)))
      case Some(TStr(s)) => pop(); EStr(s)
      case Some(TId(s)) =>
        pop()
        if (peek.contains(TOp("("))) { // scalar function call
          pop()
          val args = scala.collection.mutable.ListBuffer[Ex]()
          if (!peek.contains(TOp(")"))) {
            args += expr()
            while (peek.contains(TOp(","))) { pop(); args += expr() }
          }
          expect(")")
          EFn(s.toUpperCase, args.toList)
        } else if (s.equalsIgnoreCase("TRUE")) EBool(true)
        else if (s.equalsIgnoreCase("FALSE")) EBool(false)
        else if (s.equalsIgnoreCase("NULL")) ENull
        else EId(s)
      case _ => fail("bad expression")
    }
    def string(): String = pop() match {
      case TStr(v) => v
      case t => fail(s"expected a string literal, got $t", t)
    }
  }

  /** The frame schema QSTR() resolves against — set by `pipe` before each
    * command compiles (ThreadLocal: concurrent queries don't share it). */
  private val curSchema =
    new ThreadLocal[org.apache.spark.sql.types.StructType]

  /** The UNFILTERED index frame BM25 stats compute over, set by `run`
    * when scoreMode=bm25 (ThreadLocal for the same reason as curSchema —
    * plan build is single-threaded per query, and FORK branch recursion
    * must see it without threading a parameter). Absent = terms mode.
    * Cleared in `run`'s finally — it pins a corpus-sized plan otherwise. */
  private val bm25Index = new ThreadLocal[DataFrame]

  /** Per-run memo of computed index stats keyed on (field expr, pooled
    * terms). Invariant: k MATCH clauses inside ONE WHERE cost one stats
    * aggregate per distinct field (their terms pool into a single scan),
    * and IDENTICAL WHEREs across FORK branches hit the memo; branches
    * with genuinely different term sets on a field cost one scan each —
    * their df rows are different data, not recomputation. */
  private val bm25Stats =
    new ThreadLocal[scala.collection.mutable.Map[(String, Seq[String]), Bm25.Stats]]

  /** Corpus dir whose STANDING IVF index (s15, [[graft.ext.Similarity]])
    * serves `WHERE KNN(...)` probes this run (run's `annDir` argument);
    * absent = KNN stays a loud named reject (a k-nearest predicate
    * without an index would be a full-corpus scan per query). */
  private val annDirTL = new ThreadLocal[String]

  /** The `_score` contribution of a WHERE expression under METADATA
    * _score: Σ matched-term counts over its MATCH() nodes, plus 1 point
    * per satisfied QSTR()/MATCH_PHRASE() clause (the engine's integer
    * clause-count relevance — the same design as the Query DSL's
    * should-clause scoring, d23/scoreCol). A full-text clause that is
    * false for a row contributes 0 naturally, so OR'd predicates need no
    * special casing. NEGATED subtrees contribute NOTHING: a doc must not
    * rank higher for containing the term the user negated (ES's must_not
    * scores 0). */
  private def matchScore(e: Ex): Option[Column] = e match {
    case EFn("MATCH", List(f, EStr(q))) =>
      val terms = graft.ext.TextAnalysis.analyzeQuery(q)
      if (terms.isEmpty) Some(lit(0L))
      else Some(terms.map(t =>
        when(array_contains(graft.ext.TextAnalysis.analyze(compile(f)), t), 1L)
          .otherwise(0L)).reduce(_ + _))
    case fn @ EFn("MATCH_PHRASE" | "QSTR", _) =>
      // one point per satisfied clause; compile() already validates args
      Some(when(coalesce(compile(fn), lit(false)), 1L).otherwise(0L))
    case EBin(_, l, r) => (matchScore(l), matchScore(r)) match {
      case (Some(a), Some(b)) => Some(a + b)
      case (a, b) => a.orElse(b)
    }
    case ENot(_) => None
    case _ => None
  }

  /** The full-text leaves of a WHERE expression, for BM25 scoring:
    * MATCH(field, "query") nodes (scored per-term), MATCH_PHRASE(field,
    * "phrase") nodes (scored POSITIONALLY as one PhraseQuery pseudo-term
    * — phraseFreq-as-tf, summed term idfs — gated on the phrase
    * predicate, r18), and the 1-point QSTR
    * clause columns (a query-string is an arbitrary boolean tree — its
    * clause keeps the constant). Same traversal contract as
    * [[matchScore]]: negated subtrees contribute NOTHING. */
  private def collectFullText(e: Ex)
      : (Seq[(Ex, String)], Seq[(Ex, String, Ex)], Seq[Column]) = e match {
    case EFn("MATCH", List(f, EStr(q))) => (Seq((f, q)), Nil, Nil)
    case fn @ EFn("MATCH_PHRASE", List(f, EStr(q))) =>
      (Nil, Seq((f, q, fn)), Nil)
    case fn @ EFn("QSTR", _) =>
      (Nil, Nil, Seq(when(coalesce(compile(fn), lit(false)), 1L).otherwise(0L)))
    case EBin(_, l, r) =>
      val (m1, h1, p1) = collectFullText(l)
      val (m2, h2, p2) = collectFullText(r)
      (m1 ++ m2, h1 ++ h2, p1 ++ p2)
    case _ => (Nil, Nil, Nil)
  }

  /** `WHERE KNN(field, [qv…], k)` — served from the STANDING IVF index
    * (s15, [[graft.ext.Similarity.knnProbe]]) when `run` was given an
    * `annDir` (r18, closing the r17 named reject: "no index" was half
    * the reject rationale and s15 removed it). The probe is the s3/s15
    * serving contract: route the query vector to its nearest coarse
    * centroid (bounded driver work — the centroid set is a fixed
    * sample), read ONLY that cell's parquet partition (partition-pruned
    * scan), take top-k by (cosine DESC, id ASC). The top-k ids
    * broadcast-semi-join back into the pipe — so earlier WHERE stages
    * act as POST-filters of the probe (the ES|QL contract: conditions
    * beside knn are post-filters; index-level pre-filtering via knn's
    * `filter` option is not modeled). With METADATA _score, each kept
    * row's cosine ADDS to `_score` (becoming DOUBLE — ES's knn
    * similarity is a float score). */
  private def knnWhere(df: DataFrame, args: List[Ex]): DataFrame = {
    val dir = Option(annDirTL.get()).getOrElse(throw new IllegalArgumentException(
      "esql: KNN needs a standing ANN index — pass annDir to Esql.run " +
        "(the s15 standing IVF index over that corpus); without an index " +
        "a k-nearest predicate is a full-corpus scan per query"))
    args match {
      case List(EId(field), EArr(items), ELong(k)) =>
        require(k > 0, s"esql: KNN k must be positive, got $k")
        require(df.columns.contains(field),
          s"esql: KNN field $field is not in the frame")
        // the standing index is built over embeddings.embedding — any
        // other column would silently return embedding-space neighbors
        // for a predicate that NAMES a different vector (ADVICE r18 #4:
        // loud reject, the engine's convention)
        require(field == "embedding",
          s"esql: KNN field $field is not the indexed vector column — the " +
            "standing IVF index at annDir covers `embedding` only; KNN " +
            "over another column needs its own standing index")
        require(df.columns.contains("vec_id"),
          "esql: KNN joins the standing index back on vec_id — keep that " +
            "column in the pipe up to the KNN stage")
        val qv = items.map {
          case ELong(v) => v.toDouble
          case EDouble(v) => v
          case EBin("-", ELong(0L), ELong(v)) => -v.toDouble
          case EBin("-", ELong(0L), EDouble(v)) => -v
          case other => throw new IllegalArgumentException(
            s"esql: KNN query vector must be numeric literals, got $other")
        }
        val topk = graft.ext.Similarity.knnProbe(df.sparkSession, dir, qv, k.toInt)
        val joined = df.join(broadcast(topk), Seq("vec_id"))
        if (joined.columns.contains("_score"))
          joined.withColumn("_score", col("_score") + col("_knn_cos"))
            .drop("_knn_cos")
        else joined.drop("_knn_cos")
      case _ => throw new IllegalArgumentException(
        "esql: KNN takes (field, [query vector literals…], k)")
    }
  }

  /** Reject KNN anywhere except as the ENTIRE WHERE predicate: top-k is
    * query-global, so composing it into a boolean tree has no per-row
    * meaning. Write other conditions as their own WHERE stages. */
  private def requireNoKnn(e: Ex): Unit = e match {
    case EFn("KNN", _) => throw new IllegalArgumentException(
      "esql: KNN must be the entire WHERE predicate (query-global top-k, " +
        "not a per-row condition) — put other conditions in their own " +
        "WHERE stages (they compose as post-filters)")
    case EFn(_, as) => as.foreach(requireNoKnn)
    case EBin(_, l, r) => requireNoKnn(l); requireNoKnn(r)
    case ENot(x) => requireNoKnn(x)
    case EIn(x, items) => requireNoKnn(x); items.foreach(requireNoKnn)
    case EIsNull(x, _) => requireNoKnn(x)
    case EArr(items) => items.foreach(requireNoKnn)
    case _ => ()
  }

  /** TO_TIMEDURATION / TO_DATEPERIOD literal: Some((DATE_ADD unit,
    * count)) when `e` is one of the two conversion calls over a
    * parseable `"<n> <unit>"` string (the ES|QL constant-expression
    * contract — the argument is always a literal). Unit vocabularies are
    * disjoint by design: time durations are fixed-width (ms→hour),
    * date periods are calendar units (day→year) — exactly the split
    * DATE_ADD's lowering already honors. */
  private def durLit(e: Ex): Option[(String, Long)] = e match {
    case EFn(f @ ("TO_TIMEDURATION" | "TO_DATEPERIOD"), List(EStr(s))) =>
      val pat = "^\\s*(-?\\d+)\\s*([a-zA-Z]+)\\s*$".r
      s match {
        case pat(n, u0) =>
          val u = u0.toLowerCase
          val time = Map(
            "millisecond" -> "ms", "milliseconds" -> "ms", "ms" -> "ms",
            "second" -> "second", "seconds" -> "second",
            "sec" -> "second", "s" -> "second",
            "minute" -> "minute", "minutes" -> "minute", "min" -> "minute",
            "hour" -> "hour", "hours" -> "hour", "h" -> "hour")
          val period = Map(
            "day" -> "day", "days" -> "day", "d" -> "day",
            "week" -> "week", "weeks" -> "week", "w" -> "week",
            "month" -> "month", "months" -> "month", "mo" -> "month",
            "quarter" -> "quarter", "quarters" -> "quarter", "q" -> "quarter",
            "year" -> "year", "years" -> "year", "yr" -> "year", "y" -> "year")
          val tbl = if (f == "TO_TIMEDURATION") time else period
          tbl.get(u) match {
            case Some(unit) => Some((unit, n.toLong))
            case None => throw new IllegalArgumentException(
              s"esql: $f unit '$u0' is not a " +
                s"${if (f == "TO_TIMEDURATION") "fixed-width time" else "calendar"} unit")
          }
        case _ => throw new IllegalArgumentException(
          s"""esql: cannot parse $f literal '$s' (expected "<n> <unit>")""")
      }
    case _ => None
  }

  private def compile(e: Ex): Column = e match {
    case EId(n) => col(n)
    case ELong(v) => lit(v)
    case EDouble(v) => lit(v)
    case EStr(v) => lit(v)
    case EBool(v) => lit(v)
    case EArr(items) => array(items.map(compile): _*)
    // untyped null — Catalyst coerces it to the CASE/COALESCE branch type
    case ENull => lit(null)
    case ENot(x) => !compile(x)
    case EIsNull(x, neg) =>
      if (neg) compile(x).isNotNull else compile(x).isNull
    case EIn(x, items) =>
      val vals = items.map {
        case ELong(v) => v: Any
        case EDouble(v) => v: Any
        case EStr(v) => v: Any
        case EBool(v) => v: Any
        case other => throw new IllegalArgumentException(
          s"esql: IN list must be literals, got $other")
      }
      compile(x).isin(vals: _*)
    case EFn(name, args) =>
      def c(i: Int) = compile(args(i))
      def arity(n: Int): Unit = require(args.size == n,
        s"esql: $name takes $n arguments, got ${args.size}")
      name match {
        case "ABS" => arity(1); abs(c(0))
        case "ROUND" =>
          if (args.size == 1) round(c(0))
          else args(1) match {
            case ELong(d) => round(c(0), d.toInt)
            case other => throw new IllegalArgumentException(
              s"esql: ROUND scale must be an integer literal, got $other")
          }
        case "LENGTH" => arity(1); length(c(0))
        case "SUBSTRING" =>
          arity(3)
          (args(1), args(2)) match {
            case (ELong(p), ELong(l)) => substring(c(0), p.toInt, l.toInt)
            case _ => throw new IllegalArgumentException(
              "esql: SUBSTRING start/length must be integer literals")
          }
        case "CONCAT" => concat(args.map(compile): _*)
        case "TO_UPPER" => arity(1); upper(c(0))
        case "TO_LOWER" => arity(1); lower(c(0))
        case "TO_LONG" => arity(1); c(0).cast(LongType)
        // TO_INTEGER WIDENS to long — the engine's one documented cast
        // deviation (no silent 32-bit wrap; same disposition as ES SQL's
        // CAST rewrite)
        case "TO_INTEGER" | "TO_INT" => arity(1); c(0).cast(LongType)
        case "TO_DOUBLE" => arity(1); c(0).cast(DoubleType)
        case "TO_BOOLEAN" | "TO_BOOL" =>
          // strings: case-insensitive "true" → true, "false" → false,
          // anything else → null (the TO_* contract); numerics: 0 is
          // false, non-zero true (the ES|QL contract)
          arity(1)
          val isStr = args(0) match {
            case EStr(_) => true
            case EId(f) => Option(curSchema.get).exists(s =>
              s.fields.exists(x => x.name == f &&
                x.dataType == org.apache.spark.sql.types.StringType))
            case _ => false
          }
          if (isStr)
            when(lower(c(0)) === "true", lit(true))
              .when(lower(c(0)) === "false", lit(false))
              .otherwise(lit(null))
          else (c(0) =!= lit(0)).cast(org.apache.spark.sql.types.BooleanType)
        case "COALESCE" => coalesce(args.map(compile): _*)
        case "STARTS_WITH" => arity(2); c(0).startsWith(c(1))
        case "ENDS_WITH" => arity(2); c(0).endsWith(c(1))
        case "TRIM" => arity(1); trim(c(0))
        case "LTRIM" => arity(1); ltrim(c(0))
        case "RTRIM" => arity(1); rtrim(c(0))
        case "REPLACE" =>
          arity(3)
          (args(1), args(2)) match {
            case (EStr(pat), EStr(rep)) =>
              // ES|QL REPLACE is regex-based; pass the pattern through raw
              regexp_replace(c(0), pat, rep)
            case _ => throw new IllegalArgumentException(
              "esql: REPLACE pattern/replacement must be string literals")
          }
        case "SPLIT" =>
          arity(2)
          args(1) match {
            case EStr(sep) => split(c(0), java.util.regex.Pattern.quote(sep))
            case other => throw new IllegalArgumentException(
              s"esql: SPLIT separator must be a string literal, got $other")
          }
        case "DATE_TRUNC" =>
          // DATE_TRUNC(unit, ts) over the engine's epoch-micros timeline:
          // micros → timestamp → calendar truncate → micros (UTC session,
          // so the calendar math matches the oracle's)
          arity(2)
          args(0) match {
            case EStr(u) => unix_micros(date_trunc(u, timestamp_micros(c(1))))
            case other => throw new IllegalArgumentException(
              s"esql: DATE_TRUNC unit must be a string literal, got $other")
          }
        // math — SQRT is IEEE-correctly-rounded (safe for the bit-exact
        // oracle); POW/LOG/LOG10/EXP/CBRT ride libm and can differ from
        // DuckDB in the last ulp, so registry queries keep them off the
        // hash-compared path (unit specs pin their JVM-side values)
        case "POW" => arity(2); pow(c(0), c(1))
        case "SQRT" => arity(1); sqrt(c(0))
        case "CBRT" => arity(1); cbrt(c(0))
        case "LOG" =>
          if (args.size == 1) log(c(0))
          else args(0) match {
            case ELong(b) => log(b.toDouble, c(1))
            case EDouble(b) => log(b, c(1))
            case other => throw new IllegalArgumentException(
              s"esql: LOG base must be a numeric literal, got $other")
          }
        case "LOG10" => arity(1); log10(c(0))
        case "EXP" => arity(1); exp(c(0))
        // ES|QL FLOOR/CEIL are noops on integers; the engine implements the
        // double timeline (result double, matching DuckDB's floor/ceil)
        case "FLOOR" => arity(1); floor(c(0)).cast(DoubleType)
        case "CEIL" => arity(1); ceil(c(0)).cast(DoubleType)
        case "SIGNUM" => arity(1); signum(c(0))
        // trigonometry (ES|QL 8.x tail, wave 3): straight codegen'd Spark
        // built-ins — both engines call the platform libm, and the oracle
        // rounds doubles to 9 decimals, far above the ≤1-ulp divergence
        // non-correctly-rounded transcendentals can show
        case "SIN" => arity(1); sin(c(0))
        case "COS" => arity(1); cos(c(0))
        case "TAN" => arity(1); tan(c(0))
        case "ASIN" => arity(1); asin(c(0))
        case "ACOS" => arity(1); acos(c(0))
        case "ATAN" => arity(1); atan(c(0))
        case "ATAN2" => arity(2); atan2(c(0), c(1))
        case "SINH" => arity(1); sinh(c(0))
        case "COSH" => arity(1); cosh(c(0))
        case "TANH" => arity(1); tanh(c(0))
        case "TO_DEGREES" => arity(1); degrees(c(0))
        case "TO_RADIANS" => arity(1); radians(c(0))
        // SCALB(d, n) = d·2ⁿ — exact in binary floating point (a power
        // of two only moves the exponent), so the product form is
        // bit-identical to Math.scalb and to the oracle's d * 2^n
        case "SCALB" => arity(2)
          c(0).cast(DoubleType) * pow(lit(2.0), c(1))
        case "ROUND_TO" =>
          // ROUND_TO(field, p1, p2, …) (9.1): rounds DOWN to the nearest
          // of the fixed points — values below every point take the
          // SMALLEST point (the ES|QL contract: the first bucket catches
          // everything below it). Points are plan-time literals, so the
          // whole thing folds to one codegen'd when-chain — the fixed-
          // bucket histogram shape without a join against a bucket table.
          require(args.size >= 2, "esql: ROUND_TO needs a field and at least one point")
          val pts = args.tail.map {
            case ELong(v) => v.toDouble
            case EDouble(v) => v
            case other => throw new IllegalArgumentException(
              s"esql: ROUND_TO points must be numeric literals, got $other")
          }
          val sortedPts = pts.sorted
          // descending when-chain: first point ≤ value wins; below all →
          // smallest point. Long points stay long (ES returns the point
          // with the field's numeric type family; the engine pins the
          // literals' widest type — all-long points → long column)
          val allLong = args.tail.forall { case ELong(_) => true; case _ => false }
          def litP(p: Double) = if (allLong) lit(p.toLong) else lit(p)
          val v = c(0).cast(DoubleType)
          // null input → null (the scalar contract), NOT the smallest
          // point — a bare when-chain's otherwise() would swallow nulls
          sortedPts.reverse.tail.foldLeft(
            when(v.isNull, lit(null))
              .when(v >= lit(sortedPts.last), litP(sortedPts.last))) {
            (acc, p) => acc.when(v >= lit(p), litP(p))
          }.otherwise(litP(sortedPts.head))
        case "KNN" => throw new IllegalArgumentException(
          "esql: KNN is query-global top-k, not a per-row expression — " +
            "write it as the ENTIRE WHERE predicate (served from the s15 " +
            "standing IVF index when Esql.run is given annDir); other " +
            "conditions go in their own WHERE stages as post-filters")
        case "TO_TIMEDURATION" | "TO_DATEPERIOD" =>
          // outside `datetime ± …` arithmetic the constant has no column
          // representation — the EBin lowering above is the whole surface
          throw new IllegalArgumentException(
            s"esql: $name is only meaningful in datetime arithmetic — " +
              """write ts + TO_DATEPERIOD("1 month") / ts - TO_TIMEDURATION("1 hour")""")
        case "PI" => arity(0); lit(math.Pi)
        case "E" => arity(0); lit(math.E)
        case "TAU" => arity(0); lit(2.0 * math.Pi)
        case "GREATEST" => greatest(args.map(compile): _*)
        case "LEAST" => least(args.map(compile): _*)
        // strings
        case "LEFT" =>
          arity(2)
          args(1) match {
            case ELong(n) => substring(c(0), 1, n.toInt)
            case other => throw new IllegalArgumentException(
              s"esql: LEFT length must be an integer literal, got $other")
          }
        case "RIGHT" => arity(2); call_function("right", c(0), c(1))
        case "REVERSE" => arity(1); reverse(c(0))
        case "REPEAT" => arity(2); repeat(c(0), c(1).cast("int"))
        case "LOCATE" =>
          // LOCATE(string, substring) — 1-based, 0 when absent (both the
          // ES|QL and SQL instr contract)
          arity(2); call_function("instr", c(0), c(1)).cast(LongType)
        case "SPACE" => arity(1); repeat(lit(" "), c(0).cast("int"))
        case "BIT_LENGTH" => arity(1); bit_length(c(0)).cast(LongType)
        case "BYTE_LENGTH" => arity(1); octet_length(c(0)).cast(LongType)
        case "MD5" => arity(1); md5(c(0))
        case "SHA256" => arity(1); sha2(c(0), 256)
        case "TO_IP" =>
          // TO_IP(string) — validated IPv4 in canonical dotted-quad form
          // (each octet 0-255, no leading zeros); anything else → null,
          // the TO_* contract. DOCUMENTED DEVIATION: ES also parses
          // IPv6; the engine's IP type is the canonical IPv4 string (the
          // log-data case) and v6 literals null out rather than risking
          // a divergent canonicalization. One codegen'd rlike per row.
          arity(1)
          val s = c(0).cast("string")
          when(s.rlike(s"^$Ipv4Octet(\\.$Ipv4Octet){3}$$"), s)
        case "IP_PREFIX" =>
          // IP_PREFIX(ip, v4len, v6len) (8.14) — the network address
          // with the low 32−len bits zeroed. The prefix lengths must be
          // plan-time literals, so the MASK FOLDS TO A CONSTANT and the
          // per-row work is 4 int parses + 1 AND + re-join — codegen'd
          // splits/casts, no UDF, no shuffle. v6len is accepted (the ES
          // signature) but v6 inputs are null by TO_IP's v4-only bound.
          arity(3)
          val len = args(1) match {
            case ELong(v) if v >= 0 && v <= 32 => v.toInt
            case other => throw new IllegalArgumentException(
              s"esql: IP_PREFIX v4 prefix length must be a literal 0-32, got $other")
          }
          args(2) match {
            case ELong(v) if v >= 0 && v <= 128 => ()
            case other => throw new IllegalArgumentException(
              s"esql: IP_PREFIX v6 prefix length must be a literal 0-128, got $other")
          }
          val s = c(0).cast("string")
          val p = split(s, "\\.")
          def oct(i: Int) = element_at(p, i + 1).cast(LongType)
          val ipNum = oct(0) * 16777216L + oct(1) * 65536L +
            oct(2) * 256L + oct(3)
          val mask = if (len == 0) 0L else (-1L << (32 - len)) & 0xFFFFFFFFL
          val net = ipNum.bitwiseAND(lit(mask))
          val out = concat_ws(".",
            (shiftright(net, 24) % 256).cast("string"),
            (shiftright(net, 16) % 256).cast("string"),
            (shiftright(net, 8) % 256).cast("string"),
            (net % 256).cast("string"))
          when(s.rlike(s"^$Ipv4Octet(\\.$Ipv4Octet){3}$$"), out)
        case "SHA1" => arity(1); sha1(c(0))
        // HASH(alg, v) — the generic ES|QL form; alg must be a literal so
        // the dispatch is plan-time (a per-row algorithm switch would not
        // be a single codegen'd expression)
        case "HASH" =>
          arity(2)
          args(0) match {
            case EStr(alg) => alg.toLowerCase match {
              case "md5" => md5(c(1))
              case "sha1" => sha1(c(1))
              case "sha256" => sha2(c(1), 256)
              case "sha384" => sha2(c(1), 384)
              case "sha512" => sha2(c(1), 512)
              case other => throw new IllegalArgumentException(
                s"esql: HASH algorithm $other (have: md5, sha1, sha256, " +
                  "sha384, sha512)")
            }
            case other => throw new IllegalArgumentException(
              s"esql: HASH algorithm must be a string literal, got $other")
          }
        // base64 over UTF-8 bytes of the string form — both directions
        // byte-exact in any engine (no floats, no locale)
        case "TO_BASE64" => arity(1); base64(c(0).cast("binary"))
        case "FROM_BASE64" => arity(1); unbase64(c(0)).cast("string")
        case "TO_STRING" => arity(1); c(0).cast("string")
        case "DATE_EXTRACT" =>
          // DATE_EXTRACT(part, ts) over epoch-micros; parts are the ES|QL
          // ChronoField names (ISO day_of_week: Monday = 1)
          arity(2)
          val ts = timestamp_micros(c(1))
          (args(0) match {
            case EStr(p) => p.toLowerCase match {
              case "year" => year(ts)
              case "month_of_year" => month(ts)
              case "day_of_month" => dayofmonth(ts)
              case "day_of_year" => dayofyear(ts)
              case "hour_of_day" => hour(ts)
              case "minute_of_hour" => minute(ts)
              case "second_of_minute" => second(ts)
              case "day_of_week" => (dayofweek(ts) + 5) % 7 + 1 // ISO: Mon=1
              case other => throw new IllegalArgumentException(
                s"esql: unsupported DATE_EXTRACT part $other")
            }
            case other => throw new IllegalArgumentException(
              s"esql: DATE_EXTRACT part must be a string literal, got $other")
          }).cast(LongType)
        case "DATE_FORMAT" =>
          // DATE_FORMAT(pattern, ts) — java DateTimeFormatter pattern over
          // the UTC session timeline
          arity(2)
          args(0) match {
            case EStr(fmt) => date_format(timestamp_micros(c(1)), fmt)
            case other => throw new IllegalArgumentException(
              s"esql: DATE_FORMAT pattern must be a string literal, got $other")
          }
        case "TO_DATETIME" =>
          // TO_DATETIME(string|number) — ES|QL's standard datetime
          // conversion: ISO-8601 strings (date-only or date-time) parse
          // on the UTC session timeline, numbers are epoch MILLIS (the
          // ES datetime unit) scaled to the engine's micros; unparseable
          // → null (the TO_* contract). This is how real pipes write
          // date literals: WHERE ts > TO_DATETIME("2024-01-01").
          arity(1)
          args(0) match {
            case ELong(_) | EDouble(_) => (c(0) * lit(1000L)).cast(LongType)
            // a bare numeric COLUMN is epoch millis too (the ES|QL
            // contract) — resolved via the frame schema so it gets the
            // same millis→micros scaling as a numeric literal instead of
            // riding a string cast into an all-null ISO parse
            case EId(f) if Option(curSchema.get).exists(s =>
                s.fields.exists(x => x.name == f &&
                  x.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])) =>
              (c(0).cast(LongType) * lit(1000L)).cast(LongType)
            // the string cast pins remaining non-literal args to STRING
            // parsing: unparseable → null, the TO_* contract. (A COMPUTED
            // numeric expression still parses as a string — pass it
            // through a numeric column or literal for millis semantics.)
            case _ => unix_micros(try_to_timestamp(c(0).cast("string")))
          }
        case "DATE_PARSE" =>
          // DATE_PARSE(pattern, string) — the inverse of DATE_FORMAT:
          // java pattern → epoch micros on the UTC session timeline
          // (unparseable strings → null, the ES|QL contract)
          arity(2)
          args(0) match {
            case EStr(fmt) => unix_micros(try_to_timestamp(c(1), lit(fmt)))
            case other => throw new IllegalArgumentException(
              s"esql: DATE_PARSE pattern must be a string literal, got $other")
          }
        case "CATEGORIZE" =>
          // CATEGORIZE(field) (8.18, STATS BY) — log-pattern grouping.
          // Same DOCUMENTED DEVIATION as the categorize_text agg
          // (EsAggs.scala): ES runs an ML token-weight categorizer; the
          // engine keys by the deterministic token SKELETON (hex runs
          // masked before digit runs), reproducible and codegen'd. A
          // plain scalar expression, so BY cat = CATEGORIZE(msg) is just
          // a grouping key — one hash aggregation, no extra machinery.
          arity(1)
          regexp_replace(regexp_replace(c(0).cast("string"),
            lit("\\b0x[0-9a-fA-F]+\\b"), lit("<hex>")),
            lit("[0-9]+"), lit("<n>"))
        case "DATE_DIFF" =>
          // DATE_DIFF(unit, start, end) — whole units from start to end,
          // truncated toward zero (the ES|QL contract); exact long math on
          // the micros timeline
          arity(3)
          val perUnit: Long = args(0) match {
            case EStr(u) => u.toLowerCase match {
              case "microseconds" | "mcs" => 1L
              case "milliseconds" | "ms" => 1000L
              case "seconds" | "second" | "ss" | "s" => 1000000L
              case "minutes" | "minute" | "mi" | "n" => 60L * 1000000L
              case "hours" | "hour" | "hh" => 3600L * 1000000L
              case "days" | "day" | "dd" | "d" => 86400L * 1000000L
              case "weeks" | "week" | "wk" | "ww" => 7L * 86400L * 1000000L
              case m @ ("months" | "month" | "quarters" | "quarter" |
                        "years" | "year" | "nanoseconds" | "ns") =>
                throw new IllegalArgumentException(
                  s"esql: DATE_DIFF unit $m is not supported (calendar " +
                    "whole-unit counting is day-of-month-rule dependent; " +
                    "use DATE_EXTRACT arithmetic or DATE_ADD instead)")
              case other => throw new IllegalArgumentException(
                s"esql: unsupported DATE_DIFF unit $other")
            }
            case other => throw new IllegalArgumentException(
              s"esql: DATE_DIFF unit must be a string literal, got $other")
          }
          // whole units truncated toward zero (the ES|QL contract):
          // double quotient (diff < 2^53 so it is exact enough), then the
          // long cast truncates toward zero — -1.5 days → -1, not -2
          ((c(2) - c(1)).cast(LongType) / lit(perUnit)).cast(LongType)
        case "DATE_ADD" =>
          // DATE_ADD(unit, n, ts) — ES SQL's date-math scalar (the ES SQL
          // INTERVAL arithmetic `ts + INTERVAL n unit` translates to it;
          // unit abbreviations per the ES SQL DATE_ADD docs). Fixed-width
          // units stay EXACT LONG MATH on the epoch-micros timeline
          // (ts + n·unit_micros — no timestamp round-trip in the hot
          // path); calendar units (month/quarter/year) ride Spark's
          // timestamp + month-interval, which clamps day-of-month
          // (Jan 31 + 1 month = Feb 28) exactly like ES and the oracle.
          arity(3)
          val unit = args(0) match {
            case EStr(u) => u.toLowerCase
            case other => throw new IllegalArgumentException(
              s"esql: DATE_ADD unit must be a string literal, got $other")
          }
          val n = c(1).cast("int")
          val fixedMicros: Option[Long] = unit match {
            case "millisecond" | "milliseconds" | "ms" => Some(1000L)
            case "second" | "seconds" | "ss" | "s" => Some(1000000L)
            case "minute" | "minutes" | "mi" | "n" => Some(60L * 1000000L)
            case "hour" | "hours" | "hh" => Some(3600L * 1000000L)
            case "day" | "days" | "dd" | "d" => Some(86400L * 1000000L)
            case "week" | "weeks" | "wk" | "ww" => Some(7L * 86400L * 1000000L)
            case _ => None
          }
          fixedMicros match {
            case Some(per) => c(2) + n.cast(LongType) * lit(per)
            case None =>
              val months = unit match {
                case "month" | "months" | "mm" | "m" => n
                case "quarter" | "quarters" | "qq" | "q" => n * lit(3)
                case "year" | "years" | "yy" | "yyyy" => n * lit(12)
                case other => throw new IllegalArgumentException(
                  s"esql: unsupported DATE_ADD unit $other")
              }
              unix_micros(timestamp_micros(c(2)) +
                make_interval(lit(0), months))
          }
        case "MV_COUNT" => arity(1); size(c(0)).cast(LongType)
        case "MV_MIN" => arity(1); array_min(c(0))
        case "MV_MAX" => arity(1); array_max(c(0))
        case "MV_FIRST" => arity(1); element_at(c(0), 1)
        case "MV_LAST" => arity(1); element_at(c(0), -1)
        // MV_SUM/MV_AVG: sequential left fold in double — the same exact
        // operation order the oracle's lambda fold reproduces, so float
        // inputs hash-match without a decimal detour
        case "MV_SUM" => arity(1)
          aggregate(c(0), lit(0.0), (acc, x) => acc + x.cast(DoubleType))
        case "MV_AVG" => arity(1)
          aggregate(c(0), lit(0.0), (acc, x) => acc + x.cast(DoubleType)) /
            size(c(0)).cast(DoubleType)
        case "MV_MEDIAN" =>
          // sorted middle element; even count → mean of the two middles
          // (the ES|QL contract) — element picks + one add/div, exact.
          // Null elements are dropped first (array_compact): ES never
          // stores nulls inside a multivalue, and it keeps the engine's
          // nulls-last array_sort and DuckDB's nulls-first list_sort
          // from picking different endpoints on degenerate input
          arity(1)
          val vals = array_compact(c(0))
          val sorted = array_sort(vals)
          val n = size(vals)
          val lo = element_at(sorted, ((n + 1) / 2).cast("int")).cast(DoubleType)
          val hi = element_at(sorted, (n / 2).cast("int") + 1).cast(DoubleType)
          when(n % 2 === 1, lo).otherwise((lo + hi) / 2.0)
        case "MV_PERCENTILE" =>
          // MV_PERCENTILE(field, p) (8.14) — linear-interpolated
          // percentile over the row's multivalue, the PERCENTILE agg's
          // math at row grain: rank = p/100·(n−1), v = s[lo] + frac·
          // (s[hi] − s[lo]). Exact element picks + one mul/add per row —
          // deterministic, the oracle reproduces it term for term.
          // Null elements are dropped first (array_compact, as in
          // MV_MEDIAN): ES multivalues never hold nulls, and the
          // engine's nulls-last sort vs DuckDB's nulls-first list_sort
          // would otherwise pick different interpolation endpoints.
          arity(2)
          val pct = args(1) match {
            case ELong(v) => v / 100.0
            case EDouble(v) => v / 100.0
            case other => throw new IllegalArgumentException(
              s"esql: MV_PERCENTILE percent must be a numeric literal, got $other")
          }
          val vals = array_compact(c(0))
          val sorted = array_sort(vals)
          val n = size(vals)
          val rank = (n - 1).cast(DoubleType) * lit(pct)
          val lo = floor(rank).cast("int")
          val frac = rank - floor(rank)
          val vlo = element_at(sorted, lo + 1).cast(DoubleType)
          val vhi = element_at(sorted, least(lo + lit(2), n)).cast(DoubleType)
          when(n > 0, vlo + frac * (vhi - vlo))
        case "MV_PSERIES_WEIGHTED_SUM" =>
          // MV_PSERIES_WEIGHTED_SUM(field, p) (8.16): Σ v[k]/k^p over
          // the multivalue IN LIST ORDER, k 1-based — the rank-decay
          // fold (RRF-style relevance over ordered candidates). One
          // sequential indexed fold per row (zip_with against 1..n +
          // aggregate), no explode; empty/null lists → null.
          arity(2)
          val pexp = args(1) match {
            case ELong(v) => v.toDouble
            case EDouble(v) => v
            case other => throw new IllegalArgumentException(
              s"esql: MV_PSERIES_WEIGHTED_SUM p must be a numeric literal, got $other")
          }
          val n = size(c(0))
          val weighted = zip_with(c(0), sequence(lit(1), greatest(n, lit(1))),
            (v, k) => v.cast(DoubleType) / pow(k.cast(DoubleType), lit(pexp)))
          when(n > 0,
            aggregate(weighted, lit(0.0), (acc, x) => acc + x))
            .otherwise(lit(null))
        // ES|QL mv_dedupe leaves order unspecified; the engine pins the
        // deterministic sorted form (documented deviation, oracle-stable)
        case "MV_DEDUPE" => arity(1); array_sort(array_distinct(c(0)))
        case "MV_SORT" =>
          require(args.size == 1 || args.size == 2,
            s"esql: MV_SORT takes (field [, order]), got ${args.size} args")
          val asc = if (args.size == 1) true else args(1) match {
            case EStr(o) if o.equalsIgnoreCase("ASC") => true
            case EStr(o) if o.equalsIgnoreCase("DESC") => false
            case other => throw new IllegalArgumentException(
              s"""esql: MV_SORT order must be "ASC" or "DESC", got $other""")
          }
          sort_array(c(0), asc = asc)
        case "MV_SLICE" =>
          // 0-based inclusive ends (the ES|QL contract); literal bounds
          arity(3)
          (args(1), args(2)) match {
            case (ELong(s0), ELong(e0)) if s0 >= 0 && e0 >= s0 =>
              slice(c(0), s0.toInt + 1, (e0 - s0).toInt + 1)
            case _ => throw new IllegalArgumentException(
              "esql: MV_SLICE needs literal 0 <= start <= end")
          }
        case "MV_CONCAT" =>
          arity(2)
          args(1) match {
            // element-wise cast to string first, so numeric multivalues
            // concat too (long → "41", matching array_to_string's cast)
            case EStr(sep) => array_join(transform(c(0), _.cast("string")), sep)
            case other => throw new IllegalArgumentException(
              s"esql: MV_CONCAT separator must be a string literal, got $other")
          }
        case "MV_APPEND" => arity(2); concat(c(0), c(1))
        case "MV_ZIP" =>
          // pairwise join with a separator. The engine requires equal
          // lengths and ENFORCES it: unequal-length inputs yield null
          // (DOCUMENTED DEVIATION — ES pads the shorter side with the
          // bare value; silently emitting half-pairs would drift from
          // both contracts, so the mismatch is made visible instead)
          arity(3)
          args(2) match {
            case EStr(sep) =>
              when(size(c(0)) === size(c(1)),
                zip_with(c(0), c(1), (x, y) => concat_ws(sep, x, y)))
            case other => throw new IllegalArgumentException(
              s"esql: MV_ZIP separator must be a string literal, got $other")
          }
        case "BUCKET" =>
          // numeric bucketing: floor(x / span) * span — floor cast back to
          // double so the bucket key type matches SQL floor() semantics
          arity(2)
          floor(c(0) / c(1)).cast(DoubleType) * c(1)
        case "MATCH" =>
          // MATCH(field, "query") — ES|QL's full-text WHERE function
          // (8.16): the match query's semantics over the field's ANALYZED
          // terms. The query string runs the same analyzer chain at
          // plan-build time (lowercase → strip → stopwords → stem,
          // TextAnalysis.analyzeQuery); the field analyzes row-side with
          // the codegen'd column chain (TextAnalysis.analyze); the
          // predicate is OR-of-terms — ES match's default OR operator.
          // Zero analyzed terms (all stopwords) matches nothing, the ES
          // contract. Stays a plain boolean filter: pushdown-eligible,
          // no index structure, scales as the scan does.
          arity(2)
          args(1) match {
            case EStr(q) =>
              val terms = graft.ext.TextAnalysis.analyzeQuery(q)
              if (terms.isEmpty) lit(false)
              else terms.map(t =>
                array_contains(graft.ext.TextAnalysis.analyze(c(0)), t))
                .reduce(_ || _)
            case other => throw new IllegalArgumentException(
              s"esql: MATCH query must be a string literal, got $other")
          }
        case "MATCH_PHRASE" =>
          // MATCH_PHRASE(field, "phrase") (ES|QL 9.x): consecutive
          // analyzed tokens, in order — the match_phrase query as a
          // boolean function. Rides the Query DSL's phrase machinery
          // (SearchOps.phraseMatch), so both languages share one
          // definition of "phrase".
          arity(2)
          args(1) match {
            case EStr(q) => SearchOps.phraseMatch(c(0), q)
            case other => throw new IllegalArgumentException(
              s"esql: MATCH_PHRASE phrase must be a string literal, got $other")
          }
        case "QSTR" =>
          // QSTR("query string") (ES|QL 8.17): the Kibana search-bar
          // syntax as a WHERE function. The string compiles through the
          // SAME QueryString→SearchQuery→Column path the Query DSL uses
          // (field:value analyzed terms, phrases, prefixes/wildcards,
          // field:* exists, AND/OR/NOT + parens), resolved against the
          // current frame's schema — one grammar, no second path to
          // drift. Stays a plain boolean filter: pushdown-eligible
          // where its leaves are (prefix → StartsWith etc.).
          arity(1)
          args.head match {
            case EStr(qs) =>
              val schema = curSchema.get
              require(schema != null,
                "esql: QSTR needs a source frame in scope (not usable in ROW)")
              val ast = QueryString.parse(qs, schema)
              SearchQuery.compile(ast,
                struct(schema.fieldNames.map(col).toSeq: _*))
            case other => throw new IllegalArgumentException(
              s"esql: QSTR query must be a string literal, got $other")
          }
        case "KQL" => throw new IllegalArgumentException(
          "esql: KQL is not supported — use QSTR (the query_string syntax); " +
            "a half-faithful KQL would silently differ on and/or precedence")
        case "CASE" =>
          // CASE(cond1, v1 [, cond2, v2 ...] [, default]) — a when chain;
          // no default → null (the ES|QL contract)
          require(args.size >= 2, s"esql: CASE needs condition/value pairs")
          val (pairArgs, default) =
            if (args.size % 2 == 1) (args.dropRight(1), Some(args.last))
            else (args, None)
          val pairs = pairArgs.grouped(2).map { g => (compile(g(0)), compile(g(1))) }.toSeq
          val chain = pairs.tail.foldLeft(when(pairs.head._1, pairs.head._2)) {
            case (acc, (cond, v)) => acc.when(cond, v)
          }
          default.map(d => chain.otherwise(compile(d))).getOrElse(chain)
        case other => throw new IllegalArgumentException(
          s"esql: unsupported function $other")
      }
    // datetime ± TO_TIMEDURATION/TO_DATEPERIOD (9.x wave 3): the
    // duration/period literal folds at plan time and the arithmetic
    // lowers onto DATE_ADD — exact long micros for time durations,
    // calendar-aware (day-of-month clamping) for date periods. The
    // commuted `period + ts` form works for +; `period - ts` is not a
    // datetime and rejects through the standalone-call reject below.
    case EBin(op @ ("+" | "-"), l, r) if durLit(r).nonEmpty =>
      val (unit, n) = durLit(r).get
      compile(EFn("DATE_ADD",
        List(EStr(unit), ELong(if (op == "-") -n else n), l)))
    case EBin("+", l, r) if durLit(l).nonEmpty =>
      val (unit, n) = durLit(l).get
      compile(EFn("DATE_ADD", List(EStr(unit), ELong(n), r)))
    case EBin(op, l, r) =>
      val (a, b) = (compile(l), compile(r))
      op match {
        case "==" => a === b
        case "!=" => a =!= b
        case "<" => a < b
        case "<=" => a <= b
        case ">" => a > b
        case ">=" => a >= b
        case "and" => a && b
        case "or" => a || b
        case "like" => r match {
          // ES|QL wildcards: * = any run, ? = one char
          case EStr(p) => a.like(p.replace("%", "\\%").replace("_", "\\_")
            .replace("*", "%").replace("?", "_"))
          case _ => throw new IllegalArgumentException(
            "esql: LIKE needs a string literal pattern")
        }
        case "rlike" => r match {
          case EStr(p) => a.rlike(p)
          case _ => throw new IllegalArgumentException(
            "esql: RLIKE needs a string literal pattern")
        }
        case "+" => a + b
        case "-" => a - b
        case "*" => a * b
        case "/" => a / b
        case "%" => a % b
      }
  }

  // ---------------------------------------------------- dissect / grok
  private val DissectKeyRe = """%\{([A-Za-z_][A-Za-z0-9_]*)\}""".r

  /** DISSECT: keys separated by literal text; anchored whole-string match
    * (the ES dissect contract). Keys become lazy groups — the trailing
    * `$` anchor forces the last one to take the remainder. Shared with
    * the ingest pipeline's `dissect` processor. */
  private[docs] def dissectToRegex(pattern: String): (String, Seq[String]) = {
    val keys = DissectKeyRe.findAllMatchIn(pattern).map(_.group(1)).toSeq
    require(keys.nonEmpty, s"esql: DISSECT pattern has no %{key}s: $pattern")
    // Literal parts interleaved with one group per key; the -1 limit keeps
    // the trailing empty part when the pattern ends with a key.
    val parts = DissectKeyRe.pattern.split(pattern, -1)
      .map(p => if (p.isEmpty) "" else java.util.regex.Pattern.quote(p))
    val sb = new StringBuilder("^")
    parts.zipWithIndex.foreach { case (p, i) =>
      sb.append(p); if (i < keys.size) sb.append("(.*?)")
    }
    sb.append("$")
    (sb.toString, keys)
  }

  /** GROK core subset: %{TYPE:name} over a regex skeleton (grok's literal
    * parts ARE regex — `\.` matches a dot, `.` any char); unanchored
    * first-match (the grok contract). Capture groups in the skeleton are
    * rejected — they would shift the extraction indices. Shared with the
    * ingest pipeline's `grok` processor. */
  private val GrokTypes = Map(
    "WORD" -> """\w+""", "INT" -> """[+-]?\d+""",
    "NUMBER" -> """[+-]?\d+(?:\.\d+)?""", "DATA" -> """.*?""",
    "GREEDYDATA" -> """.*""", "NOTSPACE" -> """\S+""")
  private val GrokKeyRe = """%\{([A-Z]+):([A-Za-z_][A-Za-z0-9_]*)\}""".r

  private[docs] def grokToRegex(pattern: String): (String, Seq[String]) = {
    val ms = GrokKeyRe.findAllMatchIn(pattern).toSeq
    require(ms.nonEmpty, s"esql: GROK pattern has no %{TYPE:name}s: $pattern")
    val keys = ms.map(_.group(2))
    val types = ms.map(_.group(1))
    types.find(!GrokTypes.contains(_)).foreach { t =>
      throw new IllegalArgumentException(
        s"esql: unsupported grok type %{$t:...} (have: ${GrokTypes.keys.toSeq.sorted.mkString(", ")})")
    }
    val parts = GrokKeyRe.pattern.split(pattern, -1)
    require(!parts.exists(_.contains("(")),
      s"esql: grok skeleton must not contain capture groups: $pattern")
    val sb = new StringBuilder
    parts.zipWithIndex.foreach { case (p, i) =>
      sb.append(p); if (i < keys.size) sb.append("(").append(GrokTypes(types(i))).append(")")
    }
    (sb.toString, keys)
  }

  // ------------------------------------------------------------ commands
  /** Run an ES|QL pipe against the named sources. `enrich` maps a policy
    * name to (policy table, match field) — the replicated lookup index an
    * ENRICH command joins against (always broadcast: policy tables are
    * dimension-sized by contract, the corpus side never shuffles).
    * `scoreMode` selects the METADATA _score relevance: "terms" (the
    * default — integer matched-term counts, oracle-exact, d251) or
    * "bm25" (fixed-point BM25 with index-level stats, [[Bm25]]) — the
    * engine-level analogue of ES's per-index similarity setting (ES|QL
    * itself has no syntax for it; ES is always BM25). */
  def run(sources: Map[String, DataFrame], query: String,
          enrich: Map[String, (DataFrame, String)] = Map.empty,
          scoreMode: String = "terms",
          annDir: Option[String] = None): DataFrame =
    Lex.planning("esql")(plan(sources, query, enrich, scoreMode, annDir))

  private def plan(sources: Map[String, DataFrame], query: String,
                   enrich: Map[String, (DataFrame, String)], scoreMode: String,
                   annDir: Option[String]): DataFrame = {
    require(scoreMode == "terms" || scoreMode == "bm25",
      s"esql: scoreMode must be terms or bm25, got $scoreMode")
    curSchema.remove() // no stale frame schema from a previous query (QSTR)
    bm25Index.remove() // no stale stats frame either (also cleared in
    bm25Stats.remove() // the FROM path's finally; TS/ROW never set them)
    annDirTL.remove()
    annDir.foreach(annDirTL.set)
    // split the token stream on top-level pipes (paren-aware: pipes
    // inside FORK branch parentheses belong to the branch, not the pipe)
    val segments = Lex.splitTop(tokenize(query))(_ == TOp("|"))
    require(segments.nonEmpty && segments.head.nonEmpty, "esql: empty query")
    def kw(t: Tok): String = t match {
      case TId(s) => s.toUpperCase
      case other => throw new IllegalArgumentException(s"esql: expected a command, got $other")
    }
    val head = segments.head
    // TS <index> ON <seriesCol> (8.16 METRICS/TS mode): like FROM, but
    // marks the pipe time-series — STATS may then use the RATE() agg,
    // computed per series. DOCUMENTED DEVIATION: ES discovers the series
    // dimensions from index-mapping metadata (time_series_dimension);
    // parquet has no such metadata, so the series key column is named
    // explicitly with ON.
    if (kw(head.head) == "TS") {
      val hp = new P(head.tail)
      val src = hp.ident()
      hp.expectKw("ON")
      val series = hp.ident()
      hp.end("TS")
      val t = sources.getOrElse(src, throw new IllegalArgumentException(
        s"esql: unknown index $src (have: ${sources.keys.toSeq.sorted.mkString(", ")})"))
      require(t.columns.contains("ts_us"),
        "esql: TS requires a ts_us epoch-micros column on the index")
      return pipe(t, segments.tail, sources, enrich, Some(series))
    }
    // ROW name = <literal expr>, ... — the literal source command (one
    // row, no index). Expressions may be any supported scalar expression
    // over literals; the frame is a 1-row local relation, so the rest of
    // the pipe costs nothing.
    if (kw(head.head) == "ROW") {
      require(sources.nonEmpty,
        "esql: ROW needs at least one registered source for the session")
      val hp = new P(head.tail)
      val cols = scala.collection.mutable.ListBuffer[Column]()
      var go = true
      while (go) {
        val name = hp.ident()
        hp.expect("=")
        cols += compile(hp.expr()).as(name)
        if (hp.peek.contains(TOp(","))) hp.pop() else go = false
      }
      hp.end("ROW")
      val one = sources.head._2.sparkSession.range(1).select(cols.toSeq: _*)
      return pipe(one, segments.tail, sources, enrich)
    }
    require(kw(head.head) == "FROM", s"esql: pipe must start with FROM or ROW or TS")
    // FROM idx[, idx...] [METADATA _index[, _score]] — multi-index search
    // unions by name (missing fields null, the cross-index ES contract).
    // METADATA _index stamps each row's source index as a literal, so it
    // costs nothing and groups/filters like any column. METADATA _score
    // seeds a `_score` column at 0; each WHERE containing full-text
    // MATCH() functions then ADDS its matched-term count (the engine's
    // integer term-count relevance — same design as the Query DSL
    // `_score`, d23; DOCUMENTED DEVIATION from ES's BM25 float: exact in
    // any engine, oracle-reproducible). `_score` stays a plain column —
    // SORT/WHERE/KEEP/STATS over it compile like any other.
    val hp = new P(head.tail)
    val srcNames = scala.collection.mutable.ListBuffer(hp.ident())
    while (hp.peek.contains(TOp(","))) { hp.pop(); srcNames += hp.ident() }
    val metaNames = scala.collection.mutable.ListBuffer[String]()
    hp.peek match {
      case Some(TId(s)) if s.equalsIgnoreCase("METADATA") =>
        hp.pop()
        metaNames += hp.ident()
        while (hp.peek.contains(TOp(","))) { hp.pop(); metaNames += hp.ident() }
        metaNames.foreach(m => require(m == "_index" || m == "_score",
          s"esql: only METADATA _index and _score are supported, got $m"))
      case _ => ()
    }
    hp.end("FROM")
    def load(n: String): DataFrame = {
      val t = sources.getOrElse(n, throw new IllegalArgumentException(
        s"esql: unknown index $n (have: ${sources.keys.toSeq.sorted.mkString(", ")})"))
      val t1 = if (metaNames.contains("_index")) t.withColumn("_index", lit(n)) else t
      if (metaNames.contains("_score")) t1.withColumn("_score", lit(0L)) else t1
    }
    val base = srcNames.map(load).reduce(_.unionByName(_, allowMissingColumns = true))
    // bm25 stats scope = the index as loaded, BEFORE any WHERE — the ES
    // semantic (df/avgdl are index metadata, not hit-set statistics).
    // Cleared after the plan is built: the ThreadLocal would otherwise pin
    // the corpus frame on a pooled thread indefinitely.
    if (scoreMode == "bm25") bm25Index.set(base)
    try pipe(base, segments.tail, sources, enrich)
    finally { bm25Index.remove(); bm25Stats.remove(); annDirTL.remove() }
  }

  /** Apply pipe segments to a running frame — the command interpreter,
    * factored out so FORK branches recurse from the fork point. */
  private def pipe(df0: DataFrame, segs: List[List[Tok]],
                   sources: Map[String, DataFrame],
                   enrich: Map[String, (DataFrame, String)],
                   tsSeries: Option[String] = None): DataFrame = {
    var df = df0
    def kw(t: Tok): String = t match {
      case TId(s) => s.toUpperCase
      case other => throw new IllegalArgumentException(s"esql: expected a command, got $other")
    }

    def isDouble(c: String): Boolean =
      df.schema.fields.exists(f => f.name == c && f.dataType == DoubleType)

    /** Exact-sum column for an agg argument: double inputs go through the
      * decimal contract; integer inputs stay integer. A per-agg `WHERE`
      * filter (ES|QL 8.13) wraps the input in when(cond, x) — nulls drop
      * out of every agg, the FILTER clause semantics. `wrap` is applied to
      * each raw aggregate BEFORE the decimal casts — identity for grouped
      * STATS, `.over(window)` for INLINESTATS — so both forms share one
      * exactness contract. */
    def aggCol(fn: String, args: List[Ex], alias: String, filter: Option[Ex],
               wrap: Column => Column = identity): Column = {
      if (!Set("PERCENTILE", "TOP", "WEIGHTED_AVG", "FIRST", "LAST",
          "PERCENTILE_RANK").contains(fn))
        require(args.size == 1, s"esql: $fn takes 1 argument, got ${args.size}")
      val arg = args.head
      val dbl = arg match {
        case EId(n) => isDouble(n)
        case EDouble(_) => true
        case EBin(_, _, _) | ENot(_) => true // computed: treat as double-class
        case EFn("TO_LONG" | "TO_INTEGER" | "TO_INT", _) |
             EFn("LENGTH", _) | EFn("MV_COUNT", _) => false
        case EFn(_, _) => true
        case _ => false
      }
      val c0 = compile(arg)
      val c = filter.map(f => when(compile(f), c0)).getOrElse(c0)
      (fn match {
        case "SUM" if dbl =>
          wrap(sum(c.cast("decimal(12,2)"))).cast("decimal(28,6)").cast("double")
        case "SUM" => wrap(sum(c)).cast("long")
        case "AVG" if dbl =>
          (wrap(sum(c.cast("decimal(12,2)"))).cast("decimal(28,6)") / wrap(count(c)))
            .cast("decimal(28,6)").cast("double")
        case "AVG" => wrap(sum(c)).cast("double") / wrap(count(c))
        case "MIN" => wrap(min(c))
        case "MAX" => wrap(max(c))
        case "COUNT" => wrap(count(c)).cast("long")
        case "COUNT_DISTINCT" => wrap(count_distinct(c)).cast("long")
        case "MEDIAN" => wrap(percentile(c, lit(0.5)))
        case "STD_DEV" =>
          // population σ via the exact-sums formula (the extended_stats
          // shape, EsAggs): Σx and Σx² are exact over integer inputs, then
          // both engines run the identical double arithmetic — so the
          // result hash-matches without a stddev-implementation contract
          val cd = c.cast("double")
          val n = wrap(count(c)).cast("double")
          val mean = wrap(sum(cd)) / n
          sqrt(wrap(sum(cd * cd)) / n - mean * mean)
        case "TOP" =>
          require(args.size == 3, "esql: TOP takes (field, limit, order)")
          val k = args(1) match {
            case ELong(v) if v > 0 => v.toInt
            case other => throw new IllegalArgumentException(
              s"esql: TOP limit must be a positive integer literal, got $other")
          }
          val asc = args(2) match {
            case EStr(o) if o.equalsIgnoreCase("ASC") => true
            case EStr(o) if o.equalsIgnoreCase("DESC") => false
            case other => throw new IllegalArgumentException(
              s"""esql: TOP order must be "ASC" or "DESC", got $other""")
          }
          // bounded: sort the group's collected values once, keep k
          slice(sort_array(wrap(collect_list(c)), asc = asc), 1, k)
        case "VALUES" =>
          // ES|QL VALUES leaves order unspecified; the engine pins the
          // deterministic sorted-set form (same deviation as MV_DEDUPE)
          sort_array(wrap(collect_set(c)))
        case "WEIGHTED_AVG" =>
          require(args.size == 2, "esql: WEIGHTED_AVG takes (value, weight)")
          val w0 = compile(args(1))
          val w = filter.map(f => when(compile(f), w0)).getOrElse(w0)
          if (dbl)
            // exact: 2-dp value × integral weight fits DECIMAL(18,2);
            // the ÷ then rides the same decimal(28,6) contract as AVG
            (wrap(sum((c * w).cast("decimal(18,2)"))).cast("decimal(28,6)") /
              wrap(sum(w))).cast("decimal(28,6)").cast("double")
          else wrap(sum(c * w)).cast("double") / wrap(sum(w)).cast("double")
        case "PERCENTILE" =>
          require(args.size == 2, "esql: PERCENTILE takes (field, percent)")
          val pct = args(1) match {
            case ELong(v) => v / 100.0
            case EDouble(v) => v / 100.0
            case other => throw new IllegalArgumentException(
              s"esql: PERCENTILE percent must be a numeric literal, got $other")
          }
          wrap(percentile(c, lit(pct)))
        case "FIRST" | "LAST" =>
          // ES SQL FIRST/LAST (the SQL layer lowers onto these): the
          // field value at the MIN/MAX of the ordering field (the field
          // itself when no ordering given). Rows where either side is
          // null are ignored (the ES contract); ordering TIES break by
          // the value itself — real ES leaves ties unspecified, the
          // engine pins the deterministic form (DOCUMENTED DEVIATION,
          // oracle-stable). One min/max over a 2-field struct — a plain
          // map-side-combining aggregate, never a sort.
          require(args.size == 1 || args.size == 2,
            s"esql: $fn takes (field [, ordering_field]), got ${args.size}")
          val ord = if (args.size == 2) compile(args(1)) else c0
          val pair = when(c.isNotNull && ord.isNotNull,
            struct(ord.as("o"), c.as("v")))
          (if (fn == "FIRST") wrap(min(pair)) else wrap(max(pair)))
            .getField("v")
        case "SKEWNESS" | "KURTOSIS" =>
          // population moments via exact power sums — the ES matrix_stats
          // contract: g1 = √n·M3/M2^1.5, kurtosis = n·M4/M2² (plain, NOT
          // excess — a normal sample → 3). Σx..Σx⁴ accumulate in double
          // (exact for integer-class inputs below 2^53), then both
          // engines run the identical IEEE arithmetic: *, /, and sqrt are
          // correctly rounded, so no libm-pow divergence can creep in
          // (M2^1.5 is spelled M2·√M2). One hash aggregation, 4 sums.
          val cd = c.cast("double")
          val n = wrap(count(c)).cast("double")
          val s1 = wrap(sum(cd))
          val s2 = wrap(sum(cd * cd))
          val mu = s1 / n
          val m2 = s2 - n * mu * mu
          if (fn == "SKEWNESS") {
            val s3 = wrap(sum(cd * cd * cd))
            val m3 = s3 - mu * s2 * lit(3.0) + n * mu * mu * mu * lit(2.0)
            sqrt(n) * m3 / (m2 * sqrt(m2))
          } else {
            val s3 = wrap(sum(cd * cd * cd))
            val s4 = wrap(sum(cd * cd * cd * cd))
            val m4 = s4 - mu * s3 * lit(4.0) + mu * mu * s2 * lit(6.0) -
              n * mu * mu * mu * mu * lit(3.0)
            n * m4 / (m2 * m2)
          }
        case "PERCENTILE_RANK" =>
          // PERCENTILE_RANK(field, value) — DOCUMENTED DEVIATION: real ES
          // interpolates between t-digest centroids; the engine returns
          // the EXACT empirical CDF — 100 · |{x ≤ v}| / |{x non-null}| —
          // deterministic and oracle-reproducible (the same exactness
          // stance as MEDIAN/PERCENTILE, which use exact percentile).
          require(args.size == 2,
            "esql: PERCENTILE_RANK takes (field, value)")
          val v = args(1) match {
            case ELong(x) => lit(x.toDouble)
            case EDouble(x) => lit(x)
            case other => throw new IllegalArgumentException(
              s"esql: PERCENTILE_RANK value must be a numeric literal, got $other")
          }
          val cd = c.cast("double")
          wrap(sum(when(cd <= v, lit(1L)).otherwise(
            when(cd.isNotNull, lit(0L))))).cast("double") * lit(100.0) /
            wrap(count(c)).cast("double")
        case other => throw new IllegalArgumentException(s"esql: unsupported agg $other")
      }).as(alias)
    }

    segs.foreach { seg =>
      require(seg.nonEmpty, "esql: empty pipe segment")
      // QSTR() compiles against the CURRENT frame's schema (the
      // query-string grammar resolves field paths); `compile` is static,
      // so the schema travels per-thread — plan build is single-threaded
      // within a query, and concurrent queries get their own slot.
      curSchema.set(df.schema)
      val p = new P(seg.tail)
      kw(seg.head) match {
        case "WHERE" =>
          val ex = p.expr()
          ex match {
            case EFn("KNN", knnArgs) =>
              // KNN is query-GLOBAL top-k, not a per-row predicate — it
              // must be the entire WHERE. Earlier WHERE stages have
              // already filtered `df`, and later ones post-filter, the
              // ES|QL contract (other conditions are post-filters unless
              // passed as knn's own filter option — not modeled).
              df = knnWhere(df, knnArgs)
            case _ =>
              requireNoKnn(ex)
              df = df.filter(compile(ex))
          }
          // METADATA _score: a WHERE containing MATCH() full-text
          // functions ADDS its matched-term count to the running score —
          // a plain projection over the filtered frame, no extra pass.
          // Under scoreMode=bm25 each MATCH contributes the fixed-point
          // BM25 of its terms instead (index-level stats from the frame
          // `run` captured at FROM — the ES semantic: df/avgdl are index
          // metadata, not hit-set statistics), and MATCH_PHRASE scores
          // POSITIONALLY (r18): one PhraseQuery pseudo-term with
          // phraseFreq-as-tf and summed term idfs, gated on the phrase
          // predicate (d287's upgrade); QSTR keeps its 1-point clause score
          // in both modes (an arbitrary boolean tree has no single
          // term-list to score).
          if (df.columns.contains("_score")) Option(bm25Index.get()) match {
            case None =>
              matchScore(ex).foreach(sc =>
                df = df.withColumn("_score", col("_score") + sc))
            case Some(index) =>
              val (matches, phrases, points) = collectFullText(ex)
              if (matches.nonEmpty || phrases.nonEmpty || points.nonEmpty) {
                var cur = df
                var add = points.reduceOption(_ + _).getOrElse(lit(0L))
                // ONE stats aggregate per distinct FIELD in this WHERE:
                // all of the field's clauses pool their terms into a
                // single scan (superset df maps score any subset), and
                // the per-run memo keyed on (field, pooled terms) dedups
                // identical repeats across FORK branches
                val memo = Option(bm25Stats.get()).getOrElse {
                  val m = scala.collection.mutable
                    .Map[(String, Seq[String]), Bm25.Stats]()
                  bm25Stats.set(m); m
                }
                // MATCH and MATCH_PHRASE legs pool their terms per
                // field: k clauses on one field still cost ONE stats
                // scan (superset df maps score any subset)
                val legs: Seq[(Ex, String)] =
                  matches ++ phrases.map(p => (p._1, p._2))
                val pooled: Map[String, Seq[String]] = legs
                  .groupBy(_._1.toString)
                  .map { case (k, xs) => k -> xs.flatMap { case (_, q) =>
                    graft.ext.TextAnalysis.analyzeQuery(q) }.distinct.sorted }
                val fieldStats = legs.map(_._1).distinctBy(_.toString)
                  .map { f =>
                    val allTerms = pooled(f.toString)
                    f.toString -> memo.getOrElseUpdate((f.toString, allTerms),
                      Bm25.stats(index,
                        graft.ext.TextAnalysis.analyze(compile(f)), allTerms))
                  }.toMap
                matches.zipWithIndex.foreach { case ((f, q), i) =>
                  val terms = graft.ext.TextAnalysis.analyzeQuery(q)
                  cur = Bm25.withScore(cur,
                    Seq(graft.ext.TextAnalysis.analyze(compile(f))), terms,
                    fieldStats(f.toString), s"_bm25_$i", s"w$i")
                  add = add + col(s"_bm25_$i")
                }
                phrases.zipWithIndex.foreach { case ((f, q, fn), i) =>
                  val terms = graft.ext.TextAnalysis.analyzeQuery(q)
                  // positional phrase scoring (r18, d287's upgrade
                  // applied engine-wide): ONE PhraseQuery pseudo-term —
                  // tf = phrase frequency over the analyzed token
                  // array, idf = Σ term idfs (Bm25.withPhraseScore).
                  // The predicate gate stays as a belt (tf = 0 already
                  // scores 0; ES PhraseQuery only scores matches).
                  cur = Bm25.withPhraseScore(cur,
                    graft.ext.TextAnalysis.analyze(compile(f)), terms,
                    fieldStats(f.toString), s"_bm25_p$i", s"wp$i")
                  add = add + when(coalesce(compile(fn), lit(false)),
                    col(s"_bm25_p$i")).otherwise(lit(0L))
                }
                df = cur.withColumn("_score", col("_score") + add)
                  .drop(matches.indices.map(i => s"_bm25_$i") ++
                    phrases.indices.map(i => s"_bm25_p$i"): _*)
              }
          }
        case "LIMIT" => p.pop() match {
          case TNum(n) if n.toIntOption.nonEmpty => df = df.limit(n.toInt)
          case t => p.fail(s"bad LIMIT: $t", t)
        }
        case "SAMPLE" =>
          // SAMPLE <probability> ON <keyCol> (8.19 tech preview).
          // DOCUMENTED DEVIATION: ES|QL samples rows randomly (optionally
          // seeded); a random sample cannot be replayed by the oracle, so
          // the engine derives per-row inclusion from a NAMED key column:
          // keep the row iff the first 8 hex chars of md5(key) fall below
          // ⌊p·2³²⌋ rendered in hex. md5 hex is identical across engines
          // and the comparison is plain ASCII string order, so the sample
          // is uniform (md5 uniformity), stable under re-partitioning,
          // and bit-reproducible — the properties a 100 TB pipeline
          // actually wants from SAMPLE (Bernoulli per row, no coordination,
          // no state). Stays a plain pushable-adjacent filter.
          val pv = p.pop() match {
            case TNum(s) => s.toDouble
            case other => throw new IllegalArgumentException(
              s"esql: SAMPLE needs a numeric probability, got $other")
          }
          require(pv > 0.0 && pv < 1.0,
            s"esql: SAMPLE probability must be in (0,1), got $pv")
          p.expectKw("ON")
          val key = p.ident()
          val thresh = f"${(pv * 4294967296.0).toLong}%08x"
          df = df.filter(
            substring(md5(col(key).cast("string")), 1, 8) < lit(thresh))
        case cmd @ ("KEEP" | "DROP") =>
          // entries may be wildcard patterns (KEEP id, v*, *_meta) — the
          // ES|QL projection syntax; pattern order defines column order,
          // each column appears once (first pattern wins)
          val pats = scala.collection.mutable.ListBuffer[String]()
          var go = true
          while (go) {
            val sb = new StringBuilder
            var more = true
            while (more) p.peek match {
              case Some(TId(n)) => p.pop(); sb.append(n)
              case Some(TOp("*")) => p.pop(); sb.append('*')
              case _ => more = false
            }
            require(sb.nonEmpty, s"esql: bad $cmd column at ${p.peek}")
            pats += sb.toString
            if (p.peek.contains(TOp(","))) p.pop() else go = false
          }
          def expand(pat: String): Seq[String] =
            if (!pat.contains("*")) {
              require(df.columns.contains(pat), s"esql: $cmd of unknown column $pat")
              Seq(pat)
            } else {
              val rx = ("^" + pat.split("\\*", -1)
                .map(s0 => if (s0.isEmpty) "" else java.util.regex.Pattern.quote(s0))
                .mkString(".*") + "$").r
              df.columns.toSeq.filter(c => rx.findFirstIn(c).isDefined)
            }
          val cols = pats.toSeq.flatMap(expand).distinct
          df = if (cmd == "KEEP") df.select(cols.map(col): _*) else df.drop(cols: _*)
        case "EVAL" =>
          var go = true
          while (go) {
            val name = p.pop() match {
              case TId(n) => n
              case other => throw new IllegalArgumentException(s"esql: bad EVAL target: $other")
            }
            p.expect("=")
            df = df.withColumn(name, compile(p.expr()))
            if (p.peek.contains(TOp(","))) p.pop() else go = false
          }
        case "RENAME" =>
          var go = true
          while (go) {
            val old = p.ident(); p.expectKw("AS"); val nw = p.ident()
            require(df.columns.contains(old), s"esql: RENAME of unknown column $old")
            df = df.withColumnRenamed(old, nw)
            if (p.peek.contains(TOp(","))) p.pop() else go = false
          }
        case "MV_EXPAND" =>
          // explode_outer: a null/empty multivalue stays one null row —
          // the ES|QL mv_expand contract (explode would drop the doc).
          val name = p.ident()
          df = df.withColumn(name, explode_outer(col(name)))
        case "DISSECT" =>
          val field = p.ident()
          val (rx, keys) = dissectToRegex(p.string())
          keys.zipWithIndex.foreach { case (k, i) =>
            df = df.withColumn(k, regexp_extract(col(field), rx, i + 1))
          }
        case "GROK" =>
          val field = p.ident()
          val (rx, keys) = grokToRegex(p.string())
          keys.zipWithIndex.foreach { case (k, i) =>
            df = df.withColumn(k, regexp_extract(col(field), rx, i + 1))
          }
        case "LOOKUP" =>
          // LOOKUP JOIN <index> ON <field>[, <field>...] (8.18; multi-key
          // 9.x): broadcast left join on the shared column name(s); every
          // non-key lookup column appends.
          p.expectKw("JOIN")
          val name = p.ident(); p.expectKw("ON")
          val keys = scala.collection.mutable.ListBuffer(p.ident())
          while (p.peek.contains(TOp(","))) { p.pop(); keys += p.ident() }
          require(keys.distinct.size == keys.size,
            s"esql: duplicate LOOKUP JOIN key(s): " +
              keys.diff(keys.distinct).distinct.mkString(", "))
          val tbl = sources.getOrElse(name, throw new IllegalArgumentException(
            s"esql: unknown lookup index $name (have: ${sources.keys.toSeq.sorted.mkString(", ")})"))
          keys.foreach { key =>
            require(tbl.columns.contains(key),
              s"esql: lookup index $name has no join field $key")
            require(df.columns.contains(key),
              s"esql: pipe has no join field $key")
          }
          val overlap = tbl.columns.filter(c => !keys.contains(c) && df.columns.contains(c))
          require(overlap.isEmpty,
            s"esql: lookup join would overwrite pipe column(s): ${overlap.mkString(", ")}")
          df = df.join(broadcast(tbl), keys.toSeq, "left")
        case "ENRICH" =>
          val policy = p.ident()
          p.expectKw("ON"); val key = p.ident()
          p.expectKw("WITH")
          val fields = scala.collection.mutable.ListBuffer[String]()
          var go = true
          while (go) { fields += p.ident()
            if (p.peek.contains(TOp(","))) p.pop() else go = false }
          val (tbl, matchField) = enrich.getOrElse(policy,
            throw new IllegalArgumentException(
              s"esql: unknown enrich policy $policy (have: ${enrich.keys.toSeq.sorted.mkString(", ")})"))
          fields.find(df.columns.contains).foreach { f =>
            throw new IllegalArgumentException(
              s"esql: enrich field $f already exists on the pipe")
          }
          val right = tbl.select((matchField +: fields.toSeq).distinct.map(col): _*)
            .withColumnRenamed(matchField, "__esql_match")
          df = df.join(broadcast(right), col(key) === col("__esql_match"), "left")
            .drop("__esql_match")
        case "SORT" =>
          val keys = scala.collection.mutable.ListBuffer[Column]()
          var go = true
          while (go) {
            val c = compile(p.expr())
            val desc = p.peek match {
              case Some(TId(s)) if s.equalsIgnoreCase("DESC") => p.pop(); true
              case Some(TId(s)) if s.equalsIgnoreCase("ASC") => p.pop(); false
              case _ => false
            }
            // NULLS FIRST/LAST (ES|QL default: nulls last on ASC, first on
            // DESC — the opposite of Spark's; apply ES's default explicitly)
            val nullsFirst = p.peek match {
              case Some(TId(s)) if s.equalsIgnoreCase("NULLS") =>
                p.pop()
                p.pop() match {
                  case TId(x) if x.equalsIgnoreCase("FIRST") => true
                  case TId(x) if x.equalsIgnoreCase("LAST") => false
                  case other => throw new IllegalArgumentException(
                    s"esql: expected FIRST or LAST after NULLS, got $other")
                }
              case _ => desc // the ES|QL default
            }
            keys += ((desc, nullsFirst) match {
              case (false, false) => c.asc_nulls_last
              case (false, true) => c.asc_nulls_first
              case (true, false) => c.desc_nulls_last
              case (true, true) => c.desc_nulls_first
            })
            if (p.peek.contains(TOp(","))) p.pop() else go = false
          }
          df = df.orderBy(keys.toSeq: _*)
        case cmd @ ("STATS" | "INLINESTATS") =>
          // (alias, fn, args — Nil = COUNT(*), per-agg WHERE filter)
          val specs =
            scala.collection.mutable.ListBuffer[(String, String, List[Ex], Option[Ex])]()
          var go = true
          while (go) {
            val alias = p.ident()
            p.expect("=")
            val fn = p.ident().toUpperCase
            p.expect("(")
            val args = scala.collection.mutable.ListBuffer[Ex]()
            p.peek match {
              case Some(TOp("*")) =>
                require(fn == "COUNT", s"esql: only COUNT(*) takes *")
                p.pop()
              case _ =>
                args += p.expr()
                while (p.peek.contains(TOp(","))) { p.pop(); args += p.expr() }
            }
            p.expect(")")
            val filter: Option[Ex] = p.peek match {
              case Some(TId(s)) if s.equalsIgnoreCase("WHERE") => p.pop(); Some(p.expr())
              case _ => None
            }
            specs += ((alias, fn, args.toList, filter))
            if (p.peek.contains(TOp(","))) p.pop() else go = false
          }
          val by = scala.collection.mutable.ListBuffer[String]()
          p.peek match {
            case Some(TId(s)) if s.equalsIgnoreCase("BY") =>
              p.pop()
              var g2 = true
              while (g2) {
                val n = p.ident()
                // BY k = expr (ES|QL 8.13, e.g. BUCKET spans): evaluate the
                // key expression as a projection before the one hash agg
                if (p.peek.contains(TOp("="))) {
                  p.pop(); df = df.withColumn(n, compile(p.expr()))
                }
                by += n
                if (p.peek.contains(TOp(","))) p.pop() else g2 = false
              }
            case _ => ()
          }
          def countStar(filter: Option[Ex], wrap: Column => Column): Column =
            wrap(filter.map(f => count(when(compile(f), lit(1))))
              .getOrElse(count(lit(1)))).cast("long")
          val isRate = specs.exists {
            case (_, _, List(EFn("RATE", _)), _) => true
            case _ => false
          }
          if (isRate) {
            // STATS <outer>(RATE(field)) BY ... in a TS pipe (8.16): the
            // counter-rate aggregation. Per (series, BY-keys) group the
            // rate is Σ positive deltas (counter resets restart from the
            // new value — the Prometheus/ES contract) per second of the
            // group's observed span. Compiled as: one window pass per
            // distinct counter field for the lag-delta (ordered by ts_us
            // with the field value as the deterministic tie-break), ONE
            // hash agg to (series ∪ BY) grain — the SAME partitioning the
            // window just established, so stage A adds no shuffle — then
            // ONE hash agg to BY grain for the outer function. Deltas
            // accumulate through the exact-decimal contract; outer
            // functions are restricted to the order-insensitive MAX/MIN/
            // COUNT (SUM/AVG of unordered double rates would drift off
            // the bit-exact oracle — loud reject, named reason). Series
            // with a single observation in the group (zero span) yield a
            // null rate and drop out of the outer agg, the ES contract
            // for an undefined rate.
            val series = tsSeries.getOrElse(throw new IllegalArgumentException(
              "esql: RATE() is only valid in a TS pipe (start with TS <index> ON <series>)"))
            require(cmd == "STATS", "esql: RATE() is not supported in INLINESTATS")
            val W = org.apache.spark.sql.expressions.Window
            val partCols = (series +: by.toSeq).map(col)
            val rateSpecs = specs.map {
              case (alias, outer, List(EFn("RATE", List(EId(f)))), None) =>
                require(Set("MAX", "MIN", "COUNT").contains(outer),
                  s"esql: RATE outer aggregate must be MAX/MIN/COUNT " +
                    s"(order-insensitive over double rates), got $outer")
                (alias, outer, f)
              case (alias, _, List(EFn("RATE", _)), Some(_)) =>
                throw new IllegalArgumentException(
                  s"esql: per-agg WHERE is not supported on RATE ($alias) — filter the pipe")
              case (alias, _, _, _) => throw new IllegalArgumentException(
                s"esql: TS STATS mixes RATE and row aggregates ($alias) — " +
                  "unsupported; run separate pipes")
            }
            val fields = rateSpecs.map(_._3).distinct
            var t = df
            fields.foreach { f =>
              val w = W.partitionBy(partCols: _*)
                .orderBy(col("ts_us").asc, col(f).asc)
              val prev = lag(col(f), 1).over(w)
              t = t.withColumn(s"_inc_$f",
                when(prev.isNull, lit(0.0))
                  .when(col(f) >= prev, col(f) - prev)
                  .otherwise(col(f)))
            }
            val stageA = fields.map { f =>
              sum(col(s"_inc_$f").cast("decimal(12,2)"))
                .cast("decimal(28,6)").as(s"_sum_$f")
            } ++ Seq(min(col("ts_us")).as("_ts_lo"), max(col("ts_us")).as("_ts_hi"))
            val perSeries = t.groupBy(partCols: _*)
              .agg(stageA.head, stageA.tail.toSeq: _*)
            val withRates = fields.foldLeft(perSeries) { (acc, f) =>
              acc.withColumn(s"_rate_$f",
                when(col("_ts_hi") > col("_ts_lo"),
                  col(s"_sum_$f").cast("double") * lit(1000000.0) /
                    (col("_ts_hi") - col("_ts_lo")).cast("double")))
            }
            val outerAggs = rateSpecs.map { case (alias, outer, f) =>
              (outer match {
                case "MAX" => max(col(s"_rate_$f"))
                case "MIN" => min(col(s"_rate_$f"))
                case "COUNT" => count(col(s"_rate_$f")).cast("long")
              }).as(alias)
            }
            df =
              if (by.isEmpty) withRates.agg(outerAggs.head, outerAggs.tail.toSeq: _*)
              else withRates.groupBy(by.toSeq.map(col): _*)
                .agg(outerAggs.head, outerAggs.tail.toSeq: _*)
          } else if (cmd == "STATS") {
            val aggs = specs.map {
              case (alias, _, Nil, filter) => countStar(filter, identity).as(alias)
              case (alias, fn, as, filter) => aggCol(fn, as, alias, filter)
            }
            df =
              if (by.isEmpty) df.agg(aggs.head, aggs.tail.toSeq: _*)
              else df.groupBy(by.toSeq.map(col): _*).agg(aggs.head, aggs.tail.toSeq: _*)
          } else {
            // INLINESTATS (8.16): the same aggregates APPENDED to every row
            // — window aggregates over the BY partitions (empty BY = one
            // global window), zero row reduction, still one shuffle on the
            // partition keys. COUNT_DISTINCT cannot run as a distinct
            // window aggregate (Spark rejects those at analysis), so it
            // rides size(collect_set(..)) over the partition — exact, null-
            // skipping like count_distinct, per-partition state bounded by
            // the group's distinct-value count (the VALUES-agg class).
            // CARDINALITY BOUND a deployment must know: window state is
            // ∝ distinct values within ONE BY-group (exact by contract —
            // the approx form is STATS-only in ES|QL too); a group with
            // 10⁸ distinct strings holds them all in that task's window
            // buffer. Right for the INLINESTATS grain (groups are the
            // user's chosen annotation grain); EsqlPropertySpec pins a
            // several-thousand-distinct group against countDistinct.
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(by.toSeq.map(col): _*)
            specs.foreach {
              case (alias, _, Nil, filter) =>
                df = df.withColumn(alias, countStar(filter, _.over(w)))
              case (alias, "COUNT_DISTINCT", as, filter) =>
                require(as.size == 1,
                  s"esql: COUNT_DISTINCT takes 1 argument, got ${as.size}")
                val c0 = compile(as.head)
                val c = filter.map(f => when(compile(f), c0)).getOrElse(c0)
                df = df.withColumn(alias,
                  size(collect_set(c).over(w)).cast("long"))
              case (alias, fn, as, filter) =>
                df = df.withColumn(alias, aggCol(fn, as, alias, filter, _.over(w)))
            }
          }
        case "FORK" =>
          // FORK (branch pipe) (branch pipe) ... (8.19): each branch runs
          // the command machinery from the fork point's frame; results
          // union BY NAME (missing columns null) with a `_fork`
          // discriminator — the ES|QL contract. Compiles to ONE Catalyst
          // Union over the branch plans; the pre-fork prefix plan is
          // shared, so the corpus scan is not repeated per branch when the
          // optimizer reuses the exchange.
          val branches = scala.collection.mutable.ListBuffer[List[Tok]]()
          while (!p.atEnd) {
            p.expect("(")
            branches += p.group()
          }
          require(branches.size >= 2 && branches.size <= 8,
            s"esql: FORK takes 2-8 branches, got ${branches.size}")
          val pre = df
          df = branches.toList.zipWithIndex.map { case (toks, i) =>
            pipe(pre, Lex.splitTop(toks)(_ == TOp("|")), sources, enrich, tsSeries)
              .withColumn("_fork", lit(s"fork${i + 1}"))
          }.reduce(_.unionByName(_, allowMissingColumns = true))
        case "CHANGE_POINT" =>
          // CHANGE_POINT value ON key [AS typeCol, scoreCol] (8.16):
          // step-change detection over the key-ordered series, appending
          // type/score columns non-null ONLY on the detected row.
          // DOCUMENTED DEVIATION (same as the change_point sibling agg,
          // EsAggs): ES runs an ML test suite emitting a p-value; the
          // engine computes the deterministic CUSUM split statistic
          // |mean_r − mean_l|·sqrt(nl·nr/(nl+nr)) at every split and
          // flags the argmax (earliest key on ties), naming the score
          // column `score`, not `pvalue`. Single-partition windows by
          // design — the ES|QL command itself caps input at 1000 rows
          // (a bucket-grain series, never the corpus).
          val value = p.ident(); p.expectKw("ON"); val key = p.ident()
          val (tname, sname) = p.peek match {
            case Some(TId(s)) if s.equalsIgnoreCase("AS") =>
              p.pop(); val t = p.ident(); p.expect(","); (t, p.ident())
            case _ => ("type", "score")
          }
          val W = org.apache.spark.sql.expressions.Window
          val kw0 = W.orderBy(col(key).asc)
          val wAll = W.partitionBy()
          val t1 = df
            .withColumn("_cpc", col(value).cast("double"))
            .withColumn("_cpi", row_number().over(kw0))
            .withColumn("_cps", sum(col("_cpc"))
              .over(kw0.rowsBetween(W.unboundedPreceding, W.currentRow)))
            .withColumn("_cpn", count(lit(1)).over(wAll))
            .withColumn("_cpt", sum(col("_cpc")).over(wAll))
          val nl = (col("_cpi") - 1L).cast("double")
          val nr = (col("_cpn") - col("_cpi") + 1L).cast("double")
          val ml = (col("_cps") - col("_cpc")) / nl
          val mr = (col("_cpt") - (col("_cps") - col("_cpc"))) / nr
          val t2 = t1.withColumn("_cpscore",
            when(col("_cpi") >= 2, abs(mr - ml) * sqrt(nl * nr / (nl + nr))))
          val bw = W.orderBy(col("_cpscore").desc_nulls_last, col(key).asc)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
          df = t2
            .withColumn("_cpbest", first(col(key)).over(bw))
            .withColumn(sname,
              when(col(key) === col("_cpbest"), col("_cpscore")))
            .withColumn(tname,
              when(col(sname).isNotNull, lit("step_change")))
            .drop("_cpc", "_cpi", "_cps", "_cpn", "_cpt", "_cpscore", "_cpbest")
        case "FUSE" =>
          // FUSE [RRF|LINEAR] (9.1+): merge FORK branch results that name
          // the same document into one row with a fused relevance score.
          // RRF (the default): _score = Σ_branches 1/(60 + rank_in_branch);
          // LINEAR: _score = Σ_branches branch _score. DOCUMENTED
          // DEVIATION: ES ranks each branch by its transport result order;
          // a DataFrame union carries no such order, so rank here is
          // pinned to (_score DESC, key ASC) within each branch —
          // deterministic and oracle-replayable. Non-score columns and
          // _fork keep the FIRST branch's row (ES's first-seen rule).
          // Two hash-partitioned windows (by _fork, by _id) — shuffles on
          // bounded post-FORK rows, never a join, scale-safe.
          val method = p.peek match {
            case Some(TId(m)) if m.equalsIgnoreCase("RRF") ||
              m.equalsIgnoreCase("LINEAR") => p.pop(); m.toUpperCase
            case _ => "RRF"
          }
          // KEY BY <col> (9.2): the merge key; default _id, the ES doc id
          val key = p.peek match {
            case Some(TId(k)) if k.equalsIgnoreCase("KEY") =>
              p.pop(); p.expectKw("BY"); p.ident()
            case Some(other) => throw new IllegalArgumentException(
              s"esql: FUSE option $other is not supported (FUSE [RRF|LINEAR] " +
                "[KEY BY col]; SCORE/GROUP BY and WITH options are not " +
                "implemented)")
            case None => "_id"
          }
          Seq("_fork", key, "_score").foreach(c =>
            require(df.columns.contains(c),
              s"esql: FUSE needs the $c column in scope (run it after FORK " +
                "over a FROM ... METADATA _score source; KEY BY names the " +
                "merge key when there is no _id)"))
          val Window = org.apache.spark.sql.expressions.Window
          // key tiebreak is asc_NULLS_LAST: a genuinely-null merge-key
          // VALUE in the data must not occupy the top ranks of its branch
          // (Spark's plain asc sorts nulls first), which would deflate
          // every real document's 1/(60+rank) RRF contribution
          val perFork = Window.partitionBy("_fork")
            .orderBy(col("_score").desc, col(key).asc_nulls_last)
          // a NULL merge key (a branch whose projection dropped the key —
          // unionByName back-fills null) must NOT collapse every such row
          // into one fused group: null-keyed rows pass through UNFUSED,
          // each its own group keyed by (branch, rank-in-branch), which is
          // unique within a branch and deterministic. Duplicate non-null
          // keys WITHIN a branch fuse with a deterministic _score (the tied
          // ranks' contributions sum the same either way); which duplicate's
          // non-score columns survive is unspecified on exact ties — the
          // same looseness as ES's own tie handling.
          // contribution reads the MATERIALIZED rank column — never a
          // second row_number() over the same window, whose tie
          // assignment could in principle diverge from _fuse_r's
          val ranked0 = df.withColumn("_fuse_r", row_number().over(perFork))
          val contrib =
            if (method == "RRF") lit(1.0) / (lit(60.0) + col("_fuse_r"))
            else col("_score").cast("double")
          val ranked = ranked0.withColumn("_fuse_c", contrib)
          val nullGrp = Seq(
            when(col(key).isNull, col("_fork")),
            when(col(key).isNull, col("_fuse_r")))
          val byId = Window.partitionBy(col(key) +: nullGrp: _*)
          val firstSeen = Window.partitionBy(col(key) +: nullGrp: _*)
            .orderBy(col("_fork").asc, col("_score").desc, col("_fuse_r").asc)
          df = ranked
            .withColumn("_fuse_s", sum(col("_fuse_c")).over(byId))
            .withColumn("_fuse_rn", row_number().over(firstSeen))
            .filter(col("_fuse_rn") === 1)
            .withColumn("_score", col("_fuse_s"))
            .drop("_fuse_c", "_fuse_s", "_fuse_rn", "_fuse_r")
        case "COMPLETION" | "RERANK" =>
          throw new IllegalArgumentException(
            s"esql: ${kw(seg.head)} is not supported — it calls a deployed " +
              "inference endpoint (an LLM for COMPLETION, a reranker model " +
              "for RERANK); this engine has no model-serving layer, and a " +
              "stubbed response would silently differ from ES on every row")
        case other => throw new IllegalArgumentException(
          s"esql: unsupported command $other (FROM/TS/WHERE/EVAL/STATS/SORT/LIMIT/" +
            "SAMPLE/KEEP/DROP/RENAME/MV_EXPAND/DISSECT/GROK/ENRICH/LOOKUP JOIN/" +
            "FORK/FUSE/CHANGE_POINT)")
      }
      p.end(kw(seg.head))
    }
    df
  }
}
