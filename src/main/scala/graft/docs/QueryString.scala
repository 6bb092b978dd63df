package graft.docs

import org.apache.spark.sql.types.StructType

/** The Kibana search-bar syntax (ES `query_string`), compiled into the
  * existing [[SearchQuery]] AST — no new leaf types, so everything the
  * grammar produces inherits the leaves' pushdown/pruning behavior.
  *
  * Supported subset (everything else is REJECTED loudly — the engine's
  * no-silent-superset rule):
  *
  *   - `field:value`      — analyzed single-term match (TermMatch /
  *                          NestedTerm through array paths)
  *   - `field:"a phrase"` — consecutive-token phrase (MatchPhrase)
  *   - `field:val*`       — trailing-star prefix (Prefix — pushes down as
  *                          StringStartsWith); any other `*`/`?` placement
  *                          compiles to the glob Wildcard
  *   - `field:*`          — field exists (ES semantics for a bare star)
  *   - `AND` / `OR` / `NOT` (UPPERCASE, as ES requires), standard
  *     precedence NOT > AND > OR, parentheses for grouping
  *   - adjacency (two clauses with no operator) uses the body's
  *     `default_operator` (ES default: OR)
  *
  * Rejected with an IllegalArgumentException (`query_string: …` or
  * `simple_query_string: …`, located at the offending offset):
  *
  *   - bare terms (no `field:`): they need a default field, which this
  *     engine does not implement
  *   - ranges `field:>100`, `field:<=5`, `field:[1 TO 5]`, `field:{a TO b}`
  *   - regular expressions `field:/re/`
  *   - fuzzy and proximity `field:roam~`, `field:"a b"~2`, and boosts
  *     `field:foo^2` (any unquoted `~` or `^` in a value; simple_query_string
  *     terms get the same check)
  *   - empty values, unterminated or misplaced quotes, unbalanced
  *     parentheses, and nesting deeper than [[Lex.MaxDepth]]
  */
object QueryString {

  import SearchQuery._

  import Lex.{At, Off, Op}

  /** A query_string `field:value` clause, or a simple_query_string term
    * (`field` empty: the body's `fields` list names the targets). The
    * structure tokens are `Op`s: parentheses and AND/OR/NOT, or `+ | -`. */
  private final case class Clause(field: String, value: String, phrase: Boolean)
                                 (implicit val at: Off) extends At

  private val Door = "query_string"

  private def lex(q: String): List[At] = {
    val out = List.newBuilder[At]
    var i = 0
    val n = q.length
    while (i < n) {
      val c = q(i)
      implicit val at: Off = Off(i)
      if (c.isWhitespace) i += 1
      else if (c == '(' || c == ')') { out += Op(c.toString); i += 1 }
      else {
        // one atom: runs to whitespace/paren, honoring quoted segments
        val sb = new StringBuilder
        var done = false
        while (i < n && !done) {
          q(i) match {
            case '"' =>
              val close = q.indexOf('"', i + 1)
              if (close < 0) Lex.fail(Door, "unterminated quote", Some(Off(i)))
              sb.append(q.substring(i, close + 1)); i = close + 1
            case w if w.isWhitespace => done = true
            case '(' | ')' => done = true
            case ch => sb.append(ch); i += 1
          }
        }
        sb.toString match {
          case kw @ ("AND" | "OR" | "NOT") => out += Op(kw)
          case atom =>
            def bad(msg: String): Nothing = Lex.fail(Door, msg, Some(at))
            val ci = atom.indexOf(':')
            if (ci <= 0) bad(s"clause must be field:value — bare term \"$atom\" needs a " +
              "default field, which is not implemented")
            val f = atom.substring(0, ci)
            val v = atom.substring(ci + 1)
            if (v.isEmpty) bad(s"clause \"$atom\" has an empty value")
            if (v.length >= 2 && v.startsWith("\"") && v.endsWith("\""))
              out += Clause(f, v.substring(1, v.length - 1), phrase = true)
            else if (v.contains('"')) bad(s"misplaced quote in clause \"$atom\"")
            else out += Clause(f, v, phrase = false)
        }
      }
    }
    out.result()
  }

  /** Parse `q` into the AST. `defaultAnd` = the body's
    * `default_operator` is `and` (adjacency binds as AND at AND
    * precedence; the ES default OR binds at OR precedence). */
  def parse(q: String, schema: StructType, defaultAnd: Boolean = false): SearchQuery = {
    val c = new Lex.Cursor[At](Door, lex(q))
    if (c.atEnd) c.fail("empty query")
    def startsPrimary(t: At): Boolean = t match {
      case Op("(") | Op("NOT") | _: Clause => true
      case _ => false
    }
    def orExpr(): SearchQuery = {
      // Lucene level semantics, not binary association: every clause at
      // this level is a SHOULD unless NOT-prefixed, and the prohibited
      // clauses apply level-globally — `a NOT b` and `a OR NOT b` both
      // mean (a) AND NOT (b), and `a NOT b OR c` means (a OR c) AND NOT
      // (b). A left-assoc Or(a, Not(b)) would instead match almost the
      // whole corpus.
      val shoulds = scala.collection.mutable.ListBuffer.empty[SearchQuery]
      val nots = scala.collection.mutable.ListBuffer.empty[SearchQuery]
      def item(): Unit = c.peek match {
        case Some(Op("NOT")) => c.pop(); nots += andExpr()
        case _ => shoulds += andExpr()
      }
      item()
      var go = true
      while (go) c.peek match {
        case Some(Op("OR")) => c.pop(); item()
        case Some(t) if !defaultAnd && startsPrimary(t) => item()
        case _ => go = false
      }
      val positive =
        if (shoulds.isEmpty) None
        else if (shoulds.size == 1) Some(shoulds.head)
        else Some(Or(shoulds.toSeq: _*))
      val negative = nots.toList.map(n => Not(n))
      (positive, negative) match {
        case (Some(p), Nil) => p
        case (Some(p), ns) => And(p +: ns: _*)
        case (None, n :: Nil) => n
        case (None, ns) => And(ns: _*)
      }
    }
    def andExpr(): SearchQuery = {
      var left = unary()
      var go = true
      while (go) c.peek match {
        case Some(Op("AND")) => c.pop(); left = And(left, unary())
        case Some(t) if defaultAnd && startsPrimary(t) => left = And(left, unary())
        case _ => go = false
      }
      left
    }
    def unary(): SearchQuery = c.peek match {
      case Some(Op("NOT")) => c.pop(); Not(c.nested(unary()))
      case _ => primary()
    }
    def primary(): SearchQuery = c.pop() match {
      case Op("(") => val inner = c.nested(orExpr()); c.expect(")"); inner
      case t: Clause => leaf(t.field, t, schema, Door)
      case t => c.fail(s"expected a clause or group, got $t", t)
    }
    val ast = orExpr()
    c.end("the query")
    ast
  }

  /** ES `simple_query_string` — the end-user search-box syntax: `+` AND,
    * `|` OR, `-term` negation, `"..."` phrase, `term*` prefix, `(...)`
    * grouping. Terms carry NO `field:` prefix; the body's `fields` list
    * names the targets, a term expanding to an OR across them (each leaf
    * built by the same schema-driven [[leaf]] as query_string, so every
    * clause inherits pushdown).
    *
    * Operator semantics follow Lucene's SimpleQueryParser: `+`/`|`
    * combine LEFT-ASSOCIATIVELY in input order (`a | b + c` = (a OR b)
    * AND c — the parser has no precedence ladder), adjacency uses the
    * body's `default_operator` (ES default OR), and `-` clauses are
    * prohibited LEVEL-GLOBALLY (`a -b` = a AND NOT b even under OR — a
    * MUST_NOT beside SHOULDs in the Lucene boolean, the same convention
    * as query_string's NOT). `-` only negates at a clause start; inside
    * a word it is literal (`1-URGENT`).
    *
    * Engine deviation, documented: ES's parser is LENIENT — malformed
    * syntax degrades to literal terms. This engine rejects loudly (the
    * no-silent-superset rule); a query that parses is interpreted
    * identically. */
  def parseSimple(q: String, fields: Seq[String], schema: StructType,
                  defaultAnd: Boolean = false): SearchQuery = {
    val door = "simple_query_string"
    if (fields.isEmpty) throw new IllegalArgumentException(s"$door: needs a non-empty " +
      "fields list (engine deviation: no index-level default field exists to fall back to)")
    // lex: ( ) + | are standalone operator tokens wherever unquoted; a
    // term runs to whitespace/operator, honoring one quoted segment
    val toks = {
      val out = List.newBuilder[At]
      var i = 0
      val n = q.length
      var atClauseStart = true // after start/operator/'(' a '-' negates
      while (i < n) {
        implicit val at: Off = Off(i)
        q(i) match {
          case c if c.isWhitespace => i += 1; atClauseStart = true
          case c @ ('(' | '+' | '|') => out += Op(c.toString); i += 1; atClauseStart = true
          case ')' => out += Op(")"); i += 1; atClauseStart = false
          case '-' if atClauseStart => out += Op("-"); i += 1; atClauseStart = false
          case '"' =>
            val close = q.indexOf('"', i + 1)
            if (close < 0) Lex.fail(door, "unterminated quote", Some(at))
            out += Clause("", q.substring(i + 1, close), phrase = true)
            i = close + 1; atClauseStart = false
          case _ =>
            val sb = new StringBuilder
            var done = false
            while (i < n && !done) q(i) match {
              case c if c.isWhitespace => done = true
              case '(' | ')' | '+' | '|' | '"' => done = true
              case c => sb.append(c); i += 1
            }
            out += Clause("", sb.toString, phrase = false); atClauseStart = false
        }
      }
      out.result()
    }
    val c = new Lex.Cursor[At](door, toks)
    if (c.atEnd) c.fail("empty query")
    /** One term/phrase across the fields list: OR over per-field leaves. */
    def expand(t: Clause): SearchQuery = {
      val leaves = fields.map(f => leaf(f, t, schema, door))
      if (leaves.size == 1) leaves.head else Or(leaves: _*)
    }
    def primary(): SearchQuery = c.pop() match {
      case Op("(") => val inner = c.nested(level()); c.expect(")"); inner
      case t: Clause => expand(t)
      case t => c.fail(s"expected a term or group, got $t", t)
    }
    /** One paren level: left-assoc `+`/`|` over positives, `-` clauses
      * prohibited level-globally (see the contract above). */
    def level(): SearchQuery = {
      var positive: Option[SearchQuery] = None
      val nots = scala.collection.mutable.ListBuffer.empty[SearchQuery]
      var nextOpAnd: Option[Boolean] = None // operator waiting for the next clause
      def clause(): Unit = {
        val negated = c.peek.contains(Op("-"))
        if (negated) c.pop()
        val p = primary()
        if (negated) {
          if (nextOpAnd.nonEmpty) c.fail(
            "an explicit +/| before a -clause is not implemented " +
              "(prohibited clauses are level-global, an operator there has no meaning)")
          nots += p
        } else positive = positive match {
          case None => Some(p)
          case Some(l) =>
            if (nextOpAnd.getOrElse(defaultAnd)) Some(And(l, p)) else Some(Or(l, p))
        }
        nextOpAnd = None
      }
      clause()
      var go = true
      while (go) c.peek match {
        case Some(Op("+")) => c.pop(); nextOpAnd = Some(true); clause()
        case Some(Op("|")) => c.pop(); nextOpAnd = Some(false); clause()
        case Some(Op("(") | Op("-") | _: Clause) => clause()
        case _ => go = false
      }
      (positive, nots.toList) match {
        case (Some(p), Nil) => p
        case (Some(p), ns) => And(p +: ns.map(Not(_)): _*)
        case (None, n :: Nil) => Not(n)
        case (None, ns) => And(ns.map(Not(_)): _*)
      }
    }
    val ast = level()
    c.end("the query")
    ast
  }

  /** Clause `t` on field `f`. */
  private def leaf(f: String, t: Clause, schema: StructType, door: String): SearchQuery = {
    val v = t.value
    val phrase = t.phrase
    // range, regex, fuzzy and boost syntax would otherwise fall through
    // to an analyzed term match on the raw text
    if (!phrase && (v.headOption.exists("<>[{/".contains(_)) || v.exists("~^".contains(_))))
      Lex.fail(door, s"range, regex, fuzzy and boost syntax is not implemented: $v",
        Some(t.at))
    // path resolution identical to the JSON DSL's (schema-driven array
    // split, `.keyword` suffix transparent)
    val p = f.stripSuffix(".keyword").split('.').toSeq
    splitArrayPath(p, schema) match {
      case (Nil, full) =>
        if (phrase) MatchPhrase(full, v)
        else if (v == "*") ExistsField(full, isArray = false)
        else if (v.contains('*') || v.contains('?')) {
          if (v.endsWith("*") && !v.dropRight(1).exists(ch => ch == '*' || ch == '?'))
            Prefix(full, v.dropRight(1))
          else Wildcard(full, v)
        }
        else TermMatch(full, v) // analyzed single-term match
      case (arr, Nil) if v == "*" => ExistsField(arr, isArray = true)
      case (arr, rest) =>
        if (phrase) NestedMatchPhrase(arr, rest, v)
        else if (v == "*") NestedExistsField(arr, rest)
        else if (v.contains('*') || v.contains('?')) {
          if (v.endsWith("*") && !v.dropRight(1).exists(ch => ch == '*' || ch == '?'))
            NestedPrefix(arr, rest, v.dropRight(1))
          else NestedWildcard(arr, rest, v)
        }
        // analyzed element match, same as the JSON DSL's `match` through
        // an array path; an explicit `.keyword` keeps exact equality
        else if (f.endsWith(".keyword")) NestedTerm(arr, rest, v)
        else NestedTokenMatch(arr, rest, v)
    }
  }
}
