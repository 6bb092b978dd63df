package graft.docs

import java.util.regex.Pattern

import org.json4s._

/** The one lexer, token cursor and JSON body entry behind the request
  * doors (ES|QL, ES SQL, EQL, query_string, simple_query_string and the
  * JSON DSL). A malformed request leaves any of them as an
  * `IllegalArgumentException` whose message starts with the door's
  * prefix (`esql:`, `eql:`, ...) and says where: `at offset n` or
  * `end of input`. */
object Lex {

  /** The deepest nesting (parentheses, NOT chains, unary minus) a door
    * accepts. Real requests nest a few levels; a recursive-descent
    * parser fed thousands would overflow the stack instead of failing. */
  val MaxDepth = 100

  /** A source offset. A token a rewrite makes up (`Op(",")`) takes the
    * implicit `Off.none`. */
  final case class Off(n: Int)
  object Off { implicit val none: Off = Off(-1) }

  /** Anything a [[Cursor]] walks: it knows where it starts. */
  trait At { def at: Off }

  /** The regex doors' tokens. The offset rides in a second parameter
    * list, so patterns and equality ignore it: `case Op("(")` matches a
    * parenthesis wherever it stood. */
  sealed trait Tok extends At {
    override def toString: String = this match {
      case Str(s) => "\"" + s + "\""
      case Id(s) => s
      case Num(s) => s
      case Op(s) => s
    }
  }
  final case class Id(s: String)(implicit val at: Off) extends Tok  // identifier or keyword
  final case class Num(s: String)(implicit val at: Off) extends Tok
  final case class Str(s: String)(implicit val at: Off) extends Tok // quotes removed, escapes decoded
  final case class Op(s: String)(implicit val at: Off) extends Tok

  /** `t` is the keyword `kw` (keywords are case-insensitive). */
  def isKw(t: At, kw: String): Boolean = t match {
    case Id(s) => s.equalsIgnoreCase(kw)
    case _ => false
  }

  /** `door`'s error, located at `at` (None: at the end of input). */
  def fail(door: String, msg: String, at: Option[Off]): Nothing = {
    val where = at match {
      case None => " at end of input"
      case Some(Off(n)) if n >= 0 => s" at offset $n"
      case _ => ""
    }
    throw new IllegalArgumentException(s"$door: $msg$where")
  }

  /** One door's tokenizer: identifiers (`a.b_c`), numbers (signed when
    * `signedNums`), strings and the door's operators. Strings are
    * `"…"` with backslash escapes, or with `sqlQuotes` SQL's `'…'` with
    * a doubled quote. */
  final class Lexer(door: String, sqlQuotes: Boolean, ops: Seq[String],
                    signedNums: Boolean) {
    private val pattern = {
      val str = if (sqlQuotes) "'(?:[^']|'')*'" else "\"(?:[^\"\\\\]|\\\\.)*\""
      val num = (if (signedNums) "-?" else "") + "[0-9]+(?:\\.[0-9]+)?"
      val op = ops.sortBy(-_.length).map(Pattern.quote).mkString("|")
      Pattern.compile(s"\\s*(?:($str)|([A-Za-z_][A-Za-z0-9_.]*)|($num)|($op))")
    }
    private val Escaped = Pattern.compile("\\\\([\\\\\"])")

    /** The tokens of `q` from offset `from` on. */
    def apply(q: String, from: Int = 0): List[Tok] = {
      val m = pattern.matcher(q)
      val out = List.newBuilder[Tok]
      var pos = from
      while (pos < q.length) {
        m.region(pos, q.length)
        if (m.lookingAt()) {
          val g = (1 to 4).find(m.group(_) != null).get
          implicit val at: Off = Off(m.start(g))
          val s = m.group(g)
          out += (g match {
            case 1 =>
              val body = s.substring(1, s.length - 1)
              Str(if (sqlQuotes) body.replace("''", "'")
                  else Escaped.matcher(body).replaceAll("$1"))
            case 2 => Id(s)
            case 3 => Num(s)
            case _ => Op(s)
          })
          pos = m.end
        } else (pos until q.length).find(!q(_).isWhitespace) match {
          case None => pos = q.length
          case Some(b) => fail(door, s"cannot tokenize '${q.substring(b).take(30)}'", Some(Off(b)))
        }
      }
      out.result()
    }
  }

  /** The tokens after an opening parenthesis, split at the one that
    * closes it: (inside, after). None when none does. */
  def closing[T <: At](ts: List[T]): Option[(List[T], List[T])] = {
    var depth = 1
    val i = ts.indexWhere { t =>
      if (t == Op("(")) depth += 1 else if (t == Op(")")) depth -= 1
      depth == 0
    }
    if (i < 0) None else Some((ts.take(i), ts.drop(i + 1)))
  }

  /** `ts` split at the tokens `sep` holds for outside any parentheses. */
  def splitTop[T <: At](ts: List[T])(sep: T => Boolean): List[List[T]] = {
    val out = List.newBuilder[List[T]]
    var cur = List.newBuilder[T]
    var depth = 0
    for (t <- ts) {
      if (t == Op("(")) depth += 1 else if (t == Op(")")) depth -= 1
      if (depth == 0 && sep(t)) { out += cur.result(); cur = List.newBuilder[T] }
      else cur += t
    }
    (out += cur.result()).result()
  }

  /** Nesting guard for a recursive-descent parser: `nested` runs one
    * level deeper and fails past [[MaxDepth]]. */
  trait Nesting {
    protected def tooDeep(msg: String): Nothing
    private var depth = 0
    def nested[A](body: => A): A = {
      if (depth >= MaxDepth) tooDeep(s"nesting deeper than $MaxDepth")
      depth += 1
      try body finally depth -= 1
    }
  }

  /** A parse position over a door's tokens. Running out of tokens, or
    * meeting the wrong one, fails with the door's located error. */
  class Cursor[T <: At](door: String, private var ts: List[T]) extends Nesting {
    def peek: Option[T] = ts.headOption
    def atEnd: Boolean = ts.isEmpty
    def pop(): T = ts match {
      case h :: t => ts = t; h
      case Nil => throw new IllegalArgumentException(s"$door: unexpected end of input")
    }
    /** The error of this door, located at the next token. */
    def fail(msg: String): Nothing = Lex.fail(door, msg, peek.map(_.at))
    def fail(msg: String, t: At): Nothing = Lex.fail(door, msg, Some(t.at))
    protected def tooDeep(msg: String): Nothing = fail(msg)
    def expect(op: String): Unit = {
      val t = pop()
      if (t != Op(op)) fail(s"expected '$op', got $t", t)
    }
    def isKw(kw: String): Boolean = peek.exists(Lex.isKw(_, kw))
    def expectKw(kw: String): Unit = {
      val t = pop()
      if (!Lex.isKw(t, kw)) fail(s"expected $kw, got $t", t)
    }
    def ident(): String = pop() match {
      case Id(n) => n
      case t => fail(s"expected an identifier, got $t", t)
    }
    /** The tokens up to the parenthesis that closes the one just popped. */
    def group(): List[T] = Lex.closing(ts) match {
      case Some((inside, after)) => ts = after; inside
      case None => fail("unclosed '('")
    }
    /** Fail unless every token of `what` was consumed. */
    def end(what: String): Unit =
      if (ts.nonEmpty) fail(s"trailing tokens in $what: ${ts.take(4).mkString(" ")}")
  }

  /** Build a door's plan. Spark's analysis errors here (an unknown
    * column, a type mismatch) are the request's fault, so they leave as
    * `door`'s IllegalArgumentException. */
  def planning[A](door: String)(build: => A): A =
    try build
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(s"$door: ${e.getMessage}", e)
    }

  /** Parse a request body; a json4s or Jackson error (truncation, bad
    * syntax, Jackson's own nesting limit) becomes `door`'s
    * IllegalArgumentException, and so does nesting deeper than
    * [[MaxDepth]]: the recursive query and aggs parsers overflow the
    * stack well inside Jackson's limit of 1000. */
  def parseJson(door: String, s: String): JValue = {
    val j =
      try org.json4s.jackson.JsonMethods.parse(s)
      catch {
        case e: com.fasterxml.jackson.core.JsonProcessingException =>
          throw new IllegalArgumentException(s"$door: malformed JSON: ${e.getOriginalMessage}", e)
      }
    def depth(v: JValue): Int = v match {
      case JObject(fs) => 1 + fs.foldLeft(0)((d, f) => d max depth(f._2))
      case JArray(xs) => 1 + xs.foldLeft(0)((d, x) => d max depth(x))
      case _ => 0
    }
    if (depth(j) > MaxDepth)
      throw new IllegalArgumentException(s"$door: nesting deeper than $MaxDepth")
    j
  }

  /** `j`'s fields; `what` names it when it is not an object. */
  def fields(j: JValue, door: String, what: String): Map[String, JValue] = j match {
    case JObject(fs) => fs.toMap
    case other => throw new IllegalArgumentException(s"$door: $what must be an object: $other")
  }

  /** A request body that must be one JSON object. */
  def bodyObject(door: String, s: String): Map[String, JValue] =
    fields(parseJson(door, s), door, "body")
}
