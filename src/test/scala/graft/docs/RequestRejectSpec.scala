package graft.docs

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

import scala.util.Random

import graft.SparkSpec
import graft.model.PlanSchema
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructField, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** A malformed request fails as an `IllegalArgumentException` at every
  * door: ES|QL, ES SQL, EQL, query_string, simple_query_string, the
  * script door and the JSON bodies. Never a MatchError, an NPE, a stack
  * overflow, a Jackson error or a raw Spark error. Every case only parses
  * and analyzes over tiny local frames; no Spark action runs. */
class RequestRejectSpec extends SparkSpec {

  private val schema = PlanSchema.plan

  private lazy val events: DataFrame = {
    import spark.implicits._
    Seq((1L, 1L, "purchase", 10L, 60.0))
      .toDF("event_id", "user_id", "event_type", "ts_us", "value")
  }

  private lazy val orders: DataFrame = {
    import spark.implicits._
    Seq((1L, 2L, "F", 100.0, "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
  }

  /** Each door's entry: parse (and, for the pipe languages, analyze)
    * one request. */
  private lazy val doors: Map[String, String => Any] = Map(
    "esql" -> (q => Esql.run(Map("events" -> events), q)),
    "es-sql" -> (q => EsSql.run(Map("orders" -> orders), q)),
    "eql" -> (q => Eql.runEvent(events, q)),
    "query_string" -> (q => SearchQuery.compile(QueryString.parse(q, schema), col("doc"))),
    "simple_query_string" -> (q => SearchQuery.compile(
      QueryString.parseSimple(q, Seq("planType", "_org"), schema), col("doc"))),
    "script_score" -> (q => SearchQuery.parseScript(q, schema)),
    "search" -> (b => SearchQuery.compile(SearchQuery.parseFullBody(b, schema).parsed.query,
      col("doc"))),
    "aggs" -> (b => EsAggs.parse(b, schema)))

  /** A search body of `k` nested bools: JSON depth 2k + 3. */
  private def bools(k: Int): String =
    """{"query":""" + """{"bool":{"must":""" * k + """{"match_all":{}}""" + "}}" * k + "}"

  private def rejects(door: String, input: String): String = {
    val e = intercept[IllegalArgumentException](doors(door)(input))
    assert(e.getClass === classOf[IllegalArgumentException], s"$door: $input")
    e.getMessage
  }

  test("the malformed-request probes raise IllegalArgumentException with their door's prefix") {
    for (q <- Seq("process where a ==", "process where (user_id == 1",
      "purchase where value >=", "purchase where value >= 150 and"))
      assert(rejects("eql", q).startsWith("eql: "), q)
    assert(rejects("eql", "purchase where value >= 150 and") === "eql: unexpected end of input")
    assert(rejects("eql", "purchase where value >= user_id")
      .startsWith("eql: expected a string or number, got user_id at offset 24"))
    assert(rejects("search", """{"query":""").startsWith("search: malformed JSON"))
    // an unknown column is the request's fault too, not a raw Spark error
    assert(rejects("eql", "purchase where nosuch == 1").startsWith("eql: [UNRESOLVED_COLUMN"))
    assert(rejects("esql", "FROM events | WHERE nosuch > 1").startsWith("esql: [UNRESOLVED_COLUMN"))
    assert(rejects("es-sql", "SELECT o_custkey FROM orders WHERE nosuch > 1").startsWith("esql: [UNRESOLVED_COLUMN"))
    val docs = spark.createDataFrame(java.util.List.of[Row](),
      StructType(Seq(StructField("doc", schema))))
    assert(intercept[IllegalArgumentException](SearchExec.search(docs, "doc",
      """{"query": {"term": {"nosuch": "x"}}, "sort": [{"objectId": "asc"}]}""", schema))
      .getMessage.startsWith("search: [FIELD_NOT_FOUND"))
    assert(intercept[IllegalArgumentException](EsAggs.run(docs, "doc",
      """{"size": 0, "aggs": {"t": {"terms": {"field": "nosuch"}}}}""", schema))
      .getMessage.startsWith("aggs: [FIELD_NOT_FOUND"))
    assert(rejects("aggs", """{"aggs": {"t": {"terms": {"field": "planType", "size": -1}}}}""")
      .startsWith("aggs: terms size must be >= 1: -1"))
    assert(rejects("aggs", """{"aggs": {"t": {"terms": {"field": "planType", "size": 0}}}}""")
      .startsWith("aggs: terms size must be >= 1: 0"))
    assert(rejects("aggs",
      """{"aggs": {"t": {"terms": {"field": "planType", "size": 3000000000}}}}""")
      .startsWith("aggs: terms size must fit in an int"))
    // top_hits may ask for no hits; the top-level `"size": 0` is untouched
    EsAggs.parse("""{"size": 0, "aggs": {"t": {"terms": {"field": "planType"},
      "aggs": {"h": {"top_hits": {"size": 0,
        "sort": [{"planCostShares.copay": "desc"}], "_source": ["objectId"]}}}}}}""", schema)
  }

  test("query_string rejects range, regex, fuzzy and boost syntax instead of a term match") {
    for (v <- Seq("planCostShares.copay:>100", "planCostShares.copay:<=5", "planType:[1",
      "planType:{a", "planType:/re/", "planType:roam~", "planType:foo^2")) {
      val m = rejects("query_string", v)
      assert(m.startsWith("query_string: range, regex, fuzzy and boost syntax"), m)
      assert(m.endsWith("at offset 0"), m)
    }
    assert(rejects("simple_query_string", "roam~2")
      .startsWith("simple_query_string: range, regex, fuzzy and boost syntax"))
    // quoted, the same characters are phrase text
    doors("query_string")("planType:\"a~b ^c\"")
  }

  test("10 000 nested parentheses or unary operators fail at the nesting cap, not the stack") {
    val n = 10000
    def parens(inner: String) = "(" * n + inner + ")" * n
    val deep = Seq(
      "esql" -> s"FROM events | WHERE ${parens("value > 1")}",
      "esql" -> s"FROM events | WHERE ${"NOT " * n}value > 1",
      "esql" -> s"FROM events | EVAL x = ${"- " * n}value",
      "es-sql" -> s"SELECT user_id FROM orders WHERE ${parens("o_totalprice > 1")}",
      "eql" -> s"purchase where ${parens("value > 1")}",
      "eql" -> s"purchase where ${"not " * n}value > 1",
      "query_string" -> parens("planType:x"),
      "query_string" -> ("NOT " * n + "planType:x"),
      "simple_query_string" -> parens("x"),
      "script_score" -> parens("1"),
      "script_score" -> ("-" * n + "1"),
      "script_score" -> ("Math.abs(" * n + "1" + ")" * n))
    for ((door, q) <- deep) {
      val m = rejects(door, q)
      assert(m.contains(s"nesting deeper than ${Lex.MaxDepth}"), s"$door: ${m.take(200)}")
    }
    // JSON nests past Jackson's own limit before any door recursion runs
    assert(rejects("search", bools(n)).startsWith("search: malformed JSON: Document nesting depth"))
    val aggs = """{"aggs":""" + """{"a":{"filter":{"match_all":{}},"aggs":""" * n + "{}" +
      "}}" * n + "}"
    assert(rejects("aggs", aggs).startsWith("aggs: malformed JSON: Document nesting depth"))
    // inside Jackson's limit the door's own cap holds (450 bools overflowed the stack)
    assert(rejects("search", bools(450)) === s"search: nesting deeper than ${Lex.MaxDepth}")
  }

  test("nesting up to the cap still parses at every door") {
    val d = Lex.MaxDepth - 2
    def parens(inner: String) = "(" * d + inner + ")" * d
    doors("esql")(s"FROM events | WHERE ${parens("value > 1")}")
    doors("es-sql")(s"SELECT o_custkey FROM orders WHERE ${parens("o_totalprice > 1")}")
    doors("eql")(s"purchase where ${parens("value > 1")}")
    doors("query_string")(parens("planType:x"))
    doors("simple_query_string")(parens("x"))
    doors("script_score")(parens("1"))
    doors("search")(bools((Lex.MaxDepth - 3) / 2))
  }

  test("a truncated JSON body fails as IllegalArgumentException at every JSON door") {
    val t = """{"query":"""
    val b64 = Base64.getEncoder.encodeToString("""{"term":""".getBytes(UTF_8))
    val sites: Seq[(String, () => Any)] = Seq(
      "search" -> (() => SearchQuery.parseBody(t, schema)),
      "search" -> (() => SearchQuery.parseFullBody(t, schema)),
      "wrapper" -> (() => SearchQuery.parseBody(
        s"""{"query": {"wrapper": {"query": "$b64"}}}""", schema)),
      "aggs" -> (() => EsAggs.parse(t, schema)),
      "by_query" -> (() => BulkByQuery.deleteByQuery(null, null, t, schema)),
      "rank_eval" -> (() => RankEval.run(null, "doc", t, schema)),
      "join aggs" -> (() => JoinAggs.run(null, "plan", t)),
      "runtime_mappings" -> (() => RuntimeFields(null, "doc", t, schema)),
      "pipeline" -> (() => IngestPipeline.parse(t, schema)),
      "transform" -> (() => Transform.parse(t)),
      "transform" -> (() => Transform.parseLatest(t)),
      "retriever" -> (() => Retriever.search(null, "doc", t, schema)),
      "_aliases" -> (() => Aliases(Map.empty, t)),
      "_bulk" -> (() => Bulk.parse(t)))
    for ((door, f) <- sites) {
      val e = intercept[IllegalArgumentException](f())
      assert(e.getMessage.startsWith(s"$door: malformed JSON"), e.getMessage)
    }
    assert(intercept[IllegalArgumentException](SearchQuery.parseFullBody("[1]", schema))
      .getMessage.startsWith("search: body must be an object"))
  }

  // ------------------------------------------------------------ mutation

  /** Seeds copied from registry entries: d210 (ES|QL), d248 (ES SQL),
    * d233 (EQL), d50 (query_string), d141 (simple_query_string), the
    * script_score door, d26 and d50 (search bodies), d36 (aggs). */
  private val seeds: Seq[(String, String)] = Seq(
    "esql" ->
      """FROM events
        || WHERE event_type == "purchase" AND value > 50
        || EVAL v2 = value * 2
        || STATS total = SUM(v2), n = COUNT(*), hi = MAX(value) BY user_id
        || SORT total DESC, user_id ASC
        || LIMIT 10""".stripMargin,
    "es-sql" ->
      """SELECT HISTOGRAM(o_totalprice, 50000) AS bucket, COUNT(*) AS n,
        |       SUM(o_totalprice) AS total
        |FROM orders
        |WHERE o_orderstatus = 'F'
        |GROUP BY HISTOGRAM(o_totalprice, 50000)
        |ORDER BY bucket ASC""".stripMargin,
    "eql" -> "purchase where value >= 150 and (user_id < 40 or user_id >= 120) | tail 15",
    "query_string" -> ("(planType:BUILDING OR planType:MACHINERY) AND _org:org-1* AND NOT " +
      "objectId:plan-11* AND linkedPlanServices.linkedService.name:\"Service 1-URGENT\""),
    "simple_query_string" -> "(building | machinery) + org-1* -plan-11* + \"Service 1-URGENT\"",
    "script_score" -> "Math.log(2 + doc['planCostShares.copay'].value) * _score / 3",
    "search" ->
      """{"query": {"nested": {"path": "linkedPlanServices.linkedService",
        |  "query": {"wildcard": {"linkedPlanServices.linkedService.name.keyword":
        |    {"value": "Service 1*"}}}, "inner_hits": {}}}}""".stripMargin,
    "search" ->
      """{"query": {"bool": {"must": [
        |  {"query_string": {"query": "(planType:BUILDING OR planType:MACHINERY) AND _org:org-1*"}},
        |  {"range": {"planCostShares.copay": {"gte": 5}}}]}},
        | "sort": [{"objectId": "asc"}], "size": 5}""".stripMargin,
    "aggs" ->
      """{"size": 0,
        | "query": {"range": {"planCostShares.copay": {"gte": 5}}},
        | "aggs": {"by_type": {"terms": {"field": "planType", "size": 3},
        |   "aggs": {"avg_copay": {"avg": {"field": "planCostShares.copay"}},
        |     "max_deductible": {"max": {"field": "planCostShares.deductible"}}}}}}""".stripMargin)

  private val CasesPerDoor = 60

  /** Token spans to mutate: quoted strings, words, two-character
    * operators and single symbols. */
  private val Span = """"(?:[^"\\]|\\.)*"|'(?:[^']|'')*'|[A-Za-z0-9_.*-]+|[<>=!]=|<>|\|\||\S""".r

  private def mutate(s: String, rnd: Random, json: Boolean): String = {
    val sp = Span.findAllMatchIn(s).map(m => (m.start, m.end)).toIndexedSeq
    def cut(k: Int) = s.substring(sp(k)._1, sp(k)._2)
    val k = rnd.nextInt(sp.size - 1)
    rnd.nextInt(if (json) 5 else 4) match {
      case 0 => s.substring(0, sp(k)._1) // truncate
      case 1 => s.substring(0, sp(k)._1) + s.substring(sp(k)._2) // drop
      case 2 => s.substring(0, sp(k)._2) + " " + s.substring(sp(k)._1) // duplicate
      case 3 => // swap with the next token
        s.substring(0, sp(k)._1) + cut(k + 1) + s.substring(sp(k)._2, sp(k + 1)._1) +
          cut(k) + s.substring(sp(k + 1)._2)
      case _ => // a JSON value of the wrong type
        val j = Lex.parseJson("spec", s)
        compact(render(retype(j, 1 + rnd.nextInt(nodes(j) - 1))))
    }
  }

  private def nodes(j: JValue): Int = 1 + (j match {
    case JObject(fs) => fs.map(f => nodes(f._2)).sum
    case JArray(xs) => xs.map(nodes).sum
    case _ => 0
  })

  /** `j` with its `target`-th node (pre-order) replaced by another type. */
  private def retype(j: JValue, target: Int): JValue = {
    var n = -1
    def go(v: JValue): JValue = {
      n += 1
      if (n == target) v match {
        case _: JObject => JArray(List(JInt(1)))
        case _: JArray => JString("x")
        case _: JString => JObject(List("a" -> JInt(1)))
        case _: JBool => JInt(7)
        case JNull | JNothing => JArray(Nil)
        case _ => JString("x")
      } else v match {
        case JObject(fs) => JObject(fs.map { case (k, x) => (k, go(x)) })
        case JArray(xs) => JArray(xs.map(go))
        case x => x
      }
    }
    go(j)
  }

  test("seeded mutations of registry requests either plan or fail as IllegalArgumentException") {
    // the unmutated seeds plan
    for ((door, s) <- seeds) doors(door)(s)
    val failures = seeds.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (door, ss) =>
      val rnd = new Random(door.hashCode)
      val json = door == "search" || door == "aggs"
      (0 until CasesPerDoor).flatMap { i =>
        val input = mutate(ss(i % ss.size)._2, rnd, json)
        try { doors(door)(input); None }
        catch {
          case e: Throwable if e.getClass != classOf[IllegalArgumentException] =>
            Some(s"$door #$i: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(160)}" +
              s"\n    input: $input")
          case _: IllegalArgumentException => None
        }
      }
    }
    assert(failures.isEmpty, failures.mkString("\n", "\n", ""))
  }
}
