package graft.docs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** ES index aliases — the `_aliases` actions API plus search-through-alias
  * resolution. A FILTERED alias is ES's standing row-level view: searching
  * it ANDs the alias filter with the request query, which here compiles to
  * one extra predicate on the SAME assembled scan — pushdown-eligible, so
  * an alias like "building-plans" prunes row groups before the request
  * query even runs (ES applies alias filters at the shard query phase the
  * same way). Alias state is request-bounded metadata (name → definition),
  * never data-plane rows.
  *
  * Not implemented (rejected loudly, never silently dropped): alias
  * `routing` (needs custom shard routing at index time — a transport
  * concern like M10), `is_write_index`, wildcard index patterns, and
  * multi-index aliases (this corpus is one index, "plan").
  */
object Aliases {

  final case class AliasDef(index: String, filter: Option[String])

  /** Apply an `_aliases` actions body to a registry (empty map = fresh
    * state). `add` upserts (ES semantics — re-adding replaces the
    * definition); `remove` of an unknown alias fails (ES
    * aliases_not_found_exception). */
  def apply(registry: Map[String, AliasDef], body: String): Map[String, AliasDef] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact, render}
    val actions = Lex.parseJson("_aliases", body) match {
      case JObject(List(("actions", JArray(as)))) => as
      case other => throw new IllegalArgumentException(
        s"_aliases body must be {\"actions\": [...]}: $other")
    }
    actions.foldLeft(registry) { (reg, a) =>
      a match {
        case JObject(List(("add", JObject(fs)))) =>
          val m = fs.toMap
          val unknown = m.keySet -- Set("index", "alias", "filter")
          require(unknown.isEmpty,
            s"unsupported alias add key(s): ${unknown.mkString(", ")}")
          val index = m.get("index") match {
            case Some(JString("plan")) => "plan"
            case other => throw new IllegalArgumentException(
              s"alias index must name this corpus (\"plan\"): $other")
          }
          val name = m.get("alias") match {
            case Some(JString(n)) => n
            case other => throw new IllegalArgumentException(s"alias add needs alias: $other")
          }
          val filter = m.get("filter").map(f => compact(render(JObject("query" -> f))))
          reg + (name -> AliasDef(index, filter))
        case JObject(List(("remove", JObject(fs)))) =>
          val m = fs.toMap
          val name = m.get("alias") match {
            case Some(JString(n)) => n
            case other => throw new IllegalArgumentException(s"alias remove needs alias: $other")
          }
          require(reg.contains(name), s"aliases_not_found: $name")
          reg - name
        case other => throw new IllegalArgumentException(s"unsupported alias action: $other")
      }
    }
  }

  /** Search through an alias: the alias filter (when present) is ANDed in
    * as a plain predicate on the corpus scan, then the request `body`
    * runs unchanged through the full SearchExec pipeline. */
  def search(docs: DataFrame, docCol: String, registry: Map[String, AliasDef],
             alias: String, body: String, schema: StructType): DataFrame = {
    val ad = registry.getOrElse(alias,
      throw new IllegalArgumentException(s"no such alias: $alias"))
    val scoped = ad.filter match {
      case None => docs
      case Some(f) =>
        val q = SearchQuery.fromJson(f, schema)
        docs.filter(SearchQuery.compile(q, col(docCol)))
    }
    SearchExec.search(scoped, docCol, body, schema)
  }
}
