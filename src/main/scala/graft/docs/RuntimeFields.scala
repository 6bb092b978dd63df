package graft.docs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}

/** ES `runtime_mappings` — fields computed AT SEARCH TIME from a script in
  * the request body, then used by the query/aggs exactly like mapped
  * fields (the ES schema-on-read device: a dashboard adds a derived
  * dimension without reindexing). Scripts are the engine's script_score
  * arithmetic subset ([[SearchQuery.ScriptExpr]]); `_score` does not
  * exist at field-computation time and is rejected at parse.
  *
  * Implementation: each runtime field becomes one computed column spliced
  * into the document struct BEFORE parsing/compiling the rest of the body
  * — so field-path validation, query compilation, and the aggregation
  * machinery see it as a plain schema field. Declared types: `long`
  * (floor of the script value — DOCUMENTED: Spark's double→long cast
  * truncates while other engines round, so the floor is explicit on both
  * sides) and `double` (as computed).
  *
  * Scale shape: a pure per-row projection fused into the scan stage —
  * zero extra passes, zero shuffles; predicates on a runtime field
  * cannot reach PushedFilters (exactly ES's own runtime-field cost, and
  * why mapped fields are preferred for hot filters). */
object RuntimeFields {

  /** Returns (docs-with-computed-fields, body-without-the-key,
    * schema-with-the-fields). A body with no `runtime_mappings` passes
    * through untouched. */
  def apply(docs: DataFrame, docCol: String, body: String,
            schema: StructType): (DataFrame, String, StructType) = {
    import org.json4s._
    val root = Lex.bodyObject("runtime_mappings", body)
    val rm = root.get("runtime_mappings")
    if (rm.isEmpty) return (docs, body, schema)
    val mappings = rm.get match {
      case JObject(ms) if ms.nonEmpty => ms
      case other => throw new IllegalArgumentException(
        s"runtime_mappings must be a non-empty object: $other")
    }
    val doc = col(docCol)
    var outSchema = schema
    val computed: Seq[(String, Column)] = mappings.map { case (name, spec) =>
      require(!schema.fieldNames.contains(name),
        s"runtime field \"$name\" shadows a mapped field")
      val m = Lex.fields(spec, "runtime_mappings", s"runtime field $name")
      val unknown = m.keySet -- Set("type", "script")
      require(unknown.isEmpty,
        s"unsupported runtime field key(s) on $name: ${unknown.mkString(", ")} (type/script)")
      val tpe = m.get("type") match {
        case Some(JString(t)) if t == "long" || t == "double" => t
        case Some(JString(t)) => throw new IllegalArgumentException(
          s"unsupported runtime field type on $name: $t (long/double)")
        case _ => throw new IllegalArgumentException(s"runtime field $name needs a type")
      }
      val src = m.get("script") match {
        case Some(JObject(sf)) => sf.toMap.get("source") match {
          case Some(JString(s0)) => s0
          case _ => throw new IllegalArgumentException(s"runtime field $name needs script.source")
        }
        case Some(JString(s0)) => s0
        case _ => throw new IllegalArgumentException(s"runtime field $name needs a script")
      }
      val expr0 = SearchQuery.parseScript(src, schema)
      def noScore(e: SearchQuery.ScriptExpr): Unit = e match {
        case SearchQuery.SScore => throw new IllegalArgumentException(
          s"runtime field $name references _score — scores do not exist at field-computation time")
        case SearchQuery.SBin(_, l, r) => noScore(l); noScore(r)
        case SearchQuery.SCall(_, a) => noScore(a)
        case SearchQuery.SCall2(_, a, b) => noScore(a); noScore(b)
        case _ => ()
      }
      noScore(expr0)
      val raw = SearchQuery.compileScript(expr0, doc, lit(1.0))
      val c = if (tpe == "long") floor(raw).cast(LongType) else raw
      outSchema = outSchema.add(name, if (tpe == "long") LongType else DoubleType)
      (name, c)
    }
    val newDoc = struct(
      schema.fieldNames.toSeq.map(f => doc.getField(f).as(f)) ++
        computed.map { case (n, c) => c.as(n) }: _*)
    val stripped = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        JObject((root - "runtime_mappings").toList)))
    (docs.select(newDoc.as(docCol)), stripped, outSchema)
  }
}
