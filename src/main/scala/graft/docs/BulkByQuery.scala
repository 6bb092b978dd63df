package graft.docs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}

/** ES `_update_by_query` / `_delete_by_query` — the set-oriented bulk
  * mutation surface. The reference mutates one document per HTTP request
  * (`PlanController.java:156-301`); ES's bulk-by-query endpoints are what
  * real operators use for retention and cleanup, and they are exactly the
  * composition of two halves this engine already has: the SearchQuery
  * predicate compiler (which documents) and the Mutations reachability
  * machinery (how a document's shredded closure is removed/replaced).
  *
  * Scale shape: the body's query compiles to ONE predicate on the
  * assembled-doc scan — root selection is a pushdown-eligible filter that
  * prunes BEFORE any reachability join (plan-pinned), so deleting ten
  * documents out of 100 TB expands ten root keys, never the corpus. The
  * delete/replace themselves are Mutations' fixed-depth equi-join rounds +
  * anti-joins — no driver loop, no collect, identical plan at any scale.
  */
object BulkByQuery {

  private def field(root: Column, path: Seq[String]): Column =
    path.foldLeft(root)((c, f) => c.getField(f))

  /** An `_update_by_query` script: `ctx._source.<path> = <expr>`, the
    * single-assignment Painless form every retention/backfill script
    * starts with. The RHS rides [[SearchQuery.parseScript]]'s arithmetic
    * subset with `ctx._source.<p>` as the field-reference spelling
    * (rewritten to the `doc['p'].value` the parser already speaks);
    * `_score` does not exist in an update context and fails the parse.
    * The LHS must be a non-array scalar path — array-element updates need
    * a nested context this form does not carry (reject loudly). */
  final case class UpdateScript(path: Seq[String], expr: SearchQuery.ScriptExpr)

  private val Assign = "(?s)^\\s*ctx\\._source\\.([A-Za-z_][A-Za-z0-9_.]*)\\s*=\\s*(.+?)\\s*;?\\s*$".r

  def parseUpdateScript(src: String, schema: StructType): UpdateScript = src match {
    case Assign(lhs, rhs) =>
      val path = lhs.split('.').toSeq
      val (arr, _) = SearchQuery.splitArrayPath(path, schema)
      require(arr.isEmpty,
        s"_update_by_query target $lhs crosses array ${arr.mkString(".")} — not implemented")
      // the LHS must resolve to a leaf (assigning over an object node
      // would need a document-shaped RHS, which the arithmetic subset
      // cannot produce)
      val leaf = path.foldLeft(schema: org.apache.spark.sql.types.DataType) {
        case (st: StructType, f) =>
          st.fields.find(_.name == f).getOrElse(throw new IllegalArgumentException(
            s"_update_by_query target $lhs: no field $f")).dataType
        case (other, f) => throw new IllegalArgumentException(
          s"_update_by_query target $lhs: $f is inside non-struct $other")
      }
      require(!leaf.isInstanceOf[StructType] && !leaf.isInstanceOf[ArrayType],
        s"_update_by_query target $lhs is not a scalar leaf ($leaf)")
      val rewritten = rhs.replaceAll(
        "ctx\\._source\\.([A-Za-z_][A-Za-z0-9_.]*)", "doc['$1'].value")
      val e = SearchQuery.parseScript(rewritten, schema)
      require(!SearchQuery.scriptReadsScore(e),
        "_update_by_query script reads _score — no score exists in an update context")
      UpdateScript(path, e)
    case _ => throw new IllegalArgumentException(
      s"_update_by_query script must be 'ctx._source.<path> = <expr>': $src")
  }

  /** Rebuild `root`'s struct with the leaf at `path` replaced by `value`
    * — one codegen'd expression per schema node, the MergePatch shape. */
  private[docs] def setField(root: Column, path: Seq[String], value: Column,
                             schema: StructType): Column = path match {
    case Seq() => throw new IllegalArgumentException("empty update path")
    case last +: rest =>
      struct(schema.fields.toSeq.map { f =>
        (if (f.name != last) root.getField(f.name)
         else if (rest.isEmpty) value.cast(f.dataType)
         else setField(root.getField(f.name), rest, value,
           f.dataType.asInstanceOf[StructType])).as(f.name)
      }: _*)
  }

  private def parseRoot(body: String, allowed: Set[String]): Map[String, org.json4s.JValue] = {
    val root = Lex.bodyObject("by_query", body)
    val unknown = root.keySet -- allowed
    require(unknown.isEmpty, s"unsupported body key(s): ${unknown.mkString(", ")}")
    root
  }

  /** `_delete_by_query`: remove every document matching `body.query` —
    * root keys from one filtered scan of the assembled table, then the
    * M6 cascade (reachable closure anti-joined out of both shredded
    * tables). Returns the post-delete state and the matched-root count
    * (the ES response's `deleted`). */
  def deleteByQuery(assembled: DataFrame, sh: Shredded, body: String,
                    schema: StructType,
                    docCol: String = "doc"): (Shredded, DataFrame) = {
    val root = parseRoot(body, Set("query"))
    require(root.contains("query"), "_delete_by_query body must contain \"query\"")
    val q = SearchQuery.fromJson(body, schema)
    val roots = assembled.filter(SearchQuery.compile(q, col(docCol)))
      .select(col("key"))
    (Mutations.cascadeDelete(sh, roots, assembled, docCol),
      roots.agg(count(lit(1)).cast("long").as("deleted")))
  }

  /** ES `_reindex` — copy every document matching `source.query` into a
    * FRESH destination index, optionally rewritten by the same
    * single-assignment script form as `_update_by_query`. Unlike
    * update/delete-by-query there is NO reachability work at all: the
    * destination is built by one filtered scan + one fresh shred — the
    * plan is a pushdown-eligible predicate on the assembled corpus
    * followed by the Shredder's per-schema-node projections. Reindexing
    * ten documents out of 100 TB reads the row groups the predicate
    * selects, never the corpus. Returns `(destIndexName, destShredded)`.
    *
    * Body contract (unknown keys reject loudly): `source.index` must name
    * this corpus ("plan"), `source.query` is optional (absent = copy
    * all, the ES default), `dest.index` names the new index, `script`
    * is the optional `ctx._source.<path> = <expr>` rewrite. ES's
    * `conflicts`/`max_docs`/`op_type` knobs are not implemented —
    * rejected at parse, not silently dropped. */
  def reindex(assembled: DataFrame, body: String, schema: StructType,
              docCol: String = "doc"): (String, Shredded) = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact, render}
    val root = parseRoot(body, Set("source", "dest", "script"))
    val source = root.get("source") match {
      case Some(JObject(fs)) => fs.toMap
      case other => throw new IllegalArgumentException(s"_reindex needs source object: $other")
    }
    val unknownSrc = source.keySet -- Set("index", "query")
    require(unknownSrc.isEmpty, s"unsupported source key(s): ${unknownSrc.mkString(", ")}")
    source.get("index") match {
      case Some(JString("plan")) => ()
      case other => throw new IllegalArgumentException(
        s"_reindex source.index must name this corpus (\"plan\"): $other")
    }
    val destIndex = root.get("dest") match {
      case Some(JObject(fs)) => fs.toMap.get("index") match {
        case Some(JString(n)) => n
        case other => throw new IllegalArgumentException(s"dest.index must be a string: $other")
      }
      case other => throw new IllegalArgumentException(s"_reindex needs dest object: $other")
    }
    val doc = col(docCol)
    val matched = source.get("query") match {
      case None => assembled
      case Some(qj) =>
        val q = SearchQuery.fromJson(compact(render(JObject("query" -> qj))), schema)
        assembled.filter(SearchQuery.compile(q, doc))
    }
    val transformed = root.get("script") match {
      case None => matched
      case Some(JObject(fs)) => fs.toMap.get("source") match {
        case Some(JString(src)) =>
          val us = parseUpdateScript(src, schema)
          val newVal = SearchQuery.compileScriptWith(us.expr, p => field(doc, p),
            lit(null).cast("double"))
          matched.select(setField(doc, us.path, newVal, schema).as(docCol))
        case other => throw new IllegalArgumentException(s"script.source must be a string: $other")
      }
      case other => throw new IllegalArgumentException(s"bad _reindex script: $other")
    }
    (destIndex, Shredder.shredComputed(transformed.select(doc), docCol))
  }

  /** `_update_by_query`: apply the body's script to every matching
    * document and persist via M8 replace (delete-then-save — the
    * reference's own update shape, `PlanService.java:202-215`, here one
    * set-oriented plan instead of a per-document request loop). */
  def updateByQuery(assembled: DataFrame, sh: Shredded, body: String,
                    schema: StructType,
                    docCol: String = "doc"): Shredded = {
    import org.json4s._
    val root = parseRoot(body, Set("query", "script"))
    require(root.contains("query"), "_update_by_query body must contain \"query\"")
    val src = root.get("script") match {
      case Some(JObject(fs)) => fs.toMap.get("source") match {
        case Some(JString(s0)) => s0
        case other => throw new IllegalArgumentException(
          s"script.source must be a string: $other")
      }
      case other => throw new IllegalArgumentException(
        s"_update_by_query body must carry script: {source}: $other")
    }
    val us = parseUpdateScript(src, schema)
    val q = SearchQuery.fromJson(body, schema)
    val doc = col(docCol)
    val matched = assembled.filter(SearchQuery.compile(q, doc))
    val newVal = SearchQuery.compileScriptWith(us.expr, p => field(doc, p),
      lit(null).cast("double"))
    val updated = matched.select(setField(doc, us.path, newVal, schema).as(docCol))
    Mutations.replace(sh, updated, assembled, docCol)
  }
}
