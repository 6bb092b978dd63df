package graft.docs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** M6/M7/M8 — cascade delete, replace, and conditional-mutation guard
  * (SURVEY §2).
  *
  * Cascade delete re-expresses `PlanService.deletePlan`
  * (`PlanService.java:135-200`) — per-key recursive Redis deletes driven by
  * `KEYS planKey_*` glob scans — as one set operation: the root keys'
  * closure comes from the assembled documents' trees, then one anti-join
  * removes it from `entities` and `edges`. No driver loop over documents,
  * no `collect()` — deleting one doc or a billion is the same plan.
  */
object Mutations {

  /** Static nesting depth of a document schema (number of join rounds a
    * reachability expansion needs). */
  def depth(schema: StructType): Int = {
    def d(dt: org.apache.spark.sql.types.DataType): Int = dt match {
      case s: StructType => 1 + s.fields.map(f => d(f.dataType)).foldLeft(0)(math.max)
      case org.apache.spark.sql.types.ArrayType(e, _) => d(e)
      case _ => 0
    }
    d(schema)
  }

  /** The closure of a set of ROOT keys, read from the documents: the
    * assembled `(key, doc)` table of the SAME corpus `sh` was shredded
    * from holds each root's whole tree, so the closure is every node key
    * in the matched documents — one semi-join plus the Shredder's
    * per-schema-node projections (keys only; column pruning drops the
    * json residue), with no edge-table join rounds. The root keys union in
    * unconditionally, so a key absent from `docs` (a fresh insert, with no
    * tree to remove) is still in its own closure.
    *
    * CONTRACT: `rootKeys` are ROOT document keys, as in
    * `PlanService.deletePlan(planKey)`. A mid-tree key has a tree in `sh`
    * but no row in `docs`, so its subtree would be missed; every caller
    * passes root keys by construction. */
  def docClosure(docs: DataFrame, rootKeys: DataFrame,
                 docCol: String = "doc"): DataFrame = {
    val schema = docs.schema(docCol).dataType.asInstanceOf[StructType]
    val roots = rootKeys.select(col("key")).distinct()
    val matched = docs
      .join(roots.select(col("key").as("__rk")), col("key") === col("__rk"), "left_semi")
    matched
      .select(explode(nodeKeys(
        col(docCol), col(docCol).getField("objectType"), schema)).as("key"))
      .unionAll(roots).distinct()
  }

  /** `array<string>` of the keys of `node` and every descendant — the
    * Shredder's tagging rules (root/array elements by objectType,
    * object-valued fields by FIELD NAME) as one statically-walked
    * expression, so the closure is a single scan + explode instead of one
    * semi-joined corpus scan per schema node. */
  private def nodeKeys(node: Column, tag: Column,
                       schema: StructType): Column = {
    val empty = array().cast(org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType))
    val self = array(concat(tag, lit("_"), node.getField("objectId")))
    schema.fields.foldLeft(self) { (acc, f) =>
      f.dataType match {
        case sub: StructType =>
          concat(acc, when(node.getField(f.name).isNotNull,
            nodeKeys(node.getField(f.name), lit(f.name), sub)).otherwise(empty))
        case org.apache.spark.sql.types.ArrayType(sub: StructType, _) =>
          concat(acc, coalesce(flatten(transform(node.getField(f.name),
            e => nodeKeys(e, e.getField("objectType"), sub))), empty))
        case _ => acc
      }
    }
  }

  /** M6 — remove the closure of `rootKeys` ([[docClosure]] over
    * `currentDocs`, the assembled corpus) from both tables. */
  def cascadeDelete(sh: Shredded, rootKeys: DataFrame, currentDocs: DataFrame,
                    docCol: String = "doc"): Shredded = {
    val gone = docClosure(currentDocs, rootKeys, docCol)
    Shredded(
      sh.entities.join(gone, Seq("key"), "left_anti"),
      sh.edges.join(gone.select(col("key").as("parent_key")), Seq("parent_key"), "left_anti"))
  }

  /** M8 — full-document replace: cascade-delete the incoming docs' root keys,
    * then union the fresh shred (`PlanService.updatePlan`,
    * `PlanService.java:202-215` = delete-then-save). */
  def replace(sh: Shredded, newDocs: DataFrame, currentDocs: DataFrame,
              docCol: String = "doc"): Shredded = {
    val rootKeys = newDocs.select(
      concat(col(s"$docCol.objectType"), lit("_"), col(s"$docCol.objectId")).as("key"))
    val cleaned = cascadeDelete(sh, rootKeys, currentDocs, docCol)
    val fresh = Shredder.shredComputed(newDocs, docCol)
    Shredded(
      cleaned.entities.unionAll(fresh.entities),
      cleaned.edges.unionAll(fresh.edges))
  }

  /** M7 — conditional-mutation guard (`If-Match`, `PlanController.java:
    * 156-165`): keep only the requests whose provided etag matches the
    * current document content. `requests` must carry (`key`, `if_match`);
    * `current` carries (`key`, `etag`). Mismatches are the engine's HTTP 412. */
  def etagGuard(requests: DataFrame, current: DataFrame): (DataFrame, DataFrame) = {
    val joined = requests.join(current, Seq("key"), "left")
    (joined.filter(col("if_match") === col("etag")),
     joined.filter(col("if_match").isNull || col("etag").isNull ||
       col("if_match") =!= col("etag")))
  }
}
