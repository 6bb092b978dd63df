package graft.docs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** ES `_bulk` — the ordered mixed-action batch (index / create / update /
  * delete), the transport every real ES ingest pipeline actually uses. The
  * reference mutates one document per HTTP verb (`PlanController.java:
  * 156-301`); `_bulk` is the set-oriented form with EXACT sequential
  * semantics: within one batch, action k sees the effects of actions
  * 1..k-1 on the same `_id` (a create after an index conflicts; an index
  * after a delete re-creates).
  *
  * Execution shape: the batch is a REQUEST-side literal (bounded like the
  * msearch legs and rank_eval requests — never corpus-scale data), so the
  * per-id action chain is folded at plan-build time in Scala under BOTH
  * initial-existence assumptions ("the corpus has this id" / "it does
  * not"). Everything data-dependent collapses to that one bit, resolved by
  * ONE In-filter-pushed scan of the batch ids against the corpus (a
  * bounded collect — the d4 point-lookup shape at multi-key grain):
  *
  *   - per-action results: the realized branch's folded status per
  *     action — a batch-bounded LocalRelation, zero corpus work.
  *   - final per-id content: `absent` / `corpus` (untouched) / a base doc
  *     (batch literal or the stored doc) with the surviving update patches
  *     replayed IN ORDER as a statically-unrolled MergePatch column chain
  *     (M9 semantics per patch — exactly what repeated PATCH requests
  *     would do).
  *
  * The index mutation itself is the existing set machinery: deletions ride
  * M6 cascadeDelete, upserts ride M8 replace — one plan for a 10-action
  * batch or a 10-million-action one (the batch build is the only
  * driver-side cost, linear in request size; ES bulks are MB-bounded for
  * the same reason).
  *
  * Per-action results use ES's vocabulary: `created` 201, `updated` 200,
  * `deleted` 200, `not_found` 404 (update/delete on a missing doc),
  * `version_conflict` 409 (create on an existing doc). A failed action
  * never changes state — exactly ES's per-item error contract.
  */
object Bulk {

  /** One parsed batch action. `payload`: the doc JSON (index/create), the
    * partial-doc JSON (update), None (delete). */
  final case class Action(seq: Int, op: String, id: String, payload: Option[String])

  /** Parse the NDJSON `_bulk` request body: alternating action-metadata
    * lines `{"<op>": {"_index": "plan", "_id": …}}` and (for
    * index/create/update) source lines. Update sources must be
    * `{"doc": {…partial…}}` — the script form is rejected loudly. */
  def parse(ndjson: String): Seq[Action] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact, render}
    def jparse(line: String) = Lex.parseJson("_bulk", line)
    val lines = ndjson.split('\n').map(_.trim).filter(_.nonEmpty).toSeq
    val out = Seq.newBuilder[Action]
    var i = 0
    var seq = 0
    while (i < lines.length) {
      val (op, id) = jparse(lines(i)) match {
        case JObject(List((op0, JObject(meta)))) =>
          require(Set("index", "create", "update", "delete")(op0),
            s"unsupported _bulk op: $op0")
          val m = meta.toMap
          val unknown = m.keySet -- Set("_index", "_id")
          require(unknown.isEmpty,
            s"unsupported _bulk metadata key(s): ${unknown.mkString(", ")}")
          m.get("_index").foreach {
            case JString("plan") => ()
            case other => throw new IllegalArgumentException(
              s"_bulk _index must name this corpus (\"plan\"): $other")
          }
          m.get("_id") match {
            case Some(JString(id0)) => (op0, id0)
            case other => throw new IllegalArgumentException(s"_bulk needs string _id: $other")
          }
        case other => throw new IllegalArgumentException(s"bad _bulk action line: $other")
      }
      i += 1
      val payload = op match {
        case "delete" => None
        case "update" =>
          require(i < lines.length, s"_bulk update for $id missing its source line")
          jparse(lines(i)) match {
            case JObject(List(("doc", d @ JObject(_)))) =>
              i += 1; Some(compact(render(d)))
            case other => throw new IllegalArgumentException(
              s"_bulk update source must be {\"doc\": {…}} (script form not implemented): $other")
          }
        case _ =>
          require(i < lines.length, s"_bulk $op for $id missing its source line")
          val d = jparse(lines(i))
          require(d.isInstanceOf[JObject], s"_bulk $op source must be an object: $d")
          // the payload's identity must MATCH the action line — the
          // response keys on _id while the mutation keys on the payload's
          // objectType_objectId, so a mismatch would silently desync the
          // two (reject loudly, the module contract)
          val dm = d.asInstanceOf[JObject].obj.toMap
          dm.get("objectId") match {
            case Some(JString(oid)) => require(oid == id,
              s"_bulk $op payload objectId $oid does not match _id $id")
            case _ => throw new IllegalArgumentException(
              s"_bulk $op payload for $id must carry its objectId")
          }
          dm.get("objectType") match {
            case Some(JString("plan")) | None => ()
            case other => throw new IllegalArgumentException(
              s"_bulk $op payload objectType must be plan: $other")
          }
          i += 1; Some(compact(render(d)))
      }
      out += Action(seq, op, id, payload)
      seq += 1
    }
    out.result()
  }

  /** Final per-id content under one initial-existence assumption:
    * `kind` = "absent" | "corpus" | "doc"; for "doc", `base` is the last
    * full-doc literal (None = the stored corpus doc) and `patches` the
    * update patches applied after it, in order. */
  private[docs] final case class Content(kind: String, base: Option[String],
                                         patches: Seq[String])

  private[docs] final case class Branch(exists: Boolean, content: Content,
                                        statuses: Vector[(String, Int)])

  /** Fold one id's actions under one initial-existence assumption —
    * the exact ES sequential semantics. */
  private[docs] def fold(actions: Seq[Action], initiallyExists: Boolean): Branch =
    actions.foldLeft(Branch(initiallyExists,
      Content(if (initiallyExists) "corpus" else "absent", None, Nil), Vector.empty)) {
      case (b, a) => a.op match {
        case "index" =>
          Branch(exists = true, Content("doc", a.payload, Nil),
            b.statuses :+ (if (b.exists) ("updated", 200) else ("created", 201)))
        case "create" =>
          if (b.exists) b.copy(statuses = b.statuses :+ ("version_conflict", 409))
          else Branch(exists = true, Content("doc", a.payload, Nil),
            b.statuses :+ ("created", 201))
        case "update" =>
          if (!b.exists) b.copy(statuses = b.statuses :+ ("not_found", 404))
          else {
            val c = b.content match {
              case Content("corpus", _, _) => Content("doc", None, a.payload.toSeq)
              case Content("doc", base, ps) => Content("doc", base, ps ++ a.payload.toSeq)
              case other => throw new IllegalStateException(s"update on $other")
            }
            Branch(exists = true, c, b.statuses :+ ("updated", 200))
          }
        case "delete" =>
          if (!b.exists) b.copy(statuses = b.statuses :+ ("not_found", 404))
          else Branch(exists = false, Content("absent", None, Nil),
            b.statuses :+ ("deleted", 200))
        case other => throw new IllegalArgumentException(s"unsupported _bulk op: $other")
      }
    }

  /** The batch's outcome: the per-action response frame (`seq`, `id`,
    * `op`, `result`, `status`, in request order), the post-bulk index,
    * and the fresh shred of the upserted docs (plan-local — its roots and
    * children key the touched closures without a reachability pass). */
  final case class Outcome(resp: DataFrame, after: Shredded, fresh: Shredded)

  /** Initial existence: the batch's id list is a driver literal, so it
    * prunes the corpus scan DIRECTLY (`isin` → an In filter pushed to
    * the parquet scan — the d4 point-lookup shape at multi-key grain)
    * and the surviving ≤|batch| keys collect as bounded driver state.
    * NOT a broadcast-hinted left-outer join from the batch side: Spark
    * can only build (broadcast) the NON-preserved side of an outer join,
    * so that hint was silently ignored and the corpus side shuffled
    * (round-10 ADVICE). Exposed for the plan audit. */
  private[graft] def existenceScan(assembled: DataFrame, ids: Seq[String],
                                   docCol: String = "doc"): DataFrame =
    assembled.select(col(docCol).getField("objectId").as("_cid"))
      .filter(col("_cid").isin(ids: _*))

  /** The present ids' stored-doc attach: a second pushed In-filter scan
    * joined INNER with the batch frame as the broadcast BUILD side (the
    * broadcastable shape — inner joins may build either side). Exposed
    * for the plan audit. */
  private[graft] def storedJoin(assembled: DataFrame, presentDf: DataFrame,
                                presentIds: Seq[String],
                                docCol: String = "doc"): DataFrame = {
    val doc = col(docCol)
    assembled.select(doc.getField("objectId").as("_cid"), doc.as("_stored"))
      .filter(col("_cid").isin(presentIds: _*))
      .join(broadcast(presentDf), col("id") === col("_cid"), "inner")
  }

  /** `maxDepth` is unused; the benchmark client pins this signature. */
  def run(assembled: DataFrame, sh: Shredded, ndjson: String,
          schema: StructType, maxDepth: Int,
          docCol: String = "doc"): Outcome = {
    val spark = assembled.sparkSession
    val actions = parse(ndjson)
    require(actions.nonEmpty, "_bulk batch is empty")
    val byId = actions.groupBy(_.id)
    val folded: Map[String, (Branch, Branch)] =
      byId.map { case (id, as) => id -> (fold(as, initiallyExists = true),
        fold(as, initiallyExists = false)) }

    import spark.implicits._
    val allIds = byId.keys.toSeq.sorted
    val existing: Set[String] = existenceScan(assembled, allIds, docCol)
      .collect().map(_.getString(0)).toSet

    // ---- per-action response ------------------------------------------
    // existence is known driver-side, so the response frame is a pure
    // batch-bounded LocalRelation — zero corpus work
    val respRows = actions.map { a =>
      val (bp, ba) = folded(a.id)
      val k = byId(a.id).indexWhere(_.seq == a.seq)
      val (r, st) = (if (existing(a.id)) bp else ba).statuses(k)
      (a.seq.toLong, a.id, a.op, r, st)
    }
    val resp = respRows.toDF("seq", "id", "op", "result", "status")

    // ---- the index mutation -------------------------------------------
    // each id keeps only its REALIZED branch; ids present in the index
    // join their stored doc through a second pushed In-filter scan with
    // the batch frame as the broadcast BUILD side (inner join — the
    // broadcastable shape), ids absent from the index are pure literals
    val idRows = folded.toSeq.sortBy(_._1).map { case (id, (bp, ba)) =>
      val b = if (existing(id)) bp else ba
      (id, b.content.kind, b.content.base, b.content.patches)
    }
    val (presentRows, absentRows) = idRows.partition(r => existing(r._1))
    val present = storedJoin(assembled,
      presentRows.toDF("id", "_k", "_b", "_p"), presentRows.map(_._1), docCol)
    val absent = absentRows.toDF("id", "_k", "_b", "_p")
      .withColumn("_cid", lit(null).cast("string"))
      .withColumn("_stored", lit(null).cast(schema))
      .select(present.columns.map(col).toSeq: _*)
    val ids = present.unionByName(absent)
    val exists = col("_cid").isNotNull
    val kind = col("_k")
    val base = col("_b")
    val patches = col("_p")

    // ids whose final state is absent but whose closure is in the index.
    // PINNED (batch-bounded driver rows): the cascade embeds its root
    // frame in the closure of every anti-join, and the fresh
    // shred embeds the doc frame once per schema node — left lazy, the
    // broadcast-join + patch-chain plan is duplicated ~15× and re-executed
    // per copy (measured 30 s vs ~5 s at sf0.1). The batch is request-
    // bounded by contract, so the collect is ES's own bulk-body bound.
    val deleteRoots = graft.Eager.pin(ids.filter(kind === "absent" && exists)
      .select(concat(lit("plan_"), col("id")).as("key")))

    // final docs: base (batch literal or the stored doc) + the ordered
    // patch chain, statically unrolled (batches carry few patches per id)
    val maxPatches = idRows.map(_._4.size).max
    val base0 = when(base.isNotNull, from_json(base, schema)).otherwise(col("_stored"))
    val patched = (1 to maxPatches).foldLeft(base0) { (acc, i) =>
      when(size(patches) >= i,
        MergePatch.merge(acc, from_json(element_at(patches, i), schema), schema))
        .otherwise(acc)
    }
    val newDocs = graft.Eager.pin(ids.filter(kind === "doc").select(patched.as(docCol)))

    // ONE cascade for both the final deletions and the replaced docs' old
    // closures (M8 replace = cascade + fresh shred; running its cascade
    // separately from the delete cascade would double the closure scan —
    // both root sets are pinned literals, so their union is free), then
    // the fresh shred unions in.
    val newRoots = newDocs.select(
      concat(col(s"$docCol.objectType"), lit("_"), col(s"$docCol.objectId")).as("key"))
    val cleaned = Mutations.cascadeDelete(sh,
      deleteRoots.unionByName(newRoots), assembled, docCol)
    val fresh = Shredder.shredComputed(newDocs, docCol)
    Outcome(resp.orderBy(col("seq")), Shredded(
      cleaned.entities.unionAll(fresh.entities),
      cleaned.edges.unionAll(fresh.edges)), fresh)
  }
}
