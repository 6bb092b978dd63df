package graft.docs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.PlanSchema

/** Property-style invariants of the document engine over generated
  * corpora (seeded generator → deterministic, no extra test deps):
  *
  *   1. round-trip: assemble(shred(docs)) ≡ docs (canonical compare)
  *   2. merge-patch idempotence: merge(doc, doc) ≡ doc
  *   3. cascade-delete closure: deleting every root empties both tables
  *
  * These are the invariants the reference never tested (SURVEY §5) and the
  * ones easiest to silently break (array order, empty-array markers,
  * upsert-by-objectId move-to-tail).
  */
class DocPropertySpec extends SparkSpec {
  import DocPropertySpec._

  /** Deterministic corpus: `n` docs, doc i has (seeded-random 0..4)
    * services — exercises empty arrays, single elements, and order. */
  private def corpus(n: Int, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val plans = (0 until n).map { i =>
      val nSvc = rnd.nextInt(5)
      Plan(
        CostShare(rnd.nextInt(3000).toLong, "example.com", rnd.nextInt(200).toLong,
          s"cs-$i", "membercostshare"),
        (0 until nSvc).map { j =>
          PlanService(
            Service("example.com", s"svc-$i-$j", "service", s"Svc ${rnd.nextInt(10)}"),
            CostShare(rnd.nextInt(100).toLong, "example.com", rnd.nextInt(50).toLong,
              s"pcs-$i-$j", "membercostshare"),
            "example.com", s"ps-$i-$j", "planservice")
        },
        s"org-${rnd.nextInt(5)}.example.com", s"plan-$i", "plan",
        Seq("LOW", "MED", "HIGH")(rnd.nextInt(3)), "12-12-2017")
    }
    import spark.implicits._
    plans.toDF().select(struct(
      col("planCostShares"), col("linkedPlanServices"), col("_org"),
      col("objectId"), col("objectType"), col("planType"), col("creationDate")).as("doc"))
  }

  /** The assembled `(key, doc)` table, the closure source of cascadeDelete. */
  private def assembled(sh: Shredded): DataFrame =
    Assembler.assemble(sh, corpus(1, 0L).schema("doc").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType], "plan")

  private def canon(df: DataFrame): Set[String] = {
    val schema = df.schema("doc").dataType
    df.select(to_json(CanonicalJson.canonicalize(col("doc"), schema)))
      .collect().map(_.getString(0)).toSet
  }

  test("round-trip: assemble(shred(docs)) reproduces every generated doc") {
    for (seed <- 1L to 5L) {
      val docs = corpus(12, seed)
      val sh = Shredder.shred(docs)
      val back = Assembler.assemble(sh, docs.schema("doc").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType], "plan")
      assert(canon(back.select(col("doc"))) === canon(docs), s"seed=$seed")
    }
  }

  test("merge-patch idempotence: merge(doc, doc) == doc") {
    val docs = corpus(15, 42L)
    val schema = docs.schema("doc").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val merged = MergePatch(docs, docs, schema)
    assert(canon(merged) === canon(docs))
  }

  test("cascade-delete closure: deleting all roots empties both tables") {
    val docs = corpus(10, 7L)
    val sh = Shredder.shred(docs)
    val roots = sh.entities.filter(col("type_tag") === "plan").select(col("key"))
    val after = Mutations.cascadeDelete(sh, roots, assembled(sh))
    assert(after.entities.count() === 0)
    assert(after.edges.count() === 0)
  }

  test("cascade-delete closure matches the edge-join reference for random root subsets") {
    val depth = Mutations.depth(PlanSchema.plan)
    def keys(df: DataFrame, c: String): Set[String] =
      df.select(col(c)).collect().map(_.getString(0)).toSet
    for (seed <- 1L to 4L) {
      val sh = Shredder.shred(corpus(10, seed))
      val rnd = new scala.util.Random(seed)
      val rootKeys = keys(sh.entities.filter(col("type_tag") === "plan"), "key").toSeq.sorted
      val picked = rootKeys.filter(_ => rnd.nextInt(3) == 0)
      import spark.implicits._
      val roots = picked.toDF("key")
      val after = Mutations.cascadeDelete(sh, roots, assembled(sh))
      val closure = keys(MutationsReference.reachable(sh, roots, depth), "key")
      val ctx = s"seed=$seed roots=$picked"
      assert(keys(sh.entities, "key") -- keys(after.entities, "key") === closure, ctx)
      val keptEdges = sh.edges.filter(!col("parent_key").isin(closure.toSeq: _*))
      assert(after.edges.exceptAll(keptEdges).isEmpty &&
        keptEdges.exceptAll(after.edges).isEmpty, ctx)
    }
  }

  test("pagination consistency: from/size pages and search_after cursors tile the full sort") {
    // Property: concatenating successive pages — whether addressed by
    // offset (from/size) or by cursor (search_after on the previous
    // page's last sort tuple) — reproduces the full ordered hit list,
    // with no row lost, duplicated, or reordered at page boundaries.
    val docs = corpus(37, seed = 7L)
    val full = docs
      .orderBy(col("doc.planCostShares.copay").desc, col("doc.objectId").asc)
      .select(col("doc.objectId").as("id"), col("doc.planCostShares.copay").as("copay"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    def body(extra: String) =
      s"""{"query": {"match_all": {}},
         |"sort": [{"planCostShares.copay": {"order": "desc"}}, {"objectId": "asc"}],
         |$extra
         |"_source": ["objectId", "planCostShares.copay"]}""".stripMargin
    // offset pages of 10
    val byOffset = (0 until 4).flatMap { pg =>
      SearchExec.search(docs, "doc", body(s""""from": ${pg * 10}, "size": 10,"""),
          PlanSchema.plan)
        .collect().map(r => (r.getAs[String]("objectId"), r.getAs[Long]("planCostShares_copay")))
    }
    assert(byOffset === full)
    // cursor pages of 10: search_after = last (copay, objectId) seen
    var cursor: Option[(Long, String)] = None
    val byCursor = scala.collection.mutable.ListBuffer.empty[(String, Long)]
    var go = true
    while (go) {
      val after = cursor.map { case (c, id) => s""""search_after": [$c, "$id"],""" }.getOrElse("")
      val page = SearchExec.search(docs, "doc", body(s"""$after "size": 10,"""),
          PlanSchema.plan)
        .collect().map(r => (r.getAs[String]("objectId"), r.getAs[Long]("planCostShares_copay")))
      byCursor ++= page
      go = page.length == 10
      if (go) cursor = Some((page.last._2, page.last._1))
    }
    assert(byCursor.toSeq === full)
  }

  test("cascade-delete precision: deleting one root leaves the others intact") {
    val docs = corpus(10, 11L)
    val sh = Shredder.shred(docs)
    val one = sh.entities.filter(col("key") === "plan_plan-3").select(col("key"))
    val after = Mutations.cascadeDelete(sh, one, assembled(sh))
    val back = assembled(after)
    val expected = docs.filter(col("doc.objectId") =!= "plan-3")
    assert(canon(back.select(col("doc"))) === canon(expected))
  }
}

object DocPropertySpec {
  case class CostShare(deductible: Long, _org: String, copay: Long,
                       objectId: String, objectType: String)
  case class Service(_org: String, objectId: String, objectType: String, name: String)
  case class PlanService(linkedService: Service, planserviceCostShares: CostShare,
                         _org: String, objectId: String, objectType: String)
  case class Plan(planCostShares: CostShare, linkedPlanServices: Seq[PlanService],
                  _org: String, objectId: String, objectType: String,
                  planType: String, creationDate: String)
}
