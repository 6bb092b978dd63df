package graft.docs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.PlanSchema

/** Document-engine operator registry (SURVEY §2 A + C) — every mutation/read
  * operator and every canonical search query, each DuckDB-oracle-checkable
  * because the corpus (PlanDocs) is derived from the TPC-H tables with
  * integer/string arithmetic only.
  *
  * Shared oracle preamble: `o` = orders surviving the `%113` withholding
  * (PlanDocs), so plans of `c_custkey % 113 = 0` have EMPTY (not absent)
  * service arrays.
  */
object DocQueries {

  type Q = (SparkSession, String) => DataFrame

  private val schema: StructType = PlanSchema.plan
  private val mdepth: Int = Mutations.depth(schema)

  private val O = "(SELECT * FROM orders WHERE o_custkey % 113 <> 0)"
  private def ck(c: String) = s"CAST($c AS VARCHAR)"

  /** Shared corpora (docs → shredded → assembled): standing parquet tables
    * ([[graft.Standing]]) over the customer/orders fixture, not executor
    * cache: every registry query starts from these tables, the
    * shred/assemble plan references its input once per schema node (≈10×),
    * and a MEMORY_AND_DISK persist demonstrably falls out of cache under
    * the dedup queries' memory pressure (d16 was 60 s over "cached" data in
    * round 2). Writing once and re-reading parquet is the literal cluster
    * architecture — "write the shredded tables once, read them everywhere"
    * — and gives every consumer real scans with pushdown + pruning. */
  private def corpus[T <: AnyRef](s: SparkSession, d: String, tag: String)(build: => T): T =
    graft.Standing(s, tag, graft.Standing.corpus(s, d, "customer", "orders"))(build)

  private def docs(s: SparkSession, d: String): DataFrame =
    corpus(s, d, "docs")(graft.Standing.write(s, "docs")(PlanDocs.docs(s, d)))

  private def shredded(s: SparkSession, d: String): Shredded =
    corpus(s, d, "shredded") {
      val sh = Shredder.shred(docs(s, d))
      Shredded(graft.Standing.write(s, "entities")(sh.entities),
        graft.Standing.write(s, "edges")(sh.edges))
    }

  private def assembled(s: SparkSession, d: String): DataFrame =
    corpus(s, d, "assembled")(
      graft.Standing.write(s, "assembled")(Assembler.assemble(shredded(s, d), schema, "plan")))

  /** A standing table over the customer fixture (the planted geo/ip/shape
    * corpora). */
  private def customerTable(s: SparkSession, d: String, tag: String)(df: => DataFrame) =
    graft.Standing.table(s, tag, graft.Standing.corpus(s, d, "customer"))(df)

  /** Materialize the shared corpora up front (Verify/Bench call this once
    * before fanning out queries). */
  def warm(s: SparkSession, d: String): Unit = { assembled(s, d); () }

  // ---------------------------------------------------------------- d1
  /** M2 shred — entity rows: key = `{tag}_{objectId}` with the reference's
    * field-name-vs-objectType tagging (`PlanService.java:36,55`). */
  private def d1(s: SparkSession, d: String): DataFrame =
    shredded(s, d).entities.select(col("key"), col("type_tag"))
      .orderBy(col("key"), col("type_tag"))

  private val d1Sql =
    s"""WITH o AS $O
       |SELECT 'plan_plan-' || ${ck("c_custkey")} AS key, 'plan' AS type_tag FROM customer
       |UNION ALL SELECT 'planCostShares_cs-' || ${ck("c_custkey")}, 'planCostShares' FROM customer
       |UNION ALL SELECT 'planservice_ps-' || ${ck("o_orderkey")}, 'planservice' FROM o
       |UNION ALL SELECT 'linkedService_svc-' || ${ck("o_orderkey")}, 'linkedService' FROM o
       |UNION ALL SELECT 'planserviceCostShares_pcs-' || ${ck("o_orderkey")}, 'planserviceCostShares' FROM o
       |ORDER BY key, type_tag""".stripMargin

  // ---------------------------------------------------------------- d2
  /** M2 shred — edge rows incl. array ordinals and empty-array markers. */
  private def d2(s: SparkSession, d: String): DataFrame =
    shredded(s, d).edges
      .orderBy(col("parent_key"), col("field"), col("ord"), col("child_key"))

  private val d2Sql =
    s"""WITH o AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) - 1 AS INTEGER) AS ord
       |           FROM orders WHERE o_custkey % 113 <> 0)
       |SELECT 'plan_plan-' || ${ck("c_custkey")} AS parent_key, 'planCostShares' AS field,
       |       CAST(NULL AS INTEGER) AS ord, 'planCostShares_cs-' || ${ck("c_custkey")} AS child_key FROM customer
       |UNION ALL SELECT 'plan_plan-' || ${ck("o_custkey")}, 'linkedPlanServices', ord,
       |       'planservice_ps-' || ${ck("o_orderkey")} FROM o
       |-- empty-array marker: the %113 carve-out AND customers with no
       |-- orders at all (first occurs at sf0.1 — custkey 5000 draws zero
       |-- orders; the engine marks ANY empty array, whatever emptied it)
       |UNION ALL SELECT 'plan_plan-' || ${ck("c_custkey")}, 'linkedPlanServices',
       |       CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR) FROM customer
       |       WHERE c_custkey % 113 = 0
       |          OR NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
       |UNION ALL SELECT 'planservice_ps-' || ${ck("o_orderkey")}, 'linkedService',
       |       CAST(NULL AS INTEGER), 'linkedService_svc-' || ${ck("o_orderkey")} FROM o
       |UNION ALL SELECT 'planservice_ps-' || ${ck("o_orderkey")}, 'planserviceCostShares',
       |       CAST(NULL AS INTEGER), 'planserviceCostShares_pcs-' || ${ck("o_orderkey")} FROM o
       |ORDER BY parent_key, field, ord, child_key""".stripMargin

  // ---------------------------------------------------------------- d3
  /** M3 round-trip — assemble(shred(docs)) flattened; locks array order
    * (first/last element) and struct rebuild. */
  private def d3(s: SparkSession, d: String): DataFrame =
    assembled(s, d).select(
      col("doc.objectId").as("object_id"),
      col("doc.planType").as("plan_type"),
      col("doc._org").as("org"),
      col("doc.creationDate").as("creation_date"),
      col("doc.planCostShares.copay").as("cs_copay"),
      col("doc.planCostShares.deductible").as("cs_deductible"),
      size(col("doc.linkedPlanServices")).as("n_services"),
      // empty arrays (the %113 customers) yield NULL, matching the oracle's
      // LEFT JOIN; element_at would throw on index 1 of an empty array
      when(size(col("doc.linkedPlanServices")) > 0,
        element_at(col("doc.linkedPlanServices"), 1).getField("linkedService").getField("name"))
        .as("first_svc_name"),
      when(size(col("doc.linkedPlanServices")) > 0,
        element_at(col("doc.linkedPlanServices"), -1).getField("planserviceCostShares").getField("deductible"))
        .as("last_ps_deduct"),
      aggregate(col("doc.linkedPlanServices"), lit(0L),
        (acc, x) => acc + x.getField("planserviceCostShares").getField("deductible")).as("sum_ps_deduct"))
      .orderBy(col("object_id"))

  private val d3Sql =
    s"""WITH o AS $O, agg AS (
       |  SELECT o_custkey,
       |    CAST(COUNT(*) AS INTEGER) AS n_services,
       |    min_by('Service ' || o_orderpriority, o_orderkey) AS first_svc_name,
       |    max_by(o_orderkey % 1000, o_orderkey) AS last_ps_deduct,
       |    CAST(SUM(o_orderkey % 1000) AS BIGINT) AS sum_ps_deduct
       |  FROM o GROUP BY o_custkey)
       |SELECT 'plan-' || ${ck("c_custkey")} AS object_id, c_mktsegment AS plan_type,
       |  'org-' || ${ck("c_nationkey")} || '.example.com' AS org, '12-12-2017' AS creation_date,
       |  c_custkey % 50 AS cs_copay, CAST(c_nationkey AS BIGINT) * 100 AS cs_deductible,
       |  COALESCE(n_services, 0) AS n_services, first_svc_name, last_ps_deduct,
       |  COALESCE(sum_ps_deduct, 0) AS sum_ps_deduct
       |FROM customer LEFT JOIN agg ON c_custkey = o_custkey
       |ORDER BY object_id""".stripMargin

  // ---------------------------------------------------------------- d4
  /** M4 point lookup — the reassembly plan filtered to one root key; the
    * pushed-down key predicate makes this a pruned point read at any scale. */
  private def d4(s: SparkSession, d: String): DataFrame = {
    // the key arrives as a literal predicate (not a joined 1-row frame) so
    // it pushes into the entity scan — min/max + dictionary pruning make
    // this a point read at any scale
    val sh = shredded(s, d)
    val one = sh.entities.filter(col("key") === "plan_plan-42").select(col("key"))
    Assembler.assemble(sh, schema, "plan", Some(one)).select(
      col("doc.objectId").as("object_id"),
      col("doc.planType").as("plan_type"),
      size(col("doc.linkedPlanServices")).as("n_services"),
      col("doc.planCostShares.copay").as("cs_copay"))
  }

  private val d4Sql =
    s"""WITH o AS $O
       |SELECT 'plan-' || ${ck("c_custkey")} AS object_id, c_mktsegment AS plan_type,
       |  CAST((SELECT COUNT(*) FROM o WHERE o_custkey = c_custkey) AS INTEGER) AS n_services,
       |  c_custkey % 50 AS cs_copay
       |FROM customer WHERE c_custkey = 42""".stripMargin

  // ---------------------------------------------------------------- d5
  /** M1 validation — inject required-field violations, emit the quarantine
    * (per-row error strings = the batch engine's HTTP 400). */
  private def d5(s: SparkSession, d: String): DataFrame = {
    val broken = docs(s, d).select(struct(
      when(col("doc.objectId").substr(lit(6), lit(99)).cast("long") % 89 === 0,
        struct(
          col("doc.planCostShares.deductible").as("deductible"),
          col("doc.planCostShares._org").as("_org"),
          col("doc.planCostShares.copay").as("copay"),
          lit(null).cast("string").as("objectId"),
          col("doc.planCostShares.objectType").as("objectType")))
        .otherwise(col("doc.planCostShares")).as("planCostShares"),
      col("doc.linkedPlanServices").as("linkedPlanServices"),
      col("doc._org").as("_org"),
      col("doc.objectId").as("objectId"),
      col("doc.objectType").as("objectType"),
      when(col("doc.objectId").substr(lit(6), lit(99)).cast("long") % 97 === 0,
        lit(null).cast("string")).otherwise(col("doc.planType")).as("planType"),
      col("doc.creationDate").as("creationDate")).as("doc"))
    val (_, quarantine) = Validator.validate(broken)
    quarantine.select(col("doc.objectId").as("object_id"),
        explode(col("errors")).as("error"))
      .orderBy(col("object_id"), col("error"))
  }

  private val d5Sql =
    s"""SELECT 'plan-' || ${ck("c_custkey")} AS object_id,
       |       'missing required: planType' AS error
       |FROM customer WHERE c_custkey % 97 = 0
       |UNION ALL
       |SELECT 'plan-' || ${ck("c_custkey")}, 'missing required: planCostShares.objectId'
       |FROM customer WHERE c_custkey % 89 = 0
       |ORDER BY object_id, error""".stripMargin

  // ---------------------------------------------------------------- d6
  /** Q1 match_all — full scan of the search table (`README.md:70-78`). */
  private def d6(s: SparkSession, d: String): DataFrame =
    assembled(s, d).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("doc._org")).as("n_orgs"))

  private val d6Sql =
    """SELECT COUNT(*) AS n_docs, COUNT(DISTINCT c_nationkey) AS n_orgs FROM customer""".stripMargin

  // ---------------------------------------------------------------- d7
  /** Q2 nested match + inner_hits (`README.md:79-95`): docs where SOME
    * planservice has copay 77; project the matching elements. */
  private def d7(s: SparkSession, d: String): DataFrame = {
    val lps = col("doc.linkedPlanServices")
    val pred = (x: Column) =>
      x.getField("planserviceCostShares").getField("copay") === 77
    assembled(s, d)
      .filter(SearchOps.nestedMatch(lps, pred))
      .select(col("doc.objectId").as("object_id"),
        explode(SearchOps.innerHits(lps, pred)).as("hit"))
      .select(col("object_id"), col("hit.objectId").as("hit_ps_id"))
      .orderBy(col("object_id"), col("hit_ps_id"))
  }

  private val d7Sql =
    s"""WITH o AS $O
       |SELECT 'plan-' || ${ck("o_custkey")} AS object_id,
       |       'ps-' || ${ck("o_orderkey")} AS hit_ps_id
       |FROM o WHERE o_custkey % 200 = 77
       |ORDER BY object_id, hit_ps_id""".stripMargin

  // ---------------------------------------------------------------- d8
  /** Q3 top-level wildcard (`README.md:96-108`): glob → LIKE translation. */
  private def d8(s: SparkSession, d: String): DataFrame =
    assembled(s, d)
      .filter(SearchOps.wildcard(col("doc._org"), "org-1*.example.com"))
      .select(col("doc.objectId").as("object_id"), col("doc._org").as("org"))
      .orderBy(col("object_id"))

  private val d8Sql =
    s"""SELECT 'plan-' || ${ck("c_custkey")} AS object_id,
       |       'org-' || ${ck("c_nationkey")} || '.example.com' AS org
       |FROM customer
       |WHERE 'org-' || ${ck("c_nationkey")} || '.example.com' LIKE 'org-1%.example.com'
       |ORDER BY object_id""".stripMargin

  // ---------------------------------------------------------------- d9
  /** Q4 nested wildcard on a keyword field (`README.md:109-127`). */
  private def d9(s: SparkSession, d: String): DataFrame =
    assembled(s, d)
      .filter(SearchOps.nestedMatch(col("doc.linkedPlanServices"),
        x => SearchOps.wildcard(x.getField("linkedService").getField("name"), "Service 1*")))
      .select(col("doc.objectId").as("object_id"))
      .orderBy(col("object_id"))

  private val d9Sql =
    s"""SELECT 'plan-' || ${ck("c_custkey")} AS object_id FROM customer
       |WHERE EXISTS (SELECT 1 FROM $O o WHERE o.o_custkey = c_custkey
       |              AND 'Service ' || o_orderpriority LIKE 'Service 1%')
       |ORDER BY object_id""".stripMargin

  // ---------------------------------------------------------------- d10
  /** Q5 nested numeric range (`README.md:128-147`): copay ∈ [20, 35]. */
  private def d10(s: SparkSession, d: String): DataFrame =
    assembled(s, d)
      .filter(SearchOps.range(col("doc.planCostShares.copay"), 20, 35))
      .select(col("doc.objectId").as("object_id"),
        col("doc.planCostShares.copay").as("copay"))
      .orderBy(col("object_id"))

  private val d10Sql =
    s"""SELECT 'plan-' || ${ck("c_custkey")} AS object_id, c_custkey % 50 AS copay
       |FROM customer WHERE c_custkey % 50 BETWEEN 20 AND 35
       |ORDER BY object_id""".stripMargin

  // ---------------------------------------------------------------- d11
  /** M9 merge-patch — scalar overwrite, same-id struct replace, array
    * upsert-by-objectId (remove match + append, move-to-end), and insert of
    * an unknown objectId. `svc_ids` locks the exact post-merge array order. */
  private def d11(s: SparkSession, d: String): DataFrame = {
    val spark = s
    val stored = assembled(s, d).select(col("doc"))
    val minOrder = graft.Tables(s, d, "orders")
      .filter(col("o_custkey") % 113 =!= 0)
      .groupBy(col("o_custkey")).agg(min(col("o_orderkey")).as("mk"))
    val custs = graft.Tables(s, d, "customer")
      .filter(col("c_custkey") % 3 === 0)
      .join(minOrder, col("c_custkey") === col("o_custkey"), "left")

    val elemType = schema("linkedPlanServices").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
    val patchedExisting: Column = struct(
      struct(lit("example.com").as("_org"),
        concat(lit("svc-"), col("mk").cast("string")).as("objectId"),
        lit("service").as("objectType"),
        lit("Patched Service").as("name")).as("linkedService"),
      struct(lit(1L).as("deductible"), lit("example.com").as("_org"),
        lit(2L).as("copay"),
        concat(lit("pcs-"), col("mk").cast("string")).as("objectId"),
        lit("membercostshare").as("objectType")).as("planserviceCostShares"),
      lit("example.com").as("_org"),
      concat(lit("ps-"), col("mk").cast("string")).as("objectId"),
      lit("planservice").as("objectType"))
    val newElem: Column = struct(
      struct(lit("example.com").as("_org"),
        concat(lit("svc-new-"), col("c_custkey").cast("string")).as("objectId"),
        lit("service").as("objectType"),
        lit("New Service").as("name")).as("linkedService"),
      struct(lit(3L).as("deductible"), lit("example.com").as("_org"),
        lit(4L).as("copay"),
        concat(lit("pcs-new-"), col("c_custkey").cast("string")).as("objectId"),
        lit("membercostshare").as("objectType")).as("planserviceCostShares"),
      lit("example.com").as("_org"),
      concat(lit("ps-new-"), col("c_custkey").cast("string")).as("objectId"),
      lit("planservice").as("objectType"))

    val patches = custs.select(struct(
      struct(col("c_custkey").cast("long").as("deductible"),
        lit("example.com").as("_org"),
        lit(999L).as("copay"),
        concat(lit("cs-"), col("c_custkey").cast("string")).as("objectId"),
        lit("membercostshare").as("objectType")).as("planCostShares"),
      when(col("mk").isNull, array(newElem))
        .otherwise(array(patchedExisting, newElem))
        .cast(elemType).as("linkedPlanServices"),
      lit(null).cast("string").as("_org"),
      concat(lit("plan-"), col("c_custkey").cast("string")).as("objectId"),
      lit("plan").as("objectType"),
      lit("PATCHED").as("planType"),
      lit(null).cast("string").as("creationDate")).as("doc"))
    val insertPatch = spark.range(1).select(struct(
      lit(null).cast(schema("planCostShares").dataType).as("planCostShares"),
      lit(null).cast(elemType).as("linkedPlanServices"),
      lit("example.com").as("_org"),
      lit("plan-x1").as("objectId"),
      lit("plan").as("objectType"),
      lit("INSERTED").as("planType"),
      lit("01-01-2020").as("creationDate")).as("doc"))

    MergePatch(stored, patches.unionByName(insertPatch), schema).select(
      col("doc.objectId").as("object_id"),
      col("doc.planType").as("plan_type"),
      col("doc._org").as("org"),
      col("doc.planCostShares.copay").as("cs_copay"),
      col("doc.planCostShares.deductible").as("cs_deductible"),
      size(col("doc.linkedPlanServices")).as("n_services"),
      when(col("doc.linkedPlanServices").isNull, lit(null).cast("string"))
        .otherwise(concat_ws(",", transform(col("doc.linkedPlanServices"),
          x => x.getField("objectId")))).as("svc_ids"))
      .orderBy(col("object_id"))
  }

  private val d11Sql =
    s"""WITH o AS $O,
       |m AS (SELECT o_custkey, MIN(o_orderkey) AS mk FROM o GROUP BY o_custkey),
       |kept AS (SELECT o.o_custkey AS ck,
       |  string_agg('ps-' || ${ck("o_orderkey")}, ',' ORDER BY o_orderkey) AS agg
       |  FROM o JOIN m ON o.o_custkey = m.o_custkey WHERE o_orderkey > mk GROUP BY o.o_custkey),
       |allsvc AS (SELECT o_custkey AS ck,
       |  string_agg('ps-' || ${ck("o_orderkey")}, ',' ORDER BY o_orderkey) AS agg,
       |  CAST(COUNT(*) AS INTEGER) AS n FROM o GROUP BY o_custkey)
       |SELECT 'plan-' || ${ck("c_custkey")} AS object_id,
       |  CASE WHEN c_custkey % 3 = 0 THEN 'PATCHED' ELSE c_mktsegment END AS plan_type,
       |  'org-' || ${ck("c_nationkey")} || '.example.com' AS org,
       |  CASE WHEN c_custkey % 3 = 0 THEN 999 ELSE c_custkey % 50 END AS cs_copay,
       |  CASE WHEN c_custkey % 3 = 0 THEN c_custkey ELSE CAST(c_nationkey AS BIGINT) * 100 END AS cs_deductible,
       |  CASE WHEN c_custkey % 3 = 0 THEN
       |    COALESCE((SELECT n FROM allsvc WHERE ck = c_custkey), 0)
       |      + CASE WHEN (SELECT mk FROM m WHERE o_custkey = c_custkey) IS NULL THEN 1 ELSE 1 END
       |  ELSE COALESCE((SELECT n FROM allsvc WHERE ck = c_custkey), 0) END AS n_services,
       |  CASE WHEN c_custkey % 3 = 0 THEN
       |    CASE WHEN (SELECT mk FROM m WHERE o_custkey = c_custkey) IS NULL
       |      THEN 'ps-new-' || ${ck("c_custkey")}
       |      ELSE COALESCE((SELECT agg FROM kept WHERE ck = c_custkey) || ',', '')
       |        || 'ps-' || CAST((SELECT mk FROM m WHERE o_custkey = c_custkey) AS VARCHAR)
       |        || ',ps-new-' || ${ck("c_custkey")} END
       |  ELSE COALESCE((SELECT agg FROM allsvc WHERE ck = c_custkey), '') END AS svc_ids
       |FROM customer
       |UNION ALL
       |SELECT 'plan-x1', 'INSERTED', 'example.com', NULL, NULL, NULL, NULL
       |ORDER BY object_id""".stripMargin

  // ---------------------------------------------------------------- d12
  /** M6 cascade delete — closure from the assembled docs + anti-join;
    * remaining entity counts per type tag. */
  private def d12(s: SparkSession, d: String): DataFrame = {
    val sh = shredded(s, d)
    val roots = assembled(s, d)
      .filter(col("doc._org") === "org-3.example.com")
      .select(col("key"))
    Mutations.cascadeDelete(sh, roots, assembled(s, d)).entities
      .groupBy(col("type_tag")).agg(count(lit(1)).as("n"))
      .orderBy(col("type_tag"))
  }

  /** Materialized intermediate for multi-reference consumers: Assembler's
    * recursion references its input Shredded once per schema node (~10×).
    * A lazy `persist()` is NOT enough — until some action materializes the
    * cache, every reference recomputes the whole upstream mutation
    * (reachability expansion with 4 distincts), and under memory pressure
    * the blocks can drop mid-query (d14 measured 217 s vs ~5 s for the same
    * assembly over materialized inputs in r4). Writing to parquet and
    * reading back — the same [[graft.Standing]] boundary the shared
    * corpora use, and the reference's own semantics (replace persists the
    * shredded state, `PlanService.java:202-215`) — gives the assembler
    * real re-scannable tables with pushdown, and leaves nothing pinned in
    * the storage pool. */
  private def materialized(s: SparkSession, tag: String, sh: Shredded): Shredded =
    Shredded(graft.Standing.write(s, s"$tag-entities")(sh.entities),
      graft.Standing.write(s, s"$tag-edges")(sh.edges))

  private val d12Sql =
    s"""WITH o AS $O, keep AS (SELECT * FROM customer WHERE c_nationkey <> 3),
       |ko AS (SELECT o.* FROM o JOIN keep ON o_custkey = c_custkey)
       |SELECT 'linkedService' AS type_tag, COUNT(*) AS n FROM ko
       |UNION ALL SELECT 'plan', COUNT(*) FROM keep
       |UNION ALL SELECT 'planCostShares', COUNT(*) FROM keep
       |UNION ALL SELECT 'planservice', COUNT(*) FROM ko
       |UNION ALL SELECT 'planserviceCostShares', COUNT(*) FROM ko
       |ORDER BY type_tag""".stripMargin

  // ---------------------------------------------------------------- d13
  /** M7 etag — content-hash invariants: every doc distinct, and exactly the
    * touched half changes its etag (the reference's identity-hash ETag can't
    * satisfy either; SURVEY §2 M7). */
  private def d13(s: SparkSession, d: String): DataFrame = {
    val docs = assembled(s, d).select(col("doc"))
    val touched = docs.select(struct(
      col("doc.planCostShares").as("planCostShares"),
      col("doc.linkedPlanServices").as("linkedPlanServices"),
      col("doc._org").as("_org"),
      col("doc.objectId").as("objectId"),
      col("doc.objectType").as("objectType"),
      when(col("doc.objectId").substr(lit(6), lit(99)).cast("long") % 2 === 0,
        lit("TOUCHED")).otherwise(col("doc.planType")).as("planType"),
      col("doc.creationDate").as("creationDate")).as("doc"))
    val a = docs.select(col("doc.objectId").as("id"),
      CanonicalJson.etag(col("doc"), schema).as("etag1"))
    val b = touched.select(col("doc.objectId").as("id"),
      CanonicalJson.etag(col("doc"), schema).as("etag2"))
    a.join(b, "id").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("etag1")).as("n_distinct_etags"),
      sum(when(col("etag1") =!= col("etag2"), 1L).otherwise(0L)).as("n_changed"))
  }

  private val d13Sql =
    """SELECT COUNT(*) AS n_docs, COUNT(*) AS n_distinct_etags,
      |  CAST(SUM(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
      |FROM customer""".stripMargin

  // ---------------------------------------------------------------- d14
  /** M8 replace — delete-then-save of full documents
    * (`PlanService.java:202-215`). */
  private def d14(s: SparkSession, d: String): DataFrame = {
    val sh = shredded(s, d)
    val elemType = schema("linkedPlanServices").dataType
    val replacements = graft.Tables(s, d, "customer")
      .filter(col("c_custkey") % 10 === 0)
      .select(struct(
        struct(lit(0L).as("deductible"), lit("example.com").as("_org"),
          lit(123L).as("copay"),
          concat(lit("cs-"), col("c_custkey").cast("string")).as("objectId"),
          lit("membercostshare").as("objectType")).as("planCostShares"),
        array().cast(elemType).as("linkedPlanServices"),
        lit("replaced.example.com").as("_org"),
        concat(lit("plan-"), col("c_custkey").cast("string")).as("objectId"),
        lit("plan").as("objectType"),
        lit("REPLACED").as("planType"),
        lit("01-01-2021").as("creationDate")).as("doc"))
    val after = materialized(s, "d14",
      Mutations.replace(sh, replacements, assembled(s, d)))
    Assembler.assemble(after, schema, "plan").select(
      col("doc.objectId").as("object_id"),
      col("doc.planType").as("plan_type"),
      size(col("doc.linkedPlanServices")).as("n_services"),
      col("doc.planCostShares.copay").as("cs_copay"))
      .orderBy(col("object_id"))
  }

  private val d14Sql =
    s"""WITH o AS $O
       |SELECT 'plan-' || ${ck("c_custkey")} AS object_id,
       |  CASE WHEN c_custkey % 10 = 0 THEN 'REPLACED' ELSE c_mktsegment END AS plan_type,
       |  CASE WHEN c_custkey % 10 = 0 THEN 0
       |       ELSE CAST((SELECT COUNT(*) FROM o WHERE o_custkey = c_custkey) AS INTEGER) END AS n_services,
       |  CASE WHEN c_custkey % 10 = 0 THEN 123 ELSE c_custkey % 50 END AS cs_copay
       |FROM customer ORDER BY object_id""".stripMargin

  // ---------------------------------------------------------------- d15
  /** P3 mapping inference — infer the document schema from raw JSON (the
    * engine-side equivalent of `IndexingListener.getMappingJSON`,
    * `IndexingListener.java:71-96`; Spark's inference is strictly stronger:
    * it types scalars too). */
  private def d15(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Inference needs a sample, not the corpus: serializing + re-parsing
    // every document scales linearly for a schema that stabilizes after a
    // handful of rows (the reference infers from ONE instance,
    // IndexingListener.java:86). Sampling from the materialized corpus
    // parquet makes the limit a cheap partial scan.
    val jsonDs = docs(s, d).limit(512)
      .select(to_json(col("doc")).as("j")).as[String]
    val inferred = s.read.json(jsonDs).schema
    s.createDataFrame(inferred.fields.toSeq.map(f => (f.name, f.dataType.simpleString)))
      .toDF("field_name", "spark_type")
      .orderBy(col("field_name"))
  }

  private val d15Sql =
    """SELECT * FROM (VALUES
      |  ('_org', 'string'),
      |  ('creationDate', 'string'),
      |  ('linkedPlanServices', 'array<struct<_org:string,linkedService:struct<_org:string,name:string,objectId:string,objectType:string>,objectId:string,objectType:string,planserviceCostShares:struct<_org:string,copay:bigint,deductible:bigint,objectId:string,objectType:string>>>'),
      |  ('objectId', 'string'),
      |  ('objectType', 'string'),
      |  ('planCostShares', 'struct<_org:string,copay:bigint,deductible:bigint,objectId:string,objectType:string>'),
      |  ('planType', 'string')
      |) AS t(field_name, spark_type) ORDER BY field_name""".stripMargin

  // ---------------------------------------------------------------- d16
  /** Search-DSL compiler — a composed AST (bool/wildcard/range/nested, the
    * ES-surface equivalent) compiled by SearchQuery to one predicate:
    * (org-1* AND copay∈[10,19]) OR (some service named `Service 3*`),
    * AND NOT planType term 'building'. */
  private def d16(s: SparkSession, d: String): DataFrame = {
    import SearchQuery._
    val ast: SearchQuery = And(
      Or(
        And(Wildcard(Seq("_org"), "org-1*.example.com"),
          Range(Seq("planCostShares", "copay"), 10, 19)),
        NestedWildcard(Seq("linkedPlanServices"), Seq("linkedService", "name"), "Service 3*")),
      Not(TermMatch(Seq("planType"), "building")))
    assembled(s, d)
      .filter(SearchQuery.compile(ast, col("doc")))
      .select(col("doc.objectId").as("object_id"), col("doc._org").as("org"),
        col("doc.planCostShares.copay").as("copay"), col("doc.planType").as("plan_type"))
      .orderBy(col("object_id"))
  }

  private val d16Sql =
    s"""SELECT 'plan-' || ${ck("c_custkey")} AS object_id,
       |  'org-' || ${ck("c_nationkey")} || '.example.com' AS org,
       |  c_custkey % 50 AS copay, c_mktsegment AS plan_type
       |FROM customer
       |WHERE ((('org-' || ${ck("c_nationkey")} || '.example.com' LIKE 'org-1%.example.com')
       |        AND c_custkey % 50 BETWEEN 10 AND 19)
       |   OR EXISTS (SELECT 1 FROM $O o WHERE o.o_custkey = c_custkey
       |              AND 'Service ' || o_orderpriority LIKE 'Service 3%'))
       |  AND NOT (lower(c_mktsegment) = 'building')
       |ORDER BY object_id""".stripMargin

  // ---------------------------------------------------------------- d17
  /** M7 conditional mutations — the If-Match guard: requests carrying the
    * current content etag are accepted, stale ones rejected with the
    * engine's 412 (`PlanController.java:156-165`). Deterministic split:
    * custkey % 4 == 0 requests carry the live etag, the rest a perturbed
    * one. The oracle checks the exact accept/reject partition. */
  private def d17(s: SparkSession, d: String): DataFrame = {
    val current = assembled(s, d).select(col("key"),
      CanonicalJson.etag(col("doc"), schema).as("etag"))
    val requests = current.select(col("key"),
      when(col("key").substr(lit(11), lit(99)).cast("long") % 4 === 0, col("etag"))
        .otherwise(col("etag") + 1L).as("if_match"))
    val (accepted, rejected) = Mutations.etagGuard(requests, current)
    accepted.select(lit("accepted").as("outcome"), col("key"))
      .unionAll(rejected.select(lit("rejected").as("outcome"), col("key")))
      .groupBy(col("outcome")).agg(count(lit(1)).as("n"))
      .orderBy(col("outcome"))
  }

  private val d17Sql =
    """SELECT 'accepted' AS outcome, COUNT(*) AS n FROM customer WHERE c_custkey % 4 = 0
      |UNION ALL
      |SELECT 'rejected', COUNT(*) FROM customer WHERE c_custkey % 4 <> 0
      |ORDER BY outcome""".stripMargin

  // ---------------------------------------------------------------- d18
  /** M5 prefix scan — the reference discovers a node's outgoing edges with
    * a Redis `KEYS {key}_*` glob over the whole keyspace
    * (`PlanService.java:106`); here the edge table makes it an equi-filter
    * on `parent_key` (pushed to the scan), plus the general glob form as a
    * `startswith` predicate. */
  private def d18(s: SparkSession, d: String): DataFrame =
    shredded(s, d).edges
      .filter(col("parent_key") === "plan_plan-7" ||
        col("parent_key").startsWith("planservice_ps-10"))
      .select(col("parent_key"), col("field"), col("ord"), col("child_key"))
      .orderBy(col("parent_key"), col("field"), col("ord"), col("child_key"))

  private val d18Sql =
    s"""WITH o AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) - 1 AS INTEGER) AS ord
       |           FROM orders WHERE o_custkey % 113 <> 0),
       |edges AS (
       |  SELECT 'plan_plan-' || ${ck("c_custkey")} AS parent_key, 'planCostShares' AS field,
       |         CAST(NULL AS INTEGER) AS ord, 'planCostShares_cs-' || ${ck("c_custkey")} AS child_key FROM customer
       |  UNION ALL SELECT 'plan_plan-' || ${ck("o_custkey")}, 'linkedPlanServices', ord,
       |         'planservice_ps-' || ${ck("o_orderkey")} FROM o
       |  UNION ALL SELECT 'plan_plan-' || ${ck("c_custkey")}, 'linkedPlanServices',
       |         CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR) FROM customer
       |         WHERE c_custkey % 113 = 0
       |            OR NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
       |  UNION ALL SELECT 'planservice_ps-' || ${ck("o_orderkey")}, 'linkedService',
       |         CAST(NULL AS INTEGER), 'linkedService_svc-' || ${ck("o_orderkey")} FROM o
       |  UNION ALL SELECT 'planservice_ps-' || ${ck("o_orderkey")}, 'planserviceCostShares',
       |         CAST(NULL AS INTEGER), 'planserviceCostShares_pcs-' || ${ck("o_orderkey")} FROM o)
       |SELECT parent_key, field, ord, child_key FROM edges
       |WHERE parent_key = 'plan_plan-7' OR starts_with(parent_key, 'planservice_ps-10')
       |ORDER BY parent_key, field, ord, child_key""".stripMargin

  // ---------------------------------------------------------------- d19
  /** M2 sink shape — entity tables written `partitionBy(type_tag)` (SURVEY
    * §2 M2: "write partitionBy(objectType) Parquet") and read back with a
    * partition-pruning filter: the scan lists ONE directory regardless of
    * corpus size. */
  private def d19(s: SparkSession, d: String): DataFrame = {
    val pruned = graft.Standing.write(s, "entities", Seq("type_tag"))(shredded(s, d).entities)
      .filter(col("type_tag") === "planservice")
    val res = pruned.agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("key")).as("n_keys"))
      .select(col("n_rows"), col("n_keys"))
    graft.Eager.pin(res)
  }

  private val d19Sql =
    s"""WITH o AS $O
       |SELECT COUNT(*) AS n_rows, COUNT(DISTINCT 'planservice_ps-' || ${ck("o_orderkey")}) AS n_keys
       |FROM o""".stripMargin

  // ---------------------------------------------------------------- d20
  /** Search pagination — ES-style sort + from/size over search hits with
    * a deterministic total order. The page is `ORDER BY … LIMIT from+size`
    * — a TakeOrderedAndProject bounded heap (per-partition top-25, one
    * driver merge) — and the offset drops inside that ≤25-row page, so
    * the row_number window never sees the corpus (same shape as
    * SearchExec, d35; this used to be a corpus-wide window, the one
    * single-point the round-4 audit flagged). */
  private def d20(s: SparkSession, d: String): DataFrame = {
    val hits = assembled(s, d)
      .filter(SearchOps.range(col("doc.planCostShares.copay"), 10, 40))
      .select(col("doc.objectId").as("object_id"),
        col("doc.planCostShares.copay").as("copay"))
    hits.orderBy(col("copay").desc, col("object_id")).limit(25)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("copay").desc, col("object_id"))))
      .filter(col("rn") > 10)
      .select(col("rn").cast("long").as("rn"), col("object_id"), col("copay"))
      .orderBy(col("rn"))
  }

  private val d20Sql =
    s"""SELECT rn, object_id, copay FROM (
       |  SELECT 'plan-' || ${ck("c_custkey")} AS object_id, c_custkey % 50 AS copay,
       |    ROW_NUMBER() OVER (ORDER BY c_custkey % 50 DESC, 'plan-' || ${ck("c_custkey")}) AS rn
       |  FROM customer WHERE c_custkey % 50 BETWEEN 10 AND 40)
       |WHERE rn > 10 AND rn <= 25 ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d21
  /** Schema-driven generality: shred + reassemble a SECOND document shape
    * (order → customer struct + orderline array) that shares nothing with
    * the plan schema but the objectId/objectType envelope. The shredder
    * and assembler walk the runtime schema (SURVEY §7.4 "dynamic schema...
    * two modes, shared shredder") — no plan-specific code anywhere. */
  private def d21(s: SparkSession, d: String): DataFrame = {
    val o = graft.Tables(s, d, "orders").filter(col("o_orderkey") % 19 === 0)
    val c = graft.Tables(s, d, "customer")
    val l = graft.Tables(s, d, "lineitem")
      .join(o.select(col("o_orderkey").as("ok")), col("l_orderkey") === col("ok"))
      // synthetic lineitem repeats l_linenumber within an order; objectIds
      // must be unique per entity (same id ⇒ same entity under the
      // reference's key-addressed store), so number the lines explicitly
      .withColumn("ln", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("l_orderkey"))
          .orderBy(col("l_linenumber"), col("l_quantity"), col("l_partkey"))))
    val lines = l.select(col("l_orderkey"),
        struct(col("ln").as("k"),
          struct(lit("example.com").as("_org"),
            concat(lit("line-"), col("l_orderkey").cast("string"),
              lit("-"), col("ln").cast("string")).as("objectId"),
            lit("orderline").as("objectType"),
            col("l_quantity").cast("long").as("qty")).as("v")).as("kv"))
      .groupBy(col("l_orderkey"))
      .agg(transform(sort_array(collect_list(col("kv"))), x => x("v")).as("lines"))
    val docs = o.join(c, col("o_custkey") === col("c_custkey"))
      .join(lines, col("o_orderkey") === col("l_orderkey"))
      .select(struct(
        struct(lit("example.com").as("_org"),
          concat(lit("cust-"), col("c_custkey").cast("string")).as("objectId"),
          lit("customer").as("objectType"),
          col("c_name").as("name")).as("customer"),
        col("lines"),
        lit("example.com").as("_org"),
        concat(lit("ord-"), col("o_orderkey").cast("string")).as("objectId"),
        lit("order").as("objectType"),
        col("o_orderstatus").as("status")).as("doc"))
    val orderSchema = docs.schema("doc").dataType.asInstanceOf[StructType]
    val back = Assembler.assemble(Shredder.shred(docs), orderSchema, "order")
    back.select(
      col("doc.objectId").as("object_id"),
      col("doc.status").as("status"),
      col("doc.customer.name").as("cust_name"),
      size(col("doc.lines")).cast("long").as("n_lines"),
      aggregate(col("doc.lines"), lit(0L),
        (acc, x) => acc + x.getField("qty")).as("sum_qty"))
      .orderBy(col("object_id"))
  }

  private val d21Sql =
    """WITH o AS (SELECT * FROM orders WHERE o_orderkey % 19 = 0),
      |agg AS (SELECT l_orderkey, COUNT(*) AS n_lines,
      |          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |        FROM lineitem JOIN o ON l_orderkey = o_orderkey GROUP BY l_orderkey)
      |SELECT 'ord-' || CAST(o_orderkey AS VARCHAR) AS object_id,
      |  o_orderstatus AS status, c_name AS cust_name, n_lines, sum_qty
      |FROM o JOIN customer ON o_custkey = c_custkey
      |  JOIN agg ON agg.l_orderkey = o_orderkey
      |ORDER BY object_id""".stripMargin

  // ---------------------------------------------------------------- d22
  /** Inference-mode ingest (SURVEY §7.4 "dynamic schema ... two modes,
    * shared shredder"): raw JSON strings → inferred schema (P3, no declared
    * StructType anywhere) → parse → the SAME shredder → entity counts per
    * tag. The declared-schema mode (d1/d5) and this mode share every
    * operator downstream of the parse. */
  private def d22(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val raw = docs(s, d).select(to_json(col("doc")).as("j")).persist()
    val inferred = s.read.json(raw.limit(512).as[String]).schema
    // The PARSED frame must be materialized, not just the raw strings:
    // Shredder references its input once per schema subtree (~10×), and an
    // unpersisted from_json would re-parse the whole corpus per branch
    // (348 s at sf0.1 in round 2).
    val parsed = raw.select(from_json(col("j"), inferred).as("doc")).persist()
    val res = Shredder.shred(parsed).entities
      .groupBy(col("type_tag")).agg(count(lit(1)).as("n"))
      .orderBy(col("type_tag"))
    graft.Eager.finish(res, raw, parsed)
  }

  private val d22Sql =
    s"""WITH o AS $O
       |SELECT 'linkedService' AS type_tag, COUNT(*) AS n FROM o
       |UNION ALL SELECT 'plan', COUNT(*) FROM customer
       |UNION ALL SELECT 'planCostShares', COUNT(*) FROM customer
       |UNION ALL SELECT 'planservice', COUNT(*) FROM o
       |UNION ALL SELECT 'planserviceCostShares', COUNT(*) FROM o
       |ORDER BY type_tag""".stripMargin

  // ---------------------------------------------------------------- d23
  /** Q6 analyzed `match` with relevance — the reference's ES `match` form
    * analyzes the field text and ranks by `_score` (`README.md:85-90`).
    * The query "SERVICE 3-medium!" is analyzed (lowercase/strip/stop/stem,
    * graft.ext.TextAnalysis) to [service, 3, medium]; each nested service
    * name is analyzed the same way; a document's score = Σ over its
    * service elements of the number of query terms the element's analyzed
    * name contains (integer — exact in any engine). Docs rank by (score
    * desc, objectId): plans heavy in 3-MEDIUM services surface first.
    * Top-k via ORDER BY + LIMIT (TakeOrderedAndProject). */
  private def d23(s: SparkSession, d: String): DataFrame = {
    import graft.ext.TextAnalysis
    val terms = TextAnalysis.analyzeQuery("SERVICE 3-medium!")
    val score = aggregate(col("doc.linkedPlanServices"), lit(0L), (acc, x) => {
      val an = TextAnalysis.analyze(x.getField("linkedService").getField("name"))
      acc + terms.map(t => when(array_contains(an, t), 1L).otherwise(0L))
        .reduce(_ + _)
    })
    assembled(s, d)
      .select(col("doc.objectId").as("object_id"), score.as("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("object_id"))
      .limit(15)
  }

  private val d23Sql = {
    import graft.ext.TextAnalysis
    val an = TextAnalysis.analyzeSql("'Service ' || o_orderpriority")
    val terms = TextAnalysis.analyzeQuery("SERVICE 3-medium!")
      .map(t => s"CASE WHEN list_contains($an, '$t') THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH o AS $O,
       |hits AS (SELECT o_custkey, CAST(SUM($terms) AS BIGINT) AS score
       |         FROM o GROUP BY o_custkey)
       |SELECT 'plan-' || ${ck("c_custkey")} AS object_id, score
       |FROM customer JOIN hits ON c_custkey = o_custkey
       |WHERE score > 0
       |ORDER BY score DESC, object_id LIMIT 15""".stripMargin
  }

  // ---------------------------------------------------------------- d24
  /** Q5 nested range through the DSL — compiles the `NestedRange` AST node
    * (the one branch of the search DSL round 2 left unexercised): docs
    * where SOME planservice deductible ∈ [100, 250], excluding org-2. */
  private def d24(s: SparkSession, d: String): DataFrame = {
    import SearchQuery._
    val ast: SearchQuery = And(
      NestedRange(Seq("linkedPlanServices"),
        Seq("planserviceCostShares", "deductible"), 100, 250),
      Not(Wildcard(Seq("_org"), "org-2*")))
    assembled(s, d)
      .filter(SearchQuery.compile(ast, col("doc")))
      .select(col("doc.objectId").as("object_id"),
        size(col("doc.linkedPlanServices")).as("n_services"))
      .orderBy(col("object_id"))
  }

  private val d24Sql =
    s"""WITH o AS $O
       |SELECT 'plan-' || ${ck("c_custkey")} AS object_id,
       |  CAST((SELECT COUNT(*) FROM o WHERE o_custkey = c_custkey) AS INTEGER) AS n_services
       |FROM customer
       |WHERE EXISTS (SELECT 1 FROM o WHERE o_custkey = c_custkey
       |              AND o_orderkey % 1000 BETWEEN 100 AND 250)
       |  AND NOT ('org-' || ${ck("c_nationkey")} || '.example.com' LIKE 'org-2%')
       |ORDER BY object_id""".stripMargin

  // ---------------------------------------------------------------- d25
  /** M7 read-side conditional — `If-None-Match` 304 (`PlanController
    * .java:127-131`): a GET carrying the document's current etag is
    * answered 304 Not Modified (no body); a stale etag gets 200 + body.
    * Deterministic split: custkey % 3 == 0 requests carry the live etag.
    * Output proves both the partition and that bodies ship only on 200
    * (body_hashes counts distinct planType payloads returned). */
  private def d25(s: SparkSession, d: String): DataFrame = {
    val current = assembled(s, d).select(col("key"),
      col("doc.planType").as("body"),
      CanonicalJson.etag(col("doc"), schema).as("etag"))
    val requests = current.select(col("key"),
      when(col("key").substr(lit(11), lit(99)).cast("long") % 3 === 0, col("etag"))
        .otherwise(col("etag") + 1L).as("if_none_match"))
    val joined = requests.join(current, Seq("key"))
    val notModified = joined.filter(col("if_none_match") === col("etag"))
      .select(lit("304_not_modified").as("outcome"), col("key"),
        lit(null).cast("string").as("body"))
    val ok = joined.filter(col("if_none_match") =!= col("etag"))
      .select(lit("200_ok").as("outcome"), col("key"), col("body"))
    notModified.unionAll(ok)
      .groupBy(col("outcome"))
      .agg(count(lit(1)).as("n"), countDistinct(col("body")).as("body_kinds"))
      .orderBy(col("outcome"))
  }

  private val d25Sql =
    """SELECT '200_ok' AS outcome, COUNT(*) AS n,
      |       COUNT(DISTINCT c_mktsegment) AS body_kinds
      |FROM customer WHERE c_custkey % 3 <> 0
      |UNION ALL
      |SELECT '304_not_modified', COUNT(*), 0 FROM customer WHERE c_custkey % 3 = 0
      |ORDER BY outcome""".stripMargin

  // ---------------------------------------------------------------- d26
  /** ES/Kibana JSON surface end-to-end — the reference's README query 4
    * form VERBATIM (nested wildcard with `.keyword` + `inner_hits`,
    * `README.md:109-127`), parsed by `SearchQuery.fromJson` against the
    * document schema and compiled to the same pushable predicate as the
    * hand-built AST. A reference user's existing Kibana query bodies run
    * unchanged; only the value is corpus-local (`Service 1*`). */
  private def d26(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "nested": {
        |      "path": "linkedPlanServices.linkedService",
        |      "query": {
        |        "wildcard": {
        |          "linkedPlanServices.linkedService.name.keyword": {
        |            "value": "Service 1*"
        |          }
        |        }
        |      },
        |      "inner_hits": {}
        |    }
        |  }
        |}""".stripMargin
    val ast = SearchQuery.fromJson(body, schema)
    assembled(s, d)
      .filter(SearchQuery.compile(ast, col("doc")))
      .select(col("doc.objectId").as("object_id"))
      .orderBy(col("object_id"))
  }

  private val d26Sql =
    s"""SELECT 'plan-' || ${ck("c_custkey")} AS object_id FROM customer
       |WHERE EXISTS (SELECT 1 FROM $O o WHERE o.o_custkey = c_custkey
       |              AND 'Service ' || o_orderpriority LIKE 'Service 1%')
       |ORDER BY object_id""".stripMargin

  // ---------------------------------------------------------------- d27
  /** ES JSON `inner_hits` end-to-end — the reference's README query 2 form
    * VERBATIM (nested match + `inner_hits`, `README.md:79-95`; only the
    * objectId value is corpus-local): the response carries the matching
    * documents AND the matched nested children re-extracted from the
    * array, the way ES returns them. The children projection is a pure
    * array-filter expression (SearchOps.innerHits) — no join, no extra
    * scan. */
  private def d27(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "nested": {
        |      "path": "linkedPlanServices.linkedService",
        |      "query": {
        |        "match": {
        |          "linkedPlanServices.linkedService.objectId": "svc-7"
        |        }
        |      },
        |      "inner_hits": {}
        |    }
        |  }
        |}""".stripMargin
    val parsed = SearchQuery.parseBody(body, schema)
    val (wp, inner) = parsed.hits.head
    assembled(s, d)
      .filter(SearchQuery.compile(parsed.query, col("doc")))
      .select(col("doc.objectId").as("object_id"),
        explode(SearchQuery.innerHitCol(wp, inner, col("doc"))).as("hit"))
      .select(col("object_id"),
        col("hit.linkedService.objectId").as("hit_svc_id"))
      .orderBy(col("object_id"), col("hit_svc_id"))
  }

  private val d27Sql =
    s"""WITH o AS $O
       |SELECT 'plan-' || ${ck("o_custkey")} AS object_id,
       |       'svc-' || ${ck("o_orderkey")} AS hit_svc_id
       |FROM o WHERE o_orderkey = 7
       |ORDER BY object_id, hit_svc_id""".stripMargin

  // ---------------------------------------------------------------- d28
  /** ES range with EXCLUSIVE bounds (`gt`/`lt` — the first edit a Kibana
    * user makes to the README's `gte`/`lte` body, `README.md:128-147`) plus
    * a bool `filter` clause (non-scoring must — same hit set as `must`,
    * `SearchQuery` compiles both into the conjunction). */
  private def d28(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "bool": {
        |      "filter": [
        |        { "range": { "planCostShares.copay": { "gt": 10, "lt": 20 } } }
        |      ],
        |      "must": [
        |        { "wildcard": { "_org": "org-1*" } }
        |      ]
        |    }
        |  }
        |}""".stripMargin
    val ast = SearchQuery.fromJson(body, schema)
    assembled(s, d)
      .filter(SearchQuery.compile(ast, col("doc")))
      .select(col("doc.objectId").as("object_id"),
        col("doc.planCostShares.copay").as("copay"),
        col("doc._org").as("org"))
      .orderBy(col("object_id"))
  }

  private val d28Sql =
    s"""SELECT 'plan-' || ${ck("c_custkey")} AS object_id,
       |  c_custkey % 50 AS copay,
       |  'org-' || ${ck("c_nationkey")} || '.example.com' AS org
       |FROM customer
       |WHERE c_custkey % 50 > 10 AND c_custkey % 50 < 20
       |  AND 'org-' || ${ck("c_nationkey")} || '.example.com' LIKE 'org-1%'
       |ORDER BY object_id""".stripMargin

  // ---------------------------------------------------------------- d29
  /** ES bool `should` with `minimum_should_match: 2` — N-of-M clause
    * satisfaction, compiled as a sum of boolean casts ≥ N (one linear pass,
    * stays a single pushable predicate; no 2^M disjunction expansion). */
  private def d29(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "bool": {
        |      "should": [
        |        { "wildcard": { "_org": "org-1*" } },
        |        { "range": { "planCostShares.copay": { "gte": 25 } } },
        |        { "match": { "planType": "BUILDING" } }
        |      ],
        |      "minimum_should_match": 2
        |    }
        |  }
        |}""".stripMargin
    val ast = SearchQuery.fromJson(body, schema)
    assembled(s, d)
      .filter(SearchQuery.compile(ast, col("doc")))
      .select(col("doc.objectId").as("object_id"),
        col("doc._org").as("org"),
        col("doc.planCostShares.copay").as("copay"),
        col("doc.planType").as("plan_type"))
      .orderBy(col("object_id"))
  }

  private val d29Sql =
    s"""SELECT 'plan-' || ${ck("c_custkey")} AS object_id,
       |  'org-' || ${ck("c_nationkey")} || '.example.com' AS org,
       |  c_custkey % 50 AS copay, c_mktsegment AS plan_type
       |FROM customer
       |WHERE (CASE WHEN 'org-' || ${ck("c_nationkey")} || '.example.com' LIKE 'org-1%' THEN 1 ELSE 0 END
       |     + CASE WHEN c_custkey % 50 >= 25 THEN 1 ELSE 0 END
       |     + CASE WHEN lower(c_mktsegment) = 'building' THEN 1 ELSE 0 END) >= 2
       |ORDER BY object_id""".stripMargin

  // ---------------------------------------------------------------- d30
  /** ES `bool` INSIDE a `nested` wrapper, with `inner_hits` — the composed
    * form d26/d27 don't reach. Semantics matter here: ES evaluates the
    * inner bool against EACH nested element (one element must satisfy name
    * ∧ deductible-range — not one element per clause), and `inner_hits`
    * returns exactly those elements. SearchQuery.NestedCompound binds both
    * leaves to the same element; the hits projection is the same
    * per-element predicate under `filter()` — pure expressions, no join. */
  private def d30(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "nested": {
        |      "path": "linkedPlanServices",
        |      "query": {
        |        "bool": {
        |          "must": [
        |            { "wildcard": { "linkedPlanServices.linkedService.name.keyword": { "value": "Service 1*" } } },
        |            { "range": { "linkedPlanServices.planserviceCostShares.deductible": { "gte": 100, "lte": 300 } } }
        |          ]
        |        }
        |      },
        |      "inner_hits": {}
        |    }
        |  }
        |}""".stripMargin
    val parsed = SearchQuery.parseBody(body, schema)
    val (wp, inner) = parsed.hits.head
    assembled(s, d)
      .filter(SearchQuery.compile(parsed.query, col("doc")))
      .select(col("doc.objectId").as("object_id"),
        explode(SearchQuery.innerHitCol(wp, inner, col("doc"))).as("hit"))
      .select(col("object_id"),
        col("hit.linkedService.objectId").as("hit_svc_id"),
        col("hit.planserviceCostShares.deductible").as("hit_deductible"))
      .orderBy(col("object_id"), col("hit_svc_id"))
  }

  private val d30Sql =
    s"""WITH o AS $O
       |SELECT 'plan-' || ${ck("o_custkey")} AS object_id,
       |       'svc-' || ${ck("o_orderkey")} AS hit_svc_id,
       |       o_orderkey % 1000 AS hit_deductible
       |FROM o
       |WHERE 'Service ' || o_orderpriority LIKE 'Service 1%'
       |  AND o_orderkey % 1000 BETWEEN 100 AND 300
       |ORDER BY object_id, hit_svc_id""".stripMargin

  // ---------------------------------------------------------------- d31
  /** ES bool `should` as a RANKING signal — with `must` present, should
    * clauses don't filter (msm=0, d16/d29 lock the hit set) but they boost
    * `_score`; users sort by it. Score = satisfied-clause count
    * (SearchQuery.scoreCol — integer, engine-exact; BM25 weighting is not
    * oracle-reproducible). Top-k by (score desc, id) via ORDER BY + LIMIT. */
  private def d31(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "bool": {
        |      "must": [ { "match": { "planType": "BUILDING" } } ],
        |      "should": [
        |        { "range": { "planCostShares.copay": { "gte": 25 } } },
        |        { "wildcard": { "_org": "org-1*" } },
        |        { "nested": {
        |            "path": "linkedPlanServices.linkedService",
        |            "query": { "wildcard": { "linkedPlanServices.linkedService.name.keyword": { "value": "Service 3*" } } } } }
        |      ]
        |    }
        |  }
        |}""".stripMargin
    val parsed = SearchQuery.parseBody(body, schema)
    assembled(s, d)
      .filter(SearchQuery.compile(parsed.query, col("doc")))
      .select(col("doc.objectId").as("object_id"),
        SearchQuery.scoreCol(parsed, col("doc")).as("score"))
      .orderBy(col("score").desc, col("object_id"))
      .limit(20)
  }

  private val d31Sql =
    s"""WITH o AS $O
       |SELECT 'plan-' || ${ck("c_custkey")} AS object_id,
       |  CAST(CASE WHEN c_custkey % 50 >= 25 THEN 1 ELSE 0 END
       |     + CASE WHEN 'org-' || ${ck("c_nationkey")} || '.example.com' LIKE 'org-1%' THEN 1 ELSE 0 END
       |     + CASE WHEN EXISTS (SELECT 1 FROM o WHERE o_custkey = c_custkey
       |                         AND 'Service ' || o_orderpriority LIKE 'Service 3%') THEN 1 ELSE 0 END
       |    AS BIGINT) AS score
       |FROM customer
       |WHERE lower(c_mktsegment) = 'building'
       |ORDER BY score DESC, object_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- d32
  /** ES `terms` — keyword membership, top-level and through an array path.
    * Both compile to `In` predicates (pushdown-eligible); the nested form
    * is ∃element with `name` in the list. */
  private def d32(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "bool": {
        |      "must": [
        |        { "terms": { "planType": ["BUILDING", "MACHINERY"] } },
        |        { "terms": { "linkedPlanServices.linkedService.name.keyword": ["Service 1-URGENT", "Service 5-LOW"] } }
        |      ]
        |    }
        |  }
        |}""".stripMargin
    val ast = SearchQuery.fromJson(body, schema)
    assembled(s, d)
      .filter(SearchQuery.compile(ast, col("doc")))
      .select(col("doc.objectId").as("object_id"),
        col("doc.planType").as("plan_type"))
      .orderBy(col("object_id"))
  }

  private val d32Sql =
    s"""WITH o AS $O
       |SELECT 'plan-' || ${ck("c_custkey")} AS object_id, c_mktsegment AS plan_type
       |FROM customer
       |WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
       |  AND EXISTS (SELECT 1 FROM o WHERE o_custkey = c_custkey
       |              AND 'Service ' || o_orderpriority IN ('Service 1-URGENT', 'Service 5-LOW'))
       |ORDER BY object_id""".stripMargin

  // ---------------------------------------------------------------- d33
  /** ES `exists` under `must_not` — the empty-array subtlety: ES indexes
    * NO value for `[]`, so `exists` on `linkedPlanServices` is false both
    * for the %113 withheld plans AND for customers with no orders at all;
    * `must_not exists` finds exactly the plans with a present-but-empty
    * services array. Plus a literal `prefix` on the keyword `_org`. */
  private def d33(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "bool": {
        |      "must": [ { "prefix": { "_org": { "value": "org-1" } } } ],
        |      "must_not": [ { "exists": { "field": "linkedPlanServices" } } ]
        |    }
        |  }
        |}""".stripMargin
    val ast = SearchQuery.fromJson(body, schema)
    assembled(s, d)
      .filter(SearchQuery.compile(ast, col("doc")))
      .select(col("doc.objectId").as("object_id"),
        col("doc._org").as("org"))
      .orderBy(col("object_id"))
  }

  private val d33Sql =
    s"""SELECT 'plan-' || ${ck("c_custkey")} AS object_id,
       |  'org-' || ${ck("c_nationkey")} || '.example.com' AS org
       |FROM customer
       |WHERE 'org-' || ${ck("c_nationkey")} || '.example.com' LIKE 'org-1%'
       |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
       |                  AND o_custkey % 113 <> 0)
       |ORDER BY object_id""".stripMargin

  // ---------------------------------------------------------------- d34
  /** ES `match_phrase` through an array path (consecutive analyzed tokens:
    * "4-not specified" matches `Service 4-NOT SPECIFIED` but "service
    * specified" would not) composed with a nested `prefix`. The two leaves
    * are NOT under one `nested` wrapper, so — per ES — they may be
    * satisfied by DIFFERENT array elements: each compiles to its own
    * document-level ∃. */
  private def d34(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "bool": {
        |      "must": [
        |        { "match_phrase": { "linkedPlanServices.linkedService.name": "4-not specified" } },
        |        { "prefix": { "linkedPlanServices.linkedService.name.keyword": "Service 2" } }
        |      ]
        |    }
        |  }
        |}""".stripMargin
    val ast = SearchQuery.fromJson(body, schema)
    assembled(s, d)
      .filter(SearchQuery.compile(ast, col("doc")))
      .select(col("doc.objectId").as("object_id"),
        size(col("doc.linkedPlanServices")).as("n_services"))
      .orderBy(col("object_id"))
  }

  private val d34Sql =
    s"""WITH o AS $O
       |SELECT 'plan-' || ${ck("c_custkey")} AS object_id,
       |  (SELECT COUNT(*) FROM o WHERE o_custkey = c_custkey) AS n_services
       |FROM customer
       |WHERE EXISTS (SELECT 1 FROM o WHERE o_custkey = c_custkey
       |        AND ' ' || lower('Service ' || o_orderpriority) || ' ' LIKE '% 4-not specified %')
       |  AND EXISTS (SELECT 1 FROM o WHERE o_custkey = c_custkey
       |        AND 'Service ' || o_orderpriority LIKE 'Service 2%')
       |ORDER BY object_id""".stripMargin

  // ---------------------------------------------------------------- d35
  /** A COMPLETE ES search request executed verbatim — `query` + `sort`
    * (by `_score` then tiebreak) + `from`/`size` pagination + `_source`
    * projection, through [[SearchExec.search]]. The page plans as
    * `TakeOrderedAndProject` (bounded heap of from+size rows), not a
    * global sort or a corpus-wide row_number window — deep pages cost
    * O(page depth), never O(corpus). */
  private def d35(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "bool": {
        |      "must": [ { "range": { "planCostShares.copay": { "gte": 10, "lte": 40 } } } ],
        |      "should": [
        |        { "match": { "planType": "BUILDING" } },
        |        { "wildcard": { "_org": "org-1*" } }
        |      ]
        |    }
        |  },
        |  "sort": [ { "_score": { "order": "desc" } }, { "objectId": { "order": "asc" } } ],
        |  "from": 5,
        |  "size": 15,
        |  "_source": ["objectId", "planType", "planCostShares.copay"]
        |}""".stripMargin
    SearchExec.search(assembled(s, d), "doc", body, schema)
  }

  private val d35Sql =
    s"""SELECT rn, score, "objectId", "planType", "planCostShares_copay" FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, "objectId" ASC) AS rn FROM (
       |    SELECT 'plan-' || ${ck("c_custkey")} AS "objectId", c_mktsegment AS "planType",
       |      c_custkey % 50 AS "planCostShares_copay",
       |      CAST(CASE WHEN lower(c_mktsegment) = 'building' THEN 1 ELSE 0 END
       |         + CASE WHEN 'org-' || ${ck("c_nationkey")} || '.example.com' LIKE 'org-1%' THEN 1 ELSE 0 END
       |        AS BIGINT) AS score
       |    FROM customer WHERE c_custkey % 50 BETWEEN 10 AND 40))
       |WHERE rn > 5 AND rn <= 20 ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d36
  /** ES `terms` bucket agg with metric sub-aggs — the shape behind every
    * Kibana dashboard panel — compiled to ONE hash aggregation (map-side
    * partial combine, one shuffle on the bucket key) + top-N bucket order
    * (doc_count desc, key asc). Exact where ES is approximate: ES merges
    * per-shard top-`shard_size` lists and documents the doc_count error;
    * the groupBy sees every row for a key after the shuffle. */
  private def d36(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "query": { "range": { "planCostShares.copay": { "gte": 5 } } },
        |  "aggs": {
        |    "by_type": {
        |      "terms": { "field": "planType", "size": 3 },
        |      "aggs": {
        |        "avg_copay": { "avg": { "field": "planCostShares.copay" } },
        |        "max_deductible": { "max": { "field": "planCostShares.deductible" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d36Sql =
    s"""SELECT key, doc_count, avg_copay, max_deductible FROM (
       |  SELECT c_mktsegment AS key, CAST(COUNT(*) AS BIGINT) AS doc_count,
       |    AVG(c_custkey % 50) AS avg_copay,
       |    CAST(MAX(c_nationkey * 100) AS BIGINT) AS max_deductible
       |  FROM customer WHERE c_custkey % 50 >= 5
       |  GROUP BY 1)
       |ORDER BY doc_count DESC, key ASC LIMIT 3""".stripMargin

  // ---------------------------------------------------------------- d37
  /** ES `histogram` bucket agg — fixed-interval bins over a numeric doc
    * field (`floor(v/interval)·interval` keys, ES bucket-key order), with
    * `value_count` and `sum` sub-aggs. Same one-shuffle groupBy shape as
    * d36; bin count is bounded by the value domain, never the corpus. */
  private def d37(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "copay_hist": {
        |      "histogram": { "field": "planCostShares.copay", "interval": 10 },
        |      "aggs": {
        |        "n_ids": { "value_count": { "field": "objectId" } },
        |        "sum_deductible": { "sum": { "field": "planCostShares.deductible" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d37Sql =
    s"""SELECT CAST((c_custkey % 50) // 10 * 10 AS BIGINT) AS key,
       |  CAST(COUNT(*) AS BIGINT) AS doc_count,
       |  CAST(COUNT(*) AS BIGINT) AS n_ids,
       |  CAST(SUM(c_nationkey * 100) AS DOUBLE) AS sum_deductible
       |FROM customer
       |GROUP BY 1 ORDER BY key""".stripMargin

  // ---------------------------------------------------------------- d38
  /** ES `nested` agg — the unit of aggregation becomes the array ELEMENT
    * (each nested element is its own doc in ES: `doc_count` counts
    * services, metric fields resolve inside the element). Compiles to
    * explode → one hash aggregation; no join. Here: per-service-name
    * bucket stats across all BUILDING plans. */
  private def d38(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "query": { "match": { "planType": "BUILDING" } },
        |  "aggs": {
        |    "services": {
        |      "nested": { "path": "linkedPlanServices" },
        |      "aggs": {
        |        "by_name": {
        |          "terms": { "field": "linkedPlanServices.linkedService.name.keyword", "size": 5 },
        |          "aggs": {
        |            "avg_copay": { "avg": { "field": "linkedPlanServices.planserviceCostShares.copay" } },
        |            "max_deductible": { "max": { "field": "linkedPlanServices.planserviceCostShares.deductible" } }
        |          }
        |        }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d38Sql =
    s"""WITH o AS $O
       |SELECT key, doc_count, avg_copay, max_deductible FROM (
       |  SELECT 'Service ' || o_orderpriority AS key,
       |    CAST(COUNT(*) AS BIGINT) AS doc_count,
       |    AVG(o_custkey % 200) AS avg_copay,
       |    CAST(MAX(o_orderkey % 1000) AS BIGINT) AS max_deductible
       |  FROM o JOIN customer ON o_custkey = c_custkey
       |  WHERE lower(c_mktsegment) = 'building'
       |  GROUP BY 1)
       |ORDER BY doc_count DESC, key ASC LIMIT 5""".stripMargin

  // ---------------------------------------------------------------- d39
  /** ES `multi_match` — one query string against several fields
    * (best_fields flavor: OR of per-field matches, each following the
    * single-field `match` semantics: tokenized top-level, exact through
    * array paths), composed under a bool with a range. */
  private def d39(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "bool": {
        |      "must": [
        |        { "multi_match": { "query": "BUILDING",
        |            "fields": ["planType", "linkedPlanServices.linkedService.name"] } },
        |        { "range": { "planCostShares.copay": { "gte": 30 } } }
        |      ]
        |    }
        |  }
        |}""".stripMargin
    val ast = SearchQuery.fromJson(body, schema)
    assembled(s, d)
      .filter(SearchQuery.compile(ast, col("doc")))
      .select(col("doc.objectId").as("object_id"),
        col("doc.planType").as("plan_type"),
        col("doc.planCostShares.copay").as("copay"))
      .orderBy(col("object_id"))
  }

  private val d39Sql =
    s"""WITH o AS $O
       |SELECT 'plan-' || ${ck("c_custkey")} AS object_id,
       |  c_mktsegment AS plan_type, c_custkey % 50 AS copay
       |FROM customer
       |WHERE (lower(c_mktsegment) = 'building'
       |   OR EXISTS (SELECT 1 FROM o WHERE o_custkey = c_custkey
       |              AND 'Service ' || o_orderpriority = 'BUILDING'))
       |  AND c_custkey % 50 >= 30
       |ORDER BY object_id""".stripMargin

  // ---------------------------------------------------------------- d40
  /** ES `search_after` — keyset deep pagination, the form ES forces past
    * the 10k from/size window. Compiles to a lexicographic strictly-after
    * predicate on the sort tuple (pushdown-eligible) + a bounded heap of
    * exactly `size` rows: page N costs what page 1 costs, where from/size
    * must heap from+size rows. Same scored query as d35; the cursor is
    * (score=1, objectId="plan-30"). */
  private def d40(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "bool": {
        |      "must": [ { "range": { "planCostShares.copay": { "gte": 10, "lte": 40 } } } ],
        |      "should": [
        |        { "match": { "planType": "BUILDING" } },
        |        { "wildcard": { "_org": "org-1*" } }
        |      ]
        |    }
        |  },
        |  "sort": [ { "_score": { "order": "desc" } }, { "objectId": { "order": "asc" } } ],
        |  "search_after": [1, "plan-30"],
        |  "size": 15,
        |  "_source": ["objectId", "planType", "planCostShares.copay"]
        |}""".stripMargin
    SearchExec.search(assembled(s, d), "doc", body, schema)
  }

  private val d40Sql =
    s"""SELECT ROW_NUMBER() OVER (ORDER BY score DESC, "objectId" ASC) AS rn,
       |       score, "objectId", "planType", "planCostShares_copay" FROM (
       |  SELECT * FROM (
       |    SELECT 'plan-' || ${ck("c_custkey")} AS "objectId", c_mktsegment AS "planType",
       |      c_custkey % 50 AS "planCostShares_copay",
       |      CAST(CASE WHEN lower(c_mktsegment) = 'building' THEN 1 ELSE 0 END
       |         + CASE WHEN 'org-' || ${ck("c_nationkey")} || '.example.com' LIKE 'org-1%' THEN 1 ELSE 0 END
       |        AS BIGINT) AS score
       |    FROM customer WHERE c_custkey % 50 BETWEEN 10 AND 40)
       |  WHERE score < 1 OR (score = 1 AND "objectId" > 'plan-30')
       |  ORDER BY score DESC, "objectId" ASC LIMIT 15)
       |ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d41
  /** Two-level ES bucket aggs — Kibana's "split series": terms(planType,
    * top-3 by parent doc_count) split by histogram(copay, 10), with a
    * metric at the leaf. One hash aggregation on the composite key does
    * all corpus-sized work; parent counts / top-N run as windows over the
    * bucket table (|buckets| rows). Output is the flat leaf rendering:
    * parent key + parent doc_count, child key + leaf doc_count + leaf
    * metrics, in ES bucket order. */
  private def d41(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "by_type": {
        |      "terms": { "field": "planType", "size": 3 },
        |      "aggs": {
        |        "copay_hist": {
        |          "histogram": { "field": "planCostShares.copay", "interval": 10 },
        |          "aggs": {
        |            "avg_deductible": { "avg": { "field": "planCostShares.deductible" } }
        |          }
        |        }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d41Sql =
    s"""WITH leaf AS (
       |  SELECT c_mktsegment AS key,
       |    CAST((c_custkey % 50) // 10 * 10 AS BIGINT) AS key2,
       |    CAST(COUNT(*) AS BIGINT) AS doc_count2,
       |    AVG(c_nationkey * 100) AS avg_deductible
       |  FROM customer GROUP BY 1, 2),
       |par AS (SELECT *,
       |    CAST(SUM(doc_count2) OVER (PARTITION BY key) AS BIGINT) AS doc_count
       |  FROM leaf),
       |rk AS (SELECT *, DENSE_RANK() OVER (ORDER BY doc_count DESC, key) AS prank FROM par)
       |SELECT key, doc_count, key2, doc_count2, avg_deductible
       |FROM rk WHERE prank <= 3
       |ORDER BY doc_count DESC, key, key2""".stripMargin

  // ---------------------------------------------------------------- d42
  /** ES `regexp` (ANCHORED, Lucene-style whole-value match — `^(?:…)$`,
    * not SQL substring rlike) composed with `must_not ids` (the engine's
    * `_id` is the document objectId). The pattern keeps to character
    * classes + literals so any regex engine agrees. */
  private def d42(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "bool": {
        |      "must": [
        |        { "regexp": { "_org": "org-1[0-9]\\.example\\.com" } }
        |      ],
        |      "must_not": [
        |        { "ids": { "values": ["plan-115", "plan-217", "plan-319"] } }
        |      ]
        |    }
        |  }
        |}""".stripMargin
    val ast = SearchQuery.fromJson(body, schema)
    assembled(s, d)
      .filter(SearchQuery.compile(ast, col("doc")))
      .select(col("doc.objectId").as("object_id"),
        col("doc._org").as("org"))
      .orderBy(col("object_id"))
  }

  private val d42Sql =
    s"""SELECT 'plan-' || ${ck("c_custkey")} AS object_id,
       |  'org-' || ${ck("c_nationkey")} || '.example.com' AS org
       |FROM customer
       |WHERE regexp_full_match('org-' || ${ck("c_nationkey")} || '.example.com',
       |        'org-1[0-9]\\.example\\.com')
       |  AND 'plan-' || ${ck("c_custkey")} NOT IN ('plan-115', 'plan-217', 'plan-319')
       |ORDER BY object_id""".stripMargin

  // ---------------------------------------------------------------- d43
  /** ES `fuzzy` — a typo'd unanalyzed term within `fuzziness` edits
    * ("BULDING" → BUILDING at distance 1), composed with a nested fuzzy
    * through the array path ("Service 1-URGENT" with a dropped letter).
    * Levenshtein both sides; Spark's 3-arg form bounds the computation at
    * the threshold. */
  private def d43(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "bool": {
        |      "must": [
        |        { "fuzzy": { "planType": { "value": "BULDING", "fuzziness": 1 } } },
        |        { "fuzzy": { "linkedPlanServices.linkedService.name.keyword": { "value": "Service 1-URGNT", "fuzziness": 2 } } }
        |      ]
        |    }
        |  }
        |}""".stripMargin
    val ast = SearchQuery.fromJson(body, schema)
    assembled(s, d)
      .filter(SearchQuery.compile(ast, col("doc")))
      .select(col("doc.objectId").as("object_id"),
        col("doc.planType").as("plan_type"))
      .orderBy(col("object_id"))
  }

  private val d43Sql =
    s"""WITH o AS $O
       |SELECT 'plan-' || ${ck("c_custkey")} AS object_id, c_mktsegment AS plan_type
       |FROM customer
       |WHERE levenshtein(c_mktsegment, 'BULDING') <= 1
       |  AND EXISTS (SELECT 1 FROM o WHERE o_custkey = c_custkey
       |              AND levenshtein('Service ' || o_orderpriority, 'Service 1-URGNT') <= 2)
       |ORDER BY object_id""".stripMargin

  // ---------------------------------------------------------------- d44
  /** ES date_histogram shape — fixed-interval time buckets (6 h in
    * epoch-micros) over the EVENTS table, demonstrating the aggs executor
    * is corpus-agnostic: any table becomes a "doc" table under one struct
    * wrap. Epoch-scale keys are exactly why Histogram bins use integer
    * floor-division — double division misrounds at bucket boundaries past
    * the 53-bit mantissa. Metrics avoid double SUM (addition order is
    * partition-dependent); count + max are exact in any engine. */
  private def d44(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .select(struct(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value")).as("doc"))
    val evSchema = ev.schema("doc").dataType.asInstanceOf[StructType]
    val body =
      """{
        |  "size": 0,
        |  "query": { "term": { "event_type": "click" } },
        |  "aggs": {
        |    "by_6h": {
        |      "histogram": { "field": "ts_us", "interval": 21600000000 },
        |      "aggs": {
        |        "n_users": { "value_count": { "field": "user_id" } },
        |        "max_value": { "max": { "field": "value" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(ev, "doc", body, evSchema)
  }

  private val d44Sql =
    """WITH e AS (SELECT epoch_us(ts) AS ts_us, user_id, value
      |           FROM events WHERE event_type = 'click')
      |SELECT CAST(ts_us - (ts_us % 21600000000) AS BIGINT) AS key,
      |  CAST(COUNT(*) AS BIGINT) AS doc_count,
      |  CAST(COUNT(user_id) AS BIGINT) AS n_users,
      |  MAX(value) AS max_value
      |FROM e GROUP BY 1 ORDER BY key""".stripMargin

  // ---------------------------------------------------------------- d45
  /** ES scoring wrappers, hit-set honest: `constant_score` (filter
    * verbatim — only scoring changes) around `dis_max` (union — differs
    * from bool/should only in scoring the union by max instead of sum),
    * over a multi-token analyzed `match` ("building machinery" = OR of
    * per-token matches, ES's default operator). */
  private def d45(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "constant_score": {
        |      "filter": {
        |        "dis_max": {
        |          "queries": [
        |            { "match": { "planType": { "query": "building machinery", "operator": "or" } } },
        |            { "prefix": { "_org": "org-2" } }
        |          ]
        |        }
        |      }
        |    }
        |  }
        |}""".stripMargin
    val ast = SearchQuery.fromJson(body, schema)
    assembled(s, d)
      .filter(SearchQuery.compile(ast, col("doc")))
      .select(col("doc.objectId").as("object_id"),
        col("doc.planType").as("plan_type"),
        col("doc._org").as("org"))
      .orderBy(col("object_id"))
  }

  private val d45Sql =
    s"""SELECT 'plan-' || ${ck("c_custkey")} AS object_id,
       |  c_mktsegment AS plan_type,
       |  'org-' || ${ck("c_nationkey")} || '.example.com' AS org
       |FROM customer
       |WHERE lower(c_mktsegment) IN ('building', 'machinery')
       |   OR 'org-' || ${ck("c_nationkey")} || '.example.com' LIKE 'org-2%'
       |ORDER BY object_id""".stripMargin

  // ---------------------------------------------------------------- d46
  /** ES nested sort — order plans by their CHEAPEST service deductible
    * (`mode: min` reduces the array's element values to one sort key, a
    * per-row `transform` + `array_min`, no explode/join), missing values
    * (empty service arrays) last as in ES, objectId tiebreak, first page
    * of 12 through the bounded-heap executor. */
  private def d46(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": { "match_all": {} },
        |  "sort": [
        |    { "linkedPlanServices.planserviceCostShares.deductible": { "order": "asc", "mode": "min" } },
        |    { "objectId": "asc" }
        |  ],
        |  "size": 12,
        |  "_source": ["objectId"]
        |}""".stripMargin
    SearchExec.search(assembled(s, d), "doc", body, schema)
  }

  private val d46Sql =
    s"""WITH o AS $O,
       |m AS (SELECT o_custkey AS ck, MIN(o_orderkey % 1000) AS min_ded FROM o GROUP BY 1),
       |s AS (SELECT 'plan-' || ${ck("c_custkey")} AS "objectId", m.min_ded
       |      FROM customer LEFT JOIN m ON m.ck = c_custkey),
       |page AS (SELECT * FROM s ORDER BY min_ded ASC NULLS LAST, "objectId" ASC LIMIT 12)
       |SELECT ROW_NUMBER() OVER (ORDER BY min_ded ASC NULLS LAST, "objectId" ASC) AS rn,
       |       "objectId"
       |FROM page ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d47
  /** ES `collapse` — one best hit per field value (here: the top-copay
    * plan per planType), chosen by the request's sort order. Compiles to
    * a rank-1 filter that Catalyst plans as WindowGroupLimit — a bounded
    * per-group heap BEFORE the shuffle — so collapsing moves one row per
    * group, never the corpus. */
  private def d47(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": { "range": { "planCostShares.copay": { "gte": 10 } } },
        |  "collapse": { "field": "planType" },
        |  "sort": [
        |    { "planCostShares.copay": { "order": "desc" } },
        |    { "objectId": "asc" }
        |  ],
        |  "size": 10,
        |  "_source": ["objectId", "planType", "planCostShares.copay"]
        |}""".stripMargin
    SearchExec.search(assembled(s, d), "doc", body, schema)
  }

  private val d47Sql =
    s"""SELECT ROW_NUMBER() OVER (ORDER BY "planCostShares_copay" DESC, "objectId") AS rn,
       |       "objectId", "planType", "planCostShares_copay" FROM (
       |  SELECT * FROM (
       |    SELECT 'plan-' || ${ck("c_custkey")} AS "objectId",
       |      c_mktsegment AS "planType", c_custkey % 50 AS "planCostShares_copay",
       |      ROW_NUMBER() OVER (PARTITION BY c_mktsegment
       |        ORDER BY c_custkey % 50 DESC, 'plan-' || ${ck("c_custkey")}) AS cr
       |    FROM customer WHERE c_custkey % 50 >= 10)
       |  WHERE cr = 1
       |  ORDER BY "planCostShares_copay" DESC, "objectId" LIMIT 10)
       |ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d48
  /** ES terms-agg `order` + `min_doc_count` — the Kibana "Top N by
    * metric" panel: buckets ranked by a METRIC SUB-AGG (not doc_count),
    * ties by key, buckets under the doc_count floor pruned BEFORE the
    * top-N. Unknown order targets are rejected at parse (a typo'd metric
    * name silently falling back to doc_count order would return the wrong
    * panel). Same one-shuffle hash-agg plan as d36 — ordering is a
    * |buckets|-row sort after the corpus-sized work. */
  private def d48(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "query": { "range": { "planCostShares.copay": { "gte": 5 } } },
        |  "aggs": {
        |    "by_type": {
        |      "terms": { "field": "planType", "size": 4,
        |                 "order": { "avg_copay": "desc" }, "min_doc_count": 2 },
        |      "aggs": {
        |        "avg_copay": { "avg": { "field": "planCostShares.copay" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d48Sql =
    s"""SELECT key, doc_count, avg_copay FROM (
       |  SELECT c_mktsegment AS key, CAST(COUNT(*) AS BIGINT) AS doc_count,
       |    AVG(c_custkey % 50) AS avg_copay
       |  FROM customer WHERE c_custkey % 50 >= 5
       |  GROUP BY 1 HAVING COUNT(*) >= 2)
       |ORDER BY avg_copay DESC, key ASC LIMIT 4""".stripMargin

  // ---------------------------------------------------------------- d49
  /** ES `cardinality` metric agg — Kibana's "Unique Count", the most-used
    * metric — under a `_key`-ordered terms bucket. EXACT distinct count
    * (ES's is HLL-approximate with documented error; exact is the same
    * upgrade as the exact terms top-N — the engine's HLL sketch itself is
    * q27). Two distinct-counts in one pass plan as a single hash
    * aggregation with expand — still one shuffle. */
  private def d49(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "by_type": {
        |      "terms": { "field": "planType", "size": 10, "order": { "_key": "asc" } },
        |      "aggs": {
        |        "uniq_orgs": { "cardinality": { "field": "_org" } },
        |        "uniq_copays": { "cardinality": { "field": "planCostShares.copay" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d49Sql =
    s"""SELECT c_mktsegment AS key, CAST(COUNT(*) AS BIGINT) AS doc_count,
       |  CAST(COUNT(DISTINCT 'org-' || ${ck("c_nationkey")} || '.example.com') AS BIGINT) AS uniq_orgs,
       |  CAST(COUNT(DISTINCT c_custkey % 50) AS BIGINT) AS uniq_copays
       |FROM customer GROUP BY 1 ORDER BY key ASC LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- d50
  /** ES `query_string` — the Kibana search-bar syntax, compiled by
    * [[QueryString]] into the SAME AST leaves as the JSON DSL (so every
    * clause inherits pushdown). Exercises grouping, AND/OR/NOT
    * precedence, trailing-star prefix, a NOT'd prefix, and a quoted
    * phrase through an array path — mixed into a bool with a range, the
    * way a dashboard pins a time/numeric filter under the search bar. */
  private def d50(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "bool": {
        |      "must": [
        |        { "query_string": { "query": "(planType:BUILDING OR planType:MACHINERY) AND _org:org-1* AND NOT objectId:plan-11* AND linkedPlanServices.linkedService.name:\"Service 1-URGENT\"" } },
        |        { "range": { "planCostShares.copay": { "gte": 5 } } }
        |      ]
        |    }
        |  }
        |}""".stripMargin
    val ast = SearchQuery.fromJson(body, schema)
    assembled(s, d)
      .filter(SearchQuery.compile(ast, col("doc")))
      .select(col("doc.objectId").as("object_id"),
        col("doc.planType").as("plan_type"),
        col("doc._org").as("org"))
      .orderBy(col("object_id"))
  }

  private val d50Sql =
    s"""WITH o AS $O
       |SELECT 'plan-' || ${ck("c_custkey")} AS object_id,
       |  c_mktsegment AS plan_type,
       |  'org-' || ${ck("c_nationkey")} || '.example.com' AS org
       |FROM customer
       |WHERE lower(c_mktsegment) IN ('building', 'machinery')
       |  AND 'org-' || ${ck("c_nationkey")} || '.example.com' LIKE 'org-1%'
       |  AND NOT ('plan-' || ${ck("c_custkey")} LIKE 'plan-11%')
       |  AND EXISTS (SELECT 1 FROM o WHERE o_custkey = c_custkey
       |              AND lower('Service ' || o_orderpriority) = 'service 1-urgent')
       |  AND c_custkey % 50 >= 5
       |ORDER BY object_id""".stripMargin

  // ---------------------------------------------------------------- d51
  /** ES `date_histogram` with `calendar_interval` — Kibana time-series
    * panels' default bucketing. WEEK buckets via `date_trunc` over the
    * events timestamps: ISO weeks start Monday, so the bucket boundaries
    * provably differ from any epoch-anchored fixed 7-day bin (epoch day 0
    * was a Thursday) — this is the calendar arithmetic d44's fixed
    * integer intervals can't express. Session pinned UTC in both mains so
    * truncation matches the oracle's naive timestamps exactly. */
  private def d51(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .select(struct(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value")).as("doc"))
    val evSchema = ev.schema("doc").dataType.asInstanceOf[StructType]
    val body =
      """{
        |  "size": 0,
        |  "query": { "term": { "event_type": "purchase" } },
        |  "aggs": {
        |    "by_week": {
        |      "date_histogram": { "field": "ts", "calendar_interval": "week" },
        |      "aggs": {
        |        "uniq_users": { "cardinality": { "field": "user_id" } },
        |        "max_value": { "max": { "field": "value" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(ev, "doc", body, evSchema)
  }

  private val d51Sql =
    """WITH e AS (SELECT CAST(date_trunc('week', ts) AS DATE) AS key, user_id, value
      |           FROM events WHERE event_type = 'purchase')
      |SELECT key, CAST(COUNT(*) AS BIGINT) AS doc_count,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uniq_users,
      |  MAX(value) AS max_value
      |FROM e GROUP BY 1 ORDER BY key""".stripMargin

  // ---------------------------------------------------------------- d52
  /** ES `filters` bucket agg — one NAMED bucket per predicate (documents
    * land in EVERY matching bucket, zero-doc buckets stay present), each
    * predicate a full DSL query. Compiled as ONE conditional aggregation
    * — `sum(when(pred))` / `avg(when(pred, v))` per bucket — so the plan
    * is a single global partial+final agg with NO groupBy shuffle at all;
    * the buckets unfold from one result row in body order. */
  private def d52(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "cases": {
        |      "filters": {
        |        "filters": {
        |          "building_cheap": { "bool": { "must": [
        |            { "match": { "planType": "BUILDING" } },
        |            { "range": { "planCostShares.copay": { "lt": 10 } } } ] } },
        |          "org1": { "prefix": { "_org": "org-1" } },
        |          "no_services": { "bool": { "must_not": [
        |            { "exists": { "field": "linkedPlanServices" } } ] } }
        |        }
        |      },
        |      "aggs": {
        |        "avg_copay": { "avg": { "field": "planCostShares.copay" } },
        |        "max_deductible": { "max": { "field": "planCostShares.deductible" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d52Sql =
    s"""SELECT 'building_cheap' AS key, CAST(COUNT(*) AS BIGINT) AS doc_count,
       |  AVG(c_custkey % 50) AS avg_copay,
       |  CAST(MAX(c_nationkey * 100) AS BIGINT) AS max_deductible
       |FROM customer WHERE lower(c_mktsegment) = 'building' AND c_custkey % 50 < 10
       |UNION ALL
       |SELECT 'org1', CAST(COUNT(*) AS BIGINT), AVG(c_custkey % 50),
       |  CAST(MAX(c_nationkey * 100) AS BIGINT)
       |FROM customer WHERE 'org-' || ${ck("c_nationkey")} || '.example.com' LIKE 'org-1%'
       |UNION ALL
       |SELECT 'no_services', CAST(COUNT(*) AS BIGINT), AVG(c_custkey % 50),
       |  CAST(MAX(c_nationkey * 100) AS BIGINT)
       |-- empty linkedPlanServices = the %113 carve-out OR a customer that
       |-- drew no orders at all (first occurs at sf0.1 — custkey 5000)
       |FROM customer WHERE c_custkey % 113 = 0
       |   OR NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin

  // ---------------------------------------------------------------- d53
  /** ES `range` bucket agg — `from` INCLUSIVE / `to` EXCLUSIVE (the ES
    * contract), open ends, buckets in body order keyed `from-to`. Same
    * one-pass conditional-aggregation shape as d52 (no groupBy shuffle);
    * overlapping ranges would simply count documents twice, as ES does. */
  private def d53(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "query": { "match": { "planType": "HOUSEHOLD" } },
        |  "aggs": {
        |    "copay_ranges": {
        |      "range": { "field": "planCostShares.copay",
        |                 "ranges": [ { "to": 10 }, { "from": 10, "to": 25 },
        |                             { "from": 25, "to": 40 }, { "from": 40 } ] },
        |      "aggs": {
        |        "n_orgs": { "cardinality": { "field": "_org" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d53Sql = {
    def block(key: String, cond: String) =
      s"""SELECT '$key' AS key, CAST(COUNT(*) AS BIGINT) AS doc_count,
         |  CAST(COUNT(DISTINCT 'org-' || ${ck("c_nationkey")} || '.example.com') AS BIGINT) AS n_orgs
         |FROM customer WHERE lower(c_mktsegment) = 'household' AND $cond""".stripMargin
    Seq(
      block("*-10", "c_custkey % 50 < 10"),
      block("10-25", "c_custkey % 50 >= 10 AND c_custkey % 50 < 25"),
      block("25-40", "c_custkey % 50 >= 25 AND c_custkey % 50 < 40"),
      block("40-*", "c_custkey % 50 >= 40")).mkString("\nUNION ALL\n")
  }

  // ---------------------------------------------------------------- d54
  /** ES default sort — a body with NO `sort` key ranks by `_score` desc
    * (ES's default), objectId-tiebroken for determinism: d35's request
    * minus its sort clause returns the same deterministic ranked page.
    * This is what lets the reference README's bodies (none carry a sort)
    * run VERBATIM through the full-body executor. */
  private def d54(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "bool": {
        |      "must": [ { "range": { "planCostShares.copay": { "gte": 10, "lte": 40 } } } ],
        |      "should": [
        |        { "match": { "planType": "BUILDING" } },
        |        { "wildcard": { "_org": "org-1*" } }
        |      ]
        |    }
        |  },
        |  "size": 12,
        |  "_source": ["objectId", "planType", "planCostShares.copay"]
        |}""".stripMargin
    SearchExec.search(assembled(s, d), "doc", body, schema)
  }

  private val d54Sql =
    s"""SELECT rn, score, "objectId", "planType", "planCostShares_copay" FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, "objectId" ASC) AS rn FROM (
       |    SELECT 'plan-' || ${ck("c_custkey")} AS "objectId", c_mktsegment AS "planType",
       |      c_custkey % 50 AS "planCostShares_copay",
       |      CAST(CASE WHEN lower(c_mktsegment) = 'building' THEN 1 ELSE 0 END
       |         + CASE WHEN 'org-' || ${ck("c_nationkey")} || '.example.com' LIKE 'org-1%' THEN 1 ELSE 0 END
       |        AS BIGINT) AS score
       |    FROM customer WHERE c_custkey % 50 BETWEEN 10 AND 40))
       |WHERE rn <= 12 ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d55
  /** ES `stats` metric agg — Kibana's five-in-one metric (count/min/max/
    * avg/sum), rendered as five `<name>_*` columns from ONE aggregation
    * pass (no extra shuffle vs a single metric). `count` counts VALUES,
    * not documents, per the ES contract. */
  private def d55(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "query": { "match": { "planType": "BUILDING" } },
        |  "aggs": {
        |    "copay_stats": { "stats": { "field": "planCostShares.copay" } },
        |    "ded_stats": { "stats": { "field": "planCostShares.deductible" } }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d55Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS doc_count,
      |  CAST(COUNT(*) AS BIGINT) AS copay_stats_count,
      |  CAST(MIN(c_custkey % 50) AS BIGINT) AS copay_stats_min,
      |  CAST(MAX(c_custkey % 50) AS BIGINT) AS copay_stats_max,
      |  AVG(c_custkey % 50) AS copay_stats_avg,
      |  CAST(SUM(c_custkey % 50) AS DOUBLE) AS copay_stats_sum,
      |  CAST(COUNT(*) AS BIGINT) AS ded_stats_count,
      |  CAST(MIN(c_nationkey * 100) AS BIGINT) AS ded_stats_min,
      |  CAST(MAX(c_nationkey * 100) AS BIGINT) AS ded_stats_max,
      |  AVG(c_nationkey * 100) AS ded_stats_avg,
      |  CAST(SUM(c_nationkey * 100) AS DOUBLE) AS ded_stats_sum
      |FROM customer WHERE lower(c_mktsegment) = 'building'""".stripMargin

  // ---------------------------------------------------------------- d56
  /** ES `percentiles` metric agg under a terms bucket — EXACT
    * linear-interpolated percentiles (ES's TDigest is approximate; the
    * same documented upgrade as the exact terms top-N / cardinality).
    * Percents restricted to binary-exact fractions (25/50/75) so the
    * interpolation arithmetic is IEEE-identical in any engine (the q25
    * device). */
  private def d56(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "by_type": {
        |      "terms": { "field": "planType", "size": 10, "order": { "_key": "asc" } },
        |      "aggs": {
        |        "copay_pct": { "percentiles": { "field": "planCostShares.copay",
        |                                        "percents": [25, 50, 75] } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d56Sql =
    """SELECT c_mktsegment AS key, CAST(COUNT(*) AS BIGINT) AS doc_count,
      |  quantile_cont(CAST(c_custkey % 50 AS BIGINT), 0.25) AS copay_pct_p25,
      |  quantile_cont(CAST(c_custkey % 50 AS BIGINT), 0.5) AS copay_pct_p50,
      |  quantile_cont(CAST(c_custkey % 50 AS BIGINT), 0.75) AS copay_pct_p75
      |FROM customer GROUP BY 1 ORDER BY key ASC LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- d57
  /** ES `missing` bucket agg — the bucket of documents with NO indexed
    * value for the field. On the array field `linkedPlanServices` that is
    * null OR EMPTY (ES indexes nothing for `[]` — the d33 `exists`
    * subtlety, inverted), i.e. the %113 withheld plans plus customers
    * with no orders. Metric sub-aggs compute over the missing bucket via
    * the same one-pass conditional aggregation as `filters`. */
  private def d57(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "no_services": {
        |      "missing": { "field": "linkedPlanServices" },
        |      "aggs": {
        |        "avg_copay": { "avg": { "field": "planCostShares.copay" } },
        |        "max_ded": { "max": { "field": "planCostShares.deductible" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d57Sql =
    """SELECT 'missing' AS key, CAST(COUNT(*) AS BIGINT) AS doc_count,
      |  AVG(c_custkey % 50) AS avg_copay,
      |  CAST(MAX(c_nationkey * 100) AS BIGINT) AS max_ded
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                  AND o_custkey % 113 <> 0)""".stripMargin

  // ---------------------------------------------------------------- d58
  /** ES `composite` agg — the ONLY ES agg that can page through ALL
    * buckets (Kibana/exports use it to walk high-cardinality keys): all
    * key tuples in deterministic source order, `size` per page, resumed
    * by the `after` cursor. One hash aggregation + a lexicographic
    * after-filter on the BUCKET table + a bounded top-`size` page — at
    * 100 TB each page is one pass, state-free between pages. */
  private def d58(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "pages": {
        |      "composite": {
        |        "size": 6,
        |        "sources": [
        |          { "plan_type": { "terms": { "field": "planType" } } },
        |          { "copay": { "terms": { "field": "planCostShares.copay" } } }
        |        ],
        |        "after": { "plan_type": "BUILDING", "copay": 30 }
        |      },
        |      "aggs": {
        |        "max_ded": { "max": { "field": "planCostShares.deductible" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d58Sql =
    """SELECT plan_type, copay, doc_count, max_ded FROM (
      |  SELECT c_mktsegment AS plan_type, c_custkey % 50 AS copay,
      |    CAST(COUNT(*) AS BIGINT) AS doc_count,
      |    CAST(MAX(c_nationkey * 100) AS BIGINT) AS max_ded
      |  FROM customer GROUP BY 1, 2)
      |WHERE plan_type > 'BUILDING' OR (plan_type = 'BUILDING' AND copay > 30)
      |ORDER BY plan_type ASC, copay ASC LIMIT 6""".stripMargin

  // ---------------------------------------------------------------- d59
  /** ES pipeline aggs — `cumulative_sum` + `derivative` over a calendar
    * day histogram, then a `bucket_selector` prune: the Kibana TSVB
    * shapes. Pipelines are a second pass over the |buckets|-row table
    * (windows in key order / filters), NEVER the corpus; declaration
    * order matters (cum/deriv see the FULL series, the selector prunes
    * afterwards). Targets are integer (`_count`) so the running sum is
    * exact in any engine. */
  private def d59(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .select(struct(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value")).as("doc"))
    val evSchema = ev.schema("doc").dataType.asInstanceOf[StructType]
    val body =
      """{
        |  "size": 0,
        |  "query": { "term": { "event_type": "view" } },
        |  "aggs": {
        |    "by_day": {
        |      "date_histogram": { "field": "ts", "calendar_interval": "day" },
        |      "aggs": {
        |        "peak": { "max": { "field": "value" } },
        |        "cum_events": { "cumulative_sum": { "buckets_path": "_count" } },
        |        "delta": { "derivative": { "buckets_path": "_count" } },
        |        "busy": { "bucket_selector": { "buckets_path": { "n": "_count" },
        |                                       "script": "params.n > 60" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(ev, "doc", body, evSchema)
  }

  private val d59Sql =
    """WITH b AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS key,
      |    CAST(COUNT(*) AS BIGINT) AS doc_count, MAX(value) AS peak
      |  FROM events WHERE event_type = 'view' GROUP BY 1),
      |p AS (
      |  SELECT *,
      |    CAST(SUM(doc_count) OVER (ORDER BY key ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_events,
      |    doc_count - LAG(doc_count) OVER (ORDER BY key ASC) AS delta
      |  FROM b)
      |SELECT key, doc_count, peak, cum_events, delta
      |FROM p WHERE doc_count > 60 ORDER BY key ASC""".stripMargin

  // ---------------------------------------------------------------- d60
  /** ES `top_hits` sub-agg — the top documents of EACH bucket (the Kibana
    * "latest per group" panel), one row per (bucket, hit). Scale shape:
    * bucket selection on the aggregated table (broadcast back), then ONE
    * window partitioned by key ranks hits (WindowGroupLimit) — no
    * corpus-global ordering. The explicit sort is tie-broken by the
    * `_source` columns (objectId is unique → total order). */
  private def d60(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "by_type": {
        |      "terms": { "field": "planType", "size": 5, "order": { "_key": "asc" } },
        |      "aggs": {
        |        "top": { "top_hits": { "size": 2,
        |                               "sort": [ { "planCostShares.copay": "desc" } ],
        |                               "_source": ["objectId", "planCostShares.copay"] } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d60Sql =
    s"""SELECT key, doc_count, rank, "objectId", "planCostShares_copay" FROM (
       |  SELECT c_mktsegment AS key,
       |    CAST(COUNT(*) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS doc_count,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
       |      ORDER BY c_custkey % 50 DESC, 'plan-' || ${ck("c_custkey")} ASC) AS BIGINT) AS rank,
       |    'plan-' || ${ck("c_custkey")} AS "objectId",
       |    c_custkey % 50 AS "planCostShares_copay"
       |  FROM customer)
       |WHERE rank <= 2 ORDER BY key ASC, rank ASC""".stripMargin

  // ---------------------------------------------------------------- d61
  /** ES `significant_terms` — terms over-represented in the query's hit
    * set (foreground) vs the WHOLE corpus, JLH-scored
    * (`(fgPct-bgPct)*(fgPct/bgPct)`). The aggregation runs UNFILTERED
    * with a conditional foreground count (one corpus shuffle); totals are
    * a global window over the |terms|-row bucket table. The score is a
    * fixed sequence of IEEE double ops over exact integers — bit-identical
    * in any engine. */
  private def d61(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "query": { "range": { "planCostShares.copay": { "gte": 25 } } },
        |  "aggs": {
        |    "hot_types": { "significant_terms": { "field": "planType", "size": 3 } }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d61Sql =
    """WITH g AS (
      |  SELECT c_mktsegment AS key,
      |    CAST(SUM(CASE WHEN c_custkey % 50 >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS doc_count,
      |    CAST(COUNT(*) AS BIGINT) AS bg_count
      |  FROM customer GROUP BY 1),
      |t AS (
      |  SELECT *, CAST(SUM(doc_count) OVER () AS BIGINT) AS ft,
      |    CAST(SUM(bg_count) OVER () AS BIGINT) AS bt
      |  FROM g)
      |SELECT key, doc_count, bg_count,
      |  (CAST(doc_count AS DOUBLE) / ft - CAST(bg_count AS DOUBLE) / bt)
      |    * ((CAST(doc_count AS DOUBLE) / ft) / (CAST(bg_count AS DOUBLE) / bt)) AS score
      |FROM t WHERE doc_count > 0 ORDER BY score DESC, key ASC LIMIT 3""".stripMargin

  // ---------------------------------------------------------------- d62
  /** ES `min_doc_count: 0` — ZERO-FILLED date_histogram buckets: Kibana
    * time-series panels rely on gap filling, and the derivative computed
    * here is only correct BECAUSE the empty days exist as zero buckets (a
    * gappy series would difference across the gap). The bucket table is
    * left-joined onto the full `sequence(min, max, 1 day)` key range; the
    * two references to the aggregation collapse to one corpus pass via
    * ReuseExchange (plan-audited). */
  private def d62(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .select(struct(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value")).as("doc"))
    val evSchema = ev.schema("doc").dataType.asInstanceOf[StructType]
    val body =
      """{
        |  "size": 0,
        |  "query": { "bool": { "must": [
        |    { "term": { "event_type": "purchase" } },
        |    { "range": { "user_id": { "lte": 3 } } } ] } },
        |  "aggs": {
        |    "by_day": {
        |      "date_histogram": { "field": "ts", "calendar_interval": "day",
        |                          "min_doc_count": 0 },
        |      "aggs": {
        |        "peak": { "max": { "field": "value" } },
        |        "delta": { "derivative": { "buckets_path": "_count" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(ev, "doc", body, evSchema)
  }

  private val d62Sql =
    """WITH b AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS key,
      |    CAST(COUNT(*) AS BIGINT) AS doc_count, MAX(value) AS peak
      |  FROM events WHERE event_type = 'purchase' AND user_id <= 3 GROUP BY 1),
      |r AS (
      |  SELECT CAST(unnest(generate_series(
      |    (SELECT MIN(key) FROM b), (SELECT MAX(key) FROM b), INTERVAL 1 DAY)) AS DATE) AS key),
      |f AS (
      |  SELECT r.key, COALESCE(b.doc_count, 0) AS doc_count, b.peak
      |  FROM r LEFT JOIN b ON r.key = b.key)
      |SELECT key, doc_count, peak,
      |  doc_count - LAG(doc_count) OVER (ORDER BY key ASC) AS delta
      |FROM f ORDER BY key ASC""".stripMargin

  // ---------------------------------------------------------------- d63
  /** ES `global` agg — escapes the query context: the body carries a
    * query (which scopes the HITS), but the global agg's metrics
    * aggregate the WHOLE corpus. The Kibana "percent of total"
    * denominator. One unfiltered aggregation; the relational rendering
    * returns the aggs row (hits are a separate projection, as
    * everywhere). */
  private def d63(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "query": { "match": { "planType": "BUILDING" } },
        |  "aggs": {
        |    "all_docs": {
        |      "global": {},
        |      "aggs": {
        |        "avg_copay_total": { "avg": { "field": "planCostShares.copay" } },
        |        "n_orgs_total": { "cardinality": { "field": "_org" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d63Sql =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS doc_count,
       |  AVG(c_custkey % 50) AS avg_copay_total,
       |  CAST(COUNT(DISTINCT 'org-' || ${ck("c_nationkey")} || '.example.com') AS BIGINT) AS n_orgs_total
       |FROM customer""".stripMargin

  // ---------------------------------------------------------------- d64
  /** ES `weighted_avg` metric — `sum(value·weight) / sum(weight)` per
    * bucket. Over integer fields both sums are exact, so the single
    * double division is IEEE-identical in any engine. */
  private def d64(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "by_type": {
        |      "terms": { "field": "planType", "size": 10, "order": { "_key": "asc" } },
        |      "aggs": {
        |        "w_copay": { "weighted_avg": { "value": { "field": "planCostShares.copay" },
        |                                       "weight": { "field": "planCostShares.deductible" } } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d64Sql =
    """SELECT c_mktsegment AS key, CAST(COUNT(*) AS BIGINT) AS doc_count,
      |  CAST(SUM((c_custkey % 50) * (c_nationkey * 100)) AS DOUBLE)
      |    / CAST(SUM(c_nationkey * 100) AS DOUBLE) AS w_copay
      |FROM customer GROUP BY 1 ORDER BY key ASC LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- d65
  /** ES `adjacency_matrix` — named filters plus every pairwise
    * intersection (`a&b`), still ONE conditional aggregation pass over
    * the corpus (the bucket count is quadratic in the FILTER count, not
    * the data); doc_count-0 buckets are omitted, as in ES. */
  private def d65(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "interactions": {
        |      "adjacency_matrix": {
        |        "filters": {
        |          "building": { "match": { "planType": "BUILDING" } },
        |          "org1": { "prefix": { "_org": "org-1" } },
        |          "cheap": { "range": { "planCostShares.copay": { "lt": 10 } } }
        |        }
        |      },
        |      "aggs": { "avg_copay": { "avg": { "field": "planCostShares.copay" } } }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema).orderBy(col("key"))
  }

  private val d65Sql = {
    val building = "lower(c_mktsegment) = 'building'"
    val org1 = s"'org-' || ${ck("c_nationkey")} || '.example.com' LIKE 'org-1%'"
    val cheap = "c_custkey % 50 < 10"
    def block(key: String, cond: String) =
      s"""SELECT '$key' AS key, CAST(COUNT(*) AS BIGINT) AS doc_count,
         |  AVG(c_custkey % 50) AS avg_copay FROM customer WHERE $cond""".stripMargin
    s"""SELECT * FROM (
       |${Seq(
          block("building", building), block("org1", org1), block("cheap", cheap),
          block("building&org1", s"$building AND $org1"),
          block("building&cheap", s"$building AND $cheap"),
          block("org1&cheap", s"$org1 AND $cheap")).mkString("\nUNION ALL\n")})
       |WHERE doc_count > 0 ORDER BY key""".stripMargin
  }

  // ---------------------------------------------------------------- d66
  /** ES `rare_terms` — the long-tail inverse of terms top-N: buckets at
    * or below `max_doc_count`, count-ascending. ES's implementation is
    * approximate (CuckooFilter false positives); this one is exact, the
    * same documented upgrade as the exact terms/cardinality. */
  private def d66(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "rare_copays": {
        |      "rare_terms": { "field": "planCostShares.copay", "max_doc_count": 30 },
        |      "aggs": { "n_orgs": { "cardinality": { "field": "_org" } } }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d66Sql =
    s"""SELECT c_custkey % 50 AS key, CAST(COUNT(*) AS BIGINT) AS doc_count,
       |  CAST(COUNT(DISTINCT 'org-' || ${ck("c_nationkey")} || '.example.com') AS BIGINT) AS n_orgs
       |FROM customer GROUP BY 1 HAVING COUNT(*) <= 30
       |ORDER BY doc_count ASC, key ASC""".stripMargin

  // ---------------------------------------------------------------- d67
  /** ES `date_range` bucket agg — from-inclusive/to-exclusive ISO date
    * bounds over a timestamp field (midnight semantics), open ends, one
    * conditional pass like `range`/`filters`. */
  private def d67(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .select(struct(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value")).as("doc"))
    val evSchema = ev.schema("doc").dataType.asInstanceOf[StructType]
    val body =
      """{
        |  "size": 0,
        |  "query": { "term": { "event_type": "signup" } },
        |  "aggs": {
        |    "periods": {
        |      "date_range": { "field": "ts",
        |        "ranges": [ { "to": "2024-01-10" },
        |                    { "from": "2024-01-10", "to": "2024-01-20" },
        |                    { "from": "2024-01-20" } ] },
        |      "aggs": {
        |        "uniq_users": { "cardinality": { "field": "user_id" } },
        |        "max_value": { "max": { "field": "value" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(ev, "doc", body, evSchema)
  }

  private val d67Sql = {
    def block(key: String, cond: String) =
      s"""SELECT '$key' AS key, CAST(COUNT(*) AS BIGINT) AS doc_count,
         |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uniq_users,
         |  MAX(value) AS max_value
         |FROM events WHERE event_type = 'signup' AND $cond""".stripMargin
    Seq(
      block("*-2024-01-10", "ts < DATE '2024-01-10'"),
      block("2024-01-10-2024-01-20", "ts >= DATE '2024-01-10' AND ts < DATE '2024-01-20'"),
      block("2024-01-20-*", "ts >= DATE '2024-01-20'")).mkString("\nUNION ALL\n")
  }

  // ---------------------------------------------------------------- d68
  /** ES term suggester ("did you mean") — corrections for a misspelled
    * token from the CORPUS VOCABULARY within edit distance 2, ranked the
    * ES way: distance first, then document frequency, then the term.
    * Scale shape: the vocabulary is one hash aggregation over the corpus
    * (|vocab| ≪ corpus, like every df table here); the levenshtein scan
    * runs over vocabulary rows only, and the result is a bounded heap.
    * (ES walks an FST instead of scanning — same candidates, different
    * index structure; exactness is identical.) */
  private def d68(s: SparkSession, d: String): DataFrame = {
    val input = "sart"
    graft.Tables(s, d, "documents")
      .select(explode(filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= "")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .withColumn("dist", levenshtein(col("tok"), lit(input)))
      .filter(col("dist") <= 2 && col("tok") =!= input)
      .orderBy(col("dist").asc, col("freq").desc, col("tok").asc)
      .limit(5)
  }

  private val d68Sql =
    """WITH v AS (
      |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM (
      |    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
      |      x -> x <> '')) AS tok
      |    FROM documents) GROUP BY tok)
      |SELECT tok, freq, CAST(levenshtein(tok, 'sart') AS INTEGER) AS dist
      |FROM v WHERE levenshtein(tok, 'sart') <= 2 AND tok <> 'sart'
      |ORDER BY dist ASC, freq DESC, tok ASC LIMIT 5""".stripMargin

  // ---------------------------------------------------------------- d69
  /** ES `moving_fn` (trailing-window smoothing) + `serial_diff`
    * (lag-n differencing) + `bucket_script` (cross-metric arithmetic) —
    * the remaining Kibana TSVB pipeline shapes, over the daily calendar
    * histogram. The moving average is rendered as exact integer
    * window-sum / window-count (no float accumulation), the serial diff
    * is pure integer, and the script ratio is one IEEE division. */
  private def d69(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .select(struct(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value")).as("doc"))
    val evSchema = ev.schema("doc").dataType.asInstanceOf[StructType]
    val body =
      """{
        |  "size": 0,
        |  "query": { "term": { "event_type": "click" } },
        |  "aggs": {
        |    "by_day": {
        |      "date_histogram": { "field": "ts", "calendar_interval": "day" },
        |      "aggs": {
        |        "uniq_users": { "cardinality": { "field": "user_id" } },
        |        "smooth7": { "moving_fn": { "buckets_path": "_count", "window": 7,
        |                                    "script": "MovingFunctions.unweightedAvg(values)" } },
        |        "wow": { "serial_diff": { "buckets_path": "_count", "lag": 7 } },
        |        "per_user": { "bucket_script": {
        |          "buckets_path": { "n": "_count", "u": "uniq_users" },
        |          "script": "params.n / params.u" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(ev, "doc", body, evSchema)
  }

  private val d69Sql =
    """WITH b AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS key,
      |    CAST(COUNT(*) AS BIGINT) AS doc_count,
      |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uniq_users
      |  FROM events WHERE event_type = 'click' GROUP BY 1)
      |SELECT key, doc_count, uniq_users,
      |  CAST(SUM(doc_count) OVER w7 AS DOUBLE) / COUNT(doc_count) OVER w7 AS smooth7,
      |  doc_count - LAG(doc_count, 7) OVER (ORDER BY key ASC) AS wow,
      |  CAST(doc_count AS DOUBLE) / uniq_users AS per_user
      |FROM b
      |WINDOW w7 AS (ORDER BY key ASC ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
      |ORDER BY key ASC""".stripMargin

  // ---------------------------------------------------------------- d70
  /** ES sibling `*_bucket` pipeline aggs — `sum_bucket`/`avg_bucket`/
    * `max_bucket` beside a terms agg: the Kibana "overall average" line.
    * ES renders them beside the bucket list; the relational frame
    * repeats the value per row (a constant window over |buckets| rows —
    * no extra corpus work). */
  private def d70(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "by_type": {
        |      "terms": { "field": "planType", "size": 10, "order": { "_key": "asc" } },
        |      "aggs": {
        |        "copay_sum": { "sum": { "field": "planCostShares.copay" } }
        |      }
        |    },
        |    "total_docs": { "sum_bucket": { "buckets_path": "by_type>_count" } },
        |    "avg_bucket_copay": { "avg_bucket": { "buckets_path": "by_type>copay_sum" } },
        |    "busiest": { "max_bucket": { "buckets_path": "by_type>_count" } }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d70Sql =
    """WITH b AS (
      |  SELECT c_mktsegment AS key, CAST(COUNT(*) AS BIGINT) AS doc_count,
      |    CAST(CAST(SUM(c_custkey % 50) AS BIGINT) AS DOUBLE) AS copay_sum
      |  FROM customer GROUP BY 1)
      |SELECT key, doc_count, copay_sum,
      |  CAST(SUM(doc_count) OVER () AS BIGINT) AS total_docs,
      |  CAST(SUM(copay_sum) OVER () AS DOUBLE) / COUNT(copay_sum) OVER () AS avg_bucket_copay,
      |  MAX(doc_count) OVER () AS busiest
      |FROM b ORDER BY key ASC LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- d71
  /** ES `extended_bounds` — pin the histogram's axis to an explicit range
    * regardless of where the data sits (the Kibana time-picker contract):
    * the grid-snapped bound keys are guaranteed as zero buckets (2-row
    * full-outer join), and the interior fills through the same
    * lead+sequence walk as d62. Here the data occupies January but the
    * panel asks for Dec 29 – Feb 2: 36 buckets, leading/trailing zeros. */
  private def d71(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .select(struct(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value")).as("doc"))
    val evSchema = ev.schema("doc").dataType.asInstanceOf[StructType]
    val body =
      """{
        |  "size": 0,
        |  "query": { "bool": { "must": [
        |    { "term": { "event_type": "purchase" } },
        |    { "range": { "user_id": { "lte": 3 } } } ] } },
        |  "aggs": {
        |    "by_day": {
        |      "date_histogram": { "field": "ts", "calendar_interval": "day",
        |                          "min_doc_count": 0,
        |                          "extended_bounds": { "min": "2023-12-29", "max": "2024-02-02" } },
        |      "aggs": { "peak": { "max": { "field": "value" } } }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(ev, "doc", body, evSchema)
  }

  private val d71Sql =
    """WITH b AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS key,
      |    CAST(COUNT(*) AS BIGINT) AS doc_count, MAX(value) AS peak
      |  FROM events WHERE event_type = 'purchase' AND user_id <= 3 GROUP BY 1),
      |r AS (
      |  SELECT CAST(unnest(generate_series(DATE '2023-12-29', DATE '2024-02-02',
      |    INTERVAL 1 DAY)) AS DATE) AS key)
      |SELECT r.key AS key, COALESCE(b.doc_count, 0) AS doc_count, b.peak
      |FROM r LEFT JOIN b ON r.key = b.key ORDER BY 1 ASC""".stripMargin

  // ---------------------------------------------------------------- d72
  /** ES `percentile_ranks` — the inverse percentile ("what percent of
    * copays sit at or under 10/25/40?"), per terms bucket. EXACT: one
    * integer count ratio per value and a single double multiply/divide
    * (ES's TDigest interpolation is approximate — the same documented
    * upgrade as percentiles/cardinality). */
  private def d72(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "by_type": {
        |      "terms": { "field": "planType", "size": 10, "order": { "_key": "asc" } },
        |      "aggs": {
        |        "copay_at": { "percentile_ranks": { "field": "planCostShares.copay",
        |                                            "values": [10, 25, 40] } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d72Sql = {
    def rank(x: Int) =
      s"CAST(SUM(CASE WHEN c_custkey % 50 <= $x THEN 1 ELSE 0 END) AS DOUBLE) * 100.0 / COUNT(*) AS copay_at_r$x"
    s"""SELECT c_mktsegment AS key, CAST(COUNT(*) AS BIGINT) AS doc_count,
       |  ${rank(10)}, ${rank(25)}, ${rank(40)}
       |FROM customer GROUP BY 1 ORDER BY key ASC LIMIT 10""".stripMargin
  }

  // ---------------------------------------------------------------- d73
  /** ES `multi_terms` — top buckets of a COMPOSITE key (planType × copay
    * band via the _org suffix here: planType × org), doc_count desc. One
    * hash aggregation on the joined key; the rendering is the
    * `|`-joined field values (ES returns a key array). */
  private def d73(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "query": { "range": { "planCostShares.copay": { "gte": 25 } } },
        |  "aggs": {
        |    "by_type_org": {
        |      "multi_terms": { "terms": [ { "field": "planType" }, { "field": "_org" } ],
        |                       "size": 8 },
        |      "aggs": {
        |        "avg_copay": { "avg": { "field": "planCostShares.copay" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d73Sql =
    s"""WITH g AS (
       |  SELECT c_mktsegment AS k1, 'org-' || ${ck("c_nationkey")} || '.example.com' AS k2,
       |    CAST(COUNT(*) AS BIGINT) AS doc_count,
       |    AVG(c_custkey % 50) AS avg_copay
       |  FROM customer WHERE c_custkey % 50 >= 25 GROUP BY 1, 2)
       |SELECT k1 || '|' || k2 AS key, doc_count, avg_copay
       |FROM g ORDER BY doc_count DESC, k1 ASC, k2 ASC LIMIT 8""".stripMargin

  // ---------------------------------------------------------------- d74
  /** THREE-level bucket split — the Kibana data-table "split rows ×2"
    * body: terms(planType) × terms(_org) × histogram(copay), metrics at
    * the leaf. Still ONE corpus hash aggregation (on the full composite
    * key); every per-level count/top-N is a window over the bucket table.
    *
    * The fixture nulls `_org` on every custkey%11 doc to pin the ES
    * parent-count contract: a document with a planType but no _org value
    * still counts in the planType bucket's doc_count (and its
    * doc_count-ordered top-3 selection) — it just appears in no _org
    * child bucket. */
  private def d74(s: SparkSession, d: String): DataFrame = {
    val base = assembled(s, d).select(struct(
      col("doc.planCostShares").as("planCostShares"),
      col("doc.linkedPlanServices").as("linkedPlanServices"),
      when(col("doc.objectId").substr(lit(6), lit(99)).cast("long") % 11 === 0,
        lit(null).cast("string")).otherwise(col("doc._org")).as("_org"),
      col("doc.objectId").as("objectId"),
      col("doc.objectType").as("objectType"),
      col("doc.planType").as("planType"),
      col("doc.creationDate").as("creationDate")).as("doc"))
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "by_type": {
        |      "terms": { "field": "planType", "size": 3 },
        |      "aggs": {
        |        "by_org": {
        |          "terms": { "field": "_org", "size": 4 },
        |          "aggs": {
        |            "copay_hist": {
        |              "histogram": { "field": "planCostShares.copay", "interval": 25 },
        |              "aggs": {
        |                "avg_ded": { "avg": { "field": "planCostShares.deductible" } }
        |              }
        |            }
        |          }
        |        }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(base, "doc", body, schema)
  }

  private val d74Sql =
    s"""WITH base AS (
       |  SELECT c_mktsegment AS key,
       |    CASE WHEN c_custkey % 11 = 0 THEN NULL
       |         ELSE 'org-' || ${ck("c_nationkey")} || '.example.com' END AS key2,
       |    CAST((c_custkey % 50) // 25 * 25 AS BIGINT) AS key3,
       |    c_nationkey * 100 AS ded
       |  FROM customer),
       |leaf AS (SELECT key, key2, key3, CAST(COUNT(*) AS BIGINT) AS doc_count3,
       |    AVG(ded) AS avg_ded FROM base GROUP BY 1, 2, 3),
       |l2 AS (SELECT *,
       |    CAST(SUM(doc_count3) OVER (PARTITION BY key, key2) AS BIGINT) AS doc_count2,
       |    CAST(SUM(doc_count3) OVER (PARTITION BY key) AS BIGINT) AS doc_count
       |  FROM leaf),
       |p AS (SELECT * FROM (SELECT *, DENSE_RANK() OVER (ORDER BY doc_count DESC, key) AS pr
       |      FROM l2) WHERE pr <= 3),
       |c AS (SELECT * FROM (SELECT *, DENSE_RANK() OVER (PARTITION BY key
       |        ORDER BY doc_count2 DESC, key2) AS cr
       |      FROM p WHERE key2 IS NOT NULL) WHERE cr <= 4)
       |SELECT key, doc_count, key2, doc_count2, key3, doc_count3, avg_ded
       |FROM c
       |ORDER BY doc_count DESC, key, doc_count2 DESC, key2, key3""".stripMargin

  // ---------------------------------------------------------------- d75
  /** `composite` with a `date_histogram` FIRST source — THE standard ES
    * bulk-export body: walk every (day, event_type) bucket in key order,
    * one page per request, resumed by the `after` cursor (here an ISO
    * date + a terms value, landing mid-day-27). Same scale shape as d58:
    * one hash aggregation + a lexicographic bucket-table filter + a
    * bounded top-`size` page. */
  private def d75(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .select(struct(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value")).as("doc"))
    val evSchema = ev.schema("doc").dataType.asInstanceOf[StructType]
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "pages": {
        |      "composite": {
        |        "size": 6,
        |        "sources": [
        |          { "day": { "date_histogram": { "field": "ts", "calendar_interval": "day" } } },
        |          { "etype": { "terms": { "field": "event_type" } } }
        |        ],
        |        "after": { "day": "2024-01-27", "etype": "error" }
        |      },
        |      "aggs": {
        |        "max_value": { "max": { "field": "value" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(ev, "doc", body, evSchema)
  }

  private val d75Sql =
    """WITH g AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type AS etype,
      |    CAST(COUNT(*) AS BIGINT) AS doc_count, MAX(value) AS max_value
      |  FROM events GROUP BY 1, 2)
      |SELECT day, etype, doc_count, max_value FROM g
      |WHERE day > DATE '2024-01-27' OR (day = DATE '2024-01-27' AND etype > 'error')
      |ORDER BY day, etype LIMIT 6""".stripMargin

  // ---------------------------------------------------------------- d76
  /** `function_score` — relevance shaping beyond the base ranking: the
    * filter+`weight` function form, matched weights combined by
    * `score_mode: multiply`, folded into the clause-count base by
    * `boost_mode: sum` (so the ranking provably differs from plain
    * clause count: MACHINERY plans jump ahead regardless of their should
    * matches, high-deductible ones are dragged down by the 0.5 weight).
    * Pure per-row expression over the doc column — the page is still one
    * TakeOrderedAndProject, no shuffle added. */
  private def d76(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "function_score": {
        |      "query": {
        |        "bool": {
        |          "filter": [ { "range": { "planCostShares.copay": { "gte": 10 } } } ],
        |          "should": [
        |            { "term": { "planType": "BUILDING" } },
        |            { "prefix": { "_org": { "value": "org-1" } } }
        |          ]
        |        }
        |      },
        |      "functions": [
        |        { "filter": { "term": { "planType": "MACHINERY" } }, "weight": 3 },
        |        { "filter": { "range": { "planCostShares.deductible": { "gte": 1500 } } },
        |          "weight": 0.5 }
        |      ],
        |      "score_mode": "multiply",
        |      "boost_mode": "sum"
        |    }
        |  },
        |  "sort": [ { "_score": { "order": "desc" } }, { "objectId": { "order": "asc" } } ],
        |  "size": 12,
        |  "_source": ["objectId", "planType", "planCostShares.copay"]
        |}""".stripMargin
    SearchExec.search(assembled(s, d), "doc", body, schema)
  }

  private val d76Sql =
    s"""SELECT rn, score, "objectId", "planType", "planCostShares_copay" FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, "objectId" ASC) AS rn FROM (
       |    SELECT 'plan-' || ${ck("c_custkey")} AS "objectId", c_mktsegment AS "planType",
       |      c_custkey % 50 AS "planCostShares_copay",
       |      CASE WHEN c_mktsegment = 'MACHINERY' OR c_nationkey * 100 >= 1500
       |           THEN CAST(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
       |                   + CASE WHEN 'org-' || ${ck("c_nationkey")} || '.example.com' LIKE 'org-1%' THEN 1 ELSE 0 END
       |                   AS DOUBLE)
       |                + (CASE WHEN c_mktsegment = 'MACHINERY' THEN 3.0 ELSE 1.0 END
       |                   * CASE WHEN c_nationkey * 100 >= 1500 THEN 0.5 ELSE 1.0 END)
       |           ELSE CAST(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
       |                   + CASE WHEN 'org-' || ${ck("c_nationkey")} || '.example.com' LIKE 'org-1%' THEN 1 ELSE 0 END
       |                   AS DOUBLE) END AS score
       |    FROM customer WHERE c_custkey % 50 >= 10))
       |WHERE rn <= 12 ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d77
  /** `auto_date_histogram` — Kibana Lens's default time axis: the engine
    * picks the interval for a target bucket count (default 10) from the
    * calendar ladder via a 1-row min/max planning pass, then runs the
    * zero-filled date_histogram. January's 30 days of events at target 10
    * must resolve to WEEK buckets (day = 30 > 10, week = 5 ≤ 10) — the
    * oracle pins both the choice (the constant `interval` column) and the
    * week-truncated buckets. */
  private def d77(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .select(struct(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value")).as("doc"))
    val evSchema = ev.schema("doc").dataType.asInstanceOf[StructType]
    val body =
      """{
        |  "size": 0,
        |  "query": { "term": { "event_type": "view" } },
        |  "aggs": {
        |    "over_time": {
        |      "auto_date_histogram": { "field": "ts" },
        |      "aggs": {
        |        "uniq_users": { "cardinality": { "field": "user_id" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(ev, "doc", body, evSchema)
  }

  private val d77Sql =
    """SELECT CAST(date_trunc('week', ts) AS DATE) AS key,
      |  CAST(COUNT(*) AS BIGINT) AS doc_count,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uniq_users,
      |  'week' AS "interval"
      |FROM events WHERE event_type = 'view'
      |GROUP BY 1 ORDER BY key""".stripMargin

  // ---------------------------------------------------------------- d78
  /** Sibling `stats_bucket` + `percentiles_bucket` — the distribution of
    * a metric ACROSS the bucket list ("how even are my histogram bins"):
    * five-stat fan-out and exact interpolated percentiles over the 5
    * copay bins' doc_counts, rendered as constant columns beside each
    * bucket row (d70's sibling shape). Percents 25/50/75 over n=5 hit
    * exact interpolation points, so DuckDB's quantile_cont is
    * bit-identical. */
  private def d78(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "copay_hist": {
        |      "histogram": { "field": "planCostShares.copay", "interval": 10 },
        |      "aggs": {
        |        "sum_ded": { "sum": { "field": "planCostShares.deductible" } }
        |      }
        |    },
        |    "count_stats": { "stats_bucket": { "buckets_path": "copay_hist>_count" } },
        |    "count_pct": { "percentiles_bucket": { "buckets_path": "copay_hist>_count",
        |                                           "percents": [25, 50, 75] } }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d78Sql =
    """WITH b AS (
      |  SELECT CAST((c_custkey % 50) // 10 * 10 AS BIGINT) AS key,
      |    CAST(COUNT(*) AS BIGINT) AS doc_count,
      |    CAST(CAST(SUM(c_nationkey * 100) AS BIGINT) AS DOUBLE) AS sum_ded
      |  FROM customer GROUP BY 1)
      |SELECT key, doc_count, sum_ded,
      |  COUNT(doc_count) OVER () AS count_stats_count,
      |  MIN(doc_count) OVER () AS count_stats_min,
      |  MAX(doc_count) OVER () AS count_stats_max,
      |  CAST(SUM(doc_count) OVER () AS DOUBLE) / COUNT(doc_count) OVER () AS count_stats_avg,
      |  CAST(SUM(doc_count) OVER () AS DOUBLE) AS count_stats_sum,
      |  quantile_cont(doc_count, 0.25) OVER () AS count_pct_p25,
      |  quantile_cont(doc_count, 0.50) OVER () AS count_pct_p50,
      |  quantile_cont(doc_count, 0.75) OVER () AS count_pct_p75
      |FROM b ORDER BY key""".stripMargin

  // ---------------------------------------------------------------- d81
  /** `boosting` — the other score-shaping wrapper: hits = `positive`
    * (the `negative` query never filters), documents matching `negative`
    * down-weighted by `negative_boost`. Compiles to the same shape as a
    * one-function function_score with multiply/multiply modes. */
  private def d81(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "boosting": {
        |      "positive": {
        |        "bool": {
        |          "should": [
        |            { "prefix": { "_org": { "value": "org-1" } } },
        |            { "range": { "planCostShares.copay": { "gte": 30 } } },
        |            { "term": { "planType": "HOUSEHOLD" } }
        |          ],
        |          "minimum_should_match": 1
        |        }
        |      },
        |      "negative": { "range": { "planCostShares.deductible": { "gte": 2000 } } },
        |      "negative_boost": 0.25
        |    }
        |  },
        |  "sort": [ { "_score": { "order": "desc" } }, { "objectId": { "order": "asc" } } ],
        |  "size": 10,
        |  "_source": ["objectId", "planType"]
        |}""".stripMargin
    SearchExec.search(assembled(s, d), "doc", body, schema)
  }

  private val d81Sql =
    s"""SELECT rn, score, "objectId", "planType" FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, "objectId" ASC) AS rn FROM (
       |    SELECT 'plan-' || ${ck("c_custkey")} AS "objectId", c_mktsegment AS "planType",
       |      CAST(CASE WHEN 'org-' || ${ck("c_nationkey")} || '.example.com' LIKE 'org-1%' THEN 1 ELSE 0 END
       |         + CASE WHEN c_custkey % 50 >= 30 THEN 1 ELSE 0 END
       |         + CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END AS DOUBLE)
       |      * CASE WHEN c_nationkey * 100 >= 2000 THEN 0.25 ELSE 1.0 END AS score
       |    FROM customer
       |    WHERE 'org-' || ${ck("c_nationkey")} || '.example.com' LIKE 'org-1%'
       |       OR c_custkey % 50 >= 30 OR c_mktsegment = 'HOUSEHOLD'))
       |WHERE rn <= 10 ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d79
  /** `reverse_nested` — the nested-context escape hatch: bucket by a
    * SERVICE-level field (unit = array element), then step back to PLAN
    * grain inside each bucket: `plans` counts distinct parent documents
    * with >= 1 matching service, and the metrics aggregate each parent
    * ONCE (a plan with three 'Service 1-URGENT' services contributes one
    * copay, not three). Two bounded hash aggs — (key, parent) then (key)
    * — never a corpus-side distinct. */
  private def d79(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "query": { "term": { "planType": "HOUSEHOLD" } },
        |  "aggs": {
        |    "services": {
        |      "nested": { "path": "linkedPlanServices" },
        |      "aggs": {
        |        "by_name": {
        |          "terms": { "field": "linkedPlanServices.linkedService.name.keyword", "size": 5 },
        |          "aggs": {
        |            "plans": {
        |              "reverse_nested": {},
        |              "aggs": {
        |                "avg_copay": { "avg": { "field": "planCostShares.copay" } },
        |                "max_ded": { "max": { "field": "planCostShares.deductible" } }
        |              }
        |            }
        |          }
        |        }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d79Sql =
    s"""WITH o AS $O, e AS (
       |  SELECT 'Service ' || o_orderpriority AS key, c_custkey,
       |    c_custkey % 50 AS copay, c_nationkey * 100 AS ded,
       |    COUNT(*) AS el
       |  FROM o JOIN customer ON o_custkey = c_custkey
       |  WHERE c_mktsegment = 'HOUSEHOLD'
       |  GROUP BY 1, 2, 3, 4)
       |SELECT key, CAST(SUM(el) AS BIGINT) AS doc_count,
       |  CAST(COUNT(*) AS BIGINT) AS plans,
       |  AVG(copay) AS avg_copay, MAX(ded) AS max_ded
       |FROM e GROUP BY key
       |ORDER BY doc_count DESC, key ASC LIMIT 5""".stripMargin

  // ---------------------------------------------------------------- d80
  /** `sampler` + `significant_text` — the Discover "interesting words"
    * panel over the documents corpus: tokens over-represented in a
    * DETERMINISTIC 120-doc sample of the English hits vs the whole
    * corpus, JLH-scored at doc-frequency grain (each doc contributes a
    * token once). The sampler is the engine's reproducible stand-in for
    * ES's score-ordered shard sample: smallest-md5-hash-first over a
    * caller-named unique field (`hash_field`, an engine extension) —
    * see `EsAggs.SignificantText`. */
  private def d80(s: SparkSession, d: String): DataFrame = {
    val dd = graft.Tables(s, d, "documents")
      .select(struct(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars")).as("doc"))
    val ddSchema = dd.schema("doc").dataType.asInstanceOf[StructType]
    val body =
      """{
        |  "size": 0,
        |  "query": { "term": { "lang": "en" } },
        |  "aggs": {
        |    "sample": {
        |      "sampler": { "shard_size": 120, "hash_field": "doc_id" },
        |      "aggs": {
        |        "keywords": { "significant_text": { "field": "text", "size": 10 } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(dd, "doc", body, ddSchema)
  }

  private val d80Sql = {
    val toks = graft.ext.TextAnalysis.analyzeSql("text")
    s"""WITH samp AS (
       |  SELECT text FROM (
       |    SELECT text, doc_id,
       |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |    FROM documents WHERE lang = 'en')
       |  ORDER BY h, CAST(doc_id AS VARCHAR) LIMIT 120),
       |fg AS (
       |  SELECT tok AS key, CAST(COUNT(*) AS BIGINT) AS doc_count FROM (
       |    SELECT unnest(list_distinct($toks)) AS tok FROM samp)
       |  GROUP BY 1),
       |bg AS (
       |  SELECT tok AS key, CAST(COUNT(*) AS BIGINT) AS bg_count FROM (
       |    SELECT unnest(list_distinct($toks)) AS tok FROM documents)
       |  GROUP BY 1),
       |tot AS (SELECT (SELECT COUNT(*) FROM samp) AS ft,
       |               (SELECT COUNT(*) FROM documents) AS bt)
       |SELECT key, doc_count, bg_count,
       |  (CAST(doc_count AS DOUBLE) / ft - CAST(bg_count AS DOUBLE) / bt)
       |    * ((CAST(doc_count AS DOUBLE) / ft) / (CAST(bg_count AS DOUBLE) / bt)) AS score
       |FROM fg JOIN bg USING (key), tot
       |ORDER BY score DESC, key ASC LIMIT 10""".stripMargin
  }

  // ---------------------------------------------------------------- d82
  /** `function_score` with `field_value_factor` — numeric-field-driven
    * relevance (boost cheap plans, popular docs, fresh content):
    * `sqrt(2 * copay)` (sqrt is IEEE-correctly-rounded, so the oracle is
    * bit-identical) summed with a conditional 1.5 weight, folded onto the
    * clause-count base by `boost_mode: sum`. Still a pure per-row
    * expression — the page is one TakeOrderedAndProject. */
  private def d82(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "function_score": {
        |      "query": { "bool": {
        |        "filter": [ { "range": { "planCostShares.copay": { "gte": 5 } } } ],
        |        "should": [ { "term": { "planType": "AUTOMOBILE" } } ] } },
        |      "functions": [
        |        { "field_value_factor": { "field": "planCostShares.copay",
        |            "factor": 2, "modifier": "sqrt", "missing": 0 } },
        |        { "filter": { "term": { "planType": "MACHINERY" } }, "weight": 1.5 }
        |      ],
        |      "score_mode": "sum",
        |      "boost_mode": "sum"
        |    }
        |  },
        |  "sort": [ { "_score": { "order": "desc" } }, { "objectId": { "order": "asc" } } ],
        |  "size": 15,
        |  "_source": ["objectId", "planType", "planCostShares.copay"]
        |}""".stripMargin
    SearchExec.search(assembled(s, d), "doc", body, schema)
  }

  private val d82Sql =
    s"""SELECT rn, score, "objectId", "planType", "planCostShares_copay" FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, "objectId" ASC) AS rn FROM (
       |    SELECT 'plan-' || ${ck("c_custkey")} AS "objectId", c_mktsegment AS "planType",
       |      c_custkey % 50 AS "planCostShares_copay",
       |      CAST(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS DOUBLE)
       |        + (sqrt(2.0 * (c_custkey % 50))
       |           + CASE WHEN c_mktsegment = 'MACHINERY' THEN 1.5 ELSE 0.0 END) AS score
       |    FROM customer WHERE c_custkey % 50 >= 5))
       |WHERE rn <= 15 ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d83
  /** `filter` (singular) bucket agg — the Kibana "filter ratio" building
    * block: one named sub-scope of the query context carrying its own
    * metrics. Compiles to the single-bucket conditional-aggregation
    * shape: NO shuffle at all, one partial+final global agg. */
  private def d83(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "query": { "range": { "planCostShares.copay": { "gte": 10 } } },
        |  "aggs": {
        |    "building": {
        |      "filter": { "term": { "planType": "BUILDING" } },
        |      "aggs": {
        |        "avg_copay": { "avg": { "field": "planCostShares.copay" } },
        |        "n_orgs": { "cardinality": { "field": "_org" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d83Sql =
    """SELECT 'building' AS key,
      |  CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS doc_count,
      |  AVG(CASE WHEN c_mktsegment = 'BUILDING' THEN c_custkey % 50 END) AS avg_copay,
      |  CAST(COUNT(DISTINCT CASE WHEN c_mktsegment = 'BUILDING'
      |    THEN 'org-' || CAST(c_nationkey AS VARCHAR) || '.example.com' END) AS BIGINT) AS n_orgs
      |FROM customer WHERE c_custkey % 50 >= 10""".stripMargin

  // ---------------------------------------------------------------- d84
  /** `composite` `missing_bucket: true` — the bulk-export body over data
    * with gaps: documents missing the first source's value land in a
    * NULL-keyed bucket ordered FIRST (asc), instead of silently vanishing
    * from the export. The fixture nulls `_org` on every custkey%7 doc, so
    * the first page is the null-org buckets followed by the earliest real
    * orgs — pinning both the null grouping and the null-first order. */
  private def d84(s: SparkSession, d: String): DataFrame = {
    val base = assembled(s, d).select(struct(
      col("doc.planCostShares").as("planCostShares"),
      col("doc.linkedPlanServices").as("linkedPlanServices"),
      when(col("doc.objectId").substr(lit(6), lit(99)).cast("long") % 7 === 0,
        lit(null).cast("string")).otherwise(col("doc._org")).as("_org"),
      col("doc.objectId").as("objectId"),
      col("doc.objectType").as("objectType"),
      col("doc.planType").as("planType"),
      col("doc.creationDate").as("creationDate")).as("doc"))
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "export": {
        |      "composite": {
        |        "size": 8,
        |        "sources": [
        |          { "org": { "terms": { "field": "_org", "missing_bucket": true } } },
        |          { "ptype": { "terms": { "field": "planType" } } }
        |        ]
        |      },
        |      "aggs": {
        |        "max_copay": { "max": { "field": "planCostShares.copay" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(base, "doc", body, schema)
  }

  private val d84Sql =
    """WITH b AS (
      |  SELECT CASE WHEN c_custkey % 7 = 0 THEN NULL
      |              ELSE 'org-' || CAST(c_nationkey AS VARCHAR) || '.example.com' END AS org,
      |    c_mktsegment AS ptype, c_custkey % 50 AS copay
      |  FROM customer)
      |SELECT org, ptype, CAST(COUNT(*) AS BIGINT) AS doc_count, MAX(copay) AS max_copay
      |FROM b GROUP BY 1, 2
      |ORDER BY org ASC NULLS FIRST, ptype ASC LIMIT 8""".stripMargin

  // ---------------------------------------------------------------- d85
  /** terms `include`/`exclude` — Kibana's bucket-key filtering (focus a
    * panel on a subset of orgs without changing the query): a fully-
    * anchored include regex minus an exclude regex, applied to the
    * |terms|-row bucket table BEFORE pruning and top-N — zero extra
    * corpus work. */
  private def d85(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "orgs": {
        |      "terms": { "field": "_org", "size": 6,
        |        "include": "org-1.*",
        |        "exclude": ".*[37]\\.example\\.com" },
        |      "aggs": { "sum_copay": { "sum": { "field": "planCostShares.copay" } } }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d85Sql =
    """WITH b AS (
      |  SELECT 'org-' || CAST(c_nationkey AS VARCHAR) || '.example.com' AS key,
      |    c_custkey % 50 AS copay FROM customer)
      |SELECT key, CAST(COUNT(*) AS BIGINT) AS doc_count,
      |  CAST(CAST(SUM(copay) AS BIGINT) AS DOUBLE) AS sum_copay
      |FROM b
      |WHERE regexp_matches(key, '^(?:org-1.*)$')
      |  AND NOT regexp_matches(key, '^(?:.*[37]\.example\.com)$')
      |GROUP BY 1 ORDER BY doc_count DESC, key ASC LIMIT 6""".stripMargin

  // ---------------------------------------------------------------- d86
  /** `top_metrics` — Lens's "last value" column: per plan-type bucket,
    * the copay/deductible of the 2 highest-objectId plans (the sort must
    * be doc-unique for a deterministic rank — the top_hits honesty rule).
    * Rides the top_hits machinery: broadcast selected buckets back, one
    * WindowGroupLimit rank — no corpus-global ordering. */
  private def d86(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "by_type": {
        |      "terms": { "field": "planType", "size": 5 },
        |      "aggs": {
        |        "latest": { "top_metrics": {
        |          "metrics": [ { "field": "planCostShares.copay" },
        |                       { "field": "planCostShares.deductible" } ],
        |          "sort": { "objectId": "desc" },
        |          "size": 2 } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d86Sql =
    s"""WITH b AS (
       |  SELECT c_mktsegment AS key, 'plan-' || ${ck("c_custkey")} AS oid,
       |    c_custkey % 50 AS cop, c_nationkey * 100 AS ded FROM customer),
       |sel AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS doc_count FROM b GROUP BY 1
       |        ORDER BY doc_count DESC, key LIMIT 5),
       |r AS (SELECT b.key, doc_count,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY b.key ORDER BY oid DESC) AS BIGINT) AS rank,
       |        cop AS "planCostShares_copay", ded AS "planCostShares_deductible"
       |      FROM b JOIN sel ON b.key = sel.key)
       |SELECT * FROM r WHERE rank <= 2
       |ORDER BY doc_count DESC, key ASC, rank ASC""".stripMargin

  // ---------------------------------------------------------------- d87
  /** `rescore` — second-pass re-ranking of the top window: the 30 best
    * hits by base `_score` (clause count, objectId tiebreak) re-scored as
    * `0.5 * base + 2 * rescore-clause-count` where the rescore query
    * matches. Plans as bounded-heap top-30 → 30-row re-sort — the
    * expensive query never runs a corpus-global reorder. */
  private def d87(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": { "bool": {
        |    "filter": [ { "range": { "planCostShares.copay": { "gte": 20 } } } ],
        |    "should": [ { "term": { "planType": "HOUSEHOLD" } } ] } },
        |  "rescore": {
        |    "window_size": 30,
        |    "query": {
        |      "rescore_query": { "bool": { "should": [
        |        { "range": { "planCostShares.copay": { "gte": 40 } } },
        |        { "prefix": { "_org": { "value": "org-1" } } }
        |      ] } },
        |      "query_weight": 0.5,
        |      "rescore_query_weight": 2
        |    }
        |  },
        |  "size": 12,
        |  "_source": ["objectId", "planType", "planCostShares.copay"]
        |}""".stripMargin
    SearchExec.search(assembled(s, d), "doc", body, schema)
  }

  private val d87Sql =
    s"""WITH h AS (
       |  SELECT 'plan-' || ${ck("c_custkey")} AS oid, c_mktsegment AS seg,
       |    c_custkey % 50 AS cop,
       |    'org-' || ${ck("c_nationkey")} || '.example.com' AS org
       |  FROM customer WHERE c_custkey % 50 >= 20),
       |w AS (
       |  SELECT *, CAST(CASE WHEN seg = 'HOUSEHOLD' THEN 1 ELSE 0 END AS DOUBLE) AS base,
       |    ROW_NUMBER() OVER (
       |      ORDER BY CASE WHEN seg = 'HOUSEHOLD' THEN 1 ELSE 0 END DESC, oid ASC) AS wr
       |  FROM h),
       |win AS (
       |  SELECT oid, seg, cop,
       |    0.5 * base + CASE WHEN cop >= 40 OR org LIKE 'org-1%'
       |      THEN 2.0 * (CASE WHEN cop >= 40 THEN 1 ELSE 0 END
       |                + CASE WHEN org LIKE 'org-1%' THEN 1 ELSE 0 END)
       |      ELSE 0.0 END AS score
       |  FROM w WHERE wr <= 30)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, oid ASC) AS BIGINT) AS rn, score,
       |  oid AS "objectId", seg AS "planType", cop AS "planCostShares_copay"
       |FROM win ORDER BY rn LIMIT 12""".stripMargin

  // ---------------------------------------------------------------- d88
  /** terms `missing` — the Kibana "show missing values as a bucket"
    * toggle: docs with no `_org` land in the `(none)` bucket, which
    * competes in doc_count ranking like any other key (the fixture nulls
    * every custkey%6 org, making `(none)` the TOP bucket). One coalesce
    * on the bucket key — no extra pass. */
  private def d88(s: SparkSession, d: String): DataFrame = {
    val base = assembled(s, d).select(struct(
      col("doc.planCostShares").as("planCostShares"),
      col("doc.linkedPlanServices").as("linkedPlanServices"),
      when(col("doc.objectId").substr(lit(6), lit(99)).cast("long") % 6 === 0,
        lit(null).cast("string")).otherwise(col("doc._org")).as("_org"),
      col("doc.objectId").as("objectId"),
      col("doc.objectType").as("objectType"),
      col("doc.planType").as("planType"),
      col("doc.creationDate").as("creationDate")).as("doc"))
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "orgs": {
        |      "terms": { "field": "_org", "size": 4, "missing": "(none)" },
        |      "aggs": { "n_types": { "cardinality": { "field": "planType" } } }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(base, "doc", body, schema)
  }

  private val d88Sql =
    """WITH b AS (
      |  SELECT COALESCE(CASE WHEN c_custkey % 6 = 0 THEN NULL
      |    ELSE 'org-' || CAST(c_nationkey AS VARCHAR) || '.example.com' END,
      |    '(none)') AS key, c_mktsegment AS pt
      |  FROM customer)
      |SELECT key, CAST(COUNT(*) AS BIGINT) AS doc_count,
      |  CAST(COUNT(DISTINCT pt) AS BIGINT) AS n_types
      |FROM b GROUP BY 1 ORDER BY doc_count DESC, key ASC LIMIT 4""".stripMargin

  // ---------------------------------------------------------------- d89
  /** `date_histogram` `fixed_interval` — the Kibana time axis below
    * calendar grain (12-hour bins here): epoch-anchored integer floor
    * arithmetic over micros, TIMESTAMP keys, exact-distinct user counts.
    * Same one-shuffle shape as the calendar histogram. */
  private def d89(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .select(struct(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value")).as("doc"))
    val evSchema = ev.schema("doc").dataType.asInstanceOf[StructType]
    val body =
      """{
        |  "size": 0,
        |  "query": { "term": { "event_type": "purchase" } },
        |  "aggs": {
        |    "per_12h": {
        |      "date_histogram": { "field": "ts", "fixed_interval": "12h" },
        |      "aggs": {
        |        "max_value": { "max": { "field": "value" } },
        |        "n_users": { "cardinality": { "field": "user_id" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(ev, "doc", body, evSchema)
  }

  private val d89Sql =
    """SELECT make_timestamp(epoch_us(ts) // 43200000000 * 43200000000) AS key,
      |  CAST(COUNT(*) AS BIGINT) AS doc_count, MAX(value) AS max_value,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY key""".stripMargin

  // ---------------------------------------------------------------- d90
  /** `function_score` `linear` decay — "closest to target wins"
    * relevance (the bit-exact-arithmetic member of ES's decay family;
    * gauss/exp live in d120 under a documented ~1e-15 libm tolerance):
    * copay nearest 25 scores highest, FURNITURE plans get a 1.25×
    * bump, multiply/multiply modes over a filter-only base. */
  private def d90(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "function_score": {
        |      "query": { "bool": { "filter": [ { "exists": { "field": "planType" } } ] } },
        |      "functions": [
        |        { "linear": { "planCostShares.copay": {
        |            "origin": 25, "scale": 20, "missing": 0 } }, "weight": 4 },
        |        { "filter": { "term": { "planType": "FURNITURE" } }, "weight": 1.25 }
        |      ],
        |      "score_mode": "multiply",
        |      "boost_mode": "multiply"
        |    }
        |  },
        |  "sort": [ { "_score": { "order": "desc" } }, { "objectId": { "order": "asc" } } ],
        |  "size": 15,
        |  "_source": ["objectId", "planType", "planCostShares.copay"]
        |}""".stripMargin
    SearchExec.search(assembled(s, d), "doc", body, schema)
  }

  private val d90Sql =
    s"""SELECT rn, score, "objectId", "planType", "planCostShares_copay" FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, "objectId" ASC) AS rn FROM (
       |    SELECT 'plan-' || ${ck("c_custkey")} AS "objectId", c_mktsegment AS "planType",
       |      c_custkey % 50 AS "planCostShares_copay",
       |      1.0 * (((40.0 - greatest(0.0, abs(CAST(c_custkey % 50 AS DOUBLE) - 25.0) - 0.0))
       |               / 40.0) * 4.0
       |             * CASE WHEN c_mktsegment = 'FURNITURE' THEN 1.25 ELSE 1.0 END) AS score
       |    FROM customer WHERE c_mktsegment IS NOT NULL))
       |WHERE rn <= 15 ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d91
  /** `nested` agg INSIDE a terms split — the Kibana "metric on a child
    * field with a split rows" body (the reference maps every sub-object
    * `nested`, so ANY per-planType metric panel over service fields emits
    * exactly this): terms on the doc-grain `planType`, element-grain
    * avg/max/value_count over `linkedPlanServices`. doc_count stays
    * parent docs; `svc` is the nested doc_count (elements). Executes as
    * ONE hash aggregation with per-document higher-order-function
    * partials — no explode (plan-pinned). */
  private def d91(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "types": {
        |      "terms": { "field": "planType", "size": 5 },
        |      "aggs": {
        |        "svc": {
        |          "nested": { "path": "linkedPlanServices" },
        |          "aggs": {
        |            "avg_copay": { "avg": { "field": "linkedPlanServices.planserviceCostShares.copay" } },
        |            "max_ded": { "max": { "field": "linkedPlanServices.planserviceCostShares.deductible" } },
        |            "n_vals": { "value_count": { "field": "linkedPlanServices.planserviceCostShares.copay" } }
        |          }
        |        }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d91Sql =
    s"""WITH o AS $O,
       |par AS (SELECT c_custkey, c_mktsegment AS key FROM customer),
       |el AS (SELECT p.key, o.o_custkey % 200 AS cop, o.o_orderkey % 1000 AS ded
       |       FROM par p JOIN o ON o.o_custkey = p.c_custkey),
       |d AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS doc_count FROM par GROUP BY key),
       |m AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS svc,
       |             CAST(SUM(cop) AS DOUBLE) / COUNT(cop) AS avg_copay,
       |             CAST(MAX(ded) AS DOUBLE) AS max_ded,
       |             CAST(COUNT(cop) AS BIGINT) AS n_vals
       |      FROM el GROUP BY key)
       |SELECT d.key, d.doc_count, COALESCE(m.svc, 0) AS svc, m.avg_copay, m.max_ded,
       |       COALESCE(m.n_vals, 0) AS n_vals
       |FROM d LEFT JOIN m USING (key)
       |ORDER BY doc_count DESC, key ASC LIMIT 5""".stripMargin

  // ---------------------------------------------------------------- d92
  /** ES terms agg accuracy fields (`show_term_doc_count_error: true`) —
    * the response-level `sum_other_doc_count` that drives Kibana's
    * "Other" bucket toggle, plus `doc_count_error_upper_bound`
    * (constant 0: this engine aggregates exactly instead of merging
    * per-shard top-`shard_size` lists — the same documented upgrade as
    * exact cardinality). The total rides a |terms|-row window over the
    * bucket table; no second corpus pass. */
  private def d92(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "by_type": {
        |      "terms": { "field": "planType", "size": 3, "show_term_doc_count_error": true },
        |      "aggs": { "avg_copay": { "avg": { "field": "planCostShares.copay" } } }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d92Sql =
    s"""WITH b AS (
       |  SELECT c_mktsegment AS key, CAST(COUNT(*) AS BIGINT) AS doc_count,
       |         AVG(c_custkey % 50) AS avg_copay
       |  FROM customer GROUP BY 1),
       |page AS (SELECT * FROM b ORDER BY doc_count DESC, key ASC LIMIT 3)
       |SELECT key, doc_count, avg_copay,
       |  CAST((SELECT SUM(doc_count) FROM b) - (SELECT SUM(doc_count) FROM page) AS BIGINT)
       |    AS sum_other_doc_count,
       |  CAST(0 AS BIGINT) AS doc_count_error_upper_bound
       |FROM page ORDER BY doc_count DESC, key ASC""".stripMargin

  // ---------------------------------------------------------------- d93
  /** `date_histogram` with `time_zone` — the most-used real-world
    * histogram option (every Kibana deployment off UTC sets it): day
    * buckets whose boundaries fall on `America/New_York` midnights, keyed
    * by the bucket start as a UTC instant (ES's epoch-millis key).
    * Truncation happens on the LOCAL wall clock (`from_utc_timestamp` →
    * `date_trunc` → `to_utc_timestamp`), so near-midnight events land in
    * a different bucket than UTC truncation would put them — the thing
    * the option exists for. Same one-shuffle hash-agg plan as d51. */
  private def d93(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .select(struct(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value")).as("doc"))
    val evSchema = ev.schema("doc").dataType.asInstanceOf[StructType]
    val body =
      """{
        |  "size": 0,
        |  "query": { "term": { "event_type": "click" } },
        |  "aggs": {
        |    "by_local_day": {
        |      "date_histogram": { "field": "ts", "calendar_interval": "day",
        |                          "time_zone": "America/New_York" },
        |      "aggs": { "max_value": { "max": { "field": "value" } },
        |                "n_events": { "value_count": { "field": "event_id" } } }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(ev, "doc", body, evSchema)
  }

  private val d93Sql =
    """WITH e AS (
      |  SELECT timezone('UTC', timezone('America/New_York',
      |           date_trunc('day', timezone('America/New_York', timezone('UTC', ts))))) AS key,
      |         value, event_id
      |  FROM events WHERE event_type = 'click')
      |SELECT key, CAST(COUNT(*) AS BIGINT) AS doc_count,
      |  MAX(value) AS max_value, CAST(COUNT(event_id) AS BIGINT) AS n_events
      |FROM e GROUP BY 1 ORDER BY key""".stripMargin

  // ---------------------------------------------------------------- d94
  /** ES `highlight` — Discover's yellow-marker rendering: whole-field
    * mode (`number_of_fragments: 0`), every occurrence of the query's
    * terms for the field wrapped in `<em>` tags, case-insensitively on
    * word boundaries. require_field_match pinned: rows selected only by
    * the `_org` prefix clause carry NULL (ES omits the field for hits
    * no clause on it matched). The wrap is a constant-pattern
    * regexp_replace over the ≤ size-row page — highlighting costs the
    * page, never the corpus. */
  private def d94(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": { "bool": {
        |      "should": [
        |        { "match": { "planType": "building machinery" } },
        |        { "prefix": { "_org": "org-2" } } ],
        |      "minimum_should_match": 1 } },
        |  "sort": [ { "objectId": { "order": "asc" } } ],
        |  "size": 40,
        |  "_source": ["objectId", "planType"],
        |  "highlight": { "fields": { "planType": { "number_of_fragments": 0 } } }
        |}""".stripMargin
    SearchExec.search(assembled(s, d), "doc", body, schema)
  }

  private val d94Sql =
    s"""SELECT rn, "objectId", "planType", "planType_highlight" FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY "objectId" ASC) AS BIGINT) AS rn FROM (
       |    SELECT 'plan-' || ${ck("c_custkey")} AS "objectId", c_mktsegment AS "planType",
       |      CASE WHEN regexp_matches(c_mktsegment, '(?i)\\b(?:building|machinery)\\b')
       |           THEN regexp_replace(c_mktsegment, '(?i)\\b(?:building|machinery)\\b',
       |                               '<em>\\0</em>', 'g')
       |           ELSE NULL END AS "planType_highlight"
       |    FROM customer
       |    WHERE lower(c_mktsegment) IN ('building', 'machinery')
       |       OR 'org-' || ${ck("c_nationkey")} || '.example.com' LIKE 'org-2%'))
       |WHERE rn <= 40 ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d95
  /** ES `phrase` suggester — "did you mean" over a whole phrase: per-term
    * candidates within `max_edits: 2` (the direct_generator default),
    * top-5 per position by term frequency, candidate PHRASES ranked by a
    * Laplace-smoothed (α = 0.5, the ES default) bigram language model:
    * `score = P(c₁)·P(c₂|c₁)` with `P(c₁) = (f₁+α)/(N+αV)` and
    * `P(c₂|c₁) = (bi+α)/(f₁+αV)`.
    *
    * Scale shape: candidate generation is a SymSpell DELETION-BLOCK join,
    * not a full-vocab edit-distance scan — every vocab term explodes to
    * its ≤2-character-deletion variants once (bounded: O(len²) variants
    * per term), the input's variants are a LITERAL `isin` filter pushed
    * into that narrow table, and exact `levenshtein` verifies only the
    * collided candidates (deletion blocking has full recall at max_edits:
    * any ≤2-edit pair shares a variant). Unigram and bigram tables are
    * one map-side-combinable aggregation each; the final cross of ≤5×≤5
    * candidates rides 1-row broadcast stats frames. The naive form (d68's
    * corpus-wide levenshtein) scans V rows per query term; this scans the
    * collided block only — the difference between a suggester that works
    * at 100 TB vocab and one that re-scans the dictionary per keystroke. */
  private def d95(s: SparkSession, d: String): DataFrame = {
    val (res, cached) = d95Plan(s, d)
    graft.Eager.finish(res, cached: _*)
  }

  /** d95's un-pinned plan + its persisted intermediates — split out so
    * PlanAuditSpec can explain the REAL plan (Eager.pin collapses the
    * registry entry to a LocalRelation). Callers must unpersist. */
  private[graft] def d95Plan(s: SparkSession, d: String): (DataFrame, Seq[org.apache.spark.sql.Dataset[_]]) = {
    val inputTerms = Seq("sprk", "dat")
    val maxEdits = 2
    val perPos = 5
    def dels(t: String): Seq[String] = t.indices.map(i => t.take(i) + t.drop(i + 1))
    def inputVariants(t: String): Seq[String] =
      (Seq(t) ++ dels(t) ++ dels(t).flatMap(dels)).distinct
    val toksDoc = graft.Tables(s, d, "documents")
      .select(filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= "").as("toks"))
      .persist()
    val uni = toksDoc.select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq")).persist()
    val nv = uni.agg(sum(col("freq")).cast("long").as("n"), count(lit(1)).cast("long").as("v"))
    val bi = toksDoc.filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] AS p, toks[i] AS c))"))
        .as("pr"))
      .select(col("pr.p").as("p"), col("pr.c").as("c"))
      .groupBy("p", "c").agg(count(lit(1)).as("bfreq"))
    // vocab deletion-variant block: tok + all 1- and 2-deletions
    val vocabVars = uni.select(col("tok"), col("freq"), explode(expr(
      """array_distinct(concat(
        |  array(tok),
        |  transform(sequence(0, length(tok) - 1),
        |            i -> concat(substring(tok, 1, i), substring(tok, i + 2))),
        |  flatten(transform(
        |    transform(sequence(0, length(tok) - 1),
        |              i -> concat(substring(tok, 1, i), substring(tok, i + 2))),
        |    x -> transform(sequence(0, length(x) - 1),
        |                   j -> concat(substring(x, 1, j), substring(x, j + 2)))))))"""
        .stripMargin)).as("variant"))
    val cands = inputTerms.zipWithIndex.map { case (term, i) =>
      vocabVars.filter(col("variant").isin(inputVariants(term): _*))
        .select(col("tok"), col("freq")).distinct()
        .filter(levenshtein(col("tok"), lit(term)) <= maxEdits)
        .orderBy(col("freq").desc, col("tok").asc).limit(perPos)
        .select(col("tok").as(s"t$i"), col("freq").as(s"f$i"))
    }
    val res = cands(0).crossJoin(cands(1)).crossJoin(nv)
      .join(bi, col("p") === col("t0") && col("c") === col("t1"), "left")
      .select(
        concat(col("t0"), lit(" "), col("t1")).as("text"),
        (((col("f0") + lit(0.5)) / (col("n") + lit(0.5) * col("v"))) *
          ((coalesce(col("bfreq"), lit(0L)) + lit(0.5)) / (col("f0") + lit(0.5) * col("v"))))
          .as("score"))
      .orderBy(col("score").desc, col("text").asc)
      .limit(perPos)
    (res, Seq(toksDoc, uni))
  }

  private val d95Sql =
    """WITH tk AS (
      |  SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      |  FROM documents),
      |uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
      |        FROM (SELECT unnest(toks) AS tok FROM tk) GROUP BY tok),
      |nv AS (SELECT CAST(SUM(freq) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS v FROM uni),
      |bi AS (SELECT p, c, CAST(COUNT(*) AS BIGINT) AS bfreq FROM (
      |  SELECT toks[i] AS p, toks[i + 1] AS c
      |  FROM tk, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
      |  WHERE len(toks) >= 2) GROUP BY p, c),
      |c0 AS (SELECT tok AS t0, freq AS f0 FROM uni WHERE levenshtein(tok, 'sprk') <= 2
      |       ORDER BY freq DESC, tok ASC LIMIT 5),
      |c1 AS (SELECT tok AS t1, freq AS f1 FROM uni WHERE levenshtein(tok, 'dat') <= 2
      |       ORDER BY freq DESC, tok ASC LIMIT 5)
      |SELECT t0 || ' ' || t1 AS text,
      |  ((f0 + 0.5) / (n + 0.5 * v)) * ((COALESCE(bfreq, 0) + 0.5) / (f0 + 0.5 * v)) AS score
      |FROM c0 CROSS JOIN c1 CROSS JOIN nv
      |LEFT JOIN bi ON bi.p = t0 AND bi.c = t1
      |ORDER BY score DESC, text ASC LIMIT 5""".stripMargin

  // ---------------------------------------------------------------- d96
  /** ES `more_like_this` — "find documents like this text": select the
    * like-text's interesting terms (`min_term_freq: 2` within the text,
    * corpus `min_doc_freq: 3`, top `max_query_terms: 8`), then match
    * documents sharing at least `minimum_should_match: 30%` of them
    * (ES percent → floor), scored by shared-term count.
    *
    * Documented deviation: ES ranks candidate terms by float TF-IDF;
    * this engine ranks by the integer tuple (tf desc, df asc, term asc)
    * — the same ordering wherever idf is monotone in 1/df, and exact in
    * the oracle (the repo-wide integer-relevance convention; see
    * TextAnalysis). Scale shape: the like-text is a literal, so term
    * selection filters the corpus token aggregation with a pushed `isin`
    * (a bounded block, not a vocab scan); the ≤8 selected terms ride a
    * 1-row broadcast frame; per-doc scoring is one `array_intersect` on
    * the document's own tokens — a single corpus scan, one shuffle
    * nowhere. */
  private def d96(s: SparkSession, d: String): DataFrame = {
    val likeText = "spark batch stream batch window dup spark batch the a window"
    val (minTf, minDf, maxTerms) = (2, 3, 8)
    val likeTf: Map[String, Int] = likeText.toLowerCase.split("[^a-z0-9]+")
      .filter(_.nonEmpty).groupBy(identity).view.mapValues(_.length).toMap
    val likeTerms = likeTf.filter(_._2 >= minTf).keys.toSeq.sorted
    val docsT = graft.Tables(s, d, "documents")
      .select(col("doc_id"),
        array_distinct(filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= ""))
          .as("toks"))
    // corpus doc-freq ONLY for the like-terms (bounded block via isin)
    val tfOf = likeTerms.map(t => t -> likeTf(t)).toMap
    val dfT = docsT.select(explode(col("toks")).as("tok"))
      .filter(col("tok").isin(likeTerms: _*))
      .groupBy("tok").agg(count(lit(1)).cast("long").as("df"))
      .filter(col("df") >= minDf)
      .withColumn("tf", coalesce(
        likeTerms.foldLeft(lit(null).cast("int")) { (acc, t) =>
          when(col("tok") === t, lit(tfOf(t))).otherwise(acc) }, lit(0)))
      .orderBy(col("tf").desc, col("df").asc, col("tok").asc)
      .limit(maxTerms)
    val sel = dfT.agg(sort_array(collect_list(col("tok"))).as("terms"))
    res96(docsT, sel)
  }

  private def res96(docsT: DataFrame, sel: DataFrame): DataFrame =
    docsT.crossJoin(broadcast(sel))
      .withColumn("score", size(array_intersect(col("toks"), col("terms"))).cast("long"))
      // ES minimum_should_match "30%": floor, and a no-op below 1
      .filter(col("score") >= greatest(lit(1L), expr("size(terms) * 3 DIV 10")))
      .select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(10)

  private val d96Sql =
    """WITH tk AS (
      |  SELECT doc_id,
      |    list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
      |      x -> x <> '')) AS toks
      |  FROM documents),
      |liketf AS (
      |  SELECT tok, CAST(COUNT(*) AS INT) AS tf FROM (
      |    SELECT unnest(list_filter(regexp_split_to_array(
      |      lower('spark batch stream batch window dup spark batch the a window'),
      |      '[^a-z0-9]+'), x -> x <> '')) AS tok) GROUP BY tok HAVING COUNT(*) >= 2),
      |seltf AS (
      |  SELECT d.tok FROM (
      |    SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM (
      |      SELECT unnest(toks) AS tok FROM tk) WHERE tok IN (SELECT tok FROM liketf)
      |    GROUP BY tok HAVING COUNT(*) >= 3) d
      |  JOIN liketf l ON l.tok = d.tok
      |  ORDER BY l.tf DESC, d.df ASC, d.tok ASC LIMIT 8),
      |sel AS (SELECT list_sort(list(tok)) AS terms, CAST(len(list(tok)) AS BIGINT) AS n
      |        FROM seltf)
      |SELECT doc_id, CAST(len(list_intersect(toks, terms)) AS BIGINT) AS score
      |FROM tk, sel
      |WHERE len(list_intersect(toks, terms)) >= greatest(1, n * 3 // 10)
      |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- d97
  /** ES `range` with DATE MATH bounds — the "that ISO week" body every
    * Kibana time-picker shortcut emits: `"2024-01-10||-2d/d"` (two days
    * back, rounded to midnight = Mon Jan 8) to `"2024-01-03||+12d/d"`
    * (= Mon Jan 15, exclusive), resolved to TIMESTAMP literals at parse
    * time and compiled to plain comparisons. `now` anchors are rejected
    * loudly (a wall-clock anchor returns different rows per run — the
    * engine's determinism contract); callers bind their own now. */
  private def d97(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .select(struct(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value")).as("doc"))
    val evSchema = ev.schema("doc").dataType.asInstanceOf[StructType]
    val body =
      """{
        |  "query": { "bool": { "must": [
        |    { "range": { "ts": { "gte": "2024-01-10||-2d/d", "lt": "2024-01-03||+12d/d" } } },
        |    { "term": { "event_type": "purchase" } } ] } }
        |}""".stripMargin
    val ast = SearchQuery.fromJson(body, evSchema)
    ev.filter(SearchQuery.compile(ast, col("doc")))
      .select(col("doc.event_id").as("event_id"), col("doc.user_id").as("user_id"),
        col("doc.ts").as("ts"))
      .orderBy(col("event_id"))
  }

  private val d97Sql =
    """SELECT event_id, user_id, ts FROM events
      |WHERE ts >= TIMESTAMP '2024-01-08 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'
      |  AND event_type = 'purchase'
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- d98
  /** ES `extended_stats` — the dispersion metric behind Kibana's
    * error-band visualizations: stats + sum_of_squares, POPULATION
    * variance and σ-bounds (here sigma: 3), per terms bucket. Over the
    * integer copay field both sums are exact longs, so every derived
    * double (two divisions, one correctly-rounded sqrt, one
    * multiply/add) is IEEE-identical to the oracle's same expression
    * tree. Plan shape: unchanged from a plain terms agg — ONE hash
    * aggregation, the extra columns are free map-side arithmetic. */
  private def d98(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "by_type": {
        |      "terms": { "field": "planType", "size": 10 },
        |      "aggs": {
        |        "copay_es": { "extended_stats": { "field": "planCostShares.copay", "sigma": 3 } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d98Sql =
    """WITH base AS (SELECT c_mktsegment AS key, CAST(c_custkey % 50 AS BIGINT) AS v
      |  FROM customer),
      |g AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS doc_count,
      |    CAST(COUNT(v) AS BIGINT) AS copay_es_count,
      |    MIN(v) AS copay_es_min, MAX(v) AS copay_es_max,
      |    CAST(SUM(v) AS DOUBLE) / COUNT(v) AS copay_es_avg,
      |    CAST(SUM(v) AS DOUBLE) AS copay_es_sum,
      |    CAST(SUM(v*v) AS DOUBLE) AS copay_es_sum_of_squares,
      |    CAST(SUM(v*v) AS DOUBLE) / COUNT(v)
      |      - (CAST(SUM(v) AS DOUBLE) / COUNT(v)) * (CAST(SUM(v) AS DOUBLE) / COUNT(v))
      |      AS copay_es_variance
      |  FROM base GROUP BY key)
      |SELECT key, doc_count, copay_es_count, copay_es_min, copay_es_max, copay_es_avg,
      |  copay_es_sum, copay_es_sum_of_squares, copay_es_variance,
      |  sqrt(copay_es_variance) AS copay_es_std_deviation,
      |  copay_es_avg + 3.0 * sqrt(copay_es_variance) AS copay_es_std_deviation_bounds_upper,
      |  copay_es_avg - 3.0 * sqrt(copay_es_variance) AS copay_es_std_deviation_bounds_lower
      |FROM g ORDER BY doc_count DESC, key LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- d99
  /** ES `median_absolute_deviation` — the robust dispersion metric
    * (median of |v - median|), EXACT via linear-interpolated medians
    * where ES is TDigest-approximate (documented upgrade, same as
    * percentiles). Two-phase by nature: a 1-row median aggregate
    * broadcast back over the corpus, then one global aggregation over
    * the deviations — two corpus scans, no shuffle beyond two global
    * partial+final aggs. */
  private def d99(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "mad_ded": { "median_absolute_deviation": { "field": "planCostShares.deductible" } },
        |    "med_ded": { "percentiles": { "field": "planCostShares.deductible", "percents": [50] } },
        |    "avg_ded": { "avg": { "field": "planCostShares.deductible" } }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d99Sql =
    """WITH base AS (SELECT CAST(c_nationkey * 100 AS BIGINT) AS v FROM customer),
      |m AS (SELECT quantile_cont(v, 0.5) AS md FROM base)
      |SELECT CAST(COUNT(*) AS BIGINT) AS doc_count,
      |  quantile_cont(abs(v - (SELECT md FROM m)), 0.5) AS mad_ded,
      |  quantile_cont(v, 0.5) AS med_ded_p50,
      |  AVG(v) AS avg_ded
      |FROM base""".stripMargin

  // ---------------------------------------------------------------- d100
  /** ES `normalize` pipeline agg — Lens's "percent of total" formula
    * over a daily date_histogram (fraction of total events per day) plus
    * a 0-1 rescale of a sum metric. Both are one |buckets|-row window +
    * a single double division over exact integer sums — no second corpus
    * pass, oracle-bit-identical. */
  private def d100(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .select(struct(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type")).as("doc"))
    val evSchema = ev.schema("doc").dataType.asInstanceOf[StructType]
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "daily": {
        |      "date_histogram": { "field": "ts", "calendar_interval": "day" },
        |      "aggs": {
        |        "uid_sum": { "sum": { "field": "user_id" } },
        |        "pct_of_total": { "normalize": { "buckets_path": "_count",
        |                                         "method": "percent_of_sum" } },
        |        "load_0_1": { "normalize": { "buckets_path": "uid_sum",
        |                                     "method": "rescale_0_1" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(ev, "doc", body, evSchema)
  }

  private val d100Sql =
    """WITH g AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS key,
      |    CAST(COUNT(*) AS BIGINT) AS doc_count,
      |    CAST(SUM(user_id) AS DOUBLE) AS uid_sum
      |  FROM events GROUP BY 1)
      |SELECT key, doc_count, uid_sum,
      |  CAST(doc_count AS DOUBLE) / SUM(doc_count) OVER () AS pct_of_total,
      |  (uid_sum - MIN(uid_sum) OVER ()) / (MAX(uid_sum) OVER () - MIN(uid_sum) OVER ())
      |    AS load_0_1
      |FROM g ORDER BY key""".stripMargin

  // ---------------------------------------------------------------- d101
  /** ES `cumulative_cardinality` — "total distinct users to date", the
    * retention-dashboard primitive. Exact (ES merges HLL sketches): one
    * extra corpus aggregation at user grain derives each user's FIRST
    * day, the per-day first-occurrence counts broadcast onto the bucket
    * table, and a running sum yields the cumulative distinct count —
    * unions don't sum, so this is the only shape that stays one-pass at
    * 100 TB. */
  private def d101(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .select(struct(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type")).as("doc"))
    val evSchema = ev.schema("doc").dataType.asInstanceOf[StructType]
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "daily": {
        |      "date_histogram": { "field": "ts", "calendar_interval": "day" },
        |      "aggs": {
        |        "users": { "cardinality": { "field": "user_id" } },
        |        "users_to_date": { "cumulative_cardinality": { "buckets_path": "users" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(ev, "doc", body, evSchema)
  }

  private val d101Sql =
    """WITH g AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS key,
      |    CAST(COUNT(*) AS BIGINT) AS doc_count,
      |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
      |  FROM events GROUP BY 1),
      |f AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS nw FROM (
      |    SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS key
      |    FROM events GROUP BY user_id) GROUP BY key)
      |SELECT g.key, g.doc_count, g.users,
      |  CAST(SUM(COALESCE(f.nw, 0)) OVER (ORDER BY g.key) AS BIGINT) AS users_to_date
      |FROM g LEFT JOIN f ON g.key = f.key ORDER BY g.key""".stripMargin

  // ---------------------------------------------------------------- d102
  /** `filters` with ES `other_bucket_key` — the catch-all bucket of
    * documents matching NO named filter (the Kibana "Other" series).
    * Still ONE conditional aggregation over the corpus: the other bucket
    * is just the conjunction of the negated (null-coalesced) predicates
    * — no extra pass, no shuffle at all. */
  private def d102(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "tiers": {
        |      "filters": {
        |        "filters": {
        |          "low_copay": { "range": { "planCostShares.copay": { "lt": 15 } } },
        |          "building": { "term": { "planType": "BUILDING" } }
        |        },
        |        "other_bucket_key": "rest"
        |      },
        |      "aggs": {
        |        "avg_ded": { "avg": { "field": "planCostShares.deductible" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d102Sql =
    """WITH base AS (SELECT CAST(c_custkey % 50 AS BIGINT) AS copay, c_mktsegment AS pt,
      |    CAST(c_nationkey * 100 AS BIGINT) AS ded FROM customer)
      |SELECT 'low_copay' AS key, CAST(COUNT(*) FILTER (copay < 15) AS BIGINT) AS doc_count,
      |  AVG(ded) FILTER (copay < 15) AS avg_ded FROM base
      |UNION ALL
      |SELECT 'building', CAST(COUNT(*) FILTER (pt = 'BUILDING') AS BIGINT),
      |  AVG(ded) FILTER (pt = 'BUILDING') FROM base
      |UNION ALL
      |SELECT 'rest', CAST(COUNT(*) FILTER (NOT copay < 15 AND pt <> 'BUILDING') AS BIGINT),
      |  AVG(ded) FILTER (NOT copay < 15 AND pt <> 'BUILDING') FROM base""".stripMargin

  // ---------------------------------------------------------------- d103
  /** Kibana "split chart by filters" — a `filters` parent with a
    * `date_histogram` child and a conditional leaf metric: every series
    * panel with a filter dropdown emits this body. ONE hash aggregation
    * on the child day key carrying per-filter conditional counts and
    * metrics; the filter unfold, per-filter totals and ordering are
    * |child buckets|-row work. Parent doc_count follows the ES
    * parent-count contract (null-child docs counted), and — as in ES,
    * where `filters` always emits every named bucket — a filter whose
    * child list is empty still renders one placeholder row (the
    * `heavy_users` filter matches nothing at small SF). */
  private def d103(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .select(struct(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type")).as("doc"))
    val evSchema = ev.schema("doc").dataType.asInstanceOf[StructType]
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "series": {
        |      "filters": {
        |        "filters": {
        |          "purchases": { "term": { "event_type": "purchase" } },
        |          "errors": { "term": { "event_type": "error" } },
        |          "heavy_users": { "range": { "user_id": { "gte": 500 } } }
        |        }
        |      },
        |      "aggs": {
        |        "per_day": {
        |          "date_histogram": { "field": "ts", "calendar_interval": "day" },
        |          "aggs": {
        |            "uid_max": { "max": { "field": "user_id" } }
        |          }
        |        }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(ev, "doc", body, evSchema)
  }

  private val d103Sql =
    """WITH base AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, user_id
      |  FROM events),
      |f AS (
      |  SELECT 0 AS ord, 'purchases' AS key, day AS key2,
      |    CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS doc_count2,
      |    MAX(user_id) FILTER (event_type = 'purchase') AS uid_max
      |  FROM base GROUP BY day
      |  UNION ALL
      |  SELECT 1, 'errors', day, CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT),
      |    MAX(user_id) FILTER (event_type = 'error') FROM base GROUP BY day
      |  UNION ALL
      |  SELECT 2, 'heavy_users', day, CAST(COUNT(*) FILTER (user_id >= 500) AS BIGINT),
      |    MAX(user_id) FILTER (user_id >= 500) FROM base GROUP BY day)
      |, w AS (
      |  SELECT ord, key, CAST(SUM(doc_count2) OVER (PARTITION BY key) AS BIGINT) AS doc_count,
      |    key2, doc_count2, uid_max,
      |    SUM(CASE WHEN doc_count2 > 0 THEN 1 ELSE 0 END) OVER (PARTITION BY key) AS surv,
      |    ROW_NUMBER() OVER (PARTITION BY key ORDER BY key2) AS pn
      |  FROM f)
      |SELECT key, doc_count,
      |  CASE WHEN surv = 0 THEN NULL ELSE key2 END AS key2,
      |  CAST(CASE WHEN surv = 0 THEN 0 ELSE doc_count2 END AS BIGINT) AS doc_count2,
      |  CASE WHEN surv = 0 THEN NULL ELSE uid_max END AS uid_max
      |FROM w WHERE doc_count2 > 0 OR (surv = 0 AND pn = 1)
      |ORDER BY ord, key2""".stripMargin

  // ---------------------------------------------------------------- d104
  /** ES `terms_set` — "plans whose services cover at least 2 of these 3
    * priority tiers": matching-term count (DISTINCT terms present in the
    * multi-valued field) compared to `minimum_should_match`. Pure array
    * expressions over the document column (`transform` +
    * `array_intersect`) — no explode, no join; the filter rides the
    * normal scan pushdown path. */
  private def d104(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "terms_set": {
        |      "linkedPlanServices.linkedService.name": {
        |        "terms": [ "Service 1-URGENT", "Service 2-HIGH", "Service 3-MEDIUM" ],
        |        "minimum_should_match": 2
        |      }
        |    }
        |  }
        |}""".stripMargin
    val ast = SearchQuery.fromJson(body, schema)
    assembled(s, d).filter(SearchQuery.compile(ast, col("doc")))
      .select(col("doc.objectId").as("objectId"), col("doc.planType").as("planType"))
      .orderBy(col("objectId"))
  }

  private val d104Sql =
    s"""WITH hits AS (
       |  SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS m
       |  FROM orders
       |  WHERE o_custkey % 113 <> 0
       |    AND o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
       |  GROUP BY o_custkey)
       |SELECT 'plan-' || ${ck("c_custkey")} AS "objectId", c_mktsegment AS "planType"
       |FROM customer JOIN hits ON c_custkey = o_custkey
       |WHERE m >= 2 ORDER BY "objectId"""".stripMargin

  // ---------------------------------------------------------------- d105
  /** ES `pinned` — curated results: the listed ids rank FIRST in exactly
    * the body's order (a 1e9-based integer score ladder, above any
    * clause count), organic hits follow by their own should-clause
    * relevance; pinned docs match regardless of the organic filter (the
    * ES contract). Still one scan + one TakeOrderedAndProject — the
    * score override is a pure per-row expression. */
  private def d105(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "pinned": {
        |      "ids": [ "plan-93", "plan-7", "plan-150" ],
        |      "organic": {
        |        "bool": {
        |          "must": [ { "range": { "planCostShares.copay": { "gte": 35 } } } ],
        |          "should": [
        |            { "match": { "planType": "FURNITURE" } },
        |            { "prefix": { "_org": { "value": "org-2" } } }
        |          ]
        |        }
        |      }
        |    }
        |  },
        |  "size": 8,
        |  "_source": ["objectId", "planType"]
        |}""".stripMargin
    SearchExec.search(assembled(s, d), "doc", body, schema)
  }

  private val d105Sql =
    s"""SELECT rn, score, "objectId", "planType" FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, "objectId" ASC) AS rn FROM (
       |    SELECT 'plan-' || ${ck("c_custkey")} AS "objectId", c_mktsegment AS "planType",
       |      CAST(CASE 'plan-' || ${ck("c_custkey")}
       |          WHEN 'plan-93' THEN 1000000002
       |          WHEN 'plan-7' THEN 1000000001
       |          WHEN 'plan-150' THEN 1000000000
       |          ELSE CASE WHEN lower(c_mktsegment) = 'furniture' THEN 1 ELSE 0 END
       |             + CASE WHEN 'org-' || ${ck("c_nationkey")} || '.example.com' LIKE 'org-2%'
       |                    THEN 1 ELSE 0 END
       |        END AS BIGINT) AS score
       |    FROM customer
       |    WHERE 'plan-' || ${ck("c_custkey")} IN ('plan-93', 'plan-7', 'plan-150')
       |       OR c_custkey % 50 >= 35))
       |WHERE rn <= 8 ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d106
  /** `range` agg with CUSTOM bucket keys (ES `key` per range) — the
    * Kibana tier-label body ("cheap"/"mid"/"premium" instead of
    * "*-1000"). Same one-pass conditional aggregation as d53 — the keys
    * are render-time constants. */
  private def d106(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "tiers": {
        |      "range": {
        |        "field": "planCostShares.deductible",
        |        "ranges": [
        |          { "key": "cheap", "to": 800 },
        |          { "key": "mid", "from": 800, "to": 1600 },
        |          { "key": "premium", "from": 1600 }
        |        ]
        |      },
        |      "aggs": {
        |        "avg_copay": { "avg": { "field": "planCostShares.copay" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d106Sql =
    """WITH base AS (SELECT CAST(c_nationkey * 100 AS BIGINT) AS ded,
      |    CAST(c_custkey % 50 AS BIGINT) AS copay FROM customer)
      |SELECT 'cheap' AS key, CAST(COUNT(*) FILTER (ded < 800) AS BIGINT) AS doc_count,
      |  AVG(copay) FILTER (ded < 800) AS avg_copay FROM base
      |UNION ALL
      |SELECT 'mid', CAST(COUNT(*) FILTER (ded >= 800 AND ded < 1600) AS BIGINT),
      |  AVG(copay) FILTER (ded >= 800 AND ded < 1600) FROM base
      |UNION ALL
      |SELECT 'premium', CAST(COUNT(*) FILTER (ded >= 1600) AS BIGINT),
      |  AVG(copay) FILTER (ded >= 1600) FROM base""".stripMargin

  // ---------------------------------------------------------------- d107
  /** ES `match_bool_prefix` — search-as-you-type: all but the last
    * analyzed term match as full tokens, the last as a token PREFIX;
    * `operator: and` binds every clause to the SAME array element
    * (nested scoping, like `match`). Pure per-element string
    * expressions — no explode, no join. */
  private def d107(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "match_bool_prefix": {
        |      "linkedPlanServices.linkedService.name": {
        |        "query": "4-not spec",
        |        "operator": "and"
        |      }
        |    }
        |  }
        |}""".stripMargin
    val ast = SearchQuery.fromJson(body, schema)
    assembled(s, d).filter(SearchQuery.compile(ast, col("doc")))
      .select(col("doc.objectId").as("objectId"),
        size(col("doc.linkedPlanServices")).as("n_services"))
      .orderBy(col("objectId"))
  }

  private val d107Sql =
    s"""WITH o AS $O
       |SELECT 'plan-' || ${ck("c_custkey")} AS "objectId",
       |  (SELECT COUNT(*) FROM o WHERE o_custkey = c_custkey) AS n_services
       |FROM customer
       |WHERE EXISTS (SELECT 1 FROM o WHERE o_custkey = c_custkey
       |        AND ' ' || lower('Service ' || o_orderpriority) || ' ' LIKE '% 4-not %'
       |        AND ' ' || lower('Service ' || o_orderpriority) || ' ' LIKE '% spec%')
       |ORDER BY "objectId"""".stripMargin

  // ---------------------------------------------------------------- d108
  /** ES `boxplot` metric — the five-number summary per bucket, EXACT
    * linear-interpolated quartiles (ES TDigest-approximate; documented
    * upgrade). Same single-hash-agg plan as any metric set. */
  private def d108(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "by_type": {
        |      "terms": { "field": "planType", "size": 10 },
        |      "aggs": {
        |        "copay_box": { "boxplot": { "field": "planCostShares.copay" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d108Sql =
    """WITH base AS (SELECT c_mktsegment AS key, CAST(c_custkey % 50 AS BIGINT) AS v
      |  FROM customer)
      |SELECT key, CAST(COUNT(*) AS BIGINT) AS doc_count,
      |  MIN(v) AS copay_box_min,
      |  quantile_cont(v, 0.25) AS copay_box_q1,
      |  quantile_cont(v, 0.5) AS copay_box_q2,
      |  quantile_cont(v, 0.75) AS copay_box_q3,
      |  MAX(v) AS copay_box_max
      |FROM base GROUP BY key ORDER BY doc_count DESC, key LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- d109
  /** ES `rate` with `unit: day` under an ISO-week date_histogram — the
    * Lens "normalize by unit" toggle: events-per-day for each week
    * bucket. Calendar-aware (datediff of the bucket step — a month
    * parent divides a 31-day January by 31), one double division over
    * the exact bucket count. */
  private def d109(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .select(struct(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type")).as("doc"))
    val evSchema = ev.schema("doc").dataType.asInstanceOf[StructType]
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "weekly": {
        |      "date_histogram": { "field": "ts", "calendar_interval": "week" },
        |      "aggs": {
        |        "per_day": { "rate": { "unit": "day" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(ev, "doc", body, evSchema)
  }

  private val d109Sql =
    """SELECT CAST(date_trunc('week', ts) AS DATE) AS key,
      |  CAST(COUNT(*) AS BIGINT) AS doc_count,
      |  CAST(COUNT(*) AS DOUBLE) / 7 AS per_day
      |FROM events GROUP BY 1 ORDER BY key""".stripMargin

  // ---------------------------------------------------------------- d110
  /** `significant_terms` with ES `background_filter` — "what market
    * segments are over-represented among high-copay plans, COMPARED TO
    * high-deductible plans" (the Discover compare-to-segment body). The
    * background filter is a pushable corpus predicate; the JLH shape
    * stays one corpus shuffle with window totals (d61). */
  private def d110(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "query": { "range": { "planCostShares.copay": { "gte": 40 } } },
        |  "aggs": {
        |    "seg": {
        |      "significant_terms": {
        |        "field": "planType",
        |        "size": 3,
        |        "background_filter": { "range": { "planCostShares.deductible": { "gte": 500 } } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d110Sql =
    """WITH g AS (
      |  SELECT c_mktsegment AS key,
      |    CAST(SUM(CASE WHEN c_custkey % 50 >= 40 THEN 1 ELSE 0 END) AS BIGINT) AS doc_count,
      |    CAST(COUNT(*) AS BIGINT) AS bg_count
      |  FROM customer WHERE c_nationkey * 100 >= 500 GROUP BY 1),
      |t AS (
      |  SELECT *, CAST(SUM(doc_count) OVER () AS BIGINT) AS ft,
      |    CAST(SUM(bg_count) OVER () AS BIGINT) AS bt
      |  FROM g)
      |SELECT key, doc_count, bg_count,
      |  (CAST(doc_count AS DOUBLE) / ft - CAST(bg_count AS DOUBLE) / bt)
      |    * ((CAST(doc_count AS DOUBLE) / ft) / (CAST(bg_count AS DOUBLE) / bt)) AS score
      |FROM t WHERE doc_count > 0 ORDER BY score DESC, key ASC LIMIT 3""".stripMargin

  // ---------------------------------------------------------------- d111
  /** `match_phrase` with `slop` — the sloppy phrase query ("service …
    * specified" with one token between): Lucene's move-count metric over
    * analyzed token positions, evaluated as a pure array expression per
    * element (O(occ²) per row, no explode, no positional index). Here
    * slop 1 admits exactly the one-token gap in "Service 4-NOT
    * SPECIFIED"; slop 0 (plain match_phrase, d34) would not. */
  private def d111(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "match_phrase": {
        |      "linkedPlanServices.linkedService.name": {
        |        "query": "service specified",
        |        "slop": 1
        |      }
        |    }
        |  }
        |}""".stripMargin
    val ast = SearchQuery.fromJson(body, schema)
    assembled(s, d).filter(SearchQuery.compile(ast, col("doc")))
      .select(col("doc.objectId").as("objectId"),
        size(col("doc.linkedPlanServices")).as("n_services"))
      .orderBy(col("objectId"))
  }

  private val d111Sql =
    s"""WITH o AS $O
       |SELECT 'plan-' || ${ck("c_custkey")} AS "objectId",
       |  (SELECT COUNT(*) FROM o WHERE o_custkey = c_custkey) AS n_services
       |FROM customer
       |WHERE EXISTS (SELECT 1 FROM o WHERE o_custkey = c_custkey
       |        AND o_orderpriority = '4-NOT SPECIFIED')
       |ORDER BY "objectId"""".stripMargin

  // ---------------------------------------------------------------- d112
  /** ES `percolate` — REVERSE search (alerting/saved-searches): a set of
    * registered query bodies is evaluated against every document, and
    * each document reports which queries it matches. Every registered
    * body compiles through the same `SearchQuery` parser as a forward
    * search; the whole percolation is ONE corpus scan with N boolean
    * columns and a constant-size unfold — no join, no shuffle at all
    * (the shape that lets a million-document batch percolate against a
    * saved-search registry in one pass). */
  private def d112(s: SparkSession, d: String): DataFrame = {
    val registered = Seq(
      "q_high_copay" ->
        """{"query": {"range": {"planCostShares.copay": {"gte": 45}}}}""",
      "q_building_org1" ->
        """{"query": {"bool": {"must": [
          |  {"term": {"planType": "BUILDING"}},
          |  {"prefix": {"_org": {"value": "org-1"}}}]}}}""".stripMargin,
      "q_urgent_service" ->
        """{"query": {"nested": {"path": "linkedPlanServices",
          |  "query": {"match": {"linkedPlanServices.linkedService.name": "1-urgent"}}}}}""".stripMargin,
      "q_no_services" ->
        """{"query": {"bool": {"must_not": [{"exists": {"field": "linkedPlanServices"}}]}}}""")
    val preds = registered.map { case (n, b) =>
      n -> SearchQuery.compile(SearchQuery.fromJson(b, schema), col("doc")) }
    assembled(s, d)
      .select(col("doc.objectId").as("objectId"),
        explode(array(preds.map { case (n, p) =>
          when(coalesce(p, lit(false)), lit(n)).otherwise(lit(null).cast("string"))
        }: _*)).as("query_id"))
      .filter(col("query_id").isNotNull)
      .orderBy(col("objectId"), col("query_id"))
  }

  private val d112Sql =
    s"""WITH o AS $O,
       |base AS (
       |  SELECT 'plan-' || ${ck("c_custkey")} AS oid, c_custkey AS ck0,
       |    CAST(c_custkey % 50 AS BIGINT) AS copay, c_mktsegment AS pt,
       |    'org-' || ${ck("c_nationkey")} || '.example.com' AS org
       |  FROM customer)
       |SELECT oid AS "objectId", query_id FROM (
       |  SELECT oid, 'q_high_copay' AS query_id FROM base WHERE copay >= 45
       |  UNION ALL
       |  SELECT oid, 'q_building_org1' FROM base
       |  WHERE pt = 'BUILDING' AND org LIKE 'org-1%'
       |  UNION ALL
       |  SELECT oid, 'q_urgent_service' FROM base
       |  WHERE EXISTS (SELECT 1 FROM o WHERE o_custkey = ck0
       |          AND ' ' || lower('Service ' || o_orderpriority) || ' ' LIKE '% 1-urgent %')
       |  UNION ALL
       |  SELECT oid, 'q_no_services' FROM base
       |  WHERE NOT EXISTS (SELECT 1 FROM o WHERE o_custkey = ck0))
       |ORDER BY "objectId", query_id""".stripMargin

  // ---------------------------------------------------------------- d113
  /** ES `moving_percentiles` — the trailing-window percentile band
    * (anomaly baseline) along a daily axis: p50/p90 of the last 7 days'
    * counts, current day excluded (ES shift-0 frame). EXACT
    * linear-interpolated percentiles as window aggregates over the
    * |buckets|-row table. */
  private def d113(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .select(struct(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type")).as("doc"))
    val evSchema = ev.schema("doc").dataType.asInstanceOf[StructType]
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "daily": {
        |      "date_histogram": { "field": "ts", "calendar_interval": "day" },
        |      "aggs": {
        |        "baseline": { "moving_percentiles": { "buckets_path": "_count",
        |                                              "window": 7,
        |                                              "percents": [50, 90] } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(ev, "doc", body, evSchema)
  }

  private val d113Sql =
    """WITH g AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS key,
      |    CAST(COUNT(*) AS BIGINT) AS doc_count
      |  FROM events GROUP BY 1)
      |SELECT key, doc_count,
      |  quantile_cont(doc_count, 0.5) OVER w AS baseline_p50,
      |  quantile_cont(doc_count, 0.9) OVER w AS baseline_p90
      |FROM g
      |WINDOW w AS (ORDER BY key ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
      |ORDER BY key""".stripMargin

  // ---------------------------------------------------------------- d114
  /** FOUR-level bucket split — the deepest Kibana data-table body
    * ("split rows ×3"): terms × terms × histogram × histogram with a
    * leaf metric. Still ONE composite-key corpus aggregation (the same
    * plan shape as d74 plus one more window column over the bucket
    * table): depth changes the key width, never the number of corpus
    * passes or shuffles. */
  private def d114(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "by_type": {
        |      "terms": { "field": "planType", "size": 3 },
        |      "aggs": {
        |        "by_org": {
        |          "terms": { "field": "_org", "size": 4 },
        |          "aggs": {
        |            "copay_hist": {
        |              "histogram": { "field": "planCostShares.copay", "interval": 25 },
        |              "aggs": {
        |                "ded_hist": {
        |                  "histogram": { "field": "planCostShares.deductible",
        |                                 "interval": 1000 },
        |                  "aggs": {
        |                    "max_ded": { "max": { "field": "planCostShares.deductible" } }
        |                  }
        |                }
        |              }
        |            }
        |          }
        |        }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d114Sql =
    s"""WITH base AS (
       |  SELECT c_mktsegment AS key,
       |    'org-' || ${ck("c_nationkey")} || '.example.com' AS key2,
       |    CAST((c_custkey % 50) // 25 * 25 AS BIGINT) AS key3,
       |    CAST((c_nationkey * 100) // 1000 * 1000 AS BIGINT) AS key4,
       |    CAST(c_nationkey * 100 AS BIGINT) AS ded
       |  FROM customer),
       |leaf AS (SELECT key, key2, key3, key4, CAST(COUNT(*) AS BIGINT) AS doc_count4,
       |    MAX(ded) AS max_ded FROM base GROUP BY 1, 2, 3, 4),
       |l3 AS (SELECT *,
       |    CAST(SUM(doc_count4) OVER (PARTITION BY key, key2, key3) AS BIGINT) AS doc_count3,
       |    CAST(SUM(doc_count4) OVER (PARTITION BY key, key2) AS BIGINT) AS doc_count2,
       |    CAST(SUM(doc_count4) OVER (PARTITION BY key) AS BIGINT) AS doc_count
       |  FROM leaf),
       |p AS (SELECT * FROM (SELECT *, DENSE_RANK() OVER (ORDER BY doc_count DESC, key) AS pr
       |      FROM l3) WHERE pr <= 3),
       |c AS (SELECT * FROM (SELECT *, DENSE_RANK() OVER (PARTITION BY key
       |        ORDER BY doc_count2 DESC, key2) AS cr
       |      FROM p) WHERE cr <= 4)
       |SELECT key, doc_count, key2, doc_count2, key3, doc_count3, key4, doc_count4, max_ded
       |FROM c
       |ORDER BY doc_count DESC, key, doc_count2 DESC, key2, key3, key4""".stripMargin

  // ---------------------------------------------------------------- d115
  /** `track_total_hits: true` — the exact hit count beside the page (the
    * "1,234 results" header every search UI renders; ES defaults to a
    * 10k lower bound, this engine is exact — same documented upgrade as
    * cardinality). One extra global count sharing the scan's pushed
    * filters, broadcast onto the ≤size-row page. */
  private def d115(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "bool": {
        |      "must": [ { "range": { "planCostShares.copay": { "gte": 20 } } } ],
        |      "should": [ { "match": { "planType": "HOUSEHOLD" } } ]
        |    }
        |  },
        |  "size": 5,
        |  "_source": ["objectId", "planType"],
        |  "track_total_hits": true
        |}""".stripMargin
    SearchExec.search(assembled(s, d), "doc", body, schema)
  }

  private val d115Sql =
    s"""WITH hits AS (
       |  SELECT 'plan-' || ${ck("c_custkey")} AS "objectId", c_mktsegment AS "planType",
       |    CAST(CASE WHEN lower(c_mktsegment) = 'household' THEN 1 ELSE 0 END AS BIGINT)
       |      AS score
       |  FROM customer WHERE c_custkey % 50 >= 20),
       |page AS (
       |  SELECT rn, score, "objectId", "planType" FROM (
       |    SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, "objectId" ASC) AS rn
       |    FROM hits)
       |  WHERE rn <= 5)
       |SELECT rn, score, "objectId", "planType",
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS total
       |FROM page ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d116
  /** ES `completion` suggester — search-box autocomplete: suggestions
    * extending the typed prefix, ranked by weight then alphabetically.
    * ES backs this with an in-memory FST and per-suggestion weights;
    * the relational equivalent derives the suggestion dictionary from
    * the corpus (distinct service names, weight = document frequency —
    * the dictionary-build a real deployment runs offline) and serves the
    * prefix from it: a pushable startsWith filter + one hash agg over
    * matching names + a bounded top-N. The dictionary aggregation is
    * the only corpus-scale work and it prunes to the prefix at the
    * scan. */
  private def d116(s: SparkSession, d: String): DataFrame = {
    val prefix = "Service 3"
    assembled(s, d)
      .select(explode(col("doc.linkedPlanServices")).as("el"))
      .select(col("el.linkedService.name").as("suggestion"))
      .filter(col("suggestion").startsWith(prefix))
      .groupBy(col("suggestion"))
      .agg(count(lit(1)).as("weight"))
      .orderBy(col("weight").desc, col("suggestion"))
      .limit(5)
  }

  private val d116Sql =
    s"""SELECT 'Service ' || o_orderpriority AS suggestion,
       |  CAST(COUNT(*) AS BIGINT) AS weight
       |FROM orders
       |WHERE o_custkey % 113 <> 0
       |  AND 'Service ' || o_orderpriority LIKE 'Service 3%'
       |GROUP BY 1 ORDER BY weight DESC, suggestion LIMIT 5""".stripMargin

  // ---------------------------------------------------------------- d117
  /** Metrics at EVERY split level (the ES contract d74's leaf-only shape
    * didn't cover): a parent-level `avg` beside the sub-bucket plus a
    * leaf `max`. The parent metric is carried as leaf-grain partials in
    * the SAME single aggregation and recombined as a window over the
    * parent key — still one corpus pass at any depth; non-decomposable
    * kinds at a non-leaf level are rejected loudly. */
  private def d117(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "by_type": {
        |      "terms": { "field": "planType", "size": 3 },
        |      "aggs": {
        |        "avg_copay": { "avg": { "field": "planCostShares.copay" } },
        |        "by_org": {
        |          "terms": { "field": "_org", "size": 4 },
        |          "aggs": {
        |            "max_ded": { "max": { "field": "planCostShares.deductible" } }
        |          }
        |        }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d117Sql =
    s"""WITH base AS (
       |  SELECT c_mktsegment AS key,
       |    'org-' || ${ck("c_nationkey")} || '.example.com' AS key2,
       |    CAST(c_custkey % 50 AS BIGINT) AS copay,
       |    CAST(c_nationkey * 100 AS BIGINT) AS ded
       |  FROM customer),
       |leaf AS (SELECT key, key2, CAST(COUNT(*) AS BIGINT) AS doc_count2,
       |    CAST(SUM(copay) AS BIGINT) AS cps, CAST(COUNT(copay) AS BIGINT) AS cpc,
       |    MAX(ded) AS max_ded
       |  FROM base GROUP BY 1, 2),
       |l2 AS (SELECT *,
       |    CAST(SUM(doc_count2) OVER (PARTITION BY key) AS BIGINT) AS doc_count,
       |    CAST(SUM(cps) OVER (PARTITION BY key) AS DOUBLE)
       |      / SUM(cpc) OVER (PARTITION BY key) AS avg_copay
       |  FROM leaf),
       |p AS (SELECT * FROM (SELECT *, DENSE_RANK() OVER (ORDER BY doc_count DESC, key) AS pr
       |      FROM l2) WHERE pr <= 3),
       |c AS (SELECT * FROM (SELECT *, DENSE_RANK() OVER (PARTITION BY key
       |        ORDER BY doc_count2 DESC, key2) AS cr
       |      FROM p) WHERE cr <= 4)
       |SELECT key, doc_count, key2, doc_count2, avg_copay, max_ded
       |FROM c
       |ORDER BY doc_count DESC, key, doc_count2 DESC, key2""".stripMargin

  // ---------------------------------------------------------------- d118
  /** `histogram` with ES `hard_bounds` — the outlier-proof fixed axis:
    * buckets whose KEY falls outside [10, 40] are CLIPPED (ES clips by
    * the rounded bucket key, both ends inclusive — so key 40 keeps its
    * whole [40, 50) population), unlike extended_bounds which only
    * widens. The clip is a scan-stage predicate on the key expression,
    * so at scale it PRUNES work rather than adding any. */
  private def d118(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "copay_axis": {
        |      "histogram": { "field": "planCostShares.copay", "interval": 10,
        |                     "hard_bounds": { "min": 10, "max": 40 } },
        |      "aggs": {
        |        "avg_ded": { "avg": { "field": "planCostShares.deductible" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d118Sql =
    """WITH base AS (SELECT CAST(c_custkey % 50 AS BIGINT) AS copay,
      |    CAST(c_nationkey * 100 AS BIGINT) AS ded FROM customer)
      |SELECT copay // 10 * 10 AS key, CAST(COUNT(*) AS BIGINT) AS doc_count,
      |  AVG(ded) AS avg_ded
      |FROM base WHERE copay // 10 * 10 BETWEEN 10 AND 40
      |GROUP BY 1 ORDER BY key""".stripMargin

  // ---------------------------------------------------------------- d119
  /** `filters` agg INSIDE a `nested` context (+ other_bucket) — the
    * element-grain "filter ratio" panel: named buckets of array ELEMENTS
    * (each nested element is its own ES doc), with element-grain metrics.
    * Still the flat-filters shape after the context switch: explode →
    * ONE conditional global aggregation (no groupBy shuffle at all) —
    * predicates compile per element (SearchQuery.compileInNested). */
  private def d119(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "services": {
        |      "nested": { "path": "linkedPlanServices" },
        |      "aggs": {
        |        "tiers": {
        |          "filters": {
        |            "other_bucket_key": "rest",
        |            "filters": {
        |              "urgent": { "term": { "linkedPlanServices.linkedService.name.keyword": "Service 1-URGENT" } },
        |              "low": { "wildcard": { "linkedPlanServices.linkedService.name.keyword": "*LOW" } }
        |            }
        |          },
        |          "aggs": {
        |            "avg_copay": { "avg": { "field": "linkedPlanServices.planserviceCostShares.copay" } },
        |            "max_ded": { "max": { "field": "linkedPlanServices.planserviceCostShares.deductible" } }
        |          }
        |        }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d119Sql =
    s"""WITH o AS $O,
       |e AS (SELECT 'Service ' || o_orderpriority AS name,
       |        o_custkey % 200 AS copay, o_orderkey % 1000 AS ded FROM o)
       |SELECT 'urgent' AS key,
       |  CAST(COUNT(*) FILTER (name = 'Service 1-URGENT') AS BIGINT) AS doc_count,
       |  AVG(copay) FILTER (name = 'Service 1-URGENT') AS avg_copay,
       |  CAST(MAX(ded) FILTER (name = 'Service 1-URGENT') AS BIGINT) AS max_ded FROM e
       |UNION ALL SELECT 'low',
       |  CAST(COUNT(*) FILTER (name LIKE '%LOW') AS BIGINT),
       |  AVG(copay) FILTER (name LIKE '%LOW'),
       |  CAST(MAX(ded) FILTER (name LIKE '%LOW') AS BIGINT) FROM e
       |UNION ALL SELECT 'rest',
       |  CAST(COUNT(*) FILTER (NOT (name = 'Service 1-URGENT' OR name LIKE '%LOW')) AS BIGINT),
       |  AVG(copay) FILTER (NOT (name = 'Service 1-URGENT' OR name LIKE '%LOW')),
       |  CAST(MAX(ded) FILTER (NOT (name = 'Service 1-URGENT' OR name LIKE '%LOW')) AS BIGINT)
       |FROM e""".stripMargin

  // ---------------------------------------------------------------- d120
  /** `function_score` `gauss` decay — ES's DEFAULT decay shape in every
    * docs example ("nearby wins, far loses fast"): copay nearest 10
    * (±3 offset plateau) scores highest under a bell curve. The kernel is
    * `exp(dist²·ln(decay)/scale²)` with the constant folded at parse;
    * libm exp/log are ≤1-ulp in every mainstream engine, so Spark and
    * the DuckDB oracle agree to ~1e-15 on the [0,4] score — far inside
    * the checker's 9-dp compare (documented tolerance; the linear kernel
    * d90 stays the bit-exact member of the family). */
  private def d120(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "function_score": {
        |      "query": { "bool": { "filter": [ { "exists": { "field": "planType" } } ] } },
        |      "functions": [
        |        { "gauss": { "planCostShares.copay": {
        |            "origin": 10, "scale": 15, "offset": 3, "decay": 0.5,
        |            "missing": 0 } }, "weight": 4 }
        |      ],
        |      "score_mode": "multiply",
        |      "boost_mode": "multiply"
        |    }
        |  },
        |  "sort": [ { "_score": { "order": "desc" } }, { "objectId": { "order": "asc" } } ],
        |  "size": 12,
        |  "_source": ["objectId", "planCostShares.copay"]
        |}""".stripMargin
    SearchExec.search(assembled(s, d), "doc", body, schema)
  }

  private val d120Sql =
    s"""SELECT rn, score, "objectId", "planCostShares_copay" FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, "objectId" ASC) AS rn FROM (
       |    SELECT 'plan-' || ${ck("c_custkey")} AS "objectId",
       |      c_custkey % 50 AS "planCostShares_copay",
       |      1.0 * (EXP(
       |        greatest(0.0, abs(CAST(c_custkey % 50 AS DOUBLE) - 10.0) - 3.0)
       |          * greatest(0.0, abs(CAST(c_custkey % 50 AS DOUBLE) - 10.0) - 3.0)
       |          * (LN(0.5) / (15.0 * 15.0))) * 4.0) AS score
       |    FROM customer WHERE c_mktsegment IS NOT NULL))
       |WHERE rn <= 12 ORDER BY rn""".stripMargin

  /** Geo corpus — the schema has no native coordinates (FIXTURES.md §4),
    * so plant a deterministic tenth-of-a-degree grid from the customer
    * key (the m5/dd8 in-query planting pattern, SQL-replayable exactly):
    * lat ∈ [-60, 60], lon ∈ [-180, 179.9]. Materialized to parquet so
    * the geo_distance bounding box hits REAL pushed filters at the scan. */
  private def geoDocs(s: SparkSession, d: String): DataFrame =
    customerTable(s, d, "geo")(graft.Tables(s, d, "customer").select(struct(
        concat(lit("plan-"), col("c_custkey").cast("string")).as("objectId"),
        struct(
          (((col("c_custkey") * 37) % 1201 - 600).cast("double") / 10.0).as("lat"),
          (((col("c_custkey") * 73) % 3600 - 1800).cast("double") / 10.0).as("lon")
        ).as("location"),
        col("c_mktsegment").as("planType"),
        (col("c_custkey") % 50).as("copay")).as("doc")))

  private def geoSchema(df: DataFrame): StructType =
    df.schema("doc").dataType.asInstanceOf[StructType]

  private val geoLatSql = "CAST((c_custkey * 37) % 1201 - 600 AS DOUBLE) / 10.0"
  private val geoLonSql = "CAST((c_custkey * 73) % 3600 - 1800 AS DOUBLE) / 10.0"

  // ---------------------------------------------------------------- d121
  /** ES `geo_distance` QUERY — "everything within 2000 km of here", the
    * top geo request family. Compiles to a conservative lat/lon bounding
    * BOX (plain numeric bounds — pushed to the parquet scan, plan-pinned,
    * so most of the planet prunes at row-group grain without a single
    * sin()) AND the haversine circle itself. Distance arithmetic is the
    * same fixed IEEE op sequence as the DuckDB oracle (Geo.scala's
    * documented ~1e-15 libm tolerance). */
  private def d121(s: SparkSession, d: String): DataFrame = {
    val geo = geoDocs(s, d)
    val body =
      """{
        |  "query": { "geo_distance": { "distance": "2000km",
        |                               "location": { "lat": 10.0, "lon": 20.0 } } }
        |}""".stripMargin
    val ast = SearchQuery.fromJson(body, geoSchema(geo))
    geo.filter(SearchQuery.compile(ast, col("doc")))
      .select(col("doc.objectId").as("objectId"),
        col("doc.location.lat").as("lat"), col("doc.location.lon").as("lon"))
      .orderBy(col("objectId"))
  }

  private val d121Sql =
    s"""WITH pts AS (
       |  SELECT 'plan-' || ${ck("c_custkey")} AS "objectId",
       |    $geoLatSql AS lat, $geoLonSql AS lon
       |  FROM customer)
       |SELECT "objectId", lat, lon FROM pts
       |WHERE ${Geo.haversineSql("lat", "lon", 10.0, 20.0)} <= 2000000.0
       |ORDER BY "objectId"""".stripMargin

  // ---------------------------------------------------------------- d122
  /** ES `geotile_grid` agg — the Kibana map panel: web-mercator slippy
    * tiles as buckets (key `"z/x/y"`), top-N by doc_count, with a metric
    * per tile. ONE hash aggregation on the tile-key expression — the
    * trig runs map-side once per row, the shuffle carries tile keys. */
  private def d122(s: SparkSession, d: String): DataFrame = {
    val geo = geoDocs(s, d)
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "tiles": {
        |      "geotile_grid": { "field": "location", "precision": 4, "size": 15 },
        |      "aggs": { "avg_copay": { "avg": { "field": "copay" } } }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(geo, "doc", body, geoSchema(geo))
  }

  private val d122Sql =
    s"""WITH pts AS (
       |  SELECT $geoLatSql AS lat, $geoLonSql AS lon, c_custkey % 50 AS copay
       |  FROM customer)
       |SELECT ${Geo.tileKeySql("lat", "lon", 4)} AS key,
       |  CAST(COUNT(*) AS BIGINT) AS doc_count, AVG(copay) AS avg_copay
       |FROM pts GROUP BY 1 ORDER BY doc_count DESC, key ASC LIMIT 15""".stripMargin

  // ---------------------------------------------------------------- d130
  /** ES `geo_distance` AGG — concentric rings around an origin ("how
    * far away are my customers"): the range-agg shape over ONE haversine
    * column, every ring a conditional count off it — one global
    * conditional aggregation, no shuffle, no second scan. */
  private def d130(s: SparkSession, d: String): DataFrame = {
    val geo = geoDocs(s, d)
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "rings": {
        |      "geo_distance": {
        |        "field": "location", "origin": { "lat": 0.0, "lon": 0.0 },
        |        "unit": "km",
        |        "ranges": [ { "to": 3000, "key": "near" },
        |                    { "from": 3000, "to": 8000, "key": "mid" },
        |                    { "from": 8000, "key": "far" } ]
        |      },
        |      "aggs": { "avg_copay": { "avg": { "field": "copay" } } }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(geo, "doc", body, geoSchema(geo))
  }

  private val d130Sql = {
    val dist = Geo.haversineSql("lat", "lon", 0.0, 0.0)
    s"""WITH pts AS (
       |  SELECT $geoLatSql AS lat, $geoLonSql AS lon, c_custkey % 50 AS copay
       |  FROM customer)
       |SELECT 'near' AS key, CAST(COUNT(*) FILTER ($dist < 3000000.0) AS BIGINT) AS doc_count,
       |  AVG(copay) FILTER ($dist < 3000000.0) AS avg_copay FROM pts
       |UNION ALL SELECT 'mid',
       |  CAST(COUNT(*) FILTER ($dist >= 3000000.0 AND $dist < 8000000.0) AS BIGINT),
       |  AVG(copay) FILTER ($dist >= 3000000.0 AND $dist < 8000000.0) FROM pts
       |UNION ALL SELECT 'far', CAST(COUNT(*) FILTER ($dist >= 8000000.0) AS BIGINT),
       |  AVG(copay) FILTER ($dist >= 8000000.0) FROM pts""".stripMargin
  }

  // ---------------------------------------------------------------- d132
  /** ES `geo_bounding_box` query — the map-viewport filter: a PURE
    * lat/lon range predicate (no trigonometry at all), so the whole
    * query pushes to the scan. The cheapest member of the geo family
    * and the one every map pan/zoom emits. */
  private def d132(s: SparkSession, d: String): DataFrame = {
    val geo = geoDocs(s, d)
    val body =
      """{
        |  "query": { "geo_bounding_box": { "location": {
        |    "top_left": { "lat": 45.0, "lon": -30.0 },
        |    "bottom_right": { "lat": -10.0, "lon": 60.0 } } } }
        |}""".stripMargin
    val ast = SearchQuery.fromJson(body, geoSchema(geo))
    geo.filter(SearchQuery.compile(ast, col("doc")))
      .select(col("doc.objectId").as("objectId"),
        col("doc.location.lat").as("lat"), col("doc.location.lon").as("lon"))
      .orderBy(col("objectId"))
  }

  private val d132Sql =
    s"""WITH pts AS (
       |  SELECT 'plan-' || ${ck("c_custkey")} AS "objectId",
       |    $geoLatSql AS lat, $geoLonSql AS lon
       |  FROM customer)
       |SELECT "objectId", lat, lon FROM pts
       |WHERE lat <= 45.0 AND lat >= -10.0 AND lon >= -30.0 AND lon <= 60.0
       |ORDER BY "objectId"""".stripMargin

  // ---------------------------------------------------------------- d133
  /** ES `geohash_grid` agg — geohash cells as map buckets (the other
    * Kibana grid): base-32 cell ids from pure integer quantize-and-
    * interleave bit arithmetic (no trig, bit-exact in any engine), one
    * hash aggregation, top-N by doc_count. */
  private def d133(s: SparkSession, d: String): DataFrame = {
    val geo = geoDocs(s, d)
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "cells": {
        |      "geohash_grid": { "field": "location", "precision": 2, "size": 12 },
        |      "aggs": { "avg_copay": { "avg": { "field": "copay" } } }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(geo, "doc", body, geoSchema(geo))
  }

  private val d133Sql = {
    val (lonQ, latQ) = Geo.geohashQuantSql("lat", "lon", 2)
    s"""WITH pts AS (
       |  SELECT $geoLatSql AS lat, $geoLonSql AS lon, c_custkey % 50 AS copay
       |  FROM customer),
       |qz AS (SELECT lat, lon, copay, $lonQ AS lonc, $latQ AS latc FROM pts),
       |iv AS (SELECT copay, ${Geo.geohashInterleaveSql("lonc", "latc", 2)} AS lonlat FROM qz)
       |SELECT ${Geo.geohashSql("lonlat", 2)} AS key,
       |  CAST(COUNT(*) AS BIGINT) AS doc_count, AVG(copay) AS avg_copay
       |FROM iv GROUP BY 1 ORDER BY doc_count DESC, key ASC LIMIT 12""".stripMargin
  }

  // ---------------------------------------------------------------- d134
  /** ES `diversified_sampler` — the sampler with a DIVERSITY cap: at
    * most `max_docs_per_value` sample members per planType, de-biasing
    * the sample before its metric sub-aggs. Deterministic hash draw
    * (the d80 sampler's hash_field engine extension); per-value cap is
    * one WindowGroupLimit, the sample a bounded TakeOrderedAndProject —
    * no global sort. */
  private def d134(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "query": { "range": { "planCostShares.copay": { "gte": 10 } } },
        |  "aggs": {
        |    "sample": {
        |      "diversified_sampler": { "shard_size": 50, "field": "planType",
        |                               "max_docs_per_value": 5,
        |                               "hash_field": "objectId" },
        |      "aggs": {
        |        "avg_copay": { "avg": { "field": "planCostShares.copay" } },
        |        "max_copay": { "max": { "field": "planCostShares.copay" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d134Sql =
    s"""WITH hits AS (
       |  SELECT c_mktsegment AS ptype, c_custkey % 50 AS copay,
       |    'plan-' || ${ck("c_custkey")} AS oid,
       |    CAST(('0x' || substr(md5('plan-' || ${ck("c_custkey")}), 1, 15)) AS BIGINT) AS h
       |  FROM customer WHERE c_custkey % 50 >= 10),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY ptype ORDER BY h, oid) AS dr
       |  FROM hits),
       |samp AS (
       |  SELECT * FROM ranked WHERE dr <= 5 ORDER BY h, oid LIMIT 50)
       |SELECT CAST(COUNT(*) AS BIGINT) AS doc_count,
       |  AVG(copay) AS avg_copay, CAST(MAX(copay) AS BIGINT) AS max_copay
       |FROM samp""".stripMargin

  // ---------------------------------------------------------------- d139
  /** ES `rank_feature` query (`saturation` modifier) — static-signal
    * relevance: rank by a numeric feature without any text clause (the
    * pagerank/popularity pattern). Hit set = docs WITH the field; score =
    * boost · v/(v+pivot) — one exact IEEE division, bit-identical in the
    * oracle (`SearchQuery.FeatureFn`). `pivot` is required (engine
    * deviation: ES derives its default from index statistics). */
  private def d139(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": { "rank_feature": { "field": "planCostShares.copay",
        |                               "saturation": { "pivot": 8 },
        |                               "boost": 2.5 } },
        |  "sort": [ { "_score": { "order": "desc" } }, { "objectId": { "order": "asc" } } ],
        |  "size": 12,
        |  "_source": ["objectId", "planCostShares.copay"]
        |}""".stripMargin
    SearchExec.search(assembled(s, d), "doc", body, schema)
  }

  private val d139Sql =
    s"""SELECT rn, score, "objectId", "planCostShares_copay" FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, "objectId" ASC) AS rn FROM (
       |    SELECT 'plan-' || ${ck("c_custkey")} AS "objectId",
       |      c_custkey % 50 AS "planCostShares_copay",
       |      1.0 * ((CAST(c_custkey % 50 AS DOUBLE)
       |              / (CAST(c_custkey % 50 AS DOUBLE) + 8.0)) * 2.5) AS score
       |    FROM customer))
       |WHERE rn <= 12 ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d140
  /** ES `distance_feature` query — closeness boosting over a numeric
    * field (the recency/proximity pattern): score = boost ·
    * pivot/(pivot+|v−origin|), exact IEEE arithmetic reproduced
    * bit-for-bit by the oracle. Rank flips around the origin — nearest
    * copay to 25 wins — which no monotone modifier can express. */
  private def d140(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": { "distance_feature": { "field": "planCostShares.copay",
        |                                   "origin": 25, "pivot": 5, "boost": 3 } },
        |  "sort": [ { "_score": { "order": "desc" } }, { "objectId": { "order": "asc" } } ],
        |  "size": 10,
        |  "_source": ["objectId", "planCostShares.copay"]
        |}""".stripMargin
    SearchExec.search(assembled(s, d), "doc", body, schema)
  }

  private val d140Sql =
    s"""SELECT rn, score, "objectId", "planCostShares_copay" FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, "objectId" ASC) AS rn FROM (
       |    SELECT 'plan-' || ${ck("c_custkey")} AS "objectId",
       |      c_custkey % 50 AS "planCostShares_copay",
       |      1.0 * ((5.0 / (5.0 + abs(CAST(c_custkey % 50 AS DOUBLE) - 25.0))) * 3.0) AS score
       |    FROM customer))
       |WHERE rn <= 10 ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d135
  /** ES `string_stats` metric agg — count / min_length / max_length /
    * avg_length in the main corpus pass plus Shannon `entropy` over the
    * hit set's character distribution (one explode→count pass, its 1-row
    * reduction broadcast back; `EsAggs` flat-metric special case like
    * MAD). The long counts are exact; the libm logs carry the documented
    * ~1e-15 gauss-decay tolerance. */
  private def d135(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": { "seg": { "string_stats": { "field": "planType" } } }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d135Sql =
    """WITH v AS (SELECT c_mktsegment AS s FROM customer),
      |ch AS (SELECT unnest(string_split(s, '')) AS c FROM v),
      |cc AS (SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM ch WHERE c <> '' GROUP BY c),
      |ent AS (SELECT (ln(SUM(cnt)) - SUM(cnt * ln(cnt)) / SUM(cnt)) / ln(2) AS e FROM cc),
      |main AS (SELECT CAST(COUNT(*) AS BIGINT) AS doc_count,
      |  CAST(COUNT(s) AS BIGINT) AS seg_count,
      |  MIN(length(s)) AS seg_min_length, MAX(length(s)) AS seg_max_length,
      |  CAST(SUM(length(s)) AS DOUBLE) / COUNT(s) AS seg_avg_length FROM v)
      |SELECT main.*, ent.e AS seg_entropy FROM main, ent""".stripMargin

  // ---------------------------------------------------------------- d136
  /** ES `t_test` agg — Welch two-sample t between two FILTERED copay
    * populations in ONE conditional corpus pass (no join, no extra
    * shuffle). Engine deviation, documented in `EsAggs`: ES returns the
    * two-tailed p-value (regularized incomplete beta — no deterministic
    * builtin in either engine); this renders the t statistic and its
    * Welch–Satterthwaite degrees of freedom, the invertible core. */
  private def d136(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "tt": {
        |      "t_test": {
        |        "a": { "field": "planCostShares.copay",
        |               "filter": { "term": { "planType": "BUILDING" } } },
        |        "b": { "field": "planCostShares.copay",
        |               "filter": { "term": { "planType": "FURNITURE" } } },
        |        "type": "heteroscedastic"
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d136Sql =
    """WITH one AS (SELECT CAST(COUNT(*) AS BIGINT) AS doc_count,
      |  CAST(COUNT(*) FILTER (c_mktsegment = 'BUILDING') AS DOUBLE) AS na,
      |  CAST(SUM(c_custkey % 50) FILTER (c_mktsegment = 'BUILDING') AS DOUBLE) AS sa,
      |  CAST(SUM((c_custkey % 50) * (c_custkey % 50)) FILTER (c_mktsegment = 'BUILDING') AS DOUBLE) AS qa,
      |  CAST(COUNT(*) FILTER (c_mktsegment = 'FURNITURE') AS DOUBLE) AS nb,
      |  CAST(SUM(c_custkey % 50) FILTER (c_mktsegment = 'FURNITURE') AS DOUBLE) AS sb,
      |  CAST(SUM((c_custkey % 50) * (c_custkey % 50)) FILTER (c_mktsegment = 'FURNITURE') AS DOUBLE) AS qb
      |  FROM customer),
      |v AS (SELECT doc_count, na, nb, sa / na AS ma, sb / nb AS mb,
      |  (qa - sa * sa / na) / (na - 1.0) / na AS sea,
      |  (qb - sb * sb / nb) / (nb - 1.0) / nb AS seb FROM one)
      |SELECT doc_count, (ma - mb) / sqrt(sea + seb) AS tt_t,
      |  (sea + seb) * (sea + seb)
      |    / (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0)) AS tt_df
      |FROM v""".stripMargin

  // ---------------------------------------------------------------- d137
  /** ES `matrix_stats` agg — per-field moments (count/mean/variance/
    * skewness/kurtosis) plus the covariance/correlation pair over copay ×
    * deductible, in ONE corpus pass of exact long power sums; the ES
    * formulas (sample n−1 variance, √n·M₃/M₂^1.5 skewness, n·M₄/M₂²
    * kurtosis) are fixed double expression trees the oracle reproduces
    * bit-for-bit. Two rows, one per field. */
  private def d137(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "mx": { "matrix_stats": {
        |      "fields": ["planCostShares.copay", "planCostShares.deductible"] } }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d137Sql =
    """WITH src AS (SELECT c_custkey % 50 AS a, CAST(c_nationkey AS BIGINT) * 100 AS b
      |  FROM customer),
      |one AS (SELECT CAST(COUNT(*) AS BIGINT) AS doc_count, CAST(COUNT(*) AS DOUBLE) AS n,
      |  CAST(SUM(a) AS DOUBLE) AS s1a, CAST(SUM(a * a) AS DOUBLE) AS s2a,
      |  CAST(SUM(a * a * a) AS DOUBLE) AS s3a, CAST(SUM(a * a * a * a) AS DOUBLE) AS s4a,
      |  CAST(SUM(b) AS DOUBLE) AS s1b, CAST(SUM(b * b) AS DOUBLE) AS s2b,
      |  CAST(SUM(b * b * b) AS DOUBLE) AS s3b, CAST(SUM(b * b * b * b) AS DOUBLE) AS s4b,
      |  CAST(SUM(a * b) AS DOUBLE) AS sxy FROM src),
      |m AS (SELECT *, s1a / n AS meana, s1b / n AS meanb FROM one),
      |f AS (SELECT *, s2a - s1a * s1a / n AS m2a, s2b - s1b * s1b / n AS m2b,
      |  sxy - s1a * s1b / n AS craw FROM m)
      |SELECT doc_count, 'planCostShares.copay' AS field, CAST(n AS BIGINT) AS count,
      |  meana AS mean, m2a / (n - 1.0) AS variance,
      |  sqrt(n) * (s3a - 3.0 * meana * s2a + 2.0 * n * meana * meana * meana)
      |    / (m2a * sqrt(m2a)) AS skewness,
      |  n * (s4a - 4.0 * meana * s3a + 6.0 * meana * meana * s2a
      |       - 3.0 * n * meana * meana * meana * meana) / (m2a * m2a) AS kurtosis,
      |  craw / (n - 1.0) AS covariance, craw / (sqrt(m2a) * sqrt(m2b)) AS correlation
      |FROM f
      |UNION ALL
      |SELECT doc_count, 'planCostShares.deductible' AS field, CAST(n AS BIGINT) AS count,
      |  meanb AS mean, m2b / (n - 1.0) AS variance,
      |  sqrt(n) * (s3b - 3.0 * meanb * s2b + 2.0 * n * meanb * meanb * meanb)
      |    / (m2b * sqrt(m2b)) AS skewness,
      |  n * (s4b - 4.0 * meanb * s3b + 6.0 * meanb * meanb * s2b
      |       - 3.0 * n * meanb * meanb * meanb * meanb) / (m2b * m2b) AS kurtosis,
      |  craw / (n - 1.0) AS covariance, craw / (sqrt(m2b) * sqrt(m2a)) AS correlation
      |FROM f""".stripMargin

  // ---------------------------------------------------------------- d138
  /** ES `geo_bounds` + `geo_centroid` metric aggs INSIDE a terms split —
    * the Kibana map sidebar ("extent and center of each segment's
    * points"). Bounds are four exact min/max aggregates; the centroid
    * averages integer MICRODEGREES (≈11 cm — ES's own geo_point
    * quantization grid) so the long sums are exact and the divisions
    * IEEE-identical — a double-summation centroid would drift with
    * partition order. Both ride the ordinary metric path, so they
    * compose under any bucket agg; still ONE hash aggregation. */
  private def d138(s: SparkSession, d: String): DataFrame = {
    val geo = geoDocs(s, d)
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "types": {
        |      "terms": { "field": "planType", "size": 5 },
        |      "aggs": {
        |        "bounds": { "geo_bounds": { "field": "location" } },
        |        "centroid": { "geo_centroid": { "field": "location" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(geo, "doc", body, geoSchema(geo))
  }

  private val d138Sql =
    s"""WITH pts AS (
       |  SELECT c_mktsegment AS key, $geoLatSql AS lat, $geoLonSql AS lon FROM customer)
       |SELECT key, CAST(COUNT(*) AS BIGINT) AS doc_count,
       |  MAX(lat) AS bounds_top_left_lat, MIN(lon) AS bounds_top_left_lon,
       |  MIN(lat) AS bounds_bottom_right_lat, MAX(lon) AS bounds_bottom_right_lon,
       |  CAST(SUM(CAST(round(lat * 1000000.0) AS BIGINT)) AS DOUBLE)
       |    / COUNT(*) / 1000000.0 AS centroid_lat,
       |  CAST(SUM(CAST(round(lon * 1000000.0) AS BIGINT)) AS DOUBLE)
       |    / COUNT(*) / 1000000.0 AS centroid_lon,
       |  CAST(COUNT(*) AS BIGINT) AS centroid_count
       |FROM pts GROUP BY 1 ORDER BY doc_count DESC, key ASC LIMIT 5""".stripMargin

  // ---------------------------------------------------------------- d141
  /** ES `simple_query_string` — the end-user search-box syntax (`+` AND,
    * `|` OR, `-` negation, quoted phrase, parens), compiled by
    * [[QueryString.parseSimple]] into the SAME AST leaves as the JSON
    * DSL. Terms have no `field:` prefix; the `fields` list fans each term
    * across planType, _org, objectId and the nested service-name array —
    * the multi-field fan-out d50's query_string can't express. Exercises
    * a paren group, both explicit operators, level-global negation and a
    * phrase through an array path. */
  private def d141(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": {
        |    "simple_query_string": {
        |      "query": "(building | machinery) + org-1* -plan-11* + \"Service 1-URGENT\"",
        |      "fields": ["planType", "_org", "objectId",
        |                 "linkedPlanServices.linkedService.name"]
        |    }
        |  }
        |}""".stripMargin
    val ast = SearchQuery.fromJson(body, schema)
    assembled(s, d)
      .filter(SearchQuery.compile(ast, col("doc")))
      .select(col("doc.objectId").as("object_id"),
        col("doc.planType").as("plan_type"),
        col("doc._org").as("org"))
      .orderBy(col("object_id"))
  }

  private val d141Sql =
    s"""WITH o AS $O
       |SELECT 'plan-' || ${ck("c_custkey")} AS object_id,
       |  c_mktsegment AS plan_type,
       |  'org-' || ${ck("c_nationkey")} || '.example.com' AS org
       |FROM customer
       |WHERE lower(c_mktsegment) IN ('building', 'machinery')
       |  AND 'org-' || ${ck("c_nationkey")} || '.example.com' LIKE 'org-1%'
       |  AND NOT ('plan-' || ${ck("c_custkey")} LIKE 'plan-11%')
       |  AND EXISTS (SELECT 1 FROM o WHERE o_custkey = c_custkey
       |              AND lower('Service ' || o_orderpriority) = 'service 1-urgent')
       |ORDER BY object_id""".stripMargin

  // ---------------------------------------------------------------- d123
  /** Terms `include` (anchored regex) + `show_term_doc_count_error` on
    * the INNER level of a multi-level split — the Kibana split-rows
    * table with a term filter on the inner column. Include/exclude act
    * on the bucket table before the level's pruning and top-N but AFTER
    * ancestor counts are fixed (an excluded child never changes its
    * parent's doc_count or rank); sum_other/error columns are per-parent
    * windows over the bucket table. Still ONE corpus aggregation. */
  private def d123(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .select(struct(col("event_id"), col("user_id"), col("event_type")).as("doc"))
    val evSchema = ev.schema("doc").dataType.asInstanceOf[StructType]
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "types": {
        |      "terms": { "field": "event_type", "size": 3 },
        |      "aggs": {
        |        "uids": {
        |          "terms": { "field": "user_id", "size": 2,
        |                     "include": "1[0-9][0-9]",
        |                     "show_term_doc_count_error": true }
        |        }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(ev, "doc", body, evSchema)
  }

  private val d123Sql =
    """WITH leaf AS (SELECT event_type AS key, user_id AS key2,
      |    CAST(COUNT(*) AS BIGINT) AS doc_count2 FROM events GROUP BY 1, 2),
      |l1 AS (SELECT *, CAST(SUM(doc_count2) OVER (PARTITION BY key) AS BIGINT) AS doc_count
      |  FROM leaf),
      |p AS (SELECT * FROM (SELECT *, DENSE_RANK() OVER (ORDER BY doc_count DESC, key) AS pr
      |      FROM l1) WHERE pr <= 3),
      |inc AS (SELECT * FROM p WHERE regexp_full_match(CAST(key2 AS VARCHAR), '1[0-9][0-9]')),
      |tot AS (SELECT *, CAST(SUM(doc_count2) OVER (PARTITION BY key) AS BIGINT) AS all_dc
      |  FROM inc),
      |pg AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY key
      |        ORDER BY doc_count2 DESC, key2) AS cr FROM tot) WHERE cr <= 2)
      |SELECT key, doc_count, key2, doc_count2,
      |  CAST(MAX(all_dc) OVER (PARTITION BY key)
      |    - SUM(doc_count2) OVER (PARTITION BY key) AS BIGINT) AS sum_other_doc_count,
      |  CAST(0 AS BIGINT) AS doc_count_error_upper_bound
      |FROM pg ORDER BY doc_count DESC, key, doc_count2 DESC, key2""".stripMargin

  // ---------------------------------------------------------------- d124
  /** ES `intervals` query — ordered/gap-bounded proximity (the modern
    * span-query replacement), with an `any_of` disjunction: docs where
    * "scan … fast … table" appear IN ORDER wasting ≤ 2 positions, OR
    * "vector"/"spark" are adjacent in either order. Neither arm is
    * expressible as d111 phrase slop (slop pays for transpositions;
    * `ordered` forbids them, `max_gaps` prices only wasted positions).
    * Pure nested array expressions over analyzed positions — no explode,
    * no join, the filter rides the normal scan path. */
  private def d124(s: SparkSession, d: String): DataFrame = {
    val docsT = graft.Tables(s, d, "documents")
      .select(struct(col("doc_id"), col("text"), col("lang")).as("doc"))
    val dSchema = docsT.schema("doc").dataType.asInstanceOf[StructType]
    val body =
      """{
        |  "query": { "intervals": { "text": {
        |    "any_of": { "intervals": [
        |      { "match": { "query": "scan fast table", "ordered": true, "max_gaps": 2 } },
        |      { "match": { "query": "vector spark", "max_gaps": 0 } }
        |    ] } } } }
        |}""".stripMargin
    val ast = SearchQuery.fromJson(body, dSchema)
    docsT.filter(SearchQuery.compile(ast, col("doc")))
      .select(col("doc.doc_id").as("doc_id"), col("doc.lang").as("lang"))
      .orderBy(col("doc_id"))
  }

  private val d124Sql = {
    def pos(term: String) =
      s"""list_filter(list_transform(string_split_regex(lower(text), '\\s+'),
         |      (x, i) -> CASE WHEN x = '$term' THEN i - 1 ELSE -1 END), v -> v >= 0)""".stripMargin
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    ${pos("scan")} AS p1,
       |    ${pos("fast")} AS p2,
       |    ${pos("table")} AS p3,
       |    ${pos("vector")} AS p4,
       |    ${pos("spark")} AS p5
       |  FROM documents)
       |SELECT doc_id, lang FROM t
       |WHERE len(list_filter(p1, x -> len(list_filter(p2, y -> y > x AND
       |        len(list_filter(p3, z -> z > y AND z - x + 1 - 3 <= 2)) > 0)) > 0)) > 0
       |   OR len(list_filter(p4, x -> len(list_filter(p5, y ->
       |        greatest(x, y) - least(x, y) + 1 - 2 <= 0)) > 0)) > 0
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- d125
  /** `significant_terms` with the `chi_square` heuristic — the same
    * one-shuffle bucket table as JLH (d61), scored by ES's NXY χ² over
    * the disjoint-adjusted 2×2 contingency table (default
    * include_negatives/background_is_superset; non-defaults reject).
    * All-integer inputs through a fixed double op sequence. */
  private def d125(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "query": { "range": { "planCostShares.copay": { "gte": 25 } } },
        |  "aggs": {
        |    "hot_types": { "significant_terms": {
        |      "field": "planType", "size": 3, "chi_square": {} } }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d125Sql =
    """WITH g AS (
      |  SELECT c_mktsegment AS key,
      |    CAST(SUM(CASE WHEN c_custkey % 50 >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS doc_count,
      |    CAST(COUNT(*) AS BIGINT) AS bg_count
      |  FROM customer GROUP BY 1),
      |t AS (
      |  SELECT *, CAST(SUM(doc_count) OVER () AS BIGINT) AS ft,
      |    CAST(SUM(bg_count) OVER () AS BIGINT) AS bt
      |  FROM g),
      |c AS (
      |  SELECT key, doc_count, bg_count,
      |    CAST(doc_count AS DOUBLE) AS n11,
      |    CAST(bg_count - doc_count AS DOUBLE) AS n01,
      |    CAST(ft - doc_count AS DOUBLE) AS n10,
      |    CAST(bt - ft AS DOUBLE) - CAST(bg_count - doc_count AS DOUBLE) AS n00,
      |    CAST(bt AS DOUBLE) AS alln
      |  FROM t)
      |SELECT key, doc_count, bg_count,
      |  alln * (n11 * n00 - n01 * n10) * (n11 * n00 - n01 * n10)
      |    / ((n11 + n01) * (n11 + n10) * (n01 + n00) * (n10 + n00)) AS score
      |FROM c WHERE doc_count > 0 ORDER BY score DESC, key ASC LIMIT 3""".stripMargin

  // ---------------------------------------------------------------- d131
  /** `significant_terms` with the `mutual_information` heuristic — the
    * four-cell MI sum over the same table; log2 rides libm ln (the d120
    * ~1e-15 documented tolerance, inside the oracle's 9-dp compare). */
  private def d131(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "query": { "range": { "planCostShares.copay": { "gte": 25 } } },
        |  "aggs": {
        |    "hot_types": { "significant_terms": {
        |      "field": "planType", "size": 3,
        |      "mutual_information": { "include_negatives": true } } }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d131Sql = {
    def cell(nxy: String, rx: String, cy: String) =
      s"CASE WHEN $nxy > 0 THEN ($nxy / alln) * (LN($nxy * alln / (($rx) * ($cy))) / LN(2.0)) ELSE 0.0 END"
    """WITH g AS (
      |  SELECT c_mktsegment AS key,
      |    CAST(SUM(CASE WHEN c_custkey % 50 >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS doc_count,
      |    CAST(COUNT(*) AS BIGINT) AS bg_count
      |  FROM customer GROUP BY 1),
      |t AS (
      |  SELECT *, CAST(SUM(doc_count) OVER () AS BIGINT) AS ft,
      |    CAST(SUM(bg_count) OVER () AS BIGINT) AS bt
      |  FROM g),
      |c AS (
      |  SELECT key, doc_count, bg_count,
      |    CAST(doc_count AS DOUBLE) AS n11,
      |    CAST(bg_count - doc_count AS DOUBLE) AS n01,
      |    CAST(ft - doc_count AS DOUBLE) AS n10,
      |    CAST(bt - ft AS DOUBLE) - CAST(bg_count - doc_count AS DOUBLE) AS n00,
      |    CAST(bt AS DOUBLE) AS alln
      |  FROM t)
      |SELECT key, doc_count, bg_count,
      |  """.stripMargin +
      cell("n11", "n11 + n01", "n11 + n10") + "\n  + " +
      cell("n01", "n11 + n01", "n01 + n00") + "\n  + " +
      cell("n10", "n10 + n00", "n11 + n10") + "\n  + " +
      cell("n00", "n10 + n00", "n01 + n00") + " AS score" +
      """
      |FROM c WHERE doc_count > 0 ORDER BY score DESC, key ASC LIMIT 3""".stripMargin
  }

  // ---------------------------------------------------------------- d126
  /** `categorize_text`-style log-pattern bucketing — token-skeleton
    * templates (hex/digit runs masked) as bucket keys, a deterministic
    * approximation of ES's ML categorizer (documented deviation, see
    * EsAggs.CategorizeText). Log lines are synthesized in-query from
    * events (the planting pattern — the corpus ships no log text). */
  private def d126(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .select(struct(col("event_id"),
        concat(lit("user "), col("user_id"), lit(" "), col("event_type"),
          lit(" value "), floor(col("value")).cast("long")).as("msg")).as("doc"))
    val evSchema = ev.schema("doc").dataType.asInstanceOf[StructType]
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "patterns": { "categorize_text": { "field": "msg", "size": 8 } }
        |  }
        |}""".stripMargin
    EsAggs.run(ev, "doc", body, evSchema)
  }

  private val d126Sql =
    """WITH m AS (
      |  SELECT 'user ' || CAST(user_id AS VARCHAR) || ' ' || event_type ||
      |    ' value ' || CAST(CAST(FLOOR(value) AS BIGINT) AS VARCHAR) AS msg
      |  FROM events)
      |SELECT regexp_replace(regexp_replace(msg, '\b0x[0-9a-fA-F]+\b', '<hex>', 'g'),
      |    '[0-9]+', '<n>', 'g') AS key,
      |  CAST(COUNT(*) AS BIGINT) AS doc_count
      |FROM m GROUP BY 1 ORDER BY doc_count DESC, key ASC LIMIT 8""".stripMargin

  // ---------------------------------------------------------------- d127
  /** `composite` agg INSIDE a `nested` context — paging ELEMENT-grain
    * buckets (terms × histogram sources over nested fields): the agg
    * that can walk every service bucket of a 100 TB corpus one page per
    * pass now also works at the element grain. Same shape: explode →
    * one hash aggregation on the composite key, bounded page. */
  private def d127(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "services": {
        |      "nested": { "path": "linkedPlanServices" },
        |      "aggs": {
        |        "pg": {
        |          "composite": { "size": 50, "sources": [
        |            { "tier": { "terms": { "field": "linkedPlanServices.linkedService.name.keyword" } } },
        |            { "copay_bin": { "histogram": { "field": "linkedPlanServices.planserviceCostShares.copay", "interval": 50 } } }
        |          ] },
        |          "aggs": {
        |            "max_ded": { "max": { "field": "linkedPlanServices.planserviceCostShares.deductible" } }
        |          }
        |        }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d127Sql =
    s"""WITH o AS $O,
       |e AS (SELECT 'Service ' || o_orderpriority AS name,
       |        o_custkey % 200 AS copay, o_orderkey % 1000 AS ded FROM o)
       |SELECT name AS tier, copay // 50 * 50 AS copay_bin,
       |  CAST(COUNT(*) AS BIGINT) AS doc_count, CAST(MAX(ded) AS BIGINT) AS max_ded
       |FROM e GROUP BY 1, 2 ORDER BY tier, copay_bin LIMIT 50""".stripMargin

  // ---------------------------------------------------------------- d128
  /** `top_hits` INSIDE a `nested` context — "show the top services per
    * tier" at the ELEMENT grain: terms buckets of nested elements, each
    * rendering its top-2 elements by deductible. Same scale shape as the
    * document-grain d71: bucket top-N on the aggregated table broadcast
    * back, one WindowGroupLimit ranking — no corpus-global sort. */
  private def d128(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "services": {
        |      "nested": { "path": "linkedPlanServices" },
        |      "aggs": {
        |        "by_tier": {
        |          "terms": { "field": "linkedPlanServices.linkedService.name.keyword", "size": 3 },
        |          "aggs": {
        |            "top": { "top_hits": { "size": 2,
        |              "sort": [ { "linkedPlanServices.planserviceCostShares.deductible": "desc" } ],
        |              "_source": ["linkedPlanServices.objectId",
        |                          "linkedPlanServices.planserviceCostShares.deductible"] } }
        |          }
        |        }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d128Sql =
    s"""WITH o AS $O,
       |e AS (SELECT 'Service ' || o_orderpriority AS name,
       |        'ps-' || ${ck("o_orderkey")} AS oid, o_orderkey % 1000 AS ded FROM o),
       |b AS (SELECT name, CAST(COUNT(*) AS BIGINT) AS doc_count FROM e
       |      GROUP BY 1 ORDER BY doc_count DESC, name LIMIT 3),
       |h AS (SELECT e.name, b.doc_count,
       |        ROW_NUMBER() OVER (PARTITION BY e.name ORDER BY e.ded DESC, e.oid ASC) AS rank,
       |        e.oid, e.ded
       |      FROM e JOIN b ON e.name = b.name)
       |SELECT name AS key, doc_count, rank, oid AS "objectId",
       |  CAST(ded AS BIGINT) AS "planserviceCostShares_deductible"
       |FROM h WHERE rank <= 2
       |ORDER BY doc_count DESC, key, rank""".stripMargin

  // ---------------------------------------------------------------- d129
  /** `significant_terms` INSIDE a `nested` context — "which services are
    * over-represented among BUILDING plans": foreground/background both
    * re-derive at the ELEMENT grain (ES counts nested docs). The fg flag
    * is evaluated per DOCUMENT before the explode and rides beside each
    * element, so the whole thing stays one corpus explode + one hash
    * aggregation; JLH totals are a window over the |terms|-row table. */
  private def d129(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "query": { "match": { "planType": "BUILDING" } },
        |  "aggs": {
        |    "services": {
        |      "nested": { "path": "linkedPlanServices" },
        |      "aggs": {
        |        "hot": { "significant_terms": {
        |          "field": "linkedPlanServices.linkedService.name.keyword", "size": 3 } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d129Sql =
    s"""WITH o AS $O,
       |e AS (SELECT 'Service ' || o_orderpriority AS name,
       |        CASE WHEN lower(c_mktsegment) = 'building' THEN 1 ELSE 0 END AS fg
       |      FROM o JOIN customer ON o_custkey = c_custkey),
       |g AS (SELECT name AS key, CAST(SUM(fg) AS BIGINT) AS doc_count,
       |        CAST(COUNT(*) AS BIGINT) AS bg_count FROM e GROUP BY 1),
       |t AS (SELECT *, CAST(SUM(doc_count) OVER () AS BIGINT) AS ft,
       |        CAST(SUM(bg_count) OVER () AS BIGINT) AS bt FROM g)
       |SELECT key, doc_count, bg_count,
       |  (CAST(doc_count AS DOUBLE) / ft - CAST(bg_count AS DOUBLE) / bt)
       |    * ((CAST(doc_count AS DOUBLE) / ft) / (CAST(bg_count AS DOUBLE) / bt)) AS score
       |FROM t WHERE doc_count > 0 ORDER BY score DESC, key ASC LIMIT 3""".stripMargin

  // ---------------------------------------------------------------- d142
  /** ES `random_sampler` agg — probability-p sampling with sub-agg
    * values scaled back to corpus estimates (doc_count and sums × 1/p;
    * avg unscaled — the ES contract). The draw is the engine's
    * deterministic hash_field device (`EsAggs.RandomSample`): sampled
    * iff the 60-bit md5-prefix hash < p·2^60, SQL-replayable where ES's
    * seeded per-shard draw is not. The filter prunes the corpus BEFORE
    * any aggregation — at 100 TB the whole point of the agg. */
  private def d142(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "sample": {
        |      "random_sampler": { "probability": 0.35, "hash_field": "objectId" },
        |      "aggs": {
        |        "n": { "value_count": { "field": "objectId" } },
        |        "sum_copay": { "sum": { "field": "planCostShares.copay" } },
        |        "avg_copay": { "avg": { "field": "planCostShares.copay" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val rsThreshold: Long = (0.35 * (1L << 60).toDouble).toLong

  private val d142Sql =
    s"""WITH sm AS (SELECT c_custkey % 50 AS copay FROM customer
       |  WHERE CAST(('0x' || substr(md5('plan-' || ${ck("c_custkey")}), 1, 15)) AS BIGINT)
       |    < $rsThreshold)
       |SELECT CAST(round(CAST(COUNT(*) AS DOUBLE) / 0.35) AS BIGINT) AS doc_count,
       |  CAST(round(CAST(COUNT(*) AS DOUBLE) / 0.35) AS BIGINT) AS n,
       |  CAST(SUM(copay) AS DOUBLE) / 0.35 AS sum_copay,
       |  AVG(copay) AS avg_copay
       |FROM sm""".stripMargin

  // ---------------------------------------------------------------- d143
  /** ES `variable_width_histogram` — dynamically-sized bins. Documented
    * deviation from ES's online clusterer (`EsAggs
    * .VariableWidthHistogram`): exact equal-frequency rank split at
    * VALUE grain — bucket of v = floor(rank_before(v)·n/total), equal
    * values never split. Output = ES's response fields (key = centroid,
    * min, max, doc_count). One value-grain hash agg + |V|-row windows. */
  private def d143(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": { "vw": { "variable_width_histogram": {
        |    "field": "planCostShares.copay", "buckets": 7 } } }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d143Sql =
    """WITH g AS (SELECT CAST(c_custkey % 50 AS DOUBLE) AS v, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM customer GROUP BY 1),
      |w AS (SELECT v, c,
      |  COALESCE(SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
      |  SUM(c) OVER () AS tot FROM g),
      |b AS (SELECT LEAST(6, CAST(FLOOR(CAST(cb * 7 AS DOUBLE) / tot) AS BIGINT)) AS bid, v, c FROM w)
      |SELECT SUM(v * c) / SUM(c) AS key, MIN(v) AS "min", MAX(v) AS "max",
      |  CAST(SUM(c) AS BIGINT) AS doc_count
      |FROM b GROUP BY bid ORDER BY key""".stripMargin

  // ---------------------------------------------------------------- d144
  /** ES `frequent_item_sets` — market-basket mining over the service
    * names array: itemsets of size 1 and 2 with doc-frequency support
    * (`EsAggs.FrequentItemSets`). Pairs come from an equi-join on the
    * TRANSACTION key (per-doc fanout bounded by the array), never a
    * corpus cross join. */
  private def d144(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": { "baskets": { "frequent_item_sets": {
        |    "fields": [ { "field": "linkedPlanServices.linkedService.name" } ],
        |    "minimum_support": 0.05, "size": 12 } } }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d144Sql =
    s"""WITH o AS $O,
       |it AS (SELECT DISTINCT o_custkey AS d, 'Service ' || o_orderpriority AS i FROM o),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer),
       |singles AS (SELECT i AS key, CAST(1 AS BIGINT) AS set_size,
       |    CAST(COUNT(*) AS BIGINT) AS doc_count FROM it GROUP BY i),
       |pairs AS (SELECT a.i || '|' || b.i AS key, CAST(2 AS BIGINT) AS set_size,
       |    CAST(COUNT(*) AS BIGINT) AS doc_count
       |  FROM it a JOIN it b ON a.d = b.d AND a.i < b.i GROUP BY 1),
       |u AS (SELECT * FROM singles UNION ALL SELECT * FROM pairs)
       |SELECT key, set_size, doc_count, CAST(doc_count AS DOUBLE) / n.n AS support
       |FROM u, n WHERE CAST(doc_count AS DOUBLE) / n.n >= 0.05
       |ORDER BY doc_count DESC, key ASC LIMIT 12""".stripMargin

  /** IPv4 corpus — the schema has no native IPs, so plant a
    * deterministic Knuth-hash address from the customer key (the geo
    * planting pattern, SQL-replayable exactly): ip = dotted rendering of
    * (c_custkey · 2654435761) mod 2^32. Materialized to parquet like the
    * geo corpus. */
  private def ipDocs(s: SparkSession, d: String): DataFrame =
    customerTable(s, d, "ip")(graft.Tables(s, d, "customer").select(struct(
        concat(lit("plan-"), col("c_custkey").cast("string")).as("objectId"), {
          val v = pmod(col("c_custkey") * 2654435761L, lit(4294967296L))
          concat_ws(".",
            shiftrightunsigned(v, 24).bitwiseAND(lit(255L)).cast("string"),
            shiftrightunsigned(v, 16).bitwiseAND(lit(255L)).cast("string"),
            shiftrightunsigned(v, 8).bitwiseAND(lit(255L)).cast("string"),
            v.bitwiseAND(lit(255L)).cast("string"))
        }.as("ip"),
        (col("c_custkey") % 50).as("copay")).as("doc")))

  private val ipIntSql = "((c_custkey * 2654435761) % 4294967296)"

  // ---------------------------------------------------------------- d145
  /** ES `ip_range` agg — tier buckets over the IPv4 address space
    * (from-inclusive / to-exclusive on the unsigned 32-bit integer, the
    * ES contract), one conditional aggregation with a metric per tier. */
  private def d145(s: SparkSession, d: String): DataFrame = {
    val ip = ipDocs(s, d)
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "tiers": {
        |      "ip_range": { "field": "ip", "ranges": [
        |        { "to": "64.0.0.0" },
        |        { "from": "64.0.0.0", "to": "128.0.0.0" },
        |        { "from": "128.0.0.0", "to": "192.0.0.0" },
        |        { "from": "192.0.0.0" } ] },
        |      "aggs": { "avg_copay": { "avg": { "field": "copay" } } }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(ip, "doc", body, geoSchema(ip))
  }

  private val d145Sql =
    s"""WITH v AS (SELECT $ipIntSql AS ip, c_custkey % 50 AS copay FROM customer)
       |SELECT '*-64.0.0.0' AS key,
       |  CAST(COUNT(*) FILTER (ip < 1073741824) AS BIGINT) AS doc_count,
       |  AVG(copay) FILTER (ip < 1073741824) AS avg_copay FROM v
       |UNION ALL SELECT '64.0.0.0-128.0.0.0',
       |  CAST(COUNT(*) FILTER (ip >= 1073741824 AND ip < 2147483648) AS BIGINT),
       |  AVG(copay) FILTER (ip >= 1073741824 AND ip < 2147483648) FROM v
       |UNION ALL SELECT '128.0.0.0-192.0.0.0',
       |  CAST(COUNT(*) FILTER (ip >= 2147483648 AND ip < 3221225472) AS BIGINT),
       |  AVG(copay) FILTER (ip >= 2147483648 AND ip < 3221225472) FROM v
       |UNION ALL SELECT '192.0.0.0-*',
       |  CAST(COUNT(*) FILTER (ip >= 3221225472) AS BIGINT),
       |  AVG(copay) FILTER (ip >= 3221225472) FROM v""".stripMargin

  // ---------------------------------------------------------------- d146
  /** ES `ip_prefix` agg — /4 CIDR network buckets: one hash aggregation
    * on the masked integer, keys rendered `a.0.0.0/4` in key order. */
  private def d146(s: SparkSession, d: String): DataFrame = {
    val ip = ipDocs(s, d)
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "nets": {
        |      "ip_prefix": { "field": "ip", "prefix_length": 4 },
        |      "aggs": { "avg_copay": { "avg": { "field": "copay" } } }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(ip, "doc", body, geoSchema(ip))
  }

  private val d146Sql =
    s"""WITH v AS (SELECT $ipIntSql AS ip, c_custkey % 50 AS copay FROM customer),
       |n AS (SELECT (ip // 268435456) * 268435456 AS net, copay FROM v)
       |SELECT CAST(net // 16777216 AS VARCHAR) || '.0.0.0/4' AS key,
       |  CAST(COUNT(*) AS BIGINT) AS doc_count, AVG(copay) AS avg_copay
       |FROM n GROUP BY 1 ORDER BY key""".stripMargin

  // ---------------------------------------------------------------- d147
  /** ES `geo_line` agg — the track builder: points ordered by the sort
    * field, truncated to `size`, plus ES's `complete` flag. Bounded
    * TakeOrderedAndProject + ONE size-bounded collect_list — the corpus
    * never sorts globally (`EsAggs.GeoLine`). Registry grain: the track
    * array is rendered `"|"`-joined so every output column is scalar
    * (the oracle gate's standing constraint — `Verify` asserts it). */
  private def d147(s: SparkSession, d: String): DataFrame = {
    val geo = geoDocs(s, d)
    val body =
      """{
        |  "size": 0,
        |  "aggs": { "track": { "geo_line": {
        |    "point": { "field": "location" },
        |    "sort": { "field": "copay" },
        |    "size": 25 } } }
        |}""".stripMargin
    EsAggs.run(geo, "doc", body, geoSchema(geo))
      .withColumn("line", concat_ws("|", col("line")))
  }

  private val d147Sql =
    s"""WITH pts AS (
       |  SELECT $geoLatSql AS lat, $geoLonSql AS lon, c_custkey % 50 AS s
       |  FROM customer),
       |p2 AS (SELECT s, CAST(lat AS VARCHAR) || ',' || CAST(lon AS VARCHAR) AS pt FROM pts),
       |sel AS (SELECT s, pt FROM p2 ORDER BY s ASC, pt ASC LIMIT 25),
       |tot AS (SELECT COUNT(*) AS n FROM p2)
       |SELECT (SELECT string_agg(pt, '|' ORDER BY s ASC, pt ASC) FROM sel) AS line,
       |  (SELECT n <= 25 FROM tot) AS complete""".stripMargin

  // ---------------------------------------------------------------- d148
  /** ES `change_point` sibling agg — step-change detection over a
    * histogram bucket list. Documented deviation (`EsAggs.Sibling`): the
    * deterministic CUSUM-style split statistic replaces ES's ML test
    * suite; argmax split (key-asc ties) renders as constant `cp_key`/
    * `cp_score` columns. All |buckets|-row windows. */
  private def d148(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "query": { "range": { "planCostShares.copay": { "lt": 42 } } },
        |  "aggs": {
        |    "h": { "histogram": { "field": "planCostShares.copay", "interval": 10 } },
        |    "cp": { "change_point": { "buckets_path": "h>_count" } }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d148Sql =
    """WITH b AS (SELECT (c_custkey % 50 - (c_custkey % 50) % 10) AS key,
      |    CAST(COUNT(*) AS BIGINT) AS doc_count FROM customer
      |  WHERE c_custkey % 50 < 42 GROUP BY 1),
      |w AS (SELECT key, doc_count, CAST(doc_count AS DOUBLE) AS c,
      |    CAST(ROW_NUMBER() OVER (ORDER BY key) AS DOUBLE) AS i,
      |    SUM(CAST(doc_count AS DOUBLE)) OVER (ORDER BY key
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
      |    CAST(COUNT(*) OVER () AS DOUBLE) AS n,
      |    SUM(CAST(doc_count AS DOUBLE)) OVER () AS t
      |  FROM b),
      |sc AS (SELECT key, doc_count,
      |    CASE WHEN i >= 2 THEN
      |      abs((t - (s - c)) / (n - i + 1) - (s - c) / (i - 1))
      |        * sqrt((i - 1) * (n - i + 1) / ((i - 1) + (n - i + 1)))
      |    END AS score FROM w),
      |best AS (SELECT key AS cp_key, score AS cp_score FROM sc
      |  ORDER BY score DESC NULLS LAST, key ASC LIMIT 1)
      |SELECT sc.key, sc.doc_count, best.cp_key, best.cp_score
      |FROM sc, best ORDER BY sc.key""".stripMargin

  // ---------------------------------------------------------------- d149
  /** ES `bucket_correlation` sibling agg (`count_correlation`) —
    * Pearson r between the histogram's doc_count sequence and the
    * body's expectations curve, one window aggregate over the
    * |buckets|-row table. */
  private def d149(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "query": { "range": { "planCostShares.copay": { "lt": 42 } } },
        |  "aggs": {
        |    "h": { "histogram": { "field": "planCostShares.copay", "interval": 10 } },
        |    "r": { "bucket_correlation": { "buckets_path": "h>_count",
        |      "function": { "count_correlation": {
        |        "indicator": { "expectations": [1, 2, 3, 4, 5] } } } } }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d149Sql =
    """WITH b AS (SELECT (c_custkey % 50 - (c_custkey % 50) % 10) AS key,
      |    CAST(COUNT(*) AS BIGINT) AS doc_count FROM customer
      |  WHERE c_custkey % 50 < 42 GROUP BY 1),
      |w AS (SELECT key, doc_count, CAST(doc_count AS DOUBLE) AS x,
      |    CAST(ROW_NUMBER() OVER (ORDER BY key) AS DOUBLE) AS y FROM b),
      |m AS (SELECT CAST(COUNT(x) AS DOUBLE) AS nn, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy FROM w),
      |cr AS (SELECT CASE WHEN sqrt((nn * sxx - sx * sx) * (nn * syy - sy * sy)) <> 0
      |    THEN (nn * sxy - sx * sy) / sqrt((nn * sxx - sx * sx) * (nn * syy - sy * sy))
      |  END AS r FROM m)
      |SELECT w.key, w.doc_count, cr.r AS r FROM w, cr ORDER BY w.key""".stripMargin

  // ---------------------------------------------------------------- d150
  /** ES `script_score` — score replaced by a Painless-subset arithmetic
    * script over document fields and `_score`
    * (`SearchQuery.ScriptExpr`): sqrt/mul/add here, IEEE-exact in both
    * engines. The top relevance-tuning device after function_score. */
  private def d150(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": { "script_score": {
        |    "query": { "match": { "planType": "BUILDING" } },
        |    "script": { "source":
        |      "Math.sqrt(doc['planCostShares.copay'].value) * 2 + _score / 4" } } },
        |  "sort": [ { "_score": { "order": "desc" } }, { "objectId": { "order": "asc" } } ],
        |  "size": 12,
        |  "_source": ["objectId", "planCostShares.copay"]
        |}""".stripMargin
    SearchExec.search(assembled(s, d), "doc", body, schema)
  }

  private val d150Sql =
    s"""SELECT rn, score, "objectId", "planCostShares_copay" FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, "objectId" ASC) AS rn FROM (
       |    SELECT 'plan-' || ${ck("c_custkey")} AS "objectId",
       |      c_custkey % 50 AS "planCostShares_copay",
       |      sqrt(CAST(c_custkey % 50 AS DOUBLE)) * 2 + 1.0 / 4 AS score
       |    FROM customer WHERE lower(c_mktsegment) = 'building'))
       |WHERE rn <= 12 ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d151
  /** ES `wrapper` query — a base64-encoded query (the Kibana
    * saved-object / security-DSL transport): decoded at parse and run
    * through the same machinery, so pushdown/scoring are identical to
    * the inline form. The body here encodes a bool range + must_not. */
  private def d151(s: SparkSession, d: String): DataFrame = {
    val innerQuery =
      """{"bool": {"must": [{"range": {"planCostShares.copay": {"gte": 10, "lt": 20}}}],
        |"must_not": [{"term": {"planType": "FURNITURE"}}]}}""".stripMargin
    val b64 = java.util.Base64.getEncoder.encodeToString(
      innerQuery.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val body =
      s"""{
         |  "query": { "wrapper": { "query": "$b64" } },
         |  "sort": [ { "objectId": { "order": "asc" } } ],
         |  "size": 500,
         |  "_source": ["objectId", "planCostShares.copay"]
         |}""".stripMargin
    SearchExec.search(assembled(s, d), "doc", body, schema)
  }

  private val d151Sql =
    s"""SELECT rn, "objectId", "planCostShares_copay" FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY "objectId" ASC) AS rn FROM (
       |    SELECT 'plan-' || ${ck("c_custkey")} AS "objectId",
       |      c_custkey % 50 AS "planCostShares_copay"
       |    FROM customer
       |    WHERE c_custkey % 50 >= 10 AND c_custkey % 50 < 20
       |      AND c_mktsegment <> 'FURNITURE'))
       |WHERE rn <= 500 ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d152
  /** ES `terms` LOOKUP — the value list fetched from ANOTHER document
    * ("plans sharing a service name with plan-7"): ES GETs the lookup doc
    * and rewrites to a plain terms query; `SearchExec.resolveLookups`
    * performs the same 1-document point-get (bounded driver state, the
    * SCALE.md class) and the rewritten NestedTermsIn joins nothing —
    * it is a per-row membership predicate like any terms query. */
  private def d152(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": { "terms": { "linkedPlanServices.linkedService.name": {
        |    "index": "plan", "id": "plan-7",
        |    "path": "linkedPlanServices.linkedService.name" } } },
        |  "sort": [ { "objectId": { "order": "asc" } } ],
        |  "size": 30,
        |  "_source": ["objectId"]
        |}""".stripMargin
    SearchExec.search(assembled(s, d), "doc", body, schema)
  }

  private val d152Sql =
    s"""WITH o AS $O,
       |lk AS (SELECT DISTINCT 'Service ' || o_orderpriority AS nm FROM o WHERE o_custkey = 7),
       |hit AS (SELECT DISTINCT o_custkey AS ck2
       |        FROM o JOIN lk ON 'Service ' || o_orderpriority = lk.nm)
       |SELECT rn, "objectId" FROM (
       |  SELECT 'plan-' || ${ck("c_custkey")} AS "objectId",
       |    ROW_NUMBER() OVER (ORDER BY 'plan-' || ${ck("c_custkey")} ASC) AS rn
       |  FROM customer JOIN hit ON c_custkey = hit.ck2)
       |WHERE rn <= 30 ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d153
  /** `significant_terms` with the `percentage` heuristic — ES's simplest
    * significance score (subsetFreq / supersetFreq: what share of the
    * docs carrying this term are in the hit set), one exact division
    * over the same one-shuffle bucket table as jlh/chi²/MI (d61, d125,
    * d131). */
  private def d153(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "query": { "range": { "planCostShares.copay": { "gte": 25 } } },
        |  "aggs": {
        |    "hot_types": { "significant_terms": {
        |      "field": "planType", "size": 3, "percentage": {} } }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d153Sql =
    """WITH g AS (
      |  SELECT c_mktsegment AS key,
      |    CAST(SUM(CASE WHEN c_custkey % 50 >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS doc_count,
      |    CAST(COUNT(*) AS BIGINT) AS bg_count
      |  FROM customer GROUP BY 1)
      |SELECT key, doc_count, bg_count,
      |  CAST(doc_count AS DOUBLE) / bg_count AS score
      |FROM g WHERE doc_count > 0 ORDER BY score DESC, key ASC LIMIT 3""".stripMargin

  // ---------------------------------------------------------------- d154
  /** Legacy SPAN queries — `span_near` (desugared onto the d124
    * intervals machinery: slop = max_gaps, in_order = ordered) and
    * `span_first` (match within the first `end` token positions — a new
    * position primitive no phrase/interval form expresses). Both pure
    * position-array expressions on the scan path: no explode, no join. */
  private def d154(s: SparkSession, d: String): DataFrame = {
    val docsT = graft.Tables(s, d, "documents")
      .select(struct(col("doc_id"), col("text"), col("lang")).as("doc"))
    val dSchema = docsT.schema("doc").dataType.asInstanceOf[StructType]
    val body =
      """{
        |  "query": { "bool": { "should": [
        |    { "span_near": { "clauses": [
        |        { "span_term": { "text": "slow" } },
        |        { "span_term": { "text": "fast" } } ],
        |      "slop": 1, "in_order": true } },
        |    { "span_first": { "match": { "span_term": { "text": "key" } }, "end": 2 } }
        |  ], "minimum_should_match": 1 } }
        |}""".stripMargin
    val ast = SearchQuery.fromJson(body, dSchema)
    docsT.filter(SearchQuery.compile(ast, col("doc")))
      .select(col("doc.doc_id").as("doc_id"), col("doc.lang").as("lang"))
      .orderBy(col("doc_id"))
  }

  private val d154Sql = {
    def pos(term: String) =
      s"""list_filter(list_transform(string_split_regex(lower(text), '\\s+'),
         |      (x, i) -> CASE WHEN x = '$term' THEN i - 1 ELSE -1 END), v -> v >= 0)""".stripMargin
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    ${pos("slow")} AS p1,
       |    ${pos("fast")} AS p2,
       |    ${pos("key")} AS p3
       |  FROM documents)
       |SELECT doc_id, lang FROM t
       |WHERE len(list_filter(p1, x -> len(list_filter(p2, y -> y > x AND
       |        y - x + 1 - 2 <= 1)) > 0)) > 0
       |   OR len(list_filter(p3, p -> p < 2)) > 0
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- d155
  /** ES `combined_fields` — term-centric cross-field matching: with
    * `operator: and`, EVERY query token must appear in at least ONE of
    * the fields (multi_match's field-centric `and` would demand one
    * field carry them all — a genuinely different hit set). Desugars to
    * And-over-tokens of Or-over-fields TermMatch leaves
    * (`SearchQuery.parseNode`); the BM25F scoring deviation is
    * documented there. */
  private def d155(s: SparkSession, d: String): DataFrame = {
    val docsT = graft.Tables(s, d, "documents")
      .select(struct(col("doc_id"), col("text"), col("lang")).as("doc"))
    val dSchema = docsT.schema("doc").dataType.asInstanceOf[StructType]
    val body =
      """{
        |  "query": { "combined_fields": {
        |    "query": "de fast", "fields": ["text", "lang"], "operator": "and" } }
        |}""".stripMargin
    val ast = SearchQuery.fromJson(body, dSchema)
    docsT.filter(SearchQuery.compile(ast, col("doc")))
      .select(col("doc.doc_id").as("doc_id"), col("doc.lang").as("lang"))
      .orderBy(col("doc_id"))
  }

  private val d155Sql =
    """WITH t AS (SELECT doc_id, lang,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks,
      |    list_filter(regexp_split_to_array(lower(lang), '\s+'), x -> x <> '') AS ltoks
      |  FROM documents)
      |SELECT doc_id, lang FROM t
      |WHERE (list_contains(toks, 'de') OR list_contains(ltoks, 'de'))
      |  AND (list_contains(toks, 'fast') OR list_contains(ltoks, 'fast'))
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d156
  /** Terms with `min_doc_count: 0` — the Kibana "show empty buckets"
    * toggle: the whole field dictionary from the UNFILTERED corpus
    * renders, query-empty terms at doc_count 0 (one extra distinct-key
    * corpus aggregation + a |terms|-row left join — `EsAggs`). */
  private def d156(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "query": { "match": { "planType": "BUILDING" } },
        |  "aggs": { "types": { "terms": {
        |    "field": "planType", "size": 10, "min_doc_count": 0 } } }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d156Sql =
    """WITH dict AS (SELECT DISTINCT c_mktsegment AS key FROM customer),
      |g AS (SELECT c_mktsegment AS key, CAST(COUNT(*) AS BIGINT) AS doc_count
      |  FROM customer WHERE lower(c_mktsegment) = 'building' GROUP BY 1)
      |SELECT dict.key, COALESCE(g.doc_count, 0) AS doc_count
      |FROM dict LEFT JOIN g ON dict.key = g.key
      |ORDER BY doc_count DESC, dict.key ASC LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- d157
  /** `_msearch` — the multi-search transport every Kibana dashboard
    * actually fires: N independent bodies in one request, answered as
    * one frame with the body index (`_msearch_idx`) prefixed. Each body
    * runs through the normal search path (bounded heaps per body); the
    * union is bodies-many bounded pages, never a corpus-sized frame. */
  private def d157(s: SparkSession, d: String): DataFrame = {
    val bodies = Seq(
      """{"query": {"term": {"planType": "BUILDING"}},
        |"sort": [{"objectId": {"order": "asc"}}], "size": 5,
        |"_source": ["objectId"]}""".stripMargin,
      """{"query": {"range": {"planCostShares.copay": {"gte": 45}}},
        |"sort": [{"objectId": {"order": "asc"}}], "size": 5,
        |"_source": ["objectId"]}""".stripMargin,
      """{"query": {"prefix": {"objectId": {"value": "plan-10"}}},
        |"sort": [{"objectId": {"order": "asc"}}], "size": 5,
        |"_source": ["objectId"]}""".stripMargin)
    val corpus = assembled(s, d)
    bodies.zipWithIndex.map { case (b, i) =>
      SearchExec.search(corpus, "doc", b, schema)
        .select(lit(i.toLong).as("_msearch_idx"), col("rn"), col("objectId"))
    }.reduce(_ unionByName _)
      .orderBy(col("_msearch_idx"), col("rn"))
  }

  private val d157Sql =
    s"""SELECT 0 AS _msearch_idx, rn, "objectId" FROM (
       |  SELECT 'plan-' || ${ck("c_custkey")} AS "objectId",
       |    ROW_NUMBER() OVER (ORDER BY 'plan-' || ${ck("c_custkey")}) AS rn
       |  FROM customer WHERE c_mktsegment = 'BUILDING') WHERE rn <= 5
       |UNION ALL
       |SELECT 1, rn, "objectId" FROM (
       |  SELECT 'plan-' || ${ck("c_custkey")} AS "objectId",
       |    ROW_NUMBER() OVER (ORDER BY 'plan-' || ${ck("c_custkey")}) AS rn
       |  FROM customer WHERE c_custkey % 50 >= 45) WHERE rn <= 5
       |UNION ALL
       |SELECT 2, rn, "objectId" FROM (
       |  SELECT 'plan-' || ${ck("c_custkey")} AS "objectId",
       |    ROW_NUMBER() OVER (ORDER BY 'plan-' || ${ck("c_custkey")}) AS rn
       |  FROM customer WHERE 'plan-' || ${ck("c_custkey")} LIKE 'plan-10%') WHERE rn <= 5
       |ORDER BY _msearch_idx, rn""".stripMargin

  // ---------------------------------------------------------------- d158
  /** ES `runtime_mappings` — a script-computed field defined IN the
    * request body (schema-on-read: the dashboard adds a derived
    * dimension without reindexing), then used by BOTH the query and a
    * terms agg with a metric, exactly like a mapped field
    * (`docs/RuntimeFields.scala`). The projection fuses into the scan —
    * zero extra passes; the predicate cannot push down (ES's own
    * runtime-field cost, documented there). */
  private def d158(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "runtime_mappings": {
        |    "copay_band": { "type": "long",
        |      "script": { "source": "doc['planCostShares.copay'].value / 5" } }
        |  },
        |  "query": { "range": { "copay_band": { "gte": 2 } } },
        |  "aggs": { "bands": { "terms": { "field": "copay_band", "size": 12 },
        |    "aggs": { "avg_copay": { "avg": { "field": "planCostShares.copay" } } } } }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d158Sql =
    """WITH v AS (SELECT
      |    CAST(FLOOR(CAST(c_custkey % 50 AS DOUBLE) / 5) AS BIGINT) AS band,
      |    c_custkey % 50 AS copay
      |  FROM customer)
      |SELECT band AS key, CAST(COUNT(*) AS BIGINT) AS doc_count, AVG(copay) AS avg_copay
      |FROM v WHERE band >= 2 GROUP BY band
      |ORDER BY doc_count DESC, key ASC LIMIT 12""".stripMargin

  // ---------------------------------------------------------------- d159
  /** Terms `include: {partition, num_partitions}` — ES's
    * dictionary-paging device: a huge term dictionary (here the unique
    * objectIds) walks in `num_partitions` disjoint, exhaustive pages.
    * A |terms|-row hash filter on the bucket table, before pruning and
    * top-N (`EsAggs.Terms.partitionOf` — the md5-bridge deviation from
    * ES's murmur is documented there). */
  private def d159(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": { "ids": { "terms": {
        |    "field": "objectId", "size": 10,
        |    "include": { "partition": 3, "num_partitions": 7 } } } }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d159Sql =
    s"""WITH g AS (SELECT 'plan-' || ${ck("c_custkey")} AS key,
       |    CAST(COUNT(*) AS BIGINT) AS doc_count
       |  FROM customer GROUP BY 1)
       |SELECT key, doc_count FROM g
       |WHERE CAST(('0x' || substr(md5(key), 1, 8)) AS BIGINT) % 7 = 3
       |ORDER BY doc_count DESC, key ASC LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- d160
  /** ES nested sort with a FILTER — "order plans by the cheapest
    * deductible among their URGENT services": the element pool the
    * min-mode reduces over is filtered per element before the
    * reduction (`SearchQuery.SortKey.nestedFilter` →
    * `SearchExec.keyValue`); plans with no qualifying element sort as
    * missing (nulls last, the ES default). Pure array expressions — no
    * explode, no join. */
  private def d160(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": { "match_all": {} },
        |  "sort": [
        |    { "linkedPlanServices.planserviceCostShares.deductible": {
        |        "order": "asc", "mode": "min",
        |        "nested": { "path": "linkedPlanServices",
        |          "filter": { "term": {
        |            "linkedPlanServices.linkedService.name.keyword": "Service 1-URGENT" } } } } },
        |    { "objectId": { "order": "asc" } } ],
        |  "size": 15,
        |  "_source": ["objectId"]
        |}""".stripMargin
    SearchExec.search(assembled(s, d), "doc", body, schema)
  }

  private val d160Sql =
    s"""WITH o AS $O,
       |ag AS (SELECT o_custkey, MIN(o_orderkey % 1000) AS k
       |  FROM o WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey),
       |base AS (SELECT 'plan-' || ${ck("c_custkey")} AS "objectId", ag.k
       |  FROM customer LEFT JOIN ag ON o_custkey = c_custkey)
       |SELECT rn, "objectId" FROM (
       |  SELECT "objectId",
       |    ROW_NUMBER() OVER (ORDER BY k ASC NULLS LAST, "objectId" ASC) AS rn
       |  FROM base) WHERE rn <= 15 ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d161
  /** `collapse` with `inner_hits` — one best hit per group PLUS the
    * group's top-3 ids by an explicit inner sort as an array column
    * (the "best listing per domain, with runners-up" page —
    * `SearchQuery.CollapseInner` / `SearchExec`). Both rankings are
    * WindowGroupLimit-bounded; the array build is group-grain. Registry
    * grain: the inner-hits id array is rendered `"|"`-joined so every
    * output column is scalar (`Verify` asserts the gate constraint). */
  private def d161(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": { "match_all": {} },
        |  "collapse": { "field": "planType",
        |    "inner_hits": { "name": "top_by_copay", "size": 3,
        |      "sort": [ { "planCostShares.copay": "desc" } ] } },
        |  "sort": [ { "planCostShares.copay": { "order": "desc" } },
        |            { "objectId": { "order": "asc" } } ],
        |  "size": 10,
        |  "_source": ["objectId", "planType"]
        |}""".stripMargin
    SearchExec.search(assembled(s, d), "doc", body, schema)
      .withColumn("top_by_copay", concat_ws("|", col("top_by_copay")))
  }

  private val d161Sql =
    s"""WITH r AS (SELECT c_mktsegment AS seg, 'plan-' || ${ck("c_custkey")} AS oid,
       |    c_custkey % 50 AS cop,
       |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
       |      ORDER BY c_custkey % 50 DESC, 'plan-' || ${ck("c_custkey")} ASC) AS ir
       |  FROM customer),
       |tops AS (SELECT seg, string_agg(oid, '|' ORDER BY ir) AS top_by_copay
       |  FROM r WHERE ir <= 3 GROUP BY seg),
       |best AS (SELECT seg, oid, cop FROM r WHERE ir = 1)
       |SELECT ROW_NUMBER() OVER (ORDER BY cop DESC, oid ASC) AS rn,
       |  oid AS "objectId", seg AS "planType", top_by_copay
       |FROM best JOIN tops USING (seg)
       |ORDER BY rn LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- d162
  /** ES `bucket_count_ks_test` sibling — Kolmogorov–Smirnov distance
    * between the histogram's doc-count distribution and an expected
    * `fractions` curve (the drift-detection agg). Deterministic D/D⁺/D⁻
    * statistics over the two CDFs (ES's simulated p-values are a
    * documented deviation — the t_test rule); the expected CDF
    * prefix-sums at parse and both engines interpolate the identical
    * doubles. */
  private def d162(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "query": { "range": { "planCostShares.copay": { "lt": 42 } } },
        |  "aggs": {
        |    "h": { "histogram": { "field": "planCostShares.copay", "interval": 10 } },
        |    "ks": { "bucket_count_ks_test": { "buckets_path": "h>_count",
        |      "fractions": [0.2, 0.2, 0.2, 0.2, 0.2] } }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d162Sql = {
    // the IDENTICAL parse-time prefix-sum the engine embeds (float
    // artifacts and all); interpolated as shortest-round-trip literals
    val fracs = Seq(0.2, 0.2, 0.2, 0.2, 0.2)
    val total = fracs.sum
    val cum = fracs.scanLeft(0.0)(_ + _).tail.map(_ / total)
    val expCase = cum.zipWithIndex
      .map { case (v, i) => s"WHEN ${i + 1} THEN CAST(${v} AS DOUBLE)" }
      .mkString("CASE i ", " ", " END")
    s"""WITH b AS (SELECT (c_custkey % 50 - (c_custkey % 50) % 10) AS key,
       |    CAST(COUNT(*) AS BIGINT) AS doc_count FROM customer
       |  WHERE c_custkey % 50 < 42 GROUP BY 1),
       |w AS (SELECT key, doc_count,
       |    ROW_NUMBER() OVER (ORDER BY key) AS i,
       |    SUM(CAST(doc_count AS DOUBLE)) OVER (ORDER BY key
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    SUM(CAST(doc_count AS DOUBLE)) OVER () AS tot
       |  FROM b),
       |e AS (SELECT *, $expCase AS expc FROM w),
       |dd AS (SELECT GREATEST(MAX(cum / tot - expc), 0.0) AS dp,
       |    GREATEST(MAX(expc - cum / tot), 0.0) AS dm FROM e)
       |SELECT e.key, e.doc_count, GREATEST(dd.dp, dd.dm) AS ks_d,
       |  dd.dp AS ks_d_plus, dd.dm AS ks_d_minus
       |FROM e, dd ORDER BY e.key""".stripMargin
  }

  // ---------------------------------------------------------------- d163
  /** `moving_fn` with the OTHER MovingFunctions Kibana emits — trailing
    * max and sum beside d69's unweightedAvg: same shift-0 window frame
    * (the last n buckets EXCLUDING the current), exact integers cast to
    * ES's double rendering, |buckets|-row windows. */
  private def d163(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "h": { "histogram": { "field": "planCostShares.copay", "interval": 5 },
        |      "aggs": {
        |        "peak": { "moving_fn": { "buckets_path": "_count", "window": 3,
        |          "script": "MovingFunctions.max(values)" } },
        |        "roll": { "moving_fn": { "buckets_path": "_count", "window": 3,
        |          "script": "MovingFunctions.sum(values)" } } } }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d163Sql =
    """WITH b AS (SELECT (c_custkey % 50 - (c_custkey % 50) % 5) AS key,
      |    CAST(COUNT(*) AS BIGINT) AS doc_count FROM customer GROUP BY 1)
      |SELECT key, doc_count,
      |  CAST(MAX(doc_count) OVER (ORDER BY key
      |    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS DOUBLE) AS peak,
      |  CAST(SUM(doc_count) OVER (ORDER BY key
      |    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS DOUBLE) AS roll
      |FROM b ORDER BY key""".stripMargin

  // ---------------------------------------------------------------- d164
  /** ES `scripted_metric` — the Kibana custom-metric escape hatch, in the
    * decomposable-fold subset (ES's own canonical "profit" example):
    * init `state.t = 0`, map `state.t += <Painless-subset expr>`, combine
    * `return state.t`, reduce = the sum-of-states loop. Compiles to ONE
    * distributed sum of the mapped expression inside the terms
    * aggregation — Spark's partial aggregation IS the combine phase and
    * the final merge IS the reduce (`EsAggs` parseMetrics/metricCols).
    * The mapped values here are integer-valued doubles (the division is
    * always exact), so the sum is order-independent and oracle-exact. */
  private def d164(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "by_type": {
        |      "terms": { "field": "planType", "size": 10 },
        |      "aggs": {
        |        "profit": { "scripted_metric": {
        |          "init_script": "state.t = 0",
        |          "map_script": "state.t += doc['planCostShares.copay'].value * 2 - doc['planCostShares.deductible'].value / 100 + 1",
        |          "combine_script": "return state.t",
        |          "reduce_script": "double t = 0; for (s in states) { t += s } return t"
        |        } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d164Sql =
    """SELECT c_mktsegment AS key, CAST(COUNT(*) AS BIGINT) AS doc_count,
      |  CAST(SUM(c_custkey % 50 * 2 - c_nationkey + 1) AS DOUBLE) AS profit
      |FROM customer GROUP BY 1 ORDER BY doc_count DESC, key ASC""".stripMargin

  // ---------------------------------------------------------------- d165
  /** ES `has_child` — parents selected by a predicate on their CHILDREN,
    * through the parent-join index the shredded `edges` table IS
    * (`ParentJoin.hasChild`; the reference's per-relation Redis keys,
    * `PlanService.java:41-44`). Nested relation: an inner has_child on
    * `planserviceCostShares` (services whose cost share has deductible
    * < 400) feeds the outer has_child on `linkedPlanServices` with
    * `min_children: 3` — "plans with at least three cheap services". The
    * child predicate prunes the entity scan BEFORE any join (plan-pinned);
    * both hops are key equi-joins + one hash count per parent. */
  private def d165(s: SparkSession, d: String): DataFrame = {
    val sh = shredded(s, d)
    val cheapShares = sh.entities.filter(
      col("type_tag") === "planserviceCostShares" &&
        get_json_object(col("json"), "$.deductible").cast("long") < 400)
      .select(col("key"))
    val cheapServices = ParentJoin.hasChildKeys(sh, "planserviceCostShares", cheapShares)
      .select(col("parent_key").as("key"))
    ParentJoin.hasChildKeys(sh, "linkedPlanServices", cheapServices, minChildren = 3)
      .select(regexp_replace(col("parent_key"), "^plan_", "").as("objectId"),
        col("n_matching"))
      .orderBy(col("objectId"))
  }

  private val d165Sql =
    s"""WITH o AS $O,
       |m AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_matching
       |  FROM o WHERE o_orderkey % 1000 < 400 GROUP BY o_custkey
       |  HAVING COUNT(*) >= 3)
       |SELECT 'plan-' || ${ck("c_custkey")} AS "objectId", n_matching
       |FROM customer JOIN m ON o_custkey = c_custkey
       |ORDER BY "objectId"""".stripMargin

  // ---------------------------------------------------------------- d166
  /** ES `has_parent` — children selected by a predicate on their PARENT
    * (`ParentJoin.hasParent`): all planservice nodes whose plan is a
    * BUILDING-segment plan. Parent predicate prunes the entity scan
    * first; one key equi-join through edges; no child fan-out beyond the
    * edge table (ES score_mode=none — has_parent never aggregates). */
  private def d166(s: SparkSession, d: String): DataFrame = {
    val sh = shredded(s, d)
    ParentJoin.hasParent(sh, "linkedPlanServices",
      col("type_tag") === "plan" &&
        get_json_object(col("json"), "$.planType") === "BUILDING")
      .select(regexp_replace(col("child_key"), "^planservice_", "").as("objectId"),
        regexp_replace(col("parent_key"), "^plan_", "").as("parent"))
      .orderBy(col("objectId"))
  }

  private val d166Sql =
    s"""WITH o AS $O
       |SELECT 'ps-' || ${ck("o_orderkey")} AS "objectId",
       |  'plan-' || ${ck("o_custkey")} AS parent
       |FROM o JOIN customer ON c_custkey = o_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |ORDER BY "objectId"""".stripMargin

  // ---------------------------------------------------------------- d167
  /** ES `geo_shape` polygon query over geo_point docs — ray-casting
    * parity behind the polygon's bbox as a PUSHED numeric pre-filter
    * (`SearchQuery.GeoShapePolygon` / `Geo.pointInPolygon`; the d121
    * two-stage shape — most of the planet prunes at the parquet scan
    * before any edge test). Vertices sit off the planted tenth-degree
    * grid so no point lies ON an edge; the SQL side replays the identical
    * multiplication-only crossing tests. */
  private val d167Verts: Seq[(Double, Double)] = // (lat, lon)
    Seq((-20.03, -30.05), (-25.11, 40.07), (30.09, 55.03), (45.13, -10.01))

  private def d167(s: SparkSession, d: String): DataFrame = {
    val geo = geoDocs(s, d)
    val ring = (d167Verts :+ d167Verts.head)
      .map { case (la, lo) => s"[$lo, $la]" }.mkString(", ")
    val body =
      s"""{
         |  "query": { "geo_shape": { "location": {
         |    "shape": { "type": "polygon", "coordinates": [[$ring]] },
         |    "relation": "intersects" } } }
         |}""".stripMargin
    val ast = SearchQuery.fromJson(body, geoSchema(geo))
    geo.filter(SearchQuery.compile(ast, col("doc")))
      .select(col("doc.objectId").as("objectId"),
        col("doc.location.lat").as("lat"), col("doc.location.lon").as("lon"))
      .orderBy(col("objectId"))
  }

  private val d167Sql =
    s"""WITH pts AS (
       |  SELECT 'plan-' || ${ck("c_custkey")} AS "objectId",
       |    $geoLatSql AS lat, $geoLonSql AS lon
       |  FROM customer)
       |SELECT "objectId", lat, lon FROM pts
       |WHERE ${Geo.pointInPolygonSql("lat", "lon", d167Verts)}
       |ORDER BY "objectId"""".stripMargin

  // ---------------------------------------------------------------- d168
  /** `function_score` `random_score` + body-level `min_score` — the
    * reproducible-shuffle page ("show a seeded random 'sample' of cheap
    * plans, floor the draw at 0.6"). The draw is the top 60 bits of
    * md5(seed:objectId) over 2^60 — division by a power of two, bit-exact
    * in any engine (`SearchQuery.ScoreFn.random`); min_score prunes the
    * hit set BEFORE sort/pagination (`SearchExec`). */
  private def d168(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": { "function_score": {
        |    "query": { "range": { "planCostShares.copay": { "lt": 40 } } },
        |    "functions": [ { "random_score": { "seed": 7, "field": "objectId" } } ],
        |    "boost_mode": "multiply" } },
        |  "min_score": 0.6,
        |  "sort": [ { "_score": "desc" }, { "objectId": "asc" } ],
        |  "size": 20,
        |  "_source": ["objectId"]
        |}""".stripMargin
    SearchExec.search(assembled(s, d), "doc", body, schema)
  }

  private val d168Sql =
    s"""WITH s AS (SELECT 'plan-' || ${ck("c_custkey")} AS oid,
       |    CAST(CAST(('0x' || substr(md5('7:plan-' || ${ck("c_custkey")}), 1, 15)) AS BIGINT) AS DOUBLE)
       |      / 1152921504606846976.0 AS score
       |  FROM customer WHERE c_custkey % 50 < 40)
       |SELECT rn, score, "objectId" FROM (
       |  SELECT oid AS "objectId", score,
       |    ROW_NUMBER() OVER (ORDER BY score DESC, oid ASC) AS rn
       |  FROM s WHERE score >= 0.6)
       |WHERE rn <= 20 ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d169
  /** `moving_fn` MODEL functions — ewma / linearWeightedAvg / holt over
    * a copay histogram's doc_counts, window 3 (the Kibana smoothing
    * trio beyond d69/d163's reductions). Each is the ES skip-NaN fold
    * unrolled over the window's lag columns at plan time
    * (`EsAggs.MovingAvg` — fixed IEEE op sequences; mapped values are
    * integer counts so every product is exact). |buckets|-row windows. */
  private def d169(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "h": {
        |      "histogram": { "field": "planCostShares.copay", "interval": 5 },
        |      "aggs": {
        |        "ew": { "moving_fn": { "buckets_path": "_count", "window": 3,
        |                               "script": "MovingFunctions.ewma(values, 0.3)" } },
        |        "lwa": { "moving_fn": { "buckets_path": "_count", "window": 3,
        |                                "script": "MovingFunctions.linearWeightedAvg(values)" } },
        |        "holt": { "moving_fn": { "buckets_path": "_count", "window": 3,
        |                                 "script": "MovingFunctions.holt(values, 0.3, 0.1)" } }
        |      }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d169Sql = {
    val a = 0.3; val na = 1 - 0.3; val b = 0.1; val nb = 1 - 0.1
    // holt components, textually staged so the IEEE op sequence is the
    // engine's exactly (ES holtForecast: value = s + b, the one-step
    // forecast; see EsAggs MovingAvg "holt")
    val s2 = s"($a * v2 + $na * (v3 + 0.0))" // 3-value case: level after v2
    val b2 = s"($b * ($s2 - v3) + $nb * 0.0)"
    val s3 = s"($a * v1 + $na * ($s2 + $b2))"
    val b3 = s"($b * ($s3 - $s2) + $nb * $b2)"
    val s2w = s"($a * v1 + $na * (v2 + 0.0))" // 2-value case: level after v1
    val b2w = s"($b * ($s2w - v2) + $nb * 0.0)"
    s"""WITH h AS (SELECT (c_custkey % 50 - (c_custkey % 50) % 5) AS key,
       |    CAST(COUNT(*) AS BIGINT) AS doc_count FROM customer GROUP BY 1),
       |l AS (SELECT key, doc_count,
       |    CAST(LAG(doc_count, 1) OVER (ORDER BY key) AS DOUBLE) AS v1,
       |    CAST(LAG(doc_count, 2) OVER (ORDER BY key) AS DOUBLE) AS v2,
       |    CAST(LAG(doc_count, 3) OVER (ORDER BY key) AS DOUBLE) AS v3
       |  FROM h),
       |w AS (SELECT *,
       |    CAST((CASE WHEN v1 IS NOT NULL THEN 1 ELSE 0 END) +
       |         (CASE WHEN v2 IS NOT NULL THEN 1 ELSE 0 END) +
       |         (CASE WHEN v3 IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) AS w1,
       |    CAST((CASE WHEN v2 IS NOT NULL THEN 1 ELSE 0 END) +
       |         (CASE WHEN v3 IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) AS w2,
       |    CAST((CASE WHEN v3 IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) AS w3
       |  FROM l)
       |SELECT key, doc_count,
       |  CASE WHEN v1 IS NULL THEN NULL
       |       WHEN v2 IS NULL THEN v1
       |       WHEN v3 IS NULL THEN v1 * $a + v2 * $na
       |       ELSE v1 * $a + (v2 * $a + v3 * $na) * $na END AS ew,
       |  CASE WHEN ((CASE WHEN v1 IS NOT NULL THEN w1 ELSE 0.0 END) +
       |             (CASE WHEN v2 IS NOT NULL THEN w2 ELSE 0.0 END) +
       |             (CASE WHEN v3 IS NOT NULL THEN w3 ELSE 0.0 END)) > 0
       |    THEN ((CASE WHEN v1 IS NOT NULL THEN v1 * w1 ELSE 0.0 END) +
       |          (CASE WHEN v2 IS NOT NULL THEN v2 * w2 ELSE 0.0 END) +
       |          (CASE WHEN v3 IS NOT NULL THEN v3 * w3 ELSE 0.0 END))
       |         / ((CASE WHEN v1 IS NOT NULL THEN w1 ELSE 0.0 END) +
       |            (CASE WHEN v2 IS NOT NULL THEN w2 ELSE 0.0 END) +
       |            (CASE WHEN v3 IS NOT NULL THEN w3 ELSE 0.0 END))
       |    ELSE NULL END AS lwa,
       |  CASE WHEN v1 IS NULL THEN NULL
       |       WHEN v2 IS NULL THEN v1 + 0.0
       |       WHEN v3 IS NULL THEN $s2w + $b2w
       |       ELSE $s3 + $b3 END AS holt
       |FROM w ORDER BY key""".stripMargin
  }

  // ---------------------------------------------------------------- d170
  /** `function_score` with a `script_score` FUNCTION entry beside a
    * filtered weight, `score_mode: sum` — the last function_score
    * function form ("boost BUILDING plans by 3, add a custom
    * sqrt(copay) + deductible/1000 signal"). The function's script rides
    * the same Painless subset as the top-level script_score query
    * (`SearchQuery.ScoreFn.script`); sqrt and the power-of-ten division
    * are correctly-rounded IEEE ops the oracle replays bit-for-bit. */
  private def d170(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": { "function_score": {
        |    "query": { "range": { "planCostShares.copay": { "lt": 45 } } },
        |    "functions": [
        |      { "filter": { "term": { "planType": "BUILDING" } }, "weight": 3 },
        |      { "script_score": { "script":
        |          "Math.sqrt(doc['planCostShares.copay'].value) + doc['planCostShares.deductible'].value / 1000" },
        |        "weight": 2 }
        |    ],
        |    "score_mode": "sum", "boost_mode": "multiply" } },
        |  "sort": [ { "_score": "desc" }, { "objectId": "asc" } ],
        |  "size": 15,
        |  "_source": ["objectId"]
        |}""".stripMargin
    SearchExec.search(assembled(s, d), "doc", body, schema)
  }

  private val d170Sql =
    s"""WITH s AS (SELECT 'plan-' || ${ck("c_custkey")} AS oid,
       |    (CASE WHEN c_mktsegment = 'BUILDING' THEN 3.0 ELSE 0.0 END)
       |      + (SQRT(CAST(c_custkey % 50 AS DOUBLE))
       |         + CAST(c_nationkey * 100 AS DOUBLE) / 1000.0) * 2.0 AS score
       |  FROM customer WHERE c_custkey % 50 < 45)
       |SELECT rn, score, "objectId" FROM (
       |  SELECT oid AS "objectId", score,
       |    ROW_NUMBER() OVER (ORDER BY score DESC, oid ASC) AS rn
       |  FROM s)
       |WHERE rn <= 15 ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d171
  /** ES `extended_stats_bucket` sibling — the error-band overview of a
    * histogram's own doc_counts ("how spread out are the buckets"): the
    * extended_stats fan-out (count/min/max/avg/sum/sos/variance/σ/
    * σ-bounds) over the bucket VALUE list, as constant columns beside
    * every bucket row (`EsAggs.Sibling`). |buckets|-row windows; the
    * integer bucket counts make both sums exact, so every double
    * expression is IEEE-identical in the oracle. */
  private def d171(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "h": { "histogram": { "field": "planCostShares.copay", "interval": 10 } },
        |    "spread": { "extended_stats_bucket": { "buckets_path": "h>_count" } }
        |  }
        |}""".stripMargin
    EsAggs.run(assembled(s, d), "doc", body, schema)
  }

  private val d171Sql =
    """WITH h AS (SELECT (c_custkey % 50 - (c_custkey % 50) % 10) AS key,
      |    CAST(COUNT(*) AS BIGINT) AS doc_count FROM customer GROUP BY 1)
      |SELECT key, doc_count,
      |  CAST(COUNT(doc_count) OVER () AS BIGINT) AS spread_count,
      |  MIN(doc_count) OVER () AS spread_min,
      |  MAX(doc_count) OVER () AS spread_max,
      |  CAST(SUM(doc_count) OVER () AS DOUBLE) / COUNT(doc_count) OVER () AS spread_avg,
      |  CAST(SUM(doc_count) OVER () AS DOUBLE) AS spread_sum,
      |  CAST(SUM(doc_count * doc_count) OVER () AS DOUBLE) AS spread_sum_of_squares,
      |  CAST(SUM(doc_count * doc_count) OVER () AS DOUBLE) / COUNT(doc_count) OVER ()
      |    - (CAST(SUM(doc_count) OVER () AS DOUBLE) / COUNT(doc_count) OVER ())
      |      * (CAST(SUM(doc_count) OVER () AS DOUBLE) / COUNT(doc_count) OVER ())
      |    AS spread_variance,
      |  sqrt(CAST(SUM(doc_count * doc_count) OVER () AS DOUBLE) / COUNT(doc_count) OVER ()
      |    - (CAST(SUM(doc_count) OVER () AS DOUBLE) / COUNT(doc_count) OVER ())
      |      * (CAST(SUM(doc_count) OVER () AS DOUBLE) / COUNT(doc_count) OVER ()))
      |    AS spread_std_deviation,
      |  CAST(SUM(doc_count) OVER () AS DOUBLE) / COUNT(doc_count) OVER ()
      |    + 2.0 * sqrt(CAST(SUM(doc_count * doc_count) OVER () AS DOUBLE) / COUNT(doc_count) OVER ()
      |      - (CAST(SUM(doc_count) OVER () AS DOUBLE) / COUNT(doc_count) OVER ())
      |        * (CAST(SUM(doc_count) OVER () AS DOUBLE) / COUNT(doc_count) OVER ()))
      |    AS spread_std_deviation_bounds_upper,
      |  CAST(SUM(doc_count) OVER () AS DOUBLE) / COUNT(doc_count) OVER ()
      |    - 2.0 * sqrt(CAST(SUM(doc_count * doc_count) OVER () AS DOUBLE) / COUNT(doc_count) OVER ()
      |      - (CAST(SUM(doc_count) OVER () AS DOUBLE) / COUNT(doc_count) OVER ())
      |        * (CAST(SUM(doc_count) OVER () AS DOUBLE) / COUNT(doc_count) OVER ()))
      |    AS spread_std_deviation_bounds_lower
      |FROM h ORDER BY key""".stripMargin

  // ---------------------------------------------------------------- d172
  /** ES `_rank_eval` — the search-quality CI harness: three rated
    * requests scored with normalized DCG@5, per-request + `_overall`
    * mean (`RankEval.run`). Pages ride the normal SearchExec path
    * (bounded TakeOrderedAndProject); rating tables are body literals
    * (broadcast); ideal DCG folds to a plan-time constant per request.
    * Both engines share the identical gain expression
    * `(2^rel − 1) / (ln(rank+1)/ln 2)`. */
  private def d172(s: SparkSession, d: String): DataFrame = {
    def req(id: String, query: String, ratings: Seq[(String, Int)]): String =
      s"""{ "id": "$id",
         |  "request": { "query": $query,
         |    "sort": [ { "objectId": { "order": "asc" } } ],
         |    "size": 5, "_source": ["objectId"] },
         |  "ratings": [ ${ratings.map { case (i, r) =>
              s"""{ "_id": "$i", "rating": $r }""" }.mkString(", ")} ] }""".stripMargin
    val body =
      s"""{
         |  "requests": [
         |    ${req("r1", """{ "match_all": {} }""",
              Seq("plan-1" -> 3, "plan-100" -> 2, "plan-1001" -> 1, "plan-999" -> 3))},
         |    ${req("r2", """{ "range": { "planCostShares.copay": { "gte": 25 } } }""",
              Seq("plan-1026" -> 2, "plan-1028" -> 1, "plan-777" -> 3))},
         |    ${req("r3", """{ "range": { "planCostShares.copay": { "gte": 10, "lt": 20 } } }""",
              Seq("plan-1011" -> 1, "plan-1013" -> 3, "plan-1015" -> 2))}
         |  ],
         |  "metric": { "dcg": { "k": 5, "normalize": true } }
         |}""".stripMargin
    RankEval.run(assembled(s, d), "doc", body, schema)
  }

  private val d172Sql = {
    def idcg(ratings: Seq[Int]): Double =
      ratings.sorted(Ordering[Int].reverse).take(5).zipWithIndex.map { case (r, i) =>
        (math.pow(2.0, r.toDouble) - 1.0) / (math.log(i + 2.0) / math.log(2.0))
      }.sum
    val i1 = idcg(Seq(3, 2, 1, 3)); val i2 = idcg(Seq(2, 1, 3)); val i3 = idcg(Seq(1, 3, 2))
    s"""WITH base AS (SELECT 'plan-' || ${ck("c_custkey")} AS oid, c_custkey % 50 AS copay
       |  FROM customer),
       |p1 AS (SELECT 'r1' AS request_id, oid, rnk FROM (
       |  SELECT oid, ROW_NUMBER() OVER (ORDER BY oid) AS rnk FROM base) WHERE rnk <= 5),
       |p2 AS (SELECT 'r2' AS request_id, oid, rnk FROM (
       |  SELECT oid, ROW_NUMBER() OVER (ORDER BY oid) AS rnk FROM base WHERE copay >= 25)
       |  WHERE rnk <= 5),
       |p3 AS (SELECT 'r3' AS request_id, oid, rnk FROM (
       |  SELECT oid, ROW_NUMBER() OVER (ORDER BY oid) AS rnk FROM base
       |  WHERE copay >= 10 AND copay < 20) WHERE rnk <= 5),
       |pages AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3),
       |ratings(request_id, oid, rating) AS (VALUES
       |  ('r1', 'plan-1', 3), ('r1', 'plan-100', 2), ('r1', 'plan-1001', 1), ('r1', 'plan-999', 3),
       |  ('r2', 'plan-1026', 2), ('r2', 'plan-1028', 1), ('r2', 'plan-777', 3),
       |  ('r3', 'plan-1011', 1), ('r3', 'plan-1013', 3), ('r3', 'plan-1015', 2)),
       |j AS (SELECT p.request_id, p.rnk, COALESCE(r.rating, 0) AS rel
       |  FROM pages p LEFT JOIN ratings r
       |    ON p.request_id = r.request_id AND p.oid = r.oid),
       |per AS (SELECT request_id,
       |    SUM((POWER(2.0, rel) - 1.0) / (LN(rnk + 1.0) / LN(2.0)))
       |      / (CASE request_id WHEN 'r1' THEN $i1 WHEN 'r2' THEN $i2 ELSE $i3 END)
       |      AS metric_score
       |  FROM j GROUP BY request_id)
       |SELECT request_id, metric_score FROM per
       |UNION ALL SELECT '_overall', SUM(metric_score) / COUNT(*) FROM per
       |ORDER BY request_id""".stripMargin
  }

  // ---------------------------------------------------------------- d173
  /** ES `_field_caps` — per-field capability report over the live mapping:
    * dotted paths with ES types and searchable/aggregatable flags. ES
    * reads the index's FULL mapping, so the report walks the declared
    * document schema (PlanSchema — the engine's mapping of record; a
    * field present in any document is present in the mapping, with no
    * sample bound), flattened by ES's rules: strings surface as `text`
    * (searchable, not aggregatable) plus a `.keyword` multi-field (both),
    * integers as `long` (both), object arrays as `nested` and sub-objects
    * as `object` container rows (neither). Scale shape: a driver-side
    * walk of the StructType — no corpus scan at all. (Sampled
    * re-inference, the pre-r10 implementation, could silently drop a
    * field first seen after the sample bound.) */
  private def d173(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val inferred = schema
    val rows = scala.collection.mutable.ListBuffer.empty[(String, String, Int, Int)]
    def walk(prefix: String, st: StructType): Unit = st.fields.foreach { f =>
      val p = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
      f.dataType match {
        case s2: StructType => rows += ((p, "object", 0, 0)); walk(p, s2)
        case ArrayType(s2: StructType, _) => rows += ((p, "nested", 0, 0)); walk(p, s2)
        case StringType =>
          rows += ((p, "text", 1, 0)); rows += ((s"$p.keyword", "keyword", 1, 1))
        case LongType => rows += ((p, "long", 1, 1))
        case other => rows += ((p, other.simpleString, 1, 1))
      }
    }
    walk("", inferred)
    s.createDataFrame(rows.toSeq)
      .toDF("field", "es_type", "searchable", "aggregatable")
      .orderBy(col("field"), col("es_type"))
  }

  /** Hand-written pin of the expected caps (NOT derived from the Scala
    * walk — the oracle's independence is the point). */
  private val d173Sql = {
    def txt(p: String) = s"('$p', 'text', 1, 0), ('$p.keyword', 'keyword', 1, 1)"
    def lng(p: String) = s"('$p', 'long', 1, 1)"
    def obj(p: String) = s"('$p', 'object', 0, 0)"
    val values = Seq(
      txt("_org"), txt("creationDate"),
      "('linkedPlanServices', 'nested', 0, 0)",
      txt("linkedPlanServices._org"),
      obj("linkedPlanServices.linkedService"),
      txt("linkedPlanServices.linkedService._org"),
      txt("linkedPlanServices.linkedService.name"),
      txt("linkedPlanServices.linkedService.objectId"),
      txt("linkedPlanServices.linkedService.objectType"),
      txt("linkedPlanServices.objectId"),
      txt("linkedPlanServices.objectType"),
      obj("linkedPlanServices.planserviceCostShares"),
      txt("linkedPlanServices.planserviceCostShares._org"),
      lng("linkedPlanServices.planserviceCostShares.copay"),
      lng("linkedPlanServices.planserviceCostShares.deductible"),
      txt("linkedPlanServices.planserviceCostShares.objectId"),
      txt("linkedPlanServices.planserviceCostShares.objectType"),
      txt("objectId"), txt("objectType"),
      obj("planCostShares"),
      txt("planCostShares._org"),
      lng("planCostShares.copay"), lng("planCostShares.deductible"),
      txt("planCostShares.objectId"), txt("planCostShares.objectType"),
      txt("planType")
    ).mkString(",\n  ")
    s"""SELECT * FROM (VALUES
       |  $values
       |) AS t(field, es_type, searchable, aggregatable)
       |ORDER BY field, es_type""".stripMargin
  }

  // ---------------------------------------------------------------- d174
  /** ES `_mtermvectors` with `term_statistics: true` — per-document term
    * vectors of the analyzed service-name field for three requested docs:
    * `term_freq` within the doc, plus index-wide `doc_freq` and `ttf`
    * (total term frequency). Analysis rides the shared TextAnalysis chain
    * (same tokens both engines, bit-exact). Scale shape: the corpus-wide
    * stats are ONE hash aggregation over the exploded terms (ES reads the
    * same numbers from its postings; a standing deployment would maintain
    * this term-stats table incrementally, d23's df machinery), and the
    * requested-doc side is a handful of rows broadcast into the join —
    * never the corpus side. */
  private def d174(s: SparkSession, d: String): DataFrame = {
    import graft.ext.TextAnalysis
    val ids = Seq("plan-1", "plan-7", "plan-42")
    val toks = assembled(s, d)
      .select(col("doc.objectId").as("object_id"),
        explode(col("doc.linkedPlanServices")).as("ps"))
      .select(col("object_id"),
        explode(TextAnalysis.analyze(col("ps.linkedService.name"))).as("term"))
    val tf = toks.groupBy("object_id", "term")
      .agg(count(lit(1)).as("term_freq"))
    val stats = tf.groupBy("term")
      .agg(count(lit(1)).as("doc_freq"), sum("term_freq").as("ttf"))
    stats.join(broadcast(tf.filter(col("object_id").isin(ids.map(lit): _*))), "term")
      .select(col("object_id"), col("term"), col("term_freq"),
        col("doc_freq"), col("ttf"))
      .orderBy(col("object_id"), col("term"))
  }

  private val d174Sql = {
    import graft.ext.TextAnalysis
    s"""WITH o AS $O,
       |tok AS (SELECT o_custkey AS ck,
       |  unnest(${TextAnalysis.analyzeSql("'Service ' || o_orderpriority")}) AS term FROM o),
       |tf AS (SELECT ck, term, COUNT(*) AS term_freq FROM tok GROUP BY ck, term),
       |stats AS (SELECT term, COUNT(*) AS doc_freq,
       |  CAST(SUM(term_freq) AS BIGINT) AS ttf FROM tf GROUP BY term)
       |SELECT 'plan-' || ${ck("tf.ck")} AS object_id, tf.term, tf.term_freq,
       |  s.doc_freq, s.ttf
       |FROM tf JOIN stats s ON tf.term = s.term
       |WHERE tf.ck IN (1, 7, 42)
       |ORDER BY object_id, tf.term""".stripMargin
  }

  // ---------------------------------------------------------------- d175
  /** ES `_update_by_query` — set-oriented bulk update: the body's query
    * selects the documents (one pushdown-eligible predicate on the
    * assembled scan — BEFORE any reachability work, plan-pinned), the
    * script (`ctx._source.<path> = <expr>`, the d150 Painless-subset
    * arithmetic) rewrites the matched docs as one codegen'd
    * struct-rebuild expression, and M8 replace persists them
    * (delete-then-save, the reference's own update shape,
    * `PlanService.java:202-215` — here one plan for ANY match count).
    * "Double copay plus 7 on every expensive non-FURNITURE plan." */
  private def d175(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": { "bool": {
        |    "must": [ { "range": { "planCostShares.copay": { "gte": 30 } } } ],
        |    "must_not": [ { "term": { "planType": "FURNITURE" } } ] } },
        |  "script": { "source":
        |    "ctx._source.planCostShares.copay = ctx._source.planCostShares.copay * 2 + 7" }
        |}""".stripMargin
    val after = materialized(s, "d175",
      BulkByQuery.updateByQuery(assembled(s, d), shredded(s, d), body, schema))
    Assembler.assemble(after, schema, "plan").select(
      col("doc.objectId").as("object_id"),
      col("doc.planType").as("plan_type"),
      col("doc.planCostShares.copay").as("copay"),
      size(col("doc.linkedPlanServices")).as("n_services"))
      .orderBy(col("object_id"))
  }

  private val d175Sql =
    s"""WITH o AS $O
       |SELECT 'plan-' || ${ck("c_custkey")} AS object_id,
       |  c_mktsegment AS plan_type,
       |  CASE WHEN c_custkey % 50 >= 30 AND c_mktsegment <> 'FURNITURE'
       |       THEN c_custkey % 50 * 2 + 7 ELSE c_custkey % 50 END AS copay,
       |  CAST((SELECT COUNT(*) FROM o WHERE o_custkey = c_custkey) AS INTEGER) AS n_services
       |FROM customer ORDER BY object_id""".stripMargin

  // ---------------------------------------------------------------- d176
  /** ES `_delete_by_query` — set-oriented bulk delete: the body's query
    * selects root documents (filtered assembled scan), M6 cascade removes
    * their reachable closures. Output: the ES response's `deleted` count
    * beside the post-delete per-type entity census (proving the cascade
    * took children with their parents). "Retention: drop every expensive
    * BUILDING plan." */
  private def d176(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": { "bool": { "must": [
        |    { "term": { "planType": "BUILDING" } },
        |    { "range": { "planCostShares.copay": { "gte": 25 } } } ] } }
        |}""".stripMargin
    val (after, deleted) =
      BulkByQuery.deleteByQuery(assembled(s, d), shredded(s, d), body, schema)
    after.entities.groupBy(col("type_tag")).agg(count(lit(1)).as("n"))
      .unionByName(deleted.select(lit("_deleted_docs").as("type_tag"),
        col("deleted").as("n")))
      .orderBy(col("type_tag"))
  }

  private val d176Sql =
    s"""WITH o AS $O,
       |keep AS (SELECT * FROM customer
       |  WHERE NOT (c_mktsegment = 'BUILDING' AND c_custkey % 50 >= 25)),
       |ko AS (SELECT o.* FROM o JOIN keep ON o_custkey = c_custkey)
       |SELECT '_deleted_docs' AS type_tag, CAST((SELECT COUNT(*) FROM customer
       |    WHERE c_mktsegment = 'BUILDING' AND c_custkey % 50 >= 25) AS BIGINT) AS n
       |UNION ALL SELECT 'linkedService', COUNT(*) FROM ko
       |UNION ALL SELECT 'plan', COUNT(*) FROM keep
       |UNION ALL SELECT 'planCostShares', COUNT(*) FROM keep
       |UNION ALL SELECT 'planservice', COUNT(*) FROM ko
       |UNION ALL SELECT 'planserviceCostShares', COUNT(*) FROM ko
       |ORDER BY type_tag""".stripMargin

  // ---------------------------------------------------------------- d177
  /** ES `_search/template` — a Kibana-style saved search rendered from
    * params and executed by the SAME body machinery (SearchTemplate →
    * SearchExec; the d151 wrapper pattern with parameters): `{{type}}`
    * scalar, `{{min_copay}}`/`{{size}}` with `{{^…}}default{{/…}}`
    * values (both exercised: the params omit them), and the org list via
    * `{{#toJson}}orgs{{/toJson}}` — the escaping-correct array form. */
  private def d177(s: SparkSession, d: String): DataFrame = {
    val source =
      """{
        |  "query": { "bool": { "must": [
        |    { "term": { "planType": "{{type}}" } },
        |    { "range": { "planCostShares.copay": {
        |        "gte": {{min_copay}}{{^min_copay}}0{{/min_copay}},
        |        "lt": {{max_copay}} } } },
        |    { "terms": { "_org": {{#toJson}}orgs{{/toJson}} } } ] } },
        |  "sort": [ { "objectId": { "order": "asc" } } ],
        |  "size": {{size}}{{^size}}25{{/size}},
        |  "_source": ["objectId", "_org", "planCostShares.copay"]
        |}""".stripMargin
    SearchTemplate.search(assembled(s, d), "doc", source,
      Map("type" -> "BUILDING", "max_copay" -> 40,
        "orgs" -> Seq("org-1.example.com", "org-5.example.com")), schema)
  }

  private val d177Sql =
    s"""SELECT rn, "objectId", "_org", "planCostShares_copay" FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY "objectId" ASC) AS rn FROM (
       |    SELECT 'plan-' || ${ck("c_custkey")} AS "objectId",
       |      'org-' || ${ck("c_nationkey")} || '.example.com' AS "_org",
       |      c_custkey % 50 AS "planCostShares_copay"
       |    FROM customer
       |    WHERE c_mktsegment = 'BUILDING'
       |      AND c_custkey % 50 >= 0 AND c_custkey % 50 < 40
       |      AND c_nationkey IN (1, 5)))
       |WHERE rn <= 25 ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d178
  /** Point-in-time consistent paging (ES `_pit` + `search_after`) — the
    * page-stability contract: a keyset walk opened against a PIT reads
    * the SNAPSHOT even while a mutation batch lands on the live index.
    * The snapshot primitive here is the engine's write-once materialized
    * corpus parquet (immutable by construction — the M7 etag column is
    * its per-doc version witness); the live state is a real
    * `_delete_by_query` (d176 machinery) applied between page fetches.
    * Three search_after pages walk the snapshot — each cursor is the
    * previous page's last sort key, a 1-value bounded driver fetch (the
    * keyset contract: the CLIENT carries the cursor) — and `in_live`
    * joins each paged doc against the post-delete root set: deleted docs
    * STILL APPEAR in their page (in_live = 0), which is precisely what
    * PIT promises and a live walk would violate. Page N costs what page
    * 1 costs (pushdown filter + bounded heap — the d40 scale shape). */
  private def d178(s: SparkSession, d: String): DataFrame = {
    val pit = assembled(s, d) // the snapshot: write-once parquet
    def pageBody(after: Option[String]): String =
      s"""{
         |  "query": { "range": { "planCostShares.copay": { "gte": 10 } } },
         |  "sort": [ { "objectId": { "order": "asc" } } ],
         |  "size": 20,
         |  ${after.map(a => s""""search_after": ["$a"],""").getOrElse("")}
         |  "_source": ["objectId"]
         |}""".stripMargin
    val p1 = SearchExec.search(pit, "doc", pageBody(None), schema)
    // the concurrent mutation batch: bulk-delete expensive BUILDING plans
    // from the LIVE state (the snapshot is untouched by construction)
    val delBody =
      """{ "query": { "bool": { "must": [
        |  { "term": { "planType": "BUILDING" } },
        |  { "range": { "planCostShares.copay": { "gte": 10 } } } ] } } }""".stripMargin
    // r19: the live state's edges table is never consumed here and the
    // entities side has exactly ONE consumer (the in_live join below), so
    // there is nothing for the materialize boundary to amortize — reading
    // the delete-by-query plan lazily skips a full parquet write of both
    // tables AND the edges half of the mutation machinery outright.
    val liveEnts = BulkByQuery
      .deleteByQuery(pit, shredded(s, d), delBody, schema)._1.entities
    def lastKey(p: DataFrame): String =
      p.agg(max(col("objectId"))).collect()(0).getString(0) // 1-row cursor fetch
    val p2 = SearchExec.search(pit, "doc", pageBody(Some(lastKey(p1))), schema)
    val p3 = SearchExec.search(pit, "doc", pageBody(Some(lastKey(p2))), schema)
    val pages = Seq(p1, p2, p3).zipWithIndex.map { case (p, i) =>
      p.select(lit(i + 1).as("page"), col("rn"), col("objectId"))
    }.reduce(_ unionByName _)
    val liveRoots = liveEnts.filter(col("type_tag") === "plan")
      .select(col("key").as("_lk"))
    pages.join(liveRoots, concat(lit("plan_"), col("objectId")) === col("_lk"), "left")
      .select(col("page"), col("rn"), col("objectId"),
        col("_lk").isNotNull.cast("int").as("in_live"))
      .orderBy(col("page"), col("rn"))
  }

  private val d178Sql =
    s"""WITH hits AS (SELECT 'plan-' || ${ck("c_custkey")} AS oid, c_mktsegment AS seg
       |  FROM customer WHERE c_custkey % 50 >= 10),
       |ord AS (SELECT oid, seg, ROW_NUMBER() OVER (ORDER BY oid ASC) AS rn0 FROM hits)
       |SELECT CAST((rn0 - 1) // 20 + 1 AS INTEGER) AS page,
       |  CAST(rn0 - ((rn0 - 1) // 20) * 20 AS BIGINT) AS rn,
       |  oid AS "objectId",
       |  CASE WHEN seg = 'BUILDING' THEN 0 ELSE 1 END AS in_live
       |FROM ord WHERE rn0 <= 60 ORDER BY page, rn""".stripMargin

  // ---------------------------------------------------------------- d179
  /** Highlight FRAGMENT extraction (`fragment_size`/`number_of_fragments`
    * — the ES default highlighting mode; d94's whole-field wrap stays as
    * the `number_of_fragments: 0` case) — over the long-text `documents`
    * corpus through the generic SearchExec body path: up to 3
    * non-overlapping ~30-char windows centered on the match positions,
    * terms wrapped inside each, `|`-joined. Extraction runs on the
    * ≤size-row page, never the corpus; both engines run the same regex
    * (greedy leftmost windows, identical in Java regex and RE2). */
  private def d179(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType => ST}
    val docsT = graft.Tables(s, d, "documents")
      .select(struct(col("doc_id").cast("string").as("objectId"),
        col("text"), col("lang")).as("doc"))
    val sch = ST(Seq(StructField("objectId", StringType),
      StructField("text", StringType), StructField("lang", StringType)))
    val body =
      """{
        |  "query": { "bool": { "must": [
        |    { "match": { "text": "spark window" } },
        |    { "term": { "lang": "en" } } ] } },
        |  "sort": [ { "objectId": { "order": "asc" } } ],
        |  "size": 30,
        |  "_source": ["objectId"],
        |  "highlight": { "fields": { "text": {
        |    "fragment_size": 30, "number_of_fragments": 3 } } }
        |}""".stripMargin
    SearchExec.search(docsT, "doc", body, sch)
  }

  private val d179Sql =
    """WITH hits AS (
      |  SELECT CAST(doc_id AS VARCHAR) AS oid, text FROM documents
      |  WHERE lang = 'en' AND (
      |    list_contains(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> ''), 'spark') OR
      |    list_contains(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> ''), 'window')))
      |SELECT rn, "objectId", "text_highlight" FROM (
      |  SELECT oid AS "objectId",
      |    CASE WHEN len(fr) > 0 THEN array_to_string(list_transform(fr,
      |        f -> regexp_replace(f, '(?i)\b(?:window|spark)\b', '<em>\0</em>', 'g')), '|')
      |      ELSE NULL END AS "text_highlight",
      |    CAST(ROW_NUMBER() OVER (ORDER BY oid ASC) AS BIGINT) AS rn
      |  FROM (SELECT oid,
      |      regexp_extract_all(text, '(?i).{0,15}\b(?:window|spark)\b.{0,15}')[1:3] AS fr
      |    FROM hits))
      |WHERE rn <= 30 ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d180
  /** Doc-side `geo_shape` FIELDS — documents that carry polygons (planted
    * triangles: the geo-grid center plus fixed offsets, FIXTURES-style
    * SQL-replayable) queried by a literal convex-quad shape:
    * shape-vs-shape `intersects` (complete test: doc-vertex-in-query ∨
    * query-vertex-in-doc ∨ proper edge crossing — `Geo.polygonsIntersect`,
    * multiplication-only column math), `within` classification (all doc
    * vertices inside — sufficient for a convex query shape), and
    * point-in-doc-shape (`contains_probe` — the runtime-vertex parity
    * test `Geo.pointInPolygonDyn`). The triangle bbox prefilter is
    * rewritten onto the STORED anchor vertex (`y1 ∈ [qLatMin−0.8, qLatMax]`
    * — constants folded at plan time) so it reaches PushedFilters before
    * any orientation arithmetic. Boundary convention: strict crossings +
    * parity, query vertices chosen off the 0.1° data grid. */
  private val d180Query = Seq((5.05, 15.05), (5.05, 45.05), (29.05, 40.05), (25.05, 16.05))

  private def shapeDocs(s: SparkSession, d: String): DataFrame =
    customerTable(s, d, "shape") {
      val latE = ((col("c_custkey") * 37) % 1201 - 600).cast("double") / 10.0
      val lonE = ((col("c_custkey") * 73) % 3600 - 1800).cast("double") / 10.0
      graft.Tables(s, d, "customer").select(struct(
        concat(lit("plan-"), col("c_custkey").cast("string")).as("objectId"),
        struct(
          latE.as("y1"), lonE.as("x1"),
          (latE + lit(0.8)).as("y2"), (lonE + lit(0.5)).as("x2"),
          (latE + lit(0.3)).as("y3"), (lonE + lit(1.1)).as("x3")).as("shape"))
        .as("doc"))
    }

  private def d180(s: SparkSession, d: String): DataFrame = {
    val sh = col("doc").getField("shape")
    val dv = Seq(("y1", "x1"), ("y2", "x2"), ("y3", "x3"))
      .map { case (y, x) => (sh.getField(y), sh.getField(x)) }
    val q = d180Query
    val (latLo, latHi) = (q.map(_._1).min - 0.8, q.map(_._1).max)
    val (lonLo, lonHi) = (q.map(_._2).min - 1.1, q.map(_._2).max)
    val bbox = dv.head._1 >= lit(latLo) && dv.head._1 <= lit(latHi) &&
      dv.head._2 >= lit(lonLo) && dv.head._2 <= lit(lonHi)
    val within = dv.map { case (y, x) => Geo.pointInPolygon(y, x, q) }.reduce(_ && _)
    shapeDocs(s, d)
      .filter(bbox && Geo.polygonsIntersect(dv, q))
      .select(col("doc.objectId").as("object_id"),
        when(within, "within").otherwise("intersects").as("rel"),
        Geo.pointInPolygonDyn(lit(15.05), lit(25.05), dv).cast("int").as("contains_probe"))
      .orderBy(col("object_id"))
  }

  private val d180Sql = {
    val q = d180Query
    val dvS = Seq(("y1", "x1"), ("y2", "x2"), ("y3", "x3"))
    val within = dvS.map { case (y, x) => Geo.pointInPolygonSql(y, x, q) }
      .mkString("(", " AND ", ")")
    s"""WITH sd AS (SELECT 'plan-' || ${ck("c_custkey")} AS object_id,
       |    $geoLatSql AS y1, $geoLonSql AS x1,
       |    ($geoLatSql + 0.8) AS y2, ($geoLonSql + 0.5) AS x2,
       |    ($geoLatSql + 0.3) AS y3, ($geoLonSql + 1.1) AS x3
       |  FROM customer)
       |SELECT object_id,
       |  CASE WHEN $within THEN 'within' ELSE 'intersects' END AS rel,
       |  CASE WHEN ${Geo.pointInPolygonDynSql("15.05", "25.05", dvS)}
       |       THEN 1 ELSE 0 END AS contains_probe
       |FROM sd
       |WHERE y1 >= ${q.map(_._1).min - 0.8} AND y1 <= ${q.map(_._1).max}
       |  AND x1 >= ${q.map(_._2).min - 1.1} AND x1 <= ${q.map(_._2).max}
       |  AND ${Geo.polygonsIntersectSql(dvS, q)}
       |ORDER BY object_id""".stripMargin
  }

  // ---------------------------------------------------------------- d181
  /** `explain`-style score breakdown — per-hit decomposition of a
    * `function_score` body's `_score` into its named components
    * (`SearchQuery.explainCols`: the base clause-count relevance, each
    * function's filter-gated value, their score_mode fold) — the ES
    * `explain: true` description tree's numbers as columns. The oracle
    * recomputes every component AND the identity
    * `score = base * fn_combined` bit-exactly (same IEEE op sequences as
    * d82/d120). Pure per-row expressions — explain costs one projection. */
  private def d181(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": { "function_score": {
        |    "query": { "bool": {
        |      "must": [ { "range": { "planCostShares.copay": { "lt": 45 } } } ],
        |      "should": [ { "term": { "planType": "BUILDING" } },
        |                  { "prefix": { "_org": "org-1" } } ] } },
        |    "functions": [
        |      { "filter": { "term": { "planType": "BUILDING" } }, "weight": 3 },
        |      { "field_value_factor": { "field": "planCostShares.copay",
        |          "factor": 1.2, "modifier": "sqrt", "missing": 0 }, "weight": 2 },
        |      { "gauss": { "planCostShares.deductible": {
        |          "origin": 0, "scale": 1000, "offset": 0, "decay": 0.5,
        |          "missing": 0 } } }
        |    ],
        |    "score_mode": "sum", "boost_mode": "multiply" } }
        |}""".stripMargin
    val p = SearchQuery.parseBody(body, schema)
    val doc = col("doc")
    val comps = SearchQuery.explainCols(p, doc).map { case (n, c) =>
      (if (n == "any_match") c.cast("int") else c).as(n)
    }
    assembled(s, d).filter(SearchQuery.compile(p.query, doc))
      .select(col("doc.objectId").as("object_id") +: comps :+
        SearchQuery.scoreCol(p, doc).cast("double").as("score"): _*)
      .orderBy(col("object_id"))
  }

  private val d181Sql =
    s"""WITH s AS (
       |  SELECT 'plan-' || ${ck("c_custkey")} AS object_id,
       |    CAST((CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) +
       |         (CASE WHEN 'org-' || ${ck("c_nationkey")} || '.example.com'
       |               LIKE 'org-1%' THEN 1 ELSE 0 END) AS DOUBLE) AS base_score,
       |    CASE WHEN c_mktsegment = 'BUILDING' THEN CAST(3.0 AS DOUBLE)
       |         ELSE CAST(0.0 AS DOUBLE) END AS fn0_value,
       |    SQRT(1.2 * CAST(c_custkey % 50 AS DOUBLE)) * 2.0 AS fn1_value,
       |    EXP(greatest(0.0, abs(CAST(c_nationkey * 100 AS DOUBLE) - 0.0) - 0.0)
       |        * greatest(0.0, abs(CAST(c_nationkey * 100 AS DOUBLE) - 0.0) - 0.0)
       |        * (LN(0.5) / (1000.0 * 1000.0))) * 1.0 AS fn2_value
       |  FROM customer WHERE c_custkey % 50 < 45)
       |SELECT object_id, base_score, fn0_value, fn1_value, fn2_value,
       |  fn0_value + fn1_value + fn2_value AS fn_combined,
       |  1 AS any_match,
       |  base_score * (fn0_value + fn1_value + fn2_value) AS score
       |FROM s ORDER BY object_id""".stripMargin

  // ---------------------------------------------------------------- d182
  /** ES `_mget` — multi-document GET: requested ids return in REQUEST
    * order with per-doc `found` flags (missing ids are `found: false`
    * rows, not errors — the ES contract). The request's id list is a
    * LITERAL, so it prunes the corpus scan directly (`isin` → an In
    * filter at the parquet scan, d4's point-lookup pushdown at multi-key
    * grain); the surviving ≤|request| hit rows are the BUILD side of the
    * left join (a broadcast hint on the preserved side of a left-outer
    * join is silently unusable — Spark can only build the non-preserved
    * side — so the small side must be the right one). */
  private def d182(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ids = Seq("plan-3", "plan-77", "plan-9999999", "plan-42")
    val req = ids.zipWithIndex.map { case (id, i) => ((i + 1).toLong, id) }
      .toDF("req_ord", "_id")
    val hits = assembled(s, d).select(col("doc.objectId").as("_id"),
      col("doc.planType").as("plan_type"),
      col("doc.planCostShares.copay").as("copay"))
      .filter(col("_id").isin(ids: _*))
      .withColumn("_hit", lit(1))
    req.join(broadcast(hits), Seq("_id"), "left")
      .select(col("req_ord"), col("_id"),
        col("_hit").isNotNull.cast("int").as("found"),
        col("plan_type"), col("copay"))
      .orderBy(col("req_ord"))
  }

  private val d182Sql =
    s"""WITH req(req_ord, rid) AS (VALUES
       |  (1, 'plan-3'), (2, 'plan-77'), (3, 'plan-9999999'), (4, 'plan-42')),
       |hits AS (SELECT 'plan-' || ${ck("c_custkey")} AS hid,
       |  c_mktsegment AS plan_type, c_custkey % 50 AS copay FROM customer)
       |SELECT CAST(req_ord AS BIGINT) AS req_ord, rid AS "_id",
       |  CASE WHEN plan_type IS NOT NULL THEN 1 ELSE 0 END AS found,
       |  plan_type, copay
       |FROM req LEFT JOIN hits ON rid = hid ORDER BY req_ord""".stripMargin

  // ---------------------------------------------------------------- d183
  /** ES `_terms_enum` — the index term dictionary bounded by a prefix
    * (Kibana field-value autocomplete): distinct ANALYZED terms of the
    * service-name field starting with the typed prefix, sorted, first
    * `size`. One explode + hash distinct pruned by the prefix predicate
    * BEFORE the distinct; the dictionary a standing deployment reads off
    * its postings, recomputed here from the corpus (the d174 class). */
  private def d183(s: SparkSession, d: String): DataFrame = {
    import graft.ext.TextAnalysis
    assembled(s, d)
      .select(explode(col("doc.linkedPlanServices")).as("ps"))
      .select(explode(TextAnalysis.analyze(col("ps.linkedService.name"))).as("term"))
      .filter(col("term").startsWith("s"))
      .distinct()
      .orderBy(col("term"))
      .limit(10)
  }

  private val d183Sql = {
    import graft.ext.TextAnalysis
    s"""WITH o AS $O,
       |terms AS (SELECT DISTINCT u.term FROM o,
       |  unnest(${TextAnalysis.analyzeSql("'Service ' || o_orderpriority")}) AS u(term))
       |SELECT term FROM terms WHERE term LIKE 's%' ORDER BY term LIMIT 10""".stripMargin
  }

  // ---------------------------------------------------------------- d184
  /** `script_score` with the two-argument Math forms — `Math.max` (the
    * floor-at-zero idiom in virtually every Kibana scripted ranking),
    * `Math.min`, and `Math.pow` (exponential boosts): "copay above 10,
    * floored at 1, compounded 5% per 1000 deductible, plus a capped base
    * bonus". max/min compile to greatest/least (exact comparisons); pow
    * is libm on both engines (≤1-ulp, inside the gate's 9-dp float
    * tolerance — the d120 kernel disposition; equal-score ties break on
    * objectId, and equal scores come from EQUAL integer inputs, so the
    * ranking cannot flip). */
  private def d184(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": { "script_score": {
        |    "query": { "range": { "planCostShares.copay": { "lt": 40 } } },
        |    "script": { "source":
        |      "Math.max(1, doc['planCostShares.copay'].value - 10) * Math.pow(1.05, doc['planCostShares.deductible'].value / 1000) + Math.min(_score, 0.5)" } } },
        |  "sort": [ { "_score": { "order": "desc" } }, { "objectId": { "order": "asc" } } ],
        |  "size": 15,
        |  "_source": ["objectId", "planCostShares.copay"]
        |}""".stripMargin
    SearchExec.search(assembled(s, d), "doc", body, schema)
  }

  private val d184Sql =
    s"""WITH sc AS (SELECT 'plan-' || ${ck("c_custkey")} AS oid,
       |    c_custkey % 50 AS copay,
       |    GREATEST(1.0, CAST(c_custkey % 50 AS DOUBLE) - 10.0)
       |      * POWER(1.05, CAST(c_nationkey * 100 AS DOUBLE) / 1000.0)
       |      + LEAST(1.0, 0.5) AS score
       |  FROM customer WHERE c_custkey % 50 < 40)
       |SELECT rn, score, "objectId", "planCostShares_copay" FROM (
       |  SELECT oid AS "objectId", copay AS "planCostShares_copay", score,
       |    ROW_NUMBER() OVER (ORDER BY score DESC, oid ASC) AS rn FROM sc)
       |WHERE rn <= 15 ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d185
  /** ES `_geo_distance` SORT — "nearest first", the geo request family's
    * default ordering: the sort key is the haversine distance (km) from a
    * literal origin, computed by the same pure column trig as the geo
    * queries; the hit set still prunes through the geo_distance query's
    * PUSHED bbox. The origin sits OFF the planted grid's mirror symmetry
    * (…0.37/…0.71) so no two grid points are near-equidistant — the
    * ranking cannot hinge on libm's last ulp. */
  private def d185(s: SparkSession, d: String): DataFrame = {
    val geo = geoDocs(s, d)
    val body =
      """{
        |  "query": { "geo_distance": { "distance": "3000km",
        |                               "location": { "lat": 10.0, "lon": 20.0 } } },
        |  "sort": [ { "_geo_distance": { "location": "10.37,20.71",
        |                                 "order": "asc", "unit": "km" } },
        |            { "objectId": { "order": "asc" } } ],
        |  "size": 15,
        |  "_source": ["objectId"]
        |}""".stripMargin
    SearchExec.search(geo, "doc", body, geoSchema(geo))
  }

  private val d185Sql =
    s"""WITH pts AS (
       |  SELECT 'plan-' || ${ck("c_custkey")} AS oid,
       |    $geoLatSql AS lat, $geoLonSql AS lon
       |  FROM customer),
       |hits AS (SELECT oid,
       |    ${Geo.haversineSql("lat", "lon", 10.37, 20.71)} / 1000.0 AS dist_km
       |  FROM pts
       |  WHERE ${Geo.haversineSql("lat", "lon", 10.0, 20.0)} <= 3000000.0)
       |SELECT rn, "objectId" FROM (
       |  SELECT oid AS "objectId",
       |    ROW_NUMBER() OVER (ORDER BY dist_km ASC, oid ASC) AS rn FROM hits)
       |WHERE rn <= 15 ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d186
  /** ES `_script` SORT (`type: number`) — ranking by an ad-hoc expression
    * without reindexing ("deductible per copay dollar, steepest first"):
    * the mini-DSL compiles to one sort-key Column; `_score` inside a sort
    * script is rejected at parse. Pure division of small integers — the
    * key is bit-identical in any engine, no libm involved. */
  private def d186(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": { "range": { "planCostShares.copay": { "gte": 5 } } },
        |  "sort": [ { "_script": { "type": "number", "order": "desc", "script": {
        |      "source": "doc['planCostShares.deductible'].value / (doc['planCostShares.copay'].value + 1)" } } },
        |    { "objectId": { "order": "asc" } } ],
        |  "size": 20,
        |  "_source": ["objectId", "planCostShares.copay"]
        |}""".stripMargin
    SearchExec.search(assembled(s, d), "doc", body, schema)
  }

  private val d186Sql =
    s"""WITH sc AS (SELECT 'plan-' || ${ck("c_custkey")} AS oid,
       |    c_custkey % 50 AS copay,
       |    CAST(c_nationkey * 100 AS DOUBLE)
       |      / (CAST(c_custkey % 50 AS DOUBLE) + 1.0) AS k
       |  FROM customer WHERE c_custkey % 50 >= 5)
       |SELECT rn, "objectId", "planCostShares_copay" FROM (
       |  SELECT oid AS "objectId", copay AS "planCostShares_copay",
       |    ROW_NUMBER() OVER (ORDER BY k DESC, oid ASC) AS rn FROM sc)
       |WHERE rn <= 20 ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d187
  /** ES sliced scroll (`slice: {id, max}`) — parallel export: worker `id`
    * of `max` reads a deterministic id-hash partition of the hit set; the
    * union over ids is exactly the unsliced set. The slice predicate is
    * one hash expression ANDed into the scan filter — at 100 TB each
    * export worker runs the identical plan over the shared files, no
    * coordination, no skew beyond hash balance. */
  private def d187(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": { "range": { "planCostShares.copay": { "gte": 20 } } },
        |  "slice": { "id": 2, "max": 5 },
        |  "sort": [ { "objectId": { "order": "asc" } } ],
        |  "size": 200,
        |  "_source": ["objectId"]
        |}""".stripMargin
    SearchExec.search(assembled(s, d), "doc", body, schema)
  }

  private val d187Sql =
    s"""WITH hits AS (SELECT 'plan-' || ${ck("c_custkey")} AS oid FROM customer
       |  WHERE c_custkey % 50 >= 20
       |    AND CAST(('0x' || substr(md5('plan-' || ${ck("c_custkey")} || ':slice'), 1, 8)) AS BIGINT) % 5 = 2)
       |SELECT rn, "objectId" FROM (
       |  SELECT oid AS "objectId", ROW_NUMBER() OVER (ORDER BY oid ASC) AS rn FROM hits)
       |WHERE rn <= 200 ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d188
  /** ES `_msearch/template` — the batched form of d177: ONE template
    * (saved search), many param sets, one response per line (the Kibana
    * dashboard-panel fanout). Each rendered body re-enters the standard
    * executor; results ride the d157 `_msearch_idx` envelope. Scale
    * shape: rendering is driver-side string work; N searches = N bounded
    * pages over the shared corpus scan. */
  private def d188(s: SparkSession, d: String): DataFrame = {
    val source =
      """{
        |  "query": { "bool": { "must": [
        |    { "term": { "planType": "{{type}}" } },
        |    { "range": { "planCostShares.copay": {
        |        "lt": {{max_copay}}{{^max_copay}}50{{/max_copay}} } } } ] } },
        |  "sort": [ { "objectId": { "order": "asc" } } ],
        |  "size": {{size}}{{^size}}4{{/size}},
        |  "_source": ["objectId", "planType"]
        |}""".stripMargin
    val paramSets: Seq[Map[String, Any]] = Seq(
      Map("type" -> "BUILDING", "max_copay" -> 20),
      Map("type" -> "FURNITURE"), // defaults: max_copay 50, size 4
      Map("type" -> "MACHINERY", "size" -> 6))
    val corpus = assembled(s, d)
    paramSets.zipWithIndex.map { case (ps, i) =>
      SearchTemplate.search(corpus, "doc", source, ps, schema)
        .select(lit(i.toLong).as("_msearch_idx"), col("rn"),
          col("objectId"), col("planType"))
    }.reduce(_ unionByName _)
      .orderBy(col("_msearch_idx"), col("rn"))
  }

  private val d188Sql = {
    def leg(i: Int, seg: String, maxCopay: Int, size: Int) =
      s"""SELECT $i AS _msearch_idx, rn, "objectId", "planType" FROM (
         |  SELECT 'plan-' || ${ck("c_custkey")} AS "objectId",
         |    c_mktsegment AS "planType",
         |    ROW_NUMBER() OVER (ORDER BY 'plan-' || ${ck("c_custkey")}) AS rn
         |  FROM customer
         |  WHERE c_mktsegment = '$seg' AND c_custkey % 50 < $maxCopay)
         |WHERE rn <= $size""".stripMargin
    s"""${leg(0, "BUILDING", 20, 4)}
       |UNION ALL
       |${leg(1, "FURNITURE", 50, 4)}
       |UNION ALL
       |${leg(2, "MACHINERY", 50, 6)}
       |ORDER BY _msearch_idx, rn""".stripMargin
  }

  // ---------------------------------------------------------------- d189
  /** ES `_reindex` — copy the documents matching `source.query` into a
    * fresh destination index, rewritten by the same single-assignment
    * script form as d175 (`BulkByQuery.reindex`). No reachability work:
    * ONE pushdown-eligible filtered scan + one fresh shred (plan-pinned)
    * — reindexing ten docs out of 100 TB reads the selected row groups,
    * never the corpus. Output: the assembled DESTINATION index (matched
    * docs only, deductible backfilled by the script). */
  private val d189Body =
    """{
      |  "source": { "index": "plan",
      |    "query": { "bool": { "must": [
      |      { "terms": { "planType": ["MACHINERY", "HOUSEHOLD"] } },
      |      { "range": { "planCostShares.copay": { "lt": 35 } } } ] } } },
      |  "dest": { "index": "plan-v2" },
      |  "script": { "source":
      |    "ctx._source.planCostShares.deductible = ctx._source.planCostShares.copay * 3 + ctx._source.planCostShares.deductible" }
      |}""".stripMargin

  /** Plan-pin surface (PlanAuditSpec): the destination entities frame
    * BEFORE materialization — the registry output re-assembles from the
    * materialized dest parquet, so the selection scan is only visible
    * here (the d175/d176 caveat). */
  def d189Plan(s: SparkSession, d: String): DataFrame =
    BulkByQuery.reindex(assembled(s, d), d189Body, schema)._2.entities

  private def d189(s: SparkSession, d: String): DataFrame = {
    val (destIndex, dest) = BulkByQuery.reindex(assembled(s, d), d189Body, schema)
    require(destIndex == "plan-v2")
    Assembler.assemble(materialized(s, "d189", dest), schema, "plan").select(
      col("doc.objectId").as("object_id"),
      col("doc.planType").as("plan_type"),
      col("doc.planCostShares.copay").as("copay"),
      col("doc.planCostShares.deductible").as("deductible"),
      size(col("doc.linkedPlanServices")).as("n_services"))
      .orderBy(col("object_id"))
  }

  private val d189Sql =
    s"""WITH o AS $O
       |SELECT 'plan-' || ${ck("c_custkey")} AS object_id,
       |  c_mktsegment AS plan_type,
       |  c_custkey % 50 AS copay,
       |  (c_custkey % 50) * 3 + CAST(c_nationkey AS BIGINT) * 100 AS deductible,
       |  CAST((SELECT COUNT(*) FROM o WHERE o_custkey = c_custkey) AS INTEGER) AS n_services
       |FROM customer
       |WHERE c_mktsegment IN ('MACHINERY', 'HOUSEHOLD') AND c_custkey % 50 < 35
       |ORDER BY object_id""".stripMargin

  // ---------------------------------------------------------------- d190
  /** ES `_aliases` + search-through-a-FILTERED-alias (Aliases.scala): the
    * actions body adds two filtered aliases and removes one (exercising
    * upsert + remove semantics), then the surviving alias is searched —
    * its filter ANDs into the request as one more pushdown-eligible
    * predicate on the same assembled scan (ES applies alias filters at
    * the shard query phase identically). */
  private def d190(s: SparkSession, d: String): DataFrame = {
    val registry = Aliases(Map.empty,
      """{"actions": [
        |  {"add": {"index": "plan", "alias": "building",
        |           "filter": {"term": {"planType": "BUILDING"}}}},
        |  {"add": {"index": "plan", "alias": "affordable-building",
        |           "filter": {"bool": {"must": [
        |             {"term": {"planType": "BUILDING"}},
        |             {"range": {"planCostShares.copay": {"lt": 20}}}]}}}},
        |  {"remove": {"alias": "building"}}
        |]}""".stripMargin)
    require(registry.keySet == Set("affordable-building"))
    val body =
      """{
        |  "query": { "range": { "planCostShares.deductible": { "gte": 500 } } },
        |  "sort": [ { "objectId": { "order": "asc" } } ],
        |  "size": 30,
        |  "_source": ["objectId", "planType", "planCostShares.copay"]
        |}""".stripMargin
    Aliases.search(assembled(s, d), "doc", registry, "affordable-building", body, schema)
  }

  private val d190Sql =
    s"""SELECT rn, "objectId", "planType", "planCostShares_copay" FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY "objectId" ASC) AS rn FROM (
       |    SELECT 'plan-' || ${ck("c_custkey")} AS "objectId",
       |      c_mktsegment AS "planType",
       |      c_custkey % 50 AS "planCostShares_copay"
       |    FROM customer
       |    WHERE c_mktsegment = 'BUILDING' AND c_custkey % 50 < 20
       |      AND CAST(c_nationkey AS BIGINT) * 100 >= 500))
       |WHERE rn <= 30 ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d192
  /** ES `_analyze` — the analyzer-debug API: token, position,
    * start_offset, end_offset for the engine's analyzer chain
    * (TextAnalysis: lowercase → strip → split → stop → S-stem), run
    * set-oriented over every DISTINCT service name (ES analyzes one
    * request text; the engine's form analyzes a column — same tokens per
    * text). Offsets index the ORIGINAL text: the chain's first two
    * stages are length-preserving (char→char), so splitting on single
    * spaces with empties KEPT makes `start = Σ len(prior) + i` exact —
    * one window over the per-text token list, request-grain work.
    * Documented deviation: `position` is the post-stop-filter ordinal
    * (the convention of the engine's own phrase machinery, d111); real
    * ES leaves position-increment gaps where stopwords were. */
  private def d192(s: SparkSession, d: String): DataFrame = {
    import graft.ext.TextAnalysis
    import org.apache.spark.sql.expressions.Window
    val texts = assembled(s, d)
      .select(explode(col("doc.linkedPlanServices")).as("ps"))
      .select(col("ps.linkedService.name").as("text")).distinct()
    val toks = texts.select(col("text"),
      posexplode(split(regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " "))
        .as(Seq("i", "tok")))
    val wOff = Window.partitionBy(col("text")).orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withOff = toks.withColumn("start_offset",
      coalesce(sum(length(col("tok"))).over(wOff), lit(0L)) + col("i"))
    val kept = withOff.filter(col("tok") =!= "" &&
      !col("tok").isin(TextAnalysis.Stopwords.map(lit): _*))
    val wPos = Window.partitionBy(col("text")).orderBy(col("i"))
    kept.withColumn("position", row_number().over(wPos) - 1)
      .select(col("text"), TextAnalysis.stem(col("tok")).as("token"),
        col("position"), col("start_offset"),
        (col("start_offset") + length(col("tok"))).as("end_offset"))
      .orderBy(col("text"), col("position"))
  }

  private val d192Sql = {
    import graft.ext.TextAnalysis
    val stop = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH o AS $O,
       |texts AS (SELECT DISTINCT 'Service ' || o_orderpriority AS text FROM o),
       |n AS (SELECT text,
       |  string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' ') AS toks
       |  FROM texts),
       |tok AS (SELECT text, generate_subscripts(toks, 1) AS i, unnest(toks) AS tok FROM n),
       |off AS (SELECT text, i, tok,
       |  COALESCE(SUM(length(tok)) OVER (PARTITION BY text ORDER BY i
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + i - 1 AS start_off
       |  FROM tok),
       |kept AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY i) - 1 AS pos
       |  FROM off WHERE tok <> '' AND tok NOT IN ($stop))
       |SELECT text, ${TextAnalysis.stemSql("tok")} AS token,
       |  CAST(pos AS INTEGER) AS position,
       |  CAST(start_off AS BIGINT) AS start_offset,
       |  CAST(start_off + length(tok) AS BIGINT) AS end_offset
       |FROM kept ORDER BY text, position""".stripMargin
  }

  // ---------------------------------------------------------------- d193
  /** ES `script_fields` + `docvalue_fields` response shaping — per-hit
    * computed values (the script mini-DSL) and raw docvalues with a
    * java-time `format` beside `_source`, all evaluated on the ≤size-row
    * PAGE after pagination (never the corpus). The formatted long field
    * reads epoch MICROSECONDS (the engine's timestamp convention — the
    * events corpus's `ts_us`). */
  private def d193(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .select(struct(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value")).as("doc"))
    val evSchema = ev.schema("doc").dataType.asInstanceOf[StructType]
    val body =
      """{
        |  "query": { "term": { "event_type": "purchase" } },
        |  "sort": [ { "value": { "order": "desc" } }, { "event_id": "asc" } ],
        |  "size": 12,
        |  "_source": ["event_id", "value"],
        |  "script_fields": {
        |    "value_bps": { "script": { "source": "doc['value'].value * 100 + 7" } } },
        |  "docvalue_fields": [ "user_id",
        |    { "field": "ts_us", "format": "yyyy-MM-dd HH" } ]
        |}""".stripMargin
    SearchExec.search(ev, "doc", body, evSchema)
  }

  private val d193Sql =
    """SELECT rn, event_id, value, value_bps, user_id_dv, ts_us_dv FROM (
      |  SELECT *, ROW_NUMBER() OVER (ORDER BY value DESC, event_id ASC) AS rn FROM (
      |    SELECT event_id, value, value * 100 + 7 AS value_bps,
      |      CAST(user_id AS VARCHAR) AS user_id_dv,
      |      strftime(make_timestamp(epoch_us(ts)), '%Y-%m-%d %H') AS ts_us_dv
      |    FROM events WHERE event_type = 'purchase'))
      |WHERE rn <= 12 ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d194
  /** ES `parent_id` query — children of one named parent through the join
    * field (ParentJoin.parentId): a point equi-filter on the edge table
    * (plan-pinned pushdown — the reference's `GET planKey_…` point-get,
    * SURVEY §1.1, as columnar row-group pruning), then an entity join for
    * the child rows themselves. */
  private def d194(s: SparkSession, d: String): DataFrame = {
    val sh = shredded(s, d)
    ParentJoin.parentId(sh, "linkedPlanServices", "plan_plan-7")
      .join(sh.entities, col("child_key") === col("key"))
      .select(col("child_key"), col("type_tag"))
      .orderBy(col("child_key"))
  }

  private val d194Sql =
    s"""WITH o AS $O
       |SELECT 'planservice_ps-' || ${ck("o_orderkey")} AS child_key,
       |  'planservice' AS type_tag
       |FROM o WHERE o_custkey = 7 ORDER BY child_key""".stripMargin

  // ---------------------------------------------------------------- d191
  /** ES `_bulk` — the ordered mixed-action batch with EXACT sequential
    * per-id semantics (Bulk.scala): index-after-delete re-creates,
    * create-after-index conflicts, update patches compose in order. The
    * response rows are the ES per-item results (`created`/`updated`/
    * `deleted`/`not_found`/`version_conflict` + HTTP status), resolved by
    * ONE In-filter-pushed scan of the batch ids against the corpus; the
    * mutation rides M6 cascade + M8 replace. Output: response rows, the
    * post-bulk per-type census (seq 100), and the touched docs' final
    * content (seq 200 — planType:copay:n_services), proving both the
    * result codes AND the applied state. */
  private def d191(s: SparkSession, d: String): DataFrame = {
    val batch = Seq(
      """{"index": {"_index": "plan", "_id": "plan-3"}}""",
      """{"objectId": "plan-3", "objectType": "plan", "planType": "MOBILE", "_org": "org-bulk.example.com", "creationDate": "01-01-2025", "planCostShares": {"objectId": "cs-3", "objectType": "membercostshare", "_org": "example.com", "copay": 500, "deductible": 5000}, "linkedPlanServices": []}""",
      """{"create": {"_index": "plan", "_id": "plan-3"}}""",
      """{"objectId": "plan-3", "objectType": "plan", "planType": "NEVER", "linkedPlanServices": []}""",
      """{"create": {"_index": "plan", "_id": "plan-900001"}}""",
      """{"objectId": "plan-900001", "objectType": "plan", "planType": "MOBILE", "_org": "org-bulk.example.com", "creationDate": "01-01-2025", "planCostShares": {"objectId": "cs-900001", "objectType": "membercostshare", "_org": "example.com", "copay": 600, "deductible": 6000}, "linkedPlanServices": []}""",
      """{"update": {"_index": "plan", "_id": "plan-7"}}""",
      """{"doc": {"planCostShares": {"copay": 777}}}""",
      """{"update": {"_index": "plan", "_id": "plan-900002"}}""",
      """{"doc": {"planType": "NEVER"}}""",
      """{"delete": {"_index": "plan", "_id": "plan-11"}}""",
      """{"delete": {"_index": "plan", "_id": "plan-900003"}}""",
      """{"delete": {"_index": "plan", "_id": "plan-900001"}}""",
      """{"index": {"_index": "plan", "_id": "plan-11"}}""",
      """{"objectId": "plan-11", "objectType": "plan", "planType": "MOBILE", "_org": "org-bulk.example.com", "creationDate": "01-01-2025", "planCostShares": {"objectId": "cs-11", "objectType": "membercostshare", "_org": "example.com", "copay": 550, "deductible": 5500}, "linkedPlanServices": []}""",
      """{"update": {"_index": "plan", "_id": "plan-3"}}""",
      """{"doc": {"planType": "PATCHED"}}""").mkString("\n")
    val outcome = Bulk.run(assembled(s, d), shredded(s, d), batch, schema, mdepth)
    val resp = outcome.resp
    val after = materialized(s, "d191", outcome.after)
    val census = after.entities.groupBy(col("type_tag")).agg(count(lit(1)).as("n"))
      .select(lit(100L).as("seq"), col("type_tag").as("id"), lit("_census").as("op"),
        col("n").cast("string").as("result"), lit(null).cast("int").as("status"))
    val touched = Seq("plan-3", "plan-7", "plan-11",
      "plan-900001", "plan-900002", "plan-900003")
    // assemble ONLY the touched docs' closures, not the corpus. The
    // closure KEYS come from the batch's own fresh shred (plan-local —
    // Bulk pins the upserted docs, so this is a driver-side key list, no
    // reachability pass), but the ROWS are read back from the REAL
    // materialized index — the content proof stays non-circular. PINNED
    // (≤ closure-of-6-docs rows) because the assembler references its
    // input once per schema node (~10×).
    val closureKeys = graft.Eager.pin(outcome.fresh.entities.select(col("key")))
    val sub = Shredded(
      graft.Eager.pin(after.entities.join(closureKeys, Seq("key"), "left_semi")),
      graft.Eager.pin(after.edges.join(closureKeys.select(col("key").as("parent_key")),
        Seq("parent_key"), "left_semi")))
    val finalDocs = Assembler.assemble(sub, schema, "plan")
      .filter(col("doc.objectId").isin(touched.map(lit): _*))
      .select(lit(200L).as("seq"), col("doc.objectId").as("id"), lit("_doc").as("op"),
        concat_ws(":", col("doc.planType"), col("doc.planCostShares.copay"),
          size(col("doc.linkedPlanServices"))).as("result"),
        lit(null).cast("int").as("status"))
    resp.unionByName(census).unionByName(finalDocs).orderBy(col("seq"), col("id"))
  }

  private val d191Sql =
    s"""WITH o AS $O,
       |batch(seq, id, op) AS (VALUES
       |  (CAST(0 AS BIGINT), 'plan-3', 'index'), (1, 'plan-3', 'create'),
       |  (2, 'plan-900001', 'create'), (3, 'plan-7', 'update'),
       |  (4, 'plan-900002', 'update'), (5, 'plan-11', 'delete'),
       |  (6, 'plan-900003', 'delete'), (7, 'plan-900001', 'delete'),
       |  (8, 'plan-11', 'index'), (9, 'plan-3', 'update')),
       |ex AS (SELECT 'plan-' || ${ck("c_custkey")} AS id FROM customer),
       |-- existence before action k: the last prior state-forcing op on the
       |-- same id (index/create => present, delete => absent — create always
       |-- leaves the doc present whether it succeeded or conflicted), else
       |-- the corpus
       |forced AS (
       |  SELECT b1.seq, arg_max(b2.op, b2.seq) AS fop
       |  FROM batch b1 JOIN batch b2
       |    ON b1.id = b2.id AND b2.seq < b1.seq AND b2.op <> 'update'
       |  GROUP BY b1.seq),
       |st AS (
       |  SELECT b.seq, b.id, b.op,
       |    CASE WHEN f.fop IS NOT NULL THEN f.fop IN ('index', 'create')
       |         ELSE b.id IN (SELECT id FROM ex) END AS pe
       |  FROM batch b LEFT JOIN forced f ON b.seq = f.seq),
       |resp AS (
       |  SELECT seq, id, op,
       |    CASE op
       |      WHEN 'index' THEN CASE WHEN pe THEN 'updated' ELSE 'created' END
       |      WHEN 'create' THEN CASE WHEN pe THEN 'version_conflict' ELSE 'created' END
       |      WHEN 'update' THEN CASE WHEN pe THEN 'updated' ELSE 'not_found' END
       |      WHEN 'delete' THEN CASE WHEN pe THEN 'deleted' ELSE 'not_found' END
       |    END AS result
       |  FROM st),
       |svc AS (SELECT COUNT(*) AS n FROM o WHERE o_custkey NOT IN (3, 11)),
       |census AS (
       |  SELECT 'linkedService' AS id, n FROM svc
       |  UNION ALL SELECT 'plan', COUNT(*) FROM customer
       |  UNION ALL SELECT 'planCostShares', COUNT(*) FROM customer
       |  UNION ALL SELECT 'planservice', n FROM svc
       |  UNION ALL SELECT 'planserviceCostShares', n FROM svc)
       |SELECT seq, id, op, result,
       |  CASE result WHEN 'created' THEN 201 WHEN 'version_conflict' THEN 409
       |              WHEN 'not_found' THEN 404 ELSE 200 END AS status
       |FROM resp
       |UNION ALL
       |SELECT 100, id, '_census', CAST(n AS VARCHAR), CAST(NULL AS INTEGER) FROM census
       |UNION ALL
       |SELECT 200, 'plan-' || ${ck("c_custkey")}, '_doc',
       |  CASE c_custkey
       |    WHEN 3 THEN 'PATCHED:500:0'
       |    WHEN 11 THEN 'MOBILE:550:0'
       |    WHEN 7 THEN c_mktsegment || ':777:' ||
       |      CAST((SELECT COUNT(*) FROM o WHERE o_custkey = 7) AS VARCHAR)
       |  END,
       |  CAST(NULL AS INTEGER)
       |FROM customer WHERE c_custkey IN (3, 7, 11)
       |ORDER BY seq, id""".stripMargin

  // ---------------------------------------------------------------- d195
  /** ES `_mvt` (vector-tile search) — the Kibana-maps tile endpoint: for
    * one slippy tile (z/x/y) return the aggs layer (sub-grid cells at
    * zoom z+grid_precision with doc_count + a metric — ES's default
    * grid_agg=geotile) beside the meta layer's total hit count. The tile
    * BBOX is computed driver-side from the tile address (request-grain
    * constants — no trig disagreement risk) and lands in PushedFilters,
    * so rendering one tile reads one tile's row groups out of 100 TB;
    * the sub-grid is ONE hash aggregation on the existing d122 tile-key
    * expression at z+p. Boundary convention matches tileKey's floor:
    * lon ∈ [W, E), lat ∈ (S, N]. */
  private def d195(s: SparkSession, d: String): DataFrame = {
    val geo = geoDocs(s, d)
    val (z, x, y, gp) = (2, 2L, 1L, 3)
    val n = (1L << z).toDouble
    def latOf(yy: Long): Double =
      math.toDegrees(math.atan(math.sinh(math.Pi * (1.0 - 2.0 * yy / n))))
    val (lonW, lonE) = (x / n * 360.0 - 180.0, (x + 1) / n * 360.0 - 180.0)
    val (latN, latS) = (latOf(y), latOf(y + 1))
    val lat = col("doc.location.lat"); val lon = col("doc.location.lon")
    val inTile = geo.filter(lon >= lonW && lon < lonE && lat > latS && lat <= latN)
    inTile.groupBy(Geo.tileKey(lat, lon, z + gp).as("cell"))
      .agg(count(lit(1)).as("doc_count"), avg(col("doc.copay")).as("avg_copay"))
      .crossJoin(broadcast(inTile.agg(count(lit(1)).cast("long").as("total"))))
      .orderBy(col("cell"))
  }

  private val d195Sql = {
    val n = 4.0
    def latOf(yy: Long): Double =
      math.toDegrees(math.atan(math.sinh(math.Pi * (1.0 - 2.0 * yy / n))))
    s"""WITH pts AS (
       |  SELECT $geoLatSql AS lat, $geoLonSql AS lon, c_custkey % 50 AS copay
       |  FROM customer),
       |tile AS (SELECT * FROM pts
       |  WHERE lon >= 0.0 AND lon < 90.0 AND lat > ${latOf(2L)} AND lat <= ${latOf(1L)})
       |SELECT ${Geo.tileKeySql("lat", "lon", 5)} AS cell,
       |  CAST(COUNT(*) AS BIGINT) AS doc_count,
       |  AVG(copay) AS avg_copay,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM tile) AS total
       |FROM tile GROUP BY 1 ORDER BY cell""".stripMargin
  }

  // ---------------------------------------------------------------- d196
  /** ES `retriever` tree (8.14+) — the composable ranking DSL: two
    * `standard` legs (function_score field_value_factor rankings, the
    * d82 grammar) fused by an `rrf` node with explicit
    * `rank_window_size`/`rank_constant` (Retriever.scala). Each leg is
    * one scan + one bounded heap; the fusion is a window-grain full-outer
    * join — the s7 hybrid shape behind the real ES request syntax. */
  private def d196(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "retriever": { "rrf": {
        |    "retrievers": [
        |      { "standard": { "query": { "function_score": {
        |          "query": { "term": { "planType": "BUILDING" } },
        |          "functions": [ { "field_value_factor": {
        |              "field": "planCostShares.copay",
        |              "factor": 2, "modifier": "sqrt", "missing": 0 } } ],
        |          "score_mode": "sum", "boost_mode": "sum" } } } },
        |      { "standard": { "query": { "function_score": {
        |          "query": { "range": { "planCostShares.copay": { "gte": 10 } } },
        |          "functions": [ { "field_value_factor": {
        |              "field": "planCostShares.deductible",
        |              "factor": 2, "modifier": "sqrt", "missing": 0 } } ],
        |          "score_mode": "sum", "boost_mode": "sum" } } } } ],
        |    "rank_window_size": 25, "rank_constant": 60 } },
        |  "size": 12
        |}""".stripMargin
    Retriever.search(assembled(s, d), "doc", body, schema)
  }

  private val d196Sql =
    s"""WITH la AS (
       |  SELECT "objectId", rank_0 FROM (
       |    SELECT 'plan-' || ${ck("c_custkey")} AS "objectId",
       |      CAST(ROW_NUMBER() OVER (ORDER BY c_custkey % 50 DESC,
       |        'plan-' || ${ck("c_custkey")}) AS BIGINT) AS rank_0
       |    FROM customer WHERE c_mktsegment = 'BUILDING')
       |  WHERE rank_0 <= 25),
       |lb AS (
       |  SELECT "objectId", rank_1 FROM (
       |    SELECT 'plan-' || ${ck("c_custkey")} AS "objectId",
       |      CAST(ROW_NUMBER() OVER (ORDER BY c_nationkey DESC,
       |        'plan-' || ${ck("c_custkey")}) AS BIGINT) AS rank_1
       |    FROM customer WHERE c_custkey % 50 >= 10)
       |  WHERE rank_1 <= 25),
       |j AS (
       |  SELECT COALESCE(la."objectId", lb."objectId") AS "objectId", rank_0, rank_1,
       |    COALESCE(1.0 / (60 + rank_0), 0.0) + COALESCE(1.0 / (60 + rank_1), 0.0) AS rrf
       |  FROM la FULL OUTER JOIN lb ON la."objectId" = lb."objectId")
       |SELECT rn, "objectId", rank_0, rank_1, rrf FROM (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, "objectId") AS BIGINT) AS rn, *
       |  FROM j)
       |WHERE rn <= 12 ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d197
  /** ES `_count` — the count API: the body's query (full DSL) compiles to
    * one pushdown-eligible predicate and the response is a single
    * partial+final count — the cheapest request class the engine serves
    * (no sort, no page, no score; at 100 TB the count shares the scan's
    * pushed filters). */
  private def d197(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "query": { "bool": {
        |    "must": [ { "range": { "planCostShares.copay": { "gte": 20 } } } ],
        |    "must_not": [ { "term": { "planType": "FURNITURE" } } ] } }
        |}""".stripMargin
    val q = SearchQuery.fromJson(body, schema)
    assembled(s, d).filter(SearchQuery.compile(q, col("doc")))
      .agg(count(lit(1)).cast("long").as("count"))
  }

  private val d197Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS count FROM customer
      |WHERE c_custkey % 50 >= 20 AND c_mktsegment <> 'FURNITURE'""".stripMargin

  // ---------------------------------------------------------------- d198
  /** ES completion suggester with CONTEXTS (category context + per-context
    * boost — the "suggest only within this storefront, prefer featured"
    * shape): suggestions are service names grouped by the parent plan's
    * planType as the category context; the request asks for contexts
    * BUILDING (boost 2) and MACHINERY (boost 1); score = doc-count weight
    * × context boost. One filtered hash aggregation + a bounded top-k. */
  private def d198(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sugg = assembled(s, d)
      .select(col("doc.planType").as("ctx"),
        explode(col("doc.linkedPlanServices")).as("el"))
      .select(col("ctx"), col("el.linkedService.name").as("suggestion"))
      .filter(col("suggestion").startsWith("Service ") &&
        col("ctx").isin("BUILDING", "MACHINERY"))
    val scored = sugg.groupBy(col("suggestion"), col("ctx"))
      .agg(count(lit(1)).as("weight"))
      .withColumn("score",
        col("weight") * when(col("ctx") === "BUILDING", 2L).otherwise(1L))
    scored
      .withColumn("rn", row_number().over(
        Window.orderBy(col("score").desc, col("suggestion"), col("ctx"))).cast("long"))
      .filter(col("rn") <= 8)
      .select(col("rn"), col("suggestion"), col("ctx"), col("weight"), col("score"))
      .orderBy(col("rn"))
  }

  private val d198Sql =
    s"""WITH o AS $O,
       |sugg AS (
       |  SELECT 'Service ' || o_orderpriority AS suggestion, c_mktsegment AS ctx
       |  FROM o JOIN customer ON o_custkey = c_custkey
       |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
       |scored AS (
       |  SELECT suggestion, ctx, CAST(COUNT(*) AS BIGINT) AS weight,
       |    CAST(COUNT(*) AS BIGINT) * CASE WHEN ctx = 'BUILDING' THEN 2 ELSE 1 END AS score
       |  FROM sugg GROUP BY suggestion, ctx)
       |SELECT rn, suggestion, ctx, weight, score FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, suggestion, ctx) AS BIGINT) AS rn
       |  FROM scored)
       |WHERE rn <= 8 ORDER BY rn""".stripMargin

  // ---------------------------------------------------------------- d199
  /** Raw-SQL geo distance through the native `haversine_m` expression +
    * the GeoBoxRule optimizer rule: the user writes ONLY the distance
    * predicate — no manual bounding box — and the rule conjoins the
    * conservative bbox (the same constants the DSL path builds by hand),
    * so the parquet scan still prunes at row-group grain (plan-pinned
    * PushedFilters on lat/lon). Same hit set as d121 (the bbox is a
    * superset of the circle; the haversine decides membership). */
  private def d199(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.ensure(s)
    geoDocs(s, d).select(col("doc.objectId").as("objectId"),
        col("doc.location.lat").as("lat"), col("doc.location.lon").as("lon"))
      .createOrReplaceTempView("geo_points_d199")
    // plain decimal literals on purpose: the analyzer implicit-casts them
    // (ExpectsInputTypes) and constant folding collapses the casts to the
    // double literals GeoBoxRule pattern-matches — the natural spelling
    // a SQL user writes must work
    s.sql(
      """SELECT objectId, lat, lon FROM geo_points_d199
        |WHERE haversine_m(lat, lon, 10.0, 20.0) <= 2000000.0
        |ORDER BY objectId""".stripMargin)
  }

  private val d199Sql =
    s"""WITH pts AS (
       |  SELECT 'plan-' || ${ck("c_custkey")} AS "objectId",
       |    $geoLatSql AS lat, $geoLonSql AS lon
       |  FROM customer)
       |SELECT "objectId", lat, lon FROM pts
       |WHERE ${Geo.haversineSql("lat", "lon", 10.0, 20.0)} <= 2000000.0
       |ORDER BY "objectId"""".stripMargin

  // ---------------------------------------------------------------- d200
  /** ES ingest pipeline — the index-time processor chain
    * (IngestPipeline.scala): lowercase → gsub rename → set backfill →
    * script arithmetic, compiled to ONE composed codegen'd doc rewrite
    * and applied corpus-wide (the `?pipeline=` write path). Output: the
    * post-pipeline type census with the script-shifted copay sums —
    * every processor's effect visible. */
  private def d200(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "description": "normalize types, backfill date, shift copay",
        |  "processors": [
        |    { "lowercase": { "field": "planType" } },
        |    { "gsub": { "field": "planType",
        |                "pattern": "^building$", "replacement": "bldg" } },
        |    { "set": { "field": "creationDate", "value": "2026-08-14" } },
        |    { "script": { "source":
        |        "ctx._source.planCostShares.copay = ctx._source.planCostShares.copay + 1000" } }
        |  ]
        |}""".stripMargin
    val procs = IngestPipeline.parse(body, schema)
    assembled(s, d)
      .select(IngestPipeline(col("doc"), schema, procs).as("doc"))
      .groupBy(col("doc.planType").as("plan_type"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("doc.planCostShares.copay")).cast("long").as("total_copay"),
        max(col("doc.creationDate")).as("creation_date"))
      .orderBy(col("plan_type"))
  }

  private val d200Sql =
    """SELECT
      |  regexp_replace(lower(c_mktsegment), '^building$', 'bldg') AS plan_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(c_custkey % 50 + 1000) AS BIGINT) AS total_copay,
      |  '2026-08-14' AS creation_date
      |FROM customer GROUP BY 1 ORDER BY plan_type""".stripMargin

  // ---------------------------------------------------------------- d201
  /** ES rollup (`_rollup/job` + `_rollup_search`) — the materialized
    * pre-aggregation story: an HOURLY rollup index (count/sum/min/max per
    * (hour, event_type) — decomposable partials only, the rollup-job
    * contract) answers a DAILY-grain query by re-aggregating partials
    * (sum of sums, sum of counts, min of mins; avg derived as sum/count
    * at read time — never stored, exactly why ES rollup forbids avg in
    * the job config). The ORACLE computes the daily numbers DIRECTLY
    * from the raw events — the gate proves the rollup path reproduces
    * ground truth bit-exactly, which is the entire point of a rollup.
    * Scale shape: the rollup build is one hash aggregation the ingest
    * pipeline maintains incrementally; the daily query touches
    * |hours × types| rows, never raw events. */
  private def d201(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val hourUs = 3600000000L
    val ev = graft.Tables.events(s, d)
      .select(col("ts_us"), col("event_type"), col("value"))
    val rollup = ev
      .groupBy((col("ts_us") - col("ts_us") % hourUs).as("hour_us"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("value").cast(DecimalType(12, 2))).as("sum_v"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"))
    rollup
      .groupBy((col("hour_us") - col("hour_us") % (24L * hourUs)).as("day_us"),
        col("event_type"))
      .agg(sum(col("n")).cast("long").as("n_events"),
        sum(col("sum_v")).cast(DecimalType(28, 6)).cast("double").as("total_value"),
        min(col("min_v")).as("min_value"), max(col("max_v")).as("max_value"),
        (sum(col("sum_v")).cast(DecimalType(28, 6)) / sum(col("n")))
          .cast(DecimalType(28, 6)).cast("double").as("avg_value"))
      .orderBy(col("day_us"), col("event_type"))
  }

  private val d201Sql =
    """WITH e AS (SELECT epoch_us(ts) AS ts_us, event_type, value FROM events)
      |SELECT CAST(ts_us - ts_us % 86400000000 AS BIGINT) AS day_us, event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS total_value,
      |  MIN(value) AS min_value, MAX(value) AS max_value,
      |  CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(28,6)) / COUNT(*)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS avg_value
      |FROM e GROUP BY 1, 2 ORDER BY day_us, event_type""".stripMargin

  // ---------------------------------------------------------------- d202
  /** ES 8.14+ HYBRID search — a `knn` leg beside a `standard` leg under
    * the `rrf` retriever (the production hybrid-search default shape):
    * the lexical leg is d196's function_score ranking, the vector leg is
    * the s6 executor riding the retriever tree (Retriever.KnnLeg — term
    * filter pruned BEFORE any vector math, codegen'd `vec_dot` cosine,
    * bounded top-min(k, window) heap). The index's vector side is the
    * embeddings table keyed into the plan id space (TESTDATA's shared id
    * convention, the s7 contract). At 100 TB each leg is one scan + one
    * bounded heap; the fusion join touches ≤ 2·window rows. */
  private def d202(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.ensure(s)
    import graft.functions.GraftFunctions.vecDot
    val vecsDf = graft.Tables(s, d, "embeddings")
      .filter(col("vec_id") >= 1) // vectors keyed by INDEXED doc ids only
      .select(concat(lit("plan-"), col("vec_id").cast("string")).as("objectId"),
        col("label"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(vecDot(col("v"), col("v"))))
    val qv = graft.Tables(s, d, "embeddings").filter(col("vec_id") === 100)
      .select(col("embedding").cast("array<double>").as("v"))
      .head().getSeq[Double](0)
    val body =
      s"""{
         |  "retriever": { "rrf": {
         |    "retrievers": [
         |      { "standard": { "query": { "function_score": {
         |          "query": { "term": { "planType": "BUILDING" } },
         |          "functions": [ { "field_value_factor": {
         |              "field": "planCostShares.copay",
         |              "factor": 2, "modifier": "sqrt", "missing": 0 } } ],
         |          "score_mode": "sum", "boost_mode": "sum" } } } },
         |      { "knn": { "field": "embedding",
         |          "query_vector": [${qv.mkString(",")}],
         |          "k": 25, "num_candidates": 200,
         |          "filter": { "term": { "label": 7 } } } } ],
         |    "rank_window_size": 25, "rank_constant": 60 } },
         |  "size": 15
         |}""".stripMargin
    Retriever.search(assembled(s, d), "doc", body, schema, Some(vecsDf))
  }

  private val d202Sql = {
    import graft.ext.Similarity.dotSql
    s"""WITH la AS (
       |  SELECT "objectId", rank_0 FROM (
       |    SELECT 'plan-' || ${ck("c_custkey")} AS "objectId",
       |      CAST(ROW_NUMBER() OVER (ORDER BY c_custkey % 50 DESC,
       |        'plan-' || ${ck("c_custkey")}) AS BIGINT) AS rank_0
       |    FROM customer WHERE c_mktsegment = 'BUILDING')
       |  WHERE rank_0 <= 25),
       |vecs AS (
       |  SELECT vec_id, label, v, sqrt(${dotSql("v", "v")}) AS nrm
       |  FROM (SELECT vec_id, label,
       |          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |        FROM embeddings WHERE vec_id >= 1)),
       |q AS (SELECT v AS qv, nrm AS qn FROM vecs WHERE vec_id = 100),
       |lb AS (
       |  SELECT "objectId", rank_1 FROM (
       |    SELECT 'plan-' || CAST(vec_id AS VARCHAR) AS "objectId",
       |      CAST(ROW_NUMBER() OVER (ORDER BY ${dotSql("qv", "v")} / (qn * nrm) DESC,
       |        'plan-' || CAST(vec_id AS VARCHAR)) AS BIGINT) AS rank_1
       |    FROM vecs CROSS JOIN q WHERE label = 7)
       |  WHERE rank_1 <= 25),
       |j AS (
       |  SELECT COALESCE(la."objectId", lb."objectId") AS "objectId", rank_0, rank_1,
       |    COALESCE(1.0 / (60 + rank_0), 0.0) + COALESCE(1.0 / (60 + rank_1), 0.0) AS rrf
       |  FROM la FULL OUTER JOIN lb ON la."objectId" = lb."objectId")
       |SELECT rn, "objectId", rank_0, rank_1, rrf FROM (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, "objectId") AS BIGINT) AS rn, *
       |  FROM j)
       |WHERE rn <= 15 ORDER BY rn""".stripMargin
  }

  // ---------------------------------------------------------------- d203
  /** ES `children` aggregation — the agg counterpart of has_child
    * (JoinAggs.scala): a terms split on the PARENT field (`planType`)
    * descends two join-field hops (`linkedPlanServices` →
    * `planserviceCostShares`) and aggregates CHILD metrics per parent
    * bucket — the Kibana parent/child dashboard shape. Each hop is one
    * key equi-join through the shredded edges index + one hash agg at
    * bucket grain; bucket assembly is size-bounded. */
  private def d203(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": { "by_type": {
        |    "terms": { "field": "planType", "size": 10 },
        |    "aggs": { "services": {
        |      "children": { "type": "linkedPlanServices" },
        |      "aggs": { "shares": {
        |        "children": { "type": "planserviceCostShares" },
        |        "aggs": {
        |          "avg_ded": { "avg": { "field": "deductible" } },
        |          "max_copay": { "max": { "field": "copay" } } } } } } } } }
        |}""".stripMargin
    JoinAggs.run(shredded(s, d), "plan", body)
  }

  private val d203Sql =
    s"""WITH o AS $O,
       |seg AS (SELECT c_mktsegment AS key, c_custkey FROM customer),
       |b AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS doc_count FROM seg GROUP BY key),
       |sv AS (SELECT s.key, o.o_orderkey, o.o_custkey
       |       FROM o JOIN seg s ON s.c_custkey = o.o_custkey),
       |sva AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS services_doc_count
       |        FROM sv GROUP BY key),
       |sha AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS shares_doc_count,
       |          CAST(CAST(SUM(o_orderkey % 1000) AS BIGINT) AS DOUBLE)
       |            / COUNT(o_orderkey % 1000) AS shares_avg_ded,
       |          CAST(MAX(o_custkey % 200) AS BIGINT) AS shares_max_copay
       |        FROM sv GROUP BY key)
       |SELECT b.key, doc_count,
       |  COALESCE(services_doc_count, 0) AS services_doc_count,
       |  COALESCE(shares_doc_count, 0) AS shares_doc_count,
       |  shares_avg_ded, shares_max_copay
       |FROM b LEFT JOIN sva USING (key) LEFT JOIN sha USING (key)
       |ORDER BY doc_count DESC, key LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- d204
  /** ES ingest pipeline with SCHEMA-EVOLVING processors — `convert` +
    * `date` (IngestPipeline.parseEvolving/applyEvolving): copay retypes
    * long→string so the gsub (a STRING processor — it would reject at
    * parse time before the convert) can rewrite its leading digit, then
    * retypes back; `date` tries its formats in order (the first one
    * mismatches — the ES contract, via try_to_timestamp) and ADDS a new
    * TIMESTAMP field to the root struct. Still ONE composed codegen'd
    * rewrite for the whole chain; the output reads the evolved field
    * (unix_micros — the house timestamp normalization). */
  private def d204(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "description": "typed conversions + date parse",
        |  "processors": [
        |    { "convert": { "field": "planCostShares.copay", "type": "string" } },
        |    { "gsub": { "field": "planCostShares.copay",
        |                "pattern": "^4", "replacement": "9" } },
        |    { "convert": { "field": "planCostShares.copay", "type": "long" } },
        |    { "date": { "field": "creationDate",
        |                "formats": ["dd/MM/yyyy", "MM-dd-yyyy"],
        |                "target_field": "ingested_at" } }
        |  ]
        |}""".stripMargin
    val (procs, _) = IngestPipeline.parseEvolving(body, schema)
    val (rewritten, _) = IngestPipeline.applyEvolving(col("doc"), schema, procs)
    assembled(s, d).select(rewritten.as("doc"))
      .groupBy(col("doc.planType").as("plan_type"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("doc.planCostShares.copay")).cast("long").as("total_copay"),
        max(unix_micros(col("doc.ingested_at"))).as("ingested_at_us"))
      .orderBy(col("plan_type"))
  }

  private val d204Sql =
    """SELECT c_mktsegment AS plan_type, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CAST(regexp_replace(CAST(c_custkey % 50 AS VARCHAR), '^4', '9')
      |    AS BIGINT)) AS BIGINT) AS total_copay,
      |  epoch_us(strptime('12-12-2017', '%m-%d-%Y')) AS ingested_at_us
      |FROM customer GROUP BY 1 ORDER BY plan_type""".stripMargin

  // ---------------------------------------------------------------- d209
  /** ES `_transform` pivot — the entity-centric materialization
    * (Transform.scala): events pivot to one row per (user, event_type)
    * with decomposable aggs only (the continuous-transform contract),
    * then the "dest index" answers the entity query — top spenders with
    * their event counts. One hash aggregation builds the dest; the query
    * is a bounded top-k over entity-grain rows, never raw events. */
  // ---------------------------------------------------------------- d210
  /** ES|QL (`_query`, ES 8.11+) — the piped analytics language
    * (Esql.scala). The whole pipe compiles to ONE Catalyst plan: WHERE
    * reaches the parquet scan as a pushed filter, EVAL is a projection,
    * STATS..BY one hash aggregation (map-side partials free), SORT+LIMIT
    * a bounded TakeOrderedAndProject — scan → partial agg → final agg →
    * top-k at any scale, no interpreter loop. SUM/AVG over doubles ride
    * the engine's exact-decimal contract so totals are bit-exact vs the
    * oracle. */
  private def d210(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM events
        || WHERE event_type == "purchase" AND value > 50
        || EVAL v2 = value * 2
        || STATS total = SUM(v2), n = COUNT(*), hi = MAX(value) BY user_id
        || SORT total DESC, user_id ASC
        || LIMIT 10""".stripMargin
    Esql.run(Map("events" -> graft.Tables.events(s, d).drop("ts", "ts_us")), q)
  }

  private val d210Sql =
    """SELECT user_id,
      |  CAST(CAST(SUM(CAST(value * 2 AS DECIMAL(12,2))) AS DECIMAL(28,6))
      |    AS DOUBLE) AS total,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  MAX(value) AS hi
      |FROM events WHERE event_type = 'purchase' AND value > 50
      |GROUP BY 1 ORDER BY total DESC, user_id LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- d211
  /** ES|QL row-pipe commands (no STATS): EVAL + DROP + KEEP + the ES|QL
    * wildcard LIKE (* ? — compiled to Spark's like with escaped % _), a
    * multi-key SORT and LIMIT. The pipe collapses to a single projected,
    * filtered, bounded-top-k scan — the filter (incl. the LIKE prefix)
    * sits below the projection after Catalyst pushdown. */
  private def d211(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM orders
        || WHERE o_orderstatus == "F" AND o_orderpriority LIKE "1*"
        || EVAL price_k = o_totalprice / 1000, pri = o_orderkey % 100
        || DROP o_orderdate
        || KEEP o_orderkey, o_custkey, price_k, pri
        || SORT price_k DESC, o_orderkey ASC
        || LIMIT 25""".stripMargin
    Esql.run(Map("orders" -> graft.Tables(s, d, "orders")), q)
  }

  private val d211Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice / 1000 AS price_k,
      |  o_orderkey % 100 AS pri
      |FROM orders WHERE o_orderstatus = 'F' AND o_orderpriority LIKE '1%'
      |ORDER BY price_k DESC, o_orderkey LIMIT 25""".stripMargin

  // ---------------------------------------------------------------- d215
  /** Ingest `grok` + `dissect` — the log-parsing processors (the biggest
    * remaining shape-changing pair): grok's regex skeleton pulls the org
    * number and domain out of `_org`, dissect's literal split breaks
    * `objectId` into kind + number, and a `convert` AFTER the grok types
    * the extracted key — proving later processors see grok's evolved
    * schema. All extractions are groups of one compiled regex each; the
    * whole chain is still one codegen'd projection. */
  private def d215(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "processors": [
        |    { "grok": { "field": "_org",
        |        "patterns": ["org-%{INT:org_num}\\.%{GREEDYDATA:org_domain}"] } },
        |    { "dissect": { "field": "objectId", "pattern": "%{obj_kind}-%{obj_num}" } },
        |    { "convert": { "field": "org_num", "type": "long" } }
        |  ]
        |}""".stripMargin
    val (procs, _) = IngestPipeline.parseEvolving(body, schema)
    val (rewritten, _) = IngestPipeline.applyEvolving(col("doc"), schema, procs)
    assembled(s, d).select(rewritten.as("doc"))
      .groupBy(col("doc.org_num").as("org_num"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        min(col("doc.org_domain")).as("domain"),
        min(col("doc.obj_kind")).as("kind"),
        max(col("doc.obj_num")).as("max_obj"))
      .orderBy(col("org_num"))
  }

  private val d215Sql =
    """SELECT CAST(c_nationkey AS BIGINT) AS org_num,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  'example.com' AS domain, 'plan' AS kind,
      |  MAX(CAST(c_custkey AS VARCHAR)) AS max_obj
      |FROM customer GROUP BY 1 ORDER BY org_num""".stripMargin

  // ---------------------------------------------------------------- d216
  /** ES|QL per-agg WHERE filters (8.13) + CASE: four differently-filtered
    * aggregates still compile to ONE hash aggregation over one scan (each
    * filter is a when() wrap on the agg input — the FILTER-clause shape,
    * no per-filter passes), and the CASE classifier is a when-chain over
    * the bucket table. */
  private def d216(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM events
        || STATS purchases = COUNT(*) WHERE event_type == "purchase",
        |        views = COUNT(*) WHERE event_type == "view",
        |        big = SUM(value) WHERE value > 100,
        |        n = COUNT(*) BY user_id
        || EVAL mix = CASE(purchases > views, "buyer", purchases == views, "even", "browser")
        || SORT user_id ASC
        || LIMIT 40""".stripMargin
    Esql.run(Map("events" -> graft.Tables.events(s, d).drop("ts", "ts_us")), q)
  }

  private val d216Sql =
    """SELECT user_id,
      |  CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchases,
      |  CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS views,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) FILTER (WHERE value > 100)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS big,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CASE WHEN COUNT(*) FILTER (WHERE event_type = 'purchase')
      |         > COUNT(*) FILTER (WHERE event_type = 'view') THEN 'buyer'
      |       WHEN COUNT(*) FILTER (WHERE event_type = 'purchase')
      |         = COUNT(*) FILTER (WHERE event_type = 'view') THEN 'even'
      |       ELSE 'browser' END AS mix
      |FROM events GROUP BY user_id ORDER BY user_id LIMIT 40""".stripMargin

  // ---------------------------------------------------------------- d217
  /** Ingest `json` — the last named-unsupported shape-changer: parse the
    * `props` JSON-string column into a TYPED struct (declared
    * `graft_schema`, the documented deviation from ES's dynamic
    * inference), then `convert` the parsed leaf — proving later
    * processors address INTO the json-built struct. One from_json + one
    * cast, single codegen'd projection. */
  private def d217(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .select(struct(col("event_id"), col("event_type"), col("props")).as("doc"))
    val evSchema = ev.schema("doc").dataType.asInstanceOf[StructType]
    val body =
      """{
        |  "processors": [
        |    { "json": { "field": "props", "target_field": "p",
        |        "graft_schema": { "k": "long" } } },
        |    { "convert": { "field": "p.k", "type": "double" } }
        |  ]
        |}""".stripMargin
    val (procs, _) = IngestPipeline.parseEvolving(body, evSchema)
    val (rewritten, _) = IngestPipeline.applyEvolving(col("doc"), evSchema, procs)
    ev.select(rewritten.as("doc"))
      .groupBy(col("doc.event_type").as("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("doc.p.k").cast("decimal(12,2)")).cast("decimal(28,6)")
          .cast("double").as("sum_k"),
        max(col("doc.p.k")).as("max_k"))
      .orderBy(col("event_type"))
  }

  private val d217Sql =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(CAST(SUM(CAST(CAST(json_extract_string(props, '$.k') AS DOUBLE)
      |    AS DECIMAL(12,2))) AS DECIMAL(28,6)) AS DOUBLE) AS sum_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS DOUBLE)) AS max_k
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- d218
  /** ES|QL BUCKET (8.13) — numeric histogram keys inside STATS BY with a
    * computed group key (`BY b = BUCKET(value, 50.0)`): the bucket id is a
    * floor projection, the whole pipe still one scan → one hash agg →
    * ordered bucket table. */
  private def d218(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM events
        || WHERE event_type == "purchase"
        || STATS n = COUNT(*), avg_v = AVG(value) BY b = BUCKET(value, 50.0)
        || SORT b ASC""".stripMargin
    Esql.run(Map("events" -> graft.Tables.events(s, d).drop("ts", "ts_us")), q)
  }

  private val d218Sql =
    """SELECT floor(value / 50.0) * 50.0 AS b, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(28,6))
      |    / COUNT(value) AS DECIMAL(28,6)) AS DOUBLE) AS avg_v
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY b""".stripMargin

  // ---------------------------------------------------------------- d219
  /** ES|QL LOOKUP JOIN (8.18) — the index-to-index lookup: a broadcast
    * left join on the shared key name (the lookup index is `mode:lookup`
    * = replicated in ES; broadcast is the Spark analogue), non-key
    * columns appended, then one hash agg. The fact side never shuffles
    * for the join. */
  private def d219(s: SparkSession, d: String): DataFrame = {
    val cust = graft.Tables(s, d, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    val q =
      """FROM orders
        || WHERE o_orderstatus == "O"
        || LOOKUP JOIN cust ON o_custkey
        || STATS n = COUNT(*), total = SUM(o_totalprice) BY c_mktsegment
        || SORT c_mktsegment ASC""".stripMargin
    Esql.run(Map("orders" -> graft.Tables(s, d, "orders"), "cust" -> cust), q)
  }

  private val d219Sql =
    """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(28,6))
      |    AS DOUBLE) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_orderstatus = 'O'
      |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- d220
  /** ES|QL INLINESTATS (8.16) — aggregates joined back onto the rows:
    * compiles to window aggregates over the BY partitions (one shuffle on
    * user_id, no self-join, no row reduction), sharing the STATS
    * exact-decimal contract so the appended totals match the oracle
    * bit-for-bit. The follow-up WHERE on the appended share is the
    * "rows above their group's threshold" shape. */
  private def d220(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM events
        || WHERE event_type == "purchase"
        || INLINESTATS user_total = SUM(value), user_n = COUNT(*) BY user_id
        || EVAL share = value / user_total
        || WHERE share > 0.3 AND user_n > 1
        || KEEP event_id, user_id, value, user_total, user_n, share
        || SORT event_id ASC""".stripMargin
    Esql.run(Map("events" -> graft.Tables.events(s, d).drop("ts", "ts_us")), q)
  }

  private val d220Sql =
    """WITH w AS (
      |  SELECT event_id, user_id, value,
      |    CAST(CAST(SUM(CAST(value AS DECIMAL(12,2)))
      |      OVER (PARTITION BY user_id) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS user_total,
      |    CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS user_n
      |  FROM events WHERE event_type = 'purchase')
      |SELECT event_id, user_id, value, user_total, user_n,
      |  value / user_total AS share
      |FROM w WHERE value / user_total > 0.3 AND user_n > 1
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- d221
  /** ES|QL multivalue functions (MV_COUNT/MV_MIN/MV_MAX/MV_FIRST/MV_LAST)
    * over the embeddings table's float vectors — pure per-row array ops
    * (size/array_min/array_max/element_at), zero shuffle before the
    * bounded top-k. */
  private def d221(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM embeddings
        || EVAL dim = MV_COUNT(embedding), lo = MV_MIN(embedding),
        |       hi = MV_MAX(embedding), head = MV_FIRST(embedding),
        |       tail = MV_LAST(embedding)
        || WHERE label IN (0, 1) AND hi > 0
        || KEEP vec_id, label, dim, lo, hi, head, tail
        || SORT vec_id ASC
        || LIMIT 200""".stripMargin
    Esql.run(Map("embeddings" -> graft.Tables(s, d, "embeddings")), q)
  }

  private val d221Sql =
    """SELECT vec_id, label, CAST(len(embedding) AS BIGINT) AS dim,
      |  list_min(embedding) AS lo, list_max(embedding) AS hi,
      |  embedding[1] AS head, embedding[-1] AS tail
      |FROM embeddings
      |WHERE label IN (0, 1) AND list_max(embedding) > 0
      |ORDER BY vec_id LIMIT 200""".stripMargin

  // ---------------------------------------------------------------- d222
  /** ES|QL statistical aggs: COUNT_DISTINCT (exact), MEDIAN, PERCENTILE —
    * all still ONE hash aggregation (the distinct count is Spark's
    * two-phase exact distinct, the percentiles the exact interpolated
    * form over long-cast quantities, mirroring the q25 idiom the oracle
    * already matches bit-for-bit). */
  private def d222(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM lineitem
        || STATS n = COUNT(*), uniq_parts = COUNT_DISTINCT(l_partkey),
        |        med_qty = MEDIAN(TO_LONG(l_quantity)),
        |        p95 = PERCENTILE(TO_LONG(l_quantity), 95) BY l_returnflag
        || SORT l_returnflag ASC""".stripMargin
    Esql.run(Map("lineitem" -> graft.Tables(s, d, "lineitem")), q)
  }

  private val d222Sql =
    """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS uniq_parts,
      |  quantile_cont(CAST(l_quantity AS BIGINT), 0.5) AS med_qty,
      |  quantile_cont(CAST(l_quantity AS BIGINT), 0.95) AS p95
      |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- d223
  /** ES|QL multi-index FROM with METADATA _index — the `logs-*` pattern:
    * sources union BY NAME (missing fields null, the cross-index ES
    * contract) and `_index` stamps each row's origin as a literal column,
    * so it groups like any field and costs nothing (no lineage lookup).
    * The union is scan-level — pushed filters still reach each branch. */
  private def d223(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables(s, d, "documents")
    val q =
      """FROM docs_en,docs_de METADATA _index
        || STATS n = COUNT(*), chars = SUM(n_chars) BY _index, source
        || SORT _index ASC, source ASC
        || LIMIT 30""".stripMargin
    Esql.run(Map(
      "docs_en" -> docs.filter(col("lang") === "en"),
      "docs_de" -> docs.filter(col("lang") === "de")), q)
  }

  private val d223Sql =
    """WITH u AS (
      |  SELECT 'docs_en' AS _index, source, n_chars FROM documents
      |  WHERE lang = 'en'
      |  UNION ALL
      |  SELECT 'docs_de', source, n_chars FROM documents WHERE lang = 'de')
      |SELECT _index, source, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars
      |FROM u GROUP BY 1, 2 ORDER BY _index, source LIMIT 30""".stripMargin

  // ---------------------------------------------------------------- d224
  /** ES|QL DATE_TRUNC — calendar bucketing on the epoch-micros timeline
    * (micros → UTC calendar truncate → micros, one codegen'd projection)
    * combined with a per-agg WHERE filter: the daily-revenue pipe is
    * still one scan → one hash agg. */
  private def d224(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM events
        || EVAL day = DATE_TRUNC("day", ts_us)
        || STATS n = COUNT(*),
        |        purchase_total = SUM(value) WHERE event_type == "purchase" BY day
        || SORT day ASC""".stripMargin
    Esql.run(Map("events" -> graft.Tables.events(s, d).drop("ts")), q)
  }

  private val d224Sql =
    """WITH e AS (
      |  SELECT epoch_us(date_trunc('day', ts)) AS day, value, event_type
      |  FROM events)
      |SELECT day, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2)))
      |    FILTER (WHERE event_type = 'purchase') AS DECIMAL(28,6)) AS DOUBLE)
      |    AS purchase_total
      |FROM e GROUP BY 1 ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- d225
  /** ES|QL math scalar functions (wave 3) — SQRT/FLOOR/CEIL/SIGNUM/
    * GREATEST/LEAST/PI, all IEEE-exact or correctly-rounded operations
    * (the libm-backed EXP/LOG/POW family stays off the hash-compared
    * path; EsqlSpec pins those JVM-side). One pushdown-eligible filter,
    * one codegen'd projection — zero shuffles before the sort. */
  private def d225(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM lineitem
        || WHERE l_orderkey % 997 == 0
        || EVAL root = SQRT(l_quantity), fl = FLOOR(l_extendedprice / 100),
        |       ce = CEIL(l_extendedprice / 100), sgn = SIGNUM(l_quantity - 40),
        |       lo = LEAST(l_discount, l_tax), hi = GREATEST(l_discount, l_tax),
        |       scaled = l_quantity * PI()
        || KEEP l_orderkey, l_linenumber, root, fl, ce, sgn, lo, hi, scaled
        || SORT l_orderkey ASC, l_linenumber ASC""".stripMargin
    Esql.run(Map("lineitem" -> graft.Tables(s, d, "lineitem")), q)
  }

  private val d225Sql =
    """SELECT l_orderkey, l_linenumber, sqrt(l_quantity) AS root,
      |  floor(l_extendedprice / 100) AS fl, ceil(l_extendedprice / 100) AS ce,
      |  CAST(sign(l_quantity - 40) AS DOUBLE) AS sgn,
      |  least(l_discount, l_tax) AS lo, greatest(l_discount, l_tax) AS hi,
      |  l_quantity * pi() AS scaled
      |FROM lineitem WHERE l_orderkey % 997 = 0
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- d226
  /** ES|QL string scalar functions (wave 3) — LEFT/RIGHT/REVERSE/REPEAT/
    * LOCATE/SPACE/BIT_LENGTH/BYTE_LENGTH/MD5/SHA256/TO_STRING over the
    * multilingual documents table: char-counting functions agree with the
    * oracle on multi-byte text because both engines operate on Unicode
    * codepoints, and the byte-counting pair (BIT/BYTE_LENGTH) on UTF-8
    * bytes. Pure per-row projection, no shuffle before the sort. */
  private def d226(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM documents
        || WHERE doc_id % 11 == 0
        || EVAL head = LEFT(text, 12), tail = RIGHT(text, 8),
        |       rev = REVERSE(lang), ruler = REPEAT("-", 3),
        |       pos = LOCATE(text, "the"),
        |       pad = CONCAT(lang, SPACE(2), source),
        |       bits = BIT_LENGTH(lang), bytes = BYTE_LENGTH(head),
        |       sig = MD5(lang), sig2 = SHA256(source),
        |       idstr = TO_STRING(doc_id)
        || KEEP doc_id, head, tail, rev, ruler, pos, pad, bits, bytes, sig,
        |       sig2, idstr
        || SORT doc_id ASC""".stripMargin
    Esql.run(Map("documents" -> graft.Tables(s, d, "documents")), q)
  }

  private val d226Sql =
    """SELECT doc_id, left(text, 12) AS head, right(text, 8) AS tail,
      |  reverse(lang) AS rev, repeat('-', 3) AS ruler,
      |  CAST(instr(text, 'the') AS BIGINT) AS pos,
      |  lang || repeat(' ', 2) || source AS pad,
      |  CAST(bit_length(lang) AS BIGINT) AS bits,
      |  CAST(strlen(left(text, 12)) AS BIGINT) AS bytes,
      |  md5(lang) AS sig, sha256(source) AS sig2,
      |  CAST(doc_id AS VARCHAR) AS idstr
      |FROM documents WHERE doc_id % 11 = 0
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d227
  /** ES|QL numeric multivalue functions (wave 3) — MV_SUM/MV_AVG/
    * MV_MEDIAN over the embeddings float vectors. MV_SUM is a SEQUENTIAL
    * left fold in double (aggregate(0.0, +)) — exactly the lambda fold
    * the oracle runs, so float inputs hash-match with no decimal detour;
    * MV_MEDIAN is sorted element picks + one add/div. Per-row array ops,
    * zero shuffle before the sort. */
  private def d227(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM embeddings
        || WHERE vec_id % 5 == 0
        || EVAL s = MV_SUM(embedding), a = MV_AVG(embedding),
        |       m = MV_MEDIAN(embedding), dim = MV_COUNT(embedding)
        || KEEP vec_id, label, s, a, m, dim
        || SORT vec_id ASC""".stripMargin
    Esql.run(Map("embeddings" -> graft.Tables(s, d, "embeddings")), q)
  }

  private val d227Sql =
    """SELECT vec_id, label,
      |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list_transform(embedding, x -> CAST(x AS DOUBLE))),
      |    (acc, x) -> acc + x) AS s,
      |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list_transform(embedding, x -> CAST(x AS DOUBLE))),
      |    (acc, x) -> acc + x) / CAST(len(embedding) AS DOUBLE) AS a,
      |  CASE WHEN len(embedding) % 2 = 1
      |    THEN CAST(list_sort(embedding)[(len(embedding)+1)//2] AS DOUBLE)
      |    ELSE (CAST(list_sort(embedding)[len(embedding)//2] AS DOUBLE) +
      |          CAST(list_sort(embedding)[len(embedding)//2+1] AS DOUBLE)) / 2.0
      |  END AS m,
      |  CAST(len(embedding) AS BIGINT) AS dim
      |FROM embeddings WHERE vec_id % 5 = 0 ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- d228
  /** ES|QL string multivalue functions (wave 3) — SPLIT feeding MV_SLICE/
    * MV_DEDUPE/MV_SORT/MV_CONCAT/MV_APPEND. Arrays live only INSIDE the
    * pipe; every output column is scalarized through MV_CONCAT (the
    * verify-gate contract). Both engines sort strings in binary UTF-8
    * order, so the multilingual corpus stays deterministic. */
  private def d228(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM documents
        || WHERE doc_id % 13 == 0
        || EVAL words = SPLIT(text, " ")
        || EVAL toks = MV_SLICE(words, 0, 9)
        || EVAL uniq = MV_CONCAT(MV_DEDUPE(toks), "|"),
        |       back = MV_CONCAT(MV_SORT(toks, "DESC"), "|"),
        |       ends = MV_CONCAT(MV_APPEND(MV_SLICE(words, 0, 1),
        |                                  MV_SLICE(words, 2, 3)), "|"),
        |       n = MV_COUNT(words)
        || KEEP doc_id, uniq, back, ends, n
        || SORT doc_id ASC""".stripMargin
    Esql.run(Map("documents" -> graft.Tables(s, d, "documents")), q)
  }

  private val d228Sql =
    """WITH w AS (
      |  SELECT doc_id, str_split(text, ' ') AS words FROM documents
      |  WHERE doc_id % 13 = 0),
      |t AS (SELECT doc_id, words, words[1:10] AS toks FROM w)
      |SELECT doc_id,
      |  array_to_string(list_sort(list_distinct(toks)), '|') AS uniq,
      |  array_to_string(list_sort(toks, 'DESC'), '|') AS back,
      |  array_to_string(list_concat(words[1:2], words[3:4]), '|') AS ends,
      |  CAST(len(words) AS BIGINT) AS n
      |FROM t ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d229
  /** ES|QL aggregates wave 3 — STD_DEV (population σ via the exact-sums
    * formula: Σx, Σx² are exact longs, both engines then run identical
    * double arithmetic), TOP(field, k, order) (bounded per-group sorted
    * slice), VALUES (deterministic sorted set), WEIGHTED_AVG (the AVG
    * decimal contract with SUM(weight) as the denominator). Still ONE
    * hash aggregation over the corpus; TOP/VALUES arrays are group-grain
    * and scalarized via MV_CONCAT before output. */
  private def d229(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM lineitem
        || EVAL qty = TO_LONG(l_quantity)
        || STATS n = COUNT(*), sd = STD_DEV(qty),
        |        top_q = TOP(qty, 5, "DESC"),
        |        vals = VALUES(l_linestatus),
        |        wavg = WEIGHTED_AVG(l_extendedprice, qty) BY l_returnflag
        || EVAL top_q = MV_CONCAT(top_q, ","), vals = MV_CONCAT(vals, ",")
        || SORT l_returnflag ASC""".stripMargin
    Esql.run(Map("lineitem" -> graft.Tables(s, d, "lineitem")), q)
  }

  private val d229Sql =
    """WITH l AS (
      |  SELECT *, CAST(l_quantity AS BIGINT) AS qty FROM lineitem)
      |SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  sqrt(SUM(CAST(qty AS DOUBLE) * CAST(qty AS DOUBLE))
      |         / CAST(COUNT(qty) AS DOUBLE)
      |       - (SUM(CAST(qty AS DOUBLE)) / CAST(COUNT(qty) AS DOUBLE))
      |       * (SUM(CAST(qty AS DOUBLE)) / CAST(COUNT(qty) AS DOUBLE))) AS sd,
      |  array_to_string(list_sort(list(qty), 'DESC')[1:5], ',') AS top_q,
      |  array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS vals,
      |  CAST(CAST(CAST(SUM(CAST(l_extendedprice * qty AS DECIMAL(18,2)))
      |    AS DECIMAL(28,6)) / SUM(qty) AS DECIMAL(28,6)) AS DOUBLE) AS wavg
      |FROM l GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- d230
  /** ES|QL FORK (8.19) — parenthesized branch pipes recursing from the
    * fork point's frame, unioned BY NAME with the `_fork` discriminator.
    * Each branch here is a filtered STATS with a post-agg WHERE; the
    * compiled shape is ONE Catalyst Union over two hash aggregations
    * sharing the pre-fork scan+filter prefix — no interpreter loop, no
    * repeated corpus pass when the optimizer reuses the exchange. */
  private def d230(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM events
        || WHERE event_type IN ("purchase", "error")
        || FORK (WHERE event_type == "purchase"
        |        | STATS n = COUNT(*), total = SUM(value) BY user_id
        |        | WHERE n > 2)
        |       (WHERE event_type == "error"
        |        | STATS n = COUNT(*) BY user_id
        |        | WHERE n > 2)
        || SORT _fork ASC, user_id ASC""".stripMargin
    Esql.run(Map("events" -> graft.Tables.events(s, d).drop("ts", "ts_us")), q)
  }

  private val d230Sql =
    """WITH p AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(28,6))
      |      AS DOUBLE) AS total
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY 1 HAVING COUNT(*) > 2),
      |e AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events WHERE event_type = 'error'
      |  GROUP BY 1 HAVING COUNT(*) > 2)
      |SELECT user_id, n, total, 'fork1' AS _fork FROM p
      |UNION ALL
      |SELECT user_id, n, NULL AS total, 'fork2' AS _fork FROM e
      |ORDER BY _fork, user_id""".stripMargin

  // ---------------------------------------------------------------- d231
  /** ES|QL CHANGE_POINT (8.16) — step-change detection over the daily
    * error-count series. DOCUMENTED DEVIATION (shared with the
    * change_point sibling agg): the deterministic CUSUM split statistic
    * |mean_r − mean_l|·sqrt(nl·nr/(nl+nr)) argmax replaces ES's ML
    * p-value suite; the oracle replays the identical double arithmetic
    * over exact integer sums. Single-partition windows are by design:
    * the command input is the bucket-grain STATS output (ES caps the
    * command at 1000 rows), never the corpus. */
  private def d231(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM events
        || WHERE event_type == "error"
        || EVAL day = DATE_TRUNC("day", ts_us)
        || STATS n = COUNT(*) BY day
        || CHANGE_POINT n ON day
        || SORT day ASC""".stripMargin
    Esql.run(Map("events" -> graft.Tables.events(s, d).drop("ts")), q)
  }

  private val d231Sql =
    """WITH e AS (
      |  SELECT epoch_us(date_trunc('day', ts)) AS day FROM events
      |  WHERE event_type = 'error'),
      |b AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1),
      |t1 AS (
      |  SELECT day, n, CAST(n AS DOUBLE) AS c,
      |    ROW_NUMBER() OVER (ORDER BY day) AS i,
      |    SUM(CAST(n AS DOUBLE)) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
      |    COUNT(*) OVER () AS cnt,
      |    SUM(CAST(n AS DOUBLE)) OVER () AS tot
      |  FROM b),
      |t2 AS (
      |  SELECT *, CASE WHEN i >= 2 THEN
      |    abs((tot - (s - c)) / CAST(cnt - i + 1 AS DOUBLE)
      |        - (s - c) / CAST(i - 1 AS DOUBLE))
      |    * sqrt(CAST(i - 1 AS DOUBLE) * CAST(cnt - i + 1 AS DOUBLE)
      |           / (CAST(i - 1 AS DOUBLE) + CAST(cnt - i + 1 AS DOUBLE)))
      |    END AS sc
      |  FROM t1),
      |best AS (
      |  SELECT day AS bday FROM t2
      |  ORDER BY sc DESC NULLS LAST, day LIMIT 1)
      |SELECT day, n, CASE WHEN day = bday THEN sc END AS score,
      |  CASE WHEN day = bday THEN 'step_change' END AS type
      |FROM t2, best ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- d212
  /** ES|QL ENRICH — the lookup join. The policy table (nation, dimension-
    * sized by the enrich contract: ES replicates the enrich index to every
    * node) compiles to a BROADCAST left join, so the corpus side never
    * shuffles; the STATS after it is still one hash aggregation. */
  private def d212(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM customer
        || ENRICH nations ON c_nationkey WITH n_name
        || STATS n = COUNT(*), bal = SUM(c_acctbal) BY n_name
        || SORT n_name ASC""".stripMargin
    Esql.run(
      Map("customer" -> graft.Tables(s, d, "customer")), q,
      enrich = Map("nations" ->
        (graft.Tables(s, d, "nation").select("n_nationkey", "n_name"), "n_nationkey")))
  }

  private val d212Sql =
    """SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(28,6))
      |    AS DOUBLE) AS bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1 ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------- d213
  /** ES|QL GROK + RENAME + IN + IS NOT NULL: extract the numeric id out of
    * the source tag with the grok core subset (%{INT}), type it, and
    * aggregate. The grok is ONE codegen'd regexp_extract projection —
    * filters on the typed column sit under the aggregation. */
  private def d213(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM documents
        || GROK source "src%{INT:srcnum}"
        || EVAL srci = TO_LONG(srcnum)
        || RENAME srci AS src_id
        || WHERE src_id IS NOT NULL AND src_id IN (1, 3, 5, 7)
        || STATS docs = COUNT(*), chars = SUM(n_chars) BY src_id
        || SORT src_id ASC""".stripMargin
    Esql.run(Map("documents" -> graft.Tables(s, d, "documents")), q)
  }

  private val d213Sql =
    """WITH g AS (
      |  SELECT TRY_CAST(regexp_extract(source, 'src([+-]?[0-9]+)', 1)
      |    AS BIGINT) AS src_id, n_chars
      |  FROM documents)
      |SELECT src_id, CAST(COUNT(*) AS BIGINT) AS docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars
      |FROM g WHERE src_id IS NOT NULL AND src_id IN (1, 3, 5, 7)
      |GROUP BY 1 ORDER BY src_id""".stripMargin

  // ---------------------------------------------------------------- d214
  /** ES|QL DISSECT + SPLIT + MV_EXPAND + STARTS_WITH: dissect an evaluated
    * tag back into fields (anchored literal-separator split), explode the
    * SPLIT array one-row-per-value (explode_outer — the mv_expand null
    * contract), and count per (lang, part). Everything row-local until the
    * single STATS hash agg. */
  private def d214(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM documents
        || EVAL tag = CONCAT(lang, "/", source)
        || DISSECT tag "%{l2}/%{src2}"
        || WHERE l2 IN ("en", "de") AND STARTS_WITH(src2, "src1")
        || EVAL parts = SPLIT(tag, "/")
        || MV_EXPAND parts
        || STATS n = COUNT(*) BY l2, parts
        || SORT l2 ASC, parts ASC""".stripMargin
    Esql.run(Map("documents" -> graft.Tables(s, d, "documents")), q)
  }

  private val d214Sql =
    """WITH base AS (
      |  SELECT lang AS l2, lang || '/' || source AS tag
      |  FROM documents
      |  WHERE lang IN ('en', 'de') AND source LIKE 'src1%'),
      |ex AS (SELECT l2, unnest(string_split(tag, '/')) AS parts FROM base)
      |SELECT l2, parts, CAST(COUNT(*) AS BIGINT) AS n
      |FROM ex GROUP BY 1, 2 ORDER BY l2, parts""".stripMargin

  // ---------------------------------------------------------------- d238
  /** ES|QL `SAMPLE` (8.19): Bernoulli row sampling. DOCUMENTED DEVIATION
    * (Esql.scala): ES samples randomly; the engine derives inclusion from
    * md5 of a named key column against a hex threshold — uniform,
    * coordination-free, stable under re-partitioning, and replayable by
    * the oracle (both engines produce identical md5 hex). The sample is a
    * plain filter feeding ONE hash aggregation. */
  private def d238(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM events
        || SAMPLE 0.2 ON event_id
        || STATS n = COUNT(*), total = SUM(value) BY event_type
        || SORT event_type""".stripMargin
    Esql.run(Map("events" ->
      graft.Tables.events(s, d).drop("ts", "ts_us")), q)
  }

  private val d238Sql =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(28,6))
      |    AS DOUBLE) AS total
      |FROM events
      |WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 8) < '33333333'
      |GROUP BY 1 ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- d239
  /** ES `_transform` latest-form — the OTHER transform function: per
    * unique key, the most recent document by the sort field
    * (`Transform.runLatest`). ONE map-combined hash aggregation (`max_by`
    * of the row struct over (sort, tiebreak)) — each partition keeps one
    * candidate per key before the shuffle, so the 100 TB cost is a single
    * entity-grain shuffle, never a corpus window sort. `graft_tiebreak`
    * is the documented determinism extension (ES leaves sort ties
    * undefined). */
  private def d239(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "source": { "index": "events" },
        |  "latest": { "unique_key": ["user_id"], "sort": "ts_us",
        |              "graft_tiebreak": "event_id" },
        |  "dest": { "index": "user_last_event" }
        |}""".stripMargin
    val l = Transform.parseLatest(body)
    require(l.sourceIndex == "events" && l.destIndex == "user_last_event")
    Transform.runLatest(graft.Tables.events(s, d).drop("ts", "props"), l)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), col("ts_us"))
      .orderBy(col("user_id"))
  }

  private val d239Sql =
    """SELECT user_id, event_id, event_type, value, tsu AS ts_us FROM (
      |  SELECT *, epoch_us(ts) AS tsu, row_number() OVER (
      |    PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin

  private def d209(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "source": { "index": "events" },
        |  "pivot": {
        |    "group_by": {
        |      "user": { "terms": { "field": "user_id" } },
        |      "etype": { "terms": { "field": "event_type" } } },
        |    "aggregations": {
        |      "n_events": { "value_count": { "field": "event_id" } },
        |      "total_value": { "sum": { "field": "value" } },
        |      "avg_value": { "avg": { "field": "value" } },
        |      "max_value": { "max": { "field": "value" } } } },
        |  "dest": { "index": "user_stats" }
        |}""".stripMargin
    val p = Transform.parse(body)
    require(p.sourceIndex == "events" && p.destIndex == "user_stats")
    val dest = Transform.run(graft.Tables.events(s, d).drop("ts", "ts_us"), p)
    dest.filter(col("etype") === "purchase")
      .orderBy(col("total_value").desc, col("user").asc)
      .limit(15)
      .select(col("user"), col("etype"), col("n_events"),
        col("total_value"), col("avg_value"), col("max_value"))
  }

  private val d209Sql =
    """SELECT user_id AS "user", event_type AS etype,
      |  CAST(COUNT(event_id) AS BIGINT) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS total_value,
      |  CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(28,6))
      |    / COUNT(value) AS DECIMAL(28,6)) AS DOUBLE) AS avg_value,
      |  MAX(value) AS max_value
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY 1, 2
      |ORDER BY total_value DESC, "user" ASC LIMIT 15""".stripMargin

  // ---------------------------------------------------------------- d208
  /** ES EQL (`_eql/search`) — the event-sequence language (Eql.scala):
    * `sequence by user_id with maxspan=72h [view] [click] [purchase]`
    * compiled to per-key window carries (one shuffle on the by-key, one
    * window pass per step; matching is the documented last-prefix
    * semantics). The funnel q42 is the relational cousin; this is the
    * API face, over the events table. */
  // ---------------------------------------------------------------- d232
  /** EQL `until` — the sequence expiry clause: an `error` occurrence
    * kills in-progress view→click partials for the key, so a purchase
    * completing after the error matches only if a FRESH view→click pair
    * formed after it. One more carried window column (`_uts` last-before
    * expiry timestamp) on the same `by`-key shuffle as the step carries —
    * the plan stays one partitioning, window passes = steps + 1. */
  private def d232(s: SparkSession, d: String): DataFrame = {
    val q =
      """sequence by user_id with maxspan=72h
        |  [ event where event_type == "view" ]
        |  [ event where event_type == "click" ]
        |  [ event where event_type == "purchase" ]
        |  until [ event where event_type == "error" ]""".stripMargin
    Eql.run(graft.Tables.events(s, d), q)
  }

  private val d232Sql = {
    def lastBefore(x: String) =
      s"""last_value($x IGNORE NULLS) OVER (PARTITION BY user_id
         |      ORDER BY tsu, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin
    ("""WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu FROM events
      |  WHERE event_type IN ('view', 'click', 'purchase', 'error')),
      |a0 AS (SELECT *,
      |    CASE WHEN event_type = 'error' THEN tsu END AS _uts,
      |    CASE WHEN event_type = 'view'
      |    THEN struct_pack(ts1 := tsu) END AS _a0 FROM e),
      |p1 AS (SELECT *, """ + lastBefore("_a0") + """ AS _p1,
      |    """ + lastBefore("_uts") + """ AS _u1 FROM a0),
      |a1 AS (SELECT *, CASE WHEN event_type = 'click' AND _p1 IS NOT NULL
      |    AND (_u1 IS NULL OR _u1 < (_p1).ts1)
      |    THEN struct_pack(ts1 := (_p1).ts1, ts2 := tsu) END AS _a1 FROM p1),
      |p2 AS (SELECT *, """ + lastBefore("_a1") + """ AS _p2,
      |    """ + lastBefore("_uts") + """ AS _u2 FROM a1),
      |a2 AS (SELECT *, CASE WHEN event_type = 'purchase' AND _p2 IS NOT NULL
      |    AND (_u2 IS NULL OR _u2 < (_p2).ts2)
      |    THEN struct_pack(ts1 := (_p2).ts1, ts2 := (_p2).ts2, ts3 := tsu)
      |    END AS _a2 FROM p2)
      |SELECT user_id, (_a2).ts1 AS t1_us, (_a2).ts2 AS t2_us, (_a2).ts3 AS t3_us,
      |  (_a2).ts3 - (_a2).ts1 AS span_us
      |FROM a2
      |WHERE _a2 IS NOT NULL AND (_a2).ts3 - (_a2).ts1 <= 259200000000
      |ORDER BY user_id, t1_us, t2_us, t3_us""").stripMargin
  }

  // ---------------------------------------------------------------- d233
  /** EQL single-event query + result pipes (`Eql.runEvent`): a category
    * filter, a full boolean condition (and/or/parens), and the `tail n`
    * pipe — the most recent n matches re-emitted in EQL's canonical
    * ascending order. The plan is the pushed filter + ONE bounded
    * TakeOrderedAndProject heap on the reversed sort (never a full
    * sort): 15 rows of driver state out of any corpus size. */
  private def d233(s: SparkSession, d: String): DataFrame = {
    val q =
      """purchase where value >= 150 and (user_id < 40 or user_id >= 120)
        || tail 15""".stripMargin
    Eql.runEvent(graft.Tables.events(s, d), q)
  }

  private val d233Sql =
    """SELECT * FROM (
      |  SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
      |  FROM events
      |  WHERE event_type = 'purchase' AND value >= 150
      |    AND (user_id < 40 OR user_id >= 120)
      |  ORDER BY ts_us DESC, event_id DESC LIMIT 15)
      |ORDER BY ts_us, event_id""".stripMargin

  // ---------------------------------------------------------------- d234
  /** EQL `sample by` (`Eql.runSample`): keys with ≥1 occurrence of every
    * step query, one representative event per step. DOCUMENTED DEVIATION
    * (Eql.scala): ES returns up to 10 arbitrary tuples per key; the
    * engine returns the deterministic earliest-per-step tuple. ONE hash
    * aggregation (conditional mins + a HAVING), no joins/windows — the
    * flat 100 TB shape. */
  private def d234(s: SparkSession, d: String): DataFrame = {
    val q =
      """sample by user_id
        |  [ event where event_type == "signup" ]
        |  [ event where event_type == "purchase" ]
        |  [ event where event_type == "error" ]""".stripMargin
    Eql.runSample(graft.Tables.events(s, d), q)
  }

  private val d234Sql =
    """SELECT user_id,
      |  MIN(epoch_us(ts)) FILTER (event_type = 'signup') AS t1_us,
      |  MIN(epoch_us(ts)) FILTER (event_type = 'purchase') AS t2_us,
      |  MIN(epoch_us(ts)) FILTER (event_type = 'error') AS t3_us
      |FROM events WHERE event_type IN ('signup', 'purchase', 'error')
      |GROUP BY user_id
      |HAVING t1_us IS NOT NULL AND t2_us IS NOT NULL AND t3_us IS NOT NULL
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- d235
  /** ES|QL full-text `MATCH(field, "query")` in WHERE (8.16) — the match
    * query as a piped-language predicate. The query string analyzes at
    * plan-build time, the field row-side through the same codegen'd
    * analyzer chain, and the OR-of-terms predicate (ES match's default
    * operator) is a plain pushed filter feeding ONE hash aggregation —
    * full-text filtering without leaving the single Catalyst plan. */
  private def d235(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM documents
        || WHERE MATCH(text, "vector windows") AND n_chars > 200
        || STATS n = COUNT(*), chars = SUM(n_chars) BY lang
        || SORT lang""".stripMargin
    Esql.run(Map("documents" ->
      s.read.parquet(s"$d/documents.parquet")), q)
  }

  private val d235Sql = {
    val an = graft.ext.TextAnalysis.analyzeSql("text")
    s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(n_chars) AS BIGINT) AS chars
       |FROM documents
       |WHERE list_has_any($an, ['vector', 'window']) AND n_chars > 200
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------- d236
  /** ES|QL `TS` + `RATE` (8.16 METRICS mode) — the time-series counter
    * rate: per (series, bucket) the Σ-positive-deltas-per-second
    * (counter resets restart from the new value), then an outer MAX/MIN/
    * COUNT across series per bucket. Compiled to one lag-window pass +
    * TWO hash aggs, the window and stage A sharing one (series ∪ BY)
    * partitioning (Esql.scala TS STATS); deltas ride the exact-decimal
    * contract so the oracle replays bit-for-bit. DOCUMENTED DEVIATION:
    * the series key is named with `ON` (parquet has no ES
    * time_series_dimension mapping metadata). */
  private def d236(s: SparkSession, d: String): DataFrame = {
    val q =
      """TS events ON user_id
        || WHERE event_type == "purchase"
        || STATS peak = MAX(RATE(value)), low = MIN(RATE(value)),
        |    n_series = COUNT(RATE(value)) BY day = DATE_TRUNC("day", ts_us)
        || SORT day""".stripMargin
    Esql.run(Map("events" ->
      graft.Tables.events(s, d).select("event_id", "ts_us", "user_id",
        "event_type", "value")), q)
  }

  private val d236Sql =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS tsu, value,
      |    epoch_us(date_trunc('day', ts)) AS day
      |  FROM events WHERE event_type = 'purchase'),
      |l AS (
      |  SELECT *, lag(value) OVER (
      |    PARTITION BY user_id, day ORDER BY tsu, value) AS prev FROM e),
      |r AS (
      |  -- single-sample series: rate is NULL (undefined), but the series
      |  -- row SURVIVES so its day still emits a group (STATS BY emits a
      |  -- row per group with input rows; n_series then counts 0)
      |  SELECT user_id, day,
      |    CASE WHEN MAX(tsu) > MIN(tsu) THEN
      |      CAST(CAST(SUM(CAST(CASE WHEN prev IS NULL THEN 0.0
      |          WHEN value >= prev THEN value - prev ELSE value END
      |        AS DECIMAL(12,2))) AS DECIMAL(28,6)) AS DOUBLE) * 1000000.0
      |        / CAST(MAX(tsu) - MIN(tsu) AS DOUBLE) END AS rate
      |  FROM l GROUP BY 1, 2)
      |SELECT day, MAX(rate) AS peak, MIN(rate) AS low,
      |  CAST(COUNT(rate) AS BIGINT) AS n_series
      |FROM r GROUP BY day ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- d237
  /** EQL `with runs=N` step repetition (8.0): `[view] with runs=2
    * [purchase]` means view→view→purchase. The parser expands runs to N
    * step copies BEFORE compilation (Eql.scala StepRe), so the engine
    * runs the identical per-key window-carry plan as an explicit 3-step
    * sequence — the oracle is literally the 3-step SQL. */
  private def d237(s: SparkSession, d: String): DataFrame = {
    val q =
      """sequence by user_id with maxspan=72h
        |  [ event where event_type == "view" ] with runs=2
        |  [ event where event_type == "purchase" ]""".stripMargin
    Eql.run(graft.Tables.events(s, d), q)
  }

  private val d237Sql = {
    def lastBefore(x: String) =
      s"""last_value($x IGNORE NULLS) OVER (PARTITION BY user_id
         |      ORDER BY tsu, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin
    ("""WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu FROM events
      |  WHERE event_type IN ('view', 'purchase')),
      |a0 AS (SELECT *, CASE WHEN event_type = 'view'
      |    THEN struct_pack(ts1 := tsu) END AS _a0 FROM e),
      |p1 AS (SELECT *, """ + lastBefore("_a0") + """ AS _p1 FROM a0),
      |a1 AS (SELECT *, CASE WHEN event_type = 'view' AND _p1 IS NOT NULL
      |    THEN struct_pack(ts1 := (_p1).ts1, ts2 := tsu) END AS _a1 FROM p1),
      |p2 AS (SELECT *, """ + lastBefore("_a1") + """ AS _p2 FROM a1),
      |a2 AS (SELECT *, CASE WHEN event_type = 'purchase' AND _p2 IS NOT NULL
      |    THEN struct_pack(ts1 := (_p2).ts1, ts2 := (_p2).ts2, ts3 := tsu)
      |    END AS _a2 FROM p2)
      |SELECT user_id, (_a2).ts1 AS t1_us, (_a2).ts2 AS t2_us, (_a2).ts3 AS t3_us,
      |  (_a2).ts3 - (_a2).ts1 AS span_us
      |FROM a2
      |WHERE _a2 IS NOT NULL AND (_a2).ts3 - (_a2).ts1 <= 259200000000
      |ORDER BY user_id, t1_us, t2_us, t3_us""").stripMargin
  }

  // ---------------------------------------------------------------- d247
  /** ES SQL (`_sql`) — aggregate path. The SQL translates source-to-source
    * into an ES|QL pipe (EsSql.scala) and runs through the ONE compiled
    * backend: analyzed MATCH() reaches the scan as a pushed boolean
    * filter, GROUP BY is one hash agg, HAVING a post-agg filter on the
    * aliased outputs, ORDER BY + LIMIT a bounded TakeOrderedAndProject.
    * COUNT(DISTINCT source) maps to ES|QL COUNT_DISTINCT (exact). */
  private def d247(s: SparkSession, d: String): DataFrame = {
    val q =
      """SELECT lang AS language, COUNT(*) AS n, SUM(n_chars) AS chars,
        |       COUNT(DISTINCT source) AS srcs
        |FROM documents
        |WHERE MATCH(text, 'vector windows') AND n_chars > 200
        |GROUP BY lang
        |HAVING n > 1
        |ORDER BY n DESC, language ASC
        |LIMIT 10""".stripMargin
    EsSql.run(Map("documents" ->
      s.read.parquet(s"$d/documents.parquet")), q)
  }

  private val d247Sql = {
    val an = graft.ext.TextAnalysis.analyzeSql("text")
    s"""SELECT lang AS language, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(n_chars) AS BIGINT) AS chars,
       |  CAST(COUNT(DISTINCT source) AS BIGINT) AS srcs
       |FROM documents
       |WHERE list_has_any($an, ['vector', 'window']) AND n_chars > 200
       |GROUP BY lang HAVING COUNT(*) > 1
       |ORDER BY n DESC, language LIMIT 10""".stripMargin
  }

  // ---------------------------------------------------------------- d248
  /** ES SQL `HISTOGRAM(col, interval)` group key — ES SQL's fixed-interval
    * bucketing, identical math to ES|QL `BUCKET` (floor(x/span)*span), so
    * the translation emits a computed BY key and the bucketing stays
    * INSIDE the single hash aggregation. SUM over doubles rides the
    * engine's exact-decimal contract (decimal(12,2) partials) so totals
    * are bit-exact against the oracle. */
  private def d248(s: SparkSession, d: String): DataFrame = {
    val q =
      """SELECT HISTOGRAM(o_totalprice, 50000) AS bucket, COUNT(*) AS n,
        |       SUM(o_totalprice) AS total
        |FROM orders
        |WHERE o_orderstatus = 'F'
        |GROUP BY HISTOGRAM(o_totalprice, 50000)
        |ORDER BY bucket ASC""".stripMargin
    EsSql.run(Map("orders" -> graft.Tables(s, d, "orders")), q)
  }

  private val d248Sql =
    """SELECT FLOOR(o_totalprice / 50000) * 50000 AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(28,6))
      |    AS DOUBLE) AS total
      |FROM orders WHERE o_orderstatus = 'F'
      |GROUP BY 1 ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- d249
  /** ES SQL row path (no GROUP BY): aliased/computed select items become
    * one EVAL projection, KEEP restores select order, SQL LIKE wildcards
    * (% _) convert to ES|QL's (* ?) inside the translator — the whole
    * statement is a single projected, filtered, bounded-top-k scan with
    * the LIKE and range predicates pushed below the projection. */
  private def d249(s: SparkSession, d: String): DataFrame = {
    val q =
      """SELECT o_orderkey, o_custkey AS cust, o_totalprice / 1000 AS price_k
        |FROM orders
        |WHERE o_orderpriority LIKE '%URGENT' AND o_totalprice > 100000
        |ORDER BY price_k DESC, o_orderkey ASC
        |LIMIT 25""".stripMargin
    EsSql.run(Map("orders" -> graft.Tables(s, d, "orders")), q)
  }

  private val d249Sql =
    """SELECT o_orderkey, o_custkey AS cust, o_totalprice / 1000 AS price_k
      |FROM orders
      |WHERE o_orderpriority LIKE '%URGENT' AND o_totalprice > 100000
      |ORDER BY price_k DESC, o_orderkey LIMIT 25""".stripMargin

  // ---------------------------------------------------------------- d250
  /** ES SQL `SELECT *` — the first query every SQL user types. Schema
    * expansion, not a new execution path: the translator expands `*` into
    * an explicit KEEP list from the registered source schema, so column
    * pruning, pushdown and the oracle's column naming all see named
    * columns. ORDER BY + LIMIT keeps it one bounded top-k scan. */
  private def d250(s: SparkSession, d: String): DataFrame = {
    val q =
      """SELECT * FROM documents
        |WHERE n_chars > 400 ORDER BY doc_id ASC LIMIT 20""".stripMargin
    EsSql.run(Map("documents" ->
      s.read.parquet(s"$d/documents.parquet")), q)
  }

  private val d250Sql =
    """SELECT doc_id, text, lang, source, n_chars FROM documents
      |WHERE n_chars > 400 ORDER BY doc_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- d251
  /** ES|QL `METADATA _score` (8.18's scoring surface, what Kibana's ES|QL
    * mode sorts hits by): `_score` seeds 0 at the source, every WHERE
    * containing full-text MATCH() ADDS its matched-term count, and the
    * result is a plain column SORT/KEEP compile over. DOCUMENTED
    * DEVIATION: integer matched-term-count relevance, not BM25 floats —
    * the engine's one score design (Query DSL d23, ES SQL SCORE()), exact
    * in any engine so the oracle replays it bit-for-bit. Plan: pushed
    * scan filter + one projection + bounded TakeOrderedAndProject. */
  private def d251(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM documents METADATA _score
        || WHERE MATCH(text, "vector windows") AND n_chars > 150
        || SORT _score DESC, doc_id ASC
        || LIMIT 25
        || KEEP doc_id, lang, _score""".stripMargin
    Esql.run(Map("documents" ->
      s.read.parquet(s"$d/documents.parquet")), q)
  }

  private val d251Sql = {
    val an = graft.ext.TextAnalysis.analyzeSql("text")
    val score = graft.ext.TextAnalysis.analyzeQuery("vector windows")
      .map(t => s"CASE WHEN list_contains($an, '$t') THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""SELECT doc_id, lang, CAST($score AS BIGINT) AS _score
       |FROM documents
       |WHERE list_has_any($an, ['vector', 'window']) AND n_chars > 150
       |ORDER BY _score DESC, doc_id LIMIT 25""".stripMargin
  }

  // ---------------------------------------------------------------- d252
  /** ES SQL `SCORE()` — rewritten by the translator to the `_score`
    * metadata column (`FROM idx METADATA _score`), so SQL relevance rides
    * the exact ES|QL machinery of d251: one WHERE accumulates the
    * matched-term count, SCORE() selects it, ORDER BY SCORE() sorts it.
    * No second scoring path exists to drift. */
  private def d252(s: SparkSession, d: String): DataFrame = {
    val q =
      """SELECT doc_id, SCORE() AS sc FROM documents
        |WHERE MATCH(text, 'vector windows') AND n_chars > 300
        |ORDER BY sc DESC, doc_id ASC LIMIT 30""".stripMargin
    EsSql.run(Map("documents" ->
      s.read.parquet(s"$d/documents.parquet")), q)
  }

  private val d252Sql = {
    val an = graft.ext.TextAnalysis.analyzeSql("text")
    val score = graft.ext.TextAnalysis.analyzeQuery("vector windows")
      .map(t => s"CASE WHEN list_contains($an, '$t') THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""SELECT doc_id, CAST($score AS BIGINT) AS sc
       |FROM documents
       |WHERE list_has_any($an, ['vector', 'window']) AND n_chars > 300
       |ORDER BY sc DESC, doc_id LIMIT 30""".stripMargin
  }

  // ---------------------------------------------------------------- d253
  /** ES SQL `OFFSET` — the `from` half of ES's from/size paging. OFFSET
    * requires ORDER BY (a page of an unordered result is meaningless) and
    * never reaches the pipe: `LIMIT n OFFSET m` bounds the sort at n+m
    * rows — still ONE TakeOrderedAndProject — and the driver-side result
    * drops the first m. ORDER BY here sorts on a NON-selected column
    * (n_chars), exercising the row path's deferred KEEP. */
  private def d253(s: SparkSession, d: String): DataFrame = {
    val q =
      """SELECT doc_id, lang FROM documents
        |WHERE n_chars > 250
        |ORDER BY n_chars DESC, doc_id ASC LIMIT 15 OFFSET 30""".stripMargin
    EsSql.run(Map("documents" ->
      s.read.parquet(s"$d/documents.parquet")), q)
  }

  private val d253Sql =
    """SELECT doc_id, lang FROM documents
      |WHERE n_chars > 250
      |ORDER BY n_chars DESC, doc_id LIMIT 15 OFFSET 30""".stripMargin

  // ---------------------------------------------------------------- d264
  /** ES SQL date extract scalars + GROUP BY / ORDER BY ordinals — what
    * real Kibana-generated statements carry (r13 verdict's breadth probe):
    * YEAR/DAY_OF_WEEK/HOUR/DAY_OF_MONTH/QUARTER rewrite source-to-source
    * onto ES|QL `DATE_EXTRACT` parts (ISO day-of-week, Monday = 1;
    * QUARTER = (month+2) DIV 3 via TO_LONG∘FLOOR), and `GROUP BY 1, 2, 3`
    * / `ORDER BY 2, 3` resolve as 1-based SELECT item references. Still
    * ONE hash aggregation with the extracts as computed BY keys; SUM over
    * doubles rides the exact-decimal contract. */
  private def d264(s: SparkSession, d: String): DataFrame = {
    val q =
      """SELECT YEAR(ts_us) AS y, DAY_OF_WEEK(ts_us) AS dow,
        |       HOUR(ts_us) AS h, COUNT(*) AS n, SUM(value) AS total
        |FROM events
        |WHERE DAY_OF_MONTH(ts_us) >= 5 AND DAY_OF_MONTH(ts_us) <= 25
        |  AND QUARTER(ts_us) = 1
        |GROUP BY 1, 2, 3
        |ORDER BY 2 ASC, 3 ASC
        |LIMIT 50""".stripMargin
    EsSql.run(Map("events" -> graft.Tables.events(s, d).drop("ts")), q)
  }

  private val d264Sql =
    """SELECT CAST(EXTRACT(year FROM ts) AS BIGINT) AS y,
      |  CAST(isodow(ts) AS BIGINT) AS dow,
      |  CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(28,6))
      |    AS DOUBLE) AS total
      |FROM events
      |WHERE EXTRACT(day FROM ts) >= 5 AND EXTRACT(day FROM ts) <= 25
      |  AND quarter(ts) = 1
      |GROUP BY 1, 2, 3 ORDER BY dow, h LIMIT 50""".stripMargin

  // ---------------------------------------------------------------- d265
  /** ES SQL HAVING on aggregate CALLS — selected or not (the other half
    * of the breadth probe; Kibana emits `HAVING COUNT(*) > n` freely).
    * Each aggregate call in HAVING lifts into the single STATS: COUNT(*)
    * lands on its SELECTed alias `n`; COUNT(DISTINCT user_id) and
    * SUM(value) become synthetic `_hN` entries the final KEEP drops; the
    * compound `SUM(value) / COUNT(*) > 49` is plain post-agg arithmetic
    * over those columns. One hash aggregation, one post-agg filter. */
  private def d265(s: SparkSession, d: String): DataFrame = {
    val q =
      """SELECT event_type, COUNT(*) AS n
        |FROM events
        |GROUP BY event_type
        |HAVING COUNT(*) > 1000 AND COUNT(DISTINCT user_id) >= 150
        |   AND SUM(value) / COUNT(*) > 49
        |ORDER BY n DESC, event_type ASC""".stripMargin
    EsSql.run(Map("events" -> graft.Tables.events(s, d).drop("ts")), q)
  }

  private val d265Sql =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      |FROM events
      |GROUP BY event_type
      |HAVING COUNT(*) > 1000 AND COUNT(DISTINCT user_id) >= 150
      |  AND CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(28,6))
      |    AS DOUBLE) / COUNT(*) > 49
      |ORDER BY n DESC, event_type ASC""".stripMargin

  // ---------------------------------------------------------------- d266
  /** ES SQL `CASE WHEN` — both dialect forms, rewritten source-to-source
    * onto ES|QL's variadic `CASE(c1, v1, ..., default)` function: the
    * searched form maps conditions 1:1, the simple form
    * (`CASE lang WHEN 'en' ...`) rewrites each branch to
    * `(operand) = (value)`. Used as GROUP BY keys (via ordinals) the
    * CASEs become computed BY keys inside the ONE hash aggregation —
    * banding never adds a pass over the data. */
  private def d266(s: SparkSession, d: String): DataFrame = {
    val q =
      """SELECT CASE WHEN n_chars >= 400 THEN 'long'
        |            WHEN n_chars >= 150 THEN 'mid'
        |            ELSE 'short' END AS band,
        |       CASE lang WHEN 'en' THEN 'english' ELSE 'other' END AS family,
        |       COUNT(*) AS n, SUM(n_chars) AS chars
        |FROM documents
        |GROUP BY 1, 2
        |ORDER BY n DESC, band ASC, family ASC""".stripMargin
    EsSql.run(Map("documents" ->
      s.read.parquet(s"$d/documents.parquet")), q)
  }

  private val d266Sql =
    """SELECT CASE WHEN n_chars >= 400 THEN 'long'
      |            WHEN n_chars >= 150 THEN 'mid'
      |            ELSE 'short' END AS band,
      |  CASE lang WHEN 'en' THEN 'english' ELSE 'other' END AS family,
      |  CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
      |FROM documents
      |GROUP BY 1, 2
      |ORDER BY n DESC, band ASC, family ASC""".stripMargin

  // ---------------------------------------------------------------- d267
  /** ES SQL `NOT IN` / `NOT LIKE` — postfix negations rewritten to the
    * prefix-NOT forms ES|QL parses (`NOT x IN (...)`); the LIKE pattern
    * rides the same %→* / _→? wildcard map as plain LIKE. Both land in
    * the pipe's WHERE, i.e. ONE pushed scan filter — negation never
    * becomes an anti-join. */
  private def d267(s: SparkSession, d: String): DataFrame = {
    val q =
      """SELECT doc_id, lang, source
        |FROM documents
        |WHERE lang NOT IN ('zh', 'de') AND source NOT LIKE 'src1%'
        |  AND n_chars BETWEEN 100 AND 500
        |ORDER BY doc_id ASC
        |LIMIT 40""".stripMargin
    EsSql.run(Map("documents" ->
      s.read.parquet(s"$d/documents.parquet")), q)
  }

  private val d267Sql =
    """SELECT doc_id, lang, source
      |FROM documents
      |WHERE lang NOT IN ('zh', 'de') AND source NOT LIKE 'src1%'
      |  AND n_chars BETWEEN 100 AND 500
      |ORDER BY doc_id ASC
      |LIMIT 40""".stripMargin

  // ---------------------------------------------------------------- d268
  /** ES SQL conditional scalars — `NULLIF` (→ null-when-equal CASE),
    * `IIF` (→ variadic CASE), `IFNULL` (→ COALESCE), plus `DATE_TRUNC`
    * riding through on its shared (unit, ts) signature. The canonical
    * NULLIF use — a divide-by-zero guard — stays a pure per-row
    * projection: no branch ever becomes a filter+union. */
  private def d268(s: SparkSession, d: String): DataFrame = {
    val q =
      """SELECT event_id,
        |       value / NULLIF(user_id % 7, 0) AS unit_value,
        |       IIF(value >= 50, 'high', 'low') AS tier,
        |       IFNULL(NULLIF(event_type, 'view'), 'was-view') AS etype
        |FROM events
        |WHERE DATE_TRUNC('month', ts_us) = DATE_TRUNC('quarter', ts_us)
        |ORDER BY event_id ASC
        |LIMIT 60""".stripMargin
    EsSql.run(Map("events" -> graft.Tables.events(s, d).drop("ts")), q)
  }

  private val d268Sql =
    """SELECT event_id,
      |  value / NULLIF(user_id % 7, 0) AS unit_value,
      |  CASE WHEN value >= 50 THEN 'high' ELSE 'low' END AS tier,
      |  COALESCE(NULLIF(event_type, 'view'), 'was-view') AS etype
      |FROM events
      |WHERE DATE_TRUNC('month', ts) = DATE_TRUNC('quarter', ts)
      |ORDER BY event_id ASC
      |LIMIT 60""".stripMargin

  // ---------------------------------------------------------------- d272
  /** ES SQL `||` string concat — rewritten to ES|QL `CONCAT` (chains
    * left-fold; arithmetic neighbors reject rather than silently picking
    * a dialect's precedence). Pure per-row projection; the filter still
    * reaches the scan. */
  private def d272(s: SparkSession, d: String): DataFrame = {
    val q =
      """SELECT doc_id, lang || ':' || source AS tag,
        |       UCASE(lang) || '-' || CAST(n_chars AS VARCHAR) AS label
        |FROM documents
        |WHERE n_chars > 300
        |ORDER BY doc_id ASC
        |LIMIT 50""".stripMargin
    EsSql.run(Map("documents" ->
      s.read.parquet(s"$d/documents.parquet")), q)
  }

  private val d272Sql =
    """SELECT doc_id, lang || ':' || source AS tag,
      |  UPPER(lang) || '-' || CAST(n_chars AS VARCHAR) AS label
      |FROM documents
      |WHERE n_chars > 300
      |ORDER BY doc_id ASC
      |LIMIT 50""".stripMargin

  // ---------------------------------------------------------------- d273
  /** ES SQL `ORDER BY ... NULLS FIRST` — the explicit null-placement
    * form rides through to ES|QL's SORT (without it the engine applies
    * ES|QL's direction-dependent default, nulls LAST on ASC — so the
    * explicit FIRST here is load-bearing: DuckDB's ASC default is also
    * nulls last, making the oracle disagree if the modifier were
    * dropped). Nulls are synthesized per-row with NULLIF; sorting stays
    * one bounded TakeOrderedAndProject. */
  private def d273(s: SparkSession, d: String): DataFrame = {
    val q =
      """SELECT doc_id, NULLIF(lang, 'en') AS lx
        |FROM documents
        |WHERE n_chars > 350
        |ORDER BY lx ASC NULLS FIRST, doc_id ASC
        |LIMIT 60""".stripMargin
    EsSql.run(Map("documents" ->
      s.read.parquet(s"$d/documents.parquet")), q)
  }

  private val d273Sql =
    """SELECT doc_id, NULLIF(lang, 'en') AS lx
      |FROM documents
      |WHERE n_chars > 350
      |ORDER BY lx ASC NULLS FIRST, doc_id ASC
      |LIMIT 60""".stripMargin

  // ---------------------------------------------------------------- d257
  /** EQL EVERY-PARTIAL-MATCH mode — the complement of the engine's
    * default last-prefix matching (closing the documented deviation):
    * every monotone view < click < purchase chain per user within
    * maxspan, the version-stable "all chains" semantics. Each extension
    * is a bin-bucketed interval join (the q28 shape) on (user, anchor
    * bin) equi-keys — never a per-key cross product alone, never
    * NestedLoop. The oracle is the literal 3-way self-join. */
  private def d257(s: SparkSession, d: String): DataFrame = {
    val q =
      """sequence by user_id with maxspan=24h
        |  [ event where event_type == "view" ]
        |  [ event where event_type == "click" ]
        |  [ event where event_type == "purchase" ]""".stripMargin
    Eql.runAllMatches(graft.Tables.events(s, d), q)
  }

  private val d257Sql =
    // succession mirrors the engine's row-strict (ts, event_id) order —
    // equal-timestamp events chain by id
    """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu
      |           FROM events)
      |SELECT e1.user_id AS user_id, e1.tsu AS t1_us, e2.tsu AS t2_us,
      |  e3.tsu AS t3_us, e3.tsu - e1.tsu AS span_us
      |FROM e e1
      |JOIN e e2 ON e1.user_id = e2.user_id
      |  AND e1.event_type = 'view' AND e2.event_type = 'click'
      |  AND (e2.tsu > e1.tsu OR (e2.tsu = e1.tsu AND e2.event_id > e1.event_id))
      |  AND e2.tsu - e1.tsu <= 86400000000
      |JOIN e e3 ON e2.user_id = e3.user_id AND e3.event_type = 'purchase'
      |  AND (e3.tsu > e2.tsu OR (e3.tsu = e2.tsu AND e3.event_id > e2.event_id))
      |  AND e3.tsu - e1.tsu <= 86400000000
      |ORDER BY e1.user_id, t1_us, t2_us, t3_us""".stripMargin

  // ---------------------------------------------------------------- d258
  /** ES|QL `FUSE` (9.1) — hybrid-retrieval score fusion: two FORK search
    * legs over the same corpus merge by doc_id with a reciprocal-rank-
    * fusion `_score` (Σ 1/(60 + rank-in-branch)). Branch rank is pinned
    * to (_score DESC, key ASC) — deterministic, oracle-replayable
    * (documented deviation from ES's transport result order). The plan is
    * one shared scan, a Union, and two hash-partitioned windows (by
    * _fork, by key) — no join, no cross product, scale-safe. */
  private def d258(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM documents METADATA _score
        || FORK (WHERE MATCH(text, "vector windows") AND n_chars > 250)
        |       (WHERE MATCH(text, "hash join"))
        || FUSE KEY BY doc_id
        || KEEP doc_id, _score
        || SORT _score DESC, doc_id ASC
        || LIMIT 40""".stripMargin
    Esql.run(Map("documents" ->
      s.read.parquet(s"$d/documents.parquet")), q)
  }

  private val d258Sql = {
    val an = graft.ext.TextAnalysis.analyzeSql("text")
    def sc(query: String) = graft.ext.TextAnalysis.analyzeQuery(query)
      .map(t => s"CASE WHEN list_contains($an, '$t') THEN 1 ELSE 0 END")
      .mkString(" + ")
    def anyTok(query: String) = graft.ext.TextAnalysis.analyzeQuery(query)
      .map(t => s"'$t'").mkString("list_has_any(" + an + ", [", ", ", "])")
    // RRF of two ranked legs: identical 1/(60+rank) doubles on both
    // engines (two-term IEEE sums are order-independent → hash-exact)
    s"""WITH b1 AS (
       |  SELECT doc_id, ${sc("vector windows")} AS sc FROM documents
       |  WHERE ${anyTok("vector windows")} AND n_chars > 250),
       |r1 AS (SELECT doc_id,
       |  ROW_NUMBER() OVER (ORDER BY sc DESC, doc_id ASC) AS rk FROM b1),
       |b2 AS (
       |  SELECT doc_id, ${sc("hash join")} AS sc FROM documents
       |  WHERE ${anyTok("hash join")}),
       |r2 AS (SELECT doc_id,
       |  ROW_NUMBER() OVER (ORDER BY sc DESC, doc_id ASC) AS rk FROM b2),
       |u AS (SELECT doc_id, 1.0::DOUBLE / (60 + rk) AS c FROM r1
       |      UNION ALL
       |      SELECT doc_id, 1.0::DOUBLE / (60 + rk) AS c FROM r2)
       |SELECT doc_id, SUM(c) AS _score FROM u GROUP BY doc_id
       |ORDER BY _score DESC, doc_id LIMIT 40""".stripMargin
  }

  // ---------------------------------------------------------------- d259
  /** Query DSL `similarity=bm25` — the engine-level analogue of ES's
    * per-index similarity setting, closing the biggest documented ES
    * deviation (real ES ranks every `match` by BM25; the engine default
    * is satisfied-clause counts, d23). The `should` match clause scores
    * each hit with the fixed-point BM25 of its terms ([[Bm25]]: integer,
    * oracle-exact INCLUDING the ranking); index-level stats (N, avgdl,
    * df) come from the unfiltered corpus in one bounded-driver aggregate.
    * BM25's length normalization makes this ordering provably different
    * from term-count ordering: a term hit in a SHORT document outranks
    * the same hit in a long one (Bm25Spec pins a literal case). */
  private def d259(s: SparkSession, d: String): DataFrame = {
    val flat = s.read.parquet(s"$d/documents.parquet")
    val docs = flat.select(struct(
      col("doc_id").cast("string").as("objectId"),
      col("text"), col("lang"), col("n_chars")).as("doc"))
    val body =
      """{"query": {"bool": {
        |   "should": [{"match": {"text": "vector merge window"}}],
        |   "filter": [{"range": {"n_chars": {"gte": 150}}}]}},
        | "_source": ["objectId"], "size": 25}""".stripMargin
    // statsKey: stats ride the standing per-(corpus, field) parquet
    // stats table (Bm25.standing) — built once per session, after which
    // this query's ONLY corpus scan is its own hit scan
    SearchExec.search(docs, "doc", body,
      docs.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType],
      similarity = "bm25", statsKey = Some(s"dsl:$d"))
  }

  private val d259Sql = {
    // whitespace analyzer (SearchOps.tokenMatch): lower + split on \s+
    val terms = Seq("vector", "merge", "window")
    def tf(t: String) = s"len(list_filter(ts, x -> x = '$t'))"
    val score = terms.zipWithIndex.map { case (t, i) =>
      graft.docs.Bm25.oracleTermSql(tf(t), "dl", "n", s"df$i", "a100")
    }.mkString(" + ")
    val dfs = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(SUM(CASE WHEN list_contains(ts, '$t') THEN 1 ELSE 0 END) AS BIGINT) AS df$i"
    }.mkString(", ")
    // COALESCE mirrors the engine's all-null-corpus guard (Bm25.stats
    // keeps avgdl100 at 0 when every token array is null; a bare SUM
    // would go NULL here and null every score — ADVICE r13)
    s"""WITH an AS (SELECT CAST(doc_id AS VARCHAR) AS oid, n_chars,
       |    regexp_split_to_array(lower(text), '\\s+') AS ts FROM documents),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST((100 * COALESCE(SUM(len(ts)), 0)) // COUNT(*) AS BIGINT) AS a100, $dfs FROM an),
       |sc AS (SELECT oid, CAST($score AS BIGINT) AS score
       |       FROM (SELECT oid, ts, len(ts) AS dl FROM an WHERE n_chars >= 150)
       |       CROSS JOIN st)
       |SELECT rn, score, oid AS "objectId" FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, oid ASC) AS rn FROM sc)
       |WHERE rn <= 25 ORDER BY rn""".stripMargin
  }

  // ---------------------------------------------------------------- d260
  /** ES|QL `scoreMode=bm25` — METADATA _score under BM25: each MATCH in
    * WHERE adds the fixed-point BM25 of its analyzed terms (full analyzer
    * chain, [[graft.ext.TextAnalysis]]) instead of the matched-term
    * count. Stats are index-level (captured at FROM, before the WHERE
    * filters — the ES semantic); the score stays a LONG so the DuckDB
    * twin reproduces rank order bit-exactly. */
  private def d260(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM documents METADATA _score
        || WHERE MATCH(text, "vector windows merge") AND n_chars > 200
        || KEEP doc_id, _score
        || SORT _score DESC, doc_id ASC
        || LIMIT 30""".stripMargin
    Esql.run(Map("documents" ->
      s.read.parquet(s"$d/documents.parquet")), q, scoreMode = "bm25",
      statsKey = Some(s"esql:$d"))
  }

  private val d260Sql = {
    val an = graft.ext.TextAnalysis.analyzeSql("text")
    val terms = graft.ext.TextAnalysis.analyzeQuery("vector windows merge")
    def tf(t: String) = s"len(list_filter(ts, x -> x = '$t'))"
    val score = terms.zipWithIndex.map { case (t, i) =>
      graft.docs.Bm25.oracleTermSql(tf(t), "dl", "n", s"df$i", "a100")
    }.mkString(" + ")
    val dfs = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(SUM(CASE WHEN list_contains(ts, '$t') THEN 1 ELSE 0 END) AS BIGINT) AS df$i"
    }.mkString(", ")
    val anyTok = terms.map(t => s"'$t'")
      .mkString("list_has_any(ts, [", ", ", "])")
    s"""WITH an AS (SELECT doc_id, n_chars, $an AS ts FROM documents),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST((100 * COALESCE(SUM(len(ts)), 0)) // COUNT(*) AS BIGINT) AS a100, $dfs FROM an),
       |hits AS (SELECT doc_id, ts, len(ts) AS dl FROM an
       |         WHERE $anyTok AND n_chars > 200)
       |SELECT doc_id, CAST($score AS BIGINT) AS _score
       |FROM hits CROSS JOIN st
       |ORDER BY _score DESC, doc_id LIMIT 30""".stripMargin
  }

  // ---------------------------------------------------------------- d263
  /** `rescore` under `similarity=bm25` — the r13 verdict's sharpest
    * remaining ES-fidelity edge: rescore exists to re-rank a top window
    * with a better scorer, so a bm25 index must score the rescore query
    * with BM25 too (SearchExec's rescore path now runs the SAME
    * fixed-point scorer over the bounded window; stats from the
    * unfiltered index via the standing stats table). Combined score =
    * qw·first_pass_bm25 + rqw·rescore_bm25 (double arithmetic over exact
    * integers — bit-reproducible), re-sorted within the 40-row window.
    * Bm25Spec pins a case where this order differs from both the boolean
    * rescore order and the un-rescored bm25 order. */
  private def d263(s: SparkSession, d: String): DataFrame = {
    val flat = s.read.parquet(s"$d/documents.parquet")
    val docs = flat.select(struct(
      col("doc_id").cast("string").as("objectId"),
      col("text"), col("lang"), col("n_chars")).as("doc"))
    val body =
      """{"query": {"bool": {
        |   "should": [{"match": {"text": "vector merge window"}}],
        |   "filter": [{"range": {"n_chars": {"gte": 150}}}]}},
        | "rescore": {
        |   "window_size": 40,
        |   "query": {
        |     "rescore_query": {"bool": {"should": [
        |       {"match": {"text": "spark sort"}}]}},
        |     "query_weight": 1,
        |     "rescore_query_weight": 3}},
        | "_source": ["objectId"], "size": 15}""".stripMargin
    SearchExec.search(docs, "doc", body,
      docs.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType],
      similarity = "bm25", statsKey = Some(s"dsl:$d"))
  }

  private val d263Sql = {
    val first = Seq("vector", "merge", "window")
    val resc = Seq("spark", "sort")
    val all = first ++ resc
    def tf(t: String) = s"len(list_filter(ts, x -> x = '$t'))"
    def scoreOf(terms: Seq[String]) = terms.map { t =>
      graft.docs.Bm25.oracleTermSql(tf(t), "dl", "n", s"df_$t", "a100")
    }.mkString(" + ")
    val dfs = all.map { t =>
      s"CAST(SUM(CASE WHEN list_contains(ts, '$t') THEN 1 ELSE 0 END) AS BIGINT) AS df_$t"
    }.mkString(", ")
    val rmatch = resc.map(t => s"list_contains(ts, '$t')").mkString(" OR ")
    s"""WITH an AS (SELECT CAST(doc_id AS VARCHAR) AS oid, n_chars,
       |    regexp_split_to_array(lower(text), '\\s+') AS ts FROM documents),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST((100 * COALESCE(SUM(len(ts)), 0)) // COUNT(*) AS BIGINT) AS a100,
       |    $dfs FROM an),
       |sc AS (SELECT oid, ts, dl, CAST(${scoreOf(first)} AS BIGINT) AS fscore,
       |         CAST(${scoreOf(resc)} AS BIGINT) AS rscore, ($rmatch) AS rm
       |       FROM (SELECT oid, ts, len(ts) AS dl FROM an WHERE n_chars >= 150)
       |       CROSS JOIN st),
       |w AS (SELECT *, ROW_NUMBER() OVER (ORDER BY fscore DESC, oid ASC) AS wr
       |      FROM sc),
       |re AS (SELECT oid,
       |         1.0 * CAST(fscore AS DOUBLE) + CASE WHEN rm
       |           THEN 3.0 * CAST(rscore AS DOUBLE) ELSE 0.0 END AS score
       |       FROM w WHERE wr <= 40)
       |SELECT rn, score, oid AS "objectId" FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, oid ASC) AS rn FROM re)
       |WHERE rn <= 15 ORDER BY rn""".stripMargin
  }

  // ---------------------------------------------------------------- d269
  /** `function_score` under `similarity=bm25` — closing the r13 v1 bound:
    * the should-match base is the fixed-point BM25 sum, and the function
    * algebra (score_mode sum of matching weights, boost_mode multiply)
    * folds over it through the SAME [[SearchQuery.scoreCol]] path as
    * boolean mode. IEEE double × exact integers — the oracle reproduces
    * the combined score bit-for-bit. Stats via the standing per-(corpus,
    * field) table: no extra corpus scan beyond the hit scan. */
  private def d269(s: SparkSession, d: String): DataFrame = {
    val flat = s.read.parquet(s"$d/documents.parquet")
    val docs = flat.select(struct(
      col("doc_id").cast("string").as("objectId"),
      col("text"), col("lang"), col("n_chars")).as("doc"))
    val body =
      """{"query": {"function_score": {
        |   "query": {"bool": {
        |     "should": [{"match": {"text": "vector merge window"}}],
        |     "filter": [{"range": {"n_chars": {"gte": 150}}}]}},
        |   "functions": [
        |     {"filter": {"term": {"lang": "en"}}, "weight": 3},
        |     {"filter": {"range": {"n_chars": {"gte": 400}}}, "weight": 0.5}
        |   ],
        |   "score_mode": "sum", "boost_mode": "multiply"}},
        | "sort": [{"_score": "desc"}, {"objectId": "asc"}],
        | "size": 25, "_source": ["objectId"]}""".stripMargin
    SearchExec.search(docs, "doc", body,
      docs.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType],
      similarity = "bm25", statsKey = Some(s"dsl:$d"))
  }

  private val d269Sql = {
    val terms = Seq("vector", "merge", "window")
    def tf(t: String) = s"len(list_filter(ts, x -> x = '$t'))"
    val score = terms.zipWithIndex.map { case (t, i) =>
      graft.docs.Bm25.oracleTermSql(tf(t), "dl", "n", s"df$i", "a100")
    }.mkString(" + ")
    val dfs = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(SUM(CASE WHEN list_contains(ts, '$t') THEN 1 ELSE 0 END) AS BIGINT) AS df$i"
    }.mkString(", ")
    s"""WITH an AS (SELECT CAST(doc_id AS VARCHAR) AS oid, lang, n_chars,
       |    regexp_split_to_array(lower(text), '\\s+') AS ts FROM documents),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST((100 * COALESCE(SUM(len(ts)), 0)) // COUNT(*) AS BIGINT) AS a100, $dfs FROM an),
       |sc AS (SELECT oid, lang, n_chars, CAST($score AS BIGINT) AS b
       |       FROM (SELECT oid, lang, n_chars, ts, len(ts) AS dl FROM an
       |             WHERE n_chars >= 150)
       |       CROSS JOIN st),
       |fs AS (SELECT oid, CASE WHEN lang = 'en' OR n_chars >= 400
       |         THEN CAST(b AS DOUBLE) * ((CASE WHEN lang = 'en' THEN 3.0 ELSE 0.0 END)
       |              + (CASE WHEN n_chars >= 400 THEN 0.5 ELSE 0.0 END))
       |         ELSE CAST(b AS DOUBLE) END AS score FROM sc)
       |SELECT rn, score, oid AS "objectId" FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, oid ASC) AS rn FROM fs)
       |WHERE rn <= 25 ORDER BY rn""".stripMargin
  }

  // ---------------------------------------------------------------- d270
  /** `pinned` under `similarity=bm25` — curated ids rank first in list
    * order on a 10¹⁵ ladder rung (the boolean 10⁹ rung stops dominating
    * fixed-point BM25 sums near 10⁸ docs; see [[SearchQuery.scoreCol]]),
    * organic hits keep their bm25 relevance. Pinned docs match regardless
    * of the organic filter — the hit predicate is ids ∪ organic, one
    * pushed scan filter. */
  private def d270(s: SparkSession, d: String): DataFrame = {
    val flat = s.read.parquet(s"$d/documents.parquet")
    val docs = flat.select(struct(
      col("doc_id").cast("string").as("objectId"),
      col("text"), col("lang"), col("n_chars")).as("doc"))
    val body =
      """{"query": {"pinned": {
        |   "ids": ["17", "3", "41"],
        |   "organic": {"bool": {
        |     "should": [{"match": {"text": "vector merge window"}}],
        |     "filter": [{"range": {"n_chars": {"gte": 150}}}]}}}},
        | "sort": [{"_score": "desc"}, {"objectId": "asc"}],
        | "size": 20, "_source": ["objectId"]}""".stripMargin
    SearchExec.search(docs, "doc", body,
      docs.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType],
      similarity = "bm25", statsKey = Some(s"dsl:$d"))
  }

  private val d270Sql = {
    val terms = Seq("vector", "merge", "window")
    def tf(t: String) = s"len(list_filter(ts, x -> x = '$t'))"
    val score = terms.zipWithIndex.map { case (t, i) =>
      graft.docs.Bm25.oracleTermSql(tf(t), "dl", "n", s"df$i", "a100")
    }.mkString(" + ")
    val dfs = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(SUM(CASE WHEN list_contains(ts, '$t') THEN 1 ELSE 0 END) AS BIGINT) AS df$i"
    }.mkString(", ")
    s"""WITH an AS (SELECT CAST(doc_id AS VARCHAR) AS oid, n_chars,
       |    regexp_split_to_array(lower(text), '\\s+') AS ts FROM documents),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST((100 * COALESCE(SUM(len(ts)), 0)) // COUNT(*) AS BIGINT) AS a100, $dfs FROM an),
       |sc AS (SELECT oid, CAST(CASE oid
       |         WHEN '17' THEN 1000000000000002
       |         WHEN '3'  THEN 1000000000000001
       |         WHEN '41' THEN 1000000000000000
       |         ELSE $score END AS BIGINT) AS score
       |       FROM (SELECT oid, ts, len(ts) AS dl FROM an
       |             WHERE n_chars >= 150 OR oid IN ('17', '3', '41'))
       |       CROSS JOIN st)
       |SELECT rn, score, oid AS "objectId" FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, oid ASC) AS rn FROM sc)
       |WHERE rn <= 20 ORDER BY rn""".stripMargin
  }

  // ---------------------------------------------------------------- d271
  /** `script_score` under `similarity=bm25` — `_score` inside the script
    * reads the fixed-point BM25 base (cast to double), so a bm25 index
    * re-shapes relevance exactly as ES does: the script REPLACES the
    * score, relevance feeds it. sqrt is IEEE-correctly-rounded, so the
    * double expression is bit-identical in the oracle. */
  private def d271(s: SparkSession, d: String): DataFrame = {
    val flat = s.read.parquet(s"$d/documents.parquet")
    val docs = flat.select(struct(
      col("doc_id").cast("string").as("objectId"),
      col("text"), col("lang"), col("n_chars")).as("doc"))
    val body =
      """{"query": {"script_score": {
        |   "query": {"bool": {
        |     "should": [{"match": {"text": "vector merge window"}}],
        |     "filter": [{"range": {"n_chars": {"gte": 150}}}]}},
        |   "script": {"source":
        |     "_score / 10 + Math.sqrt(doc['n_chars'].value)"}}},
        | "sort": [{"_score": "desc"}, {"objectId": "asc"}],
        | "size": 25, "_source": ["objectId"]}""".stripMargin
    SearchExec.search(docs, "doc", body,
      docs.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType],
      similarity = "bm25", statsKey = Some(s"dsl:$d"))
  }

  private val d271Sql = {
    val terms = Seq("vector", "merge", "window")
    def tf(t: String) = s"len(list_filter(ts, x -> x = '$t'))"
    val score = terms.zipWithIndex.map { case (t, i) =>
      graft.docs.Bm25.oracleTermSql(tf(t), "dl", "n", s"df$i", "a100")
    }.mkString(" + ")
    val dfs = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(SUM(CASE WHEN list_contains(ts, '$t') THEN 1 ELSE 0 END) AS BIGINT) AS df$i"
    }.mkString(", ")
    s"""WITH an AS (SELECT CAST(doc_id AS VARCHAR) AS oid, n_chars,
       |    regexp_split_to_array(lower(text), '\\s+') AS ts FROM documents),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST((100 * COALESCE(SUM(len(ts)), 0)) // COUNT(*) AS BIGINT) AS a100, $dfs FROM an),
       |sc AS (SELECT oid,
       |         CAST($score AS DOUBLE) / 10 + sqrt(CAST(n_chars AS DOUBLE)) AS score
       |       FROM (SELECT oid, n_chars, ts, len(ts) AS dl FROM an
       |             WHERE n_chars >= 150)
       |       CROSS JOIN st)
       |SELECT rn, score, oid AS "objectId" FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, oid ASC) AS rn FROM sc)
       |WHERE rn <= 25 ORDER BY rn""".stripMargin
  }

  // ---------------------------------------------------------------- d276
  /** `must`-clause BM25 — the r14 verdict's top fidelity gap: ES sums the
    * score of EVERY scoring-context clause, and `must: {match: …}` is the
    * most common Kibana composition, but bm25 mode used to score only
    * shoulds (must kept the 1-point satisfied score). Now the must match
    * contributes its per-document BM25 alongside the should's; both
    * clauses are on one field, so their terms pool into ONE stats fetch
    * (the standing table at 100 TB). Bm25Spec pins a corpus where the
    * must-scored order provably differs from should-only order. */
  private def d276(s: SparkSession, d: String): DataFrame = {
    val flat = s.read.parquet(s"$d/documents.parquet")
    val docs = flat.select(struct(
      col("doc_id").cast("string").as("objectId"),
      col("text"), col("lang"), col("n_chars")).as("doc"))
    val body =
      """{"query": {"bool": {
        |   "must": [{"match": {"text": "vector merge window"}}],
        |   "should": [{"match": {"text": "spark sort"}}],
        |   "filter": [{"range": {"n_chars": {"gte": 150}}}]}},
        | "_source": ["objectId"], "size": 25}""".stripMargin
    SearchExec.search(docs, "doc", body,
      docs.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType],
      similarity = "bm25", statsKey = Some(s"dsl:$d"))
  }

  private val d276Sql = {
    // score = bm25(must terms) + bm25(should terms), one field → the
    // five terms share one stats scope; hit set = must ∧ filter (the
    // should never filters when a must is present, msm = 0)
    val terms = Seq("vector", "merge", "window", "spark", "sort")
    def tf(t: String) = s"len(list_filter(ts, x -> x = '$t'))"
    val score = terms.zipWithIndex.map { case (t, i) =>
      graft.docs.Bm25.oracleTermSql(tf(t), "dl", "n", s"df$i", "a100")
    }.mkString(" + ")
    val dfs = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(SUM(CASE WHEN list_contains(ts, '$t') THEN 1 ELSE 0 END) AS BIGINT) AS df$i"
    }.mkString(", ")
    s"""WITH an AS (SELECT CAST(doc_id AS VARCHAR) AS oid, n_chars,
       |    regexp_split_to_array(lower(text), '\\s+') AS ts FROM documents),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST((100 * COALESCE(SUM(len(ts)), 0)) // COUNT(*) AS BIGINT) AS a100, $dfs FROM an),
       |sc AS (SELECT oid, CAST($score AS BIGINT) AS score
       |       FROM (SELECT oid, ts, len(ts) AS dl FROM an
       |             WHERE list_has_any(ts, ['vector', 'merge', 'window'])
       |               AND n_chars >= 150)
       |       CROSS JOIN st)
       |SELECT rn, score, oid AS "objectId" FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, oid ASC) AS rn FROM sc)
       |WHERE rn <= 25 ORDER BY rn""".stripMargin
  }

  // ---------------------------------------------------------------- d277
  /** `multi_match` (best_fields) under `similarity=bm25` — in ES this IS
    * a DisjunctionMaxQuery: the clause scores max over per-field BM25,
    * not a sum (the [[SearchQuery.DisMax]] node carries the intent the
    * Or desugar erased). Two fields → two bounded stats fetches (one
    * standing table per (corpus, field)); a bare multi_match body is
    * promoted to its own relevance like a bare match. */
  private def d277(s: SparkSession, d: String): DataFrame = {
    val flat = s.read.parquet(s"$d/documents.parquet")
    val docs = flat.select(struct(
      col("doc_id").cast("string").as("objectId"),
      col("text"), col("lang"), col("n_chars")).as("doc"))
    val body =
      """{"query": {"multi_match": {
        |   "query": "en merge", "fields": ["text", "lang"]}},
        | "_source": ["objectId"], "size": 25}""".stripMargin
    SearchExec.search(docs, "doc", body,
      docs.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType],
      similarity = "bm25", statsKey = Some(s"dsl:$d"))
  }

  private val d277Sql = {
    val terms = Seq("en", "merge")
    def tf(f: String, t: String) = s"len(list_filter($f, x -> x = '$t'))"
    def leg(f: String, dl: String, a: String, dfp: String) =
      terms.zipWithIndex.map { case (t, i) =>
        graft.docs.Bm25.oracleTermSql(tf(f, t), dl, "n", s"$dfp$i", a)
      }.mkString(" + ")
    def dfs(f: String, dfp: String) = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(SUM(CASE WHEN list_contains($f, '$t') THEN 1 ELSE 0 END) AS BIGINT) AS $dfp$i"
    }.mkString(", ")
    s"""WITH an AS (SELECT CAST(doc_id AS VARCHAR) AS oid,
       |    regexp_split_to_array(lower(text), '\\s+') AS ts,
       |    regexp_split_to_array(lower(lang), '\\s+') AS ls FROM documents),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST((100 * COALESCE(SUM(len(ts)), 0)) // COUNT(*) AS BIGINT) AS a100,
       |    CAST((100 * COALESCE(SUM(len(ls)), 0)) // COUNT(*) AS BIGINT) AS al100,
       |    ${dfs("ts", "dft")}, ${dfs("ls", "dfl")} FROM an),
       |sc AS (SELECT oid, GREATEST(
       |         CAST(${leg("ts", "dl", "a100", "dft")} AS BIGINT),
       |         CAST(${leg("ls", "ll", "al100", "dfl")} AS BIGINT)) AS score
       |       FROM (SELECT oid, ts, ls, len(ts) AS dl, len(ls) AS ll FROM an
       |             WHERE list_has_any(ts, ['en', 'merge'])
       |                OR list_has_any(ls, ['en', 'merge']))
       |       CROSS JOIN st)
       |SELECT rn, score, oid AS "objectId" FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, oid ASC) AS rn FROM sc)
       |WHERE rn <= 25 ORDER BY rn""".stripMargin
  }

  // ---------------------------------------------------------------- d278
  /** `dis_max` with `tie_breaker` under `similarity=bm25` — score =
    * max(leg scores) + tie_breaker·(sum − max), floored in fixed point
    * (ES's DisjunctionMaxQuery fold; integer arithmetic keeps the
    * ranking oracle-exact). Match-desugar legs score BM25 (their terms
    * pool into one stats scope per field); the `term` leg keeps its
    * 1-point constant — mixing constant-score legs under dis_max is
    * exactly ES's behavior for non-text legs. */
  private def d278(s: SparkSession, d: String): DataFrame = {
    val flat = s.read.parquet(s"$d/documents.parquet")
    val docs = flat.select(struct(
      col("doc_id").cast("string").as("objectId"),
      col("text"), col("lang"), col("n_chars")).as("doc"))
    val body =
      """{"query": {"dis_max": {
        |   "queries": [{"match": {"text": "vector merge"}},
        |               {"match": {"text": "window sort"}},
        |               {"term": {"lang": "en"}}],
        |   "tie_breaker": 0.3}},
        | "_source": ["objectId"], "size": 30}""".stripMargin
    SearchExec.search(docs, "doc", body,
      docs.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType],
      similarity = "bm25", statsKey = Some(s"dsl:$d"))
  }

  private val d278Sql = {
    val all = Seq("vector", "merge", "window", "sort")
    def tf(t: String) = s"len(list_filter(ts, x -> x = '$t'))"
    def leg(ts: Seq[String]) = ts.map { t =>
      val i = all.indexOf(t)
      graft.docs.Bm25.oracleTermSql(tf(t), "dl", "n", s"df$i", "a100")
    }.mkString(" + ")
    val dfs = all.zipWithIndex.map { case (t, i) =>
      s"CAST(SUM(CASE WHEN list_contains(ts, '$t') THEN 1 ELSE 0 END) AS BIGINT) AS df$i"
    }.mkString(", ")
    // legs are non-negative, so FLOOR matches the engine's double→long
    // truncation of the tie_breaker product
    s"""WITH an AS (SELECT CAST(doc_id AS VARCHAR) AS oid, lang,
       |    regexp_split_to_array(lower(text), '\\s+') AS ts FROM documents),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST((100 * COALESCE(SUM(len(ts)), 0)) // COUNT(*) AS BIGINT) AS a100, $dfs FROM an),
       |legs AS (SELECT oid,
       |         CAST(${leg(Seq("vector", "merge"))} AS BIGINT) AS s1,
       |         CAST(${leg(Seq("window", "sort"))} AS BIGINT) AS s2,
       |         CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS s3
       |       FROM (SELECT oid, lang, ts, len(ts) AS dl FROM an
       |             WHERE list_has_any(ts, ['vector', 'merge'])
       |                OR list_has_any(ts, ['window', 'sort'])
       |                OR lang = 'en')
       |       CROSS JOIN st),
       |sc AS (SELECT oid, GREATEST(s1, s2, s3) +
       |         CAST(FLOOR(0.3 * CAST(s1 + s2 + s3 - GREATEST(s1, s2, s3) AS DOUBLE)) AS BIGINT) AS score
       |       FROM legs)
       |SELECT rn, score, oid AS "objectId" FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, oid ASC) AS rn FROM sc)
       |WHERE rn <= 30 ORDER BY rn""".stripMargin
  }

  // ---------------------------------------------------------------- d286
  /** `multi_match` `type` variants (r15 verdict gap #1): `most_fields`
    * sums the per-field scores — lowered as DisMax with tie_breaker 1,
    * since max + 1·(sum − max) IS the sum — and `phrase` runs
    * `match_phrase` per field, DisMax-composed (both are how ES compiles
    * them). All SIX types are served as of r16: `cross_fields` via the
    * combined_fields desugar for hits (r18: scored term-centric BLENDED
    * under bm25 — d291), `bool_prefix` as per-field match_bool_prefix legs and
    * `phrase_prefix` as per-field match_phrase_prefix legs — each pinned
    * by DocEngineSpec's multi_match-types tests. This gate exercises
    * most_fields + phrase in ONE bool body under bm25: per field, ALL
    * clauses' terms still pool into a single stats fetch (standing table
    * at 100 TB). */
  private def d286(s: SparkSession, d: String): DataFrame = {
    val flat = s.read.parquet(s"$d/documents.parquet")
    val docs = flat.select(struct(
      col("doc_id").cast("string").as("objectId"),
      col("text"), col("lang"), col("n_chars")).as("doc"))
    val body =
      """{"query": {"bool": {"should": [
        |   {"multi_match": {"query": "en merge", "fields": ["text", "lang"],
        |                    "type": "most_fields"}},
        |   {"multi_match": {"query": "fast merge", "fields": ["text", "lang"],
        |                    "type": "phrase"}}]}},
        | "_source": ["objectId"], "size": 30}""".stripMargin
    SearchExec.search(docs, "doc", body,
      docs.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType],
      similarity = "bm25", statsKey = Some(s"dsl:$d"))
  }

  private val d286Sql = {
    // most_fields = SUM of per-field BM25 legs; phrase = MAX over
    // per-field POSITIONAL phrase legs (r18): each leg is one
    // PhraseQuery pseudo-term — tfp from that field's token array,
    // idf = Σ term idfs — gated on the consecutive-tokens predicate
    val terms = Seq("en", "merge", "fast")
    def tf(f: String, t: String) = s"len(list_filter($f, x -> x = '$t'))"
    def term(f: String, t: String, dl: String, a: String, dfp: String) =
      graft.docs.Bm25.oracleTermSql(tf(f, t), dl, "n", s"$dfp${terms.indexOf(t)}", a)
    def dfs(f: String, dfp: String) = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(SUM(CASE WHEN list_contains($f, '$t') THEN 1 ELSE 0 END) AS BIGINT) AS $dfp$i"
    }.mkString(", ")
    def ph(raw: String) =
      s"contains(' ' || regexp_replace(trim(lower($raw)), '\\s+', ' ', 'g') || ' ', ' fast merge ')"
    // phrase legs: "fast merge" = terms(2), terms(1) → idf (n−df2)+(n−df1)
    def phrScore(f: String, dl: String, a: String, dfp: String) =
      graft.docs.Bm25.oraclePhraseSql(
        graft.docs.Bm25.oraclePhraseFreqSql(f, Seq("fast", "merge")),
        dl, s"(n - ${dfp}2) + (n - ${dfp}1)", a)
    s"""WITH an AS (SELECT CAST(doc_id AS VARCHAR) AS oid, text, lang,
       |    regexp_split_to_array(lower(text), '\\s+') AS ts,
       |    regexp_split_to_array(lower(lang), '\\s+') AS ls FROM documents),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST((100 * COALESCE(SUM(len(ts)), 0)) // COUNT(*) AS BIGINT) AS a100,
       |    CAST((100 * COALESCE(SUM(len(ls)), 0)) // COUNT(*) AS BIGINT) AS al100,
       |    ${dfs("ts", "dft")}, ${dfs("ls", "dfl")} FROM an),
       |legs AS (SELECT oid,
       |    CAST(${term("ts", "en", "dl", "a100", "dft")}
       |       + ${term("ts", "merge", "dl", "a100", "dft")} AS BIGINT) AS t_em,
       |    CAST(${term("ls", "en", "ll", "al100", "dfl")}
       |       + ${term("ls", "merge", "ll", "al100", "dfl")} AS BIGINT) AS l_em,
       |    CAST(${phrScore("ts", "dl", "a100", "dft")} AS BIGINT) AS t_fm,
       |    CAST(${phrScore("ls", "ll", "al100", "dfl")} AS BIGINT) AS l_fm,
       |    ${ph("text")} AS ph_t, ${ph("lang")} AS ph_l
       |  FROM (SELECT oid, text, lang, ts, ls, len(ts) AS dl, len(ls) AS ll
       |        FROM an
       |        WHERE list_has_any(ts, ['en', 'merge'])
       |           OR list_has_any(ls, ['en', 'merge'])
       |           OR ${ph("text")} OR ${ph("lang")})
       |  CROSS JOIN st),
       |sc AS (SELECT oid, (t_em + l_em) + GREATEST(
       |         CASE WHEN ph_t THEN t_fm ELSE 0 END,
       |         CASE WHEN ph_l THEN l_fm ELSE 0 END) AS score FROM legs)
       |SELECT rn, score, oid AS "objectId" FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, oid ASC) AS rn FROM sc)
       |WHERE rn <= 30 ORDER BY rn""".stripMargin
  }

  // ---------------------------------------------------------------- d287
  /** `match_phrase` under `similarity=bm25` — POSITIONAL as of r18
    * (closing the r17 ledger's phraseFreq deviation): an exact phrase
    * scores as ONE Lucene PhraseQuery pseudo-term — tf is the PHRASE
    * frequency (consecutive-position count over the analyzed token
    * array; the sf0.01 corpus has a document with 2 occurrences of
    * "fast merge", so the gate exercises tf = 2 ≠ tf = 1 ordering) and
    * idf is the SUM of the terms' integer idfs, through the same
    * fixed-point scorer ([[graft.docs.Bm25.withPhraseScore]]). Slop
    * phrases keep the terms-sum form (sloppyFreq is non-integer —
    * documented deviation). Here the phrase is a MUST (every hit
    * scores it) beside an ungated should match; the phrase's terms
    * still pool with the match's into one text-stats fetch. */
  private def d287(s: SparkSession, d: String): DataFrame = {
    val flat = s.read.parquet(s"$d/documents.parquet")
    val docs = flat.select(struct(
      col("doc_id").cast("string").as("objectId"),
      col("text"), col("lang"), col("n_chars")).as("doc"))
    val body =
      """{"query": {"bool": {
        |   "must": [{"match_phrase": {"text": "fast merge"}}],
        |   "should": [{"match": {"text": "spark"}}],
        |   "filter": [{"range": {"n_chars": {"gte": 120}}}]}},
        | "_source": ["objectId"], "size": 25}""".stripMargin
    SearchExec.search(docs, "doc", body,
      docs.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType],
      similarity = "bm25", statsKey = Some(s"dsl:$d"))
  }

  private val d287Sql = {
    val terms = Seq("fast", "merge", "spark")
    def tf(t: String) = s"len(list_filter(ts, x -> x = '$t'))"
    val dfs = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(SUM(CASE WHEN list_contains(ts, '$t') THEN 1 ELSE 0 END) AS BIGINT) AS df$i"
    }.mkString(", ")
    // the must-phrase scores positionally: tfp = consecutive-position
    // count, idf = (n − df_fast) + (n − df_merge); its predicate gate is
    // identically true on the hit set. The should's term scores ungated.
    val tfp = graft.docs.Bm25.oraclePhraseFreqSql("ts", Seq("fast", "merge"))
    val phrase = graft.docs.Bm25.oraclePhraseSql(
      "tfp", "dl", "(n - df0) + (n - df1)", "a100")
    val spark2 = graft.docs.Bm25.oracleTermSql(tf("spark"), "dl", "n", "df2", "a100")
    s"""WITH an AS (SELECT CAST(doc_id AS VARCHAR) AS oid, text, n_chars,
       |    regexp_split_to_array(lower(text), '\\s+') AS ts FROM documents),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST((100 * COALESCE(SUM(len(ts)), 0)) // COUNT(*) AS BIGINT) AS a100, $dfs FROM an),
       |sc AS (SELECT oid,
       |    CAST($phrase + $spark2 AS BIGINT) AS score
       |  FROM (SELECT oid, ts, len(ts) AS dl, $tfp AS tfp FROM an
       |        WHERE contains(' ' || regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')
       |                || ' ', ' fast merge ')
       |          AND n_chars >= 120)
       |  CROSS JOIN st)
       |SELECT rn, score, oid AS "objectId" FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, oid ASC) AS rn FROM sc)
       |WHERE rn <= 25 ORDER BY rn""".stripMargin
  }

  // ---------------------------------------------------------------- d290
  /** ES|QL `MV_PSERIES_WEIGHTED_SUM` (8.16) — Σ v[k]/k^p over each
    * row's multivalue in LIST ORDER (k 1-based): the rank-decay fold
    * behind RRF-style relevance. One sequential indexed fold per row
    * (zip_with + aggregate — never an explode); p = 1 and p = 2 pin the
    * gate with EXACT weights (pow(k,1)=k and pow(k,2)=k² are exact in
    * binary FP, so both engines divide by identical doubles; the
    * arbitrary-p path differs only in the weight literal). */
  private def d290(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM embeddings
        || WHERE vec_id % 11 == 0
        || EVAL w1 = MV_PSERIES_WEIGHTED_SUM(embedding, 1),
        |       w2 = MV_PSERIES_WEIGHTED_SUM(embedding, 2)
        || KEEP vec_id, label, w1, w2
        || SORT vec_id ASC""".stripMargin
    Esql.run(Map("embeddings" -> graft.Tables(s, d, "embeddings")), q)
  }

  private val d290Sql =
    """WITH e AS (SELECT vec_id, label, embedding
      |           FROM embeddings WHERE vec_id % 11 = 0),
      |u AS (SELECT vec_id, unnest(embedding) AS v,
      |             generate_subscripts(embedding, 1) AS k FROM e),
      |s AS (SELECT vec_id,
      |        SUM(CAST(v AS DOUBLE) / k) AS w1,
      |        SUM(CAST(v AS DOUBLE) / (CAST(k AS DOUBLE) * k)) AS w2
      |      FROM u GROUP BY vec_id)
      |SELECT e.vec_id, e.label, s.w1, s.w2
      |-- LEFT join: a NULL/empty multivalue unnests to zero rows, so an
      |-- inner join would DROP the row while the engine keeps it with
      |-- NULL w1/w2 (MV_PSERIES_WEIGHTED_SUM's when(n>0,...).otherwise
      |-- (null) contract) — the twin must reproduce kept-row-with-null
      |-- if the embeddings fixture ever grows empty/null multivalues
      |FROM e LEFT JOIN s USING (vec_id)
      |ORDER BY vec_id ASC""".stripMargin

  // ---------------------------------------------------------------- d289
  /** `match_phrase_prefix` (r16) — the autocomplete query: analyzed
    * tokens consecutive, the LAST a PREFIX of its doc token. One regex
    * find over the normalized joined-token string (shared with
    * phraseMatch), pushdown-neutral but single-scan. `max_expansions`
    * is accepted as exact-unbounded: ES's bound truncates the inverted
    * index's prefix expansion list, an index artifact a scan engine has
    * no analogue of — matches are a superset, never fewer (documented
    * deviation, spec-pinned). */
  private def d289(s: SparkSession, d: String): DataFrame = {
    val flat = s.read.parquet(s"$d/documents.parquet")
    val docs = flat.select(struct(
      col("doc_id").cast("string").as("objectId"),
      col("text"), col("n_chars")).as("doc"))
    val body =
      """{"query": {"bool": {
        |   "must": [{"match_phrase_prefix": {"text": "fast mer"}}],
        |   "filter": [{"range": {"n_chars": {"gte": 100}}}]}}}""".stripMargin
    val ast = SearchQuery.fromJson(body,
      docs.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType])
    docs.filter(SearchQuery.compile(ast, col("doc")))
      .select(col("doc.objectId").as("object_id"),
        col("doc.n_chars").as("n_chars"))
      .orderBy(col("object_id"))
  }

  private val d289Sql =
    """SELECT CAST(doc_id AS VARCHAR) AS object_id, n_chars
      |FROM documents
      |WHERE regexp_matches(' ' || regexp_replace(trim(lower(text)), '\s+', ' ', 'g')
      |        || ' ', ' fast mer[^ ]* ')
      |  AND n_chars >= 100
      |ORDER BY object_id""".stripMargin

  // ---------------------------------------------------------------- d291
  /** `multi_match` `type: cross_fields` under `similarity=bm25` with
    * TERM-CENTRIC BLENDED statistics (r18, closing the r17 ledger's
    * cross_fields scoring deviation — Lucene BlendedTermQuery semantics,
    * [[graft.docs.SearchQuery.CrossFields]]): per term, df blends as the
    * MAX across the fields — "en" is ubiquitous in `lang`, so its
    * blended idf collapses even for `text` hits (the term-centric
    * signature move: a term can't borrow a low-df field's private idf);
    * each field leg scores the blended-df fixed point against its own
    * tf/dl/avgdl; per term the legs fold max + tie_breaker·(sum − max)
    * (0.25 here — exactly representable, so the floored fold is
    * bit-identical in both engines); the score is the sum over terms.
    * Hits stay the combined_fields desugar (every token in ≥ 1 field). */
  private def d291(s: SparkSession, d: String): DataFrame = {
    val flat = s.read.parquet(s"$d/documents.parquet")
    val docs = flat.select(struct(
      col("doc_id").cast("string").as("objectId"),
      col("text"), col("lang"), col("n_chars")).as("doc"))
    val body =
      """{"query": {"multi_match": {"query": "en fast",
        |   "fields": ["text", "lang"], "type": "cross_fields",
        |   "operator": "and", "tie_breaker": 0.25}},
        | "_source": ["objectId"], "size": 30}""".stripMargin
    SearchExec.search(docs, "doc", body,
      docs.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType],
      similarity = "bm25", statsKey = Some(s"dsl:$d"))
  }

  private val d291Sql = {
    val terms = Seq("en", "fast")
    def tf(f: String, t: String) = s"len(list_filter($f, x -> x = '$t'))"
    def dfs(f: String, dfp: String) = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(SUM(CASE WHEN list_contains($f, '$t') THEN 1 ELSE 0 END) AS BIGINT) AS $dfp$i"
    }.mkString(", ")
    // per term i: blended df = GREATEST(dft_i, dfl_i); each leg scores
    // with the blended df against its own field's tf/dl/avgdl; fold
    // max + floor(0.25·(sum − max)) — 0.25·k is exact, floor = the
    // engine's non-negative double→long cast
    def leg(i: Int, f: String, dl: String, a: String) =
      graft.docs.Bm25.oracleTermSql(
        tf(f, terms(i)), dl, "n", s"GREATEST(dft$i, dfl$i)", a)
    def term(i: Int) =
      s"""(GREATEST(tl$i, ll$i)
         | + CAST(FLOOR(0.25 * (tl$i + ll$i - GREATEST(tl$i, ll$i))) AS BIGINT))"""
        .stripMargin.replace('\n', ' ')
    s"""WITH an AS (SELECT CAST(doc_id AS VARCHAR) AS oid,
       |    regexp_split_to_array(lower(text), '\\s+') AS ts,
       |    regexp_split_to_array(lower(lang), '\\s+') AS ls FROM documents),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST((100 * COALESCE(SUM(len(ts)), 0)) // COUNT(*) AS BIGINT) AS a100,
       |    CAST((100 * COALESCE(SUM(len(ls)), 0)) // COUNT(*) AS BIGINT) AS al100,
       |    ${dfs("ts", "dft")}, ${dfs("ls", "dfl")} FROM an),
       |legs AS (SELECT oid,
       |    CAST(${leg(0, "ts", "dl", "a100")} AS BIGINT) AS tl0,
       |    CAST(${leg(0, "ls", "ll", "al100")} AS BIGINT) AS ll0,
       |    CAST(${leg(1, "ts", "dl", "a100")} AS BIGINT) AS tl1,
       |    CAST(${leg(1, "ls", "ll", "al100")} AS BIGINT) AS ll1
       |  FROM (SELECT oid, ts, ls, len(ts) AS dl, len(ls) AS ll FROM an
       |        WHERE (list_contains(ts, 'en') OR list_contains(ls, 'en'))
       |          AND (list_contains(ts, 'fast') OR list_contains(ls, 'fast')))
       |  CROSS JOIN st),
       |sc AS (SELECT oid, ${term(0)} + ${term(1)} AS score FROM legs)
       |SELECT rn, score, oid AS "objectId" FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, oid ASC) AS rn FROM sc)
       |WHERE rn <= 30 ORDER BY rn""".stripMargin
  }

  // ---------------------------------------------------------------- d292
  /** ES|QL `WHERE KNN(field, [query vector…], k)` served from the s15
    * STANDING IVF index (r18, closing the r17 named reject — its "there
    * is no index" rationale fell when s15 landed). The lowering
    * ([[Esql]] knnWhere → [[graft.ext.Similarity.knnProbe]]): route the
    * query vector to its nearest coarse centroid (bounded driver work),
    * scan ONLY that cell's parquet partition (partition-pruned read —
    * EsqlSpec pins the PartitionFilters reach the scan), top-k by
    * (cosine DESC, id ASC), broadcast-semi-join the ids back into the
    * pipe; `_score` (METADATA) adds the cosine. The oracle replays the
    * IVF serving CONTRACT verbatim (the s2/s3 precedent for approximate
    * paths): full assignment, the query's one cell, top-k within it —
    * so the gate pins the index path bit-for-bit, and EsqlSpec pins
    * recall against brute force separately. The query vector is exact
    * eighths (multiples of 0.125), so its text round-trips bit-exactly
    * into both engines. */
  private val d292Qv: Seq[Double] =
    (0 until 64).map(i => ((i * 37) % 19 - 9) / 8.0)
  private def d292(s: SparkSession, d: String): DataFrame = {
    val q =
      s"""FROM embeddings METADATA _score
         || WHERE KNN(embedding, [${d292Qv.mkString(", ")}], 7)
         || KEEP vec_id, label, _score
         || SORT _score DESC, vec_id ASC""".stripMargin
    Esql.run(Map("embeddings" -> graft.Tables(s, d, "embeddings")), q,
      annDir = Some(d))
  }

  private val d292Sql = {
    import graft.ext.Similarity.{dotSql, VecsSql, PanelBound}
    val qvLit = d292Qv.mkString("[", ", ", "]")
    s"""WITH vecs AS ($VecsSql),
       |q AS (SELECT qv, sqrt(${dotSql("qv", "qv")}) AS qn
       |      FROM (SELECT CAST($qvLit AS DOUBLE[]) AS qv)),
       |cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM vecs
       |          WHERE vec_id % 97 = 0 AND vec_id < $PanelBound),
       |assign AS (
       |  SELECT vec_id, v, nrm, c_id AS cell FROM (
       |    SELECT vec_id, v, nrm, c_id,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id
       |        ORDER BY ${dotSql("v", "cv")} / (nrm * cn) DESC, c_id) AS rn
       |    FROM vecs CROSS JOIN cents) WHERE rn = 1),
       |best AS (SELECT c_id FROM cents, q
       |         ORDER BY ${dotSql("qv", "cv")} / (qn * cn) DESC, c_id LIMIT 1),
       |topk AS (
       |  SELECT x.vec_id, ${dotSql("qv", "x.v")} / (qn * x.nrm) AS _score
       |  FROM assign x, q
       |  WHERE x.cell = (SELECT c_id FROM best)
       |  ORDER BY _score DESC, x.vec_id LIMIT 7)
       |SELECT t.vec_id, e.label, t._score
       |FROM topk t JOIN embeddings e USING (vec_id)
       |ORDER BY t._score DESC, t.vec_id ASC""".stripMargin
  }

  // ---------------------------------------------------------------- d293
  /** `combined_fields` under `similarity=bm25` with TRUE merged
    * pseudo-field scoring (r18 — Lucene CombinedFieldQuery's BM25F
    * simplification with unit weights, closing the last relevance
    * deviation): per term, tf = Σ of the field tfs, dl = Σ of the field
    * lengths, df = max across fields (merged statistics), avgdl100 =
    * Σ of the per-field avgdl100 (the pinned integer contract — both
    * engines derive it from the same per-field stats). One fixed-point
    * score over the merged field, vs cross_fields' best-of-legs with
    * blended df (d291) — the two ES queries' documented difference,
    * now BOTH modeled. */
  private def d293(s: SparkSession, d: String): DataFrame = {
    val flat = s.read.parquet(s"$d/documents.parquet")
    val docs = flat.select(struct(
      col("doc_id").cast("string").as("objectId"),
      col("text"), col("lang"), col("n_chars")).as("doc"))
    val body =
      """{"query": {"combined_fields": {"query": "en merge",
        |   "fields": ["text", "lang"], "operator": "and"}},
        | "_source": ["objectId"], "size": 30}""".stripMargin
    SearchExec.search(docs, "doc", body,
      docs.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType],
      similarity = "bm25", statsKey = Some(s"dsl:$d"))
  }

  private val d293Sql = {
    val terms = Seq("en", "merge")
    def dfs(f: String, dfp: String) = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(SUM(CASE WHEN list_contains($f, '$t') THEN 1 ELSE 0 END) AS BIGINT) AS $dfp$i"
    }.mkString(", ")
    // merged pseudo-field: tf summed across fields, dl summed, df = max
    // across fields, avgdl100 = a100 + al100
    def tfc(t: String) =
      s"(len(list_filter(ts, x -> x = '$t')) + len(list_filter(ls, x -> x = '$t')))"
    def term(i: Int) = graft.docs.Bm25.oracleTermSql(
      tfc(terms(i)), "dl", "n", s"GREATEST(dft$i, dfl$i)", "(a100 + al100)")
    s"""WITH an AS (SELECT CAST(doc_id AS VARCHAR) AS oid,
       |    regexp_split_to_array(lower(text), '\\s+') AS ts,
       |    regexp_split_to_array(lower(lang), '\\s+') AS ls FROM documents),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST((100 * COALESCE(SUM(len(ts)), 0)) // COUNT(*) AS BIGINT) AS a100,
       |    CAST((100 * COALESCE(SUM(len(ls)), 0)) // COUNT(*) AS BIGINT) AS al100,
       |    ${dfs("ts", "dft")}, ${dfs("ls", "dfl")} FROM an),
       |sc AS (SELECT oid, CAST(${term(0)} + ${term(1)} AS BIGINT) AS score
       |  FROM (SELECT oid, ts, ls, len(ts) + len(ls) AS dl FROM an
       |        WHERE (list_contains(ts, 'en') OR list_contains(ls, 'en'))
       |          AND (list_contains(ts, 'merge') OR list_contains(ls, 'merge')))
       |  CROSS JOIN st)
       |SELECT rn, score, oid AS "objectId" FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, oid ASC) AS rn FROM sc)
       |WHERE rn <= 30 ORDER BY rn""".stripMargin
  }

  // ---------------------------------------------------------------- d279
  /** ES SQL `FIRST`/`LAST` aggregates (+ the `FIRST_VALUE` synonym) —
    * the field value at the min/max of the ordering field (the field
    * itself when no ordering is given), nulls ignored, ordering ties
    * pinned by the value (DOCUMENTED DEVIATION: real ES leaves ties
    * unspecified). Lowered onto ONE min/max over a 2-field struct inside
    * the same single hash aggregation as the other metrics — a
    * map-side-combining aggregate, never a per-group sort, so the shape
    * scales with group count, not group size. */
  private def d279(s: SparkSession, d: String): DataFrame = {
    val q =
      """SELECT lang,
        |       FIRST(source, doc_id) AS first_src,
        |       LAST(source, doc_id) AS last_src,
        |       FIRST_VALUE(doc_id) AS min_id,
        |       COUNT(*) AS n
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang ASC""".stripMargin
    EsSql.run(Map("documents" ->
      s.read.parquet(s"$d/documents.parquet")), q)
  }

  // the FILTER clauses encode the engine's null contract (FIRST/LAST
  // ignore rows where the value OR the ordering field is null) so the
  // twin stays faithful on a corpus that ever grows nulls here
  private val d279Sql =
    """SELECT lang,
      |  (list(source ORDER BY doc_id ASC, source ASC)
      |     FILTER (WHERE source IS NOT NULL AND doc_id IS NOT NULL))[1] AS first_src,
      |  (list(source ORDER BY doc_id DESC, source DESC)
      |     FILTER (WHERE source IS NOT NULL AND doc_id IS NOT NULL))[1] AS last_src,
      |  CAST(MIN(doc_id) AS BIGINT) AS min_id,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang ASC""".stripMargin

  // ---------------------------------------------------------------- d280
  /** ES SQL `SKEWNESS`/`KURTOSIS` (population moments — the matrix_stats
    * contract: g1 = √n·M3/M2^1.5, kurtosis = n·M4/M2², NOT excess) and
    * `PERCENTILE_RANK` (exact empirical CDF — DOCUMENTED DEVIATION from
    * ES's t-digest interpolation). Power sums Σx..Σx⁴ accumulate exactly
    * in double (integral quantities, well under 2^53 even at sf1), then
    * both engines run the IDENTICAL IEEE arithmetic — every *, /, √ is
    * correctly rounded and M2^1.5 is spelled M2·√M2, so no libm-pow
    * divergence. Still ONE hash aggregation: 4 sums + 2 counts per
    * group, map-side combined. */
  private def d280(s: SparkSession, d: String): DataFrame = {
    val q =
      """SELECT l_returnflag,
        |       SKEWNESS(l_quantity) AS skew,
        |       KURTOSIS(l_quantity) AS kurt,
        |       PERCENTILE_RANK(l_quantity, 25) AS pr25,
        |       COUNT(*) AS cnt
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag ASC""".stripMargin
    EsSql.run(Map("lineitem" -> graft.Tables(s, d, "lineitem")), q)
  }

  private val d280Sql =
    """WITH g AS (
      |  SELECT l_returnflag,
      |    CAST(COUNT(l_quantity) AS DOUBLE) AS nd,
      |    SUM(CAST(l_quantity AS DOUBLE)) AS s1,
      |    SUM(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)) AS s2,
      |    SUM(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)
      |        * CAST(l_quantity AS DOUBLE)) AS s3,
      |    SUM(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)
      |        * CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)) AS s4,
      |    CAST(SUM(CASE WHEN CAST(l_quantity AS DOUBLE) <= 25.0
      |                  THEN 1 ELSE 0 END) AS DOUBLE) AS le,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM lineitem GROUP BY l_returnflag),
      |m AS (SELECT l_returnflag, nd, s1 / nd AS mu, s2, s3, s4, le, cnt
      |      FROM g),
      |mm AS (SELECT *,
      |    s2 - nd * mu * mu AS m2,
      |    s3 - mu * s2 * 3.0 + nd * mu * mu * mu * 2.0 AS m3,
      |    s4 - mu * s3 * 4.0 + mu * mu * s2 * 6.0
      |       - nd * mu * mu * mu * mu * 3.0 AS m4
      |  FROM m)
      |SELECT l_returnflag,
      |  sqrt(nd) * m3 / (m2 * sqrt(m2)) AS skew,
      |  nd * m4 / (m2 * m2) AS kurt,
      |  le * 100.0 / nd AS pr25,
      |  cnt
      |FROM mm
      |ORDER BY l_returnflag ASC""".stripMargin

  // ---------------------------------------------------------------- d281
  /** ES SQL `SELECT TOP n` — the LIMIT alias Kibana's SQL editor emits.
    * Pure clause sugar: the pipe carries the same bounded LIMIT, so the
    * plan stays ONE TakeOrderedAndProject (top-n per partition, merge on
    * the driver — no global sort at any scale). TOP combined with LIMIT
    * rejects with the real ES error (spec-pinned). */
  private def d281(s: SparkSession, d: String): DataFrame = {
    val q =
      """SELECT TOP 12 doc_id, n_chars, lang
        |FROM documents
        |WHERE lang = 'en'
        |ORDER BY n_chars DESC, doc_id ASC""".stripMargin
    EsSql.run(Map("documents" ->
      s.read.parquet(s"$d/documents.parquet")), q)
  }

  private val d281Sql =
    """SELECT doc_id, n_chars, lang
      |FROM documents
      |WHERE lang = 'en'
      |ORDER BY n_chars DESC, doc_id ASC
      |LIMIT 12""".stripMargin

  // ---------------------------------------------------------------- d282
  /** ES SQL INTERVAL date arithmetic — `ts + INTERVAL 1 DAY`, chained
    * `- INTERVAL '2' HOUR` (quoted standard-SQL quantity), and the
    * DATE_ADD/DATEADD scalars it lowers onto. Fixed units are EXACT LONG
    * MATH on the epoch-micros timeline (ts + n·unit_micros — no
    * timestamp round-trip per row); month/year go calendar-aware through
    * one interval add with day-of-month clamping, identical in both
    * engines on the UTC session timeline. Pure per-row projection over
    * one pushed scan — the filter still reaches parquet. */
  private def d282(s: SparkSession, d: String): DataFrame = {
    val q =
      """SELECT event_id,
        |       ts_us + INTERVAL 1 DAY AS next_day,
        |       ts_us + INTERVAL 1 DAY - INTERVAL '2' HOUR AS shifted,
        |       DATE_ADD('month', 2, ts_us) AS plus2m,
        |       DATEADD('year', 1, ts_us) AS plus1y
        |FROM events
        |WHERE event_type = 'purchase'
        |ORDER BY event_id ASC
        |LIMIT 50""".stripMargin
    EsSql.run(Map("events" -> graft.Tables.events(s, d).drop("ts")), q)
  }

  private val d282Sql =
    """SELECT event_id,
      |  epoch_us(ts + INTERVAL 1 DAY) AS next_day,
      |  epoch_us(ts + INTERVAL 1 DAY - INTERVAL 2 HOUR) AS shifted,
      |  epoch_us(ts + INTERVAL 2 MONTH) AS plus2m,
      |  epoch_us(ts + INTERVAL 1 YEAR) AS plus1y
      |FROM events
      |WHERE event_type = 'purchase'
      |ORDER BY event_id ASC
      |LIMIT 50""".stripMargin

  // ---------------------------------------------------------------- d288
  /** ES|QL 9.x probe wave 3: trigonometry (SIN/COS/ATAN2/TANH/
    * TO_DEGREES), SCALB (exact: a power of two only moves the FP
    * exponent), ROUND_TO (9.1 — fixed-point bucket rounding as ONE
    * codegen'd when-chain, no bucket-table join), and TO_TIMEDURATION/
    * TO_DATEPERIOD datetime arithmetic lowered onto DATE_ADD (exact long
    * micros for durations; calendar month add with day-of-month clamping
    * for periods). Trig outputs are ROUND()ed to 6 decimals in BOTH
    * engines: transcendentals are not correctly-rounded in either libm,
    * so raw doubles could differ in the last ulp — the gate pins the
    * wiring and the 6-decimal values, not libm's final bit. Pure per-row
    * projection over one pushed scan. */
  private def d288(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM events
        || WHERE event_id % 9 == 0
        || EVAL si = ROUND(SIN(value), 6), co = ROUND(COS(value), 6),
        |       at = ROUND(ATAN2(value, 2.5), 6), th = ROUND(TANH(value / 10.0), 6),
        |       deg = ROUND(TO_DEGREES(value), 6), sc = SCALB(value, 3),
        |       rt = ROUND_TO(value, 0, 10, 50, 100, 500),
        |       nxt = ts_us + TO_TIMEDURATION("90 minutes"),
        |       pm = ts_us + TO_DATEPERIOD("1 month"),
        |       back = ts_us - TO_TIMEDURATION("45 s")
        || KEEP event_id, si, co, at, th, deg, sc, rt, nxt, pm, back
        || SORT event_id ASC
        || LIMIT 400""".stripMargin
    Esql.run(Map("events" -> graft.Tables.events(s, d).drop("ts")), q)
  }

  private val d288Sql =
    """SELECT event_id,
      |  round(sin(value), 6) AS si, round(cos(value), 6) AS co,
      |  round(atan2(value, 2.5), 6) AS at,
      |  -- DuckDB 1.0 has no tanh; the exp identity agrees with the
      |  -- engine's Math.tanh far past the 6-decimal pin
      |  round((exp(2 * value / 10.0) - 1) / (exp(2 * value / 10.0) + 1), 6) AS th,
      |  round(degrees(value), 6) AS deg, value * 8 AS sc,
      |  CAST(CASE WHEN value >= 500 THEN 500 WHEN value >= 100 THEN 100
      |            WHEN value >= 50 THEN 50 WHEN value >= 10 THEN 10
      |            ELSE 0 END AS BIGINT) AS rt,
      |  epoch_us(ts) + CAST(90 * 60 AS BIGINT) * 1000000 AS nxt,
      |  epoch_us(ts + INTERVAL 1 MONTH) AS pm,
      |  epoch_us(ts) - CAST(45 AS BIGINT) * 1000000 AS back
      |FROM events
      |WHERE event_id % 9 = 0
      |ORDER BY event_id ASC
      |LIMIT 400""".stripMargin

  // ---------------------------------------------------------------- d285
  /** ES SQL `TIMESTAMP '...'` / `DATE '...'` literals — the standard-SQL
    * date predicates Kibana emits, folded AT TRANSLATE TIME to
    * epoch-micros constants on the UTC timeline. The range predicate is
    * two pushed long comparisons per row (`.explain` shows them in
    * PushedFilters had ts_us been a physical column; here it sits
    * directly above the scan) — never a per-row parse, and on a
    * date-partitioned production layout the same constants prune
    * partitions. Composes with BETWEEN (bounds fold first). */
  private def d285(s: SparkSession, d: String): DataFrame = {
    val q =
      """SELECT event_type, COUNT(*) AS n, MAX(ts_us) AS last_us
        |FROM events
        |WHERE ts_us >= DATE '2024-01-10'
        |  AND ts_us < TIMESTAMP '2024-01-20 06:30:00'
        |GROUP BY event_type
        |ORDER BY event_type ASC""".stripMargin
    EsSql.run(Map("events" -> graft.Tables.events(s, d).drop("ts")), q)
  }

  private val d285Sql =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(epoch_us(MAX(ts)) AS BIGINT) AS last_us
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      |  AND ts < TIMESTAMP '2024-01-20 06:30:00'
      |GROUP BY event_type
      |ORDER BY event_type ASC""".stripMargin

  // ---------------------------------------------------------------- d283
  /** ES|QL `MV_PERCENTILE` (8.14) — linear-interpolated percentile over
    * each row's multivalue: rank = p/100·(n−1), v = s[lo] + frac·(s[hi]
    * − s[lo]) — the PERCENTILE agg's math at row grain, exact element
    * picks + one mul/add the oracle reproduces term for term. Pure
    * per-row array op over one pushed scan; arrays never cross the
    * output boundary (scalar doubles out). */
  private def d283(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM embeddings
        || WHERE vec_id % 7 == 0
        || EVAL p25 = MV_PERCENTILE(embedding, 25),
        |       med = MV_PERCENTILE(embedding, 50),
        |       p90 = MV_PERCENTILE(embedding, 90)
        || KEEP vec_id, label, p25, med, p90
        || SORT vec_id ASC""".stripMargin
    Esql.run(Map("embeddings" -> graft.Tables(s, d, "embeddings")), q)
  }

  private val d283Sql = {
    // one percentile leg, mirroring the engine's arithmetic exactly:
    // rank = (n-1)·p, lo = floor(rank), v = s[lo+1] + frac·(s[min(lo+2,n)]
    // − s[lo+1]) — every *, −, + in the same order, so doubles hash-match
    def leg(p: String) =
      s"""CAST(s[CAST(floor(n1 * $p) AS BIGINT) + 1] AS DOUBLE)
         |    + (n1 * $p - floor(n1 * $p))
         |      * (CAST(s[least(CAST(floor(n1 * $p) AS BIGINT) + 2, n)] AS DOUBLE)
         |         - CAST(s[CAST(floor(n1 * $p) AS BIGINT) + 1] AS DOUBLE))""".stripMargin
    // null elements are dropped BEFORE sorting, as the engine does
    // (array_compact): DuckDB's list_sort is nulls-FIRST vs Spark's
    // nulls-last, so unfiltered nulls would pick different endpoints
    s"""WITH e AS (
       |  SELECT vec_id, label, list_sort(nn) AS s,
       |    CAST(len(nn) - 1 AS DOUBLE) AS n1,
       |    len(nn) AS n
       |  FROM (SELECT vec_id, label,
       |          list_filter(embedding, x -> x IS NOT NULL) AS nn
       |        FROM embeddings WHERE vec_id % 7 = 0))
       |SELECT vec_id, label,
       |  ${leg("0.25")} AS p25,
       |  ${leg("0.5")} AS med,
       |  ${leg("0.9")} AS p90
       |FROM e ORDER BY vec_id ASC""".stripMargin
  }

  // ---------------------------------------------------------------- d284
  /** ES|QL `TO_IP` / `IP_PREFIX` (8.14) — canonical-IPv4 validation and
    * constant-mask network-prefix extraction (the prefix length is a
    * plan-time literal, so the mask folds and the per-row work is 4 int
    * parses + 1 AND + re-join — all codegen'd, no UDF). Invalid
    * addresses (an octet ≥ 256 here) null out, the TO_* contract.
    * DATE_DIFF's widened fixed-unit set (weeks/milliseconds) rides the
    * same scan. */
  private def d284(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM events
        || EVAL ip = CONCAT(TO_STRING(10 + user_id % 240), ".",
        |                  TO_STRING(event_id % 300), ".",
        |                  TO_STRING(user_id % 256), ".",
        |                  TO_STRING(event_id % 256))
        || EVAL v = TO_IP(ip), net24 = IP_PREFIX(ip, 24, 64),
        |       net12 = IP_PREFIX(ip, 12, 64),
        |       wk = DATE_DIFF("weeks", 1704067200000000, ts_us),
        |       ms = DATE_DIFF("ms", 1704067200000000, ts_us) % 100000
        || KEEP event_id, ip, v, net24, net12, wk, ms
        || SORT event_id ASC
        || LIMIT 300""".stripMargin
    Esql.run(Map("events" -> graft.Tables.events(s, d).drop("ts")), q)
  }

  private val d284Sql = {
    val oct = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
    def masked(mask: Long) =
      s"""CAST((ipn & $mask) // 16777216 % 256 AS VARCHAR) || '.' ||
         |      CAST((ipn & $mask) // 65536 % 256 AS VARCHAR) || '.' ||
         |      CAST((ipn & $mask) // 256 % 256 AS VARCHAR) || '.' ||
         |      CAST((ipn & $mask) % 256 AS VARCHAR)""".stripMargin
    s"""WITH b AS (
       |  SELECT event_id, ts,
       |    CAST(10 + user_id % 240 AS VARCHAR) || '.' ||
       |      CAST(event_id % 300 AS VARCHAR) || '.' ||
       |      CAST(user_id % 256 AS VARCHAR) || '.' ||
       |      CAST(event_id % 256 AS VARCHAR) AS ip
       |  FROM events),
       |n AS (
       |  SELECT event_id, ts, ip,
       |    regexp_matches(ip, '^$oct(\\.$oct){3}$$') AS ok,
       |    CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216 +
       |      CAST(string_split(ip, '.')[2] AS BIGINT) * 65536 +
       |      CAST(string_split(ip, '.')[3] AS BIGINT) * 256 +
       |      CAST(string_split(ip, '.')[4] AS BIGINT) AS ipn
       |  FROM b)
       |SELECT event_id, ip,
       |  CASE WHEN ok THEN ip END AS v,
       |  CASE WHEN ok THEN ${masked(0xFFFFFF00L)} END AS net24,
       |  CASE WHEN ok THEN ${masked(0xFFF00000L)} END AS net12,
       |  -- trunc-toward-zero division, matching the engine's DATE_DIFF
       |  -- contract on timestamps BEFORE the anchor (DuckDB's // floors,
       |  -- so -1.5 wk would round the other way); sign-aware pure-integer
       |  CAST(CASE WHEN epoch_us(ts) >= 1704067200000000
       |    THEN (epoch_us(ts) - 1704067200000000) // 604800000000
       |    ELSE -((1704067200000000 - epoch_us(ts)) // 604800000000)
       |  END AS BIGINT) AS wk,
       |  CAST(CASE WHEN epoch_us(ts) >= 1704067200000000
       |    THEN (epoch_us(ts) - 1704067200000000) // 1000
       |    ELSE -((1704067200000000 - epoch_us(ts)) // 1000)
       |  END % 100000 AS BIGINT) AS ms
       |FROM n
       |ORDER BY event_id ASC
       |LIMIT 300""".stripMargin
  }

  // ---------------------------------------------------------------- d274
  /** ES|QL `HASH(alg, v)` / `TO_BASE64` / `FROM_BASE64` — byte-exact
    * scalar functions (hex digests, base64 over UTF-8 bytes), all
    * codegen'd Spark built-ins; the HASH algorithm is a plan-time
    * literal dispatch, never a per-row switch. Pure projection over one
    * pushed scan. */
  private def d274(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM documents
        || WHERE n_chars > 350
        || EVAL h = HASH("sha256", lang), m = MD5(source),
        |        b = TO_BASE64(source), rt = FROM_BASE64(TO_BASE64(lang))
        || KEEP doc_id, h, m, b, rt
        || SORT doc_id ASC
        || LIMIT 40""".stripMargin
    Esql.run(Map("documents" ->
      s.read.parquet(s"$d/documents.parquet")), q)
  }

  private val d274Sql =
    """SELECT doc_id, sha256(lang) AS h, md5(source) AS m,
      |  to_base64(encode(source)) AS b,
      |  decode(from_base64(to_base64(encode(lang)))) AS rt
      |FROM documents
      |WHERE n_chars > 350
      |ORDER BY doc_id ASC
      |LIMIT 40""".stripMargin

  // ---------------------------------------------------------------- d275
  /** ES|QL `TO_DATETIME` — the date-literal idiom every real pipe uses
    * (`WHERE ts > TO_DATETIME("2026-03-01")`): ISO-8601 strings parse on
    * the UTC session timeline, numeric literals are epoch MILLIS scaled
    * to the engine's micros. The literal folds to a CONSTANT at plan
    * time, so the WHERE is one long comparison per row before the
    * aggregate — never a per-row parse of the data side. (ts_us is
    * derived from the parquet ts in the loader, so the predicate sits
    * above the scan; on a production date-partitioned layout the same
    * constant prunes partitions.) */
  private def d275(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM events
        || WHERE ts_us >= TO_DATETIME("2026-02-01")
        |        AND ts_us < TO_DATETIME("2026-03-01T12:00:00")
        || STATS n = COUNT(*), total = SUM(value) BY event_type
        || SORT event_type ASC""".stripMargin
    Esql.run(Map("events" -> graft.Tables.events(s, d).drop("ts")), q)
  }

  private val d275Sql =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(28,6))
      |    AS DOUBLE) AS total
      |FROM events
      |WHERE ts >= TIMESTAMP '2026-02-01 00:00:00'
      |  AND ts < TIMESTAMP '2026-03-01 12:00:00'
      |GROUP BY event_type
      |ORDER BY event_type ASC""".stripMargin

  // ---------------------------------------------------------------- d255
  /** ES|QL `QSTR()` (8.17) — the Kibana search-bar query_string syntax as
    * a WHERE function, compiled through the SAME QueryString→SearchQuery→
    * Column path the Query DSL uses (one grammar, no second path to
    * drift), resolved against the pipe frame's schema. The whole request
    * stays ONE plan: the qstr filter beside the range predicate, one hash
    * agg, sorted output. */
  private def d255(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM documents
        || WHERE QSTR("lang:en AND (text:vector OR text:windows)") AND n_chars > 250
        || STATS n = COUNT(*), chars = SUM(n_chars) BY source
        || SORT source""".stripMargin
    Esql.run(Map("documents" ->
      s.read.parquet(s"$d/documents.parquet")), q)
  }

  private val d255Sql = {
    def tok(c: String, t: String) =
      s"list_contains(regexp_split_to_array(lower($c), '\\s+'), '$t')"
    s"""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(n_chars) AS BIGINT) AS chars
       |FROM documents
       |WHERE ${tok("lang", "en")}
       |  AND (${tok("text", "vector")} OR ${tok("text", "windows")})
       |  AND n_chars > 250
       |GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- d261
  /** EQL all-matches WITH `until` and `missing` (closing r12's v1 bound):
    * every view < click < purchase chain per user within maxspan where no
    * `signup` falls between the click and the purchase and no `error`
    * expiry fires while the chain is pending. Validity uses the SAME
    * boundary contract as the default last-prefix mode (runSeq — the
    * engine-pinned rule, since ES's own until/missing multiplicity is
    * version-dependent), checked per extension from ONE window pass of
    * carried last-expiry/last-gap columns — plain predicates on the
    * bin-bucketed joins, never an anti-join per extension. The oracle is
    * the literal self-join with per-extension NOT EXISTS guards (the
    * quantifier form of the same contract). */
  private def d261(s: SparkSession, d: String): DataFrame = {
    val q =
      """sequence by user_id with maxspan=24h
        |  [ event where event_type == "view" ]
        |  [ event where event_type == "click" ]
        |  ![ event where event_type == "signup" ]
        |  [ event where event_type == "purchase" ]
        |  until [ event where event_type == "error" ]""".stripMargin
    Eql.runAllMatches(graft.Tables.events(s, d), q)
  }

  private val d261Sql = {
    // row-strict "before the completing row", inclusive/exclusive lower
    // bounds per the runSeq boundary contract (expiry AT the prefix's
    // last microsecond kills; a gap marker AT it does not violate)
    def noUntil(completing: String, prefixLast: String) =
      s"""NOT EXISTS (SELECT 1 FROM e u
         |  WHERE u.user_id = $completing.user_id AND u.event_type = 'error'
         |    AND (u.tsu < $completing.tsu OR (u.tsu = $completing.tsu
         |         AND u.event_id < $completing.event_id))
         |    AND u.tsu >= $prefixLast.tsu)""".stripMargin
    val noGap =
      s"""NOT EXISTS (SELECT 1 FROM e m
         |  WHERE m.user_id = e3.user_id AND m.event_type = 'signup'
         |    AND (m.tsu < e3.tsu OR (m.tsu = e3.tsu
         |         AND m.event_id < e3.event_id))
         |    AND m.tsu > e2.tsu)""".stripMargin
    s"""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu
       |           FROM events)
       |SELECT e1.user_id AS user_id, e1.tsu AS t1_us, e2.tsu AS t2_us,
       |  e3.tsu AS t3_us, e3.tsu - e1.tsu AS span_us
       |FROM e e1
       |JOIN e e2 ON e1.user_id = e2.user_id
       |  AND e1.event_type = 'view' AND e2.event_type = 'click'
       |  AND (e2.tsu > e1.tsu OR (e2.tsu = e1.tsu AND e2.event_id > e1.event_id))
       |  AND e2.tsu - e1.tsu <= 86400000000
       |  AND ${noUntil("e2", "e1")}
       |JOIN e e3 ON e2.user_id = e3.user_id AND e3.event_type = 'purchase'
       |  AND (e3.tsu > e2.tsu OR (e3.tsu = e2.tsu AND e3.event_id > e2.event_id))
       |  AND e3.tsu - e1.tsu <= 86400000000
       |  AND ${noUntil("e3", "e2")}
       |  AND $noGap
       |ORDER BY e1.user_id, t1_us, t2_us, t3_us""".stripMargin
  }

  // ---------------------------------------------------------------- d262
  /** ES|QL `INLINESTATS COUNT_DISTINCT` — closing the r12 named reject:
    * distinct aggregates cannot run as Spark window functions, so the
    * engine computes size(collect_set(..)) over the BY partition — exact,
    * null-skipping like count_distinct, per-partition state bounded by
    * the group's distinct-value count (the VALUES-agg class). Exercises
    * the plain form AND a per-agg WHERE filter; still ONE shuffle on the
    * partition keys, zero row reduction. */
  private def d262(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM events
        || WHERE user_id < 30
        || INLINESTATS n_types = COUNT_DISTINCT(event_type),
        |              nd_big = COUNT_DISTINCT(event_type) WHERE value > 50,
        |              n = COUNT(*) BY user_id
        || KEEP event_id, user_id, n_types, nd_big, n
        || SORT event_id
        || LIMIT 300""".stripMargin
    Esql.run(Map("events" -> graft.Tables.events(s, d)), q)
  }

  private val d262Sql =
    """SELECT event_id, user_id, n_types, nd_big, n FROM (
      |  SELECT event_id, user_id,
      |    CAST(COUNT(DISTINCT event_type) OVER (PARTITION BY user_id) AS BIGINT) AS n_types,
      |    CAST(COUNT(DISTINCT CASE WHEN value > 50 THEN event_type END)
      |         OVER (PARTITION BY user_id) AS BIGINT) AS nd_big,
      |    CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
      |  FROM events WHERE user_id < 30)
      |ORDER BY event_id LIMIT 300""".stripMargin

  // ---------------------------------------------------------------- d256
  /** ES|QL `MATCH_PHRASE()` (9.x) — consecutive analyzed tokens in order,
    * riding the Query DSL's phrase machinery (SearchOps.phraseMatch —
    * padded single-space containment over whitespace tokens, a pure
    * codegen'd string expression: no positional index, no explode). */
  private def d256(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM documents
        || WHERE MATCH_PHRASE(text, "hash join")
        || KEEP doc_id, source, n_chars
        || SORT doc_id""".stripMargin
    Esql.run(Map("documents" ->
      s.read.parquet(s"$d/documents.parquet")), q)
  }

  private val d256Sql =
    // \s+ (not ' +'): the engine tokenizes on ANY whitespace, so the
    // oracle must collapse tabs/newlines identically
    """SELECT doc_id, source, n_chars FROM documents
      |WHERE contains(' ' || regexp_replace(trim(lower(text)), '\s+', ' ', 'g')
      |  || ' ', ' hash join ')
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d254
  /** EQL sequence WITHOUT `maxspan` — unbounded sequences are legal EQL
    * (the `with maxspan=` clause is optional). The window-carry plan is
    * IDENTICAL to the bounded form (one by-key shuffle, per-key running
    * prefixes, never a self-join chain); the span predicate simply never
    * prunes. At 100 TB the bound still comes from the by-key partitioning,
    * not the span — maxspan only shrinks output, not state. */
  private def d254(s: SparkSession, d: String): DataFrame = {
    val q =
      """sequence by user_id
        |  [ event where event_type == "view" ]
        |  [ event where event_type == "purchase" ]""".stripMargin
    Eql.run(graft.Tables.events(s, d), q)
  }

  private val d254Sql = {
    def lastBefore(x: String) =
      s"""last_value($x IGNORE NULLS) OVER (PARTITION BY user_id
         |      ORDER BY tsu, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin
    ("""WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu FROM events
      |  WHERE event_type IN ('view', 'purchase')),
      |a0 AS (SELECT *, CASE WHEN event_type = 'view'
      |    THEN struct_pack(ts1 := tsu) END AS _a0 FROM e),
      |p1 AS (SELECT *, """ + lastBefore("_a0") + """ AS _p1 FROM a0),
      |a1 AS (SELECT *, CASE WHEN event_type = 'purchase' AND _p1 IS NOT NULL
      |    THEN struct_pack(ts1 := (_p1).ts1, ts2 := tsu) END AS _a1 FROM p1)
      |SELECT user_id, (_a1).ts1 AS t1_us, (_a1).ts2 AS t2_us,
      |  (_a1).ts2 - (_a1).ts1 AS span_us
      |FROM a1
      |WHERE _a1 IS NOT NULL
      |ORDER BY user_id, t1_us, t2_us""").stripMargin
  }

  // ---------------------------------------------------------------- d246
  /** ES|QL `ROW` — the literal source command (a 1-row local relation;
    * what Kibana uses to probe functions). The pipe machinery applies
    * unchanged; cost is nothing at any scale. */
  private def d246(s: SparkSession, d: String): DataFrame = {
    val q = """ROW a = 5, b = "x" | EVAL c = a * 2 + 1, d = CONCAT(b, "!")"""
    Esql.run(Map("events" ->
      s.read.parquet(s"$d/events.parquet").limit(1)), q)
  }

  private val d246Sql =
    """SELECT CAST(5 AS BIGINT) AS a, 'x' AS b, CAST(11 AS BIGINT) AS c,
      |  'x!' AS d""".stripMargin

  // ---------------------------------------------------------------- d245
  /** EQL sequence result pipe `| head n` — the bounded slice of the
    * canonical (by, t1..tn) order (documented deviation from ES's
    * last-event-timestamp order, Eql.scala). Plans as ONE bounded
    * TakeOrderedAndProject over the window-carry output — n rows of
    * driver state from any corpus. */
  private def d245(s: SparkSession, d: String): DataFrame = {
    val q =
      """sequence by user_id with maxspan=72h
        |  [ event where event_type == "view" ]
        |  [ event where event_type == "click" ]
        || head 20""".stripMargin
    Eql.run(graft.Tables.events(s, d), q)
  }

  private val d245Sql = {
    def lastBefore(x: String) =
      s"""last_value($x IGNORE NULLS) OVER (PARTITION BY user_id
         |      ORDER BY tsu, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin
    ("""WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu FROM events
      |  WHERE event_type IN ('view', 'click')),
      |a0 AS (SELECT *, CASE WHEN event_type = 'view'
      |    THEN struct_pack(ts1 := tsu) END AS _a0 FROM e),
      |p1 AS (SELECT *, """ + lastBefore("_a0") + """ AS _p1 FROM a0),
      |a1 AS (SELECT *, CASE WHEN event_type = 'click' AND _p1 IS NOT NULL
      |    THEN struct_pack(ts1 := (_p1).ts1, ts2 := tsu) END AS _a1 FROM p1)
      |SELECT user_id, (_a1).ts1 AS t1_us, (_a1).ts2 AS t2_us,
      |  (_a1).ts2 - (_a1).ts1 AS span_us
      |FROM a1
      |WHERE _a1 IS NOT NULL AND (_a1).ts2 - (_a1).ts1 <= 259200000000
      |ORDER BY user_id, t1_us, t2_us LIMIT 20""").stripMargin
  }

  // ---------------------------------------------------------------- d244
  /** EQL multi-key `sequence by user_id, day` — composite join keys
    * (every key must match across the steps). The day column derives
    * from the timeline before the sequence runs, so the sequence is
    * additionally segmented by calendar day — the sessionized shape.
    * Same single-shuffle window-carry plan, just a composite
    * partitioning key. */
  private def d244(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .withColumn("day", expr("ts_us DIV 86400000000"))
    val q =
      """sequence by user_id, day with maxspan=72h
        |  [ event where event_type == "view" ]
        |  [ event where event_type == "click" ]""".stripMargin
    Eql.run(ev, q)
  }

  private val d244Sql = {
    def lastBefore(x: String) =
      s"""last_value($x IGNORE NULLS) OVER (PARTITION BY user_id, day
         |      ORDER BY tsu, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin
    ("""WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu,
      |    epoch_us(ts) // 86400000000 AS day FROM events
      |  WHERE event_type IN ('view', 'click')),
      |a0 AS (SELECT *, CASE WHEN event_type = 'view'
      |    THEN struct_pack(ts1 := tsu) END AS _a0 FROM e),
      |p1 AS (SELECT *, """ + lastBefore("_a0") + """ AS _p1 FROM a0),
      |a1 AS (SELECT *, CASE WHEN event_type = 'click' AND _p1 IS NOT NULL
      |    THEN struct_pack(ts1 := (_p1).ts1, ts2 := tsu) END AS _a1 FROM p1)
      |SELECT user_id, day, (_a1).ts1 AS t1_us, (_a1).ts2 AS t2_us,
      |  (_a1).ts2 - (_a1).ts1 AS span_us
      |FROM a1
      |WHERE _a1 IS NOT NULL AND (_a1).ts2 - (_a1).ts1 <= 259200000000
      |ORDER BY user_id, day, t1_us, t2_us""").stripMargin
  }

  // ---------------------------------------------------------------- d242
  /** ES|QL `CATEGORIZE` in STATS BY (8.18) — log-pattern grouping as a
    * grouping KEY (same documented token-skeleton deviation as the
    * categorize_text agg). Because CATEGORIZE compiles to a scalar
    * skeleton expression, the whole command is still ONE hash
    * aggregation + a bounded top-k — no ML state, no second pass. */
  private def d242(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM events
        || EVAL msg = CONCAT(event_type, " ", props)
        || STATS n = COUNT(*) BY cat = CATEGORIZE(msg)
        || SORT n DESC, cat ASC
        || LIMIT 10""".stripMargin
    Esql.run(Map("events" ->
      graft.Tables.events(s, d).drop("ts", "ts_us")), q)
  }

  private val d242Sql =
    """SELECT regexp_replace(regexp_replace(event_type || ' ' || props,
      |    '\b0x[0-9a-fA-F]+\b', '<hex>', 'g'), '[0-9]+', '<n>', 'g') AS cat,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM events GROUP BY 1 ORDER BY n DESC, cat LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- d243
  /** ES|QL `DATE_PARSE` — the DATE_FORMAT inverse: the query formats the
    * timeline to a day string and parses it back, proving the round-trip
    * lands exactly on the midnight-UTC micros the oracle computes with
    * date_trunc. Still one projection + one hash aggregation. */
  private def d243(s: SparkSession, d: String): DataFrame = {
    val q =
      """FROM events
        || EVAL ds = DATE_FORMAT("yyyy-MM-dd", ts_us)
        || EVAL day_us = DATE_PARSE("yyyy-MM-dd", ds)
        || STATS n = COUNT(*) BY day_us
        || SORT day_us""".stripMargin
    Esql.run(Map("events" ->
      graft.Tables.events(s, d).drop("ts")), q)
  }

  private val d243Sql =
    """SELECT epoch_us(date_trunc('day', ts)) AS day_us,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM events GROUP BY 1 ORDER BY day_us""".stripMargin

  // ---------------------------------------------------------------- d240
  /** EQL missing events (8.7): `[view] ![error] [purchase]` — view
    * followed by purchase with NO error between them. One extra window
    * carry per gap (the last error timestamp strictly before each row)
    * on the SAME by-key shuffle; the extension check compares it against
    * the prefix's last step (Eql.scala: boundary contract documented).
    * Same plan family as `until` — passes = steps + gaps, partitionings
    * = 1. */
  private def d240(s: SparkSession, d: String): DataFrame = {
    val q =
      """sequence by user_id with maxspan=72h
        |  [ event where event_type == "view" ]
        |  ![ event where event_type == "error" ]
        |  [ event where event_type == "purchase" ]""".stripMargin
    Eql.run(graft.Tables.events(s, d), q)
  }

  private val d240Sql = {
    def lastBefore(x: String) =
      s"""last_value($x IGNORE NULLS) OVER (PARTITION BY user_id
         |      ORDER BY tsu, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin
    ("""WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu FROM events
      |  WHERE event_type IN ('view', 'purchase', 'error')),
      |a0 AS (SELECT *,
      |    CASE WHEN event_type = 'error' THEN tsu END AS _m1,
      |    CASE WHEN event_type = 'view'
      |    THEN struct_pack(ts1 := tsu) END AS _a0 FROM e),
      |p1 AS (SELECT *, """ + lastBefore("_a0") + """ AS _p1,
      |    """ + lastBefore("_m1") + """ AS _l1 FROM a0),
      |a1 AS (SELECT *, CASE WHEN event_type = 'purchase' AND _p1 IS NOT NULL
      |    AND (_l1 IS NULL OR _l1 <= (_p1).ts1)
      |    THEN struct_pack(ts1 := (_p1).ts1, ts2 := tsu) END AS _a1 FROM p1)
      |SELECT user_id, (_a1).ts1 AS t1_us, (_a1).ts2 AS t2_us,
      |  (_a1).ts2 - (_a1).ts1 AS span_us
      |FROM a1
      |WHERE _a1 IS NOT NULL AND (_a1).ts2 - (_a1).ts1 <= 259200000000
      |ORDER BY user_id, t1_us, t2_us""").stripMargin
  }

  // ---------------------------------------------------------------- d241
  /** TSDS `_downsample` (ES 8.5): the time-series index re-materialized
    * at a daily interval — per (dimensions, bucket) each metric's
    * min/max/sum/value_count (the `aggregate_metric_double` shape).
    * ONE map-combined hash aggregation (`Transform.downsample`); at
    * 100 TB each ILM-triggered pass reads one rolled-over index (a
    * bounded time slice), never the full history. */
  private def d241(s: SparkSession, d: String): DataFrame =
    Transform.downsample(
      graft.Tables.events(s, d).select(col("ts_us"), col("user_id"),
        col("event_type"), col("value")),
      dims = Seq("user_id", "event_type"), tsCol = "ts_us",
      intervalUs = 86400000000L, metrics = Seq("value"))
      .select(col("user_id"), col("event_type"),
        col("_ts_bucket").as("ts_bucket"), col("value_min"),
        col("value_max"), col("value_sum"), col("value_value_count"))
      .orderBy(col("user_id"), col("event_type"), col("ts_bucket"))

  private val d241Sql =
    """SELECT user_id, event_type,
      |  (epoch_us(ts) // 86400000000) * 86400000000 AS ts_bucket,
      |  MIN(value) AS value_min, MAX(value) AS value_max,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(28,6))
      |    AS DOUBLE) AS value_sum,
      |  CAST(COUNT(value) AS BIGINT) AS value_value_count
      |FROM events GROUP BY 1, 2, 3
      |ORDER BY user_id, event_type, ts_bucket""".stripMargin

  private def d208(s: SparkSession, d: String): DataFrame = {
    val q =
      """sequence by user_id with maxspan=72h
        |  [ event where event_type == "view" ]
        |  [ event where event_type == "click" ]
        |  [ event where event_type == "purchase" ]""".stripMargin
    Eql.run(graft.Tables.events(s, d), q)
  }

  private val d208Sql = {
    def lastBefore(x: String) =
      s"""last_value($x IGNORE NULLS) OVER (PARTITION BY user_id
         |      ORDER BY tsu, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin
    ("""WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu FROM events
      |  WHERE event_type IN ('view', 'click', 'purchase')),
      |a0 AS (SELECT *, CASE WHEN event_type = 'view'
      |    THEN struct_pack(ts1 := tsu) END AS _a0 FROM e),
      |p1 AS (SELECT *, """ + lastBefore("_a0") + """ AS _p1 FROM a0),
      |a1 AS (SELECT *, CASE WHEN event_type = 'click' AND _p1 IS NOT NULL
      |    THEN struct_pack(ts1 := (_p1).ts1, ts2 := tsu) END AS _a1 FROM p1),
      |p2 AS (SELECT *, """ + lastBefore("_a1") + """ AS _p2 FROM a1),
      |a2 AS (SELECT *, CASE WHEN event_type = 'purchase' AND _p2 IS NOT NULL
      |    THEN struct_pack(ts1 := (_p2).ts1, ts2 := (_p2).ts2, ts3 := tsu)
      |    END AS _a2 FROM p2)
      |SELECT user_id, (_a2).ts1 AS t1_us, (_a2).ts2 AS t2_us, (_a2).ts3 AS t3_us,
      |  (_a2).ts3 - (_a2).ts1 AS span_us
      |FROM a2
      |WHERE _a2 IS NOT NULL AND (_a2).ts3 - (_a2).ts1 <= 259200000000
      |ORDER BY user_id, t1_us, t2_us, t3_us""").stripMargin
  }

  // ---------------------------------------------------------------- d207
  /** Ingest pipeline `rename` + `split` — the remaining shape-changing
    * processor pair: planType MOVES to plan_kind (target-must-not-exist,
    * the ES rule; the old leaf disappears from the struct), and `_org`
    * splits on the literal dot into array<string>. The output reads ONLY
    * post-pipeline shapes — grouping on the renamed field, aggregating
    * the split array's size and first element — so the evolved schema is
    * what the oracle checks. */
  private def d207(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "processors": [
        |    { "rename": { "field": "planType", "target_field": "plan_kind" } },
        |    { "split": { "field": "_org", "separator": "\\." } }
        |  ]
        |}""".stripMargin
    val (procs, _) = IngestPipeline.parseEvolving(body, schema)
    val (rewritten, _) = IngestPipeline.applyEvolving(col("doc"), schema, procs)
    assembled(s, d).select(rewritten.as("doc"))
      .groupBy(col("doc.plan_kind").as("plan_kind"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(size(col("doc._org"))).cast("long").as("n_org_parts"),
        min(element_at(col("doc._org"), 1)).as("min_org0"))
      .orderBy(col("plan_kind"))
  }

  private val d207Sql =
    """SELECT c_mktsegment AS plan_kind, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(len(string_split(
      |    'org-' || CAST(c_nationkey AS VARCHAR) || '.example.com', '.')))
      |    AS BIGINT) AS n_org_parts,
      |  MIN('org-' || CAST(c_nationkey AS VARCHAR)) AS min_org0
      |FROM customer GROUP BY 1 ORDER BY plan_kind""".stripMargin

  // ---------------------------------------------------------------- d205
  /** ES `geohex_grid` agg — hexagonal map cells as buckets (Elastic Maps'
    * hex layer). DOCUMENTED DEVIATION: cells are an axial hex grid on the
    * lon/lat plane, not H3 icosahedral cells (Geo.hexKey — hexagonal,
    * aperture-4-nested, stable ids; the fixed-IEEE-op-sequence rule makes
    * the oracle replay bit-for-bit, which H3's geodesy would not). Same
    * execution shape as geotile/geohash grids: one hash aggregation on
    * the cell id, top-N by doc_count. */
  private def d205(s: SparkSession, d: String): DataFrame = {
    val geo = geoDocs(s, d)
    val body =
      """{
        |  "size": 0,
        |  "aggs": {
        |    "cells": {
        |      "geohex_grid": { "field": "location", "precision": 2, "size": 12 },
        |      "aggs": { "avg_copay": { "avg": { "field": "copay" } } }
        |    }
        |  }
        |}""".stripMargin
    EsAggs.run(geo, "doc", body, geoSchema(geo))
  }

  private val d205Sql =
    s"""WITH pts AS (
       |  SELECT $geoLatSql AS lat, $geoLonSql AS lon, c_custkey % 50 AS copay
       |  FROM customer)
       |SELECT ${Geo.hexKeySql("lat", "lon", 2)} AS key,
       |  CAST(COUNT(*) AS BIGINT) AS doc_count, AVG(copay) AS avg_copay
       |FROM pts GROUP BY 1 ORDER BY doc_count DESC, key ASC LIMIT 12""".stripMargin

  // ---------------------------------------------------------------- d206
  /** ES `parent` aggregation — the other direction: a terms split at
    * CHILD grain (service `name`, the `linkedService` entity) steps UP
    * two parent hops (`linkedService` → planservice →
    * `linkedPlanServices` → plan, each a key equi-join + a DISTINCT at
    * (bucket, parent) grain — a parent with many matching children
    * counts ONCE, the ES contract) and then back DOWN a children hop to
    * the plan's cost shares for the metrics — "for each service tier,
    * how many distinct plans carry it and what do they cost". */
  private def d206(s: SparkSession, d: String): DataFrame = {
    val body =
      """{
        |  "size": 0,
        |  "aggs": { "by_service": {
        |    "terms": { "field": "name", "size": 10 },
        |    "aggs": { "to_service": {
        |      "parent": { "type": "linkedService" },
        |      "aggs": { "to_plan": {
        |        "parent": { "type": "linkedPlanServices" },
        |        "aggs": { "cost": {
        |          "children": { "type": "planCostShares" },
        |          "aggs": {
        |            "avg_copay": { "avg": { "field": "copay" } },
        |            "max_ded": { "max": { "field": "deductible" } } } } } } } } } } }
        |}""".stripMargin
    JoinAggs.run(shredded(s, d), "linkedService", body)
  }

  private val d206Sql =
    s"""WITH o AS $O,
       |svc AS (SELECT 'Service ' || o_orderpriority AS key, o_orderkey, o_custkey FROM o),
       |b AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS doc_count FROM svc GROUP BY key),
       |ts AS (SELECT key, CAST(COUNT(DISTINCT o_orderkey) AS BIGINT)
       |         AS to_service_doc_count FROM svc GROUP BY key),
       |tp AS (SELECT DISTINCT key, o_custkey FROM svc),
       |tpa AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS to_plan_doc_count
       |        FROM tp GROUP BY key),
       |ca AS (SELECT tp.key, CAST(COUNT(*) AS BIGINT) AS cost_doc_count,
       |         CAST(CAST(SUM(c_custkey % 50) AS BIGINT) AS DOUBLE)
       |           / COUNT(c_custkey % 50) AS cost_avg_copay,
       |         CAST(MAX(c_nationkey * 100) AS BIGINT) AS cost_max_ded
       |       FROM tp JOIN customer ON c_custkey = tp.o_custkey GROUP BY tp.key)
       |SELECT b.key, doc_count,
       |  COALESCE(to_service_doc_count, 0) AS to_service_doc_count,
       |  COALESCE(to_plan_doc_count, 0) AS to_plan_doc_count,
       |  COALESCE(cost_doc_count, 0) AS cost_doc_count,
       |  cost_avg_copay, cost_max_ded
       |FROM b LEFT JOIN ts USING (key) LEFT JOIN tpa USING (key)
       |  LEFT JOIN ca USING (key)
       |ORDER BY doc_count DESC, key LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- registry

  val queries: Map[String, Q] = Map(
    "d16_search_dsl" -> d16 _,
    "d17_etag_guard" -> d17 _,
    "d18_prefix_scan" -> d18 _,
    "d19_partitioned_sink" -> d19 _,
    "d20_search_paged" -> d20 _,
    "d21_generic_shred" -> d21 _,
    "d22_inferred_shred" -> d22 _,
    "d23_match_relevance" -> d23 _,
    "d24_search_nested_range" -> d24 _,
    "d25_if_none_match" -> d25 _,
    "d26_es_json_query" -> d26 _,
    "d27_es_inner_hits" -> d27 _,
    "d28_search_range_excl" -> d28 _,
    "d29_search_msm" -> d29 _,
    "d30_es_bool_inner_hits" -> d30 _,
    "d31_should_boost" -> d31 _,
    "d32_search_terms" -> d32 _,
    "d33_search_exists" -> d33 _,
    "d34_search_phrase_prefix" -> d34 _,
    "d35_es_full_body" -> d35 _,
    "d36_es_terms_agg" -> d36 _,
    "d37_es_histogram" -> d37 _,
    "d38_es_nested_agg" -> d38 _,
    "d39_es_multi_match" -> d39 _,
    "d40_es_search_after" -> d40 _,
    "d41_es_split_series" -> d41 _,
    "d42_es_ids_regexp" -> d42 _,
    "d43_es_fuzzy" -> d43 _,
    "d44_es_date_histogram" -> d44 _,
    "d45_es_score_wrappers" -> d45 _,
    "d46_es_nested_sort" -> d46 _,
    "d47_es_collapse" -> d47 _,
    "d48_es_terms_order" -> d48 _,
    "d49_es_cardinality" -> d49 _,
    "d50_es_query_string" -> d50 _,
    "d51_es_calendar_hist" -> d51 _,
    "d52_es_filters_agg" -> d52 _,
    "d53_es_range_agg" -> d53 _,
    "d54_es_default_sort" -> d54 _,
    "d55_es_stats" -> d55 _,
    "d56_es_percentiles" -> d56 _,
    "d57_es_missing" -> d57 _,
    "d58_es_composite" -> d58 _,
    "d59_es_pipeline" -> d59 _,
    "d60_es_top_hits" -> d60 _,
    "d61_es_significant_terms" -> d61 _,
    "d62_es_empty_buckets" -> d62 _,
    "d63_es_global" -> d63 _,
    "d64_es_weighted_avg" -> d64 _,
    "d65_es_adjacency" -> d65 _,
    "d66_es_rare_terms" -> d66 _,
    "d67_es_date_range" -> d67 _,
    "d68_es_suggest" -> d68 _,
    "d69_es_moving_fn" -> d69 _,
    "d70_es_sibling_aggs" -> d70 _,
    "d71_es_extended_bounds" -> d71 _,
    "d72_es_percentile_ranks" -> d72 _,
    "d73_es_multi_terms" -> d73 _,
    "d74_es_three_level" -> d74 _,
    "d75_es_composite_datehist" -> d75 _,
    "d76_es_function_score" -> d76 _,
    "d77_es_auto_datehist" -> d77 _,
    "d78_es_stats_bucket" -> d78 _,
    "d79_es_reverse_nested" -> d79 _,
    "d80_es_significant_text" -> d80 _,
    "d81_es_boosting" -> d81 _,
    "d82_es_field_value_factor" -> d82 _,
    "d83_es_filter_agg" -> d83 _,
    "d84_es_composite_missing" -> d84 _,
    "d85_es_terms_include" -> d85 _,
    "d86_es_top_metrics" -> d86 _,
    "d87_es_rescore" -> d87 _,
    "d88_es_terms_missing" -> d88 _,
    "d89_es_fixed_interval" -> d89 _,
    "d90_es_linear_decay" -> d90 _,
    "d91_es_nested_metrics" -> d91 _,
    "d92_es_sum_other" -> d92 _,
    "d93_es_time_zone" -> d93 _,
    "d94_es_highlight" -> d94 _,
    "d95_es_phrase_suggest" -> d95 _,
    "d96_es_more_like_this" -> d96 _,
    "d97_es_date_math" -> d97 _,
    "d98_es_extended_stats" -> d98 _,
    "d99_es_mad" -> d99 _,
    "d100_es_normalize" -> d100 _,
    "d101_es_cumulative_cardinality" -> d101 _,
    "d102_es_other_bucket" -> d102 _,
    "d103_es_filters_split" -> d103 _,
    "d104_es_terms_set" -> d104 _,
    "d105_es_pinned" -> d105 _,
    "d106_es_range_keys" -> d106 _,
    "d107_es_match_bool_prefix" -> d107 _,
    "d108_es_boxplot" -> d108 _,
    "d109_es_rate" -> d109 _,
    "d110_es_background_filter" -> d110 _,
    "d111_es_phrase_slop" -> d111 _,
    "d112_es_percolate" -> d112 _,
    "d113_es_moving_percentiles" -> d113 _,
    "d114_es_four_level" -> d114 _,
    "d115_es_track_total" -> d115 _,
    "d116_es_completion" -> d116 _,
    "d117_es_level_metrics" -> d117 _,
    "d118_es_hard_bounds" -> d118 _,
    "d119_es_nested_filters" -> d119 _,
    "d120_es_gauss_decay" -> d120 _,
    "d121_es_geo_distance" -> d121 _,
    "d122_es_geotile_grid" -> d122 _,
    "d123_es_deep_include" -> d123 _,
    "d124_es_intervals" -> d124 _,
    "d125_es_chi_square" -> d125 _,
    "d126_es_categorize_text" -> d126 _,
    "d131_es_mutual_info" -> d131 _,
    "d132_es_geo_bbox" -> d132 _,
    "d133_es_geohash_grid" -> d133 _,
    "d134_es_diversified_sampler" -> d134 _,
    "d130_es_geo_rings" -> d130 _,
    "d127_es_nested_composite" -> d127 _,
    "d128_es_nested_top_hits" -> d128 _,
    "d129_es_nested_sig_terms" -> d129 _,
    "d139_es_rank_feature" -> d139 _,
    "d140_es_distance_feature" -> d140 _,
    "d141_es_simple_query_string" -> d141 _,
    "d135_es_string_stats" -> d135 _,
    "d136_es_t_test" -> d136 _,
    "d137_es_matrix_stats" -> d137 _,
    "d138_es_geo_bounds_centroid" -> d138 _,
    "d142_es_random_sampler" -> d142 _,
    "d143_es_variable_width_hist" -> d143 _,
    "d144_es_frequent_items" -> d144 _,
    "d145_es_ip_range" -> d145 _,
    "d146_es_ip_prefix" -> d146 _,
    "d147_es_geo_line" -> d147 _,
    "d148_es_change_point" -> d148 _,
    "d149_es_bucket_correlation" -> d149 _,
    "d150_es_script_score" -> d150 _,
    "d151_es_wrapper" -> d151 _,
    "d152_es_terms_lookup" -> d152 _,
    "d153_es_percentage" -> d153 _,
    "d154_es_span" -> d154 _,
    "d155_es_combined_fields" -> d155 _,
    "d156_es_zero_terms" -> d156 _,
    "d157_es_msearch" -> d157 _,
    "d158_es_runtime_fields" -> d158 _,
    "d159_es_terms_partition" -> d159 _,
    "d160_es_nested_sort_filter" -> d160 _,
    "d161_es_collapse_inner" -> d161 _,
    "d162_es_ks_test" -> d162 _,
    "d163_es_moving_fns" -> d163 _,
    "d164_es_scripted_metric" -> d164 _,
    "d165_es_has_child" -> d165 _,
    "d166_es_has_parent" -> d166 _,
    "d167_es_geo_shape" -> d167 _,
    "d168_es_random_score" -> d168 _,
    "d169_es_moving_models" -> d169 _,
    "d170_es_script_function" -> d170 _,
    "d171_es_extended_stats_bucket" -> d171 _,
    "d172_es_rank_eval" -> d172 _,
    "d173_es_field_caps" -> d173 _,
    "d174_es_termvectors" -> d174 _,
    "d175_update_by_query" -> d175 _,
    "d176_delete_by_query" -> d176 _,
    "d177_search_template" -> d177 _,
    "d178_pit_paging" -> d178 _,
    "d179_highlight_fragments" -> d179 _,
    "d180_geo_shape_docs" -> d180 _,
    "d181_explain_score" -> d181 _,
    "d182_es_mget" -> d182 _,
    "d183_es_terms_enum" -> d183 _,
    "d184_es_script_math2" -> d184 _,
    "d185_es_geo_sort" -> d185 _,
    "d186_es_script_sort" -> d186 _,
    "d187_es_sliced_scroll" -> d187 _,
    "d188_msearch_template" -> d188 _,
    "d189_es_reindex" -> d189 _,
    "d190_filtered_alias" -> d190 _,
    "d191_es_bulk" -> d191 _,
    "d192_es_analyze" -> d192 _,
    "d193_es_field_shaping" -> d193 _,
    "d194_es_parent_id" -> d194 _,
    "d195_es_search_mvt" -> d195 _,
    "d196_es_retriever_rrf" -> d196 _,
    "d197_es_count" -> d197 _,
    "d198_es_suggest_contexts" -> d198 _,
    "d199_geo_sql_pushdown" -> d199 _,
    "d200_es_ingest_pipeline" -> d200 _,
    "d201_es_rollup" -> d201 _,
    "d202_es_knn_retriever" -> d202 _,
    "d203_es_children_agg" -> d203 _,
    "d204_es_ingest_evolving" -> d204 _,
    "d205_es_geohex_grid" -> d205 _,
    "d207_es_ingest_reshape" -> d207 _,
    "d208_es_eql_sequence" -> d208 _,
    "d209_es_transform_pivot" -> d209 _,
    "d210_esql_stats" -> d210 _,
    "d211_esql_row_pipe" -> d211 _,
    "d212_esql_enrich" -> d212 _,
    "d213_esql_grok" -> d213 _,
    "d214_esql_mv_expand" -> d214 _,
    "d215_es_ingest_grok" -> d215 _,
    "d216_esql_stats_where" -> d216 _,
    "d217_es_ingest_json" -> d217 _,
    "d218_esql_bucket" -> d218 _,
    "d219_esql_lookup_join" -> d219 _,
    "d220_esql_inlinestats" -> d220 _,
    "d221_esql_mv_fns" -> d221 _,
    "d222_esql_stat_aggs" -> d222 _,
    "d223_esql_multi_index" -> d223 _,
    "d224_esql_date_trunc" -> d224 _,
    "d225_esql_math" -> d225 _,
    "d226_esql_strings" -> d226 _,
    "d227_esql_mv_numeric" -> d227 _,
    "d228_esql_mv_strings" -> d228 _,
    "d229_esql_agg_wave3" -> d229 _,
    "d230_esql_fork" -> d230 _,
    "d231_esql_change_point" -> d231 _,
    "d232_eql_until" -> d232 _,
    "d233_eql_event_pipes" -> d233 _,
    "d234_eql_sample" -> d234 _,
    "d235_esql_match" -> d235 _,
    "d236_esql_ts_rate" -> d236 _,
    "d237_eql_runs" -> d237 _,
    "d238_esql_sample" -> d238 _,
    "d239_es_transform_latest" -> d239 _,
    "d240_eql_missing" -> d240 _,
    "d241_es_downsample" -> d241 _,
    "d242_esql_categorize" -> d242 _,
    "d243_esql_date_parse" -> d243 _,
    "d244_eql_multi_key" -> d244 _,
    "d245_eql_seq_head" -> d245 _,
    "d246_esql_row" -> d246 _,
    "d247_es_sql_agg" -> d247 _,
    "d248_es_sql_histogram" -> d248 _,
    "d249_es_sql_rows" -> d249 _,
    "d250_es_sql_star" -> d250 _,
    "d251_esql_score" -> d251 _,
    "d252_es_sql_score" -> d252 _,
    "d253_es_sql_offset" -> d253 _,
    "d264_es_sql_datefns" -> d264 _,
    "d265_es_sql_having" -> d265 _,
    "d266_es_sql_case" -> d266 _,
    "d267_es_sql_not" -> d267 _,
    "d268_es_sql_conditionals" -> d268 _,
    "d272_es_sql_concat" -> d272 _,
    "d273_es_sql_nulls_order" -> d273 _,
    "d274_esql_hash_base64" -> d274 _,
    "d275_esql_to_datetime" -> d275 _,
    "d254_eql_unbounded" -> d254 _,
    "d255_esql_qstr" -> d255 _,
    "d256_esql_match_phrase" -> d256 _,
    "d257_eql_all_matches" -> d257 _,
    "d258_esql_fuse" -> d258 _,
    "d259_dsl_bm25" -> d259 _,
    "d260_esql_bm25" -> d260 _,
    "d263_es_rescore_bm25" -> d263 _,
    "d269_es_function_score_bm25" -> d269 _,
    "d270_es_pinned_bm25" -> d270 _,
    "d271_es_script_score_bm25" -> d271 _,
    "d276_es_must_bm25" -> d276 _,
    "d277_es_multimatch_bm25" -> d277 _,
    "d278_es_dismax_bm25" -> d278 _,
    "d279_es_sql_first_last" -> d279 _,
    "d280_es_sql_skew_kurt" -> d280 _,
    "d281_es_sql_top" -> d281 _,
    "d282_es_sql_interval" -> d282 _,
    "d283_esql_mv_percentile" -> d283 _,
    "d284_esql_ip_fns" -> d284 _,
    "d285_es_sql_ts_literals" -> d285 _,
    "d286_es_multimatch_types" -> d286 _,
    "d287_es_phrase_bm25" -> d287 _,
    "d288_esql_wave3" -> d288 _,
    "d289_es_phrase_prefix" -> d289 _,
    "d290_esql_pseries" -> d290 _,
    "d291_es_cross_fields_blended" -> d291 _,
    "d292_esql_knn" -> d292 _,
    "d293_es_combined_fields_bm25" -> d293 _,
    "d261_eql_all_matches_guards" -> d261 _,
    "d262_esql_inlinestats_distinct" -> d262 _,
    "d206_es_parent_agg" -> d206 _,
    "d1_shred_entities" -> d1 _,
    "d2_shred_edges" -> d2 _,
    "d3_roundtrip" -> d3 _,
    "d4_point_lookup" -> d4 _,
    "d5_validate_quarantine" -> d5 _,
    "d6_search_match_all" -> d6 _,
    "d7_search_nested_match" -> d7 _,
    "d8_search_wildcard" -> d8 _,
    "d9_search_nested_wildcard" -> d9 _,
    "d10_search_range" -> d10 _,
    "d11_merge_patch" -> d11 _,
    "d12_cascade_delete" -> d12 _,
    "d13_etag" -> d13 _,
    "d14_replace" -> d14 _,
    "d15_mapping_inference" -> d15 _)

  val oracle: Map[String, String] = Map(
    "d16_search_dsl" -> d16Sql,
    "d17_etag_guard" -> d17Sql,
    "d18_prefix_scan" -> d18Sql,
    "d19_partitioned_sink" -> d19Sql,
    "d20_search_paged" -> d20Sql,
    "d21_generic_shred" -> d21Sql,
    "d22_inferred_shred" -> d22Sql,
    "d23_match_relevance" -> d23Sql,
    "d24_search_nested_range" -> d24Sql,
    "d25_if_none_match" -> d25Sql,
    "d26_es_json_query" -> d26Sql,
    "d27_es_inner_hits" -> d27Sql,
    "d28_search_range_excl" -> d28Sql,
    "d29_search_msm" -> d29Sql,
    "d30_es_bool_inner_hits" -> d30Sql,
    "d31_should_boost" -> d31Sql,
    "d32_search_terms" -> d32Sql,
    "d33_search_exists" -> d33Sql,
    "d34_search_phrase_prefix" -> d34Sql,
    "d35_es_full_body" -> d35Sql,
    "d36_es_terms_agg" -> d36Sql,
    "d37_es_histogram" -> d37Sql,
    "d38_es_nested_agg" -> d38Sql,
    "d39_es_multi_match" -> d39Sql,
    "d40_es_search_after" -> d40Sql,
    "d41_es_split_series" -> d41Sql,
    "d42_es_ids_regexp" -> d42Sql,
    "d43_es_fuzzy" -> d43Sql,
    "d44_es_date_histogram" -> d44Sql,
    "d45_es_score_wrappers" -> d45Sql,
    "d46_es_nested_sort" -> d46Sql,
    "d47_es_collapse" -> d47Sql,
    "d48_es_terms_order" -> d48Sql,
    "d49_es_cardinality" -> d49Sql,
    "d50_es_query_string" -> d50Sql,
    "d51_es_calendar_hist" -> d51Sql,
    "d52_es_filters_agg" -> d52Sql,
    "d53_es_range_agg" -> d53Sql,
    "d54_es_default_sort" -> d54Sql,
    "d55_es_stats" -> d55Sql,
    "d56_es_percentiles" -> d56Sql,
    "d57_es_missing" -> d57Sql,
    "d58_es_composite" -> d58Sql,
    "d59_es_pipeline" -> d59Sql,
    "d60_es_top_hits" -> d60Sql,
    "d61_es_significant_terms" -> d61Sql,
    "d62_es_empty_buckets" -> d62Sql,
    "d63_es_global" -> d63Sql,
    "d64_es_weighted_avg" -> d64Sql,
    "d65_es_adjacency" -> d65Sql,
    "d66_es_rare_terms" -> d66Sql,
    "d67_es_date_range" -> d67Sql,
    "d68_es_suggest" -> d68Sql,
    "d69_es_moving_fn" -> d69Sql,
    "d70_es_sibling_aggs" -> d70Sql,
    "d71_es_extended_bounds" -> d71Sql,
    "d72_es_percentile_ranks" -> d72Sql,
    "d73_es_multi_terms" -> d73Sql,
    "d74_es_three_level" -> d74Sql,
    "d75_es_composite_datehist" -> d75Sql,
    "d76_es_function_score" -> d76Sql,
    "d77_es_auto_datehist" -> d77Sql,
    "d78_es_stats_bucket" -> d78Sql,
    "d79_es_reverse_nested" -> d79Sql,
    "d80_es_significant_text" -> d80Sql,
    "d81_es_boosting" -> d81Sql,
    "d82_es_field_value_factor" -> d82Sql,
    "d83_es_filter_agg" -> d83Sql,
    "d84_es_composite_missing" -> d84Sql,
    "d85_es_terms_include" -> d85Sql,
    "d86_es_top_metrics" -> d86Sql,
    "d87_es_rescore" -> d87Sql,
    "d88_es_terms_missing" -> d88Sql,
    "d89_es_fixed_interval" -> d89Sql,
    "d90_es_linear_decay" -> d90Sql,
    "d91_es_nested_metrics" -> d91Sql,
    "d92_es_sum_other" -> d92Sql,
    "d93_es_time_zone" -> d93Sql,
    "d94_es_highlight" -> d94Sql,
    "d95_es_phrase_suggest" -> d95Sql,
    "d96_es_more_like_this" -> d96Sql,
    "d97_es_date_math" -> d97Sql,
    "d98_es_extended_stats" -> d98Sql,
    "d99_es_mad" -> d99Sql,
    "d100_es_normalize" -> d100Sql,
    "d101_es_cumulative_cardinality" -> d101Sql,
    "d102_es_other_bucket" -> d102Sql,
    "d103_es_filters_split" -> d103Sql,
    "d104_es_terms_set" -> d104Sql,
    "d105_es_pinned" -> d105Sql,
    "d106_es_range_keys" -> d106Sql,
    "d107_es_match_bool_prefix" -> d107Sql,
    "d108_es_boxplot" -> d108Sql,
    "d109_es_rate" -> d109Sql,
    "d110_es_background_filter" -> d110Sql,
    "d111_es_phrase_slop" -> d111Sql,
    "d112_es_percolate" -> d112Sql,
    "d113_es_moving_percentiles" -> d113Sql,
    "d114_es_four_level" -> d114Sql,
    "d115_es_track_total" -> d115Sql,
    "d116_es_completion" -> d116Sql,
    "d117_es_level_metrics" -> d117Sql,
    "d118_es_hard_bounds" -> d118Sql,
    "d119_es_nested_filters" -> d119Sql,
    "d120_es_gauss_decay" -> d120Sql,
    "d121_es_geo_distance" -> d121Sql,
    "d122_es_geotile_grid" -> d122Sql,
    "d123_es_deep_include" -> d123Sql,
    "d124_es_intervals" -> d124Sql,
    "d125_es_chi_square" -> d125Sql,
    "d126_es_categorize_text" -> d126Sql,
    "d131_es_mutual_info" -> d131Sql,
    "d132_es_geo_bbox" -> d132Sql,
    "d133_es_geohash_grid" -> d133Sql,
    "d134_es_diversified_sampler" -> d134Sql,
    "d130_es_geo_rings" -> d130Sql,
    "d127_es_nested_composite" -> d127Sql,
    "d128_es_nested_top_hits" -> d128Sql,
    "d129_es_nested_sig_terms" -> d129Sql,
    "d139_es_rank_feature" -> d139Sql,
    "d140_es_distance_feature" -> d140Sql,
    "d141_es_simple_query_string" -> d141Sql,
    "d135_es_string_stats" -> d135Sql,
    "d136_es_t_test" -> d136Sql,
    "d137_es_matrix_stats" -> d137Sql,
    "d138_es_geo_bounds_centroid" -> d138Sql,
    "d142_es_random_sampler" -> d142Sql,
    "d143_es_variable_width_hist" -> d143Sql,
    "d144_es_frequent_items" -> d144Sql,
    "d145_es_ip_range" -> d145Sql,
    "d146_es_ip_prefix" -> d146Sql,
    "d147_es_geo_line" -> d147Sql,
    "d148_es_change_point" -> d148Sql,
    "d149_es_bucket_correlation" -> d149Sql,
    "d150_es_script_score" -> d150Sql,
    "d151_es_wrapper" -> d151Sql,
    "d152_es_terms_lookup" -> d152Sql,
    "d153_es_percentage" -> d153Sql,
    "d154_es_span" -> d154Sql,
    "d155_es_combined_fields" -> d155Sql,
    "d156_es_zero_terms" -> d156Sql,
    "d157_es_msearch" -> d157Sql,
    "d158_es_runtime_fields" -> d158Sql,
    "d159_es_terms_partition" -> d159Sql,
    "d160_es_nested_sort_filter" -> d160Sql,
    "d161_es_collapse_inner" -> d161Sql,
    "d162_es_ks_test" -> d162Sql,
    "d163_es_moving_fns" -> d163Sql,
    "d164_es_scripted_metric" -> d164Sql,
    "d165_es_has_child" -> d165Sql,
    "d166_es_has_parent" -> d166Sql,
    "d167_es_geo_shape" -> d167Sql,
    "d168_es_random_score" -> d168Sql,
    "d169_es_moving_models" -> d169Sql,
    "d170_es_script_function" -> d170Sql,
    "d171_es_extended_stats_bucket" -> d171Sql,
    "d172_es_rank_eval" -> d172Sql,
    "d173_es_field_caps" -> d173Sql,
    "d174_es_termvectors" -> d174Sql,
    "d175_update_by_query" -> d175Sql,
    "d176_delete_by_query" -> d176Sql,
    "d177_search_template" -> d177Sql,
    "d178_pit_paging" -> d178Sql,
    "d179_highlight_fragments" -> d179Sql,
    "d180_geo_shape_docs" -> d180Sql,
    "d181_explain_score" -> d181Sql,
    "d182_es_mget" -> d182Sql,
    "d183_es_terms_enum" -> d183Sql,
    "d184_es_script_math2" -> d184Sql,
    "d185_es_geo_sort" -> d185Sql,
    "d186_es_script_sort" -> d186Sql,
    "d187_es_sliced_scroll" -> d187Sql,
    "d188_msearch_template" -> d188Sql,
    "d189_es_reindex" -> d189Sql,
    "d190_filtered_alias" -> d190Sql,
    "d191_es_bulk" -> d191Sql,
    "d192_es_analyze" -> d192Sql,
    "d193_es_field_shaping" -> d193Sql,
    "d194_es_parent_id" -> d194Sql,
    "d195_es_search_mvt" -> d195Sql,
    "d196_es_retriever_rrf" -> d196Sql,
    "d197_es_count" -> d197Sql,
    "d198_es_suggest_contexts" -> d198Sql,
    "d199_geo_sql_pushdown" -> d199Sql,
    "d200_es_ingest_pipeline" -> d200Sql,
    "d201_es_rollup" -> d201Sql,
    "d202_es_knn_retriever" -> d202Sql,
    "d203_es_children_agg" -> d203Sql,
    "d204_es_ingest_evolving" -> d204Sql,
    "d205_es_geohex_grid" -> d205Sql,
    "d207_es_ingest_reshape" -> d207Sql,
    "d208_es_eql_sequence" -> d208Sql,
    "d209_es_transform_pivot" -> d209Sql,
    "d210_esql_stats" -> d210Sql,
    "d211_esql_row_pipe" -> d211Sql,
    "d212_esql_enrich" -> d212Sql,
    "d213_esql_grok" -> d213Sql,
    "d214_esql_mv_expand" -> d214Sql,
    "d215_es_ingest_grok" -> d215Sql,
    "d216_esql_stats_where" -> d216Sql,
    "d217_es_ingest_json" -> d217Sql,
    "d218_esql_bucket" -> d218Sql,
    "d219_esql_lookup_join" -> d219Sql,
    "d220_esql_inlinestats" -> d220Sql,
    "d221_esql_mv_fns" -> d221Sql,
    "d222_esql_stat_aggs" -> d222Sql,
    "d223_esql_multi_index" -> d223Sql,
    "d224_esql_date_trunc" -> d224Sql,
    "d225_esql_math" -> d225Sql,
    "d226_esql_strings" -> d226Sql,
    "d227_esql_mv_numeric" -> d227Sql,
    "d228_esql_mv_strings" -> d228Sql,
    "d229_esql_agg_wave3" -> d229Sql,
    "d230_esql_fork" -> d230Sql,
    "d231_esql_change_point" -> d231Sql,
    "d232_eql_until" -> d232Sql,
    "d233_eql_event_pipes" -> d233Sql,
    "d234_eql_sample" -> d234Sql,
    "d235_esql_match" -> d235Sql,
    "d236_esql_ts_rate" -> d236Sql,
    "d237_eql_runs" -> d237Sql,
    "d238_esql_sample" -> d238Sql,
    "d239_es_transform_latest" -> d239Sql,
    "d240_eql_missing" -> d240Sql,
    "d241_es_downsample" -> d241Sql,
    "d242_esql_categorize" -> d242Sql,
    "d243_esql_date_parse" -> d243Sql,
    "d244_eql_multi_key" -> d244Sql,
    "d245_eql_seq_head" -> d245Sql,
    "d246_esql_row" -> d246Sql,
    "d247_es_sql_agg" -> d247Sql,
    "d248_es_sql_histogram" -> d248Sql,
    "d249_es_sql_rows" -> d249Sql,
    "d250_es_sql_star" -> d250Sql,
    "d251_esql_score" -> d251Sql,
    "d252_es_sql_score" -> d252Sql,
    "d253_es_sql_offset" -> d253Sql,
    "d264_es_sql_datefns" -> d264Sql,
    "d265_es_sql_having" -> d265Sql,
    "d266_es_sql_case" -> d266Sql,
    "d267_es_sql_not" -> d267Sql,
    "d268_es_sql_conditionals" -> d268Sql,
    "d272_es_sql_concat" -> d272Sql,
    "d273_es_sql_nulls_order" -> d273Sql,
    "d274_esql_hash_base64" -> d274Sql,
    "d275_esql_to_datetime" -> d275Sql,
    "d254_eql_unbounded" -> d254Sql,
    "d255_esql_qstr" -> d255Sql,
    "d256_esql_match_phrase" -> d256Sql,
    "d257_eql_all_matches" -> d257Sql,
    "d258_esql_fuse" -> d258Sql,
    "d259_dsl_bm25" -> d259Sql,
    "d260_esql_bm25" -> d260Sql,
    "d263_es_rescore_bm25" -> d263Sql,
    "d269_es_function_score_bm25" -> d269Sql,
    "d270_es_pinned_bm25" -> d270Sql,
    "d271_es_script_score_bm25" -> d271Sql,
    "d276_es_must_bm25" -> d276Sql,
    "d277_es_multimatch_bm25" -> d277Sql,
    "d278_es_dismax_bm25" -> d278Sql,
    "d279_es_sql_first_last" -> d279Sql,
    "d280_es_sql_skew_kurt" -> d280Sql,
    "d281_es_sql_top" -> d281Sql,
    "d282_es_sql_interval" -> d282Sql,
    "d283_esql_mv_percentile" -> d283Sql,
    "d284_esql_ip_fns" -> d284Sql,
    "d285_es_sql_ts_literals" -> d285Sql,
    "d286_es_multimatch_types" -> d286Sql,
    "d287_es_phrase_bm25" -> d287Sql,
    "d288_esql_wave3" -> d288Sql,
    "d289_es_phrase_prefix" -> d289Sql,
    "d290_esql_pseries" -> d290Sql,
    "d291_es_cross_fields_blended" -> d291Sql,
    "d292_esql_knn" -> d292Sql,
    "d293_es_combined_fields_bm25" -> d293Sql,
    "d261_eql_all_matches_guards" -> d261Sql,
    "d262_esql_inlinestats_distinct" -> d262Sql,
    "d206_es_parent_agg" -> d206Sql,
    "d1_shred_entities" -> d1Sql,
    "d2_shred_edges" -> d2Sql,
    "d3_roundtrip" -> d3Sql,
    "d4_point_lookup" -> d4Sql,
    "d5_validate_quarantine" -> d5Sql,
    "d6_search_match_all" -> d6Sql,
    "d7_search_nested_match" -> d7Sql,
    "d8_search_wildcard" -> d8Sql,
    "d9_search_nested_wildcard" -> d9Sql,
    "d10_search_range" -> d10Sql,
    "d11_merge_patch" -> d11Sql,
    "d12_cascade_delete" -> d12Sql,
    "d13_etag" -> d13Sql,
    "d14_replace" -> d14Sql,
    "d15_mapping_inference" -> d15Sql)
}
