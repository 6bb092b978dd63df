package graft.docs

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.PlanSchema

/** Parse guards and geometry primitives added in round 10 — the
  * bulk-by-query script contract and the doc-side geo_shape math
  * (the behavioral surfaces ride the d175/d176/d180 oracle gates). */
class BulkByQuerySpec extends SparkSpec {

  private val sch = PlanSchema.plan

  test("update script: assignment form parses; path and expr validated") {
    val us = BulkByQuery.parseUpdateScript(
      "ctx._source.planCostShares.copay = ctx._source.planCostShares.copay * 2 + 7", sch)
    assert(us.path === Seq("planCostShares", "copay"))
    // trailing semicolon tolerated (Painless statements end with one)
    assert(BulkByQuery.parseUpdateScript(
      "ctx._source.planType = 3 ;", sch).path === Seq("planType"))
  }

  test("update script rejections: shape, array paths, object leaves, _score, unknown fields") {
    def bad(src: String): String =
      intercept[IllegalArgumentException](
        BulkByQuery.parseUpdateScript(src, sch)).getMessage
    assert(bad("return 3").contains("must be"))
    // array-crossing target needs a nested context this form lacks
    assert(bad("ctx._source.linkedPlanServices.planserviceCostShares.copay = 1")
      .contains("crosses array"))
    // assigning over an object node needs a document-shaped RHS
    assert(bad("ctx._source.planCostShares = 1").contains("not a scalar leaf"))
    // no field by that name
    assert(bad("ctx._source.nope = 1").contains("nope"))
    // _score does not exist in an update context
    assert(bad("ctx._source.planCostShares.copay = _score + 1").contains("_score"))
  }

  test("delete/update bodies reject unknown keys and missing query loudly") {
    import org.apache.spark.sql.DataFrame
    val empty: DataFrame = spark.emptyDataFrame
    val sh = Shredded(empty, empty)
    assert(intercept[IllegalArgumentException](BulkByQuery.deleteByQuery(
      empty, sh, """{"query": {"match_all": {}}, "size": 5}""", sch))
      .getMessage.contains("unsupported body key"))
    assert(intercept[IllegalArgumentException](BulkByQuery.updateByQuery(
      empty, sh, """{"query": {"match_all": {}}}""", sch))
      .getMessage.contains("script"))
    assert(intercept[IllegalArgumentException](BulkByQuery.deleteByQuery(
      empty, sh, """{}""", sch)).getMessage.contains("query"))
  }

  test("reindex body guards: unknown keys, wrong source index, bad dest reject loudly") {
    import org.apache.spark.sql.DataFrame
    val empty: DataFrame = spark.emptyDataFrame
    def bad(body: String): String =
      intercept[IllegalArgumentException](
        BulkByQuery.reindex(empty, body, sch)).getMessage
    assert(bad("""{"source": {"index": "plan"}, "dest": {"index": "x"}, "max_docs": 5}""")
      .contains("unsupported body key"))
    assert(bad("""{"source": {"index": "plan", "conflicts": "proceed"}, "dest": {"index": "x"}}""")
      .contains("unsupported source key"))
    assert(bad("""{"source": {"index": "other"}, "dest": {"index": "x"}}""")
      .contains("source.index"))
    assert(bad("""{"source": {"index": "plan"}}""").contains("dest"))
    assert(bad("""{"source": {"index": "plan"}, "dest": {"name": "x"}}""")
      .contains("dest.index"))
  }

  test("reindex: query optional (copy-all), script optional (verbatim copy), dest name returned") {
    import spark.implicits._
    val docs = Seq(("plan-1", "A", 3L), ("plan-2", "B", 4L)).toDF("id", "t", "v")
      .select(struct(col("id").as("objectId"), lit("plan").as("objectType"),
        col("t").as("planType"), col("v").as("copay")).as("doc"))
    val schema = docs.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    val (name, dest) = BulkByQuery.reindex(docs,
      """{"source": {"index": "plan"}, "dest": {"index": "plan-copy"}}""", schema)
    assert(name === "plan-copy")
    assert(dest.entities.count() === 2)
    // filtered + transformed: one match, copay rewritten
    val (_, dest2) = BulkByQuery.reindex(docs,
      """{"source": {"index": "plan", "query": {"term": {"planType": "A"}}},
        | "dest": {"index": "v2"},
        | "script": {"source": "ctx._source.copay = ctx._source.copay * 10"}}""".stripMargin,
      schema)
    val rows = dest2.entities.filter(col("type_tag") === "plan").collect()
    assert(rows.length === 1)
  }

  test("setField rebuilds exactly the targeted leaf, nested or root") {
    import spark.implicits._
    val df = Seq(("p1", 7L)).toDF("id", "v").select(struct(
      struct(col("v").as("copay"), lit(10L).as("deductible")).as("cs"),
      col("id").as("objectId")).as("doc"))
    val schema = df.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    val out = df.select(
      BulkByQuery.setField(col("doc"), Seq("cs", "copay"), lit(99.0), schema).as("doc"))
      .select(col("doc.cs.copay"), col("doc.cs.deductible"), col("doc.objectId"))
      .collect()(0)
    assert(out.getLong(0) === 99L) // cast to the declared LongType
    assert(out.getLong(1) === 10L)
    assert(out.getString(2) === "p1")
  }

  test("geometry: runtime-vertex point-in-polygon matches the literal twin") {
    import spark.implicits._
    val tri = Seq((0.0, 0.0), (4.0, 0.0), (0.0, 4.0)) // (lat, lon)
    val pts = Seq((1.0, 1.0, true), (3.0, 3.0, false), (-1.0, 1.0, false))
    val df = pts.toDF("lat", "lon", "expected")
    val dyn = df.select(Geo.pointInPolygonDyn(col("lat"), col("lon"),
      tri.map { case (y, x) => (lit(y), lit(x)) }).as("in"), col("expected"))
      .collect()
    dyn.foreach(r => assert(r.getBoolean(0) === r.getBoolean(1)))
    val lit0 = df.select(Geo.pointInPolygon(col("lat"), col("lon"), tri).as("in"),
      col("expected")).collect()
    lit0.foreach(r => assert(r.getBoolean(0) === r.getBoolean(1)))
  }

  test("geometry: proper segment crossing — crossing true, touching/parallel false") {
    import spark.implicits._
    // A→B column segment vs C→D literal segment
    val rows = Seq(
      (0.0, 0.0, 2.0, 2.0, true),   // diagonal crosses the anti-diagonal
      (0.0, 0.0, 1.0, 1.0, false),  // ends ON the other segment (touching)
      (3.0, 3.0, 4.0, 4.0, false)   // disjoint
    ).toDF("ay", "ax", "by", "bx", "expected")
    val c = (2.0, 0.0); val d0 = (0.0, 2.0)
    rows.select(Geo.segmentsCross(col("ay"), col("ax"), col("by"), col("bx"), c, d0)
        .as("x"), col("expected")).collect()
      .foreach(r => assert(r.getBoolean(0) === r.getBoolean(1)))
  }

  test("geometry: polygonsIntersect covers vertex-in, containment, and edge-only overlap") {
    import spark.implicits._
    val query = Seq((0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0))
    // triangles as (y1,x1,y2,x2,y3,x3): inside; vertex-in; star-of-david
    // style edge-only crossing (all vertices outside, edges cross); disjoint
    val rows = Seq(
      (2.0, 2.0, 2.0, 3.0, 3.0, 2.0, true),        // fully inside
      (9.0, 9.0, 9.0, 12.0, 12.0, 9.0, true),      // one vertex inside
      (-1.0, 4.0, -1.0, 6.0, 11.0, 5.0, true),     // spike through: edge crossings only
      (20.0, 20.0, 21.0, 20.0, 20.0, 21.0, false)  // disjoint
    ).toDF("y1", "x1", "y2", "x2", "y3", "x3", "expected")
    val dv = Seq(("y1", "x1"), ("y2", "x2"), ("y3", "x3"))
      .map { case (y, x) => (col(y), col(x)) }
    rows.select(Geo.polygonsIntersect(dv, query).as("i"), col("expected")).collect()
      .foreach(r => assert(r.getBoolean(0) === r.getBoolean(1)))
  }
}
