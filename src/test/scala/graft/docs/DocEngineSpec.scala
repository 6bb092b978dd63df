package graft.docs

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.PlanSchema

/** Unit coverage for the document engine against the canonical plan
  * document shape (the reference's `usecase.json` content: one plan, two
  * planservices — SURVEY §5, FIXTURES.md §1). */
class DocEngineSpec extends SparkSpec {

  /** The canonical sample document as a JSON literal (same content as the
    * reference's usecase.json fixture). */
  val planJson: String =
    """{"planCostShares":{"deductible":2000,"_org":"example.com","copay":23,
      |"objectId":"1234vxc2324sdf-501","objectType":"membercostshare"},
      |"linkedPlanServices":[
      |{"linkedService":{"_org":"example.com","objectId":"1234520xvc30asdf-502",
      |"objectType":"service","name":"Yearly physical"},
      |"planserviceCostShares":{"deductible":10,"_org":"example.com","copay":0,
      |"objectId":"1234512xvc1314asdfs-503","objectType":"membercostshare"},
      |"_org":"example.com","objectId":"27283xvx9asdff-504","objectType":"planservice"},
      |{"linkedService":{"_org":"example.com","objectId":"1234520xvc30sfs-505",
      |"objectType":"service","name":"well baby"},
      |"planserviceCostShares":{"deductible":10,"_org":"example.com","copay":175,
      |"objectId":"1234512xvc1314sdfsd-506","objectType":"membercostshare"},
      |"_org":"example.com","objectId":"27283xvx9sdf-507","objectType":"planservice"}],
      |"_org":"example.com","objectId":"12xvxc345ssdsds-508","objectType":"plan",
      |"planType":"inNetwork","creationDate":"12-12-2017"}""".stripMargin.replace("\n", "")

  def docsDf(jsons: String*): DataFrame = {
    import spark.implicits._
    spark.read.schema(PlanSchema.plan).json(jsons.toDS).select(struct(
      PlanSchema.plan.fields.toSeq.map(f => col(f.name)): _*).as("doc"))
  }

  lazy val docs: DataFrame = docsDf(planJson)
  lazy val sh: Shredded = Shredder.shred(docs)

  test("shred produces the 8 entity rows with reference key/tag format") {
    val ents = sh.entities.select("key", "type_tag").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(ents === Set(
      ("plan_12xvxc345ssdsds-508", "plan"),
      ("planCostShares_1234vxc2324sdf-501", "planCostShares"),
      ("planservice_27283xvx9asdff-504", "planservice"),
      ("planservice_27283xvx9sdf-507", "planservice"),
      ("linkedService_1234520xvc30asdf-502", "linkedService"),
      ("linkedService_1234520xvc30sfs-505", "linkedService"),
      ("planserviceCostShares_1234512xvc1314asdfs-503", "planserviceCostShares"),
      ("planserviceCostShares_1234512xvc1314sdfsd-506", "planserviceCostShares")))
  }

  test("shred produces the 6 edge rows with array ordinals") {
    val edges = sh.edges.collect().map(r =>
      (r.getString(0), r.getString(1), Option(r.get(2)), r.getString(3))).toSet
    assert(edges === Set(
      ("plan_12xvxc345ssdsds-508", "planCostShares", None, "planCostShares_1234vxc2324sdf-501"),
      ("plan_12xvxc345ssdsds-508", "linkedPlanServices", Some(0), "planservice_27283xvx9asdff-504"),
      ("plan_12xvxc345ssdsds-508", "linkedPlanServices", Some(1), "planservice_27283xvx9sdf-507"),
      ("planservice_27283xvx9asdff-504", "linkedService", None, "linkedService_1234520xvc30asdf-502"),
      ("planservice_27283xvx9asdff-504", "planserviceCostShares", None, "planserviceCostShares_1234512xvc1314asdfs-503"),
      ("planservice_27283xvx9sdf-507", "linkedService", None, "linkedService_1234520xvc30sfs-505"),
      ("planservice_27283xvx9sdf-507", "planserviceCostShares", None, "planserviceCostShares_1234512xvc1314sdfsd-506")))
  }

  test("round-trip: assemble(shred(doc)) == doc, including array order") {
    val back = Assembler.assemble(sh, PlanSchema.plan, "plan")
    val orig = docs.select(to_json(CanonicalJson.canonicalize(col("doc"), PlanSchema.plan))).head.getString(0)
    val rt = back.select(to_json(CanonicalJson.canonicalize(col("doc"), PlanSchema.plan))).head.getString(0)
    assert(rt === orig)
    val names = back.select(transform(col("doc.linkedPlanServices"),
      x => x.getField("linkedService").getField("name"))).head.getSeq[String](0)
    assert(names === Seq("Yearly physical", "well baby"))
  }

  test("empty array round-trips as empty (not null), null stays null") {
    val emptyArr = planJson.replace(
      """"linkedPlanServices":[{"linkedService"""",
      """"ignored":[{"linkedService"""")
    // emptyArr now has no linkedPlanServices key at all → null; also build one with []
    val withEmpty = docsDf(planJson.substring(0, planJson.indexOf("\"linkedPlanServices\"")) +
      "\"linkedPlanServices\":[]," +
      planJson.substring(planJson.indexOf("\"_org\":\"example.com\",\"objectId\":\"12xvxc")))
    val sh2 = Shredder.shred(withEmpty)
    val back = Assembler.assemble(sh2, PlanSchema.plan, "plan")
    val arr = back.select(col("doc.linkedPlanServices")).head
    assert(!arr.isNullAt(0) && arr.getSeq[Row](0).isEmpty)

    val shNull = Shredder.shred(docsDf(emptyArr))
    val backNull = Assembler.assemble(shNull, PlanSchema.plan, "plan")
    assert(backNull.select(col("doc.linkedPlanServices")).head.isNullAt(0))
  }

  test("merge-patch: scalar overwrite, same-id struct replace, array upsert moves to end, insert") {
    val patchJson =
      """{"planCostShares":{"deductible":99,"_org":"example.com","copay":77,
        |"objectId":"1234vxc2324sdf-501","objectType":"membercostshare"},
        |"linkedPlanServices":[
        |{"linkedService":{"_org":"example.com","objectId":"1234520xvc30asdf-502",
        |"objectType":"service","name":"PATCHED physical"},
        |"planserviceCostShares":{"deductible":1,"_org":"example.com","copay":2,
        |"objectId":"1234512xvc1314asdfs-503","objectType":"membercostshare"},
        |"_org":"example.com","objectId":"27283xvx9asdff-504","objectType":"planservice"},
        |{"linkedService":{"_org":"example.com","objectId":"svc-new","objectType":"service","name":"brand new"},
        |"planserviceCostShares":{"deductible":3,"_org":"example.com","copay":4,
        |"objectId":"pcs-new","objectType":"membercostshare"},
        |"_org":"example.com","objectId":"ps-new","objectType":"planservice"}],
        |"objectId":"12xvxc345ssdsds-508","objectType":"plan","planType":"outNetwork"}""".stripMargin.replace("\n", "")
    val merged = MergePatch(docs, docsDf(patchJson), PlanSchema.plan)
    assert(merged.count() === 1)
    val row = merged.select(
      col("doc.planType"), col("doc.creationDate"), col("doc._org"),
      col("doc.planCostShares.deductible"),
      transform(col("doc.linkedPlanServices"), x => x.getField("objectId"))).head
    assert(row.getString(0) === "outNetwork")          // scalar overwritten
    assert(row.getString(1) === "12-12-2017")          // absent in patch → kept
    assert(row.getString(2) === "example.com")         // absent in patch → kept
    assert(row.getLong(3) === 99L)                     // same-id struct replaced
    // array upsert: -507 kept in place; -504 removed and re-appended; ps-new appended
    assert(row.getSeq[String](4) === Seq("27283xvx9sdf-507", "27283xvx9asdff-504", "ps-new"))
  }

  test("merge-patch inserts unknown root objectId") {
    val insert = planJson.replace("12xvxc345ssdsds-508", "brand-new-plan-1")
    val merged = MergePatch(docs, docsDf(insert), PlanSchema.plan)
    assert(merged.count() === 2)
  }

  test("cascade delete removes exactly the reachable closure") {
    // a mid-tree key: the edge-join reference takes any key; the product's
    // cascadeDelete takes root keys, as deletePlan(planKey) does
    val roots = spark.createDataFrame(Seq(Tuple1("planservice_27283xvx9asdff-504"))).toDF("key")
    val after = MutationsReference.cascadeDelete(sh, roots, Mutations.depth(PlanSchema.plan))
    val keys = after.entities.select("key").collect().map(_.getString(0)).toSet
    assert(keys === Set(
      "plan_12xvxc345ssdsds-508",
      "planCostShares_1234vxc2324sdf-501",
      "planservice_27283xvx9sdf-507",
      "linkedService_1234520xvc30sfs-505",
      "planserviceCostShares_1234512xvc1314sdfsd-506"))
    assert(after.edges.filter(col("parent_key") === "planservice_27283xvx9asdff-504").count() === 0)
  }

  test("etag is content-addressed: stable under field reordering, changes on content change") {
    // Same content, different key order in the JSON text.
    val reordered =
      """{"creationDate":"12-12-2017","planType":"inNetwork","objectType":"plan",
        |"objectId":"12xvxc345ssdsds-508","_org":"example.com"}""".stripMargin.replace("\n", "")
    val base =
      """{"_org":"example.com","objectId":"12xvxc345ssdsds-508","objectType":"plan",
        |"planType":"inNetwork","creationDate":"12-12-2017"}""".stripMargin.replace("\n", "")
    val changed = base.replace("inNetwork", "outNetwork")
    val Seq(e1, e2, e3) = docsDf(reordered, base, changed)
      .select(CanonicalJson.etag(col("doc"), PlanSchema.plan)).collect().toSeq.map(_.getLong(0))
    assert(e1 === e2)
    assert(e1 !== e3)
  }

  test("etag guard admits matching If-Match and rejects stale") {
    val current = docs.select(
      concat(col("doc.objectType"), lit("_"), col("doc.objectId")).as("key"),
      CanonicalJson.etag(col("doc"), PlanSchema.plan).as("etag"))
    val good = current.select(col("key"), col("etag").as("if_match"))
    val stale = current.select(col("key"), (col("etag") + 1).as("if_match"))
    val (ok1, bad1) = Mutations.etagGuard(good, current)
    val (ok2, bad2) = Mutations.etagGuard(stale, current)
    assert(ok1.count() === 1 && bad1.count() === 0)
    assert(ok2.count() === 0 && bad2.count() === 1)
  }

  test("malformed raw JSON lands in the corrupt-record quarantine, valid rows parse") {
    // M1 ingest of untrusted bytes: from_json PERMISSIVE mode nulls the
    // struct for unparseable input — the engine's 400 for broken bodies,
    // one stage before schema validation catches shape violations.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val raw = Seq(
      planJson.replaceAll("\\s+", " "),
      """{"not json""",
      """[1,2,3]""").toDF("body")
    val parsed = raw.select(col("body"),
      from_json(col("body"), graft.model.PlanSchema.plan).as("doc"))
    val ok = parsed.filter(col("doc").isNotNull && col("doc.objectId").isNotNull)
    val corrupt = parsed.filter(col("doc").isNull || col("doc.objectId").isNull)
    assert(ok.count() === 1)
    assert(corrupt.count() === 2)
    assert(ok.head().getStruct(1).getAs[String]("objectId") === "12xvxc345ssdsds-508")
  }

  test("validator quarantines missing required fields") {
    val bad = planJson.replace("\"planType\":\"inNetwork\",", "")
    val (valid, quarantine) = Validator.validate(docsDf(planJson, bad))
    assert(valid.count() === 1)
    val errs = quarantine.select(explode(col("errors"))).collect().map(_.getString(0)).toSet
    assert(errs === Set("missing required: planType"))
  }

  test("validator flags missing fields inside linkedPlanServices elements") {
    val bad = planJson.replace("\"objectId\":\"27283xvx9asdff-504\",", "")
    val (_, quarantine) = Validator.validate(docsDf(bad))
    val errs = quarantine.select(explode(col("errors"))).collect().map(_.getString(0)).toSet
    assert(errs.contains("missing required: linkedPlanServices[].objectId"))
  }

  test("glob translation handles *, ? and escapes SQL wildcards") {
    assert(SearchOps.globToLike("example*") === "example%")
    assert(SearchOps.globToLike("Year*") === "Year%")
    assert(SearchOps.globToLike("a?c") === "a_c")
    assert(SearchOps.globToLike("50%_x*") === "50\\%\\_x%")
    import spark.implicits._
    val df = Seq("example.com", "sample.com", "exam_le.com").toDF("s")
    assert(df.filter(SearchOps.wildcard(col("s"), "example*")).count() === 1)
    assert(df.filter(SearchOps.wildcard(col("s"), "exam_le*")).count() === 1)
  }

  test("canonical search queries Q1-Q5 over the sample doc") {
    val assembledDocs = Assembler.assemble(sh, PlanSchema.plan, "plan")
    assert(assembledDocs.count() === 1) // Q1 match_all
    // Q2 nested match on linkedService.objectId (README.md:79-95)
    assert(assembledDocs.filter(SearchOps.nestedMatch(col("doc.linkedPlanServices"),
      x => x.getField("linkedService").getField("objectId") === "1234520xvc30asdf-502")).count() === 1)
    // inner_hits projects exactly the matching element
    val hits = assembledDocs.select(SearchOps.innerHits(col("doc.linkedPlanServices"),
      x => x.getField("linkedService").getField("objectId") === "1234520xvc30asdf-502").as("h"))
      .select(size(col("h"))).head.getInt(0)
    assert(hits === 1)
    // Q3 wildcard on _org (README.md:96-108)
    assert(assembledDocs.filter(SearchOps.wildcard(col("doc._org"), "example*")).count() === 1)
    assert(assembledDocs.filter(SearchOps.wildcard(col("doc._org"), "nomatch*")).count() === 0)
    // Q4 nested wildcard on keyword name (README.md:109-127)
    assert(assembledDocs.filter(SearchOps.nestedMatch(col("doc.linkedPlanServices"),
      x => SearchOps.wildcard(x.getField("linkedService").getField("name"), "Year*"))).count() === 1)
    // Q5 numeric range on copay (README.md:128-147)
    assert(assembledDocs.filter(SearchOps.range(col("doc.planCostShares.copay"), 20, 35)).count() === 1)
    assert(assembledDocs.filter(SearchOps.range(col("doc.planCostShares.copay"), 30, 35)).count() === 0)
    // Q6 tokenized match
    assert(docs.filter(SearchOps.tokenMatch(
      element_at(col("doc.linkedPlanServices"), 1).getField("linkedService").getField("name"),
      "yearly")).count() === 1)
  }

  test("the five README Kibana query bodies parse and match the canonical doc VERBATIM") {
    import SearchQuery._
    // README.md:70-147 — copied verbatim (values included: the canonical
    // fixture IS usecase.json, so every query matches it).
    val bodies = Seq(
      """{"query": {"match_all": {}}}""" -> MatchAll,
      """{"query": {"nested": {"path": "linkedPlanServices.linkedService",
        |  "query": {"match": {"linkedPlanServices.linkedService.objectId": "1234520xvc30asdf-502"}},
        |  "inner_hits": {}}}}""".stripMargin ->
        NestedTokenMatch(Seq("linkedPlanServices"), Seq("linkedService", "objectId"), "1234520xvc30asdf-502"),
      """{"query": {"wildcard": {"_org": {"value": "example*"}}}}""" ->
        Wildcard(Seq("_org"), "example*"),
      """{"query": {"nested": {"path": "linkedPlanServices.linkedService",
        |  "query": {"wildcard": {"linkedPlanServices.linkedService.name.keyword": {"value": "Year*"}}},
        |  "inner_hits": {}}}}""".stripMargin ->
        NestedWildcard(Seq("linkedPlanServices"), Seq("linkedService", "name"), "Year*"),
      """{"query": {"nested": {"path": "planCostShares",
        |  "query": {"range": {"planCostShares.copay": {"gte": 20, "lte": 35}}},
        |  "inner_hits": {}}}}""".stripMargin ->
        Range(Seq("planCostShares", "copay"), 20, 35))
    val assembledDocs = Assembler.assemble(sh, PlanSchema.plan, "plan")
    bodies.foreach { case (body, expectedAst) =>
      val ast = SearchQuery.fromJson(body, PlanSchema.plan)
      assert(ast === expectedAst, s"AST mismatch for: $body")
      assert(assembledDocs.filter(SearchQuery.compile(ast, col("doc"))).count() === 1,
        s"query failed to match the canonical doc: $body")
    }
    // bool composition + non-matching value → excluded
    val boolBody =
      """{"query": {"bool": {
        |  "must": [{"wildcard": {"_org": {"value": "example*"}}}],
        |  "must_not": [{"match": {"planType": "outnetwork"}}]}}}""".stripMargin
    assert(assembledDocs.filter(
      SearchQuery.compile(SearchQuery.fromJson(boolBody, PlanSchema.plan), col("doc"))).count() === 1)
    val noMatch = """{"query": {"wildcard": {"_org": {"value": "nomatch*"}}}}"""
    assert(assembledDocs.filter(
      SearchQuery.compile(SearchQuery.fromJson(noMatch, PlanSchema.plan), col("doc"))).count() === 0)
  }

  test("bool should is a scoring boost, not a filter, when must is present (ES minimum_should_match=0)") {
    import SearchQuery._
    val assembledDocs = Assembler.assemble(sh, PlanSchema.plan, "plan")
    // should clause matches nothing; ES still returns the must hit set
    val body =
      """{"query": {"bool": {
        |  "must": [{"wildcard": {"_org": {"value": "example*"}}}],
        |  "should": [{"match": {"planType": "nosuchtype"}}]}}}""".stripMargin
    assert(SearchQuery.fromJson(body, PlanSchema.plan) === Wildcard(Seq("_org"), "example*"))
    assert(assembledDocs.filter(
      SearchQuery.compile(SearchQuery.fromJson(body, PlanSchema.plan), col("doc"))).count() === 1)
    // explicit minimum_should_match: 1 restores the filtering disjunction
    val pinned =
      """{"query": {"bool": {
        |  "must": [{"wildcard": {"_org": {"value": "example*"}}}],
        |  "should": [{"match": {"planType": "nosuchtype"}}],
        |  "minimum_should_match": 1}}}""".stripMargin
    assert(assembledDocs.filter(
      SearchQuery.compile(SearchQuery.fromJson(pinned, PlanSchema.plan), col("doc"))).count() === 0)
    // should alone still filters (ES default minimum_should_match=1)
    val alone =
      """{"query": {"bool": {"should": [{"match": {"planType": "nosuchtype"}}]}}}"""
    assert(assembledDocs.filter(
      SearchQuery.compile(SearchQuery.fromJson(alone, PlanSchema.plan), col("doc"))).count() === 0)
  }

  test("minimum_should_match >= 2 compiles to n-of-m clause satisfaction") {
    import SearchQuery._
    val assembledDocs = Assembler.assemble(sh, PlanSchema.plan, "plan")
    def msmBody(n: Int) =
      s"""{"query": {"bool": {"should": [
         |  {"wildcard": {"_org": {"value": "example*"}}},
         |  {"range": {"planCostShares.copay": {"gte": 20, "lte": 35}}},
         |  {"match": {"planType": "nosuchtype"}}],
         |  "minimum_should_match": $n}}}""".stripMargin
    // canonical doc satisfies exactly 2 of the 3 shoulds (copay=23,
    // _org=example.com, planType=inNetwork)
    assert(SearchQuery.fromJson(msmBody(2), PlanSchema.plan).isInstanceOf[AtLeast])
    assert(assembledDocs.filter(
      SearchQuery.compile(SearchQuery.fromJson(msmBody(2), PlanSchema.plan), col("doc"))).count() === 1)
    assert(assembledDocs.filter(
      SearchQuery.compile(SearchQuery.fromJson(msmBody(3), PlanSchema.plan), col("doc"))).count() === 0)
    // msm beyond the clause count is unsatisfiable (ES behavior), not an error
    assert(assembledDocs.filter(
      SearchQuery.compile(SearchQuery.fromJson(msmBody(4), PlanSchema.plan), col("doc"))).count() === 0)
  }

  test("bool filter clause is a non-scoring must; unknown bool keys are rejected") {
    import SearchQuery._
    val assembledDocs = Assembler.assemble(sh, PlanSchema.plan, "plan")
    // filter narrows the hit set exactly like must
    val filterHit =
      """{"query": {"bool": {"filter": [{"wildcard": {"_org": {"value": "example*"}}}]}}}"""
    assert(SearchQuery.fromJson(filterHit, PlanSchema.plan) === Wildcard(Seq("_org"), "example*"))
    val filterMiss =
      """{"query": {"bool": {"filter": [{"match": {"planType": "nosuchtype"}}]}}}"""
    assert(assembledDocs.filter(
      SearchQuery.compile(SearchQuery.fromJson(filterMiss, PlanSchema.plan), col("doc"))).count() === 0)
    // filter present => should defaults to msm=0 (boost-only), same as must
    val filterPlusShould =
      """{"query": {"bool": {
        |  "filter": [{"wildcard": {"_org": {"value": "example*"}}}],
        |  "should": [{"match": {"planType": "nosuchtype"}}]}}}""".stripMargin
    assert(assembledDocs.filter(
      SearchQuery.compile(SearchQuery.fromJson(filterPlusShould, PlanSchema.plan), col("doc"))).count() === 1)
    // a misspelled/unsupported clause must never silently become MatchAll
    val typo = """{"query": {"bool": {"fliter": [{"match_all": {}}]}}}"""
    assertThrows[IllegalArgumentException](SearchQuery.fromJson(typo, PlanSchema.plan))
  }

  test("range gt/lt compile to exclusive bounds; bad bound keys still rejected") {
    import SearchQuery._
    val assembledDocs = Assembler.assemble(sh, PlanSchema.plan, "plan")
    def cnt(body: String): Long = assembledDocs.filter(
      SearchQuery.compile(SearchQuery.fromJson(body, PlanSchema.plan), col("doc"))).count()
    // canonical doc: planCostShares.copay = 23
    assert(SearchQuery.fromJson(
      """{"query": {"range": {"planCostShares.copay": {"gt": 5, "lt": 23}}}}""",
      PlanSchema.plan) === Range(Seq("planCostShares", "copay"), 5, 23, loIncl = false, hiIncl = false))
    assert(cnt("""{"query": {"range": {"planCostShares.copay": {"gt": 22}}}}""") === 1)
    assert(cnt("""{"query": {"range": {"planCostShares.copay": {"gt": 23}}}}""") === 0)
    assert(cnt("""{"query": {"range": {"planCostShares.copay": {"lt": 24}}}}""") === 1)
    assert(cnt("""{"query": {"range": {"planCostShares.copay": {"lt": 23}}}}""") === 0)
    assert(cnt("""{"query": {"range": {"planCostShares.copay": {"gt": 22, "lte": 23}}}}""") === 1)
    val typo = """{"query": {"range": {"planCostShares.copay": {"gte": 5, "lta": 9}}}}"""
    assertThrows[IllegalArgumentException](SearchQuery.fromJson(typo, PlanSchema.plan))
    val both = """{"query": {"range": {"planCostShares.copay": {"gte": 5, "gt": 9}}}}"""
    assertThrows[IllegalArgumentException](SearchQuery.fromJson(both, PlanSchema.plan))
  }

  test("terms / exists / prefix / match_phrase parse and match with ES semantics") {
    import SearchQuery._
    val assembledDocs = Assembler.assemble(sh, PlanSchema.plan, "plan")
    def cnt(body: String): Long = assembledDocs.filter(
      SearchQuery.compile(SearchQuery.fromJson(body, PlanSchema.plan), col("doc"))).count()
    // terms: keyword membership, top-level and through the array path
    assert(SearchQuery.fromJson(
      """{"query": {"terms": {"planType": ["inNetwork", "outNetwork"]}}}""",
      PlanSchema.plan) === TermsIn(Seq("planType"), Seq("inNetwork", "outNetwork")))
    assert(cnt("""{"query": {"terms": {"planType": ["inNetwork", "outNetwork"]}}}""") === 1)
    assert(cnt("""{"query": {"terms": {"planType": ["outNetwork"]}}}""") === 0)
    assert(cnt(
      """{"query": {"terms": {"linkedPlanServices.linkedService.name.keyword": ["well baby", "nope"]}}}""") === 1)
    assertThrows[IllegalArgumentException](SearchQuery.fromJson(
      """{"query": {"terms": {"planType": []}}}""", PlanSchema.plan))
    // prefix: LITERAL — '*' is just a character, not a glob
    assert(cnt("""{"query": {"prefix": {"_org": {"value": "example"}}}}""") === 1)
    assert(cnt("""{"query": {"prefix": {"_org": "example*"}}}""") === 0)
    assert(cnt("""{"query": {"prefix": {"linkedPlanServices.linkedService.name.keyword": "Yearly"}}}""") === 1)
    assert(cnt("""{"query": {"prefix": {"linkedPlanServices.linkedService.name.keyword": "early"}}}""") === 0)
    // match_phrase: tokens must be CONSECUTIVE (and analyzed: lowercased)
    assert(cnt("""{"query": {"match_phrase": {"linkedPlanServices.linkedService.name": "yearly physical"}}}""") === 1)
    assert(cnt("""{"query": {"match_phrase": {"linkedPlanServices.linkedService.name": "physical yearly"}}}""") === 0)
    assert(cnt("""{"query": {"match_phrase": {"planType": "innetwork"}}}""") === 1)
    // fuzzy: unanalyzed term within `fuzziness` edits; AUTO rejected
    assert(cnt("""{"query": {"fuzzy": {"planType": {"value": "inNetwerk", "fuzziness": 1}}}}""") === 1)
    assert(cnt("""{"query": {"fuzzy": {"planType": {"value": "inNetwerks", "fuzziness": 1}}}}""") === 0)
    assert(cnt("""{"query": {"fuzzy": {"linkedPlanServices.linkedService.name.keyword": {"value": "wall baby", "fuzziness": 1}}}}""") === 1)
    assertThrows[IllegalArgumentException](SearchQuery.fromJson(
      """{"query": {"fuzzy": {"planType": {"value": "x", "fuzziness": "AUTO"}}}}""",
      PlanSchema.plan))
    // regexp: ANCHORED whole-value match (ES/Lucene), not substring rlike
    assert(cnt("""{"query": {"regexp": {"_org": "example\\.[a-z]+"}}}""") === 1)
    assert(cnt("""{"query": {"regexp": {"_org": "example"}}}""") === 0)
    assert(cnt("""{"query": {"regexp": {"linkedPlanServices.linkedService.name.keyword": "[Ww]ell .*"}}}""") === 1)
    // ids: the engine's _id is objectId
    assert(cnt("""{"query": {"ids": {"values": ["12xvxc345ssdsds-508", "nope"]}}}""") === 1)
    assert(cnt("""{"query": {"ids": {"values": ["nope"]}}}""") === 0)
    // exists: ES indexes NO value for [], so an empty array is missing
    val emptyArrayDoc =
      """{"planCostShares":{"deductible":1,"_org":"example.com","copay":1,
        |"objectId":"cs-empty","objectType":"membercostshare"},
        |"linkedPlanServices":[],"_org":"other.org","objectId":"plan-empty",
        |"objectType":"plan","planType":"inNetwork","creationDate":"12-12-2017"}"""
        .stripMargin.replace("\n", "")
    val two = docsDf(planJson, emptyArrayDoc)
    def cnt2(body: String): Long = two.filter(
      SearchQuery.compile(SearchQuery.fromJson(body, PlanSchema.plan), col("doc"))).count()
    assert(cnt2("""{"query": {"exists": {"field": "planType"}}}""") === 2)
    assert(cnt2("""{"query": {"exists": {"field": "linkedPlanServices"}}}""") === 1)
    assert(cnt2("""{"query": {"bool": {"must_not": [{"exists": {"field": "linkedPlanServices"}}]}}}""") === 1)
    // exists through the array path: SOME element carries the field
    assert(cnt2("""{"query": {"exists": {"field": "linkedPlanServices.linkedService.name"}}}""") === 1)
  }

  test("ES aggs bodies compile to groupBy: terms, histogram, global metrics; bad bodies rejected") {
    val assembledDocs = Assembler.assemble(sh, PlanSchema.plan, "plan")
    // terms bucket + metric sub-aggs over the canonical doc
    val terms =
      """{"size": 0, "aggs": {"by_type": {"terms": {"field": "planType"},
        |  "aggs": {"avg_copay": {"avg": {"field": "planCostShares.copay"}},
        |           "max_ded": {"max": {"field": "planCostShares.deductible"}}}}}}""".stripMargin
    val tRow = EsAggs.run(assembledDocs, "doc", terms, PlanSchema.plan).collect()
    assert(tRow.length === 1)
    assert(tRow(0).getAs[String]("key") === "inNetwork")
    assert(tRow(0).getAs[Long]("doc_count") === 1L)
    assert(tRow(0).getAs[Double]("avg_copay") === 23.0)
    assert(tRow(0).getAs[Long]("max_ded") === 2000L)
    // histogram bins by floor(v/interval)*interval
    val hist =
      """{"aggs": {"h": {"histogram": {"field": "planCostShares.copay", "interval": 10}}}}"""
    val hRow = EsAggs.run(assembledDocs, "doc", hist, PlanSchema.plan).collect()
    assert(hRow.length === 1 && hRow(0).getAs[Long]("key") === 20L)
    // global metrics (no bucket), with a filtering query
    val global =
      """{"query": {"match_all": {}},
        |"aggs": {"n": {"value_count": {"field": "objectId"}},
        |         "sum_copay": {"sum": {"field": "planCostShares.copay"}}}}""".stripMargin
    val gRow = EsAggs.run(assembledDocs, "doc", global, PlanSchema.plan).collect()
    assert(gRow(0).getAs[Long]("n") === 1L && gRow(0).getAs[Double]("sum_copay") === 23.0)
    // rejections: no aggs key, unknown metric kind, array-crossing field
    assertThrows[IllegalArgumentException](
      EsAggs.parse("""{"size": 0}""", PlanSchema.plan))
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"p": {"scripted_metric": {"field": "planCostShares.copay"}}}}""",
      PlanSchema.plan))
    // median_absolute_deviation is a flat metric only: inside a bucket agg
    // it needs a median pre-pass and is rejected loudly at plan build
    assertThrows[IllegalArgumentException](EsAggs.run(assembledDocs, "doc",
      """{"aggs": {"t": {"terms": {"field": "planType"},
        |  "aggs": {"m": {"median_absolute_deviation": {"field": "planCostShares.copay"}}}}}}""".stripMargin,
      PlanSchema.plan))
    // percentiles without explicit percents = the ES defaults
    assert(EsAggs.parse(
      """{"aggs": {"p": {"percentiles": {"field": "planCostShares.copay"}}}}""",
      PlanSchema.plan).metrics.head._2.percents === Seq(1.0, 5.0, 25.0, 50.0, 75.0, 95.0, 99.0))
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"x": {"avg": {"field": "linkedPlanServices.planserviceCostShares.copay"}}}}""",
      PlanSchema.plan))
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"t": {"terms": {"field": "planType"}, "order": "count"}}}""",
      PlanSchema.plan))
    // nested agg: the unit of aggregation becomes the array ELEMENT
    val nested =
      """{"size": 0, "aggs": {"svc": {"nested": {"path": "linkedPlanServices"},
        |  "aggs": {"by_name": {"terms": {"field": "linkedPlanServices.linkedService.name.keyword"},
        |    "aggs": {"avg_copay": {"avg": {"field": "linkedPlanServices.planserviceCostShares.copay"}}}}}}}}""".stripMargin
    val nRows = EsAggs.run(assembledDocs, "doc", nested, PlanSchema.plan).collect()
    assert(nRows.length === 2) // two service elements = two name buckets
    assert(nRows.map(_.getAs[String]("key")).toSet === Set("Yearly physical", "well baby"))
    assert(nRows.forall(_.getAs[Long]("doc_count") === 1L))
    // element-level metric: copays are 0 and 175, one element per bucket
    assert(nRows.map(_.getAs[Double]("avg_copay")).toSet === Set(0.0, 175.0))
    // nested agg over a struct path is a no-op context switch (ES ditto)
    val structNested =
      """{"aggs": {"cs": {"nested": {"path": "planCostShares"},
        |  "aggs": {"max_ded": {"max": {"field": "planCostShares.deductible"}}}}}}""".stripMargin
    assert(EsAggs.run(assembledDocs, "doc", structNested, PlanSchema.plan)
      .collect()(0).getAs[Long]("max_ded") === 2000L)
    // a field outside the declared nested context is rejected
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"svc": {"nested": {"path": "linkedPlanServices"},
        |  "aggs": {"bad": {"avg": {"field": "planCostShares.copay"}}}}}}""".stripMargin,
      PlanSchema.plan))
    // two-level split series: nested context, terms split by terms with a
    // child top-N — both elements share objectType 'planservice' (one
    // parent), split into two name buckets; size=1 keeps the count-desc,
    // key-asc first child only
    val split =
      """{"aggs": {"svc": {"nested": {"path": "linkedPlanServices"},
        |  "aggs": {"by_type": {"terms": {"field": "linkedPlanServices.objectType"},
        |    "aggs": {"by_name": {"terms": {"field": "linkedPlanServices.linkedService.name.keyword", "size": 1},
        |      "aggs": {"n": {"value_count": {"field": "linkedPlanServices.objectId"}}}}}}}}}}""".stripMargin
    val sRows = EsAggs.run(assembledDocs, "doc", split, PlanSchema.plan).collect()
    assert(sRows.length === 1)
    assert(sRows(0).getAs[String]("key") === "planservice")
    assert(sRows(0).getAs[Long]("doc_count") === 2L) // parent counts BOTH elements
    assert(sRows(0).getAs[String]("key2") === "Yearly physical") // tie → key asc
    assert(sRows(0).getAs[Long]("doc_count2") === 1L)
    assert(sRows(0).getAs[Long]("n") === 1L)
    // four bucket levels parse (Kibana "split rows ×3", d114); FIVE rejected
    EsAggs.parse(
      """{"aggs": {"a": {"terms": {"field": "planType"},
        |  "aggs": {"b": {"terms": {"field": "_org"},
        |    "aggs": {"c": {"terms": {"field": "objectType"},
        |      "aggs": {"e": {"terms": {"field": "objectId"}}}}}}}}}}""".stripMargin,
      PlanSchema.plan)
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"a": {"terms": {"field": "planType"},
        |  "aggs": {"b": {"terms": {"field": "_org"},
        |    "aggs": {"c": {"terms": {"field": "objectType"},
        |      "aggs": {"e": {"terms": {"field": "objectId"},
        |        "aggs": {"f": {"terms": {"field": "creationDate"}}}}}}}}}}}}""".stripMargin,
      PlanSchema.plan))
    // a NON-LEAF level may not order by a metric (metrics live at the leaf)
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"a": {"terms": {"field": "planType", "order": {"m": "desc"}},
        |  "aggs": {"b": {"terms": {"field": "_org"},
        |    "aggs": {"m": {"avg": {"field": "planCostShares.copay"}}}}}}}}""".stripMargin,
      PlanSchema.plan))
    // mixing metrics with a bucket at one level is rejected with intent
    val mixedErr = intercept[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"m": {"avg": {"field": "planCostShares.copay"}},
        |  "b": {"terms": {"field": "planType"}}}}""".stripMargin,
      PlanSchema.plan))
    assert(mixedErr.getMessage.contains("LEAF bucket level"))
  }

  test("match analyzes multi-token queries (or/and operators); constant_score and dis_max wrap hit sets") {
    import SearchQuery._
    val assembledDocs = Assembler.assemble(sh, PlanSchema.plan, "plan")
    def cnt(body: String): Long = assembledDocs.filter(
      SearchQuery.compile(SearchQuery.fromJson(body, PlanSchema.plan), col("doc"))).count()
    // multi-token match = OR of per-token matches (ES default operator)
    assert(SearchQuery.fromJson(
      """{"query": {"match": {"planType": "innetwork missing"}}}""", PlanSchema.plan) ===
      Or(TermMatch(Seq("planType"), "innetwork"), TermMatch(Seq("planType"), "missing")))
    assert(cnt("""{"query": {"match": {"planType": "innetwork missing"}}}""") === 1)
    // operator=and requires every token
    assert(cnt("""{"query": {"match": {"planType": {"query": "innetwork missing", "operator": "and"}}}}""") === 0)
    assert(cnt("""{"query": {"match": {"planType": {"query": "innetwork", "operator": "and"}}}}""") === 1)
    // unknown match keys are rejected, not silently ignored
    assertThrows[IllegalArgumentException](SearchQuery.fromJson(
      """{"query": {"match": {"planType": {"query": "x", "fuzziness": 1}}}}""", PlanSchema.plan))
    // constant_score = the filter's hit set; dis_max = union of queries
    assert(cnt(
      """{"query": {"constant_score": {"filter": {"match": {"planType": "innetwork"}}}}}""") === 1)
    assert(cnt(
      """{"query": {"dis_max": {"queries": [
        |  {"match": {"planType": "nosuchtype"}},
        |  {"prefix": {"_org": "example"}}]}}}""".stripMargin) === 1)
    assertThrows[IllegalArgumentException](SearchQuery.fromJson(
      """{"query": {"dis_max": {"queries": []}}}""", PlanSchema.plan))
    assertThrows[IllegalArgumentException](SearchQuery.fromJson(
      """{"query": {"constant_score": {"query": {"match_all": {}}}}}""", PlanSchema.plan))
  }

  test("script_fields / docvalue_fields: parse guards") {
    import graft.model.{PlanSchema => PS}
    // _score-reading script fields are rejected (page may carry no score)
    assertThrows[IllegalArgumentException](SearchQuery.parseFullBody(
      """{"query": {"match_all": {}},
        |"script_fields": {"x": {"script": "_score * 2"}}}""".stripMargin, PS.plan))
    // docvalue format on a non-long/timestamp leaf
    assertThrows[IllegalArgumentException](SearchQuery.parseFullBody(
      """{"query": {"match_all": {}},
        |"docvalue_fields": [{"field": "planType", "format": "yyyy"}]}""".stripMargin, PS.plan))
    // array-path docvalues (scalar-output gate rule)
    assertThrows[IllegalArgumentException](SearchQuery.parseFullBody(
      """{"query": {"match_all": {}},
        |"docvalue_fields": ["linkedPlanServices.planserviceCostShares.copay"]}""".stripMargin,
      PS.plan))
    // happy path: string form + format form both parse
    val fb = SearchQuery.parseFullBody(
      """{"query": {"match_all": {}},
        |"script_fields": {"x2": {"script": {"source": "doc['planCostShares.copay'].value * 2"}}},
        |"docvalue_fields": ["planType",
        |  {"field": "planCostShares.copay", "format": "yyyy"}]}""".stripMargin, PS.plan)
    assert(fb.scriptFields.map(_._1) === Seq("x2"))
    assert(fb.docvalueFields ===
      Seq((Seq("planType"), None), (Seq("planCostShares", "copay"), Some("yyyy"))))
  }

  test("search_after validates arity and excludes from; pages are cursor-consistent") {
    val assembledDocs = Assembler.assemble(sh, PlanSchema.plan, "plan")
    // arity: one value per sort key
    assertThrows[IllegalArgumentException](SearchQuery.parseFullBody(
      """{"query": {"match_all": {}}, "sort": [{"objectId": "asc"}],
        |"search_after": ["a", "b"], "size": 5}""".stripMargin, PlanSchema.plan))
    // from + search_after is rejected (as in ES)
    assertThrows[IllegalArgumentException](SearchQuery.parseFullBody(
      """{"query": {"match_all": {}}, "sort": [{"objectId": "asc"}],
        |"search_after": ["a"], "from": 3, "size": 5}""".stripMargin, PlanSchema.plan))
    // sorting on an array path requires a nested-sort mode (min/max)
    assertThrows[IllegalArgumentException](SearchQuery.parseFullBody(
      """{"query": {"match_all": {}}, "size": 5,
        |"sort": [{"linkedPlanServices.planserviceCostShares.copay": "asc"}]}""".stripMargin,
      PlanSchema.plan))
    // with mode, the reduced key sorts: canonical doc copays are 0 and 175
    val byMin = SearchExec.search(assembledDocs, "doc",
      """{"query": {"match_all": {}}, "size": 5,
        |"sort": [{"linkedPlanServices.planserviceCostShares.copay": {"order": "desc", "mode": "max"}},
        |         {"objectId": "asc"}],
        |"_source": ["objectId"]}""".stripMargin, PlanSchema.plan).collect()
    assert(byMin.length === 1 && byMin(0).getAs[Long]("rn") === 1L)
    // collapse + search_after is rejected (cursor would apply pre-collapse)
    assertThrows[IllegalArgumentException](SearchQuery.parseFullBody(
      """{"query": {"match_all": {}}, "sort": [{"objectId": "asc"}],
        |"collapse": {"field": "planType"},
        |"search_after": ["a"], "size": 5}""".stripMargin, PlanSchema.plan))
    // cursor strictly after the only doc's objectId → empty page;
    // cursor before it → the doc
    def page(after: String) = SearchExec.search(assembledDocs, "doc",
      s"""{"query": {"match_all": {}}, "sort": [{"objectId": "asc"}],
         |"search_after": ["$after"], "size": 5,
         |"_source": ["objectId"]}""".stripMargin, PlanSchema.plan).collect()
    assert(page("12xvxc345ssdsds-508").isEmpty)
    assert(page("0").map(_.getAs[String]("objectId")).toSeq === Seq("12xvxc345ssdsds-508"))
  }

  test("multi_match ORs the query across fields with per-field match semantics") {
    import SearchQuery._
    val assembledDocs = Assembler.assemble(sh, PlanSchema.plan, "plan")
    val body =
      """{"query": {"multi_match": {"query": "inNetwork",
        |  "fields": ["planType", "linkedPlanServices.linkedService.name"]}}}""".stripMargin
    // best_fields IS a DisjunctionMaxQuery in ES — the node keeps the
    // max-vs-sum scoring intent for bm25 mode; the hit set is the union
    // (compiles exactly like the old Or desugar)
    assert(SearchQuery.fromJson(body, PlanSchema.plan) ===
      DisMax(Seq(TermMatch(Seq("planType"), "inNetwork"),
        NestedTokenMatch(Seq("linkedPlanServices"), Seq("linkedService", "name"), "inNetwork"))))
    assert(assembledDocs.filter(
      SearchQuery.compile(SearchQuery.fromJson(body, PlanSchema.plan), col("doc"))).count() === 1)
    // second field alone also hits — a multi-token query is ANALYZED
    // through the array path (per-token containment within an element,
    // like ES on a nested text field), not whole-string equality
    val viaName =
      """{"query": {"multi_match": {"query": "well baby",
        |  "fields": ["planType", "linkedPlanServices.linkedService.name"]}}}""".stripMargin
    assert(assembledDocs.filter(
      SearchQuery.compile(SearchQuery.fromJson(viaName, PlanSchema.plan), col("doc"))).count() === 1)
    val miss =
      """{"query": {"multi_match": {"query": "nosuch", "fields": ["planType", "_org"]}}}"""
    assert(assembledDocs.filter(
      SearchQuery.compile(SearchQuery.fromJson(miss, PlanSchema.plan), col("doc"))).count() === 0)
    // multi-token multi_match analyzes per token on top-level fields,
    // same as single-field match
    val multiTok =
      """{"query": {"multi_match": {"query": "nosuch innetwork", "fields": ["planType"]}}}"""
    assert(assembledDocs.filter(
      SearchQuery.compile(SearchQuery.fromJson(multiTok, PlanSchema.plan), col("doc"))).count() === 1)
    assertThrows[IllegalArgumentException](SearchQuery.fromJson(
      """{"query": {"multi_match": {"query": "x", "fields": [], "type": "phrase"}}}""",
      PlanSchema.plan))
  }

  test("multi_match types: most_fields parses to DisMax(tb=1) — the sum " +
    "fold — and phrase to per-field match_phrase legs") {
    import SearchQuery._
    val mf =
      """{"query": {"multi_match": {"query": "inNetwork",
        |  "fields": ["planType", "_org"], "type": "most_fields"}}}""".stripMargin
    assert(SearchQuery.fromJson(mf, PlanSchema.plan) ===
      DisMax(Seq(TermMatch(Seq("planType"), "inNetwork"),
        TermMatch(Seq("_org"), "inNetwork")), 1.0))
    val ph =
      """{"query": {"multi_match": {"query": "well baby",
        |  "fields": ["planType", "linkedPlanServices.linkedService.name"],
        |  "type": "phrase"}}}""".stripMargin
    assert(SearchQuery.fromJson(ph, PlanSchema.plan) ===
      DisMax(Seq(MatchPhrase(Seq("planType"), "well baby"),
        NestedMatchPhrase(Seq("linkedPlanServices"),
          Seq("linkedService", "name"), "well baby"))))
    // phrase hit set: CONSECUTIVE analyzed tokens per field, OR across
    // fields — same doc the analyzed multi_match above matched
    val assembledDocs = Assembler.assemble(sh, PlanSchema.plan, "plan")
    assert(assembledDocs.filter(
      SearchQuery.compile(SearchQuery.fromJson(ph, PlanSchema.plan),
        col("doc"))).count() === 1)
    // bool_prefix: per-field match_bool_prefix — leading tokens as
    // terms, LAST as a token prefix, DisMax(tb=1)-composed (ES scores
    // it like most_fields: per-field sum)
    val bp =
      """{"query": {"multi_match": {"query": "nosuch innet",
        |  "fields": ["planType", "_org"], "type": "bool_prefix"}}}""".stripMargin
    assert(SearchQuery.fromJson(bp, PlanSchema.plan) ===
      DisMax(Seq(Or(TermMatch(Seq("planType"), "nosuch"),
        TokenPrefix(Seq("planType"), "innet")),
        Or(TermMatch(Seq("_org"), "nosuch"),
          TokenPrefix(Seq("_org"), "innet"))), 1.0))
    assert(assembledDocs.filter(
      SearchQuery.compile(SearchQuery.fromJson(bp, PlanSchema.plan),
        col("doc"))).count() === 1) // "innet" prefixes innetwork
    // cross_fields: term-CENTRIC — each token in AT LEAST ONE field.
    // r18: the parse is the CrossFields marker (carrying fields/terms
    // for the bm25 blended scorer) WRAPPING the combined_fields desugar
    // (And-over-tokens of Or-over-fields under operator=and); hit
    // compilation delegates to the inner desugar unchanged
    val cf =
      """{"query": {"multi_match": {"query": "nosuch innetwork",
        |  "fields": ["planType", "_org"], "type": "cross_fields",
        |  "operator": "and"}}}""".stripMargin
    val cfInner =
      And(Or(TermMatch(Seq("planType"), "nosuch"), TermMatch(Seq("_org"), "nosuch")),
        Or(TermMatch(Seq("planType"), "innetwork"), TermMatch(Seq("_org"), "innetwork")))
    assert(SearchQuery.fromJson(cf, PlanSchema.plan) ===
      CrossFields(Seq(Seq("planType"), Seq("_org")),
        Seq("nosuch", "innetwork"), 0.0, cfInner))
    // operator=and: per-field AND of tokens (the single-field match
    // contract); phrase rejects the key
    val andQ =
      """{"query": {"multi_match": {"query": "nosuch innetwork",
        |  "fields": ["planType", "_org"], "operator": "and"}}}""".stripMargin
    assert(SearchQuery.fromJson(andQ, PlanSchema.plan) ===
      DisMax(Seq(And(TermMatch(Seq("planType"), "nosuch"),
        TermMatch(Seq("planType"), "innetwork")),
        And(TermMatch(Seq("_org"), "nosuch"),
          TermMatch(Seq("_org"), "innetwork")))))
    assert(assembledDocs.filter(
      SearchQuery.compile(SearchQuery.fromJson(andQ, PlanSchema.plan),
        col("doc"))).count() === 0) // "nosuch" kills both AND legs
    assertThrows[IllegalArgumentException](SearchQuery.fromJson(
      """{"query": {"multi_match": {"query": "a b", "fields": ["planType"],
        |  "type": "phrase", "operator": "and"}}}""".stripMargin,
      PlanSchema.plan))
  }

  test("multi_match operator=and through an array path binds all tokens to " +
    "the SAME element (NestedCompound — the pinned nested-scoping contract)") {
    import SearchQuery._
    val assembledDocs = Assembler.assemble(sh, PlanSchema.plan, "plan")
    // canonical doc: element 1 name "Yearly physical", element 2 name
    // "well baby". "well physical" has one token in EACH element — a
    // document-level And of per-token exists() would wrongly match; the
    // same-element contract (how single-field match and the bool_prefix
    // leg already compile) must not. r16 compiled this leg document-level
    // (ADVICE r16); all three entry points now share one scoping.
    val andArr =
      """{"query": {"multi_match": {"query": "well physical",
        |  "fields": ["linkedPlanServices.linkedService.name"],
        |  "operator": "and"}}}""".stripMargin
    val parsed = SearchQuery.fromJson(andArr, PlanSchema.plan)
    assert(parsed === NestedCompound(Seq("linkedPlanServices"),
      And(NestedTokenMatch(Seq("linkedPlanServices"), Seq("linkedService", "name"), "well"),
        NestedTokenMatch(Seq("linkedPlanServices"), Seq("linkedService", "name"), "physical"))))
    assert(assembledDocs.filter(SearchQuery.compile(parsed, col("doc"))).count() === 0)
    // both tokens in ONE element still match (element 2: "well baby")
    val sameEl =
      """{"query": {"multi_match": {"query": "well baby",
        |  "fields": ["linkedPlanServices.linkedService.name"],
        |  "operator": "and"}}}""".stripMargin
    assert(assembledDocs.filter(SearchQuery.compile(
      SearchQuery.fromJson(sameEl, PlanSchema.plan), col("doc"))).count() === 1)
    // operator=or keeps the union (SOME element per token)
    val orArr =
      """{"query": {"multi_match": {"query": "well physical",
        |  "fields": ["linkedPlanServices.linkedService.name"]}}}""".stripMargin
    assert(assembledDocs.filter(SearchQuery.compile(
      SearchQuery.fromJson(orArr, PlanSchema.plan), col("doc"))).count() === 1)
    // empty/whitespace phrase and phrase_prefix queries reject loudly
    // (matching every tokenizing branch) instead of building a
    // match-empty-text pattern
    assertThrows[IllegalArgumentException](SearchQuery.fromJson(
      """{"query": {"multi_match": {"query": "  ", "fields": ["planType"],
        |  "type": "phrase"}}}""".stripMargin, PlanSchema.plan))
    assertThrows[IllegalArgumentException](SearchQuery.fromJson(
      """{"query": {"multi_match": {"query": "", "fields": ["planType"],
        |  "type": "phrase_prefix"}}}""".stripMargin, PlanSchema.plan))
  }

  test("match_phrase_prefix: consecutive tokens with the LAST as a prefix " +
    "(autocomplete); multi_match phrase_prefix composes per field") {
    val assembledDocs = Assembler.assemble(sh, PlanSchema.plan, "plan")
    def n(body: String) = assembledDocs.filter(
      SearchQuery.compile(SearchQuery.fromJson(body, PlanSchema.plan),
        col("doc"))).count()
    // last token as prefix, through the nested array path
    assert(n("""{"query": {"match_phrase_prefix": {
      "linkedPlanServices.linkedService.name": "well ba"}}}""") === 1)
    // wrong order never matches (consecutive, in order)
    assert(n("""{"query": {"match_phrase_prefix": {
      "linkedPlanServices.linkedService.name": "baby wel"}}}""") === 0)
    // single-token form = token-prefix on a top-level field
    assert(n("""{"query": {"match_phrase_prefix": {"planType": "innet"}}}""") === 1)
    // max_expansions accepted (documented exact-unbounded superset)
    assert(n("""{"query": {"match_phrase_prefix": {"planType": {
      "query": "innet", "max_expansions": 10}}}}""") === 1)
    // multi_match type=phrase_prefix: per-field legs, union across fields
    assert(n("""{"query": {"multi_match": {"query": "well ba",
      "fields": ["planType", "linkedPlanServices.linkedService.name"],
      "type": "phrase_prefix"}}}""") === 1)
  }

  test("bool inside nested binds all leaves to the SAME element (ES nested semantics)") {
    import SearchQuery._
    val assembledDocs = Assembler.assemble(sh, PlanSchema.plan, "plan")
    // canonical doc elements: (name "Yearly physical", psCS.copay 0) and
    // (name "well baby", psCS.copay 175). Name matches element 1 only,
    // copay range matches element 2 only — a document-level conjunction of
    // two exists() would WRONGLY match; per-element conjunction must not.
    def nestedBool(glob: String, gte: Long) =
      s"""{"query": {"nested": {"path": "linkedPlanServices",
         |  "query": {"bool": {"must": [
         |    {"wildcard": {"linkedPlanServices.linkedService.name.keyword": {"value": "$glob"}}},
         |    {"range": {"linkedPlanServices.planserviceCostShares.copay": {"gte": $gte}}}]}},
         |  "inner_hits": {}}}}""".stripMargin
    val crossElement = SearchQuery.fromJson(nestedBool("Year*", 100), PlanSchema.plan)
    assert(crossElement.isInstanceOf[NestedCompound])
    assert(assembledDocs.filter(SearchQuery.compile(crossElement, col("doc"))).count() === 0)
    // same element satisfies both -> matches, and inner_hits returns
    // exactly that element
    val p = SearchQuery.parseBody(nestedBool("well*", 100), PlanSchema.plan)
    val (wp, in) = p.hits.head
    val hits = assembledDocs.filter(SearchQuery.compile(p.query, col("doc")))
      .select(explode(SearchQuery.innerHitCol(wp, in, col("doc"))).as("hit"))
      .select(col("hit.linkedService.name")).collect().map(_.getString(0))
    assert(hits.toSeq === Seq("well baby"))
    // must_not inside nested is per-element too: SOME element NOT named well* => matches
    val notBody =
      """{"query": {"nested": {"path": "linkedPlanServices",
        |  "query": {"bool": {"must_not": [
        |    {"wildcard": {"linkedPlanServices.linkedService.name.keyword": {"value": "well*"}}}]}}}}}""".stripMargin
    assert(assembledDocs.filter(SearchQuery.compile(
      SearchQuery.fromJson(notBody, PlanSchema.plan), col("doc"))).count() === 1)
  }

  test("inner_hits re-extracts the matched nested children from the JSON surface") {
    import org.apache.spark.sql.functions.explode
    val assembledDocs = Assembler.assemble(sh, PlanSchema.plan, "plan")
    // README query 2 verbatim: array-path nested match — the hit is the ONE
    // planservice element whose linkedService has the requested objectId
    val q2 =
      """{"query": {"nested": {"path": "linkedPlanServices.linkedService",
        |  "query": {"match": {"linkedPlanServices.linkedService.objectId": "1234520xvc30asdf-502"}},
        |  "inner_hits": {}}}}""".stripMargin
    val p2 = SearchQuery.parseBody(q2, PlanSchema.plan)
    assert(p2.hits.size === 1)
    val (wp2, in2) = p2.hits.head
    val hits2 = assembledDocs.filter(SearchQuery.compile(p2.query, col("doc")))
      .select(explode(SearchQuery.innerHitCol(wp2, in2, col("doc"))).as("hit"))
      .select(col("hit.linkedService.objectId")).collect().map(_.getString(0))
    assert(hits2.toSeq === Seq("1234520xvc30asdf-502"))
    // README query 5 verbatim: struct-path nested wrapper — the hit is the
    // planCostShares struct itself when the range matches
    val q5 =
      """{"query": {"nested": {"path": "planCostShares",
        |  "query": {"range": {"planCostShares.copay": {"gte": 20, "lte": 35}}},
        |  "inner_hits": {}}}}""".stripMargin
    val p5 = SearchQuery.parseBody(q5, PlanSchema.plan)
    val (wp5, in5) = p5.hits.head
    val hits5 = assembledDocs.filter(SearchQuery.compile(p5.query, col("doc")))
      .select(explode(SearchQuery.innerHitCol(wp5, in5, col("doc"))).as("hit"))
      .select(col("hit.objectId")).collect().map(_.getString(0))
    assert(hits5.length === 1)
  }

  /** A six-doc corpus for bucket-ordering tests: planTypes A×2 (copays
    * 10, 20), B×3 (30, 40, 50), C×1 (99). */
  private def variant(id: String, ptype: String, copay: Int): String =
    planJson.replace("12xvxc345ssdsds-508", id)
      .replace("\"planType\":\"inNetwork\"", s""""planType":"$ptype"""")
      .replace("\"copay\":23", s""""copay":$copay""")

  private lazy val corpus: DataFrame = docsDf(
    variant("a1", "typeA", 10), variant("a2", "typeA", 20),
    variant("b1", "typeB", 30), variant("b2", "typeB", 40), variant("b3", "typeB", 50),
    variant("c1", "typeC", 99))

  test("composite after-cursor pages TILE the full bucket list (no gap, no overlap)") {
    // the flagship scalable agg's core contract: walking page by page
    // reconstructs exactly the one-shot bucket list, in order
    def body(size: Int, after: Option[(String, String)]): String = {
      val afterStr = after.map { case (a, b) =>
        s""", "after": {"pt": "$a", "org": "$b"}""" }.getOrElse("")
      s"""{"aggs": {"pg": {"composite": {"size": $size, "sources": [
         |  {"pt": {"terms": {"field": "planType"}}},
         |  {"org": {"terms": {"field": "objectType"}}}]$afterStr},
         |  "aggs": {"s": {"sum": {"field": "planCostShares.copay"}}}}}}""".stripMargin
    }
    def rows(b: String) = EsAggs.run(corpus, "doc", b, PlanSchema.plan).collect()
      .map(r => (r.getAs[String]("pt"), r.getAs[String]("org"),
        r.getAs[Long]("doc_count"), r.getAs[Double]("s"))).toSeq
    val oneShot = rows(body(100, None))
    assert(oneShot.size === 3) // typeA/typeB/typeC × plan
    var pages = Seq.empty[(String, String, Long, Double)]
    var cursor: Option[(String, String)] = None
    var done = false
    while (!done) {
      val page = rows(body(2, cursor))
      pages ++= page
      if (page.size < 2) done = true
      else cursor = Some((page.last._1, page.last._2))
    }
    assert(pages === oneShot, "paged walk must equal the one-shot bucket list")
  }

  test("round-7 variants: phrase slop metric, terms_set msm field, pinned ladder, " +
    "match_bool_prefix operators, extended_stats defaults") {
    // Lucene move-count arithmetic, including the documented
    // adjacent-transposition = 2 example
    def slopHit(text: String, sl: Int): Boolean =
      spark.range(1).select(SearchOps.phraseSlop(lit(text), "a", "b", sl).as("m"))
        .head.getBoolean(0)
    assert(slopHit("a b", 0))                 // adjacent, in order: cost 0
    assert(!slopHit("a x b", 0) && slopHit("a x b", 1)) // one-token gap: cost 1
    assert(!slopHit("b a", 1) && slopHit("b a", 2))     // transposed adjacent: cost 2
    assert(!slopHit("b x a", 2) && slopHit("b x a", 3)) // transposed with gap: cost 3
    // n-term slop and repeated-term slop are rejected, slop 0 falls back
    assertThrows[IllegalArgumentException](SearchQuery.fromJson(
      """{"query": {"match_phrase": {"planType": {"query": "x y z", "slop": 1}}}}""",
      PlanSchema.plan))
    assertThrows[IllegalArgumentException](SearchQuery.fromJson(
      """{"query": {"match_phrase": {"planType": {"query": "x x", "slop": 1}}}}""",
      PlanSchema.plan))

    // terms_set with minimum_should_match_field: each doc carries TWO of
    // the listed service names, so copay<=2 admits and copay=3 rejects
    val tsCorpus = docsDf(variant("m1", "typeM", 1), variant("m2", "typeM", 3))
    val ts = SearchQuery.fromJson(
      """{"query": {"terms_set": {"linkedPlanServices.linkedService.name": {
        |  "terms": ["Yearly physical", "well baby", "nope"],
        |  "minimum_should_match_field": "planCostShares.copay"}}}}""".stripMargin,
      PlanSchema.plan)
    assert(tsCorpus.filter(SearchQuery.compile(ts, col("doc")))
      .select(col("doc.objectId")).collect().map(_.getString(0)).toSeq === Seq("m1"))

    // pinned: listed ids rank first IN ORDER, above any clause count;
    // organic hits keep the clause-count score
    val pinnedBody =
      """{"query": {"pinned": {"ids": ["b2", "a1"],
        |  "organic": {"bool": {"should": [{"match": {"planType": "typeB"}}]}}}}}""".stripMargin
    val pp = SearchQuery.parseBody(pinnedBody, PlanSchema.plan)
    val scored = corpus.filter(SearchQuery.compile(pp.query, col("doc")))
      .select(col("doc.objectId").as("id"),
        SearchQuery.scoreCol(pp, col("doc")).as("s"))
      .orderBy(col("s").desc, col("id")).collect()
    assert(scored.map(_.getString(0)).take(2).toSeq === Seq("b2", "a1"))
    assert(scored.head.getLong(1) === 1000000001L && scored(1).getLong(1) === 1000000000L)
    assert(scored.drop(2).forall(_.getLong(1) === 1L)) // organic typeB hits

    // match_bool_prefix: or (default) hits via the last-term prefix
    // alone; and requires every term in the SAME element
    def mbp(op: String): Long = corpus.filter(SearchQuery.compile(SearchQuery.fromJson(
      s"""{"query": {"match_bool_prefix": {"linkedPlanServices.linkedService.name": {
         |  "query": "nope yea", "operator": "$op"}}}}""".stripMargin,
      PlanSchema.plan), col("doc"))).count()
    assert(mbp("or") === 6L && mbp("and") === 0L)

    // date_range custom bucket keys render in place of from-to
    val dated = spark.range(4).select(struct(col("id").as("event_id"),
      date_add(to_date(lit("2024-01-01")), col("id").cast("int") * 10).as("ts")).as("doc"))
    val datedSchema = dated.schema("doc").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val dr = EsAggs.run(dated, "doc",
      """{"aggs": {"eras": {"date_range": {"field": "ts",
        |  "ranges": [{"key": "early", "to": "2024-01-15"},
        |             {"key": "late", "from": "2024-01-15"}]}}}}""".stripMargin,
      datedSchema).collect()
    assert(dr.map(r => (r.getAs[String]("key"), r.getAs[Long]("doc_count"))).toSeq ===
      Seq(("early", 2L), ("late", 2L)))
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"eras": {"date_range": {"field": "ts",
        |  "ranges": [{"key": "x", "to": "2024-01-15"},
        |             {"key": "x", "from": "2024-01-15"}]}}}}""".stripMargin,
      datedSchema))

    // extended_stats: default sigma 2, population variance over copays
    val es = EsAggs.run(corpus, "doc",
      """{"aggs": {"c": {"extended_stats": {"field": "planCostShares.copay"}}}}""",
      PlanSchema.plan).collect()(0)
    val vals = Seq(10.0, 20.0, 30.0, 40.0, 50.0, 99.0)
    val mean = vals.sum / 6
    val varP = vals.map(v => v * v).sum / 6 - mean * mean
    assert(es.getAs[Long]("c_count") === 6L && es.getAs[Double]("c_avg") === mean)
    assert(math.abs(es.getAs[Double]("c_variance") - varP) < 1e-9)
    assert(math.abs(es.getAs[Double]("c_std_deviation_bounds_upper") -
      (mean + 2 * math.sqrt(varP))) < 1e-9)
  }

  test("terms order targets a metric sub-agg / _key / _count; min_doc_count prunes; bad targets rejected") {
    // order by the avg metric desc, C's singleton bucket pruned by min_doc_count
    val byMetric =
      """{"size": 0, "aggs": {"t": {"terms": {"field": "planType", "size": 10,
        |  "order": {"avg_copay": "desc"}, "min_doc_count": 2},
        |  "aggs": {"avg_copay": {"avg": {"field": "planCostShares.copay"}}}}}}""".stripMargin
    val m = EsAggs.run(corpus, "doc", byMetric, PlanSchema.plan).collect()
    assert(m.map(r => (r.getAs[String]("key"), r.getAs[Long]("doc_count"),
      r.getAs[Double]("avg_copay"))).toSeq === Seq(("typeB", 3L, 40.0), ("typeA", 2L, 15.0)))
    // _key desc
    val byKey =
      """{"aggs": {"t": {"terms": {"field": "planType", "order": {"_key": "desc"}}}}}"""
    assert(EsAggs.run(corpus, "doc", byKey, PlanSchema.plan).collect()
      .map(_.getAs[String]("key")).toSeq === Seq("typeC", "typeB", "typeA"))
    // _count asc (ties impossible here)
    val byCount =
      """{"aggs": {"t": {"terms": {"field": "planType", "order": {"_count": "asc"}}}}}"""
    assert(EsAggs.run(corpus, "doc", byCount, PlanSchema.plan).collect()
      .map(_.getAs[String]("key")).toSeq === Seq("typeC", "typeA", "typeB"))
    // unknown order target is rejected (not silently count-ordered)
    val badTarget = intercept[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"t": {"terms": {"field": "planType", "order": {"nope": "desc"}},
        |  "aggs": {"avg_copay": {"avg": {"field": "planCostShares.copay"}}}}}}""".stripMargin,
      PlanSchema.plan))
    assert(badTarget.getMessage.contains("order target"))
    // unknown terms spec key is rejected (a typo'd order would reorder silently)
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"t": {"terms": {"field": "planType", "shard_size": 5}}}}""",
      PlanSchema.plan))
    // two-level split: parent _key order applies to the parent ranking
    val split =
      """{"aggs": {"t": {"terms": {"field": "planType", "size": 2, "order": {"_key": "desc"}},
        |  "aggs": {"h": {"histogram": {"field": "planCostShares.copay", "interval": 50}}}}}}""".stripMargin
    val sRows = EsAggs.run(corpus, "doc", split, PlanSchema.plan).collect()
    assert(sRows.map(_.getAs[String]("key")).distinct.toSeq === Seq("typeC", "typeB"))
  }

  test("cardinality metric is exact distinct count, global and per bucket") {
    val global =
      """{"aggs": {"uniq_types": {"cardinality": {"field": "planType"}},
        |  "uniq_orgs": {"cardinality": {"field": "_org"}}}}""".stripMargin
    val g = EsAggs.run(corpus, "doc", global, PlanSchema.plan).collect()(0)
    assert(g.getAs[Long]("uniq_types") === 3L && g.getAs[Long]("uniq_orgs") === 1L)
    val perBucket =
      """{"aggs": {"t": {"terms": {"field": "planType", "order": {"_key": "asc"}},
        |  "aggs": {"uniq_copays": {"cardinality": {"field": "planCostShares.copay"}}}}}}""".stripMargin
    assert(EsAggs.run(corpus, "doc", perBucket, PlanSchema.plan).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("uniq_copays"))).toSeq ===
      Seq(("typeA", 2L), ("typeB", 3L), ("typeC", 1L)))
  }

  test("filters agg keeps zero-doc buckets in body order; range agg is from-inclusive/to-exclusive") {
    val filters =
      """{"size": 0, "aggs": {"c": {"filters": {"filters": {
        |  "isA": {"match": {"planType": "typeA"}},
        |  "none": {"match": {"planType": "zzz"}},
        |  "cheap": {"range": {"planCostShares.copay": {"lt": 25}}}}},
        |  "aggs": {"avg_copay": {"avg": {"field": "planCostShares.copay"}}}}}}""".stripMargin
    val f = EsAggs.run(corpus, "doc", filters, PlanSchema.plan).collect()
    assert(f.map(r => (r.getAs[String]("key"), r.getAs[Long]("doc_count"))).toSeq ===
      Seq(("isA", 2L), ("none", 0L), ("cheap", 2L))) // body order, zero-doc present
    assert(f(1).isNullAt(f(1).fieldIndex("avg_copay"))) // empty bucket metric = null
    assert(f(2).getAs[Double]("avg_copay") === 15.0)
    // range: copay 30 lands in [30,40), copay 40 in [40,*) — to is EXCLUSIVE
    val ranges =
      """{"aggs": {"r": {"range": {"field": "planCostShares.copay",
        |  "ranges": [{"to": 30}, {"from": 30, "to": 40}, {"from": 40}]}}}}""".stripMargin
    assert(EsAggs.run(corpus, "doc", ranges, PlanSchema.plan).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("doc_count"))).toSeq ===
      Seq(("*-30", 2L), ("30-40", 1L), ("40-*", 3L)))
    // a filters parent now takes ONE child bucket level (the Kibana
    // split-by-filters body, d103) — but not a deeper split, and range
    // still takes no sub-buckets
    assert(EsAggs.parse(
      """{"aggs": {"c": {"filters": {"filters": {"a": {"match_all": {}}}},
        |  "aggs": {"t": {"terms": {"field": "planType"}}}}}}""".stripMargin,
      PlanSchema.plan).tree.isRight)
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"c": {"filters": {"filters": {"a": {"match_all": {}}}},
        |  "aggs": {"t": {"terms": {"field": "planType"},
        |    "aggs": {"u": {"terms": {"field": "_org"}}}}}}}}""".stripMargin,
      PlanSchema.plan))
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"c": {"range": {"field": "planCostShares.copay",
        |    "ranges": [{"to": 30}]},
        |  "aggs": {"t": {"terms": {"field": "planType"}}}}}}""".stripMargin,
      PlanSchema.plan))
    // round 8: a filters agg inside a nested context PARSES (element-grain
    // buckets — the predicates compile per element at exec)
    assert(EsAggs.parse(
      """{"aggs": {"n": {"nested": {"path": "linkedPlanServices"},
        |  "aggs": {"c": {"filters": {"filters": {"a": {"match_all": {}}}}}}}}}""".stripMargin,
      PlanSchema.plan).tree.isRight)
  }

  test("stats fans out to five exact columns; percentiles interpolate exactly; bad metric specs rejected") {
    // copays: 10, 20, 30, 40, 50, 99
    val body =
      """{"size": 0, "aggs": {
        |  "s": {"stats": {"field": "planCostShares.copay"}},
        |  "p": {"percentiles": {"field": "planCostShares.copay", "percents": [25, 50, 75]}}}}""".stripMargin
    val r = EsAggs.run(corpus, "doc", body, PlanSchema.plan).collect()(0)
    assert(r.getAs[Long]("s_count") === 6L)
    assert(r.getAs[Long]("s_min") === 10L)
    assert(r.getAs[Long]("s_max") === 99L)
    assert(r.getAs[Double]("s_avg") === 249.0 / 6)
    assert(r.getAs[Double]("s_sum") === 249.0)
    // linear interpolation at rank p*(n-1): 1.25 → 22.5, 2.5 → 35, 3.75 → 47.5
    assert(r.getAs[Double]("p_p25") === 22.5)
    assert(r.getAs[Double]("p_p50") === 35.0)
    assert(r.getAs[Double]("p_p75") === 47.5)
    // a multi-column metric is not a sortable terms order target
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"t": {"terms": {"field": "planType", "order": {"st": "desc"}},
        |  "aggs": {"st": {"stats": {"field": "planCostShares.copay"}}}}}}""".stripMargin,
      PlanSchema.plan))
    // unknown metric option rejected (ignoring `missing` would change the value)
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"m": {"avg": {"field": "planCostShares.copay", "missing": 0}}}}""",
      PlanSchema.plan))
    // out-of-range percent rejected
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"p": {"percentiles": {"field": "planCostShares.copay", "percents": [150]}}}}""",
      PlanSchema.plan))
  }

  test("missing agg counts null scalars and null-or-empty arrays") {
    import spark.implicits._
    val df = Seq(
      ("m1", Some(5L), Seq("x")),
      ("m2", None, Seq.empty[String]),
      ("m3", Some(7L), Seq("y", "z")))
      .toDF("id", "v", "tags")
      .select(struct(col("id"), col("v"), col("tags")).as("doc"))
    val sch = df.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    val scalarMissing =
      """{"aggs": {"mm": {"missing": {"field": "v"},
        |  "aggs": {"n_ids": {"value_count": {"field": "id"}}}}}}""".stripMargin
    val s = EsAggs.run(df, "doc", scalarMissing, sch).collect()(0)
    assert((s.getAs[String]("key"), s.getAs[Long]("doc_count"), s.getAs[Long]("n_ids")) ===
      ("missing", 1L, 1L))
    // array field: the EMPTY array is missing too (ES indexes nothing for [])
    val arrayMissing = """{"aggs": {"mm": {"missing": {"field": "tags"}}}}"""
    assert(EsAggs.run(df, "doc", arrayMissing, sch).collect()(0).getAs[Long]("doc_count") === 1L)
    // ES rule: a doc with NO key value lands in NO bucket of a keyed agg
    // (m2's v is null → only two buckets, no null-key row)
    val terms = """{"aggs": {"t": {"terms": {"field": "v", "size": 10, "order": {"_key": "asc"}}}}}"""
    assert(EsAggs.run(df, "doc", terms, sch).collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[Long]("doc_count"))).toSeq ===
      Seq((5L, 1L), (7L, 1L)))
    // multi_terms: composite |-joined key; a doc missing ANY key part
    // lands in no bucket (concat null-propagation is the point)
    val mt = """{"aggs": {"t": {"multi_terms": {"terms": [{"field": "id"}, {"field": "v"}]}}}}"""
    assert(EsAggs.run(df, "doc", mt, sch).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("doc_count"))).toSet ===
      Set(("m1|5", 1L), ("m3|7", 1L))) // m2 (null v) excluded
    // fewer than two fields rejected (that is just `terms`)
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"t": {"multi_terms": {"terms": [{"field": "v"}]}}}}""", sch))
  }

  test("composite agg pages all buckets in source order with an after cursor") {
    val page =
      """{"size": 0, "aggs": {"pg": {"composite": {
        |  "size": 3,
        |  "sources": [
        |    {"pt": {"terms": {"field": "planType"}}},
        |    {"cp": {"terms": {"field": "planCostShares.copay"}}}],
        |  "after": {"pt": "typeA", "cp": 20}}}}}""".stripMargin
    assert(EsAggs.run(corpus, "doc", page, PlanSchema.plan).collect()
      .map(r => (r.getAs[String]("pt"), r.getAs[Long]("cp"), r.getAs[Long]("doc_count"))).toSeq ===
      Seq(("typeB", 30L, 1L), ("typeB", 40L, 1L), ("typeB", 50L, 1L)))
    // the next page resumes exactly where this one ended
    val lastPage = page.replace(""""after": {"pt": "typeA", "cp": 20}""",
      """"after": {"pt": "typeB", "cp": 50}""")
    assert(EsAggs.run(corpus, "doc", lastPage, PlanSchema.plan).collect()
      .map(r => (r.getAs[String]("pt"), r.getAs[Long]("cp"))).toSeq === Seq(("typeC", 99L)))
    // a desc source inverts both the order and the cursor direction
    val desc =
      """{"aggs": {"pg": {"composite": {"size": 2,
        |  "sources": [{"cp": {"terms": {"field": "planCostShares.copay", "order": "desc"}}}],
        |  "after": {"cp": 50}}}}}""".stripMargin
    assert(EsAggs.run(corpus, "doc", desc, PlanSchema.plan).collect()
      .map(_.getAs[Long]("cp")).toSeq === Seq(40L, 30L))
    // after keys must match the sources exactly
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"pg": {"composite": {"sources": [{"pt": {"terms": {"field": "planType"}}}],
        |  "after": {"wrong": 1}}}}}""".stripMargin, PlanSchema.plan))
    // sub-bucket levels under composite rejected
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"pg": {"composite": {"sources": [{"pt": {"terms": {"field": "planType"}}}]},
        |  "aggs": {"t": {"terms": {"field": "planType"}}}}}}""".stripMargin, PlanSchema.plan))
  }

  test("pipeline aggs run over the bucket list in declaration order; wrong parents/targets rejected") {
    // copay bins of 20: 0→1, 20→2, 40→2, 80→1; cum 1,3,5,6; deriv null,1,0,-1
    val hist =
      """{"size": 0, "aggs": {"h": {"histogram": {"field": "planCostShares.copay", "interval": 20},
        |  "aggs": {
        |    "cum": {"cumulative_sum": {"buckets_path": "_count"}},
        |    "dlt": {"derivative": {"buckets_path": "_count"}},
        |    "sel": {"bucket_selector": {"buckets_path": {"n": "_count"}, "script": "params.n >= 2"}}}}}}""".stripMargin
    val h = EsAggs.run(corpus, "doc", hist, PlanSchema.plan).collect()
    assert(h.map(r => (r.getAs[Long]("key"), r.getAs[Long]("doc_count"), r.getAs[Long]("cum"),
      Option(r.getAs[java.lang.Long]("dlt")).map(_.toLong))).toSeq ===
      Seq((20L, 2L, 3L, Some(1L)), (40L, 2L, 5L, Some(0L))))
    // bucket_sort reorders and truncates the final bucket list
    val bs =
      """{"size": 0, "aggs": {"t": {"terms": {"field": "planType", "size": 10, "order": {"_key": "asc"}},
        |  "aggs": {"bs": {"bucket_sort": {"sort": [{"_count": "desc"}], "size": 2}}}}}}""".stripMargin
    assert(EsAggs.run(corpus, "doc", bs, PlanSchema.plan).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("doc_count"))).toSeq ===
      Seq(("typeB", 3L), ("typeA", 2L)))
    // cumulative_sum needs a histogram parent (ES restriction)
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"t": {"terms": {"field": "planType"},
        |  "aggs": {"c": {"cumulative_sum": {"buckets_path": "_count"}}}}}}""".stripMargin,
      PlanSchema.plan))
    // unknown buckets_path target rejected
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"h": {"histogram": {"field": "planCostShares.copay", "interval": 20},
        |  "aggs": {"c": {"cumulative_sum": {"buckets_path": "nope"}}}}}}""".stripMargin,
      PlanSchema.plan))
    // only the one Kibana script shape is supported — reject loudly beyond it
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"h": {"histogram": {"field": "planCostShares.copay", "interval": 20},
        |  "aggs": {"s": {"bucket_selector": {"buckets_path": {"n": "_count"},
        |    "script": "params.n > params.m"}}}}}}""".stripMargin,
      PlanSchema.plan))
  }

  test("moving_fn, serial_diff, bucket_script and sibling *_bucket aggs; wrong shapes rejected") {
    // copay bins of 20 → counts 1, 2, 2, 1
    val hist =
      """{"size": 0, "aggs": {"h": {"histogram": {"field": "planCostShares.copay", "interval": 20},
        |  "aggs": {
        |    "sm": {"moving_fn": {"buckets_path": "_count", "window": 2,
        |                         "script": "MovingFunctions.unweightedAvg(values)"}},
        |    "sd": {"serial_diff": {"buckets_path": "_count", "lag": 2}},
        |    "sq": {"bucket_script": {"buckets_path": {"a": "_count", "b": "_count"},
        |                             "script": "params.a * params.b"}}}}}}""".stripMargin
    val h = EsAggs.run(corpus, "doc", hist, PlanSchema.plan).collect()
    // ES shift=0: the window EXCLUDES the current bucket — first is null
    assert(h.map(r => Option(r.getAs[java.lang.Double]("sm")).map(_.toDouble)).toSeq ===
      Seq(None, Some(1.0), Some(1.5), Some(2.0)))
    assert(h.map(r => Option(r.getAs[java.lang.Long]("sd")).map(_.toLong)).toSeq ===
      Seq(None, None, Some(1L), Some(-1L)))
    // bucket_script values are doubles (the Painless-script contract —
    // round-9's full-formula upgrade compiles through the script engine)
    assert(h.map(_.getAs[Double]("sq")).toSeq === Seq(1.0, 4.0, 4.0, 1.0))
    // siblings beside a terms agg: constant columns over the bucket list
    val sib =
      """{"size": 0, "aggs": {
        |  "t": {"terms": {"field": "planType", "size": 10, "order": {"_key": "asc"}}},
        |  "total": {"sum_bucket": {"buckets_path": "t>_count"}},
        |  "big": {"max_bucket": {"buckets_path": "t>_count"}}}}""".stripMargin
    val srows = EsAggs.run(corpus, "doc", sib, PlanSchema.plan).collect()
    assert(srows.map(r => (r.getAs[String]("key"), r.getAs[Long]("total"),
      r.getAs[Long]("big"))).toSeq ===
      Seq(("typeA", 6L, 3L), ("typeB", 6L, 3L), ("typeC", 6L, 3L)))
    // moving_fn needs a histogram parent
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"t": {"terms": {"field": "planType"},
        |  "aggs": {"sm": {"moving_fn": {"buckets_path": "_count", "window": 2,
        |    "script": "MovingFunctions.unweightedAvg(values)"}}}}}}""".stripMargin,
      PlanSchema.plan))
    // the four MovingFunctions scripts parse (d163); anything richer rejects
    assert(EsAggs.parse(
      """{"aggs": {"h": {"histogram": {"field": "planCostShares.copay", "interval": 20},
        |  "aggs": {"sm": {"moving_fn": {"buckets_path": "_count", "window": 2,
        |    "script": "MovingFunctions.max(values)"}}}}}}""".stripMargin,
      PlanSchema.plan).tree.isRight)
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"h": {"histogram": {"field": "planCostShares.copay", "interval": 20},
        |  "aggs": {"sm": {"moving_fn": {"buckets_path": "_count", "window": 2,
        |    "script": "MovingFunctions.stdDev(values)"}}}}}}""".stripMargin,
      PlanSchema.plan))
    // sibling buckets_path must name its sibling bucket agg
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"t": {"terms": {"field": "planType"}},
        |  "x": {"sum_bucket": {"buckets_path": "wrong>_count"}}}}""".stripMargin,
      PlanSchema.plan))
  }

  test("review regressions: NOT-clause level semantics, weighted_avg nulls, loud rejections") {
    import spark.implicits._
    // Lucene level semantics: `a NOT b` = a AND NOT b (a prohibited
    // clause applies level-globally), NOT Or(a, Not(b))
    val q1 = QueryString.parse("planType:typeA NOT objectId:a1", PlanSchema.plan)
    val hits1 = corpus.filter(SearchQuery.compile(q1, col("doc")))
      .select(col("doc.objectId")).collect().map(_.getString(0)).sorted
    assert(hits1.toSeq === Seq("a2")) // typeA minus a1 — not "everything but a1"
    // `a NOT b OR c` = (a OR c) AND NOT b
    val q2 = QueryString.parse("planType:typeA NOT objectId:a1 planType:typeC",
      PlanSchema.plan)
    val hits2 = corpus.filter(SearchQuery.compile(q2, col("doc")))
      .select(col("doc.objectId")).collect().map(_.getString(0)).sorted
    assert(hits2.toSeq === Seq("a2", "c1"))
    // weighted_avg ES null contract: value-missing docs contribute NOTHING
    // (not even weight); weight-missing docs count with weight 1
    val wdf = Seq((1L, Some(10L), Some(2L)), (2L, None, Some(3L)), (3L, Some(20L), None))
      .toDF("id", "v", "w")
      .select(struct(col("id"), col("v"), col("w")).as("doc"))
    val wsch = wdf.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    val wa = """{"aggs": {"m": {"weighted_avg": {"value": {"field": "v"}, "weight": {"field": "w"}}}}}"""
    // (10*2 + 20*1) / (2 + 1) = 40/3
    assert(EsAggs.run(wdf, "doc", wa, wsch).collect()(0).getAs[Double]("m") === 40.0 / 3)
    // child-level pipelines in a two-level split rejected, not dropped
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"t": {"terms": {"field": "planType"},
        |  "aggs": {"h": {"histogram": {"field": "planCostShares.copay", "interval": 10},
        |    "aggs": {"d": {"derivative": {"buckets_path": "_count"}}}}}}}}""".stripMargin,
      PlanSchema.plan))
    // terms min_doc_count: 0 (whole-dictionary zero buckets) now parses
    // bare (d156); WITH sub-aggs it still rejects loudly (empty-bucket
    // metric conventions differ per kind)
    assert(EsAggs.parse(
      """{"aggs": {"t": {"terms": {"field": "planType", "min_doc_count": 0}}}}""",
      PlanSchema.plan).bucket.exists(_.isInstanceOf[EsAggs.Terms]))
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"t": {"terms": {"field": "planType", "min_doc_count": 0},
        |  "aggs": {"a": {"avg": {"field": "planCostShares.copay"}}}}}}""".stripMargin,
      PlanSchema.plan))
    // an agg named like a reserved output column rejected (withColumn
    // would silently overwrite doc_count)
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"h": {"histogram": {"field": "planCostShares.copay", "interval": 10},
        |  "aggs": {"doc_count": {"cumulative_sum": {"buckets_path": "_count"}}}}}}""".stripMargin,
      PlanSchema.plan))
    // top_hits over a zero-filled histogram rejected (empty buckets have no hits)
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"h": {"histogram": {"field": "planCostShares.copay", "interval": 10,
        |  "min_doc_count": 0},
        |  "aggs": {"top": {"top_hits": {"size": 1, "sort": [{"objectId": "asc"}],
        |    "_source": ["objectId"]}}}}}}""".stripMargin,
      PlanSchema.plan))
  }

  test("top_hits ranks documents inside each bucket; sort is mandatory") {
    val body =
      """{"size": 0, "aggs": {"t": {"terms": {"field": "planType", "size": 5, "order": {"_key": "asc"}},
        |  "aggs": {"top": {"top_hits": {"size": 1,
        |    "sort": [{"planCostShares.copay": "desc"}], "_source": ["objectId"]}}}}}}""".stripMargin
    assert(EsAggs.run(corpus, "doc", body, PlanSchema.plan).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("doc_count"),
        r.getAs[Int]("rank"), r.getAs[String]("objectId"))).toSeq ===
      Seq(("typeA", 2L, 1, "a2"), ("typeB", 3L, 1, "b3"), ("typeC", 1L, 1, "c1")))
    // no sort → rejected (a nondeterministic hit list is a wrong hit list)
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"t": {"terms": {"field": "planType"},
        |  "aggs": {"top": {"top_hits": {"size": 1, "_source": ["objectId"]}}}}}}""".stripMargin,
      PlanSchema.plan))
  }

  test("significant_terms scores foreground lift against the unfiltered corpus") {
    // fg = copay >= 30 → typeB×3 + typeC×1; ft=4 bt=6
    // JLH: typeB (3/4 - 3/6)*(3/4 / (3/6)) = 0.375; typeC (1/4 - 1/6)*(1/4 / (1/6)) = 0.125
    val body =
      """{"size": 0, "query": {"range": {"planCostShares.copay": {"gte": 30}}},
        |  "aggs": {"sig": {"significant_terms": {"field": "planType", "size": 5}}}}""".stripMargin
    val r = EsAggs.run(corpus, "doc", body, PlanSchema.plan).collect()
    assert(r.map(x => (x.getAs[String]("key"), x.getAs[Long]("doc_count"),
      x.getAs[Long]("bg_count"))).toSeq === Seq(("typeB", 3L, 3L), ("typeC", 1L, 1L)))
    assert(r(0).getAs[Double]("score") === 0.375)
    assert(r(1).getAs[Double]("score") === 0.125)
    // sub-aggs under significant_terms rejected
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"sig": {"significant_terms": {"field": "planType"},
        |  "aggs": {"a": {"avg": {"field": "planCostShares.copay"}}}}}}""".stripMargin,
      PlanSchema.plan))
  }

  test("date_histogram: calendar_interval uses calendar units, fixed_interval epoch-anchored bins") {
    import spark.implicits._
    val df = Seq(("e1", "2024-01-15"), ("e2", "2024-01-31"), ("e3", "2024-02-01"))
      .toDF("id", "d")
      .select(struct(col("id"), to_date(col("d")).as("day")).as("doc"))
    val sch = df.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    val monthly =
      """{"aggs": {"m": {"date_histogram": {"field": "day", "calendar_interval": "month"}}}}"""
    assert(EsAggs.run(df, "doc", monthly, sch).collect()
      .map(r => (r.getAs[java.sql.Date]("key").toString, r.getAs[Long]("doc_count"))).toSeq ===
      Seq(("2024-01-01", 2L), ("2024-02-01", 1L)))
    // weeks start Monday: 2024-01-15 IS a Monday; 01-31 (Wed) and 02-01
    // (Thu) both truncate to Monday 01-29 — a boundary NO epoch-anchored
    // fixed 7-day bin reproduces
    val weekly =
      """{"aggs": {"w": {"date_histogram": {"field": "day", "calendar_interval": "week"}}}}"""
    assert(EsAggs.run(df, "doc", weekly, sch).collect()
      .map(r => (r.getAs[java.sql.Date]("key").toString, r.getAs[Long]("doc_count"))).toSeq ===
      Seq(("2024-01-15", 1L), ("2024-01-29", 2L)))
    // fixed_interval 7d: epoch-anchored (1970-01-01 was a THURSDAY), so
    // the same three dates land in THREE bins — 01-15 → Thu 01-11,
    // 01-31 → Thu 01-25, 02-01 IS a Thursday bin boundary. The contrast
    // with the Monday-anchored calendar week above is the reason the two
    // interval kinds are separate nodes, never coerced.
    val fixed7d =
      """{"aggs": {"w": {"date_histogram": {"field": "day", "fixed_interval": "7d"}}}}"""
    assert(EsAggs.run(df, "doc", fixed7d, sch).collect()
      .map(r => (r.getAs[java.sql.Timestamp]("key").toInstant.toString,
        r.getAs[Long]("doc_count"))).toSeq ===
      Seq(("2024-01-11T00:00:00Z", 1L), ("2024-01-25T00:00:00Z", 1L),
        ("2024-02-01T00:00:00Z", 1L)))
    // unknown units / both-interval bodies are rejected, not coerced
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"m": {"date_histogram": {"field": "day", "calendar_interval": "fortnight"}}}}""", sch))
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"m": {"date_histogram": {"field": "day",
        |  "calendar_interval": "month", "fixed_interval": "7d"}}}}""".stripMargin, sch))
  }

  test("weighted_avg, adjacency_matrix, rare_terms follow the ES contracts") {
    // weighted_avg: equal weights (deductible 2000 everywhere) reduce to
    // the plain mean — and the shape is sum(v*w)/sum(w)
    val wa =
      """{"size": 0, "aggs": {"t": {"terms": {"field": "planType", "size": 10, "order": {"_key": "asc"}},
        |  "aggs": {"w": {"weighted_avg": {"value": {"field": "planCostShares.copay"},
        |                                  "weight": {"field": "planCostShares.deductible"}}}}}}}""".stripMargin
    assert(EsAggs.run(corpus, "doc", wa, PlanSchema.plan).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Double]("w"))).toSeq ===
      Seq(("typeA", 15.0), ("typeB", 40.0), ("typeC", 99.0)))
    // adjacency_matrix: singles + pairwise intersections, empty
    // intersections DROPPED (typeA ∩ expensive is empty)
    val adj =
      """{"size": 0, "aggs": {"m": {"adjacency_matrix": {"filters": {
        |  "isA": {"match": {"planType": "typeA"}},
        |  "expensive": {"range": {"planCostShares.copay": {"gte": 90}}},
        |  "cheap": {"range": {"planCostShares.copay": {"lt": 25}}}}}}}}""".stripMargin
    assert(EsAggs.run(corpus, "doc", adj, PlanSchema.plan).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("doc_count"))).toSet ===
      Set(("isA", 2L), ("expensive", 1L), ("cheap", 2L), ("isA&cheap", 2L)))
    // rare_terms: the long tail at or below the ceiling, count-ascending
    val rare =
      """{"size": 0, "aggs": {"r": {"rare_terms": {"field": "planType", "max_doc_count": 2}}}}"""
    assert(EsAggs.run(corpus, "doc", rare, PlanSchema.plan).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("doc_count"))).toSeq ===
      Seq(("typeC", 1L), ("typeA", 2L))) // typeB (3) is over the ceiling
    // filter names may not contain the pair separator
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"m": {"adjacency_matrix": {"filters": {"a&b": {"match_all": {}}}}}}}""",
      PlanSchema.plan))
  }

  test("min_doc_count 0 zero-fills histogram gaps; global agg escapes the query context") {
    import spark.implicits._
    val df = Seq(("e1", "2024-01-15", 5L), ("e2", "2024-01-15", 4L), ("e3", "2024-01-18", 9L))
      .toDF("id", "d", "v")
      .select(struct(col("id"), to_date(col("d")).as("day"), col("v")).as("doc"))
    val sch = df.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    val filled =
      """{"aggs": {"h": {"date_histogram": {"field": "day", "calendar_interval": "day",
        |  "min_doc_count": 0},
        |  "aggs": {"mx": {"max": {"field": "v"}},
        |           "dlt": {"derivative": {"buckets_path": "_count"}}}}}}""".stripMargin
    val rows = EsAggs.run(df, "doc", filled, sch).collect()
    assert(rows.map(r => (r.getAs[java.sql.Date]("key").toString, r.getAs[Long]("doc_count"),
      Option(r.getAs[java.lang.Long]("mx")).map(_.toLong))).toSeq ===
      Seq(("2024-01-15", 2L, Some(5L)), ("2024-01-16", 0L, None),
        ("2024-01-17", 0L, None), ("2024-01-18", 1L, Some(9L))))
    // the derivative differences the ZERO-FILLED series, not across gaps
    assert(rows.map(r => Option(r.getAs[java.lang.Long]("dlt")).map(_.toLong)).toSeq ===
      Seq(None, Some(-2L), Some(0L), Some(1L)))
    // numeric histogram zero-fills too
    val nh =
      """{"aggs": {"h": {"histogram": {"field": "v", "interval": 2, "min_doc_count": 0}}}}"""
    assert(EsAggs.run(df, "doc", nh, sch).collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[Long]("doc_count"))).toSeq ===
      Seq((4L, 2L), (6L, 0L), (8L, 1L)))
    // global agg ignores the query for its metrics (percent-of-total)
    val g =
      """{"query": {"term": {"id": "e1"}},
        |"aggs": {"all": {"global": {}, "aggs": {"s": {"sum": {"field": "v"}}}}}}""".stripMargin
    val gr = EsAggs.run(df, "doc", g, sch).collect()(0)
    assert((gr.getAs[Long]("doc_count"), gr.getAs[Double]("s")) === (3L, 18.0))
    // min_doc_count on a two-level split is rejected, not ignored
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"t": {"terms": {"field": "planType"},
        |  "aggs": {"h": {"histogram": {"field": "planCostShares.copay", "interval": 10,
        |    "min_doc_count": 0}}}}}}""".stripMargin, PlanSchema.plan))
    // extended_bounds pins the axis beyond the data (bounds grid-snapped)
    val eb =
      """{"aggs": {"h": {"date_histogram": {"field": "day", "calendar_interval": "day",
        |  "min_doc_count": 0,
        |  "extended_bounds": {"min": "2024-01-13", "max": "2024-01-20"}}}}}""".stripMargin
    assert(EsAggs.run(df, "doc", eb, sch).collect()
      .map(r => (r.getAs[java.sql.Date]("key").toString, r.getAs[Long]("doc_count"))).toSeq ===
      (13 to 20).map(d0 => (f"2024-01-$d0%02d", d0 match {
        case 15 => 2L
        case 18 => 1L
        case _ => 0L
      })))
    // histogram offset shifts the bucket grid: values 5, 4, 9 with
    // interval 5 offset 2 land in [2,7) [2,7) [7,12)
    val off =
      """{"aggs": {"h": {"histogram": {"field": "v", "interval": 5, "offset": 2}}}}"""
    assert(EsAggs.run(df, "doc", off, sch).collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[Long]("doc_count"))).toSeq ===
      Seq((2L, 2L), (7L, 1L)))
    // extended_bounds without min_doc_count 0 is a silent no-op in spirit — rejected
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"h": {"histogram": {"field": "planCostShares.copay", "interval": 10,
        |  "extended_bounds": {"min": 0, "max": 100}}}}}""".stripMargin, PlanSchema.plan))
  }

  test("query_string compiles the Kibana search-bar grammar into the existing AST") {
    import SearchQuery._
    // precedence: AND binds tighter than OR; NOT tighter than AND
    assert(QueryString.parse("planType:x OR planType:y AND NOT _org:z", PlanSchema.plan) ===
      Or(TermMatch(Seq("planType"), "x"),
        And(TermMatch(Seq("planType"), "y"), Not(TermMatch(Seq("_org"), "z")))))
    // grouping, trailing-* prefix, mid-string wildcard, exists, phrase, .keyword
    assert(QueryString.parse("(planType:x OR planType:y) AND _org:exam*", PlanSchema.plan) ===
      And(Or(TermMatch(Seq("planType"), "x"), TermMatch(Seq("planType"), "y")),
        Prefix(Seq("_org"), "exam")))
    assert(QueryString.parse("_org:ex*le.com", PlanSchema.plan) ===
      Wildcard(Seq("_org"), "ex*le.com"))
    assert(QueryString.parse("planType:*", PlanSchema.plan) ===
      ExistsField(Seq("planType"), isArray = false))
    assert(QueryString.parse("linkedPlanServices.linkedService.name:\"well baby\"", PlanSchema.plan) ===
      NestedMatchPhrase(Seq("linkedPlanServices"), Seq("linkedService", "name"), "well baby"))
    assert(QueryString.parse("linkedPlanServices.linkedService.name.keyword:Yearly", PlanSchema.plan) ===
      NestedTerm(Seq("linkedPlanServices"), Seq("linkedService", "name"), "Yearly"))
    assert(QueryString.parse("linkedPlanServices.linkedService.name:baby", PlanSchema.plan) ===
      NestedTokenMatch(Seq("linkedPlanServices"), Seq("linkedService", "name"), "baby"))
    // adjacency = default_operator (ES default OR; and opt-in)
    assert(QueryString.parse("planType:x planType:y", PlanSchema.plan) ===
      Or(TermMatch(Seq("planType"), "x"), TermMatch(Seq("planType"), "y")))
    assert(QueryString.parse("planType:x planType:y", PlanSchema.plan, defaultAnd = true) ===
      And(TermMatch(Seq("planType"), "x"), TermMatch(Seq("planType"), "y")))
    // rejections: bare term, unbalanced parens, empty value
    assert(intercept[IllegalArgumentException](
      QueryString.parse("loneterm", PlanSchema.plan)).getMessage.contains("default field"))
    assertThrows[IllegalArgumentException](QueryString.parse("(planType:x", PlanSchema.plan))
    assertThrows[IllegalArgumentException](QueryString.parse("planType:", PlanSchema.plan))
    // end-to-end through the JSON DSL against the fixture
    val assembledDocs = Assembler.assemble(sh, PlanSchema.plan, "plan")
    def cnt(body: String): Long = assembledDocs.filter(
      SearchQuery.compile(SearchQuery.fromJson(body, PlanSchema.plan), col("doc"))).count()
    assert(cnt("""{"query": {"query_string": {"query":
      "planType:inNetwork AND linkedPlanServices.linkedService.name:\"well baby\""}}}""") === 1)
    assert(cnt("""{"query": {"query_string": {"query":
      "planType:inNetwork AND NOT _org:example*"}}}""") === 0)
    // unknown query_string keys rejected
    assertThrows[IllegalArgumentException](SearchQuery.fromJson(
      """{"query": {"query_string": {"query": "planType:x", "analyzer": "std"}}}""",
      PlanSchema.plan))
  }

  test("a body with no sort defaults to _score desc with objectId tiebreak") {
    val body =
      """{"query": {"bool": {"must": [{"match_all": {}}],
        |  "should": [{"match": {"planType": "typeB"}}]}},
        |  "size": 6, "_source": ["objectId"]}""".stripMargin
    val rows = SearchExec.search(corpus, "doc", body, PlanSchema.plan).collect()
    assert(rows.map(_.getAs[String]("objectId")).toSeq ===
      Seq("b1", "b2", "b3", "a1", "a2", "c1")) // score 1 first, then objectId asc
    assert(rows.map(_.getAs[Long]("score")).toSeq === Seq(1L, 1L, 1L, 0L, 0L, 0L))
  }

  test("nested agg under a terms split: element metrics per parent bucket, ES contracts") {
    import spark.implicits._
    // doc a (type x): copays [10, 20, null]; doc b (type x): NO elements;
    // doc c (type y): [5]. ES: bucket doc_count = parent docs, nested
    // doc_count = elements, metrics skip null element values.
    val df = Seq(
      ("a", "x", Seq(Some(10L), Some(20L), None)),
      ("b", "x", Seq.empty[Option[Long]]),
      ("c", "y", Seq(Some(5L)))
    ).toDF("id", "pt", "cops")
      .select(struct(col("id"), col("pt"),
        transform(col("cops"), v => struct(v.as("copay"))).as("els")).as("doc"))
    val sch = df.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    val body =
      """{"size": 0, "aggs": {"types": {"terms": {"field": "pt", "size": 10},
        |  "aggs": {"e": {"nested": {"path": "els"},
        |    "aggs": {"avg_cop": {"avg": {"field": "els.copay"}},
        |             "n_cop": {"value_count": {"field": "els.copay"}}}}}}}}""".stripMargin
    val r = EsAggs.run(df, "doc", body, sch).collect()
      .map(x => (x.getAs[String]("key"), x.getAs[Long]("doc_count"), x.getAs[Long]("e"),
        x.getAs[java.lang.Double]("avg_cop"), x.getAs[Long]("n_cop"))).toSeq
    assert(r === Seq(("x", 2L, 3L, java.lang.Double.valueOf(15.0), 2L),
      ("y", 1L, 1L, java.lang.Double.valueOf(5.0), 1L)))
    // a bucket whose docs carry NO element values: avg is NULL (not NaN)
    val dfY = Seq(("b2", "z", Seq.empty[Option[Long]])).toDF("id", "pt", "cops")
      .select(struct(col("id"), col("pt"),
        transform(col("cops"), v => struct(v.as("copay"))).as("els")).as("doc"))
    val rz = EsAggs.run(dfY, "doc", body, sch).collect()
    assert(rz.length === 1 && rz.head.getAs[java.lang.Double]("avg_cop") == null)
    // non-combinable metric kinds under the split's nested agg reject loudly
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"t": {"terms": {"field": "pt"},
        |  "aggs": {"e": {"nested": {"path": "els"},
        |    "aggs": {"c": {"cardinality": {"field": "els.copay"}}}}}}}}""".stripMargin, sch))
    // a nested path that crosses no array rejects (plain metrics reach it)
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"t": {"terms": {"field": "pt"},
        |  "aggs": {"e": {"nested": {"path": "id"}, "aggs": {"n": {"value_count": {"field": "id"}}}}}}}}""".stripMargin,
      sch))
  }

  test("terms show_term_doc_count_error: sum_other counts off-page and pruned terms, error is 0") {
    import spark.implicits._
    // a:4 b:3 c:2 d:1 — size 2 returns a,b; other = c+d = 3
    val df = (Seq.fill(4)("a") ++ Seq.fill(3)("b") ++ Seq.fill(2)("c") ++ Seq("d"))
      .zipWithIndex.map { case (k, i) => (i.toString, k) }.toDF("id", "kind")
      .select(struct(col("id"), col("kind")).as("doc"))
    val sch = df.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    def run(extra: String) = EsAggs.run(df, "doc",
      s"""{"size": 0, "aggs": {"k": {"terms": {"field": "kind", "size": 2,
         |  "show_term_doc_count_error": true$extra}}}}""".stripMargin, sch).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("doc_count"),
        r.getAs[Long]("sum_other_doc_count"), r.getAs[Long]("doc_count_error_upper_bound")))
    assert(run("").toSeq === Seq(("a", 4L, 3L, 0L), ("b", 3L, 3L, 0L)))
    // min_doc_count casualties still count into sum_other (the ES total
    // is all terms, not just the returned page): pruning c and d does
    // not change other = 3
    assert(run(""", "min_doc_count": 3""").toSeq === Seq(("a", 4L, 3L, 0L), ("b", 3L, 3L, 0L)))
    // all buckets on the page → other = 0
    val all = EsAggs.run(df, "doc",
      """{"size": 0, "aggs": {"k": {"terms": {"field": "kind", "size": 10,
        |  "show_term_doc_count_error": true}}}}""".stripMargin, sch).collect()
    assert(all.forall(_.getAs[Long]("sum_other_doc_count") == 0L))
  }

  test("date_histogram time_zone: local-midnight buckets, DST-length days, parse guards") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // UTC instants around New York midnights and the Nov 3 2024 fall-back
    // (EDT→EST: Nov 3 NY day runs 04:00Z..05:00Z next day — 25 hours)
    val df = Seq(
      ("e1", ts("2024-11-02 03:59:00")), // Nov 1 NY (before 04:00Z midnight)
      ("e2", ts("2024-11-02 04:01:00")), // Nov 2 NY
      ("e3", ts("2024-11-03 04:30:00")), // Nov 3 NY (EDT midnight passed)
      ("e4", ts("2024-11-04 04:30:00")), // STILL Nov 3 NY — the 25-hour day
      ("e5", ts("2024-11-04 05:30:00"))  // Nov 4 NY (EST midnight = 05:00Z)
    ).toDF("id", "t").select(struct(col("id"), col("t")).as("doc"))
    val sch = df.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    val r = EsAggs.run(df, "doc",
      """{"size": 0, "aggs": {"d": {"date_histogram": {"field": "t",
        |  "calendar_interval": "day", "time_zone": "America/New_York"}}}}""".stripMargin, sch)
      .collect().map(x => (x.getAs[java.sql.Timestamp]("key").toString, x.getAs[Long]("doc_count")))
    assert(r.toSeq === Seq(
      ("2024-11-01 04:00:00.0", 1L), ("2024-11-02 04:00:00.0", 1L),
      ("2024-11-03 04:00:00.0", 2L), ("2024-11-04 05:00:00.0", 1L)))
    // a half-hour zone shifts week buckets by the zone offset (ISO Monday
    // 00:00 IST = Sunday 18:30 UTC)
    val rk = EsAggs.run(df, "doc",
      """{"size": 0, "aggs": {"d": {"date_histogram": {"field": "t",
        |  "calendar_interval": "week", "time_zone": "Asia/Kolkata"}}}}""".stripMargin, sch)
      .collect().map(_.getAs[java.sql.Timestamp]("key").toString)
    assert(rk.head === "2024-10-27 18:30:00.0")
    // parse guards: fixed_interval + tz, zero-fill + tz, unknown zone,
    // and sub-day + tz (the repeated DST fall-back hour is ambiguous
    // under wall-clock truncation — would silently merge two ES buckets)
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"d": {"date_histogram": {"field": "t", "fixed_interval": "1d",
        |  "time_zone": "America/New_York"}}}}""".stripMargin, sch))
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"d": {"date_histogram": {"field": "t", "calendar_interval": "hour",
        |  "time_zone": "America/New_York"}}}}""".stripMargin, sch))
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"d": {"date_histogram": {"field": "t", "calendar_interval": "day",
        |  "min_doc_count": 0, "time_zone": "America/New_York"}}}}""".stripMargin, sch))
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"d": {"date_histogram": {"field": "t", "calendar_interval": "day",
        |  "time_zone": "Mars/Olympus"}}}}""".stripMargin, sch))
  }

  test("highlight: every occurrence wrapped, require_field_match null, tags, parse guards") {
    import spark.implicits._
    val df = Seq(
      ("a", "Gold plan with gold trim", "x"),
      ("b", "silver plan", "match-me"),
      ("c", "GOLD standard", "x")
    ).toDF("objectId", "title", "tag")
      .select(struct(col("objectId"), col("title"), col("tag")).as("doc"))
    val sch = df.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    def run(body: String) = SearchExec.search(df, "doc", body, sch).collect()
      .map(r => (r.getAs[String]("objectId"), r.getAs[String]("title_highlight")))
    // both occurrences in one value wrapped, case preserved; the hit
    // selected only by the clause on ANOTHER field gets NULL
    val r = run(
      """{"query": {"bool": {"should": [
        |    {"match": {"title": "gold"}}, {"term": {"tag": {"value": "match-me"}}}],
        |  "minimum_should_match": 1}},
        | "sort": [{"objectId": "asc"}], "_source": ["objectId", "title"],
        | "highlight": {"fields": {"title": {"number_of_fragments": 0}}}}""".stripMargin)
    assert(r.toSeq === Seq(
      ("a", "<em>Gold</em> plan with <em>gold</em> trim"),
      ("b", null),
      ("c", "<em>GOLD</em> standard")))
    // match_phrase highlights the WHOLE phrase once; custom tags apply
    val r2 = run(
      """{"query": {"match_phrase": {"title": "gold standard"}},
        | "sort": [{"objectId": "asc"}], "_source": ["objectId", "title"],
        | "highlight": {"pre_tags": ["[["], "post_tags": ["]]"],
        |   "fields": {"title": {}}}}""".stripMargin)
    assert(r2.toSeq === Seq(("c", "[[GOLD standard]]")))
    // overlapping term + phrase: the LONGEST covering match wins (ES
    // behavior) regardless of clause order in the body
    val r3 = run(
      """{"query": {"bool": {"should": [
        |    {"match": {"title": "gold"}}, {"match_phrase": {"title": "gold standard"}}],
        |  "minimum_should_match": 1}},
        | "sort": [{"objectId": "asc"}], "_source": ["objectId", "title"],
        | "highlight": {"fields": {"title": {}}}}""".stripMargin)
    assert(r3.toMap.apply("c") === "<em>GOLD standard</em>")
    assert(r3.toMap.apply("a") === "<em>Gold</em> plan with <em>gold</em> trim")
    // fragment mode (r10): ~fragment_size windows centered on each match,
    // greedy left-to-right, |-joined; fragment_size 8 → 4 context chars
    val r4 = run(
      """{"query": {"match": {"title": "gold"}},
        | "sort": [{"objectId": "asc"}], "_source": ["objectId", "title"],
        | "highlight": {"fields": {"title": {
        |   "fragment_size": 8, "number_of_fragments": 2}}}}""".stripMargin)
    assert(r4.toSeq === Seq(
      ("a", "<em>Gold</em> pla|ith <em>gold</em> tri"),
      ("c", "<em>GOLD</em> sta")))
    // parse guards: fragment_size without fragments, no clause on the
    // field, $ in tags
    assertThrows[IllegalArgumentException](SearchQuery.parseFullBody(
      """{"query": {"match": {"title": "gold"}},
        | "highlight": {"fields": {"title": {"fragment_size": 40}}}}""".stripMargin, sch))
    assertThrows[IllegalArgumentException](SearchQuery.parseFullBody(
      """{"query": {"match": {"title": "gold"}},
        | "highlight": {"fields": {"tag": {}}}}""".stripMargin, sch))
    assertThrows[IllegalArgumentException](SearchQuery.parseFullBody(
      """{"query": {"match": {"title": "gold"}},
        | "highlight": {"pre_tags": ["$1"], "post_tags": ["x"],
        |   "fields": {"title": {}}}}""".stripMargin, sch))
  }

  test("date math: step order, ISO-Monday weeks, month-end clamping, rejections") {
    def ts(s0: String) = java.sql.Timestamp.valueOf(s0)
    import SearchQuery.resolveDateMath
    assert(resolveDateMath("2024-01-10") === ts("2024-01-10 00:00:00"))
    assert(resolveDateMath("2024-01-10T06:30:15") === ts("2024-01-10 06:30:15"))
    assert(resolveDateMath("2024-01-10||-2d/d") === ts("2024-01-08 00:00:00"))
    assert(resolveDateMath("2024-01-03||+12d/d") === ts("2024-01-15 00:00:00"))
    // /w rounds to the ISO Monday (2024-01-10 is a Wednesday)
    assert(resolveDateMath("2024-01-10||/w") === ts("2024-01-08 00:00:00"))
    assert(resolveDateMath("2024-01-08||/w") === ts("2024-01-08 00:00:00")) // Monday stays
    // month arithmetic clamps to month end (Jan 31 + 1M = Feb 29 in 2024)
    assert(resolveDateMath("2024-01-31||+1M") === ts("2024-02-29 00:00:00"))
    assert(resolveDateMath("2024-03-15||/M") === ts("2024-03-01 00:00:00"))
    assert(resolveDateMath("2024-03-15T10:20:30||+3h/h") === ts("2024-03-15 13:00:00"))
    // rejections: now anchor, rounding on lte/gt, malformed steps
    assertThrows[IllegalArgumentException](resolveDateMath("now-7d/d"))
    assertThrows[IllegalArgumentException](resolveDateMath("2024-01-10||+1q"))
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
    assertThrows[IllegalArgumentException](SearchQuery.fromJson(
      """{"query": {"range": {"ts": {"lte": "2024-01-10||/d"}}}}""", sch))
    assertThrows[IllegalArgumentException](SearchQuery.fromJson(
      """{"query": {"range": {"ts": {"gte": "2024-01-10||/d", "lt": 5}}}}""", sch))
    // format changes how ES parses the bound — reject, never ignore
    assertThrows[IllegalArgumentException](SearchQuery.fromJson(
      """{"query": {"range": {"ts": {"gte": "2024-03-02", "format": "yyyy-dd-MM"}}}}""", sch))
    // a string bound on a keyword field is a lexicographic range (not
    // date math) — typed rejection, not a DateTimeParseException
    val sch2 = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType)))
    assertThrows[IllegalArgumentException](SearchQuery.fromJson(
      """{"query": {"range": {"k": {"gte": "a", "lt": "m"}}}}""", sch2))
    // malformed anchors surface as the engine's typed rejection too
    assertThrows[IllegalArgumentException](SearchQuery.resolveDateMath("2024-13-45||/d"))
  }

  test("review pins: auto quarter distance, composite null cursor, negative field_value_factor") {
    import spark.implicits._
    // auto_date_histogram counts QUARTER-START distance: Feb..Jul spans 3
    // quarters (> target 2) though only 5 month-starts apart (the old
    // months/3+1 = 2 would have picked quarter and rendered 3 buckets,
    // breaking the <= target contract) — the ladder must fall to year
    val dts = Seq(("e1", "2024-02-10"), ("e2", "2024-07-10")).toDF("id", "d")
      .select(struct(col("id"), to_date(col("d")).as("day")).as("doc"))
    val dtsSch = dts.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    val auto = """{"aggs": {"a": {"auto_date_histogram": {"field": "day", "buckets": 2}}}}"""
    assert(EsAggs.run(dts, "doc", auto, dtsSch).collect()
      .map(x => (x.getAs[java.sql.Date]("key").toString, x.getAs[Long]("doc_count"),
        x.getAs[String]("interval"))).toSeq === Seq(("2024-01-01", 2L, "year")))

    // composite missing_bucket: a page boundary INSIDE the null-keyed
    // group emits a null cursor value — the next page must resume within
    // the null group, not throw "bad after value"
    val cd = Seq((Option.empty[String], "a"), (None, "b"), (None, "c"),
      (Some("x"), "a"), (Some("x"), "b")).toDF("o", "p")
      .select(struct(col("o").as("_org"), col("p").as("planType")).as("doc"))
    val cdSch = cd.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    def page(after: String): Seq[(String, String)] = EsAggs.run(cd, "doc",
      s"""{"size": 0, "aggs": {"c": {"composite": {"size": 2, "sources": [
         |  {"org": {"terms": {"field": "_org", "missing_bucket": true}}},
         |  {"ptype": {"terms": {"field": "planType"}}}]$after}}}}""".stripMargin,
      cdSch).collect().map(x => (x.getAs[String]("org"), x.getAs[String]("ptype"))).toSeq
    assert(page("") === Seq((null, "a"), (null, "b")))
    assert(page(""", "after": {"org": null, "ptype": "b"}""") ===
      Seq((null, "c"), ("x", "a")))
    // null cursor on a strict (missing_bucket: false) source stays loud
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"c": {"composite": {"sources": [
        |  {"org": {"terms": {"field": "_org"}}}], "after": {"org": null}}}}}""".stripMargin,
      cdSch))

    // field_value_factor sqrt/log1p of a negative value rejects loudly at
    // execution (ES errors per-document; a silent NaN would sort FIRST)
    val fd = Seq(("d1", -5L), ("d2", 9L)).toDF("id", "bal")
      .select(struct(col("id").as("objectId"), col("bal").as("balance")).as("doc"))
    val fdSch = fd.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    val fsBody =
      """{"query": {"function_score": {
        |  "query": {"bool": {"filter": [{"exists": {"field": "balance"}}]}},
        |  "functions": [{"field_value_factor": {
        |    "field": "balance", "modifier": "sqrt", "missing": 0}}]}},
        |  "size": 10, "_source": ["objectId"]}""".stripMargin
    val e = intercept[Throwable](SearchExec.search(fd, "doc", fsBody, fdSch).collect())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("field_value_factor sqrt of a negative value")))
  }

  test("round-8 ADVICE contracts: pre-collapse total, key-clipped hard_bounds, " +
    "empty named filters keep their bucket") {
    // track_total_hits counts MATCHING DOCUMENTS, ignoring collapse (ES
    // total.value semantics): 6 docs, 3 planTypes → 3 hits, total 6
    val collapsedBody =
      """{"query": {"range": {"planCostShares.copay": {"gte": 0}}},
        |  "collapse": {"field": "planType"},
        |  "sort": [{"planCostShares.copay": {"order": "desc"}}, {"objectId": "asc"}],
        |  "size": 10, "_source": ["objectId"], "track_total_hits": true}""".stripMargin
    val page = SearchExec.search(corpus, "doc", collapsedBody, PlanSchema.plan).collect()
    assert(page.length === 3, "one hit per planType after collapse")
    assert(page.forall(_.getAs[Long]("total") === 6L),
      "total must count the PRE-collapse hit set (ES ignores collapse in total)")

    // hard_bounds clips by rounded bucket KEY, both ends inclusive (ES
    // DoubleBounds.contain): with interval 10 and bounds [15, 40], the
    // copay-17 doc (key 10 < 15) drops even though its RAW value >= 15,
    // while copay 40 and 49 (key 40 == max) stay even though raw >= 40
    val hbCorpus = docsDf(variant("h1", "typeH", 17), variant("h2", "typeH", 40),
      variant("h3", "typeH", 49), variant("h4", "typeH", 25))
    val hbBody =
      """{"size": 0, "aggs": {"axis": {"histogram": {
        |  "field": "planCostShares.copay", "interval": 10,
        |  "hard_bounds": {"min": 15, "max": 40}}}}}""".stripMargin
    val hb = EsAggs.run(hbCorpus, "doc", hbBody, PlanSchema.plan).collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[Long]("doc_count"))).toSeq
    assert(hb === Seq((20L, 1L), (40L, 2L)),
      "key 10 clipped (key < min) despite raw 17 >= 15; key 40 kept (key == max) despite raw >= 40")

    // a named filter whose matches all miss the child key — or that
    // matches nothing — still emits its ES bucket: one placeholder row
    // (child key null, child count 0, metrics null) with the parent count
    val fBody =
      """{"size": 0, "aggs": {"series": {
        |  "filters": {"filters": {
        |    "cheap": {"range": {"planCostShares.copay": {"lt": 30}}},
        |    "impossible": {"range": {"planCostShares.copay": {"gte": 1000}}}}},
        |  "aggs": {"by_type": {"terms": {"field": "planType"}}}}}}""".stripMargin
    val fr = EsAggs.run(corpus, "doc", fBody, PlanSchema.plan).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("doc_count"),
        r.getAs[String]("key2"), r.getAs[Long]("doc_count2")))
    val imp = fr.filter(_._1 == "impossible")
    assert(imp === Array(("impossible", 0L, null, 0L)),
      "matches-nothing filter keeps its named bucket as a placeholder row")
    assert(fr.filter(_._1 == "cheap").forall(r => r._3 != null && r._4 > 0),
      "surviving filters render real child rows only")
  }

  test("round-8 nested-context bucket aggs: filter ratio, top_metrics, parent-field reject") {
    // singular `filter` agg at the ELEMENT grain — the Kibana filter-ratio
    // block after a nested context switch: 6 docs × 2 services = 12
    // elements, 6 match the "Yearly" prefix, all with copay 0
    val fBody =
      """{"size": 0, "aggs": {"svc": {"nested": {"path": "linkedPlanServices"},
        |  "aggs": {"phys": {
        |    "filter": {"prefix": {"linkedPlanServices.linkedService.name.keyword": "Yearly"}},
        |    "aggs": {"avg_copay": {"avg": {"field": "linkedPlanServices.planserviceCostShares.copay"}}}}}}}}""".stripMargin
    val fr = EsAggs.run(corpus, "doc", fBody, PlanSchema.plan).collect()
    assert(fr.length === 1)
    assert(fr.head.getAs[String]("key") === "phys")
    assert(fr.head.getAs[Long]("doc_count") === 6L)
    assert(fr.head.getAs[Double]("avg_copay") === 0.0)

    // top_metrics at the element grain: per-service-name "last value"
    val tmBody =
      """{"size": 0, "aggs": {"svc": {"nested": {"path": "linkedPlanServices"},
        |  "aggs": {"by_name": {"terms": {"field": "linkedPlanServices.linkedService.name.keyword", "size": 2},
        |    "aggs": {"last": {"top_metrics": {
        |      "metrics": {"field": "linkedPlanServices.planserviceCostShares.copay"},
        |      "sort": {"linkedPlanServices.objectId": "asc"}}}}}}}}}""".stripMargin
    val tm = EsAggs.run(corpus, "doc", tmBody, PlanSchema.plan).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("doc_count"),
        r.getAs[Long]("planserviceCostShares_copay"))).toSet
    assert(tm === Set(("Yearly physical", 6L, 0L), ("well baby", 6L, 175L)))

    // a parent-field predicate inside the nested context rejects loudly
    // (ES nested docs carry no parent fields — it could never match)
    val bad =
      """{"size": 0, "aggs": {"svc": {"nested": {"path": "linkedPlanServices"},
        |  "aggs": {"t": {"filter": {"term": {"planType": "typeA"}}}}}}}""".stripMargin
    val e = intercept[IllegalArgumentException] {
      EsAggs.run(corpus, "doc", bad, PlanSchema.plan).collect()
    }
    assert(e.getMessage.contains("nested context"))
  }

  test("round-8 decay kernels: gauss/exp values match the closed form and rank " +
    "differently from linear") {
    // copays 10, 20, 30, 40, 50, 99 with origin 0, scale 30, decay 0.5:
    // the three kernels agree at dist 0 and dist = scale (by construction
    // kernel(scale) = decay) but BETWEEN them the bell/exponential/ramp
    // shapes diverge — and past s = scale/(1-decay) = 60 linear hits 0
    // while gauss/exp stay positive (copay 99 separates the families)
    def scores(kind: String): Seq[(String, Double)] = {
      val body =
        s"""{"query": {"function_score": {
           |  "query": {"bool": {"filter": [{"exists": {"field": "planType"}}]}},
           |  "functions": [{"$kind": {"planCostShares.copay": {
           |    "origin": 0, "scale": 30, "decay": 0.5, "missing": 0}}}]}},
           |  "sort": [{"_score": "desc"}, {"objectId": "asc"}],
           |  "size": 10, "_source": ["objectId"]}""".stripMargin
      SearchExec.search(corpus, "doc", body, PlanSchema.plan).collect()
        .map(r => (r.getAs[String]("objectId"), r.getAs[Double]("score"))).toSeq
    }
    val gauss = scores("gauss").toMap
    val expS = scores("exp").toMap
    val lin = scores("linear").toMap
    def closeTo(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-12
    // closed forms at copay 30 (dist = scale): every kernel = decay = 0.5
    assert(closeTo(gauss("b1"), 0.5) && closeTo(expS("b1"), 0.5) && closeTo(lin("b1"), 0.5))
    // at copay 10: gauss exp(100·ln.5/900) ≈ .926, exp exp(10·ln.5/30) ≈ .794, linear 5/6
    assert(closeTo(gauss("a1"), math.exp(100.0 * math.log(0.5) / 900.0)))
    assert(closeTo(expS("a1"), math.exp(10.0 * math.log(0.5) / 30.0)))
    assert(closeTo(lin("a1"), 50.0 / 60.0))
    // the bell starts flat, the exponential drops immediately: gauss > exp
    // near the origin, and the order vs linear differs per kernel
    assert(gauss("a1") > expS("a1") && gauss("a1") > lin("a1") && expS("a1") < lin("a1"),
      s"kernel shapes must diverge between origin and scale: " +
        s"gauss=${gauss("a1")} exp=${expS("a1")} linear=${lin("a1")}")
    // past s = 60: linear floors at 0, gauss/exp remain positive (copay 99)
    assert(lin("c1") === 0.0 && gauss("c1") > 0.0 && expS("c1") > 0.0)
  }

  test("round-8 intervals: ordered forbids transpositions, max_gaps prices wasted " +
    "positions, any_of unions rules") {
    import spark.implicits._
    val td = Seq(
      ("t1", "alpha beta"),        // adjacent, in order
      ("t2", "beta alpha"),        // adjacent, TRANSPOSED
      ("t3", "alpha x y beta"),    // ordered, 2 wasted positions
      ("t4", "alpha x y z beta"),  // ordered, 3 wasted positions
      ("t5", "gamma delta")
    ).toDF("id", "text").select(struct(col("id"), col("text")).as("doc"))
    val sch = td.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    def ids(body: String): Seq[String] = {
      val ast = SearchQuery.fromJson(body, sch)
      td.filter(SearchQuery.compile(ast, col("doc")))
        .select(col("doc.id")).collect().map(_.getString(0)).sorted.toSeq
    }
    // ordered: the transposed doc does NOT match (phrase slop 2 WOULD)
    assert(ids("""{"query": {"intervals": {"text": {"match":
      {"query": "alpha beta", "ordered": true, "max_gaps": 2}}}}}""") === Seq("t1", "t3"))
    // unordered: transposition matches when adjacent
    assert(ids("""{"query": {"intervals": {"text": {"match":
      {"query": "alpha beta", "max_gaps": 0}}}}}""") === Seq("t1", "t2"))
    // max_gaps unbounded by default
    assert(ids("""{"query": {"intervals": {"text": {"match":
      {"query": "alpha beta", "ordered": true}}}}}""") === Seq("t1", "t3", "t4"))
    // any_of unions rules
    assert(ids("""{"query": {"intervals": {"text": {"any_of": {"intervals": [
      {"match": {"query": "alpha beta", "ordered": true, "max_gaps": 0}},
      {"match": {"query": "gamma delta"}}]}}}}}""") === Seq("t1", "t5"))
    // out-of-scope rules reject loudly
    assertThrows[IllegalArgumentException](ids(
      """{"query": {"intervals": {"text": {"all_of": {"intervals": []}}}}}"""))
    assertThrows[IllegalArgumentException](ids(
      """{"query": {"intervals": {"text": {"match": {"query": "a b c d"}}}}}"""))
    assertThrows[IllegalArgumentException](ids(
      """{"query": {"intervals": {"text": {"match": {"query": "a a"}}}}}"""))
  }

  test("round-8 geo: geohash matches the canonical vector; bbox edges are inclusive") {
    import spark.implicits._
    // the textbook geohash test vector (57.64911, 10.40744 → u4pruy) plus
    // origin/edge cells, evaluated through the engine's column expression
    val pts = Seq((57.64911, 10.40744), (0.0, 0.0), (-90.0, -180.0), (89.99, 179.99))
      .toDF("lat", "lon")
    val got = pts.select(Geo.geohash(col("lat"), col("lon"), 6).as("gh"))
      .collect().map(_.getString(0)).toSeq
    assert(got.head === "u4pruy")
    assert(got(1) === "s00000") // equator/meridian corner cell
    assert(got(2) === "000000") // south-west extreme
    assert(got.forall(_.length == 6))
    // geo_bounding_box: corners are INCLUSIVE on all four edges
    val corner = Seq(("c1", 45.0, 60.0), ("c2", -10.0, -30.0), ("out", 45.1, 60.0))
      .toDF("id", "la", "lo")
      .select(struct(col("id"), struct(col("la").as("lat"), col("lo").as("lon")).as("location")).as("doc"))
    val sch = corner.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    val ast = SearchQuery.fromJson(
      """{"query": {"geo_bounding_box": {"location": {
        |  "top_left": {"lat": 45.0, "lon": -30.0},
        |  "bottom_right": {"lat": -10.0, "lon": 60.0}}}}}""".stripMargin, sch)
    assert(corner.filter(SearchQuery.compile(ast, col("doc")))
      .select(col("doc.id")).collect().map(_.getString(0)).sorted.toSeq === Seq("c1", "c2"))
    // antimeridian-crossing boxes reject loudly
    assertThrows[IllegalArgumentException](SearchQuery.fromJson(
      """{"query": {"geo_bounding_box": {"location": {
        |  "top_left": {"lat": 10.0, "lon": 170.0},
        |  "bottom_right": {"lat": -10.0, "lon": -170.0}}}}}""".stripMargin, sch))
  }

  test("round-8 additions: script_score DSL, wrapper transport, terms lookup, " +
    "sampler/ip/frequent_item_sets/change_point rejections") {
    import SearchQuery.{SBin, SCall, SField, SNum, SScore}
    // script parser: precedence, parens, unary minus
    assert(SearchQuery.parseScript("1 + 2 * 3", PlanSchema.plan) ===
      SBin('+', SNum(1), SBin('*', SNum(2), SNum(3))))
    assert(SearchQuery.parseScript("(1 + 2) * 3", PlanSchema.plan) ===
      SBin('*', SBin('+', SNum(1), SNum(2)), SNum(3)))
    assert(SearchQuery.parseScript("-_score", PlanSchema.plan) ===
      SBin('-', SNum(0), SScore))
    assert(SearchQuery.parseScript(
      "Math.sqrt(doc['planCostShares.copay'].value)", PlanSchema.plan) ===
      SCall("sqrt", SField(Seq("planCostShares", "copay"))))
    // two-argument Math forms (r10): max/min/pow parse to SCall2 with full
    // expressions in both slots; arity errors are loud
    assert(SearchQuery.parseScript("Math.max(1, _score - 2)", PlanSchema.plan) ===
      SearchQuery.SCall2("max", SNum(1), SBin('-', SScore, SNum(2))))
    assert(SearchQuery.parseScript("Math.pow(2, Math.min(3, 4))", PlanSchema.plan) ===
      SearchQuery.SCall2("pow", SNum(2), SearchQuery.SCall2("min", SNum(3), SNum(4))))
    assertThrows[IllegalArgumentException](
      SearchQuery.parseScript("Math.max(1)", PlanSchema.plan)) // missing 2nd arg
    assertThrows[IllegalArgumentException](
      SearchQuery.parseScript("Math.sqrt(1, 2)", PlanSchema.plan)) // unary arity
    // rejections: unknown function, trailing garbage, array-crossing field
    assertThrows[IllegalArgumentException](
      SearchQuery.parseScript("Math.exp(1)", PlanSchema.plan))
    assertThrows[IllegalArgumentException](
      SearchQuery.parseScript("1 + 2 garbage", PlanSchema.plan))
    assertThrows[IllegalArgumentException](SearchQuery.parseScript(
      "doc['linkedPlanServices.linkedService.name'].value", PlanSchema.plan))
    // script evaluation: x/0 scores NULL via try_divide (documented
    // Painless deviation — ANSI Spark errors on any zero divisor);
    // negative sqrt raise_errors loudly
    val one = spark.range(1)
    assert(one.select(SearchQuery.compileScript(
      SBin('/', SNum(1), SNum(0)), col("id"), lit(1.0)).as("v"))
      .head.isNullAt(0))
    assertThrows[Exception](
      one.select(SearchQuery.compileScript(
        SCall("sqrt", SNum(-1)), col("id"), lit(1.0)).as("v")).head)
    // wrapper: decodes to the same AST as the inline form; bad base64 loud
    val inline = """{"term": {"planType": "BUILDING"}}"""
    val b64 = java.util.Base64.getEncoder.encodeToString(inline.getBytes("UTF-8"))
    assert(SearchQuery.fromJson(s"""{"query": {"wrapper": {"query": "$b64"}}}""",
      PlanSchema.plan) === SearchQuery.fromJson(s"""{"query": $inline}""", PlanSchema.plan))
    assertThrows[IllegalArgumentException](SearchQuery.fromJson(
      """{"query": {"wrapper": {"query": "!!not-base64!!"}}}""", PlanSchema.plan))
    // terms lookup: parses to an unresolved node that compile rejects
    // loudly (only SearchExec carries the corpus to fetch from)
    val lk = SearchQuery.fromJson(
      """{"query": {"terms": {"planType": {"index": "plan", "id": "plan-1",
        |  "path": "planType"}}}}""".stripMargin, PlanSchema.plan)
    assert(lk.isInstanceOf[SearchQuery.TermsLookup])
    assertThrows[IllegalArgumentException](SearchQuery.compile(lk, col("doc")))
    // random_sampler: probability bounds + bucket sub-aggs rejected
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"s": {"random_sampler": {"probability": 1.5, "hash_field": "objectId"},
        |  "aggs": {"n": {"value_count": {"field": "objectId"}}}}}}""".stripMargin,
      PlanSchema.plan))
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"s": {"random_sampler": {"probability": 0.5, "hash_field": "objectId"},
        |  "aggs": {"t": {"terms": {"field": "planType"}}}}}}""".stripMargin,
      PlanSchema.plan))
    // ip_range: malformed address rejected
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"t": {"ip_range": {"field": "planType",
        |  "ranges": [{"to": "300.0.0.1"}]}}}}""".stripMargin, PlanSchema.plan))
    // frequent_item_sets: a non-array field is not a transaction
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"f": {"frequent_item_sets": {
        |  "fields": [{"field": "planType"}]}}}}""".stripMargin, PlanSchema.plan))
    // change_point needs an ordered (histogram) parent
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {
        |  "t": {"terms": {"field": "planType"}},
        |  "cp": {"change_point": {"buckets_path": "t>_count"}}}}""".stripMargin,
      PlanSchema.plan))
  }

  test("round-8 span/combined_fields: span_near desugars to intervals, span_first bounds " +
    "positions, combined_fields is term-centric") {
    val corner = spark.createDataFrame(Seq(
      ("d1", "alpha beta gamma", "en"),
      ("d2", "beta alpha", "en"),
      ("d3", "x alpha y y beta", "de"))).toDF("id", "text", "lang")
      .select(struct(col("id"), col("text"), col("lang")).as("doc"))
    val sch = corner.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    def ids(body: String): Seq[String] =
      corner.filter(SearchQuery.compile(SearchQuery.fromJson(body, sch), col("doc")))
        .select(col("doc.id")).collect().map(_.getString(0)).sorted.toSeq
    // span_near in_order: d1 (adjacent, ordered) and d3 (gaps=2 > slop 1? x alpha y y beta:
    // alpha@1, beta@4 → span 4, gaps = 4-1+1-2 = 2 > 1 → no); d2 transposed → no
    assert(ids("""{"query": {"span_near": {"clauses": [
      {"span_term": {"text": "alpha"}}, {"span_term": {"text": "beta"}}],
      "slop": 1, "in_order": true}}}""") === Seq("d1"))
    // in_order false admits the transposition
    assert(ids("""{"query": {"span_near": {"clauses": [
      {"span_term": {"text": "alpha"}}, {"span_term": {"text": "beta"}}],
      "slop": 0, "in_order": false}}}""") === Seq("d1", "d2"))
    // span_near IS an Intervals node (desugared, same machinery)
    assert(SearchQuery.fromJson("""{"query": {"span_near": {"clauses": [
      {"span_term": {"text": "alpha"}}, {"span_term": {"text": "beta"}}],
      "slop": 2, "in_order": true}}}""", sch) ===
      SearchQuery.Intervals(Seq("text"), SearchQuery.IntervalMatch(Seq("alpha", "beta"), true, 2)))
    // clauses on different fields reject loudly
    assertThrows[IllegalArgumentException](SearchQuery.fromJson(
      """{"query": {"span_near": {"clauses": [
        {"span_term": {"text": "a"}}, {"span_term": {"lang": "b"}}], "slop": 0}}}""", sch))
    // span_first: beta within the first 2 positions — d1 (beta@1) and
    // d2 (beta@0); d3's beta@4 is past the window
    assert(ids("""{"query": {"span_first": {"match": {"span_term": {"text": "beta"}},
      "end": 2}}}""") === Seq("d1", "d2"))
    assert(ids("""{"query": {"span_first": {"match": {"span_term": {"text": "beta"}},
      "end": 1}}}""") === Seq("d2"))
    assertThrows[IllegalArgumentException](SearchQuery.fromJson(
      """{"query": {"span_first": {"match": {"span_term": {"text": "a"}}, "end": 0}}}""", sch))
    // combined_fields term-centric and: "de beta" — d3 has beta in text AND de in lang;
    // d1/d2 lack 'de' everywhere. (A field-centric and would also reject d3: no single
    // field carries both tokens.)
    assert(ids("""{"query": {"combined_fields": {"query": "de beta",
      "fields": ["text", "lang"], "operator": "and"}}}""") === Seq("d3"))
    assert(ids("""{"query": {"combined_fields": {"query": "de gamma",
      "fields": ["text", "lang"], "operator": "or"}}}""") === Seq("d1", "d3"))
    // per-field boost syntax rejects loudly
    assertThrows[IllegalArgumentException](SearchQuery.fromJson(
      """{"query": {"combined_fields": {"query": "a", "fields": ["text^2"]}}}""", sch))
    // significant_terms percentage heuristic takes an empty object
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"s": {"significant_terms": {"field": "planType",
        |  "percentage": {"background_is_superset": true}}}}}""".stripMargin,
      PlanSchema.plan))
  }

  test("round-8 runtime_mappings: computed fields work in query/sort/_source; " +
    "_score and shadowing reject") {
    val corner = spark.createDataFrame(Seq(
      ("a", 10L), ("b", 25L), ("c", 40L))).toDF("objectId", "v")
      .select(struct(col("objectId"), col("v")).as("doc"))
    val sch = corner.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    val body =
      """{
        |  "runtime_mappings": {
        |    "band": { "type": "long", "script": { "source": "doc['v'].value / 10" } }
        |  },
        |  "query": { "range": { "band": { "gte": 2 } } },
        |  "sort": [ { "band": { "order": "desc" } }, { "objectId": { "order": "asc" } } ],
        |  "size": 10,
        |  "_source": ["objectId", "band"]
        |}""".stripMargin
    val out = SearchExec.search(corner, "doc", body, sch).collect()
    assert(out.map(r => (r.getAs[String]("objectId"), r.getAs[Long]("band"))).toSeq ===
      Seq(("c", 4L), ("b", 2L)))
    // _score in a runtime script rejects (no score at field-computation time)
    assertThrows[IllegalArgumentException](SearchExec.search(corner, "doc",
      """{"runtime_mappings": {"x": {"type": "double", "script": {"source": "_score"}}},
        |"query": {"match_all": {}}, "sort": [{"objectId": {"order": "asc"}}]}""".stripMargin,
      sch))
    // shadowing a mapped field rejects
    assertThrows[IllegalArgumentException](SearchExec.search(corner, "doc",
      """{"runtime_mappings": {"v": {"type": "long", "script": {"source": "1"}}},
        |"query": {"match_all": {}}, "sort": [{"objectId": {"order": "asc"}}]}""".stripMargin,
      sch))
    // unsupported declared type rejects
    assertThrows[IllegalArgumentException](SearchExec.search(corner, "doc",
      """{"runtime_mappings": {"x": {"type": "keyword", "script": {"source": "1"}}},
        |"query": {"match_all": {}}, "sort": [{"objectId": {"order": "asc"}}]}""".stripMargin,
      sch))
  }

  test("round-8 nested-sort-filter and collapse inner_hits reject malformed bodies loudly") {
    // sort nested path must be the sort field's array prefix
    assertThrows[IllegalArgumentException](SearchQuery.parseFullBody(
      """{"query": {"match_all": {}},
        |"sort": [{"linkedPlanServices.planserviceCostShares.copay": {
        |  "order": "asc", "mode": "min",
        |  "nested": {"path": "planCostShares",
        |    "filter": {"match_all": {}}}}}]}""".stripMargin, PlanSchema.plan))
    // nested needs a filter
    assertThrows[IllegalArgumentException](SearchQuery.parseFullBody(
      """{"query": {"match_all": {}},
        |"sort": [{"linkedPlanServices.planserviceCostShares.copay": {
        |  "order": "asc", "mode": "min",
        |  "nested": {"path": "linkedPlanServices"}}}]}""".stripMargin, PlanSchema.plan))
    // collapse inner_hits needs an explicit sort and a name
    assertThrows[IllegalArgumentException](SearchQuery.parseFullBody(
      """{"query": {"match_all": {}},
        |"collapse": {"field": "planType",
        |  "inner_hits": {"name": "x", "size": 2}},
        |"sort": [{"objectId": {"order": "asc"}}]}""".stripMargin, PlanSchema.plan))
    assertThrows[IllegalArgumentException](SearchQuery.parseFullBody(
      """{"query": {"match_all": {}},
        |"collapse": {"field": "planType",
        |  "inner_hits": {"size": 2, "sort": [{"objectId": "asc"}]}},
        |"sort": [{"objectId": {"order": "asc"}}]}""".stripMargin, PlanSchema.plan))
  }

  test("match with operator=and through an array path binds every token to the SAME element") {
    val assembledDocs = Assembler.assemble(sh, PlanSchema.plan, "plan")
    def cnt(body: String): Long = assembledDocs.filter(
      SearchQuery.compile(SearchQuery.fromJson(body, PlanSchema.plan), col("doc"))).count()
    // "Yearly physical" element carries both tokens → and matches
    assert(cnt("""{"query": {"match": {"linkedPlanServices.linkedService.name":
      {"query": "yearly physical", "operator": "and"}}}}""") === 1)
    // tokens split across DIFFERENT elements ("Yearly physical" / "well baby") → and fails
    assert(cnt("""{"query": {"match": {"linkedPlanServices.linkedService.name":
      {"query": "yearly baby", "operator": "and"}}}}""") === 0)
    // ... but or matches
    assert(cnt("""{"query": {"match": {"linkedPlanServices.linkedService.name":
      {"query": "yearly baby", "operator": "or"}}}}""") === 1)
  }

  test("round-9 scripted_metric: decomposable fold computes, non-fold shapes reject") {
    // corpus copays: typeA {10, 20}, typeB {30, 40, 50}, typeC {99};
    // map = copay * 2 + 1 → typeA: 21+41=62, typeB: 61+81+101=243, typeC: 199
    val body =
      """{"size": 0, "aggs": {"t": {"terms": {"field": "planType", "size": 10, "order": {"_key": "asc"}},
        |  "aggs": {"m": {"scripted_metric": {
        |    "init_script": "state.t = 0",
        |    "map_script": "state.t += doc['planCostShares.copay'].value * 2 + 1",
        |    "combine_script": "return state.t",
        |    "reduce_script": "double t = 0; for (s in states) { t += s } return t"}}}}}}""".stripMargin
    assert(EsAggs.run(corpus, "doc", body, PlanSchema.plan).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Double]("m"))).toSeq ===
      Seq(("typeA", 62.0), ("typeB", 243.0), ("typeC", 199.0)))
    // flat (no bucket) form: one row over the whole hit set
    val flat =
      """{"size": 0, "aggs": {"m": {"scripted_metric": {
        |    "init_script": "state.x = 0",
        |    "map_script": "state.x += doc['planCostShares.copay'].value",
        |    "combine_script": "state.x",
        |    "reduce_script": "t = 0; for (a in states) { t += a } return t"}}}}""".stripMargin
    assert(EsAggs.run(corpus, "doc", flat, PlanSchema.plan).collect()
      .map(r => (r.getAs[Long]("doc_count"), r.getAs[Double]("m"))).toSeq ===
      Seq((6L, 249.0)))
    // non-fold shapes reject loudly, naming the implemented subset
    def bad(init: String = "state.t = 0",
            map: String = "state.t += 1",
            combine: String = "return state.t",
            reduce: String = "double t = 0; for (s in states) { t += s } return t"): String =
      s"""{"aggs": {"m": {"scripted_metric": {
         |  "init_script": "$init", "map_script": "$map",
         |  "combine_script": "$combine", "reduce_script": "$reduce"}}}}""".stripMargin
    assertThrows[IllegalArgumentException](EsAggs.parse(
      bad(init = "state.t = 5"), PlanSchema.plan)) // non-zero seed
    assertThrows[IllegalArgumentException](EsAggs.parse(
      bad(map = "state.t = state.t + 1"), PlanSchema.plan)) // not +=
    assertThrows[IllegalArgumentException](EsAggs.parse(
      bad(map = "state.other += 1"), PlanSchema.plan)) // wrong accumulator
    assertThrows[IllegalArgumentException](EsAggs.parse(
      bad(combine = "return state.t * 2"), PlanSchema.plan))
    assertThrows[IllegalArgumentException](EsAggs.parse(
      bad(reduce = "double t = 1; for (s in states) { t *= s } return t"), PlanSchema.plan))
    // _score is meaningless in an aggregation context
    assertThrows[IllegalArgumentException](EsAggs.parse(
      bad(map = "state.t += _score"), PlanSchema.plan))
  }

  test("round-9 geo_shape: polygon parity, disjoint complement, envelope desugar, rejects") {
    import spark.implicits._
    val pts = Seq(("in1", 1.0, 1.0), ("in2", 8.5, 8.5), ("out1", 11.0, 5.0),
      ("out2", -1.0, 5.0), ("edgeCase", 5.0, 20.0))
      .toDF("id", "plat", "plon")
      .select(struct(col("id").as("objectId"),
        struct(col("plat").as("lat"), col("plon").as("lon")).as("location")).as("doc"))
    val ptSchema = pts.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    // unit-ish square (0..10): GeoJSON ring is [lon, lat], closed
    def body(relation: String): String =
      s"""{"query": {"geo_shape": {"location": {
         |  "shape": {"type": "polygon", "coordinates":
         |    [[[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]]]},
         |  "relation": "$relation"}}}}""".stripMargin
    def ids(b: String): Set[String] = pts.filter(
      SearchQuery.compile(SearchQuery.fromJson(b, ptSchema), col("doc")))
      .select(col("doc.objectId")).as[String].collect().toSet
    assert(ids(body("intersects")) === Set("in1", "in2"))
    assert(ids(body("within")) === Set("in1", "in2")) // same for points
    assert(ids(body("disjoint")) === Set("out1", "out2", "edgeCase"))
    // envelope desugars to the bbox query: [[minLon, maxLat], [maxLon, minLat]]
    val env =
      """{"query": {"geo_shape": {"location": {
        |  "shape": {"type": "envelope", "coordinates": [[0.0, 10.0], [10.0, 0.0]]}}}}}""".stripMargin
    assert(ids(env) === Set("in1", "in2"))
    // contains over point docs can never match — rejected, not silently empty
    assertThrows[IllegalArgumentException](
      SearchQuery.fromJson(body("contains"), ptSchema))
    // unclosed ring rejected
    assertThrows[IllegalArgumentException](SearchQuery.fromJson(
      """{"query": {"geo_shape": {"location": {
        |  "shape": {"type": "polygon", "coordinates":
        |    [[[0.0, 0.0], [10.0, 0.0], [10.0, 10.0]]]}}}}}""".stripMargin, ptSchema))
    // a point exactly ON a horizontal edge follows the half-open parity
    // convention deterministically (no crash, no double count): (0, 5) is
    // on the left edge x=0 — the test just pins determinism across both
    // relations partitioning the plane
    val all = ids(body("intersects")) ++ ids(body("disjoint"))
    assert(all === Set("in1", "in2", "out1", "out2", "edgeCase"))
  }

  test("round-9 random_score + min_score: deterministic draw, floor prunes the hit set") {
    val assembledDocs = Assembler.assemble(Shredder.shred(corpus), PlanSchema.plan, "plan")
    def run(minScore: Double): Seq[(String, Double)] =
      SearchExec.search(assembledDocs, "doc",
        s"""{"query": {"function_score": {
           |  "functions": [{"random_score": {"seed": 11, "field": "objectId"}}]}},
           |"min_score": $minScore,
           |"sort": [{"_score": "desc"}, {"objectId": "asc"}],
           |"size": 10, "_source": ["objectId"]}""".stripMargin, PlanSchema.plan)
        .collect().map(r => (r.getAs[String]("objectId"), r.getAs[Double]("score"))).toSeq
    val full = run(0.0)
    assert(full.size === 6)
    assert(full.map(_._2).forall(s => s >= 0.0 && s < 1.0))
    assert(full === run(0.0)) // deterministic across runs
    assert(full.map(_._2).distinct.size === 6) // seeded per-doc draws differ
    // the floor keeps exactly the prefix of the score-desc page
    val floor = full(2)._2
    assert(run(floor) === full.take(3))
    // seed and field are required (deterministic-draw contract)
    assertThrows[IllegalArgumentException](SearchQuery.parseBody(
      """{"query": {"function_score": {"functions": [{"random_score": {"field": "objectId"}}]}}}""",
      PlanSchema.plan))
    assertThrows[IllegalArgumentException](SearchQuery.parseBody(
      """{"query": {"function_score": {"functions": [{"random_score": {"seed": 3}}]}}}""",
      PlanSchema.plan))
    // script_score FUNCTION form: value = script, _score reads the base
    // (corpus directly — assembling would dedup the shared cost-share
    // child objectId across variants and collapse the copays)
    val scripted = SearchExec.search(corpus, "doc",
      """{"query": {"function_score": {
        |  "functions": [{"script_score": {"script":
        |      "doc['planCostShares.copay'].value * 2 + _score"}, "weight": 0.5}],
        |  "boost_mode": "multiply"}},
        |"sort": [{"_score": "desc"}, {"objectId": "asc"}],
        |"size": 10, "_source": ["objectId"]}""".stripMargin, PlanSchema.plan)
      .collect().map(r => (r.getAs[String]("objectId"), r.getAs[Double]("score"))).toMap
    // base = 1.0 (no shoulds): score = (copay*2 + 1) * 0.5
    assert(scripted("c1") === (99 * 2 + 1) * 0.5) // copay 99
    assert(scripted("a1") === (10 * 2 + 1) * 0.5)
    // one function may carry only ONE of the value forms
    assertThrows[IllegalArgumentException](SearchQuery.parseBody(
      """{"query": {"function_score": {"functions": [{
        |  "random_score": {"seed": 3, "field": "objectId"},
        |  "script_score": {"script": "2"}}]}}}""".stripMargin, PlanSchema.plan))
  }

  test("round-9 moving_fn models: ewma/linearWeightedAvg/holt match the hand-rolled folds") {
    import spark.implicits._
    // four daily buckets with counts 2, 4, 8, 6 (interval histogram on v)
    val df = Seq.fill(2)(("a", 0L)) ++ Seq.fill(4)(("b", 10L)) ++
      Seq.fill(8)(("c", 20L)) ++ Seq.fill(6)(("d", 30L))
    val docs0 = df.toDF("id", "v")
      .select(struct(col("id").as("objectId"), col("v")).as("doc"))
    val sch = docs0.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    val body =
      """{"size": 0, "aggs": {"h": {"histogram": {"field": "v", "interval": 10},
        |  "aggs": {
        |    "ew": {"moving_fn": {"buckets_path": "_count", "window": 3,
        |                         "script": "MovingFunctions.ewma(values, 0.5)"}},
        |    "lwa": {"moving_fn": {"buckets_path": "_count", "window": 3,
        |                          "script": "MovingFunctions.linearWeightedAvg(values)"}},
        |    "ho": {"moving_fn": {"buckets_path": "_count", "window": 3,
        |                         "script": "MovingFunctions.holt(values, 0.5, 0.5)"}}}}}}""".stripMargin
    val rows = EsAggs.run(docs0, "doc", body, sch).collect()
      .map(r => (r.getAs[Long]("key"),
        Option(r.getAs[java.lang.Double]("ew")).map(_.toDouble),
        Option(r.getAs[java.lang.Double]("lwa")).map(_.toDouble),
        Option(r.getAs[java.lang.Double]("ho")).map(_.toDouble))).toSeq.sortBy(_._1)
    // counts per bucket key: 0→2, 10→4, 20→8, 30→6; window 3 EXCLUDES current
    // ewma α=.5 fold oldest→newest: k=1: 2; k=2: .5·4+.5·2=3; k=3 over [2,4,8]:
    //   s=2 → .5·4+.5·2=3 → .5·8+.5·3=5.5
    assert(rows.map(_._2) === Seq(None, Some(2.0), Some(3.0), Some(5.5)))
    // lwa weights 1..k oldest→newest: k=2: (2·1+4·2)/3 = 10/3; k=3: (2+8+24)/6
    assert(rows.map(_._3) === Seq(None, Some(2.0), Some(10.0 / 3), Some(34.0 / 6)))
    // holt α=β=.5, ES holtForecast semantics (value = s + b, the one-step
    // forecast): k=1: s=2,b=0 → 2; k=2: s=.5·4+.5·(2+0)=3, b=.5·(3-2)=.5
    //   → 3.5; k=3: s2=3, b2=.5, s3=.5·8+.5·(3+.5)=5.75,
    //   b3=.5·(5.75-3)+.5·.5=1.625 → 7.375
    assert(rows.map(_._4) === Seq(None, Some(2.0), Some(3.5), Some(7.375)))
    // malformed model params reject loudly
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"h": {"histogram": {"field": "planCostShares.copay", "interval": 10},
        |  "aggs": {"m": {"moving_fn": {"buckets_path": "_count", "window": 3,
        |    "script": "MovingFunctions.ewma(values, 1.5)"}}}}}}""".stripMargin,
      PlanSchema.plan))
  }

  test("round-9 bucket_script/bucket_selector take full formulas, not just one binary op") {
    // corpus: typeA sum=30 max=20, typeB sum=120 max=50, typeC sum=99 max=99
    val body =
      """{"size": 0, "aggs": {"t": {"terms": {"field": "planType", "size": 10, "order": {"_key": "asc"}},
        |  "aggs": {
        |    "s": {"sum": {"field": "planCostShares.copay"}},
        |    "mx": {"max": {"field": "planCostShares.copay"}},
        |    "headroom": {"bucket_script": {
        |      "buckets_path": {"s": "s", "mx": "mx", "n": "_count"},
        |      "script": "(params.s - params.mx) / params.n * 100"}},
        |    "keep": {"bucket_selector": {
        |      "buckets_path": {"s": "s", "n": "_count"},
        |      "script": "params.s / params.n >= 30"}}}}}}""".stripMargin
    val rows = EsAggs.run(corpus, "doc", body, PlanSchema.plan).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Double]("headroom"))).toSeq
    // typeA avg 15 < 30 dropped; typeB (120-50)/3*100, typeC (99-99)/1*100
    assert(rows === Seq(("typeB", 70.0 / 3 * 100), ("typeC", 0.0)))
    // typo'd param is a loud parse error
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"t": {"terms": {"field": "planType"},
        |  "aggs": {"s": {"sum": {"field": "planCostShares.copay"}},
        |    "x": {"bucket_script": {"buckets_path": {"s": "s"},
        |      "script": "params.oops + 1"}}}}}}""".stripMargin, PlanSchema.plan))
    // _score / doc refs do not exist at the bucket grain
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"t": {"terms": {"field": "planType"},
        |  "aggs": {"s": {"sum": {"field": "planCostShares.copay"}},
        |    "x": {"bucket_script": {"buckets_path": {"s": "s"},
        |      "script": "params.s + _score"}}}}}}""".stripMargin, PlanSchema.plan))
    // selector needs exactly one comparison
    assertThrows[IllegalArgumentException](EsAggs.parse(
      """{"aggs": {"t": {"terms": {"field": "planType"},
        |  "aggs": {"s": {"sum": {"field": "planCostShares.copay"}},
        |    "x": {"bucket_selector": {"buckets_path": {"s": "s"},
        |      "script": "params.s + 1"}}}}}}""".stripMargin, PlanSchema.plan))
  }

  test("round-9 parent-join: has_child counts matching children, has_parent semi-joins") {
    // canonical doc: plan 508 with 2 planservices (504, 507); cost shares
    // deductible 10 on both services
    val cheap = ParentJoin.hasChild(sh, "planserviceCostShares",
      col("type_tag") === "planserviceCostShares" &&
        get_json_object(col("json"), "$.deductible").cast("long") <= 10)
    assert(cheap.collect().map(r =>
      (r.getAs[String]("parent_key"), r.getAs[Long]("n_matching"))).toSet ===
      Set(("planservice_27283xvx9asdff-504", 1L), ("planservice_27283xvx9sdf-507", 1L)))
    // chain into the outer relation with min_children
    val plans2 = ParentJoin.hasChildKeys(sh, "linkedPlanServices",
      cheap.select(col("parent_key").as("key")), minChildren = 2)
    assert(plans2.collect().map(r =>
      (r.getAs[String]("parent_key"), r.getAs[Long]("n_matching"))).toSeq ===
      Seq(("plan_12xvxc345ssdsds-508", 2L)))
    // min_children above the child count → empty
    assert(ParentJoin.hasChildKeys(sh, "linkedPlanServices",
      cheap.select(col("parent_key").as("key")), minChildren = 3).count() === 0)
    // has_parent: children of inNetwork plans
    val kids = ParentJoin.hasParent(sh, "linkedPlanServices",
      col("type_tag") === "plan" &&
        get_json_object(col("json"), "$.planType") === "inNetwork")
    assert(kids.collect().map(_.getAs[String]("child_key")).toSet ===
      Set("planservice_27283xvx9asdff-504", "planservice_27283xvx9sdf-507"))
    assert(ParentJoin.hasParent(sh, "linkedPlanServices",
      col("type_tag") === "plan" &&
        get_json_object(col("json"), "$.planType") === "nope").count() === 0)
  }

  test("round-9 rank_eval: precision@k, MRR, empty pages score 0, malformed bodies reject") {
    // corpus ids sorted asc: a1, a2, b1, b2, b3, c1
    def body(metric: String, query: String = """{ "match_all": {} }"""): String =
      s"""{ "requests": [ { "id": "q1",
         |    "request": { "query": $query,
         |      "sort": [{ "objectId": { "order": "asc" } }],
         |      "size": 4, "_source": ["objectId"] },
         |    "ratings": [ { "_id": "a1", "rating": 2 }, { "_id": "b2", "rating": 1 },
         |                 { "_id": "c1", "rating": 3 } ] } ],
         |  "metric": $metric }""".stripMargin
    def score(b: String): Map[String, Double] =
      RankEval.run(corpus, "doc", b, PlanSchema.plan).collect()
        .map(r => r.getAs[String]("request_id") -> r.getAs[Double]("metric_score")).toMap
    // precision@4: page a1,a2,b1,b2 — relevant (>=1): a1, b2 → 2/4
    val p = score(body("""{ "precision": { "k": 4 } }"""))
    assert(p("q1") === 0.5 && p("_overall") === 0.5)
    // threshold 2 drops b2 → 1/4
    assert(score(body("""{ "precision": { "k": 4, "relevant_rating_threshold": 2 } }"""))("q1")
      === 0.25)
    // MRR: first relevant at rank 1 → 1.0; threshold 3 → c1 not in page → 0
    assert(score(body("""{ "mean_reciprocal_rank": { "k": 4 } }"""))("q1") === 1.0)
    assert(score(body(
      """{ "mean_reciprocal_rank": { "k": 4, "relevant_rating_threshold": 3 } }"""))("q1") === 0.0)
    // a request whose page is empty scores 0, not a vanished row
    val empty = score(body("""{ "precision": { "k": 4 } }""",
      """{ "term": { "planType": "nope" } }"""))
    assert(empty("q1") === 0.0 && empty("_overall") === 0.0)
    // dcg@2 over page b1 (rel 0), b2 (rel 1): (2^1−1)/log2(3)
    val dcg = score(body("""{ "dcg": { "k": 2 } }""",
      """{ "term": { "planType": "typeB" } }"""))("q1")
    assert(math.abs(dcg - math.log(2.0) / math.log(3.0)) < 1e-12)
    // malformed: two metrics, unknown metric, missing ratings
    assertThrows[IllegalArgumentException](RankEval.run(corpus, "doc",
      """{ "requests": [], "metric": { "precision": {} } }""", PlanSchema.plan))
    assertThrows[IllegalArgumentException](RankEval.run(corpus, "doc",
      body("""{ "expected_reciprocal_rank": { "k": 4 } }"""), PlanSchema.plan))
  }

  test("round-9 ADVICE pins: malformed script numbers fail loudly; null collapse key " +
    "keeps its row with AND without inner_hits") {
    // 1.2.3 / trailing-dot literals raise the parser's located error, not
    // a bare NumberFormatException
    val e1 = intercept[IllegalArgumentException](SearchQuery.parseBody(
      """{"query": {"script_score": {"query": {"match_all": {}},
        |"script": "1.2.3 + doc['planCostShares.copay'].value"}}}""".stripMargin,
      PlanSchema.plan))
    assert(e1.getMessage.contains("bad number literal"))
    val e2 = intercept[IllegalArgumentException](SearchQuery.parseBody(
      """{"query": {"script_score": {"query": {"match_all": {}}, "script": "2 * 1..2"}}}""",
      PlanSchema.plan))
    assert(e2.getMessage.contains("bad number literal"))
    // null collapse key: same hit set with and without inner_hits
    val withNull = docsDf(variant("n1", "typeA", 10), variant("n2", "typeB", 20))
      .union(docsDf(variant("n3", "typeA", 30))
        .select(struct(col("doc.planCostShares"), col("doc.linkedPlanServices"),
          col("doc._org"), col("doc.objectId"), col("doc.objectType"),
          lit(null).cast("string").as("planType"), col("doc.creationDate")).as("doc")))
    val assembledN = withNull // already assembled-shape (doc struct)
    def page(inner: String): Seq[String] = SearchExec.search(assembledN, "doc",
      s"""{"query": {"match_all": {}},
         |"collapse": {"field": "planType"$inner},
         |"sort": [{"planCostShares.copay": {"order": "asc"}}, {"objectId": {"order": "asc"}}],
         |"size": 10, "_source": ["objectId"]}""".stripMargin, PlanSchema.plan)
      .collect().map(_.getAs[String]("objectId")).toSeq
    val plain = page("")
    val withInner = page(""", "inner_hits": {"name": "top", "size": 2,
      "sort": [{"planCostShares.copay": "desc"}]}""")
    assert(plain.toSet === withInner.toSet, "inner_hits changed the collapsed hit set")
    assert(plain.contains("n3"), "null collapse key lost its group")
  }

  test("round-9 field_caps + termvectors: ES capability rules and postings arithmetic") {
    val sf = "/root/testdata/sf0.001"
    val caps = graft.SparkEntry.queries("d173_es_field_caps")(spark, sf).collect()
      .map(r => (r.getAs[String]("field"), r.getAs[String]("es_type"),
        r.getAs[Int]("searchable"), r.getAs[Int]("aggregatable"))).toSeq
    // every text field carries a .keyword multi-field, and the flags follow
    // ES's rules: text searchable-only, keyword both, containers neither
    val byField = caps.map(c => c._1 -> c).toMap
    caps.filter(_._2 == "text").foreach { case (f, _, s, a) =>
      assert(s == 1 && a == 0, s"text flags wrong for $f")
      assert(byField.get(s"$f.keyword").exists(k => k._2 == "keyword" && k._3 == 1 && k._4 == 1),
        s"missing .keyword multi-field for $f")
    }
    assert(byField("linkedPlanServices")._2 === "nested")
    assert(byField("planCostShares") === (("planCostShares", "object", 0, 0)))
    assert(byField("planCostShares.copay")._2 === "long")
    // termvectors: per-doc tf joined to index-wide stats — for every row
    // ttf >= doc_freq (each contributing doc adds >= 1 occurrence) and
    // ttf >= term_freq of the requested doc itself
    val tv = graft.SparkEntry.queries("d174_es_termvectors")(spark, sf).collect()
    assert(tv.nonEmpty)
    tv.foreach { r =>
      val (tf, df, ttf) = (r.getAs[Long]("term_freq"), r.getAs[Long]("doc_freq"),
        r.getAs[Long]("ttf"))
      assert(ttf >= df && ttf >= tf && df >= 1,
        s"postings arithmetic violated: tf=$tf df=$df ttf=$ttf")
    }
    // the analyzed name field always contains the literal token 'service'
    assert(tv.map(_.getAs[String]("term")).contains("service"))
  }

  test("round-10 slice/sort surface: slices partition the hit set exactly; " +
    "geo/script sort parse guards") {
    import spark.implicits._
    val df = (1 to 40).map(i => (s"doc-$i", i.toLong)).toDF("objectId", "v")
      .select(struct(col("objectId"), col("v")).as("doc"))
    val sch = df.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    def page(slice: String): Seq[String] = SearchExec.search(df, "doc",
      s"""{"query": {"range": {"v": {"gte": 1}}}, $slice
         | "sort": [{"objectId": "asc"}], "size": 100, "_source": ["objectId"]}""".stripMargin,
      sch).collect().map(_.getAs[String]("objectId")).toSeq
    val all = page("")
    val slices = (0 until 3).map(i => page(s""""slice": {"id": $i, "max": 3},"""))
    // disjoint, and the union is exactly the unsliced hit set
    assert(slices.map(_.size).sum === all.size)
    assert(slices.flatten.sorted === all.sorted)
    assert(slices.forall(_.nonEmpty)) // 40 ids across 3 hash slices
    // _script sort orders by the expression; _geo_distance needs lat/lon
    val byScript = SearchExec.search(df, "doc",
      """{"query": {"range": {"v": {"gte": 38}}},
        | "sort": [{"_script": {"type": "number", "order": "desc",
        |   "script": {"source": "doc['v'].value * 2"}}}, {"objectId": "asc"}],
        | "size": 3, "_source": ["objectId"]}""".stripMargin, sch)
      .collect().map(_.getAs[String]("objectId")).toSeq
    assert(byScript === Seq("doc-40", "doc-39", "doc-38"))
    // guards: _score inside a sort script; bad slice ids; bad units
    assertThrows[IllegalArgumentException](SearchQuery.parseFullBody(
      """{"query": {"match_all": {}}, "sort": [{"_script": {
        |  "script": {"source": "_score + 1"}}}]}""".stripMargin, sch))
    assertThrows[IllegalArgumentException](SearchQuery.parseFullBody(
      """{"query": {"match_all": {}}, "slice": {"id": 5, "max": 5}}""", sch))
    assertThrows[IllegalArgumentException](SearchQuery.parseFullBody(
      """{"query": {"match_all": {}}, "sort": [{"_geo_distance": {
        |  "p": "1,2", "unit": "mi"}}]}""".stripMargin, sch))
  }
}
