package graft.docs

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** BM25 `_score` mode (the similarity upgrade closing the d23/d251
  * documented deviation): pins the fixed-point formula on hand-computed
  * values, and — the round's "done" criterion — a literal case where
  * BM25 ordering PROVABLY differs from term-count ordering in both the
  * Query DSL and ES|QL, plus the loud v1 bounds. */
class Bm25Spec extends SparkSpec {

  //  doc 1: long, two COMMON terms ("alpha beta" + 18 fillers)
  //  doc 2: short, one RARE term ("zeta")
  //  docs 3-6: filler docs containing alpha/beta (making them common)
  private lazy val corpus = {
    import spark.implicits._
    Seq(
      (1L, "alpha beta " + Seq.fill(18)("filler").mkString(" ")),
      (2L, "zeta word"),
      (3L, "alpha beta word"), (4L, "alpha beta word"),
      (5L, "alpha beta word"), (6L, "alpha beta word")
    ).toDF("id", "body")
  }

  test("fixed-point formula matches the hand-computed integer values") {
    // N=6, total tokens = 20+2+3*4 = 34, avgdl100 = 3400/6 = 566
    // term "zeta": df=1, doc 2: tf=1, dl=2
    //   num = (6-1)*1*22000*566 = 62,260,000
    //   den = 10000*566*1 + 3000*566 + 900000*2 = 5,660,000+1,698,000+1,800,000
    //       = 9,158,000 → score = 6 (floor 6.798)
    val toks = split(lower(col("body")), "\\s+")
    val st = Bm25.stats(corpus, toks, Seq("zeta"))
    assert(st.nDocs === 6L && st.avgdl100 === 566L && st.df("zeta") === 1L)
    val scored = Bm25.withScore(corpus, Seq(toks), Seq("zeta"), st, "s")
    val byId = scored.select("id", "s").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(2L) === 6L)
    assert(byId(1L) === 0L) // no zeta
    // helper columns are dropped
    assert(scored.columns.toSeq === Seq("id", "body", "s"))
  }

  test("DSL: bm25 ordering provably differs from term-count ordering") {
    import org.apache.spark.sql.types.StructType
    val docs = corpus.select(struct(
      col("id").cast("string").as("objectId"), col("body")).as("doc"))
    val schema = docs.schema("doc").dataType.asInstanceOf[StructType]
    val body =
      """{"query": {"bool": {"should": [{"match": {"body": "zeta alpha beta"}}],
        |          "minimum_should_match": 1}}, "size": 6,
        | "_source": ["objectId"]}""".stripMargin
    def order(sim: String): Seq[String] =
      SearchExec.search(docs, "doc", body, schema, similarity = sim)
        .collect().map(_.getAs[String]("objectId")).toSeq
    // boolean: one satisfied should clause each → all tie at 1, objectId
    // ascending puts doc 1 (long, common terms) first
    val bool = order("boolean")
    assert(bool.head === "1")
    // bm25: doc 2's single RARE term in a 2-token doc outranks doc 1's
    // two COMMON terms in a 20-token doc — the short-doc-beats-long case
    val bm = order("bm25")
    assert(bm.head === "2")
    assert(bm !== bool)
  }

  test("ES|QL: bm25 ordering provably differs from term-count ordering") {
    val src = Map("t" -> corpus)
    val q =
      """FROM t METADATA _score
        || WHERE MATCH(body, "zeta alpha beta")
        || KEEP id, _score
        || SORT _score DESC, id ASC""".stripMargin
    def order(mode: String): Seq[Long] =
      Esql.run(src, q, scoreMode = mode).collect().map(_.getLong(0)).toSeq
    // terms mode: doc 1 matches 2 terms (score 2) and beats doc 2 (1)
    val terms = order("terms")
    assert(terms.head === 1L)
    // bm25: doc 2's rare short-doc hit wins
    val bm = order("bm25")
    assert(bm.head === 2L)
    assert(bm !== terms)
  }

  test("rescore under bm25 re-ranks the window with BM25 — order differs " +
    "from both boolean-rescore and un-rescored bm25") {
    import spark.implicits._
    import org.apache.spark.sql.types.StructType
    // hand-computed fixed-point values (N=5, T=17, avgdl100=340):
    //   alpha idf=2 → score 2 at dl=2, 1 at dl=8
    //   zeta  idf=3 → score 3 at (tf=1,dl=2), 4 at (tf=7,dl=8)
    val c = Seq(
      (1L, "alpha zeta"),
      (2L, "alpha zeta zeta zeta zeta zeta zeta zeta"),
      (3L, "alpha word"),
      (4L, "filler filler filler"),
      (5L, "word filler")).toDF("id", "body")
    val docs = c.select(struct(
      col("id").cast("string").as("objectId"), col("body")).as("doc"))
    val schema = docs.schema("doc").dataType.asInstanceOf[StructType]
    def body(rescore: Boolean) =
      s"""{"query": {"bool": {"should": [{"match": {"body": "alpha"}}]}},
         |${if (rescore) """ "rescore": {"window_size": 5, "query": {
         |   "rescore_query": {"bool": {"should": [{"match": {"body": "zeta"}}]}},
         |   "query_weight": 1, "rescore_query_weight": 2}},""".stripMargin else ""}
         | "size": 5, "_source": ["objectId"]}""".stripMargin
    def order(sim: String, rescore: Boolean): Seq[String] =
      SearchExec.search(docs, "doc", body(rescore), schema, similarity = sim)
        .collect().map(_.getAs[String]("objectId")).toSeq
    val bmPlain = order("bm25", rescore = false)
    val boolResc = order("boolean", rescore = true)
    val bmResc = order("bm25", rescore = true)
    // first pass: alpha only → d1=2, d3=2, d2=1 (objectId tiebreak)
    assert(bmPlain === Seq("1", "3", "2"))
    // boolean rescore: every hit ties at 1 point, zeta adds 2 to d1/d2 →
    // d1=3, d2=3, d3=1 (objectId tiebreak on the tie)
    assert(boolResc === Seq("1", "2", "3"))
    // bm25 rescore: combined = first + 2·bm25(zeta): d1=2+6=8, d2=1+8=9,
    // d3=2 — the many-zeta doc wins ONLY under the bm25-scored rescore
    assert(bmResc === Seq("2", "1", "3"))
    assert(bmResc !== bmPlain)
    assert(bmResc !== boolResc)
    assert(bmPlain !== boolResc)
  }

  test("standing stats table: write-once per (session, key), equal to the " +
    "inline aggregate, term-pushdown on reads, null corpora handled") {
    import spark.implicits._
    val c = Seq((1L, "alpha zeta"), (2L, "word beta beta"),
      (3L, null.asInstanceOf[String])).toDF("id", "body")
    val toks = split(lower(col("body")), "\\s+")
    val terms = Seq("zeta", "beta", "missingterm")
    def builds = graft.Standing.builds(Bm25.standingTag)
    val before = builds
    val st1 = Bm25.stats(c, toks, terms)
    assert(builds === before + 1)
    val st2 = Bm25.stats(c, toks, terms)
    assert(builds === before + 1) // memo hit, no rebuild
    val inline = Bm25.scan(c, toks, terms)
    assert(st1 === inline && st2 === inline)
    assert(st1.df("missingterm") === 0L)
    // null token arrays: counted in N, contribute 0 tokens — same guard
    // both paths (a null body must not null avgdl)
    assert(st1.nDocs === 3L && st1.avgdl100 === 100L * 5 / 3)
    // the terms read is pushdown-eligible: term IN (...) reaches the scan
    val plan = Bm25.standing(c, toks)._2
      .filter(col("term").isin(terms: _*))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(term"), plan)
    // a DIFFERENT corpus or analyzer must NOT serve stale stats — the
    // entry is keyed on the analyzed frame, so each gets a fresh build
    val c2 = Seq((1L, "alpha alpha zeta")).toDF("id", "body")
    val afterSame = builds
    val stOther = Bm25.stats(c2, toks, terms)
    assert(builds === afterSame + 1) // rebuild, not stale
    assert(stOther === Bm25.scan(c2, toks, terms))
    val toks2 = split(upper(col("body")), "\\s+") // different analyzer
    Bm25.stats(c, toks2, Seq("ZETA"))
    assert(builds === afterSame + 2)
  }

  private val zetaBody =
    """{"query": {"match": {"body": "zeta"}}, "size": 10,
      | "_source": ["objectId"]}""".stripMargin

  /** objectId → bm25 score of [[zetaBody]] over `rows` (id, body). */
  private def zetaScores(rows: org.apache.spark.sql.DataFrame): Map[String, Long] = {
    import org.apache.spark.sql.types.StructType
    val docs = rows.select(struct(
      col("id").cast("string").as("objectId"), col("body")).as("doc"))
    val schema = docs.schema("doc").dataType.asInstanceOf[StructType]
    SearchExec.search(docs, "doc", zetaBody, schema, similarity = "bm25")
      .collect().map(r => r.getAs[String]("objectId") -> r.getAs[Long]("score")).toMap
  }

  test("a default bm25 search over a parquet corpus builds its standing " +
    "stats once and reads them on the next call") {
    val dir = graft.TempDirs.create("graft-bm25-parquet-").toString
    corpus.write.mode("overwrite").parquet(dir)
    val before = graft.Standing.builds(Bm25.standingTag)
    val first = zetaScores(spark.read.parquet(dir))
    val second = zetaScores(spark.read.parquet(dir))
    assert(graft.Standing.builds(Bm25.standingTag) === before + 1)
    assert(first === second)
    assert(first("2") === 6L) // the hand-computed value of the formula pin
  }

  test("a bm25 search over a memory-sink table scores with the df/N of " +
    "the rows present at each call") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("id", "body").writeStream
      .format("memory").queryName("bm25_sink").outputMode("append").start()
    try {
      val rows1 = Seq((1L, "zeta word"), (2L, "alpha beta"), (3L, "alpha word"))
      val rows2 = Seq((4L, "zeta zeta"), (5L, "beta word"), (6L, "gamma word"))
      in.addData(rows1: _*)
      q.processAllAvailable()
      val sink = spark.table("bm25_sink")
      assert(!graft.Standing.canFingerprint(sink))
      val builds = graft.Standing.builds(Bm25.standingTag)
      val first = zetaScores(sink)
      assert(first === zetaScores(rows1.toDF("id", "body")))
      in.addData(rows2: _*)
      q.processAllAvailable()
      // N 3 → 6 and df(zeta) 1 → 2: doc 1's score moves with them
      val second = zetaScores(spark.table("bm25_sink"))
      assert(second === zetaScores((rows1 ++ rows2).toDF("id", "body")))
      assert(second("1") !== first("1"))
      assert(graft.Standing.builds(Bm25.standingTag) === builds + 2,
        "only the two local reference corpora build standing stats")
    } finally {
      q.stop()
      spark.catalog.dropTempView("bm25_sink")
    }
  }

  test("function_score + pinned fold over the bm25 base (the closed v1 " +
      "bound): boolean and bm25 orders provably flip") {
    import org.apache.spark.sql.types.StructType
    val docs = corpus.select(struct(
      col("id").cast("string").as("objectId"), col("body")).as("doc"))
    val schema = docs.schema("doc").dataType.asInstanceOf[StructType]
    // weight-10 boost on docs containing "filler" (only doc 1 — the LONG
    // doc). boolean: every match-clause hit scores 1, so doc 1 = 10 tops.
    // bm25: doc 1's common terms in a 20-token doc floor to base 0, so
    // 10 × 0 keeps it LAST while short rare-term doc 2 (base 6) tops —
    // the boost algebra demonstrably folds over the bm25 base.
    val fsBody =
      """{"query": {"function_score": {
        |  "query": {"match": {"body": "zeta alpha beta"}},
        |  "functions": [{"filter": {"match": {"body": "filler"}}, "weight": 10}],
        |  "score_mode": "sum", "boost_mode": "multiply"}},
        | "size": 6, "_source": ["objectId"]}""".stripMargin
    def order(sim: String): Seq[String] =
      SearchExec.search(docs, "doc", fsBody, schema, similarity = sim)
        .collect().map(_.getAs[String]("objectId")).toSeq
    val bool = order("boolean")
    val bm = order("bm25")
    assert(bool.head === "1")           // 1 clause × weight 10
    assert(bm.head === "2" && bm.last === "1") // base 6 beats 10 × base 0
    // pinned: listed ids ride the wide 10^15 ladder above any bm25 score,
    // organic hits keep their bm25 relevance
    val pinBody =
      """{"query": {"pinned": {"ids": ["4"],
        |  "organic": {"bool": {"should": [{"match": {"body": "zeta"}}]}}}},
        | "size": 6, "_source": ["objectId"]}""".stripMargin
    val pinned = SearchExec.search(docs, "doc", pinBody, schema,
      similarity = "bm25").collect()
      .map(r => (r.getAs[String]("objectId"), r.getAs[Long]("score"))).toSeq
    assert(pinned === Seq(("4", 1000000000000000L), ("2", 6L)))
  }

  test("bare-match organic under pinned and bare-match rescore queries " +
      "score BM25 (review fixes: no silent 0 / constant-1.0 bases)") {
    import org.apache.spark.sql.types.StructType
    val docs = corpus.select(struct(
      col("id").cast("string").as("objectId"), col("body")).as("doc"))
    val schema = docs.schema("doc").dataType.asInstanceOf[StructType]
    // pinned with a BARE match organic (no bool wrapper): the organic
    // hit must carry its bm25 relevance (6), not a silent 0
    val pinBody =
      """{"query": {"pinned": {"ids": ["4"],
        |  "organic": {"match": {"body": "zeta"}}}},
        | "size": 6, "_source": ["objectId"]}""".stripMargin
    val pinned = SearchExec.search(docs, "doc", pinBody, schema,
      similarity = "bm25").collect()
      .map(r => (r.getAs[String]("objectId"), r.getAs[Long]("score"))).toSeq
    assert(pinned === Seq(("4", 1000000000000000L), ("2", 6L)))
    // bare-match rescore query: the window re-ranks on ITS bm25 (6),
    // not the constant 1.0 — doc 2 combined = 1*6 + 2*6 = 18
    val rsBody =
      """{"query": {"bool": {"should": [{"match": {"body": "zeta alpha beta"}}],
        |  "minimum_should_match": 1}},
        | "rescore": {"window_size": 6, "query": {
        |   "rescore_query": {"match": {"body": "zeta"}},
        |   "query_weight": 1, "rescore_query_weight": 2}},
        | "size": 6, "_source": ["objectId"]}""".stripMargin
    val rs = SearchExec.search(docs, "doc", rsBody, schema,
      similarity = "bm25").collect()
      .map(r => (r.getAs[String]("objectId"), r.getAs[Double]("score"))).toSeq
    assert(rs.head === ("2", 18.0))
  }

  test("bad similarity/scoreMode reject loudly; stats handle the empty corpus") {
    import org.apache.spark.sql.types.StructType
    val docs = corpus.select(struct(
      col("id").cast("string").as("objectId"), col("body")).as("doc"))
    val schema = docs.schema("doc").dataType.asInstanceOf[StructType]
    val fsBody =
      """{"query": {"match": {"body": "zeta"}}, "size": 3,
        | "_source": ["objectId"]}""".stripMargin
    assert(intercept[IllegalArgumentException](
      SearchExec.search(docs, "doc", fsBody, schema, similarity = "BM25"))
      .getMessage.contains("similarity must be"))
    assert(intercept[IllegalArgumentException](
      Esql.run(Map("t" -> corpus), "FROM t | LIMIT 1", scoreMode = "tfidf"))
      .getMessage.contains("scoreMode must be"))
    val empty = corpus.filter(lit(false))
    val st = Bm25.stats(empty, split(lower(col("body")), "\\s+"), Seq("x"))
    assert(st.nDocs === 0L)
    val z = Bm25.withScore(corpus, Seq(split(lower(col("body")), "\\s+")),
      Seq("x"), st, "s").select("s").collect().map(_.getLong(0))
    assert(z.forall(_ === 0L))
  }

  test("must-clause match scores BM25 (r14 verdict): order flips vs the " +
    "filter-equivalent, which never scores") {
    import spark.implicits._
    import org.apache.spark.sql.types.StructType
    // same hit set both ways (must ≡ filter for the SET); only the score
    // differs: must adds bm25(alpha), filter adds nothing.
    // Hand-computed (N=10, T=28, avgdl100=280; alpha df=2 idf=8, beta
    // df=1 idf=9): doc 1 alpha(tf4,dl4)=12, no beta; doc 2 alpha(tf1,
    // dl8)=4, beta(tf1,dl8)=5.
    val c = (Seq(
      (1L, "alpha alpha alpha alpha"),
      (2L, "alpha beta word word word word word word")) ++
      (3L to 10L).map(i => (i, "word word"))).toDF("id", "body")
    val docs = c.select(struct(
      col("id").cast("string").as("objectId"), col("body")).as("doc"))
    val schema = docs.schema("doc").dataType.asInstanceOf[StructType]
    def body(clause: String) =
      s"""{"query": {"bool": {
         |   "$clause": [{"match": {"body": "alpha"}}],
         |   "should": [{"match": {"body": "beta"}}]}},
         | "size": 3, "_source": ["objectId"]}""".stripMargin
    def page(clause: String): Seq[(String, Long)] =
      SearchExec.search(docs, "doc", body(clause), schema, similarity = "bm25")
        .collect().map(r => (r.getAs[String]("objectId"),
          r.getAs[Long]("score"))).toSeq
    // filter never scores: doc 1 has no beta → 0, doc 2 first
    assert(page("filter") === Seq(("2", 5L), ("1", 0L)))
    // must scores its BM25: doc 1's heavy alpha (12) beats doc 2 (4+5)
    assert(page("must") === Seq(("1", 12L), ("2", 9L)))
  }

  test("multi_match best_fields scores max over per-field BM25 (DisMax), " +
    "not a sum; dis_max tie_breaker folds the fixed-point remainder") {
    import spark.implicits._
    import org.apache.spark.sql.types.StructType
    val c = Seq(
      (1L, "zeta filler filler", "zeta"), // term in BOTH fields
      (2L, "zeta zeta zeta word", "other"),
      (3L, "word filler filler", "other")).toDF("id", "body", "tag")
    val docs = c.select(struct(
      col("id").cast("string").as("objectId"), col("body"), col("tag")).as("doc"))
    val schema = docs.schema("doc").dataType.asInstanceOf[StructType]
    val mmBody =
      """{"query": {"multi_match": {"query": "zeta", "fields": ["body", "tag"]}},
        | "size": 3, "_source": ["objectId"]}""".stripMargin
    val got = SearchExec.search(docs, "doc", mmBody, schema, similarity = "bm25")
      .collect().map(r => r.getAs[String]("objectId") -> r.getAs[Long]("score")).toMap
    // the engine's score must equal greatest(bm25_body, bm25_tag) per doc
    def legScores(f: String): Map[Long, Long] = {
      val toks = split(lower(col(f)), "\\s+")
      val st = Bm25.stats(c, toks, Seq("zeta"))
      Bm25.withScore(c, Seq(toks), Seq("zeta"), st, "s").select("id", "s")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val sb = legScores("body"); val stg = legScores("tag")
    for (id <- Seq(1L, 2L)) // doc 3 matches neither
      assert(got(id.toString) === math.max(sb(id), stg(id)),
        s"doc $id: got ${got(id.toString)}, legs ${sb(id)}/${stg(id)}")
    // doc 1 has BOTH legs > 0 — a sum would differ from the max there
    assert(sb(1L) > 0L && stg(1L) > 0L)
    assert(got("1") !== sb(1L) + stg(1L))
    // dis_max with tie_breaker: max + floor(tb·(sum − max)), constant leg
    val dmBody =
      """{"query": {"dis_max": {
        |   "queries": [{"match": {"body": "zeta"}},
        |               {"match": {"tag": "zeta"}},
        |               {"term": {"tag": "other"}}],
        |   "tie_breaker": 0.5}},
        | "size": 3, "_source": ["objectId"]}""".stripMargin
    val dm = SearchExec.search(docs, "doc", dmBody, schema, similarity = "bm25")
      .collect().map(r => r.getAs[String]("objectId") -> r.getAs[Long]("score")).toMap
    for (id <- Seq(1L, 2L, 3L)) {
      val legs = Seq(sb(id), stg(id), if (id >= 2L) 1L else 0L)
      val mx = legs.max
      val want = mx + math.floor(0.5 * (legs.sum - mx)).toLong
      assert(dm(id.toString) === want, s"doc $id: got ${dm(id.toString)}, want $want")
    }
  }

  test("multi_match most_fields SUMS per-field BM25 (where best_fields " +
    "takes the max); non-leg-fold types are loud named rejects") {
    import spark.implicits._
    import org.apache.spark.sql.types.StructType
    val c = Seq(
      (1L, "zeta filler filler", "zeta"), // term in BOTH fields
      (2L, "zeta zeta zeta word", "other"),
      (3L, "word filler filler", "other")).toDF("id", "body", "tag")
    val docs = c.select(struct(
      col("id").cast("string").as("objectId"), col("body"), col("tag")).as("doc"))
    val schema = docs.schema("doc").dataType.asInstanceOf[StructType]
    def legScores(f: String): Map[Long, Long] = {
      val toks = split(lower(col(f)), "\\s+")
      val st = Bm25.stats(c, toks, Seq("zeta"))
      Bm25.withScore(c, Seq(toks), Seq("zeta"), st, "s").select("id", "s")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val sb = legScores("body"); val stg = legScores("tag")
    val mfBody =
      """{"query": {"multi_match": {"query": "zeta", "fields": ["body", "tag"],
        |   "type": "most_fields"}},
        | "size": 3, "_source": ["objectId"]}""".stripMargin
    val got = SearchExec.search(docs, "doc", mfBody, schema, similarity = "bm25")
      .collect().map(r => r.getAs[String]("objectId") -> r.getAs[Long]("score")).toMap
    for (id <- Seq(1L, 2L))
      assert(got(id.toString) === sb(id) + stg(id),
        s"doc $id: got ${got(id.toString)}, legs ${sb(id)}/${stg(id)}")
    // doc 1 has BOTH legs > 0 — the sum provably differs from the max
    assert(sb(1L) > 0L && stg(1L) > 0L)
    assert(got("1") !== math.max(sb(1L), stg(1L)))
    // unknown type and tie_breaker-on-most_fields reject
    assert(intercept[IllegalArgumentException] {
      SearchExec.search(docs, "doc",
        """{"query": {"multi_match": {"query": "zeta", "fields": ["body"],
          |  "type": "nope"}}, "size": 1}""".stripMargin, schema)
    }.getMessage.contains("unknown multi_match type"))
    assert(intercept[IllegalArgumentException] {
      SearchExec.search(docs, "doc",
        """{"query": {"multi_match": {"query": "zeta", "fields": ["body"],
          |  "type": "most_fields", "tie_breaker": 0.3}}, "size": 1}""".stripMargin,
        schema)
    }.getMessage.contains("tie_breaker does not apply"))
  }

  test("multi_match cross_fields under bm25 scores TERM-CENTRIC BLENDED " +
    "statistics (max df across fields) — order differs from combined_fields") {
    import spark.implicits._
    import org.apache.spark.sql.types.StructType
    // alpha is RARE in body (doc 2 only) but COMMON in tag (7 docs):
    // blending collapses alpha's idf to the max-df (tag) value even for
    // doc 2's body hit — the term-centric signature a per-field scorer
    // cannot produce
    val c = (Seq(
      (1L, "zeta filler filler", "alpha"), // tokens split ACROSS fields
      (2L, "zeta alpha word", "other"),    // both tokens in one field
      (3L, "zeta word filler", "other"),   // only one token anywhere
      (4L, "word filler filler", "other")) ++
      (5L to 10L).map(i => (i, "filler filler", "alpha"))
    ).toDF("id", "body", "tag")
    val docs = c.select(struct(
      col("id").cast("string").as("objectId"), col("body"), col("tag")).as("doc"))
    val schema = docs.schema("doc").dataType.asInstanceOf[StructType]
    def body(qType: String, tb: Option[Double] = None) =
      s"""{"query": {"multi_match": {"query": "zeta alpha",
         |   "fields": ["body", "tag"], "type": "$qType", "operator": "and"
         |   ${tb.map(t => s""", "tie_breaker": $t""").getOrElse("")}}},
         | "size": 10, "_source": ["objectId"]}""".stripMargin
    val combined =
      """{"query": {"combined_fields": {"query": "zeta alpha",
        |   "fields": ["body", "tag"], "operator": "and"}},
        | "size": 10, "_source": ["objectId"]}""".stripMargin
    // parse-level: cross_fields is the CrossFields marker WRAPPING the
    // combined_fields desugar (combined_fields itself parses to its own
    // CombinedFields marker over the same desugar — r18) — hit
    // compilation delegates through both
    val cmbParsed = SearchQuery.fromJson(combined, schema) match {
      case SearchQuery.CombinedFields(paths, terms, i) =>
        assert(paths === Seq(Seq("body"), Seq("tag")))
        assert(terms === Seq("zeta", "alpha"))
        i
      case other => fail(s"expected CombinedFields, got $other")
    }
    SearchQuery.fromJson(body("cross_fields"), schema) match {
      case SearchQuery.CrossFields(paths, terms, tb, inner) =>
        assert(paths === Seq(Seq("body"), Seq("tag")))
        assert(terms === Seq("zeta", "alpha"))
        assert(tb === 0.0)
        assert(inner === cmbParsed)
      case other => fail(s"expected CrossFields, got $other")
    }
    def scores(b: String): Map[String, Long] =
      SearchExec.search(docs, "doc", b, schema, similarity = "bm25")
        .collect().map(r => r.getAs[String]("objectId") -> r.getAs[Long]("score")).toMap
    val cf = scores(body("cross_fields"))
    val cmb = scores(combined)
    // hit semantics UNCHANGED: every token in AT LEAST ONE field — doc 1
    // (split across fields) and doc 2 (both in body) hit; docs 3/4 and
    // the ballast don't
    assert(cf.keySet === Set("1", "2"))
    assert(cmb.keySet === Set("1", "2"))
    // combined_fields scores the MERGED pseudo-field (BM25F-lite, r18):
    // per term tf = Σ field tfs, dl = Σ field lengths, df = max across
    // fields, avgdl100 = Σ per-field avgdl100 — and that provably
    // differs from cross_fields' best-of-legs blend on this fixture
    assert(cf !== cmb)
    // the BLEND pin, from first principles: per term df = max across
    // fields, each leg scored with the blended df against its own
    // tf/dl/avgdl, term = best leg (tb 0), clause = Σ terms
    val bToks = split(lower(col("body")), "\\s+")
    val tToks = split(lower(col("tag")), "\\s+")
    val sb = Bm25.stats(c, bToks, Seq("zeta", "alpha"))
    val stg = Bm25.stats(c, tToks, Seq("zeta", "alpha"))
    assert(sb.df("alpha") === 1L && stg.df("alpha") === 7L) // the contrast
    def blend(t: String) = Bm25.Stats(sb.nDocs, 0L,
      Map(t -> math.max(sb.df(t), stg.df(t))))
    def legs(t: String): org.apache.spark.sql.DataFrame = {
      val stB = Bm25.Stats(sb.nDocs, sb.avgdl100, blend(t).df)
      val stT = Bm25.Stats(stg.nDocs, stg.avgdl100, blend(t).df)
      Bm25.withScore(Bm25.withScore(c, Seq(bToks), Seq(t), stB, s"b_$t"),
        Seq(tToks), Seq(t), stT, s"t_$t")
    }
    val exp = legs("zeta").select(col("id"), greatest(col("b_zeta"), col("t_zeta")).as("z"))
      .join(legs("alpha").select(col("id"),
        greatest(col("b_alpha"), col("t_alpha")).as("a")), "id")
      .select(col("id"), (col("z") + col("a")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (id <- Seq(1L, 2L))
      assert(cf(id.toString) === exp(id), s"doc $id: got ${cf(id.toString)}, want ${exp(id)}")
    // tie_breaker is now the per-term leg fold (ES cross_fields allows
    // it): tb = 1 sums the legs
    val cf1 = scores(body("cross_fields", Some(1.0)))
    val expSum = legs("zeta").select(col("id"), (col("b_zeta") + col("t_zeta")).as("z"))
      .join(legs("alpha").select(col("id"), (col("b_alpha") + col("t_alpha")).as("a")), "id")
      .select(col("id"), (col("z") + col("a")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (id <- Seq(1L, 2L)) assert(cf1(id.toString) === expSum(id))
    // combined_fields merged-pseudo-field pin, from first principles
    val expCmb = {
      val dfb = Seq("zeta", "alpha").map(t =>
        t -> math.max(sb.df(t), stg.df(t))).toMap
      Bm25.withScore(c, Seq(bToks, tToks), Seq("zeta", "alpha"),
        Bm25.Stats(sb.nDocs, sb.avgdl100 + stg.avgdl100, dfb), "cs")
        .select(col("id"), col("cs"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    for (id <- Seq(1L, 2L))
      assert(cmb(id.toString) === expCmb(id),
        s"doc $id: got ${cmb(id.toString)}, want ${expCmb(id)}")
  }

  test("duplicate query tokens score ONCE across every bm25 path — the " +
    "engine-wide distinct-terms contract (r19, ADVICE r18 #2)") {
    import spark.implicits._
    import org.apache.spark.sql.types.StructType
    val c = (Seq(
      (1L, "zeta filler filler", "alpha"),
      (2L, "zeta alpha word", "other"),
      (3L, "zeta word filler", "other")) ++
      (4L to 10L).map(i => (i, "filler filler", "alpha"))
    ).toDF("id", "body", "tag")
    val docs = c.select(struct(
      col("id").cast("string").as("objectId"), col("body"), col("tag")).as("doc"))
    val schema = docs.schema("doc").dataType.asInstanceOf[StructType]
    def body(qType: String, q: String) =
      s"""{"query": {"multi_match": {"query": "$q",
         |   "fields": ["body", "tag"], "type": "$qType", "operator": "and"}},
         | "size": 10, "_source": ["objectId"]}""".stripMargin
    def cfBody(q: String) =
      s"""{"query": {"combined_fields": {"query": "$q",
         |   "fields": ["body", "tag"], "operator": "and"}},
         | "size": 10, "_source": ["objectId"]}""".stripMargin
    def scores(b: String): Map[String, Long] =
      SearchExec.search(docs, "doc", b, schema, similarity = "bm25")
        .collect().map(r => r.getAs[String]("objectId") -> r.getAs[Long]("score")).toMap
    // "zeta zeta alpha" ≡ "zeta alpha": same hits AND same scores on the
    // blended (cross_fields), merged-pseudo-field (combined_fields) and
    // per-field (best_fields) scorers — a duplicated token is one term
    for ((mk, label) <- Seq(
        ((q: String) => body("cross_fields", q), "cross_fields"),
        ((q: String) => cfBody(q), "combined_fields"),
        ((q: String) => body("best_fields", q), "best_fields"))) {
      val once = scores(mk("zeta alpha"))
      val dup = scores(mk("zeta zeta alpha"))
      assert(dup === once, s"$label: duplicate token changed the scores")
      assert(once.nonEmpty, s"$label: fixture matched nothing")
    }
  }

  test("match_phrase under bm25 scores POSITIONALLY (phraseFreq-as-tf, " +
    "summed term idfs): 2 phrase hits outrank 1, non-matches score 0") {
    import spark.implicits._
    import org.apache.spark.sql.types.StructType
    val c = (Seq(
      (1L, "alpha beta " + Seq.fill(18)("filler").mkString(" ")), // phrase ×1, LONG
      (2L, "zeta word"),                                          // rare term, short
      (3L, "alpha beta word alpha beta"),                         // phrase ×2
      (4L, "alpha beta word"),                                    // phrase ×1, short
      (5L, "beta alpha zeta")                                     // terms, NOT the phrase
    ) ++ (6L to 10L).map(i => (i, "filler filler"))               // idf ballast
    ).toDF("id", "body")
    val docs = c.select(struct(
      col("id").cast("string").as("objectId"), col("body")).as("doc"))
    val schema = docs.schema("doc").dataType.asInstanceOf[StructType]
    val body =
      """{"query": {"bool": {"should": [
        |   {"match_phrase": {"body": "alpha beta"}},
        |   {"match": {"body": "zeta"}}]}},
        | "size": 5, "_source": ["objectId"]}""".stripMargin
    def page(sim: String): Seq[(String, Long)] =
      SearchExec.search(docs, "doc", body, schema, similarity = sim)
        .collect().map(r => r.getAs[String]("objectId") -> r.getAs[Long]("score")).toSeq
    // boolean mode: every hit satisfies exactly one should → all tie at 1,
    // objectId ascending puts the long doc 1 first (filler docs hit nothing)
    val bool = page("boolean")
    assert(bool.map(_._1) === Seq("1", "2", "3", "4", "5"))
    assert(bool.map(_._2).distinct === Seq(1L))
    // bm25 mode: the phrase is ONE pseudo-term — tf = phrase frequency,
    // idf = (N − df_alpha) + (N − df_beta) — so doc 3 (phrase ×2)
    // outranks docs 4 and 1 (phrase ×1); neither the old terms-sum form
    // nor the 1-point constant could produce that order when docs 3 and
    // 4 share term tfs for alpha/beta at tf = 1... (doc 3 has tf 2 for
    // both terms too, so the pin below checks the exact pseudo-term
    // value, not just the order)
    val toks = split(lower(col("body")), "\\s+")
    val st = Bm25.stats(c, toks, Seq("alpha", "beta", "zeta"))
    val legMap = Bm25.withPhraseScore(
        Bm25.withScore(c, Seq(toks), Seq("zeta"), st, "z"),
        toks, Seq("alpha", "beta"), st, "ab")
      .select("id", "ab", "z")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val bm = page("bm25").toMap
    // gating/zero-tf: doc 5 contains alpha AND beta but NOT the phrase —
    // its phraseFreq is 0 so the phrase clause contributes 0
    assert(legMap(5L)._1 === 0L)
    assert(bm("5") === legMap(5L)._2)
    // phrase hits score exactly the pseudo-term (+ zeta leg where present)
    for (id <- Seq(1L, 3L, 4L))
      assert(bm(id.toString) === legMap(id)._1 + legMap(id)._2,
        s"doc $id: got ${bm(id.toString)}, legs ${legMap(id)}")
    assert(bm("2") === legMap(2L)._2)
    // the POSITIONAL pin: doc 3 (2 occurrences) outranks doc 4 (1), and
    // both outrank the long doc 1 (same tf, longer dl)
    assert(bm("3") > bm("4"), s"tf=2 must outrank tf=1: ${bm("3")} vs ${bm("4")}")
    assert(bm("4") > bm("1"))
    // and the resulting ORDER differs from boolean mode — the ×2 phrase
    // doc leads, which neither the 1-point constant nor the old
    // terms-sum form (where dl ties broke the other way) produces
    val bmOrder = page("bm25").map(_._1)
    assert(bmOrder !== bool.map(_._1))
    assert(bmOrder.head === "3")
  }
}
