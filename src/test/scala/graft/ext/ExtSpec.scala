package graft.ext

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.stream.IndexPipeline

/** Unit coverage for the training-data-pipeline extensions: hash bridge,
  * shingles, cosine/LSH, dedup invariants, decode stub, stream merge.
  * (End-to-end values are locked by the DuckDB oracle; these specs pin the
  * local semantics that the oracle can't isolate.) */
class ExtSpec extends SparkSpec {

  import TextFunctions._

  private lazy val sf = "/root/testdata/sf0.001"

  test("stableHash32 matches the md5-prefix contract") {
    // md5('hello') = 5d41402a... → 0x5d41402a = 1564557354
    val Row(h: Long) = spark.range(1)
      .select(stableHash32(lit("hello"))).head()
    assert(h === 1564557354L)
  }

  test("shingles produces n-k+1 space-joined n-grams in order") {
    val df = spark.range(1).select(
      shingles(split(lit("a b c d"), " "), 3).as("sh"))
    assert(df.head().getSeq[String](0) === Seq("a b c", "b c d"))
    val short = spark.range(1).select(
      shingles(split(lit("a b"), " "), 3).as("sh"))
    assert(short.head().getSeq[String](0) === Seq.empty[String])
  }

  test("vec_dot native expression is bit-identical to the composed fold") {
    graft.functions.GraftFunctions.ensure(spark)
    val df = graft.Tables(spark, sf, "embeddings")
      .select(col("vec_id"),
        org.apache.spark.sql.functions.col("embedding").cast("array<double>").as("v"))
      .limit(50)
    val cmp = df.select(
      graft.functions.GraftFunctions.vecDot(col("v"), col("v")).as("native"),
      SimilarityReference.dot(col("v"), col("v")).as("composed"))
    // exact equality: both are sequential fold-left double sums
    assert(cmp.filter(col("native") =!= col("composed")).count() === 0)
  }

  test("cosine: self-similarity is 1, orthogonal is 0") {
    val df = spark.sql(
      """SELECT array(1.0D, 2.0D, 3.0D) AS a,
        |       array(-2.0D, 1.0D, 0.0D) AS b""".stripMargin)
    val Row(self: Double, orth: Double) = df.select(
      SimilarityReference.cosine(col("a"), col("a")),
      SimilarityReference.cosine(col("a"), col("b"))).head()
    assert(math.abs(self - 1.0) < 1e-12)
    assert(math.abs(orth) < 1e-12)
  }

  test("lshSig: identical vectors collide, signature is 16-bit") {
    graft.functions.GraftFunctions.ensure(spark)
    val df = spark.sql(
      "SELECT array(0.5D, -0.25D, 0.125D, 1.0D) AS v")
    val Row(s1: Long) = df.select(Similarity.lshSig(col("v"))).head()
    val Row(s2: Long) = df.select(Similarity.lshSig(col("v"))).head()
    assert(s1 === s2 && s1 >= 0 && s1 < (1L << 16))
  }

  test("exact dedup removes planted exact copies only") {
    val r = DedupQueries.queries("dd1_exact_dedup")(spark, sf).head()
    val (nUnique, nTotal, nRemoved) =
      (r.getAs[Long]("n_unique"), r.getAs[Long]("n_total"), r.getAs[Long]("n_removed"))
    assert(nTotal > nUnique) // planted copies exist
    assert(nRemoved === nTotal - nUnique)
  }

  test("minhash-lsh finds every planted near-dup pair") {
    // every doc_id%7==0 doc has a first-token-dropped copy at id+1000000:
    // jaccard well above 0.6 → must be found (LSH recall on planted pairs).
    val pairs = DedupQueries.queries("dd2_minhash_lsh")(spark, sf)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val docs = graft.Tables(spark, sf, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0)).filter(_ % 7 == 0)
    assert(docs.nonEmpty)
    docs.foreach { id => assert(pairs.contains((id, id + 1000000L)), s"missing pair for $id") }
  }

  test("ngram-jaccard finds clusters duplicated beyond the df-prune threshold") {
    // A doc duplicated k times has its bigrams at df = k; once k exceeds
    // max(5, 1% of block) the df prune would drop EVERY bigram of the
    // cluster — zero candidate pairs for the most-duplicated content (the
    // dominant case in web-scale dedup). The min-3-hash exemption must
    // keep the cluster discoverable.
    import spark.implicits._
    val base = (1 to 20).map(i => (i.toLong, s"tok${i}a tok${i}b tok${i}c tok${i}d", "en", "web"))
    val copies = (1 to 12).map(j => (100L + j, base.head._2, "en", "web"))
    val corpus = (base ++ copies).toDF("doc_id", "text", "lang", "source")
    val (res, cached) = DedupQueries.ngramJaccardPairs(corpus)
    val pairs = graft.Eager.finish(res, cached: _*)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val cluster = Set(1L) ++ (1 to 12).map(100L + _)
    val expected = for { a <- cluster; b <- cluster if a < b } yield (a, b)
    assert(pairs === expected) // all 78 cluster pairs, nothing else
  }

  test("analyzer: the Column chain and the query-side Scala chain agree") {
    // t6/d23 compare analyzed FIELD text (Column chain) against analyzed
    // QUERY terms (Scala chain evaluated at plan-build time) — the two
    // implementations must tokenize/stop/stem identically or matches
    // silently miss. Property-checked over seeded random strings that
    // exercise every stemmer branch and stopwords.
    import spark.implicits._
    import graft.ext.TextAnalysis
    val rnd = new scala.util.Random(42)
    val words = Seq("The", "queries", "MATCHES", "dup-merge", "bases", "boss",
      "bus", "ties", "eies", "aies", "goes", "trees", "Data!", "a", "of", "x")
    val samples = (0 until 200).map { _ =>
      (0 until rnd.nextInt(8)).map(_ => words(rnd.nextInt(words.size)))
        .mkString(" ") + (if (rnd.nextBoolean()) "?!" else "")
    }
    val viaColumn = samples.toDF("s")
      .select(TextAnalysis.analyze(col("s")).as("t"))
      .collect().map(_.getSeq[String](0).toList)
    val viaScala = samples.map(s => TextAnalysis.analyzeQuery(s).toList)
    viaColumn.zip(viaScala).zip(samples).foreach { case ((c, sc), raw) =>
      assert(c === sc, s"analyzer mismatch on '$raw'")
    }
  }

  test("simhash finds every planted exact copy and planted pairs dominate") {
    val rows = DedupQueries.queries("dd3_simhash")(spark, sf)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Int]("hamming")))
    val pairs = rows.map(t => (t._1, t._2)).toSet
    val exacts = graft.Tables(spark, sf, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0)).filter(_ % 13 == 0)
    assert(exacts.nonEmpty)
    // exact copies have hamming 0 → banding recall is exact, must all appear
    exacts.foreach { id => assert(pairs.contains((id, id + 2000000L)), s"missing exact pair $id") }
    // the signature separates: planted pairs outnumber organic near-dups
    val planted = rows.count(t => t._2 - t._1 == 1000000L || t._2 - t._1 == 2000000L)
    assert(planted * 2 > rows.length, s"planted $planted of ${rows.length}")
  }

  test("decode stub: chunk means are byte-exact") {
    val fs = Multimodal.media(spark, sf).filter(col("doc_id") === 0)
      .mapPartitions(Multimodal.fakeDecode)(
        org.apache.spark.sql.Encoders.product[Multimodal.MediaFeatures])
      .head()
    val text = graft.Tables(spark, sf, "documents")
      .filter(col("doc_id") === 0).select(col("text")).head().getString(0)
    val bytes = text.getBytes("UTF-8")
    val q = bytes.length / 4
    val f0 = bytes.slice(0, q).map(_ & 0xff).sum.toDouble / q
    assert(fs.n_bytes === bytes.length.toLong)
    assert(math.abs(fs.f0 - f0) < 1e-12)
  }

  test("q27: exact distinct counts carry an in-query HLL error-bound gate; raw estimates within rsd") {
    // the registry query's gate column must hold on every group (it is
    // what the DuckDB oracle asserts TRUE against)
    val rows = graft.relational.RelationalQueries2.queries("q27_approx_distinct")(spark, sf)
      .collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Boolean]("hll_within_bound")))
    // and the raw HLL estimates (not emitted by the query) stay within a
    // tighter 10% of exact
    val approx = graft.Tables(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("o"),
        approx_count_distinct(col("l_partkey"), 0.02).as("p"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = graft.Tables(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("o"), countDistinct(col("l_partkey")).as("p"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    exact.foreach { case (k, (eo, ep)) =>
      val (ao, ap) = approx(k)
      assert(math.abs(ao - eo).toDouble / eo < 0.1, s"$k orders: $ao vs $eo")
      assert(math.abs(ap - ep).toDouble / ep < 0.1, s"$k parts: $ap vs $ep")
    }
  }

  test("bm25 ranks a short exact doc above a long high-tf doc where raw tf-idf does not") {
    import spark.implicits._
    // Length-skewed fixture: docA has ONE hit in 4 tokens, docB TWO hits
    // in 40 tokens, docC none (so idf = N - df = 1, not 0). Raw TF×IDF
    // (t6's shape) ranks B first on tf alone; BM25's length norm ranks A
    // first. Constants mirror t11: k1s=120, bs=75.
    val filler = Seq.fill(38)("filler").mkString(" ")
    val df = Seq((1L, "target alpha beta gamma"),
      (2L, s"target target $filler"),
      (3L, "nothing here at all")).toDF("doc_id", "text")
    val base = df.select(col("doc_id"), graft.ext.TextAnalysis.analyze(col("text")).as("ts"))
    val dl = base.select(col("doc_id"), size(col("ts")).cast("long").as("dl"))
    val tf = base.select(col("doc_id"), explode(col("ts")).as("t"))
      .filter(col("t") === "target")
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val stats = base.agg(count(lit(1)).as("n_docs"), sum(size(col("ts")).cast("long")).as("tt"))
    val scored = tf.join(dfreq, "t").join(dl, "doc_id").crossJoin(stats)
      .withColumn("raw", col("tf") * (col("n_docs") - col("df"))) // t6's integer tf-idf
      .withColumn("num", (col("n_docs") - col("df")) * col("tf") * lit(220L) * lit(100L) * col("tt"))
      .withColumn("den", lit(10000L) * col("tt") * col("tf") +
        lit(3000L) * col("tt") + lit(9000L) * col("dl") * col("n_docs"))
      .withColumn("bm25", expr("num DIV den"))
      .select(col("doc_id"), col("raw"), col("bm25"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (rawA, bmA) = scored(1L)
    val (rawB, bmB) = scored(2L)
    assert(rawB > rawA, s"raw tf-idf must prefer the high-tf long doc: $rawB vs $rawA")
    assert(bmA > bmB, s"bm25 must prefer the short exact doc: $bmA vs $bmB")
  }

  test("sequence packing is gapless per shard; repetition fractions match an independent recomputation") {
    // t12: concat-and-chunk invariants that the oracle can't isolate —
    // no token is lost between documents (gapless prefix sum), chunk ids
    // are exact floor-division, and the last chunk covers the shard total.
    val pack = TextQueries.queries("t12_seq_pack")(spark, sf).collect()
    pack.groupBy(_.getAs[String]("lang")).foreach { case (_, rows0) =>
      val rows = rows0.sortBy(_.getAs[Long]("doc_id"))
      rows.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("tok_before") ===
            a.getAs[Long]("tok_before") + a.getAs[Long]("n_tok"))
        case _ => ()
      }
      val last = rows.last
      val total = last.getAs[Long]("tok_before") + last.getAs[Long]("n_tok")
      assert(rows.map(_.getAs[Long]("last_seq")).max === (total - 1) / 256)
      rows.foreach { r =>
        assert(r.getAs[Long]("first_seq") === r.getAs[Long]("tok_before") / 256)
        assert(r.getAs[Long]("n_seqs") ===
          r.getAs[Long]("last_seq") - r.getAs[Long]("first_seq") + 1)
      }
    }
    // t13: the engine's dup-n-gram fractions vs a from-scratch Scala
    // recomputation (independent of both Spark expressions and DuckDB)
    val rep = TextQueries.queries("t13_repetition")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val texts = graft.Tables(spark, sf, "documents").select("doc_id", "text")
      .orderBy("doc_id").limit(10).collect()
    assert(texts.nonEmpty)
    texts.foreach { tr =>
      val toks = tr.getAs[String]("text").split("\\s+").filter(_.nonEmpty).toSeq
      def dup(n: Int): Long = {
        val g = toks.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
        if (g.isEmpty) 0L else (g.size - g.distinct.size).toLong * 1000L / g.size
      }
      val r = rep(tr.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("dup2_pm") === dup(2), s"doc ${tr.getAs[Long]("doc_id")} 2-gram")
      assert(r.getAs[Long]("dup3_pm") === dup(3), s"doc ${tr.getAs[Long]("doc_id")} 3-gram")
      assert(r.getAs[Int]("repetitive") === (if (dup(3) > 150) 1 else 0))
    }
  }

  test("incremental dedup verdicts every planted copy against the old corpus only") {
    val rows = DedupQueries.queries("dd7_incremental")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("batch_id")
      val verdict = r.getAs[String]("verdict")
      if (id >= 2000000L)
        // exact copies of base docs MUST be caught by the hash layer
        assert(verdict === "drop_exact", s"batch $id: $verdict")
      // sources always point INTO the old corpus, never at batch ids
      Seq("exact_src", "near_src").foreach { c =>
        val v = r.getAs[java.lang.Long](c)
        if (v != null) assert(v.longValue < 1000000L, s"$c points at a batch doc: $v")
      }
    }
    // first-token-dropped near copies: hamming recall depends on doc
    // length (a short doc loses a large bigram fraction), so the honest
    // claim is MAJORITY caught, not totality — exactness lives in the
    // hash layer above
    val nears = rows.filter(r => r.getAs[Long]("batch_id") < 2000000L)
    val caught = nears.count(_.getAs[String]("verdict") != "keep")
    assert(caught * 2 > nears.length, s"near layer caught $caught of ${nears.length}")
  }

  test("chunking covers every token with exact overlap and stable ids") {
    // t15 invariants the row-hash oracle can't isolate: chunk 0 starts at
    // token 0; consecutive chunks overlap by exactly W-S tokens; the last
    // chunk reaches the document's end; rebuilding the token stream from
    // stride-aligned chunk prefixes reproduces the original token count.
    val W = 64L; val S = 48L
    val rows = TextQueries.queries("t15_chunking")(spark, sf).collect()
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, rs0) =>
      val rs = rs0.sortBy(_.getAs[Int]("chunk_id"))
      val n = rs.head.getAs[Long]("n_tok")
      assert(rs.head.getAs[Int]("chunk_id") === 0, s"doc $id missing chunk 0")
      assert(rs.map(_.getAs[Int]("chunk_id")).toSeq === rs.indices.toSeq, s"doc $id gap in ids")
      rs.foreach { r =>
        val start = r.getAs[Int]("chunk_id") * S
        assert(r.getAs[Long]("chunk_tok") === math.min(W, n - start), s"doc $id len")
        val words = r.getAs[String]("chunk_text").split(" ").filter(_.nonEmpty).length
        assert(words === r.getAs[Long]("chunk_tok"), s"doc $id text/len disagree")
      }
      // coverage: last chunk's window reaches the end of the document
      val lastStart = (rs.length - 1) * S
      assert(lastStart + W >= n, s"doc $id tail uncovered")
      // a doc longer than one window yields > 1 chunk
      if (n > W) assert(rs.length === 1 + ((n - W + S - 1) / S), s"doc $id chunk count")
    }
    assert(rows.nonEmpty)
  }

  test("stream merge is last-write-wins with cumulative counts") {
    import spark.implicits._
    val state = Seq((1L, 10L, "SAVE", "view", 1.0, 3L))
      .toDF("key", "seq", "op", "event_type", "value", "n_events")
    val batch = Seq(
      (1L, 11L, "SAVE", "click", 2.0, 0L),
      (1L, 12L, "DELETE", "error", 3.0, 0L),
      (2L, 13L, "SAVE", "view", 4.0, 0L))
      .toDF("key", "seq", "op", "event_type", "value", "n_events")
    val merged = IndexPipeline.merge(state, batch.drop("n_events"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(merged(1L).getAs[Long]("seq") === 12L) // latest wins
    assert(merged(1L).getAs[String]("op") === "DELETE") // tombstoned
    assert(merged(1L).getAs[Long]("n_events") === 5L) // 3 + 2 in batch
    assert(merged(2L).getAs[Long]("n_events") === 1L)
  }

  test("t32 wordpiece: greedy longest-match-first; cursor parks past short words") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val words = Seq(("abcd", 1L), ("cdab", 1L), ("zzzzzzz", 1L)).toDF("w", "freq")
    val vocab = Seq(Tuple1(Seq("a", "b", "c", "d", "z",
      "##a", "##b", "##c", "##d", "##z", "ab", "##cd"))).toDF("vl")
    val raw = TextQueries.wpEncodeRaw(words, vocab)
      .select(col("w"), col("len"), col("_n6"), col("_c6"),
        concat_ws(" ", array_compact(array(col("_pc1"), col("_pc2"), col("_pc3"),
          col("_pc4"), col("_pc5"), col("_pc6")))).as("pieces"))
      .collect().map(r => r.getAs[String]("w") -> r).toMap
    // longest match wins: "ab" beats "a"; continuation "##cd" beats "##c"
    assert(raw("abcd").getAs[Int]("_n6") === 2)
    assert(raw("abcd").getAs[String]("pieces") === "ab ##cd")
    // no multi-char initial "cd" in vocab: falls back to singles, then "##ab" absent too
    assert(raw("cdab").getAs[String]("pieces") === "c ##d ##a ##b")
    // a 7-char word walks all 6 steps without finishing (consumer maps to [UNK])
    assert(raw("zzzzzzz").getAs[Int]("_c6") === 7)
    assert(raw("zzzzzzz").getAs[Int]("len") === 7)
  }

  test("s15 standing IVF index reproduces s3's rebuild answer exactly; " +
    "the index parquet is cell-partitioned and written once per corpus") {
    val s3r = Similarity.queries("s3_ivf_ann")(spark, sf).collect().toSeq
    val s15a = Similarity.queries("s15_ivf_standing")(spark, sf)
    assert(s15a.collect().toSeq === s3r)
    // second invocation serves from the SAME standing files (memo hit):
    // both reads resolve to one parquet location, and that location is
    // partitioned by cell (directory-per-cell layout = partition pruning
    // at 100 TB)
    def loc(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(_.toString)
            case _ => Nil
          }
      }.flatten.filter(_.contains("s15-ivf"))
    val l1 = loc(s15a)
    val l2 = loc(Similarity.queries("s15_ivf_standing")(spark, sf))
    assert(l1.nonEmpty && l1.distinct === l2.distinct)
    val cellDirs = new java.io.File(new java.net.URI(l1.head))
      .listFiles().filter(_.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty, "index parquet must be partitioned by cell")
  }

  test("knnProbe serves from the standing IVF index: cell partition " +
    "filter reaches the parquet scan; ES|QL KNN lowers to it; rejects loud") {
    import graft.docs.Esql
    // query vector = corpus vector 42's embedding: it routes to its own
    // assigned cell, so brute-force rank-1 (itself, cos = 1) is always
    // in the probed cell — overlap with global brute force ≥ 1 by
    // construction, and empirically much higher
    val emb = graft.Tables(spark, sf, "embeddings")
    val qv = emb.filter(col("vec_id") === 42L)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val probe = Similarity.knnProbe(spark, sf, qv, 7)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(cell"),
      s"cell filter must prune partitions, plan:\n${plan.take(2000)}")
    val got = probe.collect().map(_.getLong(0)).toSeq
    assert(got.size === 7 && got.head === 42L) // self is rank 1 (cos = 1)
    // recall vs brute force over the whole corpus (one probed cell)
    val qc = array(qv.map(lit): _*)
    import graft.functions.GraftFunctions.vecDot
    val brute = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), (vecDot(qc, col("v")) /
        (sqrt(vecDot(qc, qc)) * sqrt(vecDot(col("v"), col("v"))))).as("c"))
      .orderBy(col("c").desc, col("vec_id")).limit(7)
      .collect().map(_.getLong(0)).toSet
    // nprobe = 1 (the s3 serving contract) over near-random synthetic
    // vectors: only the self-hit is GUARANTEED to land in the probed
    // cell; family-level recall shape is measured by the s4/s13 gates
    assert(got.toSet.intersect(brute).size >= 1,
      s"probe ${got.toSet} vs brute $brute")
    // ES|QL lowering returns the same ids, cosine added to _score
    val esql = Esql.run(Map("embeddings" -> emb),
      s"""FROM embeddings METADATA _score
         || WHERE KNN(embedding, [${qv.mkString(", ")}], 7)
         || KEEP vec_id, _score | SORT _score DESC, vec_id ASC""".stripMargin,
      annDir = Some(sf))
    assert(esql.collect().map(_.getLong(0)).toSeq === got)
    // rejects: composed KNN, KNN without an index, bad args
    assert(intercept[IllegalArgumentException](Esql.run(Map("embeddings" -> emb),
      "FROM embeddings | WHERE KNN(embedding, [1.0], 3) AND vec_id > 0",
      annDir = Some(sf))).getMessage.contains("entire WHERE predicate"))
    assert(intercept[IllegalArgumentException](Esql.run(Map("embeddings" -> emb),
      "FROM embeddings | WHERE KNN(embedding, [1.0], 3)"))
      .getMessage.contains("standing ANN index"))
    assert(intercept[IllegalArgumentException](Esql.run(Map("embeddings" -> emb),
      """FROM embeddings | WHERE KNN(embedding, ["x"], 3)""",
      annDir = Some(sf))).getMessage.contains("numeric literals"))
    // the multivalue literal is a first-class expression too
    val mv = Esql.run(Map("embeddings" -> emb),
      "ROW v = [1, 2, 3] | EVAL s = MV_SUM(v) | KEEP s")
      .head().getDouble(0)
    assert(mv === 6.0)
  }

  test("s16/s17/s18 standing LSH/PQ/BBQ indexes reproduce their rebuild " +
    "answers exactly and are write-once per corpus") {
    val pairs = Seq(
      "s16_lsh_standing" -> "s2_lsh_ann",
      "s17_pq_standing" -> "s9_pq_ann",
      "s18_bbq_standing" -> "s11_bbq_ann")
    for ((st, rb) <- pairs)
      assert(Similarity.queries(st)(spark, sf).collect().toSeq ===
        Similarity.queries(rb)(spark, sf).collect().toSeq, s"$st vs $rb")
    // second pass: every standing table serves from its memoized parquet
    // (no new builds — the probe-only serving cost the bench repeats see)
    val before = graft.Standing.builds
    pairs.foreach(p => Similarity.queries(p._1)(spark, sf).collect())
    assert(graft.Standing.builds === before,
      "standing indexes must not rebuild on repeat probes")
  }

  test("dd15 approximate semdedup (two-level probe) catches the planted " +
    "near-dups like exact dd8 — the 100 TB assignment contract as code") {
    val r15 = DedupQueries.queries("dd15_semdedup_approx")(spark, sf).collect()
    val r8 = DedupQueries.queries("dd8_semdedup")(spark, sf).collect()
    assert(r15.length === r8.length) // same corpus incl. planted rows
    def caught(rows: Array[org.apache.spark.sql.Row]): Int =
      rows.count(r => r.getLong(0) >= 1000000L && !r.isNullAt(2) &&
        r.getLong(2) === r.getLong(0) - 1000000L)
    val planted = r15.count(_.getLong(0) >= 1000000L)
    assert(planted > 0)
    // the exact path catches every planted pair (d² ≤ dim < τ)
    assert(caught(r8) === planted)
    // the approximate path: near-identical vectors co-route except at
    // coarse-cell boundaries — require ≥ 90% (empirically 100% on the
    // fixtures; the oracle gate pins the exact output either way)
    assert(caught(r15) >= (planted * 9) / 10,
      s"dd15 caught ${caught(r15)} of $planted planted dups")
  }

  test("dd14 bloom gate: no false negatives, real pruning, exact final result") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.ensure(spark)
    val old = (1 to 200).map(i => (i.toLong, s"standing doc $i")).toDF("doc_id", "text")
    // batch: 5 exact copies of standing docs + 95 fresh docs
    val batch = ((1 to 5).map(i => (1000L + i, s"standing doc $i")) ++
      (1 to 95).map(i => (2000L + i, s"fresh doc $i"))).toDF("doc_id", "text")
    val bf = old.selectExpr("graft_bloom_agg(xxhash64(text), 500L, 8000L) AS bf")
      .head().getAs[Array[Byte]](0)
    val cand = batch.filter(
      call_function("graft_might_contain", lit(bf), xxhash64(col("text"))))
    val n = cand.count()
    // every true duplicate survives the probe (bloom = no false negatives)
    assert(n >= 5, s"bloom dropped true duplicates: $n")
    // and the gate genuinely prunes the clean majority
    assert(n < 50, s"bloom pruned nothing: $n of 100")
    // final verdicts are exact after the verification join
    val verdicts = cand.select(col("doc_id"), md5(col("text")).as("h"))
      .join(old.select(md5(col("text")).as("h"), col("doc_id").as("src")), "h")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(verdicts === (1001L to 1005L).toSet)
  }

  test("s14 graph ANN: 3 ranked neighbors per query, no self, useful recall") {
    import org.apache.spark.sql.functions._
    val truth = Similarity.queries("s1_cosine_topk")(spark, sf)
      .filter(col("rank") <= 3).select("q_id", "n_id")
    val beam = Similarity.queries("s14_hnsw_beam")(spark, sf)
    val rows = beam.collect()
    // exactly 3 ranked rows per query, self excluded
    val perQ = rows.groupBy(_.getLong(0))
    assert(perQ.values.forall(_.length == 3))
    assert(perQ.forall { case (q, rs) =>
      rs.map(_.getLong(1)).sorted.sameElements(Array(1L, 2L, 3L)) &&
        rs.forall(_.getLong(2) != q)
    })
    // beam search is approximate, but a 3-hop beam from the 3 nearest
    // centroids must recover most of brute-force top-3 — guards against
    // a consistent-but-useless graph walk
    val hits = beam.select("q_id", "n_id").join(truth, Seq("q_id", "n_id")).count()
    val total = truth.count()
    assert(hits * 10 >= total * 6, s"graph-ANN recall too low: $hits/$total")
  }

  test("shingleHashesFlat equals positional shingleHashes (incl. short arrays)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.ext.TextFunctions._
    val df = Seq("a b c d e", "x y", "solo", "p q r").toDF("text")
      .select(tokenHashes(tokens(col("text"))).as("hs"))
    val both = df.select(shingleHashes(col("hs"), 3).as("pos"),
      shingleHashesFlat(col("hs"), 3).as("flat")).collect()
    both.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
  }
}
