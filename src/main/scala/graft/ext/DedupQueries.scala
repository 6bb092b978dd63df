package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import TextFunctions._

/** Deduplication operators over the `documents` / `embeddings` tables —
  * exact, MinHash+LSH, SimHash, blocked n-gram Jaccard, and
  * embedding-cosine near-dup (the north-star training-data extensions;
  * the reference deduplicates only by objectId overwrite, SURVEY §2 P4).
  *
  * The test corpus has no duplicates, so each query first derives a
  * corpus-with-planted-dups (exact copies / first-token-dropped near-copies
  * / perturbed vectors) with engine-portable arithmetic, then runs the real
  * pipeline. The planting is part of the query so the DuckDB oracle can
  * replay it; the pipelines themselves never depend on it.
  *
  * Scale shapes (the point of each design):
  *   - exact: one hash-groupBy — a single shuffle on the content hash.
  *   - MinHash+LSH: shingle explode → per-doc signature (one groupBy) →
  *     band explode → bucket join. Candidate pairs ∝ colliding docs, never
  *     the O(n²) cross join.
  *   - SimHash: per-doc 32-bit signature via one groupBy; banding the bits
  *     (4×8) gives hamming-LSH buckets — again no cross join.
  *   - n-gram Jaccard: exhaustive only WITHIN small blocks (lang, source) —
  *     the classic blocking escape hatch when LSH recall isn't wanted.
  *   - embedding near-dup: random-hyperplane LSH bands prefilter, exact
  *     cosine on survivors only.
  */
object DedupQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Documents ∪ planted near-duplicates: every `doc_id % 7 == 0` doc gets
    * a copy (id + 1000000) with the first token dropped; every
    * `doc_id % 13 == 0` doc gets an EXACT copy (id + 2000000). */
  private[graft] def planted(s: SparkSession, d: String): DataFrame = {
    val base = Tables(s, d, "documents").select(col("doc_id"), col("text"), col("lang"), col("source"))
    val near = base.filter(col("doc_id") % 7 === 0).select(
      (col("doc_id") + 1000000L).as("doc_id"),
      expr("substring(text, instr(text, ' ') + 1)").as("text"),
      col("lang"), col("source"))
    val exact = base.filter(col("doc_id") % 13 === 0).select(
      (col("doc_id") + 2000000L).as("doc_id"), col("text"), col("lang"), col("source"))
    base.unionByName(near).unionByName(exact)
  }

  private[graft] val PlantedSql =
    """SELECT doc_id, text, lang, source FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000, substr(text, strpos(text, ' ') + 1), lang, source
      |FROM documents WHERE doc_id % 7 = 0
      |UNION ALL
      |SELECT doc_id + 2000000, text, lang, source FROM documents WHERE doc_id % 13 = 0""".stripMargin

  // ----------------------------------------------------- standing index
  /** The dedup family's SHARED frames — tokens, shingle sets, MinHash and
    * SimHash signatures, quantized vectors — materialized ONCE per
    * (session, corpus) as standing parquet tables ([[graft.Standing]],
    * the DocQueries corpus pattern) and read from storage by every
    * consumer. NOT executor-cache `.persist()`: a MEMORY_AND_DISK block
    * demonstrably evaporates under the 300+-query session's memory
    * pressure, multiplying dd7/dd8 7× as the whole token→shingle→signature
    * pipeline recomputes per downstream action (round-10 driver bench).
    * A parquet signature index is also the literal 100 TB architecture:
    * production incremental dedup keeps a STANDING signature index on
    * storage (dd7's contract) and every batch reads it with column
    * pruning + pushdown — the cache is an optimization, never the plan.
    *
    * Each frame is a hard materialization boundary, which the shingle
    * lambdas REQUIRE: `element_at(hs, i)` closes over the full `hs`
    * expression tree, so deriving shingles straight from `tokens(text)`
    * re-splits the document per window element — O(tokens²) per doc
    * (measured 36-50 s vs 2-4 s at sf0.1 in round 2). Reading `hs` back
    * as a parquet attribute makes the closure a column reference. */
  private def standing(s: SparkSession, d: String, tag: String)(df: => DataFrame): DataFrame =
    graft.Standing.table(s, s"dd-$tag",
      graft.Standing.corpus(s, d, "documents", "embeddings"))(df)

  /** (doc_id, toks) over the planted corpus. */
  private def matToks(s: SparkSession, d: String): DataFrame =
    standing(s, d, "toks")(
      planted(s, d).select(col("doc_id"), tokens(col("text")).as("toks")))

  /** (doc_id, hs) — per-token MinHash-domain hashes. */
  private def matTokenHs(s: SparkSession, d: String): DataFrame =
    standing(s, d, "tokenhs")(
      matToks(s, d).select(col("doc_id"), tokenHashes(col("toks")).as("hs")))

  /** Distinct (doc_id, h) 3-token shingle hashes — dd2's features and
    * dd13's truth/planner input (dd13's 1-in-3 sample is a FILTER of this
    * frame: membership is decided by doc_id alone). */
  private def matShingle3(s: SparkSession, d: String): DataFrame =
    standing(s, d, "sh3")(
      matTokenHs(s, d)
        .select(col("doc_id"), explode(shingleHashes(col("hs"), 3)).as("h"))
        .distinct())

  /** (doc_id, mh0..mh11) 12-permutation MinHash signatures (dd2 bands,
    * dd13 planner bands — per-doc aggregation, so the sampled variant is
    * again a filter). */
  private def matMinhashSig(s: SparkSession, d: String): DataFrame =
    standing(s, d, "mhsig") {
      val mhCols = MinhashParams.zipWithIndex.map { case ((a, b), i) =>
        min(perm(col("h"), a, b)).as(s"mh$i") }
      matShingle3(s, d).groupBy(col("doc_id")).agg(mhCols.head, mhCols.tail: _*)
    }

  /** (doc_id, simhash) 60-bit SimHash over distinct token-bigram features
    * — ONE signature pass serving both dd3 (self near-dup) and dd7
    * (incremental old×batch): the standing index an incremental ingest
    * reads instead of re-sketching the lake. */
  private def matSimhashSig(s: SparkSession, d: String): DataFrame =
    standing(s, d, "simsig") {
      val th = matToks(s, d)
        .select(col("doc_id"), explode(shingles(col("toks"), 2)).as("bg"))
        .select(col("doc_id"), stableHash60(col("bg")).as("h")).distinct()
      val simhashUdaf = udaf(graft.functions.SimHashAgg)
      th.groupBy(col("doc_id")).agg(simhashUdaf(col("h")).as("simhash"))
    }

  /** The standing simhash signature table, exposed for the plan audit
    * (PlanAuditSpec pins that dd3/dd7's signature side is a parquet
    * SCAN — zero Aggregate/Generate — not a recomputed sketch). */
  private[graft] def simhashIndex(s: SparkSession, d: String): DataFrame =
    matSimhashSig(s, d)

  // ---------------------------------------------------------------- dd1
  /** Exact dedup: groupBy(md5(text)), keep the smallest doc_id per content
    * group. One shuffle on the content hash at any scale. */
  private def dd1(s: SparkSession, d: String): DataFrame =
    planted(s, d)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .groupBy()
      .agg(
        count(lit(1)).as("n_unique"),
        sum(col("n_copies")).as("n_total"),
        sum(col("n_copies") - 1).as("n_removed"),
        sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
        min(col("keep_id")).as("min_keep"),
        max(col("keep_id")).as("max_keep"))

  private val dd1Sql =
    s"""WITH corpus AS ($PlantedSql),
       |g AS (SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
       |             COUNT(*) AS n_copies
       |      FROM corpus GROUP BY md5(text))
       |SELECT COUNT(*) AS n_unique, CAST(SUM(n_copies) AS BIGINT) AS n_total,
       |       CAST(SUM(n_copies - 1) AS BIGINT) AS n_removed,
       |       CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
       |       MIN(keep_id) AS min_keep, MAX(keep_id) AS max_keep
       |FROM g""".stripMargin

  // ---------------------------------------------------------------- dd2
  /** MinHash + LSH near-dedup: 3-token shingles → 12-perm MinHash signature
    * → 4 bands × 3 rows → bucket-join candidates → exact Jaccard verify
    * (integer n_inter/n_union, threshold 0.6). */
  private def dd2(s: SparkSession, d: String): DataFrame = {
    // distinct (doc, shingle-hash) rows and the 12-column signatures come
    // from the standing parquet index (matShingle3 / matMinhashSig): the
    // signature build and BOTH sides of the Jaccard verify re-read real
    // scans instead of hoping an executor-cache block survived.
    val sh = matShingle3(s, d)
    val sig = matMinhashSig(s, d)
    // 4 bands × 3 rows; band signature = joined minhash triple
    val bands = (0 until 4).map { bnd =>
      sig.select(col("doc_id"), lit(bnd).as("band"),
        concat_ws("-", (0 until 3).map(r => col(s"mh${bnd * 3 + r}")): _*).as("sig"))
    }.reduce(_ unionAll _)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    // exact Jaccard verify on the shingle sets of candidates only
    val sa = sh.select(col("doc_id").as("a"), col("h"))
    val sb = sh.select(col("doc_id").as("b"), col("h"))
    val inter = cand.join(sa, "a").join(sb, Seq("b", "h"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_inter"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val res = inter
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n_sh", "na"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n_sh", "nb"), "b")
      .select(col("a"), col("b"), col("n_inter"),
        (col("na") + col("nb") - col("n_inter")).as("n_union"))
      .filter(col("n_inter") * 10 >= col("n_union") * 6)
      .orderBy(col("a"), col("b"))
    graft.Eager.pin(res)
  }

  private def mhTermsSql: String = MinhashParams.zipWithIndex.map { case ((a, b), i) =>
    s"MIN((h % ${MinhashPrime} * $a + $b) % ${MinhashPrime}) AS mh$i" }.mkString(",\n    ")

  private def bandsSql: String = (0 until 4).map { bnd =>
    val triple = (0 until 3).map(r => s"mh${bnd * 3 + r}").mkString(", ")
    s"SELECT doc_id, $bnd AS band, concat_ws('-', $triple) AS sig FROM sig"
  }.mkString("\n  UNION ALL ")

  private val dd2Sql =
    s"""WITH corpus AS ($PlantedSql),
       |th AS (SELECT doc_id,
       |    list_transform(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''),
       |      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % ${MinhashPrime}) AS hs
       |  FROM corpus),
       |sh AS (SELECT DISTINCT doc_id, ${TextFunctions.shingleHashSql("hs", 3)} AS h
       |  FROM th, unnest(range(1, len(hs) - 1)) AS t(i)),
       |sig AS (SELECT doc_id,
       |    $mhTermsSql
       |  FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bandsSql),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
       |inter AS (SELECT a, b, COUNT(*) AS n_inter
       |  FROM cand JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b AND sb.h = sa.h
       |  GROUP BY a, b),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id)
       |SELECT a, b, n_inter, za.n_sh + zb.n_sh - n_inter AS n_union
       |FROM inter JOIN sizes za ON za.doc_id = a JOIN sizes zb ON zb.doc_id = b
       |WHERE n_inter * 10 >= (za.n_sh + zb.n_sh - n_inter) * 6
       |ORDER BY a, b""".stripMargin

  // ---------------------------------------------------------------- dd3
  /** SimHash near-dedup: 60-bit signature over distinct token-BIGRAM
    * features (stableHash60 — the widest md5 prefix a signed 64-bit cast
    * holds in every engine), 6 bands × 10 bits as hamming-LSH buckets,
    * pairs with hamming ≤ 5. Pigeonhole: ≤5 differing bits across 6 bands
    * leaves at least one band clean, so banding has EXACT recall at this
    * threshold. Bigram (not unigram) features matter on a
    * shared-vocabulary corpus: the test documents draw ~23 of 31 shared
    * words each, so unigram SETS are near-identical across unrelated docs
    * (round 2's 11k false pairs) — positional bigrams restore feature
    * diversity (unrelated hamming ≈ 15-30, planted copies ≈ 0-3). */
  private def dd3(s: SparkSession, d: String): DataFrame = {
    // the 60-bit signatures come from the standing parquet index
    // (matSimhashSig — custom typed SimHashAgg Aggregator: per-bit votes
    // accumulate map-side, one 60-long buffer per group crosses the
    // shuffle); both sides of the band self-join scan the same narrow
    // parquet table, not a hopefully-still-cached block
    val sig = matSimhashSig(s, d)
    val bands = (0 until 6).map { bnd =>
      sig.select(col("doc_id"), col("simhash"), lit(bnd).as("band"),
        (shiftright(col("simhash"), bnd * 10) % 1024).as("bv"))
    }.reduce(_ unionAll _)
    val res = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      // filter BEFORE the dedup (r19): hamming is deterministic per pair
      // so the two commute, and the distinct now shuffles only real
      // near-dups instead of every band-bucket collision
      .filter(col("hamming") <= 5)
      .distinct()
      .orderBy(col("a"), col("b"))
    graft.Eager.pin(res)
  }

  private def simTermsSql: String = (0 until 60).map { j =>
    s"SUM(CASE WHEN (h >> $j) % 2 = 1 THEN 1 ELSE -1 END) AS s$j" }.mkString(",\n    ")

  private def simValSql: String = (0 until 60).map { j =>
    s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END" }.mkString(" + ")

  private def simBandsSql: String = (0 until 6).map { bnd =>
    s"SELECT doc_id, simhash, $bnd AS band, (simhash >> ${bnd * 10}) % 1024 AS bv FROM sig"
  }.mkString("\n  UNION ALL ")

  private val dd3Sql =
    s"""WITH corpus AS ($PlantedSql),
       |th AS (SELECT DISTINCT doc_id,
       |    CAST(('0x' || substr(md5(bg), 1, 15)) AS BIGINT) AS h
       |  FROM (SELECT doc_id,
       |          toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i AS INTEGER) + 1] AS bg
       |        FROM (SELECT doc_id,
       |                list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
       |              FROM corpus),
       |        unnest(range(1, len(toks))) AS t(i))),
       |sums AS (SELECT doc_id,
       |    $simTermsSql
       |  FROM th GROUP BY doc_id),
       |sig AS (SELECT doc_id, $simValSql AS simhash FROM sums),
       |bands AS (
       |  $simBandsSql)
       |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
       |  CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
       |FROM bands x JOIN bands y
       |  ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.simhash, y.simhash)) <= 5
       |ORDER BY a, b""".stripMargin

  // ---------------------------------------------------------------- dd4
  /** Blocked n-gram Jaccard: token-bigram Jaccard within (lang, source)
    * blocks, with a DOCUMENT-FREQUENCY filter on the candidate join —
    * bigrams present in more than max(1%, 5 docs) of their block are
    * vocabulary, not evidence, and generate no candidate pairs (the
    * shared-bigram self-join otherwise approaches block² when the corpus
    * shares one vocabulary: 250 s at sf0.1 in round 2, and a scale-killer
    * at 100 TB). Verification stays EXACT on the full bigram sets — only
    * candidate generation is pruned; a true near-dup pair shares its
    * pair-unique bigrams (df = 2), so recall for actual duplicates is
    * unaffected. All arithmetic integer so the oracle mirrors bit-exactly. */
  /** The dd4 pipeline over any (doc_id, text, lang, source) corpus,
    * exposed for direct testing (the heavy-duplication recall case can't
    * be staged in the shared planted corpus). Returns the un-pinned result
    * plus the persisted intermediates the caller must release. */
  private[graft] def ngramJaccardPairs(corpus: DataFrame): (DataFrame, Seq[DataFrame]) = {
    // same materialization boundary as dd2 (see comment there)
    val th = corpus
      .select(col("doc_id"), col("lang"), col("source"),
        tokenHashes(tokens(col("text"))).as("hs"))
      .persist()
    val bg = th.select(col("doc_id"), col("lang"), col("source"),
        explode(shingleHashes(col("hs"), 2)).as("h"))
      .distinct()
      .persist()
    val sizes = bg.groupBy(col("doc_id")).agg(count(lit(1)).as("n_bg"))
    val nblock = bg.groupBy(col("lang"), col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    // rare = bigrams allowed to vote for candidates: df*100 <= max(500, n)
    // (integer form of "df <= max(5, 1% of block)" — no float rounding)
    val rare = bg.groupBy(col("lang"), col("source"), col("h"))
      .agg(count(lit(1)).as("df"))
      .join(nblock, Seq("lang", "source"))
      .filter(col("df") * 100 <= greatest(lit(500L), col("n_docs")))
      .select(col("lang"), col("source"), col("h"))
    // MinHash recall floor: each doc's arg-min bigram under THREE
    // independent permutations is exempt from the df prune. A doc
    // duplicated k > max(5, 1%·block) times has ALL its bigrams at df ≥ k
    // — the df filter alone would prune the entire cluster into zero
    // candidate pairs (the dominant case in web-scale dedup). Copies share
    // identical bigram sets, hence identical arg-mins, so every duplicate
    // cluster still collides; near-dups collide on some min with
    // probability ≈ 1-(1-J)³. Independent permutations (true MinHash), NOT
    // one fixed hash order: under a single order, a block-common bigram
    // that happens to hash lowest is the min of EVERY doc containing it,
    // and the cbg self-join on that shared hash re-creates the block²
    // candidate blowup the df prune exists to kill. Under random-like
    // permutations a df-heavy bigram is a doc's arg-min with probability
    // ~1/|doc bigrams|, so the expected extra load stays ~3 rows/doc —
    // a recall floor, not a hard cost ceiling (pathological blocks remain
    // data-dependent; the exact-Jaccard verify keeps correctness either
    // way). Ties keep every tied bigram in both engines (no arbitrary
    // pick to diverge on).
    val pw = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val exemptPerms = TextFunctions.MinhashParams.take(3)
    val withPerms = exemptPerms.zipWithIndex.foldLeft(bg) {
      case (df, ((a, b), i)) =>
        df.withColumn(s"p$i", TextFunctions.perm(col("h"), a, b))
          .withColumn(s"m$i", min(col(s"p$i")).over(pw))
    }
    val exempt = withPerms
      .filter(exemptPerms.indices.map(i => col(s"p$i") === col(s"m$i")).reduce(_ || _))
      .select(col("doc_id"), col("lang"), col("source"), col("h"))
    val cbg = bg.join(rare, Seq("lang", "source", "h"))
      .select(col("doc_id"), col("lang"), col("source"), col("h"))
      .union(exempt).distinct()
    val cand = cbg.as("x").join(cbg.as("y"),
        col("x.lang") === col("y.lang") && col("x.source") === col("y.source") &&
          col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    // exact Jaccard on the FULL bigram sets of the surviving candidates
    val sa = bg.select(col("doc_id").as("a"), col("h"))
    val sb = bg.select(col("doc_id").as("b"), col("h"))
    val inter = cand.join(sa, "a").join(sb, Seq("b", "h"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_inter"))
    val res = inter
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n_bg", "na"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n_bg", "nb"), "b")
      .select(col("a"), col("b"), col("n_inter"),
        (col("na") + col("nb") - col("n_inter")).as("n_union"))
      .filter(col("n_inter") * 2 >= col("n_union"))
      .orderBy(col("a"), col("b"))
    (res, Seq(th, bg))
  }

  /** The dd4 exempt-channel permutations in DuckDB SQL — byte-identical
    * arithmetic to `TextFunctions.perm` (h < p, so the product stays below
    * 2^62 in both engines). */
  private val exemptPermSql: Seq[String] =
    TextFunctions.MinhashParams.take(3).zipWithIndex.map { case ((a, b), i) =>
      val p = s"(h % $MinhashPrime * $a + $b) % $MinhashPrime"
      s"$p AS p$i, MIN($p) OVER (PARTITION BY doc_id) AS m$i"
    }

  /** The verified-pair table, a standing parquet table per (session,
    * corpus) — dd4 returns it, dd6 clusters it. "Write once, read
    * everywhere": the expensive pair pipeline runs a single time per
    * session even when Verify runs dd4 and dd6 in parallel; whoever asks
    * first pays, everyone else scans parquet. */
  private def verifiedPairs(s: SparkSession, d: String): DataFrame =
    graft.Standing(s, "dd-pairs", graft.Standing.corpus(s, d, "documents")) {
      val (res, cached) = ngramJaccardPairs(planted(s, d))
      try graft.Standing.write(s, "dd-pairs")(res)
      finally cached.foreach(_.unpersist(false))
    }

  private def dd4(s: SparkSession, d: String): DataFrame =
    verifiedPairs(s, d).orderBy(col("a"), col("b"))

  /** dd4's verified-pair query WITHOUT the final ORDER BY — reused as a
    * nested CTE by dd6's cluster resolution. */
  private val pairsCoreSql =
    s"""WITH corpus AS ($PlantedSql),
       |th AS (SELECT doc_id, lang, source,
       |    list_transform(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''),
       |      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % ${MinhashPrime}) AS hs
       |  FROM corpus),
       |bg AS (SELECT DISTINCT doc_id, lang, source, ${TextFunctions.shingleHashSql("hs", 2)} AS h
       |  FROM th, unnest(range(1, len(hs))) AS t(i)),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_bg FROM bg GROUP BY doc_id),
       |nblock AS (SELECT lang, source, COUNT(DISTINCT doc_id) AS n_docs
       |  FROM bg GROUP BY lang, source),
       |rare AS (SELECT f.lang, f.source, f.h FROM
       |    (SELECT lang, source, h, COUNT(*) AS df FROM bg GROUP BY lang, source, h) f
       |  JOIN nblock nb ON f.lang = nb.lang AND f.source = nb.source
       |  WHERE f.df * 100 <= GREATEST(500, nb.n_docs)),
       |exempt AS (SELECT doc_id, lang, source, h FROM (
       |    SELECT doc_id, lang, source, h, ${exemptPermSql.mkString(",\n      ")}
       |    FROM bg)
       |  WHERE ${TextFunctions.MinhashParams.take(3).indices
                   .map(i => s"p$i = m$i").mkString(" OR ")}),
       |cbg AS (SELECT bg.doc_id, bg.lang, bg.source, bg.h FROM bg
       |  JOIN rare r ON bg.lang = r.lang AND bg.source = r.source AND bg.h = r.h
       |  UNION
       |  SELECT doc_id, lang, source, h FROM exempt),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM cbg x JOIN cbg y
       |    ON x.lang = y.lang AND x.source = y.source AND x.h = y.h
       |   AND x.doc_id < y.doc_id),
       |inter AS (SELECT a, b, COUNT(*) AS n_inter
       |  FROM cand JOIN bg sa ON sa.doc_id = a JOIN bg sb ON sb.doc_id = b AND sb.h = sa.h
       |  GROUP BY a, b)
       |SELECT a, b, n_inter, za.n_bg + zb.n_bg - n_inter AS n_union
       |FROM inter JOIN sizes za ON za.doc_id = a JOIN sizes zb ON zb.doc_id = b
       |WHERE n_inter * 2 >= za.n_bg + zb.n_bg - n_inter""".stripMargin

  private val dd4Sql = s"$pairsCoreSql\nORDER BY a, b"

  // ---------------------------------------------------------------- dd6
  /** Dedup CLUSTER RESOLUTION — the step every real pipeline runs after
    * pair finding: candidate pairs form a graph; connected components are
    * the duplicate clusters; one canonical document (min doc_id) survives
    * per cluster. Without it a triangle {A,B,C} deduped pairwise can drop
    * all three, or keep two.
    *
    * Components via K rounds of min-label propagation — each round is one
    * self-contained `join + groupBy-min` over the EDGE list (candidate
    * pairs, orders of magnitude smaller than the corpus), the standard
    * cluster-scale formulation (large-star/small-star refines the same
    * idea). K is FIXED (not run-to-fixpoint) so the computation is a
    * deterministic dataflow reproducible in any engine — the oracle runs
    * the identical K rounds — and K = 3 ≥ the planted cluster diameter
    * (2: near-dup and exact copy meet through their original), with slack
    * for coincidental chains. At 100 TB, K grows like the log of the
    * largest plausible chain, still a handful of edge-set shuffles. */
  private def dd6(s: SparkSession, d: String): DataFrame = {
    val pairs0 = verifiedPairs(s, d)
    // Iteration boundary = a STORAGE materialization (write parquet, read
    // back), the same Standing boundary the document corpus uses and the
    // literal cluster architecture for iterative graph algorithms
    // (checkpoint the label table per round). Executor-cache persists are
    // NOT a lineage boundary here: each round references the previous one
    // twice (directly + through the neighbor-min), and when cache
    // substitution misses, lineage re-executes with ~3× growth per round
    // (measured 1.7 / 5 / 35 / 97 s across the 3 rounds + final read).
    // pairs0 is already parquet-backed (a standing table), so both
    // branches of the symmetric union are plain scans
    val ab = pairs0.select(col("a"), col("b"))
    val edges = ab.unionByName(ab.select(col("b").as("a"), col("a").as("b")))
    var lbl = graft.Standing.write(s, "dd6-seed")(
      edges.select(col("a").as("id")).distinct()
        .select(col("id"), col("id").as("lbl")))
    (1 to 3).foreach { i =>
      val nbrMin = edges.join(lbl.select(col("id").as("b"), col("lbl").as("nlbl")), "b")
        .groupBy(col("a")).agg(min(col("nlbl")).as("nbr_lbl"))
      lbl = graft.Standing.write(s, s"dd6-round$i")(
        lbl.join(nbrMin.withColumnRenamed("a", "id"), Seq("id"), "left")
          .select(col("id"),
            least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl"))).as("lbl")))
    }
    val res = lbl.groupBy(col("lbl").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_member"))
      .orderBy(col("cluster_id"))
    graft.Eager.pin(res) // label tables are temp parquet, nothing persisted
  }

  /** The oracle runs the IDENTICAL 3 rounds (layered CTEs, no recursion),
    * so both engines compute the same deterministic dataflow. */
  private val dd6Sql = {
    // every CTE here is AS MATERIALIZED: each propagation round
    // references its predecessor TWICE (the node side and the label
    // lookup side), so an inlining planner re-expands the chain
    // exponentially — l3 re-computed the heavy pairs core ~30x, which is
    // what spilled the sf1 oracle past the disk. Materialized, each
    // stage computes once; the frames are pair/label-grain (tiny).
    def round(prev: String, out: String): String =
      s"""$out AS MATERIALIZED (
         |  SELECT n.id, LEAST(n.lbl, COALESCE(MIN(lb.lbl), n.lbl)) AS lbl
         |  FROM $prev n
         |  LEFT JOIN e ON e.a = n.id
         |  LEFT JOIN $prev lb ON lb.id = e.b
         |  GROUP BY n.id, n.lbl)""".stripMargin
    s"""WITH pairs AS MATERIALIZED ($pairsCoreSql),
       |e AS MATERIALIZED (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
       |nodes AS (SELECT DISTINCT a AS id FROM e),
       |l0 AS MATERIALIZED (SELECT id, id AS lbl FROM nodes),
       |${round("l0", "l1")},
       |${round("l1", "l2")},
       |${round("l2", "l3")}
       |SELECT lbl AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
       |  MAX(id) AS max_member
       |FROM l3 GROUP BY lbl ORDER BY cluster_id""".stripMargin
  }

  // ---------------------------------------------------------------- dd5
  /** Embedding-cosine near-dup: plant perturbed copies (v' = 1.001·v +
    * 0.0005, exact double arithmetic), prefilter with 32-plane hyperplane
    * LSH in 2×16-bit bands, exact cosine ≥ 0.999 on candidates only. */
  // dd5 uses a 32-bit signature in 2×16-bit bands (vs s2's 16-bit ANN
  // tradeoff): near-dup at cos ≥ 0.999 keeps ~full recall at 16-bit
  // bands (P[band equal] ≈ (1-θ/π)^16 ≈ 93% at θ=0.014; two independent
  // bands → ≥ 99.5% candidate recall), while buckets per band go 16 →
  // 65536, shrinking candidate pairs ~4000× — the sf1 scale run measured
  // the original 4×4-bit banding at 66× wall for 10× data (pairs ∝
  // n²/8). Sizing rule at 100 TB: band width ≳ log2(shard vector count)
  // so bucket occupancy stays O(1); both engines derive the signature
  // from the same LCG weights, so the oracle replays any width.
  private def dd5(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.ensure(s)
    import graft.functions.GraftFunctions.vecDot
    val base = Tables(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pert = base.filter(col("vec_id") % 11 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("v"), x => x * 1.001 + 0.0005).as("v"))
    val vecs = base.unionByName(pert)
      .withColumn("nrm", sqrt(vecDot(col("v"), col("v"))))
    // standing parquet LSH-signature table (see the standing-index note)
    val withSig = standing(s, d, "dd5sig")(
      vecs.withColumn("sig", Similarity.lshSig(col("v"), planes = 32)))
    // Narrow band rows (ids only): the ~|collisions| candidate pairs are
    // deduped BEFORE the 64-double vectors are joined back in — the wide
    // arrays never ride the quadratic part of the shuffle.
    val bands = (0 until 2).map { bnd =>
      withSig.select(col("vec_id"), lit(bnd).as("band"),
        (shiftright(col("sig"), bnd * 16) % 65536).as("bv"))
    }.reduce(_ unionAll _)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .distinct()
    val va = withSig.select(col("vec_id").as("a"), col("v").as("va"), col("nrm").as("na"))
    val vb = withSig.select(col("vec_id").as("b"), col("v").as("vb"), col("nrm").as("nb"))
    val res = cand.join(va, "a").join(vb, "b")
      .select(col("a"), col("b"),
        (vecDot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= 0.999)
      .orderBy(col("a"), col("b"))
    graft.Eager.pin(res)
  }

  private val dd5Sql =
    s"""WITH base AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |vecs AS (
       |  SELECT vec_id, v,
       |    sqrt(${Similarity.dotSql("v", "v")}) AS nrm
       |  FROM (
       |    SELECT vec_id, v FROM base
       |    UNION ALL
       |    SELECT vec_id + 1000000, list_transform(v, x -> x * 1.001 + 0.0005)
       |    FROM base WHERE vec_id % 11 = 0)),
       |sig AS (SELECT vec_id, nrm, ${Similarity.lshSigSql("v", planes = 32)} AS sig FROM vecs),
       |bands AS (
       |  ${(0 until 2).map(b => s"SELECT vec_id, $b AS band, (sig >> ${b * 16}) % 65536 AS bv FROM sig").mkString("\n  UNION ALL ")}),
       |-- pairs carry IDS ONLY through the band join/dedup (carrying the
       |-- vector lists through the pre-aggregation join OOM-killed the
       |-- sf1 oracle run: bucket collisions fan the lists out ~100x
       |-- before the GROUP BY); the vectors join back once per DISTINCT
       |-- candidate pair — the engine-side plan has the same shape
       |cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bv = y.bv AND x.vec_id < y.vec_id)
       |SELECT a, b, ${Similarity.dotSql("xa.v", "xb.v")} / (xa.nrm * xb.nrm) AS cos
       |FROM cand
       |JOIN vecs xa ON xa.vec_id = cand.a
       |JOIN vecs xb ON xb.vec_id = cand.b
       |WHERE ${Similarity.dotSql("xa.v", "xb.v")} / (xa.nrm * xb.nrm) >= 0.999
       |ORDER BY a, b""".stripMargin

  // ---------------------------------------------------------------- dd8
  /** SemDeDup-style semantic dedup (Abbas et al., arXiv:2303.09540,
    * public): k-means-cluster the embedding space, then drop
    * near-identical vectors WITHIN each cluster only — the third
    * candidate-generation strategy beside dd5's hyperplane LSH and dd4's
    * attribute blocking, and the one real curation pipelines use when
    * "duplicate" means semantic (same content re-encoded) rather than
    * literal.
    *
    * EXACTNESS: the whole pipeline runs in INTEGER arithmetic so the
    * DuckDB oracle reproduces every DISCRETE cluster assignment
    * bit-for-bit — a doubles k-means would let a last-bit difference in
    * partial-sum order flip a boundary vector's cluster and cascade.
    * Embeddings quantize ONCE (`round(e · 2^12)`, identical
    * ties-away-from-zero in both engines); distances are integer squared
    * L2 (monotone in cosine on these unit-norm vectors); centroid means
    * use `(s - s % n) div n` — exact on both engines regardless of sign
    * convention because `s - s % n` is exactly divisible.
    *
    * Scale shape (r19 — centroids are FRAMES, never driver arrays): the
    * seed set, every Lloyd mean table and the final centroids live in
    * write-once parquet (k = ⌈n/70⌉ rows — Θ(n), which is exactly why
    * they must NOT be driver state; the r18 verdict measured the old
    * collect()-per-pass shape at tens of GB of driver heap at 10^10
    * vectors). Driver state is now two scalars (n, k). Each Lloyd round
    * is ONE narrow posexplode + hash aggregation (map-side combinable on
    * (cluster, i)) reassembled by array_sort(collect_list); assignment
    * joins the centroid frame (broadcast while k ≤ SemBcastMaxK,
    * distributed cartesian beyond — the honest cost of the EXACT
    * contract; dd15 is the probe-bounded scale path) + a per-vector
    * min(struct(d², cid)) argmin — one codegen'd distance evaluation,
    * constant plan size (a k-unrolled literal expression multiplies the
    * codegen tree by k·dim and went 54× at 10× data in the sf1 run). The
    * final within-cluster pair join is the SemDeDup contract: O(Σ cᵢ²)
    * with k DERIVED from the corpus so cᵢ stays bounded: k = ⌈n / 70⌉
    * (target cluster size SemTgt = 70 — one COUNT of the vector table,
    * the engine's bounded-driver-state class; the sf0.01 fixture lands on
    * k = 8, and the oracle replays the identical integer formula, so the
    * pinning is the formula, not a constant). At 100× the cluster count
    * grows 100× while the expected cᵢ stays ~70; AQE splits any skewed
    * cluster key.
    *
    * Each Lloyd round lands in write-once parquet, so lineage resets per
    * round (the dd6 iterative-loop lesson) at a storage boundary instead
    * of the old driver round-trip. Output: every vector's cluster plus
    * `dropped_by` — the
    * smallest same-cluster vec_id within τ, NULL for survivors (the
    * keep-one-per-duplicate-group decision, derivable without connected
    * components because τ-balls around the planted dups are disjoint). */
  private val SemScale = 4096L // 2^12: |e| ≤ 0.53 → |q| ≤ ~2200, d² ≤ ~1.2e9
  /** dd8 scale-shape disposition (r17 audit; r18 update): k = ⌈n/SemTgt⌉
    * scales WITH the corpus, so average cluster size stays ~SemTgt and
    * the within-cluster pair join is LINEAR in n (k clusters × ~SemTgt²/2
    * pairs ∝ n). The one superlinear term is the exact Lloyd argmin
    * (n·k = n²/SemTgt distance evals per pass, 3 passes) — intrinsic to
    * the EXACT-assignment contract the oracle replays. The 100 TB path
    * is NO LONGER prose: [[dd15]] ships the IVF-approximate assignment
    * (two-level coarse-quantizer probe, n·(√k + k/√k) per pass) as its
    * own gated operator with its own oracle — dd8 stays the
    * exact-contract gate, dd15 the scale-contract gate. */
  private val SemTgt = 70L // target cluster size: k = ceil(n / SemTgt)
  private val SemTau = 100L // planted ±1 perturbation gives d² ≤ 64 < 100

  /** Shared dd8/dd15 quantized + planted vector table (standing
    * write-once parquet): embeddings quantized ONCE (`round(e·2^12)`,
    * identical ties-away-from-zero in both engines), near-dups planted
    * in the QUANTIZED domain (component ±1 from the portable hash of
    * (ORIGINAL id, index) — hash ≥ 0 so % 3 agrees between engines;
    * total planted d² ≤ dim < τ). The id shift happens in a SECOND
    * select: aliasing it beside the transform would make the lambda's
    * vec_id resolve to the SHIFTED lateral alias (Spark 4 lateral column
    * aliases win over the child's column) while the oracle's unaliased
    * projection keeps the source column. Downstream actions (count,
    * seeds, Lloyd rounds, final assignment + pair join) each re-scan a
    * real columnar table. */
  private def semVecs(s: SparkSession, d: String): DataFrame = {
    val base = Tables(s, d, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * SemScale).cast("long")).as("q"))
    val pert = base.filter(col("vec_id") % 9 === 0)
      .select(col("vec_id"),
        transform(col("q"), (x, i) => x + stableHash32(concat(
          col("vec_id").cast("string"), lit(":"), i.cast("string"))) % 3 - 1).as("q"))
      .select((col("vec_id") + 1000000L).as("vec_id"), col("q"))
    standing(s, d, "qvecs")(base.unionByName(pert))
  }

  /** Deterministic seed CENTROID FRAME shared by dd8/dd15 (r19 — the
    * driver-state fix): `cid = rank − 1` over (salted hash, vec_id), the
    * k smallest (the d80 sampling contract, identical ordering to the
    * oracle's `ROW_NUMBER() OVER (ORDER BY hash, vec_id) <= k`). The
    * former shape `.orderBy(...).limit(k).collect()` pulled k = ⌈n/70⌉
    * rows — a Θ(n) driver array, the registry's last 100× scale-killer
    * (r18 verdict). Now the global rank is computed DISTRIBUTED with a
    * bucketed two-level ranking: bucket on the hash's high 10 bits
    * (buckets are ordered, disjoint ranges of the (hash, id) key space),
    * rank within bucket, add the cumulative count of earlier buckets.
    * The offsets frame is ≤ 1024 rows (the only windowed-without-
    * partition frame, bounded by construction); buckets whose offset is
    * already ≥ k can hold no seed and are filtered BEFORE the per-bucket
    * window, so the windowed mass is ~k rows ≈ n/70 split over up to
    * 1024 ordered buckets, never one task holding the corpus. Driver
    * state: none (k itself is a scalar from one count). */
  private def semSeedFrame(vecs: DataFrame, k: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withSh = vecs.select(col("vec_id"), col("q"),
      stableHash32(concat(col("vec_id").cast("string"), lit(":seed"))).as("_sh"))
      // _sh ∈ [0, 2^32): high 10 bits → 1024 range-ordered buckets
      .withColumn("_b", shiftright(col("_sh"), 22))
    val offsets = withSh.groupBy(col("_b")).agg(count(lit(1)).as("_c"))
      .withColumn("_off", coalesce(
        sum(col("_c")).over(Window.orderBy(col("_b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("_off") < k) // later buckets cannot reach rank ≤ k
      .select(col("_b"), col("_off"))
    withSh.join(broadcast(offsets), "_b")
      .withColumn("_r", row_number().over(
        Window.partitionBy(col("_b")).orderBy(col("_sh").asc, col("vec_id").asc)))
      .filter(col("_off") + col("_r") <= k)
      .select((col("_off") + col("_r") - 1).as("cid"), col("q").as("cq"))
  }

  /** Attach the double-domain comparator columns to a centroid frame:
    * `cqd` (double cast) and `cn2 = |c|²`. Every component is ≤ ~2200,
    * so cn2 and any q·c are ≤ 64·2200² ≈ 3.1e8 — integer-valued doubles
    * far inside 2^53, exact in both engines (see dd8Plan's bound note). */
  private def withCentD(cents: DataFrame, id: String): DataFrame = {
    import graft.functions.GraftFunctions.vecDot
    cents.select(col("cid").as(id), col("cq").cast("array<double>").as(s"${id}_qd"))
      .withColumn(s"${id}_n2", vecDot(col(s"${id}_qd"), col(s"${id}_qd")))
  }

  /** One Lloyd update as a FRAME transform (r19): integer centroid means
    * from the given assignment; an emptied cluster keeps its previous
    * centroid (the oracle's LEFT JOIN + COALESCE, verbatim). The former
    * shape `.collect()`ed the k×dim mean table to the driver each pass —
    * Θ(n) at k = ⌈n/70⌉. Now means stay a (cluster, i)-grain aggregate
    * and reassemble into `cq` arrays with array_sort(collect_list(struct
    * (i, m))) — deterministic (i is unique per cluster), zero driver
    * state. Callers materialize each round (write-once parquet) so the
    * Lloyd chain's lineage resets per round (the dd6 iterative-loop
    * lesson) exactly as the driver round-trip used to do. */
  private def semUpdate(cents: DataFrame, assigned: DataFrame): DataFrame = {
    val means = assigned
      .select(col("cluster"), posexplode(col("q")).as(Seq("i", "v")))
      .groupBy(col("cluster"), col("i"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .select(col("cluster"), col("i"), expr("(s - (s % n)) div n").as("m"))
      .groupBy(col("cluster"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
        x => x.getField("m")).as("_new"))
    cents.join(means, cents("cid") === means("cluster"), "left")
      .select(col("cid"), coalesce(col("_new"), col("cq")).as("cq"))
  }

  /** Broadcast the k-row centroid frame only while it is broadcast-SIZED:
    * k·(dim+2)·8 B ≤ ~64 MB at this bound. Beyond it (k = ⌈n/70⌉ grows
    * with the corpus), dd8's exact all-centroids argmin degrades to a
    * distributed cartesian — the honest cost of the exact-assignment
    * contract; dd15's two-level probe is the scale path and never
    * broadcasts more than the ⌈√k⌉-row coarse set + per-cell slices. */
  private val SemBcastMaxK = 100000L

  private def dd8(s: SparkSession, d: String): DataFrame = {
    val (res, _) = dd8Plan(s, d)
    graft.Eager.pin(res)
  }

  /** Un-pinned dd8 plan + its standing vector table (a parquet read),
    * exposed for plan audits (the s2Plan pattern — the public query pins
    * the answer into a LocalRelation, leaving nothing to audit). */
  private[graft] def dd8Plan(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.ensure(s)
    import graft.functions.GraftFunctions.vecDot
    // distance evaluation rides the CODEGEN'D vec_dot expression through
    // the identity d² = |a|² + |b|² − 2a·b: every component is ≤ ~2200,
    // so |c|² and q·c are ≤ 64·2200² ≈ 3.1e8 — integer-valued doubles far
    // inside the 2^53 exact range, so the argmin and the τ filter are
    // bit-identical to the integer form the oracle computes. The
    // interpreted aggregate(zip_with(...)) form evaluated per (vector,
    // centroid) pair was the dominant sf1 cost (~170 s; higher-order
    // functions don't codegen).
    def withD(df: DataFrame): DataFrame = df
      .withColumn("qd", col("q").cast("array<double>"))
      .withColumn("n2", vecDot(col("qd"), col("qd")))
    val vecs = semVecs(s, d)
    // k from the corpus: ⌈n / SemTgt⌉ — ONE count(), the only driver
    // state the whole pipeline keeps (r19: seeds, centroids and Lloyd
    // means all stay frames; the oracle replays the same integer formula)
    val k = (vecs.count() + SemTgt - 1) / SemTgt
    /** Assignment: join the k-row centroid FRAME (broadcast while k is
      * broadcast-sized — see SemBcastMaxK) and take the deterministic
      * argmin as min(struct(d², cid)) per vector (struct ordering breaks
      * d² ties on cid — identical to the oracle's ROW_NUMBER argmin).
      * Per (vector, centroid) the comparator is cn2 − 2·q·c, which
      * orders exactly like d² within a vector (|q|² is constant there)
      * and every quantity is an integer-valued double far inside 2^53,
      * so min(struct(...)) is the oracle's (d², cid) argmin bit-for-bit.
      * A k-unrolled least() of typedLit centroids — the r12 shape — is
      * right only while k is a CONSTANT: with SemDeDup's k = ⌈n/70⌉ it
      * multiplies per-row work AND the codegen expression tree by k,
      * which the sf1 scale run measured as 54× wall at 10× data. */
    def assign(cents: DataFrame): DataFrame = {
      val cf = withCentD(cents, "cid")
      val best = withD(vecs)
        .crossJoin(if (k <= SemBcastMaxK) broadcast(cf) else cf)
        .select(col("vec_id"),
          struct((col("cid_n2") - lit(2.0) * vecDot(col("qd"), col("cid_qd")))
            .as("d2e"), col("cid")).as("sc"))
        .groupBy(col("vec_id")).agg(min(col("sc")).as("m"))
        .select(col("vec_id"), col("m.cid").as("cluster"))
      vecs.join(best, "vec_id")
    }
    // each Lloyd round lands in write-once parquet (lineage reset per
    // round — the dd6 lesson — without any driver round-trip)
    val c0 = standing(s, d, "semc0")(semSeedFrame(vecs, k))
    val c1 = standing(s, d, "dd8c1")(semUpdate(c0, assign(c0)))
    val cFinal = standing(s, d, "dd8c2")(semUpdate(c1, assign(c1)))
    // materialize the final assignment ONCE (write-once parquet, the
    // standing-index pattern): pa, pb and the survivors' projection all
    // read it, so the broadcast-argmin subplan is not triplicated through
    // the pair join (and the audited plan stays the 2 equi-joins)
    val asgMat = standing(s, d, "dd8asg")(
      assign(cFinal).select(col("vec_id"), col("cluster"), col("q")))
    val asg = withD(asgMat)
      .select(col("vec_id"), col("cluster"), col("qd"), col("n2"))
    val pa = asg.select(col("cluster"), col("vec_id").as("a"),
      col("qd").as("qa"), col("n2").as("na2"))
    val pb = asg.select(col("cluster"), col("vec_id").as("b"),
      col("qd").as("qb"), col("n2").as("nb2"))
    val drops = pa.join(pb, "cluster")
      .filter(col("a") < col("b") &&
        // exact d² via the codegen'd identity (see withD's bound note)
        col("na2") + col("nb2") - lit(2.0) * vecDot(col("qa"), col("qb"))
          <= lit(SemTau.toDouble))
      .groupBy(col("b")).agg(min(col("a")).as("dropped_by"))
    val res = asg.select(col("vec_id"), col("cluster"))
      .join(drops, col("vec_id") === col("b"), "left")
      .select(col("vec_id"), col("cluster"), col("dropped_by"))
      .orderBy(col("vec_id"))
    (res, vecs)
  }

  private val dd8Sql: String = {
    val dim = 64
    def d2(a: String, b: String) =
      s"list_sum(list_transform(list_zip($a, $b), z -> (z[1] - z[2]) * (z[1] - z[2])))"
    // every stage is AS MATERIALIZED: the Lloyd chain references each
    // assignment/centroid frame 2-3 times (asg3 three times at the end),
    // and an inlining planner re-computes the vecs×centroids argmin pass
    // per reference — the sf1 oracle hit the DuckDB memory cap that way.
    // Materialized, each pass runs once; the frames are vec/cluster-grain.
    /** One assignment pass: vecs × centroids (k rows), argmin by (d², cid). */
    def asgSql(cents: String, out: String) =
      s"""$out AS MATERIALIZED (
         |  SELECT vec_id, q, cid AS cluster FROM (
         |    SELECT v.vec_id, v.q, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${d2("v.q", "c.cq")}, c.cid) AS rn
         |    FROM vecs v CROSS JOIN $cents c) WHERE rn = 1)"""
    /** One Lloyd update from assignment `asg` over previous `prev`. */
    def centSql(asg: String, prev: String, out: String) =
      s"""${out}_m AS (
         |  SELECT cluster, i, CAST((s - (s % n)) // n AS BIGINT) AS m FROM (
         |    SELECT cluster, i, SUM(v) AS s, COUNT(*) AS n FROM (
         |      SELECT cluster, i, q[CAST(i + 1 AS INTEGER)] AS v
         |      FROM $asg, unnest(range(0, $dim)) AS t(i))
         |    GROUP BY cluster, i)),
         |${out}_l AS (
         |  SELECT cluster AS cid, list(m ORDER BY i) AS cq FROM ${out}_m GROUP BY cluster),
         |$out AS MATERIALIZED (
         |  SELECT p.cid, COALESCE(l.cq, p.cq) AS cq
         |  FROM $prev p LEFT JOIN ${out}_l l USING (cid))"""
    s"""WITH base AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * $SemScale) AS BIGINT)) AS q
       |  FROM embeddings),
       |vecs AS MATERIALIZED (
       |  SELECT vec_id, q FROM base
       |  UNION ALL
       |  SELECT vec_id + 1000000,
       |    list_transform(range(0, $dim), i -> q[CAST(i + 1 AS INTEGER)]
       |      + CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 3 - 1)
       |  FROM base WHERE vec_id % 9 = 0),
       |kk AS (SELECT CAST((COUNT(*) + ${SemTgt - 1}) // $SemTgt AS BIGINT) AS k FROM vecs),
       |c0 AS MATERIALIZED (
       |  SELECT rn - 1 AS cid, q AS cq FROM (
       |    SELECT vec_id, q, ROW_NUMBER() OVER (ORDER BY
       |      CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':seed'), 1, 8)) AS BIGINT),
       |      vec_id) AS rn
       |    FROM vecs) WHERE rn <= (SELECT k FROM kk)),
       |${asgSql("c0", "asg1")},
       |${centSql("asg1", "c0", "c1")},
       |${asgSql("c1", "asg2")},
       |${centSql("asg2", "c1", "c2")},
       |${asgSql("c2", "asg3")},
       |drops AS (
       |  SELECT y.vec_id AS b, MIN(x.vec_id) AS dropped_by
       |  FROM asg3 x JOIN asg3 y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
       |  WHERE ${d2("x.q", "y.q")} <= $SemTau
       |  GROUP BY y.vec_id)
       |SELECT a.vec_id, a.cluster, d.dropped_by
       |FROM asg3 a LEFT JOIN drops d ON a.vec_id = d.b
       |ORDER BY a.vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- dd15
  /** APPROXIMATE-assignment semantic dedup — dd8's 100 TB scale path AS
    * CODE (r18, clearing the registry's one >10× scale shape): identical
    * corpus, seeds, Lloyd-round count, τ and within-cluster drop rule,
    * but every assignment pass routes vectors through a TWO-LEVEL
    * coarse-quantizer probe (the IVF/s12 shape) instead of the exact
    * n·k argmin:
    *
    *   1. coarse set G = the first g = ⌈√k⌉ FINE centroids (current
    *      values each pass — so G is trained by the same Lloyd updates);
    *   2. every fine centroid maps to its nearest coarse cell
    *      (k·g argmin — r19: a distributed scored pass over the centroid
    *      FRAME; no centroid array ever touches the driver);
    *   3. every VECTOR routes to its nearest coarse cell (n·g evals,
    *      one broadcast scored pass) and then argmins over ONLY that
    *      cell's fine centroids (n·(k/g) expected — a broadcast
    *      equi-join on the cell id, never n·k).
    *
    * Per pass: n·(g + k/g) ≈ 2n√k distance evals vs dd8's n·k — at
    * k = ⌈n/70⌉ that turns the one quadratic term (n²/70) into
    * n^1.5/√70, which benches linear-ish at any realizable scale. The
    * probed cell is never empty: coarse cell j contains fine centroid j
    * by construction (d² = 0 argmin), and when two coarse centroids tie
    * as duplicates BOTH the router and the map break ties to the
    * smaller id, so only the canonical duplicate is ever probed.
    *
    * This is a DIFFERENT clustering contract from dd8 (a vector near a
    * cell boundary can route to a coarse cell whose fine argmin is not
    * the global argmin) — exactly why it is its own gate with its own
    * oracle replaying the approximate contract bit-for-bit (the s2/s3
    * precedent), while dd8 keeps the exact-assignment contract. All
    * arithmetic stays integer (same SemScale quantization, d² via the
    * codegen'd identity — see dd8Plan's bound note), so every discrete
    * choice replays exactly in DuckDB. */
  private def dd15(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.ensure(s)
    import graft.functions.GraftFunctions.vecDot
    def withD(df: DataFrame): DataFrame = df
      .withColumn("qd", col("q").cast("array<double>"))
      .withColumn("n2", vecDot(col("qd"), col("qd")))
    val vecs = semVecs(s, d)
    val k = (vecs.count() + SemTgt - 1) / SemTgt
    val g = math.ceil(math.sqrt(k.toDouble)).toLong
    /** One two-level assignment pass (the contract above), every stage a
      * FRAME (r19 — no centroid array ever touches the driver; driver
      * state is the scalars n, k, g). The comparator rides cn2 − 2·q·c
      * like dd8's: within a vector (or within a fine centroid, for the
      * fine→coarse map) it orders exactly like d², and every quantity is
      * an integer-valued double far inside 2^53, so min(struct(...))
      * replays the oracle's (d², id) argmin. The coarse set is g = ⌈√k⌉
      * rows — the ONLY broadcast that grows with the corpus, at √(n/70)
      * (≈ 6 MB of doubles at 10^10 vectors). The fine→coarse map is a
      * distributed k·g scored pass (was a driver-side loop); the fine
      * argmin is an equi-join on the routed cell id, never n·k. */
    def assign2(cents: DataFrame): DataFrame = {
      val gf = withCentD(cents.filter(col("cid") < g), "gid")
      val cd = withCentD(cents, "cid")
      // fine → coarse map (k·g evals, distributed): ties break to the
      // smaller gid via the struct argmin, matching the router below;
      // the map rejoins cd on cid (k-row equi-join) to carry each fine
      // centroid's vector + |c|² into the per-cell argmin below
      val cmap = cd.crossJoin(broadcast(gf))
        .select(col("cid"),
          struct((col("gid_n2") - lit(2.0) * vecDot(col("cid_qd"), col("gid_qd")))
            .as("d2e"), col("gid")).as("sc"))
        .groupBy(col("cid")).agg(min(col("sc")).as("m"))
        .select(col("cid"), col("m.gid").as("gid"))
        .join(cd, "cid")
      val vd = withD(vecs)
      val route = vd.crossJoin(broadcast(gf))
        .select(col("vec_id"),
          struct((col("gid_n2") - lit(2.0) * vecDot(col("qd"), col("gid_qd")))
            .as("d2e"), col("gid")).as("sc"))
        .groupBy(col("vec_id")).agg(min(col("sc")).as("m"))
        .select(col("vec_id"), col("m.gid").as("gid"))
      // fine argmin within the routed cell: an equi-join on gid (AQE
      // broadcasts the ~k/g-per-cell slice while it is small; at scale
      // it is a shuffle co-partitioned on the cell id)
      val best = vd.join(route, "vec_id")
        .join(cmap, "gid")
        .select(col("vec_id"),
          struct((col("cid_n2") - lit(2.0) * vecDot(col("qd"), col("cid_qd")))
            .as("d2e"), col("cid")).as("sc"))
        .groupBy(col("vec_id")).agg(min(col("sc")).as("m"))
        .select(col("vec_id"), col("m.cid").as("cluster"))
      vecs.join(best, "vec_id")
    }
    // Lloyd chain: seed frame + two semUpdate rounds, each landing in
    // write-once parquet (lineage reset per round — the dd6 lesson)
    val c0 = standing(s, d, "semc0")(semSeedFrame(vecs, k))
    val c1 = standing(s, d, "dd15c1")(semUpdate(c0, assign2(c0)))
    val cFinal = standing(s, d, "dd15c2")(semUpdate(c1, assign2(c1)))
    // materialize the final assignment once (the dd8 pattern): the pair
    // join reads it twice and the survivors' projection a third time
    val asgMat = standing(s, d, "dd15asg")(
      assign2(cFinal).select(col("vec_id"), col("cluster"), col("q")))
    val asg = withD(asgMat)
      .select(col("vec_id"), col("cluster"), col("qd"), col("n2"))
    val pa = asg.select(col("cluster"), col("vec_id").as("a"),
      col("qd").as("qa"), col("n2").as("na2"))
    val pb = asg.select(col("cluster"), col("vec_id").as("b"),
      col("qd").as("qb"), col("n2").as("nb2"))
    val drops = pa.join(pb, "cluster")
      .filter(col("a") < col("b") &&
        col("na2") + col("nb2") - lit(2.0) * vecDot(col("qa"), col("qb"))
          <= lit(SemTau.toDouble))
      .groupBy(col("b")).agg(min(col("a")).as("dropped_by"))
    val res = asg.select(col("vec_id"), col("cluster"))
      .join(drops, col("vec_id") === col("b"), "left")
      .select(col("vec_id"), col("cluster"), col("dropped_by"))
      .orderBy(col("vec_id"))
    graft.Eager.pin(res)
  }

  private val dd15Sql: String = {
    val dim = 64
    def d2(a: String, b: String) =
      s"list_sum(list_transform(list_zip($a, $b), z -> (z[1] - z[2]) * (z[1] - z[2])))"
    /** One TWO-LEVEL assignment pass: coarse set = first g fine
      * centroids; fine→coarse map (k·g); vector routing (n·g); fine
      * argmin within the routed cell (n·k/g). Every frame MATERIALIZED —
      * the dd8 lesson: an inlining planner re-computes scored passes per
      * reference. */
    def asg2Sql(cents: String, out: String) =
      s"""${out}_gs AS MATERIALIZED (
         |  SELECT cid AS gid, cq AS gq FROM $cents
         |  WHERE cid < (SELECT g FROM gg)),
         |${out}_cm AS MATERIALIZED (
         |  SELECT cid, gid FROM (
         |    SELECT c.cid, gsel.gid,
         |      ROW_NUMBER() OVER (PARTITION BY c.cid
         |        ORDER BY ${d2("c.cq", "gsel.gq")}, gsel.gid) AS rn
         |    FROM $cents c CROSS JOIN ${out}_gs gsel) WHERE rn = 1),
         |${out}_rt AS MATERIALIZED (
         |  SELECT vec_id, gid FROM (
         |    SELECT v.vec_id, gsel.gid,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${d2("v.q", "gsel.gq")}, gsel.gid) AS rn
         |    FROM vecs v CROSS JOIN ${out}_gs gsel) WHERE rn = 1),
         |$out AS MATERIALIZED (
         |  SELECT vec_id, q, cid AS cluster FROM (
         |    SELECT v.vec_id, v.q, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${d2("v.q", "c.cq")}, c.cid) AS rn
         |    FROM vecs v
         |    JOIN ${out}_rt r USING (vec_id)
         |    JOIN ${out}_cm m ON m.gid = r.gid
         |    JOIN $cents c ON c.cid = m.cid) WHERE rn = 1)"""
    /** Lloyd update — dd8Sql's centSql verbatim. */
    def centSql(asg: String, prev: String, out: String) =
      s"""${out}_m AS (
         |  SELECT cluster, i, CAST((s - (s % n)) // n AS BIGINT) AS m FROM (
         |    SELECT cluster, i, SUM(v) AS s, COUNT(*) AS n FROM (
         |      SELECT cluster, i, q[CAST(i + 1 AS INTEGER)] AS v
         |      FROM $asg, unnest(range(0, $dim)) AS t(i))
         |    GROUP BY cluster, i)),
         |${out}_l AS (
         |  SELECT cluster AS cid, list(m ORDER BY i) AS cq FROM ${out}_m GROUP BY cluster),
         |$out AS MATERIALIZED (
         |  SELECT p.cid, COALESCE(l.cq, p.cq) AS cq
         |  FROM $prev p LEFT JOIN ${out}_l l USING (cid))"""
    s"""WITH base AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * $SemScale) AS BIGINT)) AS q
       |  FROM embeddings),
       |vecs AS MATERIALIZED (
       |  SELECT vec_id, q FROM base
       |  UNION ALL
       |  SELECT vec_id + 1000000,
       |    list_transform(range(0, $dim), i -> q[CAST(i + 1 AS INTEGER)]
       |      + CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 3 - 1)
       |  FROM base WHERE vec_id % 9 = 0),
       |kk AS (SELECT CAST((COUNT(*) + ${SemTgt - 1}) // $SemTgt AS BIGINT) AS k FROM vecs),
       |gg AS (SELECT CAST(ceil(sqrt(CAST(k AS DOUBLE))) AS BIGINT) AS g FROM kk),
       |c0 AS MATERIALIZED (
       |  SELECT rn - 1 AS cid, q AS cq FROM (
       |    SELECT vec_id, q, ROW_NUMBER() OVER (ORDER BY
       |      CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':seed'), 1, 8)) AS BIGINT),
       |      vec_id) AS rn
       |    FROM vecs) WHERE rn <= (SELECT k FROM kk)),
       |${asg2Sql("c0", "asg1")},
       |${centSql("asg1", "c0", "c1")},
       |${asg2Sql("c1", "asg2")},
       |${centSql("asg2", "c1", "c2")},
       |${asg2Sql("c2", "asg3")},
       |drops AS (
       |  SELECT y.vec_id AS b, MIN(x.vec_id) AS dropped_by
       |  FROM asg3 x JOIN asg3 y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
       |  WHERE ${d2("x.q", "y.q")} <= $SemTau
       |  GROUP BY y.vec_id)
       |SELECT a.vec_id, a.cluster, d.dropped_by
       |FROM asg3 a LEFT JOIN drops d ON a.vec_id = d.b
       |ORDER BY a.vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- registry

  // ---------------------------------------------------------------- dd7
  /** INCREMENTAL dedup — the production shape: a new batch (the planted
    * ids ≥ 1e6) deduplicated AGAINST the existing corpus without ever
    * re-comparing the corpus to itself. Layer 1: exact md5 equi-join
    * batch→old. Layer 2: SimHash band join RESTRICTED to old×batch (the
    * band predicate carries `x < 1e6 <= y`, so candidate volume scales
    * with the batch, not the lake). Emits the per-batch-doc ingest
    * decision: drop_exact / drop_near / keep.
    *
    * At 100 TB the old side's signatures are a precomputed index read
    * from storage — which is LITERALLY what runs here: both sides read
    * the standing parquet signature table (matSimhashSig, shared with
    * dd3), so the query's corpus-grain work is two narrow scans. */
  private def dd7(s: SparkSession, d: String): DataFrame = {
    val Boundary = 1000000L
    val corpus = planted(s, d)
    // the standing signature index (matSimhashSig — the SAME parquet
    // table dd3 reads; one sketch pass serves the whole family): at
    // 100 TB the old side IS this table, read with pushdown, and the
    // batch's signatures are appended to it after admission
    val sig = matSimhashSig(s, d)
    val bands = (0 until 6).map { bnd =>
      sig.select(col("doc_id"), col("simhash"), lit(bnd).as("band"),
        (shiftright(col("simhash"), bnd * 10) % 1024).as("bv"))
    }.reduce(_ unionAll _)
    val nearAgg = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < Boundary && col("y.doc_id") >= Boundary)
      .select(col("x.doc_id").as("old_id"), col("y.doc_id").as("batch_id"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      // filter BEFORE the dedup (r19, the dd3 rule): only near-dups
      // reach the distinct's shuffle, not every band-bucket collision
      .filter(col("hamming") <= 5)
      .distinct()
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_near"), min(col("old_id")).as("near_src"))
    val hashed = corpus.select(col("doc_id"), md5(col("text")).as("h"))
    val exactAgg = hashed.filter(col("doc_id") >= Boundary).as("b")
      .join(hashed.filter(col("doc_id") < Boundary).as("o"), col("b.h") === col("o.h"))
      .select(col("b.doc_id").as("batch_id"), col("o.doc_id").as("old_id"))
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_exact"), min(col("old_id")).as("exact_src"))
    val res = corpus.filter(col("doc_id") >= Boundary)
      .select(col("doc_id").as("batch_id"))
      .join(exactAgg, Seq("batch_id"), "left")
      .join(nearAgg, Seq("batch_id"), "left")
      .select(col("batch_id"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"), col("exact_src"),
        coalesce(col("n_near"), lit(0L)).as("n_near"), col("near_src"),
        when(coalesce(col("n_exact"), lit(0L)) > 0, "drop_exact")
          .when(coalesce(col("n_near"), lit(0L)) > 0, "drop_near")
          .otherwise("keep").as("verdict"))
      .orderBy(col("batch_id"))
    graft.Eager.pin(res)
  }

  private val dd7Sql =
    s"""WITH corpus AS ($PlantedSql),
       |th AS (SELECT DISTINCT doc_id,
       |    CAST(('0x' || substr(md5(bg), 1, 15)) AS BIGINT) AS h
       |  FROM (SELECT doc_id,
       |          toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i AS INTEGER) + 1] AS bg
       |        FROM (SELECT doc_id,
       |                list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
       |              FROM corpus),
       |        unnest(range(1, len(toks))) AS t(i))),
       |sums AS (SELECT doc_id,
       |    $simTermsSql
       |  FROM th GROUP BY doc_id),
       |sig AS (SELECT doc_id, $simValSql AS simhash FROM sums),
       |bands AS (
       |  $simBandsSql),
       |near AS (
       |  SELECT batch_id, CAST(COUNT(*) AS BIGINT) AS n_near, MIN(old_id) AS near_src
       |  FROM (SELECT DISTINCT x.doc_id AS old_id, y.doc_id AS batch_id,
       |          bit_count(xor(x.simhash, y.simhash)) AS hamming
       |        FROM bands x JOIN bands y
       |          ON x.band = y.band AND x.bv = y.bv
       |         AND x.doc_id < 1000000 AND y.doc_id >= 1000000)
       |  WHERE hamming <= 5 GROUP BY batch_id),
       |ex AS (
       |  SELECT b.doc_id AS batch_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
       |    MIN(o.doc_id) AS exact_src
       |  FROM (SELECT doc_id, md5(text) AS h FROM corpus WHERE doc_id >= 1000000) b
       |  JOIN (SELECT doc_id, md5(text) AS h FROM corpus WHERE doc_id < 1000000) o USING (h)
       |  GROUP BY b.doc_id)
       |SELECT batch_id,
       |  COALESCE(n_exact, 0) AS n_exact, exact_src,
       |  COALESCE(n_near, 0) AS n_near, near_src,
       |  CASE WHEN COALESCE(n_exact, 0) > 0 THEN 'drop_exact'
       |       WHEN COALESCE(n_near, 0) > 0 THEN 'drop_near'
       |       ELSE 'keep' END AS verdict
       |FROM (SELECT doc_id AS batch_id FROM corpus WHERE doc_id >= 1000000)
       |LEFT JOIN ex USING (batch_id) LEFT JOIN near USING (batch_id)
       |ORDER BY batch_id""".stripMargin

  // ---------------------------------------------------------------- dd9
  /** Cross-SOURCE corpus overlap matrix — "how much does dataset A
    * duplicate dataset B": for every source pair, the exact shingle-set
    * Jaccard (parts-per-million) beside its union-MinHash estimate. The
    * estimate is the 100 TB path: one distinct-(source, shingle) pass,
    * one 12-permutation min-aggregation to a |sources|-row signature
    * table, pairwise agreement on that TINY table — corpus-sized work
    * ends at the signature build, so a 1000-source lake costs the same
    * two shuffles as 20 sources. The exact columns are the trust metric
    * (the s4 pattern): one equi-join on the shingle hash — never a
    * cartesian — bounded by shingles shared across sources. Zero-overlap
    * pairs stay present (LEFT join, zero-filled), est_ppm quantizes to
    * twelfths (k = 12 permutations). */
  private def dd9(s: SparkSession, d: String): DataFrame = {
    // standing-index frames (see the section note): source-grain shingle
    // sets, written once — the per-source signature table a lake keeps
    val th = standing(s, d, "dd9th")(Tables(s, d, "documents")
      .select(col("source"), tokenHashes(tokens(col("text"))).as("hs")))
    val sh = standing(s, d, "dd9sh")(
      th.select(col("source"), explode(shingleHashes(col("hs"), 3)).as("h"))
        .distinct())
    val mhCols = MinhashParams.zipWithIndex.map { case ((a, b), i) =>
      min(perm(col("h"), a, b)).as(s"mh$i") }
    val sig = sh.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_sh"), mhCols: _*)
    def side(p: String) = sig.columns.foldLeft(sig)((t, c) => t.withColumnRenamed(c, s"$p$c"))
    val pairs = side("a_").join(side("b_"), col("a_source") < col("b_source"))
    val agree = (0 until MinhashParams.size)
      .map(i => when(col(s"a_mh$i") === col(s"b_mh$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val inter = sh.as("x").join(sh.as("y"),
        col("x.h") === col("y.h") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("a"), col("y.source").as("b"))
      .agg(count(lit(1)).cast("long").as("n_inter"))
    val res = pairs
      .select(col("a_source").as("a"), col("b_source").as("b"),
        col("a_n_sh").as("n_a"), col("b_n_sh").as("n_b"), agree.as("n_agree"))
      .join(inter, Seq("a", "b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
      .withColumn("jac_ppm", expr("n_inter * 1000000L DIV n_union"))
      .withColumn("est_ppm", expr(s"n_agree * 1000000L DIV ${MinhashParams.size}"))
      .select("a", "b", "n_a", "n_b", "n_inter", "n_union", "jac_ppm", "n_agree", "est_ppm")
      .orderBy(col("a"), col("b"))
    graft.Eager.pin(res)
  }

  private val dd9Sql =
    s"""WITH th AS (SELECT source,
       |    list_transform(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''),
       |      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % ${MinhashPrime}) AS hs
       |  FROM documents),
       |sh AS (SELECT DISTINCT source, ${TextFunctions.shingleHashSql("hs", 3)} AS h
       |  FROM th, unnest(range(1, len(hs) - 1)) AS t(i)),
       |sig AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh,
       |    $mhTermsSql
       |  FROM sh GROUP BY source),
       |pairs AS (SELECT x.source AS a, y.source AS b, x.n_sh AS n_a, y.n_sh AS n_b,
       |    CAST(${(0 until 12).map(i =>
                  s"CASE WHEN x.mh$i = y.mh$i THEN 1 ELSE 0 END").mkString(" + ")}
       |      AS BIGINT) AS n_agree
       |  FROM sig x JOIN sig y ON x.source < y.source),
       |inter AS (SELECT x.source AS a, y.source AS b, CAST(COUNT(*) AS BIGINT) AS n_inter
       |  FROM sh x JOIN sh y ON x.h = y.h AND x.source < y.source
       |  GROUP BY 1, 2)
       |SELECT a, b, n_a, n_b, COALESCE(n_inter, 0) AS n_inter,
       |  n_a + n_b - COALESCE(n_inter, 0) AS n_union,
       |  COALESCE(n_inter, 0) * 1000000 // (n_a + n_b - COALESCE(n_inter, 0)) AS jac_ppm,
       |  n_agree, n_agree * 1000000 // 12 AS est_ppm
       |FROM pairs LEFT JOIN inter USING (a, b)
       |ORDER BY a, b""".stripMargin

  // ---------------------------------------------------------------- dd10
  /** PARTIAL-duplication (containment) detection — the dedup class the
    * whole-document pipelines (dd1-dd4) miss: two documents sharing a
    * copy-pasted CHUNK while differing overall. Reuses t4's winnowing
    * fingerprints (Schleimer et al.: any shared substring ≥ k+w-1 chars
    * GUARANTEES a shared fingerprint — the recall floor MinHash lacks
    * for containment), then an inverted-index join ON the fingerprint:
    *
    *   fingerprints → document frequency → drop fps in > 20 docs
    *   (boilerplate — the fanout cap that bounds pairs per fp at C(20,2))
    *   → self-join per fp → pair shared-count ≥ 8 → containment score
    *   shared / min(|fp_a|, |fp_b|).
    *
    * 100 TB shape: every join keys on fp or doc_id (hash-partitioned,
    * co-located after one shuffle each); candidate pairs ∝ shared-chunk
    * mass, never O(n²); no broadcast of anything corpus-sized. */
  private def dd10(s: SparkSession, d: String): DataFrame = {
    // r19 (same rewrite as t4): the winnow never leaves the per-doc gram
    // array — fp[p] = min(h[p..p+3]) by transform, per-doc distinct by
    // array_distinct — so the standing fps table is ONE scan + explode
    // with no char-grain window sort and no distinct shuffle. Docs
    // shorter than 11 chars have no full window (zero rows before too).
    val n = col("n_chars").cast("int")
    val hs = transform(
      sequence(lit(1), greatest(n - 7, lit(0))),
      i => stableHash32(col("text").substr(i, lit(8))))
    // gram-hash array LET-BOUND as a lambda variable (t4's rule): a
    // projected column would be CollapseProject-inlined into all four
    // element_at references — O(n²) hashing per doc
    def winnow(h: Column): Column = array_distinct(transform(
      sequence(lit(1), n - 10), // full windows only: pos ∈ [1, n-10]
      p => least(element_at(h, p), element_at(h, p + 1),
        element_at(h, p + 2), element_at(h, p + 3))))
    val fpArr = flatten(transform(array(hs), h => winnow(h)))
    // standing-index frame: the winnowing fingerprint table, written once
    val fps = standing(s, d, "dd10fps")(Tables(s, d, "documents")
      .filter(col("n_chars") >= 11)
      .select(col("doc_id"), fpArr.as("fps"))
      .select(col("doc_id"), explode(col("fps")).as("fp")))
    val keep = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= 20).select(col("fp"))
    val pf = fps.join(keep, "fp")
    val pairs = pf.as("p1").join(pf.as("p2"), Seq("fp"))
      .filter(col("p1.doc_id") < col("p2.doc_id"))
      .groupBy(col("p1.doc_id").as("a"), col("p2.doc_id").as("b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 8)
    val cnt = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val res = pairs
      .join(cnt.withColumnRenamed("doc_id", "a").withColumnRenamed("n_fp", "n_a"), "a")
      .join(cnt.withColumnRenamed("doc_id", "b").withColumnRenamed("n_fp", "n_b"), "b")
      .select(col("a"), col("b"), col("shared"),
        (col("shared").cast("double") / least(col("n_a"), col("n_b"))).as("containment"))
      .orderBy(col("shared").desc, col("a"), col("b"))
    graft.Eager.pin(res)
  }

  private val dd10Sql =
    """WITH g AS (
      |  SELECT doc_id, n_chars, CAST(i AS INTEGER) AS pos,
      |    CAST(('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 8)), 1, 8)) AS BIGINT) AS h
      |  FROM documents, unnest(range(1, n_chars - 6)) AS t(i)),
      |wmin AS (
      |  SELECT doc_id, pos, n_chars,
      |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
      |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |  FROM g),
      |fps AS (SELECT DISTINCT doc_id, fp FROM wmin WHERE pos <= n_chars - 7 - 3),
      |keep AS (SELECT fp FROM (SELECT fp, COUNT(*) AS df FROM fps GROUP BY fp)
      |         WHERE df BETWEEN 2 AND 20),
      |pf AS (SELECT f.doc_id, f.fp FROM fps f JOIN keep USING (fp)),
      |pairs AS (
      |  SELECT p1.doc_id AS a, p2.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS shared
      |  FROM pf p1 JOIN pf p2 USING (fp) WHERE p1.doc_id < p2.doc_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 8),
      |cnt AS (SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY doc_id)
      |SELECT a, b, shared,
      |  CAST(shared AS DOUBLE) / least(ca.n_fp, cb.n_fp) AS containment
      |FROM pairs JOIN cnt ca ON ca.doc_id = a JOIN cnt cb ON cb.doc_id = b
      |ORDER BY shared DESC, a, b""".stripMargin

  // ---------------------------------------------------------------- dd11
  /** Paragraph-grain dedup with containment ATTRIBUTION — dd10 answers
    * "how much of B is inside A"; this answers "WHICH paragraph of B is
    * WHICH paragraph of A": split every document into paragraphs, MinHash
    * at paragraph grain, and emit the aligned (doc, para) ↔ (doc, para)
    * pairs. The corpus has no newline boundaries, so the paragraph
    * splitter is a fixed 25-token chunker (documented parameterization —
    * swap in a `\n\n` splitter on a real corpus, the pipeline below is
    * grain-agnostic). Planted containment: tokens 26-75 of every
    * doc_id % 17 == 0 doc re-emitted as a new doc — EXACTLY the source's
    * paragraphs 1 and 2, so the expected attribution is (src, 1) ↔
    * (franken, 0) and (src, 2) ↔ (franken, 1).
    *
    * Scale shape = dd2's at paragraph grain: shingle explode → per-PARA
    * signature (one groupBy) → band explode → bucket join; candidate
    * pairs ∝ colliding paragraphs, exact Jaccard verify on candidates
    * only — the plan never goes O(paragraphs²). */
  private def dd11(s: SparkSession, d: String): DataFrame = {
    val (res, _, _) = dd11Plan(s, d)
    graft.Eager.pin(res)
  }

  /** dd11's plan pre-`Eager.pin`, exposed so PlanAuditSpec can inspect the
    * real optimized join tree (pin collapses it to a LocalRelation). */
  private[graft] def dd11Plan(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val base = Tables(s, d, "documents").select(col("doc_id"), col("text"))
    val franken = base.filter(col("doc_id") % 17 === 0).select(
      (col("doc_id") + 3000000L).as("doc_id"),
      concat_ws(" ", slice(split(col("text"), "\\s+"), 26, 50)).as("text"))
    val corpus = base.unionByName(franken)
    val toks = split(col("text"), "\\s+")
    val paras = corpus.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), ((size(toks) - 1) / lit(25)).cast("int")),
          i => slice(toks, i * lit(25) + 1, lit(25)))))
      .withColumnRenamed("pos", "para").withColumnRenamed("col", "ptoks")
      .filter(size(col("ptoks")) >= 2)
    // standing-index frames: paragraph-grain token hashes + shingle sets
    val th = standing(s, d, "dd11th")(
      paras.select(col("doc_id"), col("para"), tokenHashes(col("ptoks")).as("hs")))
    val sh = standing(s, d, "dd11sh")(
      th.select(col("doc_id"), col("para"),
        explode(shingleHashes(col("hs"), 2)).as("h"))
        .distinct())
    val mhCols = MinhashParams.zipWithIndex.map { case ((a, b), i) =>
      min(perm(col("h"), a, b)).as(s"mh$i") }
    val sig = sh.groupBy(col("doc_id"), col("para")).agg(mhCols.head, mhCols.tail: _*)
    val bands = (0 until 4).map { bnd =>
      sig.select(col("doc_id"), col("para"), lit(bnd).as("band"),
        concat_ws("-", (0 until 3).map(r => col(s"mh${bnd * 3 + r}")): _*).as("sig"))
    }.reduce(_ unionAll _)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("x.para").as("pa"),
        col("y.doc_id").as("b"), col("y.para").as("pb")).distinct()
    val sa = sh.select(col("doc_id").as("a"), col("para").as("pa"), col("h"))
    val sb = sh.select(col("doc_id").as("b"), col("para").as("pb"), col("h"))
    val inter = cand.join(sa, Seq("a", "pa")).join(sb, Seq("b", "pb", "h"))
      .groupBy(col("a"), col("pa"), col("b"), col("pb"))
      .agg(count(lit(1)).as("n_inter"))
    val sizes = sh.groupBy(col("doc_id"), col("para")).agg(count(lit(1)).as("n_sh"))
    val res = inter
      .join(sizes.select(col("doc_id").as("a"), col("para").as("pa"),
        col("n_sh").as("na")), Seq("a", "pa"))
      .join(sizes.select(col("doc_id").as("b"), col("para").as("pb"),
        col("n_sh").as("nb")), Seq("b", "pb"))
      .select(col("a"), col("pa"), col("b"), col("pb"), col("n_inter"),
        (col("na") + col("nb") - col("n_inter")).as("n_union"))
      .filter(col("n_inter") * 10 >= col("n_union") * 6)
      .orderBy(col("a"), col("pa"), col("b"), col("pb"))
    (res, th, sh)
  }

  private val dd11Sql =
    s"""WITH base AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 3000000,
       |    array_to_string(list_slice(regexp_split_to_array(text, '\\s+'), 26, 75), ' ')
       |  FROM documents WHERE doc_id % 17 = 0),
       |t AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ts FROM base),
       |p AS (SELECT doc_id, i AS para,
       |    list_slice(ts, CAST(i * 25 + 1 AS INTEGER), CAST(i * 25 + 25 AS INTEGER)) AS ptoks
       |  FROM t, unnest(range(0, (len(ts) - 1) // 25 + 1)) AS u(i)
       |  WHERE len(list_slice(ts, CAST(i * 25 + 1 AS INTEGER), CAST(i * 25 + 25 AS INTEGER))) >= 2),
       |th AS (SELECT doc_id, para,
       |    list_transform(ptoks, x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT) % ${MinhashPrime}) AS hs
       |  FROM p),
       |sh AS (SELECT DISTINCT doc_id, para, ${TextFunctions.shingleHashSql("hs", 2)} AS h
       |  FROM th, unnest(range(1, len(hs))) AS t2(i)),
       |sig AS (SELECT doc_id, para,
       |    $mhTermsSql
       |  FROM sh GROUP BY doc_id, para),
       |bands AS (
       |  ${(0 until 4).map { bnd =>
            val triple = (0 until 3).map(r => s"mh${bnd * 3 + r}").mkString(", ")
            s"SELECT doc_id, para, $bnd AS band, concat_ws('-', $triple) AS sig FROM sig"
          }.mkString("\n  UNION ALL ")}),
       |cand AS (SELECT DISTINCT x.doc_id AS a, x.para AS pa, y.doc_id AS b, y.para AS pb
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
       |inter AS (SELECT a, pa, b, pb, CAST(COUNT(*) AS BIGINT) AS n_inter
       |  FROM cand
       |  JOIN sh sa ON sa.doc_id = a AND sa.para = pa
       |  JOIN sh sb ON sb.doc_id = b AND sb.para = pb AND sb.h = sa.h
       |  GROUP BY a, pa, b, pb),
       |sizes AS (SELECT doc_id, para, CAST(COUNT(*) AS BIGINT) AS n_sh
       |  FROM sh GROUP BY doc_id, para)
       |SELECT a, pa, b, pb, n_inter, za.n_sh + zb.n_sh - n_inter AS n_union
       |FROM inter
       |JOIN sizes za ON za.doc_id = a AND za.para = pa
       |JOIN sizes zb ON zb.doc_id = b AND zb.para = pb
       |WHERE n_inter * 10 >= (za.n_sh + zb.n_sh - n_inter) * 6
       |ORDER BY a, pa, b, pb""".stripMargin

  // ---------------------------------------------------------------- dd12
  /** EXACT-substring overlap spans — the "Deduplicating Training Data
    * Makes Language Models Better" (Lee et al. 2022) operator: find
    * document pairs sharing a VERBATIM run of ≥ 24 tokens and report the
    * LONGEST shared span, the alignment answer dd10's fingerprint
    * containment (recall floor, no positions) does not give. Planted
    * quotes: every doc_id % 10 == 0 gets a re-post carrying tokens 5..34
    * of the original plus fresh trailing text (id shifted by max+1 — the
    * m5 collision-proof rule).
    *
    * Shape: token-level 16-gram rolling hashes WITH POSITIONS (pure
    * array arithmetic + one posexplode); df-capped inverted index (fp in
    * ≤ 20 docs — the dd10 boilerplate/fanout cap bounding pairs per fp
    * at C(20,2)); one equi-join per fp; then runs of consecutive
    * positions on one diagonal (pa − pb constant) via the
    * row_number-difference sessionize trick — a shared run of L
    * consecutive 16-grams is a span of L+15 tokens. Every join keys on
    * fp or the pair; candidate pairs ∝ shared-run mass, never O(n²);
    * windows partition by (pair, diagonal) — bounded per pair. */
  private def dd12(s: SparkSession, d: String): DataFrame = {
    val (res, grams) = dd12Plan(s, d)
    graft.Eager.finish(res, grams)
  }

  /** dd12 internals pre-pin (PlanAuditSpec inspects the optimized plan;
    * caller must unpersist the returned grams frame). */
  private[graft] def dd12Plan(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val W = org.apache.spark.sql.expressions.Window
    val base = Tables(s, d, "documents").select(col("doc_id"), col("text"))
    val shift = broadcast(base.agg((max(col("doc_id")) + 1L).as("_shift")))
    val planted = base.filter(col("doc_id") % 10 === 0).crossJoin(shift)
      .select((col("doc_id") + col("_shift")).as("doc_id"),
        concat(concat_ws(" ", slice(tokens(col("text")), 5, 30)),
          lit(" reposted with fresh trailing commentary")).as("text"))
    val corpus = base.unionByName(planted)
    // token hashes bound as a column BEFORE shingling — inlining them in
    // the shingle lambda re-evaluates the md5 array per element_at
    // reference (16× per position): the dd2/dd4 materialization rule
    // persisted (r19): grams feeds THREE plan branches (df cap + both
    // sides of the fp self-join) — un-persisted, the md5 token hashing and
    // 16-gram rolling hash re-ran per branch; released via Eager.finish
    val grams = graft.Eager.keyed(corpus
      .select(col("doc_id"), tokenHashes(tokens(col("text"))).as("hs"))
      .select(col("doc_id"), posexplode(shingleHashes(col("hs"), 16)).as(Seq("pos", "fp"))),
      "dd12.grams").persist()
    val dfCap = grams.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("_df"))
      .filter(col("_df") <= 20)
      .select(col("fp"))
    val idx = grams.join(dfCap, "fp")
    val pairs = idx.as("x").join(idx.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.pos").as("pa"), col("y.pos").as("pb"))
    val wDiag = W.partitionBy(col("a"), col("b"), col("diag")).orderBy(col("pa"))
    val runs = pairs.withColumn("diag", col("pa") - col("pb"))
      .withColumn("rn", row_number().over(wDiag))
      .withColumn("grp", col("pa") - col("rn"))
      .groupBy(col("a"), col("b"), col("diag"), col("grp"))
      .agg((count(lit(1)) + 15L).cast("long").as("span_tokens"))
    val res = runs.groupBy(col("a"), col("b"))
      .agg(max(col("span_tokens")).cast("long").as("max_span_tokens"),
        count(lit(1)).cast("long").as("n_runs"))
      .filter(col("max_span_tokens") >= 24)
      .orderBy(col("a"), col("b"))
    (res, grams)
  }

  private val dd12Sql =
    s"""WITH mx AS (SELECT MAX(doc_id) + 1 AS sh FROM documents),
       |pl AS (SELECT doc_id + mx.sh AS doc_id,
       |    array_to_string(
       |      (list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))[5:34], ' ')
       |      || ' reposted with fresh trailing commentary' AS text
       |  FROM documents, mx WHERE doc_id % 10 = 0),
       |corpus AS (SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id, text FROM pl),
       |th AS (SELECT doc_id,
       |    list_transform(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''),
       |      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % $MinhashPrime) AS hs
       |  FROM corpus),
       |grams AS (SELECT doc_id, i - 1 AS pos,
       |    ${TextFunctions.shingleHashSql("hs", 16)} AS fp
       |  FROM th, unnest(range(1, len(hs) - 14)) AS t(i)),
       |capped AS (SELECT fp FROM (SELECT fp, COUNT(DISTINCT doc_id) AS df
       |  FROM grams GROUP BY fp) WHERE df <= 20),
       |pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, x.pos AS pa, y.pos AS pb
       |  FROM grams x JOIN capped c ON x.fp = c.fp
       |  JOIN grams y ON x.fp = y.fp AND x.doc_id < y.doc_id),
       |runs AS (SELECT a, b, CAST(COUNT(*) + 15 AS BIGINT) AS span_tokens
       |  FROM (SELECT a, b, pa - pb AS diag, pa,
       |          pa - ROW_NUMBER() OVER (PARTITION BY a, b, pa - pb ORDER BY pa) AS grp
       |        FROM pairs)
       |  GROUP BY a, b, diag, grp)
       |SELECT a, b, CAST(MAX(span_tokens) AS BIGINT) AS max_span_tokens,
       |  CAST(COUNT(*) AS BIGINT) AS n_runs
       |FROM runs GROUP BY a, b HAVING MAX(span_tokens) >= 24
       |ORDER BY a, b""".stripMargin

  // ---------------------------------------------------------------- dd13
  /** LSH band PLANNING — the tuning operator every production MinHash
    * deployment needs before committing a (bands, rows) layout: for each
    * feasible split of the 12-hash signature ((2×6), (3×4), (4×3),
    * (6×2)), measure the candidate volume and the achieved RECALL against
    * exact-Jaccard ≥ 0.6 truth, beside the theoretical S-curve capture
    * probability `1-(1-s^r)^b` at s = 0.6. Coarser bands (high r) trade
    * recall for candidate volume; this table is the evidence for picking
    * the dd2 default (4×3).
    *
    * Truth = exact Jaccard over pairs sharing ≥ 1 shingle with global
    * df ≤ 50 (the dd10 df-cap pattern — near-complete for ≥ 0.6 pairs,
    * which share many shingles; a pair ALL of whose shared shingles are
    * ultra-common is the documented exclusion). Scale shape: signatures
    * and band tables are |docs|-row; candidate joins are banded
    * equi-joins (never cartesian); the output is 4 rows of 1-row
    * aggregates cross-joined (the SCALE.md bounded-driver-state class). */
  private def dd13(s: SparkSession, d: String): DataFrame = {
    val (res, persisted) = dd13Plan(s, d)
    graft.Eager.finish(res, persisted: _*)
  }

  /** Un-pinned dd13 plan + its persisted frames, exposed for plan audits
    * (the public query pins the answer via Eager.finish). */
  private[graft] def dd13Plan(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    // the planner runs on a 1-in-3 doc SAMPLE (what a production tuning
    // pass does — recall estimates need a sample, not the corpus) with a
    // df <= 20 truth cap: the full-corpus df <= 50 variant spent its time
    // exploding C(df,2) truth pairs (26 s at sf0.1 vs ~7 s sampled).
    // Shingles and signatures are FILTERS of the standing parquet index
    // (sample membership is a doc_id predicate; both frames are per-doc,
    // so filter-then-read ≡ read-then-filter) — the sketch pipeline never
    // reruns here at all.
    val sh = matShingle3(s, d).filter(col("doc_id") % 3 === 0)
    val sig = matMinhashSig(s, d).filter(col("doc_id") % 3 === 0)
    val rare = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 20).select(col("h"))
    val shr = sh.join(rare, "h")
    val candT = shr.select(col("doc_id").as("a"), col("h"))
      .join(shr.select(col("doc_id").as("b"), col("h")), "h")
      .filter(col("a") < col("b")).select(col("a"), col("b")).distinct()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = candT.join(sh.select(col("doc_id").as("a"), col("h")), "a")
      .join(sh.select(col("doc_id").as("b"), col("h")), Seq("b", "h"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_inter"))
    val truth = inter
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n_sh", "na"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n_sh", "nb"), "b")
      .filter(col("n_inter") * 10 >= (col("na") + col("nb") - col("n_inter")) * 6)
      .select(col("a"), col("b")).persist()
    val nTruth = truth.agg(count(lit(1)).cast("long").as("n_truth"))
    // r19: all four (bands, rows) configs measure in ONE candidate pass —
    // the per-config loop ran 4 separate band-union self-joins + distincts
    // + two 1-row aggregates each (4 exchange pairs, ~10 driver-visible
    // jobs); tagging every band row with its config keys the same
    // self-join once for the whole panel (same shuffle bytes, a quarter of
    // the fixed per-job cost). A config with zero candidates must still
    // emit its row, so the panel left-joins from the 4-row config seed.
    val configs = Seq((2, 6), (3, 4), (4, 3), (6, 2))
    val bandsAll = configs.flatMap { case (b, r) =>
      (0 until b).map { bnd =>
        sig.select(lit(b.toLong).as("cfg_b"), lit(r.toLong).as("cfg_r"),
          col("doc_id"), lit(bnd).as("band"),
          concat_ws("-", (0 until r).map(j => col(s"mh${bnd * r + j}")): _*).as("bsig"))
      }
    }.reduce(_ unionAll _)
    val cand = bandsAll.as("x").join(bandsAll.as("y"),
        col("x.cfg_b") === col("y.cfg_b") && col("x.cfg_r") === col("y.cfg_r") &&
          col("x.band") === col("y.band") && col("x.bsig") === col("y.bsig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.cfg_b").as("cfg_b"), col("x.cfg_r").as("cfg_r"),
        col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    val nCand = cand.groupBy(col("cfg_b"), col("cfg_r"))
      .agg(count(lit(1)).cast("long").as("n_cand"))
    val nHit = cand.join(truth, Seq("a", "b"))
      .groupBy(col("cfg_b"), col("cfg_r"))
      .agg(count(lit(1)).cast("long").as("n_hit"))
    import s.implicits._
    val seed = configs.map { case (b, r) =>
      (b.toLong, r.toLong, 1.0 - math.pow(1.0 - math.pow(0.6, r), b))
    }.toDF("cfg_b", "cfg_r", "capture_at_06")
    val res = seed
      .join(nCand, Seq("cfg_b", "cfg_r"), "left")
      .join(nHit, Seq("cfg_b", "cfg_r"), "left")
      .crossJoin(broadcast(nTruth))
      .select(col("cfg_b").as("bands"), col("cfg_r").as("rows_per_band"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"), col("n_truth"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_truth")).as("recall"),
        col("capture_at_06"))
      .orderBy(col("bands"))
    (res, Seq(truth))
  }

  private val dd13Sql = {
    def mhTriple(bnd: Int, r: Int): String =
      (0 until r).map(j => s"mh${bnd * r + j}").mkString(", ")
    def cfg(b: Int, r: Int): String = {
      val bandSel = (0 until b).map(bnd =>
        s"SELECT doc_id, $bnd AS band, concat_ws('-', ${mhTriple(bnd, r)}) AS bsig FROM sig")
        .mkString("\n    UNION ALL ")
      s"""b${b}_$r AS (
         |    $bandSel),
         |c${b}_$r AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM b${b}_$r x JOIN b${b}_$r y
         |    ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id)"""
    }
    def row(b: Int, r: Int): String = {
      val theory = 1.0 - math.pow(1.0 - math.pow(0.6, r), b)
      s"""SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM c${b}_$r) AS n_cand,
         |  (SELECT n_truth FROM nt) AS n_truth,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM c${b}_$r JOIN truth USING (a, b)) AS n_hit,
         |  (SELECT CAST(COUNT(*) AS DOUBLE) FROM c${b}_$r JOIN truth USING (a, b))
         |    / (SELECT n_truth FROM nt) AS recall,
         |  CAST($theory AS DOUBLE) AS capture_at_06"""
    }
    val configs = Seq((2, 6), (3, 4), (4, 3), (6, 2))
    s"""WITH corpus AS (SELECT * FROM ($PlantedSql) WHERE doc_id % 3 = 0),
       |th AS (SELECT doc_id,
       |    list_transform(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''),
       |      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % ${MinhashPrime}) AS hs
       |  FROM corpus),
       |sh AS (SELECT DISTINCT doc_id, ${TextFunctions.shingleHashSql("hs", 3)} AS h
       |  FROM th, unnest(range(1, len(hs) - 1)) AS t(i)),
       |sig AS (SELECT doc_id,
       |    $mhTermsSql
       |  FROM sh GROUP BY doc_id),
       |rare AS (SELECT h FROM (SELECT h, COUNT(*) AS df FROM sh GROUP BY h)
       |  WHERE df <= 20),
       |shr AS (SELECT sh.doc_id, sh.h FROM sh JOIN rare USING (h)),
       |candt AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM shr x JOIN shr y ON x.h = y.h AND x.doc_id < y.doc_id),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (SELECT a, b, COUNT(*) AS n_inter
       |  FROM candt JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b AND sb.h = sa.h
       |  GROUP BY a, b),
       |truth AS (SELECT a, b FROM inter
       |  JOIN sizes za ON za.doc_id = a JOIN sizes zb ON zb.doc_id = b
       |  WHERE n_inter * 10 >= (za.n_sh + zb.n_sh - n_inter) * 6),
       |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
       |${configs.map { case (b, r) => cfg(b, r) }.mkString(",\n")}
       |${configs.map { case (b, r) => row(b, r) }.mkString("\nUNION ALL\n")}
       |ORDER BY bands""".stripMargin
  }

  // ---------------------------------------------------------------- dd14
  /** Bloom-gated incremental exact dedup — the 100 TB admission-control
    * shape: the standing corpus keeps a MEMBERSHIP SKETCH of content
    * fingerprints (Spark's own BloomFilterAggregate, surfaced as
    * `graft_bloom_agg`; bit-or merge is commutative so the sketch is
    * partial-order independent), and each incoming batch probes it with
    * the codegen'd `graft_might_contain` BEFORE any join. Only probe
    * survivors reach the exact md5 verification join, so a mostly-clean
    * batch never shuffles against the standing index at all — false
    * positives are eliminated by the exact join and false negatives are
    * impossible, so the final result is EXACT and the oracle is the
    * plain equality join. The sketch is bounded driver/broadcast state
    * (~10 bits per standing doc: a billion docs ≈ 1.2 GB, planted here
    * as a literal the way centroids are). */
  private def dd14(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.ensure(s)
    val Boundary = 1000000L
    val corpus = planted(s, d)
    val old = corpus.filter(col("doc_id") < Boundary)
    val batch = corpus.filter(col("doc_id") >= Boundary)
    val bloomBytes = old
      .selectExpr("graft_bloom_agg(xxhash64(text), 20000L, 200000L) AS bf")
      .head().getAs[Array[Byte]](0)
    val cand = batch.filter(
      call_function("graft_might_contain", lit(bloomBytes), xxhash64(col("text"))))
    val dup = cand.select(col("doc_id").as("batch_id"), md5(col("text")).as("h"))
      .join(old.select(md5(col("text")).as("h"), col("doc_id").as("old_id")), "h")
      .groupBy(col("batch_id")).agg(min(col("old_id")).as("src_id"))
    batch.select(col("doc_id").as("batch_id"))
      .join(dup, Seq("batch_id"), "left")
      .select(col("batch_id"),
        when(col("src_id").isNotNull, "drop_exact").otherwise("keep").as("verdict"),
        col("src_id"))
      .orderBy(col("batch_id"))
  }

  private val dd14Sql =
    s"""WITH corpus AS ($PlantedSql),
       |b AS (SELECT doc_id, md5(text) AS h FROM corpus WHERE doc_id >= 1000000),
       |o AS (SELECT md5(text) AS h, doc_id FROM corpus WHERE doc_id < 1000000),
       |j AS (SELECT b.doc_id AS batch_id, MIN(o.doc_id) AS src_id
       |      FROM b LEFT JOIN o ON b.h = o.h GROUP BY b.doc_id)
       |SELECT batch_id,
       |  CASE WHEN src_id IS NOT NULL THEN 'drop_exact' ELSE 'keep' END AS verdict,
       |  src_id
       |FROM j ORDER BY batch_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "dd14_bloom_gate" -> dd14 _,
    "dd13_lsh_planner" -> dd13 _,
    "dd12_exact_substring" -> dd12 _,
    "dd11_paragraph_dedup" -> dd11 _,
    "dd10_containment" -> dd10 _,
    "dd9_source_overlap" -> dd9 _,
    "dd7_incremental" -> dd7 _,
    "dd8_semdedup" -> dd8 _,
    "dd15_semdedup_approx" -> dd15 _,
    "dd1_exact_dedup" -> dd1 _,
    "dd2_minhash_lsh" -> dd2 _,
    "dd3_simhash" -> dd3 _,
    "dd4_ngram_jaccard" -> dd4 _,
    "dd5_embed_neardup" -> dd5 _,
    "dd6_dedup_clusters" -> dd6 _)

  val oracle: Map[String, String] = Map(
    "dd14_bloom_gate" -> dd14Sql,
    "dd13_lsh_planner" -> dd13Sql,
    "dd12_exact_substring" -> dd12Sql,
    "dd11_paragraph_dedup" -> dd11Sql,
    "dd10_containment" -> dd10Sql,
    "dd9_source_overlap" -> dd9Sql,
    "dd7_incremental" -> dd7Sql,
    "dd8_semdedup" -> dd8Sql,
    "dd15_semdedup_approx" -> dd15Sql,
    "dd1_exact_dedup" -> dd1Sql,
    "dd2_minhash_lsh" -> dd2Sql,
    "dd3_simhash" -> dd3Sql,
    "dd4_ngram_jaccard" -> dd4Sql,
    "dd5_embed_neardup" -> dd5Sql,
    "dd6_dedup_clusters" -> dd6Sql)
}
