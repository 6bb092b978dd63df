package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.GraftFunctions
import graft.functions.GraftFunctions.{vecDot, vecDotLong}

/** Similarity search over the `embeddings` table (`Array[Float]` column) —
  * brute-force cosine top-k as the correctness baseline, random-hyperplane
  * LSH bucketing as the 100 TB path (north-star extension; absent from the
  * reference, whose only "similarity" is ES relevance, SURVEY §2 C).
  *
  * Vector math runs through the native codegen'd `vec_dot` expression
  * (graft.functions.VecDot) — sequential fold-left order, so the DuckDB
  * oracle (sequential `list_reduce`) is bit-identical with no rounding.
  * Norms are computed ONCE per vector and carried through the joins (the
  * naive per-pair `dot/(√dot·√dot)` does 3 folds per pair; this does 1).
  *
  * Scale shapes:
  *   - brute force: queries × corpus — only sane when the query side is
  *     broadcast-small; the plan broadcasts it explicitly.
  *   - LSH: per-vector 16-bit signature (16 codegen'd dots against literal
  *     hyperplane arrays), 4×4-bit bands → bucket equi-join. Corpus side
  *     shuffles once on (band, bucket); candidate count ∝ bucket
  *     collisions, never |corpus|². An IVF variant would swap the
  *     signature for a coarse-centroid id — same join shape.
  */
object Similarity {

  type Q = (SparkSession, String) => DataFrame

  /** Random-hyperplane signature (`planes` bits, default 16): codegen'd dots against literal
    * weight arrays (LCG-derived, engine-portable — TextFunctions). */
  def lshSig(v: Column, dims: Int = 64, planes: Int = 16): Column =
    (0 until planes).map { p =>
      val w = array((0 until dims).map(d =>
        lit(TextFunctions.planeWeightValue(p, d))): _*)
      when(vecDot(v, w) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** DuckDB mirror of `vec_dot` — sequential list_reduce from a 0.0 seed. */
  def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), z -> z[1] * z[2])), (acc, x) -> acc + x)"

  /** DuckDB mirror of `lshSig` — recomputes the same LCG weights inline. */
  def lshSigSql(v: String, planes: Int = 16): String =
    (0 until planes).map { p =>
      val w = s"(CAST((1103515245 * (${p.toLong * 97L} + i + 1) + 12345) % 1000003 - 500001 AS DOUBLE) / 500001.0)"
      val proj = s"list_reduce(list_prepend(0.0, list_transform(range(0, len($v)), i -> $v[CAST(i + 1 AS INTEGER)] * $w)), (acc, x) -> acc + x)"
      s"(CASE WHEN $proj >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Shared FIXED query panel for the whole s family (r17; extends s5's
    * r16 fix to every leg): `vec_id % 50 == 0` BELOW a fixed id bound. A
    * production ANN/retrieval service is a fixed query rate against a
    * GROWING corpus, so the benchmark must scale as queries × corpus =
    * O(n) — the unbounded `% 50` panels grew with the corpus and benched
    * O(n²) at sf1 (s1 34×, s10 30×, s13 15×, s4 12.5× for 10× data; the
    * engine's per-query scans were linear all along). The bound (2000)
    * covers the full sf0.1 corpus, so sf0.1 → sf1 holds the panel at
    * exactly 40 queries while the corpus grows 10×. The recall pairs
    * (s4 = s1∧s2, s13 = s1∧s11∧s12) inherit the SAME panel through their
    * legs — recall on a fixed panel is still a valid recall estimate. */
  private[graft] val PanelBound = 2000
  private def inPanel(c: Column): Column = c % 50 === 0 && c < PanelBound
  private def panelSql(c: String): String = s"$c % 50 = 0 AND $c < $PanelBound"

  /** Corpus with per-vector norm — computed once, joined everywhere. */
  private def vecs(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.ensure(s)
    Tables(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(vecDot(col("v"), col("v"))))
  }

  private[graft] val VecsSql =
    """SELECT vec_id, label, v, sqrt(list_reduce(list_prepend(0.0,
      |    list_transform(list_zip(v, v), z -> z[1] * z[2])), (acc, x) -> acc + x)) AS nrm
      |FROM (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |      FROM embeddings)""".stripMargin

  // ---------------------------------------------------------------- s1
  /** Brute-force cosine top-k: the fixed query panel against the whole
    * corpus; top-5 by (cosine desc, id asc), self excluded. */
  private def s1(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d)
    val q = all.select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      .filter(inPanel(col("q_id")))
    val scored = all.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (vecDot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("n_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  private val s1Sql =
    s"""WITH vecs AS ($VecsSql),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM vecs WHERE ${panelSql("vec_id")}),
       |scored AS (
       |  SELECT q_id, vec_id AS n_id, ${dotSql("qv", "v")} / (qn * nrm) AS cos
       |  FROM vecs CROSS JOIN q WHERE vec_id <> q_id)
       |SELECT q_id, rank, n_id, cos FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
       |  FROM scored) WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- s2
  /** LSH-bucketed ANN: same queries, but neighbors come only from vectors
    * sharing ≥ 1 of the 4 signature bands — the scale path. Top-3 by exact
    * cosine among candidates. */
  /** Un-pinned s2 plan + the persisted signature frame it reads, exposed
    * for plan audits (the public query pins the answer and releases the
    * persist via Eager.finish, leaving a LocalRelation with no plan to
    * audit). dd5's shape (DedupQueries.scala): compute the 16-dot signature
    * ONCE and persist it; band-join on narrow (id, band, bv) rows only;
    * dedup the candidate pairs; join the 64-double vectors back AFTER the
    * dedup — the wide arrays never ride the quadratic part of the shuffle,
    * and the signature is never recomputed per band branch (round 3 did
    * both, ~8 signature recomputations of the whole corpus). */
  /** s2's probe over a signature table (vec_id, v, nrm, sig): band
    * derivation (4 narrow projections of `sig`), bucket equi-join,
    * candidate dedup, exact rescoring — shared by s2 (persisted rebuild)
    * and s16 (standing parquet signature index). */
  private def lshProbe(all: DataFrame): DataFrame = {
    val bands = (0 until 4).map { bnd =>
      all.select(col("vec_id"), lit(bnd).as("band"),
        (shiftright(col("sig"), bnd * 4) % 16).as("bv"))
    }.reduce(_ unionAll _)
    val qb = bands.filter(inPanel(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("band"), col("bv"))
    val cand = bands.join(qb, Seq("band", "bv"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"))
      .distinct()
    val qv = all.select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val nv = all.select(col("vec_id").as("n_id"), col("v"), col("nrm"))
    cand.join(qv, "q_id").join(nv, "n_id")
      .select(col("q_id"), col("n_id"),
        (vecDot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("n_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  private[graft] def s2Plan(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val all = vecs(s, d).withColumn("sig", lshSig(col("v"))).persist()
    (lshProbe(all), all)
  }

  private def s2(s: SparkSession, d: String): DataFrame = {
    val (res, all) = s2Plan(s, d)
    graft.Eager.finish(res, all)
  }

  private val s2Sql =
    s"""WITH vecs AS ($VecsSql),
       |sigs AS (SELECT vec_id, ${lshSigSql("v")} AS sig FROM vecs),
       |bands AS (
       |  ${(0 until 4).map(b => s"SELECT vec_id, $b AS band, (sig >> ${b * 4}) % 16 AS bv FROM sigs").mkString("\n  UNION ALL ")}),
       |-- candidate pairs carry IDS ONLY through the band join/dedup (the
       |-- 4-bit buckets fan every bucket's vector lists out before the
       |-- grouping — at sf1 that materialization OOM-killed the oracle
       |-- process); the vectors join back once per DISTINCT pair, the
       |-- same shape the engine side plans
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS q_id, x.vec_id AS n_id
       |  FROM bands x JOIN bands q ON x.band = q.band AND x.bv = q.bv
       |  WHERE ${panelSql("q.vec_id")} AND x.vec_id <> q.vec_id),
       |scored AS (
       |  SELECT q_id, n_id, ${dotSql("qv.v", "xv.v")} / (qv.nrm * xv.nrm) AS cos
       |  FROM cand
       |  JOIN vecs qv ON qv.vec_id = cand.q_id
       |  JOIN vecs xv ON xv.vec_id = cand.n_id)
       |SELECT q_id, rank, n_id, cos FROM (
       |  SELECT q_id, n_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
       |  FROM scored) WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- s3
  /** IVF-style ANN: coarse quantization with a FIXED centroid set
    * (`vec_id % 97 == 0` below the panel id bound — deterministic, so the
    * oracle can replay the assignment; the bound makes the centroid count
    * independent of corpus growth, exactly the "train centroids on a
    * SAMPLE" discipline FAISS ships). Every vector is assigned to its
    * nearest centroid (one |corpus|×|centroids| scored pass — the IVF
    * build); queries probe ONLY their own cell.
    *
    * Scale shape vs s2: the inverted-file cell is a join key exactly like
    * the LSH bucket, but cell count/balance is controlled by the centroid
    * set rather than hash geometry — the standard trade at 100 TB (train
    * centroids on a sample, partition the corpus by cell id, co-locate
    * probes). With the bound, the build is n·k for CONSTANT k — linear in
    * the corpus (the unbounded `% 97` set grew k ∝ n, benching the build
    * quadratic: 12.1× for 10× data at sf1, r17 audit). */
  /** s3's IVF assignment — (vec_id, v, nrm, cell), one broadcast scored
    * pass over the corpus. Factored out so s15 can persist it as the
    * standing index; the sample-bounded centroid set keeps this n·k for
    * constant k. */
  private def ivfAssign(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d)
    val cents = all.filter(col("vec_id") % 97 === 0 && col("vec_id") < PanelBound)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
    // max_by with a (score desc, c_id asc) ordering struct replaces the
    // row_number window (r19, same change as s14's assignment): the argmax
    // is map-side combinable, so the n × k fan-out partial-aggregates
    // before the exchange instead of sort-shuffling whole. Identical
    // floats compared, identical smallest-c_id tie rule.
    all.join(broadcast(cents))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("v"), col("nrm"), col("c_id")),
        struct((vecDot(col("v"), col("cv")) / (col("nrm") * col("cn"))).as("score"),
          (-col("c_id")).as("tb"))).as("r"))
      .select(col("vec_id"), col("r.v").as("v"), col("r.nrm").as("nrm"),
        col("r.c_id").as("cell"))
  }

  /** IVF probe phase: the fixed panel against a (vec_id, v, nrm, cell)
    * assignment frame — each query scans ONLY its own cell. */
  private def ivfProbe(assign: DataFrame): DataFrame = {
    val q = assign.filter(inPanel(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"), col("cell"))
    q.join(assign, Seq("cell")).filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (vecDot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("n_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  private def s3(s: SparkSession, d: String): DataFrame =
    ivfProbe(ivfAssign(s, d))

  private val s3Sql =
    s"""WITH vecs AS ($VecsSql),
       |cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM vecs
       |          WHERE vec_id % 97 = 0 AND vec_id < $PanelBound),
       |assign AS (
       |  SELECT vec_id, v, nrm, c_id AS cell FROM (
       |    SELECT vec_id, v, nrm, c_id,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id
       |        ORDER BY ${dotSql("v", "cv")} / (nrm * cn) DESC, c_id) AS rn
       |    FROM vecs CROSS JOIN cents) WHERE rn = 1),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell FROM assign WHERE ${panelSql("vec_id")})
       |SELECT q_id, rank, n_id, cos FROM (
       |  SELECT q_id, x.vec_id AS n_id, ${dotSql("qv", "x.v")} / (qn * x.nrm) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY ${dotSql("qv", "x.v")} / (qn * x.nrm) DESC, x.vec_id) AS rank
       |  FROM q JOIN assign x ON q.cell = x.cell AND x.vec_id <> q.q_id)
       |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- s15
  /** STANDING IVF index (the dd7 signature-index pattern applied to ANN):
    * s3 rebuilds its inverted file every run; a deployment builds it ONCE
    * and serves probes from it forever. s15 is that architecture as a
    * gate — the assignment frame is written write-once as parquet
    * PARTITIONED BY cell (at 100 TB a probe's cell filter prunes to its
    * cell's files before any scan; incremental ingest appends new cell
    * partitions), and the probe phase runs s3's exact probe against the
    * parquet read. The table is a [[graft.Standing]] entry keyed on the
    * corpus file listing (a regenerated fixture rebuilds instead of
    * serving a stale assignment, ADVICE r17) — bench repeats and
    * every later query in the JVM reuse the standing files, so the
    * measured repeat cost is PROBE-ONLY, the honest serving shape. The
    * oracle is s3's oracle VERBATIM: the index path must reproduce the
    * rebuild-every-time answer bit-for-bit or the gate goes red. */
  private[ext] def standingIvf(s: SparkSession, d: String): DataFrame =
    standing(s, d, "s15-ivf", Seq("cell"))(ivfAssign(s, d))
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))

  /** The ≤ ⌈PanelBound/97⌉-row centroid panel of the standing IVF index,
    * collected ONCE per (session, corpus, fingerprint) — ADVICE r18 #3:
    * the former shape re-scanned ALL index partitions on every KNN query
    * (a `vec_id % 97` filter prunes nothing) and re-collected the same
    * 21 rows each time. The scan is now partition-PRUNED: the centroid
    * ids are known a priori (multiples of 97 below PanelBound) and a
    * centroid's cell is itself by construction (its own distance is 0),
    * so `cell IN (ids)` reaches PartitionFilters and the read touches 21
    * cell directories however large the corpus; the panel keys on the
    * same corpus listing as the index itself, so a regenerated fixture
    * refreshes the panel with the rebuild instead of serving stale
    * centroids. */
  private def knnCentroids(s: SparkSession, d: String,
                           idx: DataFrame): Array[(Long, Seq[Double], Double)] =
    graft.Standing(s, "knn-centroids", graft.Standing.corpus(s, d, "embeddings")) {
      val ids = (0L until PanelBound.toLong by 97L).toSeq
      idx.filter(col("cell").isin(ids: _*) && col("vec_id") === col("cell"))
        .select(col("vec_id"), col("v"), col("nrm")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
        .sortBy(_._1)
    }

  /** A standing index over the embeddings fixture ([[graft.Standing]]). */
  private def standing(s: SparkSession, d: String, tag: String,
                       partitionBy: Seq[String] = Nil)(df: => DataFrame): DataFrame =
    graft.Standing.table(s, tag, graft.Standing.corpus(s, d, "embeddings"), partitionBy)(df)

  private def s15(s: SparkSession, d: String): DataFrame =
    ivfProbe(standingIvf(s, d))

  // ---------------------------------------------------------- s16/s17/s18
  /** STANDING variants of the other quantized families (r18, extending
    * the s15 precedent): s2's LSH signatures, s9's PQ codebook + codes,
    * and s11's packed sign codes are each written ONCE as parquet and
    * every probe reads the standing table — the serving shape a real
    * deployment runs (signatures/codes are maintained at ingest, never
    * recomputed per query). Oracles are s2/s9/s11's VERBATIM: the index
    * path must reproduce the rebuild-every-run answer bit-for-bit. Bench
    * repeats measure probe-only cost — the honest trend line for what a
    * query costs once the index exists. Each table keys on the corpus
    * file listing, like s15's. */
  private def s16(s: SparkSession, d: String): DataFrame =
    lshProbe(standing(s, d, "s16-lsh")(
      vecs(s, d).withColumn("sig", lshSig(col("v")))))

  private def s17(s: SparkSession, d: String): DataFrame = {
    val book = standing(s, d, "s17-pq-book")(
      pqBook(pqSlices(pqBase(s, d))))
    val codes = standing(s, d, "s17-pq-codes")(
      pqAssign(pqSlices(pqBase(s, d)), book)
        .select(col("vec_id"), col("s"), col("cid")))
    pqProbe(s, d, codes, book)
  }

  private def s18(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d).select(col("vec_id"), col("v"))
    bbqProbe(standing(s, d, "s18-bbq")(bbqCodes(all)), all)
  }

  /** Ad-hoc query-vector probe against the STANDING IVF index — the
    * serving entry ES|QL's `WHERE KNN(field, [qv…], k)` lowers to (r18).
    * Contract = s3/s15's per-vector assignment applied to the QUERY:
    * route to the single nearest centroid by (cosine DESC, id ASC) —
    * bounded driver work, the centroid set is the fixed sample and its
    * rows are read FROM the index (a centroid's own cell is itself, so
    * its row carries its vector) — then scan ONLY that cell's parquet
    * partition (partition-pruned read, EsqlSpec pins the PartitionFilters)
    * and take top-k by (cosine DESC, vec_id ASC). Driver-side dot/norm
    * folds run in the same sequential order as the codegen'd vec_dot and
    * the oracle's list_reduce, so cell choice and scores are bit-identical
    * across engines. Returns (vec_id, _knn_cos). */
  def knnProbe(s: SparkSession, d: String, qv: Seq[Double], k: Int): DataFrame = {
    GraftFunctions.ensure(s)
    val idx = standingIvf(s, d)
    val cents = knnCentroids(s, d, idx)
    require(cents.nonEmpty, s"knnProbe: no centroids in the standing index at $d")
    def dotSeq(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0)((acc, p) => acc + p._1 * p._2) // vec_dot order
    val qn = math.sqrt(dotSeq(qv, qv))
    val bestCell = cents.map { case (cid, cv, cn) =>
      (-(dotSeq(qv, cv) / (qn * cn)), cid) }.min._2
    val qc = array(qv.map(lit): _*)
    idx.filter(col("cell") === bestCell)
      .select(col("vec_id"),
        (vecDot(qc, col("v")) / (lit(qn) * col("nrm"))).as("_knn_cos"))
      .orderBy(col("_knn_cos").desc, col("vec_id"))
      .limit(k)
  }

  // ---------------------------------------------------------------- registry

  // ---------------------------------------------------------------- s4
  /** ANN recall measurement — "measure, don't guess" as an operator: per
    * query, how many of the LSH path's top-3 (s2) appear in brute-force
    * ground truth's top-3 (s1). This is the metric every ANN deployment
    * tracks before trusting the approximate path at scale; here it is a
    * declared, oracle-checked query (integer counts — no float compare).
    * Cost: both pipelines once + one join on narrow (q_id, n_id) pairs. */
  private def s4(s: SparkSession, d: String): DataFrame = {
    val truth = s1(s, d).filter(col("rank") <= 3).select(col("q_id"), col("n_id"))
    val approx = s2(s, d).select(col("q_id"), col("n_id"))
    val hits = approx.join(truth, Seq("q_id", "n_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    truth.select(col("q_id")).distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_hit"), lit(0L)).as("recall3_of_3"))
      .orderBy(col("q_id"))
  }

  private val s4Sql =
    s"""WITH t0 AS ($s1Sql),
       |a AS ($s2Sql),
       |truth AS (SELECT q_id, n_id FROM t0 WHERE rank <= 3),
       |hits AS (SELECT truth.q_id, COUNT(*) AS n_hit
       |  FROM a JOIN truth ON a.q_id = truth.q_id AND a.n_id = truth.n_id
       |  GROUP BY truth.q_id)
       |SELECT q.q_id, CAST(COALESCE(n_hit, 0) AS BIGINT) AS recall3_of_3
       |FROM (SELECT DISTINCT q_id FROM truth) q LEFT JOIN hits USING (q_id)
       |ORDER BY q_id""".stripMargin

  // ---------------------------------------------------------------- s5
  /** Scalar-quantized (SQ8) exact-scan ANN — the memory-bound path FAISS
    * calls IndexScalarQuantizer: per-DIMENSION min/max bounds (one
    * 64-group aggregation), each vector compressed to 8-bit codes (4×
    * smaller than float32, 8× smaller than the double working set), then
    * the same broadcast-query brute scan as s1 but on INTEGER code dot
    * products — exact integer arithmetic end to end, so ranking is
    * engine-bit-identical (no float accumulation anywhere).
    *
    * Scale shape: bounds = one tiny agg (64 rows, broadcast back);
    * quantization is a pure map; the scan reads 1/4 the bytes of s1 at
    * the same candidate count. At 100 TB this is why quantization exists:
    * the scan is bandwidth-bound, and codes keep the working set in
    * memory. The query side is a FIXED PANEL (vec_id % 50 = 0 below a
    * fixed id bound — r16): a production ANN service is a fixed query
    * rate against a GROWING corpus, so the benchmark must scale as
    * queries × corpus = O(n), not the O(n²) a corpus-proportional query
    * set gave (the r16 sf1 bench measured that shape at 60× for 10×
    * data — a fixture artifact, not engine cost; per-query scan time was
    * linear all along). */
  private def s5(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d).select(col("vec_id"), col("v"))
    val bounds = all.select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy(col("d")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    // dim-ordered bound arrays via array_sort (collect_list order is not
    // deterministic under partial aggregation; the sort is)
    val ba = bounds
      .agg(array_sort(collect_list(struct(col("d"), col("mn"), col("mx")))).as("bs"))
      .select(transform(col("bs"), b => b.getField("mn")).as("mns"),
        transform(col("bs"), b => b.getField("mx")).as("mxs"))
    val codes = all.crossJoin(broadcast(ba))
      .select(col("vec_id"),
        transform(col("v"), (x, i) => {
          val mn = element_at(col("mns"), i + 1)
          val mx = element_at(col("mxs"), i + 1)
          when(mx === mn, lit(0L)).otherwise(
            least(lit(255L), greatest(lit(0L),
              floor(((x - mn) * lit(255.0)) / (mx - mn)).cast("long"))))
        }).as("c"))
    val q = codes.filter(inPanel(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("c").as("qc"))
    val scored = codes.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        // codegen'd exact long dot (r19 — the interpreted lambda fold ran
        // |panel|x|corpus| times; same fold order, same integers)
        vecDotLong(col("qc"), col("c")).as("qdot"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("qdot").desc, col("n_id"))))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("n_id"), col("qdot"))
      .orderBy(col("q_id"), col("rank"))
  }

  private val s5Sql = {
    val el = "CAST(d + 1 AS INTEGER)"
    s"""WITH vs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |            FROM embeddings),
       |b AS (SELECT d, MIN(v[$el]) AS mn, MAX(v[$el]) AS mx
       |      FROM vs, range(0, 64) t(d) GROUP BY d),
       |ba AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs FROM b),
       |codes AS (SELECT vec_id,
       |    list_transform(range(0, 64), d -> CASE WHEN mxs[$el] = mns[$el] THEN 0
       |      ELSE CAST(least(255, greatest(0,
       |        floor(((v[$el] - mns[$el]) * 255.0) / (mxs[$el] - mns[$el])))) AS BIGINT)
       |      END) AS c
       |  FROM vs, ba),
       |q AS (SELECT vec_id AS q_id, c AS qc FROM codes
       |      WHERE ${panelSql("vec_id")}),
       |scored AS (SELECT q_id, vec_id AS n_id,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(list_zip(qc, c), z -> z[1] * z[2])), (acc, x) -> acc + x) AS BIGINT) AS qdot
       |  FROM codes, q WHERE vec_id <> q_id)
       |SELECT q_id, rank, n_id, qdot FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY qdot DESC, n_id) AS rank
       |  FROM scored)
       |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- s6
  /** ES `knn` search section — the 8.x vector-search body (`field` /
    * `query_vector` / `k` / `num_candidates` / one `filter` clause),
    * parsed verbatim and executed as FILTERED exact top-k over the
    * embeddings corpus: the label filter prunes BEFORE any vector math
    * (pushable predicate), then one broadcast of the literal query
    * vector, codegen'd `vec_dot`, and a bounded top-k — no shuffle
    * beyond the k-row merge. `num_candidates` is accepted and recorded
    * but the search is EXACT (a documented upgrade over ES's per-shard
    * HNSW beam, same rule as exact cardinality); richer filters are
    * rejected loudly. The query vector arrives as data (the ES client
    * contract) — here read from vec 100 and inlined into the body. */
  private def s6(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d)
    val qv = all.filter(col("vec_id") === 100).select(col("v"))
      .head().getSeq[Double](0)
    val body =
      s"""{"knn": {"field": "embedding", "query_vector": [${qv.mkString(",")}],
         |"k": 5, "num_candidates": 500, "filter": {"term": {"label": 7}}}}""".stripMargin
    import org.json4s._
    val spec = graft.docs.Lex.fields(graft.docs.Lex.parseJson("knn", body) \ "knn", "knn", "knn")
    val unknown = spec.keySet -- Set("field", "query_vector", "k", "num_candidates", "filter")
    require(unknown.isEmpty, s"unsupported knn key(s): ${unknown.mkString(", ")}")
    require(spec.get("field").contains(JString("embedding")),
      "knn field must be the embedding column")
    val k = spec.get("k") match {
      case Some(JInt(i)) => i.toInt
      case other => throw new IllegalArgumentException(s"knn needs integer k: $other")
    }
    val nc = spec.get("num_candidates") match {
      case None => k
      case Some(JInt(i)) => i.toInt
      case other => throw new IllegalArgumentException(s"bad num_candidates: $other")
    }
    require(nc >= k, s"num_candidates ($nc) must be >= k ($k) (ES rule)")
    val qvParsed = spec("query_vector") match {
      case JArray(xs) if xs.nonEmpty => xs.map {
        case JDouble(x) => x
        case JInt(x) => x.toDouble
        case JDecimal(x) => x.toDouble
        case other => throw new IllegalArgumentException(s"bad query_vector entry: $other")
      }
      case other => throw new IllegalArgumentException(s"bad query_vector: $other")
    }
    val filterCol = spec.get("filter").map {
      case JObject(List(("term", JObject(List((fld, v)))))) =>
        val value = v match {
          case JInt(i) => lit(i.toLong)
          case JString(str) => lit(str)
          case JObject(List(("value", JInt(i)))) => lit(i.toLong)
          case other => throw new IllegalArgumentException(s"bad knn filter term: $other")
        }
        col(fld) === value
      case other => throw new IllegalArgumentException(
        s"only a single term clause is implemented as a knn filter: $other")
    }
    val qn = math.sqrt(qvParsed.map(x => x * x).sum)
    val qvCol = array(qvParsed.map(lit): _*)
    val base = filterCol.fold(all)(all.filter)
    base.select(col("vec_id").as("n_id"), col("label"),
        (vecDot(qvCol, col("v")) / (lit(qn) * col("nrm"))).as("cos"))
      .orderBy(col("cos").desc, col("n_id"))
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.partitionBy().orderBy(col("cos").desc, col("n_id"))).cast("long"))
      .select(col("rank"), col("n_id"), col("label"), col("cos"))
      .orderBy(col("rank"))
  }

  private val s6Sql =
    s"""WITH vecs AS ($VecsSql),
       |q AS (SELECT v AS qv, nrm AS qn FROM vecs WHERE vec_id = 100),
       |scored AS (
       |  SELECT vec_id AS n_id, label, ${dotSql("qv", "v")} / (qn * nrm) AS cos
       |  FROM vecs CROSS JOIN q WHERE label = 7)
       |SELECT rank, n_id, label, cos FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, n_id) AS BIGINT) AS rank
       |  FROM scored) WHERE rank <= 5 ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------- s7
  /** Hybrid retrieval with RECIPROCAL RANK FUSION — ES 8.x's `rrf`
    * retriever: a lexical ranked list (term-frequency relevance over the
    * analyzed text) and a vector ranked list (cosine to the query
    * vector), each bounded to its top `window` (20), fused by
    * Σ 1/(rank_const + rank) with ES's default rank_const 60. Docs
    * appearing in only one list get only that list's contribution (the
    * RRF contract). Both source lists are bounded-heap top-k —
    * corpus-scale work is one scan per modality; the fusion join touches
    * ≤ 2·window rows. doc_id and vec_id share the id space (TESTDATA),
    * which is what makes the fusion join an equi-join. */
  private def s7(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("spark", "join", "window")
    val lex = Tables(s, d, "documents")
      .select(col("doc_id"),
        size(filter(split(lower(col("text")), "\\s+"),
          t => t.isin(terms.map(lit): _*))).cast("long").as("tf"))
      .filter(col("tf") > 0)
      .orderBy(col("tf").desc, col("doc_id")).limit(20)
      .withColumn("lex_rank", row_number().over(
        Window.partitionBy().orderBy(col("tf").desc, col("doc_id"))).cast("long"))
    val all = vecs(s, d)
    val q = all.filter(col("vec_id") === 42)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val vec = all.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= 42)
      .select(col("vec_id").as("doc_id"),
        (vecDot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(20)
      .withColumn("vec_rank", row_number().over(
        Window.partitionBy().orderBy(col("cos").desc, col("doc_id"))).cast("long"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("vec_rank"),
        (coalesce(lit(1.0) / (lit(60L) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60L) + col("vec_rank")), lit(0.0))).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
  }

  private val s7Sql =
    s"""WITH lex0 AS (
       |  SELECT doc_id, CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |      t -> t IN ('spark', 'join', 'window'))) AS BIGINT) AS tf
       |  FROM documents),
       |lex AS (
       |  SELECT doc_id, tf, CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, doc_id) AS BIGINT)
       |      AS lex_rank
       |  FROM lex0 WHERE tf > 0 ORDER BY tf DESC, doc_id LIMIT 20),
       |vecs AS ($VecsSql),
       |q AS (SELECT v AS qv, nrm AS qn FROM vecs WHERE vec_id = 42),
       |vec0 AS (
       |  SELECT vec_id AS doc_id, ${dotSql("qv", "v")} / (qn * nrm) AS cos
       |  FROM vecs CROSS JOIN q WHERE vec_id <> 42),
       |vec AS (
       |  SELECT doc_id, cos, CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS BIGINT)
       |      AS vec_rank
       |  FROM vec0 ORDER BY cos DESC, doc_id LIMIT 20)
       |SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id, lex_rank, vec_rank,
       |  COALESCE(1.0 / (60 + lex_rank), 0.0) + COALESCE(1.0 / (60 + vec_rank), 0.0) AS rrf
       |FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
       |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- s8
  /** Hybrid retrieval with LINEAR score fusion — ES 8.18's `linear`
    * retriever beside s7's `rrf`: each bounded top-window list is
    * min-max normalized to [0, 1] (the ES `minmax` normalizer; a
    * constant-score list normalizes to 1.0 — documented choice, ES
    * errors) and fused as `w_lex·norm(tf) + w_vec·norm(cos)` with
    * per-retriever weights; docs missing from a list contribute 0.
    * Same 100 TB shape as s7: one scan per modality into a bounded heap,
    * min/max are windows over the ≤ window-row lists, the fusion join
    * touches ≤ 2·window rows. */
  private def s8(s: SparkSession, d: String): DataFrame = {
    val wAll = Window.partitionBy().rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    def minmax(c: Column): Column = {
      val (lo, hi) = (min(c).over(wAll), max(c).over(wAll))
      when(hi > lo, (c - lo).cast("double") / (hi - lo)).otherwise(lit(1.0))
    }
    val terms = Seq("spark", "join", "window")
    val lex = Tables(s, d, "documents")
      .select(col("doc_id"),
        size(filter(split(lower(col("text")), "\\s+"),
          t => t.isin(terms.map(lit): _*))).cast("long").as("tf"))
      .filter(col("tf") > 0)
      .orderBy(col("tf").desc, col("doc_id")).limit(20)
      .withColumn("lex_norm", minmax(col("tf")))
    val all = vecs(s, d)
    val q = all.filter(col("vec_id") === 42)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val vec = all.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= 42)
      .select(col("vec_id").as("doc_id"),
        (vecDot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(20)
      .withColumn("vec_norm", minmax(col("cos")))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_norm"), col("vec_norm"),
        (coalesce(col("lex_norm"), lit(0.0)) * 2.0 +
          coalesce(col("vec_norm"), lit(0.0)) * 1.0).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
  }

  private val s8Sql =
    s"""WITH lex0 AS (
       |  SELECT doc_id, CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |      t -> t IN ('spark', 'join', 'window'))) AS BIGINT) AS tf
       |  FROM documents),
       |lexw AS (SELECT doc_id, tf FROM lex0 WHERE tf > 0
       |  ORDER BY tf DESC, doc_id LIMIT 20),
       |lex AS (SELECT doc_id,
       |    CASE WHEN MAX(tf) OVER () > MIN(tf) OVER ()
       |      THEN CAST(tf - MIN(tf) OVER () AS DOUBLE) / (MAX(tf) OVER () - MIN(tf) OVER ())
       |      ELSE 1.0 END AS lex_norm
       |  FROM lexw),
       |vecs AS ($VecsSql),
       |q AS (SELECT v AS qv, nrm AS qn FROM vecs WHERE vec_id = 42),
       |vec0 AS (
       |  SELECT vec_id AS doc_id, ${dotSql("qv", "v")} / (qn * nrm) AS cos
       |  FROM vecs CROSS JOIN q WHERE vec_id <> 42),
       |vecw AS (SELECT doc_id, cos FROM vec0 ORDER BY cos DESC, doc_id LIMIT 20),
       |vec AS (SELECT doc_id,
       |    CASE WHEN MAX(cos) OVER () > MIN(cos) OVER ()
       |      THEN (cos - MIN(cos) OVER ()) / (MAX(cos) OVER () - MIN(cos) OVER ())
       |      ELSE 1.0 END AS vec_norm
       |  FROM vecw)
       |SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id, lex_norm, vec_norm,
       |  COALESCE(lex_norm, 0.0) * 2.0 + COALESCE(vec_norm, 0.0) * 1.0 AS score
       |FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
       |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- s9
  /** PRODUCT-QUANTIZED ANN (Jégou et al., PAMI 2011) — the third
    * compressed-index family beside s2/s3's LSH/IVF and s5's SQ8: the
    * 64-dim space splits into 8 subspaces of 8 dims, each learns a
    * 16-centroid codebook (integer k-means, the dd8 exactness rules:
    * quantize once at 2^12, integer squared-L2, `(s - s%n) div n`
    * means), every vector encodes to 8 one-byte codes, and the query
    * scores candidates by ADC — one lookup-table distance per subspace,
    * summed. 64 doubles become 8 bytes: the compression that lets a
    * 100 TB corpus' index live in memory.
    *
    * Shape: codebooks and the query's 8×16 LUT stay FRAMES (≤128 rows,
    * broadcast into every join — exactly how real PQ ships codebooks to
    * executors); assignment/encoding is a broadcast join + one
    * map-side-combinable min_by per (vector, subspace) — no windows over
    * the corpus, no driver state at all. Output: top-10 by ADC distance
    * with the EXACT integer d² alongside (the s4-style quality check —
    * ADC is an estimate; the exact column shows how tight). */
  /** Exact integer squared L2 via the dot identity on the codegen'd
    * long dot (r19): d² = a·a + b·b − 2·a·b — every term is exact LONG
    * arithmetic (components ≤ ~2^13, 64-dim sums ≤ ~2^40), so results
    * are bit-identical to the interpreted (x−y)² fold it replaces. */
  private def pqD2(a: Column, b: Column): Column =
    vecDotLong(a, a) + vecDotLong(b, b) - lit(2L) * vecDotLong(a, b)

  /** (vec_id, q) quantized corpus for the PQ family (s9/s17). */
  private def pqBase(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * 4096L).cast("long")).as("q"))

  /** (vec_id, s, qs) per-subspace slices: 8 subspaces × 8 dims. */
  private def pqSlices(base: DataFrame): DataFrame =
    // one scan + explode (r19) — the 8-way unionAll re-scanned and
    // re-quantized the corpus once per subspace
    base.select(col("vec_id"), explode(array((0 until 8).map(su =>
        struct(lit(su.toLong).as("s"), slice(col("q"), su * 8 + 1, 8).as("qs"))): _*)).as("z"))
      .select(col("vec_id"), col("z.s").as("s"), col("z.qs").as("qs"))

  /** PQ codebook (s, cid, cq): per-subspace seeds (16 smallest-salted-
    * hash vectors — the d80 deterministic-draw contract) + one exact
    * integer Lloyd round; emptied clusters keep their seed (dd8 rule). */
  private def pqBook(slices: DataFrame): DataFrame = {
    val wSeed = Window.partitionBy(col("s"))
      .orderBy(col("_h").asc, col("vec_id").asc)
    val c0 = slices
      .withColumn("_h", TextFunctions.stableHash32(concat(
        col("vec_id").cast("string"), lit(":"), col("s").cast("string"), lit(":seed"))))
      .withColumn("_rn", row_number().over(wSeed))
      .filter(col("_rn") <= 16)
      .select(col("s"), (col("_rn") - 1L).as("cid"), col("qs").as("cq"))
    val upd = pqAssign(slices, c0)
      .select(col("s"), col("cid"), posexplode(col("qs")).as(Seq("i", "v")))
      .groupBy(col("s"), col("cid"), col("i"))
      .agg(sum(col("v")).as("sm"), count(lit(1)).as("n"))
      .select(col("s"), col("cid"), col("i"), expr("(sm - (sm % n)) div n").as("m"))
      .groupBy(col("s"), col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
        x => x.getField("m")).as("cq2"))
    c0.join(upd, Seq("s", "cid"), "left_outer")
      .select(col("s"), col("cid"), coalesce(col("cq2"), col("cq")).as("cq"))
  }

  /** Assignment: broadcast the ≤128-row codebook, min_by per (vec, s) —
    * map-side combinable, no corpus window. */
  private def pqAssign(slices: DataFrame, cents: DataFrame): DataFrame =
    slices.join(broadcast(cents), Seq("s"))
      .groupBy(col("vec_id"), col("s"))
      .agg(min_by(struct(col("cid"), col("qs")),
        struct(pqD2(col("qs"), col("cq")).as("d2"), col("cid"))).as("r"))
      .select(col("vec_id"), col("s"), col("r.cid").as("cid"), col("r.qs").as("qs"))

  /** ADC probe for query vector 42 over (codes, book): 8×16 LUT
    * broadcast, Σ lookup per vector, exact d² on the top-10 — shared by
    * s9 (rebuild) and s17 (standing parquet codes + book). */
  private def pqProbe(s: SparkSession, d: String,
                      codes: DataFrame, book: DataFrame): DataFrame = {
    val base = pqBase(s, d)
    val qSlices = pqSlices(base).filter(col("vec_id") === 42)
      .select(col("s"), col("qs").as("query_qs"))
    val lut = book.join(broadcast(qSlices), Seq("s"))
      .select(col("s"), col("cid"), pqD2(col("cq"), col("query_qs")).as("dq"))
    val adc = codes.join(broadcast(lut), Seq("s", "cid"))
      .groupBy(col("vec_id")).agg(sum(col("dq")).as("adc_d2"))
      .filter(col("vec_id") =!= 42)
      .orderBy(col("adc_d2").asc, col("vec_id").asc).limit(10)
    // exact integer d² alongside (the s4-style recall/quality check)
    val qv = base.filter(col("vec_id") === 42).select(col("q").as("query_q"))
    adc.join(base, "vec_id").crossJoin(broadcast(qv))
      .select(col("vec_id"), col("adc_d2"), pqD2(col("q"), col("query_q")).as("exact_d2"))
      .orderBy(col("adc_d2").asc, col("vec_id").asc)
  }

  private def s9(s: SparkSession, d: String): DataFrame = {
    val slices = pqSlices(pqBase(s, d))
    val book = pqBook(slices)
    val codes = pqAssign(slices, book).select(col("vec_id"), col("s"), col("cid"))
    pqProbe(s, d, codes, book)
  }

  private val s9Sql: String = {
    def d2(a: String, b: String) =
      s"list_sum(list_transform(list_zip($a, $b), z -> (z[1] - z[2]) * (z[1] - z[2])))"
    s"""WITH base AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 4096) AS BIGINT)) AS q
       |  FROM embeddings),
       |slices AS (
       |  SELECT vec_id, s, q[CAST(s * 8 + 1 AS INTEGER) : CAST(s * 8 + 8 AS INTEGER)] AS qs
       |  FROM base, unnest(range(0, 8)) AS t(s)),
       |c0 AS (
       |  SELECT s, rn - 1 AS cid, qs AS cq FROM (
       |    SELECT s, qs, ROW_NUMBER() OVER (PARTITION BY s ORDER BY
       |      CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':' ||
       |        CAST(s AS VARCHAR) || ':seed'), 1, 8)) AS BIGINT), vec_id) AS rn
       |    FROM slices) WHERE rn <= 16),
       |asg1 AS (
       |  SELECT vec_id, s, cid, qs FROM (
       |    SELECT l.vec_id, l.s, c.cid, l.qs,
       |      ROW_NUMBER() OVER (PARTITION BY l.vec_id, l.s
       |        ORDER BY ${d2("l.qs", "c.cq")}, c.cid) AS rn
       |    FROM slices l JOIN c0 c USING (s)) WHERE rn = 1),
       |upd AS (
       |  SELECT s, cid, list(m ORDER BY i) AS cq2 FROM (
       |    SELECT s, cid, i, CAST((sm - (sm % n)) // n AS BIGINT) AS m FROM (
       |      SELECT s, cid, i, SUM(v) AS sm, COUNT(*) AS n FROM (
       |        SELECT s, cid, i, qs[CAST(i + 1 AS INTEGER)] AS v
       |        FROM asg1, unnest(range(0, 8)) AS t(i))
       |      GROUP BY s, cid, i))
       |  GROUP BY s, cid),
       |c1 AS (
       |  SELECT c0.s, c0.cid, COALESCE(upd.cq2, c0.cq) AS cq
       |  FROM c0 LEFT JOIN upd ON c0.s = upd.s AND c0.cid = upd.cid),
       |codes AS (
       |  SELECT vec_id, s, cid FROM (
       |    SELECT l.vec_id, l.s, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY l.vec_id, l.s
       |        ORDER BY ${d2("l.qs", "c.cq")}, c.cid) AS rn
       |    FROM slices l JOIN c1 c USING (s)) WHERE rn = 1),
       |qsl AS (SELECT s, qs AS query_qs FROM slices WHERE vec_id = 42),
       |lut AS (
       |  SELECT c.s, c.cid, ${d2("c.cq", "q.query_qs")} AS dq
       |  FROM c1 c JOIN qsl q USING (s)),
       |adc AS (
       |  SELECT vec_id, CAST(SUM(dq) AS BIGINT) AS adc_d2
       |  FROM codes JOIN lut USING (s, cid)
       |  WHERE vec_id <> 42
       |  GROUP BY vec_id ORDER BY adc_d2, vec_id LIMIT 10),
       |qv AS (SELECT q AS query_q FROM base WHERE vec_id = 42)
       |SELECT adc.vec_id, adc.adc_d2, CAST(${d2("b.q", "qv.query_q")} AS BIGINT) AS exact_d2
       |FROM adc JOIN base b ON adc.vec_id = b.vec_id CROSS JOIN qv
       |ORDER BY adc.adc_d2, adc.vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- s10
  /** Matryoshka (MRL-style) two-stage retrieval: rank the corpus by the
    * FIRST 16 of 64 dimensions (the cheap prefix pass — 1/4 the
    * multiply-adds, and at 100 TB 1/4 the bytes scanned when the prefix
    * is stored as its own column), keep the prefix top-5 per query, then
    * REFINE only the survivors with the full-dimension cosine (a bounded
    * 5-rows-per-query join — full vectors never ride the quadratic
    * stage). Output carries both scores so the refinement is visible and
    * oracle-checkable. */
  private def s10(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d)
      .withColumn("vp", slice(col("v"), 1, 16))
      .withColumn("nrmp", sqrt(vecDot(col("vp"), col("vp"))))
    val q = all
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
        col("vp").as("qvp"), col("nrmp").as("qnp"))
      .filter(inPanel(col("q_id")))
    // stage 1: prefix-dim scoring over narrow (id, 16-dim, norm) rows
    val pref = all.select(col("vec_id"), col("vp"), col("nrmp"))
      .join(broadcast(q.select(col("q_id"), col("qvp"), col("qnp"))),
        col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (vecDot(col("qvp"), col("vp")) / (col("qnp") * col("nrmp"))).as("cos_prefix"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos_prefix").desc, col("n_id"))))
      .filter(col("rank") <= 5)
    // stage 2: full-dim refine on the ≤ 5-per-query survivors only
    val full = vecs(s, d).select(col("vec_id").as("n_id"),
      col("v").as("nv"), col("nrm").as("nn"))
    pref.join(full, Seq("n_id"))
      .join(broadcast(q.select(col("q_id"), col("qv"), col("qn"))), Seq("q_id"))
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("n_id"),
        col("cos_prefix"),
        (vecDot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("cos_full"))
      .orderBy(col("q_id"), col("rank"))
  }

  private val s10Sql =
    s"""WITH vecs AS ($VecsSql),
       |pv AS (SELECT vec_id, v, nrm, v[1:16] AS vp FROM vecs),
       |pn AS (SELECT vec_id, v, nrm, vp, sqrt(${dotSql("vp", "vp")}) AS nrmp FROM pv),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, vp AS qvp, nrmp AS qnp
       |  FROM pn WHERE ${panelSql("vec_id")}),
       |pref AS (
       |  SELECT q_id, vec_id AS n_id, ${dotSql("qvp", "vp")} / (qnp * nrmp) AS cos_prefix
       |  FROM pn CROSS JOIN q WHERE vec_id <> q_id),
       |top AS (SELECT * FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_prefix DESC, n_id) AS rank
       |  FROM pref) WHERE rank <= 5)
       |SELECT q_id, rank, n_id, cos_prefix,
       |  ${dotSql("nv", "qv2")} / (nn * qn2) AS cos_full
       |FROM top
       |  JOIN (SELECT vec_id, v AS nv, nrm AS nn FROM pn) n ON n_id = n.vec_id
       |  JOIN (SELECT vec_id AS q_id, v AS qv2, nrm AS qn2 FROM pn WHERE ${panelSql("vec_id")}) q2
       |    USING (q_id)
       |ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------- shared BBQ helpers
  /** s11/s12 shared 1-bit code construction: per-dim MIDRANGE thresholds
    * ((min+max)/2 — order-free aggregates, bit-exact in any engine; an
    * avg would be partial-aggregation-order dependent) and sign bits
    * packed into two 32-bit halves of BIGINTs via an MSB-first `acc*2+b`
    * fold. ONE implementation — a threshold or packing tweak applied to
    * one path cannot silently break the other or the s13 recall table. */
  private def bbqCodes(all: DataFrame): DataFrame = {
    val ma = all.select(posexplode(col("v")).as(Seq("dd", "x")))
      .groupBy(col("dd")).agg(((min(col("x")) + max(col("x"))) / 2.0).as("mu"))
      .agg(array_sort(collect_list(struct(col("dd"), col("mu")))).as("ms"))
      .select(transform(col("ms"), m => m.getField("mu")).as("mus"))
    def half(lo: Int): Column =
      aggregate(transform(sequence(lit(lo + 31), lit(lo), lit(-1)),
        i => when(element_at(col("v"), i + 1) > element_at(col("mus"), i + 1),
          lit(1L)).otherwise(lit(0L))),
        lit(0L), (acc, b) => acc * 2 + b)
    all.crossJoin(broadcast(ma))
      .select(col("vec_id"), half(0).as("lo"), half(32).as("hi"))
  }

  /** DuckDB twin of one packed half. */
  private def bbqHalfSql(hiBit: Int, loBit: Int): String = {
    val i1 = "CAST(i AS INTEGER) + 1"
    s"""CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(range($hiBit, ${loBit - 1}, -1), i ->
       |    CAST(CASE WHEN v[$i1] > mus[$i1] THEN 1 ELSE 0 END AS BIGINT))),
       |  (acc, b) -> acc * 2 + b) AS BIGINT)"""
  }

  /** DuckDB twin of the threshold CTEs (emits `b`, `ba` over `vs`). */
  private val BbqThresholdsSql =
    """b AS (SELECT d, (MIN(v[CAST(d AS INTEGER) + 1]) + MAX(v[CAST(d AS INTEGER) + 1])) / 2.0 AS mu
      |      FROM vs, range(0, 64) t(d) GROUP BY d),
      |ba AS (SELECT list(mu ORDER BY d) AS mus FROM b)""".stripMargin

  // ---------------------------------------------------------------- s11
  /** 1-bit binary-quantized ANN with exact rerank — the "BBQ" shape ES
    * ships for 8.16+ dense_vector (32× smaller codes scanned brute-force,
    * then the true vectors re-score a small candidate pool):
    *
    *   1. per-dim MIDRANGE thresholds ((min+max)/2 — min/max are
    *      order-free aggregates, so the threshold is bit-exact in any
    *      engine; an avg would be partial-aggregation-order dependent),
    *   2. sign bits packed into two 32-bit halves of BIGINTs via an
    *      MSB-first fold (no shift intrinsics needed — `acc*2+b`),
    *   3. hamming = popcount(xor) over the code columns — the candidate
    *      scan touches 16 BYTES per vector instead of 512,
    *   4. top-20 hamming candidates per query re-scored with the exact
    *      codegen'd dot on the RAW vectors — joined back by id, so full
    *      vectors are read for candidates only.
    *
    * Scale shape: the query side broadcasts (s5 pattern); the hamming
    * rank is WindowGroupLimit-bounded; the rerank join is |q|·20 rows
    * against the corpus by id. At 100 TB the code table is the only
    * full-scan operand. */
  /** s11's probe over a packed-sign code table (vec_id, lo, hi) and the
    * raw vector table (rerank joins by id) — shared by s11 (rebuild) and
    * s18 (standing parquet code index). */
  private def bbqProbe(codes: DataFrame, all: DataFrame): DataFrame = {
    val q = codes.filter(inPanel(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("lo").as("qlo"), col("hi").as("qhi"))
    val ham = codes.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (bit_count(col("lo").bitwiseXOR(col("qlo"))) +
          bit_count(col("hi").bitwiseXOR(col("qhi")))).as("hamming"))
    val cand = ham.withColumn("hrank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("hamming").asc, col("n_id"))))
      .filter(col("hrank") <= 20)
      .select(col("q_id"), col("n_id"))
    val rer = cand
      .join(all.select(col("vec_id").as("n_id"), col("v").as("nv")), "n_id")
      .join(broadcast(all.select(col("vec_id").as("q_id"), col("v").as("qv"))
        .filter(inPanel(col("q_id")))), "q_id")
      .select(col("q_id"), col("n_id"), vecDot(col("qv"), col("nv")).as("dot"))
    rer.withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("dot").desc, col("n_id"))))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("n_id"), col("dot"))
      .orderBy(col("q_id"), col("rank"))
  }

  private def s11(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d).select(col("vec_id"), col("v"))
    bbqProbe(bbqCodes(all), all)
  }

  private val s11Sql = {
    s"""WITH vs0 AS ($VecsSql),
       |vs AS (SELECT vec_id, v FROM vs0),
       |$BbqThresholdsSql,
       |codes AS (SELECT vec_id,
       |    ${bbqHalfSql(31, 0)} AS lo,
       |    ${bbqHalfSql(63, 32)} AS hi
       |  FROM vs, ba),
       |q AS (SELECT vec_id AS q_id, lo AS qlo, hi AS qhi FROM codes WHERE ${panelSql("vec_id")}),
       |ham AS (SELECT q_id, vec_id AS n_id,
       |    bit_count(xor(lo, qlo)) + bit_count(xor(hi, qhi)) AS hamming
       |  FROM codes, q WHERE vec_id <> q_id),
       |cand AS (SELECT q_id, n_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY hamming, n_id) AS hrank
       |    FROM ham)
       |  WHERE hrank <= 20),
       |rr AS (SELECT c.q_id, c.n_id,
       |    CAST(list_reduce(list_prepend(0.0,
       |      list_transform(list_zip(qv.v, nv.v), z -> z[1] * z[2])),
       |      (acc, x) -> acc + x) AS DOUBLE) AS dot
       |  FROM cand c
       |  JOIN vs nv ON c.n_id = nv.vec_id
       |  JOIN vs qv ON c.q_id = qv.vec_id)
       |SELECT q_id, rank, n_id, dot FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dot DESC, n_id) AS rank
       |  FROM rr)
       |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- s12
  /** IVF × 1-bit BBQ — the composed SCALE path real vector stores ship
    * (ES/Lucene: coarse partition + quantized codes + raw rerank): s3's
    * inverted-file assignment bounds WHICH vectors are compared (probe
    * the `nprobe = 2` nearest cells only — an equi-join on cell, never a
    * corpus-wide scan), s11's packed sign codes make each comparison 16
    * bytes of popcount, and the exact dot re-scores only the top-10
    * hamming survivors. At 100 TB: the code table partitions by cell,
    * a query touches 2 cells' row groups, and full vectors are read for
    * ≤ 10 candidates per query. */
  private def s12(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d).select(col("vec_id"), col("v"), col("nrm"))
    // FIXED centroid sample (r19, the s3 contract): the PanelBound cap
    // makes the centroid count independent of corpus growth, so the
    // broadcast is corpus-independent and the build stays n·k for
    // constant k (the unbounded `% 97` set grew k ∝ n — assignment was
    // n²/97 distance evals, the r18 verdict's finding 2; s3 got this
    // exact fix in r17 and s15's standing index already ships it).
    val cents = all.filter(col("vec_id") % 97 === 0 && col("vec_id") < PanelBound)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
    // per-vector cell ranking (rn = 1 assigns; queries also probe rn = 2)
    val scored = all.join(broadcast(cents))
      .select(col("vec_id"), col("c_id"),
        (vecDot(col("v"), col("cv")) / (col("nrm") * col("cn"))).as("score"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("score").desc, col("c_id"))))
    val assign = scored.filter(col("rn") === 1)
      .select(col("vec_id"), col("c_id").as("cell"))
    // the s11-shared midrange-threshold sign codes, joined to their cell
    val codes = bbqCodes(all.select(col("vec_id"), col("v")))
      .join(assign, "vec_id")
    val qProbe = scored.filter(inPanel(col("vec_id")) && col("rn") <= 2)
      .select(col("vec_id").as("q_id"), col("c_id").as("cell"))
    val qCodes = codes.filter(inPanel(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("lo").as("qlo"), col("hi").as("qhi"))
    val ham = qProbe.join(broadcast(qCodes), "q_id")
      .join(codes.select(col("vec_id").as("n_id"), col("cell"),
        col("lo"), col("hi")), "cell")
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        (bit_count(col("lo").bitwiseXOR(col("qlo"))) +
          bit_count(col("hi").bitwiseXOR(col("qhi")))).as("hamming"))
    val cand = ham
      // a neighbor can surface via both probed cells — dedupe before rank
      .groupBy(col("q_id"), col("n_id")).agg(min(col("hamming")).as("hamming"))
      .withColumn("hrank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("hamming").asc, col("n_id"))))
      .filter(col("hrank") <= 10)
      .select(col("q_id"), col("n_id"))
    cand
      .join(all.select(col("vec_id").as("n_id"), col("v").as("nv")), "n_id")
      .join(broadcast(all.filter(inPanel(col("vec_id")))
        .select(col("vec_id").as("q_id"), col("v").as("qv"))), "q_id")
      .select(col("q_id"), col("n_id"), vecDot(col("qv"), col("nv")).as("dot"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("dot").desc, col("n_id"))))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("n_id"), col("dot"))
      .orderBy(col("q_id"), col("rank"))
  }

  private val s12Sql = {
    s"""WITH vs0 AS ($VecsSql),
       |vs AS (SELECT vec_id, v, nrm FROM vs0),
       |cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM vs
       |  WHERE vec_id % 97 = 0 AND vec_id < $PanelBound),
       |scored AS (
       |  SELECT vec_id, c_id,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY ${dotSql("v", "cv")} / (nrm * cn) DESC, c_id) AS rn
       |  FROM vs CROSS JOIN cents),
       |assign AS (SELECT vec_id, c_id AS cell FROM scored WHERE rn = 1),
       |$BbqThresholdsSql,
       |codes AS (SELECT c.vec_id, cell,
       |    ${bbqHalfSql(31, 0)} AS lo,
       |    ${bbqHalfSql(63, 32)} AS hi
       |  FROM (SELECT vec_id, v FROM vs) c, ba, assign a
       |  WHERE c.vec_id = a.vec_id),
       |qprobe AS (SELECT vec_id AS q_id, c_id AS cell FROM scored
       |  WHERE ${panelSql("vec_id")} AND rn <= 2),
       |qcodes AS (SELECT vec_id AS q_id, lo AS qlo, hi AS qhi FROM codes
       |  WHERE ${panelSql("vec_id")}),
       |ham AS (
       |  SELECT q_id, n_id, MIN(hamming) AS hamming FROM (
       |    SELECT p.q_id, c.vec_id AS n_id,
       |      bit_count(xor(c.lo, qc.qlo)) + bit_count(xor(c.hi, qc.qhi)) AS hamming
       |    FROM qprobe p JOIN qcodes qc ON p.q_id = qc.q_id
       |    JOIN codes c ON c.cell = p.cell AND c.vec_id <> p.q_id)
       |  GROUP BY q_id, n_id),
       |cand AS (SELECT q_id, n_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY hamming, n_id) AS hrank
       |    FROM ham)
       |  WHERE hrank <= 10),
       |rr AS (SELECT c.q_id, c.n_id,
       |    CAST(${dotSql("qv.v", "nv.v")} AS DOUBLE) AS dot
       |  FROM cand c
       |  JOIN vs nv ON c.n_id = nv.vec_id
       |  JOIN vs qv ON c.q_id = qv.vec_id)
       |SELECT q_id, rank, n_id, dot FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dot DESC, n_id) AS rank
       |  FROM rr)
       |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- s13
  /** Recall of the QUANTIZED family (s4's "measure, don't guess" applied
    * to BBQ): per query, how many of brute-force top-3 survive (a) the
    * full-scan 1-bit path (s11) and (b) the IVF-bucketed path (s12) —
    * the two-column table is exactly the accuracy/cost trade a deployment
    * reads before turning nprobe down. Integer counts, no float compare. */
  private def s13(s: SparkSession, d: String): DataFrame = {
    val truth = s1(s, d).filter(col("rank") <= 3).select(col("q_id"), col("n_id"))
    def recallOf(approx: DataFrame, name: String): DataFrame =
      approx.select(col("q_id"), col("n_id"))
        .join(truth, Seq("q_id", "n_id"))
        .groupBy(col("q_id")).agg(count(lit(1)).as(name))
    truth.select(col("q_id")).distinct()
      .join(recallOf(s11(s, d), "_bbq"), Seq("q_id"), "left")
      .join(recallOf(s12(s, d), "_ivf"), Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("_bbq"), lit(0L)).as("bbq_recall3"),
        coalesce(col("_ivf"), lit(0L)).as("ivf_bbq_recall3"))
      .orderBy(col("q_id"))
  }

  private val s13Sql =
    s"""WITH t0 AS ($s1Sql),
       |a1 AS ($s11Sql),
       |a2 AS ($s12Sql),
       |truth AS (SELECT q_id, n_id FROM t0 WHERE rank <= 3),
       |h1 AS (SELECT truth.q_id, COUNT(*) AS n FROM a1
       |  JOIN truth ON a1.q_id = truth.q_id AND a1.n_id = truth.n_id GROUP BY truth.q_id),
       |h2 AS (SELECT truth.q_id, COUNT(*) AS n FROM a2
       |  JOIN truth ON a2.q_id = truth.q_id AND a2.n_id = truth.n_id GROUP BY truth.q_id)
       |SELECT q.q_id,
       |  CAST(COALESCE(h1.n, 0) AS BIGINT) AS bbq_recall3,
       |  CAST(COALESCE(h2.n, 0) AS BIGINT) AS ivf_bbq_recall3
       |FROM (SELECT DISTINCT q_id FROM truth) q
       |LEFT JOIN h1 ON q.q_id = h1.q_id
       |LEFT JOIN h2 ON q.q_id = h2.q_id
       |ORDER BY q.q_id""".stripMargin

  // ---------------------------------------------------------------- s14
  /** Graph ANN — the HNSW disposition. ES's default dense-vector index is
    * HNSW (Lucene); a literal HNSW (mutable multi-layer skip-graph, greedy
    * descent with a visited set) is a pointer-chasing structure that does
    * not distribute. This is the DataFrame-shaped equivalent: a 2-LAYER
    * beam search over a PRECOMPUTED neighbor graph.
    *
    *   layer 1 (coarse):  the IVF centroid set (s3's deterministic
    *     `vec_id % 97` stand-ins) — a query's entry points are its 3
    *     nearest centroids, found by one broadcast scored pass (HNSW's
    *     upper layers do exactly this: route to good starting nodes;
    *     multi-entry is the nprobe analogue and is what lets the beam
    *     cover adjacent cells).
    *   layer 0 (graph):   each vector's M=8 nearest neighbors AMONG ITS
    *     IVF CELL (cell-bounded self-join, never corpus²) UNIONED with
    *     hub edges to its 3 nearest centroids — the HNSW long links,
    *     letting the walk cross cell boundaries mid-search (node →
    *     nearby centroid → that centroid's cell). The standing index a
    *     deployment builds once and writes as parquet keyed by src (the
    *     dd7 signature-index pattern; built inline here because the
    *     gate measures one run).
    *   search:            H=4 beam-search hops. Each hop expands the
    *     beam's out-edges (equi-join on src), unions the beam, dedupes,
    *     scores exact cosine against the query, keeps the best B=24 —
    *     HNSW's ef-search candidate list as a bounded window. Final
    *     answer: top-3 of the last beam, self excluded. The ExtSpec
    *     recall test pins that this tuning stays USEFUL, not just
    *     consistent (≥ 60% of brute-force top-3 at sf0.001; measured
    *     77% there, 60% at sf0.01's different draw — the toy corpora
    *     are near-random 64-d vectors, the hard case for any ANN).
    *
    * Everything is deterministic (ties on id), so the oracle replays the
    * whole construction. Scale shape: graph build is cell-bounded; each
    * hop touches ≤ B·M rows/query via equi-joins (queries broadcast);
    * nothing is ever corpus × corpus. Recall the trade: hops reach
    * neighbors-of-neighbors, so the beam escapes the entry cell through
    * cross-cell centroid edges — exactly the role of HNSW's long links. */
  private def s14(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d)
    val cents = all.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
    // IVF assignment (same deterministic build as s3)
    // max_by with a (score desc, c_id asc) ordering struct replaces the
    // row_number window (r19): the argmax is map-side combinable, so the
    // n x k fan-out partial-aggregates before the exchange instead of
    // sort-shuffling whole. (A merged one-pass (argmax, top-3 hubs)
    // aggregate was tried and MEASURED SLOWER — collect_list ships the
    // whole n×k fan-out through the shuffle with no map-side combine,
    // plus an interpreted per-group array sort; 3.9 → 4.9 s at sf0.1.)
    val assign = all.join(broadcast(cents))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("v"), col("nrm"), col("c_id")),
        struct((vecDot(col("v"), col("cv")) / (col("nrm") * col("cn"))).as("score"),
          (-col("c_id")).as("tb"))).as("r"))
      .select(col("vec_id"), col("r.v").as("v"), col("r.nrm").as("nrm"),
        col("r.c_id").as("cell"))
    // layer-0 graph: within-cell top-M out-edges PLUS hub edges to each
    // node's 3 nearest centroids — the HNSW long links. Hub edges are
    // what lets the beam cross cell boundaries mid-walk (node → nearby
    // centroid → that centroid's cell), so recall is not capped by the
    // entry cells. Union-distinct, persisted (read once per hop).
    val gl = assign.select(col("cell"), col("vec_id").as("src"),
      col("v").as("sv"), col("nrm").as("sn"))
    val gr = assign.select(col("cell"), col("vec_id").as("dst"),
      col("v").as("dv"), col("nrm").as("dn"))
    val cellEdges = gl.join(gr, Seq("cell")).filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        (vecDot(col("sv"), col("dv")) / (col("sn") * col("dn"))).as("ecos"))
      .withColumn("er", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("ecos").desc, col("dst"))))
      .filter(col("er") <= 8)
      .select(col("src"), col("dst"))
    val hubEdges = all.join(broadcast(cents))
      .filter(col("vec_id") =!= col("c_id"))
      .select(col("vec_id").as("src"), col("c_id").as("dst"),
        (vecDot(col("v"), col("cv")) / (col("nrm") * col("cn"))).as("score"))
      .withColumn("hr", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("score").desc, col("dst"))))
      .filter(col("hr") <= 3)
      .select(col("src"), col("dst"))
    val graph = graft.Eager.keyed(
      cellEdges.unionByName(hubEdges).distinct(), "s14_graph").persist()

    val q = all.filter(inPanel(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    // layer-1 descent: nearest centroid = entry node (centroids ARE nodes)
    val entry = q.join(broadcast(cents))
      .select(col("q_id"), col("c_id"),
        (vecDot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("score"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("c_id"))))
      .filter(col("rn") <= 3)
      .select(col("q_id"), col("c_id").as("n_id"))

    val nv = all.select(col("vec_id").as("n_id"), col("v").as("nv"), col("nrm").as("nn"))
    def topBeam(nodes: DataFrame, b: Int): DataFrame =
      nodes.join(q, "q_id").join(nv, "n_id")
        .select(col("q_id"), col("n_id"),
          (vecDot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("cos"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))))
        .filter(col("rn") <= b)

    // Each hop PINS the beam to a LocalRelation: the beam is driver-tiny
    // by construction (≤ |queries|·B id pairs — the query side is
    // broadcast-small by the family's contract), and without the pin the
    // hop lineage nests 4 deep, exploding Catalyst planning + codegen
    // (measured 35 s → ~4 s at sf0.01). Same driver-bounded-state rule as
    // the centroid collects elsewhere in this file.
    var beam = graft.Eager.pin(entry)
    for (_ <- 1 to 4) {
      val expanded = beam.select("q_id", "n_id")
        .join(graph, col("n_id") === col("src"))
        .select(col("q_id"), col("dst").as("n_id"))
        .unionByName(beam.select("q_id", "n_id"))
        .distinct()
      beam = graft.Eager.pin(topBeam(expanded, 24).select("q_id", "n_id"))
    }
    val res = topBeam(beam.filter(col("n_id") =!= col("q_id")), 3)
      .select(col("q_id"), col("rn").cast("long").as("rank"), col("n_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
    graft.Eager.finish(res, graph)
  }

  private val s14Sql = {
    def beamHop(prev: String, exp: String, beam: String) =
      s"""$exp AS (SELECT DISTINCT q_id, n_id FROM (
         |  SELECT b.q_id, g.dst AS n_id FROM $prev b JOIN graph g ON b.n_id = g.src
         |  UNION ALL SELECT q_id, n_id FROM $prev)),
         |$beam AS MATERIALIZED (SELECT q_id, n_id FROM (
         |  SELECT e.q_id, e.n_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.q_id
         |      ORDER BY ${dotSql("q.qv", "x.v")} / (q.qn * x.nrm) DESC, e.n_id) AS rn
         |  FROM $exp e JOIN q ON e.q_id = q.q_id JOIN vecs x ON e.n_id = x.vec_id)
         |  WHERE rn <= 24)""".stripMargin
    s"""WITH vecs AS MATERIALIZED ($VecsSql),
       |cents AS MATERIALIZED (
       |  SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM vecs WHERE vec_id % 97 = 0),
       |assign AS MATERIALIZED (
       |  SELECT vec_id, v, nrm, c_id AS cell FROM (
       |    SELECT vec_id, v, nrm, c_id,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id
       |        ORDER BY ${dotSql("v", "cv")} / (nrm * cn) DESC, c_id) AS rn
       |    FROM vecs CROSS JOIN cents) WHERE rn = 1),
       |cell_edges AS (
       |  SELECT src, dst FROM (
       |    SELECT s.vec_id AS src, x.vec_id AS dst,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id
       |        ORDER BY ${dotSql("s.v", "x.v")} / (s.nrm * x.nrm) DESC, x.vec_id) AS er
       |    FROM assign s JOIN assign x ON s.cell = x.cell AND s.vec_id <> x.vec_id)
       |  WHERE er <= 8),
       |hub_edges AS (
       |  SELECT src, dst FROM (
       |    SELECT vec_id AS src, c_id AS dst,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id
       |        ORDER BY ${dotSql("v", "cv")} / (nrm * cn) DESC, c_id) AS hr
       |    FROM vecs CROSS JOIN cents WHERE vec_id <> c_id)
       |  WHERE hr <= 3),
       |graph AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT * FROM cell_edges UNION ALL SELECT * FROM hub_edges)),
       |q AS MATERIALIZED (
       |  SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM vecs WHERE ${panelSql("vec_id")}),
       |beam0 AS (SELECT q_id, c_id AS n_id FROM (
       |  SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY ${dotSql("qv", "cv")} / (qn * cn) DESC, c_id) AS rn
       |  FROM q CROSS JOIN cents) WHERE rn <= 3),
       |${beamHop("beam0", "exp1", "beam1")},
       |${beamHop("beam1", "exp2", "beam2")},
       |${beamHop("beam2", "exp3", "beam3")},
       |${beamHop("beam3", "exp4", "beam4")}
       |SELECT q_id, rank, n_id, cos FROM (
       |  SELECT e.q_id, e.n_id, ${dotSql("q.qv", "x.v")} / (q.qn * x.nrm) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY e.q_id
       |      ORDER BY ${dotSql("q.qv", "x.v")} / (q.qn * x.nrm) DESC, e.n_id) AS rank
       |  FROM beam4 e JOIN q ON e.q_id = q.q_id JOIN vecs x ON e.n_id = x.vec_id
       |  WHERE e.n_id <> e.q_id) WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "s16_lsh_standing" -> s16 _,
    "s17_pq_standing" -> s17 _,
    "s18_bbq_standing" -> s18 _,
    "s15_ivf_standing" -> s15 _,
    "s14_hnsw_beam" -> s14 _,
    "s13_bbq_recall" -> s13 _,
    "s12_ivf_bbq" -> s12 _,
    "s11_bbq_ann" -> s11 _,
    "s10_matryoshka" -> s10 _,
    "s9_pq_ann" -> s9 _,
    "s8_linear_hybrid" -> s8 _,
    "s6_es_knn" -> s6 _,
    "s7_rrf_hybrid" -> s7 _,
    "s5_sq_ann" -> s5 _,
    "s1_cosine_topk" -> s1 _,
    "s2_lsh_ann" -> s2 _,
    "s3_ivf_ann" -> s3 _,
    "s4_ann_recall" -> s4 _)

  val oracle: Map[String, String] = Map(
    "s15_ivf_standing" -> s3Sql, // the standing index must reproduce s3 exactly
    "s16_lsh_standing" -> s2Sql, // … and s16/s17/s18 their rebuild paths
    "s17_pq_standing" -> s9Sql,
    "s18_bbq_standing" -> s11Sql,
    "s14_hnsw_beam" -> s14Sql,
    "s13_bbq_recall" -> s13Sql,
    "s12_ivf_bbq" -> s12Sql,
    "s11_bbq_ann" -> s11Sql,
    "s10_matryoshka" -> s10Sql,
    "s9_pq_ann" -> s9Sql,
    "s8_linear_hybrid" -> s8Sql,
    "s6_es_knn" -> s6Sql,
    "s7_rrf_hybrid" -> s7Sql,
    "s5_sq_ann" -> s5Sql,
    "s1_cosine_topk" -> s1Sql,
    "s2_lsh_ann" -> s2Sql,
    "s3_ivf_ann" -> s3Sql,
    "s4_ann_recall" -> s4Sql)
}
