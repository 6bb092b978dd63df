package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import TextFunctions._

/** Text-analysis operators over the `documents` table — the training-data
  * pipeline extensions (language-ID, quality scoring, token counting,
  * fingerprinting). The reference has no text pipeline (SURVEY §2 D:
  * full-text is Q6's ES analyzer, external); these are the north-star
  * extensions, built set-oriented so each runs as a constant number of
  * shuffles regardless of corpus size.
  *
  * Every query's arithmetic is integer or single-division double so the
  * DuckDB oracle reproduces values bit-exactly (see TextFunctions).
  */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")

  private val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  // ---------------------------------------------------------------- t1
  /** Token counting: whitespace tokens, unique tokens, a BPE-ish regex
    * token count, and the chars/4 subword estimate. Pure per-row map —
    * no shuffle; at 100 TB this is a single scan. */
  private def t1(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    docs(s, d).select(
      col("doc_id"),
      size(toks).cast("long").as("n_ws_tokens"),
      size(array_distinct(toks)).cast("long").as("n_unique_tokens"),
      regexp_count(col("text"), lit(BpePattern)).cast("long").as("n_bpe_tokens"),
      ((col("n_chars") + 3L) / lit(4)).cast("long").as("n_subword_est"))
      .orderBy(col("doc_id"))
  }

  private val t1Sql =
    s"""SELECT doc_id,
       |  len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS n_ws_tokens,
       |  len(list_distinct(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))) AS n_unique_tokens,
       |  len(regexp_extract_all(text, '$BpePattern')) AS n_bpe_tokens,
       |  (n_chars + 3) // 4 AS n_subword_est
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t2
  /** Quality scoring: length, lexical diversity, stopword ratio, mean token
    * length — the CCNet/Gopher-style heuristics. Ratios are one double
    * division of exact integers (bit-identical in any engine). */
  private def t2(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    val stop = Seq("a", "the", "of", "and")
    docs(s, d)
      .select(col("doc_id"), col("n_chars"), toks.as("toks"))
      .select(
        col("doc_id"), col("n_chars"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_unique"),
        size(filter(col("toks"), t => t.isin(stop.map(lit): _*))).cast("long").as("n_stop"),
        aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t)).as("sum_tok_len"))
      .select(
        col("doc_id"), col("n_chars"), col("n_tokens"),
        (col("n_unique").cast("double") / col("n_tokens")).as("diversity"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stop_ratio"),
        (col("sum_tok_len").cast("double") / col("n_tokens")).as("mean_tok_len"),
        when(col("n_chars") < 180, "short")
          .when(col("n_unique") * 2 < col("n_tokens"), "low_diversity")
          .otherwise("ok").as("quality_flag"))
      .orderBy(col("doc_id"))
  }

  private val t2Sql =
    """WITH t AS (
      |  SELECT doc_id, n_chars,
      |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_chars,
      |    len(toks) AS n_tokens,
      |    len(list_distinct(toks)) AS n_unique,
      |    len(list_filter(toks, x -> x IN ('a','the','of','and'))) AS n_stop,
      |    list_sum(list_transform(toks, x -> length(x))) AS sum_tok_len
      |  FROM t)
      |SELECT doc_id, n_chars, n_tokens,
      |  CAST(n_unique AS DOUBLE) / n_tokens AS diversity,
      |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
      |  CAST(sum_tok_len AS DOUBLE) / n_tokens AS mean_tok_len,
      |  CASE WHEN n_chars < 180 THEN 'short'
      |       WHEN n_unique * 2 < n_tokens THEN 'low_diversity'
      |       ELSE 'ok' END AS quality_flag
      |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t3
  /** Language-ID: corpus-trained token-profile classifier. Train = top-20
    * tokens per language by frequency (broadcast-sized profile: langs ×
    * 20 rows regardless of corpus size); score = how many of the doc's
    * token instances hit the profile; predict = argmax.
    *
    * Scale shape: one groupBy to train, one broadcast join + groupBy to
    * score — the profile is tiny at any corpus size, so the join never
    * shuffles the corpus side. */
  private def t3(s: SparkSession, d: String): DataFrame = {
    val tok = docs(s, d)
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("tok"))
    val profile = tok.groupBy(col("lang").as("p_lang"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("p_lang")).orderBy(col("cnt").desc, col("tok"))))
      .filter(col("rn") <= 20)
      .select(col("p_lang"), col("tok"))
    val scored = tok.join(broadcast(profile), Seq("tok"))
      .groupBy(col("doc_id"), col("lang"), col("p_lang"))
      .agg(count(lit(1)).as("score"))
    scored.withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("p_lang"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("p_lang").as("pred_lang"),
        col("score"),
        when(col("lang") === col("p_lang"), 1L).otherwise(0L).as("correct"))
      .orderBy(col("doc_id"))
  }

  private val t3Sql =
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
      |  FROM documents),
      |profile AS (
      |  SELECT p_lang, tok FROM (
      |    SELECT lang AS p_lang, tok, COUNT(*) AS cnt,
      |      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, tok) AS rn
      |    FROM tok GROUP BY lang, tok) WHERE rn <= 20),
      |scored AS (
      |  SELECT doc_id, lang, p_lang, COUNT(*) AS score
      |  FROM tok JOIN profile USING (tok)
      |  GROUP BY doc_id, lang, p_lang)
      |SELECT doc_id, lang, p_lang AS pred_lang, score,
      |  CASE WHEN lang = p_lang THEN 1 ELSE 0 END AS correct
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, p_lang) AS rn
      |      FROM scored) WHERE rn = 1
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t4
  /** Document fingerprinting: winnowing (Schleimer et al., SIGMOD 2003) —
    * 8-char k-gram rolling hashes, minimum per window of 4 consecutive
    * grams, distinct survivors are the doc's fingerprint set.
    *
    * Scale shape: the k-gram explode fans out to ~n_chars rows per doc, the
    * window-min is partition-local per doc (no cross-doc shuffle), and the
    * final per-doc aggregate collapses it back — one shuffle on doc_id. */
  private def t4(s: SparkSession, d: String): DataFrame = {
    // r19 (guide §2.1): the gram-hash array already exists per doc row, so
    // the winnow never needs to leave it — fp[p] = min(h[p..p+3]) is an
    // array transform, the per-doc distinct is array_distinct, and the
    // fingerprint stats are array aggregates. The previous shape exploded
    // to char grain, sorted every doc's grams for the running window-min,
    // then shuffled twice more (distinct + groupBy); this one is a single
    // scan with no shuffle before the final orderBy. Docs shorter than 11
    // chars have no full window — they produced zero grouped rows before
    // and are filtered up front now.
    val n = col("n_chars").cast("int")
    val hs = transform(
      sequence(lit(1), greatest(n - 7, lit(0))),
      i => stableHash32(col("text").substr(i, lit(8))))
    // the gram-hash array is LET-BOUND as a lambda variable (transform
    // over a 1-element array): binding it as a projected column instead
    // lets CollapseProject inline the md5 transform into all four
    // element_at references — re-evaluating the whole array per position,
    // O(n²) hashing (the dd12 materialization rule, expression form)
    def winnow(h: Column): Column = array_distinct(transform(
      sequence(lit(1), n - 10), // full windows only: pos ∈ [1, n-10]
      p => least(element_at(h, p), element_at(h, p + 1),
        element_at(h, p + 2), element_at(h, p + 3))))
    val fps = flatten(transform(array(hs), h => winnow(h)))
    docs(s, d).filter(col("n_chars") >= 11)
      .select(col("doc_id"), fps.as("fps"))
      .select(col("doc_id"),
        size(col("fps")).cast("long").as("n_fp"),
        array_min(col("fps")).as("min_fp"),
        array_max(col("fps")).as("max_fp"),
        aggregate(col("fps"), lit(0L), (a, x) => a + x).as("sum_fp"))
      .orderBy(col("doc_id"))
  }

  private val t4Sql =
    """WITH g AS (
      |  SELECT doc_id, n_chars, CAST(i AS INTEGER) AS pos,
      |    CAST(('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 8)), 1, 8)) AS BIGINT) AS h
      |  FROM documents, unnest(range(1, n_chars - 6)) AS t(i)),
      |wmin AS (
      |  SELECT doc_id, pos, n_chars,
      |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
      |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |  FROM g),
      |fps AS (
      |  SELECT DISTINCT doc_id, fp FROM wmin WHERE pos <= n_chars - 7 - 3)
      |SELECT doc_id, COUNT(*) AS n_fp, MIN(fp) AS min_fp, MAX(fp) AS max_fp,
      |       CAST(SUM(fp) AS BIGINT) AS sum_fp
      |FROM fps GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t5
  /** Text normalization: case-fold, strip punctuation, squeeze whitespace —
    * the canonicalization pass every dedup/quality pipeline runs first.
    * The corpus is already clean, so the query dirties it deterministically
    * (uppercased prefix + injected punctuation) and asserts the normalizer
    * restores the original content hash. Pure per-row map, no shuffle. */
  private def t5(s: SparkSession, d: String): DataFrame = {
    val dirty = concat(upper(substring(col("text"), 1, 10)), lit("!! "),
      substring(col("text"), 11, 1000000), lit(" ??"))
    val norm = (c: Column) => trim(
      regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))
    docs(s, d).select(
      col("doc_id"),
      md5(norm(dirty)).as("norm_hash"),
      when(md5(norm(dirty)) === md5(norm(col("text"))), 1L).otherwise(0L).as("restored"),
      length(norm(dirty)).cast("long").as("norm_len"))
      .orderBy(col("doc_id"))
  }

  private val t5Sql =
    """WITH t AS (
      |  SELECT doc_id, text,
      |    upper(substr(text, 1, 10)) || '!! ' || substr(text, 11, 1000000) || ' ??' AS dirty
      |  FROM documents),
      |n AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(regexp_replace(lower(dirty), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS nd,
      |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS nt
      |  FROM t)
      |SELECT doc_id, md5(nd) AS norm_hash,
      |  CASE WHEN md5(nd) = md5(nt) THEN 1 ELSE 0 END AS restored,
      |  length(nd) AS norm_len
      |FROM n ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t6
  /** Analyzed full-text relevance — the reference's ES `match` + `_score`
    * semantics (`README.md:85-90`) with a fully specified analyzer
    * (TextAnalysis: lowercase/strip/stop/stem) and an all-integer
    * TF×IDF-shaped score `Σ tf·(N−df)` so ranking is bit-reproducible.
    * The query exercises every analyzer stage: "The" is a stopword,
    * "DUP-merge" strips to two tokens, "queries" stems to "query".
    *
    * Scale shape: df is a term-count aggregate (broadcast-sized — bounded
    * by query terms), scoring one equi-join + groupBy on doc_id, and
    * top-k is ORDER BY + LIMIT (TakeOrderedAndProject, no global sort). */
  private val T6Query = "The DUP-merge queries!"

  private def t6(s: SparkSession, d: String): DataFrame = {
    val terms = TextAnalysis.analyzeQuery(T6Query) // dup, merge, query
    val tf = docs(s, d)
      .select(col("doc_id"), explode(TextAnalysis.analyze(col("text"))).as("t"))
      .filter(col("t").isin(terms: _*))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
    tf.join(broadcast(dfreq), "t").crossJoin(broadcast(n))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * (col("n_docs") - col("df"))).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  private val t6Sql = {
    val termList = TextAnalysis.analyzeQuery(T6Query)
      .map(t => s"'$t'").mkString("(", ",", ")")
    s"""WITH an AS (
       |  SELECT doc_id, unnest(${TextAnalysis.analyzeSql("text")}) AS t
       |  FROM documents),
       |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM an
       |  WHERE t IN $termList GROUP BY doc_id, t),
       |dfreq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents)
       |SELECT doc_id, CAST(SUM(tf * (n_docs - df)) AS BIGINT) AS score
       |FROM tf JOIN dfreq USING (t) CROSS JOIN n
       |GROUP BY doc_id
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------------- t7
  /** Deterministic train/validation/test split — the assignment every
    * training pipeline needs before anything else. Bucket =
    * `stableHash32(doc_id ‖ salt) mod 100`; 90/5/5. The properties that
    * matter at 100 TB: pure per-row map (no shuffle, no stored state), the
    * split is re-derivable from the id alone on any engine (md5 — no
    * Spark-private hash), and the salt versions the split without touching
    * data. */
  private def t7(s: SparkSession, d: String): DataFrame = {
    val bucket = (stableHash32(concat(col("doc_id").cast("string"), lit(":v1")))
      % 100).cast("long")
    docs(s, d).select(
      col("doc_id"),
      bucket.as("bucket"),
      when(bucket < 90, "train").when(bucket < 95, "validation")
        .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  private val t7Sql =
    """WITH b AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':v1'), 1, 8)) AS BIGINT) % 100 AS bucket
      |  FROM documents)
      |SELECT doc_id, bucket,
      |  CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'validation'
      |       ELSE 'test' END AS split
      |FROM b ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t8
  /** PII scrubbing — regex redaction of emails and phone numbers. The raw
    * synthetic corpus carries no PII, so the query plants a deterministic
    * contact line per document first (making the scrub's work visible and
    * oracle-checkable), then redacts and PROVES totality: `n_residual`
    * re-runs both detectors on the scrubbed text and must be 0.
    * Patterns stick to character classes + bounded repetition — identical
    * semantics in Java regex (Spark) and RE2 (DuckDB). Pure per-row map:
    * no shuffle, rides whole-stage codegen. */
  private val EmailRe = "[a-z0-9._]+@[a-z0-9.]+\\.[a-z]{2,}"
  private val PhoneRe = "\\+[0-9][-0-9 ()]{7,}[0-9]"

  private def t8(s: SparkSession, d: String): DataFrame = {
    val contact = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.org or +1 (555) 010-"),
      (col("doc_id") % 10000L).cast("string"))
    val scrubbed = regexp_replace(
      regexp_replace(contact, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")
    docs(s, d).select(
      col("doc_id"),
      regexp_count(contact, lit(EmailRe)).cast("long").as("n_email"),
      regexp_count(contact, lit(PhoneRe)).cast("long").as("n_phone"),
      (regexp_count(scrubbed, lit(EmailRe)) +
        regexp_count(scrubbed, lit(PhoneRe))).cast("long").as("n_residual"),
      stableHash32(scrubbed).as("scrub_hash"),
      length(scrubbed).cast("long").as("n_chars_scrubbed"))
      .orderBy(col("doc_id"))
  }

  private val t8Sql =
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    text || ' contact user' || CAST(doc_id AS VARCHAR)
       |         || '@mail.example.org or +1 (555) 010-'
       |         || CAST(doc_id % 10000 AS VARCHAR) AS contact
       |  FROM documents),
       |scr AS (
       |  SELECT doc_id, contact,
       |    regexp_replace(regexp_replace(contact, '$EmailRe', '<EMAIL>', 'g'),
       |                   '$PhoneRe', '<PHONE>', 'g') AS scrubbed
       |  FROM aug)
       |SELECT doc_id,
       |  len(regexp_extract_all(contact, '$EmailRe')) AS n_email,
       |  len(regexp_extract_all(contact, '$PhoneRe')) AS n_phone,
       |  len(regexp_extract_all(scrubbed, '$EmailRe'))
       |    + len(regexp_extract_all(scrubbed, '$PhoneRe')) AS n_residual,
       |  CAST(('0x' || substr(md5(scrubbed), 1, 8)) AS BIGINT) AS scrub_hash,
       |  length(scrubbed) AS n_chars_scrubbed
       |FROM scr ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t9
  /** Benchmark-contamination check — flag corpus documents sharing ≥ 3
    * distinct 8-token shingles with an eval-set item (here: the first 200
    * chars of every 97th document, simulating an eval set drawn from the
    * same web crawl). This is the decontamination join every training
    * pipeline runs before releasing a dataset.
    *
    * Scale shape: both sides reduce to (id, shingle-hash) rows — narrow,
    * distinct-ed BEFORE the join so a repeated shingle can't fan out; one
    * shuffle each side on the hash; the benchmark side is tiny (eval sets
    * are thousands of items, not billions) so at cluster scale the join
    * broadcasts. Overlap count then groups on the (doc, bench) pair. */
  private def t9(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    // Materialization boundary (same disease dd2/dd3 document): without the
    // persist, shingleHashes' element_at(hs, i+j) closes over the whole
    // tokenHashes(tokens(text)) expression and re-md5s every token per
    // shingle element — O(tokens²) hashing per doc (measured 12 s vs ~2 s
    // on the 500-doc corpus). Persist the narrow (id, hash-array) rows;
    // released via Eager.finish.
    val th = base
      .select(col("doc_id"), tokenHashes(tokens(col("text"))).as("hs")).persist()
    val bth = base.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("bench_id"),
        tokenHashes(tokens(col("text").substr(1, 200))).as("hs")).persist()
    val corpus = th.select(col("doc_id"),
      explode(array_distinct(shingleHashes(col("hs"), 8))).as("g"))
    val bench = bth.select(col("bench_id"),
      explode(array_distinct(shingleHashes(col("hs"), 8))).as("g"))
    val res = corpus.join(bench, "g")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .orderBy(col("doc_id"), col("bench_id"))
    graft.Eager.finish(res, th, bth)
  }

  private val t9Sql = {
    val sh = TextFunctions.shingleHashSql("hs", 8)
    s"""WITH th AS (
       |  SELECT doc_id,
       |    list_transform(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''),
       |      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % ${MinhashPrime}) AS hs
       |  FROM documents),
       |corpus AS (SELECT DISTINCT doc_id, $sh AS g
       |  FROM th, unnest(range(1, len(hs) - 6)) AS t(i)),
       |bth AS (
       |  SELECT doc_id AS bench_id,
       |    list_transform(list_filter(regexp_split_to_array(substr(text, 1, 200), '\\s+'), x -> x <> ''),
       |      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % ${MinhashPrime}) AS hs
       |  FROM documents WHERE doc_id % 97 = 0),
       |bench AS (SELECT DISTINCT bench_id, $sh AS g
       |  FROM bth, unnest(range(1, len(hs) - 6)) AS t(i))
       |SELECT c.doc_id, b.bench_id, COUNT(*) AS n_shared
       |FROM corpus c JOIN bench b ON c.g = b.g
       |GROUP BY c.doc_id, b.bench_id
       |HAVING COUNT(*) >= 3
       |ORDER BY doc_id, bench_id""".stripMargin
  }

  // ---------------------------------------------------------------- t10
  /** Domain-mixture sampling — downsample each language toward a target
    * mixture (the data-mixing step before training). Per-language keep
    * rate = target/n_lang, applied as EXACT integer hash-Bernoulli:
    * `md5hash(id‖salt) mod n_lang < target` holds with probability
    * exactly target/n_lang, no float thresholds to diverge on. Rates come
    * from one tiny per-language aggregate (broadcast); selection is a
    * per-row map — no shuffle of the corpus, re-derivable from the id,
    * and languages outside the target mix drop to zero. (Bernoulli, so
    * realized counts carry binomial noise around the target — the
    * standard trade against an exact-count global sort.) */
  private val MixTargets = Seq("en" -> 120L, "de" -> 50L, "fr" -> 50L)

  private def t10(s: SparkSession, d: String): DataFrame = {
    val targets = MixTargets.foldLeft(lit(0L)) { case (acc, (l, t)) =>
      when(col("lang") === l, t).otherwise(acc)
    }
    val counts = docs(s, d).groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    docs(s, d).join(broadcast(counts), "lang")
      .filter(stableHash32(concat(col("doc_id").cast("string"), lit(":mix")))
        % col("n_lang") < targets)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  private val t10Sql = {
    val cases = MixTargets.map { case (l, t) => s"WHEN '$l' THEN $t" }.mkString(" ")
    s"""WITH n AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang)
       |SELECT doc_id, lang FROM documents JOIN n USING (lang)
       |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8)) AS BIGINT)
       |        % n_lang < CASE lang $cases ELSE 0 END
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- t11
  /** BM25-shaped relevance — t6's TF×IDF upgraded with document-length
    * normalization and TF saturation, the two properties that make BM25
    * the default ranking function: a term occurring twice in a 40-token
    * document should NOT outrank one occurrence in a 4-token document.
    *
    * All-INTEGER fixed-point so the DuckDB oracle reproduces it
    * bit-exactly (including the RANKING, which a doubles formulation
    * cannot guarantee under partial-aggregation reorder): with k1 = 1.2
    * and b = 0.75 scaled ×100 (k1s = 120, bs = 75), avgdl = T/N (T =
    * corpus token count), the per-term BM25 core
    *
    *   tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * multiplied through by 10000·T becomes the integer ratio
    *
    *   (N−df) · tf · 220 · 100 · T  DIV  (10000·T·tf + 3000·T + 9000·dl·N)
    *
    * (220 = k1s+100, 3000 = k1s·(100−bs), 9000 = k1s·bs), floor-divided
    * identically by Spark's `DIV` and DuckDB's `//`. idf keeps t6's
    * integer (N−df) shape. Products stay < 2^62 to ~10⁴ docs × 10⁶
    * tokens per shard-group — and the oracle's HUGEINT→BIGINT cast turns
    * any overflow into a loud failure, not a wrong answer.
    *
    * Scale shape identical to t6: analysis is per-row expressions, df and
    * corpus stats are broadcast-sized aggregates, scoring one equi-join +
    * one groupBy, top-k via TakeOrderedAndProject. */
  private val T11Query = "The DUP-merge queries!" // analyzes to dup, merge, query

  private def t11(s: SparkSession, d: String): DataFrame = {
    val terms = TextAnalysis.analyzeQuery(T11Query)
    val base = docs(s, d).select(col("doc_id"), TextAnalysis.analyze(col("text")).as("ts"))
    val dl = base.select(col("doc_id"), size(col("ts")).cast("long").as("dl"))
    val tf = base.select(col("doc_id"), explode(col("ts")).as("t"))
      .filter(col("t").isin(terms: _*))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val stats = base.agg(count(lit(1)).as("n_docs"),
      sum(size(col("ts")).cast("long")).as("tt"))
    tf.join(broadcast(dfreq), "t").join(dl, "doc_id").crossJoin(broadcast(stats))
      .withColumn("num", (col("n_docs") - col("df")) * col("tf") * lit(220L) * lit(100L) * col("tt"))
      .withColumn("den", lit(10000L) * col("tt") * col("tf") +
        lit(3000L) * col("tt") + lit(9000L) * col("dl") * col("n_docs"))
      .withColumn("score_t", expr("num DIV den"))
      .groupBy(col("doc_id"))
      .agg(sum(col("score_t")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  private val t11Sql = {
    val termList = TextAnalysis.analyzeQuery(T11Query)
      .map(t => s"'$t'").mkString("(", ",", ")")
    s"""WITH an AS (
       |  SELECT doc_id, ${TextAnalysis.analyzeSql("text")} AS ts FROM documents),
       |dl AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl FROM an),
       |tok AS (SELECT doc_id, unnest(ts) AS t FROM an),
       |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok
       |  WHERE t IN $termList GROUP BY doc_id, t),
       |dfreq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
       |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(len(ts)) AS BIGINT) AS tt FROM an)
       |SELECT doc_id, CAST(SUM(
       |    ((n_docs - df) * tf * 220 * 100 * tt)
       |    // (10000 * tt * tf + 3000 * tt + 9000 * dl * n_docs)
       |  ) AS BIGINT) AS score
       |FROM tf JOIN dfreq USING (t) JOIN dl USING (doc_id) CROSS JOIN stats
       |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------------- t12
  /** Sequence packing — the concat-and-chunk shape LM pretraining actually
    * uses: within each language shard, documents in doc_id order are
    * conceptually concatenated and cut into fixed 256-token training
    * sequences; each document spans `first_seq..last_seq` (crossing a cut
    * is fine — that's how packing avoids padding waste). Pure prefix-sum:
    * ONE shuffle on the shard key (the window partition), integer
    * floor-division for the chunk ids — no per-sequence explode, so the
    * output stays one row per document at any scale. At 100 TB the shard
    * key would be (lang, file-split) to bound partition width; the
    * algorithm is unchanged. */
  private def t12(s: SparkSession, d: String): DataFrame = {
    val C = 256L
    val base = docs(s, d).select(col("doc_id"), col("lang"),
      size(tokens(col("text"))).cast("long").as("n_tok"))
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base
      .withColumn("tok_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("first_seq", expr(s"tok_before DIV $C"))
      .withColumn("last_seq", expr(s"(tok_before + greatest(n_tok, 1L) - 1L) DIV $C"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + lit(1L))
      .orderBy(col("lang"), col("doc_id"))
  }

  private val t12Sql =
    """WITH b AS (
      |  SELECT doc_id, lang,
      |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT *, CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
      |  FROM b)
      |SELECT doc_id, lang, n_tok, tok_before,
      |  tok_before // 256 AS first_seq,
      |  (tok_before + greatest(n_tok, 1) - 1) // 256 AS last_seq,
      |  (tok_before + greatest(n_tok, 1) - 1) // 256 - tok_before // 256 + 1 AS n_seqs
      |FROM c ORDER BY lang, doc_id""".stripMargin

  // ---------------------------------------------------------------- t13
  /** Repetition / boilerplate detection — the Gopher-style duplicate
    * n-gram fractions: the share of a document's 2-grams and 3-grams that
    * are repeats of an earlier occurrence, in exact parts-per-thousand
    * fixed point, plus the >15% 3-gram-repeat filter flag. Everything is
    * per-row array arithmetic (no shuffle at all — a single scan at any
    * scale); the token array is persisted NARROW first so the shingle
    * lambda closes over a materialized column, not the tokenizer
    * expression (the dd2 recompute lesson). */
  private def t13(s: SparkSession, d: String): DataFrame = {
    val tk = graft.Eager.keyed(docs(s, d).select(col("doc_id"), tokens(col("text")).as("toks")), "t13").persist()
    def gramCols(n: Int): Seq[Column] = {
      val g = shingles(col("toks"), n)
      Seq(size(g).cast("long").as(s"_t$n"),
        size(array_distinct(g)).cast("long").as(s"_u$n"))
    }
    val res = tk.select(col("doc_id") +: size(col("toks")).cast("long").as("n_tok") +:
        (gramCols(2) ++ gramCols(3)): _*)
      // integer DIV, not Column./ (always-double division would round)
      .withColumn("dup2_pm", expr("(_t2 - _u2) * 1000L DIV greatest(_t2, 1L)"))
      .withColumn("dup3_pm", expr("(_t3 - _u3) * 1000L DIV greatest(_t3, 1L)"))
      .withColumn("repetitive", (col("dup3_pm") > 150L).cast("int"))
      .select("doc_id", "n_tok", "dup2_pm", "dup3_pm", "repetitive")
      .orderBy(col("doc_id"))
    graft.Eager.finish(res, tk)
  }

  private val t13Sql =
    """WITH tk AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
      |    list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' ')) AS g2,
      |    list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')) AS g3
      |  FROM tk)
      |SELECT doc_id, n_tok,
      |  CAST((len(g2) - len(list_distinct(g2))) * 1000 // greatest(len(g2), 1) AS BIGINT) AS dup2_pm,
      |  CAST((len(g3) - len(list_distinct(g3))) * 1000 // greatest(len(g3), 1) AS BIGINT) AS dup3_pm,
      |  CAST(CASE WHEN (len(g3) - len(list_distinct(g3))) * 1000 // greatest(len(g3), 1) > 150
      |    THEN 1 ELSE 0 END AS INTEGER) AS repetitive
      |FROM g ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t14
  /** Keyword extraction — per-document top-3 terms by df-normalized term
    * frequency `tf * N / df` (the TF-IDF shape with the rational idf
    * `N/df` in place of its log — a deliberately exact variant: `tf * N`
    * is an integer product and the single IEEE division is correctly
    * rounded, so scores AND ranking are bit-identical in any engine,
    * where a log-based idf would be at the mercy of libm rounding).
    * Corpus work: one (doc, term) aggregation, one |vocab| aggregation
    * off its result, a term-keyed join back, and a per-doc rank-3 filter
    * (WindowGroupLimit) — constant shuffle count at any scale. */
  private def t14(s: SparkSession, d: String): DataFrame = {
    val en = docs(s, d).filter(col("lang") === "en")
    val tf = en.select(col("doc_id"),
        explode(TextAnalysis.analyze(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).cast("long").as("tf"))
      .persist()
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).cast("long").as("df"))
    val n = en.agg(count(lit(1)).cast("long").as("_n"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("tok").asc)
    val res = tf.join(df, "tok").crossJoin(broadcast(n))
      .withColumn("score", (col("tf") * col("_n")).cast("double") / col("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("tok"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
    graft.Eager.finish(res, tf)
  }

  private val t14Sql =
    s"""WITH d AS (SELECT doc_id, text FROM documents WHERE lang = 'en'),
       |tok AS (SELECT doc_id, unnest(${TextAnalysis.analyzeSql("text")}) AS tok FROM d),
       |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
       |df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
       |sc AS (
       |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
       |    CAST(tf.tf * n.n AS DOUBLE) / df.df AS score
       |  FROM tf JOIN df USING (tok), n),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |        ORDER BY score DESC, tok ASC) AS rank FROM sc)
       |SELECT doc_id, CAST(rank AS BIGINT) AS rank, tok, tf, df, score
       |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  // ---------------------------------------------------------------- t15
  /** RAG / training chunking — split every document into overlapping
    * token windows (window 64, stride 48, 16-token overlap) with stable
    * per-document chunk ids: the preprocessing step between a raw corpus
    * and an embedding or context-window stage. Chunk COUNT is computed
    * per row first (1 for short docs, else 1 + ceil((n-W)/S)), then ONE
    * posexplode to chunk grain — the fan-out is the output itself, not an
    * intermediate (contrast dd2's shingle lesson), and there is no
    * shuffle at all: at 100 TB this is a single scan with bounded
    * (~n_tok/S ×) row growth, embarrassingly parallel per partition. The
    * token array is persisted narrow before the slice lambda so the
    * per-chunk `slice` closes over a materialized column, not the
    * tokenizer expression. */
  private def t15(s: SparkSession, d: String): DataFrame = {
    val W = 64L; val S = 48L
    val tk = graft.Eager.keyed(docs(s, d).select(col("doc_id"), tokens(col("text")).as("toks")), "t15").persist()
    val res = tk
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("n_chunks",
        expr(s"CASE WHEN n_tok <= $W THEN 1L ELSE 1L + (n_tok - $W + $S - 1L) DIV $S END"))
      .select(col("doc_id"), col("n_tok"), col("toks"),
        posexplode(expr("array_repeat(1, CAST(n_chunks AS INT))")).as(Seq("chunk_id", "_one")))
      .withColumn("_start", col("chunk_id") * lit(S))
      .withColumn("chunk_tok", least(lit(W), col("n_tok") - col("_start")).cast("long"))
      .withColumn("chunk_text",
        array_join(slice(col("toks"), (col("_start") + lit(1)).cast("int"), lit(W.toInt)), " "))
      .select("doc_id", "chunk_id", "n_tok", "chunk_tok", "chunk_text")
      .orderBy(col("doc_id"), col("chunk_id"))
    graft.Eager.finish(res, tk)
  }

  private val t15Sql =
    """WITH tk AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS toks
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok,
      |    CASE WHEN len(toks) <= 64 THEN 1
      |         ELSE 1 + (len(toks) - 64 + 47) // 48 END AS n_chunks
      |  FROM tk),
      |c AS (
      |  SELECT doc_id, toks, n_tok, CAST(u.i AS INT) AS chunk_id,
      |    CAST(u.i * 48 AS BIGINT) AS start
      |  FROM b, UNNEST(generate_series(0, CAST(n_chunks - 1 AS BIGINT))) AS u(i))
      |SELECT doc_id, chunk_id, n_tok,
      |  least(64, n_tok - start) AS chunk_tok,
      |  array_to_string(toks[CAST(start + 1 AS BIGINT):CAST(start + 64 AS BIGINT)], ' ')
      |    AS chunk_text
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  // ---------------------------------------------------------------- t16
  /** Stratified sampling with EXACT per-stratum quotas — the curation
    * step every training-mix pipeline runs ("10% of each language,
    * deterministically, rerunnable"). Each stratum's quota is the
    * integer ceiling ⌈n/10⌉ (pure integer arithmetic — no float rate
    * rounding drift), and membership is the quota-smallest stable hashes
    * of the doc id (a seeded uniform draw: re-running, or growing other
    * strata, never changes a stratum's picks — the property random()
    * sampling lacks). One shuffle total: both windows (stratum count,
    * hash rank) share the lang partitioning; at 100 TB a skewed stratum
    * is one partition's sort, not a corpus sort. */
  private def t16(s: SparkSession, d: String): DataFrame = {
    val h = stableHash32(concat(col("doc_id").cast("string"), lit(":t16")))
    val wAll = Window.partitionBy(col("lang"))
    val w = wAll.orderBy(col("_h").asc, col("doc_id").asc)
    docs(s, d).select(col("doc_id"), col("lang"), h.as("_h"))
      .withColumn("n_lang", count(lit(1)).over(wAll))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= expr("(n_lang + 9) div 10"))
      .select(col("doc_id"), col("lang"), col("rk"), col("n_lang"))
      .orderBy(col("lang"), col("rk"))
  }

  private val t16Sql =
    """WITH b AS (SELECT doc_id, lang,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':t16'), 1, 8)) AS BIGINT) AS h
      |  FROM documents),
      |r AS (SELECT doc_id, lang,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS BIGINT) AS rk,
      |    CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n_lang
      |  FROM b)
      |SELECT doc_id, lang, rk, n_lang FROM r
      |WHERE rk <= (n_lang + 9) // 10 ORDER BY lang, rk""".stripMargin

  // ---------------------------------------------------------------- t17
  /** Gopher-style quality RULE BUNDLE (Rae et al. 2021 §A1.1 shape) —
    * the per-rule breakdown a curation pipeline logs before dropping a
    * document: word-count bounds, mean-word-length band, alphabetic-word
    * fraction, distinct-stopword floor, each as its own boolean column
    * plus the conjunction verdict (so downstream dashboards can
    * attribute removal mass to individual rules — t2's scalar score
    * can't). All integer counts + one division per ratio; single scan,
    * no shuffle. */
  private def t17(s: SparkSession, d: String): DataFrame = {
    val stop = Seq("a", "the", "of", "and", "that")
    docs(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t)).as("sum_len"),
        size(filter(col("toks"), t => t.rlike("^[a-z]+$"))).cast("long").as("n_alpha"),
        size(array_intersect(array_distinct(col("toks")),
          array(stop.map(lit): _*))).cast("long").as("n_stop_kinds"))
      .select(col("doc_id"), col("n_words"),
        (col("sum_len").cast("double") / col("n_words")).as("mean_word_len"),
        (col("n_alpha").cast("double") / col("n_words")).as("alpha_frac"),
        col("n_stop_kinds"),
        (col("n_words") >= 50 && col("n_words") <= 100000).as("r_word_count"),
        (col("sum_len").cast("double") / col("n_words") >= 3.0 &&
          col("sum_len").cast("double") / col("n_words") <= 10.0).as("r_mean_len"),
        (col("n_alpha").cast("double") / col("n_words") >= 0.8).as("r_alpha"),
        (col("n_stop_kinds") >= 2).as("r_stop"))
      .withColumn("keep",
        col("r_word_count") && col("r_mean_len") && col("r_alpha") && col("r_stop"))
      .orderBy(col("doc_id"))
  }

  private val t17Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |c AS (
      |  SELECT doc_id,
      |    CAST(len(toks) AS BIGINT) AS n_words,
      |    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_len,
      |    CAST(len(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$'))) AS BIGINT) AS n_alpha,
      |    CAST(len(list_intersect(list_distinct(toks),
      |      ['a', 'the', 'of', 'and', 'that'])) AS BIGINT) AS n_stop_kinds
      |  FROM t)
      |SELECT doc_id, n_words,
      |  CAST(sum_len AS DOUBLE) / n_words AS mean_word_len,
      |  CAST(n_alpha AS DOUBLE) / n_words AS alpha_frac,
      |  n_stop_kinds,
      |  n_words >= 50 AND n_words <= 100000 AS r_word_count,
      |  CAST(sum_len AS DOUBLE) / n_words >= 3.0
      |    AND CAST(sum_len AS DOUBLE) / n_words <= 10.0 AS r_mean_len,
      |  CAST(n_alpha AS DOUBLE) / n_words >= 0.8 AS r_alpha,
      |  n_stop_kinds >= 2 AS r_stop,
      |  (n_words >= 50 AND n_words <= 100000)
      |    AND (CAST(sum_len AS DOUBLE) / n_words >= 3.0
      |         AND CAST(sum_len AS DOUBLE) / n_words <= 10.0)
      |    AND CAST(n_alpha AS DOUBLE) / n_words >= 0.8
      |    AND n_stop_kinds >= 2 AS keep
      |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t18
  /** Corpus token-budget report per (lang, source) — the accounting table
    * every training-mix decision reads: document and whitespace-token
    * totals per cell, each cell's share of the corpus token budget, and
    * the cumulative share in descending-token order (the "top cells
    * cover X% of the budget" curve). One corpus aggregation at (lang,
    * source) grain; the shares and the cumulative curve are
    * |cells|-row windows. Exact integer sums, one double division per
    * ratio. */
  private def t18(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy()
    val byTokens = w.orderBy(col("tokens").desc, col("lang"), col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, d)
      .select(col("lang"), col("source"), size(tokens(col("text"))).cast("long").as("tk"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("docs"), sum(col("tk")).as("tokens"))
      .withColumn("share",
        col("tokens").cast("double") /
          sum(col("tokens")).over(w.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      .withColumn("cum_share",
        sum(col("tokens")).over(byTokens).cast("double") /
          sum(col("tokens")).over(w.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      .orderBy(col("tokens").desc, col("lang"), col("source"))
  }

  private val t18Sql =
    """WITH c AS (
      |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS docs,
      |    CAST(SUM(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')))
      |      AS BIGINT) AS tokens
      |  FROM documents GROUP BY 1, 2)
      |SELECT lang, source, docs, tokens,
      |  CAST(tokens AS DOUBLE) / SUM(tokens) OVER () AS share,
      |  CAST(SUM(tokens) OVER (ORDER BY tokens DESC, lang, source
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / SUM(tokens) OVER () AS cum_share
      |FROM c ORDER BY tokens DESC, lang, source""".stripMargin

  // ---------------------------------------------------------------- t35
  /** The COMPOSED cleaning pipeline — quality gate → exact dedup →
    * per-group token budget → sequence packing, as ONE Spark plan (the
    * FineWeb/Dolma shape: a user of this library chains the primitives
    * and the optimizer sees the whole dataflow, pushing the quality
    * filter to the scan and fusing the per-doc maps):
    *
    *   1. quality gate: ≥ 8 whitespace tokens and mean token length
    *      ≤ 12 chars (INTEGER form `chars ≤ 12·tk` — no division);
    *   2. exact dedup over the planted corpus (dd1's contract): keep the
    *      min-doc_id copy per md5(text), one hash aggregation;
    *   3. token budget PER (lang, source): survivors ranked (tk desc,
    *      doc_id), kept while the running token sum stays within 6/10
    *      of the group's total (integer `(tot·6) div 10`) — the windows
    *      are PARTITIONED by group, so state is per-group, never a
    *      single global sort (the t18 grain distinction: budget rank at
    *      doc grain must shard by group at 100 TB);
    *   4. packing: budgeted docs concatenate greedily into 2048-token
    *      sequences (`seq = prefix-offset div 2048` — the t12 shape).
    *
    * Output: one row per (lang, source, seq_id) — the packed-shard
    * manifest a trainer would consume. All arithmetic integer; both
    * windows share one (lang, source) shuffle partitioning. */
  private def t35(s: SparkSession, d: String): DataFrame = {
    val grp = Window.partitionBy(col("lang"), col("source"))
    val ord = grp.orderBy(col("tk").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val q = DedupQueries.planted(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        size(col("toks")).cast("long").as("tk"),
        aggregate(transform(col("toks"), t => length(t).cast("long")),
          lit(0L), (a, x) => a + x).as("chars"))
      .filter(col("tk") >= 8 && col("chars") <= col("tk") * 12)
    val deduped = q
      .groupBy(md5(col("text")).as("h"))
      .agg(min(struct(col("doc_id"), col("lang"), col("source"), col("tk"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.lang").as("lang"),
        col("w.source").as("source"), col("w.tk").as("tk"))
    val budgeted = deduped
      .withColumn("cum", sum(col("tk")).over(ord))
      .withColumn("bud", expr("(sum(tk) over (partition by lang, source) * 6) div 10"))
      .filter(col("cum") <= col("bud"))
      .select(col("doc_id"), col("lang"), col("source"), col("tk"))
    budgeted
      .withColumn("off", sum(col("tk")).over(ord) - col("tk"))
      .withColumn("seq_id", expr("off div 2048"))
      .groupBy(col("lang"), col("source"), col("seq_id"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("tk")).cast("long").as("n_tokens"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("lang"), col("source"), col("seq_id"))
  }

  private val t35Sql =
    s"""WITH corpus AS (${DedupQueries.PlantedSql}),
       |tq AS (SELECT doc_id, lang, source, text,
       |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
       |  FROM corpus),
       |q AS (SELECT doc_id, lang, source, text,
       |    CAST(len(toks) AS BIGINT) AS tk,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(toks, t -> CAST(length(t) AS BIGINT))),
       |      (a, x) -> a + x) AS BIGINT) AS chars
       |  FROM tq),
       |f AS (SELECT * FROM q WHERE tk >= 8 AND chars <= tk * 12),
       |dd AS (SELECT doc_id, lang, source, tk FROM f
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
       |bg AS (SELECT doc_id, lang, source, tk,
       |    SUM(tk) OVER (PARTITION BY lang, source ORDER BY tk DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    (SUM(tk) OVER (PARTITION BY lang, source) * 6) // 10 AS bud
       |  FROM dd),
       |kept AS (SELECT doc_id, lang, source, tk FROM bg WHERE cum <= bud),
       |packed AS (SELECT doc_id, lang, source, tk,
       |    (SUM(tk) OVER (PARTITION BY lang, source ORDER BY tk DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tk) // 2048 AS seq_id
       |  FROM kept)
       |SELECT lang, source, CAST(seq_id AS BIGINT) AS seq_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(tk) AS BIGINT) AS n_tokens,
       |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
       |FROM packed GROUP BY 1, 2, 3 ORDER BY lang, source, seq_id""".stripMargin

  // ---------------------------------------------------------------- registry

  // ---------------------------------------------------------------- t19
  /** Token-entropy quality scoring — the perplexity PROXY a pipeline can
    * compute without a model: per-document Shannon entropy of the
    * unigram token distribution (`H = log2 n − (Σ c·ln c)/n/ln 2`), low
    * H = repetitive/templated junk. Rendered per language: doc counts,
    * entropy stats, and the low-entropy (H < 4 bits) count a filter
    * would drop. One token explode + two hash aggregations — corpus-
    * sized work ends at the (doc, token) grain. The Σ c·ln c double sum
    * is order-dependent at the last few ulps (documented: ≤ ~1e-13 on
    * this corpus, far inside the oracle's 9-dp compare — the same class
    * of tolerance as the d120 decay kernels). */
  private def t19(s: SparkSession, d: String): DataFrame = {
    val tf = Tables(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .groupBy(col("doc_id"), col("lang"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val ent = tf.groupBy(col("doc_id"), col("lang")).agg(
      ((log(sum(col("c"))) - sum(col("c") * log(col("c"))) / sum(col("c")))
        / log(lit(2.0))).as("ent"))
    ent.groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        avg(col("ent")).as("avg_entropy"),
        min(col("ent")).as("min_entropy"),
        max(col("ent")).as("max_entropy"),
        sum(when(col("ent") < 4.0, 1L).otherwise(0L)).as("n_low"))
      .orderBy(col("lang"))
  }

  private val t19Sql =
    """WITH tf AS (
      |  SELECT doc_id, lang, tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
      |    SELECT doc_id, lang, unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
      |    FROM documents)
      |  GROUP BY 1, 2, 3),
      |d AS (
      |  SELECT doc_id, lang,
      |    (LN(SUM(c)) - SUM(c * LN(c)) / SUM(c)) / LN(2.0) AS ent
      |  FROM tf GROUP BY 1, 2)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  AVG(ent) AS avg_entropy, MIN(ent) AS min_entropy, MAX(ent) AS max_entropy,
      |  CAST(SUM(CASE WHEN ent < 4.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_low
      |FROM d GROUP BY 1 ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- t20
  /** Quality-classifier INFERENCE, fastText-style: a hashed linear model
    * (the hashing trick — weight of a token = a deterministic function of
    * its hash; a trained model would ship the same layout as a weight
    * table) scored per document as mean token weight. All-integer
    * numerator over exact hashes, ONE double division — bit-identical in
    * any engine, and a pure per-row map: at 100 TB this is a single scan
    * with no shuffle, the shape real fastText-filter passes (CCNet,
    * RedPajama) run at. */
  private def t20(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    docs(s, d)
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        aggregate(toks, lit(0L),
          (acc, t) => acc + (stableHash32(concat(lit("w:"), t)) % 2001L - 1000L))
          .as("wsum"))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"),
        (col("wsum").cast("double") / (col("n_tokens") * 1000L)).as("logit"))
      .withColumn("keep", col("logit") > 0)
      .orderBy(col("doc_id"))
  }

  private val t20Sql =
    """WITH t AS (SELECT doc_id,
      |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |w AS (SELECT doc_id, len(toks) AS n_tokens,
      |    list_sum(list_transform(toks,
      |      x -> CAST(('0x' || substr(md5('w:' || x), 1, 8)) AS BIGINT) % 2001 - 1000)) AS wsum
      |  FROM t)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(wsum AS DOUBLE) / (n_tokens * 1000) AS logit,
      |  CAST(wsum AS DOUBLE) / (n_tokens * 1000) > 0 AS keep
      |FROM w WHERE n_tokens > 0 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t21
  /** C4-style URL filtering: plant a deterministic URL per document (the
    * corpus has none — the geo/ip planting pattern), then the real
    * pipeline: normalize (lowercase host, strip `www.`, strip the query
    * string), drop blocklisted hosts, dedupe by normalized URL keeping
    * the smallest doc_id. One scan + ONE window on the normalized URL —
    * the C4 paper's own dedup-by-URL shape. */
  private def t21(s: SparkSession, d: String): DataFrame = {
    val url = concat(lit("https://"),
      when(col("doc_id") % 3 === 0, "WWW.").otherwise(""),
      col("source"), lit(".example.com/"), col("lang"), lit("/"),
      (col("doc_id") % 40).cast("string"),
      when(col("doc_id") % 4 === 0, concat(lit("?utm_source=rss&ref="), col("source")))
        .otherwise(""))
    val base = substring_index(col("url"), "?", 1)
    val host = regexp_extract(base, "^https://([^/]+)", 1)
    val path = regexp_extract(base, "^https://[^/]+(.*)$", 1)
    val normUrl = concat(lit("https://"),
      regexp_replace(lower(host), "^www\\.", ""), path)
    val blocked = Seq("src7.example.com", "src13.example.com")
    val w = Window.partitionBy(col("norm_url")).orderBy(col("doc_id"))
    docs(s, d).select(col("doc_id"), url.as("url"))
      .withColumn("norm_url", normUrl)
      .withColumn("norm_host", regexp_replace(lower(host), "^www\\.", ""))
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("url"), col("norm_url"),
        when(col("norm_host").isin(blocked.map(lit): _*), "drop_blocklist")
          .when(col("rn") > 1, "drop_dup")
          .otherwise("keep").as("action"))
      .orderBy(col("doc_id"))
  }

  private val t21Sql =
    """WITH u AS (SELECT doc_id,
      |    'https://' || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
      |      || source || '.example.com/' || lang || '/' || CAST(doc_id % 40 AS VARCHAR)
      |      || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=rss&ref=' || source ELSE '' END)
      |      AS url
      |  FROM documents),
      |n AS (SELECT doc_id, url,
      |    split_part(url, '?', 1) AS base,
      |    regexp_replace(lower(regexp_extract(split_part(url, '?', 1),
      |      '^https://([^/]+)', 1)), '^www\.', '') AS norm_host,
      |    regexp_extract(split_part(url, '?', 1), '^https://[^/]+(.*)$', 1) AS path
      |  FROM u),
      |r AS (SELECT doc_id, url, 'https://' || norm_host || path AS norm_url, norm_host,
      |    ROW_NUMBER() OVER (PARTITION BY 'https://' || norm_host || path
      |                       ORDER BY doc_id) AS rn
      |  FROM n)
      |SELECT doc_id, url, norm_url,
      |  CASE WHEN norm_host IN ('src7.example.com', 'src13.example.com') THEN 'drop_blocklist'
      |       WHEN rn > 1 THEN 'drop_dup' ELSE 'keep' END AS action
      |FROM r ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t22
  /** Chat-template flattening: render each document as alternating
    * user/assistant turns of 8 tokens (the SFT-data packing step — a
    * real pipeline maps conversation JSON through the same shape), with
    * role sentinels and a terminator. Pure per-row array arithmetic —
    * no shuffle, no UDF. */
  private def t22(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    docs(s, d)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        ((size(col("toks")) + 7L) / lit(8)).cast("long").as("n_turns"), col("toks"))
      .filter(col("n_turns") > 0)
      .select(col("doc_id"), col("n_turns"),
        concat(
          concat_ws("\n", transform(sequence(lit(0), col("n_turns").cast("int") - 1),
            i => concat(
              when(i % 2 === 0, "<|user|>\n").otherwise("<|assistant|>\n"),
              concat_ws(" ", slice(col("toks"), i * 8 + 1, lit(8)))))),
          lit("\n<|end|>")).as("chat"))
      .withColumn("n_chars_out", length(col("chat")).cast("long"))
      .orderBy(col("doc_id"))
  }

  private val t22Sql =
    """WITH t AS (SELECT doc_id,
      |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |n AS (SELECT doc_id, toks, (len(toks) + 7) // 8 AS n_turns FROM t WHERE len(toks) > 0),
      |r AS (SELECT doc_id, CAST(n_turns AS BIGINT) AS n_turns,
      |    array_to_string(list_transform(range(0, CAST(n_turns AS INTEGER)),
      |      i -> (CASE WHEN i % 2 = 0 THEN '<|user|>' ELSE '<|assistant|>' END)
      |        || chr(10) || array_to_string(toks[i * 8 + 1 : i * 8 + 8], ' ')),
      |      chr(10)) || chr(10) || '<|end|>' AS chat
      |  FROM n)
      |SELECT doc_id, n_turns, chat, CAST(length(chat) AS BIGINT) AS n_chars_out
      |FROM r ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t23
  /** Readability scoring — Flesch reading ease with the standard regex
    * syllable heuristic (vowel-group count, min 1/word) and 12-token
    * pseudo-sentences (the corpus has no punctuation; a real corpus
    * would split on sentence boundaries — same formula either way). All
    * counts exact integers; the formula is the same IEEE op sequence in
    * both engines. Per-row map, no shuffle. */
  private def t23(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    docs(s, d)
      .select(col("doc_id"),
        size(toks).cast("long").as("n_words"),
        aggregate(toks, lit(0L),
          (acc, t) => acc + greatest(regexp_count(t, lit("[aeiouy]+")), lit(1)))
          .as("n_syll"))
      .filter(col("n_words") > 0)
      .withColumn("n_sent", ((col("n_words") + 11L) / lit(12)).cast("long"))
      .select(col("doc_id"), col("n_words"), col("n_sent"), col("n_syll"),
        (lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sent"))
          - lit(84.6) * (col("n_syll").cast("double") / col("n_words"))).as("flesch"))
      .orderBy(col("doc_id"))
  }

  private val t23Sql =
    """WITH t AS (SELECT doc_id,
      |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |c AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
      |    CAST(list_sum(list_transform(toks,
      |      x -> greatest(len(regexp_extract_all(x, '[aeiouy]+')), 1))) AS BIGINT) AS n_syll
      |  FROM t WHERE len(toks) > 0)
      |SELECT doc_id, n_words, (n_words + 11) // 12 AS n_sent, n_syll,
      |  206.835 - 1.015 * (CAST(n_words AS DOUBLE) / ((n_words + 11) // 12))
      |    - 84.6 * (CAST(n_syll AS DOUBLE) / n_words) AS flesch
      |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t24
  /** Language-model PERPLEXITY scoring — the CCNet/KenLM-style quality
    * filter: train an add-1-smoothed bigram model on the corpus itself
    * (one pass), score every document by mean negative log-likelihood
    * and perplexity. Unusually-worded documents (relative to the
    * corpus) surface with high ppl — the filter real pipelines run with
    * a pretrained KenLM; the estimator here is the corpus, which keeps
    * the whole thing closed-form and oracle-checkable.
    *
    * Shape: bigram counts = one hash agg at (w1, w2) grain; context
    * counts derive from it at w1 grain; scoring joins each doc bigram to
    * the two count tables (equi-joins on token keys — the count tables
    * are vocabulary-sized, hash-joined; broadcastable when the vocab
    * fits) and reduces per doc. The vocab size is a 1-row broadcast.
    * ln/exp ride libm (the documented ~1e-15 tolerance); the count
    * arithmetic is exact. */
  private def t24(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), tokens(col("text")).as("toks"))
    val pairs = base
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bigrams = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).cast("long").as("c12"))
    val contexts = bigrams.groupBy(col("w1"))
      .agg(sum(col("c12")).cast("long").as("c1"))
    val vocab = broadcast(base.select(explode(col("toks")).as("t"))
      .agg(countDistinct(col("t")).cast("long").as("v")))
    pairs.join(bigrams, Seq("w1", "w2")).join(contexts, Seq("w1")).crossJoin(vocab)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        // deterministic log-prob total: SORTED sequential fold, not a
        // plain double SUM — summation order would otherwise depend on
        // the partial-aggregation split, and under memory pressure the
        // last-ulp drift occasionally crossed the oracle's 9dp boundary
        // (caught by the sf1 oracle gate on the sibling t27/t30)
        aggregate(array_sort(collect_list(
          log((col("c12") + 1L).cast("double") / (col("c1") + col("v"))))),
          lit(0.0), (acc, x) => acc + x).as("ll"))
      .select(col("doc_id"), col("n_bigrams"),
        (-col("ll") / col("n_bigrams")).as("avg_nll"),
        exp(-col("ll") / col("n_bigrams")).as("ppl"))
      .orderBy(col("doc_id"))
  }

  private val t24Sql =
    """WITH t AS (SELECT doc_id,
      |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |pairs AS (SELECT doc_id, toks[CAST(i AS INTEGER)] AS w1,
      |    toks[CAST(i AS INTEGER) + 1] AS w2
      |  FROM t, unnest(range(1, len(toks))) AS u(i)),
      |bigrams AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      |  FROM pairs GROUP BY w1, w2),
      |contexts AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bigrams GROUP BY w1),
      |vocab AS (SELECT CAST(COUNT(DISTINCT u.t) AS BIGINT) AS v
      |  FROM t, unnest(toks) AS u(t)),
      |scored AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    list_reduce(list_prepend(0.0, list_sort(
      |      list(ln(CAST(c12 + 1 AS DOUBLE) / (c1 + v))))),
      |      (acc, x) -> acc + x) AS ll
      |  FROM pairs JOIN bigrams USING (w1, w2) JOIN contexts USING (w1)
      |  CROSS JOIN vocab
      |  GROUP BY doc_id)
      |SELECT doc_id, n_bigrams, -ll / n_bigrams AS avg_nll,
      |  exp(-ll / n_bigrams) AS ppl
      |FROM scored ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t25
  /** One BPE fit round's pick over a (`syms`, `freq`) word table: the
    * highest-weighted adjacent symbol pair (l, r, cnt), self-pairs
    * excluded, ties broken by (l, r) — one row. */
  private def bpeTopPair(syms: DataFrame): DataFrame =
    // the when() guard matters: Spark's sequence(1, 0) DESCENDS to
    // [1, 0] rather than yielding [] (the TextFunctions.shingles
    // rule), and a 1-symbol word would probe index 0 — an ANSI error
    syms.select(col("freq"), explode(when(size(col("syms")) < 2,
        array().cast("array<struct<l:string,r:string>>"))
      .otherwise(transform(
        sequence(lit(1), size(col("syms")) - 1),
        i => struct(element_at(col("syms"), i).as("l"),
          element_at(col("syms"), i + 1).as("r"))))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).cast("long").as("cnt"))
      .filter(col("l") =!= col("r"))
      .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
      .limit(1)

  /** Merge every occurrence of `top`'s (l, r) pair in `syms`' symbol
    * arrays; every other column rides through unchanged. */
  private def bpeMerge(syms: DataFrame, top: DataFrame): DataFrame = {
    val merged = filter(transform(sequence(lit(1), size(col("syms"))), i => {
      val n = size(col("syms"))
      val markHere = i < n &&
        element_at(col("syms"), i) === col("l") &&
        element_at(col("syms"), i + 1) === col("r")
      val markPrev = i > 1 &&
        element_at(col("syms"), i - 1) === col("l") &&
        element_at(col("syms"), i) === col("r")
      when(markHere, concat(col("l"), col("r")))
        .when(markPrev, lit(null).cast("string"))
        .otherwise(element_at(col("syms"), i))
    }), x => x.isNotNull)
    syms.crossJoin(broadcast(top.select(col("l"), col("r"))))
      .select(syms.columns.toSeq.map(c =>
        if (c == "syms") merged.as("syms") else col(c)): _*)
  }

  /** Tokenizer FITTING — the first 3 BPE merge rounds (Sennrich et al.
    * 2016) over the corpus: symbol sequences start as characters, each
    * round picks the highest-weighted adjacent symbol pair and merges
    * every occurrence. Exactly the real algorithm's shape: training
    * runs on the DISTINCT-WORD frequency table (|vocab| rows — corpus
    * work is ONE token count), so each round is a |vocab|-row pair
    * explode + one 1-row top-pair reduction broadcast back into a pure
    * array-rewrite map. Self-pairs (a,a) are excluded at selection
    * (DOCUMENTED DEVIATION: greedy run-merging of "aaa" is
    * tie-ambiguous across implementations; excluding them makes every
    * merge application an independent, order-free mark — and the
    * rewrite engine-portable). Output: one row per round with the
    * chosen pair and its weighted count. */
  private def t25(s: SparkSession, d: String): DataFrame = {
    val words = docs(s, d)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).cast("long").as("freq"))
      .select(filter(split(col("w"), ""), c => c =!= "").as("syms"), col("freq"))
    var syms = words
    var out: DataFrame = null
    for (round <- 1 to 3) {
      val top = bpeTopPair(syms)
      val row = top.select(lit(round.toLong).as("round"), col("l"), col("r"),
        concat(col("l"), col("r")).as("merged"), col("cnt"))
      out = if (out == null) row else out.unionByName(row)
      syms = bpeMerge(syms, top)
    }
    out.orderBy(col("round"))
  }

  private val t25Sql = {
    def pairsOf(tbl: String, out: String) =
      s"""${out}_p AS (
         |  SELECT l, r, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |    SELECT syms[CAST(i AS INTEGER)] AS l, syms[CAST(i AS INTEGER) + 1] AS r, freq
         |    FROM $tbl, unnest(range(1, len(syms))) AS t(i))
         |  WHERE l <> r
         |  GROUP BY l, r ORDER BY cnt DESC, l, r LIMIT 1)"""
    def mergeOf(tbl: String, top: String, out: String) =
      s"""$out AS (
         |  SELECT list_filter(list_transform(range(1, len(syms) + 1), i ->
         |      CASE WHEN i < len(syms) AND syms[CAST(i AS INTEGER)] = t.l
         |                AND syms[CAST(i AS INTEGER) + 1] = t.r THEN t.l || t.r
         |           WHEN i > 1 AND syms[CAST(i AS INTEGER) - 1] = t.l
         |                AND syms[CAST(i AS INTEGER)] = t.r THEN NULL
         |           ELSE syms[CAST(i AS INTEGER)] END),
         |    x -> x IS NOT NULL) AS syms, freq
         |  FROM $tbl, $top t)"""
    s"""WITH words AS (
       |  SELECT list_filter(string_split(w, ''), c -> c <> '') AS syms,
       |    CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
       |      x -> x <> '')) AS w FROM documents)
       |  GROUP BY w),
       |${pairsOf("words", "r1")},
       |${mergeOf("words", "r1_p", "s1")},
       |${pairsOf("s1", "r2")},
       |${mergeOf("s1", "r2_p", "s2")},
       |${pairsOf("s2", "r3")}
       |SELECT 1 AS round, l, r, l || r AS merged, cnt FROM r1_p
       |UNION ALL SELECT 2, l, r, l || r, cnt FROM r2_p
       |UNION ALL SELECT 3, l, r, l || r, cnt FROM r3_p
       |ORDER BY round""".stripMargin
  }

  // ---------------------------------------------------------------- t26
  /** Tokenizer ENCODE — apply t25's fitted BPE merges to the corpus: fit
    * the 3 merge rounds on the distinct-word frequency table (identical
    * machinery and tie rules as t25, so the two registries stay
    * consistent), then encode every word by replaying the merges and
    * join the |vocab|-row encoded table back to the per-doc tokens. The
    * fit→encode→count story is the real tokenizer pipeline's shape:
    * corpus-scale work is ONE token explode + one hash join against the
    * vocabulary; the merge table itself is 3 broadcast 1-row frames.
    * Output per doc: word/char/BPE-symbol counts and the compression
    * ratio the merges bought. */
  private def t26(s: SparkSession, d: String): DataFrame = {
    val words = docs(s, d)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).cast("long").as("freq"))
      .select(col("w"), filter(split(col("w"), ""), c => c =!= "").as("syms"),
        col("freq"))
    var syms = words
    for (_ <- 1 to 3) syms = bpeMerge(syms, bpeTopPair(syms))
    val encoded = syms.select(col("w"),
      size(col("syms")).cast("long").as("n_after"))
    val perWord = docs(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .join(encoded, Seq("w"))
    perWord.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(size(filter(split(col("w"), ""), c => c =!= ""))).cast("long").as("n_chars"),
        sum(col("n_after")).cast("long").as("n_bpe"))
      .select(col("doc_id"), col("n_words"), col("n_chars"), col("n_bpe"),
        (col("n_bpe").cast("double") / col("n_chars")).as("ratio"))
      .orderBy(col("doc_id"))
  }

  private val t26Sql = {
    def pairsOf(tbl: String, out: String) =
      s"""${out}_p AS (
         |  SELECT l, r FROM (
         |    SELECT l, r, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |      SELECT syms[CAST(i AS INTEGER)] AS l, syms[CAST(i AS INTEGER) + 1] AS r, freq
         |      FROM $tbl, unnest(range(1, len(syms))) AS t(i))
         |    WHERE l <> r
         |    GROUP BY l, r ORDER BY cnt DESC, l, r LIMIT 1))"""
    def mergeOf(tbl: String, top: String, out: String) =
      s"""$out AS (
         |  SELECT w, list_filter(list_transform(range(1, len(syms) + 1), i ->
         |      CASE WHEN i < len(syms) AND syms[CAST(i AS INTEGER)] = t.l
         |                AND syms[CAST(i AS INTEGER) + 1] = t.r THEN t.l || t.r
         |           WHEN i > 1 AND syms[CAST(i AS INTEGER) - 1] = t.l
         |                AND syms[CAST(i AS INTEGER)] = t.r THEN NULL
         |           ELSE syms[CAST(i AS INTEGER)] END),
         |    x -> x IS NOT NULL) AS syms, freq
         |  FROM $tbl, $top t)"""
    s"""WITH words AS (
       |  SELECT w, list_filter(string_split(w, ''), c -> c <> '') AS syms,
       |    CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
       |      x -> x <> '')) AS w FROM documents)
       |  GROUP BY w),
       |${pairsOf("words", "r1")},
       |${mergeOf("words", "r1_p", "s1")},
       |${pairsOf("s1", "r2")},
       |${mergeOf("s1", "r2_p", "s2")},
       |${pairsOf("s2", "r3")},
       |${mergeOf("s2", "r3_p", "s3")},
       |enc AS (SELECT w, CAST(len(syms) AS BIGINT) AS n_after FROM s3),
       |docw AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\\s+'),
       |    x -> x <> '')) AS w FROM documents)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(len(list_filter(string_split(w, ''), c -> c <> ''))) AS BIGINT) AS n_chars,
       |  CAST(SUM(n_after) AS BIGINT) AS n_bpe,
       |  CAST(SUM(n_after) AS DOUBLE) / SUM(len(list_filter(string_split(w, ''), c -> c <> ''))) AS ratio
       |FROM docw JOIN enc USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- t27
  /** Trigram LM perplexity — t24's CCNet-style quality filter at ORDER 3
    * (the published KenLM recipe trains order ≥ 3): add-1-smoothed
    * p(w3 | w1 w2) = (c123 + 1) / (c12 + V) with the same closed-form,
    * oracle-exact count arithmetic. Same scale shape as t24 one order
    * up: trigram counts = one hash agg at (w1,w2,w3) grain, context
    * counts derive at (w1,w2) grain, scoring equi-joins each doc
    * trigram to the two count tables; V is a 1-row broadcast. */
  private def t27(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), tokens(col("text")).as("toks"))
    val triples = base
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("toks")) - 2),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2"),
          element_at(col("toks"), i + 2).as("w3")))).as("tg"))
      .select(col("doc_id"), col("tg.w1").as("w1"), col("tg.w2").as("w2"),
        col("tg.w3").as("w3"))
    val trigrams = triples.groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).cast("long").as("c123"))
    val contexts = trigrams.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c123")).cast("long").as("c12"))
    val vocab = broadcast(base.select(explode(col("toks")).as("t"))
      .agg(countDistinct(col("t")).cast("long").as("v")))
    triples.join(trigrams, Seq("w1", "w2", "w3")).join(contexts, Seq("w1", "w2"))
      .crossJoin(vocab)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_trigrams"),
        // sorted sequential fold — see t24 (order-deterministic log sum)
        aggregate(array_sort(collect_list(
          log((col("c123") + 1L).cast("double") / (col("c12") + col("v"))))),
          lit(0.0), (acc, x) => acc + x).as("ll"))
      .select(col("doc_id"), col("n_trigrams"),
        (-col("ll") / col("n_trigrams")).as("avg_nll"),
        exp(-col("ll") / col("n_trigrams")).as("ppl"))
      .orderBy(col("doc_id"))
  }

  private val t27Sql =
    """WITH t AS (SELECT doc_id,
      |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |triples AS (SELECT doc_id, toks[CAST(i AS INTEGER)] AS w1,
      |    toks[CAST(i AS INTEGER) + 1] AS w2, toks[CAST(i AS INTEGER) + 2] AS w3
      |  FROM t, unnest(range(1, len(toks) - 1)) AS u(i)
      |  WHERE len(toks) >= 3),
      |trigrams AS (SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c123
      |  FROM triples GROUP BY w1, w2, w3),
      |contexts AS (SELECT w1, w2, CAST(SUM(c123) AS BIGINT) AS c12
      |  FROM trigrams GROUP BY w1, w2),
      |vocab AS (SELECT CAST(COUNT(DISTINCT u.t) AS BIGINT) AS v
      |  FROM t, unnest(toks) AS u(t)),
      |scored AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
      |    list_reduce(list_prepend(0.0, list_sort(
      |      list(ln(CAST(c123 + 1 AS DOUBLE) / (c12 + v))))),
      |      (acc, x) -> acc + x) AS ll
      |  FROM triples JOIN trigrams USING (w1, w2, w3) JOIN contexts USING (w1, w2)
      |  CROSS JOIN vocab
      |  GROUP BY doc_id)
      |SELECT doc_id, n_trigrams, -ll / n_trigrams AS avg_nll,
      |  exp(-ll / n_trigrams) AS ppl
      |FROM scored ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t28
  /** DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    * via Importance Resampling") — t10's domain-mix upgraded from
    * per-language quotas to DISTRIBUTION matching: importance weight =
    * ratio of two hashed-n-gram LM profiles (target = the `en` slice,
    * raw = the whole corpus), and selection = Gumbel top-k on the log
    * weights — sampling WITHOUT replacement proportionally to the
    * weights, the published algorithm's exact selection rule, with the
    * Gumbel noise derived deterministically from a per-doc hash
    * (`g = −ln(−ln(u))`, `u = (h+0.5)/2³²` — reproducible in any engine).
    *
    * Both profiles are B=64 hashed-unigram buckets with add-1 smoothing
    * — ONE |B|-row aggregate, broadcast; per-doc log-weights are one
    * token-grain hash join + sum. Zero corpus shuffles beyond the token
    * explode; at 100 TB the profile table is still 64 rows. */
  private def t28(s: SparkSession, d: String): DataFrame = {
    val B = 64
    val toks = docs(s, d)
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("t"))
      .withColumn("b", stableHash32(col("t")) % B)
    val prof = toks.groupBy(col("b")).agg(
      count(lit(1)).as("cc"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tc"))
    val totals = prof.agg(sum(col("cc")).as("ctot"), sum(col("tc")).as("ttot"))
    val llr = prof.crossJoin(broadcast(totals))
      .select(col("b"),
        log(((col("tc") + 1L).cast("double") / (col("ttot") + B)) /
          ((col("cc") + 1L).cast("double") / (col("ctot") + B))).as("llr"))
    val logw = toks.join(broadcast(llr), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_toks"), sum(col("llr")).as("logw"))
    val u = (stableHash32(concat(col("doc_id").cast("string"), lit(":dsir")))
      + lit(0.5)) / lit(4294967296.0)
    logw.withColumn("gumbel_key", col("logw") - log(-log(u)))
      .orderBy(col("gumbel_key").desc).limit(50)
      .select(col("doc_id"), col("n_toks"), col("logw"), col("gumbel_key"))
      .orderBy(col("doc_id"))
  }

  private val t28Sql =
    """WITH tb AS (SELECT doc_id, lang,
      |    CAST(('0x' || substr(md5(u.t), 1, 8)) AS BIGINT) % 64 AS b
      |  FROM documents,
      |    unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS u(t)),
      |prof AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cc,
      |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tc
      |  FROM tb GROUP BY b),
      |tot AS (SELECT CAST(SUM(cc) AS BIGINT) AS ctot, CAST(SUM(tc) AS BIGINT) AS ttot
      |  FROM prof),
      |llr AS (SELECT b,
      |    ln((CAST(tc + 1 AS DOUBLE) / (ttot + 64)) / (CAST(cc + 1 AS DOUBLE) / (ctot + 64))) AS llr
      |  FROM prof CROSS JOIN tot),
      |lw AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks, SUM(llr) AS logw
      |  FROM tb JOIN llr USING (b) GROUP BY doc_id),
      |keyed AS (SELECT doc_id, n_toks, logw,
      |    logw - ln(-ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':dsir'), 1, 8)) AS BIGINT) + 0.5)
      |      / 4294967296.0)) AS gumbel_key
      |  FROM lw)
      |SELECT * FROM (SELECT doc_id, n_toks, logw, gumbel_key FROM keyed
      |  ORDER BY gumbel_key DESC LIMIT 50)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t29
  /** Unigram-LM tokenizer FITTING (Kudo 2018 / SentencePiece) — the
    * Viterbi-EM (hard-EM) variant over t25's distinct-word frequency
    * table, completing the tokenizer story beside BPE fit (t25) and
    * encode (t26): seed vocabulary = every ≤4-char substring
    * (freq-weighted counts), then 2 EM rounds of {piece probs → Viterbi
    * best segmentation per word → re-count pieces along the best paths}.
    * DOCUMENTED DEVIATION from SentencePiece's soft EM: expected counts
    * come from the single best segmentation (Viterbi E-step), not the
    * forward-backward lattice sum — the published hard-EM variant, chosen
    * because its DP is a fixed unrolled op sequence both engines replay
    * exactly.
    *
    * Engine-portability: piece log-probs are QUANTIZED to integer
    * micro-nats (`round(1e6·ln(cnt/total))` — one libm `ln` whose ≤1-ulp
    * engine difference survives rounding except within ~1e-10 of a
    * half-integer), so the DP is exact LONG arithmetic: identical sums,
    * identical leftmost-max tie-breaks (smallest piece-length wins),
    * identical paths in Spark and the oracle. Word length is capped at
    * 12 chars (loud `raise_error` beyond — the corpus pool is ≤ 8).
    *
    * Scale shape: everything after the one corpus token-count runs at
    * VOCAB grain (|distinct words| rows); the fitted piece table rides a
    * broadcast map column (bounded like any shipped tokenizer vocab);
    * the DP unrolls to 12 positions × ≤4 candidate pieces of pure column
    * arithmetic — no UDFs, no driver loops, no explode beyond the final
    * piece count. */
  private val UniL = 12
  private val UniMiss = -1000000000000000L

  /** Seed counts: every substring of length 1..4, weighted by word freq. */
  private def uniSeedCounts(words: DataFrame): DataFrame =
    words.select(col("freq"), explode(flatten(
      transform(sequence(lit(1), length(col("w")).cast("int")), i =>
        transform(sequence(lit(1), least(lit(4), length(col("w")).cast("int") - i + 1)),
          k => col("w").substr(i, k))))).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).cast("long").as("cnt"))

  /** Piece table → quantized log-prob vocab (integer micro-nats). */
  private def uniVocab(counts: DataFrame): DataFrame =
    counts.crossJoin(broadcast(counts.agg(sum(col("cnt")).cast("long").as("total"))))
      .select(col("piece"),
        round(log(col("cnt").cast("double") / col("total")) * 1000000.0)
          .cast("long").as("lpq"))

  /** One Viterbi-EM round: segment every word with the current vocab
    * (exact-long DP, leftmost-max = shortest-piece tie rule), return the
    * piece counts along the best paths. */
  private def uniSegmentCounts(words: DataFrame, vocab: DataFrame): DataFrame =
    uniSegmentRaw(words, vocab)
      .select(col("freq"), explode(col("_pieces")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).cast("long").as("cnt"))

  /** The Viterbi DP frame: word columns plus `_pieces` (the best path's
    * pieces) — shared by counting (t29 EM) and encoding (t31).
    *
    * r19: the DP runs as ONE native expression
    * (graft.functions.UnigramViterbi — identical long arithmetic and
    * leftmost-max tie rule, pinned by UnigramViterbiSpec against the
    * pre-r19 column ladder) instead of ~24 stacked projections unrolling
    * 12 positions × 4 candidates: the ladder's cost was Catalyst +
    * whole-stage-codegen compilation (~2 s per instance at 31 input
    * rows, twice per query), not data. The >12-char loud reject lives in
    * the expression. */
  private def uniSegmentRaw(words: DataFrame, vocab: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensure(words.sparkSession)
    val vmap = vocab.agg(
      map_from_entries(collect_list(struct(col("piece"), col("lpq")))).as("vm"))
    words.crossJoin(broadcast(vmap))
      .withColumn("_pieces", call_function("unigram_viterbi", col("w"), col("vm")))
  }

  /** Un-pinned round-1 plan for PlanAuditSpec (t29's public result is an
    * Eager LocalRelation, which hides the DP plan from explain). */
  private[graft] def t29Plan(s: SparkSession, d: String): DataFrame = {
    val words = docs(s, d).select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).cast("long").as("freq"))
    uniSegmentCounts(words, uniVocab(uniSeedCounts(words)))
  }

  private def t29(s: SparkSession, d: String): DataFrame = {
    // words and the round-1 counts are each consumed by MULTIPLE plan
    // branches (vocab totals + map + next round's DP + the output top-k);
    // persisting truncates the otherwise twice-unrolled DP plan — these
    // are |distinct words|- and |pieces|-row frames, released via
    // Eager.finish before returning (the Bench leak sentinel's contract).
    val words = graft.Eager.keyed(
      docs(s, d).select(explode(tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).cast("long").as("freq")), "t29")
      .persist()
    val c1 = graft.Eager.keyed(
      uniSegmentCounts(words, uniVocab(uniSeedCounts(words))), "t29.c1").persist()
    val c2 = uniSegmentCounts(words, uniVocab(c1))
    def top(r: Int, cnts: DataFrame): DataFrame = {
      val w = Window.orderBy(col("cnt").desc, col("piece").asc)
      cnts.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 10)
        .select(lit(r).as("em_round"), col("rnk"), col("piece"), col("cnt"))
    }
    val res = top(1, c1).unionByName(top(2, c2))
      .orderBy(col("em_round"), col("rnk"))
    graft.Eager.finish(res, words, c1)
  }

  // ---------------------------------------------------------------- t30
  /** CCNet-style perplexity BUCKETING (Wenzek et al. 2020) — the published
    * quality split: per LANGUAGE, rank documents by LM perplexity (t24's
    * add-1 bigram LM) and cut into head/middle/tail terciles; head (lowest
    * ppl) feeds training, tail is reviewed/dropped. Tercile cuts are exact
    * integer rank arithmetic (`rn·3 ≤ n`), not ntile, so the bucket rule
    * is engine-portable by construction. Scale shape: t24's count tables
    * + ONE per-language window (rank and count share the lang partition —
    * a single shuffle at doc grain). */
  private def t30(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
    val pairs = base
      .select(col("doc_id"), col("lang"), explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("bg"))
      .select(col("doc_id"), col("lang"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bigrams = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).cast("long").as("c12"))
    val contexts = bigrams.groupBy(col("w1"))
      .agg(sum(col("c12")).cast("long").as("c1"))
    val vocab = broadcast(base.select(explode(col("toks")).as("t"))
      .agg(countDistinct(col("t")).cast("long").as("v")))
    val scored = pairs.join(bigrams, Seq("w1", "w2")).join(contexts, Seq("w1"))
      .crossJoin(vocab)
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).cast("long").as("nb"),
        // sorted sequential fold — see t24 (order-deterministic log sum)
        aggregate(array_sort(collect_list(
          log((col("c12") + 1L).cast("double") / (col("c1") + col("v"))))),
          lit(0.0), (acc, x) => acc + x).as("ll"))
      .select(col("doc_id"), col("lang"), exp(-col("ll") / col("nb")).as("ppl"))
    val w = Window.partitionBy(col("lang")).orderBy(col("ppl").asc, col("doc_id").asc)
    val nW = Window.partitionBy(col("lang"))
    scored
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(nW))
      .select(col("doc_id"), col("lang"), col("ppl"),
        when(col("rn") * 3 <= col("n"), "head")
          .when(col("rn") * 3 <= col("n") * 2, "middle")
          .otherwise("tail").as("ppl_bucket"))
      .orderBy(col("doc_id"))
  }

  private val t30Sql =
    """WITH t AS (SELECT doc_id, lang,
      |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |pairs AS (SELECT doc_id, lang, toks[CAST(i AS INTEGER)] AS w1,
      |    toks[CAST(i AS INTEGER) + 1] AS w2
      |  FROM t, unnest(range(1, len(toks))) AS u(i)),
      |bigrams AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      |  FROM pairs GROUP BY w1, w2),
      |contexts AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bigrams GROUP BY w1),
      |vocab AS (SELECT CAST(COUNT(DISTINCT u.t) AS BIGINT) AS v
      |  FROM t, unnest(toks) AS u(t)),
      |scored AS (SELECT doc_id, lang,
      |    exp(-list_reduce(list_prepend(0.0, list_sort(
      |        list(ln(CAST(c12 + 1 AS DOUBLE) / (c1 + v))))),
      |        (acc, x) -> acc + x)
      |      / CAST(COUNT(*) AS BIGINT)) AS ppl
      |  FROM pairs JOIN bigrams USING (w1, w2) JOIN contexts USING (w1)
      |  CROSS JOIN vocab
      |  GROUP BY doc_id, lang),
      |ranked AS (SELECT doc_id, lang, ppl,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY ppl ASC, doc_id ASC) AS BIGINT) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n
      |  FROM scored)
      |SELECT doc_id, lang, ppl,
      |  CASE WHEN rn * 3 <= n THEN 'head'
      |       WHEN rn * 3 <= n * 2 THEN 'middle'
      |       ELSE 'tail' END AS ppl_bucket
      |FROM ranked ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t31
  /** Unigram-LM tokenizer ENCODE — apply t29's fitted vocabulary to the
    * corpus (the same fit→encode→count story as BPE's t25→t26): fit one
    * Viterbi-EM round on the distinct-word table (identical machinery and
    * tie rules as t29, so the registries stay consistent), Viterbi-encode
    * every distinct word under the refit vocab, and join the |vocab|-row
    * encoded table back to the per-doc tokens. Output per doc: word/char/
    * piece counts and pieces-per-word (the fertility metric tokenizer
    * evaluations report). Corpus-scale work is ONE token explode + one
    * broadcast join against the encoded vocabulary. */
  private def t31(s: SparkSession, d: String): DataFrame = {
    val words = graft.Eager.keyed(
      docs(s, d).select(explode(tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).cast("long").as("freq")), "t31")
      .persist()
    val c1 = graft.Eager.keyed(
      uniSegmentCounts(words, uniVocab(uniSeedCounts(words))), "t31.c1").persist()
    val enc = uniSegmentRaw(words, uniVocab(c1))
      .select(col("w"), length(col("w")).cast("long").as("n_chars_w"),
        size(col("_pieces")).cast("long").as("n_pieces_w"))
    val toks = docs(s, d).select(col("doc_id"), explode(tokens(col("text"))).as("w"))
    val res = toks.join(broadcast(enc), "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(col("n_chars_w")).cast("long").as("n_chars"),
        sum(col("n_pieces_w")).cast("long").as("n_pieces"))
      .select(col("doc_id"), col("n_words"), col("n_chars"), col("n_pieces"),
        (col("n_pieces").cast("double") / col("n_words")).as("pieces_per_word"))
      .orderBy(col("doc_id"))
    graft.Eager.finish(res, words, c1)
  }

  private val t31Sql: String =
    UniSql.prefix +
      s"""enc AS (SELECT w, CAST(length(w) AS BIGINT) AS n_chars_w,
         |    CAST((${(1 to UniL).map(j => s"(CASE WHEN piece$j IS NOT NULL THEN 1 ELSE 0 END)").mkString(" + ")}) AS BIGINT) AS n_pieces_w
         |  FROM bt2_$UniL),
         |toks AS (SELECT doc_id, u.w AS w FROM documents,
         |  unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS u(w))
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(n_chars_w) AS BIGINT) AS n_chars,
         |  CAST(SUM(n_pieces_w) AS BIGINT) AS n_pieces,
         |  CAST(SUM(n_pieces_w) AS DOUBLE) / CAST(COUNT(*) AS BIGINT) AS pieces_per_word
         |FROM toks JOIN enc USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t32
  /** WordPiece ENCODE (greedy longest-match-first — the BERT tokenizer's
    * published algorithm, Song et al. 2021 "Fast WordPiece Tokenization")
    * — completes the tokenizer-family story beside BPE (t25/t26) and
    * unigram-LM (t29/t31). Vocabulary is fitted from the corpus itself,
    * SQL-replayably: every observed character as both an initial and a
    * `##`-continuation piece (so encoding never dead-ends), plus the
    * top-[[WpTopK]] multi-char candidates (word prefixes as initial
    * pieces, mid-word substrings as `##` pieces, lengths 2–4) by
    * freq-weighted count with a (count desc, piece asc) tie rule. Words
    * longer than [[WpMaxChars]] chars become `[UNK]` (one token — real
    * WordPiece's max_input_chars_per_word rule; the corpus max is 8, so
    * the cap at 6 exercises the path).
    *
    * Scale shape: fitting runs at VOCAB grain (candidate explode over the
    * distinct-word table + one top-K), the vocab rides a broadcast list,
    * and the encode is a [[WpMaxChars]]-step statically-unrolled greedy
    * cursor walk — per step one 4-way longest-match CASE of pure column
    * ops, each level referencing only the PREVIOUS level's named columns
    * (the t29 project-collapse rule: consumers project in ONE fused
    * select; the DuckDB twin's step CTEs are AS MATERIALIZED for the
    * same reason). Corpus-grain work is one token explode + one hash
    * join against the |vocab|-row encoded table. */
  private val WpMaxChars = 6
  private val WpTopK = 20

  /** The raw encode frame: distinct words × (`_c0.._cN` cursors,
    * `_n0.._nN` piece counts, `_pc1.._pcN` emitted pieces). Consumers
    * project ONCE (t29 rule). */
  private[graft] def wpEncodeRaw(words: DataFrame, vocabList: DataFrame): DataFrame = {
    var df = words.crossJoin(broadcast(vocabList))
      .withColumn("len", length(col("w")).cast("int"))
      .withColumn("_c0", lit(1))
      .withColumn("_n0", lit(0))
    for (k <- 1 to WpMaxChars) {
      val c = col(s"_c${k - 1}")
      def pieceAt(l: Int): Column =
        when(c === 1, col("w").substr(c, lit(l)))
          .otherwise(concat(lit("##"), col("w").substr(c, lit(l))))
      def matches(l: Int): Column =
        c + (l - 1) <= col("len") && array_contains(col("vl"), pieceAt(l))
      val live = c <= col("len")
      df = df.withColumns(Map(
        s"_pc$k" -> when(live,
          when(matches(4), pieceAt(4)).when(matches(3), pieceAt(3))
            .when(matches(2), pieceAt(2)).otherwise(pieceAt(1))),
        s"_c$k" -> when(!live, c)
          .when(matches(4), c + 4).when(matches(3), c + 3)
          .when(matches(2), c + 2).otherwise(c + 1),
        s"_n$k" -> when(live, col(s"_n${k - 1}") + 1).otherwise(col(s"_n${k - 1}"))))
    }
    df
  }

  /** Fitted vocab as a 1-row broadcastable list column `vl`. */
  private[graft] def wpVocab(words: DataFrame): DataFrame = {
    val candArr = flatten(transform(
      sequence(lit(1), length(col("w")).cast("int")), i => {
        val m = least(lit(4), length(col("w")).cast("int") - i + 1)
        when(m < 2, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(2), m), k =>
            when(i === 1, col("w").substr(i, k))
              .otherwise(concat(lit("##"), col("w").substr(i, k)))))
      }))
    val top = words.select(col("freq"), explode(candArr).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).cast("long").as("cnt"))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("cnt").desc, col("piece").asc)))
      .filter(col("rnk") <= WpTopK).select(col("piece"))
    val chars = words
      .select(explode(filter(split(col("w"), ""), ch => ch =!= "")).as("ch")).distinct()
    val vocab = chars.select(col("ch").as("piece"))
      .union(chars.select(concat(lit("##"), col("ch")).as("piece")))
      .union(top).distinct()
    vocab.agg(sort_array(collect_list(col("piece"))).as("vl"))
  }

  private def t32(s: SparkSession, d: String): DataFrame = {
    val words = graft.Eager.keyed(
      docs(s, d).select(explode(tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).cast("long").as("freq")), "t32")
      .persist()
    // ONE fused select on the raw frame (t29 project-collapse rule)
    val enc = wpEncodeRaw(words, wpVocab(words)).select(
      col("w"),
      when(col("len") > WpMaxChars, lit(1L))
        .otherwise(col(s"_n$WpMaxChars").cast("long")).as("n_pieces_w"),
      when(col("len") > WpMaxChars, lit(1L)).otherwise(lit(0L)).as("is_unk_w"))
    val res = docs(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .join(enc, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(col("n_pieces_w")).cast("long").as("n_pieces"),
        sum(col("is_unk_w")).cast("long").as("n_unk"))
      .select(col("doc_id"), col("n_words"), col("n_pieces"), col("n_unk"),
        (col("n_pieces").cast("double") / col("n_words")).as("pieces_per_word"))
      .orderBy(col("doc_id"))
    graft.Eager.finish(res, words)
  }

  private val t32Sql: String = {
    def pieceSql(l: Int) =
      s"CASE WHEN c = 1 THEN substr(w, c, $l) ELSE '##' || substr(w, c, $l) END"
    def stepSql(k: Int): String =
      s"""wp$k AS MATERIALIZED (
         |  SELECT w, freq, vl, len,
         |    CASE WHEN c > len THEN c
         |         WHEN c + 3 <= len AND list_contains(vl, ${pieceSql(4)}) THEN c + 4
         |         WHEN c + 2 <= len AND list_contains(vl, ${pieceSql(3)}) THEN c + 3
         |         WHEN c + 1 <= len AND list_contains(vl, ${pieceSql(2)}) THEN c + 2
         |         ELSE c + 1 END AS c,
         |    CASE WHEN c > len THEN nn ELSE nn + 1 END AS nn
         |  FROM wp${k - 1})"""
    s"""WITH words AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
       |      x -> x <> '')) AS w FROM documents)
       |  GROUP BY w),
       |cand AS (
       |  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
       |    SELECT CASE WHEN i = 1 THEN substr(w, CAST(i AS INTEGER), CAST(k AS INTEGER))
       |                ELSE '##' || substr(w, CAST(i AS INTEGER), CAST(k AS INTEGER)) END AS piece,
       |      freq
       |    FROM words, unnest(range(1, len(w) + 1)) AS t(i), unnest(range(2, 5)) AS u(k)
       |    WHERE i + k - 1 <= len(w))
       |  GROUP BY piece),
       |topp AS (SELECT piece FROM cand ORDER BY cnt DESC, piece LIMIT $WpTopK),
       |chars AS (SELECT DISTINCT unnest(list_filter(string_split(w, ''), c -> c <> '')) AS ch
       |  FROM words),
       |vocab AS MATERIALIZED (SELECT list(piece ORDER BY piece) AS vl FROM (
       |  SELECT ch AS piece FROM chars
       |  UNION SELECT '##' || ch FROM chars
       |  UNION SELECT piece FROM topp)),
       |wp0 AS MATERIALIZED (
       |  SELECT w, freq, vl, CAST(len(w) AS INTEGER) AS len, 1 AS c, 0 AS nn
       |  FROM words, vocab),
       |${(1 to WpMaxChars).map(stepSql).mkString(",\n")},
       |enc AS (SELECT w,
       |    CASE WHEN len > $WpMaxChars THEN 1 ELSE nn END AS n_pieces_w,
       |    CASE WHEN len > $WpMaxChars THEN 1 ELSE 0 END AS is_unk_w
       |  FROM wp$WpMaxChars),
       |docw AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\\s+'),
       |    x -> x <> '')) AS w FROM documents)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(n_pieces_w) AS BIGINT) AS n_pieces,
       |  CAST(SUM(is_unk_w) AS BIGINT) AS n_unk,
       |  CAST(SUM(n_pieces_w) AS DOUBLE) / COUNT(*) AS pieces_per_word
       |FROM docw JOIN enc USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- t33
  /** Boilerplate-line removal (the C4 "seen ≥ 3 times" rule / CCNet
    * shared-paragraph filter) — the standard web-pipeline stage between
    * quality scoring and dedup: a LINE occurring in ≥ [[BoilerDf]]
    * DISTINCT documents (nav menus, cookie banners, footers) is dropped
    * from every document carrying it. The corpus has no newlines
    * (TESTDATA word-soup), so "line" = non-overlapping [[BoilerWords]]-
    * word chunk — the dd11 paragraph grain. Output per doc: chunk/word
    * counts, boilerplate counts, and the retained-word ratio the filter
    * would keep.
    *
    * Scale shape: chunk-grain only — one hash aggregation for the
    * document-frequency table (count DISTINCT doc per chunk) and one
    * equi-join of chunks against the df-qualified set (AQE-broadcastable
    * when boilerplate is rare, plain hash join otherwise). No windows,
    * no all-pairs anything. */
  private val BoilerWords = 8
  private val BoilerDf = 3

  private def t33(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), tokens(col("text")).as("toks"))
    val chunks = base.select(col("doc_id"), size(col("toks")).as("n_words"),
        explode(when(size(col("toks")) === 0, array().cast("array<int>"))
          .otherwise(sequence(lit(0),
            floor((size(col("toks")) - 1) / lit(BoilerWords)).cast("int")))).as("i"))
      .join(base, "doc_id")
      .select(col("doc_id"), col("n_words"),
        concat_ws(" ", slice(col("toks"), col("i") * BoilerWords + 1, lit(BoilerWords)))
          .as("chunk"),
        size(slice(col("toks"), col("i") * BoilerWords + 1, lit(BoilerWords))).as("clen"))
    val boiler = chunks.groupBy(col("chunk"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= BoilerDf)
      .select(col("chunk"), lit(1).as("_bo"))
    chunks.join(boiler, Seq("chunk"), "left")
      .groupBy(col("doc_id"))
      .agg(max(col("n_words")).cast("long").as("n_words"),
        count(lit(1)).cast("long").as("n_chunks"),
        sum(when(col("_bo").isNotNull, 1L).otherwise(0L)).as("n_boiler"),
        sum(when(col("_bo").isNull, col("clen")).otherwise(0L)).cast("long")
          .as("n_words_kept"))
      .select(col("doc_id"), col("n_words"), col("n_chunks"), col("n_boiler"),
        col("n_words_kept"),
        (col("n_words_kept").cast("double") / col("n_words")).as("kept_ratio"))
      .orderBy(col("doc_id"))
  }

  private val t33Sql =
    s"""WITH d AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |ch AS (
       |  SELECT doc_id, len(toks) AS n_words,
       |    array_to_string(toks[(i * $BoilerWords + 1):(i * $BoilerWords + $BoilerWords)], ' ') AS chunk,
       |    len(toks[(i * $BoilerWords + 1):(i * $BoilerWords + $BoilerWords)]) AS clen
       |  FROM d, unnest(range(0, CAST(ceil(len(toks) / $BoilerWords.0) AS BIGINT))) t(i)),
       |bo AS (SELECT chunk, 1 AS _bo FROM ch GROUP BY chunk
       |       HAVING COUNT(DISTINCT doc_id) >= $BoilerDf)
       |SELECT doc_id,
       |  CAST(MAX(n_words) AS BIGINT) AS n_words,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(SUM(CASE WHEN _bo IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       |  CAST(SUM(CASE WHEN _bo IS NULL THEN clen ELSE 0 END) AS BIGINT) AS n_words_kept,
       |  CAST(SUM(CASE WHEN _bo IS NULL THEN clen ELSE 0 END) AS DOUBLE) / MAX(n_words) AS kept_ratio
       |FROM ch LEFT JOIN bo USING (chunk)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t34
  /** Dataset DATA CARD (the per-slice summary every released training set
    * ships — Datasheets for Datasets, Gebru et al. 2021): per (source,
    * lang): doc/token/char counts, the corpus share, exact-duplicate
    * incidence (docs whose text hash occurs ≥ 2 GLOBALLY, attributed to
    * the slice), and mean tokens/doc. One doc-grain aggregation + one
    * hash-dup aggregation + a 1-row total broadcast — the report is
    * |slices| rows at any corpus size. */
  private def t34(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("source"), col("lang"), col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_toks"),
      col("n_chars"), md5(col("text")).as("hash"))
    val dups = base.groupBy(col("hash")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select(col("hash"), lit(1).as("_dup"))
    val total = base.agg(count(lit(1)).cast("long").as("total_docs"))
    base.join(dups, Seq("hash"), "left")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_toks")).cast("long").as("n_tokens"),
        sum(col("n_chars")).cast("long").as("n_chars"),
        sum(when(col("_dup").isNotNull, 1L).otherwise(0L)).cast("long").as("n_exact_dup"))
      .crossJoin(broadcast(total))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        col("n_chars"), col("n_exact_dup"),
        (col("n_docs").cast("double") / col("total_docs")).as("corpus_share"),
        (col("n_exact_dup").cast("double") / col("n_docs")).as("dup_rate"),
        (col("n_tokens").cast("double") / col("n_docs")).as("toks_per_doc"))
      .orderBy(col("source"), col("lang"))
  }

  private val t34Sql =
    """WITH base AS (
      |  SELECT source, lang, doc_id,
      |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT)
      |      AS n_toks,
      |    n_chars, md5(text) AS hash
      |  FROM documents),
      |dups AS (SELECT hash, 1 AS _dup FROM base GROUP BY hash HAVING COUNT(*) >= 2),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_docs FROM base)
      |SELECT source, lang,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
      |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      |  CAST(SUM(CASE WHEN _dup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
      |  CAST(COUNT(*) AS DOUBLE) / (SELECT total_docs FROM tot) AS corpus_share,
      |  CAST(SUM(CASE WHEN _dup IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
      |    AS dup_rate,
      |  CAST(SUM(n_toks) AS DOUBLE) / COUNT(*) AS toks_per_doc
      |FROM base LEFT JOIN dups USING (hash)
      |GROUP BY source, lang ORDER BY source, lang""".stripMargin

  val queries: Map[String, Q] = Map(
    "t35_pipeline_compose" -> t35 _,
    "t34_data_card" -> t34 _,
    "t33_boilerplate" -> t33 _,
    "t32_wordpiece" -> t32 _,
    "t31_unigram_encode" -> t31 _,
    "t30_ccnet_ppl_buckets" -> t30 _,
    "t29_unigram_lm" -> t29 _,
    "t28_dsir_resample" -> t28 _,
    "t26_bpe_encode" -> t26 _,
    "t27_trigram_lm" -> t27 _,
    "t25_bpe_merges" -> t25 _,
    "t24_lm_perplexity" -> t24 _,
    "t20_quality_classifier" -> t20 _,
    "t21_url_filter" -> t21 _,
    "t22_chat_template" -> t22 _,
    "t23_readability" -> t23 _,
    "t19_token_entropy" -> t19 _,
    "t14_keywords" -> t14 _,
    "t15_chunking" -> t15 _,
    "t16_stratified_sample" -> t16 _,
    "t17_gopher_rules" -> t17 _,
    "t18_token_budget" -> t18 _,
    "t10_domain_mix" -> t10 _,
    "t11_bm25" -> t11 _,
    "t12_seq_pack" -> t12 _,
    "t13_repetition" -> t13 _,
    "t7_split" -> t7 _,
    "t8_pii_scrub" -> t8 _,
    "t9_contamination" -> t9 _,
    "t5_normalize" -> t5 _,
    "t6_relevance" -> t6 _,
    "t1_token_stats" -> t1 _,
    "t2_quality" -> t2 _,
    "t3_langid" -> t3 _,
    "t4_fingerprint" -> t4 _)

  /** The identical Viterbi-EM as DuckDB SQL — generated (the Geo-style
    * twin): same quantized log-probs, same exact-long DP, same
    * leftmost-max CASE chains, staged through chained CTEs (one per DP
    * position, MATERIALIZED so no binder inlining can blow up). Shared by
    * the t29 (fit) and t31 (encode) oracles. */
  private object UniSql {
    val L = UniL
    // pivoted per-word lp columns: lp_i_k = quantized log-prob of the
    // piece ENDING at position i with length k (NULL when i > len)
    def matCols: String = (1 to L).flatMap { i =>
      (1 to math.min(4, i)).map { k =>
        s"MAX(CASE WHEN i = $i AND k = $k THEN lpq END) AS lp_${i}_$k"
      }
    }.mkString(",\n      ")
    def dpChain(tag: String, matTag: String): String = {
      val sb = new StringBuilder
      sb ++= s"""${tag}_0 AS MATERIALIZED (SELECT *, len(w) AS len, CAST(0 AS BIGINT) AS b0
                |  FROM words JOIN $matTag USING (w)),\n""".stripMargin
      for (i <- 1 to L) {
        val m = math.min(4, i)
        val cands = (1 to m).map(k => s"(b${i - k} + lp_${i}_$k)")
        val best = if (m == 1) cands.head else s"greatest(${cands.mkString(", ")})"
        val ch =
          if (m == 1) "1"
          else {
            val whens = (1 to m - 1).map { kk =>
              val ge = ((kk + 1) to m).map(o => s"${cands(kk - 1)} >= ${cands(o - 1)}")
                .mkString(" AND ")
              s"WHEN $ge THEN $kk"
            }.mkString(" ")
            s"CASE $whens ELSE $m END"
          }
        sb ++= s"${tag}_$i AS MATERIALIZED (SELECT *, $best AS b$i, $ch AS c$i FROM ${tag}_${i - 1}),\n"
      }
      sb.toString
    }
    def btChain(tag: String, dpTag: String): String = {
      val sb = new StringBuilder
      sb ++= s"${tag}_0 AS MATERIALIZED (SELECT *, len AS p0 FROM ${dpTag}_$L),\n"
      for (j <- 1 to L) {
        val kcase = s"CASE p${j - 1} ${(1 to L).map(i => s"WHEN $i THEN c$i").mkString(" ")} ELSE 0 END"
        sb ++= s"""${tag}_$j AS MATERIALIZED (SELECT *, $kcase AS k$j,
                  |  CASE WHEN p${j - 1} > 0 THEN substr(w, CAST(p${j - 1} - k$j + 1 AS INTEGER), CAST(k$j AS INTEGER)) END AS piece$j,
                  |  CASE WHEN p${j - 1} > 0 THEN p${j - 1} - k$j ELSE 0 END AS p$j
                  |  FROM ${tag}_${j - 1}),\n""".stripMargin
      }
      sb.toString
    }
    def cntOf(tag: String, btTag: String): String = {
      val pieces = (1 to L).map(j => s"SELECT freq, piece$j AS piece FROM ${btTag}_$L")
        .mkString("\n    UNION ALL ")
      s"""$tag AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |    $pieces)
         |  WHERE piece IS NOT NULL GROUP BY piece),\n""".stripMargin
    }
    def vocabOf(tag: String, cntTag: String): String =
      s"""$tag AS (SELECT piece,
         |    CAST(round(ln(CAST(cnt AS DOUBLE) / total) * 1000000.0) AS BIGINT) AS lpq
         |  FROM $cntTag CROSS JOIN
         |    (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM $cntTag)),\n""".stripMargin
    /** CTE prefix: word table, seed vocab, both EM rounds segmented
      * (through bt2) — ends with a trailing comma, callers append. */
    val prefix: String = s"""WITH words AS (
       |  SELECT u.w AS w, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM documents,
       |    unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS u(w)
       |  GROUP BY u.w),
       |seed AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
       |    SELECT substr(w, CAST(i AS INTEGER), CAST(k AS INTEGER)) AS piece, freq
       |    FROM words,
       |      unnest(range(1, len(w) + 1)) AS t(i),
       |      unnest(range(1, least(4, len(w) - i + 1) + 1)) AS t2(k))
       |  GROUP BY piece),
       |${vocabOf("v1", "seed")}cand AS (
       |  SELECT w, i, k, substr(w, CAST(i - k + 1 AS INTEGER), CAST(k AS INTEGER)) AS piece
       |  FROM words,
       |    unnest(range(1, len(w) + 1)) AS t(i),
       |    unnest(range(1, least(4, i) + 1)) AS t2(k)),
       |mat1 AS (SELECT w,
       |      $matCols
       |  FROM (SELECT c.w, c.i, c.k, COALESCE(v1.lpq, ${UniMiss}) AS lpq
       |        FROM cand c LEFT JOIN v1 USING (piece))
       |  GROUP BY w),
       |${dpChain("dp1", "mat1")}${btChain("bt1", "dp1")}${cntOf("cnt1", "bt1")}${vocabOf("v2", "cnt1")}mat2 AS (SELECT w,
       |      $matCols
       |  FROM (SELECT c.w, c.i, c.k, COALESCE(v2.lpq, ${UniMiss}) AS lpq
       |        FROM cand c LEFT JOIN v2 USING (piece))
       |  GROUP BY w),
       |${dpChain("dp2", "mat2")}${btChain("bt2", "dp2")}""".stripMargin
  }

  private val t29Sql: String =
    UniSql.prefix + UniSql.cntOf("cnt2", "bt2") +
      """ranked AS (
        |  SELECT 1 AS em_round, piece, cnt,
        |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, piece ASC) AS BIGINT) AS rnk
        |  FROM cnt1
        |  UNION ALL
        |  SELECT 2, piece, cnt,
        |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, piece ASC) AS BIGINT)
        |  FROM cnt2)
        |SELECT em_round, rnk, piece, cnt FROM ranked
        |WHERE rnk <= 10 ORDER BY em_round, rnk""".stripMargin

  val oracle: Map[String, String] = Map(
    "t35_pipeline_compose" -> t35Sql,
    "t34_data_card" -> t34Sql,
    "t33_boilerplate" -> t33Sql,
    "t32_wordpiece" -> t32Sql,
    "t31_unigram_encode" -> t31Sql,
    "t30_ccnet_ppl_buckets" -> t30Sql,
    "t29_unigram_lm" -> t29Sql,
    "t28_dsir_resample" -> t28Sql,
    "t26_bpe_encode" -> t26Sql,
    "t27_trigram_lm" -> t27Sql,
    "t25_bpe_merges" -> t25Sql,
    "t24_lm_perplexity" -> t24Sql,
    "t20_quality_classifier" -> t20Sql,
    "t21_url_filter" -> t21Sql,
    "t22_chat_template" -> t22Sql,
    "t23_readability" -> t23Sql,
    "t19_token_entropy" -> t19Sql,
    "t14_keywords" -> t14Sql,
    "t15_chunking" -> t15Sql,
    "t16_stratified_sample" -> t16Sql,
    "t17_gopher_rules" -> t17Sql,
    "t18_token_budget" -> t18Sql,
    "t10_domain_mix" -> t10Sql,
    "t11_bm25" -> t11Sql,
    "t12_seq_pack" -> t12Sql,
    "t13_repetition" -> t13Sql,
    "t7_split" -> t7Sql,
    "t8_pii_scrub" -> t8Sql,
    "t9_contamination" -> t9Sql,
    "t5_normalize" -> t5Sql,
    "t6_relevance" -> t6Sql,
    "t1_token_stats" -> t1Sql,
    "t2_quality" -> t2Sql,
    "t3_langid" -> t3Sql,
    "t4_fingerprint" -> t4Sql)
}
