package graft.docs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 relevance for the engine's full-text surfaces — the Query DSL's
  * `similarity=bm25` mode and ES|QL's `scoreMode=bm25` — closing the
  * largest documented ES-semantics deviation (real ES ranks every `match`
  * by BM25; the engine's default `_score` is integer matched-term counts,
  * d23/d251).
  *
  * FIXED-POINT INTEGER form (t11's formula, `ext/TextQueries.scala:446`,
  * re-scaled from corpus token count T to average document length so the
  * products survive index-level stats): with k1 = 1.2 and b = 0.75 scaled
  * ×100 and `avgdl100 = (100·T) DIV N`, the per-term score is
  *
  *   (N − df) · tf · 22000 · avgdl100
  *     DIV (10000 · avgdl100 · tf + 3000 · avgdl100 + 900000 · dl)
  *
  * which is the BM25 core tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl))
  * multiplied through by 10⁶·avgdl100 with t6's integer (N−df) idf. Both
  * Spark's `DIV` and DuckDB's `//` floor identically, so the score — and
  * therefore the RANKING — is bit-exact in any engine, which a doubles
  * formulation cannot guarantee under partial-aggregation reorder.
  * Products stay < 2⁶³ to ~10⁸ docs × avgdl 10⁴ per stats scope; past
  * that, shard the stats scope (stats are per-index anyway).
  *
  * SCALE SHAPE: stats come from a write-once parquet stats index per
  * analyzed frame ([[standing]]) — built once (two corpus scans: the
  * 1-row corpus aggregate and the distinct-term df table), after which
  * EVERY query's stats are two bounded reads (1 corpus row + a
  * term-pushdown-filtered |terms|-row scan of the terms table) and the
  * query's only corpus scan is its own hit scan. This is dd7's
  * standing-signature-index pattern applied to relevance metadata (ES
  * holds the identical numbers as index metadata); on a live index the
  * table is maintained incrementally like any ES segment-stats merge. An
  * index [[graft.Standing]] cannot fingerprint (a memory-sink or DSv2
  * table) gets ONE inline aggregate per query instead ([[scan]]).
  * [[withScore]] is pure per-row expressions (helper columns + integer
  * DIV) — no shuffle, no join; ranking stays ORDER BY + LIMIT
  * (TakeOrderedAndProject). */
object Bm25 {

  /** Index-level stats for a query's terms: corpus size, average document
    * length ×100 (integer), and per-term document frequency. */
  final case class Stats(nDocs: Long, avgdl100: Long, df: Map[String, Long])

  /** The [[graft.Standing]] tag every stats index is built under. */
  val standingTag = "bm25"

  /** Stats for `terms` over `index` (the UNFILTERED index frame — ES
    * relevance uses index-level frequencies, not the hit set's) analyzed
    * by `toks`. Served from the standing stats index ([[standing]]) when
    * [[graft.Standing]] can fingerprint the index; otherwise its plan may
    * stay put while its rows change (a memory-sink or DSv2 table), and
    * the only correct stats are a fresh [[scan]]. */
  def stats(index: DataFrame, toks: Column, terms: Seq[String]): Stats =
    if (graft.Standing.canFingerprint(index))
      fromStanding(standing(index, toks), terms)
    else scan(index, toks, terms)

  /** The inline stats: one aggregate over `index`, 2 + |terms| values
    * fetched to the driver. */
  private[docs] def scan(index: DataFrame, toks: Column, terms: Seq[String]): Stats = {
    val ts = terms.distinct
    // null token arrays (null source text) contribute 0 tokens — Spark's
    // size(null) is -1 under the default conf, while the oracle's
    // SUM(len(ts)) skips NULLs; the when() keeps both engines at 0
    val aggs = count(lit(1)).cast("long").as("_n") +:
      coalesce(sum(when(toks.isNotNull, size(toks).cast("long"))
        .otherwise(0L)), lit(0L)).as("_t") +:
      ts.zipWithIndex.map { case (t, i) =>
        coalesce(sum(when(array_contains(toks, t), 1L).otherwise(0L)),
          lit(0L)).as(s"_df$i")
      }
    val r = index.agg(aggs.head, aggs.tail: _*).collect().head
    val n = r.getLong(0)
    val avg100 = if (n == 0L) 0L else 100L * r.getLong(1) / n
    Stats(n, avg100, ts.zipWithIndex.map { case (t, i) => t -> r.getLong(2 + i) }.toMap)
  }

  /** The fixed-point per-term score over the integer columns named `tf`
    * and `dl`, with the term's integer idf folded in as a literal. */
  private def termSql(idf: Long, tf: String, dl: String, avgdl100: Long): String =
    s"""(CASE WHEN $tf > 0 THEN
       |  (${idf}L * $tf * 22000L * ${avgdl100}L)
       |  DIV (10000L * ${avgdl100}L * $tf
       |       + 3000L * ${avgdl100}L + 900000L * $dl)
       |ELSE 0L END)""".stripMargin.replace('\n', ' ')

  /** Append `out` = Σ over `terms` of the fixed-point BM25 of the token
    * arrays `fields` against `st`. One field is the plain per-field
    * score. Several fields score their MERGED pseudo-field (r18, closing
    * the combined_fields scoring deviation — Lucene CombinedFieldQuery's
    * BM25F simplification with unit weights, the SIGIR'20 shape ES
    * ships): per term, tf = Σ over fields of the field tf; dl = Σ of the
    * field lengths; df comes from `st` (caller-blended as the max across
    * fields — Lucene's merged-statistics rule) and avgdl100 from `st`
    * (caller-combined as the Σ of per-field avgdl100 — the integer
    * contract both engines replay identically). Helper columns are added
    * for the integer `DIV` (its operands must be named) and dropped
    * before returning; `tag` keeps concurrent attachments (several scored
    * clauses on one frame) from colliding. Pure per-row expressions, no
    * shuffle. */
  def withScore(df: DataFrame, fields: Seq[Column], terms: Seq[String],
                st: Stats, out: String, tag: String = "b"): DataFrame = {
    val ts = terms.distinct
    if (ts.isEmpty || fields.isEmpty || st.nDocs == 0L || st.avgdl100 == 0L)
      return df.withColumn(out, lit(0L))
    val p = s"_bm_${tag}_"
    var d = df
    fields.zipWithIndex.foreach { case (t, f) => d = d.withColumn(s"${p}ts$f", t) }
    val fCols = fields.indices.map(f => col(s"${p}ts$f"))
    d = d.withColumn(s"${p}dl", fCols.map(c => size(c).cast("long")).reduce(_ + _))
    val parts = ts.zipWithIndex.map { case (t, i) =>
      d = d.withColumn(s"${p}tf$i",
        fCols.map(c => size(filter(c, x => x === lit(t))).cast("long"))
          .reduce(_ + _))
      termSql(st.nDocs - st.df.getOrElse(t, 0L), s"${p}tf$i", s"${p}dl",
        st.avgdl100)
    }
    d.withColumn(out, expr(parts.mkString(" + ")))
      .drop((fields.indices.map(f => s"${p}ts$f") :+ s"${p}dl") ++
        ts.indices.map(i => s"${p}tf$i"): _*)
  }

  /** Append `out` = the fixed-point BM25 of the PHRASE `terms` as one
    * Lucene PhraseQuery pseudo-term (r18, closing the d287 positional
    * deviation): tf is the PHRASE frequency — the number of positions i
    * in the token array where terms(0..m-1) appear consecutively
    * (overlapping occurrences count, Lucene's position semantics) — and
    * idf is the SUM of the per-term integer idfs (N − df_t), exactly
    * Lucene's PhraseQuery/ExactPhraseMatcher scoring shape. A document
    * without the consecutive phrase has tf = 0 and scores 0, so the
    * phrase PREDICATE is subsumed — callers keep their gate only as a
    * belt (hit membership still comes from the predicate). One pass over
    * the row's token array per start position — no explode, no join;
    * the m-way element_at conjunction short-circuits in codegen. */
  def withPhraseScore(df: DataFrame, toks: Column, terms: Seq[String],
                      st: Stats, out: String, tag: String = "p"): DataFrame = {
    if (terms.isEmpty || st.nDocs == 0L || st.avgdl100 == 0L)
      return df.withColumn(out, lit(0L))
    val m = terms.length
    val ts = col(s"_bmp_${tag}_ts")
    // positions are 1-based (element_at); start i runs to size − m + 1
    val tfp = when(size(ts) >= m,
      size(filter(sequence(lit(1), size(ts) - (m - 1)),
        i => terms.zipWithIndex.map { case (t, j) =>
          element_at(ts, i + lit(j)) === lit(t) }.reduce(_ && _))))
      .otherwise(lit(0)).cast("long")
    val idfSum = terms.map(t => st.nDocs - st.df.getOrElse(t, 0L)).sum
    df.withColumn(s"_bmp_${tag}_ts", toks)
      .withColumn(s"_bmp_${tag}_dl", size(col(s"_bmp_${tag}_ts")).cast("long"))
      .withColumn(s"_bmp_${tag}_tf", tfp)
      .withColumn(out, expr(termSql(idfSum, s"_bmp_${tag}_tf", s"_bmp_${tag}_dl",
        st.avgdl100)))
      .drop(s"_bmp_${tag}_ts", s"_bmp_${tag}_dl", s"_bmp_${tag}_tf")
  }

  // ------------------------------------------------ standing stats index
  /** Build (once per session and analyzed frame) the standing stats index
    * for one (corpus, analyzed field): `corpus` holds the 1-row (n, tdl);
    * `terms` holds one (term, df) row per DISTINCT corpus token. The
    * entry is a [[graft.Standing]] keyed on the analyzed frame itself:
    * its canonical plan carries the corpus and the analyzer expression,
    * and its input-file listing catches a corpus rewritten in place, so
    * a different field, analyzer or corpus is a fresh build, never stale
    * stats. The same frame re-derived query-to-query (e.g. a fresh
    * parquet read of the same path) canonicalizes identically, so
    * write-once still holds (pinned in Bm25Spec). Returns the (corpus,
    * terms) tables. */
  private[docs] def standing(index: DataFrame, toks: Column): (DataFrame, DataFrame) = {
    val s = index.sparkSession
    val an = index.select(toks.as("_ts"))
    graft.Standing(s, standingTag, graft.Standing.frame(an)) {
      // null token arrays (null source text): 0 tokens for tdl (the
      // inline-stats guard), no term rows (explode of null emits none —
      // the same docs array_contains scores 0 for every term)
      (graft.Standing.write(s, "bm25-corpus")(
        an.agg(count(lit(1)).cast("long").as("n"),
          coalesce(sum(when(col("_ts").isNotNull, size(col("_ts")).cast("long"))
            .otherwise(0L)), lit(0L)).as("tdl"))),
       graft.Standing.write(s, "bm25-terms")(
         an.select(explode(array_distinct(col("_ts"))).as("term"))
           .groupBy("term").agg(count(lit(1)).cast("long").as("df"))))
    }
  }

  /** Stats for `terms` from the standing tables: a 1-row read + a
    * term-pushdown-filtered read of ≤ |terms| rows. Terms absent from the
    * corpus get df = 0, identical to the inline aggregate. */
  private def fromStanding(tables: (DataFrame, DataFrame), terms: Seq[String]): Stats = {
    val ts = terms.distinct
    val c = tables._1.collect().head
    val n = c.getLong(0)
    val avg100 = if (n == 0L) 0L else 100L * c.getLong(1) / n
    val dfs = tables._2
      .filter(col("term").isin(ts: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Stats(n, avg100, ts.map(t => t -> dfs.getOrElse(t, 0L)).toMap)
  }

  /** The DuckDB twin of the per-term score, for oracle SQL: `tf`, `dl`,
    * `n`, `df`, `avgdl100` are SQL expressions in the caller's scope. */
  def oracleTermSql(tf: String, dl: String, n: String, df: String,
                    avgdl100: String): String =
    s"""(CASE WHEN $tf > 0 THEN
       |  (($n - $df) * $tf * 22000 * $avgdl100)
       |  // (10000 * $avgdl100 * $tf + 3000 * $avgdl100 + 900000 * $dl)
       |ELSE 0 END)""".stripMargin.replace('\n', ' ')

  /** DuckDB twin of [[withPhraseScore]]'s pseudo-term: `tfp` (the phrase
    * frequency) and `idfSum` (Σ (n − df_t)) are SQL expressions. */
  def oraclePhraseSql(tfp: String, dl: String, idfSum: String,
                      avgdl100: String): String =
    s"""(CASE WHEN $tfp > 0 THEN
       |  (($idfSum) * $tfp * 22000 * $avgdl100)
       |  // (10000 * $avgdl100 * $tfp + 3000 * $avgdl100 + 900000 * $dl)
       |ELSE 0 END)""".stripMargin.replace('\n', ' ')

  /** DuckDB twin of the phrase-frequency count over a token-array column
    * `ts`: positions are 1-based; `range(start, stop)` is stop-exclusive
    * and empty when stop ≤ start, so short arrays need no guard. */
  def oraclePhraseFreqSql(ts: String, terms: Seq[String]): String = {
    val m = terms.length
    val conj = terms.zipWithIndex.map { case (t, j) =>
      if (j == 0) s"$ts[i] = '$t'" else s"$ts[i + $j] = '$t'" }.mkString(" AND ")
    s"len(list_filter(range(1, len($ts) - ${m - 1} + 1), i -> $conj))"
  }
}
