package graft.docs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Execute a COMPLETE ES search body — `query` + `sort` + `from`/`size` +
  * `_source` — over the assembled document table, the way the reference's
  * search endpoint does against its Elasticsearch index
  * (`README.md:67-147` bodies are the de-facto request language).
  *
  * Scale shape: pagination is `ORDER BY … LIMIT from+size` — Spark plans
  * that as `TakeOrderedAndProject` (per-partition bounded heaps + one
  * driver-side merge of `from+size` rows), NOT a global sort and NOT a
  * global row_number window. The subsequent offset drop runs on the
  * already-bounded page — at most `from+size` rows — so deep paging cost
  * grows with the page depth, never with the corpus (the same reason ES
  * caps `from+size` at 10k: the bounded heap IS the contract).
  */
object SearchExec {

  private def field(root: Column, path: Seq[String]): Column =
    path.foldLeft(root)((c, f) => c.getField(f))

  /** Resolve ES terms-LOOKUP nodes against the corpus: fetch the lookup
    * document's path values (one point-get per lookup — the bounded
    * driver-state class of SCALE.md's 1-row aggregates; ES performs the
    * identical GET before rewriting the query) and substitute a plain
    * terms query. Only combinator nodes are descended; a lookup nested
    * anywhere else reaches compile and throws loudly. A missing lookup
    * document or an empty value list matches NOTHING, the ES contract. */
  private def resolveLookups(q: SearchQuery, docs: DataFrame, doc: Column,
                             schema: org.apache.spark.sql.types.StructType): SearchQuery = {
    import graft.docs.{SearchQuery => SQ}
    def resolve(tl: SQ.TermsLookup): SearchQuery = {
      require(tl.index == "plan",
        s"terms lookup index \"${tl.index}\" is not this corpus (\"plan\")")
      val lp = tl.lookupPath.stripSuffix(".keyword").split('.').toSeq
      val valueCol = SQ.splitArrayPath(lp, schema) match {
        case (Nil, full) => array(field(doc, full).cast("string"))
        case (arr, rest) => transform(field(doc, arr),
          x => rest.foldLeft(x)((c, f) => c.getField(f)).cast("string"))
      }
      val rows = docs
        .filter(field(doc, Seq("objectId")) === tl.id)
        .select(valueCol.as("_vals"))
        .collect()
      val values = rows.headOption
        .map(_.getSeq[String](0).filter(_ != null).distinct).getOrElse(Nil)
      if (values.isEmpty) SQ.Not(SQ.MatchAll)
      else SQ.splitArrayPath(tl.field.stripSuffix(".keyword").split('.').toSeq, schema) match {
        case (Nil, full) => SQ.TermsIn(full, values)
        case (arr, rest) => SQ.NestedTermsIn(arr, rest, values)
      }
    }
    def walk(q0: SearchQuery): SearchQuery = q0 match {
      case SQ.And(qs @ _*) => SQ.And(qs.map(walk): _*)
      case SQ.Or(qs @ _*) => SQ.Or(qs.map(walk): _*)
      case SQ.DisMax(legs, tb) => SQ.DisMax(legs.map(walk), tb)
      case SQ.Not(p) => SQ.Not(walk(p))
      case SQ.AtLeast(n, qs) => SQ.AtLeast(n, qs.map(walk))
      case SQ.NestedCompound(ap, inner) => SQ.NestedCompound(ap, walk(inner))
      case tl: SQ.TermsLookup => resolve(tl)
      case other => other
    }
    walk(q)
  }

  /** Run `body` (a verbatim Kibana/ES JSON search request) against `docs`.
    *
    * Output: one row per hit, in hit order — `rn` (1-based global hit
    * position), `score` (satisfied-`should` count — present when the body
    * sorts by `_score`), then one column per `_source` path (named by the
    * path with dots → underscores; the whole doc column when `_source` is
    * absent). Deterministic output requires the body's `sort` to be a
    * total order (same contract as ES, which otherwise breaks ties by
    * internal doc id); a body with NO sort gets ES's default `_score`
    * desc order with an objectId tiebreak.
    */
  def search(docs0: DataFrame, docCol: String,
             body0: String, schema0: org.apache.spark.sql.types.StructType,
             similarity: String = "boolean"): DataFrame = Lex.planning("search") {
    require(similarity == "boolean" || similarity == "bm25",
      s"similarity must be boolean or bm25, got $similarity")
    // runtime_mappings splice computed fields into the document struct
    // BEFORE any parsing — query/sort/_source see them as plain fields
    val (docs, body, schema) = RuntimeFields(docs0, docCol, body0, schema0)
    val b = SearchQuery.parseFullBody(body, schema)
    val doc = col(docCol)
    // ES default when the body has no sort: _score desc. ES breaks score
    // ties by internal doc id; this engine has no hidden id, so the
    // deterministic equivalent is an objectId tiebreak — required to
    // exist, loudly, rather than returning a nondeterministic page.
    val sorts =
      if (b.sorts.nonEmpty) b.sorts
      else {
        require(schema.fieldNames.contains("objectId"),
          "body has no sort; the default _score order needs an objectId field for a deterministic tiebreak")
        Seq(SearchQuery.SortKey(Nil, asc = false, isScore = true),
          SearchQuery.SortKey(Seq("objectId"), asc = true, isScore = false))
      }
    val needScore = sorts.exists(_.isScore)
    val mainQuery = resolveLookups(b.parsed.query, docs, doc, schema)
    // slice: the id-th of max deterministic id-hash partitions of the hit
    // set (parallel export — each worker's query differs only in slice.id;
    // the union over ids is exactly the unsliced hit set)
    val sliceFilter = b.slice.map { case (id, max) =>
      require(schema.fieldNames.contains("objectId"),
        "slice needs an objectId field to hash")
      graft.ext.TextFunctions.stableHash32(
        concat(field(doc, Seq("objectId")), lit(":slice"))) % max === id
    }.getOrElse(lit(true))
    val hits0 = docs.filter(SearchQuery.compile(mainQuery, doc) && sliceFilter)
    // min_score prunes the HIT SET itself (before sort/collapse/paging
    // and before track_total_hits — ES shrinks total too), so the score
    // is computed for the filter even when no sort reads it.
    val hits = {
      val scored = if (needScore || b.minScore.nonEmpty) {
        if (similarity == "bm25") bm25Scored(hits0, docs, doc, b)
        else hits0.withColumn("score", SearchQuery.scoreCol(b.parsed, doc))
      } else hits0
      val floored = b.minScore.fold(scored)(ms => scored.filter(col("score") >= lit(ms)))
      // output contract: `score` rides only when a sort reads it
      if (needScore) floored else floored.drop("score")
    }
    /** A sort key as a value Column: plain field access, or — for an
      * array path — ES's nested sort: reduce the element values to one
      * key with the declared mode (`array_min`/`array_max` over a
      * per-element transform; empty arrays yield NULL = "missing"). */
    def keyValue(k: SearchQuery.SortKey): Column =
      if (k.isScore) col("score")
      else if (k.script.nonEmpty)
        // _script sort (type number): the mini-DSL value is the key
        // (_score rejected at parse — no score exists sort-side)
        SearchQuery.compileScript(k.script.get, doc, lit(null).cast("double"))
      else if (k.geo.nonEmpty) {
        // _geo_distance sort: haversine meters (÷ unit divisor) from the
        // literal origin — the same pure column trig as the geo queries
        val (la0, lo0, div) = k.geo.get
        val dist = Geo.haversineMeters(field(doc, k.path :+ "lat"),
          field(doc, k.path :+ "lon"), la0, lo0)
        if (div == 1.0) dist else dist / lit(div)
      }
      else SearchQuery.splitArrayPath(k.path, schema) match {
        case (Nil, full) => field(doc, full)
        case (arr, rest) =>
          // ES nested sort filter: the elements the mode reduces over are
          // filtered FIRST (per-element predicate — compileInNested);
          // a doc with no qualifying element sorts as missing (null)
          val pool = k.nestedFilter match {
            case Some(nf) => filter(field(doc, arr),
              x => coalesce(SearchQuery.compileInNested(nf, arr, x), lit(false)))
            case None => field(doc, arr)
          }
          val elems = transform(pool, x => field(x, rest))
          if (k.mode.contains("max")) array_max(elems) else array_min(elems)
      }
    val sortCols = sorts.map { k =>
      val c = keyValue(k)
      // ES sorts missing values LAST by default, both directions
      if (k.asc) c.asc_nulls_last else c.desc_nulls_last
    }
    // collapse: one best hit per field value, chosen by the sort order —
    // a rank-1 filter, which Catalyst plans as WindowGroupLimit (bounded
    // per-group heap BEFORE the shuffle), so collapsing a 100 TB corpus
    // moves one row per group, not the corpus.
    val collapsed = b.collapse match {
      case Some(p) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(field(doc, p)).orderBy(sortCols: _*)
        val ranked = hits.withColumn("_cr", row_number().over(w))
        val top = ranked.filter(col("_cr") === 1).drop("_cr")
        b.collapseInner match {
          case None => top
          case Some(ci) =>
            // inner_hits: the group's top-`size` ids by the EXPLICIT
            // inner sort, as one array column per collapsed row. Both
            // windows are WindowGroupLimit-bounded per group; the array
            // build is a |groups|-row aggregation joined back on the
            // collapse key — group-grain work, never a second corpus
            // pass.
            require(schema.fieldNames.contains("objectId"),
              "collapse inner_hits needs an objectId field to identify group members")
            val iw = org.apache.spark.sql.expressions.Window
              .partitionBy(field(doc, p))
              .orderBy({
                val c = field(doc, ci.sortPath)
                if (ci.asc) c.asc_nulls_last else c.desc_nulls_last
              }, field(doc, Seq("objectId")).asc)
            val groupTops = hits
              .withColumn("_ir", row_number().over(iw))
              .filter(col("_ir") <= ci.size)
              .groupBy(field(doc, p).as("_ck"))
              .agg(transform(array_sort(collect_list(struct(col("_ir"),
                field(doc, Seq("objectId")).as("_oid")))),
                x => x.getField("_oid")).as(ci.name))
            // Null-safe <=>: a null collapse key forms a group in the
            // row_number window, and `null === null` would silently drop
            // it here — the hit set must not depend on inner_hits presence.
            top.join(groupTops, field(doc, p) <=> col("_ck")).drop("_ck")
        }
      case None => hits
    }
    // search_after: keyset pagination — a lexicographic strictly-after
    // predicate on the sort tuple, then top-`size`. The 100 TB form of
    // deep paging: page N costs exactly what page 1 costs (a pushdown-
    // eligible filter + a bounded heap of `size` rows), where from/size
    // must heap from+size rows. This is why ES tells users to switch to
    // search_after past the 10k window.
    val afterFiltered = b.searchAfter match {
      case Some(vals) =>
        val keyed = sorts.zip(vals).map { case (k, v) =>
          (keyValue(k), k.asc, lit(v))
        }
        val after = keyed.indices.map { i =>
          val strict = {
            val (c, asc, v) = keyed(i)
            if (asc) c > v else c < v
          }
          keyed.take(i).map { case (c, _, v) => c === v }
            .foldRight(strict)(_ && _)
        }.reduce(_ || _)
        collapsed.filter(after)
      case None => collapsed
    }
    // rescore: the top window_size hits by base _score (a bounded
    // TakeOrderedAndProject — never a corpus-global reorder), then the
    // combined score replaces `score` and the window re-sorts (a
    // window_size-row sort; the page is guaranteed to fit inside it by
    // the parse-time from+size check). Non-window hits are gone — ES
    // semantics below the window are "original order", but the page
    // cannot reach them.
    val rescored = b.rescore match {
      case Some(rs) =>
        val window = afterFiltered.orderBy(sortCols: _*).limit(rs.windowSize)
        val rMatch = coalesce(SearchQuery.compile(rs.parsed.query, doc), lit(false))
        // rescore_score = the rescore query's relevance: under bm25
        // similarity its match-desugar shoulds score with the SAME
        // fixed-point BM25 as the first pass (stats from the unfiltered
        // index; cost is O(window) — the window is already bounded, which
        // is the whole point of rescore); under boolean it stays the
        // clause-count. A should-less rescore query scores 1 either way
        // (the ScoreShape base convention).
        // under bm25 a BARE-match rescore query is its own relevance
        // (same promotion as the main query in bm25Scored); under
        // boolean the 1.0 convention stands
        val rsClauses =
          if (similarity == "bm25") {
            // same clause selection as the first pass: musts score too,
            // and a bare match / dis_max / multi_match body is its own
            // relevance
            val cs = rs.parsed.scoringMusts ++ rs.parsed.shoulds
            if (cs.nonEmpty) cs
            else if (bm25Scoreable(rs.parsed.query)) Seq(rs.parsed.query)
            else Nil
          }
          else if (rs.parsed.shoulds.nonEmpty) rs.parsed.shoulds
          else Nil
        val win2 =
          if (rsClauses.isEmpty) window.withColumn("_rsc", lit(1.0))
          else if (similarity == "bm25")
            bm25ClauseScore(window, docs, doc, rsClauses, "_rsc", "r")
          else window.withColumn("_rsc",
            SearchQuery.scoreCol(rs.parsed, doc).cast("double"))
        win2.withColumn("score",
            col("score").cast("double") * lit(rs.queryWeight) +
              when(rMatch, col("_rsc").cast("double") *
                lit(rs.rescoreQueryWeight)).otherwise(lit(0.0)))
          .drop("_rsc")
      case None => afterFiltered
    }
    // TakeOrderedAndProject: bounded heap per partition, from+size rows total.
    val page = rescored.orderBy(sortCols: _*).limit(b.from + b.size)
    // Offset within the bounded page: the window runs over ≤ from+size
    // rows (post-limit), single-partition by design — the bounded heap
    // above caps the input, so the unpartitioned window is not a scale
    // risk (WindowExec's warning for it is suppressed in the test config).
    val w = org.apache.spark.sql.expressions.Window.orderBy(sortCols: _*)
    val numbered = page.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") > b.from)
    val sourceCols = b.source match {
      case Some(paths) => paths.map(p => field(doc, p).as(p.mkString("_")))
      case None => Seq(doc)
    }
    val scoreCols = if (needScore) Seq(col("score")) else Nil
    // highlight: wrap every occurrence of the query's terms for the
    // highlighted field (computed on the ≤ size-row PAGE, never the
    // corpus). Terms are parse-time constants, so the pattern is one
    // literal regex; a hit selected only by clauses on OTHER fields gets
    // NULL (require_field_match — ES omits the field for such hits).
    val highlightCols = b.highlight.toSeq.map { h =>
      val terms = SearchQuery.highlightTerms(b.parsed.query, h.path)
      def escTok(t: String): String = t.replaceAll("([\\\\.^$|?*+()\\[\\]{}])", "\\\\$1")
      // longest alternative FIRST: regex alternation is leftmost-preference,
      // so "gold|gold standard" would wrap only "gold" inside the phrase —
      // ES highlights the longest covering match
      val alts = terms.sortBy(t => (-t.length, t))
        .map(_.trim.split("\\s+").map(escTok).mkString("\\s+"))
      val pat = s"(?i)\\b(?:${alts.mkString("|")})\\b"
      val v = field(doc, h.path).cast("string")
      val out =
        if (h.numberOfFragments == 0)
          when(v.rlike(pat), regexp_replace(v, pat, h.pre + "$0" + h.post))
            .otherwise(lit(null).cast("string"))
        else {
          // fragment mode: extract up to N non-overlapping ~fragment_size
          // windows centered on matches (⌊size/2⌋ context chars each
          // side — greedy left-to-right, so extraction consumes text and
          // fragments never overlap), wrap the terms inside each, join
          // with "|". Runs on the ≤size-row PAGE only, never the corpus.
          val k = h.fragmentSize / 2
          val fragPat = s"(?i).{0,$k}\\b(?:${alts.mkString("|")})\\b.{0,$k}"
          val frags = slice(regexp_extract_all(v, lit(fragPat), lit(0)),
            1, h.numberOfFragments)
          val wrapped = transform(frags,
            f => regexp_replace(f, pat, h.pre + "$0" + h.post))
          when(size(wrapped) > 0, concat_ws("|", wrapped))
            .otherwise(lit(null).cast("string"))
        }
      out.as(h.path.mkString("_") + "_highlight")
    }
    // script_fields: per-hit computed columns (the script mini-DSL),
    // evaluated on the ≤size-row page — never the corpus. No score column
    // reaches here (rejected at parse), so the score arg is a null lit.
    val scriptFieldCols = b.scriptFields.map { case (name, e) =>
      SearchQuery.compileScript(e, doc, lit(null).cast("double")).as(name)
    }
    // docvalue_fields: raw values as `<path>_dv` strings; a `format` on a
    // long field reads epoch MICROSECONDS (the engine's convention), on a
    // timestamp formats directly — both pure column expressions.
    val docvalueCols = b.docvalueFields.map { case (p, fmt) =>
      val v = field(doc, p)
      val leaf = SearchQuery.leafType(p, schema, "docvalue_fields")
      (fmt match {
        case None => v.cast("string")
        case Some(f) => date_format(
          if (leaf == org.apache.spark.sql.types.TimestampType) v
          else timestamp_micros(v.cast("long")), f)
      }).as(p.mkString("_") + "_dv")
    }
    // collapse inner_hits ride the page as their named array column
    val innerCols = b.collapseInner.toSeq.map(ci => col(ci.name))
    val paged = numbered
      .select((col("rn") +: scoreCols) ++ sourceCols ++ scriptFieldCols ++
        docvalueCols ++ highlightCols ++ innerCols: _*)
      .orderBy(col("rn"))
    // track_total_hits: the EXACT hit count beside the page — one global
    // count over the PRE-collapse hit set (ES counts matching documents,
    // not collapsed groups; `total.value` ignores `collapse` the same way
    // it ignores pagination), broadcast onto the ≤size-row page. The
    // count aggregation shares the scan's pushed filters; at 100 TB it is
    // one extra partial+final count, never a second sort.
    if (!b.trackTotalHits) paged
    else paged.crossJoin(broadcast(
      hits0.agg(count(lit(1)).cast("long").as("total"))))
  }

  /** `similarity=bm25` scoring: each top-level SCORING clause — `must`
    * AND `should`, the ES scoring contexts (`filter` never scores) —
    * that is a whitespace-analyzed `match` desugar — a
    * [[SearchQuery.TermMatch]], or an Or/And of TermMatch on one path —
    * contributes the fixed-point BM25 ([[Bm25]]) of its terms against
    * that field, with index-level stats from the UNFILTERED corpus (the
    * ES semantic: df/avgdl are index metadata). A
    * [[SearchQuery.DisMax]] clause (dis_max / multi_match best_fields)
    * scores max over its legs' scores (+ tie_breaker·(sum − max), fixed-
    * point floor) — ES's DisjunctionMaxQuery fold. Any other scoring
    * clause keeps its 1-point satisfied-clause score — mixing
    * constant-score clauses into a BM25 sum is exactly what ES's bool
    * query does. The score stays a LONG
    * (fixed-point), so min_score floors and sort orders are oracle-exact.
    * `rescore` re-ranks its bounded window with the SAME scorer (the
    * rescore path above calls [[bm25ShouldScore]] on the window).
    * Score-shaping wrappers — script_score / function_score / pinned —
    * fold over the bm25 base through the SAME algebra as boolean mode
    * ([[SearchQuery.scoreCol]] with the base override): `_score` inside
    * a script reads the bm25 sum, function boost_mode multiplies/adds
    * onto it, and the pinned ladder rides above it (10¹⁵ rung — the
    * fixed-point scores outgrow the boolean 10⁹ ladder near 10⁸ docs). */
  private def bm25Scored(hits: DataFrame, index: DataFrame, doc: Column,
                         b: SearchQuery.FullBody): DataFrame = {
    val p = b.parsed
    // a body whose top level is a bare match (or the inner query of
    // script_score / function_score / pinned organic is one) carries no
    // bool shoulds — but in ES that match IS the relevance, so score the
    // whole query as one bm25 clause when it is a match desugar. The
    // pinned parse wraps the organic as Or(TermsIn(objectId, ids), q);
    // the scoreable candidate is the ORGANIC side (pinned ids override
    // through the ladder anyway, and treating the whole Or as
    // unscoreable would silently zero every organic hit's relevance).
    val candidate = (p.pinned, p.query) match {
      case (pin, SearchQuery.Or(SearchQuery.TermsIn(_, _), organic))
        if pin.nonEmpty => organic
      case _ => p.query
    }
    // ES sums the score of EVERY scoring-context clause: top-level musts
    // AND shoulds (filter never scores). A must clause is satisfied by
    // every hit by construction, so a non-match must adds a constant 1 —
    // order-neutral — while a must-clause match desugar contributes its
    // per-document BM25, the most common Kibana composition.
    val clauses =
      if (p.scoringMusts.nonEmpty || p.shoulds.nonEmpty)
        p.scoringMusts ++ p.shoulds
      else if (bm25Scoreable(candidate)) Seq(candidate)
      else Nil
    if (clauses.isEmpty)
      // nothing bm25-scoreable (filter-only / range / match_all query) —
      // the boolean algebra is the bm25 algebra (base 0/1 conventions
      // are similarity-independent)
      hits.withColumn("score", SearchQuery.scoreCol(p, doc))
    else
      bm25ClauseScore(hits, index, doc, clauses, "_bm25_base", "s")
        .withColumn("score",
          SearchQuery.scoreCol(p, doc, Some(col("_bm25_base"))))
        .drop("_bm25_base")
  }

  /** True when `q` carries any bm25-scoreable leg: a match desugar
    * ([[asMatch]]), or a [[SearchQuery.DisMax]] (dis_max / multi_match
    * best_fields) with one — the shapes a bare query body is promoted
    * to its own relevance for. */
  private def bm25Scoreable(q: SearchQuery): Boolean = q match {
    case SearchQuery.DisMax(legs, _) => legs.exists(bm25Scoreable)
    case SearchQuery.CrossFields(_, _, _, _) => true
    case SearchQuery.CombinedFields(_, _, _) => true
    case _ => asMatch(q).nonEmpty || asPhrase(q).nonEmpty
  }

  /** The match-desugar shapes scoreable per-term (lowercased — the
    * whitespace analyzer lowercases at compile, SearchOps.tokenMatch):
    * a [[SearchQuery.TermMatch]], or an Or/And of TermMatch on one
    * field path. Returns (path, terms) when scoreable. */
  private def asMatch(q: SearchQuery): Option[(Seq[String], Seq[String])] = {
    import graft.docs.{SearchQuery => SQ}
    def flatTerms(qs: Seq[SearchQuery]): Option[(Seq[String], Seq[String])] = {
      val tms = qs.map { case SQ.TermMatch(pa, t) => Some((pa, t.toLowerCase))
                         case _ => None }
      if (tms.exists(_.isEmpty)) None
      else {
        val flat = tms.flatten
        if (flat.map(_._1).distinct.size == 1)
          Some((flat.head._1, flat.map(_._2)))
        else None
      }
    }
    q match {
      case SQ.TermMatch(path, t) => Some((path, Seq(t.toLowerCase)))
      case SQ.Or(qs @ _*) => flatTerms(qs)
      case SQ.And(qs @ _*) => flatTerms(qs)
      case _ => None
    }
  }

  /** The doc-level PHRASE shapes scoreable under bm25 (d287): a
    * [[SearchQuery.MatchPhrase]] or a two-term [[SearchQuery.PhraseSlop]].
    * Returns (path, analyzed terms, the node itself — the score GATE).
    * An EXACT phrase scores positionally (r18): phraseFreq-as-tf with
    * summed term idfs, Lucene's PhraseQuery shape
    * ([[Bm25.withPhraseScore]]). A SLOP phrase keeps the terms-sum form
    * gated on its predicate (Lucene's sloppyFreq Σ 1/(gap+1) is
    * non-integer — outside the fixed-point contract; documented
    * deviation). Nested phrase legs keep the 1-point constant (nested
    * match legs are not bm25-scored either). */
  private def asPhrase(q: SearchQuery)
      : Option[(Seq[String], Seq[String], SearchQuery)] = {
    import graft.docs.{SearchQuery => SQ}
    q match {
      case SQ.MatchPhrase(path, phrase) =>
        val toks = phrase.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
        if (toks.isEmpty) None else Some((path, toks, q))
      case SQ.PhraseSlop(path, a, b, _) => Some((path, Seq(a, b), q))
      case _ => None
    }
  }

  /** Attach `out` = the bm25-mode relevance of `clauses` to `df`, summed
    * over the clauses: a match desugar scores the fixed-point BM25 of its
    * terms against its field, a phrase its phrase score, dis_max /
    * cross_fields / combined_fields fold their legs, and any other clause
    * keeps its 1-point satisfied score (mixing constant-score clauses
    * into a BM25 sum is exactly what ES's bool query does). Stats are
    * [[Bm25.stats]] of the UNFILTERED `index`, one fetch per distinct
    * field path. */
  private def bm25ClauseScore(df: DataFrame, index: DataFrame, doc: Column,
                              clauses: Seq[SearchQuery], out: String,
                              tag: String): DataFrame = {
    import graft.docs.{SearchQuery => SQ}
    def toks(path: Seq[String]): Column =
      split(lower(field(doc, path)), "\\s+")
    // ONE bounded stats fetch per distinct field path — all clauses'
    // terms for a path pool, INCLUDING legs nested inside DisMax (k
    // same-field clauses must not cost k scans)
    def matchLegs(q: SearchQuery): Seq[(Seq[String], Seq[String])] = q match {
      case SQ.DisMax(legs, _) => legs.flatMap(matchLegs)
      // cross_fields/combined_fields need every (field, full term list)
      // pair — merged/blended df is the max across the fields, so each
      // field's df for EVERY term must be in that field's pooled fetch
      case SQ.CrossFields(paths, terms, _, _) => paths.map(p => (p, terms))
      case SQ.CombinedFields(paths, terms, _) => paths.map(p => (p, terms))
      case _ => asMatch(q).toSeq ++ asPhrase(q).map(p => (p._1, p._2))
    }
    val statsByPath = clauses.flatMap(matchLegs).groupBy(_._1)
      .map { case (pa, xs) =>
        pa -> Bm25.stats(index, toks(pa), xs.flatMap(_._2).distinct)
      }
    var cur = df
    var nextId = 0
    val bmCols = scala.collection.mutable.ListBuffer[String]()
    // One clause's score as a Column (helper columns attach to `cur`):
    // match desugar → fixed-point BM25 sum of its terms; DisMax →
    // max over leg scores + tieBreaker·(sum − max) floored in fixed
    // point (ES's DisjunctionMaxQuery fold — legs recurse, so a
    // dis_max of multi_match scores correctly); anything else → its
    // satisfied-clause 1 point (mixing constant-score clauses into a
    // BM25 sum is exactly what ES's bool query does).
    def clauseScore(q: SearchQuery): Column = asMatch(q) match {
      case Some((path, terms)) =>
        val name = s"_bm25_${tag}_c$nextId"
        nextId += 1
        cur = Bm25.withScore(cur, Seq(toks(path)), terms, statsByPath(path),
          name, s"$tag$nextId")
        bmCols += name
        col(name)
      case None if asPhrase(q).nonEmpty =>
        // phrase clause (d287, upgraded r18): an EXACT phrase scores as
        // ONE Lucene PhraseQuery pseudo-term — tf = phrase frequency
        // (consecutive-position count in the token array), idf = Σ of
        // the terms' integer idfs ([[Bm25.withPhraseScore]]); a doc with
        //2 phrase occurrences now outranks a doc with 1 (Bm25Spec). A
        // SLOP phrase keeps the terms-sum form (Lucene's sloppyFreq is a
        // non-integer Σ 1/(gap+1) — outside the fixed-point contract;
        // documented deviation, SURVEY §2 ledger). Both stay GATED on
        // the phrase predicate — a doc with the terms but not the
        // phrase scores 0, as ES's PhraseQuery does (for the exact form
        // the gate is subsumed by tf = 0, kept as a belt).
        val (path, terms, gate) = asPhrase(q).get
        val name = s"_bm25_${tag}_c$nextId"
        nextId += 1
        cur = gate match {
          case SQ.MatchPhrase(_, _) =>
            Bm25.withPhraseScore(cur, toks(path), terms, statsByPath(path),
              name, s"$tag$nextId")
          case _ =>
            Bm25.withScore(cur, Seq(toks(path)), terms, statsByPath(path),
              name, s"$tag$nextId")
        }
        bmCols += name
        when(coalesce(SQ.compile(gate, doc), lit(false)), col(name))
          .otherwise(lit(0L))
      case None => q match {
        case SQ.DisMax(legs, tb) =>
          val scores = legs.map(clauseScore)
          val mx = if (scores.size == 1) scores.head else greatest(scores: _*)
          if (tb == 0.0) mx
          else // legs are non-negative, so double→long cast IS floor
            mx + (lit(tb) * (scores.reduce(_ + _) - mx).cast("double"))
              .cast("long")
        case SQ.CombinedFields(paths, terms, _) =>
          // merged pseudo-field BM25F-lite (Lucene CombinedFieldQuery,
          // unit weights — r18): per term tf = Σ field tfs, dl = Σ field
          // lengths, df = max across fields, avgdl100 = Σ per-field
          // avgdl100 — ONE fixed-point score over the merged field
          // ([[Bm25.withScore]] over every field); contrast the
          // cross_fields branch below, which scores per-field LEGS with
          // blended df and takes the best.
          val dfb: Map[String, Long] = terms.map(t =>
            t -> paths.map(p => statsByPath(p).df.getOrElse(t, 0L)).max).toMap
          val n = statsByPath(paths.head).nDocs
          val a100c = paths.map(p => statsByPath(p).avgdl100).sum
          val name = s"_bm25_${tag}_c$nextId"
          nextId += 1
          cur = Bm25.withScore(cur, paths.map(toks), terms,
            Bm25.Stats(n, a100c, dfb), name, s"$tag$nextId")
          bmCols += name
          col(name)
        case SQ.CrossFields(paths, terms, tb, _) =>
          // term-centric blended statistics (Lucene BlendedTermQuery —
          // the ES cross_fields scorer, r18): per TERM, df is blended as
          // the MAX df across the fields; each field leg scores the
          // fixed-point BM25 of that ONE term with the blended df
          // against the field's own tf/dl/avgdl; the term folds
          // max + tb·(sum − max) over its legs (tb 0 = best field, the
          // ES default); the clause is the SUM over terms. Stats come
          // from the same pooled per-path fetch as every other clause.
          val dfb: Map[String, Long] = terms.map(t =>
            t -> paths.map(p => statsByPath(p).df.getOrElse(t, 0L)).max).toMap
          // duplicate query tokens score ONCE — the engine-wide contract
          // (every Bm25 entry point dedups with terms.distinct; r19,
          // ADVICE r18 #2, pinned by Bm25Spec's duplicate-token case)
          terms.distinct.map { t =>
            val legs = paths.map { p =>
              val st = statsByPath(p)
              val blended = Bm25.Stats(st.nDocs, st.avgdl100, Map(t -> dfb(t)))
              val name = s"_bm25_${tag}_c$nextId"
              nextId += 1
              cur = Bm25.withScore(cur, Seq(toks(p)), Seq(t), blended,
                name, s"$tag$nextId")
              bmCols += name
              col(name)
            }
            val mx = if (legs.size == 1) legs.head else greatest(legs: _*)
            if (tb == 0.0) mx
            else mx + (lit(tb) * (legs.reduce(_ + _) - mx).cast("double"))
              .cast("long")
          }.reduce(_ + _)
        case _ => coalesce(SQ.compile(q, doc).cast("long"), lit(0L))
      }
    }
    val score = clauses.map(clauseScore).reduce(_ + _)
    cur.withColumn(out, score).drop(bmCols.toSeq: _*)
  }
}
