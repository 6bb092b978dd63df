package graft.docs

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The engine's query AST — the structured equivalent of the reference's
  * Elasticsearch DSL surface (`README.md:67-147`), compiled to a single
  * Catalyst predicate `Column` (SURVEY §3.3: "DSL-shaped query surface
  * compiles to DataFrame predicates").
  *
  * Each AST node maps 1:1 onto a canonical query form (Q1-Q6, SearchOps);
  * `And`/`Or`/`Not` compose them the way ES `bool`
  * `must`/`should`/`must_not` clauses do. Compilation is pure expression
  * building — the result participates in pushdown/pruning like any
  * hand-written filter.
  */
sealed trait SearchQuery

object SearchQuery {

  /** Q1 — match every document. */
  case object MatchAll extends SearchQuery
  /** Q3/Q4 — glob wildcard on a (possibly nested-scalar) field path. */
  final case class Wildcard(path: Seq[String], glob: String) extends SearchQuery
  /** ES `geo_distance` query: documents whose `path.lat`/`path.lon`
    * point lies within `meters` of the origin, by haversine
    * ([[Geo.haversineMeters]]; sphere radius and libm tolerance
    * documented there). `latBox`/`lonBox` are a parse-time bounding-box
    * pre-filter — a conservative SUPERSET of the circle in plain numeric
    * bounds, so Parquet pushes it to the scan and prunes row groups
    * BEFORE any trigonometry runs (the 100 TB shape: most of the planet
    * is outside the circle and never costs a sin). Membership is always
    * decided by the haversine itself; `lonBox` is None when the circle
    * nears a pole or the antimeridian (the box would wrap). */
  final case class GeoDistance(path: Seq[String], lat: Double, lon: Double,
                               meters: Double, latBox: (Double, Double),
                               lonBox: Option[(Double, Double)]) extends SearchQuery
  /** One rule of an ES `intervals` query: a `match` proximity rule
    * (terms + `ordered` + `max_gaps`, [[SearchOps.intervalMatch]]) or an
    * `any_of` disjunction of rules. `all_of`, the prefix/wildcard/fuzzy
    * rules and the `containing`-family filters are rejected at parse. */
  /** ES `geo_bounding_box` query — a pure lat/lon range predicate (the
    * map-viewport filter): fully pushable, no trigonometry at all.
    * Boxes crossing the antimeridian (left > right) are rejected at
    * parse rather than silently matching the complement. */
  final case class GeoBoundingBox(path: Seq[String], top: Double, left: Double,
                                  bottom: Double, right: Double) extends SearchQuery
  /** ES `geo_shape` query with a polygon shape over geo_point documents:
    * ray-casting parity test ([[Geo.pointInPolygon]]) behind the
    * polygon's lat/lon bounding box as a PUSHABLE numeric pre-filter —
    * the d121 two-stage shape: most of the planet prunes at the parquet
    * scan before any edge test runs. For point fields, `intersects` and
    * `within` coincide (point inside polygon); `disjoint` is the
    * complement (bbox cannot prune — the complement reads everything,
    * inherently). The envelope shape needs no node: it desugars to
    * [[GeoBoundingBox]] at parse. Vertices are (lat, lon). */
  final case class GeoShapePolygon(path: Seq[String],
                                   verts: Seq[(Double, Double)],
                                   disjoint: Boolean) extends SearchQuery
  sealed trait IntervalRule
  final case class IntervalMatch(terms: Seq[String], ordered: Boolean,
                                 maxGaps: Int) extends IntervalRule
  final case class IntervalAnyOf(rules: Seq[IntervalRule]) extends IntervalRule
  /** ES `intervals` query — the modern span-query replacement: ordered /
    * gap-bounded proximity over analyzed positions. */
  final case class Intervals(path: Seq[String], rule: IntervalRule) extends SearchQuery
  /** ES `span_first` — the analyzed term must appear within the first
    * `end` token positions (span end ≤ end). `span_near` needs no node
    * of its own: it desugars onto [[Intervals]] (slop = max_gaps,
    * in_order = ordered) at parse. */
  final case class SpanFirst(path: Seq[String], term: String, end: Int) extends SearchQuery
  /** Q5 — numeric range on a field path; bounds are inclusive by default
    * (ES `gte`/`lte`) with per-bound exclusivity for `gt`/`lt`. */
  final case class Range(path: Seq[String], lo: Long, hi: Long,
                         loIncl: Boolean = true, hiIncl: Boolean = true) extends SearchQuery
  /** Q2 — SOME element of the array field matches `field == value`. */
  final case class NestedTerm(arrayPath: Seq[String], field: Seq[String], value: String) extends SearchQuery
  /** Q6 nested — SOME element's ANALYZED `field` contains the analyzed
    * `term` (ES `match` on a nested text field; an explicit `.keyword`
    * path keeps NestedTerm's exact equality instead). */
  final case class NestedTokenMatch(arrayPath: Seq[String], field: Seq[String], term: String) extends SearchQuery
  /** `match_bool_prefix`'s last term: some analyzed token starts with the
    * prefix (search-as-you-type; the full terms desugar to TermMatch). */
  final case class TokenPrefix(path: Seq[String], value: String) extends SearchQuery
  final case class NestedTokenPrefix(arrayPath: Seq[String], field: Seq[String],
                                     value: String) extends SearchQuery
  /** Q4 — SOME element of the array field matches a glob on `field`. */
  final case class NestedWildcard(arrayPath: Seq[String], field: Seq[String], glob: String) extends SearchQuery
  /** Q5 nested — SOME element's numeric `field` is within the bounds. */
  /** ES `range` over a DATE/TIMESTAMP field with date-math bounds —
    * `"2024-01-08||+1w/w"` anchored math (`||` splits an ISO anchor from
    * `±N{y,M,w,d,h,m,s}` steps and an optional `/unit` round-down; `/w`
    * rounds to the ISO Monday, as ES does). Bounds resolve to TIMESTAMP
    * literals at parse time. `now`-anchored math is rejected loudly — a
    * wall-clock anchor makes the hit set nondeterministic (re-running the
    * query returns different rows), the same honesty rule as silently
    * dropped clauses; callers bind their own "now" into the body.
    * Rounding on `lte`/`gt` is rejected too: ES rounds those UP to the
    * unit's end — support the half-open gte/lt form, which is what the
    * round-down semantics make exact. */
  final case class TsRange(path: Seq[String],
                           lo: Option[java.sql.Timestamp], hi: Option[java.sql.Timestamp],
                           loIncl: Boolean, hiIncl: Boolean) extends SearchQuery
  final case class NestedRange(arrayPath: Seq[String], field: Seq[String], lo: Long, hi: Long,
                               loIncl: Boolean = true, hiIncl: Boolean = true) extends SearchQuery
  /** Q6 — whitespace-tokenized term match on a text field. */
  final case class TermMatch(path: Seq[String], term: String) extends SearchQuery
  /** ES `terms` — exact membership in a value list (keyword semantics). */
  final case class TermsIn(path: Seq[String], values: Seq[String]) extends SearchQuery
  /** ES `terms` LOOKUP form — the value list lives in ANOTHER document:
    * `{"terms": {"<field>": {"index": …, "id": …, "path": …}}}`. ES
    * executes this by fetching the lookup document and rewriting to a
    * plain terms query; [[SearchExec.search]] does the same rewrite
    * (`resolveLookups`) — a 1-document point-get whose values become a
    * [[TermsIn]]/[[NestedTermsIn]], the bounded-driver-state class
    * documented in SCALE.md. An unresolved lookup reaching [[compile]]
    * throws: only the search entry point carries the corpus. */
  final case class TermsLookup(field: String, index: String, id: String,
                               lookupPath: String) extends SearchQuery
  /** ES `terms_set` — "at least N of these exact terms present in the
    * multi-valued field": matching-term count = |terms ∩ field values|
    * (DISTINCT terms, the ES contract — a term twice in the field counts
    * once), compared per document to `minimum_should_match_field` (a
    * numeric document field, Right) or a constant `minimum_should_match`
    * (Left). An array-crossing path IS this engine's multi-valued-keyword
    * mapping (`arrayPath` empty = scalar field, a 0/1-element set). */
  final case class TermsSet(arrayPath: Seq[String], fieldPath: Seq[String],
                            values: Seq[String],
                            msm: Either[Long, Seq[String]]) extends SearchQuery
  final case class NestedTermsIn(arrayPath: Seq[String], field: Seq[String], values: Seq[String]) extends SearchQuery
  /** ES `exists` — the field is present: non-null, and for array fields
    * NON-EMPTY (ES indexes no value for `[]`, so `exists` treats an empty
    * array as missing). */
  final case class ExistsField(path: Seq[String], isArray: Boolean) extends SearchQuery
  final case class NestedExistsField(arrayPath: Seq[String], field: Seq[String]) extends SearchQuery
  /** ES `prefix` — literal (unescaped) prefix on a keyword field. */
  final case class Prefix(path: Seq[String], value: String) extends SearchQuery
  final case class NestedPrefix(arrayPath: Seq[String], field: Seq[String], value: String) extends SearchQuery
  /** ES `match_phrase` — the analyzed tokens appear CONSECUTIVELY. */
  final case class MatchPhrase(path: Seq[String], phrase: String) extends SearchQuery
  final case class NestedMatchPhrase(arrayPath: Seq[String], field: Seq[String], phrase: String) extends SearchQuery
  /** ES `match_phrase_prefix` — the analyzed tokens appear CONSECUTIVELY
    * with the LAST matching as a PREFIX of its doc token (the
    * autocomplete query). `max_expansions` is accepted and documented as
    * exact-unbounded: the ES bound truncates the inverted index's prefix
    * expansion list, an index artifact a scan engine does not have —
    * matches are a SUPERSET of any truncated expansion, never fewer. */
  final case class PhrasePrefix(path: Seq[String], phrase: String) extends SearchQuery
  final case class NestedPhrasePrefix(arrayPath: Seq[String], field: Seq[String],
                                      phrase: String) extends SearchQuery
  /** `match_phrase` with `slop` (two terms): Lucene's move-count metric
    * over token positions — ordered gap g costs g, transposition costs
    * distance+1 ("b a" for query "a b" = 2, ES's documented example). */
  final case class PhraseSlop(path: Seq[String], a: String, b: String,
                              slop: Int) extends SearchQuery
  final case class NestedPhraseSlop(arrayPath: Seq[String], field: Seq[String],
                                    a: String, b: String, slop: Int) extends SearchQuery
  /** ES `regexp` — ANCHORED regex on a keyword field (ES/Lucene regexps
    * must match the whole value; compiled as `^(?:…)$` rlike). */
  final case class Regexp(path: Seq[String], pattern: String) extends SearchQuery
  final case class NestedRegexp(arrayPath: Seq[String], field: Seq[String], pattern: String) extends SearchQuery
  /** ES `fuzzy` — unanalyzed term within `fuzziness` edits (Damerau in
    * Lucene; plain Levenshtein here — documented, and identical in the
    * oracle). Integer fuzziness only; AUTO is rejected. */
  final case class Fuzzy(path: Seq[String], value: String, fuzziness: Int) extends SearchQuery
  final case class NestedFuzzy(arrayPath: Seq[String], field: Seq[String],
                               value: String, fuzziness: Int) extends SearchQuery
  /** ES bool must / should / must_not. */
  final case class And(qs: SearchQuery*) extends SearchQuery
  final case class Or(qs: SearchQuery*) extends SearchQuery
  final case class Not(q: SearchQuery) extends SearchQuery
  /** ES `dis_max` — and `multi_match` best_fields, which IS a
    * DisjunctionMaxQuery in ES. Hit set = the UNION of the legs
    * (identical to [[Or]]); the node exists because bm25 scoring needs
    * the max-vs-sum intent the Or desugar erases: under
    * `similarity=bm25` the clause scores max(leg scores)
    * (+ tieBreaker·(sum − max), fixed-point floor) instead of a sum
    * (SearchExec.bm25ClauseScore). Boolean mode keeps the satisfied-
    * clause 1-point convention (the score never looked inside Or
    * either). */
  final case class DisMax(legs: Seq[SearchQuery],
                          tieBreaker: Double = 0.0) extends SearchQuery
  /** ES bool `should` with `minimum_should_match` = n ≥ 2: at least n of
    * `qs` hold. Compiles as a sum of boolean casts — one pass over the
    * clauses, no combinatorial expansion. n > qs.size matches nothing
    * (ES's behavior for an unsatisfiable msm). */
  final case class AtLeast(n: Int, qs: Seq[SearchQuery]) extends SearchQuery
  /** ES `nested` wrapper whose inner query is COMPOSED (bool/must_not/…):
    * SOME element of `arrayPath` satisfies the whole inner predicate.
    * This is materially different from compiling the composition at
    * document level — `nested{bool{must:[A,B]}}` requires ONE element
    * satisfying A∧B, not one element for A and another for B (each nested
    * element is its own Lucene document in ES). Single-leaf inner queries
    * don't need the wrapper: ∃x.P(x) is already what Nested* compiles to. */
  final case class NestedCompound(arrayPath: Seq[String], inner: SearchQuery) extends SearchQuery
  /** `multi_match` `type: cross_fields` marker (r18, closing the blended-
    * statistics deviation): HIT semantics are exactly `inner` — the
    * combined_fields desugar (term-centric: every analyzed token in at
    * least one of `paths` under operator=and; any token anywhere under
    * or) — and `compile` delegates to it, so pushdown and boolean
    * scoring are unchanged. Under `similarity=bm25` the scorer
    * recognizes the node and applies Lucene BlendedTermQuery semantics
    * (ES's MultiMatchQueryBuilder cross_fields path): per TERM, document
    * frequency is BLENDED as the max df across the fields, each field
    * leg scores with that blended df against its own tf/dl/avgdl, and
    * the term's score folds max + tieBreaker·(sum − max) over the legs
    * (tie_breaker 0 — take the best field — is the ES default); the
    * query's score is the SUM over terms. This is term-centric where
    * best_fields is field-centric: a term appearing only in a low-df
    * field no longer gets that field's private idf. */
  final case class CrossFields(paths: Seq[Seq[String]], terms: Seq[String],
                               tieBreaker: Double,
                               inner: SearchQuery) extends SearchQuery
  /** `combined_fields` marker (r18, closing its bm25 scoring deviation):
    * HIT semantics are exactly `inner` (the term-centric desugar —
    * identical to cross_fields' hits) and `compile` delegates. Under
    * bm25 the scorer applies Lucene CombinedFieldQuery's merged
    * pseudo-field BM25F (unit weights — per-field ^boosts stay
    * rejected): per term tf = Σ field tfs, dl = Σ field lengths,
    * df = max across fields, avgdl = Σ per-field avgdls. Contrast with
    * [[CrossFields]]: cross_fields scores each field leg separately
    * with blended df and takes the best; combined_fields scores ONE
    * merged field — the two ES queries' documented difference. */
  final case class CombinedFields(paths: Seq[Seq[String]],
                                  terms: Seq[String],
                                  inner: SearchQuery) extends SearchQuery

  private def field(root: Column, path: Seq[String]): Column =
    path.foldLeft(root)((c, f) => c.getField(f))

  // ------------------------------------------------------------ ES JSON

  /** Parse the reference's Kibana/ES query JSON (`README.md:67-147` — its
    * de-facto query language) into the AST, so a reference user can run
    * their existing query bodies verbatim.
    *
    * Supported forms (everything the reference README exercises, plus
    * `bool`/`term` for composition): `match_all`, `match`, `term`,
    * `terms` (keyword membership), `exists` (empty arrays are MISSING, as
    * in ES), `prefix` (literal), `match_phrase` (consecutive analyzed
    * tokens), `wildcard` (with the ES `{"value": …}` object or a bare
    * string, and `.keyword` path suffixes), `range` (`gte`/`lte`), `nested` (the
    * wrapper is transparent for the predicate — field paths are absolute
    * in ES — and `inner_hits` projection is SearchOps.innerHits, applied
    * separately), and `bool` (`must` → And, `should` → Or, `must_not` →
    * Not; the must+should interaction is simplified to conjunction).
    *
    * ES `nested.path` names any nested *mapping object* — the reference
    * maps structs AND arrays as `nested` (`IndexingListener.java:71-96`)
    * — so array-ness cannot be read off the query. The parser resolves it
    * from the document schema: the first path component typed ArrayType
    * splits the path into (arrayPath, elementField) → Nested* nodes;
    * struct-only paths compile to plain field access (README query 5:
    * `nested` over `planCostShares` is just `planCostShares.copay`).
    */
  /** A fully-parsed ES body: the filter AST, every `inner_hits` request
    * carried by a `nested` wrapper — `(wrapperPath, innerQuery)`, compiled
    * to a matched-children array column by [[innerHitCol]] (`README.md:
    * 84-93`: ES re-extracts the matching children) — and the top-level
    * bool's `should` clauses, kept for ranking: with `must`/`filter`
    * present, ES `should` does not filter (msm=0) but still BOOSTS
    * `_score`; [[scoreCol]] exposes that as clause-count relevance. */
  final case class Parsed(query: SearchQuery, hits: Seq[(Seq[String], SearchQuery)],
                          shoulds: Seq[SearchQuery] = Nil,
                          shape: Option[ScoreShape] = None,
                          pinned: Seq[String] = Nil,
                          script: Option[ScriptExpr] = None,
                          /** Top-level bool `must` clauses, re-parsed for
                            * scoring: ES sums the score of EVERY scoring-
                            * context clause — must AND should — and `must:
                            * {match: …}` is the most common Kibana
                            * composition. Read only by the bm25 path
                            * (SearchExec.bm25Scored); boolean mode keeps
                            * the documented satisfied-`should`-count
                            * convention. `filter` clauses never score in
                            * ES and are never captured here. */
                          scoringMusts: Seq[SearchQuery] = Nil)

  /** `script_score` mini-DSL — the arithmetic subset of Painless every
    * real script_score body lives in: `doc['field'].value`, `_score`,
    * numeric literals, `+ - * /`, parentheses, unary minus, and
    * `Math.log/sqrt/abs`. Anything else is rejected at parse (honestly,
    * not silently) — the scored subset is exactly what a SQL oracle can
    * replay. `_score` is the wrapped query's base score (clause-count
    * relevance, or 1 for a should-less query — the function_score base
    * convention). Division is `try_divide`: a zero divisor scores NULL
    * (sorts last) — a documented deviation from Painless's IEEE Inf (see
    * [[compileScript]]); `Math.log`/`Math.sqrt` of a negative
    * raise_error loudly (a silent NaN would float broken docs to the
    * top — the field_value_factor rule). Two-argument
    * `Math.max/min/pow` (r10): max/min are exact comparisons;
    * `Math.pow` is libm pow on both engines (≤1-ulp class — inside the
    * gate's 9-dp float tolerance, the d120 kernel disposition). */
  sealed trait ScriptExpr
  final case class SNum(v: Double) extends ScriptExpr
  case object SScore extends ScriptExpr
  final case class SField(path: Seq[String]) extends ScriptExpr
  final case class SBin(op: Char, l: ScriptExpr, r: ScriptExpr) extends ScriptExpr
  final case class SCall(fn: String, arg: ScriptExpr) extends ScriptExpr
  final case class SCall2(fn: String, a: ScriptExpr, b: ScriptExpr) extends ScriptExpr

  /** Score shaping parsed from a TOP-LEVEL `function_score` or `boosting`
    * wrapper (the first tools reached for when tuning relevance beyond
    * the base ranking). The `filter`+`weight`, `field_value_factor` and
    * `linear`/`gauss`/`exp` decay forms are implemented — `script_score`
    * and `random_score` are rejected loudly at parse. `boosting`
    * compiles to the same shape: hit set = `positive` (ES: `negative`
    * never filters), one function (`negative` filter, `negative_boost`
    * weight) with multiply/multiply modes.
    *
    * Scoring follows ES's FunctionScoreQuery: each function whose filter
    * matches contributes its value (the weight, or for
    * field_value_factor `modifier(factor * field) * weight`); matching
    * values combine via `score_mode` (`multiply` | `sum`); the combined
    * function score folds into the base score via `boost_mode`
    * (`multiply` | `sum`). A document matching NO function keeps its
    * base score unchanged. The base score is the engine's documented
    * clause-count relevance ([[scoreCol]]), or 1 when the wrapped query
    * has no `should` clauses (every match scores 1 — the `match_all`
    * convention), so a weight can shape a filter-only query. */
  final case class ScoreShape(functions: Seq[ScoreFn],
                              scoreMode: String, boostMode: String)

  /** One function_score function: `filter` (MatchAll when absent) gates
    * it, its value is `weight`, optionally scaled by a
    * [[FieldValueFactor]], a [[Decay]] or a [[FeatureFn]]. */
  final case class ScoreFn(filter: SearchQuery, weight: Double,
                           fvf: Option[FieldValueFactor] = None,
                           decay: Option[Decay] = None,
                           feature: Option[FeatureFn] = None,
                           random: Option[(Long, Seq[String])] = None,
                           script: Option[ScriptExpr] = None)

  /** ES `rank_feature` / `distance_feature` — feature-based scoring
    * queries (reference users rank by static signals: pagerank-like
    * fields, recency, closeness to a target). Both MATCH every document
    * that HAS the field (the ES contract) and score it by a kernel:
    *  - rank_feature `saturation`: `v / (v + pivot)` — one exact IEEE
    *    division, bit-identical in any engine. `pivot` is REQUIRED
    *    (engine deviation, documented: ES derives a default pivot from
    *    index statistics a stateless engine doesn't keep).
    *  - rank_feature `log`: `ln(scaling_factor · v + 1)` — libm log,
    *    ≤1 ulp, the same documented ~1e-15 tolerance as the gauss decay.
    *  - rank_feature `sigmoid`: `v^exp / (v^exp + pivot^exp)` — libm pow,
    *    same tolerance note.
    *  - distance_feature: `pivot / (pivot + |v - origin|)` over a numeric
    *    field — exact IEEE ops, bit-identical.
    * Field values must be non-negative for rank_feature (ES indexes
    * rank_feature fields as positive floats); a negative value
    * raise_errors like field_value_factor's log1p — a silent NaN would
    * float broken docs to the top of the page. */
  final case class FeatureFn(kind: String, path: Seq[String],
                             pivot: Double = 0.0,
                             scalingFactor: Double = 1.0,
                             exponent: Double = 1.0,
                             origin: Double = 0.0)

  /** ES decay kernels over `dist = max(0, |v - origin| - offset)`:
    *  - `linear`: `max(0, (s - dist) / s)` with `s = scale / (1 - decay)`
    *    — a fixed sequence of exact/correctly-rounded IEEE ops,
    *    bit-identical in any engine.
    *  - `exp`: `exp(dist · ln(decay) / scale)`.
    *  - `gauss`: `exp(dist² · ln(decay) / scale²)` (ES's
    *    `exp(-dist²/2σ²)`, `σ² = -scale²/(2·ln decay)`, folded).
    * The exp/gauss kernels ride libm `exp`/`log` — correctly rounded to
    * ≤1 ulp in every mainstream libm, so engines agree to ~1e-15 on the
    * [0, 1] score: far inside the oracle's 9-dp compare, a DOCUMENTED
    * tolerance rather than the bit-exactness the linear kernel gives.
    * `missing` is required, same engine deviation as
    * [[FieldValueFactor]]. */
  final case class Decay(kind: String, path: Seq[String], origin: Double,
                         scale: Double, offset: Double, decay: Double,
                         missing: Double)

  /** ES `field_value_factor`: `modifier(factor * field)` as the function
    * value. Modifiers: none/log1p/sqrt/square (sqrt is IEEE-correctly-
    * rounded, so oracles reproduce it bit-for-bit; log1p agrees to well
    * under the checker's 9-dp tolerance). The `missing` key is REQUIRED
    * here (engine deviation, documented: ES raises a per-document runtime
    * error on a missing field, which a set-oriented engine can't —
    * the caller must state the substitute up front). */
  final case class FieldValueFactor(path: Seq[String], factor: Double,
                                    modifier: String, missing: Double)

  def fromJson(body: String, schema: org.apache.spark.sql.types.StructType): SearchQuery =
    parseBody(body, schema).query

  def parseBody(body: String, schema: org.apache.spark.sql.types.StructType): Parsed = {
    import org.json4s._
    val q = Lex.parseJson("search", body) \ "query"
    require(q != JNothing, "ES query body must contain a top-level \"query\"")
    parseQueryRoot(q, schema)
  }

  /** Parse a top-level query value: a plain query node, or one
    * `function_score`/`boosting` score-shaping wrapper (top-level ONLY —
    * a wrapper nested inside bool is rejected by parseNode's exhaustive
    * match, honestly, rather than scored wrong). */
  /** The one JSON-number → Double coercion (bodies carry ints, longs and
    * decimals interchangeably); every numeric body knob parses through
    * here so a future tightening lands once. */
  private[docs] def asDouble(v: org.json4s.JValue, what: String): Double = {
    import org.json4s._
    v match {
      case JInt(i) => i.toDouble
      case JLong(l) => l.toDouble
      case JDouble(d) => d
      case JDecimal(d) => d.toDouble
      case other => throw new IllegalArgumentException(s"$what must be numeric: $other")
    }
  }

  private def parseQueryRoot(q: org.json4s.JValue,
                             schema: org.apache.spark.sql.types.StructType): Parsed = {
    import org.json4s._
    def mode(f: Map[String, JValue], key: String): String = f.get(key) match {
      case None => "multiply" // ES default for both modes
      case Some(JString(m)) if m == "multiply" || m == "sum" => m
      case Some(other) => throw new IllegalArgumentException(
        s"unsupported $key: $other (multiply/sum)")
    }
    q match {
      case JObject(List(("function_score", JObject(fields)))) =>
        val f = fields.toMap
        val unknown = f.keySet -- Set("query", "functions", "score_mode", "boost_mode")
        require(unknown.isEmpty,
          s"unsupported function_score key(s): ${unknown.mkString(", ")} " +
            "(only the query/functions[filter+weight | field_value_factor | decay | " +
            "random_score]/score_mode/boost_mode form; script_score as a function " +
            "is not implemented — use the top-level script_score query)")
        // ES default when `query` is absent: match_all
        val inner = parseQueryRoot(
          f.getOrElse("query", JObject(List(("match_all", JObject(Nil))))), schema)
        require(inner.shape.isEmpty && inner.pinned.isEmpty, "nested score-shaping/pinned wrappers are not implemented")
        val fns = f.get("functions") match {
          case Some(JArray(fs)) if fs.nonEmpty => fs.map {
            case JObject(ff) =>
              val fm = ff.toMap
              val unknownF = fm.keySet --
                Set("filter", "weight", "field_value_factor", "linear", "gauss", "exp",
                  "random_score", "script_score")
              require(unknownF.isEmpty,
                s"unsupported function_score function key(s): ${unknownF.mkString(", ")} " +
                  "(the filter/weight/field_value_factor/linear/gauss/exp/random_score/" +
                  "script_score forms are implemented)")
              // script_score FUNCTION form — the function's value is the
              // script over the same Painless subset as the top-level
              // script_score query; `_score` inside it reads the base
              // relevance (the ES contract for function scripts).
              val sscript = fm.get("script_score").map {
                case JObject(ssFields) =>
                  val ssm = ssFields.toMap
                  val unknownSS = ssm.keySet -- Set("script")
                  require(unknownSS.isEmpty,
                    s"unsupported script_score function key(s): ${unknownSS.mkString(", ")} (script)")
                  val src0 = ssm.get("script") match {
                    case Some(JString(s0)) => s0
                    case Some(JObject(sf2)) => sf2.toMap.get("source") match {
                      case Some(JString(s0)) => s0
                      case _ => throw new IllegalArgumentException(
                        "script_score function script needs a string source " +
                          "(params are not implemented — inline the constants)")
                    }
                    case _ => throw new IllegalArgumentException(
                      "script_score function needs a script")
                  }
                  parseScript(src0, schema)
                case other => throw new IllegalArgumentException(
                  s"bad script_score function spec: $other")
              }
              // ES `random_score` — reproducible random ranking. BOTH seed
              // and field are REQUIRED (engine deviation, documented: ES
              // falls back to the internal _seq_no, which a stateless
              // engine doesn't have; an explicit field keeps the draw
              // deterministic and oracle-replayable). The draw is
              // uniform-[0,1): the top 60 bits of md5(seed:field) over
              // 2^60 — division by a power of two, so the double is
              // bit-exact in any engine (the d142 random_sampler hash).
              val rnd = fm.get("random_score").map {
                case JObject(rFields) =>
                  val rm = rFields.toMap
                  val unknownR = rm.keySet -- Set("seed", "field")
                  require(unknownR.isEmpty,
                    s"unsupported random_score key(s): ${unknownR.mkString(", ")} (seed/field)")
                  val seed = rm.get("seed").map(asDouble(_, "random_score seed").toLong)
                    .getOrElse(throw new IllegalArgumentException(
                      "random_score needs a seed (deterministic-draw contract)"))
                  val fld = rm.get("field") match {
                    case Some(JString(p)) => p.stripSuffix(".keyword").split('.').toSeq
                    case _ => throw new IllegalArgumentException(
                      "random_score needs a field (engine deviation: ES defaults to the " +
                        "internal _seq_no, which this engine does not keep)")
                  }
                  val (arrR, _) = splitArrayPath(fld, schema)
                  require(arrR.isEmpty,
                    s"random_score field ${fld.mkString(".")} crosses array ${arrR.mkString(".")}")
                  (seed, fld)
                case other => throw new IllegalArgumentException(s"bad random_score spec: $other")
              }
              val fvf = fm.get("field_value_factor").map {
                case JObject(fvFields) =>
                  val fv = fvFields.toMap
                  val unknownFv = fv.keySet -- Set("field", "factor", "modifier", "missing")
                  require(unknownFv.isEmpty,
                    s"unsupported field_value_factor key(s): ${unknownFv.mkString(", ")}")
                  val fld = fv.get("field") match {
                    case Some(JString(p)) => p.split('.').toSeq
                    case _ => throw new IllegalArgumentException("field_value_factor needs field")
                  }
                  val (arr, _) = splitArrayPath(fld, schema)
                  require(arr.isEmpty,
                    s"field_value_factor field ${fld.mkString(".")} crosses array ${arr.mkString(".")}")
                  val factor = fv.get("factor").map(asDouble(_, "field_value_factor factor"))
                    .getOrElse(1.0)
                  val modifier = fv.get("modifier") match {
                    case None => "none"
                    case Some(JString(m0)) if Set("none", "log1p", "sqrt", "square")(m0) => m0
                    case Some(other) => throw new IllegalArgumentException(
                      s"unsupported field_value_factor modifier: $other (none/log1p/sqrt/square)")
                  }
                  val missing = fv.get("missing").map(asDouble(_, "field_value_factor missing"))
                    .getOrElse(throw new IllegalArgumentException(
                      "field_value_factor needs missing (engine deviation: ES raises a " +
                        "per-document runtime error on a missing field; state the substitute up front)"))
                  FieldValueFactor(fld, factor, modifier, missing)
                case other => throw new IllegalArgumentException(
                  s"bad field_value_factor spec: $other")
              }
              val decayKinds = Seq("linear", "gauss", "exp").filter(fm.contains)
              require(decayKinds.size <= 1,
                s"a function_score function takes ONE decay kernel, got: ${decayKinds.mkString(", ")}")
              val decay = decayKinds.headOption.map { kind =>
                fm(kind) match {
                  case JObject(List((fld, JObject(dFields)))) =>
                    val dv = dFields.toMap
                    val unknownD = dv.keySet -- Set("origin", "scale", "offset", "decay", "missing")
                    require(unknownD.isEmpty,
                      s"unsupported $kind decay key(s): ${unknownD.mkString(", ")}")
                    val p = fld.split('.').toSeq
                    val (arr, _) = splitArrayPath(p, schema)
                    require(arr.isEmpty, s"$kind decay field $fld crosses array ${arr.mkString(".")}")
                    def req(k: String): Double = dv.get(k).map(asDouble(_, s"$kind decay $k"))
                      .getOrElse(throw new IllegalArgumentException(s"$kind decay needs $k"))
                    val dec = dv.get("decay").map(asDouble(_, s"$kind decay decay")).getOrElse(0.5)
                    require(dec > 0 && dec < 1, s"$kind decay must be in (0, 1): $dec")
                    val scale = req("scale")
                    require(scale > 0, s"$kind scale must be > 0: $scale")
                    val missing = dv.get("missing").map(asDouble(_, s"$kind decay missing"))
                      .getOrElse(throw new IllegalArgumentException(
                        s"$kind decay needs missing (engine deviation: ES raises a per-document " +
                          "runtime error on a missing field; state the substitute up front)"))
                    Decay(kind, p, req("origin"), scale,
                      dv.get("offset").map(asDouble(_, s"$kind decay offset")).getOrElse(0.0),
                      dec, missing)
                  case other => throw new IllegalArgumentException(
                    s"$kind decay takes one {field: {origin, scale, ...}} entry: $other")
                }
              }
              require(Seq(fvf, decay, rnd, sscript).count(_.nonEmpty) <= 1,
                "a function_score function takes ONE of field_value_factor / a decay " +
                  "kernel / random_score / script_score")
              val w = fm.get("weight").map(asDouble(_, "function_score weight")).getOrElse {
                if (fvf.isEmpty && decay.isEmpty && rnd.isEmpty && sscript.isEmpty)
                  throw new IllegalArgumentException(
                    "each function_score function needs a weight, a field_value_factor, " +
                      "a decay kernel, a random_score or a script_score")
                1.0
              }
              // ES default when `filter` is absent: the function applies
              // to every document (match_all)
              val filt = fm.get("filter").map(parseQueryNode(_, schema)).getOrElse(MatchAll)
              ScoreFn(filt, w, fvf, decay, random = rnd, script = sscript)
            case other => throw new IllegalArgumentException(
              s"bad function_score function entry: $other")
          }
          case _ => throw new IllegalArgumentException(
            "function_score needs a non-empty functions array")
        }
        inner.copy(shape = Some(ScoreShape(fns, mode(f, "score_mode"), mode(f, "boost_mode"))))
      case JObject(List(("pinned", JObject(fields)))) =>
        // ES `pinned` — curated results: the listed ids rank FIRST in
        // exactly the given order, organic hits follow by their own
        // score. Pinned docs match regardless of the organic query (the
        // ES contract), so the hit set is ids OR organic; the score
        // override lives in [[scoreCol]] (a 1e9-based ladder above any
        // clause count — same relative-order contract as ES's 1.7e38
        // pins). Combining with a score-shaping wrapper is rejected.
        val f = fields.toMap
        val unknown = f.keySet -- Set("ids", "organic")
        require(unknown.isEmpty,
          s"unsupported pinned key(s): ${unknown.mkString(", ")} (ids/organic; " +
            "the docs form is not implemented)")
        val ids = f.get("ids") match {
          case Some(JArray(vs)) if vs.nonEmpty => vs.map {
            case JString(v) => v
            case other => throw new IllegalArgumentException(s"bad pinned id: $other")
          }
          case _ => throw new IllegalArgumentException("pinned needs a non-empty ids array")
        }
        require(ids.distinct.size == ids.size, "pinned ids must be distinct")
        val organic = parseQueryRoot(f.getOrElse("organic",
          throw new IllegalArgumentException("pinned needs an organic query")), schema)
        require(organic.shape.isEmpty && organic.pinned.isEmpty,
          "pinned over a score-shaping / pinned organic query is not implemented")
        organic.copy(
          query = Or(TermsIn(Seq("objectId"), ids), organic.query),
          pinned = ids)
      case JObject(List(("rank_feature", JObject(fields)))) =>
        // ES `rank_feature` — static-signal relevance (see [[FeatureFn]]).
        // Hit set = docs WITH the field; score = boost · modifier(v),
        // compiled through the function_score machinery (one MatchAll
        // function, multiply/multiply) so sort/_score/rescore all work.
        val f = fields.toMap
        val unknown = f.keySet -- Set("field", "boost", "saturation", "log", "sigmoid")
        require(unknown.isEmpty,
          s"unsupported rank_feature key(s): ${unknown.mkString(", ")} " +
            "(field/boost/saturation/log/sigmoid; linear is not implemented)")
        val path = f.get("field") match {
          case Some(JString(p)) => p.split('.').toSeq
          case _ => throw new IllegalArgumentException("rank_feature needs a field")
        }
        val (arr0, _) = splitArrayPath(path, schema)
        require(arr0.isEmpty,
          s"rank_feature field ${path.mkString(".")} crosses array ${arr0.mkString(".")}")
        val boost = f.get("boost").map(asDouble(_, "rank_feature boost")).getOrElse(1.0)
        val modifiers = Seq("saturation", "log", "sigmoid").filter(f.contains)
        require(modifiers.size <= 1,
          s"rank_feature takes ONE modifier, got: ${modifiers.mkString(", ")}")
        def modNum(m: Map[String, JValue], k: String, what: String): Double =
          m.get(k).map(asDouble(_, what)).getOrElse(
            throw new IllegalArgumentException(s"$what is required " +
              "(engine deviation: ES derives a default pivot from index statistics " +
              "a stateless engine doesn't keep — state it up front)"))
        val fn = modifiers.headOption.getOrElse("saturation") match {
          case "saturation" =>
            val m = f.get("saturation").map(Lex.fields(_, "search", "saturation"))
              .getOrElse(Map.empty[String, JValue])
            require((m.keySet -- Set("pivot")).isEmpty,
              s"unsupported saturation key(s): ${(m.keySet -- Set("pivot")).mkString(", ")}")
            FeatureFn("saturation", path, pivot = modNum(m, "pivot", "saturation pivot"))
          case "log" =>
            val m = Lex.fields(f("log"), "search", "log")
            require((m.keySet -- Set("scaling_factor")).isEmpty,
              s"unsupported log key(s): ${(m.keySet -- Set("scaling_factor")).mkString(", ")}")
            FeatureFn("log", path,
              scalingFactor = modNum(m, "scaling_factor", "log scaling_factor"))
          case "sigmoid" =>
            val m = Lex.fields(f("sigmoid"), "search", "sigmoid")
            require((m.keySet -- Set("pivot", "exponent")).isEmpty,
              s"unsupported sigmoid key(s): ${(m.keySet -- Set("pivot", "exponent")).mkString(", ")}")
            FeatureFn("sigmoid", path, pivot = modNum(m, "pivot", "sigmoid pivot"),
              exponent = modNum(m, "exponent", "sigmoid exponent"))
        }
        Parsed(ExistsField(path, isArray = false), Nil,
          shape = Some(ScoreShape(Seq(ScoreFn(MatchAll, boost, feature = Some(fn))),
            "multiply", "multiply")))
      case JObject(List(("distance_feature", JObject(fields)))) =>
        // ES `distance_feature` over a NUMERIC field — recency/closeness
        // boosting: score = boost · pivot / (pivot + |v − origin|), exact
        // IEEE arithmetic (see [[FeatureFn]]). The date and geo-point
        // origin forms are not implemented (numeric origin only).
        val f = fields.toMap
        val unknown = f.keySet -- Set("field", "origin", "pivot", "boost")
        require(unknown.isEmpty,
          s"unsupported distance_feature key(s): ${unknown.mkString(", ")}")
        val path = f.get("field") match {
          case Some(JString(p)) => p.split('.').toSeq
          case _ => throw new IllegalArgumentException("distance_feature needs a field")
        }
        val (arr0, _) = splitArrayPath(path, schema)
        require(arr0.isEmpty,
          s"distance_feature field ${path.mkString(".")} crosses array ${arr0.mkString(".")}")
        val origin = asDouble(f.getOrElse("origin",
          throw new IllegalArgumentException("distance_feature needs origin")), "origin")
        val pivot = asDouble(f.getOrElse("pivot",
          throw new IllegalArgumentException("distance_feature needs pivot")), "pivot")
        require(pivot > 0, s"distance_feature pivot must be > 0: $pivot")
        val boost = f.get("boost").map(asDouble(_, "distance_feature boost")).getOrElse(1.0)
        Parsed(ExistsField(path, isArray = false), Nil,
          shape = Some(ScoreShape(
            Seq(ScoreFn(MatchAll, boost,
              feature = Some(FeatureFn("distance", path, pivot = pivot, origin = origin)))),
            "multiply", "multiply")))
      case JObject(List(("script_score", JObject(fields)))) =>
        // ES `script_score` — the score is REPLACED by the script value
        // over the wrapped query's hit set (see [[ScriptExpr]] for the
        // implemented Painless subset). `min_score` is not implemented
        // (rejected by the unknown-key check).
        val f = fields.toMap
        val unknown = f.keySet -- Set("query", "script")
        require(unknown.isEmpty,
          s"unsupported script_score key(s): ${unknown.mkString(", ")} (query/script)")
        val inner = parseQueryRoot(f.getOrElse("query",
          throw new IllegalArgumentException("script_score needs a query")), schema)
        require(inner.shape.isEmpty && inner.script.isEmpty && inner.pinned.isEmpty,
          "nested score-shaping wrappers under script_score are not implemented")
        val src = f.get("script") match {
          case Some(JObject(sf)) =>
            val sm = sf.toMap
            val unknownS = sm.keySet -- Set("source")
            require(unknownS.isEmpty,
              s"unsupported script key(s): ${unknownS.mkString(", ")} (source; params are not implemented — inline the constants)")
            sm.get("source") match {
              case Some(JString(s0)) => s0
              case _ => throw new IllegalArgumentException("script needs a string source")
            }
          case Some(JString(s0)) => s0
          case _ => throw new IllegalArgumentException("script_score needs a script")
        }
        inner.copy(script = Some(parseScript(src, schema)))
      case JObject(List(("boosting", JObject(fields)))) =>
        val f = fields.toMap
        val unknown = f.keySet -- Set("positive", "negative", "negative_boost")
        require(unknown.isEmpty, s"unsupported boosting key(s): ${unknown.mkString(", ")}")
        val pos = parseQueryRoot(f.getOrElse("positive",
          throw new IllegalArgumentException("boosting needs a positive query")), schema)
        require(pos.shape.isEmpty && pos.pinned.isEmpty, "nested score-shaping/pinned wrappers are not implemented")
        val neg = parseQueryNode(f.getOrElse("negative",
          throw new IllegalArgumentException("boosting needs a negative query")), schema)
        val nb = asDouble(f.getOrElse("negative_boost",
          throw new IllegalArgumentException("boosting needs negative_boost")), "negative_boost")
        require(nb >= 0 && nb < 1, s"negative_boost must be in [0, 1): $nb (ES's down-weight contract)")
        // hit set = positive only (negative never filters, only down-weights)
        pos.copy(shape = Some(ScoreShape(Seq(ScoreFn(neg, nb)), "multiply", "multiply")))
      case _ =>
        val hits = scala.collection.mutable.ListBuffer.empty[(Seq[String], SearchQuery)]
        val ast = parseNode(q, schema, hits)
        // Top-level should clauses, re-parsed for scoring (a scratch buffer
        // so an inner_hits inside a should is not recorded twice).
        val (shoulds, scoringMusts) = q match {
          case JObject(List(("bool", JObject(fields)))) =>
            val scratch = scala.collection.mutable.ListBuffer.empty[(Seq[String], SearchQuery)]
            def clauses(key: String): Seq[SearchQuery] =
              (fields.toMap.getOrElse(key, JNothing) match {
                case JArray(xs) => xs
                case JNothing => Nil
                case single => Seq(single)
              }).map(parseNode(_, schema, scratch))
            // must scores in ES too (filter is the non-scoring must)
            (clauses("should"), clauses("must"))
          case _ => (Nil, Nil)
        }
        Parsed(ast, hits.toList, shoulds.toList, scoringMusts = scoringMusts.toList)
    }
  }

  /** A parse position over a script source; errors carry `door` (the
    * script door's name), the offset and the whole source. */
  private final class ScriptCursor(val s: String, door: String) extends Lex.Nesting {
    var i = 0
    def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def atEnd: Boolean = i >= s.length
    def peek: Option[Char] = if (atEnd) None else Some(s(i))
    /** What the cursor sees, for error messages. */
    def got: String = peek.fold("end of input")(c => s"'$c'")
    /** Consume `lit` when the input continues with it. */
    def eat(lit: String): Boolean =
      s.startsWith(lit, i) && { i += lit.length; true }
    def expect(c: Char, what: String): Unit =
      if (peek.contains(c)) i += 1 else fail(s"expected $what, got $got")
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"$door: $msg at offset $i in: $s")
    protected def tooDeep(msg: String): Nothing = fail(msg)
  }

  /** Recursive-descent parser shared by the script doors: standard
    * `+ -` / `* /` precedence, parentheses, unary minus, number literals,
    * `Math.<fn>` over `fns` (max/min/pow take two arguments, the rest
    * one), and the door's own references — `leaf` consumes one at the
    * cursor, or returns None when none starts there. */
  private def parseArith(src: String, door: String, fns: Seq[String])
                        (leaf: ScriptCursor => Option[ScriptExpr]): ScriptExpr = {
    val c = new ScriptCursor(src, door)
    // a left-associative chain of `operand`s joined by any of `ops`
    def chain(ops: String, operand: () => ScriptExpr): ScriptExpr = {
      var l = operand(); c.ws()
      while (c.peek.exists(ops.contains(_))) {
        val op = c.s(c.i); c.i += 1; l = SBin(op, l, operand()); c.ws()
      }
      l
    }
    def expr(): ScriptExpr = c.nested(chain("+-", () => term()))
    def term(): ScriptExpr = chain("*/", () => factor())
    def number(): ScriptExpr = {
      val st = c.i
      while (c.peek.exists(ch => ch.isDigit || ch == '.')) c.i += 1
      val raw = src.substring(st, c.i)
      // Malformed literals (`1.2.3`) must raise the parser's loud
      // located error, not a bare NumberFormatException.
      try SNum(raw.toDouble)
      catch { case _: NumberFormatException => c.fail(s"bad number literal '$raw'") }
    }
    def call(): ScriptExpr = {
      val st = c.i
      while (c.peek.exists(_.isLetter)) c.i += 1
      val fn = src.substring(st, c.i)
      if (!fns.contains(fn)) c.fail(s"unsupported Math.$fn (${fns.mkString("/")})")
      c.ws(); c.expect('(', s"( after Math.$fn")
      val a = expr(); c.ws()
      if (Set("max", "min", "pow")(fn)) {
        c.expect(',', s"a second Math.$fn argument")
        val b = expr(); c.ws(); c.expect(')', ")")
        SCall2(fn, a, b)
      } else { c.expect(')', ")"); SCall(fn, a) }
    }
    def factor(): ScriptExpr = {
      c.ws()
      c.peek match {
        case Some('(') =>
          c.i += 1; val e = expr(); c.ws(); c.expect(')', ")"); e
        case Some('-') => c.i += 1; SBin('-', SNum(0), c.nested(factor()))
        case Some(d) if d.isDigit => number()
        case _ if c.eat("Math.") => call()
        case _ => leaf(c).getOrElse(c.fail(s"unexpected ${c.got}"))
      }
    }
    val e = expr(); c.ws()
    if (!c.atEnd) c.fail(s"trailing input '${src.substring(c.i)}'")
    e
  }

  /** The script_score Painless subset (see [[ScriptExpr]]) over
    * [[parseArith]]: leaves are `doc['field'].value` and `_score`, and
    * Math offers log/sqrt/abs/max/min/pow. Field paths validate against
    * the schema at parse (array-crossing fields are rejected — a
    * per-element score needs a nested context this wrapper does not
    * carry). */
  private[docs] def parseScript(src: String,
                                schema: org.apache.spark.sql.types.StructType): ScriptExpr =
    parseArith(src, "script_score", Seq("log", "sqrt", "abs", "max", "min", "pow")) { c =>
      if (c.eat("_score")) Some(SScore)
      else if (!c.eat("doc[")) None
      else {
        val q0 = c.peek.filter(q => q == '\'' || q == '"')
          .getOrElse(c.fail("doc[ needs a quoted field name"))
        c.i += 1
        val st = c.i
        while (c.peek.exists(_ != q0)) c.i += 1
        if (c.atEnd) c.fail("unterminated doc[ field name")
        val name = src.substring(st, c.i); c.i += 1
        if (!c.eat("].value")) c.fail("doc['…'] must be followed by ].value")
        val p = name.stripSuffix(".keyword").split('.').toSeq
        val (arr, _) = splitArrayPath(p, schema)
        require(arr.isEmpty,
          s"script_score doc field $name crosses array ${arr.mkString(".")} — not implemented")
        Some(SField(p))
      }
    }

  /** bucket_script / bucket_selector arithmetic over [[parseArith]]:
    * leaves are `params.<p>` identifiers (`_score` and doc refs do not
    * exist at the bucket grain and fail the parse), and Math offers
    * log/sqrt/abs. Referenced params must appear in `params` (the
    * buckets_path keys) — a typo'd param is a loud error, not a null
    * column. */
  private[docs] def parseParamsScript(src: String, params: Set[String]): ScriptExpr =
    parseArith(src, "bucket script", Seq("log", "sqrt", "abs")) { c =>
      if (!c.eat("params.")) None
      else {
        val st = c.i
        while (c.peek.exists(ch => ch.isLetterOrDigit || ch == '_')) c.i += 1
        val name = src.substring(st, c.i)
        if (name.isEmpty) c.fail("params. needs a name")
        if (!params(name)) c.fail(s"params.$name is not in buckets_path (${params.mkString(", ")})")
        Some(SField(Seq(name)))
      }
    }

  /** Compile a script_score expression; `score` is the wrapped query's
    * base score column. Pure double arithmetic; division rides
    * `try_divide` — ANSI Spark errors on ANY zero divisor (doubles
    * included), so `x/0` scores NULL (sorts last) — a DOCUMENTED
    * deviation from Painless's IEEE Inf, and the safer ranking (an Inf
    * would float the broken doc to the top). log/sqrt of a negative
    * raise_error (the field_value_factor rule). */
  private[docs] def compileScript(e: ScriptExpr, doc: Column, score: Column): Column =
    compileScriptWith(e, p => field(doc, p), score)

  /** Resolver-parameterized form: `scripted_metric` (EsAggs) compiles the
    * same AST but resolves fields at the aggregation context (document
    * root or nested element), not a fixed doc column. */
  private[docs] def compileScriptWith(e: ScriptExpr, resolve: Seq[String] => Column,
                                      score: Column): Column = {
    def nonNeg(what: String, c: Column): Column = when(c < 0, raise_error(concat(
      lit(s"script_score Math.$what of a negative value: "),
      c.cast("string")))).otherwise(c)
    def go(e0: ScriptExpr): Column = e0 match {
      case SNum(v) => lit(v)
      case SScore => score.cast("double")
      case SField(p) => resolve(p).cast("double")
      case SBin('+', l, r) => go(l) + go(r)
      case SBin('-', l, r) => go(l) - go(r)
      case SBin('*', l, r) => go(l) * go(r)
      case SBin('/', l, r) => try_divide(go(l), go(r))
      case SBin(op, _, _) => throw new IllegalStateException(s"unreachable op $op")
      case SCall("log", a) => log(nonNeg("log", go(a)))
      case SCall("sqrt", a) => sqrt(nonNeg("sqrt", go(a)))
      case SCall("abs", a) => abs(go(a))
      case SCall(fn, _) => throw new IllegalStateException(s"unreachable fn $fn")
      case SCall2("max", a, b) => greatest(go(a), go(b))
      case SCall2("min", a, b) => least(go(a), go(b))
      case SCall2("pow", a, b) => pow(go(a), go(b))
      case SCall2(fn, _, _) => throw new IllegalStateException(s"unreachable fn2 $fn")
    }
    go(e)
  }

  /** True if the script reads `_score` — aggregation contexts have no
    * score; scripted_metric rejects such scripts at parse. */
  private[docs] def scriptReadsScore(e: ScriptExpr): Boolean = e match {
    case SScore => true
    case SBin(_, l, r) => scriptReadsScore(l) || scriptReadsScore(r)
    case SCall(_, a) => scriptReadsScore(a)
    case SCall2(_, a, b) => scriptReadsScore(a) || scriptReadsScore(b)
    case _ => false
  }

  /** One ES `sort` entry: a field path (or `_score`) with a direction.
    * `mode` (min/max) is REQUIRED when the path crosses an array — ES's
    * nested-sort reduction of many element values to one sort key. */
  /** `nestedFilter` (ES sort `nested: {path, filter}`): the element set
    * the min/max mode reduces over is FILTERED first — "sort plans by
    * the cheapest copay among their ACTIVE services". Compiled as a
    * per-element predicate (`compileInNested`) inside an array filter()
    * before the reduction — pure expressions, no explode, no join. */
  /** `geo` (ES `_geo_distance` sort): origin (lat, lon) + a unit divisor
    * (1 = meters, 1000 = km) — the key is the haversine distance from the
    * origin to the doc's point at `path`. `script` (ES `_script` sort,
    * `type: number`): the key is the mini-DSL expression's value
    * (`_score` inside a sort script is rejected at parse). */
  final case class SortKey(path: Seq[String], asc: Boolean, isScore: Boolean,
                           mode: Option[String] = None,
                           nestedFilter: Option[SearchQuery] = None,
                           geo: Option[(Double, Double, Double)] = None,
                           script: Option[ScriptExpr] = None)

  /** A COMPLETE ES search body: the parsed `query` plus the request-level
    * keys a real Kibana body carries — `sort` (field or `_score` entries,
    * ES defaults: `_score` desc when absent), `from`/`size` pagination
    * (ES defaults 0/10), `search_after` keyset pagination (one value per
    * sort key; mutually exclusive with `from`, as in ES), and `_source`
    * include paths. Executed by [[SearchExec.search]]. */
  /** `collapse.inner_hits` — per collapsed group, the top `size`
    * document ids by an explicit inner sort, rendered as ONE array
    * column named `name` on each collapsed row (ES returns a nested hit
    * list; the id array is its relational core). */
  final case class CollapseInner(name: String, size: Int,
                                 sortPath: Seq[String], asc: Boolean)

  /** `slice` (ES sliced scroll — parallel export): `(id, max)` restricts
    * the hit set to the id-th of `max` deterministic hash partitions of
    * the corpus (each worker exports its slice independently; the union
    * over ids is exactly the unsliced hit set). */
  final case class FullBody(parsed: Parsed, sorts: Seq[SortKey],
                            from: Int, size: Int,
                            searchAfter: Option[Seq[Any]],
                            source: Option[Seq[Seq[String]]],
                            collapse: Option[Seq[String]] = None,
                            collapseInner: Option[CollapseInner] = None,
                            rescore: Option[Rescore] = None,
                            highlight: Option[Highlight] = None,
                            trackTotalHits: Boolean = false,
                            minScore: Option[Double] = None,
                            slice: Option[(Int, Int)] = None,
                            scriptFields: Seq[(String, ScriptExpr)] = Nil,
                            docvalueFields: Seq[(Seq[String], Option[String])] = Nil)

  /** ES `highlight` — one field, default `<em>`/`</em>` tags. The
    * executor wraps every occurrence of the query's terms FOR THAT FIELD
    * (require_field_match, the ES default); a hit selected only by
    * clauses on other fields gets NULL (ES omits the field from
    * `highlight` for such hits). Documented deviation: ES highlights via
    * index token offsets, so a stemming analyzer also lights up inflected
    * surface forms; this engine wraps the query's literal analyzed tokens
    * with case-insensitive word-boundary matching — identical for the
    * keyword-style fields the reference maps, and reproducible in ANSI
    * SQL.
    *
    * `numberOfFragments == 0` (also the default when the knob is absent)
    * = whole-field mode. `numberOfFragments > 0` = fragment extraction:
    * up to that many windows of ~`fragmentSize` chars, each CENTERED on a
    * match (⌊size/2⌋ context chars on either side), in document order,
    * non-overlapping (extraction consumes left-to-right), flattened to
    * one `|`-joined string column (the d147/d161 scalar-output rule).
    * Documented deviation from ES's fragmenter: ES breaks fragments at
    * sentence/word boundaries scored by match density; this engine's
    * fixed char windows are deterministic and SQL-reproducible. */
  final case class Highlight(path: Seq[String], pre: String, post: String,
                             fragmentSize: Int = 100, numberOfFragments: Int = 0)

  /** The query terms that highlight `path` (require_field_match): tokens
    * of `match`, values of `term`/`terms`, whole phrases of
    * `match_phrase` targeting that exact field. Negated subtrees
    * contribute nothing — a must_not clause never matches the hit, so ES
    * never highlights from it. */
  def highlightTerms(q: SearchQuery, path: Seq[String]): Seq[String] = {
    def walk(q0: SearchQuery): Seq[String] = q0 match {
      case TermMatch(p, t) if p == path => Seq(t)
      case TermsIn(p, vs) if p == path => vs
      case MatchPhrase(p, ph) if p == path => Seq(ph.trim).filter(_.nonEmpty)
      case And(qs @ _*) => qs.flatMap(walk)
      case Or(qs @ _*) => qs.flatMap(walk)
      case DisMax(legs, _) => legs.flatMap(walk)
      case AtLeast(_, qs) => qs.flatMap(walk)
      // scoring markers delegate (r18): their TermMatch leaves live in
      // the wrapped desugar — without these cases a highlight over a
      // cross_fields/combined_fields query would silently light nothing
      case CrossFields(_, _, _, inner) => walk(inner)
      case CombinedFields(_, _, inner) => walk(inner)
      case Not(_) => Nil
      case _ => Nil
    }
    walk(q).distinct
  }

  /** ES `rescore` — re-rank the top `window_size` hits with a secondary
    * query: window score = `query_weight * _score` + (when the
    * rescore_query matches) `rescore_query_weight * rescore_score`,
    * where rescore_score is the rescore query's clause-count relevance
    * (1 for a should-less query — the same convention as
    * [[ScoreShape]]). Only the default `_score` order is rescorable (ES
    * rejects rescore with explicit sorts too), and the page must fit
    * inside the window (`from + size <= window_size`) so the engine can
    * plan it as: bounded-heap top-window → window-sized re-sort — never
    * a corpus-global reorder. */
  final case class Rescore(windowSize: Int, parsed: Parsed,
                           queryWeight: Double, rescoreQueryWeight: Double)

  /** Parse a complete ES search body — `query` + `sort`/`from`/`size`/
    * `_source`. Unknown request-level keys are REJECTED (same honesty rule
    * as bool clauses: a silently-dropped `sort` or `size` returns the
    * wrong rows in the wrong order). */
  def parseFullBody(body: String, schema: org.apache.spark.sql.types.StructType): FullBody = {
    import org.json4s._
    val root = Lex.bodyObject("search", body)
    val unknown = root.keySet --
      Set("query", "sort", "from", "size", "_source", "search_after", "collapse", "rescore",
        "highlight", "track_total_hits", "min_score", "slice", "script_fields",
        "docvalue_fields")
    require(unknown.isEmpty, s"unsupported ES body key(s): ${unknown.mkString(", ")}")
    // ES `script_fields` — per-hit computed values (the mini-DSL of
    // script_score/_script sort; computed on the PAGE, after pagination).
    // `_score` access is rejected loudly — the page may carry no score
    // column (sort-dependent), and a score-reading field would silently
    // change meaning between sorted-by-score and sorted-by-field bodies.
    val scriptFields: Seq[(String, ScriptExpr)] = root.get("script_fields").toSeq.flatMap {
      case JObject(sfs) => sfs.map {
        case (name, spec) =>
          val src = spec match {
            case JObject(sm) => sm.toMap.get("script") match {
              case Some(JString(s0)) => s0
              case Some(JObject(ss)) => ss.toMap.get("source") match {
                case Some(JString(s0)) => s0
                case other => throw new IllegalArgumentException(
                  s"script_fields.$name script.source must be a string: $other")
              }
              case other => throw new IllegalArgumentException(
                s"script_fields.$name needs script: $other")
            }
            case other => throw new IllegalArgumentException(
              s"bad script_fields.$name spec: $other")
          }
          val e = parseScript(src, schema)
          require(!scriptReadsScore(e),
            s"script_fields.$name reads _score — not implemented (page may carry no score)")
          name -> e
      }
      case other => throw new IllegalArgumentException(s"bad script_fields: $other")
    }
    // ES `docvalue_fields` — raw column values rendered beside _source
    // (output column `<path>_dv`). The `format` knob applies java-time
    // patterns; a formatted LONG field is read as epoch MICROSECONDS (the
    // engine's timestamp convention — TESTDATA events carry ts_us), a
    // formatted TIMESTAMP formats directly. Array paths are rejected
    // (scalar-output gate rule, d147).
    def dvPath(p: String): Seq[String] = p.stripSuffix(".keyword").split('.').toSeq
    val docvalueFields: Seq[(Seq[String], Option[String])] =
      root.get("docvalue_fields").toSeq.flatMap {
        case JArray(entries) => entries.map {
          case JString(p) => (dvPath(p), None)
          case JObject(df) =>
            val m = df.toMap
            val unknownD = m.keySet -- Set("field", "format")
            require(unknownD.isEmpty,
              s"unsupported docvalue_fields key(s): ${unknownD.mkString(", ")}")
            val p = m.get("field") match {
              case Some(JString(f)) => dvPath(f)
              case other => throw new IllegalArgumentException(
                s"docvalue_fields entry needs field: $other")
            }
            val fmt = m.get("format").map {
              case JString(f) => f
              case other => throw new IllegalArgumentException(s"bad docvalue format: $other")
            }
            (p, fmt)
          case other => throw new IllegalArgumentException(s"bad docvalue_fields entry: $other")
        }
        case other => throw new IllegalArgumentException(s"docvalue_fields must be an array: $other")
      }
    docvalueFields.foreach { case (p, fmt) =>
      val (arr, _) = splitArrayPath(p, schema)
      require(arr.isEmpty,
        s"docvalue_fields on array path ${p.mkString(".")} is not implemented")
      fmt.foreach { _ =>
        val leaf = leafType(p, schema, "docvalue_fields")
        require(leaf == org.apache.spark.sql.types.LongType ||
          leaf == org.apache.spark.sql.types.TimestampType,
          s"docvalue_fields format needs a long (epoch-micros) or timestamp field, " +
            s"got $leaf at ${p.mkString(".")}")
      }
    }
    // ES sliced scroll: {"slice": {"id": i, "max": m}} — deterministic
    // id-hash partition of the hit set for parallel export
    val slice = root.get("slice").map {
      case JObject(sf) =>
        val sm = sf.toMap
        val unknownS = sm.keySet -- Set("id", "max")
        require(unknownS.isEmpty, s"unsupported slice key(s): ${unknownS.mkString(", ")}")
        val id = sm.get("id").map(v => asDouble(v, "slice.id").toInt).getOrElse(
          throw new IllegalArgumentException("slice needs id"))
        val max = sm.get("max").map(v => asDouble(v, "slice.max").toInt).getOrElse(
          throw new IllegalArgumentException("slice needs max"))
        require(max >= 2 && id >= 0 && id < max, s"bad slice id/max: $id/$max")
        (id, max)
      case other => throw new IllegalArgumentException(s"bad slice: $other")
    }
    // ES `min_score` — drop hits scoring below the floor. Applied to the
    // HIT SET (before sort/collapse/pagination AND before the
    // track_total_hits count — the ES contract: min_score shrinks total).
    val minScore = root.get("min_score").map(asDouble(_, "min_score"))
    // ES `track_total_hits: true` — the exact hit count alongside the page
    // (ES defaults to a 10k lower bound; this engine only offers the exact
    // variant, the same exactness upgrade as cardinality). An integer
    // threshold form is rejected loudly rather than approximated.
    val trackTotal = root.get("track_total_hits") match {
      case None | Some(JBool(false)) => false
      case Some(JBool(true)) => true
      case Some(other) => throw new IllegalArgumentException(
        s"track_total_hits threshold form is not implemented (true/false only): $other")
    }
    def asInt(v: JValue): Int = v match {
      case JInt(i) => i.toInt
      case JLong(l) => l.toInt
      case JString(s) => s.toInt
      case other => throw new IllegalArgumentException(s"not an int: $other")
    }
    def fieldPath(p: String): Seq[String] = p.stripSuffix(".keyword").split('.').toSeq
    def sortKey(name: String, asc: Boolean): SortKey =
      if (name == "_score") SortKey(Nil, asc, isScore = true)
      else SortKey(fieldPath(name), asc, isScore = false)
    val sorts = root.getOrElse("sort", JNothing) match {
      case JNothing => Nil
      case JArray(entries) => entries.map {
        case JString(name) => sortKey(name, asc = name != "_score") // bare _score = desc (ES)
        case JObject(List((name, JString(dir)))) => sortKey(name, dir == "asc")
        case JObject(List(("_geo_distance", JObject(opts)))) =>
          // ES geo-distance sort: { "<field>": "lat,lon", order, unit }
          val m = opts.toMap
          val known = Set("order", "unit")
          val fieldEntries = m.view.filterKeys(k => !known(k)).toMap
          require(fieldEntries.size == 1,
            s"_geo_distance sort needs exactly one field entry: ${m.keySet.mkString(", ")}")
          val (fname, originJ) = fieldEntries.head
          val (olat, olon) = originJ match {
            case JString(ll) => ll.split(',') match {
              case Array(a, b) => (a.trim.toDouble, b.trim.toDouble)
              case _ => throw new IllegalArgumentException(
                s"_geo_distance origin must be 'lat,lon': $ll")
            }
            case JArray(List(lonJ, latJ)) => // GeoJSON order: [lon, lat]
              (asDouble(latJ, "_geo_distance lat"), asDouble(lonJ, "_geo_distance lon"))
            case other => throw new IllegalArgumentException(
              s"unsupported _geo_distance origin: $other")
          }
          val divisor = m.get("unit") match {
            case None | Some(JString("m")) => 1.0
            case Some(JString("km")) => 1000.0
            case Some(other) => throw new IllegalArgumentException(
              s"unsupported _geo_distance unit: $other (m/km)")
          }
          val dir = m.get("order") match {
            case Some(JString(d0)) => d0
            case None => "asc"
            case other => throw new IllegalArgumentException(s"bad _geo_distance order: $other")
          }
          require(dir == "asc" || dir == "desc", s"bad _geo_distance order $dir")
          val gp = fieldPath(fname)
          val (arrG, _) = splitArrayPath(gp, schema)
          require(arrG.isEmpty,
            s"_geo_distance sort on array path $fname is not implemented")
          SortKey(gp, dir == "asc", isScore = false, geo = Some((olat, olon, divisor)))
        case JObject(List(("_script", JObject(opts)))) =>
          // ES script sort: { type: number, script: {source}, order }
          val m = opts.toMap
          val unknown = m.keySet -- Set("type", "script", "order")
          require(unknown.isEmpty,
            s"unsupported _script sort key(s): ${unknown.mkString(", ")}")
          m.get("type") match {
            case None | Some(JString("number")) => ()
            case Some(other) => throw new IllegalArgumentException(
              s"only _script sort type number is implemented: $other")
          }
          val src = m.get("script") match {
            case Some(JString(s0)) => s0
            case Some(JObject(sf)) => sf.toMap.get("source") match {
              case Some(JString(s0)) => s0
              case other => throw new IllegalArgumentException(
                s"_script sort script.source must be a string: $other")
            }
            case other => throw new IllegalArgumentException(
              s"_script sort needs a script: $other")
          }
          val se = parseScript(src, schema)
          require(!scriptReadsScore(se),
            "_script sort script references _score — use the _score sort key instead")
          val dir = m.get("order") match {
            case Some(JString(d0)) => d0
            case None => "asc"
            case other => throw new IllegalArgumentException(s"bad _script order: $other")
          }
          require(dir == "asc" || dir == "desc", s"bad _script order $dir")
          SortKey(Nil, dir == "asc", isScore = false, script = Some(se))
        case JObject(List((name, JObject(opts)))) =>
          val m = opts.toMap
          val unknown = m.keySet -- Set("order", "mode", "nested")
          require(unknown.isEmpty,
            s"unsupported sort option(s) on $name: ${unknown.mkString(", ")}")
          val dir = m.get("order").map {
            case JString(d) => d
            case other => throw new IllegalArgumentException(s"bad sort order: $other")
          }.getOrElse("asc")
          require(dir == "asc" || dir == "desc", s"bad sort order $dir on $name")
          val mode = m.get("mode").map {
            case JString(md) if md == "min" || md == "max" => md
            case other => throw new IllegalArgumentException(
              s"unsupported sort mode on $name: $other (min/max)")
          }
          // nested sort filter: the element set the mode reduces over
          val nf = m.get("nested").map {
            case JObject(nfo) =>
              val nm = nfo.toMap
              val unknownN = nm.keySet -- Set("path", "filter")
              require(unknownN.isEmpty,
                s"unsupported sort nested key(s) on $name: ${unknownN.mkString(", ")} (path/filter)")
              val np = nm.get("path") match {
                case Some(JString(p0)) => p0.split('.').toSeq
                case _ => throw new IllegalArgumentException(s"sort nested on $name needs a path")
              }
              val (arr0, _) = splitArrayPath(fieldPath(name), schema)
              require(arr0 == np,
                s"sort nested path ${np.mkString(".")} must be the sort field's array prefix " +
                  s"(${arr0.mkString(".")})")
              nm.get("filter").map(parseQueryNode(_, schema)).getOrElse(
                throw new IllegalArgumentException(s"sort nested on $name needs a filter"))
            case other => throw new IllegalArgumentException(s"bad sort nested on $name: $other")
          }
          sortKey(name, dir == "asc").copy(mode = mode, nestedFilter = nf)
        case other => throw new IllegalArgumentException(s"unsupported sort entry: $other")
      }
      case single => throw new IllegalArgumentException(s"sort must be an array: $single")
    }
    sorts.filterNot(k => k.isScore || k.geo.nonEmpty || k.script.nonEmpty).foreach { k =>
      val (arr, _) = splitArrayPath(k.path, schema)
      require(arr.isEmpty || k.mode.nonEmpty,
        s"sort on array path ${k.path.mkString(".")} needs a mode (min/max) — ES nested sort")
    }
    val from = root.get("from").map(asInt).getOrElse(0)
    val size = root.get("size").map(asInt).getOrElse(10) // ES default page
    require(from >= 0 && size >= 0, s"bad from/size: $from/$size")
    val source = root.get("_source").map {
      case JArray(paths) => paths.map {
        case JString(p) => fieldPath(p)
        case other => throw new IllegalArgumentException(s"bad _source path: $other")
      }
      case JString(p) => Seq(fieldPath(p))
      case other => throw new IllegalArgumentException(s"unsupported _source form: $other")
    }
    val searchAfter = root.get("search_after").map {
      case JArray(vs) => vs.map[Any] {
        case JString(x) => x
        case JInt(i) => i.toLong
        case JLong(l) => l
        case JDouble(dd) => dd
        case JDecimal(dd) => dd.toDouble
        case other => throw new IllegalArgumentException(s"bad search_after value: $other")
      }
      case other => throw new IllegalArgumentException(s"search_after must be an array: $other")
    }
    searchAfter.foreach { sa =>
      require(from == 0, "search_after cannot be combined with from (ES rejects it too)")
      require(sa.size == sorts.size,
        s"search_after needs one value per sort key (${sorts.size}), got ${sa.size}")
    }
    val (collapse, collapseInner) = root.get("collapse").map {
      case JObject(cf) =>
        val cm = cf.toMap
        val unknownC = cm.keySet -- Set("field", "inner_hits")
        require(unknownC.isEmpty,
          s"unsupported collapse key(s): ${unknownC.mkString(", ")} (field/inner_hits)")
        val cp = cm.get("field") match {
          case Some(JString(p)) =>
            val p0 = fieldPath(p)
            val (arr, _) = splitArrayPath(p0, schema)
            require(arr.isEmpty, s"collapse field $p crosses array ${arr.mkString(".")}")
            p0
          case _ => throw new IllegalArgumentException("collapse needs a \"field\"")
        }
        val inner = cm.get("inner_hits").map {
          case JObject(ih) =>
            val im = ih.toMap
            val unknownI = im.keySet -- Set("name", "size", "sort")
            require(unknownI.isEmpty,
              s"unsupported collapse inner_hits key(s): ${unknownI.mkString(", ")} (name/size/sort)")
            val nm = im.get("name") match {
              case Some(JString(n0)) => n0
              case _ => throw new IllegalArgumentException("collapse inner_hits needs a name")
            }
            val sz = im.get("size").map(asInt).getOrElse(3) // ES default
            require(sz >= 1, s"collapse inner_hits size must be >= 1: $sz")
            val (sp, asc0) = im.get("sort") match {
              case Some(JArray(List(JObject(List((sf, JString(dir))))))) =>
                require(dir == "asc" || dir == "desc", s"bad inner_hits sort dir: $dir")
                (fieldPath(sf), dir == "asc")
              case _ => throw new IllegalArgumentException(
                "collapse inner_hits needs an explicit one-entry sort " +
                  "(deterministic group ranking — the d54 default-_score rule does not reach here)")
            }
            val (sArr, _) = splitArrayPath(sp, schema)
            require(sArr.isEmpty,
              s"collapse inner_hits sort on array path ${sp.mkString(".")} is not implemented")
            CollapseInner(nm, sz, sp, asc0)
          case other => throw new IllegalArgumentException(s"bad collapse inner_hits: $other")
        }
        (Some(cp), inner)
      case other => throw new IllegalArgumentException(s"bad collapse: $other")
    }.getOrElse((None, None))
    require(collapse.isEmpty || searchAfter.isEmpty,
      "collapse with search_after is not implemented (cursor would apply pre-collapse)")
    val rescore = root.get("rescore").map {
      case JObject(rf) =>
        val m = rf.toMap
        val unknownR = m.keySet -- Set("window_size", "query")
        require(unknownR.isEmpty, s"unsupported rescore key(s): ${unknownR.mkString(", ")}")
        val windowSize = m.get("window_size").map(asInt).getOrElse(10) // ES default
        require(windowSize >= 1, s"rescore window_size must be >= 1: $windowSize")
        val qm = m.get("query") match {
          case Some(JObject(qf)) => qf.toMap
          case _ => throw new IllegalArgumentException("rescore needs a query object")
        }
        val unknownQ = qm.keySet -- Set("rescore_query", "query_weight", "rescore_query_weight")
        require(unknownQ.isEmpty,
          s"unsupported rescore.query key(s): ${unknownQ.mkString(", ")}")
        val rParsed = parseQueryRoot(qm.getOrElse("rescore_query",
          throw new IllegalArgumentException("rescore needs rescore_query")), schema)
        require(rParsed.shape.isEmpty,
          "score-shaping wrappers inside rescore_query are not implemented")
        Rescore(windowSize, rParsed,
          qm.get("query_weight").map(asDouble(_, "query_weight")).getOrElse(1.0),
          qm.get("rescore_query_weight").map(asDouble(_, "rescore_query_weight")).getOrElse(1.0))
      case other => throw new IllegalArgumentException(s"bad rescore: $other")
    }
    rescore.foreach { rs =>
      require(sorts.isEmpty,
        "rescore with an explicit sort is not implemented (ES rejects it too — " +
          "rescore re-ranks the default _score order)")
      require(searchAfter.isEmpty && collapse.isEmpty,
        "rescore with search_after/collapse is not implemented")
      require(from + size <= rs.windowSize,
        s"the page (from + size = ${from + size}) must fit inside the rescore window " +
          s"(${rs.windowSize}) — raise window_size")
    }
    val highlight = root.get("highlight").map {
      case JObject(hf) =>
        val hm = hf.toMap
        val unknownH = hm.keySet -- Set("fields", "pre_tags", "post_tags")
        require(unknownH.isEmpty, s"unsupported highlight key(s): ${unknownH.mkString(", ")}")
        def tagOf(k: String, dflt: String): String = hm.get(k).map {
          case JArray(List(JString(t))) => t
          case other => throw new IllegalArgumentException(
            s"highlight $k must be a one-element string array: $other")
        }.getOrElse(dflt)
        val pre = tagOf("pre_tags", "<em>")
        val post = tagOf("post_tags", "</em>")
        // the tags splice into a regex REPLACEMENT string on both engines
        require(!(pre + post).exists(c => c == '$' || c == '\\'),
          "highlight tags containing $ or \\ are not implemented")
        hm.get("fields") match {
          case Some(JObject(List((f, fopts)))) =>
            val (nFrags, fragSize) = fopts match {
              case JObject(fo) =>
                val fm = fo.toMap
                val unknownF = fm.keySet -- Set("number_of_fragments", "fragment_size")
                require(unknownF.isEmpty,
                  s"unsupported highlight field option(s) on $f: ${unknownF.mkString(", ")}")
                val n = fm.get("number_of_fragments").map(asInt).getOrElse(0)
                require(n >= 0, s"bad number_of_fragments: $n")
                val fs = fm.get("fragment_size").map(asInt).getOrElse(100)
                require(fs >= 1, s"bad fragment_size: $fs")
                require(n > 0 || !fm.contains("fragment_size"),
                  "fragment_size without number_of_fragments > 0 has no effect — remove it")
                (n, fs)
              case other => throw new IllegalArgumentException(s"bad highlight field spec: $other")
            }
            val hp = fieldPath(f)
            val (arr, _) = splitArrayPath(hp, schema)
            require(arr.isEmpty,
              s"highlight on array path $f is not implemented (scalar fields only)")
            Highlight(hp, pre, post, fragSize, nFrags)
          case Some(other) => throw new IllegalArgumentException(
            s"highlight.fields must carry exactly one field: $other")
          case None => throw new IllegalArgumentException("highlight needs \"fields\"")
        }
      case other => throw new IllegalArgumentException(s"bad highlight: $other")
    }
    val fb = FullBody(parseBody(body, schema), sorts, from, size, searchAfter, source, collapse,
      collapseInner,
      rescore, highlight, trackTotal, minScore, slice, scriptFields, docvalueFields)
    highlight.foreach { h =>
      require(highlightTerms(fb.parsed.query, h.path).nonEmpty,
        s"highlight field ${h.path.mkString(".")} is targeted by no highlightable query clause " +
          "(match / term / terms / match_phrase on that field)")
    }
    fb
  }

  /** `_score` for bool queries: 1 point per satisfied top-level `should`
    * clause — the ES behavior that `should` under `must`/`filter` ranks
    * without filtering. Integer clause-count relevance, NOT BM25: exact in
    * any engine (same design as the analyzed-match score, d23), and a pure
    * expression over the document column — no shuffle, rank with
    * ORDER BY + LIMIT (TakeOrderedAndProject). Each clause is coalesced to
    * 0 so a NULL predicate (missing/null field) contributes nothing, as in
    * ES — otherwise one NULL clause would nullify `_score` and sort the
    * document as missing instead of counting its satisfied clauses. */
  def scoreCol(p: Parsed, doc: Column): Column = scoreCol(p, doc, None)

  /** As [[scoreCol]], with the should-relevance base REPLACED by
    * `bmBase` when present (the bm25-mode path: SearchExec computes the
    * fixed-point BM25 sum of the match-desugar shoulds, then this SAME
    * algebra — script_score / function_score / pinned — folds over it,
    * so bm25 similarity covers every score-shaping wrapper, not just
    * plain bool bodies). The pinned ladder widens to 10¹⁵ under bm25:
    * the fixed-point score is ≈ 2.2·N per term, so 10⁹ (the boolean
    * ladder, > any clause count) stops dominating near ~10⁸·|terms|
    * docs, while 10¹⁵ holds to ~4·10¹³ — far past a 100 TB corpus. */
  def scoreCol(p: Parsed, doc: Column, bmBase: Option[Column]): Column = {
    val base = scoreCol0(p, doc, bmBase)
    if (p.pinned.isEmpty) base
    else {
      // pinned ladder: listed ids rank first IN LIST ORDER, all above any
      // organic score; organic hits keep their base score. Integer
      // arithmetic — oracle-exact.
      val rung = if (bmBase.isDefined) 1000000000000000L else 1000000000L
      val pos = array_position(array(p.pinned.map(lit): _*), field(doc, Seq("objectId")))
      when(pos > 0, lit(rung) + lit(p.pinned.size.toLong) - pos).otherwise(base)
    }
  }

  private def scoreCol0(p: Parsed, doc: Column, bmBase: Option[Column]): Column = {
    def clauseCount: Column = bmBase.getOrElse(
      p.shoulds.map(q => coalesce(compile(q, doc).cast("long"), lit(0L))).reduce(_ + _))
    // relevance base for the score-shaping wrappers: the bm25 base when
    // supplied (it may come from a bare match INNER query, where shoulds
    // is empty — the override must win over the 1.0 convention), else
    // the clause count, else the should-less constant
    def relBase: Column = bmBase.map(_.cast("double")).getOrElse(
      if (p.shoulds.isEmpty) lit(1.0) else clauseCount.cast("double"))
    p.script match {
      case Some(se) =>
        // script_score: the script REPLACES the score; `_score` inside it
        // is the base (bm25 sum / clause count, or 1 for a should-less
        // query — the function_score base convention)
        return compileScript(se, doc, relBase)
      case None => ()
    }
    p.shape match {
      case None =>
        if (bmBase.isDefined) clauseCount
        else if (p.shoulds.isEmpty) lit(0L) else clauseCount
      case Some(sh) =>
        // function_score / boosting: base is the relevance (bm25 sum or
        // clause count), or 1 for a should-less query (every match
        // scores 1 — the match_all convention) so weights can shape a
        // filter-only query. Matching functions combine via score_mode;
        // the combined value folds into the base via boost_mode; a
        // document matching NO function keeps its base score (ES
        // FunctionScoreQuery contract). All arithmetic is IEEE double
        // over integer-ish inputs, so the oracle reproduces it
        // bit-for-bit.
        val base = relBase
        val matched = sh.functions.map { fn =>
          (coalesce(compile(fn.filter, doc), lit(false)), fnValue(fn, doc, base))
        }
        val anyMatch = matched.map(_._1).reduce(_ || _)
        val combined = sh.scoreMode match {
          case "multiply" =>
            matched.map { case (m, w) => when(m, w).otherwise(lit(1.0)) }.reduce(_ * _)
          case "sum" =>
            matched.map { case (m, w) => when(m, w).otherwise(lit(0.0)) }.reduce(_ + _)
        }
        val folded = sh.boostMode match {
          case "multiply" => base * combined
          case "sum" => base + combined
        }
        when(anyMatch, folded).otherwise(base)
    }
  }

  /** One function_score function's value: the weight, scaled by the
    * field_value_factor / decay / feature / random / script form when
    * present (null field → the required `missing` substitute). Shared by
    * [[scoreCol]] and the `explain` surface ([[explainCols]]). */
  private[docs] def fnValue(fn: ScoreFn, doc: Column, base: Column): Column =
    (fn.fvf, fn.decay) match {
          case _ if fn.script.isDefined =>
            // script_score function form: the function's value is the
            // script (same Painless subset as the top-level wrapper);
            // `_score` inside it reads the base relevance
            compileScript(fn.script.get, doc, base) * lit(fn.weight)
          case _ if fn.random.isDefined =>
            // random_score: uniform-[0,1) deterministic draw — the top 60
            // bits of md5("<seed>:<field value>") over 2^60. Division by a
            // power of two is exact, so the double is bit-identical in any
            // engine (same hash bridge as the d142 random_sampler).
            val (seed, fld) = fn.random.get
            val hf = concat(lit(s"$seed:"),
              fld.foldLeft(doc)((c, n) => c.getField(n)).cast("string"))
            val draw = conv(substring(md5(hf), 1, 15), 16, 10).cast("long")
              .cast("double") / lit(1152921504606846976.0) // 2^60
            draw * lit(fn.weight)
          case _ if fn.feature.isDefined =>
            // rank_feature / distance_feature kernels (see [[FeatureFn]]).
            // The query already filters to docs WITH the field, so `v` is
            // non-null here; the negative guard mirrors fvf's log1p rule.
            val ft = fn.feature.get
            val raw = ft.path.foldLeft(doc)((c, n) => c.getField(n)).cast("double")
            def nonNeg(c: Column): Column = when(c < 0, raise_error(concat(
              lit(s"rank_feature ${ft.kind} of a negative value: "),
              c.cast("string")))).otherwise(c)
            val kernel = ft.kind match {
              case "saturation" => nonNeg(raw) / (raw + lit(ft.pivot))
              case "log" => log(nonNeg(raw) * lit(ft.scalingFactor) + lit(1.0))
              case "sigmoid" =>
                val vp = pow(nonNeg(raw), lit(ft.exponent))
                vp / (vp + lit(math.pow(ft.pivot, ft.exponent)))
              case "distance" =>
                lit(ft.pivot) / (lit(ft.pivot) + abs(raw - lit(ft.origin)))
            }
            kernel * lit(fn.weight)
          case (None, None) => lit(fn.weight)
          case (Some(fv), _) =>
            val raw = fv.path.foldLeft(doc)((c, n) => c.getField(n)).cast("double")
            val scaled = lit(fv.factor) * coalesce(raw, lit(fv.missing))
            // ES errors per-document on log1p/sqrt of a negative value; a
            // silent NaN would FLOAT BROKEN DOCS TO THE TOP of the page
            // (NaN > every real double in Spark's sort), so reject loudly
            // at execution like ES does rather than rank them wrong
            def nonNeg(c: Column): Column = when(c < 0, raise_error(concat(
              lit(s"field_value_factor ${fv.modifier} of a negative value: "),
              c.cast("string")))).otherwise(c)
            val modded = fv.modifier match {
              case "none" => scaled
              case "log1p" => log1p(nonNeg(scaled))
              case "sqrt" => sqrt(nonNeg(scaled))
              case "square" => scaled * scaled
            }
            modded * lit(fn.weight)
          case (_, Some(ld)) =>
            val raw = ld.path.foldLeft(doc)((c, n) => c.getField(n)).cast("double")
            val v = coalesce(raw, lit(ld.missing))
            val dist = greatest(lit(0.0), abs(v - lit(ld.origin)) - lit(ld.offset))
            val kernel = ld.kind match {
              case "linear" =>
                val s = ld.scale / (1.0 - ld.decay) // parse-time constant
                greatest(lit(0.0), (lit(s) - dist) / lit(s))
              case "exp" =>
                // exp(dist·λ), λ = ln(decay)/scale — λ folds to one
                // parse-time double, the oracle parenthesizes the same way
                exp(dist * lit(math.log(ld.decay) / ld.scale))
              case "gauss" =>
                // exp(dist²·λ), λ = ln(decay)/scale² (ES's exp(-d²/2σ²)
                // with σ² = -scale²/(2·ln decay), constant-folded)
                exp(dist * dist * lit(math.log(ld.decay) / (ld.scale * ld.scale)))
            }
            kernel * lit(fn.weight)
    }

  /** `explain`-style score breakdown: the named component columns of a
    * TOP-LEVEL `function_score` body, exactly the expressions [[scoreCol]]
    * folds into `_score` — surfaced per hit for debuggability (ES
    * `explain: true` returns the same decomposition as a description
    * tree). Components: `base_score` (clause-count relevance, or 1 for a
    * should-less query), one `fn<i>_value` per function (the function's
    * value gated by its filter — the score_mode NEUTRAL when unmatched:
    * 1 for multiply, 0 for sum), `fn_combined` (their score_mode fold),
    * and `any_match`; `_score` itself is `boost_mode(base, combined)`
    * when any function matched, else `base` — recomputable bit-exactly
    * from the emitted columns. */
  def explainCols(p: Parsed, doc: Column): Seq[(String, Column)] = {
    val sh = p.shape.getOrElse(throw new IllegalArgumentException(
      "explainCols: the parsed query carries no function_score/boosting shape"))
    val base =
      if (p.shoulds.isEmpty) lit(1.0)
      else p.shoulds.map(q => coalesce(compile(q, doc).cast("long"), lit(0L)))
        .reduce(_ + _).cast("double")
    val matched = sh.functions.map { fn =>
      (coalesce(compile(fn.filter, doc), lit(false)), fnValue(fn, doc, base))
    }
    val neutral = if (sh.scoreMode == "multiply") lit(1.0) else lit(0.0)
    val gated = matched.map { case (m, w) => when(m, w).otherwise(neutral) }
    val combined =
      if (sh.scoreMode == "multiply") gated.reduce(_ * _) else gated.reduce(_ + _)
    val anyMatch = matched.map(_._1).reduce(_ || _)
    Seq("base_score" -> base) ++
      gated.zipWithIndex.map { case (g, i) => s"fn${i}_value" -> g } ++
      Seq("fn_combined" -> combined, "any_match" -> anyMatch)
  }

  /** Parse ONE ES query node (not a full body) — the form a `filters`
    * agg's bucket values take. inner_hits inside such nodes are dropped
    * (a bucket predicate has no hit list to project into). */
  private[docs] def parseQueryNode(jv: org.json4s.JValue,
                                   schema: org.apache.spark.sql.types.StructType): SearchQuery = {
    val scratch = scala.collection.mutable.ListBuffer.empty[(Seq[String], SearchQuery)]
    parseNode(jv, schema, scratch)
  }

  /** Resolve an ES date-math string to a timestamp: `<ISO anchor>` or
    * `<ISO anchor>||<±N{y,M,w,d,h,m,s}>*</unit>?`. The anchor is
    * `yyyy-MM-dd` (midnight) or `yyyy-MM-dd'T'HH:mm:ss`; steps apply in
    * order; a trailing `/unit` rounds DOWN (`/w` to the ISO Monday, as
    * ES). `now` anchors are rejected — see [[TsRange]]. */
  def resolveDateMath(s: String): java.sql.Timestamp = {
    import java.time._
    require(!s.startsWith("now"),
      s"'now'-anchored date math is nondeterministic and not implemented: $s")
    val (anchorStr, mathStr) = s.indexOf("||") match {
      case -1 => (s, "")
      case i => (s.take(i), s.drop(i + 2))
    }
    val anchor: LocalDateTime =
      try {
        if (anchorStr.contains('T')) LocalDateTime.parse(anchorStr)
        else LocalDate.parse(anchorStr).atStartOfDay()
      } catch {
        case e: java.time.format.DateTimeParseException =>
          throw new IllegalArgumentException(s"bad date-math anchor '$anchorStr' in: $s", e)
      }
    val StepRe = "([+-])(\\d+)([yMwdhms])".r
    val (steps, rounding) = mathStr.indexOf('/') match {
      case -1 => (mathStr, None)
      case i =>
        require(i == mathStr.length - 2, s"rounding must be the final /unit: $s")
        (mathStr.take(i), Some(mathStr.last))
    }
    val consumed = StepRe.findAllMatchIn(steps).map(_.matched).mkString
    require(consumed == steps, s"bad date math steps in: $s")
    val stepped = StepRe.findAllMatchIn(steps).foldLeft(anchor) { (t, m) =>
      val n = m.group(2).toLong * (if (m.group(1) == "-") -1 else 1)
      m.group(3) match {
        case "y" => t.plusYears(n)
        case "M" => t.plusMonths(n)
        case "w" => t.plusWeeks(n)
        case "d" => t.plusDays(n)
        case "h" => t.plusHours(n)
        case "m" => t.plusMinutes(n)
        case "s" => t.plusSeconds(n)
      }
    }
    val rounded = rounding.fold(stepped) {
      case 'y' => stepped.toLocalDate.withDayOfYear(1).atStartOfDay()
      case 'M' => stepped.toLocalDate.withDayOfMonth(1).atStartOfDay()
      case 'w' => stepped.toLocalDate
        .`with`(java.time.temporal.TemporalAdjusters.previousOrSame(DayOfWeek.MONDAY))
        .atStartOfDay()
      case 'd' => stepped.toLocalDate.atStartOfDay()
      case 'h' => stepped.truncatedTo(temporal.ChronoUnit.HOURS)
      case 'm' => stepped.truncatedTo(temporal.ChronoUnit.MINUTES)
      case 's' => stepped.truncatedTo(temporal.ChronoUnit.SECONDS)
      case u => throw new IllegalArgumentException(s"bad rounding unit /$u in: $s")
    }
    // UTC explicitly: Timestamp.valueOf(LocalDateTime) would interpret the
    // wall time in the JVM DEFAULT zone, making the compiled literal (an
    // instant) depend on where the driver runs — the nondeterminism this
    // feature exists to reject
    java.sql.Timestamp.from(rounded.toInstant(java.time.ZoneOffset.UTC))
  }

  private def parseNode(jv: org.json4s.JValue,
                        schema: org.apache.spark.sql.types.StructType,
                        hits: scala.collection.mutable.ListBuffer[(Seq[String], SearchQuery)]): SearchQuery = {
    import org.json4s._
    def asLong(v: JValue): Long = v match {
      case JInt(i) => i.toLong
      case JLong(l) => l
      case JDecimal(d) => d.toLong
      case JDouble(d) => d.toLong
      case JString(s) => s.toLong
      case other => throw new IllegalArgumentException(s"not numeric: $other")
    }
    def asString(v: JValue): String = v match {
      case JString(s) => s
      case JInt(i) => i.toString
      case other => throw new IllegalArgumentException(s"not a string: $other")
    }
    def path(p: String): Seq[String] =
      p.stripSuffix(".keyword").split('.').toSeq
    def children(v: JValue): Seq[JValue] = v match {
      case JArray(xs) => xs
      case JNothing => Nil
      case single => Seq(single)
    }
    jv match {
      case JObject(List(("match_all", _))) => MatchAll
      case JObject(List(("wrapper", JObject(wf)))) =>
        // ES `wrapper` — a base64-encoded query (the Kibana saved-object
        // / security-DSL transport form): decode and parse the inner
        // query with the SAME machinery (inner_hits inside it register
        // normally — the wrapper is pure transport)
        val m = wf.toMap
        val unknown = m.keySet -- Set("query")
        require(unknown.isEmpty,
          s"unsupported wrapper key(s): ${unknown.mkString(", ")} (query)")
        val b64 = m.get("query").map(asString).getOrElse(
          throw new IllegalArgumentException("wrapper needs a base64 query"))
        val decoded =
          try new String(java.util.Base64.getDecoder.decode(b64),
            java.nio.charset.StandardCharsets.UTF_8)
          catch { case _: IllegalArgumentException =>
            throw new IllegalArgumentException("wrapper query is not valid base64") }
        parseNode(Lex.parseJson("wrapper", decoded), schema, hits)
      case JObject(List(("nested", JObject(fields)))) =>
        // Wrapper is transparent for single-leaf inner queries (inner field
        // paths are absolute in ES; Nested* already compiles to ∃element).
        // A COMPOSED inner query must bind all its element-level leaves to
        // the SAME element — NestedCompound. An `inner_hits` key records a
        // matched-children projection request against the wrapper path.
        val inner = fields.collectFirst { case ("query", q) => q }
          .getOrElse(throw new IllegalArgumentException("nested without query"))
        val wrapperPath = fields.collectFirst { case ("path", p) => path(asString(p)) }
          .getOrElse(throw new IllegalArgumentException("nested without path"))
        val parsedInner = parseNode(inner, schema, hits)
        val ast = (parsedInner, wrapperArray(wrapperPath, parsedInner)) match {
          case (_: NestedTerm | _: NestedTokenMatch | _: NestedWildcard | _: NestedRange, _) => parsedInner
          case (compound, Some(ap)) => NestedCompound(ap, compound)
          case (structOrDocLevel, None) => structOrDocLevel
        }
        if (fields.exists(_._1 == "inner_hits")) hits += ((wrapperPath, ast))
        ast
      case JObject(List(("bool", JObject(fields)))) =>
        val f = fields.toMap
        // Reject bool clauses this engine does not implement rather than
        // silently dropping them: {"bool":{"fliter":[...]}} parsed as
        // MatchAll would return a SUPERSET of the correct rows (the same
        // honesty rule as the range-bound validation below).
        val unknown = f.keySet --
          Set("must", "filter", "should", "must_not", "minimum_should_match", "boost")
        require(unknown.isEmpty,
          s"unsupported bool clause(s): ${unknown.mkString(", ")}")
        val musts = children(f.getOrElse("must", JNothing)).map(parseNode(_, schema, hits))
        // ES `filter` = non-scoring `must`: same conjunction, only the
        // (rank-time) score contribution differs, so for the hit SET the
        // compilation is identical.
        val filters = children(f.getOrElse("filter", JNothing)).map(parseNode(_, schema, hits))
        val shoulds = children(f.getOrElse("should", JNothing)).map(parseNode(_, schema, hits))
        val nots = children(f.getOrElse("must_not", JNothing)).map(parseNode(_, schema, hits))
        // ES semantics: with at least one `must`/`filter` clause present,
        // `minimum_should_match` defaults to 0 — `should` only boosts
        // scores and must NOT filter the hit set. It filters only when it
        // stands alone (default msm=1), or when the body pins
        // minimum_should_match >= 1 explicitly (n >= 2 = n-of-M).
        val msm = f.get("minimum_should_match").map(asLong).getOrElse(
          if (musts.isEmpty && filters.isEmpty) 1L else 0L)
        require(msm >= 0 && msm <= Int.MaxValue, s"bad minimum_should_match: $msm")
        val shouldPart =
          if (shoulds.isEmpty || msm <= 0) Nil
          else if (msm == 1L)
            Seq(if (shoulds.size == 1) shoulds.head else Or(shoulds: _*))
          else Seq(AtLeast(msm.toInt, shoulds))
        val parts = musts ++ filters ++ shouldPart ++ nots.map(Not)
        if (parts.isEmpty) MatchAll
        else if (parts.size == 1) parts.head
        else And(parts: _*)
      case JObject(List((op @ ("match" | "term"), JObject(List((p, spec)))))) =>
        val (value, andOp) = spec match {
          case JObject(f) =>
            val m = f.toMap
            val unknown = m.keySet -- Set("query", "value", "operator", "boost")
            require(unknown.isEmpty,
              s"unsupported $op key(s) on $p: ${unknown.mkString(", ")}")
            val v = m.get("query").orElse(m.get("value")).map(asString)
              .getOrElse(throw new IllegalArgumentException(s"$op needs query/value"))
            val operator = m.get("operator").map(asString).getOrElse("or")
            require(operator == "or" || operator == "and", s"bad operator: $operator")
            require(op == "match" || !m.contains("operator"), "term takes no operator")
            (v, operator == "and")
          case v => (asString(v), false)
        }
        splitArrayPath(path(p), schema) match {
          case (Nil, full) if op == "match" =>
            // ES analyzes the query string: multi-token queries are an OR
            // of per-token matches by default, AND under operator=and. A
            // single TermMatch with an embedded space would match nothing.
            val terms = value.trim.split("\\s+").toSeq.filter(_.nonEmpty)
              .map(TermMatch(full, _))
            terms match {
              case Seq(one) => one
              case Nil => throw new IllegalArgumentException(s"match on $p has an empty query")
              case many => if (andOp) And(many: _*) else Or(many: _*)
            }
          case (Nil, full) => Wildcard(full, value) // term = untokenized exact
          case (arr, rest) if op == "match" && !p.endsWith(".keyword") =>
            // ES analyzes `match` through array paths too: BOTH sides are
            // analyzed, so each query token matches by tokenized
            // containment WITHIN the element (NestedTokenMatch), not by
            // whole-string equality — a multi-token query compiled to
            // equality would silently return a near-empty set. operator=or
            // needs SOME element per token; operator=and binds every token
            // to the SAME element (NestedCompound — ES nested scoping).
            // An explicit `.keyword` path opts back into exact equality.
            val tokens = value.trim.split("\\s+").toSeq.filter(_.nonEmpty)
            tokens match {
              case Nil => throw new IllegalArgumentException(s"match on $p has an empty query")
              case Seq(one) => NestedTokenMatch(arr, rest, one)
              case many =>
                val leaves = many.map(NestedTokenMatch(arr, rest, _))
                if (andOp) NestedCompound(arr, And(leaves: _*)) else Or(leaves: _*)
            }
          case (arr, rest) => NestedTerm(arr, rest, value) // term / .keyword = untokenized exact
        }
      case JObject(List(("match_bool_prefix", JObject(List((p, spec)))))) =>
        // ES search-as-you-type: every analyzed term must/may match as a
        // full token except the LAST, which matches as a token PREFIX.
        // operator or/and follows the `match` contract (and binds every
        // clause to the SAME element through an array path — nested
        // scoping, like match).
        val (value, andOp) = spec match {
          case JObject(f) =>
            val m = f.toMap
            val unknown = m.keySet -- Set("query", "operator")
            require(unknown.isEmpty,
              s"unsupported match_bool_prefix key(s) on $p: ${unknown.mkString(", ")}")
            val v = m.get("query").map(asString)
              .getOrElse(throw new IllegalArgumentException("match_bool_prefix needs query"))
            val operator = m.get("operator").map(asString).getOrElse("or")
            require(operator == "or" || operator == "and", s"bad operator: $operator")
            (v, operator == "and")
          case v => (asString(v), false)
        }
        val toks = value.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
        require(toks.nonEmpty, s"match_bool_prefix on $p has an empty query")
        splitArrayPath(path(p), schema) match {
          case (Nil, full) =>
            val leaves = toks.init.map(TermMatch(full, _)) :+ TokenPrefix(full, toks.last)
            leaves match {
              case Seq(one) => one
              case many => if (andOp) And(many: _*) else Or(many: _*)
            }
          case (arr, rest) =>
            val leaves = toks.init.map(NestedTokenMatch(arr, rest, _)) :+
              NestedTokenPrefix(arr, rest, toks.last)
            leaves match {
              case Seq(one) => one
              case many =>
                if (andOp) NestedCompound(arr, And(many: _*)) else Or(many: _*)
            }
        }
      case JObject(List(("wildcard", JObject(List((p, spec)))))) =>
        val glob = spec match {
          case JObject(f) => f.toMap.get("value").map(asString)
            .getOrElse(throw new IllegalArgumentException("wildcard needs value"))
          case v => asString(v)
        }
        splitArrayPath(path(p), schema) match {
          case (Nil, full) => Wildcard(full, glob)
          case (arr, rest) => NestedWildcard(arr, rest, glob)
        }
      case JObject(List(("geo_bounding_box", JObject(List((bField, JObject(bSpec))))))) =>
        val bp = path(bField)
        val (bArr, bFull) = splitArrayPath(bp, schema)
        require(bArr.isEmpty,
          s"geo_bounding_box field $bField crosses array ${bArr.mkString(".")} — not implemented")
        val bm = bSpec.toMap
        val unknownB = bm.keySet -- Set("top_left", "bottom_right")
        require(unknownB.isEmpty,
          s"unsupported geo_bounding_box key(s): ${unknownB.mkString(", ")} " +
            "(top_left/bottom_right {lat, lon} objects only)")
        def corner(k: String): (Double, Double) = bm.get(k) match {
          case Some(JObject(cf)) =>
            val cm = cf.toMap
            val unknownC = cm.keySet -- Set("lat", "lon")
            require(unknownC.isEmpty,
              s"unsupported geo corner key(s): ${unknownC.mkString(", ")}")
            (asDouble(cm.getOrElse("lat",
              throw new IllegalArgumentException(s"$k needs lat")), "geo lat"),
              asDouble(cm.getOrElse("lon",
                throw new IllegalArgumentException(s"$k needs lon")), "geo lon"))
          case _ => throw new IllegalArgumentException(
            s"geo_bounding_box needs a $k {lat, lon} object")
        }
        val (top, left) = corner("top_left")
        val (bottom, right) = corner("bottom_right")
        require(top >= bottom, s"geo_bounding_box top < bottom: $top < $bottom")
        require(left <= right,
          "geo_bounding_box crossing the antimeridian (left > right) is not implemented")
        GeoBoundingBox(bFull, top, left, bottom, right)
      case JObject(List(("geo_shape", JObject(List((gField, JObject(gSpec))))))) =>
        // ES geo_shape over geo_point docs: {"geo_shape": {"<field>": {
        //   "shape": {"type": "polygon"|"envelope", "coordinates": ...},
        //   "relation": "intersects"|"within"|"disjoint"}}}.
        // GeoJSON coordinates are [lon, lat]; polygon takes ONE outer
        // ring (holes/multi-ring are not implemented), closed (first ==
        // last vertex, dropped here). `contains` is rejected: a point
        // cannot contain a polygon — matching nothing silently would
        // read as data loss.
        val gp = path(gField)
        val (gArr, gFull) = splitArrayPath(gp, schema)
        require(gArr.isEmpty,
          s"geo_shape field $gField crosses array ${gArr.mkString(".")} — not implemented")
        val gm = gSpec.toMap
        val unknownG = gm.keySet -- Set("shape", "relation")
        require(unknownG.isEmpty,
          s"unsupported geo_shape key(s): ${unknownG.mkString(", ")} (shape/relation; " +
            "indexed_shape is not implemented)")
        val relation = gm.get("relation") match {
          case None => "intersects" // ES default
          case Some(JString(r)) if Set("intersects", "within", "disjoint")(r) => r
          case Some(other) => throw new IllegalArgumentException(
            s"unsupported geo_shape relation: $other (intersects/within/disjoint; " +
              "contains over point documents can never match and is rejected)")
        }
        val sm = gm.get("shape") match {
          case Some(JObject(sf)) => sf.toMap
          case _ => throw new IllegalArgumentException("geo_shape needs a shape object")
        }
        val unknownS = sm.keySet -- Set("type", "coordinates")
        require(unknownS.isEmpty,
          s"unsupported geo_shape shape key(s): ${unknownS.mkString(", ")}")
        def lonLat(v: JValue): (Double, Double) = v match {
          case JArray(List(lo, la)) =>
            (asDouble(lo, "geo_shape lon"), asDouble(la, "geo_shape lat"))
          case other => throw new IllegalArgumentException(
            s"geo_shape coordinate must be a [lon, lat] pair: $other")
        }
        sm.get("type") match {
          case Some(JString("envelope")) =>
            // GeoJSON-ish envelope: [[minLon, maxLat], [maxLon, minLat]]
            val (tl, br) = sm.get("coordinates") match {
              case Some(JArray(List(a, b))) => (lonLat(a), lonLat(b))
              case other => throw new IllegalArgumentException(
                s"geo_shape envelope needs [[minLon, maxLat], [maxLon, minLat]]: $other")
            }
            val box = GeoBoundingBox(gFull, top = tl._2, left = tl._1,
              bottom = br._2, right = br._1)
            require(box.top >= box.bottom, s"envelope top < bottom: ${box.top} < ${box.bottom}")
            require(box.left <= box.right,
              "envelope crossing the antimeridian (left > right) is not implemented")
            if (relation == "disjoint") Not(box) else box
          case Some(JString("polygon")) =>
            val ring = sm.get("coordinates") match {
              case Some(JArray(List(JArray(pts)))) => pts.map(lonLat)
              case other => throw new IllegalArgumentException(
                s"geo_shape polygon needs ONE ring [[[lon,lat],...]]: $other")
            }
            require(ring.size >= 4 && ring.head == ring.last,
              s"geo_shape polygon ring must be closed (first == last vertex), " +
                s"got ${ring.size} points")
            val verts = ring.dropRight(1).map { case (lo, la) => (la, lo) }
            require(verts.distinct.size == verts.size,
              "geo_shape polygon has duplicate vertices")
            GeoShapePolygon(gFull, verts, disjoint = relation == "disjoint")
          case other => throw new IllegalArgumentException(
            s"unsupported geo_shape type: $other (polygon/envelope)")
        }
      case JObject(List(("intervals", JObject(List((iField, iRule)))))) =>
        val ip = path(iField)
        val (iArr, iFull) = splitArrayPath(ip, schema)
        require(iArr.isEmpty,
          s"intervals on array path $iField is not implemented (scalar text fields only)")
        def parseRule(rv: JValue): IntervalRule = rv match {
          case JObject(List(("match", JObject(mf)))) =>
            val m = mf.toMap
            val unknown = m.keySet -- Set("query", "ordered", "max_gaps")
            require(unknown.isEmpty,
              s"unsupported intervals match key(s): ${unknown.mkString(", ")} " +
                "(query/ordered/max_gaps; analyzer/use_field/filter are not implemented)")
            val terms = m.get("query") match {
              case Some(JString(s)) => s.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
              case _ => throw new IllegalArgumentException("intervals match needs a query string")
            }
            require(terms.nonEmpty && terms.size <= 3,
              s"intervals match supports 1-3 terms, got ${terms.size}")
            require(terms.distinct.size == terms.size,
              "repeated terms in an intervals match are not implemented " +
                "(the one-position-per-term assignment would need distinctness tracking)")
            val ordered = m.get("ordered") match {
              case None | Some(JBool(false)) => false
              case Some(JBool(true)) => true
              case other => throw new IllegalArgumentException(
                s"intervals ordered must be a boolean: $other")
            }
            val mg = m.get("max_gaps").map(asLong(_).toInt).getOrElse(-1) // ES default: unbounded
            IntervalMatch(terms, ordered, mg)
          case JObject(List(("any_of", JObject(af)))) =>
            val a = af.toMap
            val unknown = a.keySet -- Set("intervals")
            require(unknown.isEmpty,
              s"unsupported intervals any_of key(s): ${unknown.mkString(", ")} " +
                "(a filter under any_of is not implemented)")
            a.get("intervals") match {
              case Some(JArray(rs)) if rs.nonEmpty => IntervalAnyOf(rs.map(parseRule))
              case _ => throw new IllegalArgumentException(
                "intervals any_of needs a non-empty intervals array")
            }
          case other => throw new IllegalArgumentException(
            s"unsupported intervals rule: $other (match/any_of; all_of, prefix/wildcard/" +
              "fuzzy rules and containing-family filters are not implemented)")
        }
        Intervals(iFull, parseRule(iRule))
      case JObject(List(("combined_fields", JObject(cfFields)))) =>
        // ES `combined_fields` — term-CENTRIC cross-field matching (the
        // first+last-name body): under `operator: and` every analyzed
        // token must appear in AT LEAST ONE of the fields (unlike
        // multi_match, which is field-centric: some field must carry
        // them); `or` matches any token anywhere. Desugars to And-over-
        // tokens of Or-over-fields — plain TermMatch leaves, so pushdown
        // applies unchanged — wrapped in the [[CombinedFields]] marker:
        // under bm25 it scores Lucene CombinedFieldQuery's merged
        // pseudo-field BM25F (unit weights, r18 — d293); boolean mode
        // keeps the integer clause-count relevance.
        val f = cfFields.toMap
        val unknown = f.keySet -- Set("query", "fields", "operator")
        require(unknown.isEmpty,
          s"unsupported combined_fields key(s): ${unknown.mkString(", ")} " +
            "(query/fields/operator; per-field ^boosts and auto_generate_synonyms are not implemented)")
        val cfTerms = f.get("query") match {
          case Some(JString(s0)) => s0.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
          case _ => throw new IllegalArgumentException("combined_fields needs a query string")
        }
        require(cfTerms.nonEmpty, "combined_fields query has no tokens")
        val cfPaths = f.get("fields") match {
          case Some(JArray(fs)) if fs.nonEmpty => fs.map { fv =>
            val p0 = asString(fv)
            require(!p0.contains("^"),
              s"combined_fields per-field boost is not implemented: $p0")
            val (arr, full) = splitArrayPath(path(p0), schema)
            require(arr.isEmpty,
              s"combined_fields on array path $p0 is not implemented (scalar text fields only)")
            full
          }
          case _ => throw new IllegalArgumentException(
            "combined_fields needs a non-empty fields array")
        }
        val andOp = f.get("operator") match {
          case None | Some(JString("or")) => false
          case Some(JString("and")) => true
          case Some(other) => throw new IllegalArgumentException(
            s"bad combined_fields operator: $other (or/and)")
        }
        def tokenAnywhere(t: String): SearchQuery = cfPaths.map(TermMatch(_, t)) match {
          case Seq(one) => one
          case many => Or(many: _*)
        }
        val perToken = cfTerms.map(tokenAnywhere)
        val cfDesugar =
          if (perToken.size == 1) perToken.head
          else if (andOp) And(perToken: _*) else Or(perToken: _*)
        // r18: wrap in the CombinedFields marker so bm25 mode can score
        // the merged pseudo-field (BM25F-lite); hits delegate to the
        // desugar unchanged
        CombinedFields(cfPaths, cfTerms, cfDesugar)
      case JObject(List(("span_near", JObject(snFields)))) =>
        // legacy span query — desugars onto the intervals machinery:
        // span_near slop IS max_gaps (span length − #terms), in_order IS
        // ordered (ES default false). Clauses must be span_terms on ONE
        // field, the ES rule.
        val f = snFields.toMap
        val unknown = f.keySet -- Set("clauses", "slop", "in_order")
        require(unknown.isEmpty,
          s"unsupported span_near key(s): ${unknown.mkString(", ")} (clauses/slop/in_order)")
        def spanTerm(cv: JValue): (String, String) = cv match {
          case JObject(List(("span_term", JObject(List((p, tv)))))) =>
            val term = tv match {
              case JObject(tf) => tf.toMap.get("value").map(asString).getOrElse(
                throw new IllegalArgumentException("span_term needs a value"))
              case other => asString(other)
            }
            (p, term.toLowerCase)
          case other => throw new IllegalArgumentException(
            s"span_near clauses must be span_term objects: $other")
        }
        val clauses = f.get("clauses") match {
          case Some(JArray(cs)) if cs.nonEmpty => cs.map(spanTerm)
          case _ => throw new IllegalArgumentException("span_near needs a non-empty clauses array")
        }
        require(clauses.map(_._1).distinct.size == 1,
          s"span_near clauses must target ONE field, got: ${clauses.map(_._1).distinct.mkString(", ")}")
        val snTerms = clauses.map(_._2)
        require(snTerms.size <= 3,
          s"span_near supports 1-3 clauses (the intervals machinery), got ${snTerms.size}")
        require(snTerms.distinct.size == snTerms.size,
          "repeated span_near terms are not implemented (the intervals distinctness rule)")
        val slop = f.get("slop").map(asLong(_).toInt).getOrElse(0)
        require(slop >= 0, s"span_near slop must be >= 0: $slop")
        val inOrder = f.get("in_order") match {
          case None | Some(JBool(false)) => false
          case Some(JBool(true)) => true
          case other => throw new IllegalArgumentException(s"in_order must be a boolean: $other")
        }
        val (snArr, snFull) = splitArrayPath(path(clauses.head._1), schema)
        require(snArr.isEmpty,
          s"span_near on array path ${clauses.head._1} is not implemented (scalar text fields only)")
        Intervals(snFull, IntervalMatch(snTerms, inOrder, slop))
      case JObject(List(("span_first", JObject(sfFields)))) =>
        // span_first — the match must sit within the first `end` token
        // positions (ES: span end <= end); one position scan, no window
        val f = sfFields.toMap
        val unknown = f.keySet -- Set("match", "end")
        require(unknown.isEmpty,
          s"unsupported span_first key(s): ${unknown.mkString(", ")} (match/end)")
        val (p, term) = f.get("match") match {
          case Some(JObject(List(("span_term", JObject(List((p0, tv))))))) =>
            val t0 = tv match {
              case JObject(tf) => tf.toMap.get("value").map(asString).getOrElse(
                throw new IllegalArgumentException("span_term needs a value"))
              case other => asString(other)
            }
            (p0, t0.toLowerCase)
          case _ => throw new IllegalArgumentException(
            "span_first match must be a single span_term (nested span queries are not implemented)")
        }
        val end = f.get("end").map(asLong(_).toInt).getOrElse(
          throw new IllegalArgumentException("span_first needs end"))
        require(end >= 1, s"span_first end must be >= 1: $end")
        val (sfArr, sfFull) = splitArrayPath(path(p), schema)
        require(sfArr.isEmpty,
          s"span_first on array path $p is not implemented (scalar text fields only)")
        SpanFirst(sfFull, term, end)
      case JObject(List(("geo_distance", JObject(gdFields)))) =>
        val f = gdFields.toMap
        val distStr = f.get("distance") match {
          case Some(JString(s)) => s
          case _ => throw new IllegalArgumentException(
            "geo_distance needs a \"distance\" string (e.g. \"500km\")")
        }
        val DistRe = "(\\d+(?:\\.\\d+)?)(km|m)".r
        val meters = distStr match {
          case DistRe(n, "km") => n.toDouble * 1000.0
          case DistRe(n, "m") => n.toDouble
          case other => throw new IllegalArgumentException(
            s"unsupported geo_distance distance: $other (<number>km or <number>m)")
        }
        require(f.get("distance_type").forall(_ == JString("arc")),
          "geo_distance distance_type plane is not implemented (arc/haversine only)")
        val pointEntries = (f -- Set("distance", "distance_type")).toList
        require(pointEntries.size == 1,
          s"geo_distance takes distance + ONE field, got: " +
            pointEntries.map(_._1).sorted.mkString(", "))
        val (pName, pVal) = pointEntries.head
        val gp = path(pName)
        val (gArr, _) = splitArrayPath(gp, schema)
        require(gArr.isEmpty,
          s"geo_distance field $pName crosses array ${gArr.mkString(".")} — not implemented")
        val (olat, olon) = pVal match {
          case JObject(pf) =>
            val pm = pf.toMap
            val unknownP = pm.keySet -- Set("lat", "lon")
            require(unknownP.isEmpty,
              s"unsupported geo point key(s): ${unknownP.mkString(", ")} (lat/lon object only)")
            (asDouble(pm.getOrElse("lat",
              throw new IllegalArgumentException("geo point needs lat")), "geo lat"),
              asDouble(pm.getOrElse("lon",
                throw new IllegalArgumentException("geo point needs lon")), "geo lon"))
          case other => throw new IllegalArgumentException(
            s"geo_distance point must be a {lat, lon} object: $other " +
              "(string/array/geohash point forms are not implemented)")
        }
        require(olat >= -90 && olat <= 90 && olon >= -180 && olon <= 180,
          s"geo_distance origin out of range: $olat, $olon")
        // conservative bounding box (5% margin over the min meters-per-
        // degree): a SUPERSET of the circle, so it can only prune
        val latDelta = meters / 110574.0 * 1.05
        val latBox = (olat - latDelta, olat + latDelta)
        val maxAbsLat = math.min(89.0, math.max(math.abs(latBox._1), math.abs(latBox._2)))
        val cosMin = math.cos(math.toRadians(maxAbsLat))
        val lonBox =
          if (cosMin < 0.02) None // polar cap: every longitude qualifies
          else {
            val lonDelta = meters / (111320.0 * cosMin) * 1.05
            if (olon - lonDelta < -180.0 || olon + lonDelta > 180.0) None // antimeridian wrap
            else Some((olon - lonDelta, olon + lonDelta))
          }
        GeoDistance(gp, olat, olon, meters, latBox, lonBox)
      case JObject(List(("range", JObject(List((p, JObject(bounds))))))) =>
        val b = bounds.toMap
        def isStr(k: String) = b.get(k).exists(_.isInstanceOf[JString])
        if (Seq("gte", "lte", "gt", "lt").exists(isStr)) {
          // string bounds = date math; mixing string and numeric bounds
          // on one field is a body bug — reject rather than guess.
          // `format` is NOT ignorable here (unlike the numeric branch):
          // ES parses the bound string per the format, so ignoring it
          // could return a different hit set — loud reject.
          val unsupported0 = b.keySet -- Set("gte", "lte", "gt", "lt", "boost")
          require(unsupported0.isEmpty,
            s"unsupported range bound(s) ${unsupported0.mkString(", ")} on $p " +
              "(format on date-math bounds changes the parse — not implemented)")
          // only date/timestamp fields take date-math bounds; a string
          // bound on a keyword field is ES's lexicographic range, which
          // this engine does not implement — reject with a typed message
          // rather than dying inside the date parser
          val (arrT, fullT) = splitArrayPath(path(p), schema)
          require(arrT.isEmpty,
            s"date-math range on array path $p is not implemented (scalar fields only)")
          val ftype = fullT.foldLeft(schema: org.apache.spark.sql.types.DataType) {
            case (st: org.apache.spark.sql.types.StructType, f) => st(f).dataType
            case (other, f) => throw new IllegalArgumentException(s"bad path $f into $other")
          }
          require(ftype.isInstanceOf[org.apache.spark.sql.types.TimestampType] ||
              ftype.isInstanceOf[org.apache.spark.sql.types.DateType],
            s"string range bounds on non-date field $p ($ftype) are not implemented " +
              "(ES lexicographic keyword ranges)")
          def bound(k: String): Option[java.sql.Timestamp] = b.get(k).map {
            case JString(v) =>
              val rounded = v.contains('/')
              require(!(rounded && (k == "lte" || k == "gt")),
                s"date-math rounding on $k is not implemented (ES rounds $k UP to the unit's " +
                  "end — use the half-open gte/lt form)")
              resolveDateMath(v)
            case other => throw new IllegalArgumentException(
              s"range on $p mixes date-math and numeric bounds: $k = $other")
          }
          require(!(b.contains("gte") && b.contains("gt")), s"range on $p has both gte and gt")
          require(!(b.contains("lte") && b.contains("lt")), s"range on $p has both lte and lt")
          val (tlo, tloIncl) = bound("gte").map((_, true))
            .orElse(bound("gt").map((_, false))).map { case (t, i) => (Some(t), i) }
            .getOrElse((None, true))
          val (thi, thiIncl) = bound("lte").map((_, true))
            .orElse(bound("lt").map((_, false))).map { case (t, i) => (Some(t), i) }
            .getOrElse((None, true))
          require(tlo.nonEmpty || thi.nonEmpty, s"range on $p has no bounds")
          TsRange(fullT, tlo, thi, tloIncl, thiIncl)
        } else {
        // Reject bound forms this engine does not implement rather than
        // silently widening the range: an ignored bound key would return a
        // SUPERSET of the correct rows. `boost`/`format` are rank/parse
        // hints with no effect on an integer hit set.
        val unsupported = b.keySet -- Set("gte", "lte", "gt", "lt", "boost")
        require(unsupported.isEmpty,
          s"unsupported range bound(s) ${unsupported.mkString(", ")} on $p (gte/lte/gt/lt)")
        require(!(b.contains("gte") && b.contains("gt")),
          s"range on $p has both gte and gt")
        require(!(b.contains("lte") && b.contains("lt")),
          s"range on $p has both lte and lt")
        val (lo, loIncl) = b.get("gte").map(v => (asLong(v), true))
          .orElse(b.get("gt").map(v => (asLong(v), false)))
          .getOrElse((Long.MinValue, true))
        val (hi, hiIncl) = b.get("lte").map(v => (asLong(v), true))
          .orElse(b.get("lt").map(v => (asLong(v), false)))
          .getOrElse((Long.MaxValue, true))
        splitArrayPath(path(p), schema) match {
          case (Nil, full) => Range(full, lo, hi, loIncl, hiIncl)
          case (arr, rest) => NestedRange(arr, rest, lo, hi, loIncl, hiIncl)
        }
        }
      case JObject(List(("constant_score", JObject(fields)))) =>
        // Hit set = the wrapped filter verbatim (constant_score only
        // changes scoring, which this engine models as clause counts).
        val f = fields.toMap
        val unknown = f.keySet -- Set("filter", "boost")
        require(unknown.isEmpty,
          s"unsupported constant_score key(s): ${unknown.mkString(", ")}")
        parseNode(f.getOrElse("filter",
          throw new IllegalArgumentException("constant_score needs a filter")), schema, hits)
      case JObject(List(("dis_max", JObject(fields)))) =>
        // Hit set = union of the sub-queries (dis_max differs from bool
        // should only in how it SCORES the union — max vs sum).
        val f = fields.toMap
        val unknown = f.keySet -- Set("queries", "tie_breaker", "boost")
        require(unknown.isEmpty,
          s"unsupported dis_max key(s): ${unknown.mkString(", ")}")
        val tb = f.get("tie_breaker").map(asDouble(_, "tie_breaker")).getOrElse(0.0)
        require(tb >= 0.0 && tb <= 1.0, s"tie_breaker must be in [0, 1]: $tb")
        f.get("queries") match {
          case Some(JArray(qs)) if qs.nonEmpty =>
            val parts = qs.map(parseNode(_, schema, hits))
            if (parts.size == 1) parts.head else DisMax(parts, tb)
          case _ => throw new IllegalArgumentException("dis_max needs a non-empty queries array")
        }
      case JObject(List(("multi_match", JObject(fields)))) =>
        // ES multi_match: the query matched against each listed field,
        // per-field legs composed by `type` — `best_fields` (default)
        // and `phrase` are DisjunctionMaxQueries over the legs in ES;
        // `most_fields` scores the SUM of per-field scores, which is
        // exactly DisMax with tie_breaker 1 (max + 1·(sum − max) = sum),
        // so one node carries all three. Per-field semantics follow the
        // single-field `match` / `match_phrase` above: tokenized
        // everywhere, including through array paths (`.keyword` opts
        // back into exact equality).
        val f = fields.toMap
        val unknown = f.keySet -- Set("query", "fields", "type", "tie_breaker", "operator")
        require(unknown.isEmpty,
          s"unsupported multi_match key(s): ${unknown.mkString(", ")} (query/fields/type/tie_breaker/operator)")
        val mmType = f.get("type").map(asString).getOrElse("best_fields")
        require(Set("best_fields", "most_fields", "phrase", "phrase_prefix",
          "cross_fields", "bool_prefix")(mmType),
          s"unknown multi_match type: $mmType " +
            "(best_fields/most_fields/phrase/phrase_prefix/cross_fields/bool_prefix)")
        val tb0 = f.get("tie_breaker").map(asDouble(_, "tie_breaker"))
        tb0.foreach(t => require(t >= 0.0 && t <= 1.0, s"tie_breaker must be in [0, 1]: $t"))
        require(tb0.isEmpty || (mmType != "most_fields" && mmType != "bool_prefix"),
          s"multi_match $mmType sums per-field scores; tie_breaker does not apply")
        // most_fields and bool_prefix SUM the per-field scores (the ES
        // docs use the same "combines the _score from each field"
        // contract for both) = DisMax with tie_breaker 1
        val tb = if (mmType == "most_fields" || mmType == "bool_prefix") 1.0
          else tb0.getOrElse(0.0)
        // operator: per-field AND/OR of the analyzed tokens, exactly the
        // single-field match contract; a phrase leg has no operator
        val mmOp = f.get("operator").map(asString).getOrElse("or")
        require(mmOp == "or" || mmOp == "and", s"bad operator: $mmOp")
        require(mmOp == "or" || (mmType != "phrase" && mmType != "phrase_prefix"),
          "multi_match phrase/phrase_prefix match consecutive tokens; operator does not apply")
        // bool_prefix: per-field match_bool_prefix — every token but the
        // last as a term, the last as a token PREFIX (search-as-you-type),
        // joined per field by the operator, fields DisMax-composed like
        // every other leg-fold type (exactly how ES compiles it)
        def boolPrefixLeg(p0: String, toks: Seq[String]): SearchQuery =
          splitArrayPath(path(p0), schema) match {
            case (Nil, full) =>
              val leaves = toks.init.map(TermMatch(full, _)) :+ TokenPrefix(full, toks.last)
              leaves match {
                case Seq(one) => one
                case many => if (mmOp == "and") And(many: _*) else Or(many: _*)
              }
            case (arr, rest) =>
              val leaves = toks.init.map(NestedTokenMatch(arr, rest, _)) :+
                NestedTokenPrefix(arr, rest, toks.last)
              leaves match {
                case Seq(one) => one
                case many =>
                  if (mmOp == "and") NestedCompound(arr, And(many: _*)) else Or(many: _*)
              }
          }
        val q = f.get("query").map(asString)
          .getOrElse(throw new IllegalArgumentException("multi_match needs query"))
        val flds = f.get("fields") match {
          case Some(JArray(xs)) if xs.nonEmpty => xs.map(asString)
          case _ => throw new IllegalArgumentException("multi_match needs a non-empty fields array")
        }
        if (mmType == "cross_fields") {
          // term-CENTRIC: every analyzed token in AT LEAST ONE field
          // (under operator=and; any token anywhere under or) — exactly
          // the combined_fields desugar for HITS (the ES docs equate
          // them). SCORING under bm25 is term-centric blended statistics
          // (Lucene BlendedTermQuery — [[CrossFields]], r18): the node
          // wraps the desugar so the scorer can see the (fields, terms)
          // structure; combined_fields carries its OWN CombinedFields
          // marker and scores merged-pseudo-field BM25F under bm25
          // (d293, r18). tie_breaker here is the PER-TERM blend fold over
          // the field legs (max + tb·(sum − max); ES cross_fields
          // default 0.0 = best field only).
          val inner = parseNode(JObject(List(("combined_fields", JObject(List(
            ("query", JString(q)),
            ("fields", JArray(flds.map(JString(_)).toList)),
            ("operator", JString(mmOp))))))), schema, hits) match {
            // unwrap the CombinedFields scoring marker: cross_fields
            // carries its OWN marker (blended-legs scoring, not the
            // merged pseudo-field) over the bare desugar
            case CombinedFields(_, _, i) => i
            case other => other
          }
          val cfTerms = q.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
          // paths re-resolve exactly as the combined_fields parse did
          // (which already rejected boosts and array paths loudly)
          val cfPaths = flds.map(p0 => splitArrayPath(path(p0), schema)._2)
          CrossFields(cfPaths, cfTerms, tb0.getOrElse(0.0), inner)
        } else {
        // phrase/phrase_prefix legs take the raw query string — validate
        // non-emptiness HERE like every tokenizing branch does via its
        // token split: an empty/whitespace query would otherwise build
        // MatchPhrase(f, "")/PhrasePrefix(f, "") whose normalized patterns
        // silently match empty-text docs instead of rejecting loudly.
        require(mmType != "phrase" && mmType != "phrase_prefix" || q.trim.nonEmpty,
          "multi_match has an empty query")
        val parts = flds.map { p0 =>
          if (mmType == "phrase")
            // per-field match_phrase (consecutive analyzed tokens)
            splitArrayPath(path(p0), schema) match {
              case (Nil, full) => MatchPhrase(full, q)
              case (arr, rest) => NestedMatchPhrase(arr, rest, q)
            }
          else if (mmType == "phrase_prefix")
            // per-field match_phrase_prefix (last token as prefix)
            splitArrayPath(path(p0), schema) match {
              case (Nil, full) => PhrasePrefix(full, q)
              case (arr, rest) => NestedPhrasePrefix(arr, rest, q)
            }
          else if (mmType == "bool_prefix") {
            val toks = q.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
            require(toks.nonEmpty, "multi_match has an empty query")
            boolPrefixLeg(p0, toks)
          }
          else {
            val terms = q.trim.split("\\s+").toSeq.filter(_.nonEmpty)
            require(terms.nonEmpty, "multi_match has an empty query")
            def join(tms: Seq[SearchQuery]): SearchQuery =
              if (tms.size == 1) tms.head
              else if (mmOp == "and") And(tms: _*) else Or(tms: _*)
            splitArrayPath(path(p0), schema) match {
              case (Nil, full) =>
                // same analysis as single-field match: multi-token query =
                // per-token matches joined by the operator (default OR)
                join(terms.map(TermMatch(full, _)))
              case (arr, rest) if !p0.endsWith(".keyword") =>
                // analyzed through array paths too, with the SAME nested
                // scoping as single-field match and the bool_prefix leg
                // above: operator=or needs SOME element per token;
                // operator=and binds every token to the SAME element
                // (NestedCompound), so one logical query hits the same
                // set from every entry point (r16 built a document-level
                // And here only for multi_match, ADVICE r16).
                // DOCUMENTED DEVIATION (SURVEY §2 ledger): real ES
                // flattens array text fields into ONE token stream with
                // position gaps, so operator=and matches tokens across
                // elements at document level; this engine's pinned
                // contract for analyzed array paths is same-element
                // binding — the nested-scoping semantic its whole match
                // family shares (DocEngineSpec pins it).
                terms.map(NestedTokenMatch(arr, rest, _)) match {
                  case Seq(one) => one
                  case many =>
                    if (mmOp == "and") NestedCompound(arr, And(many: _*))
                    else Or(many: _*)
                }
              case (arr, rest) => NestedTerm(arr, rest, q) // .keyword = exact
            }
          }
        }
        // hit set = the union of the legs for every type; the DisMax
        // node carries the max-vs-sum intent bm25 scoring needs
        if (parts.size == 1) parts.head else DisMax(parts, tb)
        }
      case JObject(List(("terms", JObject(List((p, JArray(vs))))))) =>
        val values = vs.map(asString)
        require(values.nonEmpty, s"terms on $p needs a non-empty value list")
        splitArrayPath(path(p), schema) match {
          case (Nil, full) => TermsIn(full, values)
          case (arr, rest) => NestedTermsIn(arr, rest, values)
        }
      case JObject(List(("terms", JObject(List((p, JObject(lookupSpec))))))) =>
        // terms LOOKUP form — see [[TermsLookup]]; resolved by SearchExec
        val m = lookupSpec.toMap
        val unknown = m.keySet -- Set("index", "id", "path")
        require(unknown.isEmpty,
          s"unsupported terms lookup key(s) on $p: ${unknown.mkString(", ")} (index/id/path; " +
            "routing is not implemented)")
        def k(key: String): String = asString(m.getOrElse(key,
          throw new IllegalArgumentException(s"terms lookup on $p needs $key")))
        TermsLookup(p, k("index"), k("id"), k("path"))
      case JObject(List(("exists", JObject(fields)))) =>
        val p = fields.collectFirst { case ("field", v) => path(asString(v)) }
          .getOrElse(throw new IllegalArgumentException("exists needs a \"field\" key"))
        splitArrayPath(p, schema) match {
          case (Nil, full) => ExistsField(full, isArray = false)
          case (arr, Nil) => ExistsField(arr, isArray = true) // the array itself: [] is missing in ES
          case (arr, rest) => NestedExistsField(arr, rest)
        }
      case JObject(List(("prefix", JObject(List((p, spec)))))) =>
        val v = spec match {
          case JObject(f) => f.toMap.get("value").map(asString)
            .getOrElse(throw new IllegalArgumentException("prefix needs value"))
          case other => asString(other)
        }
        splitArrayPath(path(p), schema) match {
          case (Nil, full) => Prefix(full, v)
          case (arr, rest) => NestedPrefix(arr, rest, v)
        }
      case JObject(List(("ids", JObject(fields)))) =>
        // ES `ids` — the engine's _id is the document objectId.
        val values = fields.toMap.get("values") match {
          case Some(JArray(vs)) if vs.nonEmpty => vs.map(asString)
          case _ => throw new IllegalArgumentException("ids needs a non-empty values array")
        }
        TermsIn(Seq("objectId"), values)
      case JObject(List(("terms_set", JObject(List((p, spec)))))) =>
        val m = Lex.fields(spec, "search", "terms_set")
        val unknown = m.keySet --
          Set("terms", "minimum_should_match", "minimum_should_match_field")
        require(unknown.isEmpty,
          s"unsupported terms_set key(s): ${unknown.mkString(", ")} " +
            "(terms + minimum_should_match or minimum_should_match_field; " +
            "minimum_should_match_script is not implemented)")
        val terms = m.get("terms") match {
          case Some(JArray(vs)) if vs.nonEmpty => vs.map(asString)
          case _ => throw new IllegalArgumentException("terms_set needs a non-empty terms array")
        }
        val msm: Either[Long, Seq[String]] =
          (m.get("minimum_should_match"), m.get("minimum_should_match_field")) match {
            case (Some(v), None) =>
              val n = asDouble(v, "terms_set minimum_should_match").toLong
              require(n >= 0, s"negative minimum_should_match: $n")
              Left(n)
            case (None, Some(JString(fp))) =>
              val mp = path(fp)
              splitArrayPath(mp, schema) match {
                case (Nil, full) => Right(full)
                case (arr, _) => throw new IllegalArgumentException(
                  s"minimum_should_match_field $fp crosses array ${arr.mkString(".")}")
              }
            case _ => throw new IllegalArgumentException(
              "terms_set needs exactly one of minimum_should_match / minimum_should_match_field")
          }
        splitArrayPath(path(p), schema) match {
          case (Nil, full) => TermsSet(Nil, full, terms, msm)
          case (arr, rest) =>
            require(rest.nonEmpty,
              s"terms_set on the array $p itself needs an element field path")
            TermsSet(arr, rest, terms, msm)
        }
      case JObject(List(("fuzzy", JObject(List((p, spec)))))) =>
        val (value, fz) = spec match {
          case JObject(f) =>
            val m = f.toMap
            val unknown = m.keySet -- Set("value", "fuzziness")
            require(unknown.isEmpty,
              s"unsupported fuzzy key(s): ${unknown.mkString(", ")} (value/fuzziness)")
            val v = m.get("value").map(asString)
              .getOrElse(throw new IllegalArgumentException("fuzzy needs value"))
            val fuzz = m.get("fuzziness") match {
              case None => 1
              case Some(JInt(i)) => i.toInt
              case Some(JString(s)) if s.forall(_.isDigit) => s.toInt
              case Some(other) => throw new IllegalArgumentException(
                s"only integer fuzziness is supported (AUTO is not): $other")
            }
            (v, fuzz)
          case v => (asString(v), 1)
        }
        require(fz >= 0, s"negative fuzziness: $fz")
        splitArrayPath(path(p), schema) match {
          case (Nil, full) => Fuzzy(full, value, fz)
          case (arr, rest) => NestedFuzzy(arr, rest, value, fz)
        }
      case JObject(List(("regexp", JObject(List((p, spec)))))) =>
        val pat = spec match {
          case JObject(f) => f.toMap.get("value").map(asString)
            .getOrElse(throw new IllegalArgumentException("regexp needs value"))
          case other => asString(other)
        }
        splitArrayPath(path(p), schema) match {
          case (Nil, full) => Regexp(full, pat)
          case (arr, rest) => NestedRegexp(arr, rest, pat)
        }
      case JObject(List(("query_string", JObject(fields)))) =>
        // The Kibana search-bar syntax, compiled by QueryString into the
        // SAME AST leaves as the JSON DSL (grammar subset documented
        // there; everything outside it is rejected loudly).
        val f = fields.toMap
        val unknown = f.keySet -- Set("query", "default_operator")
        require(unknown.isEmpty,
          s"unsupported query_string key(s): ${unknown.mkString(", ")} (query/default_operator)")
        val qs = f.get("query").map(asString)
          .getOrElse(throw new IllegalArgumentException("query_string needs a query"))
        val defOp = f.get("default_operator").map(asString).map(_.toLowerCase).getOrElse("or")
        require(defOp == "or" || defOp == "and", s"bad default_operator: $defOp")
        QueryString.parse(qs, schema, defaultAnd = defOp == "and")
      case JObject(List(("simple_query_string", JObject(fields)))) =>
        // The end-user search-box syntax (`+`/`|`/`-`/quotes/parens),
        // compiled by QueryString.parseSimple into the SAME AST leaves as
        // the JSON DSL (semantics documented there — Lucene left-assoc
        // operators, level-global negation, loud rejection of malformed
        // input where ES would leniently degrade).
        val f = fields.toMap
        val unknown = f.keySet -- Set("query", "fields", "default_operator")
        require(unknown.isEmpty,
          s"unsupported simple_query_string key(s): ${unknown.mkString(", ")} " +
            "(query/fields/default_operator; flags and per-field boosts are not implemented)")
        val qs = f.get("query").map(asString)
          .getOrElse(throw new IllegalArgumentException("simple_query_string needs a query"))
        val flds = f.get("fields") match {
          case Some(JArray(xs)) if xs.nonEmpty => xs.map {
            case JString(v) =>
              require(!v.contains('^'),
                s"per-field boosts are not implemented: $v")
              v
            case other => throw new IllegalArgumentException(s"bad fields entry: $other")
          }
          case _ => throw new IllegalArgumentException(
            "simple_query_string needs a non-empty fields array " +
              "(engine deviation: no index-level default field exists to fall back to)")
        }
        val defOp2 = f.get("default_operator").map(asString).map(_.toLowerCase).getOrElse("or")
        require(defOp2 == "or" || defOp2 == "and", s"bad default_operator: $defOp2")
        QueryString.parseSimple(qs, flds, schema, defaultAnd = defOp2 == "and")
      case JObject(List(("match_phrase_prefix", JObject(List((p, spec)))))) =>
        val v = spec match {
          case JObject(f) =>
            val m = f.toMap
            val unknown = m.keySet -- Set("query", "max_expansions")
            require(unknown.isEmpty,
              s"unsupported match_phrase_prefix key(s) on $p: ${unknown.mkString(", ")} " +
                "(query/max_expansions; slop on a phrase prefix is not implemented)")
            // max_expansions bounds ES's inverted-index prefix expansion
            // list — an index artifact; the scan match is exact-unbounded
            // (a SUPERSET of any truncated expansion), so the key is
            // accepted and documented rather than rejected
            m.get("query").map(asString)
              .getOrElse(throw new IllegalArgumentException("match_phrase_prefix needs query"))
          case other => asString(other)
        }
        require(v.trim.nonEmpty, s"match_phrase_prefix on $p has an empty query")
        splitArrayPath(path(p), schema) match {
          case (Nil, full) => PhrasePrefix(full, v)
          case (arr, rest) => NestedPhrasePrefix(arr, rest, v)
        }
      case JObject(List(("match_phrase", JObject(List((p, spec)))))) =>
        val (v, slop) = spec match {
          case JObject(f) =>
            val m = f.toMap
            val unknown = m.keySet -- Set("query", "slop")
            require(unknown.isEmpty,
              s"unsupported match_phrase key(s) on $p: ${unknown.mkString(", ")}")
            val q0 = m.get("query").map(asString)
              .getOrElse(throw new IllegalArgumentException("match_phrase needs query"))
            val sl = m.get("slop").map(asDouble(_, "match_phrase slop").toInt).getOrElse(0)
            require(sl >= 0, s"negative slop: $sl")
            (q0, sl)
          case other => (asString(other), 0)
        }
        if (slop == 0)
          splitArrayPath(path(p), schema) match {
            case (Nil, full) => MatchPhrase(full, v)
            case (arr, rest) => NestedMatchPhrase(arr, rest, v)
          }
        else {
          // sloppy phrase: Lucene's move-count metric over token
          // positions. TWO analyzed terms only (the common body; the
          // n-term move metric is a per-row DP — rejected loudly, not
          // approximated).
          val toks = v.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
          require(toks.size == 2,
            s"match_phrase slop supports exactly two analyzed terms, got ${toks.size} " +
              "(the n-term move-count metric is not implemented)")
          require(toks(0) != toks(1),
            "match_phrase slop with a repeated term is not implemented")
          splitArrayPath(path(p), schema) match {
            case (Nil, full) => PhraseSlop(full, toks(0), toks(1), slop)
            case (arr, rest) => NestedPhraseSlop(arr, rest, toks(0), toks(1), slop)
          }
        }
      case other => throw new IllegalArgumentException(s"unsupported ES query node: $other")
    }
  }

  /** Split a dotted field path at its first ArrayType component:
    * `(arrayPath, fieldWithinElement)`; `(Nil, path)` when no array. */
  /** Resolve a non-array field path to its leaf type — THE shared
    * resolver (parse-time docvalue validation, SearchExec's format
    * dispatch, IngestPipeline's field checks): one place to change path
    * semantics, one error behavior (loud throw on unknown fields). */
  private[docs] def leafType(path: Seq[String],
                             schema: org.apache.spark.sql.types.StructType,
                             what: String): org.apache.spark.sql.types.DataType =
    path.foldLeft(schema: org.apache.spark.sql.types.DataType) {
      case (st: org.apache.spark.sql.types.StructType, f) =>
        st.fields.find(_.name == f).getOrElse(throw new IllegalArgumentException(
          s"$what: no field ${path.mkString(".")}")).dataType
      case (other, f) =>
        throw new IllegalArgumentException(s"$what: $f inside non-struct $other")
    }

  private[docs] def splitArrayPath(p: Seq[String],
                                   schema: org.apache.spark.sql.types.StructType): (Seq[String], Seq[String]) = {
    import org.apache.spark.sql.types._
    var dt: DataType = schema
    p.zipWithIndex.foreach { case (f, i) =>
      dt match {
        case st: StructType => st.fields.find(_.name == f).map(_.dataType) match {
          case Some(ArrayType(elem, _)) => return (p.take(i + 1), p.drop(i + 1))
          case Some(other) => dt = other
          case None => return (Nil, p)
        }
        case _ => return (Nil, p)
      }
    }
    (Nil, p)
  }

  /** Compile the AST to a boolean Column over document column `doc`. */
  def compile(q: SearchQuery, doc: Column): Column = q match {
    case MatchAll => lit(true)
    case CrossFields(_, _, _, inner) => compile(inner, doc)
    case CombinedFields(_, _, inner) => compile(inner, doc)
    case tl: TermsLookup => throw new IllegalArgumentException(
      s"terms lookup on ${tl.field} reached compile unresolved — lookups are only " +
        "supported through SearchExec.search (it carries the corpus to fetch from)")
    case Wildcard(p, g) => SearchOps.wildcard(field(doc, p), g)
    case GeoDistance(p, la0, lo0, m, (latLo, latHi), lonBox) =>
      val la = field(doc, p :+ "lat")
      val lo = field(doc, p :+ "lon")
      // plain numeric box first (pushable; prunes before trigonometry),
      // haversine decides membership
      val box = la >= lit(latLo) && la <= lit(latHi) &&
        lonBox.map { case (ll, lh) => lo >= lit(ll) && lo <= lit(lh) }.getOrElse(lit(true))
      box && Geo.haversineMeters(la, lo, la0, lo0) <= lit(m)
    case GeoBoundingBox(p, top, left, bottom, right) =>
      val la = field(doc, p :+ "lat")
      val lo = field(doc, p :+ "lon")
      la <= lit(top) && la >= lit(bottom) && lo >= lit(left) && lo <= lit(right)
    case GeoShapePolygon(p, verts, disjoint) =>
      val la = field(doc, p :+ "lat")
      val lo = field(doc, p :+ "lon")
      // pushable bbox conjunct first (the d121 two-stage shape), then the
      // edge-parity test decides membership; disjoint is the complement
      // (null coords stay non-matches either way — ES's missing-field rule)
      val (latLo, latHi) = (verts.map(_._1).min, verts.map(_._1).max)
      val (lonLo, lonHi) = (verts.map(_._2).min, verts.map(_._2).max)
      val box = la >= lit(latLo) && la <= lit(latHi) &&
        lo >= lit(lonLo) && lo <= lit(lonHi)
      val inside = box && Geo.pointInPolygon(la, lo, verts)
      if (disjoint) la.isNotNull && lo.isNotNull && !inside else inside
    case Intervals(p, rule) =>
      def rc(r: IntervalRule): Column = r match {
        case IntervalMatch(ts, o, g) => SearchOps.intervalMatch(field(doc, p), ts, o, g)
        case IntervalAnyOf(rs) => rs.map(rc).reduce(_ || _)
      }
      rc(rule)
    case SpanFirst(p, term, end) => SearchOps.spanFirst(field(doc, p), term, end)
    case Range(p, lo, hi, li, hc) => SearchOps.range(field(doc, p), lo, hi, li, hc)
    case TsRange(p, lo, hi, li, hc) =>
      val v = field(doc, p)
      val conds = lo.map(t => if (li) v >= lit(t) else v > lit(t)).toSeq ++
        hi.map(t => if (hc) v <= lit(t) else v < lit(t))
      conds.reduce(_ && _)
    case NestedTerm(ap, f, v) =>
      SearchOps.nestedMatch(field(doc, ap), x => field(x, f) === lit(v))
    case NestedTokenMatch(ap, f, t) =>
      SearchOps.nestedMatch(field(doc, ap), x => SearchOps.tokenMatch(field(x, f), t))
    case NestedWildcard(ap, f, g) =>
      SearchOps.nestedMatch(field(doc, ap), x => SearchOps.wildcard(field(x, f), g))
    case NestedRange(ap, f, lo, hi, li, hc) =>
      SearchOps.nestedMatch(field(doc, ap), x => SearchOps.range(field(x, f), lo, hi, li, hc))
    case TermMatch(p, t) => SearchOps.tokenMatch(field(doc, p), t)
    case TokenPrefix(p, v) => SearchOps.tokenPrefix(field(doc, p), v)
    case NestedTokenPrefix(ap, f, v) =>
      SearchOps.nestedMatch(field(doc, ap), x => SearchOps.tokenPrefix(field(x, f), v))
    case TermsIn(p, vs) => SearchOps.termsIn(field(doc, p), vs)
    case TermsSet(ap, f, vs, msm) =>
      // |terms ∩ field values| >= per-doc minimum — pure array expressions
      // (no explode). A doc with a NULL msm field never matches — documented
      // engine behavior (ES raises a per-document runtime error there,
      // which a set-oriented engine can't; same deviation as
      // field_value_factor's required missing)
      val fieldVals =
        if (ap.isEmpty) array(field(doc, f))
        else transform(field(doc, ap), x => field(x, f))
      val matches = size(array_intersect(array_distinct(fieldVals),
        array(vs.map(lit): _*))).cast("long")
      val needed = msm.fold(n => lit(n), p => field(doc, p).cast("long"))
      matches >= needed
    case NestedTermsIn(ap, f, vs) =>
      SearchOps.nestedMatch(field(doc, ap), x => SearchOps.termsIn(field(x, f), vs))
    case ExistsField(p, isArr) => SearchOps.existsField(field(doc, p), isArr)
    case NestedExistsField(ap, f) =>
      SearchOps.nestedMatch(field(doc, ap), x => field(x, f).isNotNull)
    case Prefix(p, v) => SearchOps.prefix(field(doc, p), v)
    case NestedPrefix(ap, f, v) =>
      SearchOps.nestedMatch(field(doc, ap), x => SearchOps.prefix(field(x, f), v))
    case MatchPhrase(p, v) => SearchOps.phraseMatch(field(doc, p), v)
    case NestedMatchPhrase(ap, f, v) =>
      SearchOps.nestedMatch(field(doc, ap), x => SearchOps.phraseMatch(field(x, f), v))
    case PhrasePrefix(p, v) => SearchOps.phrasePrefixMatch(field(doc, p), v)
    case NestedPhrasePrefix(ap, f, v) =>
      SearchOps.nestedMatch(field(doc, ap), x => SearchOps.phrasePrefixMatch(field(x, f), v))
    case PhraseSlop(p, a, b, sl) => SearchOps.phraseSlop(field(doc, p), a, b, sl)
    case NestedPhraseSlop(ap, f, a, b, sl) =>
      SearchOps.nestedMatch(field(doc, ap), x => SearchOps.phraseSlop(field(x, f), a, b, sl))
    case Regexp(p, pat) => SearchOps.regexMatch(field(doc, p), pat)
    case NestedRegexp(ap, f, pat) =>
      SearchOps.nestedMatch(field(doc, ap), x => SearchOps.regexMatch(field(x, f), pat))
    case Fuzzy(p, v, fz) => SearchOps.fuzzyMatch(field(doc, p), v, fz)
    case NestedFuzzy(ap, f, v, fz) =>
      SearchOps.nestedMatch(field(doc, ap), x => SearchOps.fuzzyMatch(field(x, f), v, fz))
    case And(qs @ _*) => qs.map(compile(_, doc)).reduce(_ && _)
    case Or(qs @ _*) => qs.map(compile(_, doc)).reduce(_ || _)
    case DisMax(legs, _) => legs.map(compile(_, doc)).reduce(_ || _)
    case Not(sub) => !compile(sub, doc)
    case AtLeast(n, qs) => SearchOps.atLeast(n, qs.map(compile(_, doc)))
    case NestedCompound(ap, inner) =>
      SearchOps.nestedMatch(field(doc, ap), x => perElement(inner, ap, x, doc))
  }

  /** The array path a `nested` wrapper iterates: the (unique) Nested*
    * arrayPath in `q` that prefixes the wrapper's `path` value — ES allows
    * the path to extend INTO the element (`linkedPlanServices.linkedService`
    * names the struct inside each array element, README query 2/4). None
    * for struct-path wrappers / document-level inner queries. */
  private def wrapperArray(wrapperPath: Seq[String], q: SearchQuery): Option[Seq[String]] = {
    def aps(q: SearchQuery): Set[Seq[String]] = q match {
      case NestedTerm(ap, _, _) => Set(ap)
      case NestedTokenMatch(ap, _, _) => Set(ap)
      case NestedTokenPrefix(ap, _, _) => Set(ap)
      case NestedWildcard(ap, _, _) => Set(ap)
      case NestedRange(ap, _, _, _, _, _) => Set(ap)
      case NestedTermsIn(ap, _, _) => Set(ap)
      case NestedExistsField(ap, _) => Set(ap)
      case NestedPrefix(ap, _, _) => Set(ap)
      case NestedMatchPhrase(ap, _, _) => Set(ap)
      case NestedPhrasePrefix(ap, _, _) => Set(ap)
      case NestedPhraseSlop(ap, _, _, _, _) => Set(ap)
      case NestedRegexp(ap, _, _) => Set(ap)
      case NestedFuzzy(ap, _, _, _) => Set(ap)
      case NestedCompound(ap, _) => Set(ap)
      case And(qs @ _*) => qs.flatMap(aps).toSet
      case Or(qs @ _*) => qs.flatMap(aps).toSet
      case DisMax(legs, _) => legs.flatMap(aps).toSet
      case Not(sub) => aps(sub)
      case AtLeast(_, qs) => qs.flatMap(aps).toSet
      case _ => Set.empty
    }
    val within = aps(q).filter(ap => wrapperPath.startsWith(ap))
    require(within.size <= 1,
      s"nested wrapper over $wrapperPath spans multiple arrays: $within")
    within.headOption
  }

  /** Evaluate `q` against ONE element `x` of the array at `ap`: leaves on
    * the wrapper array test the element (ES nested semantics — each element
    * is its own document), any other leaf is element-independent and
    * compiles at document level. */
  private def perElement(q: SearchQuery, ap: Seq[String], x: Column, doc: Column): Column =
    q match {
      case NestedTerm(p, f, v) if p == ap => field(x, f) === lit(v)
      case NestedTokenMatch(p, f, t) if p == ap => SearchOps.tokenMatch(field(x, f), t)
      case NestedTokenPrefix(p, f, v) if p == ap => SearchOps.tokenPrefix(field(x, f), v)
      case NestedWildcard(p, f, g) if p == ap => SearchOps.wildcard(field(x, f), g)
      case NestedRange(p, f, lo, hi, li, hc) if p == ap =>
        SearchOps.range(field(x, f), lo, hi, li, hc)
      case NestedTermsIn(p, f, vs) if p == ap => SearchOps.termsIn(field(x, f), vs)
      case NestedExistsField(p, f) if p == ap => field(x, f).isNotNull
      case NestedPrefix(p, f, v) if p == ap => SearchOps.prefix(field(x, f), v)
      case NestedMatchPhrase(p, f, v) if p == ap => SearchOps.phraseMatch(field(x, f), v)
      case NestedPhrasePrefix(p, f, v) if p == ap =>
        SearchOps.phrasePrefixMatch(field(x, f), v)
      case NestedPhraseSlop(p, f, a, b0, sl) if p == ap =>
        SearchOps.phraseSlop(field(x, f), a, b0, sl)
      case NestedRegexp(p, f, pat) if p == ap => SearchOps.regexMatch(field(x, f), pat)
      case NestedFuzzy(p, f, v, fz) if p == ap => SearchOps.fuzzyMatch(field(x, f), v, fz)
      case And(qs @ _*) => qs.map(perElement(_, ap, x, doc)).reduce(_ && _)
      case Or(qs @ _*) => qs.map(perElement(_, ap, x, doc)).reduce(_ || _)
      case DisMax(legs, _) => legs.map(perElement(_, ap, x, doc)).reduce(_ || _)
      case Not(sub) => !perElement(sub, ap, x, doc)
      case AtLeast(n, qs) => SearchOps.atLeast(n, qs.map(perElement(_, ap, x, doc)))
      case other => compile(other, doc) // constant w.r.t. the element
    }

  /** Compile `q` at the grain of ONE array element `x` of a nested-AGG
    * context over the array at `ap` — the unit of aggregation after the
    * context switch is the element, so leaves bound to the context array
    * evaluate directly against it (each nested element is its own
    * document in ES). Any other leaf — a document-root field or a
    * different array — is rejected loudly: the parent document does not
    * exist at this grain (ES silently matches nothing for a parent-field
    * predicate inside a nested context; a reject is the honest rendering
    * of a body that cannot mean what it says). */
  private[docs] def compileInNested(q: SearchQuery, ap: Seq[String], x: Column): Column = {
    def bad(leaf: SearchQuery): Nothing = throw new IllegalArgumentException(
      s"filter inside the nested context ${ap.mkString(".")} references a field outside " +
        s"the context ($leaf) — ES nested documents carry no parent fields, so the " +
        "predicate could never match")
    q match {
      case MatchAll => lit(true)
      case NestedTerm(p, f, v) if p == ap => field(x, f) === lit(v)
      case NestedTokenMatch(p, f, t) if p == ap => SearchOps.tokenMatch(field(x, f), t)
      case NestedTokenPrefix(p, f, v) if p == ap => SearchOps.tokenPrefix(field(x, f), v)
      case NestedWildcard(p, f, g) if p == ap => SearchOps.wildcard(field(x, f), g)
      case NestedRange(p, f, lo, hi, li, hc) if p == ap =>
        SearchOps.range(field(x, f), lo, hi, li, hc)
      case NestedTermsIn(p, f, vs) if p == ap => SearchOps.termsIn(field(x, f), vs)
      case NestedExistsField(p, f) if p == ap => field(x, f).isNotNull
      case NestedPrefix(p, f, v) if p == ap => SearchOps.prefix(field(x, f), v)
      case NestedMatchPhrase(p, f, v) if p == ap => SearchOps.phraseMatch(field(x, f), v)
      case NestedPhrasePrefix(p, f, v) if p == ap =>
        SearchOps.phrasePrefixMatch(field(x, f), v)
      case NestedPhraseSlop(p, f, a, b0, sl) if p == ap =>
        SearchOps.phraseSlop(field(x, f), a, b0, sl)
      case NestedRegexp(p, f, pat) if p == ap => SearchOps.regexMatch(field(x, f), pat)
      case NestedFuzzy(p, f, v, fz) if p == ap => SearchOps.fuzzyMatch(field(x, f), v, fz)
      case NestedCompound(p, inner) if p == ap => compileInNested(inner, ap, x)
      case And(qs @ _*) => qs.map(compileInNested(_, ap, x)).reduce(_ && _)
      case Or(qs @ _*) => qs.map(compileInNested(_, ap, x)).reduce(_ || _)
      case DisMax(legs, _) => legs.map(compileInNested(_, ap, x)).reduce(_ || _)
      case Not(sub) => !compileInNested(sub, ap, x)
      case AtLeast(n, qs) => SearchOps.atLeast(n, qs.map(compileInNested(_, ap, x)))
      case other => bad(other)
    }
  }

  /** Compile one `inner_hits` request to an array Column of the matching
    * nested children (`README.md:84-93`). For a query over an array path
    * (any Nested* leaf on `wrapperPath`) the hits are the elements
    * satisfying the PER-ELEMENT predicate — composed inner queries
    * (`bool` inside the `nested` wrapper) evaluate each boolean leaf
    * against the element, matching ES, where every nested element is its
    * own Lucene document; leaves on other paths are element-independent
    * and compile at document level. For a struct-path `nested` wrapper
    * (the reference maps structs as `nested` too — README query 5 over
    * `planCostShares`) the hit is the struct itself when the predicate
    * holds, as a 0/1-element array. All pure expressions — no join, no
    * shuffle. */
  def innerHitCol(wrapperPath: Seq[String], inner: SearchQuery, doc: Column): Column =
    (inner, wrapperArray(wrapperPath, inner)) match {
      case (NestedCompound(ap, sub), _) =>
        SearchOps.innerHits(field(doc, ap), x => perElement(sub, ap, x, doc))
      case (_, Some(ap)) =>
        SearchOps.innerHits(field(doc, ap), x => perElement(inner, ap, x, doc))
      case (_, None) =>
        SearchOps.innerHits(array(field(doc, wrapperPath)), _ => compile(inner, doc))
    }
}
