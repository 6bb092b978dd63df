package graft.docs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** ES `aggs` bodies — the other half of a Kibana request (every dashboard
  * panel is a terms/histogram bucket agg with metric sub-aggs), compiled
  * to a single `groupBy().agg()`.
  *
  * Scope (loudly rejected beyond it): up to FOUR bucket levels — `terms`
  * (ordered/pruned top-N) or `histogram`/`date_histogram` (fixed or
  * calendar bins, zero-fillable) split by up to three more terms/histogram
  * levels (the Kibana "split series" / data-table "split rows ×3"
  * shapes; one composite-key aggregation regardless of depth) — OR one
  * single-level bucket agg of
  * any supported kind: `filters`, `range`, `date_range`, `missing`,
  * `adjacency_matrix`, `rare_terms`, `composite` (after-cursor
  * pagination), `significant_terms`, `global`; with metric sub-aggs at
  * the leaf level or a flat metric set, optionally inside ONE `nested`
  * context agg. Metrics: `avg`, `sum`, `min`, `max`, `value_count`,
  * `cardinality` (exact), `stats`, `percentiles` (exact), and
  * `weighted_avg`. Pipeline aggs (`cumulative_sum`, `derivative`,
  * `bucket_selector`, `bucket_sort`) and `top_hits` attach to a
  * single-level keyed bucket. Field paths may not cross an array UNLESS
  * the body switches into that array with a `nested` agg (exactly ES's
  * rule: a nested-mapped field is only aggregable from a nested
  * context).
  *
  * A `nested` agg over an array path changes the unit of aggregation to
  * the array ELEMENTS (each nested element is its own Lucene doc in ES —
  * `doc_count` counts elements, metric fields resolve inside the
  * element), compiled as `explode(array)` before the groupBy. A `nested`
  * agg over a struct path (the reference maps structs as `nested` too —
  * `IndexingListener.java:71-96`) is a no-op context switch, as in ES.
  *
  * Output is the relational rendering of ES's bucket list: one row per
  * bucket — `key`, `doc_count`, then one column per metric agg named by
  * its agg name. `avg`/`sum` are doubles (ES returns doubles for both);
  * `min`/`max` keep the field type; `value_count` is a long.
  *
  * Scale shape: one hash aggregation — partial (map-side) combine, one
  * shuffle on the bucket key, and for `terms` a TakeOrderedAndProject of
  * the top `size` buckets; a `nested` context adds a generate (explode)
  * before the partial agg, never a join. NOTE a semantic upgrade over
  * ES: ES terms aggs are APPROXIMATE (per-shard top `shard_size` then
  * merge — documented doc_count error); this engine's top-N is exact,
  * because the groupBy sees all rows for a key after the shuffle.
  */
object EsAggs {

  sealed trait Agg
  /** `avg` | `sum` | `min` | `max` | `value_count` | `cardinality` |
    * `stats` | `percentiles` over a field path (relative to the
    * aggregation context: document root, or the array element inside a
    * `nested` agg). `cardinality` is EXACT distinct count — a documented
    * upgrade over ES's HLL approximation (same note as the exact terms
    * top-N). `stats` renders as five columns (`<name>_count/_min/_max/
    * _avg/_sum`); `percentiles` as one `<name>_p<P>` column per percent —
    * EXACT linear-interpolated percentiles (ES's are TDigest-approximate;
    * same upgrade note), `percents` defaulting to ES's
    * [1, 5, 25, 50, 75, 95, 99]. */
  final case class Metric(kind: String, path: Seq[String],
                          percents: Seq[Double] = Nil,
                          weightPath: Seq[String] = Nil,
                          sigma: Double = 2.0,
                          filters: Seq[SearchQuery] = Nil,
                          variant: String = "",
                          script: Option[SearchQuery.ScriptExpr] = None) extends Agg
  /** ES `terms` bucket agg: top-`size` buckets. Default ES order =
    * doc_count desc, key asc; `order` overrides it with `_key`, `_count`,
    * or a metric sub-agg NAME (validated at parse — unknown targets are
    * rejected, not ignored). `minDocCount` drops buckets below the
    * threshold BEFORE the top-N. `showOther` (ES
    * `show_term_doc_count_error: true`) surfaces the response-level
    * accuracy fields of the ES terms agg as constant columns over the
    * bucket rows: `sum_other_doc_count` (docs in buckets beyond the
    * returned page — the count Kibana's "Other" toggle renders) and
    * `doc_count_error_upper_bound`, which is 0 here — this engine
    * aggregates exactly rather than merging per-shard top-`shard_size`
    * lists, the same documented upgrade as exact cardinality and exact
    * rare_terms. */
  /** `partitionOf` (ES `include: {partition, num_partitions}`): the
    * term-paging device for huge dictionaries — only terms hashing into
    * the requested partition return, so a client walks the whole
    * dictionary in num_partitions bounded pages. The hash is the
    * engine's md5 bridge (DOCUMENTED DEVIATION: ES partitions by its
    * murmur term hash; any fixed uniform hash satisfies the contract —
    * disjoint, exhaustive, stable pages). A |terms|-row bucket-table
    * filter before min_doc_count/top-N, exactly ES's ordering. */
  final case class Terms(path: Seq[String], size: Int,
                         order: Option[(String, Boolean)] = None,
                         minDocCount: Long = 1L,
                         include: Option[Either[String, Seq[String]]] = None,
                         exclude: Option[Either[String, Seq[String]]] = None,
                         missing: Option[Any] = None,
                         showOther: Boolean = false,
                         partitionOf: Option[(Int, Int)] = None) extends Agg
  /** ES `histogram` bucket agg: `floor(v / interval) * interval` bins.
    * `minDocCount = 0` ZERO-FILLS the empty bins between the observed
    * min and max keys (the Kibana gap-filling contract — a derivative
    * over a gappy series is wrong without it); `> 1` prunes. */
  final case class Histogram(path: Seq[String], interval: Long,
                             minDocCount: Long = 1L,
                             offset: Long = 0L,
                             extendedBounds: Option[(Long, Long)] = None,
                             hardBounds: Option[(Long, Long)] = None) extends Agg
  /** ES `date_histogram` with `calendar_interval` — variable-length
    * calendar buckets (month/quarter/year/week/day/hour/minute) via
    * `date_trunc`, keyed by the bucket's start DATE-or-TIMESTAMP
    * (rendered as the truncated value; ES returns its epoch millis).
    * `tz` (ES `time_zone`): bucket boundaries fall on the named zone's
    * calendar — truncate the LOCAL wall time, key by the bucket start
    * converted back to a UTC instant (ES's epoch-millis key). tz keys
    * always render as TIMESTAMPs (a zone-local day start is not a UTC
    * date). Zero-fill/extended_bounds with a tz are rejected at parse:
    * stepping UTC instants by fixed calendar intervals is wrong across
    * DST transitions. */
  final case class DateHistogram(path: Seq[String], interval: String,
                                 minDocCount: Long = 1L,
                                 extendedBounds: Option[(String, String)] = None,
                                 tz: Option[String] = None) extends Agg
  /** ES `auto_date_histogram` — Kibana Lens's default time axis: the
    * engine picks the coarsest-necessary calendar interval so the bucket
    * count stays at or under `targetBuckets` (ES default 10). Resolution
    * is ES's own two-phase shape: a 1-row min/max aggregate (the
    * coordinator planning pass), then the interval ladder is walked
    * smallest-first — minute, hour, day, week, month, quarter, year —
    * and the first unit whose span fits the target wins; the body then
    * runs as a plain zero-filled `date_histogram` (contiguous axis, the
    * Lens contract) with the chosen unit rendered as a constant
    * `interval` column. Deviation from ES, documented: ES's ladder
    * interleaves fixed multiples (5m/10m/30m/3h/12h/7d/3M) and multi-year
    * rungs; this engine uses exactly its calendar units (`week` is ISO
    * weeks, not epoch-anchored 7-day bins) and rejects spans that would
    * need multi-year buckets loudly. */
  final case class AutoDateHistogram(path: Seq[String], targetBuckets: Int) extends Agg
  /** ES `date_histogram` with `fixed_interval` (e.g. "30m", "12h", "7d"):
    * epoch-anchored fixed-width bins — pure integer floor arithmetic over
    * epoch micros, keys rendered as TIMESTAMPs. Calendar intervals are
    * [[DateHistogram]]; `min_doc_count: 0` zero-fill is implemented for
    * calendar intervals only (rejected loudly here). */
  final case class FixedDateHistogram(path: Seq[String], micros: Long,
                                      minDocCount: Long = 1L) extends Agg
  /** ES `filters` bucket agg — one NAMED bucket per predicate (a document
    * lands in EVERY bucket it matches). Compiled as ONE conditional
    * aggregation (`sum(case when pred)` per bucket) — zero-doc buckets
    * are present with doc_count 0, exactly ES's keyed response.
    * `otherKey` (ES `other_bucket`/`other_bucket_key`): one extra bucket
    * of the documents matching NO named filter, same conditional shape. */
  final case class FiltersAgg(buckets: Seq[(String, SearchQuery)],
                              otherKey: Option[String] = None) extends Agg
  /** ES `range` bucket agg — `from` INCLUSIVE, `to` EXCLUSIVE (the ES
    * contract), open ends allowed; buckets keyed by an optional custom
    * `key` (the Kibana tier-label form) or the default `from-to` with `*`
    * for an open end, in body order. Same one-pass
    * conditional-aggregation shape as `filters`. */
  final case class RangeAgg(path: Seq[String],
                            ranges: Seq[(Option[String], Option[Long], Option[Long])]) extends Agg
  /** ES `missing` bucket agg — the ONE bucket of documents carrying no
    * value for the field (null scalar; null OR empty array — ES indexes
    * nothing for an empty array, the same rule as `exists`). Same
    * conditional-aggregation shape as `filters`. */
  final case class MissingAgg(path: Seq[String], isArray: Boolean) extends Agg
  /** ES `adjacency_matrix` — named filters plus their pairwise
    * intersections (`a&b`), one conditional aggregation; empty
    * intersection buckets are dropped, as in ES. */
  final case class AdjacencyMatrix(buckets: Seq[(String, SearchQuery)]) extends Agg
  /** ES `rare_terms` — the LONG TAIL: buckets with `doc_count <=
    * max_doc_count`, ordered count-asc (the exact inverse of terms
    * top-N; ES's is approximate via CuckooFilter, ours is exact — the
    * same documented upgrade). */
  final case class RareTerms(path: Seq[String], maxDocCount: Long) extends Agg
  /** ES `geo_distance` agg — concentric distance rings around an origin:
    * the [[RangeAgg]] shape over a haversine distance column
    * ([[Geo.haversineMeters]]). Bounds are meters, from-inclusive /
    * to-exclusive like range. One conditional aggregation, no shuffle. */
  final case class GeoDistanceAgg(path: Seq[String], lat: Double, lon: Double,
                                  ranges: Seq[(Option[String], Option[Double], Option[Double])])
    extends Agg
  /** ES `geotile_grid` — web-mercator map tiles as buckets (every Kibana
    * map panel): key = `"z/x/y"` ([[Geo.tileKey]]), top-`size` by
    * doc_count desc then key asc (the terms ordering contract; ES's own
    * geotile ordering is doc_count desc). One hash aggregation on the
    * tile key. */
  final case class GeotileGrid(path: Seq[String], precision: Int, size: Int) extends Agg
  /** ES `geohash_grid` — geohash cells as buckets (the other Kibana map
    * grid): key = the base-32 geohash string ([[Geo.geohash]] — pure
    * integer bit arithmetic, no trig), top-`size` by doc_count desc then
    * key asc. One hash aggregation on the cell id. */
  final case class GeohashGrid(path: Seq[String], precision: Int, size: Int) extends Agg
  /** ES `geohex_grid` — hexagonal map cells as buckets. DOCUMENTED
    * DEVIATION: axial hex binning on the lon/lat plane, not H3 (see
    * [[Geo.hexKey]]); key = `"res/q/r"`, top-`size` by doc_count desc
    * then key asc. One hash aggregation on the cell id. */
  final case class GeohexGrid(path: Seq[String], precision: Int, size: Int) extends Agg
  /** `categorize_text`-style log-pattern bucketing — a deterministic,
    * oracle-portable approximation of ES's ML categorizer (DOCUMENTED
    * DEVIATION: ES clusters by token-weight drift; this engine buckets
    * by the token SKELETON — hex runs then digit runs masked to
    * placeholders — which is the reproducible 80% of log triage).
    * Top-`size` templates by doc_count, one hash aggregation. */
  final case class CategorizeText(path: Seq[String], size: Int) extends Agg
  /** ES `ip_range` bucket agg — the [[RangeAgg]] shape over an IPv4
    * field: bounds are dotted-quad strings, compared as the unsigned
    * 32-bit integer (from-inclusive / to-exclusive, open ends allowed).
    * Same one-pass conditional-aggregation shape as `range`. */
  final case class IpRangeAgg(path: Seq[String],
                              ranges: Seq[(Option[String], Option[String], Option[String])]) extends Agg
  /** ES `ip_prefix` bucket agg — CIDR network buckets: key = the
    * network address of each document's IPv4 under a fixed
    * `prefix_length`, rendered `a.b.c.d/len`, ordered key-asc (the ES
    * response order). One hash aggregation on the masked integer. */
  final case class IpPrefixAgg(path: Seq[String], prefixLen: Int) extends Agg
  /** ES `variable_width_histogram` — `buckets` dynamically-sized bins.
    * DOCUMENTED DEVIATION: ES clusters with an online nearest-centroid
    * sketch (shard-order dependent, not reproducible); this engine bins
    * by exact equal-frequency rank split over the VALUE distribution —
    * value grain, so equal values never split across buckets (bucket of
    * value v = floor(rank_before(v) · buckets / total), capped at
    * buckets-1). Output matches ES's response fields: `key` (bucket
    * centroid = mean), `min`, `max`, `doc_count`. Shape: one value-grain
    * hash aggregation, then |distinct values|-row windows — the corpus
    * never sorts globally. */
  final case class VariableWidthHistogram(path: Seq[String], targetBuckets: Int) extends Agg
  /** ES `frequent_item_sets` — market-basket mining over one
    * array-crossing field: itemsets of size 1 and 2 (ES's
    * `minimum_set_size`/multi-field forms are rejected loudly) with
    * `support = docs containing the whole set / total docs >=
    * minimum_support`, top-`size` by doc_count desc then key asc. Items
    * are the DISTINCT element values per document (doc frequency, the ES
    * transaction model). Shape: one explode at (doc, item) grain; pairs
    * come from an equi-join of that frame on the document key — fanout
    * bounded by per-document distinct-item count (array-size bounded),
    * never O(corpus²). */
  final case class FrequentItemSets(path: Seq[String], minSupport: Double,
                                    size: Int) extends Agg
  /** ES `geo_line` — the track-building agg: points ordered by a sort
    * field, truncated to `size`, rendered as one row with a `line`
    * array of `"lat,lon"` strings plus `complete` (ES's truncation
    * flag). Shape: a bounded `orderBy().limit(size)`
    * (TakeOrderedAndProject — per-partition heaps, no global sort) and
    * ONE size-bounded collect_list; the total count for `complete` is a
    * 1-row aggregate crossJoined back. */
  final case class GeoLine(path: Seq[String], sortPath: Seq[String], size: Int) extends Agg
  /** ES `random_sampler` — probability-p uniform document sample whose
    * sub-agg values are scaled back to corpus estimates (doc_count and
    * sums × 1/p; avg/min/max unscaled — the ES contract). The draw is
    * the engine's deterministic hash_field device (same contract as
    * `sampler`): a document is sampled iff its 60-bit md5-prefix hash <
    * p·2^60 — rerunnable, uniform, and SQL-replayable, where ES's seeded
    * per-shard draw is not. `doc_count` and scaled `value_count` round
    * half-up to longs; scaled `sum` stays double. */
  final case class RandomSample(hashField: Seq[String], probability: Double) extends Agg
  /** ES `date_range` bucket agg — from-inclusive/to-exclusive over ISO
    * `yyyy-MM-dd` bounds (midnight semantics), open ends allowed. */
  final case class DateRangeAgg(path: Seq[String],
                                ranges: Seq[(Option[String], Option[String], Option[String])]) extends Agg
  /** ES `multi_terms` — a terms agg over a COMPOSITE key (the newer
    * Kibana "break down by multiple fields" panel): top-`size` buckets by
    * doc_count desc, key rendered as the `|`-joined field values (ES
    * returns a key array; one string column keeps the single-level
    * machinery and the oracle trivial). */
  final case class MultiTerms(paths: Seq[Seq[String]], size: Int) extends Agg
  /** One `composite` source: output column name, field, direction, and the
    * bucketing kind — `terms` (raw value), `histogram` (fixed integer
    * bins), or `date_histogram` (calendar bins, day-or-coarser: the
    * after-cursor value for a date source is an ISO `yyyy-MM-dd` string,
    * which has no sub-day form). The standard ES bulk-export body is a
    * date_histogram first source walked page by page with `after`. */
  /** `missingBucket`: ES `missing_bucket: true` — documents with a null
    * value for this source land in a NULL-keyed bucket, ordered first on
    * asc / last on desc (exactly Spark's default null ordering). */
  final case class CompositeSource(name: String, path: Seq[String], asc: Boolean,
                                   kind: String = "terms",
                                   interval: Long = 0L, unit: String = "",
                                   missingBucket: Boolean = false)
  /** ES `composite` agg — THE scalable bucket pagination: all buckets in
    * deterministic key order, `size` per page, resumed with `after` (the
    * last key tuple of the previous page). Unlike `terms` there is no
    * top-N and no approximation pressure: each page is one hash
    * aggregation + a lexicographic key filter + a bounded top-`size` —
    * the only ES agg that can walk 10^9 buckets. */
  final case class CompositeAgg(sources: Seq[CompositeSource], size: Int,
                                after: Option[Seq[Any]]) extends Agg
  /** ES `global` bucket agg — ESCAPES the query context: its sub-aggs
    * aggregate the WHOLE corpus even when the body carries a query (the
    * Kibana "percent of total" device). One unfiltered global agg. */
  case object GlobalAgg extends Agg
  /** ES `significant_terms` — terms of `field` over-represented in the
    * query's hit set (foreground) vs the background, scored by JLH:
    * `(fgPct - bgPct) * (fgPct / bgPct)`. Background = the WHOLE corpus,
    * or the subset matching `background_filter` when present (the
    * Discover compare-to-segment body); the foreground is then the hit
    * set WITHIN that background (fg ⊆ bg — the only shape under which
    * JLH percentages are meaningful, and ES's documented usage).
    *
    * `heuristic` selects the scoring function over the same 2×2
    * contingency table — all computed from the SAME one-shuffle bucket
    * table, differing only in the |terms|-row score expression:
    *  - "jlh" (ES default): `(fgPct - bgPct) * (fgPct / bgPct)`.
    *  - "chi_square": ES's NXY χ² with the default include_negatives /
    *    background_is_superset (both true): the superset counts are made
    *    disjoint (`F−f`, `N−S`) and the classic
    *    `all·(n11·n00 − n01·n10)² / ((n11+n01)(n11+n10)(n01+n00)(n10+n00))`
    *    runs in doubles (long products would overflow at corpus scale).
    *  - "mutual_information": Σ p(x,y)·log2(p(x,y)/(p(x)p(y))) over the
    *    four cells (empty cells contribute 0), same disjoint adjustment;
    *    log2 rides libm ln — the d120-documented ~1e-15 tolerance. */
  final case class SignificantTerms(path: Seq[String], size: Int,
                                    bg: Option[SearchQuery] = None,
                                    heuristic: String = "jlh") extends Agg
  /** ES `top_hits` sub-agg — the top `size` DOCUMENTS of each bucket by an
    * explicit sort, rendered as one row per (bucket, hit). Determinism:
    * the explicit sort is tie-broken by every `_source` column ascending
    * (callers include a unique field, e.g. objectId). */
  final case class TopHits(size: Int, sorts: Seq[(Seq[String], Boolean)],
                           source: Seq[Seq[String]])

  /** Pipeline aggs — second-pass computations over the COMPLETED bucket
    * list (|buckets| rows, never the corpus), applied in declaration
    * order. `buckets_path` targets `_count` or a single-column metric /
    * earlier-pipeline name of the same level. */
  sealed trait Pipeline
  /** `cumulative_sum` in bucket-key order (histogram parents only, ES's
    * own restriction — terms order is not a time axis). */
  final case class CumulativeSum(name: String, target: String) extends Pipeline
  /** `derivative`: bucket value minus the previous bucket's, null in the
    * first bucket (ES omits it there). Histogram parents only. */
  final case class Derivative(name: String, target: String) extends Pipeline
  /** `bucket_selector` — keep buckets where `<expr> <cmp> <expr>` holds,
    * both sides full bucket-script arithmetic over `params.<p>` refs
    * ([[SearchQuery.parseParamsScript]] — "keep buckets whose error
    * ratio tops 5%"). `targets` maps param name → resolved metric
    * column. */
  final case class BucketSelector(targets: Map[String, String],
                                  left: SearchQuery.ScriptExpr,
                                  op: String,
                                  right: SearchQuery.ScriptExpr) extends Pipeline
  /** `bucket_sort`: reorder + `from`/`size`-truncate the bucket list. */
  final case class BucketSort(sorts: Seq[(String, Boolean)], from: Int,
                              size: Option[Int]) extends Pipeline
  /** `moving_fn` with the Kibana smoothing scripts. `unweightedAvg` /
    * `max` / `min` / `sum` are trailing-window reductions over exact
    * integers; the MODEL functions follow ES's MovingFunctions skip-NaN
    * fold over the window values, oldest → newest, excluding the current
    * bucket (shift=0):
    *  - `ewma(values, alpha)`: `s ← α·v + (1-α)·s`, seeded by the first
    *    value — unrolled at plan time over the window's lag columns
    *    (window is a parse-time constant), so the recurrence is a fixed
    *    IEEE op sequence the oracle reproduces exactly.
    *  - `linearWeightedAvg(values)`: weight 1 for the oldest non-null
    *    value rising by 1 per value — `Σ wᵢvᵢ / Σ wᵢ`, where wᵢ is the
    *    COUNT of non-null values at-or-before lag i (ES increments the
    *    weight only on non-NaN values).
    *  - `holt(values, alpha, beta)`: classic Holt linear smoothing with
    *    the first value seeding the level and b₀ = 0 — `s ← α·v +
    *    (1-α)(s+b)`, `b ← β(s−s_prev) + (1-β)·b`, returning the final
    *    LEVEL s (documented reading of ES's smoothed-series contract).
    * All three are per-bucket window expressions over the |buckets|-row
    * table — no corpus work. */
  final case class MovingAvg(name: String, target: String, window: Int,
                             fn: String = "avg",
                             alpha: Double = 0.3,
                             beta: Double = 0.1) extends Pipeline
  /** `serial_diff`: value minus the value `lag` buckets earlier. */
  final case class SerialDiff(name: String, target: String, lag: Int) extends Pipeline
  /** `bucket_script` — a new per-bucket column from FULL arithmetic over
    * `params.<p>` refs (+ − * / parens, unary minus, numeric literals,
    * Math.log/sqrt/abs — [[SearchQuery.parseParamsScript]]): the
    * TSVB/Lens "formula" shape (`(params.a - params.b) / params.c * 100`
    * and friends), not just one binary op. Division rides `try_divide`
    * (null on zero — same documented contract as script_score). */
  final case class BucketScript(name: String, targets: Map[String, String],
                                expr: SearchQuery.ScriptExpr) extends Pipeline
  /** ES `normalize` pipeline agg — Lens's "percent of total" / "0-1
    * rescale" formula: each bucket's value normalized against the whole
    * bucket list. Methods: `percent_of_sum` (value / Σ — ES returns the
    * FRACTION, not ×100) and `rescale_0_1` ((v-min)/(max-min)); the
    * remaining ES methods (`softmax`, `z-score`, `mean`) ride libm exp
    * or interact with empty buckets ambiguously and are rejected loudly
    * at parse. One |buckets|-row window, exact integer numerators, a
    * single double division — oracle-bit-identical. */
  final case class Normalize(name: String, target: String,
                             method: String) extends Pipeline
  /** ES `cumulative_cardinality` — "total distinct users to date", the
    * retention-dashboard primitive. NOT derivable from per-bucket
    * cardinalities (unions don't sum); computed exactly from the corpus
    * as first-occurrence counts: group the field by value → min bucket
    * key → per-bucket new-value counts → running sum over the bucket
    * table (ES merges HLL sketches cumulatively — approximate; ours is
    * exact, the same documented upgrade as `cardinality`). Costs one
    * extra corpus aggregation at (value) grain + a |buckets|-row
    * broadcast join; `buckets_path` must name a `cardinality` metric of
    * the same level, and the parent histogram must not prune buckets
    * (min_doc_count > 1 would silently drop first-occurrence mass). */
  final case class CumulativeCardinality(name: String, target: String) extends Pipeline
  /** ES `rate` under a calendar date_histogram — "per-day rate" of a
    * month/quarter/week bucket (the Lens normalize-by-unit toggle).
    * Value = target / days-in-bucket, CALENDAR-aware (a 31-day January
    * divides by 31, a leap February by 29 — `datediff` of the bucket
    * step). The bare ES body (`{"rate": {"unit": "day"}}`) rates the
    * doc_count; `buckets_path` (engine extension, documented) rates an
    * existing metric instead — ES's `field`/`mode` forms re-aggregate
    * inside the metric and are rejected loudly. Only `unit: day` under a
    * day-or-coarser calendar parent is implemented. */
  final case class RateAgg(name: String, target: String) extends Pipeline
  /** ES `moving_percentiles` — trailing-window percentiles along the
    * histogram axis (the anomaly-baseline band). EXACT
    * linear-interpolated percentiles over the last `window` buckets
    * EXCLUDING the current one (ES shift-0 semantics, same frame as
    * `moving_fn`); ES reads the percents off the targeted TDigest
    * percentiles agg — this engine takes an explicit `percents` key
    * (documented deviation; default [50]) and targets any single-column
    * value. */
  final case class MovingPercentiles(name: String, target: String,
                                     window: Int, percents: Seq[Double]) extends Pipeline

  /** SIBLING pipeline aggs (`avg_bucket`/`sum_bucket`/`min_bucket`/
    * `max_bucket`/`stats_bucket`/`percentiles_bucket`) — in ES they sit
    * BESIDE the multi-bucket agg and emit one value (or value set) over
    * its whole bucket list; the relational rendering appends those as
    * constant columns on every bucket row. `stats_bucket` fans out to
    * `<name>_count/_min/_max/_avg/_sum`; `percentiles_bucket` to one
    * `<name>_p<P>` column per percent — EXACT linear-interpolated
    * percentiles over the bucket list (ES's are TDigest-approximate,
    * the same documented exactness upgrade as the `percentiles` metric),
    * `percents` defaulting to ES's [1, 5, 25, 50, 75, 95, 99].
    *
    * Two histogram-parent-only siblings carry extra state:
    *  - `change_point` — ES's step-change detector, rendered as
    *    `<name>_key` (first bucket of the right segment) + `<name>_score`.
    *    DOCUMENTED DEVIATION: ES runs an ML suite of change tests; this
    *    engine computes the deterministic CUSUM-style split statistic
    *    |mean_right − mean_left| · sqrt(nl·nr/(nl+nr)) at every split and
    *    takes the argmax (smallest key on ties) — the reproducible core
    *    of step-change detection. All |buckets|-row windows.
    *  - `bucket_correlation` (`count_correlation` function) — Pearson r
    *    between the bucket value sequence (key order) and the body's
    *    `indicator.expectations` curve, as one window aggregate; `curve`
    *    holds the expectations. A curve shorter/longer than the bucket
    *    list correlates over the index intersection (ES errors instead —
    *    documented deviation). */
  final case class Sibling(name: String, kind: String, target: String,
                           percents: Seq[Double] = Nil,
                           curve: Seq[Double] = Nil,
                           sigma: Double = 2.0)

  /** A bucket level: the bucket agg, its metric sub-aggs, and at most one
    * sub-bucket level (Kibana "split series" — terms × terms/histogram).
    * Depth is capped at four bucket levels; a level with a sub-bucket
    * carries no metrics of its own (parse rejects mixing). Pipelines and
    * `top_hits` attach only to a single-level keyed bucket (validated at
    * parse); a level with `top_hits` carries nothing else. */
  /** ES `reverse_nested` (empty-path form) — inside a `nested` context,
    * step back to PARENT-document grain: its doc_count is the number of
    * distinct parent docs with >= 1 element in the bucket, and its metric
    * sub-aggs aggregate each such parent ONCE (fields resolve against the
    * document root, outside the nested context). Compiled as a two-phase
    * aggregation: one corpus-sized hash agg at (bucket key, parent id)
    * grain — parent fields ride as first() (constant per parent) — then a
    * bucket-key-grain agg derives the element doc_count (sum), the parent
    * doc_count (count) and the parent metrics from the DEDUPED frame, so
    * any metric kind (incl. exact percentiles) works at parent grain. */
  final case class ReverseNested(name: String, metrics: Seq[(String, Metric)])
  /** A `nested` agg INSIDE a document-grain bucket split — the Kibana
    * "metric on a child field with a split" body (terms on a doc field,
    * metrics over array elements). `metrics` paths are element-relative;
    * `name` renders the nested doc_count column (elements, while the
    * bucket's own doc_count stays parent docs — the ES contract).
    * Restricted to per-document-combinable metric kinds so execution
    * needs NO explode: each doc folds its elements with higher-order
    * functions and the bucket aggregation combines the partials in the
    * same single hash aggregation as the split itself. */
  final case class NestedMetrics(name: String, arrayPath: Seq[String],
                                 metrics: Seq[(String, Metric)])

  /** ES `significant_text` under a `sampler` — Discover's "interesting
    * words" panel: analyzed tokens over-represented in (a sample of) the
    * query's hit set vs the whole corpus, JLH-scored like
    * [[SignificantTerms]] but at TOKEN grain with per-document term
    * DEDUP (doc frequency, not term frequency).
    *
    * The sampler is this engine's deterministic stand-in for ES's
    * score-ordered shard sample (which tie-breaks on internal Lucene doc
    * ids — not reproducible relationally): the `shard_size` hits with the
    * smallest 60-bit hash (first 15 md5 hex digits) of a caller-named
    * unique `hash_field` — an engine-extension key, required, making the
    * sample a rerunnable uniform draw. significant_text WITHOUT a sampler
    * parent is rejected loudly (unbounded foreground analysis). */
  final case class SignificantText(path: Seq[String], topN: Int,
                                   sampleN: Int, hashField: Seq[String]) extends Agg

  /** ES `diversified_sampler` — the sampler with a DIVERSITY cap: at most
    * `maxPer` sample members share one value of `path` (de-biasing a
    * corpus dominated by one source before expensive sub-aggs). Same
    * deterministic hash_field draw as [[SignificantText]]'s sampler.
    * Shape: one WindowGroupLimit rank per field value (bounded heap
    * before the shuffle), then a TakeOrderedAndProject of `shardSize`
    * rows — the corpus never sorts globally. */
  final case class DiversifiedSample(hashField: Seq[String], path: Seq[String],
                                     shardSize: Int, maxPer: Int) extends Agg

  final case class Buckets(bucket: Agg, metrics: Seq[(String, Metric)],
                           sub: Option[Buckets],
                           pipelines: Seq[Pipeline] = Nil,
                           topHits: Option[TopHits] = None,
                           siblings: Seq[Sibling] = Nil,
                           reverse: Option[ReverseNested] = None,
                           nested: Option[NestedMetrics] = None)

  final case class Request(query: SearchQuery,
                           nestedPath: Option[Seq[String]],
                           tree: Either[Seq[(String, Metric)], Buckets]) {
    /** Back-compat views used by single-level callers/tests. */
    def bucket: Option[Agg] = tree.toOption.map(_.bucket)
    def metrics: Seq[(String, Metric)] = tree.fold(identity, _.metrics)
  }

  private val metricKinds = Set("avg", "sum", "min", "max", "value_count",
    "cardinality", "stats", "percentiles", "percentile_ranks", "weighted_avg",
    "extended_stats", "median_absolute_deviation", "boxplot", "string_stats",
    "t_test", "matrix_stats", "geo_bounds", "geo_centroid")

  /** Metric kinds that render MORE than one output column — not a valid
    * terms-order / buckets_path / sibling target. */
  private val multiColumnKinds =
    Set("stats", "percentiles", "percentile_ranks", "extended_stats", "boxplot",
      "string_stats", "t_test", "matrix_stats", "geo_bounds", "geo_centroid")

  /** ES default percentiles (the TDigest defaults; ours are exact). */
  private val defaultPercents = Seq(1.0, 5.0, 25.0, 50.0, 75.0, 95.0, 99.0)

  private val calendarIntervals =
    Set("minute", "hour", "day", "week", "month", "quarter", "year")

  private val bucketKinds =
    Set("terms", "histogram", "date_histogram", "auto_date_histogram",
      "filter", "filters", "range", "missing", "composite", "significant_terms",
      "significant_text", "global", "adjacency_matrix", "rare_terms",
      "date_range", "multi_terms", "geo_distance", "geotile_grid",
      "geohash_grid", "geohex_grid", "categorize_text", "ip_range", "ip_prefix",
      "variable_width_histogram", "frequent_item_sets", "geo_line")

  /** Kinds whose `size` (or `shard_size`) counts buckets or sample
    * members: 0 asks for nothing, so it is rejected with negatives. */
  private val BucketSizeKinds =
    Set("terms", "multi_terms", "significant_terms", "significant_text", "composite",
      "geotile_grid", "geohash_grid", "geohex_grid", "categorize_text",
      "frequent_item_sets", "geo_line", "sampler", "diversified_sampler")

  private val pipelineKinds =
    Set("cumulative_sum", "derivative", "bucket_selector", "bucket_sort",
      "moving_fn", "serial_diff", "bucket_script", "normalize",
      "cumulative_cardinality", "rate", "moving_percentiles")

  private val siblingKinds =
    Set("avg_bucket", "sum_bucket", "min_bucket", "max_bucket",
      "stats_bucket", "extended_stats_bucket", "percentiles_bucket",
      "change_point", "bucket_correlation", "bucket_count_ks_test")

  /** Column names a sibling agg renders to (stats/percentiles fan out). */
  private def siblingNames(sb: Sibling): Seq[String] = sb.kind match {
    case "stats_bucket" =>
      Seq("count", "min", "max", "avg", "sum").map(s => s"${sb.name}_$s")
    case "extended_stats_bucket" =>
      Seq("count", "min", "max", "avg", "sum", "sum_of_squares", "variance",
        "std_deviation", "std_deviation_bounds_upper", "std_deviation_bounds_lower")
        .map(s => s"${sb.name}_$s")
    case "percentiles_bucket" => sb.percents.map(p => s"${sb.name}_p${fmtPercent(p)}")
    case "change_point" => Seq(s"${sb.name}_key", s"${sb.name}_score")
    case "bucket_count_ks_test" =>
      Seq(s"${sb.name}_d", s"${sb.name}_d_plus", s"${sb.name}_d_minus")
    case _ => Seq(sb.name)
  }

  /** Column names a metric renders to (`stats`/`percentiles` fan out). */
  private def metricNames(name: String, m: Metric): Seq[String] = m.kind match {
    case "stats" => Seq("count", "min", "max", "avg", "sum").map(s => s"${name}_$s")
    case "extended_stats" =>
      Seq("count", "min", "max", "avg", "sum", "sum_of_squares", "variance",
        "std_deviation", "std_deviation_bounds_upper", "std_deviation_bounds_lower")
        .map(s => s"${name}_$s")
    case "boxplot" =>
      Seq("min", "q1", "q2", "q3", "max").map(s => s"${name}_$s")
    case "percentiles" => m.percents.map(p => s"${name}_p${fmtPercent(p)}")
    case "percentile_ranks" => m.percents.map(v => s"${name}_r${fmtPercent(v)}")
    case "string_stats" =>
      Seq("count", "min_length", "max_length", "avg_length", "entropy")
        .map(s => s"${name}_$s")
    case "t_test" => Seq(s"${name}_t", s"${name}_df")
    case "geo_bounds" =>
      Seq("top_left_lat", "top_left_lon", "bottom_right_lat", "bottom_right_lon")
        .map(s => s"${name}_$s")
    case "geo_centroid" => Seq("lat", "lon", "count").map(s => s"${name}_$s")
    case _ => Seq(name)
  }

  private def fmtPercent(p: Double): String =
    if (p == p.floor) p.toLong.toString else p.toString.replace('.', '_')

  def parse(body: String, schema: StructType): Request = {
    import org.json4s._
    val root = Lex.bodyObject("aggs", body)
    // `size` is allowed (and ignored): aggs bodies set `"size": 0` to
    // suppress hits; this entry point returns only the aggregation rows.
    val unknown = root.keySet -- Set("query", "aggs", "aggregations", "size")
    require(unknown.isEmpty, s"unsupported ES aggs body key(s): ${unknown.mkString(", ")}")
    val query = root.get("query")
      .map(_ => SearchQuery.parseBody(body, schema).query)
      .getOrElse(SearchQuery.MatchAll)
    val aggsJ = root.get("aggs").orElse(root.get("aggregations"))
      .getOrElse(throw new IllegalArgumentException("aggs body needs an \"aggs\" key"))

    def namedOf(jv: JValue): List[(String, JValue)] = jv match {
      case JObject(fields) => fields
      case other => throw new IllegalArgumentException(s"aggs must be an object: $other")
    }
    def asString(v: JValue): String = v match {
      case JString(s) => s
      case other => throw new IllegalArgumentException(s"not a string: $other")
    }
    def num(spec: JValue, key: String, kind: String): Option[Long] = spec match {
      case JObject(f) => f.toMap.get(key).map {
        case JInt(i) if i.isValidLong => i.toLong
        case JLong(l) => l
        case JDouble(d) => d.toLong
        case JDecimal(d) => d.toLong
        case other => throw new IllegalArgumentException(s"bad $kind.$key: $other")
      }
      case _ => None
    }
    /** A size-like option (`size`, `shard_size`): `d` when absent, else
      * an Int of at least 1 for the kinds in [[BucketSizeKinds]] (a
      * request for no buckets) and at least 0 elsewhere. A bare `.toInt`
      * would wrap 3000000000 to a negative limit. */
    def size(spec: JValue, kind: String, d: Int, key: String = "size"): Int =
      sizeOpt(spec, kind, key).getOrElse(d)
    def sizeOpt(spec: JValue, kind: String, key: String = "size"): Option[Int] =
      num(spec, key, kind).map { n =>
        val least = if (BucketSizeKinds(kind)) 1 else 0
        def bad(why: String) = throw new IllegalArgumentException(s"aggs: $kind $key $why: $n")
        if (n < least) bad(s"must be >= $least")
        if (n > Int.MaxValue) bad("must fit in an int")
        n.toInt
      }
    /** Resolve an agg `field` against the context: document root (ctx =
      * None, array crossing rejected) or a nested array (ctx =
      * Some((declaredNestedPath, arrayPath)) — ES paths are absolute, so
      * require the declared prefix and strip the ARRAY prefix to the
      * element-relative remainder; the two differ when `nested.path`
      * extends into the element, README-query-2 style). */
    /** The raw `field` path of an agg spec, un-resolved (no array check). */
    def fieldPath0(spec: JValue, kind: String): Seq[String] = {
      val p = spec match {
        case JObject(f) => f.toMap.get("field") match {
          case Some(JString(s)) => s
          case _ => throw new IllegalArgumentException(s"$kind agg needs a \"field\"")
        }
        case other => throw new IllegalArgumentException(s"bad $kind agg spec: $other")
      }
      p.stripSuffix(".keyword").split('.').toSeq
    }
    def resolvePath(path: Seq[String], kind: String,
                    ctx: Option[(Seq[String], Seq[String])]): Seq[String] =
      ctx match {
        case None =>
          val (arr, _) = SearchQuery.splitArrayPath(path, schema)
          require(arr.isEmpty,
            s"$kind field ${path.mkString(".")} crosses array ${arr.mkString(".")} — switch context with a nested agg first")
          path
        case Some((np, arr)) =>
          require(path.startsWith(np),
            s"$kind field ${path.mkString(".")} is outside the nested context ${np.mkString(".")}")
          path.drop(arr.length)
      }
    def fieldPath(spec: JValue, kind: String,
                  ctx: Option[(Seq[String], Seq[String])]): Seq[String] =
      resolvePath(fieldPath0(spec, kind), "agg", ctx)
    def parseMetrics(entries: List[(String, JValue)],
                     ctx: Option[(Seq[String], Seq[String])]): Seq[(String, Metric)] =
      entries.map {
        case (name, JObject(List(("t_test", spec)))) =>
          // ES shape: {"t_test": {"a": {"field": f, "filter": {...}},
          //                       "b": {...}, "type": "heteroscedastic"}}.
          // `paired` needs row-wise pairing a set-oriented engine can't
          // infer from two filters — rejected loudly.
          val m = checkSpecKeys(spec, "t_test", Set("a", "b", "type"))
          val variant = m.get("type") match {
            case None => "heteroscedastic" // ES default
            case Some(JString(t)) if t == "heteroscedastic" || t == "homoscedastic" => t
            case Some(other) => throw new IllegalArgumentException(
              s"unsupported t_test type: $other (heteroscedastic/homoscedastic; paired is not implemented)")
          }
          def pop(key: String): (Seq[String], SearchQuery) = m.get(key) match {
            case Some(pSpec) =>
              val pm = checkSpecKeys(pSpec, s"t_test $key", Set("field", "filter"))
              val fp = fieldPath(pSpec, s"t_test $key", ctx)
              val filt = pm.get("filter")
                .map(SearchQuery.parseQueryNode(_, schema))
                .getOrElse(SearchQuery.MatchAll)
              (fp, filt)
            case None => throw new IllegalArgumentException(s"t_test needs $key")
          }
          val (aPath, aFilt) = pop("a")
          val (bPath, bFilt) = pop("b")
          name -> Metric("t_test", aPath, weightPath = bPath,
            filters = Seq(aFilt, bFilt), variant = variant)
        case (name, JObject(List(("matrix_stats", spec)))) =>
          // ES shape: {"matrix_stats": {"fields": [a, b]}} — exactly two
          // fields (the covariance/correlation pair); ES's n-field matrix
          // response has no flat tabular rendering, so wider lists are
          // rejected rather than silently truncated.
          val m = checkSpecKeys(spec, "matrix_stats", Set("fields"))
          val flds = m.get("fields") match {
            case Some(JArray(xs)) => xs.map {
              case JString(p) => resolvePath(
                p.stripSuffix(".keyword").split('.').toSeq, "matrix_stats", ctx)
              case other => throw new IllegalArgumentException(s"bad matrix_stats field: $other")
            }
            case _ => throw new IllegalArgumentException("matrix_stats needs a fields array")
          }
          require(flds.size == 2,
            s"matrix_stats is implemented for exactly 2 fields, got ${flds.size}")
          name -> Metric("matrix_stats", flds.head, weightPath = flds(1))
        case (name, JObject(List(("weighted_avg", spec)))) =>
          // ES shape: {"weighted_avg": {"value": {"field": v}, "weight": {"field": w}}}
          val m = checkSpecKeys(spec, "weighted_avg", Set("value", "weight"))
          val vPath = fieldPath(m.getOrElse("value",
            throw new IllegalArgumentException("weighted_avg needs value")), "weighted_avg value", ctx)
          val wPath = fieldPath(m.getOrElse("weight",
            throw new IllegalArgumentException("weighted_avg needs weight")), "weighted_avg weight", ctx)
          name -> Metric("weighted_avg", vPath, Nil, wPath)
        case (name, JObject(List(("scripted_metric", spec)))) =>
          // ES `scripted_metric` — the Kibana escape hatch for custom
          // metrics. Implemented subset: the DECOMPOSABLE FOLD, which is
          // ES's own canonical example (the "profit" walkthrough in the
          // scripted_metric docs): init `state.<acc> = 0`, map
          // `state.<acc> += <expr>` over the script_score Painless subset
          // (see [[SearchQuery.ScriptExpr]]), combine `return state.<acc>`,
          // reduce = the sum-of-states loop. Any other shape rejects
          // loudly at parse — a general init/map/combine/reduce would need
          // arbitrary per-row state, which is exactly what a distributed
          // engine cannot verify is mergeable; the fold subset maps 1:1
          // onto Spark's partial aggregation (map+combine = per-partition
          // partial sums, reduce = the final merge), so the 100 TB plan is
          // ONE hash-free global aggregate, no extra pass.
          require(ctx.isEmpty,
            "scripted_metric inside a nested context is not implemented")
          val m = checkSpecKeys(spec, "scripted_metric",
            Set("init_script", "map_script", "combine_script", "reduce_script"))
          def src(k: String): String = m.get(k) match {
            case Some(JString(s0)) => s0
            case Some(JObject(sf)) => sf.toMap.get("source") match {
              case Some(JString(s0)) => s0
              case _ => throw new IllegalArgumentException(
                s"scripted_metric $k needs a string source")
            }
            case _ => throw new IllegalArgumentException(s"scripted_metric needs $k")
          }
          def squish(s0: String): String = s0.trim.replaceAll("\\s+", " ")
          val initRe = """state\.(\w+) = 0(?:\.0)?;?""".r
          val acc = squish(src("init_script")) match {
            case initRe(v) => v
            case other => throw new IllegalArgumentException(
              s"unsupported scripted_metric init_script '$other' — the implemented " +
                "subset is the decomposable fold: state.<acc> = 0")
          }
          val mapS = squish(src("map_script")).stripSuffix(";")
          val mapPrefix = s"state.$acc += "
          require(mapS.startsWith(mapPrefix),
            s"unsupported scripted_metric map_script '$mapS' — the implemented " +
              s"subset is: state.$acc += <expr>")
          val mapExpr = SearchQuery.parseScript(mapS.stripPrefix(mapPrefix), schema)
          require(!SearchQuery.scriptReadsScore(mapExpr),
            "scripted_metric map_script cannot read _score (aggregation context has no score)")
          val combineRe = ("""(?:return )?state\.""" + java.util.regex.Pattern.quote(acc) + ";?").r
          squish(src("combine_script")) match {
            case combineRe() => ()
            case other => throw new IllegalArgumentException(
              s"unsupported scripted_metric combine_script '$other' — the implemented " +
                s"subset is: return state.$acc")
          }
          val reduceRe =
            """(?:double )?(\w+) = 0(?:\.0)?; for \((\w+) in states\) \{ \1 \+= \2;? \} return \1;?""".r
          squish(src("reduce_script")) match {
            case reduceRe(_, _) => ()
            case other => throw new IllegalArgumentException(
              s"unsupported scripted_metric reduce_script '$other' — the implemented " +
                "subset is: double t = 0; for (s in states) { t += s } return t")
          }
          name -> Metric("scripted_metric", Nil, script = Some(mapExpr))
        case (name, JObject(List((kind, spec)))) if metricKinds(kind) =>
          // strict spec keys: a typo'd/unsupported option (e.g. `missing`)
          // silently ignored would compute a DIFFERENT aggregate
          val allowed = kind match {
            case "percentiles" => Set("field", "percents")
            case "percentile_ranks" => Set("field", "values")
            case "extended_stats" => Set("field", "sigma")
            case _ => Set("field")
          }
          val m = checkSpecKeys(spec, kind, allowed)
          val sigma = if (kind != "extended_stats") 2.0 else m.get("sigma") match {
            case None => 2.0 // ES default bounds = avg ± 2σ
            case Some(v) =>
              val s0 = SearchQuery.asDouble(v, "extended_stats sigma")
              require(s0 >= 0, s"extended_stats sigma must be >= 0: $s0")
              s0
          }
          val percents = if (kind == "percentile_ranks") m.get("values") match {
            case Some(JArray(vs)) if vs.nonEmpty =>
              vs.map(SearchQuery.asDouble(_, "percentile_ranks value"))
            case _ => throw new IllegalArgumentException(
              "percentile_ranks needs a non-empty values array")
          } else if (kind != "percentiles") Nil else m.get("percents") match {
            case None => defaultPercents
            case Some(JArray(ps)) if ps.nonEmpty =>
              ps.map(SearchQuery.asDouble(_, "percent"))
            case Some(other) => throw new IllegalArgumentException(
              s"percentiles.percents must be a non-empty array: $other")
          }
          if (kind == "percentiles")
            percents.foreach(p => require(p >= 0 && p <= 100, s"percent out of range: $p"))
          name -> Metric(kind, fieldPath(spec, kind, ctx), percents, sigma = sigma)
        case (name, other) =>
          throw new IllegalArgumentException(
            s"unsupported metric agg $name: $other (supported: ${metricKinds.mkString("/")})")
      }
    /** Validate a bucket spec's keys — an unknown key silently ignored
      * (e.g. a typo'd `order`) would return buckets in the WRONG order or
      * the wrong bucket set, the same honesty rule as bool clauses. */
    def checkSpecKeys(spec: JValue, kind: String, allowed: Set[String]): Map[String, JValue] =
      spec match {
        case JObject(f) =>
          val m = f.toMap
          val unknown = m.keySet -- allowed
          require(unknown.isEmpty,
            s"unsupported $kind key(s): ${unknown.mkString(", ")} (${allowed.toSeq.sorted.mkString("/")})")
          m
        case other => throw new IllegalArgumentException(s"bad $kind agg spec: $other")
      }
    /** ES terms `order`: `{"_key"|"_count"|"<metric agg name>": "asc"|"desc"}`.
      * Metric-name targets are validated against the level's sub-aggs by
      * the caller. */
    def parseOrder(spec: Map[String, JValue]): Option[(String, Boolean)] =
      spec.get("order").map {
        case JObject(List((target, JString(dir)))) =>
          require(dir == "asc" || dir == "desc", s"bad terms order direction: $dir")
          (target, dir == "asc")
        case other => throw new IllegalArgumentException(
          s"unsupported terms order form: $other " +
            "(one {\"_key\"|\"_count\"|\"<metric agg>\": \"asc\"|\"desc\"} entry)")
      }
    /** A bucket-level tree (≤ 2 levels) or flat metrics, in context. */
    def parseTree(named: List[(String, JValue)],
                  ctx: Option[(Seq[String], Seq[String])]): Either[Seq[(String, Metric)], Buckets] =
      named match {
        case List((aggName, JObject(bucketFields))) if bucketFields.exists {
          case (k, _) => bucketKinds(k)
        } =>
          val bf = bucketFields.toMap
          val extraneous = bf.keySet -- (bucketKinds ++ Set("aggs", "aggregations"))
          require(extraneous.isEmpty,
            s"unsupported bucket agg key(s): ${extraneous.mkString(", ")}")
          require(bf.keySet.count(bucketKinds) == 1,
            s"a bucket agg must have exactly one bucket type: ${bf.keySet.mkString(", ")}")
          val bucket = bf.get("terms").map { spec =>
            val m = checkSpecKeys(spec, "terms",
              Set("field", "size", "order", "min_doc_count", "include", "exclude", "missing",
                "show_term_doc_count_error"))
            val tMinDc = num(spec, "min_doc_count", "terms").getOrElse(1L)
            require(tMinDc >= 0, s"terms min_doc_count must be >= 0: $tMinDc")
            // min_doc_count: 0 — every term of the field across the WHOLE
            // corpus shows, zero-doc buckets included (the Kibana "show
            // empty buckets" toggle). Needs a second (distinct-key)
            // corpus aggregation for the dictionary — implemented at
            // document grain without metric sub-aggs (what the toggle
            // emits); metric columns on zero buckets would need per-kind
            // empty-bucket conventions and are rejected loudly.
            require(tMinDc >= 1 || ctx.isEmpty,
              "terms min_doc_count: 0 inside a nested context is not implemented")
            // include/exclude: a FULLY-ANCHORED regex (ES's regex contract)
            // or an exact-value list; applied to the bucket keys before
            // min_doc_count pruning and top-N selection
            // include's THIRD form: {partition, num_partitions} — the
            // dictionary-paging device (see [[Terms.partitionOf]])
            val partitionOf: Option[(Int, Int)] = m.get("include") match {
              case Some(JObject(pf)) =>
                val pm = pf.toMap
                val unknownP = pm.keySet -- Set("partition", "num_partitions")
                require(unknownP.isEmpty,
                  s"unsupported terms include key(s): ${unknownP.mkString(", ")} (partition/num_partitions)")
                def pNum(k: String): Int = pm.get(k) match {
                  case Some(JInt(i)) => i.toInt
                  case Some(JLong(l)) => l.toInt
                  case _ => throw new IllegalArgumentException(s"terms include needs integer $k")
                }
                val (p0, n0) = (pNum("partition"), pNum("num_partitions"))
                require(n0 >= 2, s"num_partitions must be >= 2: $n0")
                require(p0 >= 0 && p0 < n0, s"partition out of range: $p0 (0..${n0 - 1})")
                Some((p0, n0))
              case _ => None
            }
            def incExc(key: String): Option[Either[String, Seq[String]]] = m.get(key) match {
              case Some(JObject(_)) if key == "include" => None // partition form, above
              case other => other.map {
                case JString(re) => Left(re)
                case JArray(vs) if vs.nonEmpty => Right(vs.map {
                  case JString(v) => v
                  case o2 => throw new IllegalArgumentException(s"bad terms $key value: $o2")
                })
                case o2 => throw new IllegalArgumentException(
                  s"terms $key must be a regex string or a value array: $o2")
              }
            }
            val tMissing: Option[Any] = m.get("missing").map {
              case JString(v) => v: Any
              case JInt(i) => i.toLong: Any
              case JLong(l) => l: Any
              case other => throw new IllegalArgumentException(s"bad terms missing: $other")
            }
            val tShowOther = m.get("show_term_doc_count_error") match {
              case None | Some(JBool(false)) => false
              case Some(JBool(true)) => true
              case other => throw new IllegalArgumentException(
                s"show_term_doc_count_error must be a boolean: $other")
            }
            Terms(fieldPath(spec, "terms", ctx),
              size(spec, "terms", 10), // ES default
              parseOrder(m),
              tMinDc,
              incExc("include"), incExc("exclude"), tMissing, tShowOther, partitionOf)
          }.orElse(bf.get("histogram").map { spec =>
            val hm = checkSpecKeys(spec, "histogram",
              Set("field", "interval", "min_doc_count", "offset", "extended_bounds",
                "hard_bounds"))
            val interval = num(spec, "interval", "histogram")
              .getOrElse(throw new IllegalArgumentException("histogram needs interval"))
            require(interval > 0, s"histogram interval must be > 0: $interval")
            val offset = num(spec, "offset", "histogram").getOrElse(0L)
            require(offset >= 0 && offset < interval,
              s"histogram offset must be in [0, interval): $offset")
            val minDc = num(spec, "min_doc_count", "histogram").getOrElse(1L)
            val eb = hm.get("extended_bounds").map { ebSpec =>
              checkSpecKeys(ebSpec, "extended_bounds", Set("min", "max"))
              require(minDc == 0L,
                "extended_bounds without min_doc_count: 0 has no effect (ES rule) — set it explicitly")
              (num(ebSpec, "min", "extended_bounds").getOrElse(
                throw new IllegalArgumentException("extended_bounds needs min")),
               num(ebSpec, "max", "extended_bounds").getOrElse(
                throw new IllegalArgumentException("extended_bounds needs max")))
            }
            eb.foreach { case (lo, hi) => require(lo <= hi,
              s"extended_bounds min > max: $lo > $hi") }
            // hard_bounds CLIPS by bucket KEY: buckets whose rounded key
            // falls outside [min, max] — both ends inclusive, matching
            // ES DoubleBounds.contain — are dropped with all their docs
            // (ES's outlier-proof fixed axis); mutually exclusive with
            // extended_bounds, as in ES
            val hb = hm.get("hard_bounds").map { hbSpec =>
              checkSpecKeys(hbSpec, "hard_bounds", Set("min", "max"))
              (num(hbSpec, "min", "hard_bounds").getOrElse(
                throw new IllegalArgumentException("hard_bounds needs min")),
               num(hbSpec, "max", "hard_bounds").getOrElse(
                throw new IllegalArgumentException("hard_bounds needs max")))
            }
            hb.foreach { case (lo, hi) => require(lo < hi,
              s"hard_bounds min >= max: $lo >= $hi") }
            require(eb.isEmpty || hb.isEmpty,
              "histogram takes extended_bounds OR hard_bounds, not both (ES rule)")
            require(minDc != 0L || hb.isEmpty,
              "min_doc_count: 0 zero-fill WITHIN hard_bounds is not implemented — " +
                "clip with hard_bounds or zero-fill with extended_bounds")
            Histogram(fieldPath(spec, "histogram", ctx), interval, minDc, offset, eb, hb)
          }).orElse(bf.get("date_histogram").map { spec =>
            val m = checkSpecKeys(spec, "date_histogram",
              Set("field", "calendar_interval", "fixed_interval", "min_doc_count",
                "extended_bounds", "time_zone"))
            require(!(m.contains("calendar_interval") && m.contains("fixed_interval")),
              "date_histogram takes calendar_interval OR fixed_interval, not both (ES rule)")
            // fixed_interval: epoch-anchored integer bins, a separate node
            // (calendar arithmetic and floor division put rows in
            // DIFFERENT buckets — never coerce one to the other)
            if (m.contains("fixed_interval")) {
              val micros = m("fixed_interval") match {
                case JString(iv) =>
                  val FixedRe = "(\\d+)(ms|s|m|h|d)".r
                  iv match {
                    case FixedRe(n, u) =>
                      val mult = u match {
                        case "ms" => 1000L
                        case "s" => 1000000L
                        case "m" => 60L * 1000000L
                        case "h" => 3600L * 1000000L
                        case "d" => 86400L * 1000000L
                      }
                      n.toLong * mult
                    case other => throw new IllegalArgumentException(
                      s"bad fixed_interval: $other (<n>ms|s|m|h|d)")
                  }
                case other => throw new IllegalArgumentException(s"bad fixed_interval: $other")
              }
              require(micros > 0, "fixed_interval must be positive")
              val fMinDc = num(spec, "min_doc_count", "date_histogram").getOrElse(1L)
              require(fMinDc >= 1,
                "min_doc_count: 0 zero-fill is implemented for calendar intervals only")
              require(!m.contains("extended_bounds"),
                "extended_bounds on a fixed_interval date_histogram is not implemented")
              require(!m.contains("time_zone"),
                "time_zone on a fixed_interval date_histogram is not implemented " +
                  "(epoch-anchored bins shift by the zone offset — use calendar_interval)")
              FixedDateHistogram(fieldPath(spec, "date_histogram", ctx), micros, fMinDc)
            } else {
            val unit = m.get("calendar_interval") match {
              case Some(JString(u)) if calendarIntervals(u) => u
              case Some(other) => throw new IllegalArgumentException(
                s"unsupported calendar_interval: $other (${calendarIntervals.toSeq.sorted.mkString("/")})")
              case None => throw new IllegalArgumentException(
                "date_histogram needs calendar_interval or fixed_interval")
            }
            val dMinDc = num(spec, "min_doc_count", "date_histogram").getOrElse(1L)
            val IsoD = "\\d{4}-\\d{2}-\\d{2}".r
            val dEb = m.get("extended_bounds").map { ebSpec =>
              val b = checkSpecKeys(ebSpec, "extended_bounds", Set("min", "max"))
              require(dMinDc == 0L,
                "extended_bounds without min_doc_count: 0 has no effect (ES rule) — set it explicitly")
              def iso(k: String): String = b.get(k) match {
                case Some(JString(v)) if IsoD.matches(v) => v
                case other => throw new IllegalArgumentException(
                  s"extended_bounds.$k must be an ISO yyyy-MM-dd string: $other")
              }
              (iso("min"), iso("max"))
            }
            val dTz = m.get("time_zone").map {
              case JString(z) =>
                // validate eagerly (a bad id would otherwise surface as a
                // mid-query executor exception); normalize nothing — ES
                // accepts region ids and fixed offsets, ZoneId covers both
                try { java.time.ZoneId.of(z); z }
                catch { case _: java.time.DateTimeException =>
                  throw new IllegalArgumentException(s"unknown time_zone: $z") }
              case other => throw new IllegalArgumentException(s"bad time_zone: $other")
            }
            dTz.foreach { _ =>
              require(dMinDc == 1L && dEb.isEmpty,
                "time_zone with min_doc_count: 0 / extended_bounds is not implemented " +
                  "(zero-fill steps UTC instants by fixed calendar intervals — wrong across DST)")
              // a DST fall-back repeats a local wall hour: two distinct
              // instants truncate to the SAME ambiguous local hour key and
              // would merge into one bucket where ES keeps two — loud
              // reject rather than a silent sub-day merge
              require(unit != "minute" && unit != "hour",
                "time_zone with sub-day calendar intervals is not implemented (the repeated " +
                  "DST fall-back hour is ambiguous under wall-clock truncation)")
            }
            DateHistogram(fieldPath(spec, "date_histogram", ctx), unit, dMinDc, dEb, dTz)
            }
          }).orElse(bf.get("auto_date_histogram").map { spec =>
            checkSpecKeys(spec, "auto_date_histogram", Set("field", "buckets"))
            val target = num(spec, "buckets", "auto_date_histogram").map(_.toInt).getOrElse(10)
            require(target >= 1, s"auto_date_histogram buckets must be >= 1: $target")
            AutoDateHistogram(fieldPath(spec, "auto_date_histogram", ctx), target)
          }).orElse(bf.get("filter").map { spec =>
            // ES `filter` (singular) — ONE named sub-scope of the query
            // context (the Kibana "filter ratio" building block): the spec
            // IS the predicate; compiled as a single-bucket [[FiltersAgg]],
            // so it inherits the one-pass conditional-aggregation shape
            // (no shuffle at all). Rendered with key = the agg's name.
            // Inside a nested context the predicate is compiled per
            // ELEMENT at exec (compileInNested) — parse stays schema-wide.
            FiltersAgg(Seq(aggName -> SearchQuery.parseQueryNode(spec, schema)))
          }).orElse(bf.get("filters").map { spec =>
            val m = checkSpecKeys(spec, "filters",
              Set("filters", "other_bucket", "other_bucket_key"))
            val inner = m.get("filters") match {
              case Some(JObject(fs)) if fs.nonEmpty => fs
              case _ => throw new IllegalArgumentException(
                "filters agg needs a non-empty keyed \"filters\" object")
            }
            // other_bucket: true → the ES default key "_other_";
            // other_bucket_key alone implies other_bucket: true (ES rule)
            val otherKey = (m.get("other_bucket"), m.get("other_bucket_key")) match {
              case (Some(JBool(false)), None) | (None, None) => None
              case (Some(JBool(false)), Some(_)) => throw new IllegalArgumentException(
                "other_bucket: false with other_bucket_key is contradictory")
              case (_, Some(JString(k))) => Some(k)
              case (Some(JBool(true)), None) => Some("_other_")
              case (a, b0) => throw new IllegalArgumentException(
                s"bad other_bucket/other_bucket_key: $a / $b0")
            }
            otherKey.foreach(k => require(!inner.exists(_._1 == k),
              s"other_bucket_key \"$k\" collides with a named filter bucket"))
            FiltersAgg(inner.map { case (name, q) =>
              name -> SearchQuery.parseQueryNode(q, schema)
            }, otherKey)
          }).orElse(bf.get("range").map { spec =>
            val m = checkSpecKeys(spec, "range", Set("field", "ranges"))
            val ranges = m.get("ranges") match {
              case Some(JArray(rs)) if rs.nonEmpty => rs.map {
                case JObject(bounds) =>
                  val b = bounds.toMap
                  val unknown = b.keySet -- Set("from", "to", "key")
                  require(unknown.isEmpty,
                    s"unsupported range bound key(s): ${unknown.mkString(", ")} (from/to/key)")
                  val lo = b.get("from").map {
                    case JInt(i) => i.toLong
                    case JLong(l) => l
                    case other => throw new IllegalArgumentException(s"bad range from: $other")
                  }
                  val hi = b.get("to").map {
                    case JInt(i) => i.toLong
                    case JLong(l) => l
                    case other => throw new IllegalArgumentException(s"bad range to: $other")
                  }
                  val ck = b.get("key").map {
                    case JString(k) => k
                    case other => throw new IllegalArgumentException(s"bad range key: $other")
                  }
                  require(lo.nonEmpty || hi.nonEmpty, "range bucket needs from and/or to")
                  (ck, lo, hi)
                case other => throw new IllegalArgumentException(s"bad range bucket: $other")
              }
              case _ => throw new IllegalArgumentException("range agg needs a non-empty ranges array")
            }
            require(ranges.flatMap(_._1).distinct.size == ranges.flatMap(_._1).size,
              "duplicate range bucket keys")
            RangeAgg(fieldPath(spec, "range", ctx), ranges)
          }).orElse(bf.get("geo_distance").map { spec =>
            val m = checkSpecKeys(spec, "geo_distance",
              Set("field", "origin", "ranges", "unit"))
            val unitScale = m.get("unit") match {
              case None | Some(JString("m")) => 1.0
              case Some(JString("km")) => 1000.0
              case Some(other) => throw new IllegalArgumentException(
                s"unsupported geo_distance unit: $other (m/km)")
            }
            val (olat, olon) = m.get("origin") match {
              case Some(JObject(pf)) =>
                val pm = pf.toMap
                val unknownP = pm.keySet -- Set("lat", "lon")
                require(unknownP.isEmpty,
                  s"unsupported geo origin key(s): ${unknownP.mkString(", ")}")
                (SearchQuery.asDouble(pm.getOrElse("lat",
                  throw new IllegalArgumentException("geo origin needs lat")), "geo lat"),
                  SearchQuery.asDouble(pm.getOrElse("lon",
                    throw new IllegalArgumentException("geo origin needs lon")), "geo lon"))
              case _ => throw new IllegalArgumentException(
                "geo_distance agg needs an origin {lat, lon} object " +
                  "(string/array/geohash forms are not implemented)")
            }
            val ranges = m.get("ranges") match {
              case Some(JArray(rs)) if rs.nonEmpty => rs.map {
                case JObject(bounds) =>
                  val b = bounds.toMap
                  val unknown = b.keySet -- Set("from", "to", "key")
                  require(unknown.isEmpty,
                    s"unsupported geo_distance range key(s): ${unknown.mkString(", ")}")
                  val lo = b.get("from").map(SearchQuery.asDouble(_, "geo range from") * unitScale)
                  val hi = b.get("to").map(SearchQuery.asDouble(_, "geo range to") * unitScale)
                  val ck = b.get("key").map {
                    case JString(k) => k
                    case other => throw new IllegalArgumentException(s"bad range key: $other")
                  }
                  require(lo.nonEmpty || hi.nonEmpty, "geo_distance range needs from and/or to")
                  (ck, lo, hi)
                case other => throw new IllegalArgumentException(s"bad geo_distance range: $other")
              }
              case _ => throw new IllegalArgumentException(
                "geo_distance agg needs a non-empty ranges array")
            }
            require(ranges.flatMap(_._1).distinct.size == ranges.flatMap(_._1).size,
              "duplicate geo_distance bucket keys")
            GeoDistanceAgg(fieldPath(spec, "geo_distance", ctx), olat, olon, ranges)
          }).orElse(bf.get("geotile_grid").map { spec =>
            checkSpecKeys(spec, "geotile_grid", Set("field", "precision", "size"))
            val precision = num(spec, "precision", "geotile_grid").map(_.toInt).getOrElse(7)
            require(precision >= 0 && precision <= 29,
              s"geotile_grid precision out of range: $precision (0-29)")
            GeotileGrid(fieldPath(spec, "geotile_grid", ctx), precision,
              size(spec, "geotile_grid", 10000))
          }).orElse(bf.get("geohash_grid").map { spec =>
            checkSpecKeys(spec, "geohash_grid", Set("field", "precision", "size"))
            val precision = num(spec, "precision", "geohash_grid").map(_.toInt).getOrElse(5)
            require(precision >= 1 && precision <= 6,
              s"geohash_grid precision out of implemented range: $precision (1-6; " +
                "7+ needs > 35 interleave bits per axis pair — not wired)")
            GeohashGrid(fieldPath(spec, "geohash_grid", ctx), precision,
              size(spec, "geohash_grid", 10000))
          }).orElse(bf.get("geohex_grid").map { spec =>
            checkSpecKeys(spec, "geohex_grid", Set("field", "precision", "size"))
            val precision = num(spec, "precision", "geohex_grid").map(_.toInt).getOrElse(4)
            require(precision >= 0 && precision <= 8,
              s"geohex_grid precision out of implemented range: $precision (0-8)")
            GeohexGrid(fieldPath(spec, "geohex_grid", ctx), precision,
              size(spec, "geohex_grid", 10000))
          }).orElse(bf.get("categorize_text").map { spec =>
            checkSpecKeys(spec, "categorize_text", Set("field", "size"))
            CategorizeText(fieldPath(spec, "categorize_text", ctx),
              size(spec, "categorize_text", 10))
          }).orElse(bf.get("missing").map { spec =>
            checkSpecKeys(spec, "missing", Set("field"))
            // resolve with array awareness: `missing` ON an array field
            // means null-or-empty (ES indexes nothing for []); a path
            // CROSSING an array still needs a nested context first
            ctx match {
              case Some((np, arr)) =>
                val p = fieldPath(spec, "missing", ctx)
                MissingAgg(p, isArray = false)
              case None =>
                val p = fieldPath0(spec, "missing")
                SearchQuery.splitArrayPath(p, schema) match {
                  case (Nil, full) => MissingAgg(full, isArray = false)
                  case (arr, rest) if rest.isEmpty => MissingAgg(arr, isArray = true)
                  case (arr, _) => throw new IllegalArgumentException(
                    s"missing field ${p.mkString(".")} crosses array ${arr.mkString(".")} — switch context with a nested agg first")
                }
            }
          }).orElse(bf.get("composite").map { spec =>
            // sources resolve through the ctx-aware fieldPath, so a
            // composite inside a nested context pages ELEMENT-grain
            // buckets — same one-hash-agg shape either way
            val m = checkSpecKeys(spec, "composite", Set("sources", "size", "after"))
            def srcOrder(sm: Map[String, JValue]): Boolean = sm.get("order") match {
              case None | Some(JString("asc")) => true
              case Some(JString("desc")) => false
              case Some(other) => throw new IllegalArgumentException(
                s"bad composite source order: $other")
            }
            def srcMissing(sm: Map[String, JValue]): Boolean = sm.get("missing_bucket") match {
              case None | Some(JBool(false)) => false
              case Some(JBool(true)) => true
              case Some(other) => throw new IllegalArgumentException(
                s"bad composite source missing_bucket: $other")
            }
            val sources = m.get("sources") match {
              case Some(JArray(srcs)) if srcs.nonEmpty => srcs.map {
                case JObject(List((name, JObject(List((skind, tspec)))))) => skind match {
                  case "terms" =>
                    val tm = checkSpecKeys(tspec, "composite terms source",
                      Set("field", "order", "missing_bucket"))
                    CompositeSource(name, fieldPath(tspec, "composite source", ctx), srcOrder(tm),
                      missingBucket = srcMissing(tm))
                  case "histogram" =>
                    val hm = checkSpecKeys(tspec, "composite histogram source",
                      Set("field", "interval", "order", "missing_bucket"))
                    val iv = num(tspec, "interval", "composite histogram source").getOrElse(
                      throw new IllegalArgumentException("composite histogram source needs interval"))
                    require(iv > 0, s"composite histogram interval must be > 0: $iv")
                    CompositeSource(name, fieldPath(tspec, "composite source", ctx),
                      srcOrder(hm), "histogram", iv, missingBucket = srcMissing(hm))
                  case "date_histogram" =>
                    val dm = checkSpecKeys(tspec, "composite date_histogram source",
                      Set("field", "calendar_interval", "order", "missing_bucket"))
                    val unit = dm.get("calendar_interval") match {
                      case Some(JString(u)) if calendarIntervals(u) => u
                      case Some(other) => throw new IllegalArgumentException(
                        s"unsupported composite calendar_interval: $other")
                      case None => throw new IllegalArgumentException(
                        "composite date_histogram source needs calendar_interval")
                    }
                    require(unit != "minute" && unit != "hour",
                      "sub-day composite date_histogram sources are not implemented " +
                        "(the after-cursor value is an ISO yyyy-MM-dd date)")
                    CompositeSource(name, fieldPath(tspec, "composite source", ctx),
                      srcOrder(dm), "date_histogram", 0L, unit, missingBucket = srcMissing(dm))
                  case other => throw new IllegalArgumentException(
                    s"unsupported composite source kind: $other (terms/histogram/date_histogram)")
                }
                case other => throw new IllegalArgumentException(
                  s"bad composite source entry: $other")
              }
              case _ => throw new IllegalArgumentException(
                "composite needs a non-empty sources array")
            }
            require(sources.map(_.name).distinct.size == sources.size,
              "composite source names must be distinct")
            val IsoAfter = "\\d{4}-\\d{2}-\\d{2}".r
            val after = m.get("after").map {
              case JObject(av) =>
                val byName = av.toMap
                require(byName.keySet == sources.map(_.name).toSet,
                  s"after must carry exactly the source keys ${sources.map(_.name).mkString(", ")}")
                sources.map { s =>
                  val v: Any = byName(s.name) match {
                    case JString(v0) => v0
                    case JInt(i) => i.toLong
                    case JLong(l) => l
                    // a page can end INSIDE the null-keyed bucket group of
                    // a missing_bucket source — ES then emits null as that
                    // source's cursor value, and the next page must resume
                    // within the null group (not throw)
                    case JNull =>
                      require(s.missingBucket,
                        s"after.${s.name} is null but the source has missing_bucket: false")
                      null
                    case other => throw new IllegalArgumentException(s"bad after value: $other")
                  }
                  (s.kind, v) match {
                    case (_, null) => ()
                    case ("date_histogram", str: String) =>
                      require(IsoAfter.matches(str),
                        s"after.${s.name} must be an ISO yyyy-MM-dd date for a date_histogram source: $str")
                    case ("date_histogram", other) => throw new IllegalArgumentException(
                      s"after.${s.name} must be an ISO date string for a date_histogram source: $other")
                    case ("histogram", _: Long) => ()
                    case ("histogram", other) => throw new IllegalArgumentException(
                      s"after.${s.name} must be numeric for a histogram source: $other")
                    case _ => ()
                  }
                  v
                }
              case other => throw new IllegalArgumentException(s"bad after: $other")
            }
            CompositeAgg(sources, size(spec, "composite", 10), after)
          }).orElse(bf.get("adjacency_matrix").map { spec =>
            require(ctx.isEmpty, "adjacency_matrix inside a nested context is not implemented")
            val m = checkSpecKeys(spec, "adjacency_matrix", Set("filters"))
            val inner = m.get("filters") match {
              case Some(JObject(fs)) if fs.nonEmpty => fs
              case _ => throw new IllegalArgumentException(
                "adjacency_matrix needs a non-empty keyed \"filters\" object")
            }
            AdjacencyMatrix(inner.map { case (name, q0) =>
              require(!name.contains("&"), s"adjacency_matrix filter name may not contain '&': $name")
              name -> SearchQuery.parseQueryNode(q0, schema)
            })
          }).orElse(bf.get("multi_terms").map { spec =>
            val m = checkSpecKeys(spec, "multi_terms", Set("terms", "size"))
            val paths = m.get("terms") match {
              case Some(JArray(ts)) if ts.size >= 2 => ts.map { t0 =>
                fieldPath(t0, "multi_terms term", ctx)
              }
              case _ => throw new IllegalArgumentException(
                "multi_terms needs a terms array of >= 2 fields")
            }
            MultiTerms(paths, size(spec, "multi_terms", 10))
          }).orElse(bf.get("rare_terms").map { spec =>
            checkSpecKeys(spec, "rare_terms", Set("field", "max_doc_count"))
            val maxDc = num(spec, "max_doc_count", "rare_terms").getOrElse(1L)
            require(maxDc >= 1, s"rare_terms max_doc_count must be >= 1: $maxDc")
            RareTerms(fieldPath(spec, "rare_terms", ctx), maxDc)
          }).orElse(bf.get("ip_range").map { spec =>
            val m = checkSpecKeys(spec, "ip_range", Set("field", "ranges"))
            val Ip = "(\\d{1,3})\\.(\\d{1,3})\\.(\\d{1,3})\\.(\\d{1,3})".r
            def bound(b: Map[String, JValue], k: String): Option[String] = b.get(k).map {
              case JString(v @ Ip(a, b2, c, d4))
                if Seq(a, b2, c, d4).forall(_.toInt <= 255) => v
              case other => throw new IllegalArgumentException(
                s"ip_range $k must be a dotted IPv4 string: $other (CIDR/mask forms are not implemented)")
            }
            val ranges = m.get("ranges") match {
              case Some(JArray(rs)) if rs.nonEmpty => rs.map {
                case JObject(bounds) =>
                  val b = bounds.toMap
                  val unknown = b.keySet -- Set("from", "to", "key")
                  require(unknown.isEmpty,
                    s"unsupported ip_range bound key(s): ${unknown.mkString(", ")} (from/to/key)")
                  val lo = bound(b, "from")
                  val hi = bound(b, "to")
                  val ck0 = b.get("key").map {
                    case JString(k0) => k0
                    case other => throw new IllegalArgumentException(s"bad ip_range key: $other")
                  }
                  require(lo.nonEmpty || hi.nonEmpty, "ip_range bucket needs from and/or to")
                  (ck0, lo, hi)
                case other => throw new IllegalArgumentException(s"bad ip_range bucket: $other")
              }
              case _ => throw new IllegalArgumentException("ip_range needs a non-empty ranges array")
            }
            require(ranges.flatMap(_._1).distinct.size == ranges.flatMap(_._1).size,
              "duplicate ip_range bucket keys")
            IpRangeAgg(fieldPath(spec, "ip_range", ctx), ranges)
          }).orElse(bf.get("ip_prefix").map { spec =>
            checkSpecKeys(spec, "ip_prefix", Set("field", "prefix_length"))
            val len = num(spec, "prefix_length", "ip_prefix").map(_.toInt).getOrElse(
              throw new IllegalArgumentException("ip_prefix needs prefix_length"))
            require(len >= 1 && len <= 32,
              s"ip_prefix prefix_length out of range: $len (1-32; is_ipv6 is not implemented)")
            IpPrefixAgg(fieldPath(spec, "ip_prefix", ctx), len)
          }).orElse(bf.get("variable_width_histogram").map { spec =>
            checkSpecKeys(spec, "variable_width_histogram", Set("field", "buckets"))
            val n = num(spec, "buckets", "variable_width_histogram").map(_.toInt).getOrElse(10)
            require(n >= 2 && n <= 1024,
              s"variable_width_histogram buckets out of range: $n (2-1024)")
            VariableWidthHistogram(fieldPath(spec, "variable_width_histogram", ctx), n)
          }).orElse(bf.get("frequent_item_sets").map { spec =>
            require(ctx.isEmpty,
              "frequent_item_sets inside a nested context is not implemented")
            val m = checkSpecKeys(spec, "frequent_item_sets",
              Set("fields", "minimum_support", "size"))
            val fieldStr = m.get("fields") match {
              case Some(JArray(List(JObject(ff)))) =>
                val fm = ff.toMap
                val unknown = fm.keySet -- Set("field")
                require(unknown.isEmpty,
                  s"unsupported frequent_item_sets field key(s): ${unknown.mkString(", ")}")
                asString(fm.getOrElse("field",
                  throw new IllegalArgumentException("frequent_item_sets field entry needs a field")))
              case _ => throw new IllegalArgumentException(
                "frequent_item_sets needs a fields array with exactly ONE {field} entry " +
                  "(multi-field itemsets are not implemented)")
            }
            val p = fieldStr.stripSuffix(".keyword").split('.').toSeq
            SearchQuery.splitArrayPath(p, schema) match {
              case (Nil, _) => throw new IllegalArgumentException(
                s"frequent_item_sets field ${p.mkString(".")} does not cross an array — " +
                  "items are array element values")
              case _ => ()
            }
            val minSup = m.get("minimum_support")
              .map(SearchQuery.asDouble(_, "minimum_support")).getOrElse(0.1)
            require(minSup > 0.0 && minSup <= 1.0,
              s"frequent_item_sets minimum_support out of range: $minSup ((0, 1])")
            FrequentItemSets(p, minSup, size(spec, "frequent_item_sets", 10))
          }).orElse(bf.get("geo_line").map { spec =>
            require(ctx.isEmpty, "geo_line inside a nested context is not implemented")
            val m = checkSpecKeys(spec, "geo_line", Set("point", "sort", "size"))
            def fld(k: String): Seq[String] = m.get(k) match {
              case Some(JObject(pf)) =>
                val pm = pf.toMap
                val unknown = pm.keySet -- Set("field")
                require(unknown.isEmpty,
                  s"unsupported geo_line $k key(s): ${unknown.mkString(", ")}")
                pm.get("field").map(asString).map(_.split('.').toSeq).getOrElse(
                  throw new IllegalArgumentException(s"geo_line $k needs a field"))
              case _ => throw new IllegalArgumentException(s"geo_line needs a $k {field} object")
            }
            GeoLine(fld("point"), fld("sort"), size(spec, "geo_line", 10000))
          }).orElse(bf.get("date_range").map { spec =>
            val m = checkSpecKeys(spec, "date_range", Set("field", "ranges"))
            val IsoDate = "\\d{4}-\\d{2}-\\d{2}".r
            def bound(b: Map[String, JValue], k: String): Option[String] = b.get(k).map {
              case JString(v) if IsoDate.matches(v) => v
              case other => throw new IllegalArgumentException(
                s"date_range $k must be an ISO yyyy-MM-dd string: $other")
            }
            val ranges = m.get("ranges") match {
              case Some(JArray(rs)) if rs.nonEmpty => rs.map {
                case JObject(bounds) =>
                  val b = bounds.toMap
                  val unknown = b.keySet -- Set("from", "to", "key")
                  require(unknown.isEmpty,
                    s"unsupported date_range bound key(s): ${unknown.mkString(", ")} (from/to/key)")
                  val lo = bound(b, "from")
                  val hi = bound(b, "to")
                  val ck = b.get("key").map {
                    case JString(k) => k
                    case other => throw new IllegalArgumentException(s"bad date_range key: $other")
                  }
                  require(lo.nonEmpty || hi.nonEmpty, "date_range bucket needs from and/or to")
                  (ck, lo, hi)
                case other => throw new IllegalArgumentException(s"bad date_range bucket: $other")
              }
              case _ => throw new IllegalArgumentException("date_range needs a non-empty ranges array")
            }
            require(ranges.flatMap(_._1).distinct.size == ranges.flatMap(_._1).size,
              "duplicate date_range bucket keys")
            DateRangeAgg(fieldPath(spec, "date_range", ctx), ranges)
          }).orElse(bf.get("global").map { spec =>
            require(ctx.isEmpty, "global agg inside a nested context is not implemented")
            spec match {
              case JObject(Nil) => GlobalAgg
              case other => throw new IllegalArgumentException(
                s"global takes an empty object: $other")
            }
          }).orElse(bf.get("significant_terms").map { spec =>
            val sm = checkSpecKeys(spec, "significant_terms",
              Set("field", "size", "background_filter",
                "jlh", "chi_square", "mutual_information", "percentage"))
            val bg = sm.get("background_filter").map(SearchQuery.parseQueryNode(_, schema))
            // background_filter is a DOCUMENT-grain predicate; which
            // grain ES applies inside a nested context is ambiguous —
            // reject the combination rather than guess
            require(ctx.isEmpty || bg.isEmpty,
              "significant_terms background_filter inside a nested context is not implemented")
            val heuristics = Seq("jlh", "chi_square", "mutual_information", "percentage")
              .filter(sm.contains)
            require(heuristics.size <= 1,
              s"significant_terms takes ONE heuristic, got: ${heuristics.mkString(", ")}")
            heuristics.headOption.foreach { h =>
              // only the ES-default parameterization is implemented:
              // include_negatives/background_is_superset both true (a
              // silently-ignored false would return a DIFFERENT ranking);
              // jlh takes an empty object, as in ES
              val allowed = if (h == "jlh" || h == "percentage") Set.empty[String]
                else Set("include_negatives", "background_is_superset")
              val hp = checkSpecKeys(sm(h), h, allowed)
              hp.foreach { case (k, v) => require(v == JBool(true),
                s"significant_terms $h with $k: false is not implemented (ES default true only)") }
            }
            SignificantTerms(fieldPath(spec, "significant_terms", ctx),
              size(spec, "significant_terms", 10), bg,
              heuristics.headOption.getOrElse("jlh"))
          }).orElse(bf.get("significant_text").map[Agg] { _ =>
            throw new IllegalArgumentException(
              "significant_text without a sampler parent is not implemented " +
                "(unbounded foreground analysis — wrap it in a sampler)")
          }).get
          // Split the sub-agg entries: pipeline aggs and top_hits attach
          // to THIS level; the rest are metrics or one sub-bucket level.
          val subEntries = bf.get("aggs").orElse(bf.get("aggregations")) match {
            case None => Nil
            case Some(JObject(fields)) => fields
            case Some(other) => throw new IllegalArgumentException(s"bad sub-aggs: $other")
          }
          val (pipeEntries, rest) = subEntries.partition {
            case (_, JObject(List((k, _)))) => pipelineKinds(k)
            case _ => false
          }
          val (thEntries, rest2) = rest.partition {
            case (_, JObject(List((k, _)))) => k == "top_hits" || k == "top_metrics"
            case _ => false
          }
          // a reverse_nested entry carries TWO keys (reverse_nested +
          // aggs), so it is recognized by key presence, not single-key
          val (rnEntries, rest3) = rest2.partition {
            case (_, JObject(fields)) => fields.exists(_._1 == "reverse_nested")
            case _ => false
          }
          // likewise a nested agg (nested + aggs) as a CHILD of this level
          val (nmEntries, metricOrSub) = rest3.partition {
            case (_, JObject(fields)) => fields.exists(_._1 == "nested")
            case _ => false
          }
          def parsePipeline(e: (String, JValue)): Pipeline = e match {
            case (name, JObject(List(("cumulative_sum", spec)))) =>
              val m = checkSpecKeys(spec, "cumulative_sum", Set("buckets_path"))
              CumulativeSum(name, asString(m.getOrElse("buckets_path",
                throw new IllegalArgumentException("cumulative_sum needs buckets_path"))))
            case (name, JObject(List(("derivative", spec)))) =>
              val m = checkSpecKeys(spec, "derivative", Set("buckets_path"))
              Derivative(name, asString(m.getOrElse("buckets_path",
                throw new IllegalArgumentException("derivative needs buckets_path"))))
            case (_, JObject(List(("bucket_selector", spec)))) =>
              val m = checkSpecKeys(spec, "bucket_selector", Set("buckets_path", "script"))
              val params = m.get("buckets_path") match {
                case Some(JObject(ps)) if ps.nonEmpty => ps.map {
                  case (k, JString(v)) => k -> v
                  case other => throw new IllegalArgumentException(s"bad buckets_path entry: $other")
                }.toMap
                case other => throw new IllegalArgumentException(
                  s"bucket_selector needs a keyed buckets_path object: $other")
              }
              val script = m.get("script").map(asString).getOrElse(
                throw new IllegalArgumentException("bucket_selector needs a script"))
              // one top-level comparison between two full arithmetic sides
              val CmpRe = """(?s)^(.*?)(>=|<=|==|!=|>|<)(.*)$""".r
              script.trim match {
                case CmpRe(lhs, op, rhs) =>
                  BucketSelector(params,
                    SearchQuery.parseParamsScript(lhs, params.keySet), op,
                    SearchQuery.parseParamsScript(rhs, params.keySet))
                case other => throw new IllegalArgumentException(
                  s"bucket_selector script needs one comparison (`<expr> <cmp> <expr>`): $other")
              }
            case (name, JObject(List(("moving_fn", spec)))) =>
              val m = checkSpecKeys(spec, "moving_fn", Set("buckets_path", "window", "script"))
              val script = m.get("script").map(asString).getOrElse(
                throw new IllegalArgumentException("moving_fn needs a script"))
              val FnRe = "MovingFunctions\\.(unweightedAvg|max|min|sum)\\(values\\)".r
              val EwmaRe = "MovingFunctions\\.ewma\\(values,([0-9.eE+-]+)\\)".r
              val LwaRe = "MovingFunctions\\.linearWeightedAvg\\(values\\)".r
              val HoltRe = "MovingFunctions\\.holt\\(values,([0-9.eE+-]+),([0-9.eE+-]+)\\)".r
              def param(raw: String, what: String): Double = {
                val p0 = try raw.toDouble catch { case _: NumberFormatException =>
                  throw new IllegalArgumentException(s"bad moving_fn $what: $raw") }
                require(p0 > 0 && p0 <= 1, s"moving_fn $what must be in (0, 1]: $p0")
                p0
              }
              val (fn0, alpha, beta) = script.replaceAll("\\s", "") match {
                case FnRe("unweightedAvg") => ("avg", 0.0, 0.0)
                case FnRe(f0) => (f0, 0.0, 0.0)
                case EwmaRe(a0) => ("ewma", param(a0, "ewma alpha"), 0.0)
                case LwaRe() => ("linearWeightedAvg", 0.0, 0.0)
                case HoltRe(a0, b0) =>
                  ("holt", param(a0, "holt alpha"), param(b0, "holt beta"))
                case other => throw new IllegalArgumentException(
                  "unsupported moving_fn script (MovingFunctions.unweightedAvg/max/min/" +
                    s"sum(values), ewma(values, a), linearWeightedAvg(values), holt(values, a, b)): $other")
              }
              val window = num(spec, "window", "moving_fn").map(_.toInt).getOrElse(
                throw new IllegalArgumentException("moving_fn needs a window"))
              require(window >= 1, s"moving_fn window must be >= 1: $window")
              MovingAvg(name, asString(m.getOrElse("buckets_path",
                throw new IllegalArgumentException("moving_fn needs buckets_path"))),
                window, fn0, alpha, beta)
            case (name, JObject(List(("serial_diff", spec)))) =>
              val m = checkSpecKeys(spec, "serial_diff", Set("buckets_path", "lag"))
              val lag = num(spec, "lag", "serial_diff").map(_.toInt).getOrElse(1)
              require(lag >= 1, s"serial_diff lag must be >= 1: $lag")
              SerialDiff(name, asString(m.getOrElse("buckets_path",
                throw new IllegalArgumentException("serial_diff needs buckets_path"))), lag)
            case (name, JObject(List(("normalize", spec)))) =>
              val m = checkSpecKeys(spec, "normalize", Set("buckets_path", "method"))
              val method = m.get("method") match {
                case Some(JString(mm)) if mm == "percent_of_sum" || mm == "rescale_0_1" => mm
                case Some(other) => throw new IllegalArgumentException(
                  s"unsupported normalize method: $other (percent_of_sum/rescale_0_1; " +
                    "softmax/z-score/mean ride libm or are empty-bucket-ambiguous)")
                case None => throw new IllegalArgumentException("normalize needs a method")
              }
              Normalize(name, asString(m.getOrElse("buckets_path",
                throw new IllegalArgumentException("normalize needs buckets_path"))), method)
            case (name, JObject(List(("cumulative_cardinality", spec)))) =>
              val m = checkSpecKeys(spec, "cumulative_cardinality", Set("buckets_path"))
              CumulativeCardinality(name, asString(m.getOrElse("buckets_path",
                throw new IllegalArgumentException("cumulative_cardinality needs buckets_path"))))
            case (name, JObject(List(("moving_percentiles", spec)))) =>
              val m = checkSpecKeys(spec, "moving_percentiles",
                Set("buckets_path", "window", "percents"))
              val window = num(spec, "window", "moving_percentiles").map(_.toInt).getOrElse(
                throw new IllegalArgumentException("moving_percentiles needs a window"))
              require(window >= 1, s"moving_percentiles window must be >= 1: $window")
              val ps = m.get("percents") match {
                case None => Seq(50.0)
                case Some(JArray(xs)) if xs.nonEmpty =>
                  xs.map(SearchQuery.asDouble(_, "percent"))
                case Some(other) => throw new IllegalArgumentException(
                  s"moving_percentiles.percents must be a non-empty array: $other")
              }
              ps.foreach(p0 => require(p0 >= 0 && p0 <= 100, s"percent out of range: $p0"))
              MovingPercentiles(name, asString(m.getOrElse("buckets_path",
                throw new IllegalArgumentException("moving_percentiles needs buckets_path"))),
                window, ps)
            case (name, JObject(List(("rate", spec)))) =>
              val m = checkSpecKeys(spec, "rate", Set("unit", "buckets_path"))
              m.get("unit") match {
                case Some(JString("day")) => ()
                case other => throw new IllegalArgumentException(
                  s"unsupported rate unit: $other (only day)")
              }
              RateAgg(name, m.get("buckets_path").map(asString).getOrElse("_count"))
            case (name, JObject(List(("bucket_script", spec)))) =>
              val m = checkSpecKeys(spec, "bucket_script", Set("buckets_path", "script"))
              val params = m.get("buckets_path") match {
                case Some(JObject(ps)) if ps.nonEmpty => ps.map {
                  case (k, JString(v)) => k -> v
                  case other => throw new IllegalArgumentException(s"bad buckets_path entry: $other")
                }.toMap
                case other => throw new IllegalArgumentException(
                  s"bucket_script needs a keyed buckets_path object: $other")
              }
              val script = m.get("script").map(asString).getOrElse(
                throw new IllegalArgumentException("bucket_script needs a script"))
              BucketScript(name, params,
                SearchQuery.parseParamsScript(script, params.keySet))
            case (_, JObject(List(("bucket_sort", spec)))) =>
              val m = checkSpecKeys(spec, "bucket_sort", Set("sort", "size", "from"))
              val sorts = m.get("sort") match {
                case Some(JArray(ss)) => ss.map {
                  case JObject(List((t, JString(dir)))) =>
                    require(dir == "asc" || dir == "desc", s"bad bucket_sort direction: $dir")
                    (t, dir == "asc")
                  case JObject(List((t, JObject(List(("order", JString(dir))))))) =>
                    require(dir == "asc" || dir == "desc", s"bad bucket_sort direction: $dir")
                    (t, dir == "asc")
                  case other => throw new IllegalArgumentException(s"bad bucket_sort sort entry: $other")
                }
                case None => Nil
                case Some(other) => throw new IllegalArgumentException(s"bad bucket_sort sort: $other")
              }
              BucketSort(sorts, num(spec, "from", "bucket_sort").map(_.toInt).getOrElse(0),
                sizeOpt(spec, "bucket_sort"))
            case (name, other) =>
              throw new IllegalArgumentException(s"bad pipeline agg $name: $other")
          }
          val pipelines = pipeEntries.map(parsePipeline)
          val topHits: Option[TopHits] = thEntries match {
            case Nil => None
            case List((_, JObject(List(("top_hits", spec))))) =>
              val m = checkSpecKeys(spec, "top_hits", Set("size", "sort", "_source"))
              def pth(s: String) = s.stripSuffix(".keyword").split('.').toSeq
              val sorts = m.get("sort") match {
                case Some(JArray(ss)) if ss.nonEmpty => ss.map {
                  case JObject(List((f, JString(dir)))) =>
                    require(dir == "asc" || dir == "desc", s"bad top_hits sort direction: $dir")
                    (pth(f), dir == "asc")
                  case JObject(List((f, JObject(List(("order", JString(dir))))))) =>
                    require(dir == "asc" || dir == "desc", s"bad top_hits sort direction: $dir")
                    (pth(f), dir == "asc")
                  case other => throw new IllegalArgumentException(s"bad top_hits sort entry: $other")
                }
                case _ => throw new IllegalArgumentException(
                  "top_hits needs an explicit sort (deterministic hit ranking)")
              }
              val source = m.get("_source") match {
                case Some(JArray(fs)) if fs.nonEmpty => fs.map(v => pth(asString(v)))
                case _ => throw new IllegalArgumentException(
                  "top_hits needs an explicit _source field list")
              }
              // ctx-aware: inside a nested context the hits are ELEMENTS,
              // so sort/_source paths resolve element-relative
              Some(TopHits(size(spec, "top_hits", 3),
                sorts.map { case (p, a) => (resolvePath(p, "top_hits", ctx), a) },
                source.map(resolvePath(_, "top_hits", ctx))))
            case List((_, JObject(List(("top_metrics", spec))))) =>
              // ES `top_metrics` (Lens "last value"): metric values from
              // the top-sorted doc(s) of each bucket — exactly top_hits
              // restricted to metric fields, so it rides the same
              // broadcast-bucket + WindowGroupLimit machinery. ES allows
              // a single sort only; it must be doc-unique here for a
              // deterministic rank (same honesty rule as top_hits).
              val m = checkSpecKeys(spec, "top_metrics", Set("metrics", "sort", "size"))
              def pth(s: String) = s.stripSuffix(".keyword").split('.').toSeq
              val metricPaths = m.get("metrics") match {
                case Some(JArray(fs)) if fs.nonEmpty => fs.map {
                  case JObject(List(("field", JString(f)))) => pth(f)
                  case other => throw new IllegalArgumentException(
                    s"bad top_metrics metrics entry (need {\"field\": ...}): $other")
                }
                case Some(JObject(List(("field", JString(f))))) => Seq(pth(f))
                case _ => throw new IllegalArgumentException(
                  "top_metrics needs a non-empty metrics list")
              }
              val sort = m.get("sort") match {
                case Some(JObject(List((f, JString(dir))))) =>
                  require(dir == "asc" || dir == "desc", s"bad top_metrics sort direction: $dir")
                  (pth(f), dir == "asc")
                case other => throw new IllegalArgumentException(
                  s"top_metrics needs a single {field: direction} sort: $other")
              }
              Some(TopHits(size(spec, "top_metrics", 1),
                Seq((resolvePath(sort._1, "top_metrics", ctx), sort._2)),
                metricPaths.map(resolvePath(_, "top_metrics", ctx))))
            case _ => throw new IllegalArgumentException("at most one top_hits per level")
          }
          val reverse: Option[ReverseNested] = rnEntries match {
            case Nil => None
            case List((name, JObject(fields))) =>
              require(ctx.nonEmpty,
                "reverse_nested outside a nested context (it steps BACK to the parent grain)")
              val f = fields.toMap
              val extraneous = f.keySet -- Set("reverse_nested", "aggs", "aggregations")
              require(extraneous.isEmpty,
                s"unsupported reverse_nested entry key(s): ${extraneous.mkString(", ")}")
              f("reverse_nested") match {
                case JObject(Nil) => ()
                case other => throw new IllegalArgumentException(
                  s"reverse_nested takes an empty object (partial un-nesting via a path is not implemented): $other")
              }
              val inner = f.get("aggs").orElse(f.get("aggregations")).map(namedOf).getOrElse(Nil)
              // parent grain: metric fields resolve against the DOCUMENT ROOT
              Some(ReverseNested(name, parseMetrics(inner, None)))
            case _ => throw new IllegalArgumentException("at most one reverse_nested per level")
          }
          val nestedM: Option[NestedMetrics] = nmEntries match {
            case Nil => None
            case List((name, JObject(fields))) =>
              require(ctx.isEmpty,
                "a nested agg under a bucket level inside an existing nested context is not implemented")
              val f = fields.toMap
              val extraneous = f.keySet -- Set("nested", "aggs", "aggregations")
              require(extraneous.isEmpty,
                s"unsupported nested agg entry key(s): ${extraneous.mkString(", ")}")
              val pathStr = f("nested") match {
                case JObject(pf) => pf.toMap.get("path").map(asString)
                  .getOrElse(throw new IllegalArgumentException("nested agg needs a \"path\""))
                case other => throw new IllegalArgumentException(s"bad nested spec: $other")
              }
              val np = pathStr.split('.').toSeq
              val (arr, _) = SearchQuery.splitArrayPath(np, schema)
              require(arr.nonEmpty,
                s"nested path ${np.mkString(".")} under a bucket level does not cross an array " +
                  "— struct fields are reachable as plain metrics")
              val inner = f.get("aggs").orElse(f.get("aggregations")).map(namedOf)
                .getOrElse(throw new IllegalArgumentException("nested agg needs sub-aggs"))
              val ms0 = parseMetrics(inner, Some((np, arr)))
              require(ms0.nonEmpty, "nested agg needs sub-aggs")
              // per-document-combinable kinds only: each doc folds its own
              // elements, the bucket agg combines partials — anything that
              // needs the raw element multiset (percentiles, cardinality)
              // would force an explode and is rejected loudly
              ms0.foreach { case (n0, m0) =>
                require(Set("avg", "sum", "min", "max", "value_count")(m0.kind),
                  s"metric \"$n0\" (${m0.kind}) under a nested agg in a bucket level is not " +
                    "implemented (avg/sum/min/max/value_count only)") }
              Some(NestedMetrics(name, arr, ms0))
            case _ => throw new IllegalArgumentException("at most one nested agg per level")
          }
          // ES allows metric sub-aggs at EVERY level of a split, not just
          // the leaf: partition this level's sub-entries into the (single)
          // sub-bucket entry and its sibling metrics. Non-leaf metrics are
          // restricted to the DECOMPOSABLE kinds (avg/sum/min/max/
          // value_count) — they recombine exactly from leaf partials as
          // bucket-table windows; percentiles/cardinality at a non-leaf
          // level would need a second corpus pass and are rejected loudly.
          val (subBucketEntries, parentMetricEntries) = metricOrSub.partition {
            case (_, JObject(f)) => f.exists { case (k, _) => bucketKinds(k) }
            case _ => false
          }
          val parentMs: Seq[(String, Metric)] =
            if (subBucketEntries.size == 1 && parentMetricEntries.nonEmpty) {
              val ms0 = parseMetrics(parentMetricEntries, ctx)
              ms0.foreach { case (n0, m0) =>
                require(Set("avg", "sum", "min", "max", "value_count")(m0.kind),
                  s"metric \"$n0\" (${m0.kind}) at a non-leaf split level is not " +
                    "implemented (decomposable kinds avg/sum/min/max/value_count only — " +
                    "others need a second corpus pass)") }
              ms0
            } else Nil
          val treeInput = if (parentMs.nonEmpty) subBucketEntries else metricOrSub
          val tree = parseTree(treeInput, ctx) match {
            case Left(ms) =>
              reverse.foreach { rn =>
                require(bucket.isInstanceOf[Terms],
                  "reverse_nested under this bucket agg kind is not implemented (terms only)")
                require(ms.isEmpty,
                  "element-grain metric aggs beside a reverse_nested at the same level are not implemented")
                require(pipelines.isEmpty && topHits.isEmpty,
                  "pipeline aggs / top_hits beside a reverse_nested are not implemented")
                val outs = rn.name +: rn.metrics.flatMap { case (n0, mm) => metricNames(n0, mm) }
                require(outs.distinct.size == outs.size, "duplicate reverse_nested output names")
                outs.foreach(n0 => require(n0 != "key" && n0 != "doc_count",
                  s"reverse_nested output \"$n0\" collides with a bucket output column"))
              }
              nestedM.foreach { nm =>
                require(bucket.isInstanceOf[Terms],
                  "a nested agg under this bucket agg kind is not implemented (terms only)")
                require(ms.isEmpty,
                  "document-grain metric aggs beside a nested agg at the same level are not implemented")
                require(pipelines.isEmpty && topHits.isEmpty && reverse.isEmpty,
                  "pipeline aggs / top_hits / reverse_nested beside a nested agg are not implemented")
                val outs = nm.name +: nm.metrics.map(_._1)
                require(outs.distinct.size == outs.size, "duplicate nested agg output names")
                outs.foreach(n0 => require(n0 != "key" && n0 != "doc_count",
                  s"nested agg output \"$n0\" collides with a bucket output column"))
              }
              Buckets(bucket, ms, None, pipelines, topHits, reverse = reverse, nested = nestedM)
            case Right(inner) =>
              require(reverse.isEmpty,
                "reverse_nested on a multi-level split level is not implemented")
              require(nestedM.isEmpty,
                "a nested agg on a multi-level split level is not implemented")
              // this check runs at EVERY recursion level, so the binding
              // constraint is the outermost call's: at most FOUR bucket
              // levels total (the Kibana data-table "split rows ×3" body)
              require(inner.sub.forall(_.sub.forall(_.sub.isEmpty)),
                "aggs nesting deeper than four bucket levels is not implemented")
              require(inner.pipelines.isEmpty && inner.topHits.isEmpty && inner.siblings.isEmpty
                  && inner.reverse.isEmpty && inner.nested.isEmpty,
                "pipeline aggs / top_hits / sibling *_bucket / reverse_nested / nested aggs on an inner level of a multi-level split are not implemented")
              // a level with a sub-bucket may also carry (decomposable)
              // metrics of its own — ES's per-level metric contract
              Buckets(bucket, parentMs, Some(inner), pipelines, topHits)
          }
          // Validate terms order targets against what the level can sort
          // by; reject (don't ignore) anything else. Multi-column metrics
          // (stats/percentiles) are not a sortable target.
          def checkOrder(b: Agg, ms: Map[String, Metric], where: String): Unit = b match {
            case Terms(_, _, Some((target, _)), _, _, _, _, _, _) =>
              require(target == "_key" || target == "_count" || ms.contains(target),
                s"terms order target \"$target\" is not _key/_count or a metric sub-agg of $where " +
                  s"(metrics: ${if (ms.isEmpty) "none" else ms.keys.toSeq.sorted.mkString(", ")})")
              require(target == "_key" || target == "_count" ||
                !multiColumnKinds(ms(target).kind),
                s"terms order target \"$target\" is a multi-column ${ms(target).kind} metric")
            case _ => ()
          }
          def levelsOf(t: Buckets): Seq[Buckets] = t +: t.sub.toSeq.flatMap(levelsOf)
          tree.sub match {
            case None => checkOrder(tree.bucket, tree.metrics.toMap, "this level")
            case Some(_) =>
              val chain = levelsOf(tree)
              // only the leaf may order by a metric sub-agg: non-leaf
              // metrics exist but are window-combined, not sortable keys
              // (ordering a parent by one is not wired — reject, don't
              // misorder)
              chain.init.foreach(l =>
                checkOrder(l.bucket, Map.empty, "a non-leaf level (order by a non-leaf metric is not implemented)"))
              checkOrder(chain.last.bucket, chain.last.metrics.toMap, "the leaf level")
              chain.tail.foreach(_.bucket match {
                case _: FiltersAgg | _: RangeAgg | _: MissingAgg | _: CompositeAgg |
                     _: SignificantTerms | GlobalAgg | _: AdjacencyMatrix | _: RareTerms |
                     _: DateRangeAgg | _: MultiTerms | _: AutoDateHistogram |
                     _: GeoDistanceAgg | _: GeotileGrid | _: GeohashGrid |
                     _: GeohexGrid | _: CategorizeText | _: IpRangeAgg | _: IpPrefixAgg |
                     _: VariableWidthHistogram | _: FrequentItemSets | _: GeoLine =>
                  throw new IllegalArgumentException(
                    "only terms/histogram bucket aggs can be an inner level of a multi-level split")
                case _ => ()
              })
              // zero-fill / pruning on split-series histogram levels is
              // not wired — reject rather than silently ignore
              chain.map(_.bucket).foreach {
                case Terms(_, _, _, 0L, _, _, _, _, _) => throw new IllegalArgumentException(
                  "terms min_doc_count: 0 on a multi-level split is not implemented")
                case Histogram(_, _, _, _, _, Some(_)) => throw new IllegalArgumentException(
                  "histogram hard_bounds on a multi-level split is not implemented")
                case Histogram(_, _, md, _, _, _) if md != 1L => throw new IllegalArgumentException(
                  "histogram min_doc_count on a multi-level split is not implemented")
                case FixedDateHistogram(_, _, md) if md != 1L => throw new IllegalArgumentException(
                  "date_histogram min_doc_count on a multi-level split is not implemented")
                case DateHistogram(_, _, md, _, _) if md != 1L => throw new IllegalArgumentException(
                  "date_histogram min_doc_count on a multi-level split is not implemented")
                case _ => ()
              }
          }
          (bucket, tree.sub) match {
            case (fa: FiltersAgg, Some(child)) =>
              require(tree.metrics.isEmpty,
                "metrics on the filters level of a filters split are not implemented")
              // Kibana "split chart by filters": filters parent, ONE child
              // bucket level (terms/histogram/date_histogram), metrics at
              // the leaf — compiled as one conditional aggregation on the
              // CHILD key (see run). Deeper nesting / other_bucket /
              // terms-child include/exclude are rejected loudly.
              require(child.sub.isEmpty,
                "a filters split supports exactly one child bucket level")
              require(fa.otherKey.isEmpty,
                "other_bucket on a filters split parent is not implemented")
              child.bucket match {
                case Terms(_, _, _, _, inc, exc, _, so, pOf) =>
                  require(inc.isEmpty && exc.isEmpty,
                    "terms include/exclude under a filters split is not implemented")
                  require(pOf.isEmpty,
                    "terms include.partition under a filters split is not implemented")
                  require(!so,
                    "show_term_doc_count_error under a filters split is not implemented")
                case Histogram(_, _, _, _, _, Some(_)) => throw new IllegalArgumentException(
                  "histogram hard_bounds under a filters split is not implemented")
                case _: Histogram | _: DateHistogram | _: FixedDateHistogram => ()
                case other => throw new IllegalArgumentException(
                  s"a filters split child of ${other.getClass.getSimpleName} is not implemented")
              }
            case (_: RangeAgg | _: MissingAgg | _: CompositeAgg |
                  _: SignificantTerms | GlobalAgg | _: AdjacencyMatrix | _: RareTerms |
                  _: DateRangeAgg | _: MultiTerms | _: AutoDateHistogram |
                  _: GeoDistanceAgg | _: GeotileGrid | _: GeohashGrid |
                  _: GeohexGrid | _: CategorizeText | _: IpRangeAgg | _: IpPrefixAgg |
                  _: VariableWidthHistogram | _: FrequentItemSets | _: GeoLine, Some(_)) =>
              throw new IllegalArgumentException(
                "sub-bucket levels under this bucket agg kind are not implemented")
            case _ => ()
          }
          bucket match {
            case _: SignificantTerms =>
              require(tree.metrics.isEmpty && pipelines.isEmpty && topHits.isEmpty,
                "sub-aggs under significant_terms are not implemented")
            case Terms(_, _, _, 0L, _, _, _, _, _) =>
              require(tree.metrics.isEmpty && pipelines.isEmpty && topHits.isEmpty
                  && tree.sub.isEmpty,
                "terms min_doc_count: 0 with sub-aggs/pipelines/sub-buckets is not " +
                  "implemented (empty-bucket metric conventions differ per kind)")
            case _: VariableWidthHistogram | _: FrequentItemSets | _: GeoLine =>
              require(tree.metrics.isEmpty && pipelines.isEmpty && topHits.isEmpty
                  && tree.sub.isEmpty,
                s"sub-aggs under ${bucket.getClass.getSimpleName} are not implemented")
            case _: IpRangeAgg | _: IpPrefixAgg =>
              require(pipelines.isEmpty && topHits.isEmpty && tree.sub.isEmpty,
                s"pipelines/top_hits/sub-buckets under ${bucket.getClass.getSimpleName} are not implemented (metrics only)")
            case _ => ()
          }
          // pipeline / top_hits attachment rules
          if (pipelines.nonEmpty || topHits.nonEmpty)
            require(tree.sub.isEmpty,
              "pipelines/top_hits on a level with a sub-bucket level are not implemented")
          topHits.foreach { _ =>
            require(tree.metrics.isEmpty && pipelines.isEmpty,
              "a top_hits level carries no other sub-aggs")
            bucket match {
              case _: Terms => ()
              case Histogram(_, _, md, _, eb0, None) if md == 1L && eb0.isEmpty => ()
              case DateHistogram(_, _, md, eb0, _) if md == 1L && eb0.isEmpty => ()
              case _: Histogram | _: DateHistogram => throw new IllegalArgumentException(
                "top_hits with histogram min_doc_count/extended_bounds is not implemented " +
                  "(empty buckets have no hits)")
              case other => throw new IllegalArgumentException(
                s"top_hits under ${other.getClass.getSimpleName} is not implemented")
            }
          }
          val levelMetrics = tree.metrics.toMap
          def checkTarget(target: String, earlier: Set[String], allowKey: Boolean): Unit =
            require(target == "_count" || (allowKey && target == "_key") || earlier(target) ||
              levelMetrics.get(target).exists(m => !multiColumnKinds(m.kind)),
              s"buckets_path \"$target\" is not _count${if (allowKey) "/_key" else ""}, a " +
                "single-column metric, or an earlier pipeline of this level")
          def requireKeyed(kind: String): Unit = bucket match {
            case _: Terms | _: Histogram | _: DateHistogram | _: AutoDateHistogram |
                 _: FixedDateHistogram => ()
            case other => throw new IllegalArgumentException(
              s"$kind under ${other.getClass.getSimpleName} is not implemented")
          }
          def requireHist(kind: String): Unit = bucket match {
            // auto_date_histogram resolves to a date_histogram before
            // planning, so pipelines over the auto axis (Lens formulas)
            // are legal
            case _: Histogram | _: DateHistogram | _: AutoDateHistogram |
                 _: FixedDateHistogram => ()
            case _ => throw new IllegalArgumentException(
              s"$kind needs a histogram/date_histogram parent (ES restriction)")
          }
          // output-name hygiene: a metric/pipeline agg named like a
          // reserved column (or another output) would silently overwrite
          // it via withColumn — reject at parse, not at runtime
          val reservedNames =
            Set("key", "doc_count", "key2", "doc_count2", "key3", "doc_count3",
        "key4", "doc_count4") ++
              // auto_date_histogram appends its chosen unit as `interval`
              (bucket match { case _: AutoDateHistogram => Set("interval"); case _ => Set.empty[String] })
          val outNames =
            levelsOf(tree).flatMap(_.metrics.flatMap { case (n0, mm) => metricNames(n0, mm) }) ++
              pipelines.collect {
                case CumulativeSum(n0, _) => n0
                case Derivative(n0, _) => n0
                case ma: MovingAvg => ma.name
                case SerialDiff(n0, _, _) => n0
                case bs: BucketScript => bs.name
                case Normalize(n0, _, _) => n0
                case CumulativeCardinality(n0, _) => n0
                case RateAgg(n0, _) => n0
              } ++
              pipelines.flatMap {
                case MovingPercentiles(n0, _, _, ps) =>
                  ps.map(p0 => s"${n0}_p${fmtPercent(p0)}")
                case _ => Nil
              }
          outNames.foreach(n0 => require(!reservedNames(n0),
            s"agg name \"$n0\" collides with a reserved output column (${reservedNames.toSeq.sorted.mkString("/")})"))
          require(outNames.distinct.size == outNames.size,
            s"duplicate agg output names: ${outNames.diff(outNames.distinct).distinct.mkString(", ")}")
          pipelines.foldLeft(Set.empty[String]) { (earlier, p) =>
            p match {
              case CumulativeSum(n, t) =>
                requireHist("cumulative_sum"); checkTarget(t, earlier, allowKey = false); earlier + n
              case Derivative(n, t) =>
                requireHist("derivative"); checkTarget(t, earlier, allowKey = false); earlier + n
              case BucketSelector(targets, _, _, _) =>
                requireKeyed("bucket_selector")
                targets.values.foreach(checkTarget(_, earlier, allowKey = false))
                earlier
              case BucketSort(sorts, _, _) =>
                requireKeyed("bucket_sort")
                sorts.foreach { case (t, _) => checkTarget(t, earlier, allowKey = true) }
                earlier
              case MovingAvg(n, t, _, _, _, _) =>
                requireHist("moving_fn"); checkTarget(t, earlier, allowKey = false); earlier + n
              case SerialDiff(n, t, _) =>
                requireHist("serial_diff"); checkTarget(t, earlier, allowKey = false); earlier + n
              case BucketScript(n, targets, _) =>
                requireKeyed("bucket_script")
                targets.values.foreach(checkTarget(_, earlier, allowKey = false))
                earlier + n
              case Normalize(n, t, _) =>
                requireKeyed("normalize"); checkTarget(t, earlier, allowKey = false); earlier + n
              case CumulativeCardinality(n, t) =>
                requireHist("cumulative_cardinality")
                require(levelMetrics.get(t).exists(_.kind == "cardinality"),
                  s"cumulative_cardinality buckets_path \"$t\" must name a cardinality " +
                    "metric of this level (per-bucket counts don't union — the corpus pass " +
                    "needs the field)")
                bucket match {
                  case Histogram(_, _, md, _, _, _) if md > 1L => throw new IllegalArgumentException(
                    "cumulative_cardinality under a pruning histogram (min_doc_count > 1) is " +
                      "not implemented (pruned buckets would silently drop first-occurrence mass)")
                  case Histogram(_, _, _, _, _, Some(_)) => throw new IllegalArgumentException(
                    "cumulative_cardinality under a hard_bounds histogram is not implemented " +
                      "(a value first seen outside the clipped range would be dropped, not " +
                      "re-anchored to its first in-bounds bucket)")
                  case DateHistogram(_, _, md, _, _) if md > 1L => throw new IllegalArgumentException(
                    "cumulative_cardinality under a pruning date_histogram (min_doc_count > 1) " +
                      "is not implemented")
                  case FixedDateHistogram(_, _, md) if md > 1L => throw new IllegalArgumentException(
                    "cumulative_cardinality under a pruning date_histogram (min_doc_count > 1) " +
                      "is not implemented")
                  case _ => ()
                }
                earlier + n
              case RateAgg(n, t) =>
                checkTarget(t, earlier, allowKey = false)
                bucket match {
                  case DateHistogram(_, u, _, _, None) if u != "minute" && u != "hour" => ()
                  case _ => throw new IllegalArgumentException(
                    "rate needs a day-or-coarser calendar date_histogram parent without " +
                      "time_zone (bucket length in days is the calendar step)")
                }
                earlier + n
              case MovingPercentiles(n, t, _, _) =>
                requireHist("moving_percentiles"); checkTarget(t, earlier, allowKey = false)
                earlier + n
            }
          }
          Right(tree)
        case entries if entries.size > 1 && entries.exists {
          case (_, JObject(List((k, _)))) => siblingKinds(k)
          case _ => false
        } && entries.count {
          case (_, JObject(f)) => f.exists { case (k, _) => bucketKinds(k) }
          case _ => false
        } == 1 =>
          val (sibEntries, rest) = entries.partition {
            case (_, JObject(List((k, _)))) => siblingKinds(k)
            case _ => false
          }
          require(rest.size == 1,
            "sibling *_bucket aggs must sit beside exactly ONE multi-bucket agg")
          val inner = parseTree(rest, ctx) match {
            case Right(b) => b
            case Left(_) => throw new IllegalArgumentException(
              "sibling *_bucket aggs need a multi-bucket sibling")
          }
          val bucketName = rest.head._1
          val lm = inner.metrics.toMap
          val sibs = sibEntries.map {
            case (name, JObject(List((kind, spec)))) =>
              val allowed = kind match {
                case "percentiles_bucket" => Set("buckets_path", "percents")
                case "bucket_correlation" => Set("buckets_path", "function")
                case "bucket_count_ks_test" => Set("buckets_path", "fractions")
                case "extended_stats_bucket" => Set("buckets_path", "sigma")
                case _ => Set("buckets_path")
              }
              val m = checkSpecKeys(spec, kind, allowed)
              val path = asString(m.getOrElse("buckets_path",
                throw new IllegalArgumentException(s"$kind needs buckets_path")))
              val parts = path.split(">")
              require(parts.length == 2 && parts(0) == bucketName,
                s"$kind buckets_path must be \"$bucketName>metric\" or \"$bucketName>_count\": $path")
              val target = parts(1)
              require(target == "_count" ||
                lm.get(target).exists(mm => !multiColumnKinds(mm.kind)),
                s"$kind target \"$target\" is not _count or a single-column metric of $bucketName")
              val percents = if (kind != "percentiles_bucket") Nil else m.get("percents") match {
                case None => defaultPercents
                case Some(JArray(ps)) if ps.nonEmpty =>
                  ps.map(SearchQuery.asDouble(_, "percent"))
                case Some(other) => throw new IllegalArgumentException(
                  s"percentiles_bucket.percents must be a non-empty array: $other")
              }
              percents.foreach(p => require(p >= 0 && p <= 100, s"percent out of range: $p"))
              val curve = if (kind == "bucket_count_ks_test") m.get("fractions") match {
                case Some(JArray(fs)) if fs.size >= 2 =>
                  val vs = fs.map(SearchQuery.asDouble(_, "fraction"))
                  vs.foreach(v => require(v >= 0, s"negative ks_test fraction: $v"))
                  vs
                case _ => throw new IllegalArgumentException(
                  "bucket_count_ks_test needs a fractions array of >= 2 values " +
                    "(the uniform default would hide a wrong bucket count)")
              } else if (kind != "bucket_correlation") Nil else m.get("function") match {
                case Some(JObject(List(("count_correlation", JObject(cf))))) =>
                  val cm = cf.toMap
                  val unknownC = cm.keySet -- Set("indicator")
                  require(unknownC.isEmpty,
                    s"unsupported count_correlation key(s): ${unknownC.mkString(", ")}")
                  cm.get("indicator") match {
                    case Some(JObject(ind)) =>
                      val im = ind.toMap
                      val unknownI = im.keySet -- Set("expectations", "doc_count")
                      require(unknownI.isEmpty,
                        s"unsupported indicator key(s): ${unknownI.mkString(", ")}")
                      im.get("expectations") match {
                        case Some(JArray(es)) if es.size >= 2 =>
                          es.map(SearchQuery.asDouble(_, "expectation"))
                        case _ => throw new IllegalArgumentException(
                          "count_correlation indicator needs an expectations array of >= 2 values")
                      }
                    case _ => throw new IllegalArgumentException(
                      "count_correlation needs an indicator object")
                  }
                case _ => throw new IllegalArgumentException(
                  "bucket_correlation needs a function.count_correlation object")
              }
              val sigma = if (kind != "extended_stats_bucket") 2.0 else m.get("sigma") match {
                case None => 2.0 // ES default bounds = avg ± 2σ
                case Some(v) =>
                  val s0 = SearchQuery.asDouble(v, "extended_stats_bucket sigma")
                  require(s0 >= 0, s"extended_stats_bucket sigma must be >= 0: $s0")
                  s0
              }
              Sibling(name, kind, target, percents, curve, sigma)
            case (name, other) =>
              throw new IllegalArgumentException(s"bad sibling agg $name: $other")
          }
          val innerOut = Set("key", "doc_count") ++
            inner.metrics.flatMap { case (n0, mm) => metricNames(n0, mm) }
          val sibOut = sibs.flatMap(siblingNames)
          sibOut.foreach(n0 => require(!innerOut(n0),
            s"sibling agg output column \"$n0\" collides with a bucket output column"))
          require(sibOut.distinct.size == sibOut.size, "duplicate sibling agg output names")
          require(inner.sub.isEmpty && inner.topHits.isEmpty && inner.reverse.isEmpty
              && inner.nested.isEmpty,
            "siblings beside a two-level, top_hits, reverse_nested or nested bucket agg are not implemented")
          inner.bucket match {
            case _: Terms | _: Histogram | _: DateHistogram | _: RareTerms => ()
            case other => throw new IllegalArgumentException(
              s"sibling *_bucket over ${other.getClass.getSimpleName} is not implemented")
          }
          // the split-statistic / correlation siblings need an ORDERED
          // axis — histogram parents only (the ES restriction)
          sibs.filter(sb => Set("change_point", "bucket_correlation",
              "bucket_count_ks_test")(sb.kind))
            .foreach { sb =>
              inner.bucket match {
                case _: Histogram | _: DateHistogram => ()
                case other => throw new IllegalArgumentException(
                  s"${sb.kind} needs a histogram/date_histogram parent, " +
                    s"got ${other.getClass.getSimpleName}")
              }
            }
          Right(inner.copy(siblings = sibs))
        case mixed if mixed.size > 1 && mixed.exists {
          case (_, JObject(f)) => f.exists { case (k, _) => bucketKinds(k) }
          case _ => false
        } =>
          throw new IllegalArgumentException(
            "a level mixing metric aggs with a bucket agg is not implemented " +
              "(attach metrics to the LEAF bucket level)")
        case metricsOnly => Left(parseMetrics(metricsOnly, ctx))
      }

    namedOf(aggsJ) match {
      // diversified_sampler: the sampler with a per-value diversity cap —
      // at most max_docs_per_value sample members share one value of
      // `field` (ES's de-bias device for dominated corpora). Same
      // hash_field engine extension as sampler; metric sub-aggs run on
      // the sample, rendered as ONE bucket row.
      case List((_, JObject(dsFields))) if dsFields.exists(_._1 == "diversified_sampler") =>
        val f = dsFields.toMap
        val extraneous = f.keySet -- Set("diversified_sampler", "aggs", "aggregations")
        require(extraneous.isEmpty,
          s"unsupported diversified_sampler entry key(s): ${extraneous.mkString(", ")}")
        val sm = checkSpecKeys(f("diversified_sampler"), "diversified_sampler",
          Set("shard_size", "field", "max_docs_per_value", "hash_field"))
        val n = size(f("diversified_sampler"), "diversified_sampler", 100, "shard_size")
        val maxPer = // ES default 1
          size(f("diversified_sampler"), "diversified_sampler", 1, "max_docs_per_value")
        def scalarField(key: String, what: String): Seq[String] = sm.get(key) match {
          case Some(JString(v)) =>
            val p = v.stripSuffix(".keyword").split('.').toSeq
            val (arr, _) = SearchQuery.splitArrayPath(p, schema)
            require(arr.isEmpty, s"$what $v crosses array ${arr.mkString(".")}")
            p
          case _ => throw new IllegalArgumentException(
            if (key == "field") "diversified_sampler needs a field"
            else "diversified_sampler needs hash_field (engine extension — same " +
              "deterministic uniform-draw contract as sampler, see that message)")
        }
        val divField = scalarField("field", "diversified_sampler field")
        val hashF = scalarField("hash_field", "diversified_sampler hash_field")
        val innerAggs = f.get("aggs").orElse(f.get("aggregations")).map(namedOf).getOrElse(
          throw new IllegalArgumentException("diversified_sampler needs sub-aggs"))
        parseTree(innerAggs, None) match {
          case Left(ms) =>
            Request(query, None,
              Right(Buckets(DiversifiedSample(hashF, divField, n, maxPer), ms, None)))
          case Right(_) => throw new IllegalArgumentException(
            "bucket sub-aggs under diversified_sampler are not implemented (metrics only)")
        }
      // random_sampler wrapper: probability-p deterministic hash sample,
      // metric sub-aggs scaled back to corpus estimates (see
      // [[RandomSample]]); ES's `seed` is subsumed by the hash_field
      // engine extension (a different field = a different draw)
      case List((_, JObject(rsFields))) if rsFields.exists(_._1 == "random_sampler") =>
        val f = rsFields.toMap
        val extraneous = f.keySet -- Set("random_sampler", "aggs", "aggregations")
        require(extraneous.isEmpty,
          s"unsupported random_sampler entry key(s): ${extraneous.mkString(", ")}")
        val sm = checkSpecKeys(f("random_sampler"), "random_sampler",
          Set("probability", "hash_field"))
        val p0 = sm.get("probability").map(SearchQuery.asDouble(_, "probability")).getOrElse(
          throw new IllegalArgumentException("random_sampler needs a probability"))
        require(p0 > 0.0 && p0 < 1.0,
          s"random_sampler probability out of range: $p0 ((0, 1) — use no sampler for 1)")
        val hashF = sm.get("hash_field") match {
          case Some(JString(hf)) =>
            val p = hf.split('.').toSeq
            val (arr, _) = SearchQuery.splitArrayPath(p, schema)
            require(arr.isEmpty, s"random_sampler hash_field $hf crosses array ${arr.mkString(".")}")
            p
          case _ => throw new IllegalArgumentException(
            "random_sampler needs hash_field (engine extension): ES's seeded per-shard " +
              "draw is not reproducible relationally; this engine samples a document iff " +
              "the 60-bit md5-prefix hash of the named unique field < p·2^60 — a " +
              "deterministic, rerunnable uniform draw")
        }
        val innerAggs = f.get("aggs").orElse(f.get("aggregations")).map(namedOf).getOrElse(
          throw new IllegalArgumentException("random_sampler needs sub-aggs"))
        parseTree(innerAggs, None) match {
          case Left(ms) =>
            ms.foreach { case (n0, m0) =>
              require(Set("avg", "sum", "min", "max", "value_count")(m0.kind),
                s"metric \"$n0\" (${m0.kind}) under random_sampler is not implemented " +
                  "(avg/sum/min/max/value_count — the kinds with a defined 1/p scaling)") }
            Request(query, None, Right(Buckets(RandomSample(hashF, p0), ms, None)))
          case Right(_) => throw new IllegalArgumentException(
            "bucket sub-aggs under random_sampler are not implemented (metrics only)")
        }
      // sampler wrapper: a deterministic hash sample of the hit set,
      // feeding exactly one significant_text (see [[SignificantText]])
      case List((_, JObject(samplerFields))) if samplerFields.exists(_._1 == "sampler") =>
        val f = samplerFields.toMap
        val extraneous = f.keySet -- Set("sampler", "aggs", "aggregations")
        require(extraneous.isEmpty,
          s"unsupported sampler entry key(s): ${extraneous.mkString(", ")}")
        val sm = checkSpecKeys(f("sampler"), "sampler", Set("shard_size", "hash_field"))
        val n = size(f("sampler"), "sampler", 100, "shard_size")
        val hashF = sm.get("hash_field") match {
          case Some(JString(hf)) =>
            val p = hf.split('.').toSeq
            val (arr, _) = SearchQuery.splitArrayPath(p, schema)
            require(arr.isEmpty, s"sampler hash_field $hf crosses array ${arr.mkString(".")}")
            p
          case _ => throw new IllegalArgumentException(
            "sampler needs hash_field (engine extension): ES's score-ordered, " +
              "internal-doc-id-tie-broken sample is not reproducible relationally; this " +
              "engine takes the shard_size hits with the smallest 60-bit hash of a " +
              "caller-named unique field — a deterministic, rerunnable uniform draw")
        }
        val innerAggs = f.get("aggs").orElse(f.get("aggregations")).map(namedOf).getOrElse(
          throw new IllegalArgumentException("sampler needs sub-aggs"))
        innerAggs match {
          case List((_, JObject(List(("significant_text", spec))))) =>
            checkSpecKeys(spec, "significant_text", Set("field", "size"))
            val p = fieldPath(spec, "significant_text", None)
            val topN = size(spec, "significant_text", 10)
            Request(query, None, Right(Buckets(SignificantText(p, topN, n, hashF), Nil, None)))
          case other => throw new IllegalArgumentException(
            s"only a single significant_text under sampler is implemented, got: " +
              other.map(_._1).mkString(", "))
        }
      // a nested context agg wrapping the real aggregation
      case List((_, JObject(nestedFields))) if nestedFields.exists(_._1 == "nested") =>
        val nf = nestedFields.toMap
        val extraneous = nf.keySet -- Set("nested", "aggs", "aggregations")
        require(extraneous.isEmpty,
          s"unsupported nested agg key(s): ${extraneous.mkString(", ")}")
        val pathStr = nf("nested") match {
          case JObject(pf) => pf.toMap.get("path").map(asString)
            .getOrElse(throw new IllegalArgumentException("nested agg needs a \"path\""))
          case other => throw new IllegalArgumentException(s"bad nested spec: $other")
        }
        val np = pathStr.split('.').toSeq
        val inner = nf.get("aggs").orElse(nf.get("aggregations"))
          .map(namedOf).getOrElse(throw new IllegalArgumentException("nested agg needs sub-aggs"))
        SearchQuery.splitArrayPath(np, schema) match {
          case (Nil, _) => // struct path (reference maps structs nested too): no-op context
            Request(query, None, parseTree(inner, None))
          case (arr, _) => // array path (may extend into the element, README-query-2 style)
            Request(query, Some(arr), parseTree(inner, Some((np, arr))))
        }
      case named =>
        Request(query, None, parseTree(named, None))
    }
  }

  /** Run an ES aggs body against the document table. */
  def run(docs0: DataFrame, docCol: String, body0: String,
          schema0: StructType): DataFrame = Lex.planning("aggs") {
    // runtime_mappings splice computed fields into the document struct
    // BEFORE any parsing — the rest of the machinery sees plain fields
    val (docs, body, schema) = RuntimeFields(docs0, docCol, body0, schema0)
    val req0 = parse(body, schema)
    val doc = col(docCol)
    def field(root: Column, p: Seq[String]): Column =
      p.foldLeft(root)((c, n) => c.getField(n))
    val filtered = docs.filter(SearchQuery.compile(req0.query, doc))
    /** Distinct document-root paths a reverse_nested's parent metrics
      * read (weighted_avg reads two). */
    def parentPaths(rn: ReverseNested): Seq[Seq[String]] =
      rn.metrics.flatMap { case (_, m) =>
        m.path +: (if (m.kind == "weighted_avg") Seq(m.weightPath) else Nil)
      }.distinct
    // nested context: the unit of aggregation becomes the array element
    val (rows, ctx) = req0.nestedPath match {
      case Some(np) =>
        req0.tree.toOption.flatMap(_.reverse) match {
          case Some(rn) =>
            // reverse_nested: parent identity and the parent metric fields
            // ride beside each exploded element — a narrow projection,
            // never the whole parent struct. The id MUST be materialized
            // in its own projection BELOW the generate: a select mixing
            // monotonically_increasing_id() with explode() puts the
            // Project ABOVE the Generate, assigning one id per ELEMENT.
            val pf = parentPaths(rn).zipWithIndex
              .map { case (p, i) => field(doc, p).as(s"_pf$i") }
            val withId = filtered.withColumn("_pid", monotonically_increasing_id())
            (withId.select(col("_pid") +: pf :+
              explode(field(doc, np)).as("el"): _*), col("el"))
          case None => (filtered.select(explode(field(doc, np)).as("el")), col("el"))
        }
      case None => (filtered, doc)
    }
    /** auto_date_histogram resolution: ES's own two-phase shape — ONE
      * 1-row min/max aggregate over the hit set (the coordinator planning
      * pass; the only driver-side value in the engine's agg paths), walk
      * the calendar ladder smallest-first, substitute the winning unit as
      * a zero-filled date_histogram. */
    val (req, autoUnit): (Request, Option[String]) = req0.tree match {
      case Right(b0 @ Buckets(AutoDateHistogram(p, target), _, None, _, None, _, _, _)) =>
        val v = field(ctx, p)
        val mm = rows.filter(v.isNotNull).agg(min(v), max(v)).head()
        if (mm.isNullAt(0)) // empty hit set: any unit yields zero buckets
          (req0.copy(tree = Right(b0.copy(bucket = DateHistogram(p, "day", 0L, None)))), Some("day"))
        else {
          import java.time.temporal.ChronoUnit
          def toLdt(x: Any): java.time.LocalDateTime = x match {
            case t: java.sql.Timestamp => t.toLocalDateTime
            case d0: java.sql.Date => d0.toLocalDate.atStartOfDay
            case other => throw new IllegalArgumentException(
              s"auto_date_histogram needs a date/timestamp field, got $other")
          }
          val (lo, hi) = (toLdt(mm.get(0)), toLdt(mm.get(1)))
          /** Bucket count for one calendar unit over [lo, hi]. */
          def buckets(unit: String): Long = {
            def monthsBetween = ChronoUnit.MONTHS.between(
              lo.toLocalDate.withDayOfMonth(1), hi.toLocalDate.withDayOfMonth(1))
            unit match {
              case "minute" => ChronoUnit.MINUTES.between(
                lo.truncatedTo(ChronoUnit.MINUTES), hi.truncatedTo(ChronoUnit.MINUTES)) + 1
              case "hour" => ChronoUnit.HOURS.between(
                lo.truncatedTo(ChronoUnit.HOURS), hi.truncatedTo(ChronoUnit.HOURS)) + 1
              case "day" => ChronoUnit.DAYS.between(lo.toLocalDate, hi.toLocalDate) + 1
              case "week" => ChronoUnit.WEEKS.between( // ISO week starts (Monday)
                lo.toLocalDate.`with`(java.time.DayOfWeek.MONDAY),
                hi.toLocalDate.`with`(java.time.DayOfWeek.MONDAY)) + 1
              case "month" => monthsBetween + 1
              case "quarter" =>
                // distance between QUARTER starts, not month starts:
                // Mar-15..Apr-10 crosses Q1/Q2 (2 buckets) though only
                // one month-start apart — month distance /3 undercounts
                // and would break the <= target contract after zero-fill
                def qStart(d0: java.time.LocalDate) =
                  d0.withDayOfMonth(1).withMonth((d0.getMonthValue - 1) / 3 * 3 + 1)
                ChronoUnit.MONTHS.between(qStart(lo.toLocalDate), qStart(hi.toLocalDate)) / 3 + 1
              case "year" => ChronoUnit.YEARS.between(
                lo.toLocalDate.withDayOfYear(1), hi.toLocalDate.withDayOfYear(1)) + 1
            }
          }
          val ladder = Seq("minute", "hour", "day", "week", "month", "quarter", "year")
          val unit = ladder.find(buckets(_) <= target).getOrElse(
            throw new IllegalArgumentException(
              s"auto_date_histogram span needs multi-year buckets to fit $target buckets — not implemented"))
          (req0.copy(tree = Right(b0.copy(bucket = DateHistogram(p, unit, 0L, None)))), Some(unit))
        }
      case _ => (req0, None)
    }
    val W = org.apache.spark.sql.expressions.Window
    /** The column(s) of one metric agg, optionally CONDITIONAL on `pred`
      * (the filters/range one-pass shape: `avg(when(pred, v))` — aggregate
      * functions ignore NULLs, so the when() IS the bucket membership).
      * `stats`/`percentiles` fan out to several columns (metricNames). */
    def metricCols(name: String, m: Metric, pred: Option[Column] = None,
                   resolve: Seq[String] => Column = p => field(ctx, p)): Seq[Column] = {
      val v = pred match {
        case Some(p) => when(p, resolve(m.path))
        case None => resolve(m.path)
      }
      m.kind match {
        case "weighted_avg" =>
          // sum(v*w)/sum(w) with the ES null contract: a document missing
          // the VALUE contributes nothing at all (not even weight); a
          // document missing the WEIGHT counts with weight 1. Over
          // integer fields both sums are exact, so the one double
          // division is IEEE-identical in any engine.
          val wRaw = pred match {
            case Some(p) => when(p, resolve(m.weightPath))
            case None => resolve(m.weightPath)
          }
          val w0 = when(v.isNotNull, coalesce(wRaw, lit(1L)))
          Seq((sum(v * w0) / sum(w0)).as(name))
        case "stats" =>
          // ES stats = the five basics in ONE pass (count of VALUES)
          Seq(count(v).as(s"${name}_count"), min(v).as(s"${name}_min"),
            max(v).as(s"${name}_max"), avg(v).cast("double").as(s"${name}_avg"),
            sum(v).cast("double").as(s"${name}_sum"))
        case "extended_stats" =>
          // ES extended_stats: stats + sum_of_squares, POPULATION variance
          // (sos/n - mean², ES's own formula) and σ-bounds (avg ± sigma·σ,
          // default 2). Over integer fields both sums are exact longs, so
          // the double expressions — two divisions, one sqrt (correctly
          // rounded), one multiply/add each — are IEEE-identical in any
          // engine; the oracle writes the SAME expression tree.
          val n = count(v)
          val s1 = sum(v).cast("double")
          val sos = sum(v * v).cast("double")
          val mean = s1 / n
          val variance = sos / n - mean * mean
          val sd = sqrt(variance)
          Seq(n.as(s"${name}_count"), min(v).as(s"${name}_min"),
            max(v).as(s"${name}_max"), mean.as(s"${name}_avg"), s1.as(s"${name}_sum"),
            sos.as(s"${name}_sum_of_squares"), variance.as(s"${name}_variance"),
            sd.as(s"${name}_std_deviation"),
            (mean + lit(m.sigma) * sd).as(s"${name}_std_deviation_bounds_upper"),
            (mean - lit(m.sigma) * sd).as(s"${name}_std_deviation_bounds_lower"))
        case "boxplot" =>
          // ES boxplot (min, quartiles, max) — EXACT linear-interpolated
          // quartiles (ES's are TDigest-approximate; same documented
          // upgrade as percentiles), whiskers = min/max (ES's default
          // 1.5-IQR whisker clamp reads the raw distribution and is not
          // implemented; the five-number summary is the Lens panel).
          Seq(min(v).as(s"${name}_min"),
            percentile(v, lit(0.25)).as(s"${name}_q1"),
            percentile(v, lit(0.5)).as(s"${name}_q2"),
            percentile(v, lit(0.75)).as(s"${name}_q3"),
            max(v).as(s"${name}_max"))
        case "median_absolute_deviation" =>
          // needs the hit-set median BEFORE the aggregation pass — only
          // the flat-metric entry point plans that two-phase shape
          throw new IllegalArgumentException(
            "median_absolute_deviation inside bucket aggs is not implemented " +
              "(flat metric set only — it needs a median pre-pass)")
        case "string_stats" =>
          throw new IllegalArgumentException(
            "string_stats inside bucket aggs is not implemented " +
              "(flat metric set only — entropy needs a character-frequency pass)")
        case "t_test" =>
          throw new IllegalArgumentException(
            "t_test inside bucket aggs is not implemented (flat metric set only)")
        case "matrix_stats" =>
          throw new IllegalArgumentException(
            "matrix_stats inside bucket aggs is not implemented " +
              "(flat metric set only — it renders one row per field)")
        case "geo_bounds" =>
          // ES geo_bounds: the tightest box around the points — four
          // exact min/max aggregates over the point's components (the
          // wrap_longitude dateline form is not implemented: bounds are
          // plain min/max in [-180, 180]).
          val la = pred match {
            case Some(p) => when(p, resolve(m.path :+ "lat"))
            case None => resolve(m.path :+ "lat")
          }
          val lo = pred match {
            case Some(p) => when(p, resolve(m.path :+ "lon"))
            case None => resolve(m.path :+ "lon")
          }
          Seq(max(la).as(s"${name}_top_left_lat"), min(lo).as(s"${name}_top_left_lon"),
            min(la).as(s"${name}_bottom_right_lat"), max(lo).as(s"${name}_bottom_right_lon"))
        case "geo_centroid" =>
          // ES geo_centroid: component-wise mean of the points. Computed
          // on integer MICRODEGREES (round(coord·1e6) — ≈11 cm grid, the
          // same resolution ES's own geo_point encoding quantizes to):
          // the long sums are exact, so the two divisions are
          // IEEE-identical in any engine — a double-summation centroid
          // would drift with partition order and never oracle-match.
          val la0 = resolve(m.path :+ "lat")
          val lo0 = resolve(m.path :+ "lon")
          val both = pred match {
            case Some(p) => p && la0.isNotNull && lo0.isNotNull
            case None => la0.isNotNull && lo0.isNotNull
          }
          val laE6 = when(both, round(la0 * lit(1000000.0)).cast("long"))
          val loE6 = when(both, round(lo0 * lit(1000000.0)).cast("long"))
          val n = count(laE6)
          Seq((sum(laE6).cast("double") / n / lit(1000000.0)).as(s"${name}_lat"),
            (sum(loE6).cast("double") / n / lit(1000000.0)).as(s"${name}_lon"),
            n.as(s"${name}_count"))
        case "percentiles" =>
          // EXACT linear-interpolated percentiles (DuckDB quantile_cont
          // reproduces them bit-for-bit; ES TDigest is approximate)
          m.percents.map(p =>
            percentile(v, lit(p / 100.0)).as(s"${name}_p${fmtPercent(p)}"))
        case "percentile_ranks" =>
          // inverse percentiles: the EXACT percent of values <= x (one
          // integer count ratio and one double multiply/divide; ES's is
          // TDigest-interpolated — same documented exactness upgrade)
          m.percents.map(x =>
            (sum(when(v <= lit(x), 1L).otherwise(0L)).cast("double") * lit(100.0) / count(v))
              .as(s"${name}_r${fmtPercent(x)}"))
        case "scripted_metric" =>
          // The decomposable-fold subset compiles to ONE distributed sum
          // of the per-document mapped expression: Spark's partial
          // aggregation IS the combine phase (per-partition partial sums)
          // and the final merge IS the reduce — the ES contract, with the
          // merge order guaranteed associative by construction.
          val mapped = SearchQuery.compileScriptWith(m.script.getOrElse(
            throw new IllegalStateException("scripted_metric without a parsed script")),
            resolve, lit(0.0))
          val sv = pred match { case Some(p) => when(p, mapped); case None => mapped }
          // ES fold contract: a zero-doc bucket (possible in conditional
          // one-pass kinds — filters/range) returns the INIT value 0.0,
          // not NULL; sum() over an empty/all-null slice must coalesce.
          Seq(coalesce(sum(sv).cast("double"), lit(0.0)).as(name))
        case kind => Seq((kind match {
          case "avg" => avg(v).cast("double")
          case "sum" => sum(v).cast("double") // ES sum is a double
          case "min" => min(v)
          case "max" => max(v)
          case "value_count" => count(v)
          // EXACT distinct count (ES cardinality is HLL-approximate — the
          // documented upgrade, same as the exact terms top-N); the
          // engine's HLL sketch itself is q27/approxDistinct.
          case "cardinality" => count_distinct(v)
        }).as(name))
      }
    }
    /** Every window below this point runs over the BUCKET table —
      * |buckets| rows, never the corpus — so they are single-partition BY
      * DESIGN: the row count is bounded by the bucket-key cardinality
      * (terms top-N / extended-bounds span / ES's own pipeline-agg
      * restriction to histogram parents), not the corpus. WindowExec's
      * "no partition defined" warning is therefore expected and
      * suppressed in the test log4j config; partitioning by a constant
      * key instead is NOT equivalent in practice — a literal is
      * constant-folded out of the spec, and a non-foldable constant
      * expression is projected per-window with a fresh exprId, defeating
      * exchange reuse and adding a real shuffle per pipeline step. */
    val bucketW = W.partitionBy()
    val wAllBuckets = bucketW.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    def keyCol(b: Agg): Column = b match {
      case t0: Terms =>
        // ES terms `missing`: docs with no key value land in the bucket
        // of the substitute instead of vanishing (the keyed-agg rule)
        t0.missing.fold(field(ctx, t0.path))(mv => coalesce(field(ctx, t0.path), lit(mv)))
      case RareTerms(p, _) => field(ctx, p)
      case Histogram(p, interval, _, 0L, _, _) =>
        // floor(v/interval)*interval in PURE INTEGER arithmetic: double
        // division misrounds at bucket boundaries once values outgrow the
        // 53-bit mantissa's exact range (epoch-micros timestamps do).
        // pmod keeps ES's floor semantics for negative values too.
        (field(ctx, p) - pmod(field(ctx, p), lit(interval))).cast("long")
      case hOff: Histogram =>
        // offset bins: floor((v - offset) / interval) * interval + offset
        // in the same pure integer arithmetic
        val v0 = field(ctx, hOff.path) - lit(hOff.offset)
        (v0 - pmod(v0, lit(hOff.interval)) + lit(hOff.offset)).cast("long")
      case FixedDateHistogram(p, iv, _) =>
        // epoch-anchored fixed bins in pure integer micros arithmetic;
        // DATE fields widen to midnight-UTC timestamps (ES stores every
        // date field as epoch millis — unix_micros itself won't coerce)
        val us = unix_micros(field(ctx, p).cast("timestamp"))
        timestamp_micros(us - pmod(us, lit(iv)))
      case DateHistogram(p, unit, _, _, tz) =>
        // date_trunc is calendar arithmetic (month lengths, leap years,
        // ISO week starts) — the thing fixed-interval floor division
        // can't express. Day-or-coarser buckets render as DATE keys;
        // sub-day units keep the truncated TIMESTAMP. With a time_zone:
        // truncate the LOCAL wall clock, key by the bucket start as a
        // UTC instant (ES's epoch-millis key) — always a TIMESTAMP.
        tz match {
          case None =>
            val t = date_trunc(unit, field(ctx, p))
            if (unit == "minute" || unit == "hour") t else t.cast("date")
          case Some(z) =>
            val wall = from_utc_timestamp(field(ctx, p).cast("timestamp"), z)
            to_utc_timestamp(date_trunc(unit, wall), z)
        }
      case other => throw new IllegalStateException(s"not a keyed bucket agg: $other")
    }
    /** ES terms bucket order — default doc_count desc / key asc; `_key`,
      * `_count`, or a metric column override, key-asc tie-broken. */
    def termsOrder(order: Option[(String, Boolean)],
                   dc: Column, key: Column): Seq[Column] = order match {
      case None | Some(("_count", false)) => Seq(dc.desc, key.asc)
      case Some(("_count", true)) => Seq(dc.asc, key.asc)
      case Some(("_key", true)) => Seq(key.asc)
      case Some(("_key", false)) => Seq(key.desc)
      case Some((metric, true)) => Seq(col(metric).asc_nulls_last, key.asc)
      case Some((metric, false)) => Seq(col(metric).desc_nulls_last, key.asc)
    }
    /** A filter-agg predicate compiled at the current aggregation grain:
      * the document root, or — inside a nested context — ONE array
      * element (every leaf must bind to the context array; parent-field
      * leaves reject loudly in compileInNested). */
    def predCol(q0: SearchQuery): Column = req.nestedPath match {
      case Some(np) => SearchQuery.compileInNested(q0, np, ctx)
      case None => SearchQuery.compile(q0, ctx)
    }
    /** filters/range: ONE conditional aggregation over the corpus — no
      * groupBy shuffle at all (a global partial+final agg), then the F
      * buckets unfold from the single result row in body order, zero-doc
      * buckets included (ES's keyed response shape). */
    def condBuckets(buckets: Seq[(String, Column)], ms: Seq[(String, Metric)]): DataFrame = {
      val aggCols = buckets.zipWithIndex.flatMap { case ((_, pred), i) =>
        sum(when(pred, 1L).otherwise(0L)).cast("long").as(s"_dc_$i") +:
          ms.flatMap { case (n, m) => metricCols(s"_m${i}_$n", m, Some(pred)) }
      }
      val one = rows.agg(aggCols.head, aggCols.tail: _*)
      val outNames = ms.flatMap { case (n, m) => metricNames(n, m) }
      val bucketStructs = buckets.zipWithIndex.map { case ((key, _), i) =>
        struct(lit(key).as("key") +: col(s"_dc_$i").as("doc_count") +:
          outNames.map(fn => col(s"_m${i}_$fn").as(fn)): _*)
      }
      one.select(explode(array(bucketStructs: _*)).as("_b")).select(col("_b.*"))
    }
    val result = req.tree match {
      case Left(ms) if ms.exists(_._2.kind == "string_stats") =>
        // ES `string_stats` — count / min_length / max_length /
        // avg_length in the main corpus pass; Shannon `entropy` over the
        // hit set's CHARACTER distribution needs a char-frequency
        // aggregation, so each string_stats adds one explode→count pass
        // whose |alphabet|-row result (a 1-row reduction of it) broadcast-
        // crossJoins back. H = (ln N − Σ c·ln c / N) / ln 2 — the long
        // counts are exact, the libm logs ≤1 ulp (the documented ~1e-15
        // gauss-decay tolerance). `show_distribution` is not implemented.
        val mainCols = ms.flatMap { case (n, m) =>
          if (m.kind == "string_stats") {
            val v = field(ctx, m.path)
            Seq(count(v).as(s"${n}_count"),
              min(length(v)).as(s"${n}_min_length"),
              max(length(v)).as(s"${n}_max_length"),
              (sum(length(v).cast("long")).cast("double") / count(v)).as(s"${n}_avg_length"))
          } else metricCols(n, m)
        }
        val main = rows.agg(count(lit(1)).as("doc_count"), mainCols: _*)
        val entFrames = ms.filter(_._2.kind == "string_stats").map { case (n, m) =>
          val v = field(ctx, m.path)
          // split-by-empty-regex leaves a trailing "" in some engines —
          // filter it on BOTH sides rather than trust either
          val cc = rows.select(explode(split(v, "")).as("_ch"))
            .filter(col("_ch") =!= "")
            .groupBy(col("_ch")).agg(count(lit(1)).cast("double").as("_cnt"))
          cc.agg(((log(sum(col("_cnt"))) - sum(col("_cnt") * log(col("_cnt"))) / sum(col("_cnt")))
            / lit(math.log(2.0))).as(s"${n}_entropy"))
        }
        entFrames.foldLeft(main)((acc, f) => acc.crossJoin(broadcast(f)))
      case Left(ms) if ms.exists(_._2.kind == "t_test") =>
        // ES `t_test` — two-sample Student's t between two FILTERED
        // populations of one corpus pass (conditional sums, no join, no
        // shuffle beyond the global agg). Engine deviation, documented:
        // ES returns the two-tailed p-value, which needs the regularized
        // incomplete beta neither engine exposes as a deterministic
        // builtin — this renders the t STATISTIC and its degrees of
        // freedom (`<name>_t`, `<name>_df`), the invertible core every
        // stats package maps to a p-value. Integer-field sums are exact
        // longs, so the double formulas are IEEE-identical in the oracle.
        require(ms.size == 1,
          "t_test must be the only metric in its aggs set (it reshapes the output row)")
        val (n0, m) = ms.head
        val pa = coalesce(predCol(m.filters.head), lit(false))
        val pb = coalesce(predCol(m.filters(1)), lit(false))
        val va = when(pa, field(ctx, m.path))
        val vb = when(pb, field(ctx, m.weightPath))
        val one = rows.agg(count(lit(1)).as("doc_count"),
          count(va).cast("double").as("_na"), sum(va).cast("double").as("_sa"),
          sum(va * va).cast("double").as("_qa"),
          count(vb).cast("double").as("_nb"), sum(vb).cast("double").as("_sb"),
          sum(vb * vb).cast("double").as("_qb"))
        val na = col("_na"); val sa = col("_sa"); val qa = col("_qa")
        val nb = col("_nb"); val sb = col("_sb"); val qb = col("_qb")
        val ma = sa / na; val mb = sb / nb
        // sample variance, ES's own formulation: (Σx² − (Σx)²/n)/(n−1)
        val vva = (qa - sa * sa / na) / (na - lit(1.0))
        val vvb = (qb - sb * sb / nb) / (nb - lit(1.0))
        val (t, df) = m.variant match {
          case "heteroscedastic" =>
            // Welch: t = (m₁−m₂)/√(v₁/n₁+v₂/n₂), Welch–Satterthwaite df
            val sea = vva / na; val seb = vvb / nb
            ((ma - mb) / sqrt(sea + seb),
              (sea + seb) * (sea + seb) /
                (sea * sea / (na - lit(1.0)) + seb * seb / (nb - lit(1.0))))
          case "homoscedastic" =>
            // pooled variance, df = n₁+n₂−2
            val sp2 = ((na - lit(1.0)) * vva + (nb - lit(1.0)) * vvb) /
              (na + nb - lit(2.0))
            ((ma - mb) / sqrt(sp2 * (lit(1.0) / na + lit(1.0) / nb)),
              na + nb - lit(2.0))
        }
        one.select(col("doc_count"), t.as(s"${n0}_t"), df.as(s"${n0}_df"))
      case Left(ms) if ms.exists(_._2.kind == "matrix_stats") =>
        // ES `matrix_stats` — per-field moments + the covariance/
        // correlation pair, over COMPLETE rows (both fields present; ES's
        // default missing-handling). ONE corpus pass computing the raw
        // power sums (exact longs over integer fields), then the ES
        // formulas — sample variance/covariance (n−1), skewness
        // √n·M₃/M₂^1.5, kurtosis n·M₄/M₂² — as fixed double expression
        // trees the oracle reproduces bit-for-bit (ES's own streaming
        // Welford updates agree to ~1e-12; documented tolerance). Two
        // output rows, one per field, unfolded from the single result row.
        require(ms.size == 1,
          "matrix_stats must be the only metric in its aggs set (it renders one row per field)")
        val (n0, m) = ms.head
        val a0 = field(ctx, m.path); val b0 = field(ctx, m.weightPath)
        val both = a0.isNotNull && b0.isNotNull
        val a = when(both, a0); val b = when(both, b0)
        val one = rows.agg(count(lit(1)).as("doc_count"),
          count(a).cast("double").as("_n"),
          sum(a).cast("double").as("_s1a"), sum(a * a).cast("double").as("_s2a"),
          sum(a * a * a).cast("double").as("_s3a"),
          sum(a * a * a * a).cast("double").as("_s4a"),
          sum(b).cast("double").as("_s1b"), sum(b * b).cast("double").as("_s2b"),
          sum(b * b * b).cast("double").as("_s3b"),
          sum(b * b * b * b).cast("double").as("_s4b"),
          sum(a * b).cast("double").as("_sxy"))
        val n = col("_n")
        def fieldRow(nm: String, s1: Column, s2: Column, s3: Column, s4: Column,
                     s1o: Column, s2o: Column): Column = {
          val mean = s1 / n
          val m2 = s2 - s1 * s1 / n
          val m3 = s3 - lit(3.0) * mean * s2 + lit(2.0) * n * mean * mean * mean
          val m4 = s4 - lit(4.0) * mean * s3 + lit(6.0) * mean * mean * s2 -
            lit(3.0) * n * mean * mean * mean * mean
          val covRaw = col("_sxy") - s1 * s1o / n
          struct(lit(nm).as("field"), n.cast("long").as("count"),
            mean.as("mean"), (m2 / (n - lit(1.0))).as("variance"),
            (sqrt(n) * m3 / (m2 * sqrt(m2))).as("skewness"),
            (n * m4 / (m2 * m2)).as("kurtosis"),
            (covRaw / (n - lit(1.0))).as("covariance"),
            (covRaw / (sqrt(m2) * sqrt(s2o - s1o * s1o / n))).as("correlation"))
        }
        val rowA = fieldRow(m.path.mkString("."), col("_s1a"), col("_s2a"),
          col("_s3a"), col("_s4a"), col("_s1b"), col("_s2b"))
        val rowB = fieldRow(m.weightPath.mkString("."), col("_s1b"), col("_s2b"),
          col("_s3b"), col("_s4b"), col("_s1a"), col("_s2a"))
        one.select(col("doc_count"), explode(array(rowA, rowB)).as("_f"))
          .select(col("doc_count"), col("_f.*"))
      case Left(ms) if ms.exists(_._2.kind == "median_absolute_deviation") =>
        // ES `median_absolute_deviation`: median(|v - median(v)|) — EXACT
        // (linear-interpolated medians; ES's is TDigest-approximate, the
        // same documented upgrade as percentiles). Two-phase by nature:
        // a 1-row median aggregate broadcast-joined back, then one global
        // aggregation over the deviations — two corpus scans, zero
        // shuffles beyond the two global partial+final aggs.
        val mads = ms.zipWithIndex.filter(_._1._2.kind == "median_absolute_deviation")
        val medCols = mads.map { case ((_, m), i) =>
          percentile(field(ctx, m.path), lit(0.5)).as(s"_med$i") }
        val meds = rows.agg(medCols.head, medCols.tail: _*)
        rows.crossJoin(broadcast(meds))
          .agg(count(lit(1)).as("doc_count"),
            ms.zipWithIndex.flatMap { case ((n0, m), i) =>
              if (m.kind == "median_absolute_deviation")
                Seq(percentile(abs(field(ctx, m.path) - col(s"_med$i")), lit(0.5)).as(n0))
              else metricCols(n0, m)
            }: _*)
      case Left(ms) =>
        require(ms.nonEmpty, "aggs body has no aggregations")
        rows.agg(count(lit(1)).as("doc_count"),
          ms.flatMap { case (n, m) => metricCols(n, m) }: _*)
      case Right(Buckets(FiltersAgg(bs, otherKey), ms, None, Nil, None, Nil, None, None)) =>
        // NULL predicates (missing fields) are non-matches: coalesce to
        // false so the other-bucket negation stays three-valued-honest
        val named = bs.map { case (n, q) =>
          n -> coalesce(predCol(q), lit(false)) }
        val other = otherKey.map(k => k -> !named.map(_._2).reduce(_ || _)).toSeq
        condBuckets(named ++ other, ms)
      case Right(Buckets(RangeAgg(p, rs), ms, None, Nil, None, Nil, None, None)) =>
        val v = field(ctx, p)
        condBuckets(rs.map { case (ck, lo, hi) =>
          val key = ck.getOrElse(
            s"${lo.map(_.toString).getOrElse("*")}-${hi.map(_.toString).getOrElse("*")}")
          val pred = (lo.map(v >= _).toSeq ++ hi.map(v < _).toSeq).reduce(_ && _)
          key -> pred
        }, ms)
      case Right(Buckets(GeoDistanceAgg(p, la0, lo0, rs), ms, None, Nil, None, Nil, None, None)) =>
        // concentric rings = the range shape over ONE haversine column:
        // the trig runs once per row, every ring is a conditional count
        // off it — one global conditional agg, no shuffle, no second scan
        val d0 = Geo.haversineMeters(field(ctx, p :+ "lat"), field(ctx, p :+ "lon"), la0, lo0)
        condBuckets(rs.map { case (ck, lo, hi) =>
          val key = ck.getOrElse(
            s"${lo.map(_.toString).getOrElse("*")}-${hi.map(_.toString).getOrElse("*")}")
          val pred = (lo.map(d0 >= lit(_)).toSeq ++ hi.map(d0 < lit(_)).toSeq).reduce(_ && _)
          key -> pred
        }, ms)
      case Right(Buckets(GeotileGrid(p, z, size0), ms, None, Nil, None, Nil, None, None)) =>
        // one hash aggregation on the tile key (terms shape); a missing
        // coordinate lands in no bucket (the keyed-agg missing rule)
        val la = field(ctx, p :+ "lat")
        val lo = field(ctx, p :+ "lon")
        rows.filter(la.isNotNull && lo.isNotNull)
          .groupBy(Geo.tileKey(la, lo, z).as("key"))
          .agg(count(lit(1)).as("doc_count"),
            ms.flatMap { case (n, m) => metricCols(n, m) }: _*)
          .orderBy(col("doc_count").desc, col("key").asc)
          .limit(size0)
      case Right(Buckets(GeohashGrid(p, prec, size0), ms, None, Nil, None, Nil, None, None)) =>
        // same shape as geotile_grid on a different cell id
        val gla = field(ctx, p :+ "lat")
        val glo = field(ctx, p :+ "lon")
        rows.filter(gla.isNotNull && glo.isNotNull)
          .groupBy(Geo.geohash(gla, glo, prec).as("key"))
          .agg(count(lit(1)).as("doc_count"),
            ms.flatMap { case (n, m) => metricCols(n, m) }: _*)
          .orderBy(col("doc_count").desc, col("key").asc)
          .limit(size0)
      case Right(Buckets(GeohexGrid(p, prec, size0), ms, None, Nil, None, Nil, None, None)) =>
        // same shape again on the hex cell id (Geo.hexKey — the
        // documented axial-not-H3 deviation)
        val hla = field(ctx, p :+ "lat")
        val hlo = field(ctx, p :+ "lon")
        rows.filter(hla.isNotNull && hlo.isNotNull)
          .groupBy(Geo.hexKey(hla, hlo, prec).as("key"))
          .agg(count(lit(1)).as("doc_count"),
            ms.flatMap { case (n, m) => metricCols(n, m) }: _*)
          .orderBy(col("doc_count").desc, col("key").asc)
          .limit(size0)
      case Right(Buckets(CategorizeText(p, size0), ms, None, Nil, None, Nil, None, None)) =>
        // token-skeleton template as the bucket key (see the case class
        // doc for the ES deviation): hex runs mask before digit runs so
        // "0xdead12" never half-masks; one hash aggregation
        val tpl = regexp_replace(regexp_replace(field(ctx, p).cast("string"),
          lit("\\b0x[0-9a-fA-F]+\\b"), lit("<hex>")), lit("[0-9]+"), lit("<n>"))
        rows.filter(field(ctx, p).isNotNull)
          .groupBy(tpl.as("key"))
          .agg(count(lit(1)).as("doc_count"),
            ms.flatMap { case (n, m) => metricCols(n, m) }: _*)
          .orderBy(col("doc_count").desc, col("key").asc)
          .limit(size0)
      case Right(Buckets(IpRangeAgg(p, rs), ms, None, Nil, None, Nil, None, None)) =>
        // the range shape over the unsigned-32-bit integer form of the
        // IPv4 — one conditional aggregation, bounds folded to longs at
        // plan time
        val oct = split(field(ctx, p).cast("string"), "\\.")
        val ipv = element_at(oct, 1).cast("long") * 16777216L +
          element_at(oct, 2).cast("long") * 65536L +
          element_at(oct, 3).cast("long") * 256L + element_at(oct, 4).cast("long")
        def ipLong(s0: String): Long = s0.split('.').map(_.toLong).reduce(_ * 256L + _)
        condBuckets(rs.map { case (ck0, lo, hi) =>
          val key = ck0.getOrElse(s"${lo.getOrElse("*")}-${hi.getOrElse("*")}")
          val pred = (lo.map(x => ipv >= lit(ipLong(x))).toSeq ++
            hi.map(x => ipv < lit(ipLong(x))).toSeq).reduce(_ && _)
          key -> pred
        }, ms)
      case Right(Buckets(IpPrefixAgg(p, len), ms, None, Nil, None, Nil, None, None)) =>
        // one hash aggregation on the masked network integer; the dotted
        // "a.b.c.d/len" key renders from exact shift arithmetic
        val oct = split(field(ctx, p).cast("string"), "\\.")
        val ipv = element_at(oct, 1).cast("long") * 16777216L +
          element_at(oct, 2).cast("long") * 65536L +
          element_at(oct, 3).cast("long") * 256L + element_at(oct, 4).cast("long")
        val mask = ((1L << len) - 1L) << (32 - len)
        val net = ipv.bitwiseAND(lit(mask))
        val key = concat_ws(".",
          shiftrightunsigned(net, 24).bitwiseAND(lit(255L)).cast("string"),
          shiftrightunsigned(net, 16).bitwiseAND(lit(255L)).cast("string"),
          shiftrightunsigned(net, 8).bitwiseAND(lit(255L)).cast("string"),
          net.bitwiseAND(lit(255L)).cast("string"))
        rows.filter(field(ctx, p).isNotNull)
          .groupBy(concat(key, lit(s"/$len")).as("key"))
          .agg(count(lit(1)).as("doc_count"),
            ms.flatMap { case (n, m) => metricCols(n, m) }: _*)
          .orderBy(col("key").asc)
      case Right(Buckets(VariableWidthHistogram(p, n), Nil, None, Nil, None, Nil, None, None)) =>
        // equal-frequency rank split at VALUE grain (see the case class
        // doc for the ES deviation): one value-grain hash aggregation,
        // then |distinct values|-row windows — the same bounded-window
        // budget as the pipeline aggs, never a corpus sort
        val v = field(ctx, p)
        val vals = rows.filter(v.isNotNull).groupBy(v.cast("double").as("_v"))
          .agg(count(lit(1)).cast("long").as("_c"))
        val wv = bucketW.orderBy(col("_v").asc)
        val cum = vals
          .withColumn("_cb", coalesce(
            sum(col("_c")).over(wv.rowsBetween(W.unboundedPreceding, -1L)), lit(0L)))
          .withColumn("_tot", sum(col("_c")).over(wAllBuckets))
        val bucketId = least(lit(n - 1L), floor(col("_cb") * n / col("_tot")).cast("long"))
        cum.groupBy(bucketId.as("_b"))
          .agg((sum(col("_v") * col("_c")) / sum(col("_c"))).as("key"),
            min(col("_v")).as("min"), max(col("_v")).as("max"),
            sum(col("_c")).cast("long").as("doc_count"))
          .drop("_b")
          .orderBy(col("key").asc)
      case Right(Buckets(FrequentItemSets(p, minSup, size0), Nil, None, Nil, None, Nil,
                         None, None)) =>
        // (doc, item) grain from ONE explode of per-document DISTINCT
        // element values; singles are a hash agg on item, pairs an
        // equi-join of the frame with itself ON THE DOCUMENT KEY (fanout
        // = per-doc distinct-item count, array-size bounded). Support
        // denominators are a 1-row aggregate crossJoined back.
        require(schema.fieldNames.contains("objectId"),
          "frequent_item_sets needs an objectId field as the transaction key")
        val (arr, rest) = SearchQuery.splitArrayPath(p, schema)
        val items = filtered.select(
          field(doc, Seq("objectId")).as("_d"),
          explode(array_distinct(transform(field(doc, arr),
            x => rest.foldLeft(x)((c, f0) => c.getField(f0))))).as("_i"))
          .filter(col("_i").isNotNull)
        val totals = filtered.agg(count(lit(1)).cast("long").as("_n"))
        val singles = items.groupBy(col("_i"))
          .agg(count(lit(1)).cast("long").as("doc_count"))
          .select(col("_i").cast("string").as("key"), lit(1L).as("set_size"),
            col("doc_count"))
        val a = items.select(col("_d"), col("_i").as("_ia"))
        val b2 = items.select(col("_d").as("_d2"), col("_i").as("_ib"))
        val pairs = a.join(b2, col("_d") === col("_d2") && col("_ia") < col("_ib"))
          .groupBy(col("_ia"), col("_ib"))
          .agg(count(lit(1)).cast("long").as("doc_count"))
          .select(concat(col("_ia").cast("string"), lit("|"),
            col("_ib").cast("string")).as("key"), lit(2L).as("set_size"), col("doc_count"))
        singles.unionByName(pairs).crossJoin(totals)
          .withColumn("support", col("doc_count").cast("double") / col("_n"))
          .filter(col("support") >= minSup)
          .drop("_n")
          .orderBy(col("doc_count").desc, col("key").asc)
          .limit(size0)
      case Right(Buckets(GeoLine(p, sp, size0), Nil, None, Nil, None, Nil, None, None)) =>
        // bounded TakeOrderedAndProject by the sort field, ONE
        // size-bounded collect_list, `complete` from a 1-row count
        val la = field(ctx, p :+ "lat")
        val lo = field(ctx, p :+ "lon")
        val sv = field(ctx, sp)
        val pts = rows.filter(la.isNotNull && lo.isNotNull && sv.isNotNull)
        val total = pts.agg(count(lit(1)).cast("long").as("_n"))
        pts.select(sv.as("_s"),
            concat(la.cast("string"), lit(","), lo.cast("string")).as("_pt"))
          .orderBy(col("_s").asc, col("_pt").asc)
          .limit(size0)
          .agg(transform(array_sort(collect_list(struct(col("_s"), col("_pt")))),
            x => x.getField("_pt")).as("line"))
          .crossJoin(total)
          .select(col("line"), (col("_n") <= size0).as("complete"))
      case Right(Buckets(RandomSample(hashF, prob), ms, None, Nil, None, Nil, None, None)) =>
        // deterministic probability-p draw: 60-bit md5-prefix hash <
        // p·2^60 (a pushdown-eligible filter — the corpus prunes BEFORE
        // any aggregation); sub-agg values scale back to corpus
        // estimates per the [[RandomSample]] contract
        val hf = field(doc, hashF).cast("string")
        val h = conv(substring(md5(hf), 1, 15), 16, 10).cast("long")
        val threshold = (prob * (1L << 60).toDouble).toLong
        val sampled = filtered.filter(h < threshold)
        val scaled = ms.flatMap { case (n, m) =>
          val v = field(doc, m.path)
          m.kind match {
            case "sum" => Seq((sum(v).cast("double") / prob).as(n))
            case "value_count" =>
              Seq(round(count(v).cast("double") / prob).cast("long").as(n))
            case "avg" => Seq(avg(v).as(n))
            case "min" => Seq(min(v).as(n))
            case "max" => Seq(max(v).as(n))
          }
        }
        sampled.agg(
          round(count(lit(1)).cast("double") / prob).cast("long").as("doc_count"),
          scaled: _*)
      case Right(Buckets(AdjacencyMatrix(bs), ms, None, Nil, None, Nil, None, None)) =>
        // singles in body order, then pairwise intersections a&b (i<j in
        // body order); ES drops empty INTERSECTION buckets — and empty
        // singles too in its response; we keep ES's exact contract:
        // doc_count 0 buckets are omitted entirely
        val compiled = bs.map { case (n, q0) => n -> SearchQuery.compile(q0, ctx) }
        val pairs = for {
          i <- compiled.indices; j <- compiled.indices if i < j
        } yield (s"${compiled(i)._1}&${compiled(j)._1}", compiled(i)._2 && compiled(j)._2)
        condBuckets(compiled ++ pairs, ms).filter(col("doc_count") > 0)
      case Right(Buckets(DateRangeAgg(p, rs), ms, None, Nil, None, Nil, None, None)) =>
        val v = field(ctx, p)
        condBuckets(rs.map { case (ck, lo, hi) =>
          val key = ck.getOrElse(s"${lo.getOrElse("*")}-${hi.getOrElse("*")}")
          val pred = (lo.map(x => v >= to_date(lit(x))).toSeq ++
            hi.map(x => v < to_date(lit(x))).toSeq).reduce(_ && _)
          key -> pred
        }, ms)
      case Right(Buckets(MissingAgg(p, isArr), ms, None, Nil, None, Nil, None, None)) =>
        // the one bucket of value-less documents; for an array field ES's
        // "no indexed value" includes the empty array (same as `exists`)
        val c0 = field(ctx, p)
        condBuckets(Seq("missing" -> (if (isArr) c0.isNull || size(c0) === 0 else c0.isNull)), ms)
      case Right(Buckets(c: CompositeAgg, ms, None, Nil, None, Nil, None, None)) =>
        // one hash aggregation on the composite key; `after` is a
        // lexicographic key-tuple filter over the bucket table and the
        // page is a bounded TakeOrderedAndProject — the agg that can walk
        // ALL buckets at 100 TB, one page per pass. Documents with a null
        // key value are skipped (ES's missing_bucket:false default).
        // per-source bucket expression: raw value, fixed integer bin, or
        // calendar bin (day-or-coarser → DATE key, same as date_histogram)
        def srcKey(s0: CompositeSource): Column = s0.kind match {
          case "terms" => field(ctx, s0.path)
          case "histogram" =>
            val v = field(ctx, s0.path)
            (v - pmod(v, lit(s0.interval))).cast("long")
          case "date_histogram" => date_trunc(s0.unit, field(ctx, s0.path)).cast("date")
        }
        def afterLit(s0: CompositeSource, v: Any): Column =
          if (s0.kind == "date_histogram") to_date(lit(v.toString)) else lit(v)
        val keyCols = c.sources.map(s => srcKey(s).as(s.name))
        // missing_bucket sources keep their null-keyed bucket (ordered
        // first asc / last desc — Spark's default null ordering); the
        // rest drop null-valued docs (ES's default)
        val strictNull = c.sources.filterNot(_.missingBucket)
          .map(s => field(ctx, s.path).isNotNull)
        var g = strictNull.reduceOption(_ && _).fold(rows)(rows.filter)
          .groupBy(keyCols: _*)
          .agg(count(lit(1)).as("doc_count"),
            ms.flatMap { case (n, m) => metricCols(n, m) }: _*)
        c.after.foreach { vals =>
          val afterPred = c.sources.zip(vals).foldRight(lit(false)) { case ((src, v), rest) =>
            val k = col(src.name)
            if (v == null) {
              // cursor is INSIDE the null-keyed group of a missing_bucket
              // source: on asc (nulls first) everything non-null is still
              // to come; on desc (nulls last) only the null group remains
              val beyond = if (src.asc) k.isNotNull else lit(false)
              beyond || (k.isNull && rest)
            } else {
              val av = afterLit(src, v)
              // a null key sorts BEFORE any after value on asc (already
              // paged past) and AFTER every value on desc (still to come)
              val beyond = if (src.asc) k > av else k < av || k.isNull
              beyond || (k === av && rest)
            }
          }
          g = g.filter(afterPred)
        }
        g.orderBy(c.sources.map(s => if (s.asc) col(s.name).asc else col(s.name).desc): _*)
          .limit(c.size)
      case Right(Buckets(DiversifiedSample(hashF, dp, shardSize, maxPer),
                         ms, None, Nil, None, Nil, None, None)) =>
        // per-value diversity rank (WindowGroupLimit: bounded heap per
        // value BEFORE the shuffle), then the shard_size smallest-hash
        // rows (TakeOrderedAndProject) — no global sort, ever. Metrics
        // run on the ≤ shard_size-row sample.
        val hf = field(doc, hashF).cast("string")
        val h = conv(substring(md5(hf), 1, 15), 16, 10).cast("long")
        val ranked = filtered
          .select(doc.as(docCol), h.as("_h"), hf.as("_hf"))
          .withColumn("_dr", row_number().over(
            W.partitionBy(field(doc, dp)).orderBy(col("_h").asc, col("_hf").asc)))
          .filter(col("_dr") <= maxPer)
        val sample = ranked.orderBy(col("_h").asc, col("_hf").asc).limit(shardSize)
        sample.agg(count(lit(1)).as("doc_count"),
          ms.flatMap { case (n, m) => metricCols(n, m, resolve = p0 => field(doc, p0)) }: _*)
      case Right(Buckets(SignificantText(p, topN, sampleN, hashF), Nil, None, Nil, None, Nil,
                         None, None)) =>
        // sampler + significant_text — Discover's "interesting words":
        // foreground = the deterministic hash sample of the hit set (a
        // bounded TakeOrderedAndProject over the 60-bit md5-prefix hash,
        // tie-broken on the hash_field value itself), background = the
        // WHOLE corpus. Each document contributes each analyzed token
        // ONCE (doc frequency); JLH denominators are the SAMPLE size and
        // the CORPUS doc count (two 1-row broadcast frames — the d61
        // contract at token grain). Corpus-sized work is ONE explode +
        // hash agg for the background vocabulary; the foreground side is
        // bounded by shard_size, so it broadcasts into the vocab join.
        val txt = field(doc, p)
        val hf = field(doc, hashF).cast("string")
        val h = conv(substring(md5(hf), 1, 15), 16, 10).cast("long")
        val sampled = filtered
          .select(h.as("_h"), hf.as("_hf"), txt.as("_txt"))
          .orderBy(col("_h").asc, col("_hf").asc).limit(sampleN)
          .persist()
        val fgTok = sampled
          .select(explode(array_distinct(graft.ext.TextAnalysis.analyze(col("_txt")))).as("key"))
          .groupBy(col("key")).agg(count(lit(1)).cast("long").as("doc_count"))
        val bgTok = docs
          .select(explode(array_distinct(graft.ext.TextAnalysis.analyze(txt))).as("key"))
          .groupBy(col("key")).agg(count(lit(1)).cast("long").as("bg_count"))
        val totals = sampled.agg(count(lit(1)).cast("long").as("_ft"))
          .crossJoin(docs.agg(count(lit(1)).cast("long").as("_bt")))
        val fgPct = col("doc_count").cast("double") / col("_ft")
        val bgPct = col("bg_count").cast("double") / col("_bt")
        val scored = bgTok.join(broadcast(fgTok), Seq("key"))
          .crossJoin(broadcast(totals))
          .withColumn("score", (fgPct - bgPct) * (fgPct / bgPct))
          .select(col("key"), col("doc_count"), col("bg_count"), col("score"))
          .orderBy(col("score").desc, col("key").asc)
          .limit(topN)
        graft.Eager.finish(scored, sampled)
      case Right(Buckets(SignificantTerms(p, topN, bgQ, heur), _, None, _, _, _, _, _)) =>
        // foreground = the query's hit set; background = the WHOLE corpus,
        // so the aggregation runs UNFILTERED with a conditional foreground
        // count — one corpus shuffle. ES's JLH denominators are the
        // HIT-SET SIZE and the CORPUS DOC COUNT — not the field-bearing
        // subsets — so the group-by keeps the null-key row: each document
        // lands in exactly one bucket of the scalar key, making the
        // window totals over the |terms|-row bucket table equal the true
        // corpus/hit counts; the null-key row is dropped before scoring.
        val fgPred = SearchQuery.compile(req.query, doc)
        // background_filter restricts the aggregation base (a pushable
        // filter — still one corpus shuffle); the conditional foreground
        // count then automatically intersects fg with bg (fg ⊆ bg)
        val bgDocs = bgQ.fold(docs)(q0 => docs.filter(SearchQuery.compile(q0, doc)))
        // Inside a nested context both sides re-derive at ELEMENT grain
        // (ES counts nested docs): the fg flag is evaluated per DOCUMENT
        // before the explode and rides beside each element, so fg/bg
        // totals count elements of hit docs / of the whole corpus.
        val (base, t) = req.nestedPath match {
          case Some(np) =>
            (bgDocs.select(fgPred.as("_fg"), explode(field(doc, np)).as("_el")),
              field(col("_el"), p))
          case None => (bgDocs.select(fgPred.as("_fg"), doc.as(docCol)), field(doc, p))
        }
        val g = base.groupBy(t.as("key")).agg(
          sum(when(col("_fg"), 1L).otherwise(0L)).cast("long").as("doc_count"),
          count(lit(1)).cast("long").as("bg_count"))
        val fgPct = col("doc_count").cast("double") / col("_fg_total")
        val bgPct = col("bg_count").cast("double") / col("_bg_total")
        // alternative heuristics score the SAME 2×2 table (see the case
        // class doc): superset counts made disjoint per ES's
        // background_is_superset default, then χ² / MI in doubles
        val n11 = col("doc_count").cast("double")
        val n01 = (col("bg_count") - col("doc_count")).cast("double")
        val n10 = (col("_fg_total") - col("doc_count")).cast("double")
        val n00 = (col("_bg_total") - col("_fg_total") - n01).cast("double")
        val all = col("_bg_total").cast("double")
        val scoreCol = heur match {
          case "jlh" => (fgPct - bgPct) * (fgPct / bgPct)
          case "percentage" =>
            // ES `percentage`: subsetFreq / supersetFreq — what share of
            // the docs carrying this term are in the foreground. One
            // exact division of the two bucket-table longs.
            col("doc_count").cast("double") / col("bg_count")
          case "chi_square" =>
            val d0 = n11 * n00 - n01 * n10
            all * d0 * d0 /
              ((n11 + n01) * (n11 + n10) * (n01 + n00) * (n10 + n00))
          case "mutual_information" =>
            def cell(nxy: Column, rx: Column, cy: Column): Column =
              when(nxy > 0,
                (nxy / all) * (log(nxy * all / (rx * cy)) / log(lit(2.0))))
                .otherwise(lit(0.0))
            cell(n11, n11 + n01, n11 + n10) + cell(n01, n11 + n01, n01 + n00) +
              cell(n10, n10 + n00, n11 + n10) + cell(n00, n10 + n00, n01 + n00)
        }
        g.withColumn("_fg_total", sum(col("doc_count")).over(wAllBuckets))
          .withColumn("_bg_total", sum(col("bg_count")).over(wAllBuckets))
          .filter(col("key").isNotNull && col("doc_count") > 0)
          .withColumn("score", scoreCol)
          .drop("_fg_total", "_bg_total")
          .orderBy(col("score").desc, col("key").asc)
          .limit(topN)
      case Right(Buckets(MultiTerms(ps, size0), ms, None, Nil, None, Nil, None, None)) =>
        // composite-key terms: grouped by the COMPONENT columns (a '|'
        // inside a value can NOT merge two distinct key tuples into one
        // bucket), ordered doc_count desc then component-wise key asc —
        // ES's key-array order. The joined string is rendered for display
        // only, after grouping and ordering are settled. A doc missing
        // ANY key field lands in no bucket (the keyed-agg missing rule).
        val compNames = ps.indices.map(i => s"_k$i")
        val nonNull = ps.map(p0 => field(ctx, p0).isNotNull).reduce(_ && _)
        val outNames = ms.flatMap { case (nm, m) => metricNames(nm, m) }
        rows.filter(nonNull)
          .groupBy(ps.zip(compNames).map { case (p0, nm) => field(ctx, p0).as(nm) }: _*)
          .agg(count(lit(1)).as("doc_count"),
            ms.flatMap { case (nm, m) => metricCols(nm, m) }: _*)
          .orderBy(col("doc_count").desc +: compNames.map(col(_).asc): _*)
          .limit(size0)
          .select(concat_ws("|", compNames.map(col(_).cast("string")): _*).as("key") +:
            col("doc_count") +: outNames.map(col): _*)
      case Right(Buckets(bk, Nil, None, Nil, Some(th), Nil, None, None)) =>
        // top_hits: bucket selection happens on the AGGREGATED bucket
        // table (terms top-N → N rows, broadcast back to the corpus),
        // then ONE window partitioned by key ranks hits inside each
        // selected bucket (WindowGroupLimit) — no corpus-global ordering.
        val bucketTable = rows.filter(keyCol(bk).isNotNull).groupBy(keyCol(bk).as("key"))
          .agg(count(lit(1)).cast("long").as("doc_count"))
        val (selected, bucketOrder) = bk match {
          case Terms(_, size, order, minDoc, inc0, exc0, _, so0, pOf0) =>
            require(inc0.isEmpty && exc0.isEmpty,
              "terms include/exclude under top_hits is not implemented")
            require(pOf0.isEmpty,
              "terms include.partition under top_hits is not implemented")
            require(!so0,
              "show_term_doc_count_error under top_hits is not implemented")
            val pruned = if (minDoc > 1L) bucketTable.filter(col("doc_count") >= minDoc)
              else bucketTable
            val ord = termsOrder(order, col("doc_count"), col("key"))
            (pruned.orderBy(ord: _*).limit(size), ord)
          case _ => (bucketTable, Seq(col("key").asc))
        }
        val srcNames = th.source.map(_.mkString("_"))
        val srcCols = th.source.zip(srcNames).map { case (p, n) => field(ctx, p).as(n) }
        val sortCols = th.sorts.zipWithIndex.map { case ((p, _), i) => field(ctx, p).as(s"_s$i") }
        val hits = rows.select(keyCol(bk).as("key") +: (srcCols ++ sortCols): _*)
          .join(broadcast(selected), "key")
        val ord = th.sorts.zipWithIndex.map { case ((_, asc), i) =>
          if (asc) col(s"_s$i").asc_nulls_last else col(s"_s$i").desc_nulls_last
        } ++ srcNames.map(col(_).asc) // documented determinism tiebreak
        hits.withColumn("rank",
            row_number().over(W.partitionBy(col("key")).orderBy(ord: _*)))
          .filter(col("rank") <= th.size)
          .select(col("key") +: col("doc_count") +: col("rank") +: srcNames.map(col): _*)
          .orderBy(bucketOrder :+ col("rank").asc: _*)
      case Right(Buckets(GlobalAgg, ms, None, Nil, None, Nil, None, None)) =>
        // escapes the query context: aggregates the UNFILTERED corpus
        // even when the body carries a query (ES "percent of total")
        docs.agg(count(lit(1)).as("doc_count"),
          ms.flatMap { case (n, m) => metricCols(n, m) }: _*)
      case Right(Buckets(t @ Terms(_, size0, order0, minDoc0, inc0, exc0, _, so0, _), Nil, None, Nil,
                         None, Nil, Some(rn), None)) =>
        require(inc0.isEmpty && exc0.isEmpty,
          "terms include/exclude beside a reverse_nested is not implemented")
        require(t.partitionOf.isEmpty,
          "terms include.partition beside a reverse_nested is not implemented")
        require(!so0,
          "show_term_doc_count_error beside a reverse_nested is not implemented")
        // reverse_nested under terms: phase 1 is ONE corpus-sized hash agg
        // at (bucket key, parent id) grain — parent fields are constant
        // per group, so first() is deterministic; phase 2 re-aggregates
        // the |keys × parents|-bounded frame per key: element doc_count =
        // sum of per-parent element counts, the reverse_nested doc_count
        // = row count (distinct parents with >= 1 element in the bucket),
        // and every parent metric runs over the DEDUPED rows (each parent
        // counted once — the ES contract), so any metric kind works.
        val pp = parentPaths(rn)
        val resolve: Seq[String] => Column = p => col(s"_pf${pp.indexOf(p)}")
        val perParent = rows.filter(keyCol(t).isNotNull)
          .groupBy(keyCol(t).as("key"), col("_pid"))
          .agg(count(lit(1)).as("_el"),
            pp.indices.map(i => first(col(s"_pf$i")).as(s"_pf$i")): _*)
        val g = perParent.groupBy(col("key"))
          .agg(sum(col("_el")).cast("long").as("doc_count"),
            count(lit(1)).cast("long").as(rn.name) +:
              rn.metrics.flatMap { case (n, m) => metricCols(n, m, None, resolve) }: _*)
        val pruned = if (minDoc0 > 1L) g.filter(col("doc_count") >= minDoc0) else g
        pruned.orderBy(termsOrder(order0, col("doc_count"), col("key")): _*)
          .select(col("key") +: col("doc_count") +: col(rn.name) +:
            rn.metrics.flatMap { case (n, m) => metricNames(n, m) }.map(col): _*)
          .limit(size0)
      case Right(Buckets(t @ Terms(_, size0, order0, minDoc0, inc0, exc0, _, so0, _), Nil, None, Nil,
                         None, Nil, None, Some(nm))) =>
        require(inc0.isEmpty && exc0.isEmpty,
          "terms include/exclude beside a nested agg is not implemented")
        require(t.partitionOf.isEmpty,
          "terms include.partition beside a nested agg is not implemented")
        require(!so0,
          "show_term_doc_count_error beside a nested agg is not implemented")
        // nested metrics under a doc-grain terms split: every doc folds
        // its OWN elements with higher-order functions (per-doc partial
        // sums/mins/counts — deterministic array-order folds, identical
        // in the oracle's list_reduce), and the ONE bucket hash
        // aggregation combines the partials. No explode, no second
        // shuffle: the plan is the same single-exchange shape as a plain
        // terms agg, which is what survives a 100 TB corpus with
        // million-element documents. doc_count stays PARENT docs; the
        // nested agg's name column carries the element count (ES's
        // nested doc_count contract).
        val elems = field(ctx, nm.arrayPath)
        def vals(m: Metric): Column =
          filter(transform(elems, e => field(e, m.path).cast("double")), v => v.isNotNull)
        val metricCols0: Seq[Column] = nm.metrics.map { case (n, m) =>
          (m.kind match {
            case "avg" =>
              // guard the zero-value bucket: the per-doc partial is 0.0
              // (not null), so an unguarded 0.0/0 division yields NaN
              // where ES — and Spark's own avg — return NULL
              when(sum(size(vals(m))) > 0L,
                sum(aggregate(vals(m), lit(0.0), (a, x) => a + x)) / sum(size(vals(m))))
            case "sum" => sum(aggregate(vals(m), lit(0.0), (a, x) => a + x))
            case "min" => min(array_min(vals(m)))
            case "max" => max(array_max(vals(m)))
            case "value_count" => coalesce(sum(size(vals(m))), lit(0L)).cast("long")
          }).as(n)
        }
        val g = rows.filter(keyCol(t).isNotNull)
          .groupBy(keyCol(t).as("key"))
          .agg(count(lit(1)).as("doc_count"),
            coalesce(sum(size(elems)), lit(0L)).cast("long").as(nm.name) +: metricCols0: _*)
        val pruned = if (minDoc0 > 1L) g.filter(col("doc_count") >= minDoc0) else g
        pruned.orderBy(termsOrder(order0, col("doc_count"), col("key")): _*)
          .select(col("key") +: col("doc_count") +: col(nm.name) +:
            nm.metrics.map { case (n, _) => col(n) }: _*)
          .limit(size0)
      case Right(Buckets(b, ms, None, pipes, None, sibs, None, None)) =>
        // ES rule: a document with NO value for the bucket key lands in
        // no bucket at all (the `missing` agg is the explicit catcher).
        // hard_bounds CLIPS first — by the rounded bucket KEY, not the
        // raw value (ES `DoubleBounds.contain` runs on the key, both ends
        // inclusive), so a bucket whose key sits on `max` keeps ALL its
        // documents even when their raw values exceed max. The filter is
        // a scan-stage predicate on the key expression — still evaluated
        // before the aggregation shuffle, so at scale it prunes work.
        val hbRows = b match {
          case Histogram(_, _, _, _, _, Some((lo, hi))) =>
            rows.filter(keyCol(b) >= lo && keyCol(b) <= hi)
          case _ => rows
        }
        val grouped = hbRows.filter(keyCol(b).isNotNull).groupBy(keyCol(b).as("key"))
          .agg(count(lit(1)).as("doc_count"),
            ms.flatMap { case (n, m) => metricCols(n, m) }: _*)
        /** min_doc_count = 0: zero-fill the empty bins between the
          * observed min and max keys — the Kibana gap-filling contract,
          * and the thing that makes a downstream derivative/
          * cumulative_sum correct over gaps. Each bucket emits the key
          * range up to (exclusive) its successor (`lead` + `sequence` +
          * explode), so the fill is derived from the bucket table in ONE
          * pass — no second corpus aggregation, no join; the only added
          * work is a |buckets|-row window. */
        def zeroFill(t0: DataFrame, step: Column): DataFrame = {
          val names = ms.flatMap { case (n, m) => metricNames(n, m) }
          val wk = bucketW.orderBy(col("key").asc)
          t0.withColumn("_next", lead(col("key"), 1).over(wk))
            .select(Seq(col("key").as("_okey"), col("_next"), col("doc_count").as("_dc")) ++
              names.map(n => col(n).as(s"_m_$n")) :+
              explode(sequence(col("key"), coalesce(col("_next"), col("key")), step)).as("key"): _*)
            .filter(col("_next").isNull || col("key") =!= col("_next"))
            .select(col("key") +:
              when(col("key") === col("_okey"), col("_dc")).otherwise(lit(0L)).as("doc_count") +:
              names.map(n => when(col("key") === col("_okey"), col(s"_m_$n")).as(n)): _*)
        }
        /** extended_bounds: guarantee the two (grid-snapped) bound keys
          * exist as buckets — a 2-row full-outer join against the bucket
          * table (metrics null, count zero-filled); the interior then
          * fills via zeroFill's lead+sequence walk. This is how a Kibana
          * panel pins its x-axis to the picker's range regardless of
          * where the data starts. */
        def extendBounds(t: DataFrame, loKey: Column, hiKey: Column): DataFrame = {
          val edges = t.sparkSession.range(1)
            .select(explode(array(loKey, hiKey)).as("key")).distinct()
          edges.join(t, Seq("key"), "full_outer")
            .withColumn("doc_count", coalesce(col("doc_count"), lit(0L)))
        }
        def calStep(unit: String): Column = expr(unit match {
          case "minute" => "interval 1 minute"
          case "hour" => "interval 1 hour"
          case "day" => "interval 1 day"
          case "week" => "interval 7 days" // keys are week-start dates
          case "month" => "interval 1 month"
          case "quarter" => "interval 3 months"
          case "year" => "interval 1 year"
        })
        var table = grouped
        var finalOrder: Seq[Column] = Seq(col("key").asc)
        b match {
          case Terms(_, size, order, minDoc, inc, exc, _, showOther, partOf) =>
            // min_doc_count: 0 — the dictionary comes from the UNFILTERED
            // corpus (one distinct-key aggregation; parse guarantees no
            // metrics/sub-aggs ride along), left-joined so query-empty
            // terms render with doc_count 0 (the Kibana toggle contract)
            if (minDoc == 0L) {
              val dict = docs.select(keyCol(b).as("key"))
                .filter(col("key").isNotNull).distinct()
              table = dict.join(table, Seq("key"), "left_outer")
                .withColumn("doc_count", coalesce(col("doc_count"), lit(0L)))
            }
            // include/exclude act on the |terms|-row bucket table, before
            // pruning and top-N (ES ordering of operations). ES regexes
            // are fully anchored — rlike is not, so anchor explicitly.
            def keyMatch(spec: Either[String, Seq[String]]): Column = spec match {
              case Left(re) => col("key").cast("string").rlike(s"^(?:$re)$$")
              case Right(vs) => col("key").cast("string").isin(vs: _*)
            }
            inc.foreach(i => table = table.filter(keyMatch(i)))
            exc.foreach(e => table = table.filter(!keyMatch(e)))
            // partition paging: keep only the terms hashing into the
            // requested partition (engine md5 bridge — see the case
            // class doc) — a |terms|-row filter before pruning/top-N
            partOf.foreach { case (p0, n0) =>
              table = table.filter(pmod(graft.ext.TextFunctions.stableHash32(
                col("key").cast("string")), lit(n0.toLong)) === p0.toLong)
            }
            if (showOther) {
              require(pipes.isEmpty && sibs.isEmpty,
                "show_term_doc_count_error beside pipeline/sibling aggs is not implemented")
              // grand total over the (post-include/exclude) bucket table,
              // BEFORE pruning: ES's sum_other counts every term not in
              // the returned page, including min_doc_count casualties —
              // a |terms|-row window, never a second corpus pass
              table = table.withColumn("_all_dc", sum(col("doc_count")).over(wAllBuckets))
            }
            if (minDoc > 1L) table = table.filter(col("doc_count") >= minDoc)
            finalOrder = termsOrder(order, col("doc_count"), col("key"))
            table = table.orderBy(finalOrder: _*).limit(size)
            if (showOther)
              // the page is ≤ size rows; both windows run on that page
              table = table
                .withColumn("sum_other_doc_count",
                  (max(col("_all_dc")).over(wAllBuckets) -
                    sum(col("doc_count")).over(wAllBuckets)).cast("long"))
                .withColumn("doc_count_error_upper_bound", lit(0L))
                .drop("_all_dc")
          case RareTerms(_, maxDc) =>
            // the long tail: everything AT OR BELOW the ceiling, count-asc
            table = table.filter(col("doc_count") <= maxDc)
            finalOrder = Seq(col("doc_count").asc, col("key").asc)
          case Histogram(_, interval, 0L, off, eb, None) =>
            eb.foreach { case (lo, hi) =>
              // snap the literal bounds onto the bucket grid (parse-time
              // constants — plain Long arithmetic)
              def snap(x: Long) = x - java.lang.Math.floorMod(x - off, interval)
              table = extendBounds(table, lit(snap(lo)), lit(snap(hi)))
            }
            table = zeroFill(table, lit(interval))
          case DateHistogram(_, unit, 0L, eb, None) =>
            eb.foreach { case (lo, hi) =>
              def bcol(v: String) = {
                val t0 = date_trunc(unit, to_date(lit(v)))
                if (unit == "minute" || unit == "hour") t0 else t0.cast("date")
              }
              table = extendBounds(table, bcol(lo), bcol(hi))
            }
            table = zeroFill(table, calStep(unit))
          case Histogram(_, _, minDoc, _, _, _) if minDoc > 1L =>
            table = table.filter(col("doc_count") >= minDoc)
          case DateHistogram(_, _, minDoc, _, _) if minDoc > 1L =>
            table = table.filter(col("doc_count") >= minDoc)
          case FixedDateHistogram(_, _, minDoc) if minDoc > 1L =>
            table = table.filter(col("doc_count") >= minDoc)
          case _ => ()
        }
        // pipeline aggs: a |buckets|-row second pass in declaration order
        // — windows/filters over the bucket table, never the corpus (ES
        // computes them on the response's bucket list too)
        def tcol(t: String): Column =
          if (t == "_count") col("doc_count") else if (t == "_key") col("key") else col(t)
        val keyW = bucketW.orderBy(col("key").asc)
        pipes.foreach {
          case CumulativeSum(n, t) =>
            table = table.withColumn(n,
              sum(tcol(t)).over(keyW.rowsBetween(W.unboundedPreceding, W.currentRow)))
          case Derivative(n, t) =>
            table = table.withColumn(n, tcol(t) - lag(tcol(t), 1).over(keyW))
          case BucketSelector(targets, le, op, re) =>
            def comp(e0: graft.docs.SearchQuery.ScriptExpr): Column =
              SearchQuery.compileScriptWith(e0, p => tcol(targets(p.head)), lit(0.0))
            val (c0, rhs) = (comp(le), comp(re))
            table = table.filter(op match {
              case ">" => c0 > rhs
              case ">=" => c0 >= rhs
              case "<" => c0 < rhs
              case "<=" => c0 <= rhs
              case "==" => c0 === rhs
              case "!=" => c0 =!= rhs
            })
          case MovingAvg(n, t, window, fn, alpha, beta) =>
            // trailing-window reduction over exact integers (avg = exact
            // window-sum / count — no float accumulation; max/min/sum
            // are the other MovingFunctions Kibana emits). ES shift=0
            // semantics: the window is the last n values EXCLUDING the
            // current bucket (so the first bucket has no value). The
            // ewma/linearWeightedAvg/holt MODELS unroll their skip-NaN
            // fold over the window's lag columns at plan time (window is
            // a parse-time constant) — a fixed IEEE op sequence the
            // oracle reproduces exactly; see [[MovingAvg]].
            val mw = keyW.rowsBetween(-window.toLong, -1L)
            def lagV(i: Int): Column = lag(tcol(t), i).over(keyW).cast("double")
            table = table.withColumn(n, fn match {
              case "avg" => sum(tcol(t)).over(mw).cast("double") / count(tcol(t)).over(mw)
              case "max" => max(tcol(t)).over(mw).cast("double")
              case "min" => min(tcol(t)).over(mw).cast("double")
              case "sum" => sum(tcol(t)).over(mw).cast("double")
              case "ewma" =>
                (window to 1 by -1).foldLeft(lit(null).cast("double")) { (acc, i) =>
                  val v = lagV(i)
                  when(v.isNull, acc).otherwise(
                    when(acc.isNull, v)
                      .otherwise(v * lit(alpha) + acc * lit(1 - alpha)))
                }
              case "linearWeightedAvg" =>
                // weight of the value at lag i = count of non-null values
                // in [-window, -i] (ES increments the weight per non-NaN
                // value, so interior nulls keep the ladder contiguous)
                def w(i: Int): Column =
                  count(tcol(t)).over(keyW.rowsBetween(-window.toLong, -i.toLong))
                    .cast("double")
                val num = (1 to window).map { i =>
                  val v = lagV(i)
                  when(v.isNotNull, v * w(i)).otherwise(lit(0.0))
                }.reduce(_ + _)
                val den = (1 to window).map { i =>
                  when(lagV(i).isNotNull, w(i)).otherwise(lit(0.0))
                }.reduce(_ + _)
                when(den > 0, num / den)
              case "holt" =>
                // ES MovingFunctions.holtForecast: seed s = first non-NaN
                // value with b = 0, then s' = α·v + (1-α)(s+b),
                // b' = β·(s'-s) + (1-β)·b — and the bucket VALUE is the
                // one-step forecast s + b (holt() returns
                // holtForecast(values, α, β, 1)[0] = s + b·1). Returning
                // the level s alone was a documented deviation until r10;
                // this is now the exact upstream op sequence.
                val init = struct(lit(null).cast("double").as("s"),
                  lit(null).cast("double").as("b"))
                val folded = (window to 1 by -1).foldLeft(init) { (acc, i) =>
                  val v = lagV(i)
                  val (s0, b0) = (acc.getField("s"), acc.getField("b"))
                  val sN = lit(alpha) * v + lit(1 - alpha) * (s0 + b0)
                  val bN = lit(beta) * (sN - s0) + lit(1 - beta) * b0
                  when(v.isNull, acc).otherwise(
                    when(s0.isNull, struct(v.as("s"), lit(0.0).as("b")))
                      .otherwise(struct(sN.as("s"), bN.as("b"))))
                }
                folded.getField("s") + folded.getField("b")
            })
          case SerialDiff(n, t, lagN) =>
            table = table.withColumn(n, tcol(t) - lag(tcol(t), lagN).over(keyW))
          case BucketScript(n, targets, e0) =>
            table = table.withColumn(n,
              SearchQuery.compileScriptWith(e0, p => tcol(targets(p.head)), lit(0.0)))
          case Normalize(n, t, method) =>
            val c0 = tcol(t)
            table = method match {
              case "percent_of_sum" =>
                // ES returns the FRACTION of the total (not ×100): exact
                // integer numerator/denominator, ONE double division
                table.withColumn(n, c0.cast("double") / sum(c0).over(wAllBuckets))
              case "rescale_0_1" =>
                table.withColumn(n, (c0 - min(c0).over(wAllBuckets)).cast("double") /
                  (max(c0).over(wAllBuckets) - min(c0).over(wAllBuckets)))
            }
          case CumulativeCardinality(n, t) =>
            // first-occurrence counts from the corpus (one aggregation at
            // field-value grain), broadcast onto the bucket table, running
            // sum in key order — see [[CumulativeCardinality]]
            val m0 = ms.toMap.apply(t) // parse guarantees a cardinality metric
            val vCol = field(ctx, m0.path)
            val firsts = rows.filter(keyCol(b).isNotNull && vCol.isNotNull)
              .groupBy(vCol.as("_ccv")).agg(min(keyCol(b)).as("key"))
              .groupBy(col("key")).agg(count(lit(1)).as("_ccnew"))
            table = table.join(broadcast(firsts), Seq("key"), "left")
              .withColumn(n, sum(coalesce(col("_ccnew"), lit(0L)))
                .over(keyW.rowsBetween(W.unboundedPreceding, W.currentRow)).cast("long"))
              .drop("_ccnew")
          case MovingPercentiles(n, t, window, ps) =>
            // exact trailing-window percentiles, current bucket excluded
            val mw = keyW.rowsBetween(-window.toLong, -1L)
            ps.foreach(p0 => table = table.withColumn(s"${n}_p${fmtPercent(p0)}",
              percentile(tcol(t), lit(p0 / 100.0)).over(mw)))
          case RateAgg(n, t) =>
            // calendar-aware day count: datediff over the bucket step
            val unit = b match {
              case DateHistogram(_, u, _, _, _) => u
              case other => throw new IllegalStateException(s"rate parent: $other")
            }
            val days = datediff(to_date(col("key") + calStep(unit)), col("key"))
            table = table.withColumn(n, tcol(t).cast("double") / days)
          case BucketSort(sorts, from, sz) =>
            val ord = sorts.map { case (t, asc) =>
              if (asc) tcol(t).asc_nulls_last else tcol(t).desc_nulls_last
            } :+ col("key").asc
            finalOrder = ord
            if (from > 0 || sz.nonEmpty) {
              val rn = row_number().over(bucketW.orderBy(ord: _*))
              table = table.withColumn("_bsrn", rn)
                .filter(col("_bsrn") > from &&
                  sz.map(z => col("_bsrn") <= from + z).getOrElse(lit(true)))
                .drop("_bsrn")
            }
        }
        // sibling *_bucket values: one constant column per sibling over
        // the FINAL bucket list (|buckets| rows; ES renders them beside
        // the list, a relational frame repeats them per row)
        sibs.foreach { case sb @ Sibling(n, kind, t, percents, curve, sbSigma) =>
          val wAll = wAllBuckets
          val c0 = tcol(t)
          table = kind match {
            case "sum_bucket" => table.withColumn(n, sum(c0).over(wAll))
            case "min_bucket" => table.withColumn(n, min(c0).over(wAll))
            case "max_bucket" => table.withColumn(n, max(c0).over(wAll))
            case "avg_bucket" =>
              table.withColumn(n, sum(c0).over(wAll).cast("double") / count(c0).over(wAll))
            case "extended_stats_bucket" =>
              // extended_stats over the bucket-value list — the same
              // population-variance formula as the extended_stats metric
              // (sos/n − mean², ES's own), as |buckets|-row windows
              val nW = count(c0).over(wAll)
              val s1 = sum(c0).over(wAll).cast("double")
              val sos = sum(c0 * c0).over(wAll).cast("double")
              val mean = s1 / nW
              val variance = sos / nW - mean * mean
              val sd = sqrt(variance)
              table.withColumn(s"${n}_count", nW)
                .withColumn(s"${n}_min", min(c0).over(wAll))
                .withColumn(s"${n}_max", max(c0).over(wAll))
                .withColumn(s"${n}_avg", mean)
                .withColumn(s"${n}_sum", s1)
                .withColumn(s"${n}_sum_of_squares", sos)
                .withColumn(s"${n}_variance", variance)
                .withColumn(s"${n}_std_deviation", sd)
                .withColumn(s"${n}_std_deviation_bounds_upper", mean + lit(sbSigma) * sd)
                .withColumn(s"${n}_std_deviation_bounds_lower", mean - lit(sbSigma) * sd)
            case "stats_bucket" =>
              // the five basics over the bucket list, same shapes as the
              // stats metric (avg as exact sum/count, ES doubles)
              table.withColumn(s"${n}_count", count(c0).over(wAll))
                .withColumn(s"${n}_min", min(c0).over(wAll))
                .withColumn(s"${n}_max", max(c0).over(wAll))
                .withColumn(s"${n}_avg", sum(c0).over(wAll).cast("double") / count(c0).over(wAll))
                .withColumn(s"${n}_sum", sum(c0).over(wAll).cast("double"))
            case "percentiles_bucket" =>
              // EXACT linear-interpolated percentiles over the |buckets|
              // values (the percentile aggregate as a window function)
              percents.foldLeft(table)((t0, p0) =>
                t0.withColumn(s"${n}_p${fmtPercent(p0)}",
                  percentile(c0, lit(p0 / 100.0)).over(wAll)))
            case "change_point" =>
              // deterministic step-change split statistic (see the
              // [[Sibling]] doc for the ES deviation): every candidate
              // split scored off cumulative sums, argmax (key-asc ties)
              // rendered as constant columns — all |buckets|-row windows
              val kw = bucketW.orderBy(col("key").asc)
              val t1 = table
                .withColumn("_cpc", c0.cast("double"))
                .withColumn("_cpi", row_number().over(kw))
                .withColumn("_cps",
                  sum(col("_cpc")).over(kw.rowsBetween(W.unboundedPreceding, W.currentRow)))
                .withColumn("_cpn", count(lit(1)).over(wAll))
                .withColumn("_cpt", sum(col("_cpc")).over(wAll))
              val nl = (col("_cpi") - 1L).cast("double")
              val nr = (col("_cpn") - col("_cpi") + 1L).cast("double")
              val ml = (col("_cps") - col("_cpc")) / nl
              val mr = (col("_cpt") - (col("_cps") - col("_cpc"))) / nr
              val t2 = t1.withColumn("_cpscore",
                when(col("_cpi") >= 2, abs(mr - ml) * sqrt(nl * nr / (nl + nr))))
              val bw = bucketW.orderBy(col("_cpscore").desc_nulls_last, col("key").asc)
                .rowsBetween(W.unboundedPreceding, W.currentRow)
              t2.withColumn(s"${n}_key", first(col("key")).over(bw))
                .withColumn(s"${n}_score", first(col("_cpscore")).over(bw))
                .drop("_cpc", "_cpi", "_cps", "_cpn", "_cpt", "_cpscore")
            case "bucket_count_ks_test" =>
              // Kolmogorov–Smirnov distance between the bucket doc-count
              // distribution (key order) and the body's expected
              // `fractions`: D⁺/D⁻/D over the two CDFs — all
              // |buckets|-row windows. DOCUMENTED DEVIATION: ES returns
              // simulated p-values per `alternative`; this engine
              // renders the deterministic statistics themselves (the
              // t_test p-value rule). The expected CDF is prefix-summed
              // at PARSE time and embedded as literals — the oracle
              // interpolates the identical doubles.
              val total = curve.sum
              val expCdf = curve.scanLeft(0.0)(_ + _).tail.map(_ / total)
              val kw2 = bucketW.orderBy(col("key").asc)
              val t1 = table
                .withColumn("_ksi", row_number().over(kw2))
                .withColumn("_kscum",
                  sum(c0.cast("double")).over(kw2.rowsBetween(W.unboundedPreceding, W.currentRow)))
                .withColumn("_kstot", sum(c0.cast("double")).over(wAll))
              val empCdf = col("_kscum") / col("_kstot")
              val expC = try_element_at(lit(expCdf.toArray), col("_ksi"))
              val t2 = t1
                .withColumn("_ksdp", when(expC.isNotNull, empCdf - expC))
                .withColumn("_ksdm", when(expC.isNotNull, expC - empCdf))
              t2.withColumn(s"${n}_d_plus", greatest(max(col("_ksdp")).over(wAll), lit(0.0)))
                .withColumn(s"${n}_d_minus", greatest(max(col("_ksdm")).over(wAll), lit(0.0)))
                .withColumn(s"${n}_d",
                  greatest(col(s"${n}_d_plus"), col(s"${n}_d_minus")))
                .drop("_ksi", "_kscum", "_kstot", "_ksdp", "_ksdm")
            case "bucket_correlation" =>
              // Pearson r between the bucket values in key order and the
              // body's expectations curve, from explicit moment sums over
              // the |buckets|-row table (NOT the builtin corr: its
              // ANSI-mode division throws on a zero-variance side, and
              // its merge formula differs across engines; the moment
              // form is exact-integer until one division). Zero variance
              // on either side → null, ES's undefined-correlation case.
              val idxed = table.withColumn("_bci",
                row_number().over(bucketW.orderBy(col("key").asc)))
              val x0 = c0.cast("double")
              val y0 = try_element_at(lit(curve.toArray), col("_bci"))
              val xn = when(y0.isNotNull, x0)
              val nn = count(xn).over(wAll).cast("double")
              val sx = sum(xn).over(wAll)
              val sy = sum(y0).over(wAll)
              val sxx = sum(xn * xn).over(wAll)
              val syy = sum(y0 * y0).over(wAll)
              val sxy = sum(xn * y0).over(wAll)
              val den = sqrt((nn * sxx - sx * sx) * (nn * syy - sy * sy))
              idxed.withColumn(n,
                  when(den =!= 0.0, (nn * sxy - sx * sy) / den))
                .drop("_bci")
          }
        }
        table.orderBy(finalOrder: _*)
      case Right(Buckets(FiltersAgg(bs, None), Nil, Some(child), Nil, None, Nil, None, None)) =>
        // Kibana "split chart by filters": filters parent × one child
        // bucket level. ONE hash aggregation on the CHILD key carrying a
        // conditional doc_count (+ conditional leaf metrics) per filter —
        // corpus-sized work ends there; the F-way unfold, parent totals,
        // and per-filter child top-N are |child buckets|-row windows.
        // Parent doc_count keeps the ES parent-count contract: documents
        // matching the filter but missing the child key ride the null-key
        // row into the window total, then drop before ranking.
        val preds = bs.map { case (_, q) =>
          coalesce(predCol(q), lit(false)) }
        val leafMs = child.metrics
        val outNames = leafMs.flatMap { case (n, m) => metricNames(n, m) }
        val aggCols = bs.indices.flatMap { i =>
          sum(when(preds(i), 1L).otherwise(0L)).cast("long").as(s"_dc_$i") +:
            leafMs.flatMap { case (n, m) => metricCols(s"_m${i}_$n", m, Some(preds(i))) }
        }
        val g = rows.groupBy(keyCol(child.bucket).as("key2"))
          .agg(aggCols.head, aggCols.tail: _*)
        val withTotals = bs.indices.foldLeft(g)((t, i) =>
          t.withColumn(s"_tot_$i", sum(col(s"_dc_$i")).over(wAllBuckets).cast("long")))
        val structs = bs.zipWithIndex.map { case ((name, _), i) =>
          struct(lit(i).as("_ord") +: lit(name).as("key") +:
            col(s"_tot_$i").as("doc_count") +: col(s"_dc_$i").as("doc_count2") +:
            outNames.map(n => col(s"_m${i}_$n").as(n)): _*)
        }
        // ES `filters` ALWAYS emits every named bucket (unlike terms) —
        // a filter whose matches all lack the child key, or that matches
        // nothing, still renders with its parent doc_count and an empty
        // child list. Flat rendering: one placeholder row (key2 null,
        // doc_count2 0, metrics null) per such filter, detected with a
        // per-filter survivor count — |child buckets|-row windows only.
        val surv = col("key2").isNotNull && col("doc_count2") > 0
        var out = withTotals.select(col("key2"), explode(array(structs: _*)).as("_b"))
          .select(col("_b._ord").as("_ord") +: col("_b.key").as("key") +:
            col("_b.doc_count").as("doc_count") +: col("key2") +:
            col("_b.doc_count2").as("doc_count2") +:
            outNames.map(n => col(s"_b.$n").as(n)): _*)
          .withColumn("_ph",
            sum(when(surv, 1L).otherwise(0L)).over(W.partitionBy(col("_ord"))) === 0L)
          .withColumn("_pn", row_number().over(
            W.partitionBy(col("_ord")).orderBy(col("key2").asc_nulls_first)))
          .filter(surv || (col("_ph") && col("_pn") === 1)).drop("_pn")
        out = out
          .withColumn("key2", when(col("_ph"), lit(null)).otherwise(col("key2")))
          .withColumn("doc_count2", when(col("_ph"), lit(0L)).otherwise(col("doc_count2")))
        out = outNames.foldLeft(out)((t, n0) =>
          t.withColumn(n0, when(col("_ph"), lit(null)).otherwise(col(n0))))
        val childOrd = child.bucket match {
          case Terms(_, size0, order0, minDoc0, _, _, _, _, _) =>
            if (minDoc0 > 1L)
              out = out.filter(col("_ph") || col("doc_count2") >= minDoc0)
            val ord = termsOrder(order0, col("doc_count2"), col("key2"))
            out = out.withColumn("_rk",
                row_number().over(W.partitionBy(col("key")).orderBy(ord: _*)))
              .filter(col("_rk") <= size0).drop("_rk")
            ord
          case _ => Seq(col("key2").asc)
        }
        out.orderBy(col("_ord").asc +: childOrd: _*).drop("_ord", "_ph")
      case Right(b0 @ Buckets(_, _, Some(_), Nil, None, Nil, None, None)) =>
        // Multi-level split (Kibana "split series" / "split rows ×2", 2-3
        // levels): ONE hash aggregation on the full composite key —
        // corpus-sized work ends there — then per-level counts, pruning
        // and top-N as windows over the BUCKET table (|buckets| rows,
        // bounded by key cardinality, never by the corpus).
        //
        // ES null semantics at depth: only the ROOT key excludes null-key
        // documents from the aggregation. A document with a parent key
        // but no CHILD-field value still counts in the parent bucket's
        // doc_count (and therefore its min_doc_count pruning and
        // doc_count-ordered top-N) — it just appears in no child bucket.
        // The null-child rows ride the aggregation so the ancestor counts
        // are right, then drop just before their own level's ranking. A
        // parent whose documents ALL lack the child field keeps its ES
        // bucket (with an empty child list) but yields no rows here — the
        // flat leaf rendering has one row per leaf bucket.
        def levelsOf(t: Buckets): Seq[Buckets] = t +: t.sub.toSeq.flatMap(levelsOf)
        val lvls = levelsOf(b0)
        val n = lvls.size
        val leafMs = lvls.last.metrics
        def kname(i: Int) = if (i == 0) "key" else s"key${i + 1}"
        def dcname(i: Int) = if (i == 0) "doc_count" else s"doc_count${i + 1}"
        def prefixW(i: Int) =
          if (i == 0) bucketW else W.partitionBy((0 until i).map(j => col(kname(j))): _*)
        // non-leaf metrics (ES allows metric sub-aggs at every level):
        // decomposable kinds only (parse-validated), carried as leaf-grain
        // PARTIALS in the same single aggregation and recombined as
        // windows over the level's key prefix — no second corpus pass.
        val parentPartials: Seq[Column] = lvls.init.zipWithIndex.flatMap { case (lvl, i) =>
          lvl.metrics.flatMap { case (nm, m) =>
            val v = field(ctx, m.path)
            m.kind match {
              case "avg" => Seq(sum(v).as(s"_pp${i}_${nm}_s"), count(v).as(s"_pp${i}_${nm}_c"))
              case "sum" => Seq(sum(v).as(s"_pp${i}_${nm}_s"))
              case "min" => Seq(min(v).as(s"_pp${i}_${nm}_m"))
              case "max" => Seq(max(v).as(s"_pp${i}_${nm}_m"))
              case "value_count" => Seq(count(v).as(s"_pp${i}_${nm}_c"))
            }
          }
        }
        val leaf = rows.filter(keyCol(lvls.head.bucket).isNotNull)
          .groupBy(lvls.indices.map(i => keyCol(lvls(i).bucket).as(kname(i))): _*)
          .agg(count(lit(1)).as(dcname(n - 1)),
            leafMs.flatMap { case (nm, m) => metricCols(nm, m) } ++ parentPartials: _*)
        // ancestor doc_counts: level-i count = sum of leaf counts over the
        // level-i key prefix, null deeper keys INCLUDED (the parent-count
        // contract above); computed BEFORE any pruning (ES: a child-level
        // min_doc_count does not change the parent's count)
        var out = lvls.indices.init.foldLeft(leaf) { (t, i) =>
          t.withColumn(dcname(i), sum(col(dcname(n - 1))).over(prefixW(i + 1)))
        }
        // recombine non-leaf metrics from the leaf partials, BEFORE any
        // pruning (same completeness contract as the ancestor counts:
        // null-child rows still contribute their partials)
        lvls.init.zipWithIndex.foreach { case (lvl, i) =>
          lvl.metrics.foreach { case (nm, m) =>
            val wI = prefixW(i + 1)
            out = m.kind match {
              case "avg" => out.withColumn(nm,
                sum(col(s"_pp${i}_${nm}_s")).over(wI).cast("double") /
                  sum(col(s"_pp${i}_${nm}_c")).over(wI))
              case "sum" => out.withColumn(nm,
                sum(col(s"_pp${i}_${nm}_s")).over(wI).cast("double"))
              case "min" => out.withColumn(nm, min(col(s"_pp${i}_${nm}_m")).over(wI))
              case "max" => out.withColumn(nm, max(col(s"_pp${i}_${nm}_m")).over(wI))
              case "value_count" => out.withColumn(nm,
                sum(col(s"_pp${i}_${nm}_c")).over(wI).cast("long"))
            }
          }
        }
        // top-down per level: drop this level's null-key rows (their
        // ancestor-count duty is done), then min_doc_count prune + top-N
        val levelOrders = lvls.indices.map { i =>
          if (i > 0) out = out.filter(col(kname(i)).isNotNull)
          lvls(i).bucket match {
            case Terms(_, size0, order0, minDoc0, inc0, exc0, _, so0, pOf0) =>
              require(pOf0.isEmpty,
                "terms include.partition on a multi-level split is not implemented")
              // include/exclude at ANY level: a bucket-table filter on
              // this level's key, applied — as in ES — before this
              // level's min_doc_count and top-N but AFTER the ancestor
              // counts were fixed (an excluded child never changes its
              // parent's doc_count or rank). Dropping the rows also
              // drops the excluded bucket's deeper descendants.
              def keyMatch(spec: Either[String, Seq[String]]): Column = spec match {
                case Left(re) => col(kname(i)).cast("string").rlike(s"^(?:$re)$$")
                case Right(vs) => col(kname(i)).cast("string").isin(vs: _*)
              }
              inc0.foreach(s0 => out = out.filter(keyMatch(s0)))
              exc0.foreach(s0 => out = out.filter(!keyMatch(s0)))
              // show_term_doc_count_error at depth: per-PARENT response
              // accuracy columns (each parent bucket's child terms agg
              // reports its own sum_other). Leaf level only — a non-leaf
              // sum_other would need once-per-bucket dedup windows that
              // nothing renders; reject loudly instead of guessing.
              require(!so0 || i == n - 1,
                "show_term_doc_count_error on a NON-LEAF level of a multi-level split is not implemented")
              // total BEFORE min_doc_count pruning (ES: sum_other counts
              // the casualties too), after include/exclude — per parent
              if (so0) out = out.withColumn("_all_dc",
                sum(col(dcname(n - 1))).over(prefixW(n - 1)))
              if (minDoc0 > 1L) out = out.filter(col(dcname(i)) >= minDoc0)
              val ord = termsOrder(order0, col(dcname(i)), col(kname(i)))
              // non-leaf: rows of one bucket share all rank columns, so
              // dense_rank selects whole buckets; leaf rows are unique
              val rk = if (i == n - 1) row_number() else dense_rank()
              out = out.withColumn("_rk", rk.over(prefixW(i).orderBy(ord: _*)))
                .filter(col("_rk") <= size0).drop("_rk")
              if (so0) out = out
                .withColumn("sum_other_doc_count",
                  (max(col("_all_dc")).over(prefixW(n - 1)) -
                    sum(col(dcname(n - 1))).over(prefixW(n - 1))).cast("long"))
                .withColumn("doc_count_error_upper_bound", lit(0L))
                .drop("_all_dc")
              ord
            case _ => Seq(col(kname(i)).asc)
          }
        }
        val soCols = lvls.last.bucket match {
          case t0: Terms if t0.showOther =>
            Seq(col("sum_other_doc_count"), col("doc_count_error_upper_bound"))
          case _ => Nil
        }
        out.select(lvls.indices.flatMap(i => Seq(col(kname(i)), col(dcname(i))))
            ++ lvls.flatMap(_.metrics).flatMap { case (nm, m) => metricNames(nm, m) }.map(col)
            ++ soCols: _*)
          .orderBy(levelOrders.flatten: _*)
      case Right(other) =>
        throw new IllegalStateException(s"unplannable aggs tree (parse should have rejected it): $other")
    }
    // auto_date_histogram: surface the chosen unit the way ES's response
    // carries `interval` — a constant column over the bucket rows
    autoUnit.fold(result)(u => result.withColumn("interval", lit(u)))
  }
}
