package graft.docs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ES `_transform` — the entity-centric PIVOT job: a continuous
  * transform groups a source index by one or more fields and materializes
  * aggregations into a destination index (`user_stats` from `events` —
  * the "one row per entity" table Kibana entity analytics reads). The
  * pivot compiles to ONE hash aggregation over the source; the dest is
  * the aggregation's output, exactly the rollup (d201) story at entity
  * grain. In production the transform runs CONTINUOUSLY by re-aggregating
  * changed buckets per checkpoint — decomposable partials only, which is
  * why the supported agg set is sum/min/max/value_count/avg (avg derived
  * as exact-decimal sum over count at read time, the d201 rule; ES
  * transforms likewise restrict to composite-agg-compatible functions).
  *
  * Double-typed fields accumulate as DECIMAL(12,2) and surface as
  * DECIMAL(28,6)-cast doubles — the engine's oracle-portable exact-sum
  * contract (a naive double sum is partial-order-dependent). Unknown
  * keys, non-terms group_bys, and unsupported aggs reject loudly. */
object Transform {

  import org.json4s._

  final case class Pivot(sourceIndex: String, destIndex: String,
                         groupBy: Seq[(String, String)], // (out name, field)
                         aggs: Seq[(String, String, String)]) // (out, kind, field)

  /** The `latest`-form transform (the other ES transform function): per
    * unique key, the most recent document by the sort field. `tiebreak`
    * is a graft extension (`graft_tiebreak`): ES leaves equal-sort-value
    * winners undefined, which a bit-exact oracle cannot — the named
    * unique column breaks ties deterministically. */
  final case class Latest(sourceIndex: String, destIndex: String,
                          uniqueKey: Seq[String], sort: String,
                          tiebreak: Option[String])

  def parseLatest(body: String): Latest = {
    val root = Lex.bodyObject("transform", body)
    val unknown = root.keySet -- Set("source", "latest", "dest")
    require(unknown.isEmpty, s"unsupported transform key(s): ${unknown.mkString(", ")}")
    val source = Lex.fields(root.getOrElse("source",
      throw new IllegalArgumentException("transform needs source")), "transform", "source")
    val srcIdx = source.get("index") match {
      case Some(JString(i)) => i
      case other => throw new IllegalArgumentException(s"source needs index: $other")
    }
    val dest = Lex.fields(root.getOrElse("dest",
      throw new IllegalArgumentException("transform needs dest")), "transform", "dest")
    val dstIdx = dest.get("index") match {
      case Some(JString(i)) => i
      case other => throw new IllegalArgumentException(s"dest needs index: $other")
    }
    val latest = Lex.fields(root.getOrElse("latest",
      throw new IllegalArgumentException("latest transform needs latest")), "transform", "latest")
    val unknownL = latest.keySet -- Set("unique_key", "sort", "graft_tiebreak")
    require(unknownL.isEmpty, s"unsupported latest key(s): ${unknownL.mkString(", ")}")
    val uk = latest.get("unique_key") match {
      case Some(JArray(ks)) if ks.nonEmpty => ks.map {
        case JString(k) => k
        case other => throw new IllegalArgumentException(s"unique_key entries must be strings: $other")
      }
      case other => throw new IllegalArgumentException(s"latest needs unique_key array: $other")
    }
    val sort = latest.get("sort") match {
      case Some(JString(f)) => f
      case other => throw new IllegalArgumentException(s"latest needs sort field: $other")
    }
    val tb = latest.get("graft_tiebreak").map {
      case JString(f) => f
      case other => throw new IllegalArgumentException(s"graft_tiebreak must be a string: $other")
    }
    Latest(srcIdx, dstIdx, uk, sort, tb)
  }

  /** Materialize the latest-form dest: ONE hash aggregation — `max_by`
    * of the full row over the (sort, tiebreak) struct. Partial-combinable
    * (each partition keeps one candidate row per key before the shuffle),
    * so the 100 TB cost is a single map-combined shuffle at entity grain —
    * never a window sort over the corpus. */
  def runLatest(source: DataFrame, l: Latest): DataFrame = {
    val ord = struct((l.sort +: l.tiebreak.toSeq).map(col): _*)
    val rest = source.columns.filterNot(l.uniqueKey.contains)
    val payload = struct(rest.map(col): _*)
    source.groupBy(l.uniqueKey.map(col): _*)
      .agg(max_by(payload, ord).as("_latest"))
      .select(l.uniqueKey.map(col) ++
        rest.map(c => col(s"_latest.$c").as(c)): _*)
  }

  /** TSDS `_downsample` (ES 8.5): re-materialize a time-series index at a
    * coarser fixed interval — per (dimension fields, time bucket) the
    * min/max/sum/value_count summary of each metric (what ES stores as
    * `aggregate_metric_double`). ONE map-combined hash aggregation at
    * (dims × bucket) grain; sums ride the exact-decimal contract. The
    * 100 TB story is the ILM rollover: each downsample pass reads one
    * source index (a bounded time slice), never the full history. */
  def downsample(source: DataFrame, dims: Seq[String], tsCol: String,
                 intervalUs: Long, metrics: Seq[String]): DataFrame = {
    require(dims.nonEmpty && metrics.nonEmpty,
      "downsample needs dimension and metric fields")
    require(intervalUs > 0, s"downsample interval must be positive: $intervalUs")
    val bucket = expr(s"($tsCol DIV $intervalUs) * $intervalUs").as("_ts_bucket")
    val aggs = metrics.flatMap { m =>
      val isDouble = source.schema(m).dataType ==
        org.apache.spark.sql.types.DoubleType
      val s0 =
        if (isDouble) sum(col(m).cast("decimal(12,2)"))
          .cast("decimal(28,6)").cast("double")
        else sum(col(m)).cast("long")
      Seq(min(col(m)).as(s"${m}_min"), max(col(m)).as(s"${m}_max"),
        s0.as(s"${m}_sum"), count(col(m)).cast("long").as(s"${m}_value_count"))
    }
    source.groupBy(dims.map(col) :+ bucket: _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  def parse(body: String): Pivot = {
    val root = Lex.bodyObject("transform", body)
    val unknown = root.keySet -- Set("source", "pivot", "dest")
    require(unknown.isEmpty, s"unsupported transform key(s): ${unknown.mkString(", ")}")
    val source = Lex.fields(root.getOrElse("source",
      throw new IllegalArgumentException("transform needs source")), "transform", "source")
    val srcIdx = source.get("index") match {
      case Some(JString(i)) => i
      case other => throw new IllegalArgumentException(s"source needs index: $other")
    }
    val dest = Lex.fields(root.getOrElse("dest",
      throw new IllegalArgumentException("transform needs dest")), "transform", "dest")
    val dstIdx = dest.get("index") match {
      case Some(JString(i)) => i
      case other => throw new IllegalArgumentException(s"dest needs index: $other")
    }
    val pivot = Lex.fields(root.getOrElse("pivot",
      throw new IllegalArgumentException("transform needs pivot (latest-form not implemented)")),
      "transform", "pivot")
    val unknownP = pivot.keySet -- Set("group_by", "aggregations", "aggs")
    require(unknownP.isEmpty, s"unsupported pivot key(s): ${unknownP.mkString(", ")}")
    val gb = Lex.fields(pivot.getOrElse("group_by",
      throw new IllegalArgumentException("pivot needs group_by")), "transform", "group_by")
      .toSeq.sortBy(_._1).map { case (name, spec) =>
        Lex.fields(spec, "transform", s"group_by $name").toList match {
          case List(("terms", t)) =>
            Lex.fields(t, "transform", "terms").get("field") match {
              case Some(JString(f)) => name -> f
              case other => throw new IllegalArgumentException(s"terms needs field: $other")
            }
          case other => throw new IllegalArgumentException(
            s"only terms group_bys are implemented: $other")
        }
      }
    val aggs = Lex.fields(pivot.get("aggregations").orElse(pivot.get("aggs"))
      .getOrElse(throw new IllegalArgumentException("pivot needs aggregations")),
      "transform", "aggs")
      .toSeq.sortBy(_._1).map { case (name, spec) =>
        Lex.fields(spec, "transform", s"agg $name").toList match {
          case List((kind, aspec)) =>
            require(Set("sum", "min", "max", "avg", "value_count").contains(kind),
              s"unsupported transform agg: $kind (decomposable partials only)")
            Lex.fields(aspec, "transform", kind).get("field") match {
              case Some(JString(f)) => (name, kind, f)
              case other => throw new IllegalArgumentException(s"$kind needs field: $other")
            }
          case other => throw new IllegalArgumentException(s"bad agg $name: $other")
        }
      }
    Pivot(srcIdx, dstIdx, gb, aggs)
  }

  /** Materialize the dest index from `source` (the transform checkpoint's
    * full recompute; the continuous mode re-aggregates changed buckets). */
  def run(source: DataFrame, p: Pivot): DataFrame = {
    def exactSum(f: String): Column =
      sum(col(f).cast("decimal(12,2)")).cast("decimal(28,6)")
    val cols = p.aggs.map { case (name, kind, f) =>
      val isDouble = source.schema(f).dataType ==
        org.apache.spark.sql.types.DoubleType
      (kind match {
        case "sum" if isDouble => exactSum(f).cast("double")
        case "sum" => sum(col(f)).cast("long")
        case "avg" if isDouble =>
          (exactSum(f) / count(col(f))).cast("decimal(28,6)").cast("double")
        case "avg" => (sum(col(f)).cast("double") / count(col(f)))
        case "min" => min(col(f))
        case "max" => max(col(f))
        case "value_count" => count(col(f)).cast("long")
      }).as(name)
    }
    source.groupBy(p.groupBy.map { case (n, f) => col(f).as(n) }: _*)
      .agg(cols.head, cols.tail: _*)
  }
}
