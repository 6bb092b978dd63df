package graft.docs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ES `children` / `parent` aggregations — the aggregation counterpart of
  * `has_child` / `has_parent` (ParentJoin.scala): a bucket agg that CHANGES
  * GRAIN through the join field mid-tree. The shredded `edges` table IS the
  * parent-join index (one row per parent→child relation — the reference's
  * per-relation Redis keys, `PlanService.java:41-44`), so each hop is one
  * key equi-join, never a corpus fan-out:
  *
  *  - `children` (parent grain → child docs of relation `type`): the
  *    current (bucket, key) frame equi-joins `edges.parent_key`; each child
  *    has exactly one parent edge per relation, so the hop is a plain join
  *    — no dedup.
  *  - `parent` (child grain → parent docs): equi-join on `edges.child_key`,
  *    then DISTINCT (bucket, parent_key) — the ES contract (a parent with
  *    many matching children counts ONCE per bucket). The distinct is
  *    keyed at (bucket, parent) grain — a hash agg on the hop's own keys,
  *    never a corpus-wide Deduplicate.
  *
  * Per level the executor emits the ES `doc_count` (one hash aggregation
  * per hop — the reverse_nested two-bounded-hash-agg shape) and any metric
  * sub-aggs (`avg`/`sum`/`min`/`max` over the level's entity JSON residue;
  * `avg` is an exact SUM/COUNT division so the DuckDB oracle reproduces it
  * bit-for-bit). Buckets follow ES terms order (doc_count desc, key asc,
  * `size`). Buckets where a hop lands empty keep doc_count 0 and NULL
  * metrics (the ES empty-children contract), via a left join at BUCKET
  * grain — bucket tables are size-bounded, so everything after the hops is
  * driver-scale.
  *
  * Deviation (documented): ES restricts the join field to relations the
  * mapping declares; here EVERY shredded relation (struct field or array
  * element) is a join relation, so `children`/`parent` can traverse e.g.
  * `planCostShares` — a superset of ES (same rule as the d165 has_child
  * on a struct relation). Unknown agg kinds and option keys reject loudly.
  */
object JoinAggs {

  import org.json4s._

  private final case class Metric(name: String, kind: String, field: String)
  private final case class Hop(name: String, dir: String, relation: String,
                               metrics: Seq[Metric], next: Option[Hop])

  private def parseHop(name: String, kind: String, spec: Map[String, JValue]): Hop = {
    val unknown = spec.keySet -- Set(kind, "aggs", "aggregations")
    require(unknown.isEmpty, s"unsupported $kind agg key(s): ${unknown.mkString(", ")}")
    val relation = Lex.fields(spec(kind), "join aggs", kind).get("type") match {
      case Some(JString(r)) => r
      case other => throw new IllegalArgumentException(s"$kind needs a relation type: $other")
    }
    val subs = spec.get("aggs").orElse(spec.get("aggregations"))
      .map(Lex.fields(_, "join aggs", "aggs")).getOrElse(Map.empty)
    val (hops, metrics) = subs.partition { case (_, v) =>
      Lex.fields(v, "join aggs", "sub-agg").keySet.exists(k => k == "children" || k == "parent") }
    require(hops.size <= 1, "at most one children/parent agg per level")
    val ms = metrics.toSeq.sortBy(_._1).map { case (mn, mv) =>
      val mm = Lex.fields(mv, "join aggs", s"metric $mn")
      require(mm.size == 1, s"metric $mn must carry exactly one agg kind")
      val (mk, mspec) = mm.head
      require(Set("avg", "sum", "min", "max").contains(mk),
        s"unsupported metric under a join agg: $mk")
      val mopts = Lex.fields(mspec, "join aggs", s"metric $mn")
      val unknownM = mopts.keySet -- Set("field")
      require(unknownM.isEmpty, s"unsupported $mk option(s): ${unknownM.mkString(", ")}")
      val fld = mopts.get("field") match {
        case Some(JString(f)) => f
        case other => throw new IllegalArgumentException(s"$mk needs field: $other")
      }
      Metric(mn, mk, fld)
    }
    val next = hops.headOption.map { case (hn, hv) =>
      val hm = Lex.fields(hv, "join aggs", s"agg $hn")
      val hk = if (hm.contains("children")) "children" else "parent"
      parseHop(hn, hk, hm)
    }
    Hop(name, kind, relation, ms, next)
  }

  /** Execute `body` with `rootTag` as the bucket-owning entity type.
    * Output: `key`, `doc_count`, then per hop `<name>_doc_count` and
    * `<name>_<metric>` columns, flattened in tree order. */
  def run(sh: Shredded, rootTag: String, body: String): DataFrame = {
    val root = Lex.bodyObject("join aggs", body)
    val unknown = root.keySet -- Set("size", "aggs", "aggregations")
    require(unknown.isEmpty, s"unsupported body key(s): ${unknown.mkString(", ")}")
    root.get("size").foreach {
      case JInt(i) if i == 0 => ()
      case other => throw new IllegalArgumentException(
        s"join aggs are size:0 requests (hits are the search surface): $other")
    }
    val aggs = Lex.fields(root.get("aggs").orElse(root.get("aggregations"))
      .getOrElse(throw new IllegalArgumentException("body needs aggs")), "join aggs", "aggs")
    require(aggs.size == 1, "exactly one top-level terms agg")
    val (topName @ _, topSpec0) = aggs.head
    val topSpec = Lex.fields(topSpec0, "join aggs", "top agg")
    val unknownT = topSpec.keySet -- Set("terms", "aggs", "aggregations")
    require(unknownT.isEmpty, s"unsupported top agg key(s): ${unknownT.mkString(", ")}")
    val terms = Lex.fields(topSpec.getOrElse("terms",
      throw new IllegalArgumentException("top-level agg must be terms")), "join aggs", "terms")
    val unknownTe = terms.keySet -- Set("field", "size")
    require(unknownTe.isEmpty, s"unsupported terms option(s): ${unknownTe.mkString(", ")}")
    val bucketField = terms.get("field") match {
      case Some(JString(f)) => f
      case other => throw new IllegalArgumentException(s"terms needs field: $other")
    }
    val size = terms.get("size") match {
      case None => 10 // the ES default
      case Some(JInt(i)) => i.toInt
      case Some(other) => throw new IllegalArgumentException(s"bad terms size: $other")
    }
    val subs = topSpec.get("aggs").orElse(topSpec.get("aggregations"))
      .map(Lex.fields(_, "join aggs", "aggs")).getOrElse(Map.empty)
    require(subs.size <= 1, "at most one children/parent agg under the terms split")
    val hop0 = subs.headOption.map { case (hn, hv) =>
      val hm = Lex.fields(hv, "join aggs", s"agg $hn")
      require(hm.contains("children") || hm.contains("parent"),
        s"sub-agg $hn must be children or parent (metrics ride inside the hops)")
      parseHop(hn, if (hm.contains("children")) "children" else "parent", hm)
    }

    def jfield(f: String): Column = get_json_object(col("json"), s"$$.$f")
    val edges = sh.edges
      .filter(col("child_key").isNotNull && col("parent_key").isNotNull)

    // root buckets: one hash agg over the root entities
    val roots = sh.entities.filter(col("type_tag") === rootTag)
      .select(col("key"), jfield(bucketField).as("_bkey"))
    val rootAgg = roots.groupBy(col("_bkey"))
      .agg(count(lit(1)).cast("long").as("doc_count"))

    // walk the hops: `cur` is the (bucket, key) frame at the current grain
    def walk(cur: DataFrame, hop: Hop): Seq[DataFrame] = {
      val rel = edges.filter(col("field") === hop.relation)
      val stepped = hop.dir match {
        case "children" => cur
          .join(rel.select(col("parent_key").as("key"), col("child_key")), "key")
          .select(col("_bkey"), col("child_key").as("key"))
        case _ => cur // "parent": dedup at (bucket, parent) grain — ES counts
          .join(rel.select(col("child_key").as("key"), col("parent_key")), "key")
          .select(col("_bkey"), col("parent_key").as("key"))
          .distinct()
      }
      val withMetrics =
        if (hop.metrics.isEmpty) stepped.select(col("_bkey"))
        else stepped.join(sh.entities.select(col("key"), col("json")), "key")
      val mcols = hop.metrics.map { m =>
        val v = jfield(m.field).cast("long")
        val alias = s"${hop.name}_${m.name}"
        m.kind match {
          case "avg" => (sum(v).cast("double") / count(v)).as(alias)
          case "sum" => sum(v).cast("long").as(alias)
          case "min" => min(v).as(alias)
          case "max" => max(v).as(alias)
        }
      }
      val levelAgg = withMetrics.groupBy(col("_bkey"))
        .agg(count(lit(1)).cast("long").as(s"${hop.name}_doc_count"), mcols: _*)
      levelAgg +: hop.next.map(walk(stepped, _)).getOrElse(Nil)
    }

    val hopAggs = hop0.map(walk(roots, _)).getOrElse(Nil)
    // bucket-grain assembly: left joins keep empty hops as doc_count 0
    val joined = hopAggs.foldLeft(rootAgg)((acc, h) => acc.join(h, Seq("_bkey"), "left"))
    val zeroFilled = joined.columns.filter(_.endsWith("_doc_count"))
      .foldLeft(joined)((df, c) => df.withColumn(c, coalesce(col(c), lit(0L))))
    zeroFilled
      .orderBy(col("doc_count").desc, col("_bkey").asc)
      .limit(size)
      .withColumnRenamed("_bkey", "key")
  }
}
