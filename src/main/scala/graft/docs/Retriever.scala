package graft.docs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** ES 8.14+ `retriever` tree — the composable ranking DSL that replaces
  * top-level query+rescore stacks: leaf `standard` retrievers (a scored
  * query) composed by an `rrf` node (reciprocal rank fusion,
  * `1/(rank_constant + rank)` summed across legs). This is the DSL form of
  * the s7/s8 hybrid machinery, over the document corpus.
  *
  * Execution shape per leg: filter (pushdown-eligible) → score (the same
  * ScoreShape column as SearchExec) → top-`rank_window_size` via
  * `ORDER BY … LIMIT` (TakeOrderedAndProject — bounded heaps, never a
  * corpus sort) → rank over the ≤window-row page. The fusion is a
  * window-sized full-outer join on the id (ES semantics: a doc outside a
  * leg's window contributes nothing from that leg), then one more bounded
  * top-`size`. At 100 TB each leg is one scan + one bounded heap;
  * everything after is window-grain.
  *
  * `knn` legs (ES 8.14+ hybrid search — the default knn+lexical rrf
  * shape) execute the s6 machinery as a leg: the caller supplies the
  * index's vector side as `vectors` (`objectId`, `v` array<double>,
  * `nrm`, plus any filterable attribute columns — the engine's vector
  * "field" lives in a columnar side table keyed by the doc id, TESTDATA's
  * shared id space). The leg is FILTER (a pushable single-term clause,
  * pruned before any vector math) → codegen'd `vec_dot` cosine → bounded
  * top-min(k, window) — exact search, the documented upgrade over ES's
  * per-shard HNSW beam (the s6 rule).
  *
  * Not implemented (rejected loudly): `text_similarity_reranker` (needs
  * an inference service), per-leg `filter` on rrf (ES 8.16; compose it
  * into the leg query instead).
  */
object Retriever {

  private def field(root: Column, path: Seq[String]): Column =
    path.foldLeft(root)((c, f) => c.getField(f))

  private sealed trait Leg
  private final case class StandardLeg(p: SearchQuery.Parsed) extends Leg
  private final case class KnnLeg(qv: Seq[Double], k: Int,
                                  filter: Option[Column]) extends Leg

  def search(docs: DataFrame, docCol: String, body: String,
             schema: StructType, vectors: Option[DataFrame] = None): DataFrame = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact, render}
    val root = Lex.bodyObject("retriever", body)
    val unknown = root.keySet -- Set("retriever", "size")
    require(unknown.isEmpty, s"unsupported retriever body key(s): ${unknown.mkString(", ")}")
    val size = root.get("size") match {
      case None => 10
      case Some(JInt(i)) => i.toInt
      case Some(other) => throw new IllegalArgumentException(s"bad size: $other")
    }
    def legOf(j: JValue): Leg = j match {
      case JObject(List(("standard", JObject(sf)))) =>
        val m = sf.toMap
        val unknownL = m.keySet -- Set("query")
        require(unknownL.isEmpty,
          s"unsupported standard retriever key(s): ${unknownL.mkString(", ")}")
        val q = m.getOrElse("query",
          throw new IllegalArgumentException("standard retriever needs query"))
        StandardLeg(SearchQuery.parseBody(compact(render(JObject("query" -> q))), schema))
      case JObject(List(("knn", JObject(kf)))) =>
        require(vectors.nonEmpty,
          "knn retriever leg: this index carries no vector side table")
        val m = kf.toMap
        val unknownK = m.keySet --
          Set("field", "query_vector", "k", "num_candidates", "filter")
        require(unknownK.isEmpty,
          s"unsupported knn retriever key(s): ${unknownK.mkString(", ")}")
        require(m.get("field").contains(JString("embedding")),
          "knn field must be the embedding column")
        val k = m.get("k") match {
          case Some(JInt(i)) => i.toInt
          case other => throw new IllegalArgumentException(s"knn needs integer k: $other")
        }
        val nc = m.get("num_candidates") match {
          case None => k
          case Some(JInt(i)) => i.toInt
          case Some(other) => throw new IllegalArgumentException(s"bad num_candidates: $other")
        }
        require(nc >= k, s"num_candidates ($nc) must be >= k ($k) (ES rule)")
        val qv = m.get("query_vector") match {
          case Some(JArray(xs)) if xs.nonEmpty => xs.map {
            case JDouble(x) => x
            case JInt(x) => x.toDouble
            case JDecimal(x) => x.toDouble
            case other => throw new IllegalArgumentException(s"bad query_vector entry: $other")
          }
          case other => throw new IllegalArgumentException(s"bad query_vector: $other")
        }
        val filt = m.get("filter").map {
          case JObject(List(("term", JObject(List((fld, v)))))) =>
            val value = v match {
              case JInt(i) => lit(i.toLong)
              case JString(str) => lit(str)
              case JObject(List(("value", JInt(i)))) => lit(i.toLong)
              case other => throw new IllegalArgumentException(s"bad knn filter term: $other")
            }
            col(fld) === value
          case other => throw new IllegalArgumentException(
            s"only a single term clause is implemented as a knn leg filter: $other")
        }
        KnnLeg(qv, k, filt)
      case JObject(List((other, _))) => throw new IllegalArgumentException(
        s"unsupported retriever type: $other (standard/knn legs only)")
      case other => throw new IllegalArgumentException(s"bad retriever leg: $other")
    }
    val (legs, window, k) = root.getOrElse("retriever",
      throw new IllegalArgumentException("body needs retriever")) match {
      case JObject(List(("rrf", JObject(rf)))) =>
        val m = rf.toMap
        val unknownR = m.keySet -- Set("retrievers", "rank_window_size", "rank_constant")
        require(unknownR.isEmpty,
          s"unsupported rrf key(s): ${unknownR.mkString(", ")}")
        val ls = m.get("retrievers") match {
          case Some(JArray(js)) => js.map(legOf)
          case other => throw new IllegalArgumentException(s"rrf needs retrievers: $other")
        }
        require(ls.size >= 2, s"rrf needs >= 2 retrievers, got ${ls.size}")
        val w = m.get("rank_window_size") match {
          case None => 10 // the ES default
          case Some(JInt(i)) => i.toInt
          case Some(other) => throw new IllegalArgumentException(s"bad rank_window_size: $other")
        }
        val kc = m.get("rank_constant") match {
          case None => 60 // the ES default
          case Some(JInt(i)) => i.toInt
          case Some(other) => throw new IllegalArgumentException(s"bad rank_constant: $other")
        }
        (ls, w, kc)
      case leaf @ JObject(List(("standard" | "knn", _))) => (Seq(legOf(leaf)), size, 60)
      case other => throw new IllegalArgumentException(s"unsupported retriever tree: $other")
    }
    require(size <= window,
      s"size $size exceeds rank_window_size $window (the page must fit in the window)")
    require(schema.fieldNames.contains("objectId"),
      "retriever ranking needs an objectId field for the deterministic tiebreak")
    val doc = col(docCol)
    val ranked = legs.zipWithIndex.map { case (leg, i) =>
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("_s").desc, col("objectId").asc)
      val page = leg match {
        case StandardLeg(p) =>
          docs.filter(SearchQuery.compile(p.query, doc))
            .select(field(doc, Seq("objectId")).as("objectId"),
              SearchQuery.scoreCol(p, doc).cast("double").as("_s"))
            .orderBy(col("_s").desc, col("objectId").asc).limit(window)
        case KnnLeg(qv, k, filt) =>
          // filter prunes BEFORE any vector math (pushable predicate on
          // the vector side table), then one codegen'd vec_dot cosine and
          // a bounded top-min(k, window) heap — the s6 executor as a leg
          graft.functions.GraftFunctions.ensure(docs.sparkSession)
          import graft.functions.GraftFunctions.vecDot
          val qn = math.sqrt(qv.map(x => x * x).sum)
          val qvCol = array(qv.map(lit): _*)
          val base = filt.fold(vectors.get)(vectors.get.filter)
          base.select(col("objectId"),
              (vecDot(qvCol, col("v")) / (lit(qn) * col("nrm")))
                .cast("double").as("_s"))
            .orderBy(col("_s").desc, col("objectId").asc)
            .limit(math.min(k, window))
      }
      page.withColumn(s"rank_$i", row_number().over(w).cast("long"))
        .select(col("objectId"), col(s"rank_$i"))
    }
    if (legs.size == 1) {
      // a bare standard retriever is just the ranked page
      ranked.head.select(col(s"rank_0").as("rn"), col("objectId")).orderBy(col("rn"))
    } else {
      val joined = ranked.reduce((a, b) => a.join(b, Seq("objectId"), "full_outer"))
      val rrf = legs.indices
        .map(i => coalesce(lit(1.0) / (lit(k) + col(s"rank_$i")), lit(0.0)))
        .reduce(_ + _)
      val wFinal = org.apache.spark.sql.expressions.Window
        .orderBy(col("rrf").desc, col("objectId").asc)
      joined.withColumn("rrf", rrf)
        .orderBy(col("rrf").desc, col("objectId").asc).limit(size)
        .withColumn("rn", row_number().over(wFinal).cast("long"))
        .select(col("rn") +: col("objectId") +:
          legs.indices.map(i => col(s"rank_$i")) :+ col("rrf"): _*)
        .orderBy(col("rn"))
    }
  }
}
