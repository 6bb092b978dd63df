package graft.docs

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** ES `_rank_eval` — the search-quality evaluation API: run N rated
  * search requests, score each ranking against its relevance judgements,
  * report per-request scores and the mean (the CI harness search teams
  * run on every relevance change; the reference's ES surface carries it
  * with the search API).
  *
  * Metrics (each a separate call, the ES contract):
  *  - `precision` @k: relevant-retrieved / retrieved, unrated docs
  *    irrelevant (ES default), `relevant_rating_threshold` honored.
  *  - `mean_reciprocal_rank`: 1 / rank of the first relevant hit, 0 when
  *    none retrieved.
  *  - `dcg` @k (+ `normalize`): Σ (2^rel − 1) / log2(rank + 1); nDCG
  *    divides by the ideal DCG of the request's OWN judgement list —
  *    a plan-time constant here, since ratings are body literals.
  *
  * Scale shape: each request runs through the normal [[SearchExec]] path
  * (bounded TakeOrderedAndProject pages), the rating tables are body
  * literals (|ratings| rows, broadcast by construction), and the metric
  * reduction acts on ≤ k rows per request — the whole evaluation is
  * corpus-scans + bounded frames, no driver-side data path.
  */
object RankEval {

  private final case class Request(id: String, body: String,
                                   ratings: Seq[(String, Long)])

  /** Run a `_rank_eval` body against `docs`. Every request body must
    * page deterministically and expose `objectId` via `_source` (the
    * identity the ratings key on). Output: one row per request
    * (`request_id`, `metric_score`) plus the `_overall` mean row. */
  def run(docs: DataFrame, docCol: String, body: String,
          schema: StructType): DataFrame = {
    import org.json4s._
    val root = Lex.bodyObject("rank_eval", body)
    val unknown = root.keySet -- Set("requests", "metric")
    require(unknown.isEmpty, s"unsupported rank_eval key(s): ${unknown.mkString(", ")}")
    val requests = root.get("requests") match {
      case Some(JArray(rs)) if rs.nonEmpty => rs.map {
        case JObject(rf) =>
          val rm = rf.toMap
          val unknownR = rm.keySet -- Set("id", "request", "ratings")
          require(unknownR.isEmpty,
            s"unsupported rank_eval request key(s): ${unknownR.mkString(", ")}")
          val id = rm.get("id") match {
            case Some(JString(s0)) => s0
            case _ => throw new IllegalArgumentException("rank_eval request needs an id")
          }
          val req = rm.getOrElse("request",
            throw new IllegalArgumentException(s"rank_eval request $id needs a request body"))
          val ratings = rm.get("ratings") match {
            case Some(JArray(ras)) => ras.map {
              case JObject(raf) =>
                val ram = raf.toMap
                val unknownRa = ram.keySet -- Set("_id", "rating", "_index")
                require(unknownRa.isEmpty,
                  s"unsupported rating key(s): ${unknownRa.mkString(", ")}")
                val did = ram.get("_id") match {
                  case Some(JString(s0)) => s0
                  case _ => throw new IllegalArgumentException("rating needs an _id")
                }
                did -> SearchQuery.asDouble(ram.getOrElse("rating",
                  throw new IllegalArgumentException("rating needs a rating")), "rating").toLong
              case other => throw new IllegalArgumentException(s"bad rating entry: $other")
            }
            case _ => throw new IllegalArgumentException(s"rank_eval request $id needs ratings")
          }
          require(ratings.map(_._1).distinct.size == ratings.size,
            s"rank_eval request $id has duplicate rating ids")
          Request(id, org.json4s.jackson.JsonMethods.compact(req), ratings)
        case other => throw new IllegalArgumentException(s"bad rank_eval request: $other")
      }
      case _ => throw new IllegalArgumentException("rank_eval needs a non-empty requests array")
    }
    require(requests.map(_.id).distinct.size == requests.size,
      "rank_eval request ids must be distinct")
    val (metric, k, thr, normalize) = root.get("metric") match {
      case Some(JObject(List((mk, JObject(mf))))) =>
        val mm = mf.toMap
        def num(key: String, dflt: Long): Long = mm.get(key)
          .map(SearchQuery.asDouble(_, s"$mk $key").toLong).getOrElse(dflt)
        mk match {
          case "precision" =>
            val unknownM = mm.keySet -- Set("k", "relevant_rating_threshold")
            require(unknownM.isEmpty, s"unsupported precision key(s): ${unknownM.mkString(", ")}")
            ("precision", num("k", 10L).toInt, num("relevant_rating_threshold", 1L), false)
          case "mean_reciprocal_rank" =>
            val unknownM = mm.keySet -- Set("k", "relevant_rating_threshold")
            require(unknownM.isEmpty,
              s"unsupported mean_reciprocal_rank key(s): ${unknownM.mkString(", ")}")
            ("mrr", num("k", 10L).toInt, num("relevant_rating_threshold", 1L), false)
          case "dcg" =>
            val unknownM = mm.keySet -- Set("k", "normalize")
            require(unknownM.isEmpty, s"unsupported dcg key(s): ${unknownM.mkString(", ")}")
            val norm = mm.get("normalize") match {
              case None | Some(JBool(false)) => false
              case Some(JBool(true)) => true
              case Some(other) => throw new IllegalArgumentException(s"bad dcg normalize: $other")
            }
            ("dcg", num("k", 10L).toInt, 1L, norm)
          case other => throw new IllegalArgumentException(
            s"unsupported rank_eval metric: $other (precision/mean_reciprocal_rank/dcg)")
        }
      case _ => throw new IllegalArgumentException("rank_eval needs a single-metric object")
    }
    require(k >= 1, s"rank_eval k must be >= 1: $k")

    def dcgOf(rels: Seq[Long]): Double =
      rels.zipWithIndex.map { case (r, i) =>
        (math.pow(2.0, r.toDouble) - 1.0) / (math.log(i + 2.0) / math.log(2.0))
      }.sum

    val spark = docs.sparkSession
    // one bounded page per request through the normal search path; the
    // request's OWN sort decides the ranking (ES uses the query score —
    // this engine requires the body to make its order explicit)
    val pages = requests.map { r =>
      val page = SearchExec.search(docs, docCol, r.body, schema)
      require(page.columns.contains("objectId"),
        s"rank_eval request ${r.id} must _source objectId (the rating identity)")
      val idcg = // ideal DCG of the request's own judgement list, top-k
        dcgOf(r.ratings.map(_._2).sorted(Ordering[Long].reverse).take(k))
      page.filter(col("rn") <= k)
        .select(lit(r.id).as("request_id"), col("rn").cast("long").as("rank"),
          col("objectId").as("_oid"), lit(idcg).as("_idcg"))
    }.reduce(_ unionByName _)
    val ratingRows = requests.flatMap(r =>
      r.ratings.map { case (did, rt) => Row(r.id, did, rt) })
    val ratingDf = spark.createDataFrame(
      spark.sparkContext.parallelize(ratingRows, 1),
      StructType(Seq(StructField("request_id", StringType),
        StructField("_oid", StringType), StructField("_rating", LongType))))
    val joined = pages.join(broadcast(ratingDf), Seq("request_id", "_oid"), "left")
      .withColumn("_rel", coalesce(col("_rating"), lit(0L)))
    val per = metric match {
      case "precision" =>
        joined.groupBy(col("request_id")).agg(
          (sum(when(col("_rel") >= thr, 1L).otherwise(0L)).cast("double") /
            count(lit(1))).as("metric_score"))
      case "mrr" =>
        joined.groupBy(col("request_id")).agg(
          coalesce(lit(1.0) / min(when(col("_rel") >= thr, col("rank"))), lit(0.0))
            .as("metric_score"))
      case "dcg" =>
        val gain = (pow(lit(2.0), col("_rel")) - lit(1.0)) /
          (log(col("rank") + lit(1.0)) / log(lit(2.0)))
        val raw = sum(gain)
        joined.groupBy(col("request_id")).agg(
          (if (normalize) raw / first(col("_idcg")) else raw).as("metric_score"))
    }
    // requests whose page is EMPTY score 0 (the ES contract) — left-join
    // against the request list so they don't silently vanish
    val reqDf = spark.createDataFrame(
      spark.sparkContext.parallelize(requests.map(r => Row(r.id)), 1),
      StructType(Seq(StructField("request_id", StringType))))
    val scored = reqDf.join(per, Seq("request_id"), "left")
      .select(col("request_id"),
        coalesce(col("metric_score"), lit(0.0)).as("metric_score"))
    val overall = scored.agg(
      (sum(col("metric_score")) / count(lit(1))).as("metric_score"))
      .select(lit("_overall").as("request_id"), col("metric_score"))
    scored.unionByName(overall).orderBy(col("request_id"))
  }
}
