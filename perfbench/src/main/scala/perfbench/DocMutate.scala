package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.docs._
import graft.model.PlanSchema

/** The document write path: seeded write batches against a
  * document-sharded store, each followed by one read-your-write search. No
  * standing cache holds the state a read lands on. */
object DocMutate {
  private val schema = PlanSchema.plan
  private val depth = Mutations.depth(schema)
  val Batch = 12         // documents per write batch
  val Shards = 8         // store partitions
  val StaleShare = 0.25  // replacements whose If-Match etag is stale
  val StorePlans = 300   // plans of the corpus in the base store

  final class State(val ctx: Ctx, val st: PartitionedStore.Store) {
    val spark: SparkSession = ctx.spark
    /** objectIds of live documents the client may touch. */
    val live = mutable.ArrayBuffer[String]()
    /** Request bodies of the documents this client wrote, by objectId: it
      * knows their content and the etag the store gave them. */
    val written = mutable.LinkedHashMap[String, String]()
    var fresh = 0
    def take(n: Int): Seq[String] = (0 until n).map(_ => live.remove(ctx.rng.nextInt(live.size)))
  }

  // ---------------------------------------------------------------- client

  /** A PlanSchema document; `n` services, content drawn from `r`. */
  def planJson(id: String, planType: String, n: Int, r: scala.util.Random): String = {
    val svcs = (0 until n).map { j =>
      val sid = s"$id-${r.nextInt(1000000)}-$j"
      s"""{"linkedService":{"_org":"example.com","objectId":"svc-$sid","objectType":"service","name":"Service ${1 + r.nextInt(5)}"},""" +
        s""""planserviceCostShares":{"deductible":${r.nextInt(1000)},"_org":"example.com","copay":${r.nextInt(200)},"objectId":"pcs-$sid","objectType":"membercostshare"},""" +
        s""""_org":"example.com","objectId":"ps-$sid","objectType":"planservice"}"""
    }
    s"""{"planCostShares":{"deductible":${100 * r.nextInt(25)},"_org":"example.com","copay":${r.nextInt(50)},"objectId":"cs-$id","objectType":"membercostshare"},""" +
      s""""linkedPlanServices":[${svcs.mkString(",")}],"_org":"org-${r.nextInt(25)}.example.com",""" +
      s""""objectId":"$id","objectType":"plan","planType":"$planType","creationDate":"12-12-2017"}"""
  }

  /** Request bodies → a `doc` column typed by the plan schema. */
  def toDocs(s: SparkSession, jsons: Seq[String]): DataFrame =
    s.read.schema(schema).json(s.createDataset(jsons)(Encoders.STRING))
      .select(struct(schema.fieldNames.toSeq.map(col): _*).as("doc"))

  /** Every entity key of a document's tree (the Shredder's tagging). */
  def closureKeys(doc: Row): Seq[String] = {
    val id = doc.getAs[String]("objectId")
    val cs = doc.getAs[Row]("planCostShares")
    val svcs = Option(doc.getAs[collection.Seq[Row]]("linkedPlanServices")).getOrElse(Nil)
    Seq(s"plan_$id") ++ Option(cs).map(c => s"planCostShares_${c.getAs[String]("objectId")}") ++
      svcs.flatMap { e =>
        Seq(s"planservice_${e.getAs[String]("objectId")}",
          s"linkedService_${e.getAs[Row]("linkedService").getAs[String]("objectId")}",
          s"planserviceCostShares_${e.getAs[Row]("planserviceCostShares").getAs[String]("objectId")}")
      }
  }

  private def rootKey(id: String) = s"plan_$id"

  /** The documents `ids` as stored now (assembled from the store). */
  private def current(st: State, ids: Seq[String]): DataFrame = {
    import st.spark.implicits._
    val sh = PartitionedStore.read(st.spark, st.st)
    Assembler.assemble(sh, schema, "plan", Some(ids.map(rootKey).toDF("key")))
  }

  /** The engine's etag of each request body, by objectId. */
  private def etagsOf(s: SparkSession, jsons: Seq[String]): Map[String, Long] =
    toDocs(s, jsons).select(col("doc.objectId"), CanonicalJson.etag(col("doc"), schema))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap

  /** Read-your-write search: a full-body search over the store assembled
    * in full (its time is `docs.assemble_ms`: the assembly dominates). */
  def search(st: State, ids: Seq[String]): Map[String, Row] = {
    val ctx = st.ctx
    val terms = ids.map(Json.str).mkString(",")
    val body = s"""{"query":{"terms":{"objectId":[$terms]}},"sort":[{"objectId":{"order":"asc"}}],"size":${ids.size + 10}}"""
    val (rows, ms) = ctx.timed("docs.read/search") {
      val sh = PartitionedStore.read(st.spark, st.st)
      val asm = ctx.tracer("docs.assemble")(Assembler.assemble(sh, schema, "plan"))
      ctx.materialize(SearchExec.search(asm, "doc", body, schema))
    }
    ctx.rec.add("docs.assemble_ms", ms)
    rows.map { r => val d = r.getAs[Row]("doc"); d.getAs[String]("objectId") -> d }.toMap
  }

  // ------------------------------------------------------------ write ops

  private def persist[T](ctx: Ctx)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = ctx.tracer("store.persist")(body)
    ctx.rec.add("store.persist_ms", Ctx.msSince(t0))
    out
  }

  private def step[T](ctx: Ctx, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = ctx.tracer(name)(body)
    ctx.rec.add(s"${name}_ms", Ctx.msSince(t0))
    out
  }

  /** One write batch and its read-your-write check; returns the write's
    * latency in ms, or None when the op failed. */
  def write(st: State, kind: String): Option[Double] = {
    val ctx = st.ctx
    val s = st.spark
    val r = ctx.rng
    ctx.attempted += 1
    Main.note(s"write $kind")
    try kind match {
      case "ingest" =>
        val ids = (0 until Batch).map { _ => st.fresh += 1; s"plan-n${ctx.seed}-${st.fresh}" }
        val jsons = ids.map(id => planJson(id, "FRESH", 1 + r.nextInt(6), r)) :+
          planJson(s"plan-bad${st.fresh}", "BAD", 1, r).replace(""""planType":"BAD",""", "")
        val docs = toDocs(s, jsons)
        val sent = docs.collect().map(_.getAs[Row]("doc")).filter(_.getAs[String]("planType") != null)
        val (quarantined, ms) = ctx.timed("docs.write/ingest") {
          val (valid, quar) = Validator.validate(docs)
          val q = step(ctx, "docs.validate")(quar.select(col("doc.objectId"), col("errors")).collect())
          persist(ctx)(PartitionedStore.replace(s, st.st, valid))
          q.length
        }
        ctx.rec.add("docs.quarantined_rows", quarantined)
        ctx.rec.add("ingest_ms", ms)
        ctx.rec.add("ingest_docs", ids.size)
        if (ctx.trace) shredCounts(ctx, docs)
        val got = search(st, ids)
        st.live ++= ids
        st.written ++= ids.zip(jsons)
        check(ctx, "ingest", quarantined == 1, s"quarantined $quarantined of 1 planted")
        check(ctx, "ingest", sent.forall(d => got.get(d.getAs[String]("objectId")).contains(d)),
          "assemble(shred(x)) != x for an ingested document")
        Some(ms)

      case "patch" =>
        val ids = st.take(Batch)
        val n = ctx.attempted
        val jsons = ids.map { id =>
          s"""{"objectId":"$id","objectType":"plan","planType":"PATCHED-$n","linkedPlanServices":[""" +
            s"""{"objectId":"ps-$id-p$n","objectType":"planservice","_org":"example.com",""" +
            s""""linkedService":{"_org":"example.com","objectId":"svc-$id-p$n","objectType":"service","name":"Service 9"},""" +
            s""""planserviceCostShares":{"deductible":1,"_org":"example.com","copay":2,"objectId":"pcs-$id-p$n","objectType":"membercostshare"}}]}"""
        }
        val patches = toDocs(s, jsons)
        val (_, ms) = ctx.timed("docs.write/patch") {
          val stored = current(st, ids).select(col("doc"))
          val merged = step(ctx, "docs.merge_patch")(
            graft.Eager.pin(MergePatch.apply(stored, patches, schema)))
          persist(ctx)(PartitionedStore.replace(s, st.st, merged))
        }
        ctx.rec.add("docs.merge_patch_total_ms", ms)
        val got = search(st, ids)
        st.live ++= ids
        check(ctx, "patch", ids.forall(id => got.get(id).exists { d =>
          d.getAs[String]("planType") == s"PATCHED-$n" &&
            d.getAs[collection.Seq[Row]]("linkedPlanServices")
              .exists(_.getAs[String]("objectId") == s"ps-$id-p$n")
        }), "a patched field does not read back")
        Some(ms)

      case "replace" =>
        import s.implicits._
        // the documents this client wrote; its If-Match values are the
        // etags of what it sent
        val ids = st.written.keys.toSeq
        val etags = etagsOf(s, ids.map(st.written))
        val stale = ids.filter(_ => r.nextDouble() < StaleShare).toSet
        val requests = ids.map { id =>
          val e = etags(id); (rootKey(id), if (stale(id)) e + 1 else e)
        }.toDF("key", "if_match")
        val jsons = ids.map(id => planJson(id, "REPLACED", 1 + r.nextInt(6), r))
        val newDocs = toDocs(s, jsons)
        val sent = newDocs.collect().map(_.getAs[Row]("doc"))
        val (rejected, ms) = ctx.timed("docs.write/replace") {
          val cur = current(st, ids)
            .select(col("key"), CanonicalJson.etag(col("doc"), schema).as("etag"))
          val (ok, bad) = step(ctx, "docs.etag_guard") {
            val (ok0, bad0) = Mutations.etagGuard(requests, cur)
            (ok0.select(col("key")).collect().map(_.getString(0)).toSet,
              bad0.select(col("key")).collect().length)
          }
          val accepted = newDocs.filter(concat(lit("plan_"), col("doc.objectId")).isin(ok.toSeq: _*))
          persist(ctx)(PartitionedStore.replace(s, st.st, accepted))
          bad
        }
        ctx.rec.add("docs.replace_ms", ms)
        ctx.rec.add("docs.etag_rejected", rejected)
        val got = search(st, ids)
        ids.zip(jsons).filterNot(x => stale(x._1)).foreach(x => st.written(x._1) = x._2)
        check(ctx, "replace", rejected == stale.size,
          s"$rejected 412 rejections for ${stale.size} stale etags")
        check(ctx, "replace", sent.filterNot(d => stale(d.getAs[String]("objectId")))
          .forall(d => got.get(d.getAs[String]("objectId")).contains(d)),
          "a replaced document does not read back as sent")
        Some(ms)

      case "delete" =>
        // the documents this client wrote, whose trees it knows
        val ids = st.written.keys.toSeq
        val keys = toDocs(s, ids.map(st.written)).collect()
          .flatMap(x => closureKeys(x.getAs[Row]("doc"))).toSeq
        ids.foreach(st.written.remove)
        st.live --= ids
        val (_, ms) = ctx.timed("docs.write/delete") {
          step(ctx, "docs.cascade_delete")(
            persist(ctx)(PartitionedStore.delete(s, st.st, ids.map(rootKey))))
        }
        val got = search(st, ids)
        val left = ctx.tracer("client.check") {
          val sh = PartitionedStore.read(s, st.st)
          sh.entities.filter(col("key").isin(keys: _*)).count() +
            sh.edges.filter(col("parent_key").isin(keys: _*)).count()
        }
        check(ctx, "delete", keys.size > ids.size && left == 0 && got.isEmpty,
          s"$left entity or edge rows survive a cascade delete")
        Some(ms)

      case "bulk" =>
        val third = math.max(1, Batch / 3)
        val upd = st.take(third)
        val del = st.take(third)
        val idx = (0 until third).map { _ => st.fresh += 1; s"plan-n${ctx.seed}-${st.fresh}" }
        val n = ctx.attempted
        val idxJson = idx.map(id => id -> planJson(id, "BULK", 1 + r.nextInt(4), r))
        val ndjson = (idxJson.flatMap { case (id, j) =>
          Seq(s"""{"index":{"_index":"plan","_id":"$id"}}""", j)
        } ++ upd.flatMap { id =>
          Seq(s"""{"update":{"_index":"plan","_id":"$id"}}""", s"""{"doc":{"planType":"BULK-$n"}}""")
        } ++ del.map(id => s"""{"delete":{"_index":"plan","_id":"$id"}}""")).mkString("\n")
        val (resp, ms) = ctx.timed("docs.write/bulk") {
          val sh = PartitionedStore.read(s, st.st)
          val asm = Assembler.assemble(sh, schema, "plan")
          val out = ctx.tracer("docs.bulk")(Bulk.run(asm, sh, ndjson, schema, depth))
          val resp = step(ctx, "docs.bulk")(out.resp.collect())
          val newDocs = graft.Eager.pin(Assembler.assemble(out.fresh, schema, "plan").select(col("doc")))
          persist(ctx) {
            PartitionedStore.replace(s, st.st, newDocs)
            PartitionedStore.delete(s, st.st, del.map(rootKey))
          }
          resp
        }
        val sent = toDocs(s, idxJson.map(_._2)).collect().map(_.getAs[Row]("doc"))
        val got = search(st, idx ++ upd ++ del)
        st.live ++= idx ++ upd
        check(ctx, "bulk", resp.length == idx.size + upd.size + del.size &&
          resp.forall(x => x.getAs[Any]("status") != null &&
            x.getAs[Number]("status").intValue < 300),
          s"bulk response ${resp.map(_.toString).mkString(";").take(200)}")
        check(ctx, "bulk", sent.forall(d => got.get(d.getAs[String]("objectId")).contains(d)) &&
          upd.forall(id => got.get(id).exists(_.getAs[String]("planType") == s"BULK-$n")) &&
          del.forall(id => !got.contains(id)),
          "bulk outcome does not read back")
        Some(ms)
    } catch {
      case e: Throwable => ctx.fail(kind, Main.err(e)); None
    }
  }

  private def check(ctx: Ctx, op: String, ok: Boolean, why: => String): Unit =
    if (!ok) ctx.fail(op, why)

  /** Traced runs only: the batch's shred, counted (the store shreds it
    * again inside its write). */
  private def shredCounts(ctx: Ctx, docs: DataFrame): Unit = {
    val t0 = System.nanoTime()
    val sh = ctx.tracer("docs.shred")(Shredder.shredComputed(Validator.validate(docs)._1))
    val ne = sh.entities.count()
    val ng = sh.edges.count()
    ctx.rec.add("docs.shred_ms", Ctx.msSince(t0))
    ctx.rec.add("docs.shred_entities", ne.toDouble)
    ctx.rec.add("docs.shred_edges", ng.toDouble)
  }

  private def dirBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val st = Files.walk(p)
      try {
        val fs = st.iterator().asScala.filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet")).toSeq
        (fs.map(Files.size).sum, fs.size.toLong)
      } finally st.close()
    }

  // ---------------------------------------------------------------- run

  /** A write round of a traced run: a base store built from the first
    * plans of the corpus, then one batch of each of `kinds`, each followed
    * by its read-your-write search and its correctness checks. Replace
    * and delete target the documents the round ingested. */
  def round(ctx: Ctx, kinds: Seq[String]): Unit = {
    val s = ctx.spark
    val t0 = System.nanoTime()
    // each stage is written once and read back, as the standing corpora
    // are: the shred and the root assignment read their input many times
    val dir = ctx.work.resolve("base").toString
    def mat(tag: String)(df: DataFrame): DataFrame = {
      df.write.parquet(s"$dir/$tag")
      s.read.parquet(s"$dir/$tag")
    }
    val plans = PlanDocs.docs(s, ctx.data)
      .filter(expr("cast(substring(doc.objectId, 6) as long)") < StorePlans)
    val store = ctx.tracer("docs.standing/store") {
      val (valid, _) = Validator.validate(mat("docs")(plans))
      val sh = Shredder.shred(valid)
      PartitionedStore.write(Shredded(mat("entities")(sh.entities), mat("edges")(sh.edges)),
        s"$dir/store", Shards, "plan", depth)
    }
    ctx.layers("store.build_s") = Ctx.secondsSince(t0)
    val st = new State(ctx, store)
    st.live ++= (0 until StorePlans).map(k => s"plan-$k")

    val writes = kinds.flatMap { k => ctx.tracer.req = s"write-$k"; write(st, k) }
    val ingest = ctx.rec.get("ingest_docs").sum / math.max(1e-9, ctx.rec.get("ingest_ms").sum / 1000)
    ctx.layers("docs.mutate_ms") = Rec.quantile(writes, 0.5)
    ctx.layers("docs.ingest_docs_per_s") = ingest
    for (k <- Seq("docs.assemble_ms", "docs.validate_ms", "docs.shred_ms", "docs.merge_patch_ms", "docs.replace_ms",
                  "docs.cascade_delete_ms", "docs.etag_guard_ms", "docs.bulk_ms", "store.persist_ms"))
      ctx.layers(k) = ctx.rec.median(k)
    for (k <- Seq("docs.quarantined_rows", "docs.shred_entities", "docs.shred_edges", "docs.etag_rejected"))
      ctx.layers(k) = ctx.rec.sum(k)
    val wc = ctx.windowCounters
    ctx.layers("store.bytes_written") = wc.getOrElse("store.bytes_written", 0.0)
    ctx.layers("store.files_written") = wc.getOrElse("store.files_written", 0.0)
    val (bytes, files) = dirBytes(java.nio.file.Paths.get(st.st.dir))
    ctx.layers("store.files") = files.toDouble
    val jsonBytes = Assembler.assemble(PartitionedStore.read(s, st.st), schema, "plan")
      .select(sum(length(to_json(CanonicalJson.canonicalize(col("doc"), schema))))).head().getLong(0)
    ctx.layers("store.bytes_per_input_byte") = bytes.toDouble / math.max(1L, jsonBytes)
  }
}
