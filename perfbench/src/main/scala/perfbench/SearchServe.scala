package perfbench

import org.apache.spark.sql.SparkSession

import graft.docs.{Assembler, DocQueries, PlanDocs, Shredder}
import graft.model.PlanSchema

/** search_serve: a closed loop of read-only document-surface registry
  * entries over the standing corpora, which the program's own cache holds
  * for the whole timed window. */
object SearchServe {

  /** (entry, front door). Every path avoids Mutations, MergePatch, Bulk,
    * BulkByQuery and PartitionedStore. */
  val entries: Seq[(String, String)] = Seq(
    "d3_roundtrip" -> "corpus",
    "d16_search_dsl" -> "dsl",
    "d23_match_relevance" -> "dsl",
    "d35_es_full_body" -> "dsl",
    "d259_dsl_bm25" -> "bm25",
    "d36_es_terms_agg" -> "aggs",
    "d74_es_three_level" -> "aggs",
    "d210_esql_stats" -> "esql",
    "d247_es_sql_agg" -> "essql",
    "d232_eql_until" -> "eql",
    "d50_es_query_string" -> "query_string",
    "d255_esql_qstr" -> "query_string")

  /** Standing-corpus builds per run; setup_s takes their median. */
  val Builds = 2

  /** Seconds of window per round at a 4-core host's normal pace. The
    * window holds round(--seconds / RoundS) rounds, at least one: a count
    * that depends on --seconds only, never on the host or the code. */
  val RoundS = 4.5

  def run(ctx: Ctx, sessionS: Double): Unit = {
    val d = ctx.data
    // Each build runs in a fresh session, which the corpus memo (keyed by
    // session) has never seen; the last one serves the timed window.
    var s: SparkSession = null
    val builds = (1 to Builds).map { _ =>
      s = ctx.spark.newSession()
      val t0 = System.nanoTime()
      ctx.tracer("docs.standing/warm")(DocQueries.warm(s, d))
      Main.note(f"standing corpora built: ${Ctx.secondsSince(t0)}%.2f s")
      Ctx.secondsSince(t0)
    }

    // warm pass: each distinct request once, responses kept for the oracle
    val w0 = System.nanoTime()
    val firstMs = entries.map { case (name, door) =>
      val t0 = System.nanoTime()
      ctx.attempted += 1
      ctx.calls(name) += 1
      try {
        val df = ctx.tracer(s"docs.read/$door")(DocQueries.queries(name)(s, d))
        val rows = ctx.materialize(df)
        ctx.firstResults(name) = (df.schema, rows)
      } catch { case e: Throwable => ctx.fail(name, Main.err(e)) }
      Main.note(f"warm $name: ${Ctx.msSince(t0)}%.0f ms")
      name -> Ctx.msSince(t0)
    }.toMap
    val warmS = Ctx.secondsSince(w0)
    val setupS = sessionS + Rec.quantile(builds, 0.5) + warmS
    val expected = ctx.firstResults.map { case (k, (_, rows)) => k -> Main.canon(rows) }

    // timed window: a fixed number of rounds, each a seeded permutation
    // of the entry list, so every run reads the same mix
    ctx.startWindow()
    val roundS = (1 to math.max(1, math.round(ctx.seconds / RoundS).toInt)).map { r =>
      val r0 = System.nanoTime()
      for (((name, door), i) <- ctx.rng.shuffle(entries).zipWithIndex) {
        val n = (r - 1) * entries.size + i + 1
        ctx.attempted += 1
        ctx.calls(name) += 1
        ctx.tracer.req = s"r$n"
        try {
          val ((rows, buildMs), ms) = ctx.timed(s"docs.read/$door") {
            val b0 = System.nanoTime()
            val df = ctx.tracer("docs.request_build")(DocQueries.queries(name)(s, d))
            val bms = Ctx.msSince(b0)
            (ctx.materialize(df), bms)
          }
          ctx.rec.add("read_ms", ms)
          ctx.rec.add(s"read_ms.$name", ms)
          ctx.rec.add("docs.request_build_ms", buildMs)
          ctx.rec.add("exec.rows_out", rows.length)
          if (!expected.get(name).contains(Main.canon(rows)))
            ctx.fail(name, "response differs from the first call's")
        } catch { case e: Throwable => ctx.fail(name, Main.err(e)) }
      }
      Ctx.secondsSince(r0)
    }

    val reads = ctx.rec.get("read_ms")
    ctx.e2e("setup_s") = setupS
    ctx.e2e("op_p50_ms") = Rec.quantile(reads, 0.5)
    ctx.e2e("op_p95_ms") = Rec.quantile(reads, 0.95)
    ctx.e2e("items_per_s") = reads.size / math.max(1e-9, reads.sum / 1000)
    ctx.e2e("pass_s") = Rec.quantile(roundS, 0.5)
    ctx.layers("client.samples") = reads.size
    ctx.layers("docs.request_build_ms") = ctx.rec.median("docs.request_build_ms")
    ctx.layers("exec.rows_out") = ctx.rec.sum("exec.rows_out") / math.max(1, reads.size)
    ctx.layers("docs.warm_corpus_s") = Rec.quantile(builds, 0.5)
    ctx.layers("docs.warm_pass_s") = warmS
    ctx.layers("standing.first_call_extra_ms") = Rec.quantile(
      entries.map(_._1).filter(k => ctx.rec.get(s"read_ms.$k").nonEmpty)
        .map(k => firstMs(k) - ctx.rec.median(s"read_ms.$k")), 0.5)
    ctx.recordWindowLayers()
    if (ctx.trace) {
      corpusSplit(ctx, ctx.spark.newSession())
      ctx.startWindow()
      DocMutate.round(ctx, Seq("ingest", "replace", "delete"))
    }
  }

  /** The standing corpora rebuilt step by step through the modules'
    * public functions (the same docs → shred → assemble chain, each step
    * written to parquet and read back), to split the build by stage. */
  private def corpusSplit(ctx: Ctx, s: SparkSession): Unit = {
    val dir = ctx.work.resolve("corpus-split").toString
    def mat(tag: String)(df: => org.apache.spark.sql.DataFrame) = {
      df.write.mode("overwrite").parquet(s"$dir/$tag")
      s.read.parquet(s"$dir/$tag")
    }
    def step[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val out = ctx.tracer(s"docs.standing/$name")(body)
      ctx.layers(s"docs.${name}_s") = Ctx.secondsSince(t0)
      out
    }
    val docs = step("plandocs")(mat("docs")(PlanDocs.docs(s, ctx.data)))
    val sh = step("shred") {
      val x = Shredder.shred(docs)
      graft.docs.Shredded(mat("entities")(x.entities), mat("edges")(x.edges))
    }
    step("assemble")(mat("assembled")(Assembler.assemble(sh, PlanSchema.plan, "plan")))
  }
}
