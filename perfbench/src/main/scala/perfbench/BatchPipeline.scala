package perfbench

import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** batch_pipeline: passes of the ext job list and the stream jobs, in a
  * fixed order, over a seeded corpus with planted duplicates and a skewed,
  * partly disordered event log. */
object BatchPipeline {

  /** (registry entry, layer) in pass order. */
  val jobs: Seq[(String, String)] = Seq(
    "t11_bm25" -> "text",
    "dd5_embed_neardup" -> "dedup",
    "dd12_exact_substring" -> "dedup",
    "s2_lsh_ann" -> "similarity",
    "st1_stream_upsert" -> "stream",
    "st6_stream_join" -> "stream")


  /** Seconds of window per pass at a 4-core host's normal pace. The
    * window holds round(--seconds / PassS) passes, at least one: a count
    * that depends on --seconds only, never on the host or the code. */
  val PassS = 15.0

  private def span(name: String, layer: String) =
    if (layer == "stream") s"stream/$name" else s"ext.$layer/$name"

  private def runJob(ctx: Ctx, name: String) = {
    val df = ctx.tracer("job.build")(SparkEntry.queries(name)(ctx.spark, ctx.data))
    (df.schema, ctx.materialize(df))
  }

  def run(ctx: Ctx, sessionS: Double): Unit = {
    // warm pass: one full pass, which also builds the standing indexes
    val w0 = System.nanoTime()
    jobs.foreach { case (name, layer) =>
      ctx.attempted += 1
      ctx.calls(name) += 1
      try ctx.tracer(span(name, layer)) { ctx.firstResults(name) = runJob(ctx, name) }
      catch { case e: Throwable => ctx.fail(name, Main.err(e)) }
      Main.note(s"warm $name done")
    }
    val warmS = Ctx.secondsSince(w0)
    val setupS = sessionS + warmS
    val expected = ctx.firstResults.map { case (k, (_, rows)) => k -> Main.canon(rows) }
    val streamSkip = Counters.streamBatches.size
    ctx.startWindow()

    val passes = scala.collection.mutable.ArrayBuffer[Double]()
    val nPasses = math.max(1, math.round(ctx.seconds / PassS).toInt)
    for (p <- 1 to nPasses) {
      val pass0 = System.nanoTime()
      jobs.foreach { case (name, layer) =>
        ctx.attempted += 1
        ctx.calls(name) += 1
        ctx.tracer.req = s"p$p/$name"
        try {
          val ((_, rows), ms) = ctx.timed(span(name, layer))(runJob(ctx, name))
          Main.note(f"pass $p $name: $ms%.0f ms")
          ctx.rec.add("job_ms", ms)
          ctx.rec.add(s"job_ms.$name", ms)
          ctx.rec.add(s"layer_ms.$layer", ms)
          ctx.rec.add("exec.rows_out", rows.length)
          if (!expected.get(name).contains(Main.canon(rows)))
            ctx.fail(name, "result differs from the first pass's")
        } catch { case e: Throwable => ctx.fail(name, Main.err(e)) }
      }
      passes += Ctx.secondsSince(pass0)
    }

    org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
    val batches = Counters.streamBatches.asScala.toSeq.drop(streamSkip)
    def bsum(k: String) = batches.map(_.getOrElse(k, 0.0)).sum
    val streamMs = ctx.rec.sum("layer_ms.stream")
    val jobMs = ctx.rec.get("job_ms")
    // the op of this workload is a stream micro-batch: a fixed number per
    // pass (the event log's size sets it), each committing results. Whole
    // jobs are too few, and too unlike each other, for latency quantiles;
    // their total is pass_s.
    val triggerMs = batches.map(_("trigger_ms"))
    ctx.e2e("setup_s") = setupS
    ctx.e2e("op_p50_ms") = Rec.quantile(triggerMs, 0.5)
    ctx.e2e("op_p95_ms") = Rec.quantile(triggerMs, 0.95)
    ctx.e2e("items_per_s") = bsum("input_rows") / math.max(1e-9, streamMs / 1000)
    ctx.e2e("pass_s") = Rec.quantile(passes.toSeq, 0.5)
    ctx.layers("client.samples") = triggerMs.size
    ctx.layers("exec.rows_out") = ctx.rec.sum("exec.rows_out") / math.max(1, jobMs.size)
    jobs.foreach { case (name, layer) =>
      val prefix = if (layer == "stream") "stream" else "ext"
      ctx.layers(s"$prefix.job_s.$name") = ctx.rec.median(s"job_ms.$name") / 1000
    }
    for (l <- Seq("dedup", "similarity", "text"))
      ctx.layers(s"ext.${l}_s") = ctx.rec.sum(s"layer_ms.$l") / 1000 / passes.size
    val nb = math.max(1, batches.size)
    ctx.layers("stream.batches") = batches.size.toDouble / passes.size
    ctx.layers("stream.batch_ms") = Rec.quantile(triggerMs, 0.5)
    for (k <- Seq("add_batch_ms", "query_planning_ms", "wal_commit_ms", "state_commit_ms",
                  "state_update_ms"))
      ctx.layers(s"stream.$k") = Rec.quantile(batches.map(_(k)), 0.5)
    for (k <- Seq("state_rows", "state_mem_bytes", "watermark_dropped_rows"))
      ctx.layers(s"stream.$k") = bsum(k) / nb
    ctx.recordWindowLayers()
    if (ctx.trace) {
      ctx.startWindow()
      DocMutate.round(ctx, Seq("patch", "bulk"))
    }
  }
}
