package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

object Bench {
  /** Spark 4.1's FIRST collation-aware string evaluation (any `lower()`)
    * triggers `CollationAwareUTF8String.<clinit>`, which builds an ICU
    * title-case map (~2 s of single-threaded CPU). Under `local[32]` all 32
    * task threads can hit the uninitialized class at once: one burns the CPU
    * in the initializer while 31 block on the class-init monitor, and the
    * stall compounds nondeterministically (jstack-verified 270-790 s on
    * d16_search_dsl; the reason BENCH_r04 timed out). Evaluating one row on
    * ONE partition before anything timed runs the initializer uncontended —
    * the same one-time per-executor warm-up a real cluster does at session
    * setup, outside any query's cost. */
  def warmCollation(spark: SparkSession): Unit =
    try spark.range(0, 1, 1, numPartitions = 1)
      .select(array_contains(split(lower(lit("Warm Up")), "\\s+"), "warm"))
      .collect()
    catch { case _: Throwable => () }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // Warm up codegen/JIT/parquet-footer paths once so the first measured
    // query doesn't absorb ~30 s of one-time JVM cost (seen in BENCH_r01).
    try SparkEntry.queries("q1_agg")(spark, sfDir).count()
    catch { case _: Throwable => () }
    // Fixed cross-round CALIBRATION suite: two code-independent synthetic
    // jobs — a pure whole-stage-codegen CPU burn and one small shuffle —
    // measured before anything engine-specific. They normalize box speed
    // across rounds (r15's committed artifact ran on a box ~1.4× slower
    // than its own driver's; warm_corpus alone conflates engine changes
    // with ambient speed). NEVER change these job shapes: their whole
    // value is being bit-identical in every round's artifact header.
    val (calibCpu, calibShuffle) = {
      val t0 = System.nanoTime()
      try spark.range(0L, 400000000L, 1, 32)
        .select(sum(col("id") * 3 + 1)).collect()
      catch { case _: Throwable => () }
      val cpu = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      try spark.range(0L, 20000000L, 1, 32)
        .groupBy(pmod(col("id"), lit(4096)).as("k"))
        .agg(count(lit(1)).as("c")).agg(sum(col("c"))).collect()
      catch { case _: Throwable => () }
      (cpu, (System.nanoTime() - t1) / 1e9)
    }
    // Build the shared document corpora (docs → shredded → assembled
    // parquet) once, timed as its own entry: it is the ingest/index step
    // all d-queries read from ("write once, read everywhere"), not part
    // of any single query's cost.
    val errs = scala.collection.mutable.LinkedHashMap[String, String]()
    val leakers = scala.collection.mutable.ListBuffer[String]()
    // Leak sentinel: every query must release its persists before returning
    // (graft.Eager discipline). A leaked block poisons every query that runs
    // after it in the 75-query session (round 3: 16 code-unchanged queries
    // regressed 2-93x). Name the offender in the output (LeakSpec fails CI
    // on the same condition) and unpersist immediately so the remaining
    // queries measure the engine, not the leak. Runs OUTSIDE the timed
    // window so cleanup cost is never billed to the leaking query.
    def reapLeaks(after: String): Unit = {
      val leaked = spark.sparkContext.getPersistentRDDs
      if (leaked.nonEmpty) {
        leakers += after
        System.err.println(
          s"LEAK: query $after left ${leaked.size} persisted RDD(s)")
        leaked.values.foreach(_.unpersist(false))
      }
    }
    // Session-ambient cleanup drain (r15): the sf1 artifact showed the
    // heavy shred queries' ASYNC shuffle/broadcast cleanup (ContextCleaner
    // work enqueued only when driver GC collects the references) bleeding
    // 9-14 s into the next ~5 queries' timed windows (SCALE.md
    // "run-order coupling", d220-d225). After any run heavy enough to
    // leave cleanup behind, trigger reference processing NOW — outside
    // every timed window — and give the cleaner thread a moment to drain,
    // so neighbors measure the engine, not the previous query's GC. Cost
    // lands in wall (reported separately), never in a query's median.
    def drainCleanup(dt: Double): Unit =
      if (dt > 1.0) { System.gc(); Thread.sleep(250) }
    val tw = System.nanoTime()
    try graft.docs.DocQueries.warm(spark, sfDir)
    catch { case e: Throwable => errs("warm_corpus") = err(e) }
    val warm = ("warm_corpus", (System.nanoTime() - tw) / 1e9)
    reapLeaks("warm_corpus")
    drainCleanup(warm._2)
    // Optional comma-separated prefix filter (local iteration; the driver
    // sets neither, so it always measures everything).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    // per-query successful run times, in run order (all three when all
    // succeed) — lets a reader separate noise from regression without a
    // quiet-box rerun
    val allRuns = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    // The dd family runs FIRST, the rest alphabetically: round 10 showed
    // the alphabetical slot right after the d-queries' memory high-water
    // mark distorting the dedup measurements (since fixed at the root by
    // the standing parquet index, but the bench should measure engine
    // cost, not slot luck). Per-query best-of-2 numbers stay comparable
    // across rounds — only the run ORDER moves.
    val results = warm +: SparkEntry.queries.toSeq
      .sortBy { case (n, _) => (if (n.startsWith("dd")) 0 else 1, n) }
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
      .map { case (name, fn) =>
        // A dead SparkContext (driver SIGTERM, OOM) must not let the
        // remaining queries "complete" in milliseconds and report fiction
        // (BENCH_r04's tail did exactly that): mark them skipped instead.
        if (spark.sparkContext.isStopped) {
          errs.getOrElseUpdate(name, "skipped: SparkContext stopped")
          name -> 0.0
        } else {
          // Median-of-3: transient CPU bursts crossing the (alphabetical)
          // run order distorted two consecutive driver artifacts with
          // 3-20x slowdowns on code-unchanged queries, costing a noise
          // adjudication each round. A burst long enough to contaminate
          // the MEDIAN of three back-to-back runs would show in wall
          // (reported separately); the median is the engine's cost. All
          // three runs are ALWAYS attempted (a transient failure gets its
          // retries), the raw times ship in "runs" so a reader can see
          // the spread, and an error is recorded only when NO run
          // succeeded — a query must never read as both errored and timed.
          def once(): Either[String, Double] =
            if (spark.sparkContext.isStopped)
              Left("skipped: SparkContext stopped")
            else {
              val t0 = System.nanoTime()
              try { fn(spark, sfDir).count()
                val dt = (System.nanoTime() - t0) / 1e9
                reapLeaks(name); drainCleanup(dt); Right(dt)
              } catch { case e: Throwable =>
                reapLeaks(name); Left(err(e)) }
            }
          val attempts = Seq(once(), once(), once())
          val oks = attempts.collect { case Right(t) => t }
          allRuns(name) = oks
          if (oks.isEmpty) {
            errs.getOrElseUpdate(name,
              attempts.head.left.getOrElse("unknown"))
            name -> 0.0
          } else name -> oks.sorted.apply((oks.size - 1) / 2)
        }
      }
    def f(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => jstr(k) + ":" + f(v) }
      .mkString("{", ",", "}")
    // a query where fewer than 3 runs succeeded reports a DEGRADED
    // statistic (lower median of 2, or the single run) — name it so a
    // reader never mistakes it for a true 3-run median
    val degraded = allRuns.collect { case (k, vs) if vs.nonEmpty && vs.size < 3 => jstr(k) }
      .mkString("[", ",", "]")
    val runsJson = allRuns.map { case (k, vs) =>
      jstr(k) + ":" + vs.map(f).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val wall = (System.nanoTime() - tw) / 1e9
    val lk = leakers.map(jstr).mkString("[", ",", "]")
    val es = errs.map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    // conditions: per-query medians are measured on a POST-DRAIN JVM
    // (System.gc + 250 ms settle after every >1 s run, outside the timed
    // window) — cross-query cleanup bleed is isolated, so medians may
    // understate steady-state async-cleanup cost vs un-drained rounds
    // (r14 and earlier); the drain cost lands in wall, never in a median.
    val cond = "\"conditions\":\"medians post-drain (gc+250ms settle after >1s runs, untimed); drain cost in wall\""
    val calibJson = s""""calib":{"cpu":${f(calibCpu)},"shuffle":${f(calibShuffle)}}"""
    val line =
      s"""{"metric":"total","value":${f(total)},"unit":"sec","runs_per_query":3,"per_query_stat":"median",$cond,$calibJson,"degraded":$degraded,"wall":${f(wall)},"queries":$qs,"runs":$runsJson,"leaks":$lk,"errs":$es,"sf":"$sfDir"}"""
    // Persist the FULL line (complete per-query medians + raw runs) to a
    // file: the driver's round artifact keeps only the last ~2000 stdout
    // chars, which a ~26 KB 390-query line can never fit (r13's
    // parsed: null). A partial SPARK_GRAFT_ONLY run writes a separate
    // file so it can't clobber the full-registry artifact (a round-13
    // gotcha that cost a git restore).
    val outFile =
      if (only.isEmpty) "bench_out.json" else "bench_out_partial.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    spark.stop()
    // stdout gets a COMPACT line sized to survive the driver's 2000-char
    // tail WHOLE (so parsed is never null): headline numbers + the
    // slowest medians; the complete map lives in bench_out.json (and the
    // per-round copies committed under benchhist/).
    val slowest = results.sortBy(-_._2).take(12)
      .map { case (k, v) => jstr(k) + ":" + f(v) }.mkString("{", ",", "}")
    val esCompact = errs.take(5).map { case (k, v) =>
      jstr(k) + ":" + jstr(v.take(80)) }.mkString("{", ",", "}") +
      (if (errs.size > 5) s""","errs_more":${errs.size - 5}""" else "")
    println(
      s"""{"metric":"total","value":${f(total)},"unit":"sec","runs_per_query":3,"per_query_stat":"median","n_queries":${results.size},$calibJson,"degraded":$degraded,"wall":${f(wall)},"queries":$slowest,"queries_note":"12 slowest of ${results.size}; full map in $outFile","leaks":$lk,"errs":$esCompact,"sf":"$sfDir"}""")
  }

  /** A JSON string literal: quote, backslash and every control char
    * escaped, so a tab or CR in a query name or SQL text cannot break the
    * reader's `json.load`. */
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def err(e: Throwable): String =
    e.getClass.getSimpleName + ": " +
      Option(e.getMessage).getOrElse("").replace('\n', ' ').take(200)
}
