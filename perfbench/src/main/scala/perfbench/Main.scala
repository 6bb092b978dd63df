package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark client: one process, one client thread, one workload.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --work DIR --out FILE
  *
  * Writes one JSON report to --out (metrics, op counts, failures, header);
  * with --trace 1 also the spans (work/spans.jsonl). Every registry
  * entry's first response lands in work/results/<entry> as parquet, with
  * its DuckDB oracle SQL in work/results/oracle.json, for the runner's
  * correctness gate. */
object Main {

  private val t0Ns = System.nanoTime()

  /** Progress line on stderr (the run's jvm.log), stamped with seconds
    * since the client started. */
  def note(msg: String): Unit = System.err.println(f"[${Ctx.secondsSince(t0Ns)}%8.2f] $msg")

  def err(e: Throwable): String =
    e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("").replace('\n', ' ').take(300)

  /** Order-insensitive canonical form of a response, for comparing calls. */
  def canon(rows: Array[Row]): Seq[String] = rows.map(_.toString).sorted.toSeq

  /** graft.Bench's calibration pair: a whole-stage-codegen CPU burn and one
    * small shuffle, timed in seconds. Recorded in the header only. */
  private def calibration(spark: SparkSession): (Double, Double) = {
    val t0 = System.nanoTime()
    spark.range(0L, 400000000L, 1, 32).select(sum(col("id") * 3 + 1)).collect()
    val cpu = Ctx.secondsSince(t0)
    val t1 = System.nanoTime()
    spark.range(0L, 20000000L, 1, 32).groupBy(pmod(col("id"), lit(4096)).as("k"))
      .agg(count(lit(1)).as("c")).agg(sum(col("c"))).collect()
    (cpu, Ctx.secondsSince(t1))
  }

  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val trace = a("trace") == "1"
    val work = Paths.get(a("work"))
    val cpus = Runtime.getRuntime.availableProcessors()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (trace) b.config("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
    val spark = b.getOrCreate()
    note(f"session built ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2f s after JVM start")
    spark.sparkContext.addSparkListener(new ExecListener(withTasks = trace))
    graft.Bench.warmCollation(spark)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    note(f"session ready after $sessionS%.2f s from JVM start")

    val ctx = new Ctx(spark, a("data"), work, a("seed").toLong, a("seconds").toDouble, trace)
    val t0 = System.nanoTime()
    workload match {
      case "search_serve" => SearchServe.run(ctx, sessionS)
      case "batch_pipeline" => BatchPipeline.run(ctx, sessionS)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val wallS = Ctx.secondsSince(t0)
    ctx.layers("jvm.peak_rss_mb") = vmHwmMb()
    if (trace) ctx.layers("trace.op_p50_ms") = ctx.e2e("op_p50_ms")
    if (trace) ctx.tracer.write(work.resolve("spans.jsonl"), t0)

    // the first response of every registry entry, for the oracle check
    val res = work.resolve("results")
    Files.createDirectories(res)
    ctx.firstResults.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(res.resolve(name).toString)
    }
    val oracle = ctx.firstResults.keys.toSeq.flatMap(k => graft.SparkEntry.oracleSql.get(k).map(k -> _))
    Files.write(res.resolve("oracle.json"), Json.obj(oracle).getBytes(UTF_8))

    val (calCpu, calShuffle) = calibration(spark)
    val header = Seq(
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> trace, "master" -> s"local[$cpus]",
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark" -> spark.version, "java" -> System.getProperty("java.version"),
      "calib" -> Map("cpu" -> calCpu, "shuffle" -> calShuffle),
      "wall_s" -> wallS, "timed_ops" -> ctx.timedOps)
    val report = Json.obj(Seq(
      "header" -> scala.collection.immutable.ListMap(header: _*),
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failures" -> ctx.failures, "e2e" -> ctx.e2e, "layers" -> ctx.layers,
      "entry_calls" -> ctx.calls))
    Files.write(Paths.get(a("out")), report.getBytes(UTF_8))
    spark.stop()
  }
}
