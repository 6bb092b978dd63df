package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.docs.DocQueries
import graft.stream.IndexPipeline

/** The standing-table layer: build once under concurrency, rebuild when
  * a fixture is regenerated in place, and tell in-memory corpora apart by
  * their rows. */
class StandingSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Run `body` on `n` threads released together; returns their results. */
  private def together[T](n: Int)(body: => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val go = new CountDownLatch(1)
    try {
      val fs = (1 to n).map(_ => Future { go.await(); body })
      go.countDown()
      Await.result(Future.sequence(fs), 5.minutes)
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
  }

  /** Copy fixture tables into a fresh dir, each as a one-file table dir,
    * so it can be rewritten in place. */
  private def copyFixture(tables: String*): String = {
    val d = TempDirs.create("graft-standing-fixture-")
    tables.foreach { t =>
      val dst = d.resolve(s"$t.parquet")
      Files.createDirectories(dst)
      Files.copy(Paths.get(sf, s"$t.parquet"), dst.resolve("part-0.parquet"))
    }
    d.toString
  }

  /** Rewrite `d/table.parquet` in place with the rows `keep` selects. */
  private def rewrite(s: SparkSession, d: String, table: String)(keep: DataFrame => DataFrame): Unit = {
    val kept = Standing.write(s, "spec-rewrite")(keep(s.read.parquet(s"$d/$table.parquet")))
    kept.coalesce(1).write.mode("overwrite").parquet(s"$d/$table.parquet")
  }

  test("eight threads asking for one key at once run its build once") {
    val in = Standing.Input(None, Seq(("spec-race", 0L, 0L)))
    val runs = new AtomicInteger
    val got = together(8) {
      Standing(spark, "spec-race", in) { runs.incrementAndGet(); Thread.sleep(300); new Object }
    }
    assert(runs.get === 1)
    assert(got.forall(_ eq got.head))

    // the document corpora through their real consumer, in a session that
    // has never built them
    val s = spark.newSession()
    val before = Seq("docs", "shredded", "assembled").map(t => t -> Standing.builds(t)).toMap
    together(8)(DocQueries.warm(s, sf))
    before.foreach { case (t, n) => assert(Standing.builds(t) === n + 1, t) }
  }

  test("a fixture rewritten in place rebuilds exactly once: corpus at rest " +
    "(document corpora) and derived frame (staged event log)") {
    val s = spark.newSession()
    def d19(d: String) = DocQueries.queries("d19_partitioned_sink")(s, d).collect().toSeq
    val d = copyFixture("customer", "orders", "events")
    def docBuilds = Seq("docs", "shredded").map(Standing.builds)

    val b0 = docBuilds
    val first = d19(d)
    assert(docBuilds === b0.map(_ + 1))
    assert(d19(d) === first)
    assert(docBuilds === b0.map(_ + 1), "a repeat must be served from the standing tables")
    rewrite(s, d, "orders")(_.filter(col("o_orderkey") % 2 === 0))
    val second = d19(d)
    assert(docBuilds === b0.map(_ + 2), "one rebuild per corpus table after the rewrite")
    assert(second !== first, "the rewritten fixture must not be served stale")
    assert(d19(d) === second)
    assert(docBuilds === b0.map(_ + 2))

    val stage = "stage-seq-4"
    val s0 = Standing.builds(stage)
    val live1 = IndexPipeline.run(s, d).count()
    assert(Standing.builds(stage) === s0 + 1)
    assert(IndexPipeline.run(s, d).count() === live1)
    assert(Standing.builds(stage) === s0 + 1, "a repeat run must reuse the staged log")
    rewrite(s, d, "events")(_.filter(col("user_id") % 2 === 0))
    val live2 = IndexPipeline.run(s, d).count()
    assert(Standing.builds(stage) === s0 + 2)
    assert(live2 < live1, "the staged log must follow the rewritten fixture")
  }

  test("two in-memory corpora with one schema and different rows build twice") {
    import spark.implicits._
    def corpus(rows: (Long, String)*) = rows.toDF("id", "body")
    def build(df: DataFrame): Path =
      Standing(spark, "spec-todf", Standing.frame(df))(TempDirs.create("graft-spec-todf-"))
    val before = Standing.builds("spec-todf")
    val a = build(corpus(1L -> "alpha", 2L -> "beta"))
    val b = build(corpus(1L -> "alpha", 2L -> "gamma"))
    assert(Standing.builds("spec-todf") === before + 2)
    assert(a !== b)
    // the same rows re-derived are the same input
    assert(build(corpus(1L -> "alpha", 2L -> "beta")) === a)
    assert(Standing.builds("spec-todf") === before + 2)
  }
}
