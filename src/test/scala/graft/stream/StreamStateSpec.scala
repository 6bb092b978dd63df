package graft.stream

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkSpec

/** The state-store shape of the stream sessions. A stream-stream join run
  * through [[IndexPipeline.joinSession]] must commit ONE state-store
  * instance per shuffle partition per micro-batch (join state format 3:
  * both sides' four stores in one RocksDB store), against four under the
  * plain stream session. Machine-independent counts from
  * `StreamingQueryProgress`: they fail if the confs stop reaching the
  * query. */
class StreamStateSpec extends SparkSpec {
  import StreamStateSpec._

  private def storeInstances(s: SparkSession): Seq[Long] = {
    val base = Files.createTempDirectory("graft-state-spec-")
    try {
      val src = base.resolve("src").toString
      stage(spark, src, events)
      val q = clickErrorJoin(s, src).writeStream
        .format("noop")
        .option("checkpointLocation", base.resolve("ck").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      val progress = q.recentProgress.toSeq
      assert(progress.size >= events.map(_._1).distinct.size,
        "one progress per staged file at least")
      progress.map(_.stateOperators(0).numStateStoreInstances)
    } finally graft.TempDirs.deleteRecursively(base)
  }

  test("join session: one state-store instance per partition per batch") {
    val s = IndexPipeline.joinSession(spark)
    val parts = s.conf.get("spark.sql.shuffle.partitions").toLong
    assert(storeInstances(s).forall(_ == parts))
  }

  test("plain stream session: four state-store instances per partition per batch") {
    val s = IndexPipeline.streamSession(spark)
    val parts = s.conf.get("spark.sql.shuffle.partitions").toLong
    assert(storeInstances(s).forall(_ == 4 * parts))
  }

  test("a failed stream drops its sink view and its checkpoint dir") {
    val s = IndexPipeline.streamSession(spark)
    val base = Files.createTempDirectory("graft-state-spec-")
    def leftovers: Seq[String] =
      new java.io.File(System.getProperty("java.io.tmpdir")).list().toSeq
        .filter(_.startsWith("graft-failing_stream-")) ++
      s.catalog.listTables().collect().toSeq.map(_.name)
        .filter(_.startsWith("failing_stream_"))
    try {
      val src = base.resolve("src").toString
      stage(spark, src, events)
      val boom = udf((id: Long) => {
        if (id > 0) throw new IllegalStateException("planted failure"); id })
      val plan = s.readStream
        .schema("event_id BIGINT, user_id BIGINT, event_type STRING, ts_us BIGINT")
        .parquet(s"$src/b*")
        .select(boom(col("event_id")).as("id"))
      assert(leftovers.isEmpty)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        IndexPipeline.drain(plan, "failing_stream", "append")(identity))
      assert(leftovers.isEmpty, "the failed stream's view or checkpoint dir leaked")
    } finally graft.TempDirs.deleteRecursively(base)
  }

  test("SPARK_GRAFT_STREAM_PARTITIONS parses to a positive integer or a typed rejection") {
    assert(IndexPipeline.parsePartitions(None) === 8)
    assert(IndexPipeline.parsePartitions(Some("12")) === 12)
    assert(IndexPipeline.parsePartitions(Some(" 3 ")) === 3)
    Seq("abc", "", "0", "-2", "1.5", "99999999999").foreach { bad =>
      val e = intercept[IllegalArgumentException](IndexPipeline.parsePartitions(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_STREAM_PARTITIONS"), bad)
    }
  }
}

object StreamStateSpec {
  /** (file, event_id, user_id, event_type, ts in seconds after `T0`):
    * clicks and errors of four users, with pairs inside one file and
    * across files. */
  val events: Seq[(Int, Long, Long, String, Long)] = Seq(
    (0, 1L, 1L, "click", 0L), (0, 2L, 2L, "click", 100L), (0, 3L, 1L, "error", 200L),
    (1, 4L, 3L, "click", 1000L), (1, 5L, 2L, "error", 1100L), (1, 6L, 5L, "view", 1200L),
    (2, 7L, 3L, "error", 2000L), (2, 8L, 1L, "error", 2500L), (2, 9L, 4L, "click", 3000L),
    (3, 10L, 4L, "error", 3100L), (3, 11L, 2L, "error", 9000L))

  /** Epoch seconds of the first event. Not 0: the first batch's watermark
    * is 0, and an event at or below it is dropped as late. */
  val T0 = 1700000000L

  /** Write the rows of the given files, one parquet dir per file. */
  def stage(s: SparkSession, src: String,
            rows: Seq[(Int, Long, Long, String, Long)]): Unit = {
    import s.implicits._
    rows.groupBy(_._1).foreach { case (f, rs) =>
      rs.map(r => (r._2, r._3, r._4, (T0 + r._5) * 1000000L))
        .toDF("event_id", "user_id", "event_type", "ts_us")
        .coalesce(1).write.parquet(s"$src/b$f")
    }
  }

  /** The batch twin of [[clickErrorJoin]]: (click id, error id) pairs. */
  def batchPairs(s: SparkSession): Seq[(Long, Long)] = {
    import s.implicits._
    val ev = events.map(r => (r._2, r._3, r._4, r._5)).toDF("id", "user", "type", "ts")
    val c = ev.filter(col("type") === "click").as("c")
    val e = ev.filter(col("type") === "error").as("e")
    c.join(e, col("c.user") === col("e.user") &&
        col("e.ts") >= col("c.ts") && col("e.ts") <= col("c.ts") + 3600L)
      .select(col("c.id"), col("e.id")).as[(Long, Long)].collect().toSeq.sorted
  }

  /** st6's shape: clicks inner-joined to the same user's errors within the
    * following hour, watermarked on both sides. */
  def clickErrorJoin(s: SparkSession, src: String): DataFrame = {
    def side(tpe: String, alias: String) = s.readStream
      .schema("event_id BIGINT, user_id BIGINT, event_type STRING, ts_us BIGINT")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$src/b*")
      .filter(col("event_type") === tpe)
      .select(col("event_id").as(s"${alias}_id"), col("user_id").as(s"${alias}_user"),
        timestamp_micros(col("ts_us")).as(s"${alias}_ts"))
      .withWatermark(s"${alias}_ts", "1 hour")
    side("click", "c").join(side("error", "e"),
      col("c_user") === col("e_user") &&
        col("e_ts") >= col("c_ts") &&
        col("e_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
  }

  /** Run [[clickErrorJoin]] over `src` into the parquet sink `out` until
    * the source is drained. */
  def runToParquet(s: SparkSession, src: String, ck: String, out: String): StreamingQuery = {
    val q = clickErrorJoin(s, src).select(col("c_id"), col("e_id")).writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    q
  }
}
