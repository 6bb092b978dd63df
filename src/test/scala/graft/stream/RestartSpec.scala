package graft.stream

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** Exactly-once ACROSS RESTARTS — the property the st-registry queries
  * exercise within one run, proven here over a stop/restart boundary: a
  * query is killed after consuming part of its source, a NEW writeStream
  * (fresh query object, same checkpoint) consumes the rest, and the file
  * sink must hold each input row exactly once — no replays of the files
  * the first incarnation committed, no gaps. This is the recovery
  * contract a 1000-executor deployment leans on every deploy/restart. */
class RestartSpec extends SparkSpec {

  test("file-sink aggregationless pipeline resumes from checkpoint without replay") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-restart-")
    val src = base.resolve("src").toString
    val ck = base.resolve("ck").toString
    val out = base.resolve("out").toString
    // phase-1 source: 2 files
    Seq(1L, 2L, 3L).toDF("id").coalesce(1).write.parquet(s"$src/b0")
    Seq(4L, 5L).toDF("id").coalesce(1).write.parquet(s"$src/b1")
    def run(): Unit = {
      val q = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$src/b*")
        .withColumn("doubled", col("id") * 2)
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run() // incarnation 1 consumes b0 + b1, then terminates
    // more data lands while the query is DOWN
    Seq(6L, 7L, 8L).toDF("id").coalesce(1).write.parquet(s"$src/b2")
    run() // incarnation 2: same checkpoint, must process ONLY b2
    val rows = spark.read.parquet(out).select(col("id"), col("doubled"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows === (1L to 8L).map(i => (i, i * 2)),
      "restart must neither replay committed files nor drop the new one")
    // cleanup
    def rm(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rm); p.delete()
    }
    rm(base.toFile)
  }

  test("format-3 RocksDB stream-stream join resumes from checkpoint without replay or loss") {
    import StreamStateSpec._
    val s = IndexPipeline.joinSession(spark)
    val base = Files.createTempDirectory("graft-restart-join-")
    try {
      val (before, after) = events.partition(_._1 < 2)
      // pairs whose click the first incarnation saw and whose error only
      // the second sees: they need the join state restored from the checkpoint
      assert(before.exists(c => after.exists(e => c._3 == e._3 && c._4 == "click" &&
        e._4 == "error" && e._5 - c._5 <= 3600L)))
      def pairs(out: String) = s.read.parquet(out).select(col("c_id"), col("e_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

      val src = base.resolve("src").toString
      val ck = base.resolve("ck").toString
      val out = base.resolve("out").toString
      stage(spark, src, before)
      runToParquet(s, src, ck, out) // incarnation 1: files 0 and 1
      stage(spark, src, after) // files 2 and 3 land while the query is down
      val resumed = runToParquet(s, src, ck, out)
      val parts = s.conf.get("spark.sql.shuffle.partitions").toLong
      assert(resumed.recentProgress.forall(_.stateOperators(0).numStateStoreInstances == parts),
        "the restarted query keeps the single-store format")

      val whole = base.resolve("whole").toString
      stage(spark, whole, events)
      runToParquet(s, whole, base.resolve("ck-whole").toString, base.resolve("out-whole").toString)

      val expected = batchPairs(spark)
      assert(expected.nonEmpty)
      assert(pairs(base.resolve("out-whole").toString) === expected)
      assert(pairs(out) === expected, "restart must neither replay nor lose a pair")
    } finally graft.TempDirs.deleteRecursively(base)
  }
}
