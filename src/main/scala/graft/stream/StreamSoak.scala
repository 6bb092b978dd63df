package graft.stream

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables

/** State-soak measurement harness for the streaming family's 100 TB
  * claim. The claim is "state is watermark-bounded"; the st gates prove
  * CORRECTNESS over 3-4 micro-batches, which cannot distinguish bounded
  * state from a slow leak. This harness drives the same four stateful
  * shapes — st6 (stream-stream inner interval join), st8 (left outer),
  * st13 (full outer), st16 (flatMapGroupsWithState EQL) — for ~20
  * time-ordered micro-batches and records, per batch, the state store's
  * total rows and bytes from `StreamingQueryProgress.stateOperators`.
  * Flat rows/bytes after the watermark horizon = the contract holds; a
  * growing curve = a real bug. Results land in SCALE.md.
  *
  * Differences from the gates, both deliberate: (1) input files split on
  * `ts_us`, not `event_id` — a soak models a LIVE time-ordered stream so
  * the watermark advances every batch (the sf1 replica layout interleaves
  * event_id ranges across the time axis, which would replay the whole
  * month per replica and mostly measure late-data drops); (2) batch
  * count is a parameter (default 20) instead of the gates' fixed 3-4.
  *
  * Usage: runMain graft.stream.StreamSoak [sfDir] [nBatches]
  * (defaults: scaledata/sf1 20 — regenerate sf1 with tools/gen_sf1.py). */
object StreamSoak {

  final case class BatchStat(batchId: Long, inputRows: Long, stateRows: Long,
                             stateBytes: Long, watermark: String)

  /** Run one shape for `nBatches` micro-batches in `s`, a stream session
    * ([[IndexPipeline.streamSession]]); returns per-batch stats in batch
    * order. */
  def soak(s: SparkSession, d: String, which: String,
           nBatches: Int): Seq[BatchStat] =
    IndexPipeline.withStreamDir(s, s"soak_$which") { (ckDir, qname) =>
      // the staged log sits beside the checkpoint, in the dir that
      // withStreamDir deletes
      val srcDir = Paths.get(ckDir).resolveSibling("log").toString
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts_us"), col("user_id"), col("event_type"))
      val r0 = ev.agg(min(col("ts_us")), max(col("ts_us"))).head()
      val (minTs, maxTs) = (r0.getLong(0), r0.getLong(1))
      val span = maxTs - minTs + 1
      // zero-padded names: FileStreamSource breaks modification-time ties
      // by path, and "b10" < "b2" lexicographically would reorder batches.
      // Split on the RANGE-relative ts (epoch-absolute ts × n would floor
      // every row into the last bucket).
      (0 until nBatches).foreach { i =>
        ev.filter(floor((col("ts_us") - minTs) * nBatches / span) === i)
          .coalesce(1).write.parquet(f"$srcDir/b$i%03d")
      }
      if (which != "st16_eql") {
        // the gates' flush sentinels: one type-surviving event per join
        // side, 3 h past the last real event, so the final watermark
        // passes every real event's eviction bound
        import s.implicits._
        Seq((-1L, maxTs + 1 + 3L * 3600L * 1000000L, -1L, "click"),
            (-2L, maxTs + 1 + 3L * 3600L * 1000000L, -2L, "error"))
          .toDF("event_id", "ts_us", "user_id", "event_type")
          .coalesce(1).write.parquet(f"$srcDir/b$nBatches%03d")
      }
      def sideStream(tpe: String, alias: String) = s.readStream
        .schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$srcDir/b*")
        .select(col("event_id").as(s"${alias}_id"),
          col("user_id").as(s"${alias}_user"),
          col("event_type").as(s"${alias}_type"),
          timestamp_micros(col("ts_us")).as(s"${alias}_ts"))
        .withWatermark(s"${alias}_ts", "1 hour")
        .filter(col(s"${alias}_type") === tpe)
        .drop(s"${alias}_type")
      def interval = col("c_user") === col("e_user") &&
        col("e_ts") >= col("c_ts") &&
        col("e_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR")
      val plan: DataFrame = which match {
        case "st6_inner" =>
          sideStream("click", "c").join(sideStream("error", "e"), interval)
        case "st8_left_outer" =>
          sideStream("click", "c").join(sideStream("error", "e"), interval,
            "left_outer")
        case "st13_full_outer" =>
          sideStream("click", "c").join(sideStream("error", "e"), interval,
            "full_outer")
        case "st16_eql" =>
          import s.implicits._
          import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
          s.readStream
            .schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(s"$srcDir/b*")
            .filter(col("event_type").isin("view", "click", "purchase"))
            .as[SeqEvent]
            .groupByKey(_.user_id)
            .flatMapGroupsWithState(OutputMode.Append(),
              GroupStateTimeout.NoTimeout())(IndexPipeline.seqFold _)
            .toDF()
        case other => throw new IllegalArgumentException(s"unknown soak $other")
      }
      val q = plan.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(qname)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckDir)
        .start()
      try q.awaitTermination() finally if (q.isActive) q.stop()
      q.recentProgress.toSeq.map { p =>
        val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
        BatchStat(p.batchId, p.numInputRows,
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
          Option(p.eventTime).flatMap(m => Option(m.get("watermark")))
            .getOrElse("-"))
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("scaledata/sf1")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(20)
    val spark = graft.GraftSession.local()
    Seq("st6_inner", "st8_left_outer", "st13_full_outer", "st16_eql")
      .foreach { which =>
        val stats = soak(IndexPipeline.streamSession(spark), sfDir, which, nBatches)
        println(s"== $which ($sfDir, $nBatches batches) ==")
        println("batch | input_rows | state_rows | state_bytes | watermark")
        stats.foreach { b =>
          println(f"${b.batchId}%5d | ${b.inputRows}%10d | ${b.stateRows}%10d | " +
            f"${b.stateBytes}%11d | ${b.watermark}")
        }
        val nonzero = stats.map(_.stateRows).filter(_ > 0)
        if (nonzero.nonEmpty)
          println(f"state rows min/max over run: ${nonzero.min}/${nonzero.max} " +
            f"(max/min ratio ${nonzero.max.toDouble / nonzero.min}%.2f)")
        println()
      }
    spark.stop()
  }
}
