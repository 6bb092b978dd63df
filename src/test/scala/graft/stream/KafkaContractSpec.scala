package graft.stream

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** st15 — the Kafka ingestion contract, proven WITHOUT a broker (none in
  * this container: zero egress, no kafka connector jar — the documented
  * container-bound disposition). What a real `format("kafka")` source
  * adds over RestartSpec's file checkpoints is its FAILURE WINDOW: the
  * sink can apply a micro-batch and crash BEFORE the offset log commits,
  * so on restart the source re-delivers from the last committed offsets
  * — AT-LEAST-ONCE delivery. Exactly-once EFFECT then rests on the sink:
  * an idempotent keyed merge (LWW by seq, the P4/P5 pipeline contract)
  * must absorb the replay.
  *
  * This spec stages exactly that window with the REAL machinery: records
  * carry Kafka's (partition, offset) addressing, offsets live in the
  * actual Structured Streaming checkpoint offset log, and the
  * crash-before-commit is staged by SNAPSHOTTING the checkpoint after
  * batch N, consuming batch N+1 (sink applied, store mutated), then
  * RESTORING the older offset log and re-running — the source re-delivers
  * batch N+1 to a sink that already applied it, byte-for-byte what a
  * Kafka consumer does when it crashes after the produce-side effect but
  * before its commit.
  *
  * The exact swap for a real cluster (two lines): `readStream
  * .format("kafka").option("subscribe", topic)` in place of the file
  * source, and drop the staged snapshot/restore — Kafka's own
  * coordinator provides the failure for free. The sink code is unchanged;
  * idempotence is the property under test, not the transport.
  */
class KafkaContractSpec extends SparkSpec {

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val dst = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else { Files.createDirectories(dst.getParent); Files.copy(p, dst) }
    } finally s.close()
  }

  private def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  test("st15: at-least-once redelivery from a restored offset log composes " +
    "with the idempotent LWW sink to an exactly-once store") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-kafka-")
    val src = base.resolve("topic").toString
    val ck = base.resolve("ck")
    val ckSnap = base.resolve("ck-snap")
    val store = base.resolve("store").toString

    // the "topic": segment files carrying Kafka's addressing — every
    // record is (partition, offset, key, seq, value)
    def segment(name: String, rows: Seq[(Int, Long, String, Long, String)]): Unit =
      rows.toDF("partition", "offset", "key", "seq", "value")
        .coalesce(1).write.parquet(s"$src/$name")

    segment("s0", Seq((0, 0L, "k1", 1L, "A"), (0, 1L, "k2", 1L, "B")))
    segment("s1", Seq((0, 2L, "k1", 3L, "C"), (1, 0L, "k3", 1L, "D")))

    /** Idempotent keyed upsert — the P4/P5 LWW merge as a foreachBatch
      * sink: store' = argmax-by-(seq, partition, offset) per key over
      * store ∪ batch. Replaying any delivered batch is a fixed point. */
    def merge(batch: DataFrame): Unit = {
      val cur = try spark.read.parquet(store)
      catch { case _: Throwable => batch.limit(0) }
      val all = cur.unionByName(batch)
      val next = all
        .groupBy(col("key"))
        .agg(max(struct(col("seq"), col("partition").cast("long").as("partition"),
          col("offset"), col("value"))).as("w"))
        .select(col("key"), col("w.seq").as("seq"),
          col("w.partition").cast("int").as("partition"),
          col("w.offset").as("offset"), col("w.value").as("value"))
      // staged overwrite (reading + overwriting one path is refused)
      graft.Standing.write(spark, "kafka-stage")(next)
        .write.mode(SaveMode.Overwrite).parquet(store)
    }

    def run(): Unit = {
      val q = spark.readStream
        .schema("partition INT, offset BIGINT, key STRING, seq BIGINT, value STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$src/s*")
        .writeStream
        .foreachBatch((df: DataFrame, _: Long) => merge(df))
        .option("checkpointLocation", ck.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    run() // consume s0 + s1; offset log committed through both
    // snapshot the offset log = the consumer's last committed offsets
    copyTree(ck, ckSnap)
    // a new segment lands; the consumer applies it to the store...
    segment("s2", Seq((1, 1L, "k1", 2L, "STALE"), (1, 2L, "k2", 2L, "E")))
    run()
    val applied = spark.read.parquet(store).orderBy(col("key"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(4))).toSeq
    // ...but "crashes before committing": restore the older offset log
    rmTree(ck); copyTree(ckSnap, ck)
    run() // s2 is RE-DELIVERED to a sink that already applied it
    val after = spark.read.parquet(store).orderBy(col("key"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(4))).toSeq

    val expected = Seq(("k1", 3L, "C"), ("k2", 2L, "E"), ("k3", 1L, "D"))
    assert(applied === expected, "first delivery must produce the LWW state " +
      "(k1's late seq-2 record loses to its seq-3 upsert)")
    assert(after === expected,
      "redelivery of an already-applied batch must be a fixed point (exactly-once effect)")
    rmTree(base)
  }
}
