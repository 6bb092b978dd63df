package graft.stream

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.Tables

/** P1–P5 — the reference's async indexing pipeline (SURVEY §2 B), rebuilt
  * as Structured Streaming: a mutation log is consumed in micro-batches and
  * merged into a last-write-wins state table keyed by entity id.
  *
  * Reference semantics upgraded, not copied: RabbitMQ's non-durable queue
  * gives at-most-once delivery (`BdiDemoApplication.java:23`, listener
  * swallows errors `IndexingListener.java:53-57`); checkpointing + an
  * idempotent merge give exactly-once here. SAVE upserts the latest record
  * per key (`IndexingListener.java:115-125` — ES PUT by id), DELETE
  * tombstones it (`:127-131`).
  *
  * Scale shape: state lives in a table BUCKETED by key hash; each
  * micro-batch is reduced to one row per key (map-side-combinable
  * `max_by`), shuffled once into the bucket layout, and merged with a
  * co-partitioned full-outer join — the big (state) side never
  * re-shuffles, batch after batch, which is the property that matters
  * when state is 100 TB and a micro-batch is megabytes. Asserted by
  * BucketedJoinSpec ("state merge does not re-shuffle the state side").
  */
object IndexPipeline {

  type Q = (SparkSession, String) => DataFrame

  /** Stage the log as nFiles TIME-ordered parquet files — file k covers
    * the k-th fraction of the event-time range — so the micro-batch
    * fixture emulates a production log whose files ROLL BY TIME and a
    * later batch is never behind the watermark. The pre-r15 split keyed
    * on event_id, which is time-correlated in the base testdata but
    * DECORRELATES on sf1's replica-shifted ids: each later batch arrived
    * almost entirely late, and append-mode join/session state dropped it
    * (the sf1 oracle gate caught st4/st6/st8/st13 exactly this way;
    * complete-mode aggregations were immune). A fixture-shape artifact,
    * not engine behavior — but time-rolled files are also the honest
    * 100 TB arrival shape, so every time-bearing fixture stages this
    * way now. */
  private def stageTimeOrdered(ev: DataFrame, srcDir: String,
                               nFiles: Int): Unit = {
    val b = ev.agg(min(col("ts_us")), max(col("ts_us"))).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1) + 1L)
    (0 until nFiles).foreach { i =>
      ev.filter(floor((col("ts_us") - lo) * nFiles / (hi - lo)) === i)
        .coalesce(1).write.parquet(s"$srcDir/b$i")
    }
  }

  /** Staged fixtures: the log files for a given (frame, split mode,
    * nFiles) are written ONCE per root session and shared across a
    * query's bench repeats (and across queries staging the same frame).
    * Staging emulates the prefix of log files a production stream would
    * already have on disk — FIXTURE PREP, not engine work — so re-billing
    * it to every timed run (the r15 bench paid it 3× per streaming
    * query) measures the harness, not the engine. A [[graft.Standing]]
    * entry keyed on the frame itself (its canonicalized plan and input
    * listing): a different sfDir, column set, derivation or regenerated
    * fixture is its own staging. Keyed on the caller's root session `s0`,
    * not the isolated per-run stream session, whose staged parquet is
    * identical. Checkpoints and sinks stay strictly per-run. */
  private def stagedDir(s0: SparkSession, ev: DataFrame, nFiles: Int, mode: String)
                       (write: String => Unit): String =
    graft.Standing(s0, s"stage-$mode-$nFiles", graft.Standing.frame(ev)) {
      val dir = graft.TempDirs.create(s"graft-stage-$mode-").toString
      write(dir)
      dir
    }

  /** Memoized [[stageTimeOrdered]] — returns the shared staged dir. */
  private def stagedTimeOrdered(s0: SparkSession, ev: DataFrame, nFiles: Int): String =
    stagedDir(s0, ev, nFiles, "time")(dir => stageTimeOrdered(ev, dir, nFiles))

  /** Memoized sequence-split staging (time-free fixtures): file i =
    * the i-th seq range — one max(seq) aggregate, paid once per root session. */
  private def stagedSeqOrdered(s0: SparkSession, log: DataFrame, nFiles: Int,
                               seqCol: String = "seq"): String =
    stagedDir(s0, log, nFiles, "seq") { dir =>
      val maxSeq = log.agg(max(col(seqCol))).head().getLong(0) + 1
      (0 until nFiles).foreach { i =>
        log.filter(floor(col(seqCol) * nFiles / maxSeq) === i)
          .coalesce(1).write.parquet(s"$dir/b$i")
      }
    }

  /** Isolated session for one streaming query's run (own SQLConf, shared
    * SparkContext — staged fixtures key on the root session, so they
    * still hit). Stateful streaming operators create one state-store
    * instance PER SHUFFLE PARTITION per operator: every micro-batch pays a
    * load+commit+delta-file+fsync per instance, so the session
    * default sized for the 32-core batch engine spends its time on store
    * bookkeeping for a few-MB log, not on the engine (the st6 r15 finding
    * — 8 partitions carry identical semantics at a quarter of the fixed
    * cost; r19 extends the same shape to every streaming query). The
    * LOCAL default is 8, overridable via SPARK_GRAFT_STREAM_PARTITIONS: a
    * cluster sizes state partitions to TOTAL STATE VOLUME (≈ state bytes
    * / a few hundred MB per store instance, thousands of partitions at
    * 100 TB), never to a constant — the conf is the deployment's knob,
    * the semantics are partition-count-independent, and the final
    * orderBy in every query pins the output regardless. */
  private[stream] def streamSession(s0: SparkSession): SparkSession = {
    val s = s0.newSession()
    s.conf.set("spark.sql.shuffle.partitions", streamShufflePartitions)
    s
  }

  /** [[streamSession]] for stream-stream joins. A join holds four state
    * stores per partition (key→count and key-index→value, per side); join
    * state format 3 keeps all four in ONE RocksDB store as virtual column
    * families, so each micro-batch loads and commits one store instance
    * per partition instead of four (format 3 requires RocksDB). Joins
    * only: the other stateful operators ran slower on RocksDB (st5 0.73×,
    * st4 0.84×, st12 0.85× over 10 A/B pairs, ROADMAP item 2), so they
    * stay on the HDFS-backed default. */
  private[stream] def joinSession(s0: SparkSession): SparkSession = {
    val s = streamSession(s0)
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set("spark.sql.streaming.join.stateFormatVersion", 3L)
    s
  }

  /** State partitions of every stream session. Read per session, never in
    * this object's initializer: a malformed value then fails the query
    * that reads it, instead of failing class initialization and with it
    * every later stream query. */
  private[stream] def streamShufflePartitions: Int =
    parsePartitions(sys.env.get("SPARK_GRAFT_STREAM_PARTITIONS"))

  /** SPARK_GRAFT_STREAM_PARTITIONS: a positive integer, 8 when unset. */
  private[stream] def parsePartitions(raw: Option[String]): Int = raw match {
    case None => 8
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_STREAM_PARTITIONS must be a positive integer, got '$v'"))
  }

  /** The staged log as a stream, one file per micro-batch. */
  private def source(s: SparkSession, schema: StructType, srcDir: String): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(s"$srcDir/b*")

  /** One owner for a stream query's temp state: a temp dir for its checkpoint
    * and the memory-sink name `<name>_<nanos>`. The sink's temp view and
    * the dir (with any RocksDB store checkpointed in it) are dropped in a
    * finally, so a failed stream leaks neither. */
  private def withStreamDir[T](s: SparkSession, name: String)
                              (body: (String, String) => T): T = {
    val base = Files.createTempDirectory(s"graft-$name-")
    val qname = s"${name}_${System.nanoTime()}"
    try body(base.resolve("ck").toString, qname)
    finally {
      s.catalog.dropTempView(qname)
      graft.TempDirs.deleteRecursively(base)
    }
  }

  /** Run `plan` over its whole staged source (Trigger.AvailableNow) into a
    * memory sink, and pin `finish` of the sink table before the temp dir
    * goes. */
  private[stream] def drain(plan: DataFrame, name: String, mode: String)
                           (finish: DataFrame => DataFrame): DataFrame = {
    val s = plan.sparkSession
    withStreamDir(s, name) { (ckDir, qname) =>
      val q = plan.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(qname)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckDir)
        .start()
      // stop only a query still running (the await was interrupted): a
      // drained query has no job group left, and stopping it logs a warning
      try q.awaitTermination() finally if (q.isActive) q.stop()
      graft.Eager.pin(finish(s.table(qname)))
    }
  }

  /** The `events` table as a mutation log: `event_id` = sequence number,
    * `user_id` = entity key, 'error' events = DELETE, all else SAVE. */
  def mutationLog(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id").as("seq"),
      col("user_id").as("key"),
      when(col("event_type") === "error", "DELETE").otherwise("SAVE").as("op"),
      col("event_type"), col("value"))

  /** Merge one micro-batch into `state`: keep the max-seq record per key,
    * accumulating per-key event counts. Pure DataFrame→DataFrame so the
    * batch path reuses it verbatim.
    *
    * Shape: the batch collapses to one row per key with a single
    * `max_by` aggregation (partial/map-side combinable — no window sort),
    * then a full-outer equi-join picks the newer record per key. A JOIN,
    * not union+window, deliberately: when `state` is a table bucketed by
    * `key`, the join is co-partitioned and only the batch side shuffles —
    * union+window would re-shuffle the whole state every batch. */
  def merge(state: DataFrame, batch: DataFrame): DataFrame = {
    val latest = batch.groupBy(col("key")).agg(
      max_by(struct(col("seq"), col("op"), col("event_type"), col("value")),
        col("seq")).as("r"),
      count(lit(1)).as("n_events"))
      .select(col("key"), col("r.seq").as("seq"), col("r.op").as("op"),
        col("r.event_type").as("event_type"), col("r.value").as("value"),
        col("n_events"))
    state.as("s").join(latest.as("b"), Seq("key"), "full_outer")
      .select(col("key"),
        when(col("b.seq").isNotNull &&
            (col("s.seq").isNull || col("b.seq") >= col("s.seq")),
          struct(col("b.seq").as("seq"), col("b.op").as("op"),
            col("b.event_type").as("event_type"), col("b.value").as("value")))
          .otherwise(struct(col("s.seq").as("seq"), col("s.op").as("op"),
            col("s.event_type").as("event_type"), col("s.value").as("value")))
          .as("r"),
        (coalesce(col("s.n_events"), lit(0L)) +
          coalesce(col("b.n_events"), lit(0L))).as("n_total"))
      .select(col("key"), col("r.seq").as("seq"), col("r.op").as("op"),
        col("r.event_type").as("event_type"), col("r.value").as("value"),
        col("n_total").as("n_events"))
  }

  /** Run the whole log through the streaming pipeline in `nFiles`
    * micro-batches (Trigger.AvailableNow + maxFilesPerTrigger=1) and
    * return the final state: live (non-tombstoned) entities.
    *
    * State is a catalog table BUCKETED by `key` (versioned per batch id —
    * exactly-once: a replayed batch overwrites its own version). Each
    * batch's merge therefore reads the state side already hash-partitioned
    * on the join key: only the micro-batch shuffles, and the merge output
    * lands back in the same bucket layout. */
  def run(s0: SparkSession, d: String, nFiles: Int = 4,
          buckets: Int = streamShufflePartitions): DataFrame = {
    // state table buckets match the stream session's shuffle partitions so
    // the per-batch merge stays co-partitioned (BucketedJoinSpec property)
    val s = streamSession(s0)

    // Stage the log as nFiles files split by seq range — deterministic
    // micro-batch boundaries (file order = lexicographic part-file name);
    // written once per root session (fixture prep, not engine work).
    val log = mutationLog(s, d)
    val srcDir = stagedSeqOrdered(s0, log, nFiles)

    val runId = java.util.UUID.randomUUID().toString.replace("-", "")
    def tbl(v: String) = s"st1_state_${runId}_$v"
    val created = scala.collection.mutable.ListBuffer[String]()
    def writeState(df: DataFrame, v: String): String = {
      val name = tbl(v)
      df.write.mode("overwrite").bucketBy(buckets, "key").sortBy("key")
        .saveAsTable(name)
      created += name
      name
    }
    // The state tables are dropped in a finally (the temp dir by
    // withStreamDir): a failed stream or merge must not leak catalog tables
    // (they'd shadow the next run's names for the rest of the session).
    withStreamDir(s, "st1_upsert") { (ckDir, _) =>
      try {
        var stateTable = writeState(s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType.fromDDL(
            "key BIGINT, seq BIGINT, op STRING, event_type STRING, value DOUBLE, n_events BIGINT")),
          "init")

        val stream = source(s, log.schema, srcDir)
          .writeStream
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckDir)
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            stateTable = writeState(merge(s.table(stateTable), batch), s"v$batchId")
            ()
          }
          .start()
        stream.awaitTermination()

        val result = s.table(stateTable).filter(col("op") =!= "DELETE")
          .select(col("key").as("user_id"), col("seq").as("last_event_id"),
            col("event_type").as("last_type"), col("value").as("last_value"),
            col("n_events"))
          .orderBy(col("user_id"))
        graft.Eager.pin(result) // materialize before state is dropped
      } finally created.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  // ---------------------------------------------------------------- st1
  private def st1(s: SparkSession, d: String): DataFrame = run(s, d)

  private val st1Sql =
    """WITH latest AS (
      |  SELECT user_id, event_id, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n_events
      |  FROM events)
      |SELECT user_id, event_id AS last_event_id, event_type AS last_type,
      |  value AS last_value, CAST(n_events AS BIGINT) AS n_events
      |FROM latest WHERE rn = 1 AND event_type <> 'error'
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- st2
  /** Event-time windowed streaming aggregation: tumbling 6-hour windows per
    * event type with a 1-hour watermark, micro-batched over the staged log.
    *
    * Complete output mode — with Trigger.AvailableNow the watermark only
    * closes windows the final batch has moved past; complete mode emits the
    * full windowed state so the batch oracle (GROUP BY epoch-aligned
    * bucket) matches exactly. The decimal-cast sum keeps the value total
    * order-independent across micro-batch boundaries. */
  private def st2(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts_us"), col("event_type"), col("value"))
    val plan = source(s, ev.schema, stagedTimeOrdered(s0, ev, 3))
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2))).as("total_dec"))
    drain(plan, "st2_windowed", "complete") { sink =>
      sink.select(
          col("window.start").cast("long").as("win_start"),
          col("event_type"), col("n"),
          col("total_dec").cast(org.apache.spark.sql.types.DecimalType(28, 6))
            .cast("double").as("total"))
        .orderBy(col("win_start"), col("event_type"))
    }
  }

  private val st2Sql =
    """SELECT epoch_us(ts) // 21600000000 * 21600 AS win_start, event_type,
      |  COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(28,6)) AS DOUBLE) AS total
      |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin

  // ---------------------------------------------------------------- st3
  /** Arbitrary stateful streaming via `mapGroupsWithState`: the
    * last-write-wins entity state held IN the streaming operator (per-key
    * state store) instead of a foreachBatch-merged table — the
    * `KeyValueGroupedDataset` custom-state surface. Emits the state per key
    * per batch; the final row per key is the answer (same oracle semantics
    * as st1).
    *
    * Scale shape: state is one small case class per key in the state store
    * (RocksDB at cluster scale), partitioned by key hash — no global
    * state, no driver involvement. */
  private def st3(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    import s.implicits._
    import org.apache.spark.sql.streaming.GroupState

    val log = mutationLog(s, d)

    def update(key: Long, events: Iterator[EntityEvent],
               state: GroupState[EntityState]): EntityState = {
      val prior = state.getOption.getOrElse(EntityState(key, -1L, "", "", 0.0, 0L))
      // fold the batch: max-seq record wins, counts accumulate
      val next = events.foldLeft(prior) { (acc, e) =>
        val n = acc.n_events + 1
        if (e.seq > acc.seq)
          EntityState(key, e.seq, e.op, e.event_type, e.value, n)
        else acc.copy(n_events = n)
      }
      state.update(next)
      next
    }

    val plan = source(s, log.schema, stagedSeqOrdered(s0, log, 3))
      .as[EntityEvent]
      .groupByKey(_.key)
      .mapGroupsWithState(update _)
      .toDF()

    // update mode emits one row per touched key per batch — latest wins
    val w = Window.partitionBy(col("key")).orderBy(col("seq").desc, col("n_events").desc)
    drain(plan, "st3_state", "update") { sink =>
      sink.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .filter(col("op") =!= "DELETE")
        .select(col("key").as("user_id"), col("seq").as("last_event_id"),
          col("event_type").as("last_type"), col("value").as("last_value"),
          col("n_events"))
        .orderBy(col("user_id"))
    }
  }

  private val st3Sql = st1Sql // identical last-write-wins semantics

  // ---------------------------------------------------------------- st4
  /** Streaming session windows: per-user sessions split at >30-min
    * event-time gaps, built with the native `session_window` stateful
    * operator — sessions MERGE across micro-batch boundaries (an event in
    * batch 3 can bridge two sessions opened in batch 1), which is the
    * part the batch gaps-and-islands form (q23) cannot exercise.
    * Complete output mode emits the final session state. */
  private def st4(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts_us"), col("user_id"))
    val plan = source(s, ev.schema, stagedTimeOrdered(s0, ev, 3))
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
    drain(plan, "st4_sessions", "complete") { sink =>
      sink.select(col("user_id"),
          col("session_window.start").cast("long").as("sess_start"),
          col("session_window.end").cast("long").as("sess_end"),
          col("n_events"))
        .orderBy(col("user_id"), col("sess_start"))
    }
  }

  private val st4Sql =
    """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      |flagged AS (
      |  SELECT user_id, us, event_id,
      |    CASE WHEN us - LAG(us, 1) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |              > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM ev),
      |sess AS (
      |  SELECT user_id, us,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id) AS sess_id
      |  FROM flagged)
      |SELECT user_id,
      |  MIN(us) // 1000000 AS sess_start,
      |  (MAX(us) + 30 * 60 * 1000000) // 1000000 AS sess_end,
      |  COUNT(*) AS n_events
      |FROM sess GROUP BY user_id, sess_id
      |ORDER BY user_id, sess_start""".stripMargin

  // ---------------------------------------------------------------- st5
  /** Streaming deduplication — `dropDuplicatesWithinWatermark` turns an
    * at-least-once upstream into exactly-once delivery, the ingest-side
    * twin of the batch dedup family (dd1–dd5): every 5th event is
    * re-delivered 2 h later (a retrying producer), files are staged in
    * event-time order so re-deliveries genuinely cross micro-batch
    * boundaries, and the key state suppresses them.
    *
    * Determinism argument (why the planted shape always dedups): a
    * re-delivery lands at most 2 h after its original, and state for a key
    * only expires once the watermark (max seen ts − 6 h) passes the
    * original's ts — but the original is never more than 2 h older than
    * anything in the re-delivery's batch prefix, so its state is alive.
    * The duplicate row differs ONLY in ts, so whichever copy a same-batch
    * dedup keeps, the aggregated output is identical.
    *
    * Scale shape: dedup state is per-key in the state store (RocksDB at
    * cluster scale), partitioned by key hash — one shuffle per batch on
    * the dedup key; watermark expiry bounds the state to the re-delivery
    * horizon, NOT the stream's lifetime (the property that matters when
    * ingest runs for months). */
  private def st5(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts_us"), col("event_type"), col("value"))
    val dups = ev.filter(col("event_id") % 5 === 0)
      .withColumn("ts_us", col("ts_us") + lit(7200000000L)) // +2 h
    val log = ev.unionByName(dups)
    // staged by EVENT TIME so a re-delivery lands in a later file than
    // its original whenever the +2 h crosses a file boundary
    val plan = source(s, log.schema, stagedTimeOrdered(s0, log, 3))
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "6 hours")
      .dropDuplicatesWithinWatermark("event_id")
    drain(plan, "st5_dedup", "append") { sink =>
      sink.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
            .cast(org.apache.spark.sql.types.DecimalType(28, 6))
            .cast("double").as("total"))
        .orderBy(col("event_type"))
    }
  }

  /** The oracle is the duplicate-free truth: re-deliveries carry the same
    * event_id, so exactly-once delivery must reproduce plain GROUP BY over
    * the original events table. */
  private val st5Sql =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(28,6)) AS DOUBLE) AS total
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- st6
  /** Stream-stream INNER JOIN with watermarks — event attribution: every
    * `error` within one hour AFTER a `click` by the same user. Both sides
    * are unbounded streams; the time-interval join condition plus
    * watermarks on BOTH sides is what lets Spark expire join state (a
    * click can only match errors up to 1 h later, so once the error-side
    * watermark passes click.ts + 1 h the click's state is dropped) —
    * without the bound, stream-stream join state grows forever. Inner
    * join emits each match exactly once as it forms; the final per-user
    * aggregate runs batch-side on the sink table.
    *
    * Scale shape: join state is keyed by user in one RocksDB state store
    * per partition (join state format 3, see [[joinSession]]),
    * partitioned by the equi-key — one shuffle per batch per side; state
    * size is bounded by the 1 h event-time window, not by stream
    * lifetime. */
  private def st6(s0: SparkSession, d: String): DataFrame = {
    // Isolated join session (shared SparkContext, own SQLConf): each
    // micro-batch loads and commits ONE store instance per shuffle
    // partition for both sides' state — at the HDFS default's four stores
    // and 32 partitions that was 32×4 delta files plus fsyncs per batch
    // for a 10k-row log. The confs must not leak into the 100-query
    // session, hence newSession.
    val s = joinSession(s0)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts_us"), col("user_id"), col("event_type"))
    val srcDir = stagedTimeOrdered(s0, ev, 3)
    def stream(tpe: String, alias: String) = source(s, ev.schema, srcDir)
      .filter(col("event_type") === tpe)
      .select(col("event_id").as(s"${alias}_id"), col("user_id").as(s"${alias}_user"),
        timestamp_micros(col("ts_us")).as(s"${alias}_ts"))
      .withWatermark(s"${alias}_ts", "1 hour")
    val joined = stream("click", "c").join(stream("error", "e"),
      col("c_user") === col("e_user") &&
        col("e_ts") >= col("c_ts") &&
        col("e_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
    drain(joined, "st6_join", "append") { sink =>
      sink.groupBy(col("c_user").as("user_id"))
        .agg(count(lit(1)).as("n_attributed"),
          min(col("c_id")).as("first_click"),
          max(col("e_id")).as("last_error"))
        .orderBy(col("user_id"))
    }
  }

  /** Oracle: the same attribution join in plain SQL over the full log. */
  private val st6Sql =
    """WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type FROM events)
      |SELECT c.user_id, CAST(COUNT(*) AS BIGINT) AS n_attributed,
      |  MIN(c.event_id) AS first_click, MAX(x.event_id) AS last_error
      |FROM e c JOIN e x
      |  ON c.user_id = x.user_id AND c.event_type = 'click' AND x.event_type = 'error'
      | AND x.ts_us >= c.ts_us AND x.ts_us <= c.ts_us + 3600000000
      |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin

  // ---------------------------------------------------------------- st7
  /** Stream-static enrichment join — the most common streaming-ETL shape:
    * each micro-batch equi-joins a BROADCAST static dimension (nation)
    * with NO streaming state at all (the static side re-resolves per
    * batch; nothing is watermark-tracked, unlike the st6 stream-stream
    * join). At 100 TB/day of stream this stays a map-side join as long as
    * the dimension broadcasts — exactly how a cluster would enrich. */
  private def st7(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val nFiles = 3
    // the stream-static join is TIME-FREE (no watermark, no state), so
    // the fixture needs no event-time column and no min/max staging
    // aggregate: a deterministic mod split gives the same union of rows
    // in any arrival order, which is exactly the invariant a stateless
    // per-batch join must satisfy
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        col("event_type"), col("value"))
    val srcDir = stagedDir(s0, ev, nFiles, "mod") { dir =>
      (0 until nFiles).foreach { i =>
        ev.filter(pmod(col("event_id"), lit(nFiles.toLong)) === i)
          .coalesce(1).write.parquet(s"$dir/b$i")
      }
    }
    val dim = Tables(s, d, "nation").select(col("n_nationkey"), col("n_name"))
    val plan = source(s, ev.schema, srcDir)
      .withColumn("nk", pmod(col("user_id"), lit(25L)))
      .join(broadcast(dim), col("nk") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2))).as("total_dec"))
    drain(plan, "st7_static_join", "complete") { sink =>
      sink.select(col("n_name"), col("n_events"),
          col("total_dec").cast(org.apache.spark.sql.types.DecimalType(28, 6))
            .cast("double").as("total"))
        .orderBy(col("n_name"))
    }
  }

  private val st7Sql =
    """SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(28,6)) AS DOUBLE) AS total
      |FROM events JOIN nation ON user_id % 25 = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------- st8
  /** Stream-stream LEFT OUTER interval join — click-to-error attribution
    * where UNMATCHED clicks must still come out (null-padded) once the
    * watermark proves no error can arrive: the shape behind "sessions
    * that never converted" dashboards, and the semantics batch joins get
    * for free but streams must EARN via state eviction.
    *
    * Two contracts this pins, both easy to get silently wrong:
    * 1. The watermark only advances past the last real event if a late
    *    sentinel row SURVIVES each side's event-type filter: Catalyst
    *    pushes deterministic filters below the EventTimeWatermark node
    *    into the scan, so a sentinel of a third type never reaches the
    *    watermark operator and the final window of orphan clicks never
    *    flushes (the stream quietly returns a SUBSET of the batch left
    *    join — measured: the last click per user was missing). Hence one
    *    sentinel PER SIDE, type-matching, carrying impossible user ids
    *    (-1/-2, which also cannot join each other) that the final
    *    aggregation drops.
    * 2. The interval condition bounds e_ts RELATIVE TO c_ts on both
    *    sides, which is what lets Spark evict click state at
    *    `watermark - 1h` instead of holding it forever.
    * With the sentinel, Spark's no-data final batch drains every
    * orphan, so the result equals the batch LEFT JOIN exactly — the
    * oracle is that batch join. State cost: watermark-bounded on both
    * sides (2 h of events per side), independent of stream length. */
  private def st8(s0: SparkSession, d: String): DataFrame =
    drain(flushedJoin(s0, d, "left_outer"), "st8_left_join", "append") { sink =>
      sink.filter(col("c_user") >= 0L) // drop any sentinel residue
        .groupBy(col("c_user").as("user_id"))
        .agg(count(lit(1)).cast("long").as("n_rows"),
          count(col("e_id")).cast("long").as("n_pairs"),
          (count(lit(1)) - count(col("e_id"))).cast("long").as("n_orphans"),
          min(col("c_id")).as("first_click"),
          max(col("e_id")).as("last_error"))
        .orderBy(col("user_id"))
    }

  /** st8's and st13's click→error interval join of type `how`, over the
    * time-staged log plus its flush sentinels, in a [[joinSession]]. */
  private def flushedJoin(s0: SparkSession, d: String, how: String): DataFrame = {
    val s = joinSession(s0)
    val nFiles = 3
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts_us"), col("user_id"), col("event_type"))
    import s.implicits._
    // flush sentinels: 3 h past the last real event, one per join side so
    // each survives its side's (scan-pushed) type filter; the sentinel
    // click itself stays in state at query end (the watermark never
    // passes ITS eviction bound) — by design, it must not emit. The
    // sentinel file is PART of the staged fixture (a query-specific
    // "time-flush" memo mode — it must never leak into the plain
    // time-ordered dirs other queries share), so it is written once
    // with the rest of the log and shared by st8 and st13.
    val srcDir = stagedDir(s0, ev, nFiles, "time-flush") { dir =>
      stageTimeOrdered(ev, dir, nFiles)
      val maxTs = ev.agg(max(col("ts_us"))).head().getLong(0)
      Seq((-1L, maxTs + 3L * 3600L * 1000000L, -1L, "click"),
          (-2L, maxTs + 3L * 3600L * 1000000L, -2L, "error"))
        .toDF("event_id", "ts_us", "user_id", "event_type")
        .coalesce(1).write.parquet(s"$dir/b$nFiles")
    }
    def stream(tpe: String, alias: String) = source(s, ev.schema, srcDir)
      .select(col("event_id").as(s"${alias}_id"), col("user_id").as(s"${alias}_user"),
        col("event_type").as(s"${alias}_type"),
        timestamp_micros(col("ts_us")).as(s"${alias}_ts"))
      .withWatermark(s"${alias}_ts", "1 hour")
      .filter(col(s"${alias}_type") === tpe)
      .drop(s"${alias}_type")
    stream("click", "c").join(stream("error", "e"),
      col("c_user") === col("e_user") &&
        col("e_ts") >= col("c_ts") &&
        col("e_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
      how)
  }

  /** Oracle: the same attribution LEFT join in plain SQL over the log —
    * the stream result must be the SET-EQUAL of this, orphans included. */
  private val st8Sql =
    """WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type FROM events),
      |c AS (SELECT * FROM e WHERE event_type = 'click'),
      |x AS (SELECT * FROM e WHERE event_type = 'error')
      |SELECT c.user_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(COUNT(x.event_id) AS BIGINT) AS n_pairs,
      |  CAST(COUNT(*) - COUNT(x.event_id) AS BIGINT) AS n_orphans,
      |  MIN(c.event_id) AS first_click, MAX(x.event_id) AS last_error
      |FROM c LEFT JOIN x
      |  ON c.user_id = x.user_id
      | AND x.ts_us >= c.ts_us AND x.ts_us <= c.ts_us + 3600000000
      |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin

  // ---------------------------------------------------------------- st13
  /** Stream-stream FULL OUTER interval join — st8's attribution with
    * orphans flushed from BOTH sides: unmatched clicks AND unmatched
    * errors each null-pad out once the watermark proves the other side
    * cannot arrive ("errors nobody clicked into" beside "clicks that
    * never errored"). Completes the stream-stream join family
    * (inner st7-era machinery, LEFT st8, FULL here) under the same two
    * pinned contracts: one type-surviving sentinel PER SIDE so the
    * watermark actually passes the last real event (sentinel user ids
    * -1/-2 cannot join each other and are dropped in the final agg), and
    * a time condition bounding e_ts relative to c_ts so BOTH sides'
    * state evicts at watermark-minus-interval instead of growing
    * forever. Result equals the batch FULL JOIN exactly — the oracle. */
  private def st13(s0: SparkSession, d: String): DataFrame =
    drain(flushedJoin(s0, d, "full_outer"), "st13_full_join", "append") { sink =>
      sink.filter(coalesce(col("c_user"), col("e_user")) >= 0L) // sentinel residue
        .groupBy(coalesce(col("c_user"), col("e_user")).as("user_id"))
        .agg(
          sum(when(col("c_id").isNotNull && col("e_id").isNotNull, 1L).otherwise(0L))
            .cast("long").as("n_pairs"),
          sum(when(col("c_id").isNotNull && col("e_id").isNull, 1L).otherwise(0L))
            .cast("long").as("n_click_orphans"),
          sum(when(col("c_id").isNull && col("e_id").isNotNull, 1L).otherwise(0L))
            .cast("long").as("n_error_orphans"),
          min(col("c_id")).as("first_click"),
          max(col("e_id")).as("last_error"))
        .orderBy(col("user_id"))
    }

  /** Oracle: the same attribution FULL join in plain SQL over the log. */
  private val st13Sql =
    """WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type FROM events),
      |c AS (SELECT * FROM e WHERE event_type = 'click'),
      |x AS (SELECT * FROM e WHERE event_type = 'error')
      |SELECT COALESCE(c.user_id, x.user_id) AS user_id,
      |  CAST(COUNT(CASE WHEN c.event_id IS NOT NULL AND x.event_id IS NOT NULL THEN 1 END) AS BIGINT) AS n_pairs,
      |  CAST(COUNT(CASE WHEN c.event_id IS NOT NULL AND x.event_id IS NULL THEN 1 END) AS BIGINT) AS n_click_orphans,
      |  CAST(COUNT(CASE WHEN c.event_id IS NULL AND x.event_id IS NOT NULL THEN 1 END) AS BIGINT) AS n_error_orphans,
      |  MIN(c.event_id) AS first_click, MAX(x.event_id) AS last_error
      |FROM c FULL JOIN x
      |  ON c.user_id = x.user_id
      | AND x.ts_us >= c.ts_us AND x.ts_us <= c.ts_us + 3600000000
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- st9
  /** SLIDING (hopping) windows — 12 h windows advancing every 6 h, so
    * each event lands in exactly TWO overlapping windows (Spark expands
    * the membership list before the aggregation; state is bounded by the
    * watermark exactly as for tumbling windows). The moving-average /
    * smoothed-trend panel shape that tumbling windows can't express:
    * adjacent windows share half their events. Same checkpointed
    * micro-batch fixture as st2; at scale the only cost over tumbling is
    * the duration/slide-factor row expansion before the partial agg. */
  private def st9(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts_us"), col("event_type"))
    val plan = source(s, ev.schema, stagedTimeOrdered(s0, ev, 3))
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "12 hours", "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    drain(plan, "st9_sliding", "complete") { sink =>
      sink.select(col("window.start").cast("long").as("win_start"),
          col("event_type"), col("n"))
        .orderBy(col("win_start"), col("event_type"))
    }
  }

  private val st9Sql =
    """SELECT (epoch_us(ts) // 21600000000 - off) * 21600 AS win_start, event_type,
      |  COUNT(*) AS n
      |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS off)
      |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin

  // ---------------------------------------------------------------- st10
  /** STREAMING PERCOLATION — the alerting pipeline: a registry of saved
    * predicates evaluated against every event as it arrives; each match
    * emits an (event, alert) row in the same micro-batch (append mode —
    * alerts are immutable facts, no state at all). The registered
    * predicates are ordinary pushable Column expressions, so at cluster
    * scale this is a stateless map over the stream: a million events per
    * second percolate against the whole registry in one pass with zero
    * shuffles and zero state-store entries. Complements d112 (batch
    * percolation through the full ES-body parser). */
  private def st10(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts_us"), col("event_type"), col("user_id"),
        col("value"))
    val registry: Seq[(String, (String => Column) => Column)] = Seq(
      "a_error" -> (r => r("event_type") === "error"),
      "a_big_value" -> (r => r("value") >= 99.0),
      "a_vip_purchase" -> (r =>
        r("event_type") === "purchase" && r("user_id") % 100 === 0))
    val src = source(s, ev.schema, stagedTimeOrdered(s0, ev, 3))
    val row: String => Column = col
    val alerts = src.select(col("event_id"), col("user_id"),
        explode(array(registry.map { case (n, p) =>
          when(coalesce(p(row), lit(false)), lit(n)).otherwise(lit(null).cast("string"))
        }: _*)).as("alert_id"))
      .filter(col("alert_id").isNotNull)
    drain(alerts, "st10_percolate", "append")(_.orderBy(col("event_id"), col("alert_id")))
  }

  private val st10Sql =
    """SELECT event_id, user_id, alert_id FROM (
      |  SELECT event_id, user_id, 'a_error' AS alert_id FROM events
      |  WHERE event_type = 'error'
      |  UNION ALL
      |  SELECT event_id, user_id, 'a_big_value' FROM events WHERE value >= 99.0
      |  UNION ALL
      |  SELECT event_id, user_id, 'a_vip_purchase' FROM events
      |  WHERE event_type = 'purchase' AND user_id % 100 = 0)
      |ORDER BY event_id, alert_id""".stripMargin

  // ---------------------------------------------------------------- st11
  /** STREAMING GEOFENCE — location-aware alerting: every arriving event
    * carries a coordinate (planted per-user home positions, the d121
    * pattern — the corpus ships no geo), and a registry of fences
    * (center + radius) emits an (event, fence) alert row on entry. Same
    * stateless append shape as st10's percolation — the haversine
    * predicates (graft.docs.Geo — the d121 query machinery, reused
    * verbatim in a stream) are pushable Column expressions, so at
    * cluster scale this is a zero-state, zero-shuffle map over the
    * stream; each fence's bounding box prunes before its trigonometry
    * exactly as in batch. */
  private def st11(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts_us"), col("user_id"))
    val src = source(s, ev.schema, stagedTimeOrdered(s0, ev, 3))
      .withColumn("lat", ((col("user_id") * 37) % 1201 - 600).cast("double") / 10.0)
      .withColumn("lon", ((col("user_id") * 73) % 3600 - 1800).cast("double") / 10.0)
    val fences: Seq[(String, Double, Double, Double)] = Seq(
      ("hq_3500km", 10.0, 20.0, 3500000.0),
      ("dc_3200km", -30.0, -60.0, 3200000.0))
    val alerts = src.select(col("event_id"), col("user_id"),
        explode(array(fences.map { case (n, la, lo, r) =>
          when(graft.docs.Geo.haversineMeters(col("lat"), col("lon"), la, lo) <= r,
            lit(n)).otherwise(lit(null).cast("string"))
        }: _*)).as("fence_id"))
      .filter(col("fence_id").isNotNull)
    drain(alerts, "st11_geofence", "append") { sink =>
      sink.groupBy(col("fence_id"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("fence_id"), col("user_id"))
    }
  }

  private val st11Sql = {
    def dist(la: Double, lo: Double) =
      graft.docs.Geo.haversineSql("lat", "lon", la, lo)
    s"""WITH pts AS (
       |  SELECT event_id, user_id,
       |    CAST((user_id * 37) % 1201 - 600 AS DOUBLE) / 10.0 AS lat,
       |    CAST((user_id * 73) % 3600 - 1800 AS DOUBLE) / 10.0 AS lon
       |  FROM events),
       |alerts AS (
       |  SELECT event_id, user_id, 'hq_3500km' AS fence_id FROM pts
       |  WHERE ${dist(10.0, 20.0)} <= 3500000.0
       |  UNION ALL
       |  SELECT event_id, user_id, 'dc_3200km' FROM pts
       |  WHERE ${dist(-30.0, -60.0)} <= 3200000.0)
       |SELECT fence_id, user_id, CAST(COUNT(*) AS BIGINT) AS n_events
       |FROM alerts GROUP BY 1, 2 ORDER BY fence_id, user_id""".stripMargin
  }

  // ---------------------------------------------------------------- st12
  /** STREAMING TOP-K — the live-dashboard "top event types this window"
    * panel: tumbling 6-hour windowed counts over the micro-batched log
    * (st2's complete-mode aggregation shape), then a per-window rank-≤-3
    * view over the emitted window table. The corpus-scale work is the
    * streaming aggregation (one shuffle on (window, type), map-side
    * partials per micro-batch); the rank is a |windows×types|-row
    * window function on the RESULT table — the bounded bucket-table
    * budget every Kibana panel downstream of an agg has. */
  private def st12(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts_us"), col("event_type"))
    val plan = source(s, ev.schema, stagedTimeOrdered(s0, ev, 3))
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val wRank = Window.partitionBy(col("win_start")).orderBy(col("n").desc, col("event_type"))
    drain(plan, "st12_topk", "complete") { sink =>
      sink.select(col("window.start").cast("long").as("win_start"),
          col("event_type"), col("n"))
        .withColumn("rank", row_number().over(wRank).cast("long"))
        .filter(col("rank") <= 3)
        .orderBy(col("win_start"), col("rank"))
    }
  }

  private val st12Sql =
    """WITH w AS (SELECT epoch_us(ts) // 21600000000 * 21600 AS win_start,
      |    event_type, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT win_start, event_type, n,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY win_start
      |      ORDER BY n DESC, event_type) AS BIGINT) AS rank
      |  FROM w)
      |SELECT win_start, event_type, n, rank FROM r
      |WHERE rank <= 3 ORDER BY win_start, rank""".stripMargin

  // ---------------------------------------------------------------- st14
  /** Streaming NEAR-dup admission — dedup a document firehose against the
    * STATIC corpus: the dd2 MinHash machinery split into its streaming
    * shape. The corpus side is indexed ONCE (per-doc distinct shingle-hash
    * sets + 4-band signatures, both plain parquet); each incoming
    * micro-batch then needs only STATELESS work — the 12-permutation
    * signature is a pure per-row array fold (array_min over transform, no
    * groupBy, so no streaming-aggregation state at all), bands explode to
    * 4 rows/doc, and two stream-static LEFT joins resolve band candidates
    * and fetch the matched corpus doc's shingle set for an EXACT in-stream
    * Jaccard (array_intersect on the two distinct-hash arrays). The
    * admission verdict (best candidate ≥ 0.6 → duplicate) aggregates
    * batch-side on the sink table.
    *
    * Scale shape: at 100 TB the static band index is an equi-join target
    * (bucketable on (band, sig)); per-batch cost is |batch|·4 probe rows
    * plus |candidates| verify rows — state-free, so a month-long firehose
    * holds no streaming state at all. This is the admission-control front
    * door to dd7's batch incremental dedup. */
  private def st14(s0: SparkSession, d: String): DataFrame = {
    import graft.ext.TextFunctions._
    val s = streamSession(s0)
    val docsT = Tables(s, d, "documents").select(col("doc_id"), col("text"))
    // FLAT shingle form: the positional shingleHashes lambda would close
    // over the un-materialized token-hash chain — O(tokens²) per doc (the
    // dd2 lesson), and a stream select has no persist boundary to cut it
    def withShingles(df: DataFrame): DataFrame = df.withColumn("shs",
      array_distinct(shingleHashesFlat(tokenHashes(tokens(col("text"))), 3)))
    // NULL sig for an empty shingle set (docs under 3 tokens): concat_ws
    // would yield "" (it skips nulls) and empty docs would band-match
    // each other in Spark while the DuckDB twin's `||` of NULL list_mins
    // yields NULL — a real engine divergence AND a bogus 0/0-Jaccard
    // "duplicate" verdict. NULL never equi-joins, in both engines.
    def sigCols: Seq[Column] = (0 until 4).map { bnd =>
      when(size(col("shs")) > 0, concat_ws("-", (0 until 3).map { r =>
        val (a, b) = MinhashParams(bnd * 3 + r)
        array_min(transform(col("shs"), h => perm(h, a, b)))
      }: _*)).as(s"sig$bnd")
    }
    def bandRows(df: DataFrame, idCol: String): DataFrame =
      df.select(col(idCol) +: col("shs") +: sigCols: _*)
        .select(col(idCol), col("shs"),
          explode(array((0 until 4).map(bnd =>
            struct(lit(bnd).as("band"), col(s"sig$bnd").as("sig"))): _*)).as("bs"))
        .select(col(idCol), col("shs"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    // static index: narrow band table + the shingle-set side table —
    // the dd7 standing-signature-index pattern: write-once per root session
    // (a live pipeline maintains it incrementally, it is never rebuilt
    // per query), shared across bench repeats via stagedDir
    val idxDir = stagedDir(s0, docsT, 1, "nd-index") { dir =>
      bandRows(withShingles(docsT), "doc_id")
        .select(col("doc_id").as("c_id"), col("band"), col("sig"))
        .write.parquet(s"$dir/bands")
      withShingles(docsT).select(col("doc_id").as("c_id"), col("shs").as("c_shs"))
        .write.parquet(s"$dir/shs")
    }
    val corpusBandsDir = s"$idxDir/bands"
    val corpusShDir = s"$idxDir/shs"
    // incoming firehose: re-posts (exact dups) + fresh docs built from the
    // first half of an existing doc's words (containment ~0.5 < 0.6)
    val reposts = docsT.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 1000000L).as("new_id"), col("text"))
    val fresh = docsT.filter(col("doc_id") % 11 === 3)
      .select((col("doc_id") + 2000000L).as("new_id"),
        concat_ws(" ", slice(tokens(col("text")), lit(1),
          floor(size(tokens(col("text"))) / 2).cast("int"))).as("text"))
    val incoming = reposts.unionByName(fresh)
    val nFiles = 3
    val srcDir = stagedDir(s0, incoming, nFiles, "mod") { dir =>
      (0 until nFiles).foreach { i =>
        incoming.filter(col("new_id") % nFiles === i)
          .coalesce(1).write.parquet(s"$dir/b$i")
      }
    }
    val statBands = s.read.parquet(corpusBandsDir)
    val statSh = s.read.parquet(corpusShDir)
    val plan = source(s, incoming.schema, srcDir)
      .transform(withShingles)
      .transform(df => bandRows(df, "new_id"))
      .join(statBands, Seq("band", "sig"), "left")
      .join(statSh, Seq("c_id"), "left")
      .select(col("new_id"), col("c_id"),
        size(array_intersect(col("shs"), col("c_shs"))).as("n_inter"),
        (size(col("shs")) + size(col("c_shs"))
          - size(array_intersect(col("shs"), col("c_shs")))).as("n_union"))
    // batch-side verdict: best candidate per incoming doc by exact Jaccard
    drain(plan, "st14_neardup", "append") { sinkRows =>
      val sink = sinkRows
        .groupBy(col("new_id"), col("c_id"))
        .agg(max(col("n_inter")).as("n_inter"), max(col("n_union")).as("n_union"))
      // sink is already one row per (new_id, c_id), so the candidate count
      // is a plain conditional sum over the new_id window (same shuffle as
      // the rank — and no self-join against the MemorySink relation, whose
      // attribute ids conflict under self-join)
      val ranked = sink
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("new_id")).orderBy(
            (col("n_inter").cast("double") / col("n_union")).desc_nulls_last,
            col("c_id").asc_nulls_last)))
        .withColumn("n_cand", sum(when(col("c_id").isNotNull, 1L).otherwise(0L))
          .over(Window.partitionBy(col("new_id"))))
      val dup = col("c_id").isNotNull && col("n_inter") * 10 >= col("n_union") * 6
      ranked.filter(col("rnk") === 1)
        .select(col("new_id"),
          when(dup, lit("duplicate")).otherwise(lit("unique")).as("verdict"),
          when(dup, col("c_id")).as("match_id"),
          when(dup, col("n_inter").cast("long")).as("best_inter"),
          when(dup, col("n_union").cast("long")).as("best_union"),
          col("n_cand"))
        .orderBy(col("new_id"))
    }
  }

  private val st14Sql = {
    import graft.ext.{TextFunctions => TF}
    val P = TF.MinhashPrime
    def mhSig(bnd: Int): String = (0 until 3).map { r =>
      val (a, b) = TF.MinhashParams(bnd * 3 + r)
      s"CAST(list_min(list_transform(shs, h -> (h % $P * $a + $b) % $P)) AS VARCHAR)"
    }.mkString(" || '-' || ")
    def bandSel(tbl: String, id: String): String = (0 until 4).map { bnd =>
      s"SELECT $id, shs, $bnd AS band, ${mhSig(bnd)} AS sig FROM $tbl"
    }.mkString("\n  UNION ALL ")
    val hs = s"list_transform(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')," +
      s" t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % $P)"
    val shsOf = s"list_distinct(list_transform(range(1, len(hs) - 1)," +
      s" i -> ${TF.shingleHashSql("hs", 3)}))"
    s"""WITH inc AS (
       |  SELECT doc_id + 1000000 AS new_id, text FROM documents WHERE doc_id % 11 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000,
       |    array_to_string(toks[1:CAST(floor(len(toks) / 2) AS BIGINT)], ' ')
       |  FROM (SELECT doc_id,
       |          list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
       |        FROM documents WHERE doc_id % 11 = 3)),
       |csh AS MATERIALIZED (SELECT c_id, $shsOf AS shs FROM (
       |  SELECT doc_id AS c_id, $hs AS hs FROM documents)),
       |ish AS MATERIALIZED (SELECT new_id, $shsOf AS shs FROM (
       |  SELECT new_id, $hs AS hs FROM inc)),
       |cbands AS (
       |  ${bandSel("csh", "c_id")}),
       |ibands AS (
       |  ${bandSel("ish", "new_id")}),
       |cand AS (
       |  SELECT i.new_id, i.shs, c.c_id
       |  FROM ibands i LEFT JOIN cbands c ON i.band = c.band AND i.sig = c.sig),
       |cj AS (
       |  SELECT new_id, cand.c_id,
       |    CASE WHEN cand.c_id IS NULL THEN NULL
       |         ELSE len(list_intersect(cand.shs, csh.shs)) END AS n_inter,
       |    CASE WHEN cand.c_id IS NULL THEN NULL
       |         ELSE len(cand.shs) + len(csh.shs) - len(list_intersect(cand.shs, csh.shs))
       |         END AS n_union
       |  FROM cand LEFT JOIN csh ON cand.c_id = csh.c_id),
       |agg AS (
       |  SELECT new_id, c_id, MAX(n_inter) AS n_inter, MAX(n_union) AS n_union
       |  FROM cj GROUP BY new_id, c_id),
       |best AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY new_id
       |      ORDER BY CAST(n_inter AS DOUBLE) / n_union DESC NULLS LAST,
       |               c_id ASC NULLS LAST) AS rnk
       |    FROM agg)
       |  WHERE rnk = 1),
       |nc AS (
       |  SELECT new_id, COUNT(DISTINCT c_id) AS n_cand
       |  FROM agg WHERE c_id IS NOT NULL GROUP BY new_id)
       |SELECT b.new_id,
       |  CASE WHEN b.c_id IS NOT NULL AND b.n_inter * 10 >= b.n_union * 6
       |       THEN 'duplicate' ELSE 'unique' END AS verdict,
       |  CASE WHEN b.c_id IS NOT NULL AND b.n_inter * 10 >= b.n_union * 6
       |       THEN b.c_id END AS match_id,
       |  CASE WHEN b.c_id IS NOT NULL AND b.n_inter * 10 >= b.n_union * 6
       |       THEN CAST(b.n_inter AS BIGINT) END AS best_inter,
       |  CASE WHEN b.c_id IS NOT NULL AND b.n_inter * 10 >= b.n_union * 6
       |       THEN CAST(b.n_union AS BIGINT) END AS best_union,
       |  COALESCE(nc.n_cand, 0) AS n_cand
       |FROM best b LEFT JOIN nc ON b.new_id = nc.new_id
       |ORDER BY b.new_id""".stripMargin
  }

  // ---------------------------------------------------------------- st16
  /** STREAMING EQL: the d208 sequence (view → click → purchase within
    * 72h, by user) detected LIVE over the event stream with
    * `flatMapGroupsWithState` — per-key state is exactly the batch
    * engine's window carries (the last 1-step and 2-step prefix
    * timestamps: THREE longs per user, regardless of corpus size), and
    * completions append as they happen. Events arrive in time-ordered
    * micro-batches (files split on ts; each batch sorts per key before
    * the fold), so the fold replays the batch engine's strictly-before
    * contract across batch boundaries. THE GATE IS EQUALITY WITH BATCH:
    * the oracle is d208's SQL — streaming output must match the batch
    * EQL result row for row. 100 TB/day shape: state O(keys)·3 longs,
    * append-only sink, no reprocessing — the funnel fires the moment the
    * purchase lands. */
  /** st16's per-key EQL fold, shared with the StreamSoak state-soak
    * harness: carry = the last 1-step and 2-step prefix timestamps —
    * THREE longs per user, the whole per-key state. */
  private[stream] def seqFold(key: Long, it: Iterator[SeqEvent],
      st: org.apache.spark.sql.streaming.GroupState[SeqCarry]): Iterator[SeqHit] = {
    val MaxSpanUs = 259200000000L // 72h
    var c = st.getOption.getOrElse(SeqCarry(-1L, -1L, -1L))
    val out = scala.collection.mutable.ListBuffer[SeqHit]()
    it.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
      // compute this row's stage completions from PRE-row carries
      val a0 = if (e.event_type == "view") e.ts_us else -1L
      val a1 = if (e.event_type == "click" && c.s1 >= 0) (c.s1, e.ts_us) else null
      if (e.event_type == "purchase" && c.s2a >= 0 &&
          e.ts_us - c.s2a <= MaxSpanUs)
        out += SeqHit(key, c.s2a, c.s2b, e.ts_us, e.ts_us - c.s2a)
      // post-row carry updates (stage slots are independent)
      c = SeqCarry(
        if (a0 >= 0) a0 else c.s1,
        if (a1 != null) a1._1 else c.s2a,
        if (a1 != null) a1._2 else c.s2b)
    }
    st.update(c)
    out.iterator
  }

  private def st16(s0: SparkSession, d: String): DataFrame = {
    import s0.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val s = streamSession(s0)
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us"))
    // time-ordered micro-batches: 3 files split on the ts range (equal
    // timestamps never straddle a boundary)
    val plan = source(s, ev.schema, stagedTimeOrdered(s0, ev, 3))
      .as[SeqEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(seqFold _)
      .toDF()
    drain(plan, "st16_eql", "append") { sink =>
      sink.select(col("user_id"), col("t1_us"), col("t2_us"), col("t3_us"),
          col("span_us"))
        .orderBy(col("user_id"), col("t1_us"), col("t2_us"), col("t3_us"))
    }
  }

  /** The batch d208 oracle verbatim — streaming must equal batch. */
  private val st16Sql = {
    def lastBefore(x: String) =
      s"""last_value($x IGNORE NULLS) OVER (PARTITION BY user_id
         |      ORDER BY tsu, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin
    ("""WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu FROM events
      |  WHERE event_type IN ('view', 'click', 'purchase')),
      |a0 AS (SELECT *, CASE WHEN event_type = 'view'
      |    THEN struct_pack(ts1 := tsu) END AS _a0 FROM e),
      |p1 AS (SELECT *, """ + lastBefore("_a0") + """ AS _p1 FROM a0),
      |a1 AS (SELECT *, CASE WHEN event_type = 'click' AND _p1 IS NOT NULL
      |    THEN struct_pack(ts1 := (_p1).ts1, ts2 := tsu) END AS _a1 FROM p1),
      |p2 AS (SELECT *, """ + lastBefore("_a1") + """ AS _p2 FROM a1),
      |a2 AS (SELECT *, CASE WHEN event_type = 'purchase' AND _p2 IS NOT NULL
      |    THEN struct_pack(ts1 := (_p2).ts1, ts2 := (_p2).ts2, ts3 := tsu)
      |    END AS _a2 FROM p2)
      |SELECT user_id, (_a2).ts1 AS t1_us, (_a2).ts2 AS t2_us, (_a2).ts3 AS t3_us,
      |  (_a2).ts3 - (_a2).ts1 AS span_us
      |FROM a2
      |WHERE _a2 IS NOT NULL AND (_a2).ts3 - (_a2).ts1 <= 259200000000
      |ORDER BY user_id, t1_us, t2_us, t3_us""").stripMargin
  }

  // ---------------------------------------------------------------- st17
  /** STREAMING approximate quantiles — live latency/value-distribution
    * monitoring (the q45 sketch story in Structured Streaming). The
    * mergeable Greenwald-Khanna sketch (`approx_percentile`) runs INSIDE
    * the streaming aggregation state: micro-batches partial-combine
    * sketches exactly like counts, per (6-hour window, event_type) group,
    * O(accuracy) state per group — no raw values are retained, which is
    * the only viable quantile shape on an unbounded stream. After the
    * staged log drains, a batch-side audit joins the STREAMED sketch
    * results back to the corpus, counts each result's actual rank, and
    * asserts it landed within 0.5% of the target rank (5× the ε=1/1000
    * guarantee — slack for duplicate values at the cut). The oracle pins
    * the exact per-window medians and counts; `gk_within_bound` must be
    * uniformly true, so a sketch that drifted across micro-batch merges
    * fails the gate loudly. */
  private def st17(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts_us"), col("event_type"),
        expr("CAST(FLOOR(value) AS BIGINT)").as("v"))
    val plan = source(s, ev.schema, stagedTimeOrdered(s0, ev, 3))
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr("approx_percentile(v, 0.5, 1000)").as("_a50"))
    drain(plan, "st17_quantiles", "complete") { sink =>
      val streamed = sink
        .select(col("window.start").cast("long").as("win_start"),
          col("event_type"), col("n"), col("_a50"))
      // batch-side audit + the oracle-checkable exact values
      // FLOOR division (pmod keeps it exact long arithmetic): window() and
      // the DuckDB // operator both floor, while DIV truncates toward zero
      // — the three bucket computations must agree even for pre-1970 ts
      val corpus = ev
        .withColumn("win_start",
          expr("(ts_us - pmod(ts_us, 21600000000)) DIV 21600000000") * 21600L)
      // the returned value occupies the RANK INTERVAL [count(<)+1, count(≤)]
      // (duplicates make it a run, not a point); the audit passes iff that
      // interval intersects the target band — counting only ≤ would fail a
      // correct answer whose duplicates extend past the band
      corpus
        .join(broadcast(streamed), Seq("win_start", "event_type"))
        .groupBy(col("win_start"), col("event_type"))
        .agg(
          expr("percentile(v, 0.5)").as("exact_p50"),
          first(col("n")).as("n"),
          sum(when(col("v") < col("_a50"), 1L).otherwise(0L)).as("_lt"),
          sum(when(col("v") <= col("_a50"), 1L).otherwise(0L)).as("_le"))
        .select(col("win_start"), col("event_type"),
          col("exact_p50"), col("n"),
          (col("_lt") + 1 <= col("n") * 0.5 + (col("n") * 0.005 + 1) &&
            col("_le") >= col("n") * 0.5 - (col("n") * 0.005 + 1))
            .as("gk_within_bound"))
        .orderBy(col("win_start"), col("event_type"))
    }
  }

  private val st17Sql =
    """SELECT epoch_us(ts) // 21600000000 * 21600 AS win_start, event_type,
      |  quantile_cont(CAST(FLOOR(value) AS BIGINT), 0.5) AS exact_p50,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  TRUE AS gk_within_bound
      |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin

  val queries: Map[String, Q] = Map(
    "st17_stream_quantiles" -> st17 _,
    "st16_stream_eql" -> st16 _,
    "st14_stream_neardup" -> st14 _,
    "st12_stream_topk" -> st12 _,
    "st13_full_outer_join" -> st13 _,
    "st11_geofence" -> st11 _,
    "st8_left_outer_join" -> st8 _,
    "st9_sliding_window" -> st9 _,
    "st10_percolate" -> st10 _,
    "st7_stream_static" -> st7 _,
    "st6_stream_join" -> st6 _,
    "st5_stream_dedup" -> st5 _,
    "st1_stream_upsert" -> st1 _,
    "st2_stream_window" -> st2 _,
    "st3_stream_mgws" -> st3 _,
    "st4_stream_sessions" -> st4 _)
  val oracle: Map[String, String] = Map(
    "st17_stream_quantiles" -> st17Sql,
    "st16_stream_eql" -> st16Sql,
    "st14_stream_neardup" -> st14Sql,
    "st12_stream_topk" -> st12Sql,
    "st13_full_outer_join" -> st13Sql,
    "st11_geofence" -> st11Sql,
    "st8_left_outer_join" -> st8Sql,
    "st9_sliding_window" -> st9Sql,
    "st10_percolate" -> st10Sql,
    "st7_stream_static" -> st7Sql,
    "st6_stream_join" -> st6Sql,
    "st5_stream_dedup" -> st5Sql,
    "st1_stream_upsert" -> st1Sql,
    "st2_stream_window" -> st2Sql,
    "st3_stream_mgws" -> st3Sql,
    "st4_stream_sessions" -> st4Sql)
}

/** Mutation-log row (st3's typed view of `mutationLog`). */
case class EntityEvent(seq: Long, key: Long, op: String, event_type: String, value: Double)

/** Per-key streaming state: the latest record + cumulative event count. */
case class EntityState(key: Long, seq: Long, op: String, event_type: String,
                       value: Double, n_events: Long)

/** Typed event row for st16's streaming EQL fold. */
case class SeqEvent(event_id: Long, user_id: Long, event_type: String, ts_us: Long)

/** st16 per-key state — the batch engine's window carries: last 1-step
  * prefix ts and last 2-step prefix (ts1, ts2); -1 = none yet. */
case class SeqCarry(s1: Long, s2a: Long, s2b: Long)

/** st16 output: one completed sequence (the d208 row shape). */
case class SeqHit(user_id: Long, t1_us: Long, t2_us: Long, t3_us: Long, span_us: Long)
