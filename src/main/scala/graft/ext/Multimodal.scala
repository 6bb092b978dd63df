package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing: media as opaque `binary` payloads + typed
  * metadata, with decode / feature-extract / frame-sample as
  * partition-batched transforms (north-star extension; the reference is
  * JSON-only).
  *
  * The container has no image/audio codecs, so the DECODE step is a
  * clearly-marked deterministic fake (`fakeDecode`) over the payload bytes
  * — but everything Spark-side is real and tested: the binary column, the
  * metadata struct schema, the `mapPartitions` batch shape (the Scala
  * equivalent of `mapInPandas`: one iterator per partition, never one
  * driver round-trip per row), and the downstream joins/aggregations.
  * Payloads here are the utf-8 bytes of `documents.text`, so the DuckDB
  * oracle can recompute every derived value from the same bytes.
  *
  * Scale shape: media rows are processed partition-local (narrow map, no
  * shuffle); metadata-only queries prune the payload column at the parquet
  * scan, so "count frames per format" never reads the bytes.
  */
object Multimodal {

  type Q = (SparkSession, String) => DataFrame

  /** Output row of the feature-extract stub. */
  case class MediaFeatures(
    doc_id: Long, n_bytes: Long, fmt: String,
    f0: Double, f1: Double, f2: Double, f3: Double)

  /** Media table: (doc_id, payload binary, meta struct). */
  def media(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents").select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      struct(
        // STUB: a real pipeline stores the container format sniffed from
        // magic bytes; the corpus is text, so tag it deterministically.
        when(col("doc_id") % 3 === 0, "png")
          .when(col("doc_id") % 3 === 1, "jpeg")
          .otherwise("wav").as("fmt"),
        octet_length(col("text").cast("binary")).cast("long").as("n_bytes"),
        md5(col("text").cast("binary")).as("checksum")).as("meta"))

  /** DECODE STUB — deterministic fake for the codec step (no image/audio
    * libs in this container). Real shape: per-partition batch iterator,
    * byte-level access, fixed-width feature vector out. The four features
    * are chunk-mean byte values over payload quarters — reproducible from
    * the bytes by any engine, standing in for pixel/sample statistics. */
  def fakeDecode(it: Iterator[Row]): Iterator[MediaFeatures] =
    it.map { r =>
      val id = r.getLong(0)
      val payload = r.getAs[Array[Byte]](1)
      val fmt = r.getStruct(2).getString(0)
      val n = payload.length
      val q = n / 4
      def chunkMean(c: Int): Double =
        if (q == 0) 0.0
        else {
          var sum = 0L
          var i = c * q
          while (i < (c + 1) * q) { sum += payload(i) & 0xff; i += 1 }
          sum.toDouble / q
        }
      MediaFeatures(id, n.toLong, fmt, chunkMean(0), chunkMean(1), chunkMean(2), chunkMean(3))
    }

  // ---------------------------------------------------------------- m1
  /** Metadata extraction: payload-free scan of the media table (column
    * pruning keeps the bytes out of the plan). */
  private def m1(s: SparkSession, d: String): DataFrame =
    media(s, d).select(
      col("doc_id"), col("meta.fmt").as("fmt"),
      col("meta.n_bytes").as("n_bytes"), col("meta.checksum").as("checksum"))
      .orderBy(col("doc_id"))

  private val m1Sql =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'png'
      |       WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'wav' END AS fmt,
      |  strlen(text) AS n_bytes, md5(text) AS checksum
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- m2
  /** Feature extraction through the partition-batched decode stub, then a
    * normal relational aggregation over the typed result. */
  private def m2(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    media(s, d).mapPartitions(fakeDecode).toDF()
      .groupBy(col("fmt"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        min(col("f0")).as("min_f0"),
        max(col("f3")).as("max_f3"))
      .orderBy(col("fmt"))
  }

  private val m2Sql =
    """WITH feats AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'png'
      |         WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'wav' END AS fmt,
      |    strlen(text) AS n_bytes,
      |    strlen(text) // 4 AS q, text
      |  FROM documents),
      |chunked AS (
      |  SELECT doc_id, fmt, n_bytes,
      |    CASE WHEN q = 0 THEN 0.0 ELSE
      |      CAST(list_sum(list_transform(regexp_split_to_array(substr(text, 1, CAST(q AS INTEGER)), ''), c -> ascii(c))) AS DOUBLE) / q END AS f0,
      |    CASE WHEN q = 0 THEN 0.0 ELSE
      |      CAST(list_sum(list_transform(regexp_split_to_array(substr(text, CAST(3*q+1 AS INTEGER), CAST(q AS INTEGER)), ''), c -> ascii(c))) AS DOUBLE) / q END AS f3
      |  FROM feats)
      |SELECT fmt, COUNT(*) AS n_media, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
      |  MIN(f0) AS min_f0, MAX(f3) AS max_f3
      |FROM chunked GROUP BY fmt ORDER BY fmt""".stripMargin

  // ---------------------------------------------------------------- m3
  /** Frame sampling: every 50th byte of the payload (the frame stride),
    * reassembled as a sample string + its checksum — pure array expression,
    * partition-local. */
  private def m3(s: SparkSession, d: String): DataFrame = {
    val sampled = concat_ws("",
      transform(sequence(lit(1), greatest(col("meta.n_bytes").cast("int"), lit(1)), lit(50)),
        i => col("payload").cast("string").substr(i, lit(1))))
    media(s, d).select(
      col("doc_id"), sampled.as("sample"), md5(sampled).as("sample_checksum"),
      size(sequence(lit(1), greatest(col("meta.n_bytes").cast("int"), lit(1)), lit(50)))
        .cast("long").as("n_frames"))
      .orderBy(col("doc_id"))
  }

  private val m3Sql =
    """WITH s AS (
      |  SELECT doc_id,
      |    list_aggregate(list_transform(range(1, strlen(text) + 1, 50),
      |      i -> substr(text, CAST(i AS INTEGER), 1)), 'string_agg', '') AS sample,
      |    len(range(1, strlen(text) + 1, 50)) AS n_frames
      |  FROM documents)
      |SELECT doc_id, sample, md5(sample) AS sample_checksum, n_frames
      |FROM s ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- registry

  // ---------------------------------------------------------------- m4
  /** Modality budget accounting — what a training-data team actually
    * tracks per modality: document count, raw bytes, ESTIMATED tokens
    * under a declared per-modality cost model (images a flat 256
    * tokens/doc, audio bytes÷1000 — the model is the documented contract,
    * not a decode), and each modality's byte share in exact permille.
    * Metadata-only: one aggregation over the meta struct, payloads never
    * read (column pruning — the m1 property), then a 3-row window for the
    * shares. */
  private def m4(s: SparkSession, d: String): DataFrame = {
    val g = media(s, d)
      .groupBy(col("meta.fmt").as("fmt"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("meta.n_bytes")).as("total_bytes"))
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    g.withColumn("est_tokens",
        when(col("fmt").isin("png", "jpeg"), lit(256L) * col("n_docs"))
          .otherwise(expr("total_bytes DIV 1000")))
      .withColumn("_tb", sum(col("total_bytes")).over(wAll))
      .withColumn("share_pm", expr("total_bytes * 1000L DIV _tb"))
      .drop("_tb")
      .orderBy(col("fmt"))
  }

  private val m4Sql =
    """WITH m AS (
      |  SELECT CASE WHEN doc_id % 3 = 0 THEN 'png'
      |              WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'wav' END AS fmt,
      |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
      |  FROM documents),
      |g AS (
      |  SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(n_bytes) AS BIGINT) AS total_bytes
      |  FROM m GROUP BY fmt)
      |SELECT fmt, n_docs, total_bytes,
      |  CASE WHEN fmt IN ('png', 'jpeg') THEN 256 * n_docs
      |       ELSE total_bytes // 1000 END AS est_tokens,
      |  total_bytes * 1000 // CAST(SUM(total_bytes) OVER () AS BIGINT) AS share_pm
      |FROM g ORDER BY fmt""".stripMargin

  // ---------------------------------------------------------------- m5
  /** Exact MEDIA dedup by payload checksum — the first pass every
    * multimodal pipeline runs (identical bytes re-crawled under new ids).
    * The corpus has no natural dups, so the query plants them
    * deterministically (every doc_id % 61 == 0 payload re-emitted under
    * id + max(doc_id) + 1 — a union, SQL-replayable), then dedups on the
    * metadata checksum the ingest already computed: one hash-groupBy on
    * the DIGEST (never the payload bytes — the shuffle carries 32-byte
    * hashes, not megabyte blobs, the property that matters at 100 TB),
    * keep-first by id, summary counts. */
  private def m5(s: SparkSession, d: String): DataFrame = {
    val base = media(s, d)
    // Planted ids shift by max(doc_id)+1 — NOT a constant — so they can
    // never collide with a real id at any scale factor (a constant shift
    // silently changes keep-first semantics once the corpus outgrows it,
    // and both engines would share the bug). One 1-row broadcast.
    val shift = broadcast(base.agg((max(col("doc_id")) + 1L).as("_shift")))
    val planted = base.unionByName(
      base.filter(col("doc_id") % 61 === 0).crossJoin(shift)
        .withColumn("doc_id", col("doc_id") + col("_shift")).drop("_shift"))
    planted
      .groupBy(col("meta.checksum").as("checksum"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .groupBy()
      .agg(
        count(lit(1)).as("n_unique"),
        sum(col("n_copies")).as("n_total"),
        sum(col("n_copies") - 1).as("n_removed"),
        sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
        max(col("keep_id")).as("max_keep"))
  }

  private val m5Sql =
    """WITH planted AS (
      |  SELECT doc_id, md5(text) AS checksum FROM documents
      |  UNION ALL
      |  SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents), md5(text)
      |  FROM documents WHERE doc_id % 61 = 0),
      |g AS (SELECT checksum, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |      FROM planted GROUP BY checksum)
      |SELECT COUNT(*) AS n_unique, CAST(SUM(n_copies) AS BIGINT) AS n_total,
      |  CAST(SUM(n_copies - 1) AS BIGINT) AS n_removed,
      |  CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
      |  MAX(keep_id) AS max_keep
      |FROM g""".stripMargin

  // ---------------------------------------------------------------- m6
  /** Perceptual media NEAR-dup (aHash over the decode-stub bytes) — the
    * pass after m5's exact checksum dedup: re-ENCODES of the same media
    * share no checksum but survive a perceptual hash. The stub aHash is
    * the real algorithm's shape on fake pixels: 32 chunk sums over the
    * payload ("pixel block means"), bit i set when chunk i is brighter
    * than the whole (INTEGER cross-multiplication `sum_i·32 > total` —
    * no doubles, bit-exact in any engine), giving a 32-bit hash.
    *
    * Near-dups are planted as single-byte re-encodes (first byte → 'z',
    * id shifted by max+1 — SQL-replayable like m5), so each planted pair
    * lands at hamming ≤ 3 almost surely.
    *
    * Scale shape (the dd3 hamming-band pattern): 4 bands × 8 bits; a
    * pair within hamming ≤ 3 differs in ≤ 3 bands, so BY PIGEONHOLE it
    * collides on at least one band — candidate recall is exactly 100%,
    * which is why the DuckDB oracle may brute-force all pairs while the
    * engine joins band buckets (pairs ∝ per-bucket density, never
    * O(n²)). Verification (`bit_count(xor)`) runs on candidates only,
    * riding the band join's carried hashes — no second join. */
  private def m6(s: SparkSession, d: String): DataFrame = {
    val base = media(s, d).select(col("doc_id"), col("payload").cast("string").as("text"))
    val shift = broadcast(base.agg((max(col("doc_id")) + 1L).as("_shift")))
    val planted = base.unionByName(
      base.filter(col("doc_id") % 53 === 0).crossJoin(shift)
        .withColumn("doc_id", col("doc_id") + col("_shift")).drop("_shift")
        .withColumn("text", concat(lit("z"), expr("substring(text, 2)"))))
    // Chunk sums via ONE native per-row kernel (r19, guide §4 — see
    // ChunkCodepointSums): identical integers to the previous
    // split("")+ascii+posexplode+aggregate pipeline, which allocated a
    // single-char string per character and fanned every payload to
    // char-grain rows before summing (3.7 s of the 4.9 s hash build at
    // sf0.1 was the explode alone). No fan-out, no shuffle: hash table
    // build is now scan → expression → write.
    graft.functions.GraftFunctions.ensure(s)
    val cs = graft.functions.GraftFunctions.chunkCodepointSums(col("text"))
    val sums = (0 until 32).map(i => coalesce(element_at(col("cs"), i + 1), lit(0L)))
    val total = sums.reduce(_ + _)
    val hash = sums.zipWithIndex.map { case (s0, i) =>
      when(s0 * 32L > total, lit(1L << i)).otherwise(lit(0L)) }.reduce(_ + _)
    // materialize the |docs|-row hash table to parquet so the band
    // self-join scans it twice instead of recomputing the hash plan
    // twice; short docs (q = 0) get a NULL sum array → hash 0, exactly
    // the previous left-join-miss behavior
    val hashes = graft.Standing.write(s, "m6hash")(
      planted.select(col("doc_id"), cs.as("cs")).select(col("doc_id"), hash.as("h")))
    val bands = hashes.select(col("doc_id"), col("h"), explode(array(
      (0 until 4).map(b => struct(lit(b).as("band"),
        shiftright(col("h"), 8 * b).bitwiseAND(255).as("bv"))): _*)).as("bb"))
      .select(col("doc_id"), col("h"), col("bb.band").as("band"), col("bb.bv").as("bv"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.h").bitwiseXOR(col("b.h"))).as("hamming"))
      // filter BEFORE the dedup (r19): hamming is deterministic per pair,
      // so the two commute — but the band join emits every bucket
      // collision (pairs ∝ per-bucket density) and the distinct was
      // shuffling all of them; post-filter only real near-dups reach it
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  private val m6Sql = {
    val chunks = (0 until 32).map { i =>
      s"COALESCE(list_sum(list_transform(range($i*q + 1, ($i+1)*q + 1), " +
        s"j -> ascii(substr(text, CAST(j AS INTEGER), 1)))), 0)"
    }
    val total = chunks.mkString("(", " + ", ")")
    val hashExpr = chunks.zipWithIndex.map { case (c, i) =>
      s"CASE WHEN $c * 32 > $total THEN ${1L << i} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH planted AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents), 'z' || substr(text, 2)
       |  FROM documents WHERE doc_id % 53 = 0),
       |q0 AS (SELECT doc_id, text, strlen(text) // 32 AS q FROM planted),
       |h AS (SELECT doc_id, CAST(CASE WHEN q > 0 THEN $hashExpr ELSE 0 END AS BIGINT) AS h
       |      FROM q0)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.h, b.h)) AS INTEGER) AS hamming
       |FROM h a JOIN h b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.h, b.h)) <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---------------------------------------------------------------- m7
  /** Modality-aware SHARD PACKING — the training-data manifest builder:
    * pack media items into fixed-byte-budget shards per modality (first-
    * fit in doc_id order: shard = floor(exclusive-prefix-sum / budget)),
    * emit one manifest row per shard with item count, byte total and the
    * id range. At 100 TB this IS how a webdataset/arrayrecord export
    * lays out its tar shards.
    *
    * Shape: ONE window (partition by modality, order by doc_id) for the
    * prefix sum — metadata-only, the payload column never loads — then a
    * groupBy on (modality, shard). No join, no driver state. */
  private def m7(s: SparkSession, d: String): DataFrame = {
    val budget = 4000L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fmt")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1L)
    media(s, d)
      .select(col("doc_id"), col("meta.fmt").as("fmt"), col("meta.n_bytes").as("n_bytes"))
      .withColumn("shard_id", (coalesce(sum(col("n_bytes")).over(w), lit(0L)) / budget)
        .cast("long"))
      .groupBy(col("fmt"), col("shard_id"))
      .agg(count(lit(1)).cast("long").as("n_items"),
        sum(col("n_bytes")).cast("long").as("bytes"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("fmt"), col("shard_id"))
  }

  private val m7Sql =
    """WITH meta AS (SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'png'
      |         WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'wav' END AS fmt,
      |    strlen(text) AS n_bytes
      |  FROM documents),
      |pk AS (SELECT doc_id, fmt, n_bytes,
      |    COALESCE(SUM(n_bytes) OVER (PARTITION BY fmt ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 4000 AS shard_id
      |  FROM meta)
      |SELECT fmt, CAST(shard_id AS BIGINT) AS shard_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_items, CAST(SUM(n_bytes) AS BIGINT) AS bytes,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM pk GROUP BY fmt, shard_id ORDER BY fmt, shard_id""".stripMargin

  // ---------------------------------------------------------------- m8
  /** Vision-encoder PATCHIFY planning (the ViT/Qwen-VL preprocessing step
    * between decode and the encoder): per image, a smart-resize to a
    * pixel budget (uniform sqrt scale when w*h exceeds it, floor to
    * ints, 16px floor), then the 16x16 patch grid (ceil division — the
    * ragged right/bottom patches are padded, exactly how ViT handles
    * non-multiple dims) and the encoder sequence length (+1 CLS). Image
    * dims are a deterministic STUB from the id (the m1 pattern: the
    * corpus is text, a real pipeline reads them from the decoded
    * header); everything else is the real pipeline arithmetic. Pure
    * per-row map -- zero shuffle at any scale. */
  private val MaxPixels = 409600.0 // 640 * 640 budget

  private def m8(s: SparkSession, d: String): DataFrame = {
    val img = media(s, d).filter(col("meta.fmt") =!= "wav")
      .select(col("doc_id"), col("meta.fmt").as("fmt"),
        (lit(200L) + col("doc_id") % 300L).as("w"),
        (lit(150L) + (col("doc_id") * 7L) % 400L).as("h"))
    val scale = when(col("w") * col("h") > MaxPixels,
      sqrt(lit(MaxPixels) / (col("w") * col("h")))).otherwise(lit(1.0))
    img
      .withColumn("sw", greatest(lit(16L), floor(col("w") * scale).cast("long")))
      .withColumn("sh", greatest(lit(16L), floor(col("h") * scale).cast("long")))
      .withColumn("n_px", ((col("sw") + 15L) / 16L).cast("long"))
      .withColumn("n_py", ((col("sh") + 15L) / 16L).cast("long"))
      .select(col("doc_id"), col("fmt"), col("w"), col("h"), col("sw"), col("sh"),
        (col("n_px") * col("n_py")).as("n_patches"),
        (col("n_px") * col("n_py") + 1L).as("seq_len"))
      .orderBy(col("doc_id"))
  }

  private val m8Sql =
    """WITH img AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
      |    200 + doc_id % 300 AS w, 150 + (doc_id * 7) % 400 AS h
      |  FROM documents WHERE doc_id % 3 <> 2),
      |sc AS (
      |  SELECT *, CASE WHEN w * h > 409600.0
      |    THEN sqrt(409600.0 / (w * h)) ELSE 1.0 END AS scale
      |  FROM img),
      |dims AS (
      |  SELECT doc_id, fmt, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
      |    CAST(GREATEST(16, FLOOR(w * scale)) AS BIGINT) AS sw,
      |    CAST(GREATEST(16, FLOOR(h * scale)) AS BIGINT) AS sh
      |  FROM sc)
      |SELECT doc_id, fmt, w, h, sw, sh,
      |  CAST(((sw + 15) // 16) * ((sh + 15) // 16) AS BIGINT) AS n_patches,
      |  CAST(((sw + 15) // 16) * ((sh + 15) // 16) + 1 AS BIGINT) AS seq_len
      |FROM dims ORDER BY doc_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "m8_patchify" -> m8 _,
    "m7_shard_pack" -> m7 _,
    "m6_media_neardup" -> m6 _,
    "m5_media_dedup" -> m5 _,
    "m1_media_meta" -> m1 _,
    "m2_decode_features" -> m2 _,
    "m3_frame_sample" -> m3 _,
    "m4_modality_budget" -> m4 _)

  val oracle: Map[String, String] = Map(
    "m8_patchify" -> m8Sql,
    "m7_shard_pack" -> m7Sql,
    "m6_media_neardup" -> m6Sql,
    "m5_media_dedup" -> m5Sql,
    "m1_media_meta" -> m1Sql,
    "m2_decode_features" -> m2Sql,
    "m3_frame_sample" -> m3Sql,
    "m4_modality_budget" -> m4Sql)
}
