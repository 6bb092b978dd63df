package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the r19 native unigram-Viterbi expression to the pre-r19 column
  * ladder it replaced: same vocab map, same words → identical piece
  * multiset per word (the only property t29/t31 consume — they count or
  * explode the array, never read positions). The reference below IS the
  * pre-r19 ladder, verbatim. */
class UnigramViterbiSpec extends SparkSpec {

  private val UniL = 12
  private val UniMiss = -1000000000000000L

  /** The pre-r19 unrolled DP ladder, kept as the reference semantics. */
  private def ladder(words: DataFrame, vmap: DataFrame): DataFrame = {
    var df = words.crossJoin(broadcast(vmap))
      .withColumn("len", when(length(col("w")) > UniL,
        raise_error(concat(lit(s"unigram LM: word longer than $UniL chars: "), col("w"))))
        .otherwise(length(col("w"))).cast("int"))
      .withColumn("_b0", lit(0L))
    def lp(i: Int, k: Int): Column =
      coalesce(element_at(col("vm"), substring(col("w"), i - k + 1, k)), lit(UniMiss))
    for (i <- 1 to UniL) {
      val m = math.min(4, i)
      val cands = (1 to m).map(k => col(s"_b${i - k}") + lp(i, k))
      var ch: Column = lit(m)
      for (j <- (0 until m - 1).reverse) {
        val ge = ((j + 1) until m).map(o => cands(j) >= cands(o)).reduce(_ && _)
        ch = when(ge, lit(j + 1)).otherwise(ch)
      }
      df = df.withColumns(Map(
        s"_b$i" -> (if (m == 1) cands.head else greatest(cands: _*)),
        s"_c$i" -> ch))
    }
    val choiceArr = array((1 to UniL).map(i => col(s"_c$i")): _*)
    df = df.withColumn("_p0", col("len"))
    for (j <- 1 to UniL) {
      val pPrev = col(s"_p${j - 1}")
      val k = when(pPrev > 0, element_at(choiceArr, pPrev)).otherwise(lit(1))
      df = df.withColumns(Map(
        s"_piece$j" -> when(pPrev > 0, col("w").substr(pPrev - k + 1, k)),
        s"_p$j" -> when(pPrev > 0, pPrev - k).otherwise(lit(0))))
    }
    df.select(col("w"), sort_array(filter(
      array((1 to UniL).map(j => col(s"_piece$j")): _*), p => p.isNotNull)).as("pieces"))
  }

  private def native(words: DataFrame, vmap: DataFrame): DataFrame = {
    GraftFunctions.ensure(words.sparkSession)
    words.crossJoin(broadcast(vmap))
      .select(col("w"),
        sort_array(call_function("unigram_viterbi", col("w"), col("vm"))).as("pieces"))
  }

  private def vocabOf(pieces: Seq[(String, Long)]): DataFrame = {
    import spark.implicits._
    pieces.toDF("piece", "lpq")
      .agg(map_from_entries(collect_list(struct(col("piece"), col("lpq")))).as("vm"))
  }

  test("native expression equals the pre-r19 ladder on adversarial vocabularies") {
    import spark.implicits._
    // words up to 12 chars over a tiny alphabet so tie cases are dense;
    // vocab log-probs drawn from a deterministic hash, including exact-tie
    // pairs (same lpq for many pieces) to exercise the leftmost-max rule
    val rnd = new scala.util.Random(42)
    val alpha = "abc"
    val words = (1 to 200).map { _ =>
      val n = 1 + rnd.nextInt(12)
      (1 to n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    }.distinct
    val pieces = words.flatMap { w =>
      for (i <- 0 until w.length; k <- 1 to math.min(4, w.length - i))
        yield w.substring(i, i + k)
    }.distinct
    // half the pieces share one of 4 lpq values → many exact ties
    val vocab = pieces.map { p =>
      val h = scala.util.hashing.MurmurHash3.stringHash(p)
      val lpq = if (h % 2 == 0) -1000000L * (1 + math.floorMod(h, 4))
                else -1000L * (1 + math.floorMod(h, 997))
      (p, lpq)
    }
    // drop ~30% of pieces from the vocab so the UniMiss path is exercised
    val kept = vocab.filter { case (p, _) =>
      math.floorMod(scala.util.hashing.MurmurHash3.stringHash(p + "!"), 10) >= 3 }
    val wordsDf = words.toDF("w")
    val vm = vocabOf(kept)
    val exp = ladder(wordsDf, vm).collect().map(r =>
      r.getString(0) -> r.getSeq[String](1)).toMap
    val got = native(wordsDf, vm).collect().map(r =>
      r.getString(0) -> r.getSeq[String](1)).toMap
    assert(got.keySet === exp.keySet)
    for (w <- exp.keys) assert(got(w) === exp(w), s"word $w segmented differently")
  }

  test("native expression matches the ladder on the real corpus round-1 vocabulary") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables(spark, sf, "documents")
    val words = docs.select(explode(split(col("text"), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).cast("long").as("freq"))
    // seed vocab: every ≤4-char substring, freq-weighted — the t29 seed
    val seed = words.select(col("freq"), explode(flatten(
      transform(sequence(lit(1), length(col("w")).cast("int")), i =>
        transform(sequence(lit(1), least(lit(4), length(col("w")).cast("int") - i + 1)),
          k => col("w").substr(i, k))))).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).cast("long").as("cnt"))
    val vm = seed.crossJoin(broadcast(seed.agg(sum(col("cnt")).cast("long").as("total"))))
      .select(col("piece"),
        round(log(col("cnt").cast("double") / col("total")) * 1000000.0)
          .cast("long").as("lpq"))
      .agg(map_from_entries(collect_list(struct(col("piece"), col("lpq")))).as("vm"))
    val wordsOnly = words.select(col("w"))
    val exp = ladder(wordsOnly, vm).collect().map(r =>
      r.getString(0) -> r.getSeq[String](1)).toMap
    val got = native(wordsOnly, vm).collect().map(r =>
      r.getString(0) -> r.getSeq[String](1)).toMap
    assert(got === exp)
  }

  test("words longer than 12 chars reject loudly") {
    import spark.implicits._
    GraftFunctions.ensure(spark)
    val vm = vocabOf(Seq(("a", -1L)))
    val e = intercept[Exception] {
      Seq("abcdefghijklm").toDF("w").crossJoin(broadcast(vm))
        .select(call_function("unigram_viterbi", col("w"), col("vm"))).collect()
    }
    assert(e.getMessage != null)
    def root(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else root(t.getCause)
    assert(root(e).getMessage.contains("longer than 12 chars"))
  }
}
