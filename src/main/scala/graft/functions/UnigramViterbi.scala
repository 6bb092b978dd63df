package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{GenericArrayData, MapData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the unigram-LM Viterbi segmentation
  * (t29/t31 — Kudo 2018 hard-EM, the engine's fixed integer-quantized DP).
  *
  * Why a custom `Expression` (SURVEY §7.3's "only where perf demands"):
  * the composable form unrolls the 12-position DP + backtrace into ~24
  * stacked projections whose candidate expressions reference every earlier
  * level — Catalyst analysis, optimization and janino compilation of that
  * ladder cost ~1.5-2 s PER INSTANCE regardless of row count (measured
  * r19: 31 input rows, 2.3 s noop execution, 0.2 s planning — the time is
  * whole-stage-codegen compilation, and t29/t31 each build the ladder
  * twice per run). One expression evaluated per row replaces the ladder;
  * the DP itself is exactly the same LONG arithmetic with the same
  * leftmost-max (smallest piece-length on ties) rule, so results are
  * bit-identical (UnigramViterbiSpec pins equality against a column-ladder
  * reference on the full corpus vocabulary).
  *
  * Semantics (word w of length L codepoints, vocab map piece→lpq):
  *   lp(i,k)  = vm.getOrElse(substr(w, i-k+1, k), -10^15)   (k ≤ 4)
  *   b(0)     = 0;  b(i) = max over k=1..min(4,i) of b(i-k) + lp(i,k)
  *   c(i)     = SMALLEST k attaining b(i)   (the ladder's ≥-chain rule)
  *   pieces   = backtrace from L: emit substr(w, p-c(p)+1, c(p)), p -= c(p)
  * Output: the best path's pieces, last piece first (the ladder's
  * _piece1.._pieceL order after null-filtering); consumers only count or
  * explode the array, so order never surfaces in a result.
  * Words longer than [[UnigramViterbi.MaxLen]] raise the same loud error
  * as the ladder's raise_error guard. CodegenFallback is deliberate: the
  * operator runs at VOCAB grain (|distinct words| rows), so interpreted
  * eval costs microseconds while janino compilation of an inlined DP
  * would re-pay the second the ladder saved.
  */
case class UnigramViterbi(word: Expression, vocab: Expression)
    extends BinaryExpression with CodegenFallback {

  override def left: Expression = word
  override def right: Expression = vocab

  override def checkInputDataTypes(): TypeCheckResult =
    (word.dataType, vocab.dataType) match {
      case (StringType, MapType(StringType, LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"unigram_viterbi expects (string, map<string,bigint>), got ($l, $r)")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "unigram_viterbi"

  override def nullSafeEval(w: Any, vm: Any): Any = {
    val s = w.asInstanceOf[UTF8String]
    val map = vm.asInstanceOf[MapData]
    val L = s.numChars()
    if (L > UnigramViterbi.MaxLen)
      throw new IllegalArgumentException(
        s"unigram LM: word longer than ${UnigramViterbi.MaxLen} chars: $s")
    if (L == 0) return new GenericArrayData(Array.empty[Any])
    // one hash build per row beats 48 linear MapData scans; the operator's
    // contract is vocab-grain input, so rows are few and maps are shared
    val n = map.numElements()
    val keys = map.keyArray()
    val vals = map.valueArray()
    val lut = new java.util.HashMap[UTF8String, java.lang.Long](n * 2)
    var i = 0
    while (i < n) { lut.put(keys.getUTF8String(i), vals.getLong(i)); i += 1 }

    val b = new Array[Long](L + 1)
    val c = new Array[Int](L + 1)
    i = 1
    while (i <= L) {
      val m = math.min(4, i)
      var best = Long.MinValue
      var bk = 1
      var k = 1
      while (k <= m) {
        val piece = s.substringSQL(i - k + 1, k)
        val lpq = lut.get(piece)
        val lp = if (lpq == null) UnigramViterbi.Miss else lpq.longValue()
        val cand = b(i - k) + lp
        if (cand > best) { best = cand; bk = k } // strict > keeps smallest k on ties
        k += 1
      }
      b(i) = best
      c(i) = bk
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any](4)
    var p = L
    while (p > 0) {
      val k = c(p)
      out += s.substringSQL(p - k + 1, k)
      p -= k
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(word = newLeft, vocab = newRight)
}

object UnigramViterbi {
  /** Word-length cap — the ladder's unroll depth; beyond it the operator
    * rejects loudly (the corpus token pool is ≤ 8 chars). */
  val MaxLen = 12
  /** Out-of-vocab penalty in micro-nats (the ladder's UniMiss). */
  val Miss: Long = -1000000000000000L
}
