package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Samples by name; the end-of-run statistics are medians and quantiles. */
final class Rec {
  private val m = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def add(k: String, v: Double): Unit = m.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
  def get(k: String): Seq[Double] = m.get(k).map(_.toSeq).getOrElse(Nil)
  def sum(k: String): Double = get(k).sum
  def median(k: String): Double = Rec.quantile(get(k), 0.5)
}

object Rec {
  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** In-memory spans around every layer call the client makes (traced runs
  * only). One client thread, so a stack gives each span its parent. */
final class Tracer(val on: Boolean) {
  import Tracer.Span
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  var req: String = ""

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, req, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Self time per layer (span name up to '/'), in ms, over the spans of
    * requests: a span's duration minus the time its children cover. */
  def selfMs: Map[String, Double] = {
    val childNs = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.filter(_.req.nonEmpty).groupBy(_.name.takeWhile(_ != '/')).map { case (layer, ss) =>
      layer -> ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum / 1e6
    }
  }

  def write(p: Path, t0Ns: Long): Unit = {
    val lines = spans.sortBy(_.id).map(s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "req" -> s.req, "start_ms" -> (s.startNs - t0Ns) / 1e6,
        "end_ms" -> (s.endNs - t0Ns) / 1e6)))
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, req: String,
                        startNs: Long, endNs: Long)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** One run's state: the session, the generated inputs, the samples, the
  * per-layer counters and the outcome of every attempted op. */
final class Ctx(val spark: SparkSession, val data: String, val work: Path,
                val seed: Long, val seconds: Double, val trace: Boolean) {
  val rec = new Rec
  val tracer = new Tracer(trace)
  val rng = new scala.util.Random(seed)
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  var attempted = 0L
  var failed = 0L
  val failures = mutable.LinkedHashMap[String, String]()
  /** Responses of registry entries on their first call, for the oracle. */
  val firstResults = mutable.LinkedHashMap[String, (StructType, Array[Row])]()
  /** Calls per registry entry, warm pass included. */
  val calls = mutable.LinkedHashMap[String, Long]().withDefaultValue(0L)
  /** Counter deltas summed over the timed ops (traced runs). */
  private val opCounters = mutable.Map[String, Double]().withDefaultValue(0.0)
  var timedOps = 0L

  def fail(op: String, why: String): Unit = {
    failed += 1
    if (failures.size < 50) failures(s"$op#$attempted") = why.take(300)
    System.err.println(s"FAILED $op: ${why.take(300)}")
  }

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble
  private def compiles: Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble

  private def counterState(): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    Counters.snapshot() ++ Map("jvm.gc_ms" -> gcMs, "catalyst.codegen_compiles" -> compiles)
  }

  /** One client op in the timed window. Traced runs drain the listener bus
    * before and after it (outside the timed interval) and charge the
    * counter deltas to the op. */
  def timed[T](span: String)(body: => T): (T, Double) = {
    val before = if (trace) counterState() else Map.empty[String, Double]
    val t0 = System.nanoTime()
    val out = tracer(span)(body)
    val ms = (System.nanoTime() - t0) / 1e6
    if (trace) Counters.delta(before, counterState()).foreach { case (k, v) => opCounters(k) += v }
    timedOps += 1
    (out, ms)
  }

  /** Opens the timed window: a full collection first, so each window
    * starts from the same heap state, then counters restart from zero. */
  def startWindow(): Unit = { System.gc(); opCounters.clear(); timedOps = 0 }

  /** Counter totals since the window opened. */
  def windowCounters: Map[String, Double] = opCounters.toMap

  /** Traced runs: per-op means of every counter summed over the timed
    * ops, and each layer's self time per op, into the layer metrics. */
  def recordWindowLayers(): Unit = if (trace) {
    val n = math.max(1L, timedOps).toDouble
    opCounters.foreach { case (k, v) => layers(k) = v / n }
    tracer.selfMs.foreach { case (layer, ms) => layers(s"self_ms.$layer") = ms / n }
  }

  /** Full materialization of a response: every row reaches the client. */
  def materialize(df: DataFrame): Array[Row] = tracer("exec.action")(df.collect())
}

object Ctx {
  def secondsSince(t0Ns: Long): Double = (System.nanoTime() - t0Ns) / 1e9
  def msSince(t0Ns: Long): Double = (System.nanoTime() - t0Ns) / 1e6
}
