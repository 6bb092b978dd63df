package graft.docs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ES EQL (`_eql/search`) — the event query language. Implemented
  * surface:
  *
  *  - single-event queries with result pipes:
  *    `<category> where <cond> [| head n | tail n | count]` (`runEvent`)
  *  - `sample by <key> [q1] [q2] ...` — one deterministic tuple per key
  *    (`runSample`)
  *  - `sequence by <key> with maxspan=<n><unit> [step] ...` (`run`) with
  *    `with runs=N` step repetition (8.0), `![step]` missing events
  *    (8.7), and a trailing `until [step]` expiry
  *
  * Sequences compile to PER-KEY WINDOW CARRIES, never a self-join chain:
  *
  * one shuffle on the `by` key, then one window pass per step carrying
  * the most recent valid i-step prefix (a struct of its timestamps)
  * strictly before each row — step i+1 anchors to the prefix its row
  * sees. Matching is LAST-PREFIX (each completion pairs with the most
  * recent preceding partial match; a fresher stage-1 supersedes a stale
  * one — DOCUMENTED DEVIATION from ES's every-partial-match state
  * machine, whose output multiplicity is engine-version-dependent);
  * `maxspan` bounds first-to-last on the anchored tuple. Output: one row
  * per completed sequence (the final step's event), with the stage
  * timestamps and the span. `until` carries one more window column — the
  * most recent expiry timestamp strictly before each row — and a prefix
  * whose last step is not strictly after it is dead (the EQL contract:
  * an until occurrence kills in-progress partials; a fresh stage-1 after
  * the expiry restarts cleanly).
  *
  * Scale shape: events filtered to the steps' predicates at the scan
  * (one isin pushdown), windows all share the single `by` partitioning —
  * state is per-key and the pass count is the (static) step count.
  * Unknown syntax rejects loudly.
  */
object Eql {

  final case class Step(field: String, value: String)
  /** `missing` (EQL 8.7 missing events): gap index g → the event that
    * must NOT occur between positive steps g and g+1 (1-based). */
  final case class SequenceQuery(byKeys: Seq[String], maxspanUs: Long,
                                 steps: Seq[Step],
                                 until: Option[Step] = None,
                                 missing: Map[Int, Step] = Map.empty) {
    /** Single-key accessor kept for the common case. */
    def by: String = byKeys.head
  }

  // `with maxspan=` is OPTIONAL (legal EQL): an unbounded sequence keeps
  // the identical window-carry plan — the span predicate just never
  // prunes (maxspanUs = Long.MaxValue; spans are nonnegative, so the
  // comparison cannot overflow).
  private val Head =
    """^\s*sequence\s+by\s+(\w+(?:\s*,\s*\w+)*)(?:\s+with\s+maxspan\s*=\s*(\d+)([smh]))?\s*(.*)$""".r
  // optional `with runs=N` (EQL 8.0): the step repeats N times in the
  // sequence — parsed here, expanded to N copies before compilation, so
  // the window-carry machinery never knows runs existed. A leading `!`
  // (EQL 8.7 missing events) marks a NEGATIVE step: the event must NOT
  // occur between its two positive neighbours.
  private val StepRe =
    """(!?)\s*\[\s*event\s+where\s+(\w+)\s*==\s*"([^"]*)"\s*\](?:\s+with\s+runs\s*=\s*(\d+))?""".r
  private val UntilRe =
    """(?i)\buntil\s*\[\s*event\s+where\s+(\w+)\s*==\s*"([^"]*)"\s*\]\s*$""".r

  def parse(q: String): SequenceQuery = q.replaceAll("\\s+", " ").trim match {
    case Head(by, n, unit, rest0) =>
      val mult = unit match {
        case "s" => 1000000L
        case "m" => 60000000L
        case _ => 3600000000L // null (no maxspan) never reaches here
      }
      // optional trailing `until [ event where f == "v" ]` — the expiry
      // event (EQL: an until occurrence kills in-progress partial
      // sequences for the key)
      val untilM = UntilRe.findFirstMatchIn(rest0)
      val until = untilM.map(m => Step(m.group(1), m.group(2)))
      val rest = untilM.map(m => rest0.substring(0, m.start)).getOrElse(rest0)
      val steps = scala.collection.mutable.ListBuffer[Step]()
      val missing = scala.collection.mutable.Map[Int, Step]()
      StepRe.findAllMatchIn(rest).foreach { m =>
        val neg = m.group(1) == "!"
        val runs = Option(m.group(4)).map(_.toInt).getOrElse(1)
        val st = Step(m.group(2), m.group(3))
        if (neg) {
          require(runs == 1, "eql: runs is not valid on a missing (!) step")
          require(steps.nonEmpty, "eql: a missing (!) step cannot be first")
          require(!missing.contains(steps.size),
            "eql: at most one missing (!) step per gap")
          missing(steps.size) = st // gap after positive step `steps.size`
        } else {
          require(runs >= 1 && runs <= 4, s"eql runs must be 1-4, got $runs")
          steps ++= Seq.fill(runs)(st)
        }
      }
      require(!missing.contains(steps.size),
        "eql: a missing (!) step cannot be last")
      require(steps.size >= 2 && steps.size <= 5,
        s"eql sequence needs 2-5 steps, got ${steps.size}")
      require(StepRe.replaceAllIn(rest, "").trim.isEmpty,
        s"unsupported eql step syntax in: $rest")
      val spanUs = if (n == null) Long.MaxValue else n.toLong * mult
      SequenceQuery(by.split(",").map(_.trim).toSeq, spanUs,
        steps.toSeq, until, missing.toMap)
    case other => throw new IllegalArgumentException(
      s"unsupported eql query (sequence-by [with maxspan] only): $other")
  }

  // ------------------------------------------------------- event queries
  /** EQL single-event queries with result pipes:
    *
    *   `<category> where <cond> [| head N | tail N | count]`
    *
    * `<category>` filters `event_type` (`any` matches all); `<cond>` is a
    * boolean expression over comparisons (== != < <= > >=, string or
    * numeric literals), and/or/not, parentheses. Results are the matching
    * events in EQL's canonical ascending (timestamp, tiebreak) order.
    * Pipes: `head n` keeps the first n (a bounded TakeOrderedAndProject
    * heap — never a full sort), `tail n` the last n (same heap on the
    * reversed order, re-emitted ascending — the EQL contract), `count`
    * collapses to one `{count}` row. Scale shape: the category + condition
    * filter sits at the scan (pushdown-eligible), head/tail are O(n·log k)
    * per partition with k-row driver state, count one partial-aggregated
    * count. Unknown syntax rejects loudly. */
  def runEvent(events: DataFrame, query: String): DataFrame = Lex.planning("eql") {
    val PipeSplit = query.split("\\|").map(_.trim).toList
    require(PipeSplit.nonEmpty && PipeSplit.head.nonEmpty, "eql: empty query")
    val HeadRe = """^\s*(\w+)\s+where\s+(.+)$""".r
    val head = PipeSplit.head
    val (cat, cond) = HeadRe.findFirstMatchIn(head) match {
      case Some(m) => // condition offsets count from the start of the query
        val at = query.indexOf(head)
        (m.group(1), EventCond.parse(query.substring(0, at + head.length), at + m.start(2)))
      case None => throw new IllegalArgumentException(
        s"unsupported eql event query (need `<category> where <cond>`): $head")
    }
    val catFilter: Column =
      if (cat == "any") lit(true) else col("event_type") === lit(cat)
    var df = events.filter(catFilter && cond)
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
    val asc = Seq(col("ts_us").asc, col("event_id").asc)
    val desc = Seq(col("ts_us").desc, col("event_id").desc)
    var counted = false
    PipeSplit.tail.foreach { p =>
      require(!counted, s"eql: no pipe may follow count, got: $p")
      p.split("\\s+").toList match {
        case List("head", n) if n.forall(_.isDigit) =>
          df = df.orderBy(asc: _*).limit(n.toInt)
        case List("tail", n) if n.forall(_.isDigit) =>
          // bounded heap on the reversed order; output still ascending
          df = df.orderBy(desc: _*).limit(n.toInt)
        case List("count") =>
          df = df.agg(count(lit(1)).cast("long").as("count")); counted = true
        case _ => throw new IllegalArgumentException(
          s"unsupported eql pipe (head/tail/count): $p")
      }
    }
    if (counted) df else df.orderBy(asc: _*)
  }

  /** Condition parser for event queries — comparisons over identifiers
    * and string/numeric literals, and/or/not, parentheses. Shared shape
    * with the sequence steps' == form but full-boolean. */
  private object EventCond {
    import Lex.{Id, Num, Op, Str}
    private val lex = new Lex.Lexer("eql", sqlQuotes = false,
      Seq("==", "!=", "<=", ">=", "<", ">", "(", ")"), signedNums = true)
    /** The condition that starts at offset `from` of `src`. */
    def parse(src: String, from: Int): Column = {
      val c = new Lex.Cursor("eql", lex(src, from))
      def atom(): Column = c.peek match {
        case Some(Op("(")) => c.pop(); val e = c.nested(or()); c.expect(")"); e
        case Some(Id("not")) => c.pop(); !c.nested(atom())
        case _ =>
          val f = c.ident()
          val cmp = c.pop() match {
            case Op(o) if o != "(" && o != ")" => o
            case t => c.fail(s"expected a comparison, got $t", t)
          }
          val r: Column = c.pop() match {
            case Str(s) => lit(s)
            case Num(n) if n.contains('.') => lit(n.toDouble)
            case t @ Num(n) => lit(n.toLongOption.getOrElse(c.fail(s"integer out of range: $n", t)))
            case t => c.fail(s"expected a string or number, got $t", t)
          }
          cmp match {
            case "==" => col(f) === r
            case "!=" => col(f) =!= r
            case "<" => col(f) < r
            case "<=" => col(f) <= r
            case ">" => col(f) > r
            case _ => col(f) >= r // the lexer's last comparison
          }
      }
      def and(): Column = {
        var e = atom()
        while (c.peek.contains(Id("and"))) { c.pop(); e = e && atom() }
        e
      }
      def or(): Column = {
        var e = and()
        while (c.peek.contains(Id("or"))) { c.pop(); e = e || and() }
        e
      }
      val e = or()
      c.end("condition")
      e
    }
  }

  // --------------------------------------------------------------- sample
  private val SampleHead = """^\s*sample\s+by\s+(\w+)\s*(.*)$""".r

  /** EQL `sample by <key> [q1] [q2] ...` — keys where every step query
    * has at least one occurrence, with one representative event per step.
    * DOCUMENTED DEVIATION: ES returns up to `max_samples_per_key`
    * arbitrary tuples per key; the engine returns exactly ONE
    * deterministic tuple — the EARLIEST matching event's timestamp per
    * step (samples are unordered in ES, so any tuple is a valid sample;
    * earliest is the reproducible choice). Compiled to ONE hash
    * aggregation over the step-filtered scan — conditional `min`s per
    * step, a HAVING that all steps fired. No joins, no windows: the
    * 100 TB shape is a single partial-aggregated pass. */
  def runSample(events: DataFrame, query: String): DataFrame = Lex.planning("eql") {
    query.replaceAll("\\s+", " ").trim match {
      case SampleHead(by, rest) =>
        val steps = StepRe.findAllMatchIn(rest).map { m =>
          require(m.group(4) == null, "eql: runs is not valid on sample steps")
          require(m.group(1) != "!", "eql: missing (!) steps are not valid in sample")
          Step(m.group(2), m.group(3))
        }.toSeq
        require(steps.size >= 2 && steps.size <= 5,
          s"eql sample needs 2-5 steps, got ${steps.size}")
        require(StepRe.replaceAllIn(rest, "").trim.isEmpty,
          s"unsupported eql step syntax in: $rest")
        val relevant = steps.map(st => col(st.field) === lit(st.value)).reduce(_ || _)
        val aggs = steps.zipWithIndex.map { case (st, i) =>
          min(when(col(st.field) === lit(st.value), col("ts_us")))
            .as(s"t${i + 1}_us")
        }
        events.filter(relevant)
          .groupBy(col(by))
          .agg(aggs.head, aggs.tail: _*)
          .filter(steps.indices.map(i => col(s"t${i + 1}_us").isNotNull).reduce(_ && _))
          .orderBy(col(by))
      case other => throw new IllegalArgumentException(
        s"unsupported eql sample query: $other")
    }
  }

  /** Run over an event frame carrying (`ts_us` long micros, `event_id`
    * long — the deterministic tiebreak — plus the by/step columns).
    * A trailing `| head n` / `| tail n` result pipe bounds the output
    * (DOCUMENTED DEVIATION: ES orders sequence results by ascending
    * last-event timestamp; the engine's canonical order is (by-keys,
    * t1..tn) — the pipe slices THAT order, both ends compiling to a
    * bounded TakeOrderedAndProject heap, never a full sort). */
  def run(events: DataFrame, query: String): DataFrame = Lex.planning("eql") {
    val pipeSplit = query.split("\\|").map(_.trim).toList
    val base = runSeq(events, pipeSplit.head)
    val sortCols = base.columns.dropRight(1) // by-keys ++ t1..tn
    var df = base
    pipeSplit.tail.foreach { p =>
      p.split("\\s+").toList match {
        case List("head", n) if n.forall(_.isDigit) =>
          df = df.orderBy(sortCols.map(col(_).asc): _*).limit(n.toInt)
        case List("tail", n) if n.forall(_.isDigit) =>
          df = df.orderBy(sortCols.map(col(_).desc): _*).limit(n.toInt)
        case _ => throw new IllegalArgumentException(
          s"unsupported eql sequence pipe (head/tail): $p")
      }
    }
    if (pipeSplit.tail.isEmpty) df
    else df.orderBy(sortCols.map(col(_).asc): _*)
  }

  /** EVERY-PARTIAL-MATCH sequence mode — the complement of the engine's
    * default LAST-PREFIX matching (the documented deviation): emit EVERY
    * monotone chain e1 < e2 < … < en over the by-key within maxspan, the
    * relational "all chains" semantics (a superset of any EQL engine
    * version's state-machine multiplicity, and the only version-stable
    * definition). Requires `maxspan` — unbounded all-chains output is
    * unbounded. `with runs=N` is fine (the parser expands it to repeated
    * steps, and all-chains over repeated steps is exactly the intended
    * semantics). Event ORDER is row-strict like the default mode:
    * (ts, event_id) lexicographic — equal-timestamp events chain by id
    * order, so the last-prefix output is always a subset.
    *
    * `until` and `missing` use the SAME validity contract as the default
    * mode (runSeq), checked per extension — the two modes agree on which
    * chains are alive and differ only in multiplicity (ES's own until/
    * missing multiplicity is version-dependent; this engine PINS the
    * runSeq boundary rules: an expiry at-or-after the prefix's last step
    * and row-strictly before the completing row kills; a gap event
    * strictly after the prefix's last step and row-strictly before the
    * completing row violates). Both compile to ONE window pass over the
    * relevant events — "last expiry / last gap-marker STRICTLY before
    * this row" carried as plain columns on the step frames — so the
    * checks are per-row predicates on the joins, never an anti-join per
    * extension and never a second pass.
    *
    * Plan shape: each extension is a BIN-BUCKETED interval join (the q28
    * trick): the chain's anchor bin b = ts1 DIV maxspan, the step side
    * exploded to bins {b(t), b(t)-1} — so candidates meet on (by, bin)
    * equi-keys and the exact (t > prev, t - t1 ≤ maxspan) predicate
    * filters after the hash join. Never a per-key cross product alone,
    * never NestedLoop. Output multiplicity is inherent to the semantics
    * (O(Π per-key step counts per window)) — WHY last-prefix is the
    * engine default; this mode is for when the analyst wants the full
    * attribution set. */
  def runAllMatches(events: DataFrame, query: String): DataFrame = Lex.planning("eql") {
    val sq = parse(query)
    require(sq.maxspanUs != Long.MaxValue,
      "eql: all-matches mode requires maxspan (all-chains output over an " +
        "unbounded span is unbounded)")
    val n = sq.steps.size
    val W = sq.maxspanUs
    // one window pass over the relevant events carries the until/missing
    // state every extension needs (exactly runSeq's columns): relevant =
    // step ∪ until ∪ missing events, so the markers see non-step rows
    val relevant = (sq.steps ++ sq.until ++ sq.missing.values)
      .map(st => col(st.field) === lit(st.value)).reduce(_ || _)
    val w = Window.partitionBy(sq.byKeys.map(col): _*)
      .orderBy(col("ts_us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    var aug = events.filter(relevant)
    sq.until.foreach { u =>
      aug = aug
        .withColumn("_uts", when(col(u.field) === lit(u.value), col("ts_us")))
        .withColumn("_lu", last(col("_uts"), ignoreNulls = true).over(w))
    }
    sq.missing.foreach { case (g, m) =>
      aug = aug
        .withColumn(s"_mts$g", when(col(m.field) === lit(m.value), col("ts_us")))
        .withColumn(s"_lm$g", last(col(s"_mts$g"), ignoreNulls = true).over(w))
    }
    def stepFrame(i: Int): DataFrame = {
      val st = sq.steps(i)
      // completing sides (i ≥ 1) carry their row's carried state columns
      val extras =
        (if (i >= 1 && sq.until.nonEmpty) Seq(col("_lu").as(s"_lu$i")) else Nil) ++
          (if (i >= 1 && sq.missing.contains(i)) Seq(col(s"_lm$i").as(s"_lmc$i")) else Nil)
      aug.filter(col(st.field) === lit(st.value))
        .select(sq.byKeys.map(col) ++ Seq(col("ts_us").as(s"t${i + 1}_us"),
          col("event_id").as(s"_e${i + 1}")) ++ extras: _*)
    }
    // row-strict succession, same order the window-carry mode walks:
    // (ts, event_id) lexicographic — equal-timestamp events chain by id
    def after(i: Int): Column =
      col(s"t${i + 1}_us") > col(s"t${i}_us") ||
        (col(s"t${i + 1}_us") === col(s"t${i}_us") &&
          col(s"_e${i + 1}") > col(s"_e$i"))
    // anchor chains carry bin(t1); each step side explodes to the ≤2 bins
    // a within-span event can occupy relative to its anchor
    var chain = stepFrame(0).withColumn("_bin", expr(s"t1_us DIV $W"))
    (1 until n).foreach { i =>
      val step = stepFrame(i)
        .withColumn("_bins", array(expr(s"t${i + 1}_us DIV $W"),
          expr(s"t${i + 1}_us DIV $W - 1")))
        .withColumn("_bin", explode(col("_bins")))
        .drop("_bins")
      // runSeq's validity contract on the carried state: the last expiry
      // row-strictly before the completing row must predate the prefix's
      // last step (tie on the microsecond kills); the last gap marker may
      // sit AT the prefix's last timestamp but not after
      val untilOk: Column =
        if (sq.until.isEmpty) lit(true)
        else col(s"_lu$i").isNull || col(s"_lu$i") < col(s"t${i}_us")
      val gapOk: Column =
        if (!sq.missing.contains(i)) lit(true)
        else col(s"_lmc$i").isNull || col(s"_lmc$i") <= col(s"t${i}_us")
      chain = chain.join(step, sq.byKeys :+ "_bin")
        .filter(after(i) && col(s"t${i + 1}_us") - col("t1_us") <= W &&
          untilOk && gapOk)
    }
    chain
      .select(sq.byKeys.map(col) ++
        (1 to n).map(j => col(s"t${j}_us")) :+
        (col(s"t${n}_us") - col("t1_us")).as("span_us"): _*)
      .orderBy(sq.byKeys.map(col) ++ (1 to n).map(j => col(s"t${j}_us")): _*)
  }

  private def runSeq(events: DataFrame, query: String): DataFrame = {
    val sq = parse(query)
    val n = sq.steps.size
    // scan-pushable pre-filter: only rows matching SOME step (or the
    // until expiry / missing-gap events) participate
    val relevant = (sq.steps ++ sq.until ++ sq.missing.values)
      .map(st => col(st.field) === lit(st.value)).reduce(_ || _)
    val w = Window.partitionBy(sq.byKeys.map(col): _*)
      .orderBy(col("ts_us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    var df = events.filter(relevant)
    // _a0: this row AS a 1-step prefix; _p{i}: the most recent (i+1)-step
    // prefix strictly BEFORE this row; _a{i}: this row as an (i+1)-step
    // prefix completion. With `until`, _u carries the most recent expiry
    // timestamp strictly before this row: a prefix whose LAST step is not
    // strictly after _u was alive when the expiry fired — killed (tie on
    // the same microsecond kills too; checked inductively at each
    // extension, so an expiry between ts1 and ts2 already blocked the
    // 2-step prefix from forming).
    sq.until.foreach { u =>
      df = df.withColumn("_uts",
        when(col(u.field) === lit(u.value), col("ts_us")))
    }
    // missing (EQL 8.7): one marker column per gap — the event that must
    // NOT occur between positive steps g and g+1; the extension check
    // reads the LAST such timestamp strictly before the completing row.
    // Boundary contract (documented): an occurrence exactly AT the
    // prefix's last timestamp does not violate; one at (or row-before on)
    // the completing row's timestamp does — conservative, deterministic,
    // mirrored by the oracle.
    sq.missing.foreach { case (g, m) =>
      df = df.withColumn(s"_mts$g",
        when(col(m.field) === lit(m.value), col("ts_us")))
    }
    df = df.withColumn("_a0",
      when(col(sq.steps.head.field) === lit(sq.steps.head.value),
        struct(col("ts_us").as("ts1"))))
    for (i <- 1 until n) {
      df = df.withColumn(s"_p$i", last(col(s"_a${i - 1}"), ignoreNulls = true).over(w))
      val alive: Column = {
        val untilOk: Column =
          if (sq.until.isEmpty) lit(true)
          else {
            val u = last(col("_uts"), ignoreNulls = true).over(w)
            u.isNull || u < col(s"_p$i.ts$i")
          }
        val gapOk: Column = sq.missing.get(i) match {
          case None => lit(true)
          case Some(_) =>
            val ml = last(col(s"_mts$i"), ignoreNulls = true).over(w)
            ml.isNull || ml <= col(s"_p$i.ts$i")
        }
        untilOk && gapOk
      }
      val prefixFields = (1 to i).map(j => col(s"_p$i.ts$j").as(s"ts$j"))
      df = df.withColumn(s"_a$i",
        when(col(sq.steps(i).field) === lit(sq.steps(i).value) &&
          col(s"_p$i").isNotNull && alive,
          struct(prefixFields :+ col("ts_us").as(s"ts${i + 1}"): _*)))
    }
    val done = col(s"_a${n - 1}")
    df.filter(done.isNotNull &&
        done.getField(s"ts$n") - done.getField("ts1") <= sq.maxspanUs)
      .select(sq.byKeys.map(col) ++
        (1 to n).map(j => done.getField(s"ts$j").as(s"t${j}_us")) :+
        (done.getField(s"ts$n") - done.getField("ts1")).as("span_us"): _*)
      .orderBy(sq.byKeys.map(col) ++ (1 to n).map(j => col(s"t${j}_us")): _*)
  }
}
