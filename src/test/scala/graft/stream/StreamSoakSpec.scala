package graft.stream

import graft.SparkSpec

/** The state-soak harness end to end at sf0.001: a stream-stream join and
  * the stateful EQL fold each run their micro-batches, the join's state
  * drains to the two flush sentinels once the final watermark passes
  * every real event, and no memory-sink view outlives the soak. */
class StreamSoakSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("soak at sf0.001: st6 state drains to the flush sentinels, st16 runs every batch") {
    val s = IndexPipeline.streamSession(spark)
    def soakViews: Seq[String] =
      s.catalog.listTables().collect().toSeq.map(_.name).filter(_.startsWith("soak_"))
    val join = StreamSoak.soak(s, sf, "st6_inner", 3)
    assert(join.size >= 3, join)
    assert(join.last.stateRows <= 2, s"final join state beyond the 2 sentinels: $join")
    val eql = StreamSoak.soak(s, sf, "st16_eql", 3)
    assert(eql.size >= 3, eql)
    assert(soakViews.isEmpty, s"leaked soak views: $soakViews")
  }
}
