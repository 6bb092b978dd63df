package graft.docs

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpec

/** Skew audit (SCALE.md's hot-key story, exercised): one parent document
  * with 10⁴ array children next to a cold tail. The shred explode fans the
  * hot doc out across tasks, and reassembly's groupBy(parent_key) funnels
  * it back through one reduce key — the classic skew shape. The test
  * asserts the round trip completes with AQE's default skew handling and
  * that the 10⁴-element array comes back complete and IN ORDER (the
  * correctness half skew bugs usually break first: partial/merged
  * collect_list buffers reordering elements).
  */
class SkewSpec extends SparkSpec {

  test("shred + assemble round-trips one parent with 10k children, in order") {
    val hotN = 10000L
    val coldParents = 50L
    // child i<hotN → parent 0 (the hot key); the rest one child each
    val rows = spark.range(hotN + coldParents).select(
      when(col("id") < hotN, 0L).otherwise(col("id") - hotN + 1).as("pid"),
      col("id").as("cid"))
    val docs = rows
      .select(col("pid"), struct(col("cid").as("k"),
        struct(
          lit("example.com").as("_org"),
          concat(lit("line-"), col("cid").cast("string")).as("objectId"),
          lit("line").as("objectType"),
          (col("cid") * 7L).as("qty")).as("v")).as("kv"))
      .groupBy(col("pid"))
      .agg(transform(sort_array(collect_list(col("kv"))), x => x("v")).as("lines"))
      .select(struct(
        col("lines"),
        lit("example.com").as("_org"),
        concat(lit("ord-"), col("pid").cast("string")).as("objectId"),
        lit("order").as("objectType")).as("doc"))
    val schema = docs.schema("doc").dataType.asInstanceOf[StructType]
    val sh0 = Shredder.shred(docs)
    val sh = Shredded(graft.Standing.write(spark, "skew-ent")(sh0.entities),
      graft.Standing.write(spark, "skew-edg")(sh0.edges))
    assert(sh.edges.count() === hotN + coldParents)

    val asm = Assembler.assemble(sh, schema, "order")
    assert(asm.count() === coldParents + 1)
    val hot = asm.filter(col("doc.objectId") === "ord-0").select(
      size(col("doc.lines")).as("n"),
      element_at(col("doc.lines"), 1).getField("qty").as("first_qty"),
      element_at(col("doc.lines"), -1).getField("qty").as("last_qty"),
      // order check over the WHOLE array: qty must equal 7*position-7
      forall(zip_with(col("doc.lines"),
          sequence(lit(0L), lit(hotN - 1)),
          (l, i) => l.getField("qty") === i * 7L),
        x => x).as("in_order")).head()
    assert(hot.getAs[Int]("n") === hotN.toInt)
    assert(hot.getAs[Long]("first_qty") === 0L)
    assert(hot.getAs[Long]("last_qty") === (hotN - 1) * 7L)
    assert(hot.getAs[Boolean]("in_order"))
  }
}
