package graft.docs

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The partition-limited mutation contract (SURVEY §2 M6/M8): a
  * single-document replace against the document-sharded store rewrites
  * EXACTLY the owning shard directory per table — asserted on the real
  * filesystem, at sf0.1 — and the read-back state equals the plain
  * set-machinery replace. */
class PartitionedStoreSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.1"
  private val schema = graft.model.PlanSchema.plan

  /** shard-dir name → sorted (file, size, mtime) triples. */
  private def snapshot(dir: String): Map[String, Seq[(String, Long, Long)]] = {
    val root = java.nio.file.Paths.get(dir)
    val shards = Files.list(root).iterator().asScala.toSeq
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("shard="))
    shards.map { sd =>
      val files = Files.list(sd).iterator().asScala.toSeq
        .filter(f => !f.getFileName.toString.startsWith("."))
        .map(f => (f.getFileName.toString, Files.size(f),
          Files.getLastModifiedTime(f).toMillis))
        .sortBy(_._1)
      sd.getFileName.toString -> files
    }.toMap
  }

  test("sf0.1: one replaced doc rewrites only its owning shard; every other " +
    "shard's files stay byte-identical; read-back equals the full-rebuild replace") {
    val sh0 = Shredder.shred(PlanDocs.docs(spark, sf))
    val sh = Shredded(graft.Standing.write(spark, "pstore-in-ent")(sh0.entities),
      graft.Standing.write(spark, "pstore-in-edg")(sh0.edges))
    val depth = Mutations.depth(schema)
    val dir = graft.TempDirs.create("graft-pstore-")
    val st = PartitionedStore.write(sh, dir.toString, 32, "plan", depth)

    val beforeE = snapshot(st.entitiesDir)
    val beforeG = snapshot(st.edgesDir)
    assert(beforeE.size > 16, s"expected a populated shard layout: ${beforeE.size}")

    val newDoc = PlanDocs.docs(spark, sf)
      .filter(col("doc.objectId") === "plan-3")
      .select(col("doc").withField("planCostShares.copay", lit(9999L)).as("doc"))
    PartitionedStore.replace(spark, st, newDoc)

    val owner = spark.range(1)
      .select(pmod(xxhash64(lit("plan_plan-3")), lit(32L))).head().getLong(0)
    for ((before, after, what) <- Seq(
      (beforeE, snapshot(st.entitiesDir), "entities"),
      (beforeG, snapshot(st.edgesDir), "edges"))) {
      val changed = (before.keySet ++ after.keySet)
        .filter(k => before.get(k) != after.get(k))
      assert(changed == Set(s"shard=$owner"),
        s"$what: expected only shard=$owner rewritten, got $changed")
    }

    // semantics: the partition-limited rewrite equals the set-machinery
    // replace over the whole table (M8), both directions
    val got = PartitionedStore.read(spark, st)
    val want = Mutations.replace(sh, newDoc, Assembler.assemble(sh, schema, "plan"))
    assert(got.entities.except(want.entities).isEmpty &&
      want.entities.except(got.entities).isEmpty, "entities state diverged")
    assert(got.edges.except(want.edges).isEmpty &&
      want.edges.except(got.edges).isEmpty, "edges state diverged")
    // and the mutation is visible
    val copay = got.entities.filter(col("key") === "planCostShares_cs-3")
      .select(get_json_object(col("json"), "$.copay").cast("long")).head().getLong(0)
    assert(copay === 9999L)
  }

  test("a pure delete empties the owning shard's rows (and drops a shard " +
    "directory left empty) without touching other shards") {
    val shSmall = Shredder.shred(PlanDocs.docs(spark, "/root/testdata/sf0.001"))
    val dir = graft.TempDirs.create("graft-pstore-del-")
    // 2 shards: guarantees some shard holds several docs and an emptied
    // single-doc shard is exercised at nShards near doc count elsewhere
    val st = PartitionedStore.write(shSmall, dir.toString, 8, "plan",
      Mutations.depth(schema))
    val before = snapshot(st.entitiesDir)
    PartitionedStore.delete(spark, st, Seq("plan_plan-3"))
    val after = snapshot(st.entitiesDir)
    val changed = (before.keySet ++ after.keySet)
      .filter(k => before.get(k) != after.get(k))
    val owner = spark.range(1)
      .select(pmod(xxhash64(lit("plan_plan-3")), lit(8L))).head().getLong(0)
    assert(changed.subsetOf(Set(s"shard=$owner")),
      s"delete touched foreign shards: $changed")
    val got = PartitionedStore.read(spark, st)
    assert(got.entities.filter(col("key") === "plan_plan-3").isEmpty)
    assert(got.entities.filter(col("key") === "planCostShares_cs-3").isEmpty,
      "cascade missed the closure")
    assert(got.entities.filter(col("key") === "plan_plan-4").count() === 1)
  }
}
