package graft.docs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document-sharded physical layout for the shredded index — the
  * partition-limited mutation story SURVEY §2 M6/M8 promises ("Delta
  * MERGE at scale" without a table format): entities and edges are
  * written `partitionBy(shard)` where `shard = hash(ROOT document key) %
  * n`, so a document's ENTIRE closure — the reference's per-document
  * Redis key family (`PlanService.java:41-44`) — lives in ONE partition
  * per table.
  *
  * That locality makes every M6/M8-class mutation (delete_by_query /
  * update_by_query / replace / _bulk upserts) a PARTITION-PRUNED rewrite:
  *
  *   1. the affected ROOT keys are request-bounded driver state (the
  *      matched docs — the Bulk existence-resolve class);
  *   2. only their shard directories are READ (partition pruning on the
  *      shard column, then a root-key filter at row-group grain — the
  *      `root` column is stored, so the closure needs NO reachability
  *      join at mutation time: root IS the closure index);
  *   3. the rewritten rows stage to a temp dir (Spark refuses to
  *      overwrite a path a plan is reading — the staging write is the
  *      commit a table format would journal), then land with DYNAMIC
  *      partition overwrite — untouched shard directories keep their
  *      files byte-for-byte (PartitionedStoreSpec asserts this on the
  *      filesystem).
  *
  * Replacing one document in a 100 TB index therefore rewrites one
  * shard's worth of parquet, not the table; the n-shard knob trades
  * rewrite amplification against file count exactly like table-format
  * partitioning. A shard emptied by a pure delete is removed explicitly
  * (dynamic overwrite only touches partitions PRESENT in the output —
  * the empty-partition drop is the delete-vector analogue).
  *
  * Ownership: an entity reachable from several roots is owned by its
  * MINIMUM root (the store is keyed like Shredder's dropDuplicates —
  * one row per key); the test corpus's keys embed their document ids,
  * so ownership is 1:1 there.
  */
object PartitionedStore {

  final case class Store(dir: String, nShards: Int, rootTag: String, maxDepth: Int) {
    def entitiesDir: String = s"$dir/entities"
    def edgesDir: String = s"$dir/edges"
  }

  private def shardOf(root: Column, n: Int): Column =
    pmod(xxhash64(root), lit(n.toLong))

  /** Root-key assignment: fixed-depth propagation of each root's key down
    * the edge graph, one join round per level of `maxDepth`, carrying the
    * owning root with each key. */
  private def rootAssignment(sh: Shredded, rootTag: String, maxDepth: Int): DataFrame = {
    val roots = sh.entities.filter(col("type_tag") === rootTag)
      .select(col("key"), col("key").as("root"))
    val edges = sh.edges.filter(col("child_key").isNotNull)
      .select(col("parent_key"), col("child_key"))
    var frontier = roots
    var assigned = roots
    for (_ <- 1 to maxDepth) {
      frontier = edges
        .join(frontier.select(col("key").as("parent_key"), col("root")), "parent_key")
        .select(col("child_key").as("key"), col("root"))
        .distinct()
      assigned = assigned.unionAll(frontier)
    }
    assigned.groupBy(col("key")).agg(min(col("root")).as("root"))
  }

  /** Build the store: one-time index write (the bucketing-style layout
    * cost), sharded by owning document. */
  def write(sh: Shredded, dir: String, nShards: Int,
            rootTag: String, maxDepth: Int): Store = {
    val owners = rootAssignment(sh, rootTag, maxDepth)
    val ent = sh.entities.join(owners, Seq("key"), "left")
      .withColumn("root", coalesce(col("root"), col("key"))) // orphans own themselves
      .withColumn("shard", shardOf(col("root"), nShards))
    ent.write.partitionBy("shard").mode("overwrite").parquet(s"$dir/entities")
    val edg = sh.edges
      .join(owners.select(col("key").as("parent_key"), col("root")), Seq("parent_key"), "left")
      .withColumn("root", coalesce(col("root"), col("parent_key")))
      .withColumn("shard", shardOf(col("root"), nShards))
    edg.write.partitionBy("shard").mode("overwrite").parquet(s"$dir/edges")
    Store(dir, nShards, rootTag, maxDepth)
  }

  /** The logical tables (layout columns dropped). */
  def read(s: SparkSession, st: Store): Shredded =
    Shredded(
      s.read.parquet(st.entitiesDir).drop("shard", "root"),
      s.read.parquet(st.edgesDir).drop("shard", "root"))

  /** The shards owning `roots` — bounded driver state (|mutated docs|). */
  private def shardsOf(s: SparkSession, st: Store, roots: Seq[String]): Seq[Long] = {
    import s.implicits._
    roots.toDF("root").select(shardOf(col("root"), st.nShards)).distinct()
      .collect().map(_.getLong(0)).toSeq
  }

  /** One partition-limited rewrite of `table` (= "entities"/"edges"):
    * read ONLY the affected shards, drop the mutated roots' rows, union
    * `fresh` (already carrying root), stage, dynamic-overwrite back.
    * Shards left empty by a pure delete are removed explicitly. */
  private def rewrite(s: SparkSession, st: Store, table: String,
                      roots: Seq[String], fresh: DataFrame): Unit = {
    val dir = s"${st.dir}/$table"
    val shards = shardsOf(s, st,
      roots ++ fresh.select(col("root")).distinct().collect().map(_.getString(0)))
    val kept = s.read.parquet(dir)
      .filter(col("shard").isin(shards: _*)) // partition-pruned read
      .filter(!col("root").isin(roots: _*))
    val out = kept.unionByName(
      fresh.withColumn("shard", shardOf(col("root"), st.nShards)))
    val staged = graft.Standing.write(s, "pstore-stage", Seq("shard"))(out)
    staged.write.partitionBy("shard").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(dir)
    // empty-partition drop: a shard whose every row was deleted is absent
    // from the output, so dynamic overwrite leaves its stale files — remove
    val alive = staged.select(col("shard").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    shards.filterNot(alive).foreach { sh0 =>
      graft.TempDirs.deleteRecursively(
        java.nio.file.Paths.get(dir, s"shard=$sh0"))
    }
  }

  /** M8 replace, partition-limited: the incoming docs' closures are
    * rewritten in place; every other shard's files are untouched. */
  def replace(s: SparkSession, st: Store, newDocs: DataFrame,
              docCol: String = "doc"): Unit = {
    val freshSh = Shredder.shredComputed(newDocs, docCol)
    val roots: Seq[String] = newDocs
      .select(concat(col(s"$docCol.objectType"), lit("_"),
        col(s"$docCol.objectId")).as("root"))
      .collect().map(_.getString(0)).toSeq
    // a fresh shred's rows all belong to their own document's root: tag
    // them by propagation within the fresh (bounded) frames
    val freshOwners = rootAssignment(freshSh, st.rootTag, st.maxDepth)
    val entFresh = freshSh.entities.join(freshOwners, Seq("key"), "left")
      .withColumn("root", coalesce(col("root"), col("key")))
    val edgFresh = freshSh.edges
      .join(freshOwners.select(col("key").as("parent_key"), col("root")),
        Seq("parent_key"), "left")
      .withColumn("root", coalesce(col("root"), col("parent_key")))
    rewrite(s, st, "entities", roots, entFresh)
    rewrite(s, st, "edges", roots, edgFresh)
  }

  /** M6 cascade delete, partition-limited: the roots' closures vanish
    * with their shards' rewrite (or the whole shard directory, when
    * emptied). */
  def delete(s: SparkSession, st: Store, roots: Seq[String]): Unit = {
    val none = read(s, st).entities.filter(lit(false))
      .withColumn("root", lit(null).cast("string"))
    val noneEdges = read(s, st).edges.filter(lit(false))
      .withColumn("root", lit(null).cast("string"))
    rewrite(s, st, "entities", roots, none)
    rewrite(s, st, "edges", roots, noneEdges)
  }
}
