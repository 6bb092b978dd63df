package graft.docs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cascade delete by graph reachability over the `edges` table: the
  * reference the product's document-closure [[Mutations.cascadeDelete]]
  * is checked against. Unlike the product it accepts any key, mid-tree
  * ones included. */
object MutationsReference {

  /** All keys reachable from `rootKeys` (single column `key`), inclusive.
    * `maxDepth` bounds the join rounds — pass `Mutations.depth(schema)`. */
  def reachable(sh: Shredded, rootKeys: DataFrame, maxDepth: Int): DataFrame = {
    val edges = sh.edges.filter(col("child_key").isNotNull)
      .select(col("parent_key"), col("child_key"))
    var frontier = rootKeys.select(col("key")).distinct()
    var all = frontier
    for (_ <- 1 to maxDepth) {
      frontier = edges.join(frontier, col("parent_key") === col("key"))
        .select(col("child_key").as("key")).distinct()
      all = all.unionAll(frontier)
    }
    all.distinct()
  }

  /** Remove the [[reachable]] closure of `rootKeys` from both tables. */
  def cascadeDelete(sh: Shredded, rootKeys: DataFrame, maxDepth: Int): Shredded = {
    val gone = reachable(sh, rootKeys, maxDepth)
    Shredded(
      sh.entities.join(gone, Seq("key"), "left_anti"),
      sh.edges.join(gone.select(col("key").as("parent_key")), Seq("parent_key"), "left_anti"))
  }
}
