package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Composed-built-in vector math: the reference the native `vec_dot`
  * expression is checked against. */
object SimilarityReference {

  /** Sequential fold-left dot product. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, z) => acc + z)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
}
