package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{aggregate, lit, sqrt, zip_with}

/** The declarative cosine parts the native kernel
  * ([[graft.functions.DotProduct]], through [[Similarity.cosine]] and
  * [[Similarity.l2NormNative]]) is pinned against bit for bit:
  * `dot(a,b) / (l2Norm(a) · l2Norm(b))`. Spark's higher-order array
  * functions evaluate interpreted per element, so no query uses them.
  */
object CosineReference {

  /** Σ aᵢ·bᵢ as a strict left fold, the kernel's accumulation order. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** ‖v‖ = `sqrt(dot(v, v))`. */
  def l2Norm(v: Column): Column = sqrt(dot(v, v))
}
