package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.Platform

/** Static array-kernel helpers for the similarity expressions'
  * generated code (optimization round 21, guide §1.2 "per-task work").
  *
  * Why: round 20's A/B attribution showed the pair kernels are bound by
  * per-ELEMENT `ArrayData` access — an interleaved
  * `isNullAt(i) || getDouble(i)` pair of virtual calls per element per
  * side — not by FLOPs (join-only 0.31 s vs +kernel 0.91 s on the sim5
  * pair stage at dim 64). For [[UnsafeArrayData]] — what every
  * post-exchange row hands the kernel — both costs collapse:
  *
  *  - [[anyNull]] reads the null BITMAP a word at a time (64 elements
  *    per 8-byte load, the last word masked to the element count), so
  *    the null scan is ~n/64 loads instead of n virtual calls;
  *  - [[dot]] walks the contiguous primitive region with direct offset
  *    arithmetic (`Platform.getDouble`), no per-element bounds or null
  *    branches in the multiply loop.
  *
  * Bit-exactness: [[dot]] accumulates the SAME strict ascending-index
  * left fold as the per-element loop it replaces (no reassociation, no
  * pairwise splitting), so results are bit-identical on every input —
  * DotProductSpec pins this against the declarative `Similarity.dot`
  * reference. The null-scan-then-multiply split changes no observable
  * value either: any null element nulls the result in both shapes.
  *
  * Layout dependence: the UnsafeArrayData format — `[numElements:
  * long][null bits: ceil(n/64) longs][values]`, header length =
  * `calculateHeaderPortionInBytes(n)` — is the public on-wire format of
  * UnsafeRow arrays (the class exposes `getBaseObject`/`getBaseOffset`/
  * `calculateHeaderPortionInBytes` exactly so engines can do this).
  * Non-Unsafe implementations (ColumnarArray at a scan, GenericArrayData
  * from interpreted constructors) take the generic per-element path,
  * unchanged from round 20.
  */
object VectorKernel {

  /** True iff any element of `u` is null — the null BITMAP scanned a
    * word at a time. TYPED on [[UnsafeArrayData]] (r21 fix): the first
    * r21 cut dispatched on `ArrayData` inside this helper, which made
    * one shared call site for every kernel in the catalog — the brute
    * pair paths (d5/ctr1/ctr2/d5b) feed GENERIC arrays (a projection's
    * `GenericArrayData` on the streamed join side, never exchanged), so
    * the shared site went megamorphic and those queries regressed
    * 1.12-1.32× in a same-window A/B while the post-exchange Unsafe
    * paths improved. The generated code now does the instanceof split
    * ITSELF and keeps the generic arm as the r20 inline loop
    * (monomorphic per query); these typed entry points only ever see
    * UnsafeArrayData.
    */
  def anyNull(u: UnsafeArrayData): Boolean = {
    val base = u.getBaseObject
    var off = u.getBaseOffset + 8L
    var rem = u.numElements()
    while (rem >= 64) {
      if (Platform.getLong(base, off) != 0L) return true
      off += 8L
      rem -= 64
    }
    // mask the tail word to the live element count: bits past
    // numElements are unspecified scratch, not null flags
    rem > 0 && (Platform.getLong(base, off) & ((1L << rem) - 1L)) != 0L
  }

  /** [[ArrayData]] convenience for the INTERPRETED path only
    * (`DotProduct.nullSafeEval`); generated code never calls this.
    */
  def anyNull(a: ArrayData): Boolean = a match {
    case u: UnsafeArrayData => anyNull(u)
    case other =>
      val n = other.numElements()
      var i = 0
      while (i < n) {
        if (other.isNullAt(i)) return true
        i += 1
      }
      false
  }

  /** Σ aᵢ·bᵢ over equal-length, null-free double arrays (the caller —
    * [[DotProduct]]'s generated code — checks both preconditions):
    * direct offset walks over both primitive regions. Same strict
    * ascending-index left fold as the generic loop: bit-identical.
    */
  def dot(x: UnsafeArrayData, y: UnsafeArrayData): Double = {
    val n = x.numElements()
    val xb = x.getBaseObject
    val yb = y.getBaseObject
    var xo = x.getBaseOffset + UnsafeArrayData.calculateHeaderPortionInBytes(n)
    var yo = y.getBaseOffset + UnsafeArrayData.calculateHeaderPortionInBytes(n)
    var d = 0.0
    var i = 0
    while (i < n) {
      d += Platform.getDouble(xb, xo) * Platform.getDouble(yb, yo)
      xo += 8L
      yo += 8L
      i += 1
    }
    d
  }

  /** [[ArrayData]] convenience for the INTERPRETED path only. */
  def dot(a: ArrayData, b: ArrayData): Double = (a, b) match {
    case (x: UnsafeArrayData, y: UnsafeArrayData) => dot(x, y)
    case _ =>
      val n = a.numElements()
      var d = 0.0
      var i = 0
      while (i < n) {
        d += a.getDouble(i) * b.getDouble(i)
        i += 1
      }
      d
  }
}
