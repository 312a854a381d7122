package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The SHARED broadcast-routing home — every caller-proportional
  * broadcast hint in the library routes through here (round 16 built the
  * gate inside [[Similarity]] for the IVF probe join; round 17 promotes
  * it because [[Retrieval.bm25TopK]]'s query-terms side is the same
  * shape with the same cure, and the next operator with a
  * caller-proportional side will be too).
  *
  * WHAT QUALIFIES FOR A ROUTE: a join side whose cardinality is
  * proportional to CALLER input (a query slice, an anchor set, a query
  * term list) — bounded in every catalog entry, unbounded in the API
  * contract. Sides that are bounded BY CONSTRUCTION (1-row totals, G-row
  * group aggregates, band offsets, per-dim stats) keep their plain
  * `broadcast()` hints; sides under a non-equi join keep theirs by
  * documented contract (dropping the hint degrades to a cartesian).
  * The `BroadcastHintSweepSpec` allowlist enforces that classification
  * over every `broadcast(` call site in `src/main`.
  */
object Broadcasts {

  /** Conservative budget for a caller-proportional broadcast side:
    * estimated hashed-relation payload (rows × bytes/row, estimated
    * generously) at or under this broadcasts; over it takes the shuffled
    * equi-join. 64 MiB — comfortably inside a default executor's memory
    * with the usual multi-task headroom, far above every bounded slice
    * the catalog or a top-k caller ships (a 100k-query batch at dim 64,
    * nProbe 2 is ~7 MiB), and far below the corpus-as-queries shapes
    * that must never broadcast. `private[graft]` so the plan specs pin
    * the routing against the same constant the routes read.
    *
    * WHY THE AUTO DEFAULT ERRS LOW — the failure modes are asymmetric.
    * Past the budget the two shapes fail differently: an oversized
    * broadcast OOMs executors (fatal, and invisible until the cluster
    * is large enough to matter), while an unnecessary equi-join merely
    * pays the big side's exchange (slow, completes, shows up in any
    * profile). An auto default must take the non-fatal side of every
    * uncertain call. The cost of that conservatism is real and known:
    * for a MID-SIZE caller side (say 100k–10M rows) against a HUGE
    * corpus, the broadcast's cluster value is that the corpus NEVER
    * SHUFFLES — a premium a local probe cannot see (local exchanges are
    * in-memory copies; SCALE_SF1.md §Round-16 records the equi-join
    * FASTER locally from the 64k tier up because the corpus shuffle
    * costs nothing there). A caller who knows their executor headroom
    * and sits in that regime should force the broadcast through the
    * operator's `broadcast*` override — the informed override is the
    * designed escape, not a workaround.
    */
  private[graft] val QueryBroadcastBudgetBytes: Long = 64L << 20

  /** The route-gate predicate shared by every sized broadcast:
    * estimated hashed-relation payload vs the budget. Division, not
    * multiplication: a proven-bound caller can legally hand in a huge
    * row cap (a giant `range`'s maxRows), and `rows * bytesPerRow`
    * overflowing negative would pass the gate on exactly the side that
    * must never broadcast.
    */
  private[graft] def fitsBudget(rows: Long, bytesPerRow: Long): Boolean =
    rows <= QueryBroadcastBudgetBytes / bytesPerRow

  /** `broadcast(df)` iff `rows × bytesPerRow` fits
    * [[QueryBroadcastBudgetBytes]]; the bare frame otherwise, so an
    * equi-join consumer shuffles on its key instead of OOMing an
    * executor. For sides that are spec-bounded IN PRACTICE but not by
    * construction — the [[Similarity]] probe-join route gate, the
    * [[Retrieval.bm25TopK]] query-terms gate, reusable.
    */
  private[graft] def sizedBroadcast(df: DataFrame, rows: Long,
                                    bytesPerRow: Long): DataFrame =
    if (fitsBudget(rows, bytesPerRow)) broadcast(df) else df

  /** A row upper bound Catalyst can PROVE for this frame, when it can
    * (`LogicalPlan.maxRows`: defined through limits, ranges, local
    * relations, and preserved by projects/filters/aggregates; `None`
    * past generators and joins). The auto routes consult this BEFORE
    * paying their eager `count()`: a proven bound at or under the
    * budget makes the broadcast safe with NO job at plan-construction
    * time — the common loop-caller shapes (`.limit(n)` slices,
    * range-generated batches) stay fully lazy on the default route.
    *
    * Deliberately NOT `stats.rowCount`: without CBO that is rarely set,
    * and WITH CBO it is an ESTIMATE that can undershoot (a selectivity
    * guess), which on this asymmetric decision would turn "estimate was
    * off" into an executor OOM. `maxRows` is a contract upper bound —
    * it can only err toward the shuffle, the non-fatal side.
    */
  private[graft] def provenMaxRows(df: DataFrame): Option[Long] =
    df.queryExecution.optimizedPlan.maxRows

}
