package graft.core

/** Crash-injection seam for the index publish path
  * ([[IndexTables.publish]], which every bucketed index saver — LSH,
  * IVF, semantic, BM25 postings — calls).
  *
  * A multi-table index is published through a fixed sequence of
  * DDL/write steps whose ORDER is the crash-safety argument: the
  * completeness marker (the table every load reads or validates first)
  * is dropped FIRST and written LAST, so a crash between any two steps
  * leaves either the previous complete index untouched or a prefix
  * state every load refuses loudly — never a readable mix of two
  * builds. Until round 19 that discipline lived in scaladoc and code
  * order alone, and the round-18 `_meta` role-swap showed the ordering
  * CAN move during a refactor; `IndexCrashPropertySpec` now pins it
  * mechanically by injecting a crash before every step and asserting
  * the load outcome, and `IndexTablesSpec` keeps every saver on the
  * one publish path.
  *
  * [[IndexTables.publish]] calls [[step]] once before each mutating
  * operation (DDL drop or table write — reads and validations are not
  * steps). Production cost: one volatile read per call, a handful per
  * build. Tests install a hook that counts and/or throws at a chosen
  * step; the label names the index family and operation for failure
  * messages. Hooks are test-only by contract: nothing in `src/main`
  * ever sets one.
  */
object BuildSteps {
  @volatile private[graft] var hook: String => Unit = _ => ()

  /** Called by the publish path immediately BEFORE each mutating step.
    * A hook that throws simulates a crash with steps `0..n-1` applied
    * and step `n` (plus everything after) lost.
    */
  private[graft] def step(label: String): Unit = hook(label)
}
