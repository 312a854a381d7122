package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** The broadcast-hint ALLOWLIST sweep — the round-15/16 lesson made
  * mechanical. Two rounds in a row, an ungated caller-proportional
  * `broadcast()` hint was found by a human reading call sites (round
  * 15: `ivfScored`'s query side; round 16: `bm25`'s query terms); this
  * spec makes the next one fail CI instead. It scans every `broadcast(`
  * call site in `src/main` (SOURCE scan, not plan scan — the subject is
  * the API surface, not the catalog's bounded inputs) and asserts each
  * against a frozen allowlist entry carrying its justification class:
  *
  *  - `sized-gate` — routed through [[graft.operators.Broadcasts]]'
  *    budget (or an equivalent runtime gate), with a forced override.
  *  - `bounded-aggregate` — the hinted side is an aggregate of bounded
  *    cardinality by construction (1-row totals, G-row group stats,
  *    band offsets, per-dim moments): no caller input can grow it.
  *  - `bounded-dim` — a reference dimension table (nation/region-class)
  *    whose size is a property of the data model, not of the call.
  *  - `non-equi-contract` — the join predicate is non-equi, so dropping
  *    the hint degrades to a cartesian, and the operator documents the
  *    bounded-side contract plus the scale alternative.
  *  - `bounded-contract` — a catalog/oracle companion whose hinted side
  *    is bounded by the query's own construction (planted slices).
  *  - `driver-value` — `sparkContext.broadcast` of a bounded driver
  *    value (centroid matrix, bloom filter), not a relation hint.
  *
  * A NEW unlisted hint fails with the classification question in the
  * error; a REMOVED site fails the dead-entry check so the list can
  * never rot into documentation fiction.
  */
class BroadcastHintSweepSpec extends AnyFunSuite {
  import SourceSites.Site

  private case class Entry(file: String, marker: String, cls: String,
                           why: String)

  /** `broadcast(` call sites, comments stripped, wrapped arguments
    * absorbed — the shared [[SourceSites]] scanner.
    */
  private val call = "(?<![A-Za-z0-9_])broadcast\\(".r

  private def sites(file: String, source: String): Seq[Site] =
    SourceSites.sites(file, source, call)

  private def scanTree(root: java.io.File): Seq[Site] =
    SourceSites.scanTree(root, call)

  /** THE FROZEN ALLOWLIST. Adding a `broadcast(` call site to src/main
    * means answering the classification question here — which of the
    * six classes is it, and why is the hinted side safe at 100 TB?
    */
  private val allow: Seq[Entry] = Seq(
    Entry("core/Tables.scala",
      "org.apache.spark.sql.functions.broadcast(touchedLocal),",
      "driver-value", "the touched-partition set of a partitioned " +
        "upsert, ALREADY collected to the driver (the r19 shape " +
        "collected it too, as the emptied probe) — partition-grain, " +
        "bounded by the documented driver-safe touched-partition count; " +
        "this arm only runs past MaxTouchedPredicateLiterals, where a " +
        "literal predicate would bloat the plan"),
    Entry("model/AuxDimsJob.scala", "broadcast(refs(refTable))",
      "bounded-dim", "reference dims (auxillary_dims.py parity): model-bounded"),
    Entry("operators/Broadcasts.scala", "broadcast(df) else df",
      "sized-gate", "the shared sized route itself"),
    Entry("operators/CorpusBudget.scala", "broadcast(keepBands)",
      "bounded-aggregate", "per-group kept-band offsets: G-row by construction"),
    Entry("operators/ImportanceWeights.scala", "broadcast(totals)",
      "bounded-aggregate", "1-row vocab/corpus totals"),
    Entry("operators/Keywords.scala", "broadcast(total)",
      "bounded-aggregate", "1-row corpus total"),
    Entry("operators/LanguageModel.scala", "broadcast(vocab)",
      "bounded-aggregate", "1-row vocabulary-size aggregate"),
    Entry("operators/NgramStats.scala", "broadcast(totals)",
      "bounded-aggregate", "1-row token totals (both divergence passes)"),
    Entry("operators/Prefix.scala", "broadcast(cuts)",
      "bounded-aggregate", "per-group cut thresholds: G-row"),
    Entry("operators/Prefix.scala", "broadcast(offsets)",
      "bounded-aggregate", "per-(group, band) running offsets: G×bands rows"),
    Entry("operators/Profiler.scala", "broadcast(bounds)",
      "bounded-aggregate", "1-row min/max bounds"),
    Entry("operators/Retrieval.scala", "case Some(true)  => broadcast(qt)",
      "sized-gate", "the forced arm of the bm25 query-terms route"),
    Entry("operators/Retrieval.scala",
      "Broadcasts.QueryBroadcastBudgetBytes) broadcast(qt)",
      "sized-gate", "the measured-payload arm of the same route (rows " +
        "and octet_length aggregated in one job)"),
    Entry("operators/Retrieval.scala", "crossJoin(broadcast(totals))",
      "bounded-aggregate", "1-row corpus totals (n_docs, sum_dl)"),
    Entry("operators/Similarity.scala", "col(\"vid\") =!= col(\"qid\")",
      "non-equi-contract", "bruteForceTopK: dropping the hint degrades to " +
        "a cartesian; bounded-query contract documented, ivfTopK is the " +
        "scale path"),
    Entry("operators/Similarity.scala", "sparkContext.broadcast(centroids)",
      "driver-value", "centroid matrix: C×dim doubles, KB-class"),
    Entry("operators/Similarity.scala", "if (viaBroadcast) broadcast(q) else q",
      "sized-gate", "the ivfScored probe-join route (round 16)"),
    Entry("operators/Similarity.scala", "col(\"vid\") =!= col(\"anchor\")",
      "non-equi-contract", "NegativesBruteForce: non-equi by contract, " +
        "NegativesIvf is the documented corpus-scale path"),
    Entry("operators/Splits.scala", "broadcast(totals)",
      "bounded-aggregate", "1-row temperature-mix totals"),
    Entry("operators/Splits.scala", "broadcast(thr)",
      "bounded-aggregate", "per-source thresholds: G-row"),
    Entry("operators/TextDedup.scala", "shingleIndex(bench",
      "bounded-contract", "ngramCollisions: the hinted side is the " +
        "benchmark suite's distinct hashes — benchmarks are small by " +
        "documented contract"),
    Entry("operators/TextDedup.scala", "sparkContext.broadcast(bloom)",
      "driver-value", "bloom filter blob: ~1.2 GB/10^9 docs, sized by fpp, " +
        "documented"),
    Entry("operators/TextDedup.scala", "broadcast(candidates.select",
      "sized-gate", "bloom verify join: runtime-gated by the candidate " +
        "fraction (broadcastable check), shuffled form past it"),
    Entry("operators/TextDedup.scala", "broadcast(dupDigests)",
      "sized-gate", "subset of the gated candidate slice"),
    Entry("operators/TextDedup.scala", "broadcast(dupIds)",
      "sized-gate", "subset of the gated candidate slice"),
    Entry("operators/VectorStats.scala", "broadcast(stats)",
      "bounded-aggregate", "per-dimension moments: dim rows"),
    Entry("queries/CoreQueries.scala", "broadcast(table(s, d, \"nation\"))",
      "bounded-dim", "TPC-H nation: 25 rows"),
    Entry("queries/CoreQueries.scala", "broadcast(table(s, d, \"region\"))",
      "bounded-dim", "TPC-H region: 5 rows"),
    Entry("queries/FlagshipQueries.scala", "broadcast(table(s, d, \"nation\"))",
      "bounded-dim", "TPC-H nation: 25 rows"),
    Entry("queries/FlagshipQueries.scala", "broadcast(table(s, d, \"region\"))",
      "bounded-dim", "TPC-H region: 5 rows"),
    Entry("queries/RetrievalQueries.scala", "crossJoin(broadcast(b))",
      "bounded-contract", "semd2's exact oracle companion: the planted " +
        "50-row batch"),
    Entry("queries/SketchStatQueries.scala", "broadcast(sk.select(col(\"grp\")",
      "bounded-aggregate", "theta sketch table: group-grain"),
    Entry("queries/StreamMiscQueries.scala", "broadcast(table(s, d, \"region\"))",
      "bounded-dim", "TPC-H region: 5 rows"),
    Entry("queries/StreamMiscQueries.scala", "orders.agg(countDistinct",
      "bounded-aggregate", "ag2's 1-row exact-distinct companion"),
    Entry("queries/TrainPrepQueries.scala", "crossJoin(broadcast(sk))",
      "bounded-aggregate", "capacity-512 heavy-hitters sketch: 1 row"),
    Entry("queries/TrainPrepQueries.scala", "broadcast(block)",
      "bounded-dim", "ct2's hand-built 2-row blocklist"),
  )

  private def question(s: Site): String =
    s"UNLISTED broadcast hint at ${s.file}:${s.line} — `${s.text}`. " +
      "Classify it in BroadcastHintSweepSpec.allow: is the hinted side " +
      "sized-gate / bounded-aggregate / bounded-dim / non-equi-contract / " +
      "bounded-contract / driver-value, and why is it safe at 100 TB? " +
      "If it is caller-proportional and equi-joined, route it through " +
      "Broadcasts.sizedBroadcast instead."

  test("every broadcast( call site in src/main carries an allowlist " +
      "classification, and no allowlist entry is dead") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"expected source root at ${root.getAbsolutePath}")
    val found = scanTree(root)
    assert(found.nonEmpty, "scanner found zero sites — scanner broken")
    val unlisted = found.filterNot(s =>
      allow.exists(a => a.file == s.file && s.text.contains(a.marker)))
    assert(unlisted.isEmpty,
      unlisted.map(question).mkString("\n"))
    val dead = allow.filterNot(a =>
      found.exists(s => s.file == a.file && s.text.contains(a.marker)))
    assert(dead.isEmpty,
      "dead allowlist entries (site removed or reworded — update the " +
        "list so it cannot rot): " +
        dead.map(a => s"${a.file} `${a.marker}`").mkString("; "))
  }

  test("a planted unlisted hint trips the sweep with the " +
      "classification question") {
    val planted = sites("operators/Planted.scala",
      """object Planted {
        |  // a comment mentioning broadcast(x) must not count
        |  /* nor broadcast(y) in a block */
        |  def f(df: DataFrame, huge: DataFrame) =
        |    df.join(broadcast(huge), "k")
        |}""".stripMargin)
    assert(planted.map(_.line) == Seq(5), s"expected the one real site: $planted")
    val unlisted = planted.filterNot(s =>
      allow.exists(a => a.file == s.file && s.text.contains(a.marker)))
    assert(unlisted.length == 1)
    assert(question(unlisted.head).contains("Classify it"))
  }

  test("the scanner sees through wrapped arguments and skips " +
      "sizedBroadcast's own name") {
    val s = sites("operators/Wrapped.scala",
      """val a = x.join(broadcast(
        |  someIndex(bench).select(col("sh")).distinct()), "sh")
        |val b = Broadcasts.sizedBroadcast(df, n, 32L)""".stripMargin)
    assert(s.length == 1)
    assert(s.head.text.contains("someIndex(bench)"),
      s"wrapped argument must be absorbed: ${s.head.text}")
  }
}
