package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Shared plan-walking for the catalog sweep invariants: every parquet/orc
  * scan in a query's physical plan — recursing through AQE wrappers,
  * subqueries, and CACHED segments (`InMemoryTableScanExec` holds its
  * plan in `relation.cachedPlan`, not a child, so a naive collect misses
  * every scan and shuffle inside a persisted fragment) — with the column
  * set the scan actually reads.
  *
  * Known blind spot, by construction: a checkpoint (`localCheckpoint` in
  * the DedupClusters iteration) truncates lineage to an RDD scan leaf, so
  * work BEFORE the checkpoint is invisible to any plan walk — dc1's
  * shuffle budget is 0 for exactly this reason. Checkpointed operators
  * carry their own operator-level specs instead.
  */
object ScanPruning {

  /** The columns that ARE the data at 100 TB: document bodies, embedding
    * vectors, raw event payloads. Reading one of these from a scan that
    * doesn't need it turns a metadata-class query into a full-corpus read.
    */
  val heavyColumns: Set[String] = Set("text", "embedding", "props")

  /** All V1 file scans under `p`, recursing into AQE-wrapped subplans,
    * subqueries (scalar subqueries hide broadcast-side scans), and cached
    * in-memory relations.
    */
  def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    p.collectWithSubqueries {
      case s: FileSourceScanExec => Seq(s)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case c: InMemoryTableScanExec => scans(c.relation.cachedPlan)
    }.flatten

  /** The heavy columns `name`'s plan reads, with the scan's source path
    * basename for the audit trail: e.g. `text@documents.parquet`.
    */
  def heavyReads(plan: SparkPlan): Seq[String] =
    scans(plan).flatMap { s =>
      val src = s.relation.location.rootPaths.headOption
        .map(_.getName).getOrElse("?")
      s.requiredSchema.fieldNames.filter(heavyColumns).map(c => s"$c@$src")
    }.distinct.sorted

  /** Every node of `p`, recursing through AQE wrappers, subqueries, and
    * cached segments — the traversal [[scans]]/[[shuffleCount]] do, kept
    * as a reusable walk for expression-level sweeps.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] =
    p.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case c: InMemoryTableScanExec => c +: nodes(c.relation.cachedPlan)
      case n => Seq(n)
    }.flatten

  /** Expressions whose per-row evaluation is the operator's dominant cost:
    * Scala UDFs and the library's native Catalyst expressions (ngram
    * counts, shingle hashes, cosine, theta estimates, ... — exactly as
    * expensive per row as the UDFs they replaced, so a plan-level repeat
    * of one is the same defect in codegen'd clothing).
    */
  def costly(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF] ||
      e.getClass.getName.startsWith("graft.")

  /** `IsNotNull(<costly expr>)` predicates anywhere in the plan. These
    * are almost never user-written: they appear when a NULLABLE costly
    * output becomes a join/agg key and Catalyst's constraint propagation
    * pushes the key's not-null requirement back through the alias —
    * re-evaluating the expression as a data filter at the scan, i.e. a
    * silent 2-3× repeat of exactly the per-row work the operator is made
    * of (observed: d3b's fingerprint UDFs ran 3× per row). An expression
    * that never returns null must say so (`.asNonNullable()` /
    * `nullable = false`); one that can must be compared through a
    * non-nullable sentinel or materialized before keying on it.
    */
  def udfNullRefilters(p: SparkPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.IsNotNull
    nodes(p).flatMap { n =>
      n.expressions.flatMap(_.collect {
        case e: IsNotNull if e.exists(costly) =>
          s"${n.nodeName}: ${e.toString.take(160)}"
      })
    }.distinct
  }

  /** Total [[costly]]-expression occurrences across every node's
    * expression trees — the count whose unexplained growth IS the
    * duplication defect class the refilter sweep catches one shape of
    * (d3b's plan carried 12 fingerprint-UDF references instead of 4).
    * Counted per plan-node occurrence: the same UDF cloned into a pushed
    * predicate, a join condition, and a project each add 1, because each
    * is a separate potential per-row evaluation (codegen CSE reclaims
    * same-stage repeats, but nothing reclaims a cross-stage clone).
    *
    * Counting caveat: a CACHED fragment consumed by k branches is walked
    * k times (once per `InMemoryTableScanExec` occurrence), so its
    * expressions contribute k× even though the cache materializes them
    * once — il2's bloom-probe UDF reads ×2 for this reason. The walk is
    * deterministic, so the frozen budget absorbs it; it is a counting
    * convention, not a runtime repeat.
    */
  def costlyExprRefs(p: SparkPlan): Int =
    nodes(p).iterator.flatMap(_.expressions).map { root =>
      var c = 0
      root.foreach(e => if (costly(e)) c += 1)
      c
    }.sum

  /** Diagnostic companion to [[costlyExprRefs]]: canonicalized costly
    * subtrees that occur more than once across the plan, with their
    * occurrence counts — the candidates for an actual per-row repeat.
    * exprId canonicalization collides structurally identical expressions
    * over DIFFERENT inputs (both sides of a self-join), so a listed
    * duplicate is a lead to read, not a verdict.
    */
  def costlyExprDups(p: SparkPlan): Seq[(String, Int)] =
    nodes(p).iterator.flatMap(_.expressions)
      .flatMap { root =>
        val hits = scala.collection.mutable.Buffer
          .empty[org.apache.spark.sql.catalyst.expressions.Expression]
        root.foreach(e => if (costly(e)) hits += e)
        hits
      }
      .toSeq.groupBy(_.canonicalized.toString)
      .collect { case (k, vs) if vs.size > 1 => (k.take(100), vs.size) }
      .toSeq.sortBy(-_._2)

  /** Shuffle-exchange count of the (initial, pre-AQE) physical plan,
    * recursing through AQE wrappers, subqueries, and cached segments.
    * Broadcast exchanges are NOT counted — a broadcast is the cheap
    * alternative a shuffle budget exists to protect.
    */
  def shuffleCount(p: SparkPlan): Int =
    p.collectWithSubqueries {
      // collect recurses into matched nodes' children, so each exchange
      // contributes exactly 1; AQE wrappers and cached scans are leaves
      // whose inner plan must be walked explicitly
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => 1
      case a: AdaptiveSparkPlanExec => shuffleCount(a.executedPlan)
      case c: InMemoryTableScanExec => shuffleCount(c.relation.cachedPlan)
    }.sum
}

/** ONE catalog-wide planning pass shared by the plan-sweep suites
  * ([[JoinShapeSpec]], [[ScanPruningSpec]], [[ShuffleBudgetSpec]],
  * [[UdfRefilterSpec]], [[ExprRefBudgetSpec]]) — query construction is
  * not free (compute-if-absent state builds, eager table writes), so each
  * suite re-planning all 175 entries would run the eager catalog once
  * more per test JVM. The pass is also what the audit
  * mains use, so gate and generator always plan under the SAME session
  * config — a budget regenerated by the audit is reproducible by the spec
  * by construction.
  */
object CatalogPlans {

  val defaultSf = "/root/testdata/sf0.001"

  /** Plan every catalog query matching `only` (None = all) against `dir`,
    * recording per query whether its CONSTRUCTION left entries in the
    * CacheManager (the [[CacheLeakSpec]] signal — `persist()` registers
    * eagerly, so this is a plan-time check). The cache is cleared before
    * each construction: CacheManager plan substitution from a previously-
    * constructed query (rf1 caches during construction) would otherwise
    * swap cached fragments into later plans, making scan/shuffle counts
    * dependent on sweep order — and the leak flag would smear across
    * queries.
    */
  def computeDetailed(spark: SparkSession, dir: String,
                      only: Option[Set[String]] = None)
      : Seq[(String, SparkPlan, Boolean)] =
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (n, q) =>
        spark.catalog.clearCache()
        val plan = q(spark, dir).queryExecution.executedPlan
        (n, plan,
          !org.apache.spark.sql.graftbridge.SpecBridge.cacheIsEmpty(spark))
      }

  def compute(spark: SparkSession, dir: String,
              only: Option[Set[String]] = None): Seq[(String, SparkPlan)] =
    computeDetailed(spark, dir, only).map { case (n, p, _) => (n, p) }

  /** The shared full-catalog pass at the spec tier, computed once per
    * test JVM under the suites' shared session.
    */
  lazy val executedPlansDetailed: Seq[(String, SparkPlan, Boolean)] =
    computeDetailed(graft.SparkSpec.session, defaultSf)

  lazy val executedPlans: Seq[(String, SparkPlan)] =
    executedPlansDetailed.map { case (n, p, _) => (n, p) }
}

/** One-off audit: print, for every catalog query, which heavy columns its
  * scans read and from where — the population from which ScanPruningSpec's
  * allowlist was built. Plans under the SAME session and tier as the spec
  * (override the tier with an optional dir arg, restrict with an optional
  * comma-separated query filter):
  * `Test/runMain graft.queries.ScanPruningAudit [sfDir] [q1,q2]`.
  */
object ScanPruningAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkSpec.session
    val d = args.headOption.getOrElse(CatalogPlans.defaultSf)
    val only = args.lift(1).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    CatalogPlans.compute(spark, d, only).foreach { case (name, plan) =>
      val reads =
        try ScanPruning.heavyReads(plan)
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"$name ERR ${e.getMessage}"); Seq.empty }
      if (reads.nonEmpty) println(s"$name -> ${reads.mkString(", ")}")
    }
    spark.stop()
  }
}

/** One-off audit: print, for every catalog query, its costly-expression
  * reference count ([[ScanPruning.costlyExprRefs]]) as a paste-ready map
  * literal — the population from which [[ExprRefBudgetSpec]]'s budget was
  * built. Same session/tier contract as [[ScanPruningAudit]]:
  * `Test/runMain graft.queries.CostlyExprAudit [sfDir] [q1,q2]`.
  */
object CostlyExprAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkSpec.session
    val d = args.headOption.getOrElse(CatalogPlans.defaultSf)
    val only = args.lift(1).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    CatalogPlans.compute(spark, d, only).foreach { case (name, plan) =>
      // both walks under the same guard: a plan that breaks the count
      // walk breaks the dup walk identically, and the audit's contract
      // is one flagged -1 line, never a truncated table
      val (n, dups) =
        try (ScanPruning.costlyExprRefs(plan), ScanPruning.costlyExprDups(plan))
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"$name ERR ${e.getMessage}"); (-1, Nil) }
      println(s"""    "$name" -> $n,""")
      dups.foreach { case (expr, c) => println(s"    //   dup x$c: $expr") }
    }
    spark.stop()
  }
}
