package graft.core

import org.apache.spark.sql.SparkSession

/** Small-file compaction for managed tables — the table-maintenance
  * operation every long-running lakehouse pipeline needs: streaming /
  * incremental appends accumulate small files until scan task scheduling
  * and footer reads dominate; compaction rewrites the table into
  * row-budgeted files.
  *
  * Crash safety: the rewrite stages into a `__compact` sibling table; the
  * swap is rename-rename-drop, so a CRASH at any point loses no data — a
  * failure before the swap leaves the original untouched, and a failure
  * mid-swap leaves the full table under `__old` and/or `__compact`
  * (self-healed on the next run, with a content check before anything is
  * dropped). The swap itself is two catalog renames — a Hive-style catalog
  * has no atomic multi-table commit, so a reader racing the swap can miss
  * the name for the duration of the first rename plus ONE verification
  * scan of the renamed original (the staged copy is summarized before the
  * swap — it is immutable once written — so only the `__old` count sits
  * inside the window). Table formats with a transaction log make the
  * window disappear; this is the portable form.
  *
  * Writer safety: callers MUST quiesce writers for the duration — rows
  * appended to `fqn` while the rewrite runs are not in the staged copy.
  * As a guard, the swap compares the renamed original against the staged
  * copy on (row count, content fingerprint) and ABORTS (restoring the
  * original, raising IllegalStateException) on mismatch. The fingerprint
  * is an order-independent sum of per-row hashes, so same-cardinality
  * mutations (an UPDATE/overwrite, or a balanced append+delete) are
  * detected too, not just count changes. The guard is detection, not a
  * lock: a write that lands between the verification scan and the final
  * DROP is still lost — quiescing writers is the contract.
  *
  * At cluster scale the same pattern runs per partition —
  * [[compactPartitions]] compacts only selected partitions and leaves
  * every other partition's files byte-untouched.
  */
object Compaction {

  // Same identifier rule as TableStore.ident; names are interpolated into
  // SQL, so reject anything that isn't a plain word before quoting it.
  private def quoted(fqn: String): String = {
    val parts = fqn.split('.')
    parts.foreach(p => require(p.matches("[A-Za-z0-9_]+"),
      s"invalid table identifier part '$p' in '$fqn' ([A-Za-z0-9_]+)"))
    parts.map(p => s"`$p`").mkString(".")
  }

  /** True if a MapType occurs anywhere in the (possibly nested) type —
    * Spark's hash expressions reject maps (element order is undefined),
    * so such tables fall back to the cardinality-only guard.
    */
  private def containsMap(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: MapType    => true
      case s: StructType => s.fields.exists(f => containsMap(f.dataType))
      case a: ArrayType  => containsMap(a.elementType)
      case _             => false
    }
  }

  /** Result of [[contentSummaryOf]]: row count, order-independent content
    * fingerprint, and whether the fingerprint actually PROVES content
    * (`proven = false` means the schema degraded it to cardinality only —
    * equality of two unproven summaries says the counts match, nothing
    * about the bytes). Race guards compare summaries for equality either
    * way (the degraded form is the documented cardinality-only guard);
    * the self-heal auto-DROP additionally demands `proven` (ADVICE r18:
    * two map-schema tables with equal nonzero counts but different
    * content compared "equal" and slipped past the positive-proof rule).
    */
  private[core] final case class Summary(rows: Long,
                                         fingerprint: BigDecimal,
                                         proven: Boolean)

  /** Content summary of a table in one scan: the fingerprint sums
    * xxhash64 over all columns per row as DECIMAL(38,0) (overflow-free,
    * reduction-order-independent), so two tables agree iff they hold the
    * same row multiset up to 64-bit hash collisions. Tables with
    * map-typed columns (which Spark's hash expressions reject) degrade
    * to (count, 0, proven = false) — the guard then detects cardinality
    * changes only, as the pre-fingerprint code did for all tables.
    */
  private[core] def contentSummary(spark: SparkSession,
                                   tbl: String): Summary =
    contentSummaryOf(spark.table(tbl))

  private[core] def contentSummaryOf(
      df: org.apache.spark.sql.DataFrame): Summary = {
    import org.apache.spark.sql.functions._
    if (df.schema.fields.exists(f => containsMap(f.dataType))) {
      Summary(df.count(), BigDecimal(0), proven = false)
    } else {
      // backtick-quote names: a bare col("a.b") would parse as nested-field
      // access and abort compaction on tables with dotted column names
      val cols = df.columns.toIndexedSeq
        .map(n => col(s"`${n.replace("`", "``")}`"))
      // decimal_sum128 over the raw hash longs (r20, guide §1.2): the
      // former sum over decimal(38,0) casts left Decimal's compact-long
      // path after TWO rows — every remaining row of every fingerprint
      // pass (compaction verifies, upsert race guards) paid a BigDecimal
      // add. Same exact value, same DECIMAL(38,0) result, primitive-long
      // accumulation; the hash is pre-projected so the aggregate's child
      // is one column read (stat1's child-hoisting finding).
      val row = df
        .select(xxhash64(struct(cols: _*)).as("_fp_h"))
        .agg(count(lit(1)),
          graft.functions.DecimalSum128.decimalSum128(col("_fp_h"))).head()
      Summary(row.getLong(0),
        if (row.isNullAt(1)) BigDecimal(0) else BigDecimal(row.getDecimal(1)),
        proven = true)
    }
  }

  /** Rewrite `fqn` into ceil(rows/targetRows) files.
    * Returns (filesBefore, filesAfter).
    *
    * PLAIN (unpartitioned, unbucketed) tables only — refused loudly
    * otherwise, mirroring upsert's layout guards: the staged rewrite is
    * written without a layout, so on a partitioned table it would
    * silently FLATTEN the partitioning cp2-style consumers prune on (use
    * [[compactPartitions]], which preserves the layout and rewrites only
    * the selected slice), and on a bucketed table it would drop the
    * bucketing (rewrite via `TableStore.saveBucketed`). The failure is
    * not hypothetical: under the in-memory catalog the rename swap also
    * loses a partitioned table's per-partition locations, so the race
    * guard reads 0 rows and aborts EVERY such call — found by the
    * random-sequence table fuzzer (`TableModelPropertySpec`), whose
    * upsert→compact compositions hit the partitioned target the
    * per-transition specs never aimed at compactTable.
    *
    * `beforeSwap` is a test seam: runs after staging, before the swap —
    * the window where a concurrent write must trip the abort guard.
    *
    * `serializeWriters = true` takes the per-table [[WriterLease]] (the
    * same marker upsert contends on) for the stage+swap, so a cooperating
    * upsert or second compaction queues instead of tripping the guard;
    * `lease` tunes the 60 s default queue bound for slow compactions.
    */
  def compactTable(spark: SparkSession, fqn: String, targetRows: Long,
                   beforeSwap: () => Unit = () => (),
                   serializeWriters: Boolean = false,
                   lease: WriterLease.Lease = WriterLease.Lease()): (Int, Int) =
    if (serializeWriters)
      WriterLease.withLock(spark, fqn, lease)(
        compactTableImpl(spark, fqn, targetRows, beforeSwap))
    else compactTableImpl(spark, fqn, targetRows, beforeSwap)

  private def compactTableImpl(spark: SparkSession, fqn: String,
                               targetRows: Long,
                               beforeSwap: () => Unit): (Int, Int) = {
    require(targetRows > 0, s"targetRows must be positive: $targetRows")
    val old = s"${fqn}__old"
    val tmp = s"${fqn}__compact"
    val (qFqn, qOld, qTmp) = (quoted(fqn), quoted(old), quoted(tmp))
    // after the identifier validation (the injection guard comes before
    // any catalog lookup), before any mutation
    requireNoPendingPublish(spark, fqn)
    // Self-heal a previous run that died mid-swap: if fqn is gone the crash
    // was between the two renames — rename the complete copy back. If BOTH
    // survive, normally only the final DROP was missed (fqn = the compacted
    // copy) — but a non-quiesced writer may have RE-CREATED fqn (append-mode
    // saveAsTable creates missing tables) after the first rename, making
    // `__old` the only complete copy; dropping it then would be silent data
    // loss. So `__old` is dropped only when fqn provably holds the same
    // content; otherwise fail loudly for manual resolution.
    if (spark.catalog.tableExists(old)) {
      if (!spark.catalog.tableExists(fqn)) {
        spark.sql(s"ALTER TABLE $qOld RENAME TO $qFqn")
      } else {
        // The automatic DROP needs POSITIVE proof of identical content.
        // Two summaries that are both (0, 0) are not proof: a renamed
        // partitioned table can read as 0 rows under the in-memory
        // catalog (stranded per-partition locations — the same failure
        // the partitioned-target refusal below exists for), so two
        // unreadable tables compare "equal" while __old may be the only
        // complete copy a pre-guard crashed run left. Same reasoning
        // when __old is partitioned outright: its summary is untrustworthy
        // regardless of what it reads, so never auto-drop it.
        val sFqn = contentSummary(spark, fqn)
        val sOld = contentSummary(spark, old)
        val oldPartitioned =
          spark.catalog.listColumns(old).collect().exists(_.isPartition)
        if (sFqn == sOld && sFqn.proven && sFqn.rows > 0L && !oldPartitioned) {
          spark.sql(s"DROP TABLE $qOld")
        } else if (sFqn == sOld) {
          throw new IllegalStateException(
            s"compactTable self-heal refused: cannot PROVE '$old' and " +
              s"'$fqn' hold the same content — " +
              (if (oldPartitioned)
                s"'$old' is partitioned, and a renamed partitioned table's " +
                  "summary is unreliable under an in-memory catalog"
              else if (!sFqn.proven)
                "map-typed columns degrade the fingerprint to a row count, " +
                  "and equal counts are not content proof"
              else
                "both read as 0 rows, which is also what a rename-stranded " +
                  "partitioned table reports") +
              s"; reconcile manually (keep one of '$fqn' / '$old', drop " +
              "the other) and retry")
        } else {
          throw new IllegalStateException(
            s"compactTable self-heal refused: '$old' and '$fqn' differ — a " +
              "writer raced a previous crashed run; reconcile manually (keep " +
              s"one of '$fqn' / '$old', drop the other) and retry")
        }
      }
    }
    // deliberately AFTER the self-heal: a crashed run's __old must be
    // renamed back before refusing — the rename-back re-aligns the
    // in-memory catalog's partition locations with the restored data dir
    // (the same A→B→A round trip the abort path relies on), so the
    // refusal below leaves a READABLE table under its own name rather
    // than a stranded __old
    val layoutCols = spark.catalog.listColumns(fqn).collect()
    // bucketing checked FIRST: for a table that is partitioned AND
    // bucketed, a partition-first refusal would direct the caller to
    // compactPartitions — whose dynamic-overwrite publish does not
    // preserve bucketing (it refuses such targets too) — so the advice
    // would dead-end; the bucket message names both layout facts instead
    require(!layoutCols.exists(_.isBucket),
      s"compactTable would drop the bucketing of '$fqn' (bucketed on " +
        s"${layoutCols.filter(_.isBucket).map(_.name).mkString(", ")}" +
        (if (layoutCols.exists(_.isPartition))
          s", also partitioned on " +
            s"${layoutCols.filter(_.isPartition).map(_.name).mkString(", ")}" +
            "; compactPartitions does not preserve bucketing either"
        else "") +
        ") — rewrite via a layout-preserving saveBucketed instead")
    require(!layoutCols.exists(_.isPartition),
      s"compactTable stages an UNPARTITIONED rewrite; '$fqn' is " +
        s"partitioned on " +
        s"${layoutCols.filter(_.isPartition).map(_.name).mkString(", ")} — " +
        "use compactPartitions(fqn, <partition predicate>, targetRows), " +
        "which preserves the layout and rewrites only the selected slice")
    val before = spark.table(fqn).inputFiles.length
    val rows = spark.table(fqn).count()
    val nOut = math.max(1L, (rows + targetRows - 1) / targetRows).toInt
    spark.table(fqn).repartition(nOut)
      .write.mode("overwrite").format("parquet").saveAsTable(tmp)
    // Summarize the staged copy BEFORE the swap — it is immutable once
    // written, so this scan sits outside the reader-miss window.
    val staged = contentSummary(spark, tmp)
    beforeSwap()
    // rename-rename-drop: every intermediate state keeps one complete
    // copy of the data reachable by SOME name
    spark.sql(s"ALTER TABLE $qFqn RENAME TO $qOld")
    // Writer-race guard: the staged copy must hold exactly the content the
    // original holds now (count + fingerprint — see the object scaladoc).
    // A mismatch means a writer changed the table after the staging read —
    // undo the rename, drop the stage, and fail loudly instead of silently
    // publishing the stale staged copy.
    val current = contentSummary(spark, old)
    if (staged != current) {
      spark.sql(s"ALTER TABLE $qOld RENAME TO $qFqn")
      spark.sql(s"DROP TABLE $qTmp")
      throw new IllegalStateException(
        s"compactTable aborted: '$fqn' changed during compaction " +
          s"(staged ${staged.rows} rows, table now has ${current.rows}, " +
          s"fingerprints ${if (staged.fingerprint == current.fingerprint) "match" else "differ"}); " +
          "original restored — quiesce writers and retry")
    }
    spark.sql(s"ALTER TABLE $qTmp RENAME TO $qFqn")
    spark.sql(s"DROP TABLE $qOld")
    (before, spark.table(fqn).inputFiles.length)
  }

  /** Per-partition compaction — the 100 TB form promised by the object
    * scaladoc: only the partitions selected by `partitionPredicate` (a SQL
    * expression over partition columns, e.g. `"od_year = 1997"`) are
    * rewritten; every other partition's files are byte-untouched. Returns
    * (filesBefore, filesAfter) WITHIN the selected slice.
    *
    * Mechanics: the slice is partition-pruned at the scan (predicate over
    * partition columns only), grouped back onto its partition keys
    * (`repartition(partCols)`) and staged with `maxRecordsPerFile =
    * targetRows` into a `__compact` sibling — each selected partition
    * lands as ceil(partRows/targetRows) files. The staged copy (immutable)
    * is fingerprint-compared against the live slice; on mismatch (a writer
    * raced the staging) the stage is dropped and the call aborts with the
    * original fully intact. Publish is a dynamic-partition overwrite FROM
    * the staged copy, so a crash mid-publish always leaves the complete
    * verified slice under `__compact`: the next call self-heals by
    * re-publishing it (idempotent — overwriting a partition with its own
    * verified content) before doing new work. As with compactTable, the
    * guard is detection, not a lock — a write landing between the
    * verification scan and the publish is lost; quiescing writers over the
    * selected partitions is the contract. A transaction-log format makes
    * the publish atomic; this is the portable form.
    */
  def compactPartitions(spark: SparkSession, fqn: String,
                        partitionPredicate: String, targetRows: Long,
                        afterStage: () => Unit = () => (),
                        serializeWriters: Boolean = false,
                        lease: WriterLease.Lease = WriterLease.Lease()): (Int, Int) =
    if (serializeWriters)
      // same per-table marker as compactTable/upsert: the lock is
      // table-coarse (not per-partition) — partition-disjoint compactions
      // COULD run concurrently, but the shared __compact staging table
      // name serializes them anyway, so the coarse lease loses nothing
      WriterLease.withLock(spark, fqn, lease)(
        compactPartitionsImpl(spark, fqn, partitionPredicate, targetRows,
          afterStage))
    else compactPartitionsImpl(spark, fqn, partitionPredicate, targetRows,
      afterStage)

  private def compactPartitionsImpl(spark: SparkSession, fqn: String,
                                    partitionPredicate: String,
                                    targetRows: Long,
                                    afterStage: () => Unit): (Int, Int) = {
    require(targetRows > 0, s"targetRows must be positive: $targetRows")
    val tmp = s"${fqn}__compact"
    val (qFqn, qTmp) = (quoted(fqn), quoted(tmp))
    import org.apache.spark.sql.functions.col
    val allCols = spark.catalog.listColumns(fqn).collect()
    val partCols = allCols.filter(_.isPartition).map(_.name).toIndexedSeq
    require(partCols.nonEmpty,
      s"'$fqn' has no partition columns — use compactTable")
    // mirror of upsert's bucketed-target guard: the dynamic-overwrite
    // publish below is insertInto-based, which neither preserves nor
    // verifies bucketing — compacting a partitioned+bucketed table would
    // silently publish unbucketed files into a bucketed layout
    require(!allCols.exists(_.isBucket),
      s"compactPartitions' dynamic-overwrite publish does not preserve " +
        s"the bucketing of '$fqn' (bucketed on " +
        s"${allCols.filter(_.isBucket).map(_.name).mkString(", ")}) — " +
        "rewrite via a layout-preserving saveBucketed instead")
    // Self-heal a crashed predecessor. TWO distinct crash classes, told
    // apart by the `__publish` marker (created after verification, just
    // before the dynamic overwrite; dropped right after it):
    //
    //  - stage + MARKER → the crash hit MID-PUBLISH: the live slice may
    //    be left partial (dynamic overwrite is not atomic across its
    //    partitions, or even within one), and the verified stage is the
    //    authoritative complete copy — re-publish it, then clear both.
    //    Writers cannot have landed meanwhile: every mutator (upsert,
    //    both compactors) refuses while the marker stands.
    //  - stage WITHOUT the marker → the crash hit BEFORE the publish
    //    began: the live table is intact and authoritative, and the
    //    stage may be OUTDATED (any number of upserts may have landed
    //    since — nothing gated them, correctly, because live was never
    //    in doubt). Re-publishing here would silently REVERT those
    //    writes (found by composing the fuzzer's crash states with
    //    random upserts, round 19); the stage is compaction WORK, never
    //    the only copy of data, so it is discarded and the current call
    //    stages fresh.
    //
    //  A marker WITHOUT a stage cannot arise from this code path (the
    //  marker is dropped first). Since round 20 it has exactly one
    //  producer: a SUPERSEDING overwrite (`TableStore.save*` in
    //  Overwrite mode over a crashed publish) that dropped the stage,
    //  then crashed mid-write — the live table may be partial from
    //  either crash and there is no staged copy left to heal from, so
    //  the state is refused loudly here too (the old defensive clear
    //  would have blessed an unprovable table). The recovery is the
    //  superseding overwrite itself: retrying it replaces the table
    //  and clears the marker on success.
    val marker = s"${fqn}__publish"
    val qMarker = quoted(marker)
    if (spark.catalog.tableExists(tmp) && spark.catalog.tableExists(marker)) {
      PartitionOverwrite.insertDynamic(spark.table(tmp), fqn)
      spark.sql(s"DROP TABLE $qMarker")
      spark.sql(s"DROP TABLE $qTmp")
    } else if (spark.catalog.tableExists(tmp)) {
      spark.sql(s"DROP TABLE $qTmp")
    } else if (spark.catalog.tableExists(marker)) {
      throw new IllegalStateException(
        s"compactPartitions cannot heal '$fqn': publish marker " +
          s"'$marker' stands with no staged copy — a superseding " +
          "overwrite crashed mid-write and the table cannot be proven " +
          "complete; retry the full overwrite (save/savePartitioned, " +
          "Overwrite mode), which replaces the table and clears the " +
          "marker on success")
    }
    def slice = spark.table(fqn).where(partitionPredicate)
    // Dataset.inputFiles reports the UNPRUNED relation's files, so the
    // slice's file count is resolved via its partition directory names
    // (Hive-style `col=value` path segments; values here come from the
    // partition columns themselves, so the mapping is exact).
    val selParts = slice.select(partCols.map(col): _*).distinct().collect()
      .map(r => partCols.zipWithIndex
        .map { case (c, i) => s"/$c=${String.valueOf(r.get(i))}" })
    def sliceFiles(): Int = spark.table(fqn).inputFiles
      .count(f => selParts.exists(_.forall(f.contains(_))))
    val before = sliceFiles()
    // Stage: group rows back onto their partition keys so each selected
    // partition is written by one task, split into targetRows-sized files
    // by the writer (parallelism-agnostic — no single-task bottleneck for
    // multi-partition slices).
    spark.sql(s"DROP TABLE IF EXISTS $qTmp")
    slice.repartition(partCols.map(col): _*)
      .write.format("parquet")
      .option("maxRecordsPerFile", targetRows)
      .partitionBy(partCols: _*)
      .saveAsTable(tmp)
    afterStage() // test seam: the window the verification scan must catch
    // Verify the immutable staged copy against the live slice BEFORE any
    // destructive step — a mismatch means a writer raced the staging read;
    // drop the stage and abort with the original untouched.
    val staged = contentSummaryOf(spark.table(tmp))
    val current = contentSummaryOf(slice)
    if (staged != current) {
      spark.sql(s"DROP TABLE $qTmp")
      throw new IllegalStateException(
        s"compactPartitions aborted: '$fqn' ($partitionPredicate) changed " +
          s"during staging (staged ${staged.rows} rows, slice now has " +
          s"${current.rows}, fingerprints " +
          s"${if (staged.fingerprint == current.fingerprint) "match" else "differ"}); " +
          "nothing was modified — quiesce writers and retry")
    }
    // Publish under the marker (see the self-heal above): the marker is
    // created only AFTER verification passes — an aborted run never
    // leaves one — and while it stands, every mutator on this table
    // refuses, so the in-doubt window (live slice possibly partial) is
    // visible instead of silently writable.
    spark.sql(s"CREATE TABLE $qMarker (pending INT) USING parquet")
    PartitionOverwrite.insertDynamic(spark.table(tmp), fqn)
    spark.sql(s"DROP TABLE $qMarker")
    spark.sql(s"DROP TABLE $qTmp")
    spark.catalog.refreshTable(fqn)
    (before, sliceFiles())
  }

  /** Loud gate every table mutator calls first: while a `__publish`
    * marker stands, the live table may be PARTIAL (a compaction publish
    * or a superseding overwrite crashed mid-write) and any merge
    * computed from it would bake the partial read into published data.
    * Recovery depends on whether the staged copy survives: with a
    * `__compact` stage, resume `compactPartitions` (any predicate) and
    * its self-heal re-publishes the authoritative stage; with no stage,
    * retry the full overwrite, which replaces the table and clears the
    * marker on success.
    */
  private[core] def requireNoPendingPublish(spark: SparkSession,
                                            fqn: String): Unit =
    // IllegalStateException, not require/IllegalArgument (r19 verdict
    // nit): the refusal describes the TABLE's state, not the caller's
    // arguments — matching this file's other state-condition throws
    if (spark.catalog.tableExists(s"${fqn}__publish"))
      throw new IllegalStateException(
        s"a crashed compaction publish is pending on '$fqn' (marker " +
          s"'${fqn}__publish' exists): the live table may be partial — " +
          "resume compactPartitions on it to restore from the staged " +
          "copy (or, if no __compact stage survives, retry the full " +
          "overwrite) before mutating")
}
