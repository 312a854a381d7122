package graft.core

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** Column-name / filter constants of the reference pipeline.
  * Ports `/root/reference/src/notebooks/utilities.py:10-16` (`GameConstants`).
  */
object GameConstants {
  val GameTypes: Seq[String] = Seq("game", "demo", "dlc")
  val ReviewId = "recommendationid"
  val DimId = "id"
}

/** Job configuration. Ports the Databricks widget parameters the reference
  * reads on the driver (`utilities.py:21-22,28-29,35-36`,
  * `reviews_fact.py:113,178`, `auxillary_dims.py:31-33`,
  * `workflow.json:20-24,36-42`) into a typed config.
  */
final case class PipelineConfig(
    catalog: String = "steam",
    schema: String = "analytics",
    rawLocation: String = "/tmp/graft/landing_zone",
    batchSize: Int = 50000,
    aiEndpoint: Option[String] = None
)

/** Managed-table store over the Spark catalog.
  *
  * Ports `utilities.py:20-39` (`save_table` / `load_table` / `table_exists`)
  * with the reference's `{catalog}.{schema}.{layer}_{table}` three-part
  * naming. The reference writes Delta (`utilities.py:23`); this environment
  * has no Delta jars, so managed tables are Parquet — `overwrite` / `append`
  * `saveAsTable` semantics carry over identically for our usage (dims are
  * full-rebuild overwrite, fact is append; SURVEY.md §2.1 K1).
  *
  * Locally the `catalog` part maps onto `spark_catalog` and `schema` onto a
  * database; on a Unity-style multi-catalog deployment the same fqn string
  * resolves against the configured catalog.
  */
object TableStore {
  /** Ceiling for [[TableStore.upsert]]'s unpartitioned full-table rewrite
    * (64 GiB): generous for dims and bounded state — the only tables with
    * a reason to be unpartitioned — and far below any fact table where an
    * O(table) per-batch rewrite would be the real cost.
    */
  val DefaultMaxFullRewriteBytes: Long = 64L << 30

  /** Table size (file-listing stats) above which partitioned writes get an
    * AQE REBALANCE on the partition columns (r20, guide §6): clustering
    * rows per partition before the write is what stops an N-task merge
    * from emitting N files into every touched partition — but it costs a
    * full shuffle of the written rows, which on a SMALL table is pure
    * added latency (measured: +0.7 s on the 150 k-row up2 fixture for
    * files nobody is hurt by). 256 MiB ≈ one advisory partition: below
    * it the whole table is single-digit files regardless of write shape,
    * so the shuffle buys nothing; above it, fragmentation compounds per
    * upsert into exactly what compactTable exists to undo. Size-gated,
    * not env-gated, so the same binary does the right thing at sf0.1 and
    * at 100 TB.
    */
  val RebalanceMinTableBytes: Long = 256L << 20

  /** Touched-partition count up to which [[TableStore.upsert]]'s
    * partitioned merge filters `existing` with a LITERAL predicate
    * (null-safe equality per partition, OR'd) — partition pruning at
    * the scan with no join. Past it the predicate would bloat the plan
    * (planning time grows with the expression tree), so a broadcast
    * semi-join against the already-collected local set takes over. The
    * touched set is driver-collected either way (the r19 shape
    * collected it too, as the emptied-partition probe), so this bounds
    * plan size, not driver memory.
    */
  val MaxTouchedPredicateLiterals: Int = 256

  /** Managed-table prefixes in the bucketed-index savers are interpolated
    * into DDL (`DROP TABLE IF EXISTS ${prefix}_…`) and into
    * `saveAsTable` names, and the two paths parse identifiers under
    * DIFFERENT rules — a prefix with spaces, dashes, or SQL
    * metacharacters can fail one path, or worse, resolve to a DIFFERENT
    * identifier in each (the DROP hitting an unintended table). The
    * [[TableStore.ident]] rule, applied at every index save/load entry
    * point: plain `[A-Za-z_][A-Za-z0-9_]*` segments, optionally
    * dot-qualified (db.prefix), rejected loudly otherwise. (A
    * table-identifier rule, so it lives here in the table layer — not
    * with the broadcast routing it happened to be built alongside.)
    */
  private[graft] def requireTablePrefix(prefix: String): String = {
    require(
      prefix.matches("[A-Za-z_][A-Za-z0-9_]*(\\.[A-Za-z_][A-Za-z0-9_]*)*"),
      s"invalid table prefix (plain dot-qualified identifiers only): " +
        s"'$prefix'")
    prefix
  }

  /** The table storage property that makes an overwrite of a partitioned
    * table replace only the partitions it writes. Stored on the table, it
    * overrides the session's `spark.sql.sources.partitionOverwriteMode`
    * in both directions, so the library never reads or writes that conf.
    * The writer option is ignored on `insertInto`; it is honored only
    * where a write creates the table.
    */
  private val OverwriteModeKey = "partitionOverwriteMode"

  /** Dynamic-partition-overwrite insert into `fqn`: partitions present in
    * `df` are replaced, all others untouched. Columns are aligned to the
    * table's order by name.
    *
    * Callers, the only dynamic-overwrite writes in the library:
    *  - `TableStore.upsertPartitioned`: the touched partitions of an
    *    upsert;
    *  - `Compaction.compactPartitionsImpl`: the verified publish of the
    *    staged compacted slice, and its self-heal, which re-publishes
    *    the stage after a crash inside that publish.
    *
    * [[TableStore.savePartitioned]] stamps [[OverwriteModeKey]] on every
    * table it creates, so the check below is one catalog lookup and no
    * job. A table created any other way (a raw `saveAsTable`, then
    * passed to the public `Compaction.compactPartitions`) is upgraded
    * in place first, once.
    *
    * `rebalanceBy` (r20, guide §6 "coalesce on write" / Iceberg's
    * `write.distribution-mode=hash`): without it, every upstream task
    * holding rows of a partition opens its own file there — an N-task
    * merge writing P touched partitions emits up to N·P small files per
    * upsert, compounding into exactly the fragmentation `compactTable`
    * exists to undo. An AQE REBALANCE on the partition columns clusters
    * rows per partition at the advisory size — one file per partition
    * when small, SPLIT when a partition exceeds the advisory bytes (so
    * a skewed partition does not serialize into one writer task, the
    * failure mode plain `repartition(partCols)` would have). Rows are
    * unchanged; only the file layout moves.
    */
  private[core] def insertDynamic(df: DataFrame, fqn: String,
                                  rebalanceBy: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    val spark = df.sparkSession
    val tid = spark.sessionState.sqlParser.parseTableIdentifier(fqn)
    if (!spark.sessionState.catalog.getTableMetadata(tid).storage.properties
          .get(OverwriteModeKey).exists(_.equalsIgnoreCase("dynamic")))
      spark.sql(s"ALTER TABLE ${tid.quotedString} SET SERDEPROPERTIES " +
        s"('$OverwriteModeKey' = 'dynamic')")
    val aligned = df.select(spark.table(fqn).columns.map(col).toIndexedSeq: _*)
    val shaped =
      if (rebalanceBy.isEmpty) aligned
      else aligned.hint("rebalance", rebalanceBy.map(col): _*)
    shaped.write.mode(SaveMode.Overwrite).insertInto(fqn)
  }
}

final class TableStore(private[graft] val spark: SparkSession,
    config: PipelineConfig) {

  /** Name parts are interpolated into DDL (CREATE/DROP DATABASE), so a
    * malformed or hostile config value must fail here, not inject SQL.
    */
  private def ident(s: String): String = {
    require(s.matches("[A-Za-z0-9_]+"), s"invalid SQL identifier: '$s'")
    s
  }

  private[graft] val db: String = ident(s"${config.catalog}_${config.schema}")
  spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")

  /** `{catalog}_{schema}.{layer}_{table}` — e.g. `steam_analytics.dim_games`. */
  def fqn(layer: String, table: String): String =
    s"$db.${ident(s"${layer}_$table")}"

  /** A crashed compaction PUBLISH leaves a `__publish` marker + staged
    * copy (see [[Compaction]]): the live table may be PARTIAL until the
    * compaction is resumed. The save entry points resolve that state by
    * the write's own semantics — a full OVERWRITE replaces the table
    * entirely, superseding the crashed compaction; an APPEND composes
    * with the possibly-partial live data and refuses loudly like every
    * other mutator.
    *
    * Marker ORDERING (ADVICE r19): the stage is dropped BEFORE the
    * overwrite (once superseding is decided, a later compaction resume
    * must not re-publish stale partitions over the fresh table), but
    * the `__publish` marker is kept until the overwrite SUCCEEDS
    * ([[clearPendingPublish]] after the write) — `saveAsTable`
    * overwrite is not atomic, so a crash mid-write would otherwise
    * leave a possibly-partial table with the gate already lifted and
    * the staged recovery copy gone, silently mergeable by the next
    * mutator: exactly the hazard the marker protocol exists to
    * prevent. A marker surviving a crashed supersede costs only a
    * loud refusal; the fix is to retry the overwrite (which clears it
    * on success).
    */
  private def resolvePendingPublish(name: String, mode: SaveMode): Unit =
    if (mode == SaveMode.Overwrite)
      spark.sql(s"DROP TABLE IF EXISTS ${name}__compact")
    else Compaction.requireNoPendingPublish(spark, name)

  /** Second half of [[resolvePendingPublish]]: the in-doubt gate lifts
    * only after the superseding overwrite has fully landed.
    */
  private def clearPendingPublish(name: String, mode: SaveMode): Unit =
    if (mode == SaveMode.Overwrite)
      spark.sql(s"DROP TABLE IF EXISTS ${name}__publish")

  /** Overwrite-mode restart recovery: a FAILED prior overwrite drops the
    * catalog entry but can leave partial files at the managed location
    * (`saveAsTable` overwrite is drop-then-create, and a mid-write crash
    * aborts between them) — the retry then fails with
    * LOCATION_ALREADY_EXISTS even though the caller asked to REPLACE the
    * table. Under overwrite semantics the stranded directory is dead
    * either way (a lost in-memory catalog over a surviving directory is
    * the same case: the caller is replacing whatever was there), so it
    * is removed and the retry lands. Append mode never does this — it
    * must not delete data it would have composed with.
    */
  private def clearStrandedLocation(layer: String, table: String,
                                    mode: SaveMode): Unit =
    if (mode == SaveMode.Overwrite &&
        !spark.catalog.tableExists(fqn(layer, table))) {
      val loc = tablePath(layer, table)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }

  /** ≙ `utilities.py:20-23` (mode defaults to overwrite; fact append). */
  def save(df: DataFrame, layer: String, table: String,
           mode: SaveMode = SaveMode.Overwrite): Unit = {
    val name = fqn(layer, table)
    resolvePendingPublish(name, mode)
    clearStrandedLocation(layer, table, mode)
    df.write.format("parquet").mode(mode).saveAsTable(name)
    clearPendingPublish(name, mode)
  }

  /** Partitioned managed table — the 100TB fact layout (SURVEY.md §4):
    * partition by ingest date/derived key so time-bounded queries prune
    * whole partitions at the scan. The table carries
    * `partitionOverwriteMode=dynamic` (see [[TableStore.insertDynamic]]);
    * an Overwrite re-creates the table, so every write stamps it again.
    */
  def savePartitioned(df: DataFrame, layer: String, table: String,
                      partitionCols: Seq[String],
                      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val name = fqn(layer, table)
    resolvePendingPublish(name, mode)
    clearStrandedLocation(layer, table, mode)
    df.write.format("parquet").mode(mode)
      .option(TableStore.OverwriteModeKey, "dynamic")
      .partitionBy(partitionCols: _*).saveAsTable(name)
    clearPendingPublish(name, mode)
  }

  /** Bucketed managed table: co-locates join/agg keys so repeated joins on
    * `bucketCols` between same-bucketed tables run shuffle-free.
    */
  def saveBucketed(df: DataFrame, layer: String, table: String,
                   nBuckets: Int, bucketCols: Seq[String],
                   mode: SaveMode = SaveMode.Overwrite): Unit = {
    val name = fqn(layer, table)
    resolvePendingPublish(name, mode)
    clearStrandedLocation(layer, table, mode)
    df.write.format("parquet").mode(mode)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(name)
    clearPendingPublish(name, mode)
  }

  /** Physical warehouse path of a managed table. The metastore lowercases
    * database/table directory names, so the path must too (mixed-case
    * identifiers pass `ident` but land in lowercased directories).
    */
  private[graft] def tablePath(layer: String, table: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      s"${spark.conf.get("spark.sql.warehouse.dir")}/${db.toLowerCase}.db/" +
        ident(s"${layer}_$table").toLowerCase)

  /** The partition-column rebalance list for a dynamic write into `name`:
    * the partition columns once the table is past
    * [[TableStore.RebalanceMinTableBytes]], else empty. Sized by ONE
    * filesystem content-summary call on the table location (plan-level
    * `stats.sizeInBytes` is `defaultSizeInBytes` — effectively infinite —
    * for un-ANALYZEd catalog tables, which would turn the gate always-on;
    * measured exactly that before this fix). Metadata-only, no job.
    */
  private def rebalanceCols(name: String, partCols: Seq[String]): Seq[String] = {
    val parts = spark.sessionState.sqlParser.parseMultipartIdentifier(name)
    val tid = org.apache.spark.sql.catalyst.TableIdentifier(
      parts.last, parts.dropRight(1).lastOption)
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(tid).location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes =
      try fs.getContentSummary(loc).getLength
      catch { case _: java.io.FileNotFoundException => 0L }
    if (bytes >= TableStore.RebalanceMinTableBytes) partCols else Nil
  }

  /** Drop a table from BOTH catalog and storage. The physical location
    * outlives an in-memory catalog (a new JVM no longer knows the table but
    * its directory persists in the warehouse, and `saveAsTable` then fails
    * with LOCATION_ALREADY_EXISTS), so the stale directory is removed too.
    */
  def drop(layer: String, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${fqn(layer, table)}")
    val loc = tablePath(layer, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Keyed UPSERT (MERGE emulation on a parquet managed table): incoming
    * rows REPLACE existing rows sharing their key, everything else appends
    * — `WHEN MATCHED UPDATE, WHEN NOT MATCHED INSERT` with whole-row
    * updates. A transaction-log format does this with file rewrites; the
    * portable form computes `existing ANTI-JOIN incoming.keys UNION
    * incoming` and publishes it.
    *
    * PLAIN tables stage the merge and swap via the same rename-rename-drop
    * used by [[graft.core.Compaction]] (a direct overwrite of a table
    * being read is both forbidden by Spark and non-crash-safe), with
    * Compaction's writer-race guard: the pre-staging content summary of
    * the target must match the renamed original at swap time, else the
    * original is restored and the call fails loudly.
    *
    * PARTITIONED tables take the production path ([[upsertPartitioned]]):
    * only the partitions containing incoming rows or matched keys are
    * rewritten (dynamic-partition overwrite); untouched partitions' files
    * are never touched. This is the 100 TB form — a date-partitioned fact
    * upserts a daily batch by rewriting a handful of partitions, not the
    * table. Atomicity is per partition (no multi-partition transaction on
    * plain parquet); the operation is idempotent, so the crash-recovery
    * story is replay-the-batch.
    *
    * BUCKETED tables are refused loudly (a staged plain rewrite would
    * silently lose the bucketing layout and its shuffle-free joins).
    *
    * Incoming key columns must be non-null (checked, loud): a NULL key
    * never matches the anti-join, so replaying a batch with null keys
    * would accumulate duplicates instead of being idempotent.
    *
    * At scale the anti-join is a compact-key shuffle and AQE broadcasts
    * small incoming batches; writers must quiesce for the publish, as with
    * compaction. The incoming plan is evaluated more than once (merge +
    * guards) — it must be deterministic, which the replay contract already
    * requires.
    *
    * SCALE GUARD: the plain-table path rewrites the WHOLE table per batch
    * — O(table) I/O however small the batch. That is the right cost for
    * dims and bounded state, and a silent catastrophe for a 100 TB fact
    * (every daily batch would rewrite 100 TB). Targets larger than
    * `maxFullRewriteBytes` (default 64 GiB — comfortably above any table
    * that has a reason to be unpartitioned) are refused loudly with the
    * partitioned posture as the prescribed fix; callers that genuinely
    * want a huge full rewrite opt out with `Long.MaxValue`.
    *
    * `serializeWriters = true` takes the [[WriterLease]] for the whole
    * merge+publish: cooperating concurrent batch writers QUEUE instead of
    * tripping each other's race guard (which stays on regardless — a
    * non-cooperating writer is still detected and aborted). `lease`
    * tunes the queue bound: the default waits 60 s for the holder, so a
    * writer queued behind a merge slower than that times out — raise
    * `lease.waitMs` (and `leaseMs`, the safety margin) for slow
    * mutations.
    *
    * `evolveSchema = true` lets a batch carrying columns the target
    * LACKS proceed by evolving the target first ([[addColumns]] — a
    * metadata-only ALTER, never a rewrite; pre-evolution rows read NULL
    * for the new columns). Default `false` keeps the loud refusal: an
    * unexpected widening is more often an upstream drift bug than an
    * intended evolution, so widening stays an explicit act. Batches
    * MISSING target columns still fail loudly either way — the merge is
    * whole-row replacement, so a narrow batch would null out data.
    */
  def upsert(df: DataFrame, layer: String, table: String,
             keyCols: Seq[String],
             beforeSwap: () => Unit = () => (),
             maxFullRewriteBytes: Long = TableStore.DefaultMaxFullRewriteBytes,
             serializeWriters: Boolean = false,
             lease: WriterLease.Lease = WriterLease.Lease(),
             evolveSchema: Boolean = false): Unit =
    if (serializeWriters)
      WriterLease.withLock(spark, fqn(layer, table), lease)(
        upsertImpl(df, layer, table, keyCols, beforeSwap,
          maxFullRewriteBytes, evolveSchema))
    else upsertImpl(df, layer, table, keyCols, beforeSwap,
      maxFullRewriteBytes, evolveSchema)

  private def upsertImpl(df: DataFrame, layer: String, table: String,
                         keyCols: Seq[String], beforeSwap: () => Unit,
                         maxFullRewriteBytes: Long,
                         evolveSchema: Boolean): Unit = {
    import org.apache.spark.sql.functions.col
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val name = fqn(layer, table)
    val tmp = s"${name}__upsert"
    val old = s"${name}__old"
    // a crashed compaction PUBLISH leaves the live table possibly
    // partial; merging from a partial read would bake the loss into
    // published data — refuse until the compaction is resumed
    Compaction.requireNoPendingPublish(spark, name)
    // Self-heal a prior crash BEFORE the exists-check below — otherwise a
    // crash between the two renames (name gone, full table under __old)
    // would route the next call through the create path and silently
    // publish ONLY the incoming batch. Writers are quiesced by contract
    // (as with Compaction), so: only __old → crash between renames,
    // restore it; both → normally only the final DROP was missed (the
    // published table IS the merged copy) — but a quiesce-violating writer
    // may have RE-CREATED the target (append-mode saveAsTable creates
    // missing tables) after a crash between the renames, making __old the
    // only complete copy. The merge keeps every pre-merge KEY (matched
    // keys are replaced, not removed), so __old is dropped only when its
    // key set is covered by the published table; otherwise fail loudly
    // for manual reconciliation, as Compaction does.
    if (spark.catalog.tableExists(old)) {
      if (!spark.catalog.tableExists(name)) {
        spark.sql(s"ALTER TABLE $old RENAME TO $name")
      } else {
        val covered =
          try spark.table(old).select(keyCols.map(col): _*)
            .join(spark.table(name).select(keyCols.map(col): _*),
              keyCols, "left_anti")
            .isEmpty
          catch { case _: org.apache.spark.sql.AnalysisException => false }
        if (covered) spark.sql(s"DROP TABLE $old")
        else throw new IllegalStateException(
          s"upsert self-heal refused: '$old' holds keys absent from " +
            s"'$name' — a writer raced a previous crashed run; reconcile " +
            s"manually (keep one of '$name' / '$old', drop the other) " +
            "and retry")
      }
    }
    if (!spark.catalog.tableExists(name)) { save(df, layer, table); return }
    // Bucket guard FIRST (the Compaction r18 ordering lesson applied
    // here): a bucketed target is refused before any other step — in
    // particular before evolveSchema below could ALTER the schema of a
    // table the merge then refuses to touch.
    val layoutCols = spark.catalog.listColumns(name).collect()
    require(!layoutCols.exists(_.isBucket),
      s"upsert supports plain and partitioned tables; '$name' is bucketed " +
        s"on ${layoutCols.filter(_.isBucket).map(_.name).mkString(", ")} — " +
        "use a layout-preserving rewrite (saveBucketed the merge)")
    // Schema guard (found by extending the table fuzzer to evolution
    // sequences): both merge paths project the incoming batch onto the
    // TARGET's columns, so a batch carrying a column the target lacks
    // would have that column silently DROPPED — a writer that widened
    // its schema and kept upserting would lose every value of the new
    // column without a sound. Missing columns already fail loudly
    // (unresolved reference in the projection); extras are either
    // evolved into the target (`evolveSchema = true` → metadata-only
    // ALTER TABLE ADD COLUMNS, existing rows read NULL) or refused
    // loudly. Extra-ness is judged under the session resolver's case
    // sensitivity (default case-insensitive, matching how the merge
    // projection itself would resolve a case-variant column).
    val caseSensitive =
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    // Locale.ROOT (ADVICE r19): locale-default lowercasing diverges from
    // Spark's resolver on a Turkish-default JVM ('ID' → 'ıd'), falsely
    // flagging a case-variant column as extra
    def fold(c: String) =
      if (caseSensitive) c else c.toLowerCase(java.util.Locale.ROOT)
    val targetFields = spark.table(name).columns.map(fold).toSet
    val extraCols = df.schema.fields.filterNot(f => targetFields(fold(f.name)))
    if (extraCols.nonEmpty) {
      require(evolveSchema,
        s"upsert into '$name': incoming batch carries columns the target " +
          s"lacks (${extraCols.map(_.name).mkString(", ")}) — the merge " +
          "would silently drop them. Evolve the table first (addColumns, " +
          "or pass evolveSchema=true to do it here), or select the " +
          "target's columns explicitly")
      // addColumns itself forces nullable=true (pre-evolution rows all
      // read NULL for the new columns), so the batch frame's flags pass
      // through as-is
      addColumns(layer, table, org.apache.spark.sql.types.StructType(
        extraCols.toIndexedSeq))
    }
    // Type-drift guard (round 20; the reference's per-file inferSchema —
    // `reviews_fact.py:117-125` — makes a same-named column arriving
    // with a DIFFERENT type the native upstream hazard, SURVEY §1.3).
    // Unguarded, the two merge paths did different silent things: the
    // plain path's unionByName coerced batch and target to their common
    // type and the staged rewrite PUBLISHED it — a long batch into an
    // int target silently retyped the whole table; the partitioned
    // path's insertInto store-assignment cast the batch DOWN to the
    // target type (ANSI: silent while values fit, a runtime error on
    // overflow). One rule on both paths now: the TARGET's schema is
    // immutable under upsert. A batch column that UPCASTS to the
    // target type under Spark's own up-cast rule (Cast.canUpCast, the
    // Dataset.as contract: int→long, float→double, decimal widening,
    // the numeric precedence chain) is cast to it before the merge;
    // anything else (narrowing like long→int or double→long,
    // string↔numeric) is refused loudly — retyping a table, like
    // widening it, is an explicit rewrite, never a batch side effect.
    // Resolved AFTER the evolve above, so just-added columns (whose
    // types ARE the batch's) never drift.
    val targetByFold = spark.table(name).schema.fields
      .map(f => fold(f.name) -> f).toMap
    val drifted = df.schema.fields.flatMap { f =>
      targetByFold.get(fold(f.name))
        .filter(_.dataType != f.dataType).map(t => (f, t))
    }
    val unsafe = drifted.filterNot { case (b, t) =>
      org.apache.spark.sql.catalyst.expressions.Cast
        .canUpCast(b.dataType, t.dataType)
    }
    require(unsafe.isEmpty,
      s"upsert into '$name': incoming batch column types drift from the " +
        "target with no safe upcast (" +
        unsafe.map { case (b, t) =>
          s"${b.name}: batch ${b.dataType.simpleString} vs target " +
            s"${t.dataType.simpleString}"
        }.mkString("; ") +
        ") — merging would silently retype the table or narrow the " +
        "batch. Cast the batch explicitly, or retype the table with an " +
        "explicit full rewrite (save/savePartitioned)")
    // backtick-quote (the contentSummary rule): a dotted column name
    // must not parse as nested-field access
    def qcol(c: String) = col(s"`${c.replace("`", "``")}`")
    val batch = if (drifted.isEmpty) df else {
      val castTo = drifted.map { case (b, t) => b.name -> t.dataType }.toMap
      df.select(df.columns.map { c =>
        castTo.get(c).map(dt => qcol(c).cast(dt).as(c)).getOrElse(qcol(c))
      }.toIndexedSeq: _*)
    }
    // Null-key refusal: the COUNT now rides a pass each path already
    // makes over the batch (r20, guide §1.2 — the eager
    // `batch.filter(nullKeyed).isEmpty` here was a whole extra action
    // per upsert): the partitioned path checks it on its touched-
    // partition probe, the plain path on the staged write — both
    // strictly BEFORE anything mutates or publishes (the staging table
    // is dropped on refusal). See [[nullKeyGuard]]/[[refuseNullKeys]].
    val partCols = layoutCols.filter(_.isPartition).map(_.name).toSeq
    if (partCols.nonEmpty) { upsertPartitioned(batch, name, keyCols, partCols); return }
    // O(table) rewrite ahead — refuse above the threshold (see Scaladoc).
    // sizeInBytes comes from the file-listing stats of the scan, so the
    // check costs no extra job.
    val targetBytes = spark.table(name)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    require(targetBytes <= maxFullRewriteBytes,
      s"upsert into unpartitioned '$name' rewrites the whole table " +
        s"(~$targetBytes bytes > maxFullRewriteBytes=$maxFullRewriteBytes) " +
        "for every batch. Publish the table partitioned " +
        "(savePartitioned) so upserts rewrite only touched partitions, " +
        "or pass maxFullRewriteBytes=Long.MaxValue to accept the " +
        "full rewrite")
    // Writer-race guard (detection, not a lock — see Compaction): summarize
    // the target before the merge reads it; a write landing any time up to
    // the swap flips the summary of the renamed original and aborts.
    val preSummary = Compaction.contentSummary(spark, name)
    val existing = load(layer, table)
    // the union branch carries EVERY batch row, so the null-key count
    // rides the staging write (the keys side reads the un-observed plan)
    val nullObs = org.apache.spark.sql.Observation()
    val merged = existing
      .join(batch.select(keyCols.map(col): _*).distinct(), keyCols,
        "left_anti")
      .unionByName(batch.select(existing.columns.map(col).toIndexedSeq: _*)
        .observe(nullObs, nullKeyGuard(keyCols)))
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    merged.write.format("parquet").saveAsTable(tmp)
    refuseNullKeys(nullObs, name, keyCols) { spark.sql(s"DROP TABLE $tmp") }
    beforeSwap() // test seam: the window a concurrent write must trip
    spark.sql(s"ALTER TABLE $name RENAME TO $old")
    if (Compaction.contentSummary(spark, old) != preSummary) {
      spark.sql(s"ALTER TABLE $old RENAME TO $name")
      spark.sql(s"DROP TABLE $tmp")
      throw new IllegalStateException(
        s"upsert aborted: '$name' changed between the staging read and the " +
          "swap; original restored — quiesce writers and retry")
    }
    spark.sql(s"ALTER TABLE $tmp RENAME TO $name")
    spark.sql(s"DROP TABLE $old")
  }

  /** Partition-scoped upsert (see [[upsert]]). Touched partitions =
    * partitions receiving incoming rows ∪ partitions holding matched keys;
    * the merge (`existing-in-touched ANTI keys UNION incoming`) is written
    * with dynamic-partition overwrite, so every other partition's files
    * are byte-untouched. The matched-key probe is one column-pruned scan
    * of (key, partition) columns only.
    *
    * A key may MOVE partitions (incoming places it elsewhere): its old
    * partition is in the touched set, so the stale row is rewritten away.
    * A touched partition whose rows ALL move away ends with zero rows —
    * dynamic overwrite never rewrites a partition it has no rows for, so
    * those are dropped explicitly (the drop list is bounded by the touched
    * partition count — driver-safe).
    */
  private def upsertPartitioned(df: DataFrame, name: String,
                                keyCols: Seq[String],
                                partCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{col, collect_set, struct}
    val targetCols = spark.table(name).columns.toIndexedSeq
    val incoming = df.select(targetCols.map(col): _*)
    val keys = incoming.select(keyCols.map(col): _*).distinct()
    val existing = spark.table(name)
    // Pass structure (r20, guide §1.2/§2.4 — the r19 shape evaluated the
    // full merged frame TWICE, once for the emptied-partition probe and
    // once for the write, plus a whole extra batch action for the
    // null-key guard; one upsert now reads the touched partitions once):
    //   1. ONE pre-write action collects the touched partition set
    //      (batch rows ∪ matched keys' partitions — the matched-key
    //      probe is a (key, partition)-pruned scan) and carries the
    //      null-key count as an observe metric, so the refusal still
    //      lands before anything mutates. Driver-safety bound unchanged:
    //      the touched set was already collected (as `emptied`) in r19.
    //   2. The write scans `existing` through a LITERAL predicate over
    //      the touched partitions (null-safe equality, so null partition
    //      values keep their r19 semantics) instead of a semi-join —
    //      partition pruning at the scan, no join, no second evaluation
    //      of the probe. Past [[TableStore.MaxTouchedPredicateLiterals]]
    //      the predicate would bloat the plan, so a broadcast semi-join
    //      against the already-collected local set takes over.
    //   3. The emptied-partition set (touched partitions the merge left
    //      without rows — dynamic overwrite never rewrites those, so
    //      they are dropped explicitly) rides the write itself as an
    //      observe collect_set over the partition columns: same value as
    //      the r19 pre-write probe (same merged rows), zero extra pass,
    //      and no read of `existing` after the mutation.
    val nullObs = org.apache.spark.sql.Observation()
    val touchedRows = incoming.observe(nullObs, nullKeyGuard(keyCols))
      .select(partCols.map(col): _*)
      .union(existing.join(keys, keyCols, "left_semi")
        .select(partCols.map(col): _*))
      .distinct().collect()
    refuseNullKeys(nullObs, name, keyCols)(())
    val touchedExisting =
      if (touchedRows.isEmpty) existing.filter(org.apache.spark.sql.functions.lit(false))
      else if (touchedRows.length <= TableStore.MaxTouchedPredicateLiterals)
        existing.filter(touchedRows.map { row =>
          partCols.zipWithIndex.map { case (c, i) =>
            col(c) <=> org.apache.spark.sql.functions.lit(row.get(i))
          }.reduce(_ && _)
        }.reduce(_ || _))
      else {
        val touchedLocal = spark.createDataFrame(
          java.util.Arrays.asList(touchedRows: _*),
          org.apache.spark.sql.types.StructType(
            partCols.map(c => existing.schema(c))))
        existing.join(
          org.apache.spark.sql.functions.broadcast(touchedLocal),
          partCols, "left_semi")
      }
    val presentObs = org.apache.spark.sql.Observation()
    val merged = touchedExisting
      .join(keys, keyCols, "left_anti")
      .unionByName(incoming)
      .observe(presentObs,
        collect_set(struct(partCols.map(col): _*)).as("present"))
    TableStore.insertDynamic(merged, name,
      rebalanceBy = rebalanceCols(name, partCols))
    // Driver-side set difference over EXTERNAL row values: both sides
    // come off the same partition columns of the same session (collect
    // and observe use the same external conversion), so value classes
    // match; compared as Seq so Row equality semantics can't surprise.
    val present = presentObs.get.apply("present")
      .asInstanceOf[scala.collection.Seq[org.apache.spark.sql.Row]]
      .map(_.toSeq).toSet
    val emptied = touchedRows.map(_.toSeq).filterNot(present)
    emptied.foreach { vals =>
      val spec = partCols.zip(vals).map { case (c, v) =>
        require(v != null,
          s"upsert into '$name': NULL value in partition column '$c'")
        s"${ident(c)}='${v.toString.replace("'", "''")}'"
      }.mkString(", ")
      spark.sql(s"ALTER TABLE $name DROP IF EXISTS PARTITION ($spec)")
    }
  }

  /** The null-key refusal's observe metric (see [[upsert]]): count of
    * batch rows with any NULL key column, ridden on a pass the upsert
    * already makes instead of costing its own action.
    */
  private def nullKeyGuard(keyCols: Seq[String]): Column = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, sum, when}
    coalesce(sum(when(
      keyCols.map(c => col(c).isNull).reduce(_ || _), 1L)), lit(0L))
      .as("null_keys")
  }

  /** Check [[nullKeyGuard]]'s observed count; on violation run `cleanup`
    * (e.g. drop the staging table) and refuse with the same
    * IllegalArgumentException contract the eager pre-check had.
    */
  private def refuseNullKeys(obs: org.apache.spark.sql.Observation,
                             name: String, keyCols: Seq[String])
                            (cleanup: => Unit): Unit = {
    if (obs.get.apply("null_keys").asInstanceOf[Long] > 0L) {
      cleanup
      throw new IllegalArgumentException(
        s"requirement failed: upsert into '$name' requires non-null " +
          s"values in key columns (${keyCols.mkString(", ")}): a NULL " +
          "key never matches the anti-join, so replays would " +
          "accumulate duplicate rows")
    }
  }

  /** Metadata-only schema evolution: `ALTER TABLE … ADD COLUMNS`.
    *
    * The 100 TB posture for a widening writer (the reference infers
    * schemas per-file — `reviews_fact.py:117-125` — so upstream drift is
    * its native hazard): adding columns to a parquet-backed managed
    * table is a CATALOG operation — zero data files move, and existing
    * files read NULL for the new columns via schema-on-read. The
    * previous remedy for a widened upsert batch (full-table rewrite via
    * save/savePartitioned) is O(table) — exactly the operation the
    * engine must never prescribe for a metadata-sized change.
    *
    * New columns land AFTER existing ones (parquet resolves by name, so
    * order is cosmetic). Spark itself refuses duplicates (per the
    * session resolver's case sensitivity) and refuses types parquet
    * can't store — both failures are loud and leave the table untouched.
    * Partitioned and bucketed layouts both evolve fine: partition and
    * bucket specs name existing columns only, and neither moves.
    * Backticks are banned in new names — `toDDL` quotes with backticks,
    * so an embedded one could split the rendered DDL.
    *
    * Nullability is FORCED to true (r19 verdict): every pre-existing
    * row reads NULL for an added column, so a caller-supplied
    * non-nullable field would render `NOT NULL` into the ALTER for a
    * constraint parquet never enforces — the catalog would lie about
    * every old row. There is no honest non-nullable evolution on
    * schema-on-read storage, so the flag is overridden rather than
    * refused.
    */
  def addColumns(layer: String, table: String,
                 cols: org.apache.spark.sql.types.StructType): Unit = {
    require(cols.nonEmpty, "addColumns needs at least one column")
    cols.fieldNames.foreach(n => require(!n.contains("`"),
      s"addColumns: backtick in column name '$n'"))
    val nullable = org.apache.spark.sql.types.StructType(
      cols.map(_.copy(nullable = true)))
    spark.sql(
      s"ALTER TABLE ${fqn(layer, table)} ADD COLUMNS (${nullable.toDDL})")
  }

  /** ≙ `utilities.py:27-30`. */
  def load(layer: String, table: String): DataFrame =
    spark.read.table(fqn(layer, table))

  /** ≙ `utilities.py:34-39` — the reference runs `SHOW TABLES` and collects;
    * `spark.catalog.tableExists` is the driver-side equivalent without the
    * extra job.
    */
  def exists(layer: String, table: String): Boolean =
    spark.catalog.tableExists(fqn(layer, table))
}
