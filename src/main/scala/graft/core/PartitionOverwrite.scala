package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col

/** The writes whose meaning depends on the session conf
  * `spark.sql.sources.partitionOverwriteMode`. The writer-level option is
  * not honored on the `insertInto` path, so a dynamic overwrite sets the
  * conf on the shared session for the write and restores it after. Two
  * such writers interleaving on one session (concurrent pipeline stages)
  * could otherwise run an overwrite in STATIC mode — replacing every
  * partition of its table — or leave the session stuck in `dynamic`, so
  * set, write and restore hold one JVM-wide lock, and every other
  * overwrite that reads the conf takes the same lock via [[locked]].
  */
private[core] object PartitionOverwrite {
  private val Key = "spark.sql.sources.partitionOverwriteMode"
  private val lock = new Object

  /** Dynamic-partition-overwrite insert into `fqn`: partitions present in
    * `df` are replaced, all others untouched. Columns are aligned to the
    * table's order by name. The conf is set on `df.sparkSession`, the
    * session that runs the insert.
    *
    * Callers, the only dynamic-overwrite writes in the library:
    *  - `TableStore.upsertPartitioned`: the touched partitions of an
    *    upsert;
    *  - `Compaction.compactPartitionsImpl`: the verified publish of the
    *    staged compacted slice, and its self-heal, which re-publishes
    *    the stage after a crash inside that publish.
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
  def insertDynamic(df: DataFrame, fqn: String,
                    rebalanceBy: Seq[String] = Nil): Unit = lock.synchronized {
    val sess = df.sparkSession
    // the explicit setting, not the effective value: restoring the
    // default as a setting would leave the key set
    val prev = sess.conf.getAll.get(Key)
    sess.conf.set(Key, "dynamic")
    try {
      val aligned = df.select(sess.table(fqn).columns.map(col).toIndexedSeq: _*)
      val shaped =
        if (rebalanceBy.isEmpty) aligned
        else aligned.hint("rebalance", rebalanceBy.map(col): _*)
      shaped.write.mode(SaveMode.Overwrite).insertInto(fqn)
    } finally prev match {
      case Some(v) => sess.conf.set(Key, v)
      case None    => sess.conf.unset(Key)
    }
  }

  /** Runs `write` — another overwrite whose meaning depends on the conf —
    * under the same lock, so it never sees a concurrent writer's transient
    * `dynamic`.
    */
  def locked[T](write: => T): T = lock.synchronized(write)
}
