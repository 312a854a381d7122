package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) interleaving for multi-dimensional data layout — the
  * "cluster the table so range predicates on EITHER key skip files" write
  * optimization (Delta/Iceberg's OPTIMIZE ZORDER BY, built from scratch).
  *
  * `zkey` interleaves the low `bits` bits of two dimensions (x in even bit
  * positions, y in odd), so rows close in z-value are close in both
  * dimensions; range-partitioning + sorting the write by `zkey` gives
  * parquet row-groups whose min/max spans are tight on both columns, which
  * is what makes scan-time skipping fire for predicates on either one.
  *
  * The key is a pure unrolled chain of codegen'd bitwise ops (no UDF, no
  * HOF): ~4·bits integer ops per row, constant-folded shift amounts.
  */
object ZOrder {

  /** Morton-interleave the low `bits` bits of x (even positions) and
    * y (odd positions) into a non-negative BIGINT.
    */
  def zkey(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31]: $bits")
    val mask = (1L << bits) - 1
    val xm = x.cast("long").bitwiseAND(lit(mask))
    val ym = y.cast("long").bitwiseAND(lit(mask))
    (0 until bits).map { i =>
      val xb = shiftleft(shiftright(xm, i).bitwiseAND(lit(1L)), 2 * i)
      val yb = shiftleft(shiftright(ym, i).bitwiseAND(lit(1L)), 2 * i + 1)
      xb.bitwiseOR(yb)
    }.reduce(_ bitwiseOR _)
  }

  /** Re-layout a frame for writing: range-partition on the z-key (balanced
    * output files, since z-values are near-uniform under hash-like ids) and
    * sort within partitions, so each written file covers a tight z-range →
    * tight min/max on BOTH dimensions. This is the write-side half; the
    * read-side payoff is ordinary parquet row-group skipping.
    */
  def cluster(df: DataFrame, xCol: String, yCol: String,
              numFiles: Int, bits: Int = 16): DataFrame = {
    require(numFiles >= 1, s"numFiles must be positive: $numFiles")
    df.withColumn("zkey", zkey(col(xCol), col(yCol), bits))
      .repartitionByRange(numFiles, col("zkey"))
      .sortWithinPartitions(col("zkey"))
  }

  /** Per-file min/max of `xCol`/`yCol` for every parquet file at `path`:
    * the file-skipping index that Delta/Iceberg keep in their metadata
    * layer, here as a one-row-per-file DataFrame. Over a [[cluster]]ed
    * write it costs one extra parallel scan of the written files.
    * Vanilla Spark prunes parquet ROW GROUPS from these same min/max
    * stats but never whole files on data columns, so this index is what
    * turns z-clustering into an actual files-read drop.
    */
  def fileStats(spark: org.apache.spark.sql.SparkSession, path: String,
                xCol: String, yCol: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(xCol)).as("x_min"), max(col(xCol)).as("x_max"),
        min(col(yCol)).as("y_min"), max(col(yCol)).as("y_max"))

  /** Box-predicate read with file skipping: drop every file whose
    * [min,max] span provably misses the box, read only the survivors,
    * re-apply the exact predicate (stats prune is conservative, never
    * authoritative). Returns the frame plus the file count actually
    * read — the skipping evidence. The stats collect is metadata-sized
    * (one row per file), the same class as partition listings.
    */
  def readPruned(stats: DataFrame, xCol: String, yCol: String,
                 xLo: Long, xHi: Long, yLo: Long,
                 yHi: Long): (DataFrame, Int) = {
    val spark = stats.sparkSession
    val files = stats
      .filter(!(col("x_max") < xLo || col("x_min") > xHi ||
        col("y_max") < yLo || col("y_min") > yHi))
      .select(col("file")).collect().map(_.getString(0))
    // A selective box can legitimately prune EVERY file — the best case
    // for the index, and `read.parquet()` with zero paths cannot infer a
    // schema. Read one (pruned) file under `lit(false)` instead: footer
    // metadata only, zero rows, correct schema.
    val df =
      if (files.nonEmpty)
        spark.read.parquet(files.toIndexedSeq: _*)
          .filter(col(xCol).between(xLo, xHi) && col(yCol).between(yLo, yHi))
      else {
        val any = stats.select(col("file")).limit(1).collect()
        require(any.nonEmpty, "file-stats index is empty — nothing was written")
        spark.read.parquet(any(0).getString(0)).filter(lit(false))
      }
    (df, files.length)
  }

  /** Reference implementation for specs: interleave on plain Longs. */
  private[graft] def zkeyRef(x: Long, y: Long, bits: Int = 16): Long = {
    val mask = (1L << bits) - 1
    val (xm, ym) = (x & mask, y & mask)
    (0 until bits).foldLeft(0L) { (acc, i) =>
      acc | (((xm >> i) & 1L) << (2 * i)) | (((ym >> i) & 1L) << (2 * i + 1))
    }
  }
}
