package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one publish and read path for the multi-table managed indexes
  * (LSH, IVF, semantic, BM25 postings), the index form of
  * `utilities.py:20-39`'s save/load helper. [[publish]] drops every
  * table of the index, the completeness marker (last in write order)
  * first, then writes them in order, so a crash between any two steps
  * leaves the previous index untouched or a prefix without its marker,
  * which [[read]] refuses loudly — never a readable mix of two builds.
  * Each drop and write is a [[BuildSteps.step]].
  */
object IndexTables {

  /** Publish an index as managed tables `<prefix>_<table>`. `tables` is
    * in write order, marker last; each write receives its table's full
    * name. Steps are labelled `<family>:drop_<table>` and
    * `<family>:write_<table>`.
    */
  def publish(spark: SparkSession, prefix: String, family: String)(
      tables: (String, String => Unit)*): Unit = {
    TableStore.requireTablePrefix(prefix)
    tables.reverseIterator.foreach { case (t, _) =>
      BuildSteps.step(s"$family:drop_$t")
      drop(spark, s"${prefix}_$t")
    }
    tables.foreach { case (t, write) =>
      BuildSteps.step(s"$family:write_$t")
      write(s"${prefix}_$t")
    }
  }

  /** A write of `df` as a parquet table bucketed and sorted by `cols`.
    * A join rides the buckets only when its keys are exactly `cols`.
    */
  def bucketed(df: DataFrame, nBuckets: Int, cols: String*): String => Unit = {
    require(nBuckets >= 1, s"nBuckets must be positive: $nBuckets")
    name => df.write.format("parquet")
      .bucketBy(nBuckets, cols.head, cols.tail: _*)
      .sortBy(cols.head, cols.tail: _*)
      .saveAsTable(name)
  }

  /** A write of a small `df` (centroids, a meta row) as one parquet file. */
  def single(df: DataFrame): String => Unit =
    name => df.coalesce(1).write.format("parquet").saveAsTable(name)

  /** One stored table of an index, validated before any consumer reads
    * it: the prefix is an identifier, the table (or a view standing in
    * for it) exists, and its columns are exactly `cols`.
    */
  def read(spark: SparkSession, prefix: String, family: String,
           table: String, cols: String*): DataFrame = {
    TableStore.requireTablePrefix(prefix)
    val name = s"${prefix}_$table"
    require(spark.catalog.tableExists(name),
      s"$family index table $name does not exist (missing or partial build)")
    val df = spark.table(name)
    require(df.columns.toSet == cols.toSet,
      s"$family $table table needs (${cols.mkString(", ")}), got " +
        df.columns.mkString(","))
    df
  }

  /** Drop a table from the catalog, or — when the catalog does not know
    * it — its orphaned default location. An in-memory catalog forgets a
    * managed table when the process ends but its directory stays in the
    * warehouse, and `saveAsTable` then refuses the rebuild with
    * LOCATION_ALREADY_EXISTS.
    */
  private def drop(spark: SparkSession, name: String): Unit =
    if (spark.catalog.tableExists(name)) spark.sql(s"DROP TABLE $name")
    else {
      val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
        .defaultTablePath(spark.sessionState.sqlParser.parseTableIdentifier(name)))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
}
