package graft.core

/** Spec cleanup for a [[TableStore]]: `import TableStoreFixtures._`, then
  * `store.dropAll()`.
  */
object TableStoreFixtures {

  implicit final class StoreCleanup(private val store: TableStore)
      extends AnyVal {

    /** Drops the store's database with every table in it, then removes
      * the database directory, so a stranded table location cannot
      * outlive the spec that made it.
      */
    def dropAll(): Unit = {
      val spark = store.spark
      val db = store.db
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
      val dbDir = new org.apache.hadoop.fs.Path(
        s"${spark.conf.get("spark.sql.warehouse.dir")}/${db.toLowerCase}.db")
      val fs = dbDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(dbDir)) fs.delete(dbDir, true)
    }
  }
}
