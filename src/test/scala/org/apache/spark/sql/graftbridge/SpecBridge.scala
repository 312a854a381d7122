package org.apache.spark.sql.graftbridge

/** The spec-side half of [[Bridge]]: session internals that specs
  * inspect and no library code path needs.
  */
object SpecBridge {

  /** Register the functions `ext` has collected into the session's
    * function registry — what a session built with `ext` in
    * `spark.sql.extensions` does at start-up, so a spec can resolve the
    * injected builders on an already-running session.
    */
  def registerFunctions(ext: org.apache.spark.sql.SparkSessionExtensions,
                        spark: org.apache.spark.sql.SparkSession): Unit =
    ext.registerFunctions(spark.sessionState.functionRegistry)

  /** True when the session's CacheManager holds no cached plans — the
    * signal the cache-leak sweep needs ([[graft]]'s persist discipline:
    * an operator that `.persist()`s during construction must either
    * unpersist before returning or document the cache as part of its
    * contract). `DataFrame.persist` REGISTERS in the CacheManager
    * eagerly (materialization is lazy), so this is a plan-time check —
    * no public Catalog API exposes "anything cached?", hence the
    * bridge.
    */
  def cacheIsEmpty(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** Waits until every posted listener event has been delivered, so a
    * spec's listener counts read after an action are complete
    * (`listenerBus` is package-private to Spark).
    */
  def drainListeners(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
