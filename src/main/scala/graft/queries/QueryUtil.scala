package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.DecimalType

/** Shared helpers for the oracle-checked query catalog.
  *
  * Oracle parity rules (driver compares Spark parquet output vs DuckDB
  * executing `oracleSql` on the same tables, hashing values after sorting
  * columns by name):
  *  - every computed column is explicitly aliased, identically on both sides;
  *  - money aggregates go through DECIMAL so both engines do exact decimal
  *    arithmetic (double-sum reduction order differs between engines);
  *  - double→decimal casts are safe for ARITHMETIC-DERIVED doubles: such a
  *    value is never exactly on a decimal rounding boundary ending in 5
  *    (5·10^-k is not dyadic), so both engines round identically. CAVEAT:
  *    a double holding a float32 (or any low-mantissa value) with exactly
  *    scale+1 fractional bits DOES tie (e.g. 15625/2^7 at scale 6), where
  *    Spark HALF_UP and DuckDB half-even diverge — for float-sourced
  *    columns keep decimal scale ≤6 and verify tie-freedom on the data
  *    (see VectorStats);
  *  - integer aggregates are cast to BIGINT in the oracle SQL (DuckDB SUM on
  *    integers returns HUGEINT, Spark returns LONG).
  */
object QueryUtil {

  /** Per-session memo of source RELATIONS (optimization round 20, guide
    * §1.2 "don't compute things you throw away"): `spark.read.parquet`
    * builds a fresh file index and re-infers the schema on every call —
    * measured ~50 ms and one scheduler job each — and the catalog's 175
    * queries call [[table]] ~350 times per bench pass on the same ~10
    * immutable fixture files. The memo holds the LAZY DataFrame (a
    * logical plan over the files), so every query still scans parquet
    * from scratch when it executes — this caches table METADATA the way
    * a catalog/metastore would, never data or results. Scope guard: only
    * [[table]] goes through it, i.e. only the read-only harness fixtures
    * under the scale-factor dirs; anything written at runtime (managed
    * tables, scoped-tmp state) must keep re-resolving so it sees its own
    * mutations. Keyed weakly per session so test sessions don't leak
    * plans bound to stopped contexts.
    */
  private val relationMemo = new java.util.WeakHashMap[
    SparkSession, scala.collection.concurrent.TrieMap[(String, String), DataFrame]]

  /** Read one harness table (TESTDATA.md) from the given scale-factor dir. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val perSession = relationMemo.synchronized {
      var m = relationMemo.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty
        relationMemo.put(spark, m)
      }
      m
    }
    perSession.getOrElseUpdate((dir, name),
      spark.read.parquet(s"$dir/$name.parquet"))
  }

  /** [[table]]'s memo for the compute-if-absent path STATE (zo2's
    * scoped-tmp index, the one path-state user left; the other stored
    * indexes are managed tables): those directories are write-once per
    * (dataset, app) — the `_SUCCESS`-marker gate under
    * [[stateBuildGate]] builds them exactly once and nothing mutates
    * them afterwards — so their relations (file listing + schema) are as
    * immutable as the fixture tables'. Re-resolving them cost one
    * schema-inference job per read per execution. DO NOT route write-per-run scratch (ex1/ex2's
    * roundtrip outputs) through this: a memoized relation pins the file
    * listing, and a re-written directory would read stale or missing
    * files.
    */
  def stateTable(spark: SparkSession, path: String): DataFrame = {
    val perSession = relationMemo.synchronized {
      var m = relationMemo.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty
        relationMemo.put(spark, m)
      }
      m
    }
    perSession.getOrElseUpdate(("state", path), spark.read.parquet(path))
  }

  /** Normalized `events` view: `ts` as a microsecond timestamp.
    *
    * The harness has shipped this column two ways across dataset
    * generations: nanosecond parquet timestamps (which Spark reads as LONG
    * under `spark.sql.legacy.parquet.nanosAsLong=true`, set in
    * Sessions/Verify/Bench, while DuckDB truncates ns→µs on read) and
    * native `timestamp[us]` (both engines read it directly). Branching on
    * the physical type keeps every event query parity-stable across
    * regenerations: for the LONG shape, `timestamp_micros(ns div 1000)`
    * (floor; epoch is positive here) reproduces DuckDB's truncation
    * exactly; the native shape is cast to TIMESTAMP. The cast matters:
    * `timestamp[us]` without UTC adjustment infers as TIMESTAMP_NTZ, and
    * downstream consumers call `unix_micros`, which accepts only
    * TIMESTAMP. The session timezone is pinned to UTC in Sessions/Verify/
    * Bench, so NTZ→TIMESTAMP is value-exact and preserves DuckDB parity.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(table(spark, dir, "events"))

  /** [[events]]' `ts` normalization over any events frame, batch or
    * stream.
    */
  private[graft] def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    }

  /** Exact-decimal view of a double column (see parity rules above). */
  def dec(c: Column, scale: Int = 2): Column = c.cast(DecimalType(18, scale))

  /** Scratch path for queries that write-then-read inside the plan.
    *
    * Scoped by dataset dir AND Spark application id: the dataset suffix
    * keeps interleaved SF runs apart, the application id keeps CONCURRENT
    * runs against the same dataset (e.g. driver verify racing a local
    * bench) from clobbering each other's overwrite.
    */
  /** JVM-wide gate serializing compute-if-absent STATE BUILDS (the
    * marker check-then-write of zo2's path state and of the mh1/dc2,
    * sim4 and semd2 managed tables, whose marker is the table the
    * publish writes last): two concurrent executions of one entry in
    * the same JVM would otherwise both see the marker absent and
    * overwrite each other's staging mid-write (the bk1/m8 memo race).
    * Coarse by design — a build runs once per (dataset, app) and the
    * gate never wraps the timed query itself; cross-JVM runs are
    * already isolated by the application-id suffix of [[scopedTmp]] and
    * [[scopedTable]].
    */
  val stateBuildGate = new Object

  def scopedTmp(spark: SparkSession, dir: String, tag: String): String =
    System.getProperty("java.io.tmpdir") + s"/graft-$tag-" +
      dir.replaceAll("[^a-z0-9.]", "_") + "-" + spark.sparkContext.applicationId

  /** [[scopedTmp]]'s scoping for a managed-table prefix (the mh1/dc2,
    * sim4 and semd2 stored indexes): the same dataset and application
    * suffixes, as one identifier.
    */
  def scopedTable(spark: SparkSession, dir: String, tag: String): String =
    s"graft_${tag}_${dir}_${spark.sparkContext.applicationId}"
      .replaceAll("[^A-Za-z0-9_]", "_")

  /** Delete the application's scoped state: the [[scopedTmp]]
    * directories and the warehouse directories of the [[scopedTable]]
    * tables, i.e. every `graft*` entry of either directory whose name
    * carries the application id. Call right after `spark.stop()`, which
    * cancels every running stage, so nothing still reads them. A killed
    * run leaves its state behind.
    */
  def deleteScopedState(spark: SparkSession): Unit = {
    val app = spark.sparkContext.applicationId
    val appTag = app.replaceAll("[^A-Za-z0-9_]", "_").toLowerCase
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(System.getProperty("java.io.tmpdir"),
        spark.conf.get("spark.sql.warehouse.dir")).foreach { dir =>
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(conf)
      if (fs.exists(root)) fs.listStatus(root).map(_.getPath)
        .filter { p =>
          p.getName.startsWith("graft") &&
            (p.getName.contains(app) || p.getName.toLowerCase.contains(appTag))
        }
        .foreach(fs.delete(_, true))
    }
  }

  /** Cast every top-level DECIMAL output column to DOUBLE.
    *
    * Decimal arithmetic stays internal (reduction-order determinism), but the
    * driver's hash canonicalizes fixed-scale decimal strings differently from
    * float repr (`710.00` vs `710.0`), so value-exact results hash red when a
    * DECIMAL column reaches the output. A decimal→double cast is exact for
    * the magnitudes here (≤18 digits of which ≤6 fractional → well within
    * 2^53 after scaling), and both engines emit bit-identical doubles.
    * Oracle SQL mirrors this with `CAST(CAST(x AS DECIMAL(18,k)) AS DOUBLE)`.
    */
  def finalizeDecimals(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    // A DECIMAL nested inside a struct/array/map would reach the driver
    // hash uncast and break parity silently — fail loudly instead (no
    // catalog query emits one; this keeps it that way).
    df.schema.fields.foreach { f =>
      require(
        f.dataType.isInstanceOf[DecimalType] || !containsDecimal(f.dataType),
        s"output column '${f.name}': nested DECIMAL in ${f.dataType.sql} — " +
          "cast it to DOUBLE inside the query before finalizeDecimals")
    }
    if (!df.schema.fields.exists(_.dataType.isInstanceOf[DecimalType])) df
    else df.select(df.schema.fields.map { f =>
      f.dataType match {
        case _: DecimalType => col(f.name).cast("double").as(f.name)
        case _              => col(f.name)
      }
    }.toIndexedSeq: _*)
  }

  /** True if a DecimalType occurs anywhere in the (possibly nested) type. */
  def containsDecimal(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: DecimalType     => true
      case s: StructType      => s.fields.exists(f => containsDecimal(f.dataType))
      case a: ArrayType       => containsDecimal(a.elementType)
      case m: MapType         => containsDecimal(m.keyType) || containsDecimal(m.valueType)
      case _                  => false
    }
  }

  /** The planted near-duplicate COPIES shared by the embedding-dedup
    * family (d5b/ctr1/ctr2/semd1/semd2 and their specs): every
    * `vec_id < nIds` duplicated at `vec_id + idShift` with the first
    * component nudged by `nudge` (cosine ≈ 0.9999 — the "same content
    * re-embedded" regime). ONE definition keeps the queries, the specs
    * whose recall measurements justify the literal-TRUE oracles, and the
    * hard-coded oracle SQL constants provably aligned.
    */
  def nearDupCopies(emb: DataFrame, nIds: Long = 50L,
                    idShift: Long = 1000000L, nudge: Float = 0.01f): DataFrame = {
    import org.apache.spark.sql.functions._
    emb.filter(col("vec_id") < nIds)
      .select((col("vec_id") + idShift).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(nudge)).otherwise(x))
          .as("embedding"))
  }

  /** The full planted universe: the corpus plus its [[nearDupCopies]]. */
  def plantNearDups(emb: DataFrame): DataFrame =
    emb.unionByName(nearDupCopies(emb))

  type Q = (SparkSession, String) => DataFrame
}
