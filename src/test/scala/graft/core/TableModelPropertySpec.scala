package graft.core

import graft.SparkSpec
import TableStoreFixtures._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import java.util.concurrent.atomic.AtomicReference

/** Model-based randomized testing of the managed-table mutation layer:
  * random SEQUENCES of upserts, compactions, schema widenings (full
  * rewrite), in-place evolutions (evolveSchema upserts riding ADD
  * COLUMNS) and lease-serialized concurrent writer pairs must leave the
  * table equal to a trivial in-memory key→value map. The per-transition specs
  * (TableUpsertSpec/CompactionSpec/WriterLeaseSpec) cover each edge in
  * isolation; this covers their COMPOSITIONS — an upsert over a
  * just-compacted table, a compaction over a partition a previous upsert
  * emptied, keys moving partitions repeatedly, upserts continuing after
  * a schema widening, two cooperating writers queueing on the same
  * table — where state left by one operation is the next one's input.
  * Runs the same sequence against a plain table and a partitioned one
  * (partition derived from the value, so every update can MOVE its key
  * across partitions — the stale-row/emptied-partition path on every
  * step).
  *
  * Round-17's first random sequence found compactTable flattening
  * partitioned layouts; round-18's extension to evolution sequences
  * found the upsert merge silently DROPPING incoming columns the target
  * lacks (both merge paths project onto the target's columns) — now a
  * loud refusal, pinned by the UpExtraCol transition here.
  */
class TableModelPropertySpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions.col

  // 3 sequences keeps CI time bounded; a defect hunt runs longer with
  // GRAFT_FUZZ_N (this spec found real defects in rounds 17 AND 18 —
  // longer sessions are how its remaining tail gets explored)
  private val params = SCTest.Parameters.default.withMinSuccessfulTests(
    sys.env.get("GRAFT_FUZZ_N").map(_.toInt).getOrElse(3))

  private sealed trait Op
  private final case class Up(batch: List[(Long, Long)]) extends Op
  private case object CompactAll extends Op
  private final case class CompactPart(p: Long) extends Op
  /** Overwrite-rewrite with a WIDENED schema (adds `w`) — the managed-
    * table form of a schema-evolution step; later upserts carry `w` too.
    */
  private final case class Widen(batch: List[(Long, Long)]) extends Op
  /** An upsert whose batch carries a column the target lacks — must be
    * refused loudly (the silent-drop defect this fuzzer extension found).
    */
  private final case class UpExtraCol(batch: List[(Long, Long)]) extends Op
  /** The round-19 evolution capability: an upsert carrying a NEW column
    * `z` with `evolveSchema = true` — the target widens in place
    * (metadata-only ADD COLUMNS), batch rows carry z, every
    * not-yet-rewritten row reads z as NULL. Later transitions keep
    * carrying z, so the fuzzer explores compactions/concurrent writers
    * over the evolved schema too.
    */
  private final case class EvolveUp(batch: List[(Long, Long)]) extends Op
  /** Two cooperating upserts (disjoint key spaces) racing under
    * `serializeWriters = true` — both must queue and land.
    */
  private final case class ConcurrentUps(a: List[(Long, Long)],
                                         b: List[(Long, Long)]) extends Op
  /** An upsert racing a compaction, both lease-serialized — without the
    * lease this pair trips the compaction race guard; with it, both
    * complete in either order (compaction is content-neutral).
    */
  private final case class UpVsCompact(batch: List[(Long, Long)]) extends Op
  /** A crashed predecessor's STALE writer lease: its marker sits at an
    * mtime past leaseMs — the next serialized writer must steal it,
    * complete normally, and leave no marker behind (round-19 extension:
    * the lease transitions only covered the live happy path).
    */
  private final case class StaleLease(batch: List[(Long, Long)]) extends Op
  /** A compactPartitions that died BEFORE its publish began: `__compact`
    * holds a pre-crash stage, later upserts land against the intact
    * live table, and a resumed compaction must DISCARD the stage —
    * re-publishing it would silently revert those upserts (the REAL
    * defect this round-19 extension found).
    */
  private final case class CrashedStage(batch: List[(Long, Long)]) extends Op
  /** A compactPartitions that died MID-PUBLISH: stage + `__publish`
    * marker standing, one live partition left short. Every mutator must
    * refuse while the marker stands, and the resumed compaction must
    * restore exactly the staged content.
    */
  private case object CrashedPublish extends Op
  /** Round-20 evolution axis: the same batch arrives fully INT-typed
    * (the reference's per-file inferSchema shape) against the LONG
    * target — must land via the safe upcast with the target schema
    * UNCHANGED on both twins; then a DOUBLE-typed `v` (no safe path
    * back to long) must refuse loudly on both, mutating nothing.
    */
  private final case class TypeDrift(batch: List[(Long, Long)]) extends Op

  private def batchGen(keyLo: Long, keyHi: Long): Gen[List[(Long, Long)]] =
    Gen.listOfN(6, Gen.zip(Gen.choose(keyLo, keyHi), Gen.choose(0L, 99L)))
      .map(_.distinctBy(_._1))

  private val opGen: Gen[Op] = Gen.frequency(
    5 -> batchGen(0L, 9L).map(Up.apply),
    2 -> Gen.const(CompactAll),
    2 -> Gen.choose(0L, 2L).map(CompactPart.apply),
    2 -> batchGen(0L, 9L).map(Widen.apply),
    1 -> batchGen(0L, 9L).map(UpExtraCol.apply),
    2 -> batchGen(0L, 9L).map(EvolveUp.apply),
    1 -> Gen.zip(batchGen(0L, 9L), batchGen(100L, 109L))
      .map { case (a, b) => ConcurrentUps(a, b) },
    1 -> batchGen(0L, 9L).map(UpVsCompact.apply),
    1 -> batchGen(0L, 9L).map(StaleLease.apply),
    1 -> batchGen(0L, 9L).map(CrashedStage.apply),
    1 -> Gen.const(CrashedPublish),
    2 -> batchGen(0L, 9L).map(TypeDrift.apply))

  // first op is always an upsert so the table exists before compactions
  private val seqGen: Gen[List[Op]] = for {
    first <- opGen.retryUntil(_.isInstanceOf[Up])
    rest <- Gen.listOfN(5, Gen.frequency(
      4 -> opGen.retryUntil(_.isInstanceOf[Up]),
      5 -> opGen))
  } yield first :: rest

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  /** The table row for a batch: p derived from v (so updates MOVE keys
    * across partitions), w = v*10 once the schema is widened, z = v+7
    * once an EvolveUp introduced it.
    */
  private def frame(batch: List[(Long, Long)], wide: Boolean,
                    zed: Boolean = false) = {
    val base = batch.toDF("id", "v").withColumn("p", col("v") % 3)
    val w = if (wide) base.withColumn("w", col("v") * 10) else base
    if (zed) w.withColumn("z", col("v") + 7) else w
  }

  private def inThread(f: => Unit): (Thread, AtomicReference[Throwable]) = {
    val err = new AtomicReference[Throwable]
    val t = new Thread(() => try f catch { case e: Throwable => err.set(e) })
    t.start()
    (t, err)
  }

  private def joinAll(ts: (Thread, AtomicReference[Throwable])*): Unit = {
    ts.foreach(_._1.join(120000L))
    ts.foreach { case (t, _) =>
      assert(!t.isAlive, "lease-serialized writer pair deadlocked") }
    ts.foreach { case (_, e) => if (e.get != null) throw e.get }
  }

  test("random upsert/compact/widen/concurrent sequences == the " +
      "in-memory map (plain + partitioned)") {
    check(Prop.forAll(seqGen) { ops =>
      val plain = new TableStore(spark, PipelineConfig(
        catalog = "graftc", schema = s"tmp_${System.nanoTime()}"))
      val parted = new TableStore(spark, PipelineConfig(
        catalog = "graftc", schema = s"tmq_${System.nanoTime()}"))
      try {
        var model = Map.empty[Long, Long]
        var created = false
        var wide = false
        var zed = false // z column exists (EvolveUp ran since last Widen)
        var zKeys = Set.empty[Long] // keys whose row carries non-null z
        def markZ(keys: Iterable[Long]): Unit =
          if (zed) zKeys = zKeys ++ keys
        def upBoth(batch: List[(Long, Long)]): Unit = {
          val df = frame(batch, wide, zed)
          plain.upsert(df, "dim", "t", Seq("id"))
          parted.upsert(df, "dim", "t", Seq("id"))
          model = model ++ batch
          markZ(batch.map(_._1))
        }
        ops.foreach {
          case Up(batch) =>
            if (!created) {
              plain.save(frame(batch, wide), "dim", "t")
              parted.savePartitioned(frame(batch, wide), "dim", "t", Seq("p"))
              created = true
              model = model ++ batch
            } else upBoth(batch)
          case CompactAll if created =>
            Compaction.compactTable(spark, plain.fqn("dim", "t"), 1000L)
            // the layout-correct form for the partitioned twin: compactTable
            // refuses partitioned targets (spec below)
            Compaction.compactPartitions(spark, parted.fqn("dim", "t"),
              "p >= 0", 1000L)
          case CompactPart(p) if created && model.values.exists(_ % 3 == p) =>
            Compaction.compactPartitions(spark, parted.fqn("dim", "t"),
              s"p = $p", 1000L)
          case Widen(batch) =>
            wide = true
            // the overwrite-rewrite resets schema AND content: z (if an
            // EvolveUp introduced it) disappears with the old data
            zed = false
            zKeys = Set.empty
            plain.save(frame(batch, wide), "dim", "t")
            parted.savePartitioned(frame(batch, wide), "dim", "t", Seq("p"))
            created = true
            model = batch.toMap // overwrite-rewrite resets content
          case EvolveUp(batch) if created =>
            // the widening upsert itself: z rides in with evolveSchema —
            // first occurrence ALTERs the target (metadata-only), later
            // ones are plain upserts of the now-known column
            val df = frame(batch, wide, zed = true)
            plain.upsert(df, "dim", "t", Seq("id"), evolveSchema = true)
            parted.upsert(df, "dim", "t", Seq("id"), evolveSchema = true)
            model = model ++ batch
            zed = true
            markZ(batch.map(_._1))
          case UpExtraCol(batch) if created =>
            // a batch carrying a column the target lacks must refuse
            // loudly on BOTH merge paths and leave everything unchanged
            val df = frame(batch, wide, zed)
              .withColumn("zz", col("v") + 1)
            val e1 = intercept[IllegalArgumentException] {
              plain.upsert(df, "dim", "t", Seq("id"))
            }
            val e2 = intercept[IllegalArgumentException] {
              parted.upsert(df, "dim", "t", Seq("id"))
            }
            assert(e1.getMessage.contains("silently") &&
              e2.getMessage.contains("silently"),
              s"extra-column refusal must name the silent drop: " +
                s"${e1.getMessage}")
          case ConcurrentUps(a, b) if created =>
            // disjoint key spaces, so the final state is order-independent
            Seq(plain, parted).foreach { store =>
              val ta = inThread(store.upsert(frame(a, wide, zed), "dim", "t",
                Seq("id"), serializeWriters = true))
              val tb = inThread(store.upsert(frame(b, wide, zed), "dim", "t",
                Seq("id"), serializeWriters = true))
              joinAll(ta, tb)
            }
            model = model ++ a ++ b
            markZ(a.map(_._1) ++ b.map(_._1))
          case UpVsCompact(batch) if created =>
            val tu = inThread(plain.upsert(frame(batch, wide, zed), "dim",
              "t", Seq("id"), serializeWriters = true))
            val tc = inThread(Compaction.compactTable(spark,
              plain.fqn("dim", "t"), 1000L, serializeWriters = true))
            joinAll(tu, tc)
            val pu = inThread(parted.upsert(frame(batch, wide, zed), "dim",
              "t", Seq("id"), serializeWriters = true))
            val pc = inThread(Compaction.compactPartitions(spark,
              parted.fqn("dim", "t"), "p >= 0", 1000L,
              serializeWriters = true))
            joinAll(pu, pc)
            model = model ++ batch
            markZ(batch.map(_._1))
          case StaleLease(batch) if created =>
            // plant a crashed holder's marker, aged past the lease
            Seq(plain, parted).foreach { store =>
              val lock = WriterLease.lockPath(spark, store.fqn("dim", "t"))
              val fs = lock.getFileSystem(
                spark.sparkContext.hadoopConfiguration)
              val out = fs.create(lock, true)
              out.writeBytes("dead-holder-token")
              out.close()
              fs.setTimes(lock, System.currentTimeMillis() - 11 * 60 * 1000L,
                -1L)
              store.upsert(frame(batch, wide, zed), "dim", "t", Seq("id"),
                serializeWriters = true)
              assert(!fs.exists(lock),
                "stolen stale lease must be released after the steal")
            }
            model = model ++ batch
            markZ(batch.map(_._1))
          case CrashedStage(batch) if created =>
            val fqn = parted.fqn("dim", "t")
            // a predecessor staged the full slice, then died pre-publish
            spark.table(fqn).write.format("parquet")
              .partitionBy("p").saveAsTable(s"${fqn}__compact")
            // live stays authoritative: upserts land normally meanwhile
            upBoth(batch)
            // the resume must discard the stale stage, never revert
            Compaction.compactPartitions(spark, fqn, "p >= 0", 1000L)
          case CrashedPublish if created && model.nonEmpty =>
            val fqn = parted.fqn("dim", "t")
            // a predecessor staged, verified, created its marker, then
            // died mid-overwrite leaving one partition short
            spark.table(fqn).write.format("parquet")
              .partitionBy("p").saveAsTable(s"${fqn}__compact")
            spark.sql(s"CREATE TABLE ${fqn}__publish (pending INT) " +
              "USING parquet")
            val shortP = model.values.head % 3
            withConf("spark.sql.sources.partitionOverwriteMode" ->
                "dynamic") {
              spark.table(fqn).where(s"p = $shortP").limit(1)
                .write.mode("overwrite").insertInto(fqn)
            }
            // mutators must refuse while the marker stands
            val e = intercept[IllegalStateException] {
              parted.upsert(frame(List((0L, 0L)), wide, zed), "dim", "t",
                Seq("id"))
            }
            assert(e.getMessage.contains("pending"), e.getMessage)
            // the resume restores exactly the staged (= model) content
            Compaction.compactPartitions(spark, fqn, "p >= 0", 1000L)
          case TypeDrift(batch) if created =>
            val f = frame(batch, wide, zed)
            // all values fit int (v ≤ 99, w ≤ 990, z ≤ 106, p ≤ 2)
            val fInt = f.select(f.columns.toIndexedSeq
              .map(c => col(c).cast("int").as(c)): _*)
            plain.upsert(fInt, "dim", "t", Seq("id"))
            parted.upsert(fInt, "dim", "t", Seq("id"))
            model = model ++ batch
            markZ(batch.map(_._1))
            // the unsafe direction refuses on both twins, touching nothing
            val fBad = f.withColumn("v", col("v").cast("double"))
            Seq(plain, parted).foreach { store =>
              val e = intercept[IllegalArgumentException] {
                store.upsert(fBad, "dim", "t", Seq("id"))
              }
              assert(e.getMessage.contains("safe upcast"), e.getMessage)
            }
          case _ => () // op before the table exists / empty slice
        }
        val gotPlain = plain.load("dim", "t").select("id", "v")
          .as[(Long, Long)].collect()
        val gotParted = parted.load("dim", "t")
          .select("id", "v", "p").as[(Long, Long, Long)].collect()
        // the widened column is fully derived: check it everywhere it
        // exists (both stores share the `wide` flag and the v*10 rule)
        val wOk = !wide || Seq(plain, parted).forall { store =>
          store.load("dim", "t").select("v", "w")
            .as[(Long, Long)].collect().forall(r => r._2 == r._1 * 10)
        }
        // the evolved column: rows (re)written since the EvolveUp carry
        // z = v+7; every pre-evolution row must still read NULL — the
        // metadata-only ALTER moved no data, so nothing may have
        // invented a value
        val zOk = !zed || Seq(plain, parted).forall { store =>
          store.load("dim", "t").select("id", "v", "z").collect().forall {
            r =>
              if (zKeys(r.getLong(0)))
                !r.isNullAt(2) && r.getLong(2) == r.getLong(1) + 7
              else r.isNullAt(2)
          }
        }
        // target schema is immutable under upsert: whatever mix of
        // int-typed TypeDrift batches landed, id/v stay LONG everywhere
        val typesOk = Seq(plain, parted).forall { store =>
          val sch = store.load("dim", "t").schema
          Seq("id", "v").forall(sch(_).dataType ==
            org.apache.spark.sql.types.LongType)
        }
        // row counts asserted BEFORE the map collapse: a stale-row
        // regression leaves a duplicate id that .toMap would hide
        typesOk &&
          gotPlain.length == model.size &&
          gotPlain.toMap == model &&
          gotParted.length == model.size &&
          gotParted.map(r => r._1 -> r._2).toMap == model &&
          gotParted.forall(r => r._3 == r._2 % 3) && // derived partition moved
          wOk && zOk
      } finally { plain.dropAll(); parted.dropAll() }
    })
  }

  test("compactTable refuses partitioned targets with the layout-preserving fix") {
    val store = new TableStore(spark, PipelineConfig(
      catalog = "graftc", schema = s"tmr_${System.nanoTime()}"))
    try {
      store.savePartitioned(
        Seq((1L, 10L, 1L), (2L, 20L, 2L)).toDF("id", "v", "p"),
        "dim", "t", Seq("p"))
      val e = intercept[IllegalArgumentException] {
        Compaction.compactTable(spark, store.fqn("dim", "t"), 1000L)
      }
      assert(e.getMessage.contains("compactPartitions"))
      // table untouched by the refusal
      assert(store.load("dim", "t").count() == 2)
    } finally store.dropAll()
  }
}
