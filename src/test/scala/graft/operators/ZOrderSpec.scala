package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  /** The zo2 write: `df` clustered on (x, y) at `path`, then its per-file
    * stats.
    */
  private def writeClustered(df: org.apache.spark.sql.DataFrame,
                             path: String, numFiles: Int, bits: Int) = {
    ZOrder.cluster(df, "x", "y", numFiles, bits)
      .write.mode("overwrite").parquet(path)
    ZOrder.fileStats(spark, path, "x", "y")
  }

  test("column zkey matches the reference interleave on random inputs") {
    val rnd = new scala.util.Random(42)
    val cases = Seq.fill(200)((rnd.nextLong().abs % 65536,
      rnd.nextLong().abs % 65536)) :+ ((0L, 0L)) :+ ((65535L, 65535L))
    val got = cases.toDF("x", "y")
      .select($"x", $"y", ZOrder.zkey($"x", $"y").as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) =>
      assert(z == ZOrder.zkeyRef(x, y), s"($x,$y)")
    }
  }

  test("zkey bit-interleave basics") {
    // x=0b11, y=0b01 → even bits 1,1; odd bits 1,0 → 0b0111 = 7
    assert(ZOrder.zkeyRef(3, 1) == 7L)
    assert(ZOrder.zkeyRef(0, 1) == 2L) // y bit 0 lands at position 1
    assert(ZOrder.zkeyRef(1, 0) == 1L)
  }

  test("clustering tightens per-file min/max spans on BOTH dimensions") {
    // uniform grid: after z-clustering into 16 ranges, each range's x-span
    // and y-span must be far below the global span (that's what makes
    // row-group skipping fire); a single-column sort would leave the other
    // dimension's span at ~full width in every file.
    val n = 1 << 12
    val df = (0 until n).map(i => (i % 64L, i / 64L)).toDF("x", "y")
    val spans = ZOrder.cluster(df, "x", "y", numFiles = 16, bits = 6)
      .withColumn("part", spark_partition_id())
      .groupBy("part")
      .agg((max($"x") - min($"x")).as("xs"), (max($"y") - min($"y")).as("ys"))
      .as[(Int, Long, Long)].collect()
    assert(spans.length == 16)
    val (maxXs, maxYs) = (spans.map(_._2).max, spans.map(_._3).max)
    // global span is 63 in each dimension; z-clustered files must be ≤ half
    assert(maxXs <= 32, s"x spans: ${spans.map(_._2).toSeq}")
    assert(maxYs <= 32, s"y spans: ${spans.map(_._3).toSeq}")
  }

  test("z-clustered box read SKIPS files; unclustered reads them all") {
    // the end-to-end payoff: same data written z-clustered vs round-robin,
    // same 10%×10% box predicate — the clustered layout's per-file min/max
    // prunes most files, the unclustered one can prove nothing and reads
    // all 16; both reads return exactly the plain-filter answer.
    val dir = java.nio.file.Files.createTempDirectory("graft-zskip").toString
    try {
      val df = spark.range(1 << 14).select(
        pmod(hash($"id"), lit(1000)).cast("long").as("x"),
        pmod(hash($"id" * 7), lit(1000)).cast("long").as("y"))
      val want = df.filter($"x".between(100, 199) && $"y".between(300, 399))
        .groupBy().agg(count(lit(1)), sum($"x"), sum($"y"))
        .as[(Long, Long, Long)].head()

      val zStats = writeClustered(df, s"$dir/z", numFiles = 16, bits = 10)
      df.repartition(16).write.parquet(s"$dir/flat")
      val flatStats = ZOrder.fileStats(spark, s"$dir/flat", "x", "y")

      val (zDf, zFiles) = ZOrder.readPruned(zStats, "x", "y",
        100, 199, 300, 399)
      val (flatDf, flatFiles) = ZOrder.readPruned(flatStats, "x", "y",
        100, 199, 300, 399)
      assert(flatFiles == 16, s"round-robin files all span the full range")
      assert(zFiles <= 8, s"z-clustered read should skip most files: $zFiles")
      for (got <- Seq(zDf, flatDf)) {
        val g = got.groupBy().agg(count(lit(1)), sum($"x"), sum($"y"))
          .as[(Long, Long, Long)].head()
        assert(g == want)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("pruned box reads equal the full filter on random boxes (property)") {
    // random data + random boxes (overlapping, disjoint, degenerate,
    // fully-outside → the zero-surviving-files schema path): the stats
    // prune is conservative, never authoritative — every box must read
    // back exactly the full-scan filter
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val dataGen = Gen.listOfN(40,
      Gen.zip(Gen.choose(0L, 63L), Gen.choose(0L, 63L)))
      .map(_.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) })
    val boxGen = Gen.listOfN(4, for {
      x1 <- Gen.choose(-5L, 70L); x2 <- Gen.choose(-5L, 70L)
      y1 <- Gen.choose(-5L, 70L); y2 <- Gen.choose(-5L, 70L)
    } yield (math.min(x1, x2), math.max(x1, x2),
      math.min(y1, y2), math.max(y1, y2)))
    val prop = Prop.forAll(dataGen, boxGen) { (rows, boxes) =>
      val dir = java.nio.file.Files.createTempDirectory("graft-zprop").toString
      try {
        val df = rows.toDF("id", "x", "y")
        val stats = writeClustered(df, s"$dir/z", numFiles = 4, bits = 6)
        val nFiles = stats.count()
        boxes.forall { case (xLo, xHi, yLo, yHi) =>
          val (got, files) = ZOrder.readPruned(stats, "x", "y",
            xLo, xHi, yLo, yHi)
          val gotIds = got.select("id").as[Long].collect().toSet
          val expected = rows.collect {
            case (id, x, y)
              if x >= xLo && x <= xHi && y >= yLo && y <= yHi => id
          }.toSet
          gotIds == expected && files <= nFiles
        }
      } finally org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
    }
    val params = SCTest.Parameters.default.withMinSuccessfulTests(4)
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString) // status carries the counterexample
  }
}
