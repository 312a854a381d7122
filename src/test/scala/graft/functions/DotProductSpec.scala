package graft.functions

import graft.SparkSpec
import graft.operators.{CosineReference, Similarity}
import org.apache.spark.sql.functions._

/** The one cosine kernel (`Similarity.cosine`: the native dot over norms
  * from [[Similarity.l2NormNative]]) must be BIT-identical to the
  * declarative reference `CosineReference.dot(a,b) / (l2Norm(a) · l2Norm(b))`
  * — the r20 optimization moved the norm work out of the pair loop on
  * the strength of exactly this equality (the dot is the same strict
  * left fold either way), and every similarity operator's oracle hash
  * rides on it. Null semantics must compose identically too: length
  * mismatch, null elements, zero norms, empty vectors.
  */
class DotProductSpec extends SparkSpec {
  import spark.implicits._

  private def compare(rows: Seq[(Seq[java.lang.Double], Seq[java.lang.Double])],
                      tag: String): Unit = {
    val df = rows.toDF("a", "b")
      .select(Similarity.toDouble($"a").as("a"),
        Similarity.toDouble($"b").as("b"))
    val denom = CosineReference.l2Norm($"a") * CosineReference.l2Norm($"b")
    val got = df.select(
      Similarity.cosine($"a", $"b").as("kernel"),
      when(denom === 0d, lit(null).cast("double"))
        .otherwise(CosineReference.dot($"a", $"b") / denom).as("reference"))
      .collect()
    got.zipWithIndex.foreach { case (r, i) =>
      val k = if (r.isNullAt(0)) None else Some(r.getDouble(0))
      val d = if (r.isNullAt(1)) None else Some(r.getDouble(1))
      // bit-level comparison: NaN != NaN under ==, and -0.0 == 0.0 —
      // doubleToRawLongBits pins both
      assert(k.map(java.lang.Double.doubleToRawLongBits) ==
        d.map(java.lang.Double.doubleToRawLongBits),
        s"$tag row $i: kernel=$k reference=$d (a=${rows(i)._1} b=${rows(i)._2})")
    }
  }

  test("bit-identical to the declarative reference on random vectors") {
    val rnd = new scala.util.Random(7)
    def vec(n: Int): Seq[java.lang.Double] =
      Seq.fill(n)(Double.box(rnd.nextDouble() * 2 - 1))
    val rows = (1 to 500).map { _ =>
      val n = 1 + rnd.nextInt(96)
      (vec(n), vec(n))
    }
    compare(rows, "random")
  }

  test("adversarial shapes: zero vectors, nulls, mismatch, denormals") {
    val z: java.lang.Double = 0.0
    val nul: java.lang.Double = null
    val tiny = Double.box(java.lang.Double.MIN_VALUE)
    val big = Double.box(1e300)
    val rows: Seq[(Seq[java.lang.Double], Seq[java.lang.Double])] = Seq(
      (Seq(z, z, z), Seq(Double.box(1.0), Double.box(2.0), Double.box(3.0))),
      (Seq(z, z), Seq(z, z)),
      (Seq.empty, Seq.empty),
      (Seq(Double.box(1.0), nul), Seq(Double.box(1.0), Double.box(2.0))),
      (Seq(Double.box(1.0)), Seq(Double.box(1.0), Double.box(2.0))),
      (Seq(tiny, tiny), Seq(tiny, tiny)),
      (Seq(big, big), Seq(big, big)),
      (Seq(Double.box(-1.0), Double.box(1.0)),
        Seq(Double.box(1.0), Double.box(-1.0))),
      (Seq(Double.box(Double.NaN), Double.box(1.0)),
        Seq(Double.box(1.0), Double.box(1.0))))
    compare(rows, "adversarial")
  }

  test("generic and unsafe codegen arms are bit-identical (r21 dual arm)") {
    // the generated code splits on `instanceof UnsafeArrayData`: an
    // in-stage cast projection feeds the GENERIC arm (GenericArrayData
    // never leaves the codegen stage), while the same vectors routed
    // through an exchange arrive as UnsafeArrayData and take the
    // word-scan + direct-offset kernel — both arms must agree to the bit
    val rnd = new scala.util.Random(11)
    val rows = (1 to 200).map { i =>
      val n = 1 + rnd.nextInt(80)
      def v = Seq.fill(n)(Float.box(rnd.nextFloat() * 2 - 1)) ++
        (if (i % 17 == 0) Seq(null.asInstanceOf[java.lang.Float]) else Nil)
      (i, v, v)
    }
    val df = rows.toDF("id", "af", "bf")
    def bits(d: org.apache.spark.sql.DataFrame): Map[Int, Option[Long]] =
      d.collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) None
        else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(1))))).toMap
    val generic = bits(df.select($"id",
      Similarity.dotNative(Similarity.toDouble($"af"),
        Similarity.toDouble($"bf")).as("d")))
    val unsafe = bits(df
      .select($"id", Similarity.toDouble($"af").as("a"),
        Similarity.toDouble($"bf").as("b"))
      .repartition(3, $"id")
      .select($"id", Similarity.dotNative($"a", $"b").as("d")))
    rows.foreach { case (i, _, _) =>
      assert(generic(i) == unsafe(i), s"row $i: generic=${generic(i)} " +
        s"unsafe=${unsafe(i)}")
      if (i % 17 == 0) assert(generic(i).isEmpty, s"row $i: null element")
    }
  }

  test("generic arm over a vectorized parquet scan (ColumnarArray) is " +
      "the strict ascending left fold") {
    // the arm-equality case above never reaches the generic loop: its
    // in-stage cast already yields UnsafeArrayData. Columns read by the
    // vectorized parquet reader arrive as ColumnarArray, and with no
    // cast in between (array<double> in, the upcast simplified away)
    // the kernel runs its generic per-element loop on them
    val rnd = new scala.util.Random(23)
    val rows = (1 to 300).map { i =>
      val n = 2 + rnd.nextInt(94)
      def v: Seq[java.lang.Double] =
        Seq.fill(n)(Double.box(rnd.nextDouble() * 2 - 1)) ++
          (if (i % 19 == 0) Seq(null.asInstanceOf[java.lang.Double]) else Nil)
      (i, v, v)
    }
    def fold(a: Seq[java.lang.Double], b: Seq[java.lang.Double]): Option[Long] =
      if (a.exists(_ == null) || b.exists(_ == null)) None
      else Some(java.lang.Double.doubleToRawLongBits(
        a.indices.foldLeft(0.0)((acc, k) => acc + a(k) * b(k))))
    val dir = java.nio.file.Files.createTempDirectory("graft-dot-scan").toString
    try {
      rows.toDF("id", "a", "b").coalesce(1)
        .write.mode("overwrite").parquet(dir)
      withConf("spark.sql.parquet.enableVectorizedReader" -> "true",
        "spark.sql.parquet.enableNestedColumnVectorizedReader" -> "true") {
        val scored = spark.read.parquet(dir)
          .select($"id", Similarity.dotNative($"a", $"b").as("d"))
        val plan = scored.queryExecution.executedPlan.toString
        assert(plan.contains("ColumnarToRow"),
          s"expected a vectorized scan feeding the kernel:\n$plan")
        val got = scored.collect().map(r => r.getInt(0) ->
          (if (r.isNullAt(1)) None
           else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(1)))))
          .toMap
        rows.foreach { case (i, a, b) =>
          assert(got(i) == fold(a, b), s"row $i: kernel=${got(i)} " +
            s"fold=${fold(a, b)}")
        }
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }

  test("dot_product null semantics: mismatch and null elements yield null") {
    val df = Seq(
      (Seq(1.0, 2.0), Seq(3.0, 4.0))
    ).toDF("a", "b")
    val ok = df.select(Similarity.dotNative($"a", $"b")).head().getDouble(0)
    assert(ok == 11.0)
    val mm = Seq((Seq(1.0), Seq(1.0, 2.0))).toDF("a", "b")
      .select(Similarity.dotNative($"a", $"b")).head()
    assert(mm.isNullAt(0))
  }
}
