package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupClustersSpec extends SparkSpec {
  import spark.implicits._

  private def got(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    DedupClusters.canonicalize(pairs.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap

  test("transitive chain collapses to one cluster with the min id") {
    // 1-2, 2-3, 3-4 are one component even though (1,4) is no pair;
    // {10,11} is a separate cluster
    assert(got(Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("star and reversed/duplicated edges canonicalize the same") {
    // hub 5 with spokes; edges arrive in both orientations and duplicated
    val star = Seq((5L, 9L), (9L, 5L), (5L, 7L), (5L, 8L), (5L, 7L))
    assert(got(star) == Map(5L -> 5L, 7L -> 5L, 8L -> 5L, 9L -> 5L))
  }

  test("long chain needs multiple propagation rounds and still converges") {
    val chain = (1L until 12L).map(i => (i, i + 1))
    val g = got(chain)
    assert(g.keySet == (1L to 12L).toSet && g.values.forall(_ == 1L))
  }

  test("maxIters too small for the diameter fails loudly, not wrongly") {
    val chain = (1L until 12L).map(i => (i, i + 1))
    val ex = intercept[IllegalArgumentException] {
      DedupClusters.canonicalize(chain.toDF("doc_a", "doc_b"),
        "doc_a", "doc_b", maxIters = 2).collect()
    }
    assert(ex.getMessage.contains("converge"))
  }

  test("string ids keep their type: lexicographic canonical, no silent cast") {
    val pairs = Seq(("url-b", "url-a"), ("url-b", "url-c"), ("zzz", "yyy"))
      .toDF("doc_a", "doc_b")
    val got = DedupClusters.canonicalize(pairs, "doc_a", "doc_b")
      .as[(String, String)].collect().toMap
    assert(got == Map("url-a" -> "url-a", "url-b" -> "url-a",
      "url-c" -> "url-a", "yyy" -> "yyy", "zzz" -> "yyy"))
  }

  test("mismatched id column types fail loudly") {
    val pairs = Seq((1L, "x")).toDF("doc_a", "doc_b")
    val ex = intercept[IllegalArgumentException] {
      DedupClusters.canonicalize(pairs, "doc_a", "doc_b")
    }
    assert(ex.getMessage.contains("share a type"))
  }

  test("layout-invariant: repartitioned pair set yields identical clusters") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L), (9L, 8L), (20L, 21L))
    val a = got(pairs)
    val b = DedupClusters.canonicalize(
      pairs.toDF("doc_a", "doc_b").repartition(7), "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("pointer jumping closes a 1000-link chain in O(log d) rounds") {
    // plain propagation needs ~1000 rounds here and must fail loudly at
    // maxIters = 20; the shortcutting variant converges well inside it
    val chain = (1L until 1000L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    intercept[IllegalArgumentException] {
      DedupClusters.canonicalize(chain, "doc_a", "doc_b").collect()
    }
    val g = DedupClusters.canonicalize(chain, "doc_a", "doc_b",
      pointerJumping = true)
      .as[(Long, Long)].collect().toMap
    assert(g.keySet == (1L to 1000L).toSet && g.values.forall(_ == 1L))
  }

  test("pointer jumping matches plain propagation on mixed graphs") {
    // local-min vertices (2 in 2-9-1) stall pure label-of-label chasing;
    // the hybrid round must still reach the component min
    val pairs = Seq((2L, 9L), (9L, 1L), (5L, 7L), (30L, 31L), (31L, 32L))
    val plain = got(pairs)
    val jumped = DedupClusters.canonicalize(
      pairs.toDF("doc_a", "doc_b"), "doc_a", "doc_b", pointerJumping = true)
      .as[(Long, Long)].collect().toMap
    assert(jumped == plain)
    assert(jumped(2L) == 1L)
  }

  private def inc(state: Map[Long, Long], batch: Seq[(Long, Long)])
      : Map[Long, Long] =
    DedupClusters.incrementalCanonicalize(
      state.toSeq.toDF("member_id", "canonical_id"),
      batch.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap

  test("incremental equals full recompute over the union pair set") {
    val old = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L))
    val batch = Seq((3L, 50L), (50L, 51L), (11L, 20L), (60L, 61L))
    assert(inc(got(old).map(identity), batch) == got(old ++ batch))
  }

  test("untouched components pass through byte-identical") {
    val old = Seq((1L, 2L), (10L, 11L), (30L, 31L))
    val state = got(old)
    val out = inc(state, Seq((2L, 5L)))
    // {10,11} and {30,31} were not touched: exact rows of the old state
    assert(out.view.filterKeys(Set(10L, 11L, 30L, 31L)).toMap ==
      state.view.filterKeys(Set(10L, 11L, 30L, 31L)).toMap)
    assert(out(5L) == 1L && out(2L) == 1L && out(1L) == 1L)
  }

  test("a batch chain merges two existing clusters to the global min") {
    val state = got(Seq((1L, 2L), (7L, 8L)))
    // 2—100—7: bridges the {1,2} and {7,8} clusters through a new doc
    val out = inc(state, Seq((2L, 100L), (100L, 7L)))
    assert(out == Map(1L -> 1L, 2L -> 1L, 7L -> 1L, 8L -> 1L, 100L -> 1L))
  }

  test("batch-only vertices (no existing cluster) form fresh clusters") {
    val state = got(Seq((1L, 2L)))
    val out = inc(state, Seq((200L, 201L)))
    assert(out == Map(1L -> 1L, 2L -> 1L, 200L -> 200L, 201L -> 200L))
  }

  test("incremental state mismatch fails loudly") {
    val bad = Seq((1L, 2L)).toDF("a", "b")
    val ex = intercept[IllegalArgumentException] {
      DedupClusters.incrementalCanonicalize(bad,
        Seq((1L, 2L)).toDF("doc_a", "doc_b"), "doc_a", "doc_b")
    }
    assert(ex.getMessage.contains("member_id"))
    val typed = Seq(("a", "a")).toDF("member_id", "canonical_id")
    val ex2 = intercept[IllegalArgumentException] {
      DedupClusters.incrementalCanonicalize(typed,
        Seq((1L, 2L)).toDF("doc_a", "doc_b"), "doc_a", "doc_b")
    }
    assert(ex2.getMessage.contains("type mismatch"))
  }

  test("reliable checkpoint: flag requires a checkpoint dir, then matches") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty)
    val ex = intercept[IllegalArgumentException] {
      DedupClusters.canonicalize(pairs, "doc_a", "doc_b",
        useReliableCheckpoint = true)
    }
    assert(ex.getMessage.contains("setCheckpointDir"))
    sc.setCheckpointDir(tempDir("graft-ckpt").getAbsolutePath)
    try {
      val g = DedupClusters.canonicalize(pairs, "doc_a", "doc_b",
        useReliableCheckpoint = true)
        .as[(Long, Long)].collect().toMap
      assert(g == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    } finally {
      // the shared session outlives this suite: clear the dir setting
      sc.setCheckpointDir(null)
    }
  }
}

class CorpusBudgetSpec extends SparkSpec {
  import spark.implicits._

  test("keeps the best-first prefix within budget; first doc always admitted") {
    val df = Seq(
      ("s1", 1L, 0.9, 400L), ("s1", 2L, 0.8, 400L), ("s1", 3L, 0.7, 400L),
      ("s2", 4L, 0.5, 5000L), ("s2", 5L, 0.4, 10L))
      .toDF("source", "doc_id", "q", "n_tokens")
    val kept = CorpusBudget.budgetFill(df, "source", "n_tokens", 1000L,
      Seq(col("q").desc, col("doc_id")))
      .select("source", "doc_id", "cum_tokens")
      .as[(String, Long, Long)].collect().toSet
    // s1: 400, 800 fit; 1200 does not. s2: the 5000-token doc overshoots
    // alone but is admitted (first of its group); the next is not.
    assert(kept == Set(("s1", 1L, 400L), ("s1", 2L, 800L), ("s2", 4L, 5000L)))
  }

  test("zero-token leaders don't open the budget to an overshooting successor") {
    // top-ranked doc has 0 tokens; the 5000-token second doc's cum equals
    // its own tokens but it is NOT the group's first — it must be dropped
    // (admission is by rank, not by the cum==own coincidence)
    val df = Seq(("s", 1L, 0.9, 0L), ("s", 2L, 0.8, 5000L))
      .toDF("source", "doc_id", "q", "n_tokens")
    val kept = CorpusBudget.budgetFill(df, "source", "n_tokens", 1000L,
      Seq(col("q").desc, col("doc_id")))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L))
  }

  test("order ties break deterministically and the fill is layout-invariant") {
    val rows = (0L until 100L).map(i => ("s", i, 1.0, 10L))
    val pick = (df: org.apache.spark.sql.DataFrame) =>
      CorpusBudget.budgetFill(df, "source", "n_tokens", 250L,
        Seq(col("q").desc, col("doc_id")))
        .select("doc_id").as[Long].collect().toSet
    val a = pick(rows.toDF("source", "doc_id", "q", "n_tokens"))
    val b = pick(rows.toDF("source", "doc_id", "q", "n_tokens").repartition(5))
    assert(a == (0L until 25L).toSet && a == b) // equal q → id order decides
  }

  test("reserved output names on the input are rejected, not overwritten") {
    val base = Seq(("s", 1L, 10L)).toDF("source", "doc_id", "n_tokens")
    Seq("_bf_rn", "cum_tokens").foreach { r =>
      val ex = intercept[IllegalArgumentException] {
        CorpusBudget.budgetFill(base.withColumn(r, lit(0L)),
          "source", "n_tokens", 100L, Seq(col("doc_id")))
      }
      assert(ex.getMessage.contains(r))
    }
    Seq("_bf_score", "_bf_band", "_bf_cuts", "_bf_minb").foreach { r =>
      val ex = intercept[IllegalArgumentException] {
        CorpusBudget.budgetFillByScore(base.withColumn(r, lit(0L)),
          "source", "n_tokens", 100L, col("doc_id"), Seq(col("doc_id")))
      }
      assert(ex.getMessage.contains(r))
    }
  }

  // deterministic adversarial corpus for the pruned path: skewed group
  // sizes, a NULL group key (one window partition — the prune must keep
  // it), tied scores, null scores, zero-token rows, and a first doc that
  // alone overshoots — every edge the equality proof reasons about
  private def adversarialDocs = {
    val rows = for {
      g <- 0 until 6
      i <- 0 until (if (g == 0) 3000 else 40 * (g + 1))
    } yield {
      val h = ((i * 2654435761L + g * 40503L) & 0x7fffffffL)
      val q: java.lang.Double =
        if (h % 11 == 0) null                      // null scores rank last
        else Double.box((h % 97).toDouble / 97.0)  // ~97 values → many ties
      val t = if (h % 7 == 0) 0L                   // zero-token rows
              else if (g == 3 && i == 0) 50000L    // lone overshooter
              else (h % 50) + 1L
      val src = if (g == 5) null else s"s$g"       // null group key
      (src, g * 100000L + i, q, t)
    }
    rows.toDF("source", "doc_id", "q", "n_tokens")
  }

  test("pruned fill equals the generic window fill on adversarial data") {
    val df = adversarialDocs
    for (budget <- Seq(1L, 300L, 5000L); buckets <- Seq(2, 16, 64)) {
      val generic = CorpusBudget.budgetFill(df, "source", "n_tokens",
        budget, Seq(col("q").desc, col("doc_id")))
        .select("source", "doc_id", "cum_tokens")
        .as[(String, Long, Long)].collect().toSet
      val pruned = CorpusBudget.budgetFillByScore(df, "source", "n_tokens",
        budget, col("q"), Seq(col("doc_id")), buckets)
        .select("source", "doc_id", "cum_tokens")
        .as[(String, Long, Long)].collect().toSet
      assert(pruned == generic,
        s"budget=$budget buckets=$buckets: " +
          s"only-pruned=${(pruned -- generic).take(5)} " +
          s"only-generic=${(generic -- pruned).take(5)}")
    }
  }

  test("pruned fill degrades gracefully: all-equal and all-null score groups") {
    val flat = (0L until 200L).map(i => ("s", i, 1.0, 10L))
      .toDF("source", "doc_id", "q", "n_tokens")
    val a = CorpusBudget.budgetFillByScore(flat, "source", "n_tokens", 250L,
      col("q"), Seq(col("doc_id"))).select("doc_id").as[Long].collect().toSet
    assert(a == (0L until 25L).toSet) // one band; id order decides, exactly
    val nulls = (0L until 50L)
      .map(i => ("s", i, null.asInstanceOf[java.lang.Double], 100L))
      .toDF("source", "doc_id", "q", "n_tokens")
    val b = CorpusBudget.budgetFillByScore(nulls, "source", "n_tokens", 250L,
      col("q"), Seq(col("doc_id"))).select("doc_id").as[Long].collect().toSet
    assert(b == Set(0L, 1L)) // null cuts → band 0 for all → generic result
  }

  test("the prune is a lossless SUBSET: admitted rows survive, bulk does not") {
    // one heavily skewed group: 3000 docs, budget admits ~30 — the exact
    // window must see a ~budget-sized head, not the whole group
    val df = adversarialDocs.filter(col("source") === "s0")
    val survivors = CorpusBudget.pruneByScore(df, "source", "n_tokens",
      300L, col("q"), buckets = 64)
    val n = survivors.count()
    val admitted = CorpusBudget.budgetFill(df, "source", "n_tokens", 300L,
      Seq(col("q").desc, col("doc_id")))
      .select("doc_id").as[Long].collect().toSet
    val surv = survivors.select("doc_id").as[Long].collect().toSet
    assert(admitted.subsetOf(surv),
      s"prune dropped admitted rows: ${(admitted -- surv).take(5)}")
    // 3000 rows, 64 bands ≈ 47/band; admitted head + one band of slack
    // stays far under the group size (the point of the prune)
    assert(n < 300, s"prune kept $n of 3000 rows — not pruning")
  }
}
