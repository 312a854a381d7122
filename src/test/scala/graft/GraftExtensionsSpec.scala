package graft

class GraftExtensionsSpec extends SparkSpec {

  test("extensions inject cosine_sim for SQL-only sessions") {
    SparkSpec.injectExtensions(spark)
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c")
      .collect().head.getDouble(0)
    assert(r == 1.0)
  }

  test("cosine_sim implicitly casts array<float> SQL inputs") {
    SparkSpec.injectExtensions(spark)
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .createOrReplaceTempView("emb_f")
    // embedding is array<float>: analyzer must insert the cast, not read
    // float slots as doubles
    val r = spark.sql(
      "SELECT cosine_sim(embedding, embedding) AS c FROM emb_f LIMIT 5")
      .collect().map(_.getDouble(0))
    r.foreach(c => assert(math.abs(c - 1.0) < 1e-9, c))
  }

  test("marker_count resolves in SQL with a literal marker array") {
    SparkSpec.injectExtensions(spark)
    val r = spark.sql(
      "SELECT marker_count('The cat AND the hat', array('the', 'and')) AS c")
      .collect().head.getInt(0)
    assert(r == 3)
  }

  test("marker_count rejects a non-literal marker list with a clear error") {
    SparkSpec.injectExtensions(spark)
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .createOrReplaceTempView("docs_mc")
    val e = intercept[Exception](spark.sql(
      "SELECT marker_count(text, array(lang)) FROM docs_mc"))
    assert(e.getMessage.contains("literal"), e.getMessage)
  }

  test("marker_count rejects wrong element types and uppercase markers clearly") {
    SparkSpec.injectExtensions(spark)
    val e1 = intercept[Exception](spark.sql(
      "SELECT marker_count('x', array(1, 2))"))
    assert(e1.getMessage.contains("array<string>"), e1.getMessage)
    val e2 = intercept[Exception](spark.sql(
      "SELECT marker_count('x', array('The'))"))
    assert(e2.getMessage.contains("lowercase"), e2.getMessage)
  }

  test("theta_sketch_agg resolves in SQL, composes with GROUP BY, " +
    "and its blobs round-trip through the sketch algebra") {
    SparkSpec.injectExtensions(spark)
    import spark.implicits._
    ((0L until 1000L).map(("a", _)) ++ (600L until 1600L).map(("b", _)))
      .toDF("grp", "k").createOrReplaceTempView("theta_sql_in")
    val rows = spark.sql(
      "SELECT grp, theta_sketch_agg(k) AS theta FROM theta_sql_in GROUP BY grp")
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    def sk(b: Array[Byte]) =
      org.apache.datasketches.theta.Sketches.wrapCompactSketch(
        org.apache.datasketches.memory.Memory.wrap(b))
    assert(sk(rows("a")).getEstimate == 1000.0)
    assert(graft.operators.ThetaReference.intersectionEstimate(
      sk(rows("a")), sk(rows("b"))) == 400.0)
    // lgK must be a literal — a column reference is rejected loudly
    val e = intercept[Exception](spark.sql(
      "SELECT theta_sketch_agg(k, CAST(k AS INT)) FROM theta_sql_in"))
    assert(e.getMessage.contains("literal"), e.getMessage)
  }

  test("cosine_sim wrong arity raises a clear error; length mismatch → null") {
    SparkSpec.injectExtensions(spark)
    val e = intercept[Exception](spark.sql("SELECT cosine_sim(array(1.0d))"))
    assert(e.getMessage.contains("2 arguments"))
    val row = spark.sql(
      "SELECT cosine_sim(array(1.0d), array(1.0d, 2.0d)) AS c").collect().head
    assert(row.isNullAt(0))
  }
}
