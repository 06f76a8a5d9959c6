package graft

import graft.plans.GraftFunctions

/** The SQL registration surface: graft's native expressions callable
  * from plain SQL after registration.
  */
class SqlFunctionsSpec extends SparkSpec {

  test("vector + text functions work from SQL") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
                vec_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c,
                vec_sqnorm(array(3.0d, 4.0d)) AS n,
                vec_sqdist(array(0.0d, 0.0d), array(3.0d, 4.0d)) AS sd,
                size(word_shingles(array('a', 'b', 'c'), 2)) AS ns,
                size(minhash_signature(array('x', 'y'), 16)) AS nm
      """).collect()(0)
    assert(r.getDouble(0) == 11.0)
    assert(r.getDouble(1) == 1.0)
    assert(r.getDouble(2) == 25.0)
    assert(r.getDouble(3) == 25.0)
    assert(r.getInt(4) == 2)   // "a b", "b c"
    assert(r.getInt(5) == 16)
    // the hashes read strings: an array of another type is refused at analysis
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT minhash_signature(array(1L, 2L), 16)").collect()
    }
  }

  test("GraftExtensions installs every function of the table, each resolvable from SQL") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val codebook = "array(array(0.0d, 0.0d, 0.0d, 0.0d), array(5.0d, 5.0d, 9.0d, 19.0d))"
    val calls = Map(
      "vec_dot" -> "vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))",
      "vec_cosine" -> "vec_cosine(array(1.0d, 0.0d), array(1.0d, 1.0d))",
      "vec_sqnorm" -> "vec_sqnorm(array(3.0d, 4.0d))",
      "vec_sqdist" -> "vec_sqdist(array(0.0d, 0.0d), array(3.0d, 4.0d))",
      "word_shingles" -> "word_shingles(array('a', 'b', 'c'), 2)",
      "minhash_signature" -> "minhash_signature(array('x', 'y'), 16)",
      "simhash_portable" -> "simhash_portable(array('hello', 'world'))",
      "capped_counter" -> "capped_counter('x', 10)",
      "nearest_centroid" -> "nearest_centroid(array(5.0d, 5.0d), array(array(0.0d, 0.0d), array(4.0d, 4.0d)))",
      "pq_encode" -> s"pq_encode(array(1.0d, 2.0d, 10.0d, 20.0d), $codebook, 2)",
      "pq_adc_score" -> s"pq_adc_score(array(1.0d, 2.0d, 10.0d, 20.0d), array(0, 1), $codebook, 2)")
    assert(calls.keySet == GraftFunctions.functions.map(_.name).toSet, "one SQL call per table entry")
    GraftFunctions.register(spark)
    val plain = SparkSession.builder().create()
    val extended = SparkSession.builder().withExtensions(new graft.plans.GraftExtensions).create()
    try {
      for (f <- GraftFunctions.functions) {
        val id = FunctionIdentifier(f.name)
        assert(!plain.sessionState.functionRegistry.functionExists(id), s"${f.name} without the extension")
        assert(extended.sessionState.functionRegistry.lookupFunction(id).exists(_.getUsage == f.usage),
          s"${f.name} injected with its usage line")
        val sql = s"SELECT ${calls(f.name)} AS v"
        assert(extended.sql(sql).collect().toSeq == spark.sql(sql).collect().toSeq,
          s"${f.name}: the extension and register() resolve to the same result")
      }
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("pq_encode / pq_adc_score from SQL") {
    GraftFunctions.register(spark)
    // codebook of two 4-dim rows; m=2 subspaces of 2 dims.
    // vector (1,2,10,20): subspace 0 nearest row 0 (0,0 vs 5,5),
    // subspace 1 nearest row 1 (9,9 closer than 0,0 to 10,20... both
    // rows compared on dims 3-4: row0=(0,0) d=500, row1=(9,19) d=2)
    val r = spark.sql(
      """SELECT pq_encode(array(1.0d, 2.0d, 10.0d, 20.0d),
                          array(array(0.0d, 0.0d, 0.0d, 0.0d),
                                array(5.0d, 5.0d, 9.0d, 19.0d)), 2) AS codes,
                pq_adc_score(array(1.0d, 2.0d, 10.0d, 20.0d),
                          array(0, 1),
                          array(array(0.0d, 0.0d, 0.0d, 0.0d),
                                array(5.0d, 5.0d, 9.0d, 19.0d)), 2) AS d
      """).collect()(0)
    assert(r.getSeq[Int](0) == Seq(0, 1), "argmin per subspace")
    assert(r.getDouble(1) == (1.0 + 4.0) + (1.0 + 1.0), "ADC = sum of subspace sqdists")
  }

  test("pq_adc_score rejects a codes array shorter than m") {
    GraftFunctions.register(spark)
    val e = intercept[Exception] {
      spark.sql(
        """SELECT pq_adc_score(array(1.0d, 2.0d, 10.0d, 20.0d),
                          array(0),
                          array(array(0.0d, 0.0d, 0.0d, 0.0d),
                                array(5.0d, 5.0d, 9.0d, 19.0d)), 2) AS d
        """).collect()
    }
    // descriptive error, not a raw ArrayIndexOutOfBounds mid-job
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("expected m=2")), s"got: $e")
  }

  test("PII scrub: planted emails/URLs/IPs replaced with typed tokens") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.TextFunctions
    val df = Seq(
      (1L, "contact bob.smith+x@example.co.uk or visit https://a.b/c?d=1 now"),
      (2L, "server at 10.0.255.3 responded"),
      (3L, "no pii here at all")
    ).toDF("doc_id", "text")
    val rows = df.select(col("doc_id"),
        TextFunctions.scrubPii(col("text")).as("s"),
        TextFunctions.piiCount(col("text")).as("n"))
      .orderBy("doc_id").collect()
    assert(rows(0).getString(1) == "contact <EMAIL> or visit <URL> now")
    assert(rows(0).getInt(2) == 2)
    assert(rows(1).getString(1) == "server at <IP> responded" && rows(1).getInt(2) == 1)
    assert(rows(2).getString(1) == "no pii here at all" && rows(2).getInt(2) == 0)
  }

  test("repetition signals: planted values") {
    import spark.implicits._
    val df = Seq(
      (1L, "a a a a"),       // top = 4/4, 2-grams: [a a, a a, a a] → dup 2/3
      (2L, "a b c d"),       // top = 1/4, all 2-grams distinct
      (3L, "x")              // single token: top 1.0, no 2-grams → 0.0
    ).toDF("doc_id", "text")
    val rows = graft.operators.TextAnalysis.repetition(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(rows(0).getDouble(1) == 1.0 && rows(0).getDouble(2) == 0.666667)
    assert(rows(1).getDouble(1) == 0.25 && rows(1).getDouble(2) == 0.0)
    assert(rows(2).getDouble(1) == 1.0 && rows(2).getDouble(2) == 0.0)
  }

  test("nearest_centroid and simhash_portable from SQL") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT nearest_centroid(array(5.0d, 5.0d),
                  array(array(0.0d, 0.0d), array(4.0d, 4.0d), array(9.0d, 9.0d))) AS cell,
                simhash_portable(array('hello', 'world')) AS sh
      """).collect()(0)
    assert(r.getInt(0) == 1, "nearest of (5,5) is centroid (4,4)")
    // parity with the operator-level portable simhash
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val viaOp = Seq("hello world").toDF("t")
      .select(graft.operators.Dedup.simhashPortable(col("t")).as("sh"))
      .collect()(0).getLong(0)
    assert(r.getLong(1) == viaOp)
  }

  test("capped_counter aggregate from SQL") {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq("x", "x", "y").toDF("k").createOrReplaceTempView("kk")
    val m = spark.sql("SELECT capped_counter(k, 10) AS m FROM kk")
      .collect()(0).getAs[Map[String, Long]](0)
    assert(m == Map("x" -> 2L, "y" -> 1L))
  }
}
