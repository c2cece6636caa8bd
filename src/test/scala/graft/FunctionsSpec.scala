package graft

import graft.functions.{GraftFunctions, ScoredId, TopK, TopKAggregator}
import graft.operators.Similarity
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpec {

  test("native cosine_similarity is bit-identical to the HOF formulation") {
    GraftFunctions.ensureRegistered(spark)
    val e = Tables.load(spark, sf0001, "embeddings").limit(100)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val hof =
      """aggregate(zip_with(embedding, qv, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |  CAST(0 AS DOUBLE), (acc, v) -> acc + v)
        |/ (sqrt(aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |    CAST(0 AS DOUBLE), (acc, v) -> acc + v))
        | * sqrt(aggregate(zip_with(qv, qv, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |    CAST(0 AS DOUBLE), (acc, v) -> acc + v)))""".stripMargin
    val both = e.crossJoin(broadcast(q))
      .select(
        expr("cosine_similarity(embedding, qv)").as("native"),
        expr(hof).as("hof"))
      .collect()
    both.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1),
        s"native ${r.getDouble(0)} != hof ${r.getDouble(1)}")
    }
  }

  test("rolling_hash matches the direct polynomial at every position") {
    GraftFunctions.ensureRegistered(spark)
    val k = 8; val b = 256L; val m = 1099511627689L // 2^40 − 87
    def direct(s: String, i: Int): Long = // Σ c·b^(k−1−j) mod m, by hand
      (0 until k).foldLeft(0L)((acc, j) => (acc * b + s.charAt(i + j)) % m)
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaa", // degenerate repeats exercise the slide
      "exactly8", // single gram
      "short", // below k → empty array
      "")
    val rows = spark.createDataFrame(texts.map(Tuple1(_))).toDF("t")
      .select(col("t"), expr(s"rolling_hash(t, $k, $b, ${m}L)").as("hs"))
      .collect()
    rows.foreach { r =>
      val t = r.getString(0)
      val hs = r.getSeq[Long](1)
      val expected = math.max(0, t.length - k + 1)
      assert(hs.length == expected, s"'$t': ${hs.length} hashes != $expected")
      hs.zipWithIndex.foreach { case (h, i) =>
        assert(h == direct(t, i), s"'$t' pos $i: $h != ${direct(t, i)}")
        assert(h >= 0 && h < m)
      }
    }
    // O(1) slide equals recomputation on the documents corpus too (spot:
    // hashes of equal grams collide exactly)
    val d = spark.read.parquet(s"$sf0001/documents.parquet").limit(50)
    val n = d.select(explode(expr(s"rolling_hash(text, $k, $b, ${m}L)")))
      .count()
    val expected = d.select(
      sum(greatest(length(col("text")) - (k - 1), lit(0))).cast("long"))
      .head().getLong(0)
    assert(n == expected)
  }

  test("native dot_product is bit-identical to the HOF fold and null-safe") {
    GraftFunctions.ensureRegistered(spark)
    val e = Tables.load(spark, sf0001, "embeddings").limit(100)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val hof =
      """aggregate(zip_with(embedding, qv, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |  CAST(0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin
    e.crossJoin(broadcast(q))
      .select(expr("dot_product(embedding, qv)").as("native"), expr(hof).as("hof"))
      .collect()
      .foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    val n = spark.sql(
      "SELECT dot_product(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D)) AS n")
      .collect().head
    assert(n.isNullAt(0))
  }

  test("vector expressions: null elements and length mismatch yield null") {
    GraftFunctions.ensureRegistered(spark)
    for (f <- Seq("dot_product", "cosine_similarity")) {
      // null element inside either array → null result, not garbage
      val nullElem = spark.sql(
        s"SELECT $f(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)) AS r")
        .collect().head
      assert(nullElem.isNullAt(0), s"$f must propagate element nulls")
      // mismatched lengths → null (the zip_with-with-padding semantics),
      // not a silent truncated result
      val mismatch = spark.sql(
        s"SELECT $f(array(1.0D, 2.0D, 3.0D), array(1.0D)) AS r")
        .collect().head
      assert(mismatch.isNullAt(0), s"$f must not truncate mismatched arrays")
      // wrong input type fails at analysis, not mid-job
      intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT $f('oops', array(1.0D))").collect()
      }
    }
  }

  test("q53's literal-hyperplane bucket equals the HOF formulation") {
    GraftFunctions.ensureRegistered(spark)
    // The HOF expression is what the DuckDB oracle mirrors; the shipped
    // query uses literal planes + native dot_product. Both must agree on
    // every bucket bit.
    val hofBucket =
      """aggregate(sequence(0, 7), CAST(0 AS BIGINT), (acc, p) -> acc +
        |  IF(aggregate(zip_with(embedding, sequence(0, 63),
        |        (x, i) -> CAST(x AS DOUBLE) *
        |          IF(shiftright((p * 64 + i) * CAST(2654435761 AS BIGINT), 7) % 2 = 0,
        |             1.0D, -1.0D)),
        |      CAST(0 AS DOUBLE), (acc2, v) -> acc2 + v) > 0,
        |    shiftleft(CAST(1 AS BIGINT), p), CAST(0 AS BIGINT)))""".stripMargin
    val planesLit = typedLit(Seq.tabulate(8, 64) { (p, i) =>
      if ((((p * 64 + i) * 2654435761L) >> 7) % 2 == 0) 1.0 else -1.0
    }.map(_.toSeq))
    val fast = aggregate(
      transform(sequence(lit(0), lit(7)), p =>
        when(call_function("dot_product", col("embedding"),
          element_at(planesLit, p + 1)) > 0.0,
          call_function("shiftleft", lit(1L), p.cast("int"))).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc + v)
    val diff = Tables.load(spark, sf0001, "embeddings")
      .select(expr(hofBucket).as("hof"), fast.as("fast"))
      .filter(col("hof") =!= col("fast")).count()
    assert(diff == 0)
  }

  test("cosine_similarity handles double arrays and nulls") {
    GraftFunctions.ensureRegistered(spark)
    val df = spark.sql(
      """SELECT cosine_similarity(CAST(array(1.0, 2.0) AS ARRAY<DOUBLE>),
        |                         CAST(array(2.0, 4.0) AS ARRAY<DOUBLE>)) AS c,
        |       cosine_similarity(CAST(NULL AS ARRAY<DOUBLE>),
        |                         CAST(array(1.0) AS ARRAY<DOUBLE>)) AS n""".stripMargin)
    val row = df.collect().head
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-12)
    assert(row.isNullAt(1))
  }

  test("cosine_similarity equals the SQL formulation on zero, empty and NULL-element vectors") {
    GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    def dot(a: String, b: String) =
      s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    val cosSql = s"${dot("a", "b")} / (sqrt(${dot("a", "a")}) * sqrt(${dot("b", "b")}))"
    val pairs = Seq[(Seq[java.lang.Double], Seq[java.lang.Double])](
      (Seq(1.0, 2.0), Seq(2.0, 3.5)),
      (Seq(0.0, 0.0), Seq(1.0, 2.0)), // zero norm on the left
      (Seq(1.0, 2.0), Seq(0.0, 0.0)), // zero norm on the right
      (Seq(0.0, 0.0), Seq(0.0, 0.0)),
      (Seq(), Seq()), // empty: both norms zero
      (Seq(1.0, null), Seq(1.0, 2.0)), // NULL element
      (Seq(1.0), Seq(1.0, 2.0))) // length mismatch: native NULL only
    // repartition keeps the projection out of LocalRelation folding, so
    // each factory mode really evaluates the expression per row.
    val df = pairs.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
      .toDF("i", "a", "b").repartition(2)
    // ANSI off: SQL division by zero is NULL there (try_divide's NULL with
    // ANSI on, where the plain formulation throws instead).
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", (mode == "CODEGEN_ONLY").toString)
      spark.conf.set("spark.sql.ansi.enabled", "false")
      try {
        val rows = df.select(col("i"), expr("cosine_similarity(a, b)"),
            expr(cosSql)).collect().sortBy(_.getInt(0))
        for (r <- rows) {
          val native = if (r.isNullAt(1)) None else Some(r.getDouble(1))
          val hof = if (r.isNullAt(2)) None else Some(r.getDouble(2))
          assert(native.forall(!_.isNaN), s"$mode row ${r.getInt(0)}: NaN")
          if (r.getInt(0) == 6) assert(native.isEmpty, s"$mode: mismatch not NULL")
          else assert(native == hof, s"$mode row ${r.getInt(0)}: native $native != sql $hof")
        }
        assert(rows.count(_.isNullAt(1)) == 6, s"$mode: ${rows.toSeq}")
      } finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.ansi.enabled")
      }
    }
  }

  test("TopKAggregator semantics match sort-and-take") {
    val agg = new TopKAggregator(3)
    val rows = Seq(5.0 -> 1L, 1.0 -> 2L, 9.0 -> 3L, 9.0 -> 0L, 3.0 -> 4L)
      .map { case (s, i) => ScoredId(s, i) }
    val viaReduce = rows.foldLeft(agg.zero)(agg.reduce)
    val expected = rows.sortBy(s => (-s.score, s.id)).take(3)
    assert(agg.finish(viaReduce) == expected)
    // merge of split halves gives the same answer
    val (l, r) = rows.splitAt(2)
    val merged = agg.merge(
      l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    assert(agg.finish(merged) == expected)
  }

  test("q54 native knn returns the same neighbors as q50") {
    val native = Similarity.q54.run(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val hof = Similarity.q50.run(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim")))
    assert(native.sameElements(hof))
  }

  test("SelfCosineRule folds cosine_similarity(x, x) to 1.0") {
    import graft.functions.SelfCosineRule
    val df = Tables.load(spark, sf0001, "embeddings").limit(5)
      .selectExpr("cosine_similarity(embedding, embedding) AS c")
    val optimized = SelfCosineRule(df.queryExecution.analyzed)
    assert(!optimized.toString.contains("cosine_similarity"),
      s"rule did not fold:\n$optimized")
    // and the fold is semantically right: non-null vectors give exactly 1.0
    val folded = spark.sessionState.executePlan(optimized)
      .executedPlan.executeCollect().map(_.getDouble(0))
    assert(folded.forall(_ == 1.0))
  }

  test("topK aggregate never exceeds k and is sorted") {
    val df = Tables.load(spark, sf0001, "orders")
      .agg(TopK.topK(5)(col("o_totalprice"), col("o_orderkey")).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.score"), col("t.id"))
    val rows = df.collect().map(r => (r.getDouble(0), r.getLong(1)))
    assert(rows.length == 5)
    assert(rows.map(_._1).sameElements(rows.map(_._1).sorted(Ordering[Double].reverse)))
  }

  test("HLL sketches re-aggregate: per-shard union stays within sketch error") {
    // The distributed-reaggregation property: sketch each shard, union the
    // shard sketches — what lets a 1000-executor job pre-aggregate
    // distinct counts per partition and combine them without a second scan.
    // The union estimate is NOT bit-identical to a single global sketch
    // (the union promotes the HLL target type), but both must sit within
    // the sketch's error bounds of the exact count.
    Tables.load(spark, sf001, "lineitem").createOrReplaceTempView("li_hll")
    val direct = spark.sql(
      "SELECT hll_sketch_estimate(hll_sketch_agg(l_partkey)) FROM li_hll")
      .collect()(0).getLong(0)
    val merged = spark.sql(
      """SELECT hll_sketch_estimate(hll_union_agg(sk)) FROM (
        |  SELECT hll_sketch_agg(l_partkey) AS sk
        |  FROM li_hll GROUP BY l_orderkey % 16)""".stripMargin)
      .collect()(0).getLong(0)
    val exact = Tables.load(spark, sf001, "lineitem")
      .select(countDistinct(col("l_partkey"))).collect()(0).getLong(0)
    for ((label, est) <- Seq("direct" -> direct, "merged" -> merged))
      assert(math.abs(est - exact).toDouble / exact < 0.05,
        s"$label estimate $est vs exact $exact drifted > 5%")
  }

  test("jaro_winkler: textbook golden values and edge cases") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    def jw(a: String, b: String): Double =
      spark.sql(s"SELECT jaro_winkler('$a', '$b')").first().getDouble(0)
    assert(jw("martha", "marhta") == 0.9611111111111111) // classic transposition
    assert(jw("dixon", "dicksonx") == 0.8133333333333332)
    assert(jw("abc", "abc") == 1.0)
    assert(jw("", "abc") == 0.0)
    assert(jw("", "") == 0.0) // empty-before-equality: DuckDB's convention
    assert(jw("crate", "trace") == 0.7333333333333334) // no shared prefix
    // boost threshold: jaro 2/3 <= 0.7 -> NO prefix boost despite 'abc'
    assert(jw("abcdef", "abcxyz") == 0.6666666666666666)
    assert(spark.sql("SELECT jaro_winkler(NULL, 'x')").first().isNullAt(0))
  }

  test("jaro_winkler: interpreted eval equals codegen over real names") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    import org.apache.spark.sql.functions._
    val pairs = Tables.load(spark, sf0001, "part").select("p_name")
      .distinct().as("a")
      .crossJoin(Tables.load(spark, sf0001, "part").select(col("p_name")
        .as("q")).distinct().as("b"))
    val viaCodegen = pairs.select(expr("jaro_winkler(p_name, q)").as("v"))
      .agg(sum(expr("CAST(floor(v * 1e15) AS DECIMAL(38,0))"))).first().getDecimal(0)
    val viaEval = pairs.collect().map { r =>
      BigDecimal(math.floor(graft.functions.JaroWinklerImpl.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)),
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(1)))
        * 1e15))
    }.sum
    assert(BigDecimal(viaCodegen) == viaEval, s"$viaCodegen vs $viaEval")
  }
}
