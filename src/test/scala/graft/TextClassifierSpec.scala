package graft

import graft.operators.TextClassifier
import org.apache.spark.sql.functions._

/** Iterative-parameter-mixing perceptron: learns a token rule through
  * hashed features (beats the majority baseline the synchronous batch
  * rounds of q368 oscillate at), deterministically. */
class TextClassifierSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"$sf001/documents.parquet")
  private lazy val labels = docs.select(col("doc_id"),
    expr("CAST(CASE WHEN size(filter(split(text, ' '), " +
      "w -> w IN ('spark', 'query', 'join'))) >= 3 " +
      "THEN 1 ELSE -1 END AS BIGINT)").as("y"))

  test("ipmFit learns the token rule well past the majority baseline") {
    val feats = TextClassifier.hashedFeatures(docs, "text", "doc_id")
    val w = TextClassifier.ipmFit(feats, labels, "doc_id")
    val scored = TextClassifier.predict(feats, w, "doc_id")
      .join(labels, "doc_id")
    val n = labels.count().toDouble
    val correct = scored.filter(col("predicted") === col("y")).count()
    val majority = labels.groupBy("y").count()
      .agg(max("count")).head().getLong(0)
    assert(majority / n < 0.85, "fixture drifted: baseline too easy")
    assert(correct / n > majority / n + 0.05,
      s"accuracy ${correct / n} not past baseline ${majority / n}")
    assert(correct / n >= 0.85, s"accuracy ${correct / n} below 0.85")
  }

  test("ipmFit is deterministic under input repartitioning") {
    def fit(d: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] = {
      val feats = TextClassifier.hashedFeatures(d, "text", "doc_id")
      TextClassifier.ipmFit(feats, labels, "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    }
    assert(fit(docs) == fit(docs.repartition(11)))
  }

  test("hashedFeatures matches q367's featurization contract") {
    val feats = TextClassifier.hashedFeatures(docs, "text", "doc_id")
    // bias feature on every doc, exactly once
    val bias = feats.filter(col("b") === 64)
    assert(bias.count() == docs.count())
    assert(bias.filter(col("phi") =!= 1).isEmpty)
    // no zero features survive, buckets in range
    assert(feats.filter(col("phi") === 0).isEmpty)
    assert(feats.filter(col("b") < 0 || col("b") > 64).isEmpty)
  }

  test("q368: a NULL-text document keeps its bias row, fused and ftFuse=off alike") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-q368").toString
    Seq[(Long, String, String)](
      (1L, "spark query join spark plan", "en"),
      (2L, null, "en"),
      (3L, "", "de"),
      (4L, "join the query", "de"),
      (5L, "spark join query", "en"))
      .toDF("doc_id", "text", "lang")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    def run(): Seq[org.apache.spark.sql.Row] =
      graft.operators.TextAnalysis.q368.run(spark, dir).collect().toSeq
    val fused = run()
    val unfused =
      try { sys.props("graft.ftFuse") = "off"; run() }
      finally sys.props.remove("graft.ftFuse")
    assert(fused == unfused, s"fused $fused vs ftFuse=off $unfused")
    // round 1 starts from w = 0, so every document's margin is 0 and
    // counts as misclassified: all 5, the NULL-text one included
    assert(fused.head.getAs[Long]("miscls") == 5L, s"$fused")
  }
}
