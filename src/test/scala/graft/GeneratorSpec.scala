package graft

import graft.functions.ExplodeNgrams
import graft.io.Io
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom UDTF/Generator must agree with the pure-builtin n-gram
  * construction (zip_with over shifted slices) used by the checked
  * h_ngram query.
  */
class GeneratorSpec extends AnyFunSuite {
  import TestSpark._

  test("explode_ngrams(text, 2) == zip_with bigram construction") {
    graft.functions.GraftExtensions.install(spark)
    val docs = Io.table(spark, sf, "documents").filter(col("doc_id") < 100)
    val viaGenerator = docs.selectExpr("doc_id", "explode_ngrams(text, 2) AS bigram")
    val t = split(col("text"), " ")
    val viaBuiltins = docs.select(col("doc_id"),
      explode(zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => concat(a, lit(" "), b))).as("bigram"))
    val g = viaGenerator.groupBy("doc_id", "bigram").count()
      .collect().map(_.toSeq).toSet
    val b = viaBuiltins.groupBy("doc_id", "bigram").count()
      .collect().map(_.toSeq).toSet
    assert(g === b)
    assert(g.nonEmpty)
  }

  test("explode_ngrams_pos == transform/slice relational window construction") {
    graft.functions.GraftExtensions.install(spark)
    val docs = Io.table(spark, sf, "documents").filter(col("doc_id") < 100)
    val viaGenerator = docs.select(col("doc_id"),
      expr("explode_ngrams_pos(text, 8)").as(Seq("st", "g")))
    val viaBuiltins = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, size(toks) - 8), " +
          "i -> array_join(slice(toks, i + 1, 8), ' '))")).as(Seq("st", "g")))
    assert(viaGenerator.collect().map(_.toSeq).toSet ===
      viaBuiltins.collect().map(_.toSeq).toSet)
    assert(viaGenerator.count() > 0)
  }

  test("explode_ngrams handles short texts and trigram sizes") {
    graft.functions.GraftExtensions.install(spark)
    import spark.implicits._
    val df = Seq((1L, "a b c d"), (2L, "x"), (3L, "p q")).toDF("id", "txt")
    val tri = df.selectExpr("id", "explode_ngrams(txt, 3) AS g")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(tri === Set((1L, "a b c"), (1L, "b c d")))
  }

  test("generator plans through GenerateExec") {
    graft.functions.GraftExtensions.install(spark)
    val df = Io.table(spark, sf, "documents").limit(10)
      .selectExpr("explode_ngrams(text, 2) AS g")
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("Generate"))
  }
}
