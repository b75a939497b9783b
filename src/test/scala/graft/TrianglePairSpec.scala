package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The exact pair-enumeration rewrites (blocked triangle join, banded
  * minhash candidates) replace brute-force `a.id < b.id` theta joins.
  * These specs pin in-Spark equivalence against the brute-force forms,
  * so the checked queries keep their exactness guarantee while the
  * cross-engine gate (DuckDB runs the brute-force SQL) re-proves it at
  * the graded scale every round.
  */
class TrianglePairSpec extends AnyFunSuite {
  import TestSpark._

  test("trianglePairs enumerates every unordered pair exactly once, id-ordered") {
    val df = spark.range(0, 97).select(col("id"), (col("id") % 7).as("tag"))
    val pairs = ops.PairJoins.trianglePairs(df, Nil, "id", 8)
      .select(col("a.id").as("ia"), col("b.id").as("ib")).collect()
    assert(pairs.length == 97 * 96 / 2)
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).distinct.length == pairs.length)
  }

  test("trianglePairs with keys restricts pairs to key-equal rows") {
    val df = spark.range(0, 60).select(col("id"), (col("id") % 3).as("g"))
    val n = ops.PairJoins.trianglePairs(df, Seq("g"), "id", 4).count()
    assert(n == 3 * (20 * 19 / 2))
  }

  test("h_cosine_topk blocked triangle equals the brute-force nested-loop form") {
    graft.functions.GraftExtensions.install(spark)
    val got = Registry.queries("h_cosine_topk")(spark, sf).collect().map(_.toString)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("dv"))
      .withColumn("nrm", sqrt(expr("dot_product(dv, dv)")))
    val a = e.select(col("vec_id").as("id_a"), col("dv").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("dv").as("vb"), col("nrm").as("nb"))
    val brute = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(expr("dot_product(va, vb)") / (col("na") * col("nb")), 6).as("sim"))
      .orderBy(col("sim").desc, col("id_a"), col("id_b"))
      .limit(10).collect().map(_.toString)
    assert(got.sameElements(brute))
  }

  test("h_jaccard_pairs banded-minhash candidates equal the all-pairs form") {
    val got = Registry.queries("h_jaccard_pairs")(spark, sf)
      .collect().map(_.toString).sorted
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"),
        array_distinct(split(col("text"), " ")).as("toks"))
    val a = toks.select(col("doc_id").as("doc_a"), col("lang"), col("toks").as("ta"))
    val b = toks.select(col("doc_id").as("doc_b"), col("lang").as("lb"), col("toks").as("tb"))
    val brute = a.join(b, col("lang") === col("lb") && col("doc_a") < col("doc_b"))
      .withColumn("j",
        size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(array_union(col("ta"), col("tb"))))
      .filter(col("j") >= 0.9)
      .select(col("doc_a"), col("doc_b"), col("lang"), round(col("j"), 6).as("jaccard"))
      .collect().map(_.toString).sorted
    assert(got.nonEmpty && got.sameElements(brute))
  }
}
