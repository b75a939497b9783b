package graft

import graft.io.Io
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed tables co-locate join keys at write time, so repeated joins
  * on the bucket key run with ZERO shuffle — the core 100 TB pattern for
  * fact-fact joins that recur (SURVEY.md §4 / the task's "bucketing for
  * co-located joins"). Verified here by asserting the join plan contains
  * no ShuffleExchange.
  */
class BucketSpec extends AnyFunSuite {
  import TestSpark._

  test("join on the bucket key needs no shuffle exchange") {
    // warehouse dir is a static conf — set in TestSpark's builder
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    Io.table(spark, sf, "orders")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    Io.table(spark, sf, "lineitem")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    // pin SMJ so the assertion is about exchanges, not join choice
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(k => spark.conf.set(k, "-1"))
    try {
      val joined = spark.table("b_orders")
        .join(spark.table("b_lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      // the groupBy after the join may shuffle on o_orderstatus; the JOIN
      // KEYS must not be re-shuffled — that's what bucketing buys.
      assert(!plan.contains("Exchange hashpartitioning(o_orderkey") &&
        !plan.contains("Exchange hashpartitioning(l_orderkey"),
        "bucketed join re-shuffled its keys:\n" + plan)
    } finally {
      saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("GraftExtensions injection applies and dot_product evaluates via SQL") {
    // the injection callback itself (builder-time path)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions()(ext)
    // and the runtime-registry path, end to end through SQL
    graft.functions.GraftExtensions.install(spark)
    val r = spark.sql("SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect().head.getDouble(0)
    assert(r === 11.0)
  }
}
