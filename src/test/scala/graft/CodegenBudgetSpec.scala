package graft

import org.scalatest.funsuite.AnyFunSuite

/** The generated-code budget of the rows whose classes Spark's 100-entry
  * codegen cache must hold: the percentile callers' largest whole-stage
  * class (the selection's pick used to be one ~100 KB class per caller)
  * and the whole-stage class count of the `etl_batch_write` rows. Read
  * from each row's final plan after a full execution — the body each
  * `WholeStageCodegenExec` compiles, the codegen cache's own key (the
  * source `queryExecution.debug.codegenToSeq()` prints, without its
  * comments) — so a regrowth fails here instead of as a slower
  * benchmark.
  */
class CodegenBudgetSpec extends AnyFunSuite {
  import TestSpark._
  import org.apache.spark.sql.execution.WholeStageCodegenExec
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
  private object Aqe extends AdaptiveSparkPlanHelper

  /** Body of every whole-stage class in row `q`'s final plan. */
  private def wholeStage(q: String): Seq[String] = {
    val df = Registry.queries(q)(spark, sf)
    df.collect()
    Aqe.collect(df.queryExecution.executedPlan) {
      case w: WholeStageCodegenExec => w.doCodeGen()._2.body
    }
  }

  test("percentile callers: no whole-stage class over 40 KB of source") {
    for (q <- Seq("d_agg_boxplot", "d_agg_percentile", "d_agg_approx_pctl",
        "d_agg_kll_quantiles", "g_anomaly_mad", "g_interpurchase_time",
        "g_rfm_segments", "g_fulfillment_latency", "g_funnel_time")) {
      val largest = wholeStage(q).map(_.length).max
      assert(largest <= 40000, s"$q: a $largest-byte whole-stage class")
    }
  }

  test("etl_batch_write rows: whole-stage class count pinned") {
    // one range exchange serves e_win_rank's windows and its ORDER BY,
    // and g_session_30m's windows, aggregate and ORDER BY; e_cdc_merge
    // counts its three classes in one global aggregate
    val pinned = Map("e_win_rank" -> 2, "e_win_lag_lead" -> 4, "e_cdc_merge" -> 6,
      "g_session_30m" -> 4, "d_agg_boxplot" -> 5)
    for ((q, cap) <- pinned) {
      val n = wholeStage(q).size
      assert(n <= cap, s"$q: $n whole-stage classes (pinned at $cap)")
    }
  }
}
