package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The plans a production build really runs. A memoized artifact's
  * consumers see only `Scan ExistingRDD`, so the build is run on a fresh
  * `newSession()` (every memo entry misses), and a listener on that
  * session records each action it runs — the build's eager
  * `localCheckpoint`s and `head` probes, then the consumer `collect` —
  * with its final AQE plan. PlanShapeSpec and PlanDump read these. */
object BuildPlans {
  /** One action of the captured session and its QueryExecution. */
  final case class Run(action: String, qe: QueryExecution) {
    def plan: String = qe.executedPlan.toString
    def finalPlan: String = plan.split("== Initial Plan ==").head
  }

  /** `builds`: every action before the consumer's, in order. */
  final case class Captured(builds: Seq[Run], consumer: Run, rows: Array[Row]) {
    def checkpoints: Seq[Run] = builds.filter(_.action == "localCheckpoint")
    def finalPlans: String = builds.map(_.finalPlan).mkString("\n")
  }

  /** Runs `prebuilt` (uncaptured), then `build`, on a child session of
    * `spark`, collects the built frame, and releases the child's
    * checkpoints once the collect's own event has arrived. */
  def capture(spark: SparkSession, prebuilt: SparkSession => Any = _ => ())
      (build: SparkSession => DataFrame): Captured = {
    val child = spark.newSession()
    val runs = new java.util.concurrent.LinkedBlockingQueue[Run]
    val listener = new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        runs.put(Run(action, qe))
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // listener events arrive asynchronously: drain up to `df`'s own run
    def through(df: DataFrame): Seq[Run] = {
      val out = Seq.newBuilder[Run]
      var r: Run = null
      while (r == null || (r.qe ne df.queryExecution)) {
        r = runs.poll(60, java.util.concurrent.TimeUnit.SECONDS)
        require(r != null, "no listener event for the consumer action")
        out += r
      }
      out.result()
    }
    child.listenerManager.register(listener)
    try {
      prebuilt(child)
      val marker = child.range(1).toDF()
      marker.collect()
      through(marker)
      val df = build(child)
      val rows = df.collect()
      val seen = through(df)
      Captured(seen.init, seen.last, rows)
    } finally {
      child.listenerManager.unregister(listener)
      graft.ops.Q.releaseSession(child)
    }
  }
}
