package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}

/** Registry-wide duplicate-scan census: for every declared query,
  * count how many times each parquet table appears as a scan in the
  * pre-AQE physical plan (memoized artifacts truncate lineage, so this
  * sees exactly what one EXECUTION re-reads). Tables scanned >= 3x in
  * one query are multi-consumption recompute candidates (guide §1.2-1).
  */
object ProbeScanCount {
  /** Parquet scans per table (root directory name) in one physical
    * plan. PlanShapeSpec's scan pins count through this same function. */
  def scanCensus(plan: SparkPlan): Map[String, Int] =
    plan.collect { case f: FileSourceScanExec =>
      f.relation.location.rootPaths.headOption.map(_.getName).getOrElse("?")
    }.groupBy(identity).view.mapValues(_.size).toMap

  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    for (n <- names) {
      try {
        val dup = scanCensus(SparkEntry.queries(n)(spark, d).queryExecution.sparkPlan)
          .filter(_._2 >= 3)
        if (dup.nonEmpty)
          println(s"$n  " + dup.toSeq.sortBy(-_._2)
            .map { case (t, c) => s"$t x$c" }.mkString(", "))
      } catch { case e: Throwable =>
        System.err.println(s"$n FAILED: ${e.getClass.getSimpleName}") }
    }
    spark.stop()
  }
}
