package graft

import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Assembles SURVEY.md §2's operator inventory into the driver contract
  * maps. Each category object contributes `Seq[Q]`; names are unique by
  * construction (asserted in RegistrySpec).
  */
object Registry {
  def all: Seq[Q] =
    ScanOps.all ++ FilterOps.all ++ JoinOps.all ++ AggOps.all ++
      WindowOps.all ++ FuncOps.all ++ StreamBatchOps.all ++ TextOps.all ++
      VectorOps.all ++ DedupOps.all ++ ExtOps.all ++ AnalyticsOps.all ++
      FuncExtraOps.all ++ EtlOps.all ++ TpchOps.all ++ EngineSurfaceOps.all ++
      ContaminationOps.all ++ MixOps.all ++ DqOps.all ++ GraphOps.all

  /** Each query installs the native functions its session lacks first
    * (the one registration path for sessions built without
    * `GraftExtensions`; a no-op for those built with it). */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { q =>
      q.name -> { (s: SparkSession, d: String) =>
        graft.functions.GraftExtensions.install(s)
        q.fn(s, d)
      }
    }.toMap

  lazy val oracles: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
