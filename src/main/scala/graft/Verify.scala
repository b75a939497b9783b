package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing args: restrict the dump to these query names
    // (local iteration aid; the driver always passes exactly two args)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", graft.ops.Q.processDir("graft-warehouse"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // ---- schema-drift preflight (r7 lesson: a regenerated testdata
    // with drifted column types silently dropped ~70 queries from the
    // round's CORRECTNESS file). Dump every table's footer types,
    // compare against the expected map (SURVEY §1.2), and print one
    // loud [schema-drift] line per divergence. Date/timestamp columns
    // that Io's footer dispatch normalizes are flagged `dispatch=ok`;
    // anything else is `UNHANDLED` and the matching queries will show
    // up RED below — but they will show up.
    val expected: Map[String, Map[String, String]] = Map(
      "region" -> Map("r_regionkey" -> "int", "r_name" -> "string"),
      "nation" -> Map("n_nationkey" -> "int", "n_name" -> "string",
        "n_regionkey" -> "int"),
      "customer" -> Map("c_custkey" -> "bigint", "c_name" -> "string",
        "c_nationkey" -> "int", "c_acctbal" -> "double",
        "c_mktsegment" -> "string"),
      "supplier" -> Map("s_suppkey" -> "bigint", "s_name" -> "string",
        "s_nationkey" -> "int", "s_acctbal" -> "double"),
      "part" -> Map("p_partkey" -> "bigint", "p_name" -> "string",
        "p_brand" -> "string", "p_type" -> "string", "p_size" -> "int",
        "p_retailprice" -> "double"),
      "orders" -> Map("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
        "o_orderstatus" -> "string", "o_totalprice" -> "double",
        "o_orderdate" -> "timestamp_ntz", "o_orderpriority" -> "string"),
      "lineitem" -> Map("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
        "l_suppkey" -> "bigint", "l_linenumber" -> "int",
        "l_quantity" -> "double", "l_extendedprice" -> "double",
        "l_discount" -> "double", "l_tax" -> "double",
        "l_returnflag" -> "string", "l_linestatus" -> "string",
        "l_shipdate" -> "timestamp_ntz"),
      "events" -> Map("event_id" -> "bigint", "ts" -> "timestamp_ntz",
        "user_id" -> "bigint", "event_type" -> "string",
        "value" -> "double", "props" -> "string"),
      "documents" -> Map("doc_id" -> "bigint", "text" -> "string",
        "lang" -> "string", "source" -> "string", "n_chars" -> "bigint"),
      "embeddings" -> Map("vec_id" -> "bigint",
        "embedding" -> "array<float>", "label" -> "int"))
    // forms Io's footer dispatch reads correctly even when drifted
    val dispatched: Map[(String, String), Set[String]] = Map(
      ("events", "ts") -> Set("timestamp_ntz", "timestamp", "bigint"),
      ("orders", "o_orderdate") ->
        Set("timestamp_ntz", "timestamp", "bigint", "date"),
      ("lineitem", "l_shipdate") ->
        Set("timestamp_ntz", "timestamp", "bigint", "date"))
    var drift = 0
    expected.foreach { case (t, cols) =>
      try {
        // raw footer read (NOT Io.table — the point is the physical type,
        // so it bypasses the catalog's schema cache on purpose)
        val sch = spark.read.parquet(s"$sfDir/$t.parquet").schema
        val got = sch.fields.map(f => f.name -> f.dataType.simpleString).toMap
        cols.foreach { case (c, want) =>
          got.get(c) match {
            case None =>
              drift += 1
              System.err.println(s"[schema-drift] $t.$c MISSING (expected $want)")
            case Some(g) if g != want =>
              drift += 1
              val ok = dispatched.get((t, c)).exists(_.contains(g))
              System.err.println(s"[schema-drift] $t.$c footer=$g expected=$want " +
                (if (ok) "(dispatch=ok)" else "(UNHANDLED)"))
            case _ => ()
          }
        }
        got.keys.filterNot(cols.contains).foreach { c =>
          System.err.println(s"[schema-drift] $t.$c NEW column (footer=${got(c)})")
        }
      } catch { case e: Throwable =>
        drift += 1
        System.err.println(s"[schema-drift] $t unreadable: ${e.getMessage}")
      }
    }
    if (drift > 0)
      System.err.println(s"[schema-drift] $drift divergences — see lines above")
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // write an error-marker result so the driver's compare records
        // a RED entry instead of silently omitting the query (r7's
        // 70-entry loss was absent entries, not failed ones)
        try {
          import spark.implicits._
          Seq(("VERIFY_ERROR: " + String.valueOf(e.getMessage).take(200)))
            .toDF("_verify_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
