package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One declared operator: a `SparkEntry.queries` entry plus (usually) a
  * DuckDB oracle SQL twin. `oracle == None` → the driver records a weaker
  * rows-only check (reserved for ops whose hash family DuckDB lacks).
  *
  * Every checked query obeys the parity rules of SURVEY.md §2 (R1-R5):
  * total-order ORDER BY with a unique tiebreak, order-independent decimal
  * sums for double aggregates, event time only as epoch-microsecond
  * BIGINT, dates as DATE, similarity rounded at 1e-6.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {

  /** Exact, accumulation-order-independent sum of a double column: cast
    * each value to DECIMAL(38,6) (deterministic round-to-nearest), sum
    * exactly, cast back to double. This removes Spark's run-to-run
    * partial-aggregate merge-order nondeterminism (SURVEY §0.1 G7) and
    * makes the value bit-identical to DuckDB's
    * `CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)`. Scales: partial
    * aggregation (map-side combine) still applies — decimal sums merge
    * associatively, so the plan shape at 100 TB is identical to a plain
    * sum.
    */
  def decSum(c: Column): Column = sum(c.cast(DecimalType(38, 6))).cast("double")

  /** Order-independent mean via exact sum / count. */
  def decAvg(c: Column): Column = decSum(c) / count(lit(1))

  def r4(c: Column): Column = round(c, 4)
  def r6(c: Column): Column = round(c, 6)

  /** DuckDB text twins for the helpers above. */
  def dSum(x: String): String = s"CAST(SUM(CAST($x AS DECIMAL(38,6))) AS DOUBLE)"
  def dAvg(x: String): String = s"(${dSum(x)} / COUNT(*))"

  /** THE sampling/split coin: Knuth multiplicative hash of an id
    * expression into [0, 2^32). The multiply runs in DECIMAL(38,0), not
    * BIGINT — with 64-bit ids `id * 2654435761` overflows Int64 above
    * id ~3.47e9, where Spark (non-ANSI) wraps silently negative while
    * DuckDB raises; the decimal product is exact and identical in both
    * engines at any id scale. The text form parses identically in Spark
    * SQL (`expr(...)`) and DuckDB, so this one spelling serves both the
    * query and its oracle. Use this for EVERY id-domain coin; the only
    * sanctioned raw-BIGINT uses of the multiplier are bounded-index
    * PRNGs (LshBands projection weights) whose domain provably cannot
    * overflow.
    */
  def coin(id: String): String =
    s"(CAST($id AS DECIMAL(38,0)) * 2654435761) % 4294967296"

  // uniquifies the per-call ranked-table artifact name (two queries may
  // rank the same (key, v) pair; the artifact is per-execution scratch,
  // never shared)
  private val pctlSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  // Per-session registry of the percentile ranked-table scratch
  // checkpoints, so a long session repeatedly CONSTRUCTING percentile
  // queries does not accumulate pinned storage until releaseSession /
  // ContextCleaner GC (r11 ADVICE): the oldest scratch beyond the cap
  // is unpersisted eagerly. The cap (32) is far above any
  // construct-many-then-run-the-first window a real caller has — an
  // unpersisted localCheckpoint cannot recompute (lineage truncated),
  // so a consumer must not hold >32 un-run percentile queries before
  // running the first; every harness caller (Verify/Bench/specs) runs
  // each query as it is built.
  private val pctlScratch = new java.util.concurrent.ConcurrentHashMap[
    Int, java.util.ArrayDeque[org.apache.spark.rdd.RDD[_]]]
  private val PctlScratchCap = 32

  private def trackPctlScratch(s: SparkSession, df: DataFrame): Unit =
    try {
      df.queryExecution.logical match {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          val dq = pctlScratch.computeIfAbsent(System.identityHashCode(s),
            _ => new java.util.ArrayDeque[org.apache.spark.rdd.RDD[_]])
          dq.synchronized {
            dq.addLast(l.rdd)
            while (dq.size > PctlScratchCap) dq.pollFirst().unpersist(false)
          }
        case _ => ()
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Unpersist every tracked percentile scratch checkpoint of session
    * `s` — the scoped release hook for callers that construct many
    * percentile queries and are done consuming them. */
  def releasePercentileScratch(s: SparkSession): Unit = {
    val dq = pctlScratch.remove(System.identityHashCode(s))
    if (dq != null) dq.synchronized {
      while (!dq.isEmpty) dq.pollFirst().unpersist(false)
    }
  }

  /** Exact interpolated percentiles (QUANTILE_CONT semantics — identical
    * interpolation to Spark's holistic `percentile`/`median` and
    * DuckDB's `quantile_cont`) WITHOUT a holistic aggregation buffer.
    *
    * Spark's `percentile(x, p)` is an ImperativeAggregate that buffers
    * every group value in one aggregation buffer — an OOM at 100 TB, and
    * skewed groups funnel entirely into one buffer. This helper is the
    * mergeable two-pass form with a RANGE-PARTITIONED rank (the
    * e_win_ntile_pct pattern): repartitionByRange on (key, v) spreads
    * every group across the cluster, row_number ranks per (partition,
    * key) in parallel, and the |keys|·|partitions|-row count table
    * prefix-sums into per-key offsets (windowed per KEY over ≤32 pid
    * rows — metadata-sized). A key-partitioned global window would
    * instead sort each ENTIRE group on one task — for a handful of
    * groups (or the constant-key whole-table percentile) that is a
    * corpus-sized single-partition funnel, the exact class the
    * PlanShapeSpec window gate bans. Then ONE hash aggregate picks the
    * two boundary ranks per percentile and the interpolation
    * `lo + (hi − lo)·frac` is plain arithmetic. Value-identical to the
    * holistic form: the kth smallest of a sorted multiset does not
    * depend on tie order (ties may split across range partitions; their
    * ranks still form a contiguous block over equal values), and the
    * interpolation expression is the same double arithmetic both
    * engines run. The ranked table is materialized because two branches
    * consume the range-sampled partitioning (bounds re-sample per
    * execution — the g_cusum_changepoint lesson).
    *
    * `ps` maps fraction → output column name; output is one row per key.
    *
    * **The 100 TB swap is a tested knob, not prose**: with the session
    * conf `spark.graft.percentileMode=approx` this routes to ONE
    * mergeable hash aggregate of `approx_percentile` sketches
    * (accuracy from `spark.graft.percentileAccuracy`, default 10000 —
    * rank error ≤ n/accuracy) instead of the two-pass exact rank. Same
    * output schema (key + named double columns); values carry the
    * sketch's rank-error bound instead of exact interpolation.
    * PercentileSwapSpec proves the consumer rows' outputs are
    * row-identical (g_rfm_segments at sf0.01), boundary-sliver-bounded
    * (rfm at sf0.1: 14 of 14,999 customers move — tied integer
    * dimensions put quintile thresholds ON data values, where the
    * sketch may return the adjacent order statistic), or inside the
    * rank-error band (the percentile-emitting consumers).
    */
  def exactPercentiles(df: DataFrame, key: String, v: String,
      ps: Seq[(Double, String)], boundedDomain: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = df.sparkSession
    val mode =
      try s.conf.get("spark.graft.percentileMode", "exact")
      catch { case _: Throwable => "exact" }
    if (mode == "approx") {
      val acc =
        try s.conf.get("spark.graft.percentileAccuracy", "10000").toInt
        catch { case _: Throwable => 10000 }
      // one mergeable sketch aggregate — partial sketches merge
      // map-side, no input-sized scratch, no range shuffle; the cast
      // keeps the exact path's double output type (approx_percentile
      // returns an actual element of v's input type)
      val aggs = ps.map { case (p, name) =>
        percentile_approx(col(v), lit(p), lit(acc)).cast("double").as(name)
      }
      return df.groupBy(col(key)).agg(aggs.head, aggs.tail: _*)
    }
    if (boundedDomain) {
      // Count-histogram form, for value columns the CALLER asserts have
      // a bounded distinct domain at any corpus size (integral
      // quantities, day-grain lags bounded by the calendar span).
      // PRECONDITION (ADVICE r15): the value column must be NON-NULL.
      // This branch's min(when(_cum >= lo, v)) skips a null group and
      // returns the first non-null value, whereas the rank form would
      // return NULL at a null-occupied rank — a nullable caller would
      // silently shift every percentile. All current callers pass
      // arithmetic results of non-null columns; a new caller with a
      // nullable column must filter isNotNull FIRST (and decide what
      // its oracle does with nulls) before asserting boundedDomain. One
      // map-side-combined hash aggregate collapses the corpus to
      // |keys|·|domain| (value, count) rows; the per-key cumulative
      // window below runs over ≤|domain| rows — metadata-sized, never a
      // corpus funnel — so the range shuffle, its per-execution
      // sampling job, and the input-sized ranked-scratch checkpoint of
      // the general form all disappear (guide §2.4: remove shuffles
      // outright). Value-identical to the rank form: the value at rank
      // r of a sorted multiset is the smallest v whose cumulative count
      // reaches r, and the interpolation below is the same expression
      // on the same (lo, hi, n, p).
      val hist = df.groupBy(col(key), col(v)).agg(count(lit(1)).as("_hc"))
      val wCum = Window.partitionBy(col(key)).orderBy(col(v))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col(key))
      val cum = hist
        .withColumn("_cum", sum(col("_hc")).over(wCum))
        .withColumn("_n", sum(col("_hc")).over(wAll))
      val aggs = ps.flatMap { case (p, name) =>
        val lo = floor((col("_n") - 1) * lit(p)) + 1
        Seq(min(when(col("_cum") >= lo, col(v))).as(s"_lo_$name"),
          min(when(col("_cum") >= lo + 1, col(v))).as(s"_hi_$name"))
      }
      val g = cum.groupBy(col(key)).agg(max(col("_n")).as("_cnt"), aggs: _*)
      val outs = ps.map { case (p, name) =>
        val pos = (col("_cnt") - 1) * lit(p)
        val frac = pos - floor(pos)
        (col(s"_lo_$name") +
          (coalesce(col(s"_hi_$name"), col(s"_lo_$name")) - col(s"_lo_$name")) * frac)
          .as(name)
      }
      return g.select(col(key) +: outs: _*)
    }
    percentilesFromRanked(rankScratch(df.select(col(key), col(v)), key, v),
      key, v, ps)
  }

  /** Range-partitioned ranked SCRATCH of `df` on (key, v) — the shared
    * base of the two-pass exact-percentile machinery, exposed (r16) so
    * a query needing both the percentile selection AND the ranked rows
    * themselves (d_agg_boxplot's outlier census, g_anomaly_mad's
    * deviation scoring) builds ONE scratch instead of one per pass plus
    * a separate input-sized checkpoint (guide §1.2-1/§5). Carries every
    * column of `df` (callers project first — guide §2.3); adds `_pid`
    * (range partition id) and `_lrn` (row_number per (partition, key)
    * ordered by v). Always a localCheckpoint, never the parquet
    * artifact store: input-sized, per-call-unique scratch. */
  def rankScratch(df: DataFrame, key: String, v: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = df.sparkSession
    val parts = s.sparkContext.defaultParallelism
    val wLoc = Window.partitionBy(col("_pid"), col(key)).orderBy(col(v))
    val t0 = System.nanoTime()
    val out = df
      .repartitionByRange(parts, col(key), col(v))
      .withColumn("_pid", spark_partition_id())
      .withColumn("_lrn", row_number().over(wLoc))
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    System.err.println(f"[artifact] pctl_${key}_${v}_" +
      f"${pctlSeq.incrementAndGet()} built in " +
      f"${(System.nanoTime() - t0) / 1e9}%.2f s")
    trackPctlScratch(s, out)
    out
  }

  /** Percentile selection over a [[rankScratch]] result: per-key offset
    * prefix sums (≤|partitions| rows per key), global rank, one hash
    * aggregate picking the two boundary ranks per percentile, then the
    * shared `lo + (hi − lo)·frac` interpolation. Split from
    * [[exactPercentiles]] (r16) so multiple passes can read one scratch. */
  def percentilesFromRanked(ranked: DataFrame, key: String, v: String,
      ps: Seq[(Double, String)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // per-(key, partition) counts → per-key exclusive prefix offsets +
    // group sizes; the windows below run over ≤|partitions| rows per key
    val offs = ranked.groupBy(col(key), col("_pid"))
      .agg(count(lit(1)).as("_pcnt"))
      .withColumn("_off", coalesce(sum(col("_pcnt")).over(
        Window.partitionBy(col(key)).orderBy(col("_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_n", sum(col("_pcnt")).over(Window.partitionBy(col(key))))
      .select(col(key), col("_pid"), col("_off"), col("_n"))
    val g0 = ranked.select(col(key), col(v), col("_pid"), col("_lrn"))
      .join(broadcast(offs), Seq(key, "_pid"))
      .withColumn("_rn", col("_lrn") + col("_off"))
    val aggs = ps.flatMap { case (p, name) =>
      val lo = floor((col("_n") - 1) * lit(p)) + 1
      Seq(max(when(col("_rn") === lo, col(v))).as(s"_lo_$name"),
        max(when(col("_rn") === lo + 1, col(v))).as(s"_hi_$name"))
    }
    val g = g0.groupBy(col(key)).agg(count(lit(1)).as("_cnt"), aggs: _*)
    val outs = ps.map { case (p, name) =>
      val pos = (col("_cnt") - 1) * lit(p)
      val frac = pos - floor(pos)
      (col(s"_lo_$name") +
        (coalesce(col(s"_hi_$name"), col(s"_lo_$name")) - col(s"_lo_$name")) * frac)
        .as(name)
    }
    g.select(col(key) +: outs: _*)
  }

  /** Session-scoped memo for pipeline-shared materialized intermediates
    * (doc token masks, near-dup cluster labels): several checked queries
    * consume the same derived table, and a production pipeline
    * materializes such artifacts once, not once per downstream consumer.
    * Keyed by (session, input dir, artifact name); values are already
    * materialized (localCheckpoint'ed) DataFrames, so a hit costs
    * nothing and re-runs nothing. Entries die with their SparkSession
    * (weak keys would need the session; a simple synchronized map is
    * fine — the value count is O(#artifacts × #dirs), single digits).
    * Thread-safe: computeIfAbsent guards concurrent warm-up sweeps.
    */
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(Int, String, String, String), DataFrame]
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[(Int, String, String, String), Object]
  // cycle guard: the per-key monitors are deadlock-free only while
  // artifact dependencies form a DAG (a build takes other locks solely
  // for its own dependencies). A violation — an artifact whose build
  // re-enters itself through a dependency chain — would deadlock or
  // infinitely recurse; this thread-local stack of in-flight builds
  // makes it fail LOUDLY instead. (Cross-thread sideways cycles remain
  // convention-enforced; this catches the same-thread form cheaply.)
  private val buildStack = new ThreadLocal[List[(Int, String, String, String)]] {
    override def initialValue: List[(Int, String, String, String)] = Nil
  }
  def memoized(s: SparkSession, dir: String, name: String)
      (build: => DataFrame): DataFrame = {
    // NOT computeIfAbsent: artifacts nest (the CC labels build consumes
    // the memoized pair table), and a nested computeIfAbsent on the
    // same map throws IllegalStateException("Recursive update"). A
    // per-key monitor instead: nesting is fine (a thread holding lock A
    // takes lock B for a dependency — artifact deps form a DAG, so no
    // cyclic wait is possible), and the 8-thread warm-up sweep no
    // longer builds the same artifact several times concurrently (the
    // r8 bench log showed FOUR simultaneous 12-20 s cc_labels builds —
    // pure duplicate work serializing on the scheduler). The store mode
    // is part of the key so a mode switch mid-session rebuilds rather
    // than serving the other store's table.
    val k = (System.identityHashCode(s), storeMode(s), dir, name)
    val hit = memo.get(k)
    if (hit != null) hit
    else {
      require(!buildStack.get.contains(k),
        s"artifact build cycle: '$name' re-entered while building " +
          buildStack.get.map(_._4).mkString(" -> "))
      buildLocks.computeIfAbsent(k, _ => new Object).synchronized {
        val h2 = memo.get(k)
        if (h2 != null) h2
        else {
          buildStack.set(k :: buildStack.get)
          val v = try build finally buildStack.set(buildStack.get.tail)
          memo.put(k, v)
          v
        }
      }
    }
  }

  /** Drop every memoized artifact of session `s` and unpersist all of
    * its persistent RDDs. Bench calls this between the sf0.001 warm-up
    * sweep and the timed pass: the memo's strong references keep every
    * warm-up artifact's checkpoint blocks alive (ContextCleaner only
    * reaps unreferenced RDDs), so without the release the timed queries
    * run under the block-manager and GC pressure of hundreds of dead
    * sf0.001 artifacts — measured as a ~2× across-the-board inflation
    * of the r5 bench. Correctness-neutral: a released artifact simply
    * rebuilds on next use. The session's `Io.views` frames go too.
    */
  def releaseSession(s: SparkSession): Unit = {
    val sid = System.identityHashCode(s)
    pctlScratch.remove(sid) // blocks unpersisted below with everything else
    graft.io.Io.releaseSession(s)
    val it = memo.keySet.iterator()
    while (it.hasNext) if (it.next()._1 == sid) it.remove()
    val lit = buildLocks.keySet.iterator()
    while (lit.hasNext) if (lit.next()._1 == sid) lit.remove()
    // blocking: let the removal storm finish HERE, not asynchronously
    // under the first timed queries
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Collision-resistant corpus-directory digest for artifact naming:
    * SHA-1 prefix of the full path (the 32-bit String.hashCode used
    * before r12 made two corpora colliding — or two sessions on
    * different corpora sharing a tmp root — silently overwrite each
    * other's derived copies mid-read). 12 hex chars = 48 bits; a
    * deterministic function of the path, so cross-SESSION artifact
    * reuse on the SAME corpus (ArtifactStoreSpec's fresh-session read)
    * still works. */
  def dirDigest(d: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.digest(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(6).map(b => f"$b%02x").mkString
  }

  /** Root-convention path for corpus-derived artifact DIRECTORIES that
    * live outside the memo/materialize flow (derived CSV/JSON copies,
    * partitioned-parquet layouts, snapshot roots): one spelling of the
    * artifact root + corpus prefix, so a convention change lands
    * everywhere at once. */
  def artifactPath(s: SparkSession, d: String, name: String): String = {
    val base = s.conf.get("spark.graft.artifactDir",
      sys.props("java.io.tmpdir") + "/graft-artifacts")
    s"$base/${dirDigest(d)}_$name"
  }

  /** The one [artifact] stderr line every build prints (bench totals
    * decompose into build-vs-query time from the log alone). */
  def logArtifact(name: String, t0: Long): Unit =
    System.err.println(
      f"[artifact] $name built in ${(System.nanoTime() - t0) / 1e9}%.2f s")

  private def storeMode(s: SparkSession): String =
    try s.conf.get("spark.graft.artifactStore", "local")
    catch { case _: Throwable => "local" }

  /** Per-execution SCRATCH checkpoint (r16, ADVICE r15): always a
    * localCheckpoint, NEVER the parquet artifact store — for frames that
    * are consumed more than once inside ONE query execution but are not
    * pipeline artifacts (d_agg_cms_freq's per-user count table). In
    * parquet store mode `materialize` would write such a frame to the
    * shared store and read it back once — at large user cardinality the
    * store becomes the bottleneck the query exists to avoid. Same
    * serialized storage level and [artifact] log line as materialize's
    * local branch. */
  def scratch(name: String)(df: DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    val out = df.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    System.err.println(
      f"[artifact] $name built in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    out
  }

  /** Materialize a pipeline-shared artifact (pair table, CC labels,
    * token masks). Two stores, chosen by the session conf
    * `spark.graft.artifactStore`:
    *
    *  - `local` (default): `localCheckpoint(eager = true)` — blocks on
    *    executor block managers. Fastest, right for single-JVM runs,
    *    but the truncated lineage is unrecoverable if an executor dies:
    *    NOT the cluster story.
    *  - `parquet`: write-and-reread under `spark.graft.artifactDir`
    *    (shared storage on a real cluster — HDFS/object store). Any
    *    executor can re-read a lost partition from the store, the
    *    artifact survives the session, and a downstream job (or a
    *    fresh session — see ArtifactStoreSpec) can consume it without
    *    recomputing the chain. The write is one extra pass over a
    *    table that is already bounded (pairs/labels/masks are
    *    corpus-artifact-sized, not input-sized).
    *
    * The artifact file name folds in the input dir so two corpora never
    * collide under one artifact root.
    */
  def materialize(s: SparkSession, dir: String, name: String)(df: DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    val out = storeMode(s) match {
      case "parquet" =>
        val base = s.conf.get("spark.graft.artifactDir",
          sys.props("java.io.tmpdir") + "/graft-artifacts")
        val path = s"$base/${dirDigest(dir)}_$name"
        df.write.mode("overwrite").parquet(path)
        s.read.parquet(path)
      case _ =>
        // serialized blocks, not deserialized row objects: a bench run
        // accumulates ~50 artifact checkpoints, and deserialized
        // MEMORY_AND_DISK (the localCheckpoint default) keeps millions
        // of live row objects in old gen — the r8 GC log showed 8-10 s
        // young pauses copying them. MEMORY_AND_DISK_SER stores compact
        // byte buffers (GC cost ~ number of blocks, not rows) at a
        // small per-read deserialization cost on tables that are
        // corpus-artifact-sized anyway.
        df.localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    }
    // one line per artifact build so every bench total decomposes into
    // build-vs-query time without external probes (VERDICT r6 item 5)
    System.err.println(
      f"[artifact] $name built in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    out
  }
}
