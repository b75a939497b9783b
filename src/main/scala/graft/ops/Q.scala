package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, LongType, StructField, StructType}

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

/** Shared query helpers, and the one scratch lifecycle.
  *
  * A checkpoint has one of two lifetimes. A memoized artifact is
  * [[materialize]] inside a [[memoized]] build (anywhere else it fails
  * with [[OutsideBuild]]), held until [[releaseSession]]. A scratch
  * ([[scratch]]) is capped at [[ScratchCap]] per (session, thread), so
  * only a later scratch of the thread that built it can evict it.
  * Every eager checkpoint goes through one private path, `checkpoint`:
  * an eager `localCheckpoint` at MEMORY_AND_DISK_SER, one `[artifact]`
  * stderr line, and the checkpoint's RDD id recorded for its session.
  * [[releaseSession]] unpersists exactly the ids its session recorded,
  * so sessions sharing a SparkContext never free each other's blocks.
  * [[memoized]] keys artifacts by session, so a fresh `newSession()`
  * rebuilds them — the way `graft.BuildPlans` captures a production
  * build's checkpoint plans for PlanShapeSpec and PlanDump.
  */
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

  /** Exact interpolated percentiles (QUANTILE_CONT semantics — the
    * interpolation of Spark's holistic `percentile` and DuckDB's
    * `quantile_cont`; nulls are ignored) WITHOUT a holistic aggregation
    * buffer — the engine's one exact percentile path: a mergeable
    * sketch brackets each rank, one pass selects it exactly (the
    * sketch-then-refine pattern of *Approximation Algorithms for Large
    * Scale Data Analysis*, PODS 2021, PAPERS.md).
    *
    *  - **Pass 1** (eager; keys × |ps| rows are collected to the planning JVM): one
    *    map-side-combined aggregate per key, `bracket_sketch`
    *    ([[graft.functions.BracketSketch]]): a `percentile_approx`
    *    sketch (accuracy A = [[SketchAccuracy]], rank error ≤ n/A) read
    *    at p ± [[Margin]], and the count n of values it holds. A key
    *    with fewer than A values brackets its exact [min, max].
    *  - **Pass 2** (lazy — the returned plan): the brackets [L, H]
    *    broadcast back; one `bracket_select` aggregate per key
    *    ([[graft.functions.BracketSelect]]) counts per p the values
    *    below L, equal to L and equal to H, and keeps those strictly
    *    inside, on the executors. Rank r is L, the (r − below − eqL)-th
    *    sorted inside value, or H; the aggregate picks each p's two
    *    ranks and weight once, and the plan's only per-p code is the
    *    interpolation `lo + (hi − lo)·frac` — the generated classes stay
    *    small whatever |ps| is.
    *  - **Bracket check.** The counts prove the bracket held ranks lo
    *    and lo + 1 (and that n did not change between the passes); a
    *    miss never yields a value, it fails with [[BracketMiss]].
    *  - **Bounded buffer.** Ties collapse into the eqL/eqH counts, so a
    *    bracket collects ≤ (2m + 2/A)·n values. Where that would pass
    *    [[BracketCap]] (≳ 10⁸ values per key), eager narrowing rounds
    *    sketch the inside values on a 1/[[NarrowGrid]] grid and
    *    re-bracket first (~200× narrower per round).
    *
    * `ps` maps fraction → output column name; output is one row per key.
    * With the session conf `spark.graft.percentileMode=approx` (the
    * 100 TB swap) this is pass 1 alone, lazy: `approx_percentile` at
    * accuracy `spark.graft.percentileAccuracy` (default 10000), same
    * schema, values within its rank-error bound (PercentileSwapSpec).
    */
  def exactPercentiles(df: DataFrame, key: String, v: String,
      ps: Seq[(Double, String)]): DataFrame = {
    val s = df.sparkSession
    val mode =
      try s.conf.get("spark.graft.percentileMode", "exact")
      catch { case _: Throwable => "exact" }
    if (mode == "approx") {
      val acc =
        try s.conf.get("spark.graft.percentileAccuracy", "10000").toInt
        catch { case _: Throwable => 10000 }
      // the cast keeps the exact path's double output type
      val aggs = ps.map { case (p, name) =>
        percentile_approx(col(v), lit(p), lit(acc)).cast("double").as(name)
      }
      df.groupBy(col(key)).agg(aggs.head, aggs.tail: _*)
    } else bracketed(df, key, v, ps, Margin, BracketCap)
  }

  // the sketch's accuracy A, the bracket half-width (5× its rank error),
  // the most values one (key, p) bracket collects, the narrowing grid
  private val SketchAccuracy = 10000
  private val Margin = 5.0 / SketchAccuracy
  private val BracketCap = 1L << 17
  private val NarrowGrid = 1000
  /** The named error of a bracket that did not hold its ranks. */
  val BracketMiss = "PERCENTILE_BRACKET_MISS"

  /** One key's brackets: `l(i)`/`h(i)` bound p_i's two ranks, `est(i)`
    * bounds the values strictly inside. */
  private final case class Brackets(k: Any, n: Long, l: Seq[Any], h: Seq[Any],
      est: Seq[Double])

  /** [[exactPercentiles]]' exact path with its margin and cap exposed,
    * so specs can drive the miss and narrowing branches. */
  private[graft] def bracketed(df: DataFrame, key: String, v: String,
      ps: Seq[(Double, String)], margin: Double, cap: Long): DataFrame = {
    require(cap >= 16, s"bracket cap $cap < 16 cannot narrow")
    val s = df.sparkSession
    val in = df.select(col(key), col(v))
    val (kt, vt) = (in.schema(0).dataType, in.schema(1).dataType)
    val eps = 1.0 / SketchAccuracy
    def miss(what: String) = s"$BracketMiss: $what (key column $key, value $v)"
    val fr = Seq(0.0, 1.0) ++ ps.flatMap { case (p, _) =>
      Seq(math.max(p - margin, 0.0), math.min(p + margin, 1.0)) }
    var cur = in.groupBy(col(key)).agg(call_function("bracket_sketch", col(v),
        array(fr.map(lit): _*), lit(SketchAccuracy)))
      .collect().toSeq.map { r =>
        val q = r.getStruct(1)
        val n = q.getLong(0)
        val sk = if (q.isNullAt(1)) Seq.fill[Any](fr.size)(null) else q.getSeq[Any](1)
        val whole = n < SketchAccuracy
        Brackets(r.get(0), n,
          ps.indices.map(i => if (whole) sk(0) else sk(2 + 2 * i)),
          ps.indices.map(i => if (whole) sk(1) else sk(3 + 2 * i)),
          ps.map(_ => if (whole) n.toDouble else (2 * margin + 2 * eps) * n))
      }
    def frame(bs: Seq[Brackets]): DataFrame = s.createDataFrame(
      java.util.Arrays.asList(bs.map(b => Row(b.k, b.n, b.l, b.h)): _*),
      StructType(Seq(StructField("_k", kt), StructField("_n", LongType),
        StructField("_L", ArrayType(vt)), StructField("_H", ArrayType(vt)))))
    def lh(i: Int) = (col("_L")(i), col("_H")(i))
    def inside(i: Int) = col(v) > lh(i)._1 && col(v) < lh(i)._2
    def counts(i: Int) = Seq(count(when(col(v) < lh(i)._1, 1)).as(s"_b$i"),
      count(when(col(v) === lh(i)._1, 1)).as(s"_e$i"),
      count(when(col(v) === lh(i)._2 && lh(i)._2 > lh(i)._1, 1)).as(s"_f$i"))
    // narrowing rounds (only keys whose brackets could pass the cap): the
    // counts locate each rank inside its bracket, a grid sketch of the
    // inside values re-brackets it
    var round = 0
    while (cur.exists(_.est.exists(_ > cap))) {
      round += 1
      require(round <= 8, miss("brackets did not narrow under the cap"))
      val grid = array((0 to NarrowGrid).map(g => lit(g.toDouble / NarrowGrid)): _*)
      val got = in.join(broadcast(frame(cur.filter(_.est.exists(_ > cap)))),
          col(key) <=> col("_k"))
        .groupBy(col(key)).agg(count(col(v)).as("_cnt"), ps.indices.flatMap(i =>
          counts(i) ++ Seq(count(when(inside(i), 1)).as(s"_m$i"),
            percentile_approx(when(inside(i), col(v)), grid, lit(SketchAccuracy))
              .as(s"_g$i"))): _*)
        .collect().map(r => r.get(0) -> r).toMap
      cur = cur.map(b => got.get(b.k).fold(b) { r =>
        if (r.getLong(1) != b.n) throw new IllegalStateException(miss("input changed"))
        val next = ps.indices.map { i =>
          if (b.est(i) <= cap) (b.l(i), b.h(i), b.est(i)) else {
            val Seq(below, e, f, m) = (0 to 3).map(j => r.getLong(2 + 5 * i + j))
            val lo = math.floor((b.n - 1) * ps(i)._1).toLong + 1
            val hi = math.min(lo + 1, b.n)
            val (jl, jh) = (lo - below, hi - below)
            if (jl < 1 || jh > e + m + f)
              throw new IllegalStateException(miss(s"rank $lo outside its bracket"))
            def g(x: Double) =
              r.getSeq[Any](6 + 5 * i)(math.min(math.max(x, 0.0), NarrowGrid).toInt)
            (if (jl <= e) b.l(i) else if (jl > e + m) b.h(i)
              else g(math.floor(((jl - e).toDouble / m - margin) * NarrowGrid) - 1),
              if (jh > e + m) b.h(i) else if (jh <= e) b.l(i)
              else g(math.ceil(((jh - e).toDouble / m + margin) * NarrowGrid) + 1),
              math.min(m, (2 * margin + 4.0 / NarrowGrid + 2 * eps) * m + 2))
          }
        }
        b.copy(l = next.map(_._1), h = next.map(_._2), est = next.map(_._3))
      })
    }
    // pass 2: one bracket_select per key picks each p's two order
    // statistics (or fails with the miss); the interpolation is the only
    // per-p code the plan generates
    val picked = in.join(broadcast(frame(cur)), col(key) <=> col("_k"), "left")
      .groupBy(col(key)).agg(call_function("bracket_select", col(v), col("_n"),
        col("_L"), col("_H"), array(ps.map(p => lit(p._1)): _*), lit(cap),
        lit(miss("a rank fell outside its bracket"))).as("_r"))
    val (vs, frac) = (col("_r.v"), col("_r.frac"))
    picked.select(col(key) +: ps.zipWithIndex.map { case ((_, name), i) =>
      val (lo, hi) = (vs(2 * i), vs(2 * i + 1))
      (lo + (hi - lo) * frac(i)).as(name)
    }: _*)
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

  /** The memoized frames session `s` currently holds. */
  private[graft] def memoFrames(s: SparkSession): Seq[DataFrame] = {
    val sid = System.identityHashCode(s)
    val out = Seq.newBuilder[DataFrame]
    memo.forEach((k, v) => if (k._1 == sid) out += v)
    out.result()
  }

  /** Drop every memoized artifact of session `s` and unpersist the
    * checkpoints `s` made — only those: other sessions on the same
    * SparkContext keep their memo entries AND the blocks behind them.
    * Bench calls this between the sf0.001 warm-up sweep and the timed
    * pass: the memo's strong references keep every warm-up artifact's
    * checkpoint blocks alive (ContextCleaner only reaps unreferenced
    * RDDs), so without the release the timed queries run under the
    * block-manager and GC pressure of hundreds of dead sf0.001
    * artifacts — measured as a ~2× across-the-board inflation of the r5
    * bench. Correctness-neutral: a released artifact simply rebuilds on
    * next use. The session's `Io.views` frames go too.
    */
  def releaseSession(s: SparkSession): Unit = {
    val sid = System.identityHashCode(s)
    graft.io.Io.releaseSession(s)
    val it = memo.keySet.iterator()
    while (it.hasNext) if (it.next()._1 == sid) it.remove()
    val lit = buildLocks.keySet.iterator()
    while (lit.hasNext) if (lit.next()._1 == sid) lit.remove()
    val c = checkpoints.remove(sid)
    if (c != null) {
      val ids = c.synchronized(c.artifacts.toSeq ++ c.scratch.values.flatten)
      val live = s.sparkContext.getPersistentRDDs
      // blocking: let the removal storm finish HERE, not asynchronously
      // under the first timed queries
      ids.foreach(id => live.get(id).foreach(_.unpersist(blocking = true)))
    }
  }

  /** Collision-resistant corpus-directory digest for artifact naming:
    * SHA-1 prefix of the full path (the 32-bit String.hashCode used
    * before r12 made two corpora colliding — or two sessions on
    * different corpora sharing a tmp root — silently overwrite each
    * other's derived copies mid-read). 12 hex chars = 48 bits. */
  def dirDigest(d: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.digest(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(6).map(b => f"$b%02x").mkString
  }

  /** Root-convention path for corpus-derived artifact DIRECTORIES —
    * [[materialize]]'s parquet store and the copies that live outside
    * the memo (derived CSV/JSON copies, partitioned-parquet layouts,
    * snapshot roots): one spelling of the artifact root + corpus
    * prefix, so a convention change lands everywhere at once.
    *
    * The root is the session conf `spark.graft.artifactDir`, else a
    * directory of this process ([[processDir]]); the name carries the
    * session's [[sessionTag]], so a session that rebuilds an artifact
    * (a memo miss: a fresh `newSession()`, another JVM on a shared
    * root) never overwrites files another session's frames still list. */
  def artifactPath(s: SparkSession, d: String, name: String): String = {
    val base = s.conf.getOption("spark.graft.artifactDir")
      .getOrElse(processDir("graft-artifacts"))
    s"$base/${dirDigest(d)}_${sessionTag(s)}_$name"
  }

  private val processDirs = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** A fresh directory under `java.io.tmpdir` owned by this JVM, one per
    * prefix, deleted when the JVM exits — for paths that two processes
    * on one host must not share (the artifact root, a harness's
    * warehouse). */
  def processDir(prefix: String): String = processDirs.computeIfAbsent(prefix, _ => {
    val dir = java.nio.file.Files.createTempDirectory(prefix + "-")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile))
    dir.toString
  })

  private val sessionTags = new java.util.WeakHashMap[SparkSession, String]
  private val nextTag = new java.util.concurrent.atomic.AtomicLong

  /** A name unique to session `s` among every session of every process:
    * the process id and a per-process counter. */
  private def sessionTag(s: SparkSession): String = sessionTags.synchronized {
    sessionTags.computeIfAbsent(s,
      _ => s"p${ProcessHandle.current.pid}s${nextTag.incrementAndGet()}")
  }

  /** The one [artifact] stderr line every build prints (bench totals
    * decompose into build-vs-query time from the log alone). */
  def logArtifact(name: String, t0: Long): Unit =
    System.err.println(
      f"[artifact] $name built in ${(System.nanoTime() - t0) / 1e9}%.2f s")

  private def storeMode(s: SparkSession): String =
    try s.conf.get("spark.graft.artifactStore", "local")
    catch { case _: Throwable => "local" }

  /** RDD ids of the checkpoints one session made. `artifacts` (the
    * local store of [[materialize]]) live until [[releaseSession]];
    * `scratch` ([[scratch]]) holds one FIFO per building thread's id,
    * each keeping only its newest [[ScratchCap]] — the oldest beyond the
    * cap is unpersisted at once. Ids, not RDD references: an
    * unreferenced checkpoint stays reapable by ContextCleaner. */
  private final class Checkpoints {
    val artifacts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val scratch = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Queue[Int]]
  }
  private val checkpoints =
    new java.util.concurrent.ConcurrentHashMap[Int, Checkpoints]

  /** Scratch checkpoints one thread keeps pinned per session. Far above
    * any construct-many-then-run-the-first window a real caller has — an
    * evicted localCheckpoint cannot recompute (lineage truncated), so a
    * thread must not hold more than 32 un-run scratch-backed queries
    * before running the first; every harness runs each query as it is
    * built, and concurrent builders never evict each other's scratch. */
  private val ScratchCap = 32

  /** The scratch RDD ids session `s` tracks, each thread's oldest first. */
  private[graft] def trackedScratch(s: SparkSession): Seq[Int] = {
    val c = checkpoints.get(System.identityHashCode(s))
    if (c == null) Nil else c.synchronized(c.scratch.values.flatten.toList)
  }

  /** The artifact RDD ids (local store) session `s` currently tracks. */
  private[graft] def trackedArtifacts(s: SparkSession): Seq[Int] = {
    val c = checkpoints.get(System.identityHashCode(s))
    if (c == null) Nil else c.synchronized(c.artifacts.toList)
  }

  /** THE eager checkpoint: serialized blocks, not deserialized row
    * objects — a bench run accumulates ~50 artifact checkpoints, and
    * deserialized MEMORY_AND_DISK (the localCheckpoint default) keeps
    * millions of live row objects in old gen (the r8 GC log showed
    * 8-10 s young pauses copying them). MEMORY_AND_DISK_SER stores
    * compact byte buffers (GC cost ~ number of blocks, not rows) at a
    * small per-read deserialization cost. Prints the one [artifact]
    * line and records the checkpoint's RDD id for its session. */
  private def checkpoint(name: String, scratch: Boolean)(df: DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    val out = df.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    logArtifact(name, t0)
    val s = df.sparkSession
    val c = checkpoints.computeIfAbsent(System.identityHashCode(s),
      _ => new Checkpoints)
    out.queryExecution.logical.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.foreach { id =>
      val evicted = c.synchronized {
        if (!scratch) { c.artifacts += id; None }
        else {
          val q = c.scratch.getOrElseUpdate(Thread.currentThread.getId,
            scala.collection.mutable.Queue.empty[Int])
          q.enqueue(id)
          if (q.size > ScratchCap) Some(q.dequeue()) else None
        }
      }
      evicted.foreach(e =>
        s.sparkContext.getPersistentRDDs.get(e).foreach(_.unpersist(false)))
    }
    out
  }

  /** Per-construction SCRATCH checkpoint: always the local checkpoint,
    * NEVER the parquet artifact store — for frames that one query
    * execution consumes more than once but that are not pipeline
    * artifacts (d_agg_cms_freq's per-user count table, a ranged table
    * two branches read, an iteration step referenced by every later
    * step). In parquet store mode such a frame would be written to the
    * shared store and read back once, and two constructions would
    * overwrite each other's files. Counts against the building thread's
    * [[ScratchCap]] for the session. */
  def scratch(name: String)(df: DataFrame): DataFrame =
    checkpoint(name, scratch = true)(df)

  /** The named error of a [[materialize]] with no [[memoized]] build in
    * flight on its thread. */
  private[graft] val OutsideBuild = "MATERIALIZE_OUTSIDE_MEMOIZED_BUILD"

  /** Materialize a pipeline-shared artifact (pair table, CC labels,
    * token masks) or one round of its build — only inside a [[memoized]]
    * build on this thread, else it fails with [[OutsideBuild]]; a
    * per-construction checkpoint is a [[scratch]]. Two stores, chosen by
    * the session conf `spark.graft.artifactStore`:
    *
    *  - `local` (default): the eager [[checkpoint]] — blocks on
    *    executor block managers, held until [[releaseSession]].
    *    Fastest, right for single-JVM runs, but the truncated lineage
    *    is unrecoverable if an executor dies: NOT the cluster story.
    *  - `parquet`: write-and-reread at [[artifactPath]] (shared storage
    *    on a real cluster — HDFS/object store). Any executor can
    *    re-read a lost partition from the store, the artifact survives
    *    the session, and a downstream job (or a fresh session — see
    *    ArtifactStoreSpec) can consume it without recomputing the
    *    chain. The write is one extra pass over a table that is already
    *    bounded (pairs/labels/masks are corpus-artifact-sized, not
    *    input-sized).
    *
    * The artifact file name folds in the input dir so two corpora never
    * collide under one artifact root. Either store prints one
    * [artifact] line per build, so every bench total decomposes into
    * build-vs-query time without external probes (VERDICT r6 item 5).
    */
  def materialize(s: SparkSession, dir: String, name: String)(df: DataFrame): DataFrame = {
    if (buildStack.get.isEmpty) throw new IllegalStateException(
      s"$OutsideBuild: '$name' is not inside a Q.memoized build; use Q.scratch")
    storeMode(s) match {
      case "parquet" =>
        val t0 = System.nanoTime()
        val path = artifactPath(s, dir, name)
        df.write.mode("overwrite").parquet(path)
        val out = s.read.parquet(path)
        logArtifact(name, t0)
        out
      case _ => checkpoint(name, scratch = false)(df)
    }
  }
}
