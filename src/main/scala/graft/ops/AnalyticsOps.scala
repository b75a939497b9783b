package graft.ops

import graft.io.Io
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Higher-level analytics operators beyond the SURVEY §2 core — the
  * shapes a production event/training-data pipeline actually runs:
  * pivot, skew-safe two-stage aggregation, funnel analysis, cohort
  * retention, histograms, time-series gap-fill, moving-window anomaly
  * scores. All oracle-checked.
  */
object AnalyticsOps {

  /** epoch day from the canonical epoch-micros event time. */
  private val day = expr("CAST(ts_us DIV 86400000000 AS BIGINT)")

  /** Channel list for the Markov-attribution variants: every
    * non-purchase event type plus the 'base' (unmodified) chain. */
  private def markovVariants(s: org.apache.spark.sql.SparkSession, d: String) =
    Io.events(s, d)
      .filter(col("event_type") =!= "purchase")
      .select(col("event_type").as("variant")).distinct()
      .union(s.range(1).select(lit("base").as("variant")))

  /** The Markov-attribution transition matrices, one per variant
    * (variant, src, dst, p): journeys truncated at first purchase,
    * per-channel removal redirects transitions into the channel to
    * DROP, CONV/DROP get absorbing self-loops. Memoized and
    * materialized: the squaring chain reads it twice per stage. */
  private[graft] def markovM0(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Q.memoized(s, d, "mkvM0") {
      Q.materialize(s, d, "mkvM0")(markovM0Build(s, d))
    }

  private def markovM0Build(s: org.apache.spark.sql.SparkSession,
      d: String) = {
    val wu = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val ev = Io.events(s, d)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type"))
      .withColumn("rn", row_number().over(wu))
    val fp = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("rn")).as("fp"))
    val kept = ev.join(fp, Seq("user_id"), "left")
      .filter(col("fp").isNull || col("rn") <= col("fp"))
      .withColumn("st", when(col("event_type") === "purchase",
        lit("CONV")).otherwise(col("event_type")))
    val wk = Window.partitionBy(col("user_id")).orderBy(col("rn"))
    val trans = kept
      .withColumn("src", lag(col("st"), 1, "START").over(wk))
      .select(col("src"), col("st").as("dst"))
    val tails = kept.join(fp, Seq("user_id"), "left_anti")
      .groupBy(col("user_id")).agg(expr("max_by(st, rn)").as("src"))
      .select(col("src"), lit("DROP").as("dst"))
    val cnt = trans.union(tails).groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy(col("src")).agg(sum(col("n")).as("tot"))
    val base = cnt.join(tot, "src")
      .select(col("src"), col("dst"),
        (col("n") / col("tot").cast("double")).as("p"))
    val variants = markovVariants(s, d)
    variants.crossJoin(broadcast(base))
      .filter(col("variant") === "base" || col("src") =!= col("variant"))
      .select(col("variant"), col("src"),
        when(col("variant") =!= "base" && col("dst") === col("variant"),
          lit("DROP")).otherwise(col("dst")).as("dst"),
        col("p"))
      .groupBy(col("variant"), col("src"), col("dst"))
      .agg(decSum18(col("p")).as("p"))
      .union(variants.select(col("variant"), lit("CONV").as("src"),
        lit("CONV").as("dst"), lit(1.0).as("p")))
      .union(variants.select(col("variant"), lit("DROP").as("src"),
        lit("DROP").as("dst"), lit(1.0).as("p")))
  }

  /** The Mann-Whitney pair-count aggregate over purchase (group 1) vs
    * click (group 2) `value`s, shared by g_mannwhitney_u and
    * g_auc_value: one row (u2x = 2·U₁, n1, n2, tsum = Σ(t³−t)) from
    * the distinct-value decomposition 2·U₁ = Σ_v na_v·(2·cumB<(v) +
    * nb_v) — pure BIGINT, with the exclusive prefix over distinct
    * values run by the two-pass range-partition pattern (the ranged
    * table memoized + materialized: two consumers of one range-sampled
    * partitioning, the g_cusum_changepoint lesson). */
  private def mwAgg(s: org.apache.spark.sql.SparkSession, d: String) = {
    val parts = s.sparkContext.defaultParallelism
    val dv = Io.events(s, d)
      .filter(col("event_type").isin("purchase", "click"))
      .groupBy(col("value"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("na_v"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("nb_v"))
    val wLoc = Window.partitionBy(col("pid")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = Q.memoized(s, d, "mannwhitney_ranged") {
      Q.materialize(s, d, "mannwhitney_ranged") {
        dv.repartitionByRange(parts, col("value"))
          .withColumn("pid", spark_partition_id())
          .withColumn("lcb", coalesce(sum(col("nb_v")).over(wLoc), lit(0L)))
      }
    }
    val offs = local.groupBy(col("pid")).agg(sum(col("nb_v")).as("pt"))
      .withColumn("off", coalesce(sum(col("pt")).over(
        Window.orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("off"))
    val t = col("na_v") + col("nb_v")
    local.join(broadcast(offs), "pid")
      .agg(sum(col("na_v") * (lit(2L) * (col("lcb") + col("off")) + col("nb_v")))
        .as("u2x"),
        sum(col("na_v")).as("n1"), sum(col("nb_v")).as("n2"),
        sum(t * t * t - t).as("tsum"))
  }

  /** Deterministic 1e-6 snap (HALF_UP in both engines when fed a
    * DOUBLE; DuckDB's decimal→decimal cast truncates — never feed it
    * a DECIMAL). */
  private def snap6(c: org.apache.spark.sql.Column) =
    c.cast(org.apache.spark.sql.types.DecimalType(38, 6)).cast("double")
  // The VARCHAR hop replicates Spark's double->decimal cast EXACTLY:
  // Spark rounds the double's shortest decimal REPR half-up, while
  // DuckDB's direct double->decimal multiplies by 10^scale and rints —
  // on inputs whose repr ends exactly at the rounding digit the float
  // multiply can cross the .5 the other way (seen: 0.6966874999999999 ->
  // .696688 direct vs .696687 via repr, h_quality_quantile @ sf0.1).
  // DuckDB's VARCHAR cast emits the shortest repr, so parse-then-round
  // matches Spark on every boundary case. The CASE guard zeroes
  // below-half-ulp magnitudes first: DuckDB's string->decimal parse
  // half-ups the FIRST SIGNIFICANT DIGIT regardless of exponent, so
  // '7.2e-12' parses to 0.000001 at scale 6 (should be 0) — any tiny
  // float-dust term (e.g. x - x's own min) would round away from zero.
  private def dSnap6(x: String) =
    s"CAST(CAST(CAST(CASE WHEN ABS($x) < 5e-7 THEN CAST(0 AS DOUBLE) ELSE $x END" +
      s" AS VARCHAR) AS DECIMAL(38,6)) AS DOUBLE)"

  /** Per-term 1e-12 snap + exact DECIMAL(38,18) sum for transcendental
    * (ln) terms — the GraphOps PMI/Adamic-Adar discipline. */
  private def snap12(c: org.apache.spark.sql.Column) =
    c.cast(org.apache.spark.sql.types.DecimalType(38, 12)).cast("double")
  private def dSnap12(x: String) =
    s"CAST(CAST(CAST(CASE WHEN ABS($x) < 5e-13 THEN CAST(0 AS DOUBLE) ELSE $x END" +
      s" AS VARCHAR) AS DECIMAL(38,12)) AS DOUBLE)"
  private def decSum18(c: org.apache.spark.sql.Column) =
    sum(c.cast(org.apache.spark.sql.types.DecimalType(38, 18))).cast("double")
  /** RAW (un-hopped) scale-18 oracle sum — legal ONLY for results that
    * are re-snapped at a coarser grain (≤1e-12) before emission, where
    * DuckDB's in-cast dust capture and out-cast double-rounding (both
    * ~1e-16 relative — see BASELINE.md's scale-18 defect class) sit
    * orders below the snap. r12 audit: the single consumer here
    * (g_theil_spend's sum_termg) is dSnap6-wrapped on emission. Any
    * sum emitted RAW must use the two-way-hopped s18/dSum18h spelling
    * (Heaps lesson) instead. */
  private def dSum18(x: String) =
    s"CAST(SUM(CAST($x AS DECIMAL(38,18))) AS DOUBLE)"

  /** TWO-WAY hop snap at scale 12 for LARGE values (|v| > ~9e3, where
    * DuckDB's direct decimal→double out-cast double-rounds — the
    * VectorOps/PCA lesson): double →VARCHAR→ DECIMAL(38,12) →VARCHAR→
    * double. Spark's native casts are correctly rounded in both
    * directions, so the Spark twin is the plain snap12. Used to pin
    * every multiply-add seam (DuckDB may fuse `a*b - c` into one fma
    * while the JVM rounds each op — the BM25 lesson). */
  private def dSnapHop12(x: String) =
    s"CAST(CAST(CAST(CAST(CASE WHEN ABS($x) < 5e-13 THEN CAST(0 AS DOUBLE)" +
      s" ELSE $x END AS VARCHAR) AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE)"
  /** Exact decimal aggregate → double via VARCHAR (out-hop only). */
  private def dHop(x: String) = s"CAST(CAST($x AS VARCHAR) AS DOUBLE)"

  /** THE Holt-Winters recurrence template — one definition feeding BOTH
    * the Spark aggregate() fold lambda and the DuckDB recursive CTE, so
    * the two engines' op trees cannot drift (the comment above promises
    * exactly this; a review found two verbatim copies instead). */
  private def hwStep(h: String, x: String, l: String, b: String,
      si: Int => String, dow: String): (String, String, Int => String) = {
    val sold = s"(CASE $dow ${(0 to 6).map(i =>
      s"WHEN $i THEN ${si(i)}").mkString(" ")} END)"
    val ln = s"($h * ($x - $sold) + $h * ($l + $b))"
    val bn = s"($h * ($ln - $l) + $h * $b)"
    val sn = (i: Int) =>
      s"(CASE WHEN $dow = $i THEN $h * ($x - $ln) + $h * $sold" +
        s" ELSE ${si(i)} END)"
    (ln, bn, sn)
  }

  val all: Seq[Q] = Seq(
    // Pivot (statuses are a fixed domain → stable column names).
    Q("d_pivot", (s, d) => {
      Io.table(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
        .orderBy("o_orderpriority")
    }, Some(
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Unpivot via stack(): wide customer metrics to long form.
    Q("f_unpivot_stack", (s, d) => {
      Io.table(s, d, "customer")
        .filter(col("c_custkey") <= 50)
        .select(col("c_custkey"),
          expr("stack(2, 'acctbal', c_acctbal, 'nationkey', CAST(c_nationkey AS DOUBLE)) AS (metric, value)"))
        .orderBy("c_custkey", "metric")
    }, Some(
      """SELECT c_custkey, metric, value FROM (
        |  SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS value FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE) FROM customer)
        |WHERE c_custkey <= 50
        |ORDER BY c_custkey, metric""".stripMargin)),

    // Skew-safe aggregation: salt → partial per (key, salt) → final.
    // Exact-decimal partials make the two-stage result identical to the
    // direct groupBy (the oracle) — the pattern for hot keys at 100 TB;
    // AQE skew handling covers joins, this covers aggregation fan-in.
    Q("d_agg_salted", (s, d) => {
      val salted = Io.table(s, d, "lineitem")
        .withColumn("salt", pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(16)))
        .groupBy(col("l_returnflag"), col("salt"))
        .agg(sum(col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(38, 6))).as("partial"),
          count(lit(1)).as("pn"))
      salted.groupBy(col("l_returnflag"))
        .agg(r4(sum(col("partial")).cast("double")).as("sum_price"), sum(col("pn")).as("n"))
        .orderBy("l_returnflag")
    }, Some(
      s"""SELECT l_returnflag, ROUND(${dSum("l_extendedprice")}, 4) AS sum_price,
         |  COUNT(*) AS n
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Funnel: signup → first click after signup → first purchase after
    // that click; one row of stage counts. Per-stage joins are keyed by
    // user (shuffle key), no cross products.
    Q("g_funnel", (s, d) => {
      val ev = Io.events(s, d)
      val su = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("s_us"))
      val cl = ev.filter(col("event_type") === "click")
        .join(su, "user_id").filter(col("ts_us") > col("s_us"))
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("c_us"))
      val pu = ev.filter(col("event_type") === "purchase")
        .join(cl, "user_id").filter(col("ts_us") > col("c_us"))
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("p_us"))
      su.agg(count(lit(1)).as("n_signup")).crossJoin(
        cl.agg(count(lit(1)).as("n_signup_click"))).crossJoin(
        pu.agg(count(lit(1)).as("n_full_funnel")))
    }, Some(
      """WITH su AS (SELECT user_id, MIN(epoch_us(ts)) AS s_us FROM events
        |            WHERE event_type = 'signup' GROUP BY user_id),
        |cl AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS c_us
        |       FROM events e JOIN su ON e.user_id = su.user_id
        |       WHERE e.event_type = 'click' AND epoch_us(e.ts) > su.s_us
        |       GROUP BY e.user_id),
        |pu AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_us
        |       FROM events e JOIN cl ON e.user_id = cl.user_id
        |       WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > cl.c_us
        |       GROUP BY e.user_id)
        |SELECT (SELECT COUNT(*) FROM su) AS n_signup,
        |       (SELECT COUNT(*) FROM cl) AS n_signup_click,
        |       (SELECT COUNT(*) FROM pu) AS n_full_funnel""".stripMargin)),

    // Cohort retention: cohort = a user's first active day; count
    // distinct users active at each day offset.
    Q("g_cohort_retention", (s, d) => {
      val ev = Io.events(s, d).withColumn("day", day)
      val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
      val active = ev.select(col("user_id"), col("day")).distinct()
      active.join(first, "user_id")
        .withColumn("offset", col("day") - col("cohort_day"))
        .groupBy(col("cohort_day"), col("offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_day", "offset")
    }, Some(
      """WITH ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |first AS (SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY user_id),
        |active AS (SELECT DISTINCT user_id, day FROM ev)
        |SELECT cohort_day, day - cohort_day AS "offset",
        |       COUNT(DISTINCT active.user_id) AS n_users
        |FROM active JOIN first ON active.user_id = first.user_id
        |GROUP BY cohort_day, "offset" ORDER BY cohort_day, "offset"""".stripMargin)),

    // Histogram: fixed-width buckets over l_quantity (1..50 → 10 buckets
    // of 5), arithmetic identical on both engines.
    Q("f_histogram", (s, d) => {
      Io.table(s, d, "lineitem")
        .withColumn("bucket", least(floor((col("l_quantity") - 1) / 5).cast("int"), lit(9)))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("l_quantity")).as("lo"), max(col("l_quantity")).as("hi"))
        .orderBy("bucket")
    }, Some(
      """SELECT LEAST(CAST(FLOOR((l_quantity - 1) / 5) AS INT), 9) AS bucket,
        |  COUNT(*) AS n, MIN(l_quantity) AS lo, MAX(l_quantity) AS hi
        |FROM lineitem GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // Equi-DEPTH histogram (the pair to f_histogram's equi-width): 8
    // quantile buckets of o_totalprice per order priority — bucket =
    // ceil(cume_dist × 8), so each bucket holds ~n/8 rows (ties share a
    // bucket). cume_dist is the exact rational k/n evaluated with the
    // same IEEE ops on both engines; the window is priority-keyed (no
    // global sort), and the output is bucket-bounded.
    Q("f_histogram_eqdepth", (s, d) => {
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice"))
      Io.table(s, d, "orders")
        .withColumn("bucket", ceil(cume_dist().over(w) * 8).cast("int"))
        .groupBy(col("o_orderpriority"), col("bucket"))
        .agg(count(lit(1)).as("n"),
          r4(min(col("o_totalprice"))).as("lo"),
          r4(max(col("o_totalprice"))).as("hi"))
        .orderBy("o_orderpriority", "bucket")
    }, Some(
      """WITH t AS (
        |  SELECT o_orderpriority, o_totalprice,
        |    CAST(CEIL(CUME_DIST() OVER (PARTITION BY o_orderpriority
        |         ORDER BY o_totalprice) * 8) AS INT) AS bucket
        |  FROM orders)
        |SELECT o_orderpriority, bucket, COUNT(*) AS n,
        |  ROUND(MIN(o_totalprice), 4) AS lo, ROUND(MAX(o_totalprice), 4) AS hi
        |FROM t GROUP BY 1, 2 ORDER BY o_orderpriority, bucket""".stripMargin)),

    // Time-series resample + gap fill: daily event counts per type with
    // missing days filled as 0 over the observed [min_day, max_day] span.
    Q("g_resample_gapfill", (s, d) => {
      val ev = Io.events(s, d).withColumn("day", day)
      val bounds = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val days = bounds.select(explode(sequence(col("d0"), col("d1"))).as("day"))
      val types = ev.select(col("event_type")).distinct()
      val grid = days.crossJoin(types)
      val counts = ev.groupBy(col("day"), col("event_type")).agg(count(lit(1)).as("n"))
      grid.join(counts, Seq("day", "event_type"), "left")
        .select(col("day"), col("event_type"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("day", "event_type")
    }, Some(
      """WITH ev AS (SELECT epoch_us(ts) // 86400000000 AS day, event_type FROM events),
        |bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev),
        |days AS (SELECT UNNEST(generate_series(d0, d1)) AS day FROM bounds),
        |types AS (SELECT DISTINCT event_type FROM ev),
        |counts AS (SELECT day, event_type, COUNT(*) AS n FROM ev GROUP BY day, event_type)
        |SELECT days.day, types.event_type, COALESCE(counts.n, 0) AS n
        |FROM days CROSS JOIN types
        |LEFT JOIN counts ON counts.day = days.day AND counts.event_type = types.event_type
        |ORDER BY days.day, types.event_type""".stripMargin)),

    // Moving z-score anomaly detection over daily per-type counts
    // (7-day trailing window; integer window sums → deterministic).
    Q("g_moving_zscore", (s, d) => {
      val ev = Io.events(s, d).withColumn("day", day)
      val daily = ev.groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-6, Window.currentRow)
      daily
        .withColumn("wn", count(lit(1)).over(w))
        .withColumn("ws", sum(col("cnt")).over(w))
        .withColumn("wss", sum(col("cnt") * col("cnt")).over(w))
        .withColumn("mean", col("ws") / col("wn"))
        .withColumn("variance",
          when(col("wn") >= 2, (col("wss") - col("ws") * col("ws") / col("wn")) / (col("wn") - 1)))
        .withColumn("z",
          when(col("variance") > 0, r4((col("cnt") - col("mean")) / sqrt(col("variance")))))
        .select(col("event_type"), col("day"), col("cnt"), r4(col("mean")).as("mean_7d"),
          col("z"), (abs(coalesce(col("z"), lit(0.0))) > 2.0).as("is_anomaly"))
        .orderBy("event_type", "day")
    }, Some(
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |win AS (
        |  SELECT event_type, day, cnt,
        |    COUNT(*) OVER w AS wn, SUM(cnt) OVER w AS ws, SUM(cnt * cnt) OVER w AS wss
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |scored AS (
        |  SELECT event_type, day, cnt,
        |    ws / wn AS mean,
        |    CASE WHEN wn >= 2 THEN (wss - ws * ws / wn) / (wn - 1) END AS variance
        |  FROM win)
        |SELECT event_type, day, cnt, ROUND(mean, 4) AS mean_7d,
        |  CASE WHEN variance > 0 THEN ROUND((cnt - mean) / SQRT(variance), 4) END AS z,
        |  ABS(COALESCE(CASE WHEN variance > 0
        |                    THEN ROUND((cnt - mean) / SQRT(variance), 4) END, 0.0)) > 2.0
        |    AS is_anomaly
        |FROM scored ORDER BY event_type, day""".stripMargin)),

    // Exponentially-weighted moving average over each user's last 10
    // events (α = 0.3). Written as ten explicit lag terms with rational
    // weights 7^k/10^k (exact integer ratios → correctly-rounded double
    // division, identical on both engines — POWER(0.7, k) could differ
    // by an ulp between libms) and a FIXED left-to-right addition order,
    // so the value is bit-stable without decimal routing. Lag windows
    // shuffle once on user_id — the standard time-series shape at scale.
    Q("g_ewma", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val weights = (0 until 10).map(k => math.pow(7, k) / math.pow(10, k))
      val base = Io.events(s, d).filter(col("user_id") < 20)
      val withLags = (0 until 10).foldLeft(base) { (df, k) =>
        df.withColumn(s"l$k", lag(col("value"), k).over(w))
      }
      val num = (0 until 10).map(k =>
        when(col(s"l$k").isNotNull, col(s"l$k") * lit(weights(k))).otherwise(lit(0.0)))
        .reduceLeft(_ + _)
      val den = (0 until 10).map(k =>
        when(col(s"l$k").isNotNull, lit(weights(k))).otherwise(lit(0.0)))
        .reduceLeft(_ + _)
      withLags
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("value"), r6(num / den).as("ewma"))
        .orderBy("user_id", "ts_us", "event_id")
    }, Some {
      val terms = (0 until 10).map { k =>
        val wk = s"(${BigInt(7).pow(k)} / ${BigInt(10).pow(k)}.0)"
        (s"CASE WHEN LAG(value, $k) OVER w IS NOT NULL THEN LAG(value, $k) OVER w * $wk ELSE 0.0 END",
          s"CASE WHEN LAG(value, $k) OVER w IS NOT NULL THEN $wk ELSE 0.0 END")
      }
      val num = terms.map(_._1).mkString("(", " + ", ")")
      val den = terms.map(_._2).mkString("(", " + ", ")")
      s"""SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
         |  ROUND($num / $den, 6) AS ewma
         |FROM events WHERE user_id < 20
         |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
         |ORDER BY user_id, ts_us, event_id""".stripMargin
    }),

    // Holt double-exponential smoothing (level + trend) over the daily
    // per-type count series, with a 7-day-ahead forecast — the
    // capacity-planning read g_ewma's smoother can't give (EWMA has no
    // trend term). α = β = 1/2, so every multiply is an EXACT binary
    // halving and the recurrence l_t = ½x_t + ½(l+b),
    // b_t = ½(l_t − l_{t−1}) + ½b is bit-identical across engines
    // with NO decimal snaps: the op tree is spelled identically on
    // both sides (l_t recomputed inside b_t rather than bound — same
    // deterministic value), inputs are integer counts, and IEEE +/−/×
    // round the same everywhere. Spark folds each type's bounded
    // ordered day array with aggregate() (the g_user_path
    // bounded-collect precedent); the oracle is the textbook recursive
    // CTE over day rank. The corpus-sized work is one hash aggregate;
    // the recurrence runs over #days rows per type.
    Q("g_holt_trend", (s, d) => {
      val daily = Io.events(s, d).withColumn("day", day)
        .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("cnt"))
      daily.groupBy(col("event_type"))
        .agg(sort_array(collect_list(struct(col("day"), col("cnt")))).as("series"))
        .select(col("event_type"),
          expr("transform(series, e -> CAST(e.cnt AS DOUBLE))").as("xs"))
        .filter(size(col("xs")) >= 2)
        .select(col("event_type"), size(col("xs")).cast("long").as("n_days"),
          expr("""aggregate(
              slice(xs, 2, size(xs) - 1),
              named_struct(
                'l', element_at(xs, 1),
                'b', element_at(xs, 2) - element_at(xs, 1)),
              (acc, x) -> named_struct(
                'l', 0.5D * x + 0.5D * (acc.l + acc.b),
                'b', 0.5D * ((0.5D * x + 0.5D * (acc.l + acc.b)) - acc.l)
                       + 0.5D * acc.b))""").as("hb"))
        .select(col("event_type"), col("n_days"),
          col("hb.l").as("level"), col("hb.b").as("trend"),
          (col("hb.l") + lit(7.0) * col("hb.b")).as("forecast_7d"))
        .orderBy("event_type")
    }, Some(
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |series AS (
        |  SELECT event_type,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t,
        |    CAST(cnt AS DOUBLE) AS x
        |  FROM daily),
        |ns AS (SELECT event_type, MAX(t) AS tmax FROM series GROUP BY 1),
        |rec AS (
        |  SELECT s1.event_type, CAST(1 AS BIGINT) AS t, s1.x AS l, s2.x - s1.x AS b
        |  FROM series s1 JOIN series s2
        |    ON s2.event_type = s1.event_type AND s1.t = 1 AND s2.t = 2
        |  UNION ALL
        |  SELECT r.event_type, r.t + 1,
        |    0.5 * s.x + 0.5 * (r.l + r.b),
        |    0.5 * ((0.5 * s.x + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b
        |  FROM rec r JOIN series s
        |    ON s.event_type = r.event_type AND s.t = r.t + 1)
        |SELECT r.event_type, CAST(ns.tmax AS BIGINT) AS n_days,
        |  r.l AS level, r.b AS trend, r.l + 7.0 * r.b AS forecast_7d
        |FROM rec r JOIN ns ON ns.event_type = r.event_type AND r.t = ns.tmax
        |WHERE ns.tmax >= 2
        |ORDER BY r.event_type""".stripMargin)),

    // Holt-Winters additive TRIPLE smoothing (level + trend + weekly
    // seasonality, m = 7 day-of-week slots) — the seasonal forecast
    // g_holt_trend can't give. α = β = γ = ½, so the whole recurrence
    // is exact binary halving over integer counts: both engines run
    // the IDENTICAL inlined op tree (l_t recomputed inside b_t and
    // every s_t, the g_holt_trend discipline) and IEEE rounds the same
    // everywhere — no decimal snaps. The seasonal state is 7 explicit
    // struct fields updated by a CASE on day-of-week (day % 7), the
    // only spelling that works in BOTH a Spark aggregate() lambda and
    // a DuckDB recursive CTE; the shared arithmetic is generated from
    // one template so the two sides cannot drift. Corpus-sized work is
    // one (type, day) hash aggregate; the fold runs over #days rows.
    Q("g_holt_winters", (s, d) => {
      // 0.5D: Spark parses a bare 0.5 literal as DECIMAL(1,1)
      val (ln, bn, sn) = hwStep("0.5D", "CAST(e.cnt AS DOUBLE)", "acc.l", "acc.b",
        i => s"acc.s$i", "CAST(e.day % 7 AS INT)")
      val daily = Io.events(s, d).withColumn("day", day)
        .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("cnt"))
      val fold =
        s"""aggregate(
           |  slice(series, 2, size(series) - 1),
           |  named_struct(
           |    'l', CAST(element_at(series, 1).cnt AS DOUBLE),
           |    'b', CAST(element_at(series, 2).cnt AS DOUBLE)
           |       - CAST(element_at(series, 1).cnt AS DOUBLE),
           |    ${(0 to 6).map(i => s"'s$i', CAST(0 AS DOUBLE)").mkString(", ")}),
           |  (acc, e) -> named_struct(
           |    'l', $ln, 'b', $bn,
           |    ${(0 to 6).map(i => s"'s$i', ${sn(i)}").mkString(", ")}))""".stripMargin
      daily.groupBy(col("event_type"))
        .agg(sort_array(collect_list(struct(col("day"), col("cnt")))).as("series"))
        .filter(size(col("series")) >= 2)
        .select(col("event_type"), size(col("series")).cast("long").as("n_days"),
          expr(fold).as("hw"),
          expr("CAST((element_at(series, -1).day + 1) % 7 AS INT)").as("ndow"))
        .select(Seq(col("event_type"), col("n_days"),
          col("hw.l").as("level"), col("hw.b").as("trend")) ++
          (0 to 6).map(i => col(s"hw.s$i").as(s"s$i")) :+
          expr("hw.l + hw.b + (CASE ndow " + (0 to 6).map(i =>
            s"WHEN $i THEN hw.s$i").mkString(" ") + " END)").as("forecast_next"): _*)
        .orderBy("event_type")
    }, Some {
      val (ln, bn, sn) = hwStep("0.5", "s.x", "r.l", "r.b",
        i => s"r.s$i", "CAST(s.day % 7 AS INT)")
      s"""WITH RECURSIVE daily AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS cnt
         |  FROM events GROUP BY 1, 2),
         |series AS (
         |  SELECT event_type, day,
         |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t,
         |    CAST(cnt AS DOUBLE) AS x
         |  FROM daily),
         |ns AS (SELECT event_type, MAX(t) AS tmax, MAX(day) AS daymax
         |       FROM series GROUP BY 1),
         |rec AS (
         |  SELECT s1.event_type, CAST(1 AS BIGINT) AS t,
         |    s1.x AS l, s2.x - s1.x AS b,
         |    ${(0 to 6).map(i => s"CAST(0 AS DOUBLE) AS s$i").mkString(", ")}
         |  FROM series s1 JOIN series s2
         |    ON s2.event_type = s1.event_type AND s1.t = 1 AND s2.t = 2
         |  UNION ALL
         |  SELECT r.event_type, r.t + 1, $ln AS l, $bn AS b,
         |    ${(0 to 6).map(i => s"${sn(i)} AS s$i").mkString(", ")}
         |  FROM rec r JOIN series s
         |    ON s.event_type = r.event_type AND s.t = r.t + 1)
         |SELECT r.event_type, CAST(ns.tmax AS BIGINT) AS n_days,
         |  r.l AS level, r.b AS trend,
         |  ${(0 to 6).map(i => s"r.s$i AS s$i").mkString(", ")},
         |  r.l + r.b + (CASE CAST((ns.daymax + 1) % 7 AS INT) ${(0 to 6).map(i =>
        s"WHEN $i THEN r.s$i").mkString(" ")} END) AS forecast_next
         |FROM rec r JOIN ns ON ns.event_type = r.event_type AND r.t = ns.tmax
         |WHERE ns.tmax >= 2
         |ORDER BY r.event_type""".stripMargin
    }),

    // Event-type transition matrix: first-order Markov counts over each
    // user's time-ordered event sequence, with row-normalized
    // probabilities — the behavior-model input (and the user_path
    // aggregate's dual). One user-keyed window (LEAD) + one hash
    // aggregate on (from, to): bounded output (|types|²), shuffle only
    // on user then on the tiny key.
    Q("g_markov_transitions", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      Io.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type").as("from_type"))
        .withColumn("to_type", lead(col("from_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", snap6(col("n") /
          sum(col("n")).over(Window.partitionBy(col("from_type"))).cast("double")))
        .orderBy("from_type", "to_type")
    }, Some(
      s"""WITH seq AS (
         |  SELECT event_type AS from_type,
         |    LEAD(event_type, 1) OVER (PARTITION BY user_id
         |      ORDER BY epoch_us(ts), event_id) AS to_type
         |  FROM events),
         |c AS (
         |  SELECT from_type, to_type, COUNT(*) AS n
         |  FROM seq WHERE to_type IS NOT NULL
         |  GROUP BY from_type, to_type)
         |SELECT from_type, to_type, n,
         |  ${dSnap6("n / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE)")} AS p
         |FROM c ORDER BY from_type, to_type""".stripMargin)),

    // Stationary distribution of the event-type Markov chain — THREE
    // unrolled power-iteration steps from the uniform vector (the
    // g_logistic_gd loop discipline): each step is a join of the
    // ≤|types|-row π vector against the ≤|types|²-row transition
    // matrix and a per-type sum — metadata-sized work after the one
    // corpus pass that builds the transition counts; the same plan
    // updates a 100 TB chain because the matrix is type-bounded.
    // Parity: transition probabilities are int/int IEEE ratios, each
    // π·P product term enters the per-type sum as floor(x·1e12+0.5)
    // BIGINT (no order-dependent double accumulation), and types that
    // lose all mass join back LEFT with an explicit 0.0 on both
    // engines. Dangling types (no outgoing edges) leak mass rather
    // than teleport — emitted `mass` makes the leak visible.
    Q("g_markov_steady_state", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      // r16 (guide §1.2-1, ProbeScanCount census: events scanned 6×):
      // the transition-count table c fed BOTH the row-sum aggregate and
      // the tr join (2 LEAD-window executions inside the tr build) and
      // the final n_out join re-derived r from scratch (a 3rd); the
      // type census was re-scanned by k, p0 and the final join. Both
      // intermediates are ≤|types|²-bounded — scratch each once: the
      // corpus is now read exactly twice (transitions + type census,
      // the two semantically distinct passes).
      val c = Q.scratch("markov_steady_c")(Io.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type").as("from_type"))
        .withColumn("to_type", lead(col("from_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n")))
      val r = c.groupBy(col("from_type")).agg(sum(col("n")).as("rs"))
      val tr = Q.scratch("markovSteadyTr")(
        c.join(r, "from_type")
          .select(col("from_type"), col("to_type"),
            (col("n").cast("double") / col("rs")).as("pr")))
      val types = Q.scratch("markov_steady_types")(
        Io.events(s, d).select(col("event_type").as("t")).distinct())
      val k = types.agg(count(lit(1)).as("k"))
      val p0 = types.crossJoin(broadcast(k))
        .select(col("t"), (lit(1.0) / col("k")).as("p"))
      def step(pi: org.apache.spark.sql.DataFrame) =
        pi.join(tr, pi("t") === tr("from_type"))
          .select(col("to_type").as("t"),
            floor(col("p") * col("pr") * 1e12 + 0.5).cast("long").as("c12"))
          .groupBy(col("t")).agg(sum(col("c12")).as("s12"))
          .select(col("t"), (col("s12").cast("double") / 1e12).as("p"))
      // p3 feeds the mass scalar AND the final join — without the
      // scratch the whole 3-step power chain re-evaluates twice
      val p3 = Q.scratch("markov_steady_p3")(step(step(step(p0))))
      val mass = p3.agg(
        sum(floor(col("p") * 1e12 + 0.5).cast("long")).as("m12"))
      types.join(p3, Seq("t"), "left")
        .join(r.withColumnRenamed("from_type", "t"), Seq("t"), "left")
        .crossJoin(broadcast(mass))
        .select(col("t").as("event_type"),
          coalesce(col("rs"), lit(0L)).as("n_out"),
          coalesce(col("p"), lit(0.0)).as("steady_p"),
          (col("m12").cast("double") / 1e12).as("mass"))
        .orderBy("event_type")
    }, Some(
      """WITH seq AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, COUNT(*) AS n
        |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS rs
        |      FROM c GROUP BY 1),
        |tr AS (
        |  SELECT c.from_type, c.to_type, CAST(c.n AS DOUBLE) / r.rs AS pr
        |  FROM c JOIN r USING (from_type)),
        |types AS (SELECT DISTINCT event_type AS t FROM events),
        |kk AS (SELECT COUNT(*) AS k FROM types),
        |p0 AS (SELECT t, CAST(1 AS DOUBLE) / k AS p FROM types, kk),
        |s1 AS (
        |  SELECT tr.to_type AS t,
        |    CAST(SUM(CAST(FLOOR(p0.p * tr.pr * 1e12 + 0.5) AS BIGINT))
        |      AS BIGINT) AS s12
        |  FROM p0 JOIN tr ON p0.t = tr.from_type GROUP BY 1),
        |p1 AS (SELECT t, CAST(s12 AS DOUBLE) / 1e12 AS p FROM s1),
        |s2 AS (
        |  SELECT tr.to_type AS t,
        |    CAST(SUM(CAST(FLOOR(p1.p * tr.pr * 1e12 + 0.5) AS BIGINT))
        |      AS BIGINT) AS s12
        |  FROM p1 JOIN tr ON p1.t = tr.from_type GROUP BY 1),
        |p2 AS (SELECT t, CAST(s12 AS DOUBLE) / 1e12 AS p FROM s2),
        |s3 AS (
        |  SELECT tr.to_type AS t,
        |    CAST(SUM(CAST(FLOOR(p2.p * tr.pr * 1e12 + 0.5) AS BIGINT))
        |      AS BIGINT) AS s12
        |  FROM p2 JOIN tr ON p2.t = tr.from_type GROUP BY 1),
        |p3 AS (SELECT t, CAST(s12 AS DOUBLE) / 1e12 AS p FROM s3),
        |mass AS (
        |  SELECT CAST(SUM(CAST(FLOOR(p * 1e12 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS m12 FROM p3)
        |SELECT ty.t AS event_type,
        |  COALESCE(r.rs, 0) AS n_out,
        |  COALESCE(p3.p, CAST(0 AS DOUBLE)) AS steady_p,
        |  CAST(mass.m12 AS DOUBLE) / 1e12 AS mass
        |FROM types ty
        |LEFT JOIN p3 ON p3.t = ty.t
        |LEFT JOIN r ON r.from_type = ty.t
        |CROSS JOIN mass
        |ORDER BY event_type""".stripMargin)),

    // Inactivity / churn census: per user, last-seen time, days silent
    // relative to the corpus watermark (max ts), and a churned flag at
    // the 7-day threshold. One aggregate on user + one broadcast of
    // the single-row watermark — the retention dashboard's denominator.
    Q("g_churn_inactive", (s, d) => {
      val lastSeen = Io.events(s, d).groupBy(col("user_id"))
        .agg(max(col("ts_us")).as("last_us"), count(lit(1)).as("n_events"))
      val wm = Io.events(s, d).agg(max(col("ts_us")).as("wm_us"))
      lastSeen.crossJoin(broadcast(wm))
        .select(col("user_id"), col("n_events"), col("last_us"),
          ((col("wm_us") - col("last_us")) / lit(86400000000L)).cast("long")
            .as("days_silent"),
          (col("wm_us") - col("last_us") > 7L * 86400000000L).as("churned"))
        .orderBy("user_id")
    }, Some(
      """WITH ls AS (
        |  SELECT user_id, MAX(epoch_us(ts)) AS last_us, COUNT(*) AS n_events
        |  FROM events GROUP BY user_id),
        |wm AS (SELECT MAX(epoch_us(ts)) AS wm_us FROM events)
        |SELECT user_id, n_events, last_us,
        |  (wm_us - last_us) // 86400000000 AS days_silent,
        |  wm_us - last_us > 7 * 86400000000 AS churned
        |FROM ls CROSS JOIN wm ORDER BY user_id""".stripMargin)),

    // Kaplan-Meier survival curve for time-to-first-purchase: each user
    // enters at their first event, "dies" at their first purchase, and
    // is right-censored at the corpus watermark otherwise — the
    // time-to-conversion read every funnel owner wants with censoring
    // done correctly. All KM inputs are INTEGER counts (day-grain
    // durations via DIV, death/at-risk tallies), each factor
    // (n_i − d_i)/n_i is an int/int double division (bit-identical in
    // both engines), and the survival product folds left-to-right over
    // the death days — Spark as an indexed-transform prefix fold over
    // the bounded day array (≤ corpus-days rows), DuckDB as the
    // textbook recursive CTE over death-day rank; both spell
    // acc · (diff/n), so the curve is engine-exact with zero snaps.
    // Corpus-sized work: one user-keyed aggregate; everything after is
    // day-histogram-sized.
    Q("g_survival_km", (s, d) => {
      val ev = Io.events(s, d)
      val byUser = ev.groupBy(col("user_id"))
        .agg(min(col("ts_us")).as("t0"),
          min(when(col("event_type") === "purchase", col("ts_us"))).as("tp"))
      val wm = ev.agg(max(col("ts_us")).as("wm_us"))
      val durs = byUser.crossJoin(broadcast(wm))
        .select(expr("CAST(coalesce(tp, wm_us) - t0 AS BIGINT) DIV 86400000000")
          .as("dur"), col("tp").isNotNull.as("died"))
      val hist = durs.groupBy(col("dur"))
        .agg(count(lit(1)).as("n_all"),
          sum(when(col("died"), 1L).otherwise(0L)).as("n_died"))
      val wRisk = Window.orderBy(col("dur"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val deathDays = hist
        .withColumn("n_risk", sum(col("n_all")).over(wRisk))
        .filter(col("n_died") >= 1)
        .select(col("dur"), col("n_risk"), col("n_died"))
      deathDays.agg(sort_array(collect_list(
          struct(col("dur"), col("n_risk"), col("n_died")))).as("arr"))
        .select(explode(expr(
          """transform(arr, (e, i) -> named_struct(
             'day', e.dur, 'n_risk', e.n_risk, 'n_events', e.n_died,
             'survival', aggregate(slice(arr, 1, i + 1), 1.0D,
               (acc, x) -> acc * ((x.n_risk - x.n_died) / CAST(x.n_risk AS DOUBLE)))))"""))
          .as("r"))
        .select(col("r.day"), col("r.n_risk"), col("r.n_events"), col("r.survival"))
        .orderBy("day")
    }, Some(
      """WITH RECURSIVE bu AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS t0,
        |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp
        |  FROM events GROUP BY user_id),
        |wm AS (SELECT MAX(epoch_us(ts)) AS wm_us FROM events),
        |durs AS (
        |  SELECT (COALESCE(tp, wm_us) - t0) // 86400000000 AS dur,
        |    tp IS NOT NULL AS died
        |  FROM bu CROSS JOIN wm),
        |hist AS (
        |  SELECT dur, CAST(COUNT(*) AS BIGINT) AS n_all,
        |    CAST(SUM(CASE WHEN died THEN 1 ELSE 0 END) AS BIGINT) AS n_died
        |  FROM durs GROUP BY dur),
        |dd AS (
        |  SELECT dur, n_risk, n_died,
        |    ROW_NUMBER() OVER (ORDER BY dur) AS k
        |  FROM (
        |    SELECT dur, n_died,
        |      CAST(SUM(n_all) OVER (ORDER BY dur
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
        |    FROM hist)
        |  WHERE n_died >= 1),
        |rec AS (
        |  SELECT dur, n_risk, n_died, k,
        |    1.0 * ((n_risk - n_died) / CAST(n_risk AS DOUBLE)) AS s
        |  FROM dd WHERE k = 1
        |  UNION ALL
        |  SELECT dd.dur, dd.n_risk, dd.n_died, dd.k,
        |    rec.s * ((dd.n_risk - dd.n_died) / CAST(dd.n_risk AS DOUBLE))
        |  FROM rec JOIN dd ON dd.k = rec.k + 1)
        |SELECT dur AS day, n_risk, n_died AS n_events, s AS survival
        |FROM rec ORDER BY day""".stripMargin)),

    // Winsorization: clip each event's value at its type's discrete
    // p5/p95 (smallest member with cume_dist ≥ threshold — actual
    // members of the value set, so the clip points are engine-identical
    // with no interpolation ulp risk), and report per-type how much
    // mass clipping removed. The robust-preprocessing step before any
    // mean-based aggregate. One type-keyed window for the thresholds
    // (broadcast back: event_type is dimension-sized) + one scan.
    Q("g_winsorize", (s, d) => {
      val ev = Io.events(s, d).select(col("event_type"), col("event_id"), col("value"))
      val wcd = Window.partitionBy(col("event_type")).orderBy(col("value"))
      val cd = ev.withColumn("cd", cume_dist().over(wcd))
      // both clip thresholds from ONE conditional aggregate (r15): the
      // old two-filter form ran the cume_dist window over the corpus
      // twice — once per threshold. min(when(...)) is value-identical.
      val th = cd.groupBy(col("event_type"))
        .agg(min(when(col("cd") >= 0.05, col("value"))).as("p5"),
          min(when(col("cd") >= 0.95, col("value"))).as("p95"))
      ev.join(broadcast(th), "event_type")
        .withColumn("clipped", least(greatest(col("value"), col("p5")), col("p95")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          r6(first(col("p5"))).as("p5"), r6(first(col("p95"))).as("p95"),
          sum(when(col("value") < col("p5") || col("value") > col("p95"), 1L)
            .otherwise(0L)).as("n_clipped"),
          decSum(col("value") - col("clipped")).as("mass_removed"))
        .orderBy("event_type")
    }, Some(
      s"""WITH cd AS (
         |  SELECT event_type, value,
         |    CUME_DIST() OVER (PARTITION BY event_type ORDER BY value) AS cd
         |  FROM events),
         |lo AS (SELECT event_type, MIN(value) AS p5 FROM cd
         |       WHERE cd >= 0.05 GROUP BY event_type),
         |hi AS (SELECT event_type, MIN(value) AS p95 FROM cd
         |       WHERE cd >= 0.95 GROUP BY event_type)
         |SELECT e.event_type, COUNT(*) AS n,
         |  ROUND(MIN(lo.p5), 6) AS p5, ROUND(MIN(hi.p95), 6) AS p95,
         |  CAST(SUM(CASE WHEN e.value < lo.p5 OR e.value > hi.p95
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
         |  ${dSum("e.value - LEAST(GREATEST(e.value, lo.p5), hi.p95)")}
         |    AS mass_removed
         |FROM events e JOIN lo USING (event_type) JOIN hi USING (event_type)
         |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)),

    // Hourly OHLC bars per event type — the classic time-series
    // downsample (open/high/low/close/volume). Open and close are the
    // first/last value by (ts, event_id) inside the bar: one window
    // per direction over the same (event_type, hour) partitioning —
    // one shuffle, two in-partition sorts — then a hash aggregate
    // picks the rn=1 rows and folds min/max/count in the same pass.
    // At 100 TB bars are keyed shuffle groups; nothing is global.
    Q("g_ohlc", (s, d) => {
      val hour = (col("ts_us") - col("ts_us") % 3600000000L).as("hour_us")
      val ev = Io.events(s, d).select(col("event_id"), col("ts_us"),
        col("event_type"), col("value"), hour)
      val asc = Window.partitionBy(col("event_type"), col("hour_us"))
        .orderBy(col("ts_us"), col("event_id"))
      val desc = Window.partitionBy(col("event_type"), col("hour_us"))
        .orderBy(col("ts_us").desc, col("event_id").desc)
      ev.withColumn("rn_a", row_number().over(asc))
        .withColumn("rn_d", row_number().over(desc))
        .groupBy(col("event_type"), col("hour_us"))
        .agg(max(when(col("rn_a") === 1, col("value"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(when(col("rn_d") === 1, col("value"))).as("close"),
          count(lit(1)).as("n_ticks"))
        .orderBy("event_type", "hour_us")
    }, Some(
      """SELECT event_type,
        |  epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
        |  FIRST(value ORDER BY epoch_us(ts), event_id) AS open,
        |  MAX(value) AS high, MIN(value) AS low,
        |  LAST(value ORDER BY epoch_us(ts), event_id) AS close,
        |  COUNT(*) AS n_ticks
        |FROM events GROUP BY 1, 2 ORDER BY event_type, hour_us""".stripMargin)),

    // Robust outlier detection: median / MAD (not mean / stddev — one
    // wild value shifts a mean, not a median) per event type; events
    // whose |value − median| exceeds 3×MAD are flagged. Both medians
    // are exact with the same even-count interpolation as DuckDB's
    // MEDIAN, but computed via Q.exactPercentiles — sketch-bracketed
    // selection — rather than the holistic `median` aggregate, whose
    // single buffer would swallow an entire skewed event type at
    // 100 TB. The MAD is a second selection over |v − med|; both
    // per-type tables broadcast back (type-cardinality-sized).
    Q("g_anomaly_mad", (s, d) => {
      val ev = Io.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val med = Q.exactPercentiles(ev, "event_type", "value", Seq((0.5, "med")))
      val withDev = ev.join(broadcast(med), "event_type")
        .withColumn("dev", abs(col("value") - col("med")))
      val mad = Q.exactPercentiles(withDev.select(col("event_type"), col("dev")),
        "event_type", "dev", Seq((0.5, "mad")))
      withDev.join(broadcast(mad), "event_type")
        .filter(col("dev") > col("mad") * 3.0)
        .select(col("event_type"), col("event_id"), col("value"),
          r6(col("med")).as("med"), r6(col("mad")).as("mad"),
          r6(col("dev") / col("mad")).as("mad_score"))
        .orderBy("event_type", "event_id")
    }, Some(
      """WITH med AS (
        |  SELECT event_type, MEDIAN(CAST(value AS DOUBLE)) AS med
        |  FROM events GROUP BY event_type),
        |dev AS (
        |  SELECT e.event_type, e.event_id, e.value, med.med,
        |    ABS(e.value - med.med) AS dev
        |  FROM events e JOIN med USING (event_type)),
        |mad AS (
        |  SELECT event_type, MEDIAN(dev) AS mad FROM dev GROUP BY event_type)
        |SELECT d.event_type, d.event_id, d.value,
        |  ROUND(d.med, 6) AS med, ROUND(m.mad, 6) AS mad,
        |  ROUND(d.dev / m.mad, 6) AS mad_score
        |FROM dev d JOIN mad m USING (event_type)
        |WHERE d.dev > m.mad * 3.0
        |ORDER BY d.event_type, d.event_id""".stripMargin)),

    // Welch's t-test between two event arms (purchase vs click values)
    // — the A/B-test read-out. Each arm reduces to (n, Σx, Σx²) exact
    // decimal power sums (one partial-aggregating shuffle over a
    // 2-group key); mean/var/t/df are scalar IEEE arithmetic on those,
    // written in the SAME association order in both engines, snapped
    // at 1e-6. At 100 TB this is a map-side-combined scan — the
    // statistic costs no more than a count.
    Q("g_ab_welch", (s, d) => {
      val m = Io.events(s, d)
        .filter(col("event_type").isin("purchase", "click"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), decSum(col("value")).as("s1"),
          decSum(col("value") * col("value")).as("s2"))
        .withColumn("mean", col("s1") / col("n"))
        // degenerate guards (r12 sweep): single-row arm → n−1 = 0, and
        // all-zero values → se2 = 0. Spark (ANSI) raises on /0 where
        // DuckDB yields NULL, so the guards emit NULL to MATCH the
        // oracle's natural semantics — the oracle text is unchanged.
        .withColumn("vr", when(col("n") > 1,
          (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)))
      val w = m.agg(
        max(when(col("event_type") === "purchase", col("n"))).as("n_a"),
        max(when(col("event_type") === "click", col("n"))).as("n_b"),
        max(when(col("event_type") === "purchase", col("mean"))).as("mean_a"),
        max(when(col("event_type") === "click", col("mean"))).as("mean_b"),
        max(when(col("event_type") === "purchase", col("vr"))).as("var_a"),
        max(when(col("event_type") === "click", col("vr"))).as("var_b"))
        .withColumn("sea", col("var_a") / col("n_a"))
        .withColumn("seb", col("var_b") / col("n_b"))
        .withColumn("se2", col("sea") + col("seb"))
        .withColumn("t_stat", when(col("se2") > 0,
          (col("mean_a") - col("mean_b")) / sqrt(col("se2"))))
        .withColumn("_dfden",
          when(col("n_a") > 1, col("sea") * col("sea") / (col("n_a") - 1)) +
            when(col("n_b") > 1, col("seb") * col("seb") / (col("n_b") - 1)))
        .withColumn("df",
          when(col("_dfden") > 0, col("se2") * col("se2") / col("_dfden")))
      w.select(col("n_a"), col("n_b"),
        snap6(col("mean_a")).as("mean_a"), snap6(col("mean_b")).as("mean_b"),
        snap6(col("var_a")).as("var_a"), snap6(col("var_b")).as("var_b"),
        snap6(col("t_stat")).as("t_stat"), snap6(col("df")).as("df"),
        (abs(col("t_stat")) > 1.96).as("significant"))
    }, Some(
      s"""WITH m AS (
         |  SELECT event_type, COUNT(*) AS n,
         |    ${dSum("value")} AS s1, ${dSum("value * value")} AS s2
         |  FROM events WHERE event_type IN ('purchase', 'click')
         |  GROUP BY event_type),
         |st AS (
         |  SELECT event_type, n, s1 / n AS mean,
         |    (s2 - s1 * s1 / n) / (n - 1) AS vr FROM m),
         |w AS (
         |  SELECT
         |    MAX(CASE WHEN event_type = 'purchase' THEN n END) AS n_a,
         |    MAX(CASE WHEN event_type = 'click' THEN n END) AS n_b,
         |    MAX(CASE WHEN event_type = 'purchase' THEN mean END) AS mean_a,
         |    MAX(CASE WHEN event_type = 'click' THEN mean END) AS mean_b,
         |    MAX(CASE WHEN event_type = 'purchase' THEN vr END) AS var_a,
         |    MAX(CASE WHEN event_type = 'click' THEN vr END) AS var_b
         |  FROM st),
         |e AS (
         |  SELECT *, var_a / n_a AS sea, var_b / n_b AS seb,
         |    var_a / n_a + var_b / n_b AS se2 FROM w)
         |SELECT n_a, n_b,
         |  ${dSnap6("mean_a")} AS mean_a, ${dSnap6("mean_b")} AS mean_b,
         |  ${dSnap6("var_a")} AS var_a, ${dSnap6("var_b")} AS var_b,
         |  ${dSnap6("(mean_a - mean_b) / SQRT(se2)")} AS t_stat,
         |  ${dSnap6("se2 * se2 / (sea * sea / (n_a - 1) + seb * seb / (n_b - 1))")} AS df,
         |  ABS((mean_a - mean_b) / SQRT(se2)) > 1.96 AS significant
         |FROM e""".stripMargin)),

    // Chi-square test of independence (lang × source contingency over
    // documents) + Cramér's V — the "is my corpus mix confounded"
    // check. Observed cells are one 2-key hash-agg; expected counts
    // come from broadcast row/column marginals (cluster-sized, never
    // data-sized); the statistic sums per-cell terms through
    // DECIMAL(38,6) so it is accumulation-order-independent.
    Q("h_chisq_lang_source", (s, d) => {
      val cell = Io.table(s, d, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("o"))
      val rt = cell.groupBy(col("lang")).agg(sum(col("o")).as("rt"))
      val ct = cell.groupBy(col("source")).agg(sum(col("o")).as("ct"))
      val tot = cell.agg(sum(col("o")).as("n"),
        countDistinct(col("lang")).as("r"), countDistinct(col("source")).as("c"))
      cell.join(broadcast(rt), "lang").join(broadcast(ct), "source")
        .crossJoin(broadcast(tot))
        .withColumn("e", col("rt") * col("ct") / col("n"))
        .agg(count(lit(1)).as("n_cells"),
          decSum((col("o") - col("e")) * (col("o") - col("e")) / col("e")).as("chi2r"),
          max((col("r") - 1) * (col("c") - 1)).as("df"),
          max(col("n")).as("n"), max(col("r")).as("r"), max(col("c")).as("c"))
        // degenerate-table guard (r12 sweep): a 1×c or r×1 contingency
        // table has min(r−1, c−1) = 0 — Cramér's V is undefined, NULL
        // on both engines (ANSI Spark raises on the /0 otherwise)
        .select(col("n_cells"), snap6(col("chi2r")).as("chi2"), col("df"),
          snap6(when(least(col("r") - 1, col("c") - 1) > 0,
            sqrt(col("chi2r") /
              (col("n") * least(col("r") - 1, col("c") - 1)))))
            .as("cramers_v"))
    }, Some(
      s"""WITH cell AS (
         |  SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2),
         |rt AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS rt FROM cell GROUP BY 1),
         |ct AS (SELECT source, CAST(SUM(o) AS BIGINT) AS ct FROM cell GROUP BY 1),
         |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
         |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS r,
         |  CAST(COUNT(DISTINCT source) AS BIGINT) AS c FROM cell),
         |t AS (
         |  SELECT o, rt.rt * ct.ct / tot.n AS e, tot.n AS n, tot.r AS r, tot.c AS c
         |  FROM cell JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN tot),
         |agg AS (
         |  SELECT COUNT(*) AS n_cells,
         |    ${dSum("(o - e) * (o - e) / e")} AS chi2r,
         |    MAX((r - 1) * (c - 1)) AS df,
         |    MAX(n) AS n, MAX(r) AS r, MAX(c) AS c
         |  FROM t)
         |SELECT n_cells, ${dSnap6("chi2r")} AS chi2, df,
         |  ${dSnap6("CASE WHEN LEAST(r - 1, c - 1) > 0 THEN " +
        "SQRT(chi2r / (n * LEAST(r - 1, c - 1))) END")} AS cramers_v
         |FROM agg""".stripMargin)),

    // Sample autocorrelation of the daily event-count series at lags
    // 1..7 — the seasonality probe a pipeline runs before picking a
    // resample interval. The series is CALENDAR-sized (one row per
    // day), so pairing t with t+k is a tiny equi-join on (day + lag),
    // never a global window over data-sized rows; the data-sized work
    // is exactly one map-side-combined count per day. Pearson r comes
    // from exact integer power sums: per-pair products of daily counts
    // fit BIGINT below ~3e9 rows/day, but their year-long SUMS do not
    // at 100 TB — hence the sums run through DECIMAL(38,0). The final
    // Pearson expression is the same double arithmetic on both
    // engines, snapped at 1e-6.
    Q("g_autocorr", (s, d) => {
      val daily = Io.events(s, d).groupBy(day.as("dd"))
        .agg(count(lit(1)).as("cnt"))
      val lags = s.range(1, 8).select(col("id").as("lag"))
      val paired = daily.crossJoin(broadcast(lags))
        .select(col("lag"), (col("dd") + col("lag")).as("dk"), col("cnt").as("x"))
        .join(daily.select(col("dd").as("dk"), col("cnt").as("y")), "dk")
      val dec = (c: org.apache.spark.sql.Column) =>
        sum(c.cast(org.apache.spark.sql.types.DecimalType(38, 0))).cast("double")
      paired.groupBy(col("lag"))
        .agg(count(lit(1)).cast("double").as("n"),
          dec(col("x")).as("sx"), dec(col("y")).as("sy"),
          dec(col("x") * col("y")).as("sxy"),
          dec(col("x") * col("x")).as("sxx"),
          dec(col("y") * col("y")).as("syy"))
        .select(col("lag"), col("n").cast("long").as("n_pairs"),
          snap6(when((col("n") * col("sxx") - col("sx") * col("sx")) > 0 &&
                     (col("n") * col("syy") - col("sy") * col("sy")) > 0,
            (col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
               sqrt(col("n") * col("syy") - col("sy") * col("sy")))))
            .as("acf"))
        .orderBy("lag")
    }, Some {
      val dec = (x: String) => s"CAST(SUM(CAST($x AS DECIMAL(38,0))) AS DOUBLE)"
      s"""WITH daily AS (
         |  SELECT epoch_us(ts) // 86400000000 AS dd, COUNT(*) AS cnt
         |  FROM events GROUP BY 1),
         |paired AS (
         |  SELECT l.lag, a.cnt AS x, b.cnt AS y
         |  FROM daily a CROSS JOIN (SELECT UNNEST(range(1, 8)) AS lag) l
         |  JOIN daily b ON a.dd + l.lag = b.dd),
         |ps AS (
         |  SELECT lag, CAST(COUNT(*) AS DOUBLE) AS n,
         |    ${dec("x")} AS sx, ${dec("y")} AS sy, ${dec("x * y")} AS sxy,
         |    ${dec("x * x")} AS sxx, ${dec("y * y")} AS syy
         |  FROM paired GROUP BY lag)
         |SELECT lag, CAST(n AS BIGINT) AS n_pairs,
         |  ${dSnap6(
             """CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
               |  THEN (n * sxy - sx * sy)
               |       / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy))
               |  END""".stripMargin)} AS acf
         |FROM ps ORDER BY lag""".stripMargin
    }),

    // Cross-correlation of the click and purchase daily series at lags
    // −3..+3 — the lead/lag read g_autocorr can't give: does click
    // volume LEAD purchase volume (r peaks at positive lag), lag it,
    // or move coincidentally? The attribution/capacity question asked
    // before trusting any same-day conversion metric. Same scale shape
    // as g_autocorr: ONE map-side-combined conditional count per day
    // (both series from one pass), the lag pairing is a calendar-sized
    // equi-join on (day + lag), Pearson r from exact DECIMAL(38,0)
    // integer power sums, zero-variance lags NULL (mirrored guard —
    // the r12 degenerate-sweep discipline), r snapped at 1e-6.
    Q("g_xcorr_lead", (s, d) => {
      val daily = Io.events(s, d).groupBy(day.as("dd"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("cx"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("cy"))
      val lags = s.range(-3, 4).select(col("id").as("lag"))
      val paired = daily.crossJoin(broadcast(lags))
        .select(col("lag"), (col("dd") + col("lag")).as("dk"),
          col("cx").as("x"))
        .join(daily.select(col("dd").as("dk"), col("cy").as("y")), "dk")
      val dec = (c: org.apache.spark.sql.Column) =>
        sum(c.cast(org.apache.spark.sql.types.DecimalType(38, 0))).cast("double")
      paired.groupBy(col("lag"))
        .agg(count(lit(1)).cast("double").as("n"),
          dec(col("x")).as("sx"), dec(col("y")).as("sy"),
          dec(col("x") * col("y")).as("sxy"),
          dec(col("x") * col("x")).as("sxx"),
          dec(col("y") * col("y")).as("syy"))
        .select(col("lag"), col("n").cast("long").as("n_pairs"),
          snap6(when((col("n") * col("sxx") - col("sx") * col("sx")) > 0 &&
                     (col("n") * col("syy") - col("sy") * col("sy")) > 0,
            (col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
               sqrt(col("n") * col("syy") - col("sy") * col("sy")))))
            .as("xcorr"))
        .orderBy("lag")
    }, Some {
      val dec = (x: String) => s"CAST(SUM(CAST($x AS DECIMAL(38,0))) AS DOUBLE)"
      s"""WITH daily AS (
         |  SELECT epoch_us(ts) // 86400000000 AS dd,
         |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         |         AS BIGINT) AS cx,
         |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |         AS BIGINT) AS cy
         |  FROM events GROUP BY 1),
         |paired AS (
         |  SELECT l.lag, a.cx AS x, b.cy AS y
         |  FROM daily a CROSS JOIN (SELECT UNNEST(range(-3, 4)) AS lag) l
         |  JOIN daily b ON a.dd + l.lag = b.dd),
         |ps AS (
         |  SELECT lag, CAST(COUNT(*) AS DOUBLE) AS n,
         |    ${dec("x")} AS sx, ${dec("y")} AS sy, ${dec("x * y")} AS sxy,
         |    ${dec("x * x")} AS sxx, ${dec("y * y")} AS syy
         |  FROM paired GROUP BY lag)
         |SELECT lag, CAST(n AS BIGINT) AS n_pairs,
         |  ${dSnap6(
             """CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
               |  THEN (n * sxy - sx * sy)
               |       / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy))
               |  END""".stripMargin)} AS xcorr
         |FROM ps ORDER BY lag""".stripMargin
    }),

    // One-way ANOVA across ALL event-type arms (the k-group extension
    // of g_ab_welch): F statistic and effect size η² from per-group
    // (n, Σx, Σx²) exact decimal power sums — still one
    // map-side-combined scan. The between/within sums of squares are
    // built from GROUP-MEAN-scaled terms (n·mean², s2 − s1·mean):
    // these stay small enough (≲1e9 at the graded SF) that their
    // 1e-6-grid decimal cast is engine-exact, unlike raw s1² (~1e12,
    // whose double ulp exceeds the grid — the d_agg_weighted_stats
    // lesson). The k-row second-level aggregate sums them through
    // DECIMAL(38,6), so partial-merge order cannot perturb F.
    Q("g_anova_values", (s, d) => {
      val m = Io.events(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), decSum(col("value")).as("s1"),
          decSum(col("value") * col("value")).as("s2"))
        .withColumn("mean", col("s1") / col("n"))
      val a = m.agg(
        count(lit(1)).as("k"), sum(col("n")).as("nt"),
        decSum(col("s1")).as("ts1"),
        decSum(col("n") * (col("mean") * col("mean"))).as("sb_part"),
        decSum(col("s2") - col("s1") * col("mean")).as("ssw"))
        .withColumn("ssb",
          col("sb_part") - col("nt") * ((col("ts1") / col("nt")) * (col("ts1") / col("nt"))))
      // degenerate guards (r12 sweep): k = 1 (one group), nt = k (all
      // single-row groups) or ssw = 0 (zero within-variance) zero a
      // denominator — NULL here to match DuckDB's natural /0 → NULL
      // (the oracle text is unchanged; ANSI Spark would raise)
      a.select(col("k"), col("nt").as("n_total"),
        snap6(col("ssb")).as("ssb"), snap6(col("ssw")).as("ssw"),
        (col("k") - 1).as("df1"), (col("nt") - col("k")).as("df2"),
        snap6(when(col("k") > 1 && col("nt") > col("k") && col("ssw") =!= 0,
          (col("ssb") / (col("k") - 1)) / (col("ssw") / (col("nt") - col("k")))))
          .as("f_stat"),
        snap6(when(col("ssb") + col("ssw") =!= 0,
          col("ssb") / (col("ssb") + col("ssw")))).as("eta_sq"))
    }, Some(
      s"""WITH m AS (
         |  SELECT event_type, COUNT(*) AS n,
         |    ${dSum("value")} AS s1, ${dSum("value * value")} AS s2
         |  FROM events GROUP BY event_type),
         |mm AS (SELECT *, s1 / n AS mean FROM m),
         |a AS (
         |  SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS nt, ${dSum("s1")} AS ts1,
         |    ${dSum("n * (mean * mean)")} AS sb_part,
         |    ${dSum("s2 - s1 * mean")} AS ssw
         |  FROM mm),
         |b AS (
         |  SELECT *, sb_part - nt * ((ts1 / nt) * (ts1 / nt)) AS ssb FROM a)
         |SELECT k, nt AS n_total, ${dSnap6("ssb")} AS ssb, ${dSnap6("ssw")} AS ssw,
         |  k - 1 AS df1, nt - k AS df2,
         |  ${dSnap6("(ssb / (k - 1)) / (ssw / (nt - k))")} AS f_stat,
         |  ${dSnap6("ssb / (ssb + ssw)")} AS eta_sq
         |FROM b""".stripMargin)),

    // Two-sample Kolmogorov-Smirnov drift statistic (purchase vs click
    // value distributions) on a FIXED 100-bin grid — the distributional
    // complement to e_drift_psi. Binning makes it scale-safe: the
    // data-sized pass is one (arm, bin) hash-agg; the CDF window runs
    // over ≤100 grid rows (grid-sized, not data-sized — the same
    // argument as g_autocorr's calendar series). The binned statistic
    // is a deterministic lower bound of the exact KS (exact needs a
    // global sort); bin width 5 over [0,500) covers the value domain.
    // Behavioral predictability: Shannon entropy of the next-event
    // distribution, marginal H(next) vs conditional H(next|current),
    // per current event type — the information-theoretic reading of
    // the Markov-transition family (how much knowing the current step
    // buys). Transitions come from the same user-keyed lead() pass the
    // Markov/SCC rows use; probabilities are exact int ratios, ln runs
    // on bit-identical quotients, and every p·ln term is 1e-12
    // floor-snapped (the h_feature_mi discipline) so sums are exact
    // integer addition. Output: per-source conditional entropy + the
    // shared marginal entropy and information gain.
    Q("g_sequence_entropy", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      // scratch (r15): trans is consumed FOUR times (source
      // marginal, total, conditional term, destination marginal) — each
      // execution re-ran the events scan + user-keyed LEAD window. The
      // table is |types|² rows.
      val trans = Q.scratch("seqent_trans")(
        Io.events(s, d)
          .select(col("user_id"), col("ts_us"), col("event_id"),
            col("event_type").as("src"))
          .withColumn("dst", lead(col("src"), 1).over(w))
          .filter(col("dst").isNotNull)
          .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("c")))
      val bySrc = trans.groupBy(col("src")).agg(sum(col("c")).as("ns"))
      val tot = trans.agg(sum(col("c")).as("n"))
      val hCondTerm = floor((col("c").cast("double") / col("ns").cast("double")) *
        log(col("ns").cast("double") / col("c").cast("double")) * 1e12 + 0.5)
        .cast("long")
      val perSrc = trans.join(bySrc, "src")
        .groupBy(col("src"), col("ns"))
        .agg(sum(hCondTerm).as("hp"), count(lit(1)).as("n_dst"))
        .select(col("src"), col("ns").as("n_trans"), col("n_dst"),
          (col("hp").cast("double") / 1e12).as("h_cond"))
      val byDst = trans.groupBy(col("dst")).agg(sum(col("c")).as("nd"))
      val hMarg = byDst.crossJoin(broadcast(tot))
        .select(floor((col("nd").cast("double") / col("n").cast("double")) *
          log(col("n").cast("double") / col("nd").cast("double")) * 1e12 + 0.5)
          .cast("long").as("t"))
        .agg((sum(col("t")).cast("double") / 1e12).as("h_marg"))
      perSrc.crossJoin(broadcast(hMarg))
        .select(col("src"), col("n_trans"), col("n_dst"), col("h_cond"),
          col("h_marg"))
        .orderBy("src")
    }, Some(
      """WITH tr AS (
        |  SELECT src, dst, COUNT(*) AS c FROM (
        |    SELECT event_type AS src,
        |      LEAD(event_type, 1) OVER (PARTITION BY user_id
        |        ORDER BY epoch_us(ts), event_id) AS dst
        |    FROM events)
        |  WHERE dst IS NOT NULL GROUP BY 1, 2),
        |bs AS (SELECT src, CAST(SUM(c) AS BIGINT) AS ns FROM tr GROUP BY 1),
        |bd AS (SELECT dst, CAST(SUM(c) AS BIGINT) AS nd FROM tr GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM tr),
        |ps AS (
        |  SELECT tr.src, ns, COUNT(*) AS n_dst,
        |    CAST(CAST(SUM(CAST(FLOOR(
        |      (CAST(c AS DOUBLE) / CAST(ns AS DOUBLE)) *
        |      LN(CAST(ns AS DOUBLE) / CAST(c AS DOUBLE)) * 1e12 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS h_cond
        |  FROM tr JOIN bs USING (src) GROUP BY 1, 2),
        |hm AS (
        |  SELECT CAST(CAST(SUM(CAST(FLOOR(
        |      (CAST(nd AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      LN(CAST(n AS DOUBLE) / CAST(nd AS DOUBLE)) * 1e12 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS h_marg
        |  FROM bd CROSS JOIN tot)
        |SELECT src, ns AS n_trans, n_dst, h_cond, hm.h_marg
        |FROM ps CROSS JOIN hm ORDER BY src""".stripMargin)),

    // Season-adjusted anomaly detection: residual of each day's count
    // against its (type, weekday) MEDIAN baseline, flagged when the
    // absolute residual exceeds 3× the per-type MAD of residuals — the
    // robust composite of g_seasonality_dow and g_anomaly_mad that
    // doesn't let a weekly rhythm masquerade as anomalies. Exactness:
    // counts are integers, each median is the (lo+hi)/2 rank-k pick
    // over a SORTED bounded list (weekday groups ≤⌈days/7⌉ values,
    // residual lists ≤days values — both TIME-bounded), so every
    // residual is an exact dyadic double and the 3×MAD comparison is
    // engine-identical. Emits the anomalous days only.
    Q("g_seasonal_anomaly", (s, d) => {
      // scratch (r15): daily feeds the per-dow median AND the
      // residual join, and resid below feeds the MAD aggregate AND the
      // final scoring join — without the checkpoint the events scan +
      // hash agg ran three times. The table is |types|×|days| rows.
      val daily = Q.scratch("seasonal_daily")(
        Io.events(s, d)
          .select(col("event_type"), expr("ts_us DIV 86400000000").as("day"))
          .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("y"))
          .withColumn("dow", (col("day") + 4) % 7))
      val base = daily.groupBy(col("event_type"), col("dow"))
        .agg(sort_array(collect_list(col("y"))).as("w"),
          count(lit(1)).as("nw"))
        .select(col("event_type"), col("dow"),
          ((element_at(col("w"), expr("CAST((nw + 1) DIV 2 AS INT)")) +
            element_at(col("w"), expr("CAST(nw DIV 2 + 1 AS INT)")))
            .cast("double") / 2.0).as("med"))
      val resid = daily.join(base, Seq("event_type", "dow"))
        .select(col("event_type"), col("day"), col("y"), col("med"),
          (col("y").cast("double") - col("med")).as("resid"))
      val mad = resid.groupBy(col("event_type"))
        .agg(sort_array(collect_list(abs(col("resid")))).as("w"),
          count(lit(1)).as("nr"))
        .select(col("event_type"),
          ((element_at(col("w"), expr("CAST((nr + 1) DIV 2 AS INT)")) +
            element_at(col("w"), expr("CAST(nr DIV 2 + 1 AS INT)"))) / 2.0)
            .as("mad"))
      resid.join(broadcast(mad), "event_type")
        .filter(abs(col("resid")) > col("mad") * 3.0)
        .select(col("event_type"), col("day"), col("y"), col("med"),
          col("resid"), col("mad"))
        .orderBy("event_type", "day")
    }, Some(
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    COUNT(*) AS y
        |  FROM events GROUP BY 1, 2),
        |dw AS (SELECT *, (day + 4) % 7 AS dow FROM daily),
        |base AS (
        |  SELECT event_type, dow,
        |    CAST(w[CAST((nw + 1) // 2 AS INT)]
        |       + w[CAST(nw // 2 + 1 AS INT)] AS DOUBLE) / 2.0 AS med
        |  FROM (SELECT event_type, dow, list_sort(list(y)) AS w,
        |          COUNT(*) AS nw
        |        FROM dw GROUP BY 1, 2)),
        |resid AS (
        |  SELECT dw.event_type, dw.day, dw.y, base.med,
        |    CAST(dw.y AS DOUBLE) - base.med AS resid
        |  FROM dw JOIN base ON dw.event_type = base.event_type
        |    AND dw.dow = base.dow),
        |mad AS (
        |  SELECT event_type,
        |    (w[CAST((nr + 1) // 2 AS INT)]
        |     + w[CAST(nr // 2 + 1 AS INT)]) / 2.0 AS mad
        |  FROM (SELECT event_type, list_sort(list(ABS(resid))) AS w,
        |          COUNT(*) AS nr
        |        FROM resid GROUP BY 1))
        |SELECT resid.event_type, day, y, med, resid, mad.mad AS mad
        |FROM resid JOIN mad USING (event_type)
        |WHERE ABS(resid) > mad * 3.0
        |ORDER BY event_type, day""".stripMargin)),

    // Historical-simulation Value-at-Risk + expected shortfall (CVaR)
    // of the day-over-day revenue move, per event type: the risk
    // question "how bad is the worst 5% of daily swings, and how bad
    // is the average of that tail". Deliberately the DISCRETE order
    // statistic (k = max(1, ⌈0.05·n⌉) smallest move) — how
    // historical-simulation VaR is actually defined — so there is no
    // interpolation seam at all: daily revenues are exact decimal
    // sums, deltas are subtractions of identical doubles, the rank
    // window is type-partitioned with a (delta, day) total order, and
    // CVaR is a decimal-mean over the identical selected tail. One
    // corpus pass + days-bounded windows.
    Q("g_var_cvar", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Io.events(s, d)
        .select(col("event_type"), expr("ts_us DIV 86400000000").as("day"),
          col("value"))
        .groupBy(col("event_type"), col("day"))
        .agg(decSum(col("value")).as("rev"))
      val delta = daily
        .withColumn("prev", lag(col("rev"), 1).over(
          Window.partitionBy(col("event_type")).orderBy(col("day"))))
        .filter(col("prev").isNotNull)
        .select(col("event_type"), col("day"),
          (col("rev") - col("prev")).as("delta"))
      // n_moves rides the SAME window pass as the rank (r15 — exactly
      // how the oracle spells it): the old groupBy + broadcast join
      // executed the daily agg + LAG window a second time
      val ranked = delta
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(col("delta"), col("day"))))
        .withColumn("n_moves", count(lit(1)).over(
          Window.partitionBy(col("event_type"))))
      ranked
        .withColumn("k", greatest(lit(1L),
          ceil(col("n_moves").cast("double") * 0.05).cast("long")))
        .filter(col("rn") <= col("k"))
        .groupBy(col("event_type"), col("n_moves"), col("k"))
        .agg(max(when(col("rn") === col("k"), col("delta"))).as("var5"),
          (decSum(col("delta")) / count(lit(1))).as("cvar5"))
        .select(col("event_type"), col("n_moves"), col("k").as("tail_k"),
          col("var5"), col("cvar5"))
        .orderBy("event_type")
    }, Some(
      s"""WITH daily AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |    ${Q.dSum("value")} AS rev
         |  FROM events GROUP BY 1, 2),
         |delta AS (
         |  SELECT event_type, day,
         |    rev - LAG(rev, 1) OVER (PARTITION BY event_type ORDER BY day)
         |      AS delta
         |  FROM daily QUALIFY delta IS NOT NULL),
         |rk AS (
         |  SELECT event_type, delta,
         |    ROW_NUMBER() OVER (PARTITION BY event_type
         |      ORDER BY delta, day) AS rn,
         |    COUNT(*) OVER (PARTITION BY event_type) AS n_moves
         |  FROM delta),
         |sel AS (
         |  SELECT *, GREATEST(1, CAST(CEIL(CAST(n_moves AS DOUBLE) * 0.05)
         |    AS BIGINT)) AS k
         |  FROM rk)
         |SELECT event_type, n_moves, k AS tail_k,
         |  MAX(CASE WHEN rn = k THEN delta END) AS var5,
         |  ${Q.dSum("delta")} / COUNT(*) AS cvar5
         |FROM sel WHERE rn <= k
         |GROUP BY event_type, n_moves, k ORDER BY event_type""".stripMargin)),

    // Matched-item price indices (Laspeyres / Paasche / Fisher): the
    // standard way a pricing team tracks "did prices move or did the
    // mix move" — base-month part prices and quantities joined to each
    // later month over the MATCHED part set. Per-(part, month) price
    // is an exact-decimal-sum / count quotient (raw double, engine-
    // identical); each Σ p·q basket term is floor-snapped at 1e-6 to
    // BIGINT micros before summing (products reach ~1e7, so micro
    // grain keeps the snap inside int64 at this SF — and the snap is
    // per-part, so the cross-part sum is exact integer addition);
    // Fisher is the correctly-rounded sqrt of the two identical
    // ratios. The base month index is exactly 1.0 (x/x). Shape: one
    // corpus pass to the (part, month) grain, then part-keyed joins
    // and a months-bounded rollup.
    Q("g_price_index", (s, d) => {
      // examined r15, left re-computed: pm is consumed three times, but
      // at ~503k groups (sf0.1) it is near input-sized — a measured
      // materialization attempt cost MORE than the two extra columnar
      // scan+agg passes it saved (2.3 s vs 1.3 s baseline), so the
      // recompute is the cheaper plan here.
      val pm = Io.table(s, d, "lineitem")
        .select(col("l_partkey").as("part"),
          expr("year(l_shipdate) * 100 + month(l_shipdate)").as("ym"),
          col("l_extendedprice"), col("l_quantity"))
        .groupBy(col("part"), col("ym"))
        .agg((decSum(col("l_extendedprice")) / count(lit(1))).as("p"),
          decSum(col("l_quantity")).as("q"))
      val base = pm.crossJoin(broadcast(pm.agg(min(col("ym")).as("ym0"))))
        .filter(col("ym") === col("ym0"))
        .select(col("part"), col("p").as("p0"), col("q").as("q0"))
      def mic(c: org.apache.spark.sql.Column) =
        floor(c * 1e6 + 0.5).cast("long")
      pm.join(base, "part")
        .groupBy(col("ym"))
        .agg(count(lit(1)).as("n_matched"),
          sum(mic(col("p") * col("q0"))).as("ptq0"),
          sum(mic(col("p0") * col("q0"))).as("p0q0"),
          sum(mic(col("p") * col("q"))).as("ptqt"),
          sum(mic(col("p0") * col("q"))).as("p0qt"))
        // zero-basket guards (r12 sweep): an all-zero-price base month
        // zeroes the index denominators — NULL to match DuckDB's
        // natural /0 → NULL (oracle text unchanged; ANSI Spark raises)
        .select(col("ym"), col("n_matched"),
          when(col("p0q0") =!= 0,
            col("ptq0").cast("double") / col("p0q0").cast("double"))
            .as("laspeyres"),
          when(col("p0qt") =!= 0,
            col("ptqt").cast("double") / col("p0qt").cast("double"))
            .as("paasche"),
          when(col("p0q0") =!= 0 && col("p0qt") =!= 0,
            sqrt((col("ptq0").cast("double") / col("p0q0").cast("double")) *
              (col("ptqt").cast("double") / col("p0qt").cast("double"))))
            .as("fisher"))
        .orderBy("ym")
    }, Some(
      s"""WITH pm AS (
         |  SELECT l_partkey AS part,
         |    year(l_shipdate) * 100 + month(l_shipdate) AS ym,
         |    ${Q.dSum("l_extendedprice")} / COUNT(*) AS p,
         |    ${Q.dSum("l_quantity")} AS q
         |  FROM lineitem GROUP BY 1, 2),
         |base AS (
         |  SELECT part, p AS p0, q AS q0 FROM pm
         |  WHERE ym = (SELECT MIN(ym) FROM pm)),
         |m AS (
         |  SELECT ym, COUNT(*) AS n_matched,
         |    CAST(SUM(CAST(FLOOR(p * q0 * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
         |      AS ptq0,
         |    CAST(SUM(CAST(FLOOR(p0 * q0 * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
         |      AS p0q0,
         |    CAST(SUM(CAST(FLOOR(p * q * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
         |      AS ptqt,
         |    CAST(SUM(CAST(FLOOR(p0 * q * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
         |      AS p0qt
         |  FROM pm JOIN base USING (part) GROUP BY 1)
         |SELECT ym, n_matched,
         |  CAST(ptq0 AS DOUBLE) / CAST(p0q0 AS DOUBLE) AS laspeyres,
         |  CAST(ptqt AS DOUBLE) / CAST(p0qt AS DOUBLE) AS paasche,
         |  SQRT((CAST(ptq0 AS DOUBLE) / CAST(p0q0 AS DOUBLE)) *
         |       (CAST(ptqt AS DOUBLE) / CAST(p0qt AS DOUBLE))) AS fisher
         |FROM m ORDER BY ym""".stripMargin)),

    // Burstiness census of the daily event series (Fano factor
    // var/mean = 1 for a Poisson process; Goh-Barabási burstiness
    // B = (σ−μ)/(σ+μ) ∈ [−1, 1]): tells a capacity planner which
    // event types arrive memorylessly and which clump. All moments are
    // exact BIGINT sums (S1, S2 over integer daily counts; S2 is exact
    // while Σy² < 2^63 — daily per-type rates to ~3e9/day), and the
    // moment PRODUCTS n·S2, S1², n·S1 run in DECIMAL(19,0)-promoted
    // arithmetic: at large corpora the raw BIGINT products pass 2^63,
    // where Spark (non-ANSI) wraps silently while DuckDB raises — the
    // e_table_checksum divergence class. The decimal difference comes
    // back to double through the VARCHAR hop on the DuckDB side
    // (direct decimal→double double-rounds past 2^53 unscaled) and a
    // plain cast on the Spark side (repr-based, correctly rounded), so
    // fano = (n·S2 − S1²)/(n·S1) is a division of bit-identical
    // doubles at ANY corpus size; burstiness is sqrt/sub/add/div of
    // those identical doubles (sqrt correctly rounded in both engines;
    // no multiply-add shape anywhere). n_days² stays BIGINT — bounded
    // by the square of the calendar span, not the corpus. One corpus
    // pass + a |types|-row rollup.
    Q("g_burstiness", (s, d) => {
      val dec19 = org.apache.spark.sql.types.DecimalType(19, 0)
      val daily = Io.events(s, d)
        .select(col("event_type"), expr("ts_us DIV 86400000000").as("day"))
        .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("y"))
      daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), sum(col("y")).as("s1"),
          sum(col("y") * col("y")).as("s2"))
        .select(col("event_type"), col("n_days"),
          (col("s1").cast("double") / col("n_days").cast("double")).as("mean"),
          {
            val num = (col("n_days").cast(dec19) * col("s2") -
              col("s1").cast(dec19) * col("s1")).cast("double")
            val den = (col("n_days").cast(dec19) * col("s1")).cast("double")
            (num / den).as("fano")
          },
          {
            val num = (col("n_days").cast(dec19) * col("s2") -
              col("s1").cast(dec19) * col("s1")).cast("double")
            val sg = sqrt(num / (col("n_days") * col("n_days")).cast("double"))
            val mu = col("s1").cast("double") / col("n_days").cast("double")
            ((sg - mu) / (sg + mu)).as("burstiness")
          })
        .orderBy("event_type")
    }, Some(
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    COUNT(*) AS y
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, COUNT(*) AS n_days,
        |        CAST(SUM(y) AS BIGINT) AS s1,
        |        CAST(SUM(y * y) AS BIGINT) AS s2
        |      FROM daily GROUP BY 1),
        |v AS (SELECT event_type, n_days, s1,
        |        CAST(CAST(CAST(n_days AS DECIMAL(19,0)) * s2
        |          - CAST(s1 AS DECIMAL(19,0)) * s1 AS VARCHAR) AS DOUBLE)
        |          AS num,
        |        CAST(CAST(CAST(n_days AS DECIMAL(19,0)) * s1 AS VARCHAR)
        |          AS DOUBLE) AS den
        |      FROM m)
        |SELECT event_type, n_days,
        |  CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean,
        |  num / den AS fano,
        |  (SQRT(num / CAST(n_days * n_days AS DOUBLE))
        |   - CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE))
        |  / (SQRT(num / CAST(n_days * n_days AS DOUBLE))
        |     + CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE)) AS burstiness
        |FROM v ORDER BY event_type""".stripMargin)),

    // Sample-ratio-mismatch guard (the first thing an experimentation
    // platform checks before reading any A/B metric): users are
    // assigned to arms by the deterministic Q.coin parity — the same
    // coin the split/sample family uses, so this row also AUDITS that
    // assignment — and the observed arm counts are tested against the
    // expected 50/50 with a 1-dof chi-square goodness-of-fit. Every
    // value is exact: counts are integers, n/2 is an exact dyadic
    // double, each (o−e)²/e is one correctly-rounded division, and the
    // two-term sum has no fma seam (terms are division results). One
    // distinct-user aggregate + a 2-row rollup at any corpus size.
    Q("g_ab_srm", (s, d) => {
      val arms = Io.events(s, d).select(col("user_id")).distinct()
        .select(expr(s"${Q.coin("user_id")} % 2").cast("long").as("arm"))
        .groupBy(col("arm")).agg(count(lit(1)).as("o"))
      val tot = arms.agg(sum(col("o")).as("n"))
      val e = col("n").cast("double") / 2.0
      val dev = col("o").cast("double") - e
      arms.crossJoin(broadcast(tot))
        .select(col("arm"), col("o"), col("n"), (dev * dev / e).as("term"))
        .groupBy(col("n"))
        .agg(min(when(col("arm") === 0, col("o"))).as("n_a"),
          min(when(col("arm") === 1, col("o"))).as("n_b"),
          sum(col("term")).as("chi2"))
        .select(col("n").as("n_users"), col("n_a"), col("n_b"),
          col("chi2"), (col("chi2") > 3.841459).as("srm_flag"))
    }, Some(
      s"""WITH arms AS (
         |  SELECT ${Q.coin("user_id")} % 2 AS arm, COUNT(*) AS o
         |  FROM (SELECT DISTINCT user_id FROM events) GROUP BY 1),
         |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM arms),
         |t AS (SELECT arm, o, n,
         |        (o - CAST(n AS DOUBLE) / 2.0) * (o - CAST(n AS DOUBLE) / 2.0)
         |          / (CAST(n AS DOUBLE) / 2.0) AS term
         |      FROM arms CROSS JOIN tot)
         |SELECT n AS n_users,
         |  CAST(MIN(CASE WHEN arm = 0 THEN o END) AS BIGINT) AS n_a,
         |  CAST(MIN(CASE WHEN arm = 1 THEN o END) AS BIGINT) AS n_b,
         |  SUM(term) AS chi2, SUM(term) > 3.841459 AS srm_flag
         |FROM t GROUP BY n""".stripMargin)),

    // Trailing 7-day rolling MEDIAN of daily event counts per type —
    // the robust smoother the moving-average rows (g_ewma,
    // g_moving_zscore) can't give when a day spikes. Spark has no
    // holistic median over a window frame; the engine spelling is a
    // banded self-join of the day spine (≤7-row fan-out per day,
    // RANGE semantics so day gaps shrink the window rather than
    // reaching further back) + ONE keyed aggregate collecting the ≤7
    // values, sorted, with the explicit rank-k selection — (lo+hi)/2
    // of exact BIGINT counts, zero float seams. The day spine is
    // TIME-bounded metadata; the only corpus-sized pass is the daily
    // count aggregate, so the shape is scan + bounded join + keyed agg
    // at any corpus size.
    Q("g_rolling_median", (s, d) => {
      val daily = Io.events(s, d)
        .select(col("event_type"), expr("ts_us DIV 86400000000").as("day"))
        .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("y"))
      val win = daily.select(col("event_type"), col("day").as("d2"), col("y"))
        .join(daily.select(col("event_type"), col("day")), "event_type")
        .filter(col("d2") >= col("day") - 6 && col("d2") <= col("day"))
      win.groupBy(col("event_type"), col("day"))
        .agg(sort_array(collect_list(col("y"))).as("w"),
          count(lit(1)).as("n_window"))
        .select(col("event_type"), col("day"), col("n_window"),
          ((element_at(col("w"), expr("CAST((n_window + 1) DIV 2 AS INT)")) +
            element_at(col("w"), expr("CAST(n_window DIV 2 + 1 AS INT)")))
            .cast("double") / 2.0).as("med"))
        .orderBy("event_type", "day")
    }, Some(
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    COUNT(*) AS y
        |  FROM events GROUP BY 1, 2),
        |win AS (
        |  SELECT a.event_type, a.day, b.y
        |  FROM daily a JOIN daily b ON a.event_type = b.event_type
        |    AND b.day BETWEEN a.day - 6 AND a.day),
        |agg AS (
        |  SELECT event_type, day, list_sort(list(y)) AS w,
        |    COUNT(*) AS n_window
        |  FROM win GROUP BY 1, 2)
        |SELECT event_type, day, n_window,
        |  CAST(w[CAST((n_window + 1) // 2 AS INT)]
        |     + w[CAST(n_window // 2 + 1 AS INT)] AS DOUBLE) / 2.0 AS med
        |FROM agg ORDER BY event_type, day""".stripMargin)),

    // Theil-Sen robust trend estimate over the daily purchase series
    // (median of all pairwise slopes + median-residual intercept,
    // Sen '68): the outlier-proof alternative to the OLS trend rows.
    // Slopes are int/int IEEE divisions of exact count/day deltas
    // (bit-identical cross-engine); both medians go through the same
    // explicit rank-k selection spelled identically in both engines
    // (never each engine's own median() — interpolation spellings
    // differ), and the intercept residual snaps its m·x product at
    // 1e-12 before subtracting so a fused multiply-add cannot diverge.
    // Scale shape: the pair table is |days|² — TIME-bounded metadata,
    // independent of corpus row count (the single-partition rank
    // windows over it are whitelisted with that bound); the only
    // corpus-sized pass is the daily count aggregate.
    Q("g_theilsen_slope", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // scratch (r15): daily is consumed FIVE times (base-day
      // scalar, both slope-pair sides, the residual pass, the n_days
      // census) — each execution re-ran the events scan + hash agg.
      // The table is |days| rows, calendar-bounded.
      val daily = Q.scratch("theilsen_daily")(
        Io.events(s, d).filter(col("event_type") === "purchase")
          .select(expr("ts_us DIV 86400000000").as("day"))
          .groupBy(col("day")).agg(count(lit(1)).as("y")))
      val ser = daily.crossJoin(broadcast(daily.agg(min(col("day")).as("d0"))))
        .select((col("day") - col("d0")).as("x"), col("y"))
      val slopes = ser.select(col("x").as("x1"), col("y").as("y1"))
        .crossJoin(broadcast(ser.select(col("x").as("x2"), col("y").as("y2"))))
        .filter(col("x1") < col("x2"))
        .select(((col("y2") - col("y1")).cast("double") /
          (col("x2") - col("x1")).cast("double")).as("m"))
      // one pass (r15): the count rides the SAME WindowExec as the rank
      // (identical partition/order spec, whole-partition frame) — the
      // old crossJoin(broadcast(df.agg(count))) executed the |days|²
      // slope-pair join a second time just to learn its size.
      def rankMedian(df: org.apache.spark.sql.DataFrame, c: String): org.apache.spark.sql.DataFrame = {
        val w = Window.orderBy(col(c))
        df.withColumn("rn", row_number().over(w))
          .withColumn("np", count(lit(1)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .filter(col("rn") === expr("(np + 1) DIV 2") ||
            col("rn") === expr("np DIV 2 + 1"))
          .agg(((min(col(c)) + max(col(c))) / 2.0).as(s"med_$c"),
            max(col("np")).as(s"n_$c"))
      }
      val ms = rankMedian(slopes, "m")
      val resid = ser.crossJoin(broadcast(ms))
        .select((col("y").cast("double") -
          floor(col("med_m") * col("x").cast("double") * 1e12 + 0.5)
            .cast("long").cast("double") / 1e12).as("r"))
      val ic = rankMedian(resid, "r")
      ms.crossJoin(broadcast(ic))
        .crossJoin(broadcast(daily.agg(count(lit(1)).as("n_days"))))
        .select(col("n_days"), col("n_m").as("n_pairs"),
          col("med_m").as("slope"), col("med_r").as("intercept"))
    }, Some(
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day, COUNT(*) AS y
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |ser AS (SELECT day - (SELECT MIN(day) FROM daily) AS x, y FROM daily),
        |slopes AS (
        |  SELECT CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS m
        |  FROM ser a JOIN ser b ON a.x < b.x),
        |rs AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS rn FROM slopes),
        |np AS (SELECT COUNT(*) AS np FROM slopes),
        |ms AS (SELECT (MIN(m) + MAX(m)) / 2.0 AS med_m,
        |         CAST(MAX(np) AS BIGINT) AS n_pairs
        |       FROM rs CROSS JOIN np
        |       WHERE rn = (np + 1) // 2 OR rn = np // 2 + 1),
        |resid AS (
        |  SELECT CAST(y AS DOUBLE) -
        |    CAST(CAST(FLOOR(med_m * CAST(x AS DOUBLE) * 1e12 + 0.5) AS BIGINT)
        |      AS DOUBLE) / 1e12 AS r
        |  FROM ser CROSS JOIN ms),
        |rr AS (SELECT r, ROW_NUMBER() OVER (ORDER BY r) AS rn FROM resid),
        |nr AS (SELECT COUNT(*) AS nr FROM resid),
        |ic AS (SELECT (MIN(r) + MAX(r)) / 2.0 AS intercept
        |       FROM rr CROSS JOIN nr
        |       WHERE rn = (nr + 1) // 2 OR rn = nr // 2 + 1)
        |SELECT (SELECT COUNT(*) FROM daily) AS n_days, ms.n_pairs,
        |  ms.med_m AS slope, ic.intercept
        |FROM ms CROSS JOIN ic""".stripMargin)),

    // Pearson chi-square test of independence (event type × day of
    // week): the categorical-association workhorse next to the KS /
    // Mann-Whitney continuous tests. Observed counts are one hash
    // aggregate over the scan; row/column marginals are two more
    // bounded aggregates broadcast back onto the ≤|types|·7 cell table
    // — at 100 TB the only corpus-sized pass is the first count.
    // Engine-exactness: expected = rt·ct/n in correctly-rounded double
    // ops (double-multiply spelling so the product cannot overflow
    // int64 at any corpus size); each cell's (o−e)²/e contribution is
    // 1e-12 floor-snapped to BIGINT picounits, so the per-row and
    // grand-total sums are exact integer addition — no
    // accumulation-order seam. Degrees of freedom are computed from the
    // observed level censuses, not hard-coded.
    Q("g_chi2_indep", (s, d) => {
      val cells = Io.events(s, d)
        .select(col("event_type"),
          expr("(ts_us DIV 86400000000 + 4) % 7").as("dow"))
        .groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("o"))
      val rt = cells.groupBy(col("event_type")).agg(sum(col("o")).as("rt"))
      val ct = cells.groupBy(col("dow")).agg(sum(col("o")).as("ct"))
      val n = cells.agg(sum(col("o")).as("n"),
        countDistinct(col("event_type")).as("nt"),
        countDistinct(col("dow")).as("nd"))
      val e = col("rt").cast("double") * col("ct").cast("double") /
        col("n").cast("double")
      val dev = col("o").cast("double") - e
      val contrib = floor(dev * dev / e * 1e12 + 0.5).cast("long")
      val perCell = cells.join(rt, "event_type").join(broadcast(ct), "dow")
        .crossJoin(broadcast(n))
        .select(col("event_type"), col("o"), contrib.as("cp"),
          ((col("nt") - 1) * (col("nd") - 1)).as("dof"))
      val total = perCell.agg(sum(col("cp")).as("tp"))
      perCell.groupBy(col("event_type"), col("dof"))
        .agg(sum(col("o")).as("n_row"), sum(col("cp")).as("rp"))
        .crossJoin(broadcast(total))
        .select(col("event_type"), col("n_row"),
          (col("rp").cast("double") / 1e12).as("chi2_row"),
          (col("tp").cast("double") / 1e12).as("chi2_total"), col("dof"))
        .orderBy("event_type")
    }, Some(
      """WITH cells AS (
        |  SELECT event_type, (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |    COUNT(*) AS o
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS rt
        |       FROM cells GROUP BY 1),
        |ct AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
        |          COUNT(DISTINCT event_type) AS nt,
        |          COUNT(DISTINCT dow) AS nd
        |        FROM cells),
        |pc AS (SELECT cells.event_type, o,
        |  CAST(FLOOR((o - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
        |                  / CAST(n AS DOUBLE))
        |           * (o - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
        |                  / CAST(n AS DOUBLE))
        |           / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
        |                  / CAST(n AS DOUBLE)) * 1e12 + 0.5) AS BIGINT) AS cp,
        |  (nt - 1) * (nd - 1) AS dof
        |  FROM cells JOIN rt USING (event_type) JOIN ct USING (dow)
        |    CROSS JOIN tot),
        |gt AS (SELECT CAST(SUM(cp) AS BIGINT) AS tp FROM pc)
        |SELECT event_type, CAST(SUM(o) AS BIGINT) AS n_row,
        |  CAST(CAST(SUM(cp) AS BIGINT) AS DOUBLE) / 1e12 AS chi2_row,
        |  CAST(tp AS DOUBLE) / 1e12 AS chi2_total,
        |  dof
        |FROM pc CROSS JOIN gt GROUP BY event_type, dof, tp
        |ORDER BY event_type""".stripMargin)),

    Q("g_ks_drift", (s, d) => {
      val binned = Io.events(s, d)
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("event_type"),
          least(floor(col("value") / 5.0), lit(99.0)).cast("int").as("bin"))
        .groupBy(col("bin"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("ca"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("cb"))
      val w = Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = binned.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
      binned
        .withColumn("cuma", sum(col("ca")).over(w))
        .withColumn("cumb", sum(col("cb")).over(w))
        .crossJoin(broadcast(tot))
        // empty-arm guard (r12 sweep): na/nb = 0 → NULL dd, matching
        // DuckDB's /0 → NULL; DESC ordering puts NULLS LAST in both
        .withColumn("dd", when(col("na") =!= 0 && col("nb") =!= 0,
          abs(col("cuma") / col("na").cast("double") -
              col("cumb") / col("nb").cast("double"))))
        .orderBy(col("dd").desc, col("bin"))
        .limit(1)
        .select(col("na"), col("nb"), col("bin").as("ks_bin"),
          snap6(col("dd")).as("ks_stat"))
    }, Some(
      s"""WITH b AS (
         |  SELECT CAST(LEAST(FLOOR(value / 5.0), 99.0) AS INT) AS bin,
         |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |         AS BIGINT) AS ca,
         |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         |         AS BIGINT) AS cb
         |  FROM events WHERE event_type IN ('purchase', 'click')
         |  GROUP BY 1),
         |c AS (
         |  SELECT bin,
         |    SUM(ca) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cuma,
         |    SUM(cb) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cumb,
         |    (SELECT CAST(SUM(ca) AS BIGINT) FROM b) AS na,
         |    (SELECT CAST(SUM(cb) AS BIGINT) FROM b) AS nb
         |  FROM b),
         |dd AS (
         |  SELECT na, nb, bin,
         |    ABS(cuma / CAST(na AS DOUBLE) - cumb / CAST(nb AS DOUBLE)) AS dd
         |  FROM c)
         |SELECT na, nb, bin AS ks_bin, ${dSnap6("dd")} AS ks_stat
         |FROM dd ORDER BY dd DESC, bin LIMIT 1""".stripMargin)),

    // Local-maxima peak detection over the hourly event-count series —
    // the monitoring read behind every "traffic spike" alert: a peak
    // hour strictly exceeds both neighbors (lag/lead over the
    // type-partitioned hour series; boundary hours can't be peaks).
    // Integer counts end-to-end — nothing to snap. The series is
    // grid-sized (hours × types), so the windows run over bounded
    // partitions; the data-sized work is one partial-aggregated
    // hash-agg to hourly counts.
    Q("g_peak_detection", (s, d) => {
      val hourly = Io.events(s, d)
        .select(col("event_type"),
          expr("CAST(ts_us DIV 3600000000 AS BIGINT)").as("hr"))
        .groupBy(col("event_type"), col("hr"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      hourly
        .withColumn("prev_n", lag(col("n"), 1).over(w))
        .withColumn("next_n", lead(col("n"), 1).over(w))
        .filter(col("prev_n").isNotNull && col("next_n").isNotNull &&
          col("n") > col("prev_n") && col("n") > col("next_n"))
        .select(col("event_type"), col("hr"), col("n"),
          col("prev_n"), col("next_n"))
        .orderBy("event_type", "hr")
    }, Some(
      """WITH h AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, hr, n,
        |    LAG(n) OVER (PARTITION BY event_type ORDER BY hr) AS prev_n,
        |    LEAD(n) OVER (PARTITION BY event_type ORDER BY hr) AS next_n
        |  FROM h)
        |SELECT event_type, hr, n, prev_n, next_n
        |FROM l
        |WHERE prev_n IS NOT NULL AND next_n IS NOT NULL
        |  AND n > prev_n AND n > next_n
        |ORDER BY event_type, hr""".stripMargin)),

    // CUSUM changepoint localization — WHERE did the purchase-value
    // level shift? cusum_t = Σ_{i≤t}(v_i − mean) peaks at the change
    // point; the report is the peak |cusum|, its event time, and its
    // fraction through the stream. Two passes: the global mean (raw
    // double of an exact decimal sum — engine-identical), then an
    // EXACT decimal prefix sum of deviations in (ts, event_id) order
    // via the distributed range-partition + local-cumsum + broadcast-
    // offset pattern (4th user: ntile, gini, ABC) — no global window
    // over the data. Deviations snap to DECIMAL(38,6) BEFORE summing,
    // so every prefix value is exact and the argmax (tie → earliest
    // event) is engine-identical; the oracle runs the literal
    // one-window form, proving the decomposition again.
    Q("g_cusum_changepoint", (s, d) => {
      val dec6 = org.apache.spark.sql.types.DecimalType(38, 6)
      val parts = s.sparkContext.defaultParallelism
      val ev = Io.events(s, d).filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts_us"), col("value"))
      val m = ev.agg(decAvg(col("value")).as("mean"), count(lit(1)).as("n"))
      val dev = ev.crossJoin(broadcast(m))
        .withColumn("dv", (col("value") - col("mean")).cast(dec6))
      val wLoc = Window.partitionBy(col("pid"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // MATERIALIZED, not lazy: `local` is consumed by TWO branches
      // (the per-partition offsets and the final join), and
      // repartitionByRange samples its bounds with a seed derived from
      // the RDD id — a fresh id per execution, so two independent
      // executions can draw DIFFERENT partition boundaries and the
      // offsets then correct the wrong partitions (observed at sf0.1:
      // peak_cusum -4388.70 vs the one-window oracle's -4172.49; at
      // sf0.01 the sample is the whole input and the bounds happened to
      // coincide). Freezing the ranged table once is also the 100 TB
      // shape — the range shuffle is paid once, not per consumer.
      val local = Q.scratch("cusum_ranged") {
        dev.repartitionByRange(parts, col("ts_us"), col("event_id"))
          .withColumn("pid", spark_partition_id())
          .withColumn("lc", sum(col("dv")).over(wLoc))
      }
      val offs = local.groupBy(col("pid")).agg(sum(col("dv")).as("pt"))
        .withColumn("off", coalesce(sum(col("pt")).over(
          Window.orderBy(col("pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0).cast(dec6)))
        .select(col("pid"), col("off"))
      local.join(broadcast(offs), "pid")
        .withColumn("cusum", (col("lc") + col("off")).cast("double"))
        .select(col("n"), col("event_id"), col("ts_us"), col("cusum"),
          abs(col("cusum")).as("ac"))
        .orderBy(col("ac").desc, col("ts_us"), col("event_id"))
        .limit(1)
        .select(col("n").as("n_events"), col("event_id").as("peak_event"),
          col("ts_us").as("peak_ts_us"), col("cusum").as("peak_cusum"))
    }, Some(
      s"""WITH ev AS (
         |  SELECT event_id, epoch_us(ts) AS ts_us, value
         |  FROM events WHERE event_type = 'purchase'),
         |m AS (SELECT ${dSum("value")} / COUNT(*) AS mean, COUNT(*) AS n
         |      FROM ev),
         |c AS (
         |  SELECT n, event_id, ts_us,
         |    CAST(SUM(CAST(value - mean AS DECIMAL(38,6))) OVER (
         |      ORDER BY ts_us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         |      AS cusum
         |  FROM ev CROSS JOIN m)
         |SELECT n AS n_events, event_id AS peak_event, ts_us AS peak_ts_us,
         |  cusum AS peak_cusum
         |FROM c ORDER BY ABS(cusum) DESC, ts_us, event_id LIMIT 1""".stripMargin)),

    // Mann-Whitney U (Wilcoxon rank-sum) — the nonparametric two-sample
    // test g_ab_welch's t-test can't replace when values are skewed:
    // U₁ = #{(a,b): a > b} + ½·#ties, computed EXACTLY with no rank
    // window at all via the distinct-value decomposition
    // 2·U₁ = Σ_v na_v·(2·cumB<(v) + nb_v) — pure BIGINT until the final
    // z-score. The exclusive prefix count over distinct values is the
    // distributed two-pass range-partition pattern (no same-value rows
    // can straddle a partition: the prefix runs over the DISTINCT-value
    // table). Tie correction Σ(t³−t) is likewise integer-exact; the
    // z-score is one fixed-association double expression mirrored in
    // the oracle, emitted raw (inputs engine-identical by construction).
    Q("g_mannwhitney_u", (s, d) => {
      val agg = mwAgg(s, d)
      // degenerate guards (r12 sweep): one fully-tied value (zero tie
      // variance) or an empty arm zeroes the z denominator; N ≤ 1
      // zeroes the tie-correction divisor. NULL here matches DuckDB's
      // natural /0 → NULL chain (oracle text unchanged).
      val nn = col("n1") + col("n2")
      val corr = when(nn > 1, col("tsum") / (nn * (nn - lit(1.0))))
      val varU = col("n1") * col("n2") / 12.0 * ((nn + lit(1)) - corr)
      agg.select(col("n1"), col("n2"),
        (col("u2x") / 2.0).as("u1"),
        when(varU > 0,
          (col("u2x") / 2.0 - col("n1") * col("n2") / 2.0) / sqrt(varU))
          .as("z"))
    }, Some(
      """WITH p AS (
        |  SELECT value,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS na_v,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS nb_v
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |  GROUP BY value),
        |c AS (
        |  SELECT na_v, nb_v,
        |    COALESCE(SUM(nb_v) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM p),
        |a AS (
        |  SELECT CAST(SUM(na_v * (2 * cb + nb_v)) AS BIGINT) AS u2x,
        |    CAST(SUM(na_v) AS BIGINT) AS n1, CAST(SUM(nb_v) AS BIGINT) AS n2,
        |    CAST(SUM((na_v + nb_v) * (na_v + nb_v) * (na_v + nb_v)
        |             - (na_v + nb_v)) AS BIGINT) AS tsum
        |  FROM c)
        |SELECT n1, n2, u2x / 2.0 AS u1,
        |  (u2x / 2.0 - n1 * n2 / 2.0) /
        |    SQRT(n1 * n2 / 12.0 * ((n1 + n2 + 1)
        |         - tsum / ((n1 + n2) * (n1 + n2 - 1.0)))) AS z
        |FROM a""".stripMargin)),

    // Revenue concentration: Gini coefficient + top-1%/top-10% share of
    // per-customer spend. Gini uses the rank formula
    // G = 2·Σ(rank·x)/(n·Σx) − (n+1)/n, which needs a GLOBAL rank of
    // every customer — produced by the same two-pass range-partitioned
    // ranking as e_win_ntile_pct (repartitionByRange → per-partition
    // row_number → prefix offsets), never a single-partition window.
    // All sums ride DECIMAL(38,6) (order-independent); ranks and the
    // top-k thresholds are exact integer arithmetic (k = max(1, n÷100)
    // resp. n÷10), so both engines pick the same customer sets.
    Q("g_gini_spend", (s, d) => {
      val parts = s.sparkContext.defaultParallelism
      val spend = Io.table(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(decSum(col("o_totalprice")).as("spend"))
      val wLocal = Window.partitionBy(col("pid"))
        .orderBy(col("spend"), col("o_custkey"))
      // scratch: two consumers of a range-sampled partitioning —
      // see g_cusum_changepoint (bounds are sampled per execution)
      val local = Q.scratch("gini_ranked") {
        spend
          .repartitionByRange(parts, col("spend"), col("o_custkey"))
          .withColumn("pid", spark_partition_id())
          .withColumn("lrn", row_number().over(wLocal))
      }
      // cluster-partitions-sized offset table (same scale argument as
      // e_win_ntile_pct: the global window below runs over ≤|partitions|
      // rows, not data)
      val offs = local.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
        .withColumn("off", coalesce(sum(col("cnt")).over(
          Window.orderBy(col("pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("pid"), col("off"))
      val ranked = local.join(broadcast(offs), "pid")
        .withColumn("rn", col("lrn") + col("off"))
      val tot = ranked.agg(count(lit(1)).as("n"),
        decSum(col("spend")).as("ts"),
        decSum(col("rn") * col("spend")).as("rx"))
      val tops = ranked.crossJoin(broadcast(tot))
        .agg(decSum(when(
            col("rn") > col("n") - greatest(lit(1L), expr("n DIV 100")),
            col("spend")).otherwise(lit(0.0))).as("t1"),
          decSum(when(
            col("rn") > col("n") - greatest(lit(1L), expr("n DIV 10")),
            col("spend")).otherwise(lit(0.0))).as("t10"))
      // zero-spend guard (r12 sweep): total spend 0 zeroes every share
      // denominator — NULL matches DuckDB's /0 → NULL (oracle unchanged)
      tot.crossJoin(tops)
        .select(col("n").as("n_cust"), snap6(col("ts")).as("total_spend"),
          snap6(when(col("ts") =!= 0,
            lit(2.0) * col("rx") / (col("n") * col("ts")) -
              (col("n") + lit(1L)) / col("n").cast("double"))).as("gini"),
          snap6(when(col("ts") =!= 0, col("t1") / col("ts")))
            .as("top1_share"),
          snap6(when(col("ts") =!= 0, col("t10") / col("ts")))
            .as("top10_share"))
    }, Some(
      s"""WITH sp AS (
         |  SELECT o_custkey, ${dSum("o_totalprice")} AS spend
         |  FROM orders GROUP BY 1),
         |r AS (
         |  SELECT spend,
         |    ROW_NUMBER() OVER (ORDER BY spend, o_custkey) AS rn
         |  FROM sp),
         |t AS (
         |  SELECT COUNT(*) AS n, ${dSum("spend")} AS ts,
         |    ${dSum("rn * spend")} AS rx
         |  FROM r),
         |tk AS (
         |  SELECT
         |    ${dSum("CASE WHEN rn > n - GREATEST(1, n // 100) THEN spend ELSE 0.0 END")} AS t1,
         |    ${dSum("CASE WHEN rn > n - GREATEST(1, n // 10) THEN spend ELSE 0.0 END")} AS t10
         |  FROM r CROSS JOIN t)
         |SELECT n AS n_cust, ${dSnap6("ts")} AS total_spend,
         |  ${dSnap6("2.0 * rx / (n * ts) - (n + 1) / CAST(n AS DOUBLE)")} AS gini,
         |  ${dSnap6("t1 / ts")} AS top1_share,
         |  ${dSnap6("t10 / ts")} AS top10_share
         |FROM t CROSS JOIN tk""".stripMargin)),

    // Day-of-week seasonality per event type: mean value per (type,
    // dow) against the type's overall mean. The data-sized pass is one
    // (type, dow) hash-agg; the normalizing window runs over ≤ 7 rows
    // per type (grid-sized). dow is pure integer arithmetic on the
    // epoch day — (day + 3) % 7 makes 0 = Monday (1970-01-01 was a
    // Thursday) — identical in both engines, no calendar functions.
    // Determinism note: the outputs are RAW doubles, not decimal-
    // snapped. Every input (sv via exact decimal sum, counts, the
    // decimal-summed window totals) is bit-identical across engines and
    // the quotient chain is written in the same association order, so
    // the doubles agree exactly — whereas snapping a quotient that can
    // land on a 1e-6 midpoint (1695.17/32 = 52.9740625 does, at this
    // very data) hits DuckDB's mis-rounded double→decimal cast near
    // midpoints. Mirrored arithmetic beats snapping when nothing
    // upstream can diverge.
    Q("g_seasonality_dow", (s, d) => {
      val wType = Window.partitionBy(col("event_type"))
      val decW = (c: org.apache.spark.sql.Column) =>
        sum(c.cast(org.apache.spark.sql.types.DecimalType(38, 6)))
          .over(wType).cast("double")
      Io.events(s, d)
        .select(col("event_type"), ((day + 3) % 7).as("dow"), col("value"))
        .groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("sv"))
        .withColumn("mean_value", col("sv") / col("n_events"))
        // zero-mean guard (r12 sweep): an all-zero type mean zeroes the
        // index denominator — NULL matches DuckDB's /0 → NULL
        .withColumn("_tmean", decW(col("sv")) / sum(col("n_events")).over(wType))
        .withColumn("seasonal_index",
          when(col("_tmean") =!= 0, (col("sv") / col("n_events")) / col("_tmean")))
        .select(col("event_type"), col("dow"), col("n_events"),
          col("mean_value"), col("seasonal_index"))
        .orderBy("event_type", "dow")
    }, Some(
      s"""WITH g AS (
         |  SELECT event_type,
         |    (epoch_us(ts) // 86400000000 + 3) % 7 AS dow,
         |    COUNT(*) AS n_events, ${dSum("value")} AS sv
         |  FROM events GROUP BY 1, 2)
         |SELECT event_type, dow, n_events,
         |  sv / n_events AS mean_value,
         |  (sv / n_events) /
         |    (CAST(SUM(CAST(sv AS DECIMAL(38,6))) OVER (PARTITION BY event_type) AS DOUBLE)
         |     / SUM(n_events) OVER (PARTITION BY event_type)) AS seasonal_index
         |FROM g ORDER BY event_type, dow""".stripMargin)),

    // Classical seasonal decomposition (the moving-average STL
    // ancestor): daily order revenue = trend + seasonal + residual,
    // with trend a centered 7-observation moving average (only days
    // with a full window emitted), seasonal the day-of-week mean of
    // the detrended series, residual the remainder. The corpus-sized
    // work is ONE hash aggregate to day grain; every window after that
    // runs over the calendar-bounded daily table (≤ data range in
    // days at ANY corpus size — same justification as g_survival_km's
    // whitelist entry). Parity is integer-exact end to end: revenue in
    // half-up cents via the floor(x*100+0.5) snap (exact IEEE in both
    // engines; CAST double→int truncates in Spark but ROUNDS in
    // DuckDB, so never cast), the 7-day total and the 7×detrended
    // value (7·rev − t7) stay BIGINT, and the emitted doubles are
    // int→double conversions and correctly-rounded divisions only —
    // no decimal seams, no transcendentals. Int64 headroom: t7 at a
    // 10×-sf1 corpus is ~7e11 cents ≪ 2⁶³.
    Q("g_stl_decompose", (s, d) => {
      val daily = Io.table(s, d, "orders")
        .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
            " DIV 86400000000").as("day"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
        .groupBy(col("day")).agg(sum(col("cents")).as("rev_c"))
      val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
      val k = daily
        .withColumn("t7", sum(col("rev_c")).over(w7))
        .withColumn("cnt", count(lit(1)).over(w7))
        .filter(col("cnt") === 7)
        .withColumn("dt7", lit(7) * col("rev_c") - col("t7"))
        .withColumn("dow", (col("day") + 3) % 7)
      val sea = k.groupBy(col("dow"))
        .agg(sum(col("dt7")).as("s_num"), count(lit(1)).as("s_cnt"))
      val seasonal = (col("s_num").cast("double") / col("s_cnt")) / 700.0
      k.join(broadcast(sea), "dow")
        .select(col("day"), col("dow"),
          (col("rev_c").cast("double") / 100.0).as("revenue"),
          (col("t7").cast("double") / 700.0).as("trend"),
          seasonal.as("seasonal"),
          (col("dt7").cast("double") / 700.0 - seasonal).as("residual"))
        .orderBy("day")
    }, Some(
      """WITH daily AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
        |         AS BIGINT) AS rev_c
        |  FROM orders GROUP BY 1),
        |w AS (
        |  SELECT day, rev_c,
        |    CAST(SUM(rev_c) OVER (ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS t7,
        |    COUNT(*) OVER (ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS cnt
        |  FROM daily),
        |k AS (
        |  SELECT day, rev_c, t7, 7 * rev_c - t7 AS dt7, (day + 3) % 7 AS dow
        |  FROM w WHERE cnt = 7),
        |sea AS (
        |  SELECT dow, CAST(SUM(dt7) AS BIGINT) AS s_num, COUNT(*) AS s_cnt
        |  FROM k GROUP BY 1)
        |SELECT k.day, k.dow,
        |  CAST(k.rev_c AS DOUBLE) / 100.0 AS revenue,
        |  CAST(k.t7 AS DOUBLE) / 700.0 AS trend,
        |  (CAST(s.s_num AS DOUBLE) / s.s_cnt) / 700.0 AS seasonal,
        |  CAST(k.dt7 AS DOUBLE) / 700.0
        |    - (CAST(s.s_num AS DOUBLE) / s.s_cnt) / 700.0 AS residual
        |FROM k JOIN sea s USING (dow) ORDER BY day""".stripMargin)),

    // New-vs-returning user census per day — the growth accounting
    // every product report leads with (day grain: integer epoch days,
    // no calendar/locale surface at all). Two keyed aggregates
    // (per-user first event; per-day distinct actives) joined on the
    // user grain; "new on day t" = the user's first-ever event falls
    // on t. All counts integers, the share an int/int division. At
    // 100 TB both aggregates partial-combine and the join shuffles on
    // user_id once.
    Q("g_new_vs_returning", (s, d) => {
      val ev = Io.events(s, d)
        .select(expr("ts_us DIV 86400000000").as("day"), col("user_id"),
          col("ts_us"))
      val firstD = ev.groupBy(col("user_id"))
        .agg(expr("MIN(ts_us) DIV 86400000000").as("f_day"))
      ev.select(col("day"), col("user_id")).distinct()
        .join(firstD, "user_id")
        .groupBy(col("day"))
        .agg(count(lit(1)).as("active_users"),
          sum(when(col("f_day") === col("day"), 1L).otherwise(0L))
            .as("new_users"))
        .select(col("day"), col("active_users"), col("new_users"),
          (col("active_users") - col("new_users")).as("returning_users"),
          (col("new_users").cast("double") / col("active_users"))
            .as("new_share"))
        .orderBy("day")
    }, Some(
      """WITH ev AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day, user_id,
        |    epoch_us(ts) AS ts_us
        |  FROM events),
        |firstd AS (
        |  SELECT user_id, MIN(ts_us) // 86400000000 AS f_day
        |  FROM ev GROUP BY 1),
        |act AS (SELECT DISTINCT day, user_id FROM ev)
        |SELECT day, COUNT(*) AS active_users,
        |  CAST(SUM(CASE WHEN f_day = day THEN 1 ELSE 0 END) AS BIGINT)
        |    AS new_users,
        |  COUNT(*) - CAST(SUM(CASE WHEN f_day = day THEN 1 ELSE 0 END)
        |    AS BIGINT) AS returning_users,
        |  CAST(SUM(CASE WHEN f_day = day THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS new_share
        |FROM act JOIN firstd USING (user_id)
        |GROUP BY day ORDER BY day""".stripMargin)),

    // Inter-purchase time distribution — the repeat-behavior metric a
    // retention model trains on: per-user gaps between consecutive
    // purchases (user-keyed LAG window — distributed, no global
    // exchange), then n/mean/p50/p90 of the gap in days over all gaps.
    // The mean is an exact BIGINT micros sum; gap days divide the same
    // literal on both engines; percentiles run through the
    // sketch-bracketed selection (Q.exactPercentiles) paired with
    // quantile_cont at 1e-6.
    Q("g_interpurchase_time", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      // scratch (r15): gaps feeds the count/mean aggregate AND the
      // percentile's sketch and bracket passes, so the user-keyed LAG
      // window would run three times without it. The frame is
      // purchase-gap-sized.
      val gaps = Q.scratch("interpurchase_gaps")(
        Io.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts_us"))
          .withColumn("prev", lag(col("ts_us"), 1).over(w))
          .filter(col("prev").isNotNull)
          .select(lit("all").as("k"), (col("ts_us") - col("prev")).as("gmic"),
            ((col("ts_us") - col("prev")).cast("double") / 86400000000.0)
              .as("gap_days")))
      val n = gaps.groupBy(col("k"))
        .agg(count(lit(1)).as("n_gaps"), sum(col("gmic")).as("sum_mic"))
      Q.exactPercentiles(gaps, "k", "gap_days",
          Seq((0.5, "p50r"), (0.9, "p90r")))
        .join(n, "k")
        .select(col("n_gaps"),
          ((col("sum_mic").cast("double") / col("n_gaps")) / 86400000000.0)
            .as("mean_days"),
          snap6(col("p50r")).as("p50_days"),
          snap6(col("p90r")).as("p90_days"))
        .orderBy("n_gaps")
    }, Some(
      s"""WITH p AS (
         |  SELECT user_id, epoch_us(ts) AS ts_us FROM events
         |  WHERE event_type = 'purchase'),
         |g AS (
         |  SELECT ts_us - LAG(ts_us) OVER (
         |    PARTITION BY user_id ORDER BY ts_us) AS gmic
         |  FROM p),
         |k AS (
         |  SELECT 'all' AS kk, gmic,
         |    CAST(gmic AS DOUBLE) / 86400000000.0 AS gap_days
         |  FROM g WHERE gmic IS NOT NULL)
         |-- grouped on the constant key so an empty gap set yields ZERO
         |-- rows (matching Spark's groupBy), not one all-NULL row
         |SELECT COUNT(*) AS n_gaps,
         |  (CAST(CAST(SUM(gmic) AS BIGINT) AS DOUBLE) / COUNT(*))
         |    / 86400000000.0 AS mean_days,
         |  ${dSnap6("quantile_cont(gap_days, 0.5)")} AS p50_days,
         |  ${dSnap6("quantile_cont(gap_days, 0.9)")} AS p90_days
         |FROM k GROUP BY kk ORDER BY n_gaps""".stripMargin)),

    // DAU/MAU stickiness — the engagement ratio every product
    // analytics stack reports: per calendar month, mean daily active
    // users over monthly active users. Two corpus scans (daily
    // distinct users keyed on (month, day); monthly distinct users
    // keyed on month — DAU cannot be rolled up into MAU, distinctness
    // does not compose across days), joined on the ≤|months| grain.
    // At 100 TB both aggregates partial-combine on their keys; the
    // join side is calendar-bounded. All counts are integers; the two
    // ratios are int-chain IEEE divisions — bit-identical cross-engine.
    Q("g_stickiness_dau_mau", (s, d) => {
      val ev = Io.events(s, d)
        .select(date_format(col("ts_t"), "yyyy-MM").as("month"),
          expr("ts_us DIV 86400000000").as("day"), col("user_id"))
      val daily = ev.groupBy(col("month"), col("day"))
        .agg(countDistinct(col("user_id")).as("dau"))
        .groupBy(col("month"))
        .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("sum_dau"))
      val monthly = ev.groupBy(col("month"))
        .agg(countDistinct(col("user_id")).as("mau"))
      daily.join(monthly, "month")
        .select(col("month"), col("n_days"), col("sum_dau"), col("mau"),
          (col("sum_dau").cast("double") / col("n_days")).as("avg_dau"),
          (col("sum_dau").cast("double") / col("n_days") / col("mau"))
            .as("stickiness"))
        .orderBy("month")
    }, Some(
      """WITH ev AS (
        |  SELECT strftime(ts, '%Y-%m') AS month,
        |    epoch_us(ts) // 86400000000 AS day, user_id
        |  FROM events),
        |daily AS (
        |  SELECT month, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(dau) AS BIGINT) AS sum_dau
        |  FROM (SELECT month, day, COUNT(DISTINCT user_id) AS dau
        |        FROM ev GROUP BY 1, 2)
        |  GROUP BY month),
        |monthly AS (
        |  SELECT month, COUNT(DISTINCT user_id) AS mau FROM ev GROUP BY 1)
        |SELECT d.month, d.n_days, d.sum_dau, m.mau,
        |  CAST(d.sum_dau AS DOUBLE) / d.n_days AS avg_dau,
        |  CAST(d.sum_dau AS DOUBLE) / d.n_days / m.mau AS stickiness
        |FROM daily d JOIN monthly m USING (month) ORDER BY month""".stripMargin)),

    // CUPED (Controlled-experiment Using Pre-Experiment Data, Deng et
    // al. 2013) — the variance-reduction estimator every mature A/B
    // platform applies before reading a treatment effect: per-user
    // pre-period spend x (before the corpus time midpoint) and
    // post-period spend y, θ = cov(x,y)/var(x) over ALL users, and the
    // adjusted effect (ȳ_t − ȳ_c) − θ(x̄_t − x̄_c). Shape: one keyed
    // hash-agg to the user grain, one 2-row treat-level moment
    // aggregate (materialized — three tiny consumers), global moments
    // re-summed from the two treat rows (decimal sums associate), then
    // pure scalar math. Parity: the g_ols_multi discipline — per-user
    // sums in DECIMAL(16,6), int128-promoted decimal moment products,
    // dHop out-hops, every multiply seam 1e-12-snapped, singular
    // guards (var(x)=0 → NULL θ) matching DuckDB's /0 → NULL.
    Q("g_cuped", (s, d) => {
      val dec18 = org.apache.spark.sql.types.DecimalType(18, 6)
      val dec16 = org.apache.spark.sql.types.DecimalType(16, 6)
      val ev = Io.events(s, d).filter(col("value").isNotNull)
      val mid = ev.agg(min(col("ts_us")).as("mn"), max(col("ts_us")).as("mx"))
        .select(expr("(mn + mx) DIV 2").as("mid_us"))
      val users = ev.crossJoin(broadcast(mid))
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("ts_us") < col("mid_us"), col("value"))
            .otherwise(0.0).cast(dec18)).cast(dec16).as("x"),
          sum(when(col("ts_us") >= col("mid_us"), col("value"))
            .otherwise(0.0).cast(dec18)).cast(dec16).as("y"))
        .withColumn("treat", (col("user_id") % 2).cast("int"))
      val t = Q.scratch("cupedTreatMoments")(
        users.groupBy(col("treat")).agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("y") * col("y")).as("syy")))
      val g = t.agg(sum(col("n")).as("n"), sum(col("sx")).as("sx"),
          sum(col("sy")).as("sy"), sum(col("sxx")).as("sxx"),
          sum(col("sxy")).as("sxy"), sum(col("syy")).as("syy"))
        .select(col("n"),
          (col("sx").cast("double") / col("n")).as("mx"),
          (col("sy").cast("double") / col("n")).as("my"),
          (col("sxx").cast("double") / col("n")).as("mxx"),
          (col("sxy").cast("double") / col("n")).as("mxy"),
          (col("syy").cast("double") / col("n")).as("myy"))
        .withColumn("vxx", col("mxx") - snap12(col("mx") * col("mx")))
        .withColumn("vxy", col("mxy") - snap12(col("mx") * col("my")))
        .withColumn("vyy", col("myy") - snap12(col("my") * col("my")))
        .withColumn("theta", when(col("vxx") =!= 0, col("vxy") / col("vxx")))
        .withColumn("rho2", when(snap12(col("vxx") * col("vyy")) =!= 0,
          snap12(col("vxy") * col("vxy"))
            / snap12(col("vxx") * col("vyy"))))
        .select(col("theta"), col("rho2"))
      val wide = t.select(col("treat"), col("n"),
          (col("sx").cast("double") / col("n")).as("mxt"),
          (col("sy").cast("double") / col("n")).as("myt"))
        .agg(sum(col("n")).as("n_users"),
          max(when(col("treat") === 1, col("n"))).as("n_treat"),
          max(when(col("treat") === 0, col("n"))).as("n_ctrl"),
          max(when(col("treat") === 1, col("mxt"))).as("mx_t"),
          max(when(col("treat") === 0, col("mxt"))).as("mx_c"),
          max(when(col("treat") === 1, col("myt"))).as("my_t"),
          max(when(col("treat") === 0, col("myt"))).as("my_c"))
      wide.crossJoin(broadcast(g))
        .select(col("n_users"), col("n_treat"), col("n_ctrl"), col("theta"),
          (col("my_t") - col("my_c")).as("diff_raw"),
          (col("my_t") - col("my_c")
            - snap12(col("theta") * (col("mx_t") - col("mx_c"))))
            .as("diff_cuped"),
          col("rho2"), (lit(1.0) - col("rho2")).as("var_ratio"))
    }, Some(
      s"""WITH ev AS (
         |  SELECT user_id, epoch_us(ts) AS ts_us, value
         |  FROM events WHERE value IS NOT NULL),
         |mid AS (SELECT (MIN(ts_us) + MAX(ts_us)) // 2 AS mid_us FROM ev),
         |users AS (
         |  SELECT user_id,
         |    CAST(SUM(CAST(CASE WHEN ts_us < mid_us THEN value ELSE 0 END
         |         AS DECIMAL(18,6))) AS DECIMAL(16,6)) AS x,
         |    CAST(SUM(CAST(CASE WHEN ts_us >= mid_us THEN value ELSE 0 END
         |         AS DECIMAL(18,6))) AS DECIMAL(16,6)) AS y,
         |    CAST(user_id % 2 AS INT) AS treat
         |  FROM ev CROSS JOIN mid GROUP BY user_id),
         |t AS (
         |  SELECT treat, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         |    SUM(CAST(x AS DECIMAL(19,6)) * x) AS sxx,
         |    SUM(CAST(x AS DECIMAL(19,6)) * y) AS sxy,
         |    SUM(CAST(y AS DECIMAL(19,6)) * y) AS syy
         |  FROM users GROUP BY 1),
         |g AS (
         |  SELECT CAST(SUM(n) AS BIGINT) AS n, SUM(sx) AS sx, SUM(sy) AS sy,
         |    SUM(sxx) AS sxx, SUM(sxy) AS sxy, SUM(syy) AS syy
         |  FROM t),
         |b AS (
         |  SELECT n,
         |    ${dHop("sx")} / n AS mx, ${dHop("sy")} / n AS my,
         |    ${dHop("sxx")} / n AS mxx, ${dHop("sxy")} / n AS mxy,
         |    ${dHop("syy")} / n AS myy
         |  FROM g),
         |c AS (
         |  SELECT n,
         |    mxx - ${dSnapHop12("mx * mx")} AS vxx,
         |    mxy - ${dSnapHop12("mx * my")} AS vxy,
         |    myy - ${dSnapHop12("my * my")} AS vyy
         |  FROM b),
         |sol AS (
         |  SELECT
         |    CASE WHEN vxx <> 0 THEN vxy / vxx END AS theta,
         |    CASE WHEN ${dSnapHop12("vxx * vyy")} <> 0 THEN
         |      ${dSnapHop12("vxy * vxy")} / ${dSnapHop12("vxx * vyy")}
         |    END AS rho2
         |  FROM c),
         |tm AS (
         |  SELECT treat, n,
         |    ${dHop("sx")} / n AS mxt, ${dHop("sy")} / n AS myt
         |  FROM t),
         |w AS (
         |  SELECT CAST(SUM(n) AS BIGINT) AS n_users,
         |    CAST(MAX(CASE WHEN treat = 1 THEN n END) AS BIGINT) AS n_treat,
         |    CAST(MAX(CASE WHEN treat = 0 THEN n END) AS BIGINT) AS n_ctrl,
         |    MAX(CASE WHEN treat = 1 THEN mxt END) AS mx_t,
         |    MAX(CASE WHEN treat = 0 THEN mxt END) AS mx_c,
         |    MAX(CASE WHEN treat = 1 THEN myt END) AS my_t,
         |    MAX(CASE WHEN treat = 0 THEN myt END) AS my_c
         |  FROM tm)
         |SELECT w.n_users, w.n_treat, w.n_ctrl, sol.theta,
         |  w.my_t - w.my_c AS diff_raw,
         |  w.my_t - w.my_c
         |    - ${dSnapHop12("sol.theta * (w.mx_t - w.mx_c)")} AS diff_cuped,
         |  sol.rho2, CAST(1 AS DOUBLE) - sol.rho2 AS var_ratio
         |FROM w CROSS JOIN sol""".stripMargin)),

    // Two-proportion power analysis (MDE and required sample size) —
    // the pre-test planning op of an experimentation platform: per
    // event type, the minimum detectable effect at α=0.05 two-sided /
    // 80% power for the observed base rate p (share of events with
    // value ≥ 50) and current n, plus the per-arm n required to detect
    // a 5% relative lift. One wide corpus-scan hash aggregate; the z
    // constants are spelled as identical literals on both sides, so
    // every derived value is a chain of correctly-rounded IEEE ops on
    // int-ratio doubles (sqrt included) — bit-identical cross-engine.
    // Zero/degenerate base rates leave relative fields NULL via the
    // guarded CASE on both engines.
    Q("g_power_mde", (s, d) => {
      val z = lit(1.959963984540054) + lit(0.8416212335729143)
      val p = col("n_hits").cast("double") / col("n")
      Io.events(s, d)
        .filter(col("value").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") >= 50.0, 1L).otherwise(0L)).as("n_hits"))
        .withColumn("p", p)
        .withColumn("mde_abs",
          z * sqrt(lit(2.0) * col("p") * (lit(1.0) - col("p")) / col("n")))
        .withColumn("mde_rel",
          when(col("p") > 0, col("mde_abs") / col("p")))
        .withColumn("n_req_5pct", when(col("p") > 0,
          ceil(z * z * lit(2.0) * col("p") * (lit(1.0) - col("p"))
            / (lit(0.05) * col("p") * (lit(0.05) * col("p"))))
            .cast("long")))
        .select(col("event_type"), col("n"), col("n_hits"), col("p"),
          col("mde_abs"), col("mde_rel"), col("n_req_5pct"))
        .orderBy("event_type")
    }, Some(
      """WITH g AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN value >= 50.0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hits
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |k AS (
        |  SELECT event_type, n, n_hits,
        |    CAST(n_hits AS DOUBLE) / n AS p,
        |    (1.959963984540054 + 0.8416212335729143) AS z
        |  FROM g)
        |SELECT event_type, n, n_hits, p,
        |  z * SQRT(2.0 * p * (CAST(1 AS DOUBLE) - p) / n) AS mde_abs,
        |  CASE WHEN p > 0 THEN
        |    z * SQRT(2.0 * p * (CAST(1 AS DOUBLE) - p) / n) / p END AS mde_rel,
        |  CASE WHEN p > 0 THEN
        |    CAST(CEIL(z * z * 2.0 * p * (CAST(1 AS DOUBLE) - p)
        |      / (0.05 * p * (0.05 * p))) AS BIGINT) END AS n_req_5pct
        |FROM k ORDER BY event_type""".stripMargin)),

    // Difference-in-differences — the standard quasi-experimental
    // estimate: treat = user_id parity, post = events after the corpus
    // time midpoint (both data-derived, no magic constants), DiD =
    // (treat_post − treat_pre) − (ctrl_post − ctrl_pre) on mean event
    // value. One 2×2 hash-agg (exact decimal sums) + a one-row pivot;
    // the four cell means divide exact decimals by exact counts in a
    // fixed order, and the double subtraction chain is associated
    // identically in the oracle, so the estimate is bit-stable. At
    // 100 TB this is one partial-aggregated scan — the cheapest causal
    // read there is.
    Q("g_did_estimate", (s, d) => {
      val ev = Io.events(s, d)
      val mid = ev.agg(min(col("ts_us")).as("mn"), max(col("ts_us")).as("mx"))
        .select(expr("(mn + mx) DIV 2").as("mid_us"))
      val cells = ev.crossJoin(broadcast(mid))
        .withColumn("treat", (col("user_id") % 2 === 1).cast("int"))
        .withColumn("post", (col("ts_us") >= col("mid_us")).cast("int"))
        .groupBy(col("treat"), col("post"))
        .agg(count(lit(1)).as("n"), decSum(col("value")).as("sv"))
        .withColumn("mean", col("sv") / col("n"))
      def cell(t: Int, p: Int) =
        max(when(col("treat") === t && col("post") === p, col("mean")))
      cells.agg(
          sum(col("n")).as("n_events"),
          cell(1, 0).as("treat_pre"), cell(1, 1).as("treat_post"),
          cell(0, 0).as("ctrl_pre"), cell(0, 1).as("ctrl_post"))
        // raw doubles throughout: every input (exact decimal sums /
        // integer counts) is engine-identical and the subtraction chain
        // is associated identically in the oracle — snapping quotients
        // risks DuckDB's midpoint double->decimal cast
        .select(col("n_events"), col("treat_pre"), col("treat_post"),
          col("ctrl_pre"), col("ctrl_post"),
          ((col("treat_post") - col("treat_pre")) -
            (col("ctrl_post") - col("ctrl_pre"))).as("did"))
    }, Some(
      s"""WITH mid AS (
         |  SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2
         |    AS mid_us FROM events),
         |cells AS (
         |  SELECT CAST(user_id % 2 = 1 AS INT) AS treat,
         |    CAST(epoch_us(ts) >= mid_us AS INT) AS post,
         |    COUNT(*) AS n, ${dSum("value")} AS sv
         |  FROM events CROSS JOIN mid GROUP BY 1, 2),
         |m AS (SELECT treat, post, n, sv / n AS mean FROM cells)
         |SELECT CAST(SUM(n) AS BIGINT) AS n_events,
         |  MAX(CASE WHEN treat = 1 AND post = 0 THEN mean END) AS treat_pre,
         |  MAX(CASE WHEN treat = 1 AND post = 1 THEN mean END) AS treat_post,
         |  MAX(CASE WHEN treat = 0 AND post = 0 THEN mean END) AS ctrl_pre,
         |  MAX(CASE WHEN treat = 0 AND post = 1 THEN mean END) AS ctrl_post,
         |  (MAX(CASE WHEN treat = 1 AND post = 1 THEN mean END) - MAX(CASE WHEN treat = 1 AND post = 0 THEN mean END)) - (MAX(CASE WHEN treat = 0 AND post = 1 THEN mean END) - MAX(CASE WHEN treat = 0 AND post = 0 THEN mean END)) AS did
         |FROM m""".stripMargin)),

    // ABC / Pareto classification — the classic inventory-analytics
    // cut: rank parts by revenue DESC, classify by cumulative revenue
    // share (A: cum ≤ 80%, B: ≤ 95%, C: rest), report the 3-row class
    // census. The cumulative sum is the DISTRIBUTED two-pass prefix-sum
    // (same pattern as g_gini_spend's global rank): range-partition on
    // the sort key, exact decimal cumsum WITHIN each partition, then
    // add broadcast per-partition offsets — no single-partition window
    // over the data, and every cumulative value is an exact
    // DECIMAL(38,6) so the 0.8/0.95 boundary classification is engine-
    // identical (the oracle runs the literal one-window form, proving
    // the two-pass decomposition equal). Revenue terms are the TPC-H
    // price*(1−discount) doubles, decimal-summed order-independently.
    Q("g_abc_classification", (s, d) => {
      val dec6 = org.apache.spark.sql.types.DecimalType(38, 6)
      val parts = s.sparkContext.defaultParallelism
      val rev = Io.table(s, d, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev"))
      val wLoc = Window.partitionBy(col("pid"))
        .orderBy(col("rev").desc, col("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // scratch: two consumers of a range-sampled partitioning —
      // see g_cusum_changepoint (bounds are sampled per execution)
      val local = Q.scratch("abc_ranked") {
        rev
          .repartitionByRange(parts, col("rev").desc, col("l_partkey"))
          .withColumn("pid", spark_partition_id())
          .withColumn("lcum", sum(col("rev").cast(dec6)).over(wLoc))
      }
      val offs = local.groupBy(col("pid"))
        .agg(sum(col("rev").cast(dec6)).as("ptot"))
        .withColumn("off", coalesce(sum(col("ptot")).over(
          Window.orderBy(col("pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0).cast(dec6)))
        .select(col("pid"), col("off"))
      // total from the MATERIALIZED ranked table, not a second
      // lineitem scan + hash agg (r15): `local` carries every rev row
      // already, and DECIMAL(38,6) sums are exact and associative, so
      // the total is bit-identical to summing the pre-shuffle aggregate
      val tot = local.agg(sum(col("rev").cast(dec6)).as("total"))
      // zero-revenue guard (r12 sweep): total = 0 → NULL share, which
      // falls through both <= branches to 'C' — the same path DuckDB's
      // natural /0 → NULL takes through its CASE (oracle unchanged)
      val classed = local.join(broadcast(offs), "pid")
        .crossJoin(broadcast(tot))
        .withColumn("share", when(col("total") =!= 0,
          (col("lcum") + col("off")).cast("double") /
            col("total").cast("double")))
        .withColumn("abc", when(col("share") <= 0.8, "A")
          .when(col("share") <= 0.95, "B").otherwise("C"))
      classed.groupBy(col("abc"))
        .agg(count(lit(1)).as("n_parts"),
          snap6(decSum(col("rev"))).as("class_revenue"),
          snap6(when(first(col("total")) =!= 0, decSum(col("rev")) /
            first(col("total")).cast("double"))).as("revenue_share"))
        .orderBy("abc")
    }, Some(
      s"""WITH rev AS (
         |  SELECT l_partkey, ${dSum("l_extendedprice * (1.0 - l_discount)")} AS rev
         |  FROM lineitem GROUP BY 1),
         |tot AS (SELECT CAST(SUM(CAST(rev AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS total FROM rev),
         |cum AS (
         |  SELECT l_partkey, rev,
         |    SUM(CAST(rev AS DECIMAL(38,6))) OVER (
         |      ORDER BY rev DESC, l_partkey
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lcum
         |  FROM rev),
         |classed AS (
         |  SELECT l_partkey, rev,
         |    CASE WHEN CAST(lcum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.8 THEN 'A'
         |         WHEN CAST(lcum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.95 THEN 'B'
         |         ELSE 'C' END AS abc
         |  FROM cum CROSS JOIN tot)
         |SELECT abc, COUNT(*) AS n_parts,
         |  ${dSnap6(dSum("rev"))} AS class_revenue,
         |  ${dSnap6(s"${dSum("rev")} / CAST((SELECT total FROM tot) AS DOUBLE)")}
         |    AS revenue_share
         |FROM classed GROUP BY abc ORDER BY abc""".stripMargin)),

    // RFM customer segmentation — the classic marketing-analytics
    // operator: per-customer Recency (days since last order, vs the
    // corpus max date), Frequency (order count) and Monetary (exact
    // decimal spend), each scored 1-5 by which of the four exact
    // quintile thresholds (quantile_cont at .2/.4/.6/.8) the value
    // strictly exceeds; segment = R*100+F*10+M. Scoring by VALUE-vs-
    // threshold (not by rank) is what makes the result engine-
    // deterministic under heavy ties — every tied customer lands in
    // the same bucket, no rank tiebreak needed. Output is the bounded
    // ≤125-row segment census. Scale shape: one hash-agg over orders →
    // customer-aggregate-sized table; the threshold pass is ONE
    // Q.exactPercentiles keyed by dimension (sketch-bracketed selection
    // over CUSTOMER AGGREGATES; the documented 100 TB swap is
    // approx_percentile over the same rows, scores unchanged except at
    // the 1e-? threshold epsilon); the 12 thresholds fold into one row
    // broadcast back, scoring is map-side, final agg is ≤125 groups.
    Q("g_rfm_segments", (s, d) => {
      // scratch (r15): rfm is consumed four times (the watermark
      // agg, the threshold sketch and bracket passes, the scoring pass)
      // — without the checkpoint each consumer re-runs the orders scan
      // + hash agg. The table is customer-aggregate-sized, the class
      // Q.scratch exists for.
      val rfm = Q.scratch("rfm_cust")(
        Io.table(s, d, "orders")
          .select(col("o_custkey"), col("o_orderdate").cast("date").as("od"),
            col("o_totalprice"))
          .groupBy(col("o_custkey"))
          .agg(max(col("od")).as("last_d"), count(lit(1)).as("freq"),
            decSum(col("o_totalprice")).as("monet")))
      val mx = rfm.agg(max(col("last_d")).as("mxd"))
      val base = rfm.crossJoin(broadcast(mx))
        .withColumn("rec", datediff(col("mxd"), col("last_d")).cast("long"))
      // one selection for all three dimensions: the values stack under
      // a dimension key (the integral ones exactly as doubles), and the
      // 3 × 4 thresholds fold into one row attached once
      val qs = Seq(20, 40, 60, 80)
      val pct = Q.exactPercentiles(
        base.select(expr("stack(3, 'r', CAST(rec AS DOUBLE), " +
          "'f', CAST(freq AS DOUBLE), 'm', monet) AS (dim, val)")),
        "dim", "val", qs.map(q => (q / 100.0, s"q$q")))
      val ths = for (dim <- Seq("r", "f", "m"); q <- qs)
        yield max(when(col("dim") === dim, col(s"q$q"))).as(s"${dim}q$q")
      val th = pct.agg(ths.head, ths.tail: _*)
      def score(v: String, pfx: String) =
        (col(v) > col(s"${pfx}q20")).cast("int") +
          (col(v) > col(s"${pfx}q40")).cast("int") +
          (col(v) > col(s"${pfx}q60")).cast("int") +
          (col(v) > col(s"${pfx}q80")).cast("int")
      base.crossJoin(broadcast(th))
        .withColumn("rscore", lit(5) - score("rec", "r"))
        .withColumn("fscore", lit(1) + score("freq", "f"))
        .withColumn("mscore", lit(1) + score("monet", "m"))
        .groupBy((col("rscore") * 100 + col("fscore") * 10 + col("mscore"))
          .as("segment"))
        // raw-double means (exact decimal sum / count, one shared double
        // op) — snapping a quotient risks DuckDB's midpoint cast bug
        .agg(count(lit(1)).as("n_cust"),
          decAvg(col("rec")).as("avg_recency"),
          decAvg(col("freq")).as("avg_freq"),
          snap6(decSum(col("monet"))).as("total_spend"))
        .orderBy("segment")
    }, Some(
      s"""WITH rfm AS (
         |  SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS last_d,
         |    COUNT(*) AS freq, ${dSum("o_totalprice")} AS monet
         |  FROM orders GROUP BY 1),
         |mx AS (SELECT MAX(last_d) AS mxd FROM rfm),
         |base AS (
         |  SELECT o_custkey, CAST(mxd - last_d AS BIGINT) AS rec, freq, monet
         |  FROM rfm CROSS JOIN mx),
         |th AS (
         |  SELECT
         |    quantile_cont(rec, 0.2) AS rq20, quantile_cont(rec, 0.4) AS rq40,
         |    quantile_cont(rec, 0.6) AS rq60, quantile_cont(rec, 0.8) AS rq80,
         |    quantile_cont(freq, 0.2) AS fq20, quantile_cont(freq, 0.4) AS fq40,
         |    quantile_cont(freq, 0.6) AS fq60, quantile_cont(freq, 0.8) AS fq80,
         |    quantile_cont(monet, 0.2) AS mq20, quantile_cont(monet, 0.4) AS mq40,
         |    quantile_cont(monet, 0.6) AS mq60, quantile_cont(monet, 0.8) AS mq80
         |  FROM base),
         |sc AS (
         |  SELECT rec, freq, monet,
         |    5 - ((rec > rq20)::INT + (rec > rq40)::INT
         |         + (rec > rq60)::INT + (rec > rq80)::INT) AS rscore,
         |    1 + ((freq > fq20)::INT + (freq > fq40)::INT
         |         + (freq > fq60)::INT + (freq > fq80)::INT) AS fscore,
         |    1 + ((monet > mq20)::INT + (monet > mq40)::INT
         |         + (monet > mq60)::INT + (monet > mq80)::INT) AS mscore
         |  FROM base CROSS JOIN th)
         |SELECT rscore * 100 + fscore * 10 + mscore AS segment,
         |  COUNT(*) AS n_cust,
         |  ${dSum("rec")} / COUNT(*) AS avg_recency,
         |  ${dSum("freq")} / COUNT(*) AS avg_freq,
         |  ${dSnap6(dSum("monet"))} AS total_spend
         |FROM sc GROUP BY 1 ORDER BY segment""".stripMargin)),

    // Theil T inequality index of customer spend, decomposed by nation
    // (Theil 1967): T = Σ_g s_g·T_g + Σ_g s_g·ln(s_g/p_g) — the
    // within-group and between-group halves, the standard concentration
    // read a data-mix audit runs per source/segment. All base sums are
    // exact decimals; each ratio is a double built ONLY from exact-cast
    // decimals (every unscaled value here is far below 2^53, where both
    // engines' decimal→double casts are correctly rounded — DuckDB's
    // int128-multiply cast first diverges above that); each ln term
    // snaps at 1e-12 (libm last-ulp divergence, the PMI/Adamic-Adar
    // precedent) and per-group totals are exact DECIMAL(38,18) sums, so
    // accumulation order cannot perturb the result. Shape: one
    // customer-keyed agg, one broadcast nation join, one group agg +
    // two broadcast scalar attaches — two shuffles total at 100 TB.
    Q("g_theil_spend", (s, d) => {
      val cust = Io.table(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val nation = Io.table(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"))
      val spend = Io.table(s, d, "orders")
        .groupBy(col("o_custkey")).agg(sum(col("o_totalprice")).as("x"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("x"))
      val glob = spend.agg(count(lit(1)).as("n"), sum(col("x")).as("tot"))
      val grp = spend.groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_g"), sum(col("x")).as("tot_g"))
      // zero-spend guards (r12 sweep): tot_g/tot = 0 zero the share
      // denominators (NULL matches DuckDB's /0 → NULL), and ln runs
      // only on positive ratios — Spark's log(0) is NULL where DuckDB
      // LN(0) RAISES, so the ln guard is mirrored as a CASE in the
      // oracle (value-neutral on any corpus with positive spend)
      val within = spend.join(grp, "n_name")
        .withColumn("rg", when(col("tot_g") =!= 0,
          col("x").cast("double") * col("n_g") / col("tot_g").cast("double")))
        .withColumn("termg",
          snap12(col("rg") * when(col("rg") > 0, log(col("rg")))))
        .groupBy(col("n_name")).agg(decSum18(col("termg")).as("sum_termg"))
      val sg = when(col("tot") =!= 0,
        col("tot_g").cast("double") / col("tot").cast("double"))
      val pg = col("n_g").cast("double") / col("n").cast("double")
      grp.join(within, "n_name").crossJoin(broadcast(glob))
        .select(col("n_name"), col("n_g").as("n_cust"),
          snap6(sg).as("spend_share"),
          snap6(col("sum_termg") / col("n_g")).as("theil_within"),
          snap6(sg * when(sg / pg > 0, log(sg / pg)))
            .as("theil_between_term"))
        .orderBy("n_name")
    }, Some(
      s"""WITH spend AS (
         |  SELECT n.n_name, SUM(o.o_totalprice) AS x
         |  FROM orders o
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN nation n ON c.c_nationkey = n.n_nationkey
         |  GROUP BY o.o_custkey, n.n_name),
         |gall AS (SELECT COUNT(*) AS n, SUM(x) AS tot FROM spend),
         |grp AS (SELECT n_name, COUNT(*) AS n_g, SUM(x) AS tot_g
         |        FROM spend GROUP BY 1),
         |terms AS (
         |  SELECT s.n_name,
         |    ${dSnap12("CAST(s.x AS DOUBLE) * g.n_g / CAST(g.tot_g AS DOUBLE)" +
        " * (CASE WHEN CAST(s.x AS DOUBLE) * g.n_g / CAST(g.tot_g AS DOUBLE)" +
        " > 0 THEN LN(CAST(s.x AS DOUBLE) * g.n_g / CAST(g.tot_g AS DOUBLE))" +
        " END)")}
         |      AS termg
         |  FROM spend s JOIN grp g ON s.n_name = g.n_name),
         |within AS (SELECT n_name, ${dSum18("termg")} AS sum_termg
         |           FROM terms GROUP BY 1)
         |SELECT g.n_name, g.n_g AS n_cust,
         |  ${dSnap6("CAST(g.tot_g AS DOUBLE) / CAST(gl.tot AS DOUBLE)")}
         |    AS spend_share,
         |  ${dSnap6("w.sum_termg / g.n_g")} AS theil_within,
         |  ${dSnap6("CAST(g.tot_g AS DOUBLE) / CAST(gl.tot AS DOUBLE)" +
        " * (CASE WHEN (CAST(g.tot_g AS DOUBLE) / CAST(gl.tot AS DOUBLE))" +
        " / (CAST(g.n_g AS DOUBLE) / CAST(gl.n AS DOUBLE)) > 0" +
        " THEN LN((CAST(g.tot_g AS DOUBLE) / CAST(gl.tot AS DOUBLE))" +
        " / (CAST(g.n_g AS DOUBLE) / CAST(gl.n AS DOUBLE))) END)")}
         |    AS theil_between_term
         |FROM grp g JOIN within w ON g.n_name = w.n_name CROSS JOIN gall gl
         |ORDER BY g.n_name""".stripMargin)),

    // Resampling confidence interval for the mean order price —
    // distributed bootstrap with DETERMINISTIC hash-coin replica
    // weights (the Poisson-bootstrap family, Efron 1979 / Kleiner's
    // scalable variants): replica b keeps each row with weight
    // w ∈ {0, 2} at p = ½ (a doubled half-sample: E[w] = 1,
    // Var[w] = 1 — second-moment-matched to the Poisson(1) bootstrap),
    // so each replica mean is Σw·x / Σw = the kept-half mean, and the
    // 95% CI is the 2.5/97.5 discrete percentile of the B = 100
    // replica means. Replica draws: one shared Knuth hash per row
    // (Q.coin, DECIMAL(38,0)-exact at any id scale), remixed per
    // replica with an odd-multiplier int64 permutation whose top bit
    // is the keep flag — both engines draw identical replicas; no
    // RNG, no collect, rerun-stable. Shape at 100 TB: one scan exploded ×B
    // (map-side Generate), one 100-group hash agg with partial
    // aggregation, and a 100-row window for the percentiles — the CI
    // of a 100 TB mean costs one pass, B× map work, and no driver
    // state. Replica means are raw exact-decimal-sum / integer-count
    // quotients (engine-identical; never snapped), and the discrete
    // percentile picks actual members — no interpolation to diverge.
    Q("g_bootstrap_ci", (s, d) => {
      val b = 100
      val orders = Io.table(s, d, "orders").select(col("o_orderkey"),
        col("o_totalprice"))
      // One DECIMAL-exact Knuth hash per ROW (Q.coin — BigDecimal ops
      // are the expensive part, so they run once per row, not once per
      // (row, replica)); each replica then remixes the 32-bit value
      // with cheap odd-multiplier int64 arithmetic (h < 2³², factor ≤
      // 201 → products < 2⁴⁰, provably no overflow — the sanctioned
      // bounded-index PRNG exception in Q.coin's contract).
      // the sf0.1 orders parquet is a single row group → without the
      // repartition the ×B explode and the replica sums run on ONE
      // task (the d_agg_corr_matrix lesson); one tiny pre-shuffle of
      // the base rows buys full-width parallelism for the ×100 pass.
      // The price converts to exact integer MICROS once per BASE row
      // (one decimal cast per row, not per (row, replica)): the ×B hot
      // loop then runs pure codegen BIGINT adds — a DECIMAL(38,6) sum
      // here measured ~40 µs/row of BigDecimal work, 25 s over the
      // 15 M exploded rows. Σmicros ≤ 2.4e16 < 2⁶³ is exact, and
      // BIGINT→DOUBLE is a single correctly-rounded conversion in both
      // engines (unlike wide-decimal→double, which double-rounds).
      val rep = orders
        .repartition(col("o_orderkey"))
        .withColumn("h", expr(Q.coin("o_orderkey")).cast("long"))
        .withColumn("micros",
          (col("o_totalprice").cast(
            org.apache.spark.sql.types.DecimalType(18, 6)) * 1000000)
            .cast("long"))
        .select(col("micros"), col("h"),
          explode(sequence(lit(0), lit(b - 1))).as("rep"))
        .withColumn("keep",
          (col("h") * (col("rep") * 2 + 1) + col("rep")) % 4294967296L
            >= 2147483648L)
      // empty-replica guard (r12 sweep): on a tiny corpus a replica can
      // draw ZERO rows — its mean is 0/0. Such replicas are dropped on
      // BOTH sides (HAVING in the oracle): a NULL mean would instead
      // hit the engines' OPPOSITE null-ordering defaults inside
      // cume_dist (Spark ASC = NULLS FIRST, DuckDB = NULLS LAST).
      val means = rep.groupBy(col("rep"))
        .agg(sum(when(col("keep"), col("micros")).otherwise(0L)).as("sm"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("cnt"))
        .filter(col("cnt") > 0)
        .select(col("rep"),
          (col("sm").cast("double") / 1000000.0 / col("cnt")).as("m"))
      val wcd = org.apache.spark.sql.expressions.Window.orderBy(col("m"))
      val cd = means.withColumn("cd", cume_dist().over(wcd))
      // both CI bounds from ONE conditional aggregate (r15): the old
      // two-filter form ran the ×B replica explode twice — once per
      // bound — because each bound aggregated its own copy of `cd`.
      // min(when(...)) over the same 100-row frame is value-identical.
      val ci = cd.agg(
        min(when(col("cd") >= 0.025, col("m"))).as("ci_lo"),
        min(when(col("cd") >= 0.975, col("m"))).as("ci_hi"))
      val point = orders.agg(count(lit(1)).as("n_orders"),
        (Q.decSum(col("o_totalprice")) / count(lit(1))).as("mean_price"))
      point.crossJoin(broadcast(ci))
        .select(col("n_orders"), col("mean_price"), col("ci_lo"),
          col("ci_hi"), lit(b).as("n_replicas"))
    }, Some(
      s"""WITH base AS (
         |  SELECT
         |    CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT)
         |      AS micros,
         |    CAST(${Q.coin("o_orderkey")} AS BIGINT) AS h
         |  FROM orders),
         |rep AS (
         |  SELECT micros, r.rep,
         |    ((h * (r.rep * 2 + 1) + r.rep) % 4294967296)
         |      >= 2147483648 AS keep
         |  FROM base, LATERAL UNNEST(generate_series(0, 99)) AS r(rep)),
         |means AS (
         |  SELECT rep,
         |    CAST(CAST(SUM(CASE WHEN keep THEN micros ELSE 0 END) AS BIGINT)
         |         AS DOUBLE) / 1000000.0
         |      / SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS m
         |  FROM rep GROUP BY rep
         |  HAVING SUM(CASE WHEN keep THEN 1 ELSE 0 END) > 0),
         |cd AS (SELECT m, CUME_DIST() OVER (ORDER BY m) AS cd FROM means),
         |lo AS (SELECT MIN(m) AS ci_lo FROM cd WHERE cd >= 0.025),
         |hi AS (SELECT MIN(m) AS ci_hi FROM cd WHERE cd >= 0.975),
         |point AS (
         |  SELECT COUNT(*) AS n_orders,
         |    ${dSum("o_totalprice")} / COUNT(*) AS mean_price
         |  FROM orders)
         |SELECT p.n_orders, p.mean_price, lo.ci_lo, hi.ci_hi,
         |  CAST(100 AS INT) AS n_replicas
         |FROM point p CROSS JOIN lo CROSS JOIN hi""".stripMargin)),

    // Two-feature OLS by closed-form normal equations (Cramer's rule on
    // the centered 2×2 system): per-customer spend regressed on order
    // count and active-span days — the multi-feature step past
    // d_agg_regr's simple regression. Float discipline, layer by layer:
    // (1) every raw moment is EXACT — integer sums for x-moments,
    // decimal sums for y-moments (y as DECIMAL(16,6) so y·y/(y·x)
    // products stay inside exact decimal precision in BOTH engines);
    // (2) each moment crosses to double ONCE (large decimal sums via
    // the VARCHAR out-hop — DuckDB's direct wide-decimal→double
    // double-rounds); (3) every multiply thereafter is snapped at the
    // two-way scale-12 hop so DuckDB cannot fuse a multiply-add the
    // JVM rounds separately (the BM25 fma lesson) — subtractions and
    // divisions of engine-identical doubles are then bit-identical.
    // Shape at 100 TB: one customer-keyed agg (the only data-sized
    // shuffle) → one 10-moment global agg → scalar arithmetic. The
    // model "trains" in a single pass, no iteration, no driver math.
    Q("g_ols_multi", (s, d) => {
      val dec18 = org.apache.spark.sql.types.DecimalType(18, 6)
      val dec16 = org.apache.spark.sql.types.DecimalType(16, 6)
      val cust = Io.table(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("x1"),
          datediff(max(col("o_orderdate")).cast("date"),
            min(col("o_orderdate")).cast("date")).cast("long").as("x2"),
          sum(col("o_totalprice").cast(dec18)).cast(dec16).as("y"))
      val m = cust.agg(count(lit(1)).as("n"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("y")).as("sy"),
        sum(col("y") * col("x1")).as("s1y"),
        sum(col("y") * col("x2")).as("s2y"),
        sum(col("y") * col("y")).as("syy"))
      m.select(col("n"),
          (col("s1").cast("double") / col("n")).as("m1"),
          (col("s2").cast("double") / col("n")).as("m2"),
          (col("s11").cast("double") / col("n")).as("m11"),
          (col("s12").cast("double") / col("n")).as("m12"),
          (col("s22").cast("double") / col("n")).as("m22"),
          (col("sy").cast("double") / col("n")).as("my"),
          (col("s1y").cast("double") / col("n")).as("m1y"),
          (col("s2y").cast("double") / col("n")).as("m2y"),
          (col("syy").cast("double") / col("n")).as("myy"))
        .withColumn("va", col("m11") - snap12(col("m1") * col("m1")))
        .withColumn("vb", col("m12") - snap12(col("m1") * col("m2")))
        .withColumn("vc", col("m22") - snap12(col("m2") * col("m2")))
        .withColumn("vd", col("m1y") - snap12(col("m1") * col("my")))
        .withColumn("ve", col("m2y") - snap12(col("m2") * col("my")))
        .withColumn("vy", col("myy") - snap12(col("my") * col("my")))
        .withColumn("den",
          snap12(col("va") * col("vc")) - snap12(col("vb") * col("vb")))
        // singular-system guards (r12 sweep): a one-customer or
        // constant-feature corpus zeroes the Cramer determinant, an
        // all-zero-spend corpus zeroes vy — NULL coefficients/R² match
        // DuckDB's natural /0 → NULL chain (oracle text unchanged)
        .withColumn("b1", when(col("den") =!= 0,
          (snap12(col("vd") * col("vc")) - snap12(col("vb") * col("ve")))
            / col("den")))
        .withColumn("b2", when(col("den") =!= 0,
          (snap12(col("va") * col("ve")) - snap12(col("vb") * col("vd")))
            / col("den")))
        .select(col("n").as("n_customers"),
          (col("my") - snap12(col("b1") * col("m1"))
            - snap12(col("b2") * col("m2"))).as("b0"),
          col("b1"), col("b2"),
          when(col("vy") =!= 0,
            (snap12(col("b1") * col("vd")) + snap12(col("b2") * col("ve")))
              / col("vy")).as("r2"))
    }, Some(
      s"""WITH cust AS (
         |  SELECT o_custkey,
         |    CAST(COUNT(*) AS BIGINT) AS x1,
         |    CAST(DATEDIFF('day', CAST(MIN(o_orderdate) AS DATE),
         |                  CAST(MAX(o_orderdate) AS DATE)) AS BIGINT) AS x2,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
         |         AS DECIMAL(16,6)) AS y
         |  FROM orders GROUP BY 1),
         |m AS (
         |  SELECT COUNT(*) AS n,
         |    CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
         |    CAST(SUM(x1 * x1) AS BIGINT) AS s11,
         |    CAST(SUM(x1 * x2) AS BIGINT) AS s12,
         |    CAST(SUM(x2 * x2) AS BIGINT) AS s22,
         |    SUM(y) AS sy,
         |    SUM(CAST(y AS DECIMAL(19,6)) * x1) AS s1y,
         |    SUM(CAST(y AS DECIMAL(19,6)) * x2) AS s2y,
         |    SUM(CAST(y AS DECIMAL(19,6)) * y) AS syy
         |  FROM cust),
         |base AS (
         |  SELECT n,
         |    CAST(s1 AS DOUBLE) / n AS m1, CAST(s2 AS DOUBLE) / n AS m2,
         |    CAST(s11 AS DOUBLE) / n AS m11, CAST(s12 AS DOUBLE) / n AS m12,
         |    CAST(s22 AS DOUBLE) / n AS m22,
         |    ${dHop("sy")} / n AS my,
         |    ${dHop("s1y")} / n AS m1y,
         |    ${dHop("s2y")} / n AS m2y,
         |    ${dHop("syy")} / n AS myy
         |  FROM m),
         |cen AS (
         |  SELECT n, m1, m2, my,
         |    m11 - ${dSnapHop12("m1 * m1")} AS va,
         |    m12 - ${dSnapHop12("m1 * m2")} AS vb,
         |    m22 - ${dSnapHop12("m2 * m2")} AS vc,
         |    m1y - ${dSnapHop12("m1 * my")} AS vd,
         |    m2y - ${dSnapHop12("m2 * my")} AS ve,
         |    myy - ${dSnapHop12("my * my")} AS vy
         |  FROM base),
         |sol AS (
         |  SELECT n, m1, m2, my, vd, ve, vy,
         |    (${dSnapHop12("vd * vc")} - ${dSnapHop12("vb * ve")})
         |      / (${dSnapHop12("va * vc")} - ${dSnapHop12("vb * vb")}) AS b1,
         |    (${dSnapHop12("va * ve")} - ${dSnapHop12("vb * vd")})
         |      / (${dSnapHop12("va * vc")} - ${dSnapHop12("vb * vb")}) AS b2
         |  FROM cen)
         |SELECT n AS n_customers,
         |  my - ${dSnapHop12("b1 * m1")} - ${dSnapHop12("b2 * m2")} AS b0,
         |  b1, b2,
         |  (${dSnapHop12("b1 * vd")} + ${dSnapHop12("b2 * ve")}) / vy AS r2
         |FROM sol""".stripMargin)),

    // Pareto revenue concentration ("what share of customers produce
    // 50/80/90% of revenue") — the 80/20 read every mix/curation
    // decision starts from. Exact integer spine: per-customer spend in
    // CENTS (BIGINT), customers ranked by (spend DESC, custkey), the
    // running revenue total via the distributed two-pass range-
    // partition prefix pattern (materialized once — the
    // repartitionByRange seed lesson, see g_cusum_changepoint), and
    // each threshold answered by the FIRST rank whose cumulative share
    // crosses it — the crossing test is pure int64 (cum·100 ≥ t·total;
    // total cents ≤ ~2e15 at 100 TB, ×100 inside int64), and the two
    // reported ratios are int/int IEEE divisions. min_by picks the
    // crossing row deterministically (rank is unique).
    Q("g_pareto_share", (s, d) => {
      val parts = s.sparkContext.defaultParallelism
      val spend = Io.table(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100" +
          " AS BIGINT)")).as("cents"))
      val wLoc = Window.partitionBy(col("pid"))
        .orderBy(col("cents").desc, col("o_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val local = Q.scratch("pareto_ranked") {
        spend.repartitionByRange(parts, col("cents").desc, col("o_custkey"))
          .withColumn("pid", spark_partition_id())
          .withColumn("lc", sum(col("cents")).over(wLoc))
          .withColumn("lrn", count(lit(1)).over(wLoc))
      }
      val offs = local.groupBy(col("pid"))
        .agg(sum(col("cents")).as("pc"), count(lit(1)).as("pn"))
        .withColumn("coff", coalesce(sum(col("pc")).over(
          Window.orderBy(col("pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("noff", coalesce(sum(col("pn")).over(
          Window.orderBy(col("pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("pid"), col("coff"), col("noff"))
      // totals from the MATERIALIZED ranked table (r15): `spend` here
      // re-ran the orders scan + hash agg; BIGINT sums are exact and
      // associative, so summing the checkpoint is bit-identical
      val tot = local.agg(sum(col("cents")).as("tc"),
        count(lit(1)).as("tn"))
      val ranked = local.join(broadcast(offs), "pid")
        .select((col("lc") + col("coff")).as("cum"),
          (col("lrn") + col("noff")).as("rn"))
      ranked.crossJoin(broadcast(tot))
        .withColumn("thr", explode(array(lit(50L), lit(80L), lit(90L))))
        .filter(col("cum") * 100 >= col("thr") * col("tc"))
        .groupBy(col("thr").as("threshold_pct"))
        .agg(min(col("rn")).as("k_customers"),
          min_by(col("cum"), col("rn")).as("cum_cents"),
          first(col("tn")).as("tn"), first(col("tc")).as("tc"))
        .select(col("threshold_pct"), col("k_customers"),
          (col("k_customers").cast("double") / col("tn")).as("pct_customers"),
          // zero-revenue guard (r12 sweep): NULL matches DuckDB's /0
          when(col("tc") =!= 0,
            col("cum_cents").cast("double") / col("tc")).as("revenue_share"))
        .orderBy("threshold_pct")
    }, Some(
      """WITH spend AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |             AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |ranked AS (
        |  SELECT cents,
        |    CAST(SUM(cents) OVER (ORDER BY cents DESC, o_custkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum,
        |    ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS rn
        |  FROM spend),
        |tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS tc, COUNT(*) AS tn
        |        FROM spend)
        |SELECT t.thr AS threshold_pct, MIN(r.rn) AS k_customers,
        |  CAST(MIN(r.rn) AS DOUBLE) / MIN(tot.tn) AS pct_customers,
        |  CAST(MIN_BY(r.cum, r.rn) AS DOUBLE) / MIN(tot.tc) AS revenue_share
        |FROM ranked r CROSS JOIN tot
        |CROSS JOIN (VALUES (50), (80), (90)) AS t(thr)
        |WHERE r.cum * 100 >= t.thr * tot.tc
        |GROUP BY t.thr ORDER BY t.thr""".stripMargin)),

    // Forecast backtest — the eval row the smoothing family (g_ewma,
    // g_holt_trend) was missing: one-step-ahead EWMA forecasts (the
    // PREVIOUS 10 values, lags 1..10 with 0.7-decay weights) scored
    // walk-forward against the realized value, reported as per-user MAE
    // and sMAPE. Forecast/error arithmetic is fixed-association IEEE
    // over engine-identical inputs; each |e| and sMAPE term snaps at
    // 1e-12 (hop twins) before the exact sums; the two means are raw
    // quotients. Same keyed-window shape as g_ewma — scoring adds no
    // new shuffle.
    Q("g_forecast_backtest", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val weights = (1 to 10).map(k => math.pow(7, k - 1) / math.pow(10, k - 1))
      val base = Io.events(s, d).filter(col("user_id") < 20)
      val withLags = (1 to 10).foldLeft(base) { (df, k) =>
        df.withColumn(s"l$k", lag(col("value"), k).over(w))
      }
      val num = (1 to 10).map(k =>
        when(col(s"l$k").isNotNull, col(s"l$k") * lit(weights(k - 1)))
          .otherwise(lit(0.0))).reduceLeft(_ + _)
      val den = (1 to 10).map(k =>
        when(col(s"l$k").isNotNull, lit(weights(k - 1))).otherwise(lit(0.0)))
        .reduceLeft(_ + _)
      withLags.filter(col("l1").isNotNull)
        .select(col("user_id"), col("value"), (num / den).as("f"))
        .select(col("user_id"), col("value"), col("f"),
          snap12(abs(col("value") - col("f"))).as("ae"),
          // sMAPE zero-denominator guard: a scored row with value = 0
          // and every non-null lag 0 gives 0/0 — NaN in Spark vs
          // DuckDB's own division-by-zero semantics (and 'nan' kills
          // the oracle's VARCHAR→DECIMAL hop). Define the term as 0
          // there (the forecast is exactly right), identically in the
          // oracle.
          snap12(when(abs(col("value")) + abs(col("f")) === 0.0, lit(0.0))
            .otherwise(lit(2.0) * abs(col("value") - col("f")) /
              (abs(col("value")) + abs(col("f"))))).as("sm"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_scored"),
          (decSum18(col("ae")) / count(lit(1))).as("mae"),
          (decSum18(col("sm")) / count(lit(1))).as("smape"))
        .orderBy("user_id")
    }, Some {
      def hop(x: String) =
        s"CAST(CAST(CAST(CAST(CASE WHEN ABS($x) < 5e-13 THEN CAST(0 AS DOUBLE)" +
          s" ELSE $x END AS VARCHAR) AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE)"
      def s18(x: String) =
        s"CAST(CAST(SUM(CAST(CAST($x AS VARCHAR) AS DECIMAL(38,18)))" +
          s" AS VARCHAR) AS DOUBLE)"
      val terms = (1 to 10).map { k =>
        val wk = s"(${BigInt(7).pow(k - 1)} / ${BigInt(10).pow(k - 1)}.0)"
        (s"CASE WHEN LAG(value, $k) OVER w IS NOT NULL" +
          s" THEN LAG(value, $k) OVER w * $wk ELSE 0.0 END",
          s"CASE WHEN LAG(value, $k) OVER w IS NOT NULL THEN $wk ELSE 0.0 END")
      }
      val num = terms.map(_._1).mkString("(", " + ", ")")
      val den = terms.map(_._2).mkString("(", " + ", ")")
      s"""WITH fc AS (
         |  SELECT user_id, value, $num / $den AS f,
         |    LAG(value, 1) OVER w AS l1
         |  FROM events WHERE user_id < 20
         |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
         |sc AS (
         |  SELECT user_id, value, f,
         |    ${hop("ABS(value - f)")} AS ae,
         |    ${hop("CASE WHEN ABS(value) + ABS(f) = 0 THEN 0.0" +
        " ELSE 2.0 * ABS(value - f) / (ABS(value) + ABS(f)) END")} AS sm
         |  FROM fc WHERE l1 IS NOT NULL)
         |SELECT user_id, COUNT(*) AS n_scored,
         |  ${s18("ae")} / COUNT(*) AS mae,
         |  ${s18("sm")} / COUNT(*) AS smape
         |FROM sc GROUP BY user_id ORDER BY user_id""".stripMargin
    }),

    // Supply-concentration risk: Herfindahl–Hirschman index per part
    // over supplier quantity shares — the sourcing-risk read (HHI > 0.25
    // ≈ "one supplier failure stalls the part"). EXACT integer
    // arithmetic end-to-end: quantities are integer-valued doubles cast
    // to BIGINT once, HHI = Σq_s²/Q² is an int/int division (q² ≤ ~1e10,
    // sums well inside int64), and the top-20 most concentrated parts
    // (≥3 suppliers) come through a fused global top-k. Two keyed aggs,
    // zero float seams.
    Q("g_hhi_concentration", (s, d) => {
      val bySupp = Io.table(s, d, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          col("l_quantity").cast("bigint").as("q"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("q")).as("qs"))
      val hhi = bySupp.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_suppliers"), sum(col("qs")).as("q_total"),
          sum(col("qs") * col("qs")).as("sq2"))
        .filter(col("n_suppliers") >= 3)
        // zero-quantity guard (r12 sweep): NULL matches DuckDB's /0 →
        // NULL; DESC ordering puts NULLS LAST in both engines
        .select(col("l_partkey"), col("n_suppliers"), col("q_total"),
          when(col("q_total") =!= 0,
            col("sq2").cast("double") / (col("q_total") * col("q_total")))
            .as("hhi"))
      hhi.orderBy(col("hhi").desc, col("l_partkey")).limit(20)
    }, Some(
      """WITH bs AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qs
        |  FROM lineitem GROUP BY 1, 2),
        |h AS (
        |  SELECT l_partkey, COUNT(*) AS n_suppliers,
        |    CAST(SUM(qs) AS BIGINT) AS q_total,
        |    CAST(SUM(qs * qs) AS BIGINT) AS sq2
        |  FROM bs GROUP BY 1)
        |SELECT l_partkey, n_suppliers, q_total,
        |  CAST(sq2 AS DOUBLE) / (q_total * q_total) AS hhi
        |FROM h WHERE n_suppliers >= 3
        |ORDER BY hhi DESC, l_partkey LIMIT 20""".stripMargin)),

    // Coarsened Exact Matching ATT (Iacus–King–Porro) — the causal
    // estimate g_did_estimate's parallel-trends assumption can't give
    // you when exposure is user-level: coarsen the confounders
    // (activity volume, active days) into bins, exact-match treated
    // (signup-exposed) to control users WITHIN each stratum, and weight
    // per-stratum outcome gaps by treated counts. Everything is keyed
    // aggregation: one user rollup, one (stratum, treated) agg, one
    // stratum join — no pair matching, no sort, the CEM shape that
    // scales to any user count. Outcome sums are exact integer micros;
    // stratum means are int/int doubles; the weighted fold hop-snaps
    // the n_t·gap products and rides the two-way-hopped scale-18 sum;
    // ATT and the naive contrast are raw quotients.
    Q("g_cem_att", (s, d) => {
      val ev = Io.events(s, d)
      // exposure = the deterministic id coin (every event-type flag is
      // degenerate at small SF — 15 users at sf0.001 ALL have a signup
      // — while the coin guarantees both arms at any scale; randomized
      // exposure also makes ATT ≈ naive a built-in sanity read)
      // scratch (r15): users is consumed THREE times (both stratum
      // arms + the naive contrast) — each execution re-ran the events
      // scan + per-user aggregate. The table is user-aggregate-sized.
      val users = Q.scratch("cem_users")(
        ev.groupBy(col("user_id")).agg(
          max(when(expr(s"(${Q.coin("user_id")}) < 2147483648"), 1L)
            .otherwise(0L)).as("treated"),
          count(lit(1)).as("activity"),
          countDistinct(expr("ts_us DIV 86400000000")).as("days"),
          sum(when(col("event_type") === "purchase" && col("value").isNotNull,
            expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"))
            .otherwise(0L)).as("y_micros"))
          .select(col("treated"), (col("activity") / 10).cast("long").as("abin"),
            (col("days") / 5).cast("long").as("dbin"), col("y_micros")))
      val strata = users.groupBy(col("abin"), col("dbin"), col("treated"))
        .agg(count(lit(1)).as("n"), sum(col("y_micros")).as("sy"))
      val t = strata.filter(col("treated") === 1)
        .select(col("abin"), col("dbin"), col("n").as("nt"), col("sy").as("syt"))
      val c = strata.filter(col("treated") === 0)
        .select(col("abin"), col("dbin"), col("n").as("nc"), col("sy").as("syc"))
      val matched = t.join(c, Seq("abin", "dbin"))
        .select(col("nt"), col("nc"),
          snap12(col("nt") * (col("syt").cast("double") / col("nt") -
            col("syc").cast("double") / col("nc"))).as("wgap"))
      // empty-arm guard (r12 sweep): a corpus whose users all land in
      // one arm zeroes a naive-mean denominator — NULL matches
      // DuckDB's /0 → NULL (oracle text unchanged)
      val naive = users.agg(
        sum(when(col("treated") === 1, col("y_micros")).otherwise(0L))
          .as("_syt"),
        sum(when(col("treated") === 1, 1L).otherwise(0L)).as("_ct"),
        sum(when(col("treated") === 0, col("y_micros")).otherwise(0L))
          .as("_syc"),
        sum(when(col("treated") === 0, 1L).otherwise(0L)).as("_cc"))
        .select((when(col("_ct") > 0, col("_syt").cast("double") / col("_ct"))
          - when(col("_cc") > 0, col("_syc").cast("double") / col("_cc")))
          .as("naive_diff_micros"))
      matched.agg(count(lit(1)).as("n_strata"),
          sum(col("nt")).as("n_treated_matched"),
          sum(col("nc")).as("n_control_matched"),
          decSum18(col("wgap")).as("swgap"))
        .crossJoin(broadcast(naive))
        .select(col("n_strata"), col("n_treated_matched"),
          col("n_control_matched"),
          (col("swgap") / col("n_treated_matched")).as("att_micros"),
          col("naive_diff_micros"))
    }, Some({
      def hop(x: String) =
        s"CAST(CAST(CAST(CAST(CASE WHEN ABS($x) < 5e-13 THEN CAST(0 AS DOUBLE)" +
          s" ELSE $x END AS VARCHAR) AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE)"
      def s18(x: String) =
        s"CAST(CAST(SUM(CAST(CAST($x AS VARCHAR) AS DECIMAL(38,18)))" +
          s" AS VARCHAR) AS DOUBLE)"
      s"""WITH u AS (
         |  SELECT user_id,
         |    MAX(CASE WHEN (${Q.coin("user_id")}) < 2147483648
         |        THEN 1 ELSE 0 END) AS treated,
         |    COUNT(*) // 10 AS abin,
         |    COUNT(DISTINCT epoch_us(ts) // 86400000000) // 5 AS dbin,
         |    CAST(SUM(CASE WHEN event_type = 'purchase' AND value IS NOT NULL
         |      THEN CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)
         |      ELSE 0 END) AS BIGINT) AS y_micros
         |  FROM events GROUP BY user_id),
         |st AS (
         |  SELECT abin, dbin, treated, COUNT(*) AS n,
         |    CAST(SUM(y_micros) AS BIGINT) AS sy
         |  FROM u GROUP BY 1, 2, 3),
         |m AS (
         |  SELECT t.nt, c.nc,
         |    ${hop("t.nt * (CAST(t.syt AS DOUBLE) / t.nt " +
             "- CAST(c.syc AS DOUBLE) / c.nc)")} AS wgap
         |  FROM (SELECT abin, dbin, n AS nt, sy AS syt FROM st
         |        WHERE treated = 1) t
         |  JOIN (SELECT abin, dbin, n AS nc, sy AS syc FROM st
         |        WHERE treated = 0) c USING (abin, dbin)),
         |nv AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN treated = 1 THEN y_micros ELSE 0 END)
         |         AS DOUBLE) /
         |      SUM(CASE WHEN treated = 1 THEN 1 ELSE 0 END)
         |    - CAST(SUM(CASE WHEN treated = 0 THEN y_micros ELSE 0 END)
         |           AS DOUBLE) /
         |      SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END)
         |      AS naive_diff_micros
         |  FROM u)
         |SELECT COUNT(*) AS n_strata,
         |  CAST(SUM(m.nt) AS BIGINT) AS n_treated_matched,
         |  CAST(SUM(m.nc) AS BIGINT) AS n_control_matched,
         |  ${s18("m.wgap")} / CAST(SUM(m.nt) AS BIGINT) AS att_micros,
         |  MIN(nv.naive_diff_micros) AS naive_diff_micros
         |FROM m CROSS JOIN nv""".stripMargin
    })),

    // Hill tail-index estimator (extreme-value statistics) on
    // per-customer spend: α̂ = k / Σ_{i≤k} ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the
    // k = 100 largest spenders — the power-law read that says whether
    // revenue (or doc length, or degree) has a finite variance, i.e.
    // whether mean-based capacity planning is even valid. Spend is
    // exact integer cents; the top-(k+1) selection is a fused global
    // top-k; each ratio is an int/int IEEE division; ln terms snap at
    // 1e-12 (hop twin) and fold through the two-way-hopped scale-18
    // sum; α̂ = k/Σ is one raw quotient. Corpus work: the per-customer
    // agg + one TakeOrdered — the 101-row tail math is driver-free
    // metadata (rank window over ≤101 rows, scalar attaches).
    Q("g_tail_index", (s, d) => {
      val spend = Io.table(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100" +
          " AS BIGINT)")).as("cents"))
        .orderBy(col("cents").desc, col("o_custkey")).limit(101)
      val w = Window.orderBy(col("cents").desc, col("o_custkey"))
      val ranked = spend.withColumn("rk", row_number().over(w))
      val xk = ranked.filter(col("rk") === 101)
        .select(col("cents").as("xk"))
      // degenerate-tail guards (r12 sweep): xk = 0 (all-zero spend)
      // voids the ratios, and a fully-tied tail zeroes Σln — NULL in
      // both cases, matching DuckDB's /0 → NULL chain (oracle text
      // unchanged; top-100 cents ≥ xk so ln never sees (0, 1))
      val fit = ranked.filter(col("rk") <= 100)
        .crossJoin(broadcast(xk))
        .select(snap12(when(col("xk") =!= 0,
          log(col("cents").cast("double") / col("xk")))).as("lnr"), col("xk"))
        .agg(count(lit(1)).as("k"), first(col("xk")).as("xk_cents"),
          decSum18(col("lnr")).as("slnr"))
      fit.select(col("k"), col("xk_cents"),
        when(col("slnr") =!= 0,
          col("k").cast("double") / col("slnr")).as("hill_alpha"),
        col("slnr").as("sum_ln_ratios"))
    }, Some({
      def hop(x: String) =
        s"CAST(CAST(CAST(CAST(CASE WHEN ABS($x) < 5e-13 THEN CAST(0 AS DOUBLE)" +
          s" ELSE $x END AS VARCHAR) AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE)"
      def s18(x: String) =
        s"CAST(CAST(SUM(CAST(CAST($x AS VARCHAR) AS DECIMAL(38,18)))" +
          s" AS VARCHAR) AS DOUBLE)"
      s"""WITH spend AS (
         |  SELECT o_custkey,
         |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
         |             AS BIGINT)) AS BIGINT) AS cents
         |  FROM orders GROUP BY 1
         |  ORDER BY cents DESC, o_custkey LIMIT 101),
         |ranked AS (
         |  SELECT cents,
         |    ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS rk
         |  FROM spend),
         |xk AS (SELECT cents AS xk FROM ranked WHERE rk = 101),
         |fit AS (
         |  SELECT COUNT(*) AS k, MIN(xk.xk) AS xk_cents,
         |    ${s18(hop("LN(CAST(r.cents AS DOUBLE) / xk.xk)"))} AS slnr
         |  FROM ranked r CROSS JOIN xk WHERE r.rk <= 100)
         |SELECT k, xk_cents, CAST(k AS DOUBLE) / slnr AS hill_alpha,
         |  slnr AS sum_ln_ratios
         |FROM fit""".stripMargin
    })),

    // Fulfillment-latency SLA read: ship-minus-order days per lineitem,
    // p50/p90/p99 per order priority via Q.exactPercentiles (the
    // sketch-bracketed selection — no holistic percentile buffer at any
    // scale). Latencies are exact integer day diffs; the interpolated
    // quantiles snap at 1e-6 (the d_agg_boxplot discipline: the
    // engines' QUANTILE_CONT associations differ in the last ulps).
    Q("g_fulfillment_latency", (s, d) => {
      val lat = Io.table(s, d, "lineitem")
        .select(col("l_orderkey"),
          expr("CAST(unix_micros(CAST(l_shipdate AS TIMESTAMP))" +
            " DIV 86400000000 AS BIGINT)").as("sday"))
        .join(Io.table(s, d, "orders").select(col("o_orderkey"),
          col("o_orderpriority"),
          expr("CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
            " DIV 86400000000 AS BIGINT)").as("oday")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          (col("sday") - col("oday")).cast("double").as("lat_days"))
      val n = lat.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"))
      Q.exactPercentiles(lat, "o_orderpriority", "lat_days",
          Seq((0.5, "p50r"), (0.9, "p90r"), (0.99, "p99r")))
        .select(col("o_orderpriority"), snap6(col("p50r")).as("p50_days"),
          snap6(col("p90r")).as("p90_days"), snap6(col("p99r")).as("p99_days"))
        .join(n, "o_orderpriority")
        .select(col("o_orderpriority"), col("n_lines"), col("p50_days"),
          col("p90_days"), col("p99_days"))
        .orderBy("o_orderpriority")
    }, Some(
      s"""WITH lat AS (
         |  SELECT o.o_orderpriority,
         |    CAST(epoch_us(l.l_shipdate) // 86400000000
         |         - epoch_us(o.o_orderdate) // 86400000000 AS DOUBLE)
         |      AS lat_days
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
         |SELECT o_orderpriority, COUNT(*) AS n_lines,
         |  ${dSnap6("quantile_cont(lat_days, 0.5)")} AS p50_days,
         |  ${dSnap6("quantile_cont(lat_days, 0.9)")} AS p90_days,
         |  ${dSnap6("quantile_cont(lat_days, 0.99)")} AS p99_days
         |FROM lat GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin)),

    // Conversion-latency distribution — the funnel-TIMING companion to
    // g_funnel's step counts: per acquisition day-of-week (DOW of the
    // user's first click), the p50/p90 of hours from first click to
    // first subsequent purchase. Two keyed aggregates (first click per
    // user, first qualifying purchase per user) and the
    // sketch-bracketed percentiles (Q.exactPercentiles — no holistic
    // buffer, swap-to-sketch knob included); the mean
    // is an exact BIGINT micros sum over converters. Latency doubles
    // are int→double conversions divided by the same literal on both
    // engines; percentile interpolation is snapped at 1e-6 against
    // DuckDB's quantile_cont (the g_fulfillment_latency pairing).
    Q("g_funnel_time", (s, d) => {
      val ev = Io.events(s, d)
      val c0 = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("c0"))
      // scratch (r15): conv feeds the count/mean aggregate AND the
      // percentile's sketch and bracket passes, so without the
      // checkpoint the two events scans + join would run three times.
      // The frame is converter-sized.
      val conv = Q.scratch("funnel_time_conv")(
        ev.filter(col("event_type") === "purchase")
          .join(c0, "user_id").filter(col("ts_us") >= col("c0"))
          .groupBy(col("user_id"), col("c0"))
          .agg(min(col("ts_us")).as("p0"))
          .select(((expr("c0 DIV 86400000000") + 3) % 7).as("dow"),
            (col("p0") - col("c0")).as("dmic"),
            ((col("p0") - col("c0")).cast("double") / 3600000000.0)
              .as("lat_hours")))
      val n = conv.groupBy(col("dow"))
        .agg(count(lit(1)).as("n_conv"), sum(col("dmic")).as("sum_mic"))
      Q.exactPercentiles(conv, "dow", "lat_hours",
          Seq((0.5, "p50r"), (0.9, "p90r")))
        .join(n, "dow")
        .select(col("dow"), col("n_conv"),
          ((col("sum_mic").cast("double") / col("n_conv")) / 3600000000.0)
            .as("mean_hours"),
          snap6(col("p50r")).as("p50_hours"),
          snap6(col("p90r")).as("p90_hours"))
        .orderBy("dow")
    }, Some(
      s"""WITH c0 AS (
         |  SELECT user_id, MIN(epoch_us(ts)) AS c0
         |  FROM events WHERE event_type = 'click' GROUP BY 1),
         |p0 AS (
         |  SELECT e.user_id, c0.c0, MIN(epoch_us(e.ts)) AS p0
         |  FROM events e JOIN c0 USING (user_id)
         |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= c0.c0
         |  GROUP BY 1, 2),
         |lat AS (
         |  SELECT (c0 // 86400000000 + 3) % 7 AS dow, p0 - c0 AS dmic,
         |    CAST(p0 - c0 AS DOUBLE) / 3600000000.0 AS lat_hours
         |  FROM p0)
         |SELECT dow, COUNT(*) AS n_conv,
         |  (CAST(CAST(SUM(dmic) AS BIGINT) AS DOUBLE) / COUNT(*))
         |    / 3600000000.0 AS mean_hours,
         |  ${dSnap6("quantile_cont(lat_hours, 0.5)")} AS p50_hours,
         |  ${dSnap6("quantile_cont(lat_hours, 0.9)")} AS p90_hours
         |FROM lat GROUP BY dow ORDER BY dow""".stripMargin)),

    // Cohort LTV curve — the revenue companion to g_cohort_retention:
    // users grouped by the epoch-week of their FIRST event, cumulative
    // purchase value per cohort member at each cohort age. Integer
    // spine end-to-end: event value converts to exact micros once
    // (DECIMAL(18,6)·1e6 → BIGINT, the bootstrap-CI spelling), the
    // (cohort, age) rollup is one hash aggregate, and the running total
    // is a cohort-keyed window over the ≤(weeks²)-sized rollup — the
    // only corpus work is the first-event agg and the purchase scan.
    // LTV = cum_micros/n_users is the single int/int division.
    Q("g_cohort_ltv", (s, d) => {
      val wk = expr("CAST(ts_us DIV 604800000000 AS BIGINT)")
      val ev = Io.events(s, d)
      val firstWk = ev.groupBy(col("user_id")).agg(min(wk).as("cohort_wk"))
      val cohortSize = firstWk.groupBy(col("cohort_wk"))
        .agg(countDistinct(col("user_id")).as("n_users"))
      val spend = ev.filter(col("event_type") === "purchase" &&
          col("value").isNotNull)
        .select(col("user_id"), wk.as("ewk"),
          expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)")
            .as("micros"))
        .join(firstWk, "user_id")
        .groupBy(col("cohort_wk"), (col("ewk") - col("cohort_wk")).as("age_wk"))
        .agg(sum(col("micros")).as("wk_micros"))
      val wCum = Window.partitionBy(col("cohort_wk")).orderBy(col("age_wk"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spend.withColumn("cum_micros", sum(col("wk_micros")).over(wCum))
        .join(cohortSize, "cohort_wk")
        .select(col("cohort_wk"), col("age_wk"), col("n_users"),
          col("cum_micros"),
          (col("cum_micros").cast("double") / col("n_users") / 1e6)
            .as("ltv_per_user"))
        .orderBy("cohort_wk", "age_wk")
    }, Some(
      """WITH ev AS (
        |  SELECT user_id, event_type, value,
        |    epoch_us(ts) // 604800000000 AS wk
        |  FROM events),
        |fw AS (SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY 1),
        |cs AS (SELECT cohort_wk, COUNT(DISTINCT user_id) AS n_users
        |       FROM fw GROUP BY 1),
        |sp AS (
        |  SELECT f.cohort_wk, e.wk - f.cohort_wk AS age_wk,
        |    CAST(SUM(CAST(CAST(e.value AS DECIMAL(18,6)) * 1000000
        |             AS BIGINT)) AS BIGINT) AS wk_micros
        |  FROM ev e JOIN fw f USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT cohort_wk, age_wk, wk_micros,
        |    CAST(SUM(wk_micros) OVER (PARTITION BY cohort_wk ORDER BY age_wk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_micros
        |  FROM sp)
        |SELECT c.cohort_wk, c.age_wk, s.n_users, c.cum_micros,
        |  CAST(c.cum_micros AS DOUBLE) / s.n_users / 1e6 AS ltv_per_user
        |FROM cum c JOIN cs s USING (cohort_wk)
        |ORDER BY c.cohort_wk, c.age_wk""".stripMargin)),

    // Per-part price elasticity — GROUPED log-log OLS, the shape that
    // fits millions of independent models in one pass at 100 TB: every
    // part's ln(qty)-on-ln(unit price) slope comes from one hash
    // aggregate of per-row moments (no per-group iteration, no window),
    // top-20 most elastic reported. Seam discipline: each ln snaps at
    // 1e-12 (hop twin), per-group moment sums ride two-way-hopped
    // DECIMAL(38,18), the closed-form slope's four products hop-snap
    // (Σx·Σy reaches ~1e4 — past the 9e3 direct-cast cliff), and the
    // slope itself is a quotient of engine-identical doubles emitted
    // raw; ordering ties break on partkey.
    Q("g_price_elasticity", (s, d) => {
      // Integer-picounit spine, NOT the decimal-snap discipline: wide-
      // decimal per-row casts cost ~10 µs/row (first spelling measured
      // 6.4 s warm at 600k rows); here every per-row op stays in
      // codegen doubles/longs. xi = ⌊ln·1e12 + 0.5⌋ is the 1e-12 snap
      // AS AN INT64 (floor(v+0.5) is the same exact IEEE expression in
      // both engines — unlike ROUND, which is repr-half-up in Spark vs
      // rint in DuckDB); cross terms scale back by 1e12 through one
      // double multiply (correctly rounded, identical) before the same
      // floor-snap. Group sums are plain BIGINTs (bounds: |xi| ≤ 1.3e13,
      // n ≤ ~120 → every sum and n·Σ product < 6e17, inside int64), and
      // the final slope arithmetic converts int64 → double (correctly
      // rounded in both engines) for one subtraction and one division.
      val pico = lit(1e12)
      def isnap(c: org.apache.spark.sql.Column) =
        floor(c * pico + lit(0.5)).cast("long")
      val li = Io.table(s, d, "lineitem")
        .filter(col("l_quantity") > 0 && col("l_extendedprice") > 0)
        .select(col("l_partkey"),
          isnap(log(col("l_extendedprice") / col("l_quantity"))).as("xi"),
          isnap(log(col("l_quantity").cast("double"))).as("yi"))
        .select(col("l_partkey"), col("xi"), col("yi"),
          floor(col("xi").cast("double") * col("yi").cast("double") / pico +
            lit(0.5)).cast("long").as("xyi"),
          floor(col("xi").cast("double") * col("xi").cast("double") / pico +
            lit(0.5)).cast("long").as("xxi"))
      val fit = li.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n"), sum(col("xi")).as("sx"),
          sum(col("yi")).as("sy"), sum(col("xyi")).as("sxy"),
          sum(col("xxi")).as("sxx"))
        .filter(col("n") >= 5)
        .select(col("l_partkey"), col("n"),
          ((col("n") * col("sxy")).cast("double") -
            col("sx").cast("double") * col("sy").cast("double") / pico)
            .as("num"),
          ((col("n") * col("sxx")).cast("double") -
            col("sx").cast("double") * col("sx").cast("double") / pico)
            .as("den"))
        .filter(col("den") =!= 0.0)
        .select(col("l_partkey"), col("n"),
          (col("num") / col("den")).as("elasticity"))
      fit.orderBy(col("elasticity"), col("l_partkey")).limit(20)
    }, Some(
      """WITH pt AS (
        |  SELECT l_partkey,
        |    CAST(FLOOR(LN(l_extendedprice / l_quantity) * 1e12 + 0.5)
        |         AS BIGINT) AS xi,
        |    CAST(FLOOR(LN(CAST(l_quantity AS DOUBLE)) * 1e12 + 0.5)
        |         AS BIGINT) AS yi
        |  FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0),
        |pt2 AS (
        |  SELECT l_partkey, xi, yi,
        |    CAST(FLOOR(CAST(xi AS DOUBLE) * CAST(yi AS DOUBLE) / 1e12 + 0.5)
        |         AS BIGINT) AS xyi,
        |    CAST(FLOOR(CAST(xi AS DOUBLE) * CAST(xi AS DOUBLE) / 1e12 + 0.5)
        |         AS BIGINT) AS xxi
        |  FROM pt),
        |fit AS (
        |  SELECT l_partkey, COUNT(*) AS n,
        |    CAST(SUM(xi) AS BIGINT) AS sx, CAST(SUM(yi) AS BIGINT) AS sy,
        |    CAST(SUM(xyi) AS BIGINT) AS sxy, CAST(SUM(xxi) AS BIGINT) AS sxx
        |  FROM pt2 GROUP BY 1),
        |sl AS (
        |  SELECT l_partkey, n,
        |    CAST(n * sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / 1e12 AS num,
        |    CAST(n * sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / 1e12 AS den
        |  FROM fit WHERE n >= 5)
        |SELECT l_partkey, n, num / den AS elasticity
        |FROM sl WHERE den <> 0
        |ORDER BY elasticity, l_partkey LIMIT 20""".stripMargin)),

    // Markov removal-effect attribution (Anderl et al.'s data-driven
    // alternative to g_attribution_last_touch): model each user journey
    // as a first-order chain over event types truncated at the first
    // purchase (START → … → CONV, or → DROP if no purchase), and credit
    // each channel by how much the conversion probability falls when
    // journeys through it are broken (transitions INTO the channel
    // redirected to DROP). Absorption probabilities come from FOUR
    // matrix squarings (T¹⁶ — CONV/DROP absorbing self-loops make
    // [T¹⁶](START, CONV) the cumulative 16-step conversion mass), run
    // for the base chain and every channel-removed variant IN ONE
    // relational chain keyed by a `variant` column — no driver loop
    // over channels, no collect; every matrix is |states|²·|variants|
    // ≤ ~200 rows of metadata. Exactness: transition probs are int/int
    // doubles, squaring products snap at 1e-12 (hop twins), cell sums
    // ride two-way-hopped DECIMAL(38,18), removal/share are divisions
    // of engine-identical doubles emitted raw. The corpus cost is ONE
    // user-keyed window pass; everything after is bounded.
    Q("g_markov_attribution", (s, d) => {
      val variants = markovVariants(s, d)
      // Each squaring references its input TWICE — without per-stage
      // materialization the corpus-sized m0 build re-evaluates 2⁴ times
      // (the i_graph_bfs lesson; measured 29 s cold at sf0.1, 1.5 s
      // materialized). The stages are ≤~200-row metadata; the memo also
      // shares the chain across the session.
      val m0 = markovM0(s, d)
      def sq(k: Int, m: org.apache.spark.sql.DataFrame) =
        Q.memoized(s, d, s"mkvM$k") {
          Q.materialize(s, d, s"mkvM$k")(
            m.as("a").join(m.select(col("variant"), col("src").as("mid"),
                col("dst"), col("p").as("pb")).as("b"),
                Seq("variant")).filter(col("a.dst") === col("b.mid"))
              .groupBy(col("variant"), col("a.src").as("src"),
                col("b.dst").as("dst"))
              .agg(snap12(decSum18(snap12(col("a.p") * col("pb")))).as("p")))
        }
      val t16 = sq(4, sq(3, sq(2, sq(1, m0))))
      val pc = variants.join(
          t16.filter(col("src") === "START" && col("dst") === "CONV")
            .select(col("variant"), col("p")),
          Seq("variant"), "left")
        .select(col("variant"), coalesce(col("p"), lit(0.0)).as("p"))
      val pb = pc.filter(col("variant") === "base")
        .select(col("p").as("p_base"))
      val rem = pc.filter(col("variant") =!= "base")
        .crossJoin(broadcast(pb))
        .select(col("variant").as("channel"), col("p_base"),
          col("p").as("p_removed"),
          // p_base = 0 (a corpus slice with zero converting journeys)
          // would make 1 - p/p_base NaN/Inf with engine-divergent
          // division-by-zero semantics downstream; emit NULL instead —
          // CASE with no ELSE in the oracle, `when` with no otherwise
          // here — so both engines propagate NULL identically through
          // the share division.
          when(col("p_base") =!= 0.0,
            lit(1.0) - col("p") / col("p_base")).as("removal_effect"))
      val rTot = rem.agg(decSum18(col("removal_effect")).as("rt"))
      rem.crossJoin(broadcast(rTot))
        .select(col("channel"), col("p_base").as("p_conv_base"),
          col("p_removed").as("p_conv_removed"), col("removal_effect"),
          when(col("rt") =!= 0.0,
            col("removal_effect") / col("rt")).as("attribution_share"))
        .orderBy("channel")
    }, Some({
      def hop(x: String) =
        s"CAST(CAST(CAST(CAST(CASE WHEN ABS($x) < 5e-13 THEN CAST(0 AS DOUBLE)" +
          s" ELSE $x END AS VARCHAR) AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE)"
      def s18(x: String) =
        s"CAST(CAST(SUM(CAST(CAST($x AS VARCHAR) AS DECIMAL(38,18)))" +
          s" AS VARCHAR) AS DOUBLE)"
      val sqCte = (k: Int) =>
        s"""m$k AS (
           |  SELECT a.variant, a.src, b.dst,
           |    ${hop(s18(hop("a.p * b.p")))} AS p
           |  FROM m${k - 1} a JOIN m${k - 1} b
           |    ON a.variant = b.variant AND a.dst = b.src
           |  GROUP BY 1, 2, 3)""".stripMargin
      s"""WITH ev AS (
         |  SELECT user_id, event_id, event_type,
         |    ROW_NUMBER() OVER (PARTITION BY user_id
         |      ORDER BY epoch_us(ts), event_id) AS rn
         |  FROM events),
         |fp AS (SELECT user_id, MIN(rn) AS fp FROM ev
         |       WHERE event_type = 'purchase' GROUP BY 1),
         |kept AS (
         |  SELECT e.user_id, e.rn,
         |    CASE WHEN e.event_type = 'purchase' THEN 'CONV'
         |    ELSE e.event_type END AS st
         |  FROM ev e LEFT JOIN fp USING (user_id)
         |  WHERE fp.fp IS NULL OR e.rn <= fp.fp),
         |tr AS (
         |  SELECT LAG(st, 1, 'START') OVER (PARTITION BY user_id
         |    ORDER BY rn) AS src, st AS dst
         |  FROM kept),
         |tails AS (
         |  SELECT MAX_BY(st, rn) AS src, 'DROP' AS dst FROM kept k
         |  WHERE NOT EXISTS (SELECT 1 FROM fp WHERE fp.user_id = k.user_id)
         |  GROUP BY k.user_id),
         |cnt AS (
         |  SELECT src, dst, COUNT(*) AS n FROM
         |    (SELECT src, dst FROM tr UNION ALL SELECT src, dst FROM tails)
         |  GROUP BY 1, 2),
         |tot AS (SELECT src, SUM(n) AS tot FROM cnt GROUP BY 1),
         |base AS (SELECT c.src, c.dst, c.n / CAST(t.tot AS DOUBLE) AS p
         |         FROM cnt c JOIN tot t USING (src)),
         |vr AS (SELECT DISTINCT event_type AS variant FROM events
         |       WHERE event_type <> 'purchase'
         |       UNION ALL SELECT 'base'),
         |m0 AS (
         |  SELECT variant, src, dst, ${s18("p")} AS p FROM (
         |    SELECT v.variant, b.src,
         |      CASE WHEN v.variant <> 'base' AND b.dst = v.variant
         |      THEN 'DROP' ELSE b.dst END AS dst, b.p
         |    FROM vr v CROSS JOIN base b
         |    WHERE v.variant = 'base' OR b.src <> v.variant)
         |  GROUP BY 1, 2, 3
         |  UNION ALL SELECT variant, 'CONV', 'CONV', CAST(1 AS DOUBLE) FROM vr
         |  UNION ALL SELECT variant, 'DROP', 'DROP', CAST(1 AS DOUBLE) FROM vr),
         |${(1 to 4).map(sqCte).mkString(",\n")},
         |pc AS (
         |  SELECT v.variant, COALESCE(m.p, CAST(0 AS DOUBLE)) AS p
         |  FROM vr v LEFT JOIN
         |    (SELECT variant, p FROM m4
         |     WHERE src = 'START' AND dst = 'CONV') m USING (variant)),
         |pb AS (SELECT p AS p_base FROM pc WHERE variant = 'base'),
         |rem AS (
         |  SELECT variant AS channel, p_base, p AS p_removed,
         |    CASE WHEN p_base <> 0
         |      THEN CAST(1 AS DOUBLE) - p / p_base END AS removal_effect
         |  FROM pc CROSS JOIN pb WHERE variant <> 'base'),
         |rt AS (SELECT ${s18("removal_effect")} AS rt FROM rem)
         |SELECT channel, p_base AS p_conv_base, p_removed AS p_conv_removed,
         |  removal_effect,
         |  CASE WHEN rt <> 0 THEN removal_effect / rt END AS attribution_share
         |FROM rem CROSS JOIN rt ORDER BY channel""".stripMargin
    })),

    // Exact ROC AUC of `value` as a purchase-vs-click ranker — the
    // standard eval metric an ML pipeline publishes next to a trained
    // model. AUC is exactly U₁/(n₁·n₂) with half-credit ties, so it
    // rides the same distinct-value BIGINT decomposition as the
    // Mann-Whitney row (shared mwAgg artifact): every count is int64
    // and the only float op is ONE final division of exact integers —
    // no sampling, no trapezoid approximation, no per-pair join. The
    // ROC Gini (2·AUC−1) is one exact ×2 and −1 on that quotient.
    Q("g_auc_value", (s, d) => {
      // empty-arm guard (r12 sweep): no positives or no negatives →
      // zero pairs — AUC undefined, NULL matching DuckDB's /0 → NULL
      mwAgg(s, d).select(
        col("n1").as("n_pos"), col("n2").as("n_neg"),
        (col("n1") * col("n2")).as("n_pairs"),
        when(col("n1") * col("n2") =!= 0,
          col("u2x") / (lit(2.0) * col("n1") * col("n2"))).as("auc"),
        (lit(2.0) * when(col("n1") * col("n2") =!= 0,
          col("u2x") / (lit(2.0) * col("n1") * col("n2"))) -
          lit(1.0)).as("gini_roc"))
    }, Some(
      """WITH p AS (
        |  SELECT value,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS na_v,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS nb_v
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |  GROUP BY value),
        |c AS (
        |  SELECT na_v, nb_v,
        |    COALESCE(SUM(nb_v) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM p),
        |a AS (
        |  SELECT CAST(SUM(na_v * (2 * cb + nb_v)) AS BIGINT) AS u2x,
        |    CAST(SUM(na_v) AS BIGINT) AS n1, CAST(SUM(nb_v) AS BIGINT) AS n2
        |  FROM c)
        |SELECT n1 AS n_pos, n2 AS n_neg, n1 * n2 AS n_pairs,
        |  u2x / (CAST(2 AS DOUBLE) * n1 * n2) AS auc,
        |  CAST(2 AS DOUBLE) * (u2x / (CAST(2 AS DOUBLE) * n1 * n2))
        |    - CAST(1 AS DOUBLE) AS gini_roc
        |FROM a""".stripMargin)),

    // Decile lift/gains table of `value` as a purchase ranker — the
    // model-eval report published NEXT TO the scalar AUC (g_auc_value):
    // per score decile, the purchase rate, cumulative gain share and
    // lift over the base rate — what a targeting team reads to pick a
    // cutoff. Deciles come from the GLOBAL rank of every scored event
    // via the distributed two-pass range-rank (range partition by
    // (value DESC, event_id), per-partition row_number, ≤|partitions|
    // offset rows — never a single-partition window; the ranged table
    // is materialized, the cusum lesson), decile = (rn−1)·10 DIV n + 1
    // in pure integers. Counts are integers; rate/share/lift are
    // int-derived doubles (rate raw int/int, lift a division of two
    // such — engine-exact, zero snaps); zero-positive corpora emit
    // NULL share/lift (mirrored guard, r12 sweep discipline). The
    // final census window runs over the 10 decile rows (bounded by
    // construction).
    Q("g_lift_decile", (s, d) => {
      val parts = s.sparkContext.defaultParallelism
      val ev = Io.events(s, d)
        .select(col("event_id"), col("value"),
          (col("event_type") === "purchase").cast("long").as("y"))
      val wLoc = Window.partitionBy(col("pid"))
        .orderBy(col("value").desc, col("event_id"))
      val local = Q.scratch("lift_ranked") {
        ev.repartitionByRange(parts, col("value").desc, col("event_id"))
          .withColumn("pid", spark_partition_id())
          .withColumn("lrn", row_number().over(wLoc))
      }
      val offs = local.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
        .withColumn("off", coalesce(sum(col("cnt")).over(
          Window.orderBy(col("pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("pid"), col("off"))
      // totals from the MATERIALIZED ranked table (r15): `ev` here
      // re-ran the events scan; integer count/sum over the checkpoint
      // is identical
      val tot = local.agg(count(lit(1)).as("n"), sum(col("y")).as("ty"))
      val perDec = local.join(broadcast(offs), "pid")
        .crossJoin(broadcast(tot))
        .withColumn("decile",
          expr("CAST((lrn + off - 1) * 10 DIV n AS INT) + 1"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_events"), sum(col("y")).as("n_pos"),
          max(col("n")).as("n"), max(col("ty")).as("ty"))
      val wCum = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perDec
        .withColumn("cum_pos", sum(col("n_pos")).over(wCum))
        .select(col("decile"), col("n_events"), col("n_pos"),
          (col("n_pos").cast("double") / col("n_events")).as("rate"),
          when(col("ty") > 0,
            col("cum_pos").cast("double") / col("ty")).as("cum_gain"),
          when(col("ty") > 0,
            (col("n_pos").cast("double") / col("n_events")) /
              (col("ty").cast("double") / col("n"))).as("lift"))
        .orderBy("decile")
    }, Some(
      """WITH ev AS (
        |  SELECT event_id, value,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |ranked AS (
        |  SELECT y,
        |    ROW_NUMBER() OVER (ORDER BY value DESC, event_id) AS rn
        |  FROM ev),
        |tot AS (SELECT COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS ty FROM ev),
        |dec AS (
        |  SELECT CAST((rn - 1) * 10 // n AS INT) + 1 AS decile, y
        |  FROM ranked CROSS JOIN tot),
        |per AS (
        |  SELECT decile, COUNT(*) AS n_events, CAST(SUM(y) AS BIGINT) AS n_pos
        |  FROM dec GROUP BY decile)
        |SELECT p.decile, p.n_events, p.n_pos,
        |  CAST(p.n_pos AS DOUBLE) / p.n_events AS rate,
        |  CASE WHEN t.ty > 0 THEN
        |    CAST(SUM(p.n_pos) OVER (ORDER BY p.decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |      / t.ty END AS cum_gain,
        |  CASE WHEN t.ty > 0 THEN
        |    (CAST(p.n_pos AS DOUBLE) / p.n_events)
        |      / (CAST(t.ty AS DOUBLE) / t.n) END AS lift
        |FROM per p CROSS JOIN tot t
        |ORDER BY p.decile""".stripMargin)),

    // Logistic regression by batch gradient descent — purchase-vs-click
    // from (value, hour-of-day), THREE fixed full-batch iterations from
    // w = 0 at lr = 1. The distributed shape is the one that matters:
    // each iteration is ONE map-side sigmoid pass + ONE all-reduce
    // (hash aggregate) producing a 3-number weight row that broadcasts
    // into the next pass — no driver collect, no per-row state, the
    // exact plan a 100 TB trainer runs per epoch. Engine-exactness
    // discipline: features are engine-identical doubles (value/100,
    // integer hour/24), every multiply seam and each sigmoid is
    // 1e-12-snapped (hop twins on the DuckDB side), gradient sums run
    // in two-way-hopped DECIMAL(38,18) (the Heaps lesson: in-hop the
    // addend, out-hop the sum), and weight updates are quotients and
    // subtractions of engine-identical doubles — emitted raw. The
    // decision count is integer (z ≥ 0), so accuracy is an int/int
    // division.
    Q("g_logistic_gd", (s, d) => {
      def s12(c: org.apache.spark.sql.Column) = snap12(c)
      val ev = Io.events(s, d)
        .filter(col("event_type").isin("purchase", "click") &&
          col("value").isNotNull)
        .select(when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("y"),
          (col("value") / 100.0).as("x1"),
          (expr("CAST((ts_us DIV 3600000000) % 24 AS DOUBLE)") / 24.0)
            .as("x2"))
      def z = col("wb") + s12(col("w1") * col("x1")) +
        s12(col("w2") * col("x2"))
      def sg = s12(lit(1.0) / (lit(1.0) + exp(-z)))
      val w0 = s.range(1).select(lit(0.0).as("wb"), lit(0.0).as("w1"),
        lit(0.0).as("w2"))
      def step(w: org.apache.spark.sql.DataFrame) =
        ev.crossJoin(broadcast(w))
          .select(col("y"), col("x1"), col("x2"), col("wb"), col("w1"),
            col("w2"), sg.as("sg"))
          .agg(count(lit(1)).as("n"), first(col("wb")).as("pb"),
            first(col("w1")).as("p1"), first(col("w2")).as("p2"),
            decSum18(col("sg") - col("y")).as("gb"),
            decSum18(s12((col("sg") - col("y")) * col("x1"))).as("g1"),
            decSum18(s12((col("sg") - col("y")) * col("x2"))).as("g2"))
          .select((col("pb") - col("gb") / col("n")).as("wb"),
            (col("p1") - col("g1") / col("n")).as("w1"),
            (col("p2") - col("g2") / col("n")).as("w2"))
      val w3 = step(step(step(w0)))
      ev.crossJoin(broadcast(w3))
        .agg(count(lit(1)).as("n_events"), first(col("wb")).as("w_bias"),
          first(col("w1")).as("w_value"), first(col("w2")).as("w_hour"),
          sum(when((z >= 0) === (col("y") === 1), 1L).otherwise(0L))
            .as("n_correct"))
        .select(col("n_events"), col("w_bias"), col("w_value"),
          col("w_hour"), col("n_correct"),
          (col("n_correct").cast("double") / col("n_events"))
            .as("accuracy"))
    }, Some({
      def hop(x: String) =
        s"CAST(CAST(CAST(CAST(CASE WHEN ABS($x) < 5e-13 THEN CAST(0 AS DOUBLE)" +
          s" ELSE $x END AS VARCHAR) AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE)"
      def s18(x: String) =
        s"CAST(CAST(SUM(CAST(CAST($x AS VARCHAR) AS DECIMAL(38,18)))" +
          s" AS VARCHAR) AS DOUBLE)"
      val zx = s"wb + ${hop("w1 * x1")} + ${hop("w2 * x2")}"
      val sgx = hop(s"CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + EXP(-($zx)))")
      def grad(prev: String) =
        s"""(SELECT COUNT(*) AS n, MIN(wb) AS pb, MIN(w1) AS p1,
           |   MIN(w2) AS p2,
           |   ${s18("sg - y")} AS gb,
           |   ${s18(hop("(sg - y) * x1"))} AS g1,
           |   ${s18(hop("(sg - y) * x2"))} AS g2
           | FROM (SELECT e.y, e.x1, e.x2, w.wb, w.w1, w.w2, $sgx AS sg
           |       FROM ev e CROSS JOIN $prev w))""".stripMargin
      s"""WITH ev AS (
         |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         |    value / 100.0 AS x1,
         |    CAST((epoch_us(ts) // 3600000000) % 24 AS DOUBLE) / 24.0 AS x2
         |  FROM events
         |  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL),
         |w0 AS (SELECT CAST(0 AS DOUBLE) AS wb, CAST(0 AS DOUBLE) AS w1,
         |       CAST(0 AS DOUBLE) AS w2),
         |g1 AS ${grad("w0")},
         |wa AS (SELECT pb - gb / n AS wb, p1 - g1 / n AS w1,
         |       p2 - g2 / n AS w2 FROM g1),
         |g2 AS ${grad("wa")},
         |wbt AS (SELECT pb - gb / n AS wb, p1 - g1 / n AS w1,
         |        p2 - g2 / n AS w2 FROM g2),
         |g3 AS ${grad("wbt")},
         |wc AS (SELECT pb - gb / n AS wb, p1 - g1 / n AS w1,
         |       p2 - g2 / n AS w2 FROM g3)
         |SELECT COUNT(*) AS n_events, MIN(wb) AS w_bias, MIN(w1) AS w_value,
         |  MIN(w2) AS w_hour,
         |  CAST(SUM(CASE WHEN (($zx) >= 0) = (y = 1) THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_correct,
         |  CAST(SUM(CASE WHEN (($zx) >= 0) = (y = 1) THEN 1 ELSE 0 END)
         |       AS DOUBLE) / COUNT(*) AS accuracy
         |FROM ev CROSS JOIN wc""".stripMargin
    })),

    // Calibration audit (reliability table + Expected Calibration
    // Error) — the standard model-eval op run before shipping any
    // scored model: bucket a fixed sigmoid score over purchase-vs-
    // click events into 10 equal-width probability bins and compare
    // mean predicted probability to the observed purchase rate;
    // ECE = Σ_b (n_b/N)·|avg_p_b − rate_b|. One corpus-scan hash
    // aggregate to the ≤10-bin table (materialized once — three tiny
    // consumers would otherwise re-scan the corpus), then scalar
    // broadcasts. Parity: the sigmoid is 1e-12-snapped (hop twin),
    // per-row scores enter the bin sums as floor(p·1e12+0.5) BIGINTs
    // (exact IEEE in both engines, int64-safe to ~9e6 rows/bin at
    // 10×-sf1), rates are int/int divisions, and the cross-bin ECE
    // sum is a 10-term BIGINT sum of floor-snapped terms — no
    // order-dependent double accumulation anywhere.
    Q("g_calibration_ece", (s, d) => {
      def s12(c: org.apache.spark.sql.Column) = snap12(c)
      val p = s12(lit(1.0) /
        (lit(1.0) + exp(-((col("value") - 40.0) / 30.0))))
      val bins = Q.scratch("calibBins")(
        Io.events(s, d)
          .filter(col("event_type").isin("purchase", "click") &&
            col("value").isNotNull)
          .select(when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("y"), p.as("p"))
          .groupBy(least(lit(9L), floor(col("p") * 10).cast("long")).as("bin"))
          .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
            sum(floor(col("p") * 1e12 + 0.5).cast("long")).as("sp12"))
          .withColumn("avg_p",
            col("sp12").cast("double") / col("n") / 1e12)
          .withColumn("rate", col("n_pos").cast("double") / col("n")))
      val tot = bins.agg(sum(col("n")).as("n_total"))
      val withN = bins.crossJoin(broadcast(tot))
        .withColumn("gap", abs(col("avg_p") - col("rate")))
      val ece = withN.agg(sum(
        floor(col("n").cast("double") * col("gap") / col("n_total") * 1e12
          + 0.5).cast("long")).as("e12"))
      withN.crossJoin(broadcast(ece))
        .select(col("bin"), col("n"), col("n_pos"), col("avg_p"),
          col("rate"), col("gap"),
          (col("e12").cast("double") / 1e12).as("ece"))
        .orderBy("bin")
    }, Some {
      val sg = "CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)" +
        " + EXP(-((value - 40.0) / 30.0)))"
      val pHop = s"CAST(CAST(CAST(CASE WHEN ABS($sg) < 5e-13" +
        s" THEN CAST(0 AS DOUBLE) ELSE $sg END" +
        " AS VARCHAR) AS DECIMAL(38,12)) AS DOUBLE)"
      s"""WITH ev AS (
         |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         |    $pHop AS p
         |  FROM events
         |  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL),
         |b AS (
         |  SELECT LEAST(9, CAST(FLOOR(p * 10) AS BIGINT)) AS bin,
         |    COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos,
         |    CAST(SUM(CAST(FLOOR(p * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS sp12
         |  FROM ev GROUP BY 1),
         |k AS (
         |  SELECT bin, n, n_pos,
         |    CAST(sp12 AS DOUBLE) / n / 1e12 AS avg_p,
         |    CAST(n_pos AS DOUBLE) / n AS rate
         |  FROM b),
         |t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM k),
         |e AS (
         |  SELECT CAST(SUM(CAST(FLOOR(CAST(n AS DOUBLE)
         |    * ABS(avg_p - rate) / n_total * 1e12 + 0.5) AS BIGINT))
         |    AS BIGINT) AS e12
         |  FROM k, t)
         |SELECT k.bin, k.n, k.n_pos, k.avg_p, k.rate,
         |  ABS(k.avg_p - k.rate) AS gap,
         |  CAST(e.e12 AS DOUBLE) / 1e12 AS ece
         |FROM k, e ORDER BY bin""".stripMargin
    }),

    // Pareto-skyline (maximal-vector) query: the efficiency frontier
    // of customers — MAX total spend with MIN orders; no other
    // customer has at-least-the-spend with at-most-the-orders (and
    // strictly better in one). The naive spelling is an O(n²)
    // dominance anti-join; a 2-D skyline instead reduces to a
    // DISTRIBUTED PREFIX MIN: per distinct spend value take min
    // orders, range-partition descending by spend, local strict-prefix
    // min per partition window, cross-partition offsets via the ≤32-row
    // pid table (the in-repo two-pass pattern — no single-partition
    // window, no pairwise join), keep spend values whose min beats
    // every strictly-larger spend, then one keyed join back to emit
    // the frontier customers. All-integer (exact cents + counts), so
    // dominance is engine-exact. The oracle keeps the NOT EXISTS
    // spelling — same frontier, independently derived.
    Q("g_pareto_skyline", (s, d) => {
      val parts = s.sparkContext.defaultParallelism
      // scratch (r15): cust feeds the dominance census AND the
      // final member join — each execution re-ran the orders scan +
      // hash agg. The table is customer-aggregate-sized.
      val cust = Q.scratch("skyline_cust")(
        Io.table(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100" +
            " AS BIGINT)")).as("cents"),
            count(lit(1)).as("n_ord")))
      val m = cust.groupBy(col("cents")).agg(min(col("n_ord")).as("mn"))
      val wLoc = Window.partitionBy(col("pid")).orderBy(col("cents").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val local = Q.scratch("skyline_ranged") {
        m.repartitionByRange(parts, col("cents").desc)
          .withColumn("pid", spark_partition_id())
          .withColumn("lpm", min(col("mn")).over(wLoc))
      }
      val offs = local.groupBy(col("pid")).agg(min(col("mn")).as("pm"))
        .withColumn("poff", min(col("pm")).over(
          Window.orderBy(col("pid"))
            .rowsBetween(Window.unboundedPreceding, -1)))
        .select(col("pid"), col("poff"))
      val front = local.as("l")
        .join(broadcast(offs.as("o")), col("l.pid") === col("o.pid"))
        .withColumn("pre", least(
          coalesce(col("l.lpm"), lit(Long.MaxValue)),
          coalesce(col("o.poff"), lit(Long.MaxValue))))
        .filter(col("l.mn") < col("pre"))
        .select(col("l.cents").as("cents"), col("l.mn").as("mn"))
      cust.join(front,
          cust("cents") === front("cents") && cust("n_ord") === front("mn"))
        .select(cust("o_custkey"), cust("cents"), cust("n_ord"))
        .orderBy(col("cents").desc, col("o_custkey"))
    }, Some(
      """WITH cust AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |             AS BIGINT)) AS BIGINT) AS cents,
        |    CAST(COUNT(*) AS BIGINT) AS n_ord
        |  FROM orders GROUP BY 1)
        |SELECT a.o_custkey, a.cents, a.n_ord FROM cust a
        |WHERE NOT EXISTS (SELECT 1 FROM cust b
        |  WHERE b.cents >= a.cents AND b.n_ord <= a.n_ord
        |    AND (b.cents > a.cents OR b.n_ord < a.n_ord))
        |ORDER BY a.cents DESC, a.o_custkey""".stripMargin))
  )
}
