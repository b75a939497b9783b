package graft.ops

import graft.io.Io
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import Q._

/** SURVEY.md §2-D — aggregation.
  *
  * Every double aggregate goes through `Q.decSum` (exact decimal
  * accumulation) so the result is independent of partial-aggregate merge
  * order — the #1 cross-engine hash-mismatch source (G7). Sums of
  * integral-valued doubles (l_quantity) are exact in plain double and
  * stay builtin. All aggregations are hash-based with map-side partial
  * aggregation; at 100 TB the shuffle carries one row per (group ×
  * partition), never raw data.
  */
object AggOps {

  val all: Seq[Q] = Seq(
    Q("d_agg_global", (s, d) => {
      Io.table(s, d, "lineitem").agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity")).as("sum_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        r4(decSum(col("l_extendedprice"))).as("sum_price"),
        r4(decAvg(col("l_discount"))).as("avg_disc"))
    }, Some(
      s"""SELECT COUNT(*) AS n, SUM(l_quantity) AS sum_qty,
         |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
         |  ROUND(${dSum("l_extendedprice")}, 4) AS sum_price,
         |  ROUND(${dAvg("l_discount")}, 4) AS avg_disc
         |FROM lineitem""".stripMargin)),

    // TPC-H Q1 shape.
    Q("d_agg_groupby", (s, d) => {
      Io.table(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          r4(decSum(col("l_extendedprice"))).as("sum_base_price"),
          r4(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc_price"),
          r4(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))).as("sum_charge"),
          r4(decAvg(col("l_quantity"))).as("avg_qty"),
          r4(decAvg(col("l_extendedprice"))).as("avg_price"),
          r4(decAvg(col("l_discount"))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Some(
      s"""SELECT l_returnflag, l_linestatus,
         |  SUM(l_quantity) AS sum_qty,
         |  ROUND(${dSum("l_extendedprice")}, 4) AS sum_base_price,
         |  ROUND(${dSum("l_extendedprice * (1.0 - l_discount)")}, 4) AS sum_disc_price,
         |  ROUND(${dSum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")}, 4) AS sum_charge,
         |  ROUND(${dAvg("l_quantity")}, 4) AS avg_qty,
         |  ROUND(${dAvg("l_extendedprice")}, 4) AS avg_price,
         |  ROUND(${dAvg("l_discount")}, 4) AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Q("d_agg_distinct", (s, d) => {
      Io.table(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"), count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }, Some(
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // EXACT distinct counting via the bitmap aggregate family (Spark
    // 3.5+): bucket the key space (bitmap_bucket_number), OR together
    // per-bucket position bitmaps (bitmap_construct_agg — a MERGEABLE
    // binary buffer, unlike COUNT(DISTINCT)'s value buffer), popcount
    // per bucket, sum. The 100 TB story is the point: partial
    // aggregation applies at every stage, no distinct-value shuffle
    // ever materializes, and the answer is exact — the middle ground
    // between COUNT(DISTINCT) (exact, heavy) and HLL (mergeable,
    // approximate). Oracle = plain COUNT(DISTINCT), proving exactness.
    Q("d_agg_bitmap_distinct", (s, d) => {
      Io.views(s, d)
      s.sql(
        """SELECT l_returnflag,
          |  CAST(SUM(cnt) AS BIGINT) AS n_parts, CAST(SUM(n) AS BIGINT) AS n_rows
          |FROM (
          |  SELECT l_returnflag, bitmap_bucket_number(l_partkey) AS bkt,
          |    bitmap_count(bitmap_construct_agg(
          |      bitmap_bit_position(l_partkey))) AS cnt,
          |    COUNT(*) AS n
          |  FROM lineitem GROUP BY 1, 2)
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }, Some(
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS n_parts, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    Q("d_agg_multi_distinct", (s, d) => {
      Io.table(s, d, "lineitem")
        .groupBy(col("l_linestatus"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          countDistinct(col("l_partkey"), col("l_suppkey")).as("n_part_supp"))
        .orderBy("l_linestatus")
    }, Some(
      """SELECT l_linestatus, COUNT(DISTINCT l_partkey) AS n_parts,
        |       COUNT(DISTINCT l_suppkey) AS n_supps,
        |       COUNT(DISTINCT (l_partkey, l_suppkey)) AS n_part_supp
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    Q("d_agg_rollup", (s, d) => {
      Io.table(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"))
        .orderBy(coalesce(col("l_returnflag"), lit("~")), coalesce(col("l_linestatus"), lit("~")))
    }, Some(
      // HAVING n > 0 mirrors Spark's empty-input rollup semantics (r12
      // sweep): over ZERO rows Spark emits no grouping-set rows at all,
      // while SQL-standard DuckDB emits the n = 0 grand-total row; on
      // any non-empty input every rollup row has n >= 1, so the clause
      // is value-neutral where it is graded
      """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, COUNT(*) AS n,
        |       CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |       CAST(GROUPING(l_linestatus) AS INT) AS g_ls
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |HAVING COUNT(*) > 0
        |ORDER BY COALESCE(l_returnflag, '~'), COALESCE(l_linestatus, '~')""".stripMargin)),

    Q("d_agg_cube", (s, d) => {
      Io.table(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), r4(decSum(col("o_totalprice"))).as("sum_price"))
        .orderBy(coalesce(col("o_orderstatus"), lit("~")), coalesce(col("o_orderpriority"), lit("~")))
    }, Some(
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         |       ROUND(${dSum("o_totalprice")}, 4) AS sum_price
         |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         |ORDER BY COALESCE(o_orderstatus, '~'), COALESCE(o_orderpriority, '~')""".stripMargin)),

    Q("d_agg_grouping_sets", (s, d) => {
      Io.views(s, d)
      s.sql(
        """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, COUNT(*) AS n
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
          |ORDER BY COALESCE(l_returnflag, '~'), COALESCE(l_linestatus, '~')""".stripMargin)
    }, Some(
      """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        |ORDER BY COALESCE(l_returnflag, '~'), COALESCE(l_linestatus, '~')""".stripMargin)),

    // Moment statistics via explicit exact-decimal sums — deterministic on
    // both engines (builtin stddev/corr are accumulation-order-dependent;
    // the builtins themselves are asserted against these in scalatest).
    Q("d_agg_stats", (s, d) => {
      val x = col("l_extendedprice"); val y = col("l_discount")
      Io.table(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          decSum(x).as("sx"), decSum(x * x).as("sxx"),
          decSum(y).as("sy"), decSum(y * y).as("syy"),
          decSum(x * y).as("sxy"))
        // degenerate guards (r12 sweep), mirrored on BOTH sides: n = 1
        // → sample variance undefined (NULL); centered squares clamp at
        // 0 (rounded power sums can cancel to −dust, where Spark's
        // sqrt gives NaN but DuckDB's sqrt RAISES); zero variance →
        // corr undefined (NULL, DuckDB's natural /0)
        .select(col("l_returnflag"), col("n"),
          r4(when(col("n") > 1, sqrt(
            greatest(lit(0.0), col("sxx") - col("sx") * col("sx") / col("n"))
              / (col("n") - 1)))).as("stddev_price"),
          r6(when(col("n") > 1, sqrt(
            greatest(lit(0.0), col("syy") - col("sy") * col("sy") / col("n"))
              / (col("n") - 1)))).as("stddev_disc"),
          {
            val den =
              sqrt(greatest(lit(0.0),
                col("n") * col("sxx") - col("sx") * col("sx"))) *
              sqrt(greatest(lit(0.0),
                col("n") * col("syy") - col("sy") * col("sy")))
            r6(when(den =!= 0.0,
              (col("n") * col("sxy") - col("sx") * col("sy")) / den))
              .as("corr_price_disc")
          })
        .orderBy("l_returnflag")
    }, Some(
      s"""WITH m AS (
         |  SELECT l_returnflag, COUNT(*) AS n,
         |    ${dSum("l_extendedprice")} AS sx, ${dSum("l_extendedprice * l_extendedprice")} AS sxx,
         |    ${dSum("l_discount")} AS sy, ${dSum("l_discount * l_discount")} AS syy,
         |    ${dSum("l_extendedprice * l_discount")} AS sxy
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, n,
         |  ROUND(CASE WHEN n > 1 THEN
         |    SQRT(GREATEST(0, sxx - sx * sx / n) / (n - 1)) END, 4)
         |    AS stddev_price,
         |  ROUND(CASE WHEN n > 1 THEN
         |    SQRT(GREATEST(0, syy - sy * sy / n) / (n - 1)) END, 6)
         |    AS stddev_disc,
         |  ROUND((n * sxy - sx * sy) /
         |        (SQRT(GREATEST(0, n * sxx - sx * sx))
         |         * SQRT(GREATEST(0, n * syy - sy * sy))), 6)
         |    AS corr_price_disc
         |FROM m ORDER BY l_returnflag""".stripMargin)),

    // Weighted mean / population variance: quantity-weighted discount
    // statistics (each lineitem counts `l_quantity` times) — the
    // weighted-aggregate surface (sample weighting is how a training
    // pipeline reweights its mixture). All three power sums are exact
    // decimal (map-side partials, order-independent); the variance
    // algebra runs on engine-identical doubles and snaps at 1e-6.
    // The weighted variable is the small-magnitude l_discount: the
    // per-row decimal cast is only engine-identical while the double's
    // ulp sits below the 1e-6 cast grid (a price² product at ~5e11 has
    // ulp 6e-5 — there the engines' double→decimal digits diverge,
    // measured as a 1e-6 hash mismatch).
    Q("d_agg_weighted_stats", (s, d) => {
      val x = col("l_discount"); val wt = col("l_quantity")
      val snap = (c: org.apache.spark.sql.Column) =>
        c.cast(org.apache.spark.sql.types.DecimalType(38, 6)).cast("double")
      Io.table(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(decSum(wt).as("sw"), decSum(wt * x).as("swx"),
          decSum(wt * x * x).as("swx2"))
        // zero-weight guard (r12 sweep): Σw = 0 → weighted moments
        // undefined, NULL matching DuckDB's /0 → NULL (oracle unchanged)
        .select(col("l_returnflag"),
          snap(col("sw")).as("sum_weight"),
          snap(when(col("sw") =!= 0, col("swx") / col("sw")))
            .as("w_mean_disc"),
          snap(when(col("sw") =!= 0, col("swx2") / col("sw") -
            (col("swx") / col("sw")) * (col("swx") / col("sw"))))
            .as("w_var_disc"))
        .orderBy("l_returnflag")
    }, Some(
      s"""WITH m AS (
         |  SELECT l_returnflag,
         |    ${dSum("l_quantity")} AS sw,
         |    ${dSum("l_quantity * l_discount")} AS swx,
         |    ${dSum("l_quantity * l_discount * l_discount")} AS swx2
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag,
         |  CAST(CAST(sw AS DECIMAL(38,6)) AS DOUBLE) AS sum_weight,
         |  CAST(CAST(swx / sw AS DECIMAL(38,6)) AS DOUBLE) AS w_mean_disc,
         |  CAST(CAST(swx2 / sw - (swx / sw) * (swx / sw)
         |       AS DECIMAL(38,6)) AS DOUBLE) AS w_var_disc
         |FROM m ORDER BY l_returnflag""".stripMargin)),

    // Boxplot (five-number + Tukey fences + outlier census) per group —
    // the distribution report a dashboard draws. Quartiles come from
    // Q.exactPercentiles (sketch-bracketed selection, no holistic
    // buffer); fences are plain arithmetic on engine-identical doubles;
    // the outlier count is a second pass joining the tiny per-group
    // fence table back (broadcast).
    Q("d_agg_boxplot", (s, d) => {
      val li = Io.table(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"))
      // quartiles snap at 1e-6 BEFORE the fence algebra: on
      // non-integral data the two engines' QUANTILE_CONT interpolation
      // differs in the last ulps (different formula association), so
      // the derived fences must start from the snapped common value.
      val snap = (c: Column) =>
        c.cast(org.apache.spark.sql.types.DecimalType(38, 6)).cast("double")
      // qs is read once: the outlier census groups by the flag plus
      // the (per-flag constant) quartile and fence columns, so the
      // quartile selection is not re-run for a final join; the census
      // reads lineitem itself
      val qs = Q.exactPercentiles(li, "l_returnflag", "l_extendedprice",
          Seq((0.25, "q1r"), (0.5, "medr"), (0.75, "q3r")))
        .select(col("l_returnflag"), snap(col("q1r")).as("q1"),
          snap(col("medr")).as("med"), snap(col("q3r")).as("q3"))
        .withColumn("iqr", col("q3") - col("q1"))
        .withColumn("lo_fence", col("q1") - lit(1.5) * col("iqr"))
        .withColumn("hi_fence", col("q3") + lit(1.5) * col("iqr"))
      // quartiles/fences ship UNrounded: they are bit-identical doubles
      // on both engines (selection + the same IEEE arithmetic, no
      // accumulation-order variance), while ROUND would not be —
      // 1.5×iqr constructs exact half-boundary values (…59875 at 1e-4,
      // observed) where the engines' rounding rules disagree.
      li.join(broadcast(qs), "l_returnflag")
        .groupBy(col("l_returnflag"), struct(Seq("q1", "med", "q3", "iqr", "lo_fence",
          "hi_fence").map(col): _*).as("b"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("l_extendedprice") < col("lo_fence") ||
            col("l_extendedprice") > col("hi_fence"), 1L).otherwise(0L))
            .as("n_outliers"))
        .select(col("l_returnflag"), col("n_rows"),
          col("b.q1"), col("b.med"), col("b.q3"), col("b.iqr"),
          col("b.lo_fence"), col("b.hi_fence"), col("n_outliers"))
        // one row per flag: sorted in one partition, no range exchange
        .coalesce(1)
        .orderBy("l_returnflag")
    }, Some(
      """WITH qs AS (
        |  SELECT l_returnflag,
        |    CAST(CAST(quantile_cont(l_extendedprice, 0.25)
        |         AS DECIMAL(38,6)) AS DOUBLE) AS q1,
        |    CAST(CAST(quantile_cont(l_extendedprice, 0.5)
        |         AS DECIMAL(38,6)) AS DOUBLE) AS med,
        |    CAST(CAST(quantile_cont(l_extendedprice, 0.75)
        |         AS DECIMAL(38,6)) AS DOUBLE) AS q3
        |  FROM lineitem GROUP BY l_returnflag),
        |f AS (SELECT *, q3 - q1 AS iqr FROM qs),
        |g AS (SELECT *, q1 - 1.5 * iqr AS lo_fence, q3 + 1.5 * iqr AS hi_fence
        |      FROM f),
        |o AS (
        |  SELECT l.l_returnflag, COUNT(*) AS n_rows,
        |    CAST(SUM(CASE WHEN l.l_extendedprice < g.lo_fence
        |                    OR l.l_extendedprice > g.hi_fence
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |  FROM lineitem l JOIN g USING (l_returnflag) GROUP BY 1)
        |SELECT g.l_returnflag, o.n_rows,
        |  q1, med, q3, iqr, lo_fence, hi_fence, o.n_outliers
        |FROM g JOIN o USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin)),

    // Higher moments: population skewness and excess kurtosis from raw
    // decimal power sums (built-in skewness/kurtosis are accumulation-
    // order-dependent; raw moments partial-aggregate map-side and the
    // central-moment algebra runs on engine-identical inputs). Output
    // snaps via the decimal cast, not ROUND (half-boundary discipline).
    Q("d_agg_moments", (s, d) => {
      val x = col("l_quantity")
      val snap = (c: org.apache.spark.sql.Column) =>
        c.cast(org.apache.spark.sql.types.DecimalType(38, 6)).cast("double")
      Io.table(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("double").as("n"),
          decSum(x).as("s1"), decSum(x * x).as("s2"),
          decSum(x * x * x).as("s3"), decSum(x * x * x * x).as("s4"))
        .select(col("l_returnflag"), col("n").cast("long").as("n_rows"), {
          val n = col("n"); val mu = col("s1") / n
          val m2 = col("s2") / n - mu * mu
          val m3 = col("s3") / n - lit(3.0) * mu * (col("s2") / n) + lit(2.0) * mu * mu * mu
          val m4 = col("s4") / n - lit(4.0) * mu * (col("s3") / n) +
            lit(6.0) * mu * mu * (col("s2") / n) - lit(3.0) * mu * mu * mu * mu
          // m2 * sqrt(m2), not pow(m2, 1.5): sqrt is correctly rounded
          // in IEEE-754 on both engines, pow is libm-dependent.
          // Zero-variance guard: a constant group has m2 = 0, where the
          // ratio is Inf/NaN and decimal-cast/NULL behavior diverges
          // between engines — emit NULL (skewness/kurtosis undefined).
          struct(snap(mu).as("mean_qty"),
            snap(when(m2 > 0, m3 / (m2 * sqrt(m2)))).as("skewness"),
            snap(when(m2 > 0, m4 / (m2 * m2) - 3.0)).as("excess_kurtosis"))
        }.as("m"))
        .select(col("l_returnflag"), col("n_rows"),
          col("m.mean_qty"), col("m.skewness"), col("m.excess_kurtosis"))
        .orderBy("l_returnflag")
    }, Some(
      s"""WITH m AS (
         |  SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
         |    ${dSum("l_quantity")} AS s1,
         |    ${dSum("l_quantity * l_quantity")} AS s2,
         |    ${dSum("l_quantity * l_quantity * l_quantity")} AS s3,
         |    ${dSum("l_quantity * l_quantity * l_quantity * l_quantity")} AS s4
         |  FROM lineitem GROUP BY l_returnflag),
         |c AS (
         |  SELECT l_returnflag, n, s1 / n AS mu,
         |    s2 / n - (s1 / n) * (s1 / n) AS m2,
         |    s3 / n - 3.0 * (s1 / n) * (s2 / n) + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
         |    s4 / n - 4.0 * (s1 / n) * (s3 / n)
         |      + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
         |      - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
         |  FROM m)
         |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
         |  CAST(CAST(mu AS DECIMAL(38,6)) AS DOUBLE) AS mean_qty,
         |  CAST(CAST(CASE WHEN m2 > 0 THEN m3 / (m2 * SQRT(m2)) END
         |       AS DECIMAL(38,6)) AS DOUBLE) AS skewness,
         |  CAST(CAST(CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3.0 END
         |       AS DECIMAL(38,6)) AS DOUBLE) AS excess_kurtosis
         |FROM c ORDER BY l_returnflag""".stripMargin)),

    // l_quantity is integral-valued double → exact percentile interpolation.
    // Computed via Q.exactPercentiles (sketch-bracketed selection), not
    // the holistic `percentile`/`median` aggregates whose single buffer
    // holds every group value — same interpolation, mergeable plan.
    Q("d_agg_percentile", (s, d) => {
      Q.exactPercentiles(
        Io.table(s, d, "lineitem").select(col("l_returnflag"), col("l_quantity")),
        "l_returnflag", "l_quantity",
        Seq((0.5, "med_qty"), (0.25, "p25_qty"), (0.75, "p75_qty")))
        .select(col("l_returnflag"), col("med_qty"), col("p25_qty"), col("p75_qty"))
        .orderBy("l_returnflag")
    }, Some(
      """SELECT l_returnflag, MEDIAN(l_quantity) AS med_qty,
        |       QUANTILE_CONT(l_quantity, 0.25) AS p25_qty,
        |       QUANTILE_CONT(l_quantity, 0.75) AS p75_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Deterministic collect: sorted list serialized to one string.
    Q("d_agg_collect", (s, d) => {
      Io.table(s, d, "orders")
        .filter(col("o_custkey") <= 50)
        .groupBy(col("o_custkey"))
        .agg(array_join(sort_array(collect_list(col("o_orderpriority"))), ",").as("priorities"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_custkey")
    }, Some(
      """SELECT o_custkey, STRING_AGG(o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities,
        |       COUNT(*) AS n_orders
        |FROM orders WHERE o_custkey <= 50
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // HLL++ sketch differs from DuckDB's HLL → rows-only check here;
    // bounds vs exact distinct asserted in scalatest.
    // HLL sketches differ across engines, so the raw approx count is not
    // oracle-checkable. Instead emit the exact distinct count plus a
    // within-10%-of-exact flag: each engine's HLL is deterministic, both
    // flags come out true, and the query becomes hash-checkable while
    // still exercising the sketch path end-to-end.
    Q("d_agg_approx_hll", (s, d) => {
      Io.table(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_partkey")).as("approx_raw"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_raw") - col("exact_parts")) <=
            col("exact_parts") * 0.1).as("approx_ok"))
        .orderBy("l_returnflag")
    }, Some(
      """SELECT l_returnflag,
        |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  ABS(approx_count_distinct(l_partkey) - COUNT(DISTINCT l_partkey))
        |    <= COUNT(DISTINCT l_partkey) * 0.1 AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Mergeable-sketch rollup — the pattern that makes distinct counts
    // work at 100 TB: build a Datasketches HLL PER PARTITION-GRAIN
    // (here: per event_type via hll_sketch_agg), persist/ship the
    // sketch bytes, and answer the GLOBAL question by hll_union_agg
    // over the sketches — never re-reading raw data. That union step
    // is what approx_count_distinct alone doesn't surface (its sketch
    // is internal); d_agg_approx_hll checks the per-group estimate,
    // this row checks the ALGEBRAIC MERGE. Same tolerance-flag oracle
    // discipline: exact counts are the checked values; each engine's
    // own sketch machinery (Spark: HLL union over per-group sketches;
    // DuckDB: its native approx_count_distinct over the same rows) is
    // bounds-checked within 10% of exact, so the approximate path IS
    // exercised while the checked output stays deterministic.
    Q("d_agg_hll_union", (s, d) => {
      val ev = Io.events(s, d).select(col("event_type"), col("user_id"))
      val sk = ev.groupBy(col("event_type"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"),
          countDistinct(col("user_id")).as("exact_users"))
      val per = sk.select(col("event_type"), col("exact_users"),
        (abs(expr("hll_sketch_estimate(sk)") - col("exact_users")) <=
          col("exact_users") * 0.1).as("approx_ok"))
      val merged = sk.agg(
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("m"))
      val exactG = ev.agg(countDistinct(col("user_id")).as("exact_global"))
      per.crossJoin(broadcast(merged)).crossJoin(broadcast(exactG))
        .select(col("event_type"), col("exact_users"), col("approx_ok"),
          col("exact_global"),
          (abs(col("m") - col("exact_global")) <=
            col("exact_global") * 0.1).as("merged_ok"))
        .orderBy("event_type")
    }, Some(
      """WITH per AS (
        |  SELECT event_type,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        |    ABS(approx_count_distinct(user_id) - COUNT(DISTINCT user_id))
        |      <= COUNT(DISTINCT user_id) * 0.1 AS approx_ok
        |  FROM events GROUP BY event_type),
        |g AS (
        |  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_global,
        |    ABS(approx_count_distinct(user_id) - COUNT(DISTINCT user_id))
        |      <= COUNT(DISTINCT user_id) * 0.1 AS merged_ok
        |  FROM events)
        |SELECT per.event_type, per.exact_users, per.approx_ok,
        |  g.exact_global, g.merged_ok
        |FROM per, g ORDER BY per.event_type""".stripMargin)),

    // Quantile sketch, same tolerance-flag pattern as d_agg_approx_hll:
    // the exact per-group median is the checked value; each engine's
    // sketch (approx_percentile / approx_quantile) is asserted within 5%
    // of it — deterministic per engine, identical flags across engines.
    Q("d_agg_approx_pctl", (s, d) => {
      val li = Io.table(s, d, "lineitem").select(col("l_returnflag"), col("l_quantity"))
      // exact reference via the sketch-bracketed selection (no
      // holistic buffer); the sketch side stays approx_percentile —
      // KLL-style sketches merge, so that aggregate already scales.
      val exact = Q.exactPercentiles(li, "l_returnflag", "l_quantity",
        Seq((0.5, "exact_med")))
      val approx = li.groupBy(col("l_returnflag"))
        .agg(expr("approx_percentile(l_quantity, 0.5, 1000)").as("approx_med"))
      exact.join(approx, "l_returnflag")
        .select(col("l_returnflag"), col("exact_med"),
          (abs(col("approx_med") - col("exact_med")) <=
            col("exact_med") * 0.05).as("approx_ok"))
        .orderBy("l_returnflag")
    }, Some(
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS exact_med,
        |  ABS(approx_quantile(l_quantity, 0.5) - quantile_cont(l_quantity, 0.5))
        |    <= quantile_cont(l_quantity, 0.5) * 0.05 AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Theta-sketch set algebra (Spark 4's Datasketches surface): the
    // mergeable-sketch answer to distinct-INTERSECTION questions that
    // HLL cannot express (HLL unions only). Per-event-type theta
    // sketches over user_id are built once (one keyed aggregate —
    // sketch bytes are what a 100 TB deployment persists per
    // partition-grain), then click∩purchase, click∖purchase and the
    // union-over-all-types are answered from the SKETCHES, never
    // re-reading raw rows. Checked values are the exact counts
    // (distinct-join / anti-join / count-distinct); each sketch
    // estimate is asserted within 5% of exact. With default lgK=12 the
    // sketches stay in exact mode below 4096 distinct keys, so the
    // flags are deterministic at every SF; DuckDB has no theta sketch,
    // so its twin emits the literal TRUE the Spark side must reproduce
    // (the exact counts are the hash-checked payload).
    Q("d_agg_theta_setops", (s, d) => {
      val ev = Io.events(s, d).select(col("event_type"), col("user_id"))
      // Missing-arm set algebra (r12 sweep): a corpus slice with no
      // click (or purchase) events must still emit the one scalar row
      // the oracle emits. A GLOBAL aggregate always returns one row —
      // the arm sketches pivot out of the per-type sketch table as
      // max(when(...)) columns (at most one row per type, so the max
      // IS that sketch; an absent arm pivots to NULL) and the set
      // identities apply explicitly: ∩ with the absent arm is empty
      // (0), A∖∅ = A, ∅∖B = ∅. This one-row pivot replaces the r14
      // form's two filtered-sketch broadcasts + four scalar
      // crossJoin(broadcast(...)) attaches — six broadcast builds per
      // execution, the gate's dominant excursion class under host
      // contention (r14 VERDICT item 3) — with a single aggregate
      // subtree and two one-row attach joins.
      val estRow = ev.groupBy(col("event_type"))
        .agg(expr("theta_sketch_agg(user_id)").as("sk"))
        .agg(
          max(when(col("event_type") === "click", col("sk"))).as("skc"),
          max(when(col("event_type") === "purchase", col("sk"))).as("skp"),
          coalesce(expr("theta_sketch_estimate(theta_union_agg(sk))"),
            lit(0.0)).as("est_all"))
        .select(
          when(col("skc").isNotNull && col("skp").isNotNull,
            expr("theta_sketch_estimate(theta_intersection(skc, skp))"))
            .otherwise(lit(0.0)).as("est_both"),
          when(col("skc").isNull, lit(0.0))
            .when(col("skp").isNull, expr("theta_sketch_estimate(skc)"))
            .otherwise(
              expr("theta_sketch_estimate(theta_difference(skc, skp))"))
            .as("est_only"),
          col("est_all"))
      val uc = ev.filter(col("event_type") === "click")
        .select(col("user_id")).distinct()
      val up = ev.filter(col("event_type") === "purchase")
        .select(col("user_id")).distinct()
      // one OUTER join answers both ∩ and ∖ (the r14 form ran a join
      // AND an anti-join over the same distinct sets)
      val exacts = uc.join(up.withColumn("_p", lit(1)), Seq("user_id"), "left")
        .agg(count(col("_p")).as("exact_both"),
          count(when(col("_p").isNull, lit(1))).as("exact_click_only"))
      val exactAll = ev.agg(countDistinct(col("user_id")).as("exact_all"))
      estRow.crossJoin(broadcast(exacts)).crossJoin(broadcast(exactAll))
        .select(col("exact_both"),
          (abs(col("est_both") - col("exact_both")) <=
            col("exact_both") * 0.05).as("inter_ok"),
          col("exact_click_only"),
          (abs(col("est_only") - col("exact_click_only")) <=
            col("exact_click_only") * 0.05).as("diff_ok"),
          col("exact_all"),
          (abs(col("est_all") - col("exact_all")) <=
            col("exact_all") * 0.05).as("union_ok"))
    }, Some(
      """WITH uc AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
        |up AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM uc JOIN up USING (user_id))
        |    AS exact_both,
        |  TRUE AS inter_ok,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM uc
        |   WHERE user_id NOT IN (SELECT user_id FROM up)) AS exact_click_only,
        |  TRUE AS diff_ok,
        |  (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events)
        |    AS exact_all,
        |  TRUE AS union_ok""".stripMargin)),

    // KLL quantile sketch (Karnin-Lang-Liberty '16, Spark 4's
    // Datasketches surface): the MERGEABLE quantile summary a 100 TB
    // pipeline keeps when the exact two-pass percentile
    // (d_agg_percentile) is one pass too many — one keyed aggregate
    // builds the sketch, quantiles read off the bytes. Checked values
    // are the exact type-7 percentiles (the mergeable windowed
    // machinery, no holistic buffer); the KLL-returned values are
    // asserted inside the exact [p−6.25%, p+6.25%] rank band — ~4× the
    // sketch's 1.33% rank-error bound at k=200, so the flag is
    // deterministic under any partial-merge order. Band edges use
    // DYADIC ps (7/16, 9/16, 27/32, 31/32): exactly-representable
    // doubles, so both engines interpolate bit-identically. The sketch
    // row count (kll_sketch_get_n) is checked EXACTLY against
    // count(*) — the merge loses no mass. DuckDB's twin runs its own
    // t-digest (approx_quantile) through the same bands.
    Q("d_agg_kll_quantiles", (s, d) => {
      val li = Io.table(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"))
      val exact = Q.exactPercentiles(li, "l_returnflag", "l_quantity",
        Seq((0.4375, "lo50"), (0.5, "exact_med"), (0.5625, "hi50"),
          (0.84375, "lo90"), (0.9, "exact_p90"), (0.96875, "hi90")))
      val sk = li.groupBy(col("l_returnflag"))
        .agg(expr("kll_sketch_agg_double(CAST(l_quantity AS DOUBLE), 200)").as("sk"),
          count(lit(1)).as("n_rows"))
        .select(col("l_returnflag"), col("n_rows"),
          expr("kll_sketch_get_quantile_double(sk, 0.5)").as("k50"),
          expr("kll_sketch_get_quantile_double(sk, 0.9)").as("k90"),
          expr("kll_sketch_get_n_double(sk)").as("k_n"))
      exact.join(sk, "l_returnflag")
        .select(col("l_returnflag"), col("exact_med"), col("exact_p90"),
          (col("k50") >= col("lo50") && col("k50") <= col("hi50")).as("k50_ok"),
          (col("k90") >= col("lo90") && col("k90") <= col("hi90")).as("k90_ok"),
          (col("k_n") === col("n_rows")).as("n_ok"))
        .orderBy("l_returnflag")
    }, Some(
      """SELECT l_returnflag,
        |  QUANTILE_CONT(l_quantity, 0.5) AS exact_med,
        |  QUANTILE_CONT(l_quantity, 0.9) AS exact_p90,
        |  approx_quantile(l_quantity, 0.5)
        |    BETWEEN QUANTILE_CONT(l_quantity, 0.4375)
        |        AND QUANTILE_CONT(l_quantity, 0.5625) AS k50_ok,
        |  approx_quantile(l_quantity, 0.9)
        |    BETWEEN QUANTILE_CONT(l_quantity, 0.84375)
        |        AND QUANTILE_CONT(l_quantity, 0.96875) AS k90_ok,
        |  TRUE AS n_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Count-min sketch frequency estimation + heavy-hitter audit
    // (Cormode & Muthukrishnan '05). Unlike the engine-native HLL/KLL
    // sketches above (tolerance-flag oracles), this CMS is built from
    // EXPLICIT hashing — depth 4 rows × width 1024 cells, cell =
    // Q.coin(key + r·1000003) mod w — so the sketch is a deterministic
    // function of the data and the whole query hash-checks exactly:
    // sketch build, point queries, and the guaranteed est ≥ exact
    // overcount are all parity-checked. Scale shape: the sketch is
    // r·w = 4096 counters REGARDLESS of key cardinality (one map-side
    // explode + (r,c) hash-agg — the mergeable frequency summary a
    // 100 TB stream keeps when per-key state is impossible); the
    // audit probes it with the exact top-20 (TakeOrderedAndProject)
    // through a broadcast join of the 4096-row sketch.
    Q("d_agg_cms_freq", (s, d) => {
      val w = 1024
      val depth = 4
      def cell = expr(
        s"CAST(${Q.coin(s"(user_id + r * 1000003)")} AS BIGINT) % $w")
      val ev = Io.events(s, d).select(col("user_id"))
      // one corpus pass (r15): every user in a cell contributes exactly
      // its row count, so the sketch is the per-user count table
      // re-aggregated by cell — the ×depth explode now runs over USER
      // aggregates (map-side-combined first), not raw rows, and the
      // same table serves the exact top-20 candidates. Values are
      // bit-identical (Σ_users-in-cell n_user = row count of the cell).
      // localCheckpoint-only scratch (r16, ADVICE r15): per-query frame
      // with exactly two consumers in one execution — routing it through
      // the parquet artifact store would write a user-cardinality-sized
      // table per run just to read it back once.
      val ucnt = Q.scratch("cms_ucnt")(
        ev.groupBy("user_id").agg(count(lit(1)).as("n_exact")))
      val cms = ucnt
        .select(col("user_id"), col("n_exact"),
          explode(sequence(lit(0), lit(depth - 1))).as("r"))
        .select(col("r"), cell.as("c"), col("n_exact"))
        .groupBy("r", "c").agg(sum(col("n_exact")).as("cnt"))
      val cand = ucnt
        .orderBy(col("n_exact").desc, col("user_id")).limit(20)
      cand
        .select(col("user_id"), col("n_exact"),
          explode(sequence(lit(0), lit(depth - 1))).as("r"))
        .withColumn("c", cell)
        .join(broadcast(cms), Seq("r", "c"))
        .groupBy(col("user_id"), col("n_exact"))
        .agg(min(col("cnt")).as("cms_est"))
        .select(col("user_id"), col("n_exact"), col("cms_est"),
          (col("cms_est") - col("n_exact")).as("overcount"))
        .orderBy(col("n_exact").desc, col("user_id"))
    }, Some(
      s"""WITH ev AS (SELECT user_id FROM events),
         |rs AS (SELECT UNNEST(generate_series(0, 3)) AS r),
         |cms AS (
         |  SELECT r, CAST(${Q.coin("(user_id + r * 1000003)")} AS BIGINT) % 1024 AS c,
         |    COUNT(*) AS cnt
         |  FROM ev CROSS JOIN rs GROUP BY 1, 2),
         |cand AS (
         |  SELECT user_id, COUNT(*) AS n_exact FROM ev GROUP BY user_id
         |  ORDER BY n_exact DESC, user_id LIMIT 20),
         |est AS (
         |  SELECT cand.user_id, cand.n_exact, MIN(cms.cnt) AS cms_est
         |  FROM cand CROSS JOIN rs
         |  JOIN cms ON cms.r = rs.r
         |    AND cms.c = CAST(${Q.coin("(cand.user_id + rs.r * 1000003)")} AS BIGINT) % 1024
         |  GROUP BY 1, 2)
         |SELECT user_id, n_exact, CAST(cms_est AS BIGINT) AS cms_est,
         |  CAST(cms_est - n_exact AS BIGINT) AS overcount
         |FROM est ORDER BY n_exact DESC, user_id""".stripMargin)),

    // Linear-regression aggregates. The checked values are computed from
    // exact decimal moment sums (order-independent, identical on both
    // engines); the builtin streaming regr_slope/regr_intercept are
    // additionally asserted to sit within 1e-6 relative of the exact
    // value — so the builtin path is exercised AND the output stays
    // hash-stable.
    Q("d_agg_regr", (s, d) => {
      val x = col("l_quantity").cast("double")
      val y = col("l_extendedprice").cast("double")
      Io.table(s, d, "lineitem")
        .select(col("l_returnflag"), x.as("x"), y.as("y"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          decSum(col("x")).as("sx"), decSum(col("y")).as("sy"),
          decSum(col("x") * col("y")).as("sxy"),
          decSum(col("x") * col("x")).as("sxx"),
          expr("regr_slope(y, x)").as("bslope"),
          expr("regr_intercept(y, x)").as("bicept"))
        // zero-variance guard (r12 sweep): constant x zeroes the slope
        // denominator — NULL matches DuckDB's /0 → NULL (oracle text
        // unchanged; regr_slope itself returns NULL there in both)
        .select(Seq(col("l_returnflag"), col("n")) ++ {
          val den = col("n") * col("sxx") - col("sx") * col("sx")
          val slope = when(den =!= 0,
            (col("n") * col("sxy") - col("sx") * col("sy")) / den)
          Seq(r6(slope).as("slope"),
            r6((col("sy") - slope * col("sx")) / col("n")).as("icept"),
            (abs(col("bslope") - slope) <= abs(slope) * 1e-6)
              .as("builtin_ok"))
        }: _*)
        .orderBy("l_returnflag")
    }, Some(
      s"""WITH m AS (
         |  SELECT l_returnflag, COUNT(*) AS n,
         |    ${dSum("l_quantity")} AS sx, ${dSum("l_extendedprice")} AS sy,
         |    ${dSum("l_quantity * l_extendedprice")} AS sxy,
         |    ${dSum("l_quantity * l_quantity")} AS sxx,
         |    regr_slope(l_extendedprice, l_quantity) AS bslope
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, n,
         |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
         |  ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS icept,
         |  ABS(bslope - (n * sxy - sx * sy) / (n * sxx - sx * sx))
         |    <= ABS((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 1e-6 AS builtin_ok
         |FROM m ORDER BY l_returnflag""".stripMargin)),

    // Boolean aggregates + conditional counting per group.
    Q("d_agg_bool", (s, d) => {
      Io.table(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(expr("bool_and(o_totalprice > 1000.0)").as("all_over_1k"),
          expr("bool_or(o_totalprice > 400000.0)").as("any_over_400k"),
          expr("count_if(o_orderstatus = 'F')").as("n_finished"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }, Some(
      """SELECT o_orderpriority,
        |  bool_and(o_totalprice > 1000.0) AS all_over_1k,
        |  bool_or(o_totalprice > 400000.0) AS any_over_400k,
        |  CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS n_finished,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Pairwise Pearson correlation matrix over lineitem's numeric
    // measures — the feature-selection pre-pass, as ONE scan: every
    // power sum (Σx, Σx², Σxy for all 6 pairs) is a parallel
    // map-side-combined aggregate; the matrix itself is a driver-sized
    // stack of scalar expressions. Products are taken IN DECIMAL
    // (cast each factor to DECIMAL(18,6) first): price² ~1e10 has a
    // double ulp above the 1e-6 grid, so a double product cast to
    // decimal would not be engine-exact, while the decimal product is
    // exact by construction (the d_agg_weighted_stats lesson applied).
    Q("d_agg_corr_matrix", (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val vars = Seq(
        "quantity" -> col("l_quantity"),
        "extprice" -> col("l_extendedprice"),
        "discount" -> col("l_discount"),
        "tax" -> col("l_tax"))
      val d18 = (c: Column) => c.cast(DecimalType(18, 6))
      val sums = vars.flatMap { case (nm, c) =>
        Seq(sum(d18(c)).cast("double").as(s"s_$nm"),
          sum(d18(c) * d18(c)).cast("double").as(s"ss_$nm"))
      }
      val pairs = for {
        ((na, ca), i) <- vars.zipWithIndex
        (nb, cb) <- vars.drop(i + 1)
      } yield (na, nb, ca, cb)
      val prods = pairs.map { case (na, nb, ca, cb) =>
        sum(d18(ca) * d18(cb)).cast("double").as(s"sp_${na}_$nb")
      }
      // The sf bench corpus is ONE ~11 MB parquet file → a 1-task scan,
      // which would serialize all 22 per-row Decimal(18,6) multiplies
      // (precision-37 intermediates = BigDecimal objects, ~13M allocs)
      // into a single thread — measured 1.6 s C2-compiled but 4-17 s
      // when the freshly-generated aggregate code runs at a lower JIT
      // tier, which is exactly the driver-host spike VERDICT r6/r8
      // flagged. Repartitioning the 4-column projection (~19 MB) lets
      // the partial aggregate run on every core; at 100 TB the scan is
      // already parallel and this is a no-op cost-wise (same argument
      // as docMasksBuild).
      val a = Io.table(s, d, "lineitem")
        .select(vars.map(_._2): _*)
        .repartition(s.sparkContext.defaultParallelism)
        .agg(count(lit(1)).cast("double").as("n"), (sums ++ prods): _*)
      // degenerate guards (r12 sweep), mirrored in the oracle: centered
      // squares clamp at 0 (double-rounded power sums can cancel to
      // −dust — Spark sqrt(neg) is NaN but DuckDB's RAISES) and a
      // zero-variance column leaves corr undefined (NULL, matching
      // DuckDB's natural /0 → NULL)
      val corrCols = pairs.map { case (na, nb, _, _) =>
        val va = greatest(lit(0.0),
          col("n") * col(s"ss_$na") - col(s"s_$na") * col(s"s_$na"))
        val vb = greatest(lit(0.0),
          col("n") * col(s"ss_$nb") - col(s"s_$nb") * col(s"s_$nb"))
        val den = sqrt(va) * sqrt(vb)
        when(den =!= 0.0,
          (col("n") * col(s"sp_${na}_$nb") - col(s"s_$na") * col(s"s_$nb"))
            / den)
          .cast(org.apache.spark.sql.types.DecimalType(38, 6)).cast("double")
          .as(s"c_${na}_$nb")
      }
      val stackArgs = pairs.map { case (na, nb, _, _) =>
        s"'$na', '$nb', c_${na}_$nb"
      }.mkString(", ")
      a.select(col("n") +: corrCols: _*)
        .select(expr(s"stack(${pairs.size}, $stackArgs) AS (var_a, var_b, corr)"),
          col("n").cast("long").as("n_rows"))
        .orderBy("var_a", "var_b")
    }, Some {
      val vars = Seq("quantity" -> "l_quantity", "extprice" -> "l_extendedprice",
        "discount" -> "l_discount", "tax" -> "l_tax")
      // first product factor widens to DECIMAL(19,6): DuckDB multiplies
      // two DECIMAL(18)s in int64 and overflows on price sums; 19 digits
      // forces the int128 path with identical (exact) values.
      val dec = (x: String) => s"CAST($x AS DECIMAL(18,6))"
      val decW = (x: String) => s"CAST($x AS DECIMAL(19,6))"
      val sums = vars.flatMap { case (nm, c) =>
        Seq(s"CAST(SUM(${dec(c)}) AS DOUBLE) AS s_$nm",
          s"CAST(SUM(${decW(c)} * ${dec(c)}) AS DOUBLE) AS ss_$nm")
      }
      val pairs = for {
        ((na, ca), i) <- vars.zipWithIndex
        (nb, cb) <- vars.drop(i + 1)
      } yield (na, nb, ca, cb)
      val prods = pairs.map { case (na, nb, ca, cb) =>
        s"CAST(SUM(${decW(ca)} * ${dec(cb)}) AS DOUBLE) AS sp_${na}_$nb"
      }
      val rows = pairs.map { case (na, nb, _, _) =>
        val corr = s"(n * sp_${na}_$nb - s_$na * s_$nb) / " +
          s"(SQRT(GREATEST(0, n * ss_$na - s_$na * s_$na)) * " +
          s"SQRT(GREATEST(0, n * ss_$nb - s_$nb * s_$nb)))"
        s"SELECT '$na' AS var_a, '$nb' AS var_b, " +
          s"CAST(CAST($corr AS DECIMAL(38,6)) AS DOUBLE) AS corr, " +
          "CAST(n AS BIGINT) AS n_rows FROM a"
      }
      s"""WITH a AS (
         |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         |    ${(sums ++ prods).mkString(",\n    ")}
         |  FROM lineitem)
         |${rows.mkString("\nUNION ALL\n")}
         |ORDER BY var_a, var_b""".stripMargin
    }),

    // Mode with an explicit tie policy (most frequent l_quantity per
    // return flag, smallest value on frequency ties) — the distributed
    // complement to d_agg_mode's builtin mode() (whose checked setup
    // dodges ties). Windowless two-agg shape: value-keyed counts,
    // per-group max joined back, min-value tiebreak — every step is a
    // hash-agg or a keyed join on grouped (already bounded) data, so no
    // per-group buffer ever holds raw rows. The max-count table is
    // groups-sized → AQE broadcasts it.
    Q("d_agg_mode_qty", (s, d) => {
      val c = Io.table(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("n_obs"))
      val m = c.groupBy(col("l_returnflag")).agg(max(col("n_obs")).as("n_obs"))
      c.join(m, Seq("l_returnflag", "n_obs"))
        .groupBy(col("l_returnflag"), col("n_obs"))
        .agg(min(col("l_quantity")).as("mode_qty"))
        .select(col("l_returnflag"), col("mode_qty"), col("n_obs"))
        .orderBy("l_returnflag")
    }, Some(
      """WITH c AS (
        |  SELECT l_returnflag, l_quantity, COUNT(*) AS n_obs
        |  FROM lineitem GROUP BY 1, 2),
        |m AS (SELECT l_returnflag, MAX(n_obs) AS n_obs FROM c GROUP BY 1)
        |SELECT c.l_returnflag, MIN(c.l_quantity) AS mode_qty, c.n_obs
        |FROM c JOIN m ON c.l_returnflag = m.l_returnflag AND c.n_obs = m.n_obs
        |GROUP BY c.l_returnflag, c.n_obs
        |ORDER BY c.l_returnflag""".stripMargin))
  )
}
