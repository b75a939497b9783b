package graft.ops

import graft.io.Io
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Q._

/** SURVEY.md §2-E — window functions.
  *
  * Every window carries a total order inside the partition (unique key as
  * final sort key) so ranks and frames are deterministic. Running /
  * sliding sums of doubles go through DECIMAL inside the frame: DuckDB
  * evaluates windowed sums with a segment tree (non-linear accumulation
  * order), so plain double sums would drift between engines. Windows
  * shuffle once on the partition key — the same plan shape a 1000-node
  * cluster would use.
  */
object WindowOps {

  private val dec = DecimalType(38, 6)

  val all: Seq[Q] = Seq(
    Q("e_win_rank", (s, d) => {
      // rank/dense_rank ordered on a tie-heavy key (priority); row_number
      // gets a unique tiebreak of its own. The windows shuffle once, by
      // range on the partition key: that exchange also serves the final
      // ORDER BY, and rn follows (priority, orderkey) inside a customer,
      // so ordering by those is ordering by rn — the window's own sort
      // already delivers it (no second exchange, no final sort).
      val wTies = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderpriority"))
      val wUniq = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
      Io.table(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderpriority"))
        .repartitionByRange(col("o_custkey"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderpriority"),
          row_number().over(wUniq).as("rn"),
          rank().over(wTies).as("rk"),
          dense_rank().over(wTies).as("drk"))
        .orderBy("o_custkey", "o_orderpriority", "o_orderkey")
    }, Some(
      """SELECT o_custkey, o_orderkey, o_orderpriority,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority, o_orderkey) AS rn,
        |  RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS rk,
        |  DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS drk
        |FROM orders ORDER BY o_custkey, rn""".stripMargin)),

    Q("e_win_topk_group", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Io.table(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_custkey", "rn")
    }, Some(
      """SELECT o_custkey, ROW_NUMBER() OVER w AS rn, o_orderkey, o_totalprice
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |QUALIFY rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),

    // Global ntile/percent_rank/cume_dist WITHOUT a global window: a
    // `Window.orderBy` with no partitionBy funnels every row through one
    // task — the 100 TB scale-killer. Instead, the global row number
    // and row count come from Q.prefixScan (range partition, per-part
    // row_number, per-part offsets), and ntile / percent_rank /
    // cume_dist are pure arithmetic on (rn, n) and the tie-group min/max
    // rn (one value-keyed aggregate) — no ranking function ever sees a
    // single-partition exchange. Pinned in PlanShapeSpec.
    Q("e_win_ntile_pct", (s, d) => {
      val cust = Io.table(s, d, "customer").select(col("c_custkey"), col("c_acctbal"))
      val ranked = Q.prefixScan(cust, "ntile_ranked", Seq(col("c_acctbal"), col("c_custkey")))
      // tie groups on the ranking value: rank = min rn, cume numerator =
      // max rn — contiguous in the global order, so one aggregate keyed
      // on the value recovers both (shuffle on c_acctbal, no sort).
      val ties = ranked.groupBy(col("c_acctbal").as("tv"))
        .agg(min(col("rn")).as("rk"), max(col("rn")).as("mxrn"))
      // NTILE(4) in exact integer arithmetic: the first n%4 buckets get
      // one extra row; ceil(a/b) = (a+b-1) DIV b keeps it overflow- and
      // rounding-safe at any n.
      val quartile = expr(
        """CAST(CASE
          |  WHEN rn <= (n_total % 4) * (n_total DIV 4 + 1)
          |    THEN (rn + n_total DIV 4) DIV (n_total DIV 4 + 1)
          |  ELSE (n_total % 4)
          |    + (rn - (n_total % 4) * (n_total DIV 4 + 1) + n_total DIV 4 - 1)
          |      DIV (n_total DIV 4)
          |END AS INT)""".stripMargin)
      ranked.join(ties, col("c_acctbal") === col("tv"))
        .select(col("c_custkey"), col("c_acctbal"),
          quartile.as("quartile"),
          r6(when(col("n_total") > 1,
            (col("rk") - 1).cast("double") / (col("n_total") - 1))
            .otherwise(0.0)).as("pct_rank"),
          r6(col("mxrn").cast("double") / col("n_total")).as("cume"))
        .orderBy("c_custkey")
    }, Some(
      """SELECT c_custkey, c_acctbal,
        |  NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile,
        |  ROUND(PERCENT_RANK() OVER (ORDER BY c_acctbal), 6) AS pct_rank,
        |  ROUND(CUME_DIST() OVER (ORDER BY c_acctbal), 6) AS cume
        |FROM customer ORDER BY c_custkey""".stripMargin)),

    Q("e_win_lag_lead", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      Io.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          lag(col("ts_us"), 1).over(w).as("prev_us"),
          lead(col("ts_us"), 1).over(w).as("next_us"))
        .withColumn("gap_us", col("ts_us") - col("prev_us"))
        .orderBy("event_id")
    }, Some(
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  LAG(epoch_us(ts), 1) OVER w AS prev_us,
        |  LEAD(epoch_us(ts), 1) OVER w AS next_us,
        |  epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w AS gap_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |ORDER BY event_id""".stripMargin)),

    Q("e_win_running", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Io.table(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("o_date"),
          r4(sum(col("o_totalprice").cast(dec)).over(w).cast("double")).as("running_rev"))
        .orderBy("o_custkey", "o_date", "o_orderkey")
    }, Some(
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER w AS DOUBLE), 4) AS running_rev
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_date, o_orderkey""".stripMargin)),

    Q("e_win_sliding_rows", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-6, Window.currentRow)
      Io.table(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          r4(sum(col("o_totalprice").cast(dec)).over(w).cast("double") /
            count(lit(1)).over(w)).as("mov_avg_price"),
          count(lit(1)).over(w).as("n_window"))
        .orderBy("o_custkey", "o_orderkey")
    }, Some(
      """SELECT o_custkey, o_orderkey,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER w AS DOUBLE)
        |        / COUNT(*) OVER w, 4) AS mov_avg_price,
        |  COUNT(*) OVER w AS n_window
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // DISTINCT aggregate over a sliding ROWS frame — an engine-surface
    // corner Spark's window functions don't offer natively (no
    // COUNT(DISTINCT) OVER): spelled as size(array_distinct(
    // collect_list OVER)) — semantically identical, and the frame is a
    // bounded 3 rows so the per-row array is O(frame), never O(group).
    // DuckDB runs the literal COUNT(DISTINCT x) OVER, so the rewrite's
    // equivalence is itself oracle-checked. Scale: one partition-keyed
    // sort window; the collected payload is frame-bounded, so memory
    // per row is constant — the rewrite is safe at any partition size
    // (unlike an unbounded-frame collect, which this house bans).
    Q("e_win_distinct_sliding", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-2, Window.currentRow)
      Io.table(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          size(array_distinct(collect_list(col("o_orderpriority")).over(w)))
            .as("distinct_prio_3"),
          count(lit(1)).over(w).as("n_window"))
        .orderBy("o_custkey", "o_orderkey")
    }, Some(
      """SELECT o_custkey, o_orderkey,
        |  CAST(COUNT(DISTINCT o_orderpriority) OVER w AS INT) AS distinct_prio_3,
        |  COUNT(*) OVER w AS n_window
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // Time-based RANGE frame: 7-day rolling order count per customer.
    Q("e_win_range_time", (s, d) => {
      val days = datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("day_no"))
        .rangeBetween(-6, Window.currentRow)
      Io.table(s, d, "orders")
        .withColumn("day_no", days)
        .select(col("o_custkey"), col("o_orderkey"), col("day_no"),
          count(lit(1)).over(w).as("orders_7d"),
          r4(sum(col("o_totalprice").cast(dec)).over(w).cast("double")).as("rev_7d"))
        .orderBy("o_custkey", "day_no", "o_orderkey")
    }, Some(
      """SELECT o_custkey, o_orderkey,
        |  CAST(DATE_DIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INT) AS day_no,
        |  COUNT(*) OVER w AS orders_7d,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER w AS DOUBLE), 4) AS rev_7d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY DATE_DIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, day_no, o_orderkey""".stripMargin)),

    Q("e_win_first_last", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Io.table(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_order"),
          last(col("o_orderkey")).over(w).as("last_order"),
          first(col("o_orderdate").cast("date")).over(w).as("first_date"),
          last(col("o_orderdate").cast("date")).over(w).as("last_date"))
        .orderBy("o_custkey", "o_orderkey")
    }, Some(
      """SELECT o_custkey, o_orderkey,
        |  FIRST_VALUE(o_orderkey) OVER w AS first_order,
        |  LAST_VALUE(o_orderkey) OVER w AS last_order,
        |  FIRST_VALUE(CAST(o_orderdate AS DATE)) OVER w AS first_date,
        |  LAST_VALUE(CAST(o_orderdate AS DATE)) OVER w AS last_date
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // nth_value, lead-with-default, and IGNORE NULLS last_value — all on
    // explicit ROWS frames with a unique order key (RANGE frames over
    // tied keys would be engine-dependent).
    Q("e_win_nth", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ord = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Io.table(s, d, "orders")
        .filter(col("o_custkey") < 100)
        .withColumn("nullable_status", nullif(col("o_orderstatus"), lit("O")))
        .select(col("o_custkey"), col("o_orderkey"),
          nth_value(col("o_totalprice"), 2).over(full).as("second_price"),
          lead(col("o_totalprice"), 1, -1.0).over(ord).as("next_price"),
          last(col("nullable_status"), ignoreNulls = true).over(run).as("last_closed"))
        .orderBy("o_custkey", "o_orderkey")
    }, Some(
      """SELECT o_custkey, o_orderkey,
        |  NTH_VALUE(o_totalprice, 2) OVER wf AS second_price,
        |  LEAD(o_totalprice, 1, -1.0) OVER wo AS next_price,
        |  LAST_VALUE(NULLIF(o_orderstatus, 'O') IGNORE NULLS) OVER wr AS last_closed
        |FROM orders WHERE o_custkey < 100
        |WINDOW
        |  wo AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
        |  wr AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin))
  )
}
