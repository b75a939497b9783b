package graft.ops

import graft.io.Io
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Q._

/** SURVEY.md §2-G — batch twins of the streaming operators.
  *
  * Each checked query here is the batch shape of a Structured Streaming
  * pipeline; graft.streaming contains the readStream twins, and
  * StreamParitySpec asserts stream output == these batch results
  * (stream-batch parity). Oracles verify the batch shape against DuckDB.
  *
  * Spark's `window()` buckets are epoch-aligned, which is exactly
  * `epoch_us DIV slide * slide` arithmetic — the DuckDB twins exploit
  * that. Watermark/state notes per query in the streaming package.
  */
object StreamBatchOps {

  private val dec = DecimalType(38, 6)

  val all: Seq[Q] = Seq(
    // 1-hour tumbling window per event type.
    Q("g_tumbling_1h", (s, d) => {
      Io.events(s, d)
        .groupBy(window(col("ts_t"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), r4(decSum(col("value"))).as("sum_value"))
        .select(unix_micros(col("w.start")).as("win_us"), col("event_type"), col("n"), col("sum_value"))
        .orderBy("win_us", "event_type")
    }, Some(
      s"""SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS win_us, event_type,
         |  COUNT(*) AS n, ROUND(${dSum("value")}, 4) AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY win_us, event_type""".stripMargin)),

    // Sliding 1-hour window every 15 minutes: each event lands in exactly
    // 4 epoch-aligned windows.
    Q("g_sliding_1h_15m", (s, d) => {
      Io.events(s, d)
        .groupBy(window(col("ts_t"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .select(unix_micros(col("w.start")).as("win_us"), col("n"), col("n_users"))
        .orderBy("win_us")
    }, Some(
      """SELECT (epoch_us(ts) // 900000000) * 900000000 - CAST(k AS BIGINT) * 900000000 AS win_us,
        |  COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
        |FROM events, (SELECT UNNEST([0, 1, 2, 3]) AS k)
        |GROUP BY 1 ORDER BY win_us""".stripMargin)),

    // Sessionization with a 30-minute inactivity gap: lag → gap flag →
    // running sum = session id; portable SQL on both engines. The
    // streaming twin uses session_window(); SessionWindowSpec asserts the
    // two agree. The events shuffle once, by range on the user: the
    // windows, the per-session aggregate (keyed by user first) and the
    // final ORDER BY all read that one partitioning.
    Q("g_session_30m", (s, d) => {
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Io.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts_us"))
        .repartitionByRange(col("user_id"))
        .withColumn("prev_us", lag(col("ts_us"), 1).over(wOrd))
        .withColumn("new_sess",
          when(col("prev_us").isNull || col("ts_us") - col("prev_us") > 1800000000L, 1L).otherwise(0L))
        .withColumn("sess_no", sum(col("new_sess")).over(wRun))
        .groupBy(col("user_id"), col("sess_no"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_us")).as("sess_start_us"),
          max(col("ts_us")).as("sess_end_us"),
          (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"))
        .orderBy("user_id", "sess_no")
    }, Some(
      """WITH flagged AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN LAG(epoch_us(ts), 1) OVER w IS NULL
        |           OR epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |sess AS (
        |  SELECT user_id, ts_us,
        |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS sess_no
        |  FROM flagged)
        |SELECT user_id, sess_no, COUNT(*) AS n_events,
        |  MIN(ts_us) AS sess_start_us, MAX(ts_us) AS sess_end_us,
        |  MAX(ts_us) - MIN(ts_us) AS duration_us
        |FROM sess GROUP BY user_id, sess_no ORDER BY user_id, sess_no""".stripMargin)),

    // Dedup batch twin: earliest event per (user, type) — the streaming
    // twin is dropDuplicatesWithinWatermark on the same key.
    Q("g_stream_dedup", (s, d) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts_us"), col("event_id"))
      Io.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts_us"))
        .orderBy("user_id", "event_type")
    }, Some(
      """SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us
        |FROM events
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                           ORDER BY epoch_us(ts), event_id) = 1
        |ORDER BY user_id, event_type""".stripMargin)),

    // Stream-static enrichment: events joined to the nation dim on a
    // derived key. Streaming twin: readStream join static DataFrame
    // (broadcast — no state store needed).
    Q("g_stream_static_join", (s, d) => {
      val ev = Io.events(s, d).withColumn("n_key", (col("user_id") % 25).cast("int"))
      val n = Io.table(s, d, "nation")
      ev.join(broadcast(n), col("n_key") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_events"), r4(decSum(col("value"))).as("sum_value"))
        .orderBy("n_name")
    }, Some(
      s"""SELECT n_name, COUNT(*) AS n_events, ROUND(${dSum("value")}, 4) AS sum_value
         |FROM events JOIN nation ON CAST(user_id % 25 AS INT) = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // Per-user ordered event-type path (clickstream sequence analysis).
    // The collect is bounded per user and sorted by a total key, so the
    // rendered path string is deterministic on both engines.
    Q("g_user_path", (s, d) => {
      Io.events(s, d).filter(col("user_id") < 50)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          array_join(
            transform(
              array_sort(collect_list(struct(col("ts_us"), col("event_id"), col("event_type")))),
              x => x.getField("event_type")),
            ">").as("path"))
        .orderBy("user_id")
    }, Some(
      """SELECT user_id, COUNT(*) AS n_events,
        |  string_agg(event_type, '>' ORDER BY epoch_us(ts), event_id, event_type) AS path
        |FROM events WHERE user_id < 50
        |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Batch twin of the stream-stream interval join: each click joined
    // to the same user's purchases within the following hour. Streaming
    // form: two readStreams, watermarks on both sides, time-bound join
    // condition sizes the state store (see StreamParitySpec).
    Q("g_click_purchase_join", (s, d) => {
      val ev = Io.events(s, d)
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts_us").as("c_ts"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purch_id"), col("ts_us").as("p_ts"))
      c.join(p, col("user_id") === col("p_user") &&
          col("p_ts") >= col("c_ts") && col("p_ts") <= col("c_ts") + 3600000000L)
        .select(col("user_id"), col("click_id"), col("purch_id"),
          (col("p_ts") - col("c_ts")).as("lag_us"))
        .orderBy("user_id", "click_id", "purch_id")
    }, Some(
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purch_id,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND epoch_us(p.ts) >= epoch_us(c.ts)
        | AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
        |ORDER BY c.user_id, click_id, purch_id""".stripMargin)),

    // Batch twin of the stream-stream LEFT OUTER time-bounded join
    // (streaming.Streams.purchaseClickLeftOuter, StreamParitySpec):
    // every purchase emits, matched to same-user clicks in the
    // preceding hour or with NULL click columns if none exist — in
    // streaming that null row is emitted only once the watermark
    // proves no match can arrive. Null sort keys coalesce to -1 so
    // row order is engine-independent (Spark sorts nulls first,
    // DuckDB last). Scale shape: equi-join on user_id with a residual
    // time band — one shuffle of each stream, state bounded by the
    // 1-hour window.
    Q("g_click_purchase_outer", (s, d) => {
      val ev = Io.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purch_id"), col("ts_us").as("p_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("ts_us").as("c_ts"))
      p.join(c, col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - 3600000000L && col("c_ts") <= col("p_ts"),
          "left_outer")
        .select(col("user_id"), col("purch_id"), col("click_id"),
          (col("p_ts") - col("c_ts")).as("lag_us"))
        .orderBy(col("user_id"), col("purch_id"), coalesce(col("click_id"), lit(-1L)))
    }, Some(
      """SELECT p.user_id, p.event_id AS purch_id, c.event_id AS click_id,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
        | AND epoch_us(c.ts) <= epoch_us(p.ts)
        |ORDER BY p.user_id, purch_id, COALESCE(c.event_id, -1)""".stripMargin)),

    // Batch twin of the stream-stream RIGHT OUTER time-bounded join
    // (streaming.Streams.purchaseClickRightOuter, StreamParitySpec):
    // the click-preserving mirror of g_click_purchase_outer — every
    // click emits, matched to same-user purchases in the FOLLOWING
    // hour or with null purchase columns once the watermark proves the
    // click's window [c_ts, c_ts + 1h] closed unmatched. Spelled as a
    // genuine right_outer join (purchases remain the left input) so
    // the right-preserving physical path is exercised, completing the
    // inner/left/full/semi/right join-mode matrix. Same single user_id
    // shuffle + residual time band; null sort keys coalesce to -1.
    Q("g_click_purchase_right", (s, d) => {
      val ev = Io.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purch_id"),
          col("ts_us").as("p_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts_us").as("c_ts"))
      p.join(c, col("p_user") === col("user_id") &&
          col("c_ts") >= col("p_ts") - 3600000000L && col("c_ts") <= col("p_ts"),
          "right_outer")
        .select(col("user_id"), col("click_id"), col("purch_id"),
          (col("p_ts") - col("c_ts")).as("lag_us"))
        .orderBy(col("user_id"), col("click_id"), coalesce(col("purch_id"), lit(-1L)))
    }, Some(
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purch_id,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |RIGHT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
        | AND epoch_us(c.ts) <= epoch_us(p.ts)
        |ORDER BY c.user_id, click_id, COALESCE(p.event_id, -1)""".stripMargin)),

    // Batch twin of the stream-stream FULL OUTER time-bounded join
    // (streaming.Streams.purchaseClickFullOuter, StreamParitySpec): the
    // symmetric closure of g_click_purchase_outer — unmatched purchases
    // AND unmatched clicks both emit null-padded rows; in streaming
    // each side's null row is a watermark proof that its window closed
    // with no partner. user_id coalesces across sides (a full-outer row
    // has it on exactly one side when unmatched). Sort keys coalesce
    // nulls to -1 for an engine-independent total order: matched rows
    // are unique on (purch_id, click_id), unmatched ones on whichever
    // id survives. Scale shape: same single user_id shuffle + residual
    // time band as the inner/left forms — outer-ness costs no extra
    // exchange.
    Q("g_click_purchase_full", (s, d) => {
      val ev = Io.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purch_id"),
          col("ts_us").as("p_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("ts_us").as("c_ts"))
      p.join(c, col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - 3600000000L && col("c_ts") <= col("p_ts"),
          "full_outer")
        .select(coalesce(col("p_user"), col("c_user")).as("user_id"),
          col("purch_id"), col("click_id"),
          (col("p_ts") - col("c_ts")).as("lag_us"))
        .orderBy(col("user_id"), coalesce(col("purch_id"), lit(-1L)),
          coalesce(col("click_id"), lit(-1L)))
    }, Some(
      """SELECT COALESCE(p.user_id, c.user_id) AS user_id,
        |  p.event_id AS purch_id, c.event_id AS click_id,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
        | AND epoch_us(c.ts) <= epoch_us(p.ts)
        |ORDER BY user_id, COALESCE(p.event_id, -1), COALESCE(c.event_id, -1)""".stripMargin)),

    // Last-touch attribution: each purchase credited to the MOST RECENT
    // same-user click in the preceding hour (the standard conversion-
    // attribution rule) — the time-bounded join reduced to one winner
    // per purchase via a purchase-keyed row_number (WindowGroupLimit
    // bounds the shuffle to one row per purchase per mapper). Ties on
    // the click timestamp break on the higher click id — a total order,
    // so the credited click is engine-identical.
    Q("g_attribution_last_touch", (s, d) => {
      val ev = Io.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purch_id"), col("ts_us").as("p_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("ts_us").as("c_ts"))
      val w = Window.partitionBy(col("purch_id"))
        .orderBy(col("c_ts").desc, col("click_id").desc)
      p.join(c, col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - 3600000000L && col("c_ts") <= col("p_ts"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("purch_id"), col("click_id"),
          (col("p_ts") - col("c_ts")).as("lag_us"))
        .orderBy("user_id", "purch_id")
    }, Some(
      """SELECT p.user_id, p.event_id AS purch_id, c.event_id AS click_id,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
        | AND epoch_us(c.ts) <= epoch_us(p.ts)
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY p.event_id
        |    ORDER BY epoch_us(c.ts) DESC, c.event_id DESC) = 1
        |ORDER BY p.user_id, purch_id""".stripMargin)),

    // Batch twin of the stream-stream LEFT SEMI time-bounded join
    // (streaming.Streams.clickPurchaseSemi, StreamParitySpec): converting
    // clicks — each click that has AT LEAST ONE same-user purchase in
    // the following hour, emitted once regardless of how many purchases
    // match. In streaming this is the one join mode whose state needs NO
    // match payload (a click retires as soon as one purchase arrives or
    // its window passes the watermark); in batch it plans as a
    // LeftSemi SortMergeJoin — same single user_id shuffle as the inner
    // form but no row multiplication on multi-purchase users, which is
    // exactly why semi is the 100 TB spelling of "did it convert".
    Q("g_click_purchase_semi", (s, d) => {
      val ev = Io.events(s, d)
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts_us").as("c_ts"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts_us").as("p_ts"))
      c.join(p, col("user_id") === col("p_user") &&
          col("p_ts") >= col("c_ts") && col("p_ts") <= col("c_ts") + 3600000000L,
          "left_semi")
        .orderBy("user_id", "click_id")
    }, Some(
      """SELECT c.user_id, c.event_id AS click_id, epoch_us(c.ts) AS c_ts
        |FROM events c
        |WHERE c.event_type = 'click'
        |  AND EXISTS (SELECT 1 FROM events p
        |              WHERE p.event_type = 'purchase'
        |                AND p.user_id = c.user_id
        |                AND epoch_us(p.ts) >= epoch_us(c.ts)
        |                AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000)
        |ORDER BY user_id, click_id""".stripMargin))
  )
}
