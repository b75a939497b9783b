package graft.ops

import graft.io.Io
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** SURVEY.md §2-C — join operators.
  *
  * Scale notes (100 TB): dimension joins (`nation`, `region`, `part`
  * slices) are explicitly `broadcast()` so no shuffle of the fact side
  * ever happens for them; fact-fact joins (orders ⋈ lineitem) shuffle on
  * the join key and AQE handles skew splitting. The as-of join is a
  * bounded range join + per-key top-1 window — shuffle is keyed by the
  * equi part (user), never a cartesian.
  */
object JoinOps {

  private def bcastNationRegion(s: SparkSession, d: String): DataFrame = {
    val n = Io.table(s, d, "nation"); val r = Io.table(s, d, "region")
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
  }

  /** Month-partitioned parquet copy of orders (hive layout, `om=yyyy-MM`
    * directories), memoized + written once per corpus under the
    * artifact root. This is the layout a 100 TB lake actually has —
    * date/source-partitioned files — and it exists so a checked row can
    * prove DYNAMIC PARTITION PRUNING fires end-to-end: a dim-filtered
    * join against it must show `dynamicpruning` in the scan's
    * PartitionFilters (pinned in PlanShapeSpec), meaning Spark prunes
    * whole partition directories at runtime from the dim filter instead
    * of scanning all of them. The single biggest scan-saver at scale. */
  private def dppOrders(s: SparkSession, d: String): DataFrame =
    Q.fileArtifact(s, d, "dppOrders")(Io.table(s, d, "orders")
        .withColumn("om", date_format(col("o_orderdate"), "yyyy-MM"))
        .write.mode("overwrite").partitionBy("om").parquet(_))(s.read.parquet(_))

  val all: Seq[Q] = Seq(
    Q("c_join_bcast", (s, d) => {
      bcastNationRegion(s, d)
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
        .orderBy("n_nationkey")
    }, Some(
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin)),

    Q("c_join_smj", (s, d) => {
      val o = Io.table(s, d, "orders"); val li = Io.table(s, d, "lineitem")
      o.join(li, o("o_orderkey") === li("l_orderkey"))
        .select(col("o_orderkey"), col("l_linenumber"), col("o_totalprice"),
          col("l_extendedprice"), col("o_orderstatus"), col("l_returnflag"))
        // (l_orderkey, l_linenumber) is not unique → order by every column.
        .orderBy("o_orderkey", "l_linenumber", "l_extendedprice", "l_returnflag")
    }, Some(
      """SELECT o_orderkey, l_linenumber, o_totalprice, l_extendedprice,
        |       o_orderstatus, l_returnflag
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |ORDER BY o_orderkey, l_linenumber, l_extendedprice, l_returnflag""".stripMargin)),

    Q("c_join_5way", (s, d) => {
      val li = Io.table(s, d, "lineitem"); val o = Io.table(s, d, "orders")
      val c = Io.table(s, d, "customer")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(Io.table(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Io.table(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          r4(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name")
    }, Some(
      s"""SELECT r_name,
         |       ROUND(${dSum("l_extendedprice * (1.0 - l_discount)")}, 4) AS revenue,
         |       COUNT(*) AS n_items
         |FROM lineitem
         |JOIN orders   ON l_orderkey  = o_orderkey
         |JOIN customer ON o_custkey   = c_custkey
         |JOIN nation   ON c_nationkey = n_nationkey
         |JOIN region   ON n_regionkey = r_regionkey
         |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    Q("c_join_left_outer", (s, d) => {
      val c = Io.table(s, d, "customer"); val o = Io.table(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    }, Some(
      """SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin)),

    Q("c_join_full_outer", (s, d) => {
      val sup = Io.table(s, d, "supplier"); val n = Io.table(s, d, "nation")
      sup.join(n, sup("s_nationkey") === n("n_nationkey"), "full_outer")
        .select(col("n_nationkey"), col("n_name"), col("s_suppkey"), col("s_name"))
        .orderBy(coalesce(col("n_nationkey"), lit(-1)), coalesce(col("s_suppkey"), lit(-1L)))
    }, Some(
      """SELECT n_nationkey, n_name, s_suppkey, s_name
        |FROM supplier FULL OUTER JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY COALESCE(n_nationkey, -1), COALESCE(s_suppkey, -1)""".stripMargin)),

    Q("c_join_semi", (s, d) => {
      val c = Io.table(s, d, "customer")
      val urgent = Io.table(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy("c_custkey")
    }, Some(
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin)),

    Q("c_join_anti", (s, d) => {
      val c = Io.table(s, d, "customer"); val o = Io.table(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    }, Some(
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin)),

    // Banded non-equi join, |l_quantity - p_size| <= 1. A naive theta
    // join plans as a nested-loop (600k × 4k comparisons at sf0.1 — it
    // benched in minutes); since the band is over integral values, the
    // scalable form is bucket expansion: explode each part into its 3
    // candidate quantities and equi-join — a BroadcastHashJoin whose cost
    // is linear in the fact side. Same semantics as the oracle's BETWEEN.
    Q("c_join_theta_range", (s, d) => {
      val p = Io.table(s, d, "part").filter(col("p_size") <= 10)
        .select(col("p_size"),
          explode(sequence(col("p_size") - 1, col("p_size") + 1)).as("qv"))
      // Partial-aggregate the fact side BEFORE the join: l_quantity has
      // ~12 distinct values under the filter, so the expansion join then
      // multiplies grouped counts instead of streaming every lineitem
      // row through it (11M joined rows -> a few thousand). Aggregate
      // pushdown through a join is the decisive rewrite for banded
      // range joins at 100 TB; sums of integral-valued doubles stay
      // exact, so the result is bit-identical to the naive form.
      val li = Io.table(s, d, "lineitem").filter(col("l_quantity") <= 12)
        .groupBy(col("l_quantity"))
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sqty"))
      broadcast(p).join(li, col("l_quantity") === col("qv").cast("double"))
        .groupBy(col("p_size"))
        .agg(sum(col("cnt")).as("n_pairs"), sum(col("sqty")).cast("double").as("sum_qty"))
        .orderBy("p_size")
    }, Some(
      """SELECT p_size, COUNT(*) AS n_pairs, CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty
        |FROM part JOIN lineitem
        |  ON l_quantity BETWEEN p_size - 1 AND p_size + 1
        |WHERE p_size <= 10 AND l_quantity <= 12
        |GROUP BY p_size ORDER BY p_size""".stripMargin)),

    // As-of join: for every purchase event, the latest click by the same
    // user at-or-before it. Spark has no native ASOF; expressed as an
    // equi-join on user + range predicate + per-purchase top-1 window.
    // DuckDB's native ASOF JOIN is the oracle — a strong cross-check.
    // Scale: the shuffle key is user_id; the window is per purchase event.
    Q("c_join_asof", (s, d) => {
      val ev = Io.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("ts_us").as("p_us"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts_us").as("c_us"))
      val w = Window.partitionBy(col("p_id")).orderBy(col("c_us").desc, col("c_id").desc)
      p.join(c, col("user_id") === col("c_user") && col("c_us") <= col("p_us"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("p_id"), col("user_id"), col("p_us"), col("c_id"), col("c_us"))
        .orderBy("p_id")
    }, Some(
      """SELECT p.event_id AS p_id, p.user_id, epoch_us(p.ts) AS p_us,
        |       c.event_id AS c_id, epoch_us(c.ts) AS c_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p_id""".stripMargin)),

    // As-of join WITH TOLERANCE (the pandas merge_asof contract): the
    // latest prior click matches only if it is at most 1 hour stale —
    // a stale quote must not price a trade. Filtering the top-1 match
    // afterward equals restricting candidates (any earlier candidate
    // is staler still). The native single-pass AsOfJoinExec carries
    // the same tolerance parameter; AsOfJoinSpec pins equivalence.
    Q("c_join_asof_tol", (s, d) => {
      val tolUs = 3600000000L
      val ev = Io.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("ts_us").as("p_us"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts_us").as("c_us"))
      val w = Window.partitionBy(col("p_id")).orderBy(col("c_us").desc, col("c_id").desc)
      p.join(c, col("user_id") === col("c_user") && col("c_us") <= col("p_us"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("p_us") - col("c_us") <= tolUs)
        .select(col("p_id"), col("user_id"), col("p_us"), col("c_id"), col("c_us"),
          (col("p_us") - col("c_us")).as("staleness_us"))
        .orderBy("p_id")
    }, Some(
      """WITH j AS (
        |  SELECT p.event_id AS p_id, p.user_id, epoch_us(p.ts) AS p_us,
        |    c.event_id AS c_id, epoch_us(c.ts) AS c_us,
        |    ROW_NUMBER() OVER (PARTITION BY p.event_id
        |      ORDER BY epoch_us(c.ts) DESC, c.event_id DESC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON p.user_id = c.user_id AND c.ts <= p.ts)
        |SELECT p_id, user_id, p_us, c_id, c_us, p_us - c_us AS staleness_us
        |FROM j WHERE rn = 1 AND p_us - c_us <= 3600000000
        |ORDER BY p_id""".stripMargin)),

    // Interval self-join: pairs of events of the same user within 30 min.
    // Equi on user_id (shuffle key) + bounded range predicate.
    Q("c_join_interval", (s, d) => {
      val ev = Io.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val a = ev.select(col("event_id").as("id_a"), col("user_id"), col("ts_us").as("us_a"))
      val b = ev.select(col("event_id").as("id_b"), col("user_id").as("user_b"), col("ts_us").as("us_b"))
      a.join(b, col("user_id") === col("user_b") &&
          col("id_a") < col("id_b") &&
          abs(col("us_a") - col("us_b")) <= lit(1800000000L))
        .select(col("user_id"), col("id_a"), col("id_b"), (col("us_b") - col("us_a")).as("gap_us"))
        .orderBy("id_a", "id_b")
    }, Some(
      """SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
        |       epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        | AND ABS(epoch_us(a.ts) - epoch_us(b.ts)) <= 1800000000
        |ORDER BY id_a, id_b""".stripMargin)),

    Q("c_join_cross_limited", (s, d) => {
      val r = Io.table(s, d, "region").select(col("r_name"))
      val n = Io.table(s, d, "nation").select(col("n_name"))
      r.crossJoin(n).orderBy("r_name", "n_name")
    }, Some(
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin)),

    // Fuzzy self-join (entity resolution): distinct part-name pairs
    // within Levenshtein distance 2 — the near-duplicate-catalog-entry
    // matcher. The pair space is the distinct NAME domain, not the
    // table: names contract to one node each (min partkey = node id,
    // row count carried), and the quadratic over the domain runs as
    // the blocked-triangle equi-join (PairJoins — shuffle, bounded
    // per-task memory, no BNLJ). At 100 TB the name domain grows far
    // slower than rows, and the verify is the codegen'd levenshtein
    // on canonical-order pairs. The oracle recomputes all pairs brute
    // force, so the blocking is recall-checked every round.
    Q("c_join_fuzzy", (s, d) => {
      val names = Io.table(s, d, "part")
        .groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("nid"), count(lit(1)).as("n_parts"))
      PairJoins.trianglePairs(names, Nil, "nid", 4)
        .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
          levenshtein(col("a.p_name"), col("b.p_name")).as("edit_dist"),
          col("a.n_parts").as("n_parts_a"), col("b.n_parts").as("n_parts_b"))
        .filter(col("edit_dist") <= 2)
        .orderBy("name_a", "name_b")
    }, Some(
      """WITH n AS (
        |  SELECT p_name, MIN(p_partkey) AS nid, COUNT(*) AS n_parts
        |  FROM part GROUP BY p_name)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist,
        |  a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
        |FROM n a JOIN n b ON a.nid < b.nid
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY name_a, name_b""".stripMargin)),

    // Skew-salted join: the manual mitigation for a join key where one
    // value holds most of the rows (AQE skew split is the automatic
    // complement — pinned in PlanShapeSpec). The fact side derives a
    // deliberately skewed key (`least(user_id, 10)` sends ~93% of
    // events to key 10); a plain equi-join would put that entire key
    // in ONE shuffle partition. Instead the tiny aggregate side
    // replicates ×16 (one row per salt) and every fact row picks a
    // deterministic salt from its event_id hash — the hot key spreads
    // over 16 partitions, per-task input drops ~16×, and the final
    // re-aggregation by sk is over 16 partial rows per key. The
    // oracle runs the unsalted join: same result, proving salting is
    // pure layout.
    Q("c_join_skew_salted", (s, d) => {
      val salts = 16
      val ev = Io.events(s, d)
        .select(least(col("user_id"), lit(10L)).as("sk"),
          col("event_id"), col("value"))
      val grp = ev.groupBy(col("sk"))
        .agg((decSum(col("value")) / count(lit(1))).as("avg_v"))
      val grpSalted = grp.withColumn("salt",
        explode(sequence(lit(0), lit(salts - 1))))
      ev.withColumn("salt", pmod(xxhash64(col("event_id")), lit(salts)).cast("int"))
        .join(grpSalted, Seq("sk", "salt"))
        .groupBy(col("sk"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("value") > col("avg_v"), 1L).otherwise(0L)).as("n_above_avg"))
        .orderBy("sk")
    }, Some(
      s"""WITH f AS (SELECT LEAST(user_id, 10) AS sk, value FROM events),
         |g AS (SELECT sk, ${dSum("value")} / COUNT(*) AS avg_v
         |      FROM f GROUP BY sk)
         |SELECT f.sk, COUNT(*) AS n_events,
         |  CAST(SUM(CASE WHEN f.value > g.avg_v THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_above_avg
         |FROM f JOIN g USING (sk) GROUP BY f.sk ORDER BY f.sk""".stripMargin)),

    // Bloom-prefiltered join — the manual form of runtime filter
    // pushdown (Spark's InjectRuntimeFilter / the semi-join reduction
    // of Bratbergsengen'84): when the filtered build side is too big to
    // broadcast AS ROWS, its key set still compresses into a fixed-size
    // bit array that broadcasts at kilobytes. Build: each key sets k=2
    // bit positions (two xxhash64 streams) in an m=2^16-bit filter,
    // assembled DISTRIBUTED as a (word_idx → 64-bit mask) table via
    // bit_or aggregation — m/64 = 1024 rows regardless of build-side
    // cardinality. Probe: the fact scan tests both bits via two
    // broadcast word-table lookups, dropping non-matching rows
    // MAP-SIDE — before the shuffle of the real join, which is hinted
    // shuffle-merge exactly because the premise is "build side too big
    // to broadcast". No false negatives (the real join removes the
    // ~3% false positives), so the result equals the plain join — the
    // oracle runs it bloom-free; the bloom is pure shuffle-volume
    // layout, cutting fact shuffle input to σ + fp ≈ 4% here. At
    // 100 TB: words table is O(m), independent of data size; fp rate
    // tunes via m; this is what saves the day when the dim side is
    // 10 GB of keys.
    Q("c_join_bloom_prefilter", (s, d) => {
      val mBits = 1 << 16
      val keys = Io.table(s, d, "orders")
        .filter(col("o_totalprice") > 400000 &&
          col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderstatus"))
      def pos(c: org.apache.spark.sql.Column, salt: Int) =
        if (salt == 0) pmod(xxhash64(c), lit(mBits.toLong))
        else pmod(xxhash64(c, lit(salt)), lit(mBits.toLong))
      val words = keys
        .select(explode(array(pos(col("o_orderkey"), 0),
          pos(col("o_orderkey"), 1))).as("p"))
        .groupBy((col("p") / 64).cast("long").as("word_idx"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT)))")
          .as("mask"))
      def bitSet(df: DataFrame, salt: Int): DataFrame = {
        val w = words.select(col("word_idx").as(s"w$salt"),
          col("mask").as(s"m$salt"))
        df.withColumn(s"p$salt", pos(col("l_orderkey"), salt))
          .join(broadcast(w), (col(s"p$salt") / 64).cast("long") === col(s"w$salt"),
            "left")
          .filter(coalesce(
            expr(s"(shiftright(m$salt, CAST(p$salt % 64 AS INT)) & 1) = 1"),
            lit(false)))
          .drop(s"p$salt", s"w$salt", s"m$salt")
      }
      val li = Io.table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val prefiltered = bitSet(bitSet(li, 0), 1)
      prefiltered.join(keys.hint("merge"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_lines"),
          decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
        .orderBy("o_orderstatus")
    }, Some(
      s"""SELECT o_orderstatus, COUNT(*) AS n_lines,
         |  ${dSum("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_totalprice > 400000 AND o_orderpriority = '1-URGENT'
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Dynamic partition pruning, end to end: Q1-month revenue off the
    // month-partitioned orders copy, with the month set arriving
    // through a broadcast dim JOIN (a derived month dimension filtered
    // to months 1-3) — not a static predicate. The partitioned scan
    // must read only the ~1/4 of partition directories the dim filter
    // selects, at runtime, via the DPP subquery on the broadcast side;
    // PlanShapeSpec pins `dynamicpruning` inside the scan's
    // PartitionFilters. Oracle: the same aggregate as a plain predicate
    // over the unpartitioned source table (DPP is result-invariant).
    Q("c_join_dpp", (s, d) => {
      val po = dppOrders(s, d)
      val cal = Io.table(s, d, "orders")
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("cm"),
          month(col("o_orderdate")).as("mnum"))
        .distinct()
        .filter(col("mnum") <= 3)
      po.join(broadcast(cal), po("om") === cal("cm"))
        .groupBy(col("om"))
        .agg(count(lit(1)).as("n_orders"),
          decSum(col("o_totalprice")).as("total_price"))
        .orderBy("om")
    }, Some(
      s"""SELECT strftime(o_orderdate, '%Y-%m') AS om, COUNT(*) AS n_orders,
         |  ${dSum("o_totalprice")} AS total_price
         |FROM orders WHERE month(o_orderdate) <= 3
         |GROUP BY om ORDER BY om""".stripMargin))
  )
}
