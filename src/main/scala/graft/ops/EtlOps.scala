package graft.ops

import graft.io.Io
import org.apache.spark.sql.functions._
import Q._

/** ETL/data-quality workflow operators: table profiling, CDC-style
  * snapshot merge classification, and null repair (fill/drop). These are
  * the batch-workflow shapes the reference category ("ETL/pipeline")
  * implies beyond pure queries.
  */
object EtlOps {

  /** Orders subset written to CSV once per (session, corpus) and read
    * back with an EXPLICIT schema (no inference pass — at 100 TB schema
    * inference is a full extra scan). Doubles survive the text
    * round-trip exactly (shortest-repr write, correctly-rounded parse).
    * Puts the CSV codec inside the graded gate instead of
    * scalatest-only. */
  private def csvOrders(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Q.memoized(s, d, "csvOrders") {
      val path = Q.artifactPath(s, d, "csv_orders")
      val t0 = System.nanoTime()
      Io.table(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"))
        .write.mode("overwrite").option("header", "true").csv(path)
      Q.logArtifact("csvOrders", t0)
      s.read.option("header", "true")
        .schema("o_orderkey LONG, o_orderstatus STRING, " +
          "o_totalprice DOUBLE, od STRING")
        .csv(path)
    }

  /** Lineitem subset written to ORC once per (session, corpus) and read
    * back — the third interchange codec under the graded gate (columnar
    * binary: doubles round-trip bit-exact by construction, no text
    * repr in the loop; what it actually exercises is the ORC
    * writer/reader pair, predicate-pushdown-capable like parquet). */
  private def orcLineitem(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Q.memoized(s, d, "orcLineitem") {
      val path = Q.artifactPath(s, d, "orc_lineitem")
      val t0 = System.nanoTime()
      Io.table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"))
        .write.mode("overwrite").orc(path)
      Q.logArtifact("orcLineitem", t0)
      s.read.orc(path)
    }

  /** Customer subset written to JSON-lines once per (session, corpus)
    * and read back with an explicit schema — same graded-gate treatment
    * as [[csvOrders]] for the second interchange codec. */
  private def jsonCustomer(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Q.memoized(s, d, "jsonCustomer") {
      val path = Q.artifactPath(s, d, "json_customer")
      val t0 = System.nanoTime()
      Io.table(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("c_acctbal"))
        .write.mode("overwrite").json(path)
      Q.logArtifact("jsonCustomer", t0)
      s.read.schema("c_custkey LONG, c_name STRING, c_mktsegment STRING, " +
        "c_acctbal DOUBLE").json(path)
    }

  /** Two-generation parquet table under one root (gen=1 lacks the
    * o_orderpriority column added in gen=2) — the schema-EVOLUTION read
    * path (`mergeSchema`: union footers, null-fill old files) inside
    * the graded gate instead of scalatest-only. Built once per
    * (session, corpus); at 100 TB this is exactly how a long-lived
    * table reads after a column addition without a rewrite. */
  private def evolvedOrders(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Q.memoized(s, d, "evolvedOrders") {
      val path = Q.artifactPath(s, d, "evolved_orders")
      val t0 = System.nanoTime()
      val o = Io.table(s, d, "orders")
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$path/gen=1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$path/gen=2")
      Q.logArtifact("evolvedOrders", t0)
      s.read.option("mergeSchema", "true")
        .parquet(s"$path/gen=1", s"$path/gen=2")
    }

  val all: Seq[Q] = Seq(
    // Schema-evolution read under the oracle gate: the merged-footer
    // read of the two-generation table must reproduce the ORIGINAL
    // orders exactly — pre-evolution rows surface with a NULL in the
    // added column (bucketed '(pre-evolution)'), and counts/keys/money
    // reconcile against the oracle's single-schema derivation of the
    // same split. Any null-fill or column-alignment defect in the
    // evolved read breaks the hash.
    Q("e_schema_evolution", (s, d) => {
      evolvedOrders(s, d)
        .groupBy(coalesce(col("o_orderpriority"), lit("(pre-evolution)"))
          .as("priority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_orderkey")).as("key_sum"),
          decSum(col("o_totalprice")).as("total_price"))
        .orderBy("priority")
    }, Some(
      s"""SELECT
         |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
         |       ELSE '(pre-evolution)' END AS priority,
         |  COUNT(*) AS n_orders,
         |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
         |  ${dSum("o_totalprice")} AS total_price
         |FROM orders GROUP BY 1 ORDER BY priority""".stripMargin)),

    // JSON-lines round-trip under the oracle gate (the Jackson codec
    // path — entirely disjoint from the CSV reader): explicit read
    // schema, doubles lossless through shortest-repr text, oracle
    // aggregates the ORIGINAL parquet.
    Q("e_json_roundtrip", (s, d) => {
      jsonCustomer(s, d)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_custkey")).as("key_sum"),
          decSum(col("c_acctbal")).as("balance"),
          min(col("c_name")).as("first_name"))
        .orderBy("c_mktsegment")
    }, Some(
      s"""SELECT c_mktsegment, COUNT(*) AS n_cust,
         |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
         |  ${dSum("c_acctbal")} AS balance,
         |  MIN(c_name) AS first_name
         |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ORC round-trip under the oracle gate — the third interchange
    // codec (a fully binary columnar loop, disjoint from both the CSV
    // text parser and the Jackson JSON path): parquet→ORC→DataFrame
    // must reproduce keys, enum, and doubles bit-for-bit; the oracle
    // aggregates the ORIGINAL parquet, so any writer/reader asymmetry
    // breaks the hash.
    Q("e_orc_roundtrip", (s, d) => {
      orcLineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_orderkey")).as("key_sum"),
          decSum(col("l_quantity")).as("qty"),
          decSum(col("l_extendedprice")).as("price"))
        .orderBy("l_returnflag")
    }, Some(
      s"""SELECT l_returnflag, COUNT(*) AS n_items,
         |  CAST(SUM(l_orderkey) AS BIGINT) AS key_sum,
         |  ${dSum("l_quantity")} AS qty,
         |  ${dSum("l_extendedprice")} AS price
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // CSV round-trip under the oracle gate: the parquet→CSV→DataFrame
    // loop must reproduce the source table exactly — keys, enum, DATE
    // strings, and the double column bit-for-bit (CSV write emits the
    // shortest decimal repr; the reader's parse is correctly rounded,
    // so the loop is lossless). The oracle aggregates the ORIGINAL
    // parquet — any codec asymmetry breaks the hash.
    Q("e_csv_roundtrip", (s, d) => {
      csvOrders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_orderkey")).as("key_sum"),
          decSum(col("o_totalprice")).as("total_price"),
          min(col("od")).as("first_day"), max(col("od")).as("last_day"))
        .orderBy("o_orderstatus")
    }, Some(
      s"""SELECT o_orderstatus, COUNT(*) AS n_orders,
         |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
         |  ${dSum("o_totalprice")} AS total_price,
         |  MIN(strftime(o_orderdate, '%Y-%m-%d')) AS first_day,
         |  MAX(strftime(o_orderdate, '%Y-%m-%d')) AS last_day
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Column profile: one row per profiled column with count/nulls/
    // distinct/min/max — the standard pre-ingest data-quality sweep.
    // At scale this is one pass per profile batch (a single wide agg).
    Q("e_profile_table", (s, d) => {
      val li = Io.table(s, d, "lineitem")
      def prof(c: String) = li.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c)).cast("double").as("min_val"),
        max(col(c)).cast("double").as("max_val"))
        .select(lit(c).as("column_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), r4(col("min_val")).as("min_val"), r4(col("max_val")).as("max_val"))
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(prof).reduce(_ unionByName _)
        .orderBy("column_name")
    }, Some(
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map { c =>
        s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  COUNT(DISTINCT $c) AS n_distinct,
           |  ROUND(CAST(MIN($c) AS DOUBLE), 4) AS min_val,
           |  ROUND(CAST(MAX($c) AS DOUBLE), 4) AS max_val
           |FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name"))),

    // CDC merge classification: previous snapshot (derived deterministic
    // subset with drifted prices) vs current; classify insert/update/
    // unchanged via a single full-outer join keyed on the PK — the merge
    // shape that at 100 TB runs as one shuffle on the key. The three
    // classes are counted in one global aggregate and unpivoted, so the
    // count needs no exchange keyed by status (classes with no rows are
    // not emitted, as a GROUP BY would not).
    Q("e_cdc_merge", (s, d) => {
      val cur = Io.table(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val old = Io.table(s, d, "orders")
        .filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey").as("old_key"),
          when(col("o_orderkey") % 5 === 0, round(col("o_totalprice") * 0.9, 2))
            .otherwise(col("o_totalprice")).as("old_price"))
      cur.join(old, col("o_orderkey") === col("old_key"), "full_outer")
        .agg(count(lit(1)).as("all"), count(when(col("old_key").isNull, 1)).as("ins"),
          count(when(col("o_totalprice") =!= col("old_price"), 1)).as("upd"))
        .select(expr("stack(3, 'insert', ins, 'unchanged', `all` - ins - upd, " +
          "'update', upd) AS (status, n)"))
        .filter(col("n") > 0)
        .orderBy("status")
    }, Some(
      """WITH old AS (
        |  SELECT o_orderkey AS old_key,
        |    CASE WHEN o_orderkey % 5 = 0 THEN ROUND(o_totalprice * 0.9, 2)
        |         ELSE o_totalprice END AS old_price
        |  FROM orders WHERE o_orderkey % 3 <> 0)
        |SELECT CASE WHEN old_key IS NULL THEN 'insert'
        |            WHEN o_totalprice <> old_price THEN 'update'
        |            ELSE 'unchanged' END AS status,
        |       COUNT(*) AS n
        |FROM orders FULL OUTER JOIN old ON o_orderkey = old_key
        |GROUP BY status ORDER BY status""".stripMargin)),

    // Snapshot-versioned MERGE round-trip through the SnapshotStore:
    // v0 = the e_cdc_merge "previous snapshot" derivation, v1 = MERGE
    // of current orders INTO THE STORE-READ v0 (the merge consumes
    // parquet written by the store, not lineage), pointer published
    // atomically. The checked query TIME-TRAVELS both versions back out
    // and diffs them — recovering exactly the CDC delta the relational
    // oracle computes from the source table. Green means: versioned
    // writes land intact, old versions stay readable after the new one
    // publishes (snapshot isolation by immutability), the merge shape
    // (one PK-keyed full-outer shuffle) upserts correctly, and
    // version-diff is a faithful CDC read. StorageLayoutSpec covers the
    // pointer/isolation machinery on constructed data.
    Q("e_snapshot_merge", (s, d) => {
      import graft.io.SnapshotStore
      val root = Q.artifactPath(s, d, "snap_orders")
      Q.memoized(s, d, "snapOrders") {
        val t0 = System.nanoTime()
        val cur = Io.table(s, d, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        // price drift in EXACT integer cents (90% = c − c DIV 10), not
        // ROUND(x*0.9, 2): ROUND is engine-divergent on half boundaries
        // (SKILL.md) and the version-diff emits the drift VALUE, which
        // e_cdc_merge's status-only comparison never exposed
        val cents = expr(
          "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
        val v0 = cur
          .filter(col("o_orderkey") % 3 =!= 0)
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 5 === 0,
              (cents - expr("CAST(CAST(o_totalprice AS DECIMAL(12,2))" +
                " * 100 AS BIGINT) DIV 10")).cast("double") / 100.0)
              .otherwise(col("o_totalprice")).as("o_totalprice"))
        SnapshotStore.writeVersion(v0, root, 0)
        val merged = SnapshotStore.merge(
          SnapshotStore.readVersion(s, root, 0), cur,
          "o_orderkey", Seq("o_totalprice"))
        SnapshotStore.writeVersion(merged, root, 1)
        Q.logArtifact("snapOrders", t0)
        s.range(1).toDF("marker")
      }
      val prev = SnapshotStore.readVersion(s, root, 0)
        .select(col("o_orderkey").as("old_key"),
          col("o_totalprice").as("old_price"))
      val cur = SnapshotStore.readVersion(s, root,
        SnapshotStore.currentVersion(root))
      cur.join(prev, col("o_orderkey") === col("old_key"), "full_outer")
        .withColumn("status",
          when(col("old_key").isNull, "insert")
            .when(col("o_totalprice") =!= col("old_price"), "update")
            .otherwise("unchanged"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          decSum(when(col("status") === "update",
            col("o_totalprice") - col("old_price")).otherwise(lit(0.0)))
            .as("price_delta"))
        .orderBy("status")
    }, Some(
      """WITH cur AS (SELECT o_orderkey, o_totalprice FROM orders),
        |old AS (
        |  SELECT o_orderkey AS old_key,
        |    CASE WHEN o_orderkey % 5 = 0 THEN
        |      CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |        - CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) // 10
        |        AS DOUBLE) / 100.0
        |    ELSE o_totalprice END AS old_price
        |  FROM orders WHERE o_orderkey % 3 <> 0),
        |diff AS (
        |  SELECT CASE WHEN old_key IS NULL THEN 'insert'
        |              WHEN o_totalprice <> old_price THEN 'update'
        |              ELSE 'unchanged' END AS status,
        |         o_totalprice, old_price
        |  FROM cur FULL OUTER JOIN old ON o_orderkey = old_key)
        |SELECT status, COUNT(*) AS n,
        |  CAST(SUM(CAST(CASE WHEN status = 'update'
        |    THEN o_totalprice - old_price ELSE 0.0 END
        |    AS DECIMAL(38,6))) AS DOUBLE) AS price_delta
        |FROM diff GROUP BY status ORDER BY status""".stripMargin)),

    // Null repair: synthesize nulls deterministically, then fill one
    // column and drop rows where another stays null.
    Q("e_fillna_dropna", (s, d) => {
      val withNulls = Io.table(s, d, "customer")
        .withColumn("seg", nullif(col("c_mktsegment"), lit("BUILDING")))
        .withColumn("bal", when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_acctbal")))
      withNulls
        .na.fill(Map("bal" -> 0.0))
        .na.drop(Seq("seg"))
        .select(col("c_custkey"), col("seg"), col("bal"))
        .orderBy("c_custkey")
    }, Some(
      """SELECT c_custkey,
        |  NULLIF(c_mktsegment, 'BUILDING') AS seg,
        |  COALESCE(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END, 0.0) AS bal
        |FROM customer
        |WHERE NULLIF(c_mktsegment, 'BUILDING') IS NOT NULL
        |ORDER BY c_custkey""".stripMargin)),

    // SCD2-style validity ranges: each event version is valid until the
    // user's next event (lead); the open-ended row is current. The same
    // window shape builds slowly-changing-dimension tables from CDC logs.
    Q("e_scd2_ranges", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      Io.events(s, d).filter(col("user_id") < 20)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("value"))
        .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w))
        .withColumn("is_current", col("valid_to_us").isNull)
        .orderBy("user_id", "ts_us", "event_id")
    }, Some(
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        |  LEAD(epoch_us(ts), 1) OVER (PARTITION BY user_id
        |                              ORDER BY epoch_us(ts), event_id) AS valid_to_us,
        |  LEAD(epoch_us(ts), 1) OVER (PARTITION BY user_id
        |                              ORDER BY epoch_us(ts), event_id) IS NULL AS is_current
        |FROM events WHERE user_id < 20
        |ORDER BY user_id, ts_us, event_id""".stripMargin)),

    // Gaps & islands: maximal runs of consecutive ACTIVE days per user
    // (a day is active if it has ≥1 event) — the continuity/missing-data
    // detector of an ETL audit. The classic day − ROW_NUMBER grouping
    // constant: consecutive days share it, a gap breaks it. One distinct
    // on (user, day) + one user-keyed window + one hash aggregate; at
    // 100 TB each stage shuffles on user_id only.
    Q("e_gap_islands", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      Io.events(s, d)
        .select(col("user_id"), expr("CAST(ts_us DIV 86400000000 AS BIGINT)").as("day"))
        .distinct()
        .withColumn("grp", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(min(col("day")).as("start_day"), max(col("day")).as("end_day"),
          count(lit(1)).as("n_days"))
        .drop("grp")
        .orderBy("user_id", "start_day")
    }, Some(
      """WITH a AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |g AS (
        |  SELECT user_id, day,
        |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |  FROM a)
        |SELECT user_id, MIN(day) AS start_day, MAX(day) AS end_day,
        |  COUNT(*) AS n_days
        |FROM g GROUP BY user_id, grp
        |ORDER BY user_id, start_day""".stripMargin)),

    // Snapshot diff: the day-over-day table comparison an ETL publish
    // step emits (added / removed / changed / same + value drift).
    // Yesterday = orders minus the %13 rows; today = orders minus the
    // %11 rows with the %7 rows' totalprice restated +10% — both
    // derived deterministically so the diff is oracle-checkable. One
    // full outer join on the PK (at 100 TB: both snapshots shuffle
    // once on o_orderkey, or zero shuffle if both are bucketed on it),
    // then a status classification and one status-keyed aggregate with
    // an exact decimal drift sum.
    // Order-independent table checksum — the cross-system
    // reconciliation primitive (does the replica hold exactly the rows
    // the source holds?) that e_snapshot_diff's row-level diff builds
    // on. Each row folds its business key + payload columns through
    // the engine-portable Q.coin hash (exact DECIMAL(38,0) arithmetic
    // at any id scale); the digest is the DECIMAL(38,0) sum of row
    // hashes reduced mod 2^62 — insensitive to row order and
    // partitioning, mergeable map-side, any single-row difference
    // moves it, and the modular reduction keeps the emitted value in
    // BIGINT on BOTH engines at any group size (a plain BIGINT sum
    // wraps silently in Spark but overflows DuckDB's HUGEINT cast
    // past ~4.3e9 rows/group — the exact divergence a reconciliation
    // digest must not have). Per-group subtotals localize a mismatch
    // without a second full pass.
    Q("e_table_checksum", (s, d) => {
      val rowHash = expr(Q.coin(
        "(l_orderkey * 1000003 + l_linenumber * 10007 + l_partkey * 31 " +
          "+ l_suppkey * 7 + CAST(l_quantity AS BIGINT))"))
      Io.table(s, d, "lineitem")
        .select(col("l_returnflag"),
          rowHash.cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("h"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          (sum(col("h")) % lit(4611686018427387904L)).cast("long")
            .as("checksum"))
        .orderBy("l_returnflag")
    }, Some(
      s"""SELECT l_returnflag, COUNT(*) AS n_rows,
         |  CAST(SUM(CAST(${Q.coin(
             "(l_orderkey * 1000003 + l_linenumber * 10007 + l_partkey * 31 " +
               "+ l_suppkey * 7 + CAST(l_quantity AS BIGINT))")} AS DECIMAL(38,0)))
         |    % 4611686018427387904 AS BIGINT) AS checksum
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    Q("e_snapshot_diff", (s, d) => {
      val base = Io.table(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val yday = base.filter(col("o_orderkey") % 13 =!= 0)
        .select(col("o_orderkey").as("k_a"), col("o_totalprice").as("p_a"))
      val today = base.filter(col("o_orderkey") % 11 =!= 0)
        .select(col("o_orderkey").as("k_b"),
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 1.1)
            .otherwise(col("o_totalprice")).as("p_b"))
      yday.join(today, col("k_a") === col("k_b"), "full_outer")
        .select(
          when(col("k_a").isNull, "added")
            .when(col("k_b").isNull, "removed")
            .when(col("p_a") =!= col("p_b"), "changed")
            .otherwise("same").as("status"),
          coalesce(col("p_b"), lit(0.0)) - coalesce(col("p_a"), lit(0.0)))
        .toDF("status", "delta")
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_rows"), decSum(col("delta")).as("price_drift"))
        .orderBy("status")
    }, Some(
      s"""WITH a AS (
         |  SELECT o_orderkey AS k, o_totalprice AS p FROM orders
         |  WHERE o_orderkey % 13 <> 0),
         |b AS (
         |  SELECT o_orderkey AS k,
         |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1
         |         ELSE o_totalprice END AS p
         |  FROM orders WHERE o_orderkey % 11 <> 0),
         |j AS (
         |  SELECT CASE WHEN a.k IS NULL THEN 'added'
         |              WHEN b.k IS NULL THEN 'removed'
         |              WHEN a.p <> b.p THEN 'changed'
         |              ELSE 'same' END AS status,
         |    COALESCE(b.p, 0.0) - COALESCE(a.p, 0.0) AS delta
         |  FROM a FULL OUTER JOIN b ON a.k = b.k)
         |SELECT status, COUNT(*) AS n_rows, ${dSum("delta")} AS price_drift
         |FROM j GROUP BY status ORDER BY status""".stripMargin)),

    // Point-in-time join — the feature-store pattern that keeps ML
    // training data leak-free: each fact (purchase) joins the dimension
    // VERSION that was valid at the fact's event time, never a later
    // one. Versions are SCD2 ranges derived from clicks (valid_from =
    // click ts, valid_to = next click's ts per user); the join is equi
    // on user + half-open interval containment. At 100 TB both sides
    // shuffle once on user_id and ranges are per-user sorted — the
    // standard PIT layout (same semantics as the native as-of join,
    // shipped here as the materialized-interval implementation).
    Q("e_pit_join", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Io.events(s, d)
      val w = Window.partitionBy(col("v_user")).orderBy(col("valid_from_us"), col("v_id"))
      val versions = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("v_user"), col("event_id").as("v_id"),
          col("ts_us").as("valid_from_us"), col("value").as("feature"))
        .withColumn("valid_to_us",
          coalesce(lead(col("valid_from_us"), 1).over(w), lit(Long.MaxValue)))
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("ts_us").as("p_us"))
      facts.join(versions, col("user_id") === col("v_user") &&
          col("p_us") >= col("valid_from_us") && col("p_us") < col("valid_to_us"))
        .select(col("p_id"), col("user_id"), col("p_us"),
          col("v_id"), col("valid_from_us"), col("feature"))
        .orderBy("p_id")
    }, Some(
      """WITH v AS (
        |  SELECT user_id AS v_user, event_id AS v_id,
        |    epoch_us(ts) AS valid_from_us, value AS feature,
        |    COALESCE(LEAD(epoch_us(ts), 1) OVER (
        |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id),
        |      9223372036854775807) AS valid_to_us
        |  FROM events WHERE event_type = 'click'),
        |f AS (
        |  SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT f.p_id, f.user_id, f.p_us, v.v_id, v.valid_from_us, v.feature
        |FROM f JOIN v ON f.user_id = v.v_user
        |  AND f.p_us >= v.valid_from_us AND f.p_us < v.valid_to_us
        |ORDER BY f.p_id""".stripMargin)),

    // Incremental aggregate maintenance — the warehouse pattern that
    // avoids full recompute at 100 TB: the historical partition's
    // partial aggregate (built once, stored) MERGES with the fresh
    // partition's partial aggregate instead of rescanning history.
    // The Spark side computes the aggregate EXACTLY that way (two
    // date-partition partial aggregates unioned and merged — counts
    // add, exact DECIMAL(38,6) money sums add associatively, min/max
    // combine); the ORACLE recomputes directly over all rows. The
    // hash-match therefore PROVES the merge math, not just the plan:
    // any non-associative step (e.g. merging rounded doubles) would
    // break parity. Scale: each partial is one map-side-combined hash
    // aggregate over its own partition scan — the historical side
    // would be a stored table in production, and the merge touches
    // only aggregate-sized rows.
    Q("e_incremental_agg", (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val orders = Io.table(s, d, "orders")
        .filter(col("o_custkey") % 20 === 0)
      def partial(pred: org.apache.spark.sql.Column) = orders.filter(pred)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("pn"),
          sum(col("o_totalprice").cast(DecimalType(38, 6))).as("ps"),
          max(col("o_totalprice")).as("pmax"))
      val cut = to_date(lit("1998-01-01"))
      val hist = partial(col("o_orderdate") < cut)
      val fresh = partial(col("o_orderdate") >= cut)
      hist.union(fresh)
        .groupBy(col("o_custkey"))
        .agg(sum(col("pn")).as("n_orders"),
          sum(col("ps")).cast("double").as("sum_total"),
          max(col("pmax")).as("max_total"))
        .orderBy("o_custkey")
    }, Some(
      s"""SELECT o_custkey, COUNT(*) AS n_orders,
         |  ${dSum("o_totalprice")} AS sum_total,
         |  MAX(o_totalprice) AS max_total
         |FROM orders WHERE o_custkey % 20 = 0
         |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // Incremental JOIN-view maintenance — the delta algebra every
    // materialized revenue-per-customer view runs on nightly ingest:
    // with both base tables split into (old, Δ) at a date cut,
    // V(old∪Δo ⋈ old∪Δl) = old⋈old + Δo⋈old + old⋈Δl + Δo⋈Δl —
    // four partial aggregates merged by key, touching only
    // aggregate-sized partials at merge time. The oracle recomputes
    // the view FROM SCRATCH over the full tables, so the hash match
    // PROVES the delta decomposition (including the easy-to-forget
    // Δ⋈Δ term) and the mergeability of the decimal partials. Scale:
    // each partial is one keyed equi-join + hash agg over only its
    // slice; at 100 TB the three Δ terms are ingest-sized, and
    // old⋈old is the stored view, never recomputed.
    Q("e_incremental_join_view", (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val cut = to_date(lit("1998-01-01"))
      val o = Io.table(s, d, "orders")
        .filter(col("o_custkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val l = Io.table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      val oOld = o.filter(col("o_orderdate") < cut)
      val oNew = o.filter(col("o_orderdate") >= cut)
      val lOld = l.filter(col("l_shipdate") < cut)
      val lNew = l.filter(col("l_shipdate") >= cut)
      def partial(os: org.apache.spark.sql.DataFrame,
          ls: org.apache.spark.sql.DataFrame) =
        os.join(ls, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("pn"),
            sum(col("rev").cast(DecimalType(38, 6))).as("ps"))
      partial(oOld, lOld).union(partial(oNew, lOld))
        .union(partial(oOld, lNew)).union(partial(oNew, lNew))
        .groupBy(col("o_custkey"))
        .agg(sum(col("pn")).as("n_items"),
          sum(col("ps")).cast("double").as("revenue"))
        .orderBy("o_custkey")
    }, Some(
      s"""SELECT o_custkey, COUNT(*) AS n_items,
         |  ${dSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE o_custkey % 10 = 0
         |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // Z-order (Morton) data layout: the multi-dimensional clustering a
    // 100 TB table needs so parquet min/max (or Iceberg/Delta file
    // stats) prune on MORE THAN ONE dimension. Each event's (user_id,
    // event time) is bucketed to 8 bits per dimension (pure integer
    // arithmetic against the broadcast corpus extremes), bit-interleaved
    // into a 16-bit Morton code with the standard shift-or spread
    // (x|x<<4 &0x0F0F, x|x<<2 &0x3333, x|x<<1 &0x5555 — codegen'd long
    // ops, no UDF), and "files" are z-ranges (z DIV 1024 → an 8×8 grid).
    // The checked output is the layout-quality metric a table optimizer
    // reports: per-file min/max span of each dimension as a fraction of
    // its domain, averaged over files, for the z-ordered layout vs the
    // naive time-sorted layout. Time-sort gives avg_user_span ≈ 1.0 (a
    // user-range predicate prunes NOTHING); z-order gives ≈ 1/8 on both
    // dims (a predicate on either dimension skips ~7/8 of files). All
    // arithmetic is exact BIGINT until one final double division, so
    // the hash-compare is bit-stable cross-engine. Scale: one min/max
    // scan-agg broadcast everywhere, then map-side bucketing + one hash
    // aggregate per layout — the same shape `repartitionByRange(zcol)`
    // + write would produce; no global sort, no window.
    Q("e_zorder_locality", (s, d) => {
      val z = withMortonZ(Io.events(s, d).select(col("user_id"), col("ts_us")),
        "user_id", "ts_us")
      def layout(name: String, fileId: org.apache.spark.sql.Column) =
        z.withColumn("file_id", fileId)
          .groupBy(col("file_id"))
          .agg((max(col("user_id")) - min(col("user_id")) + lit(1L)).cast("long").as("uw"),
            (max(col("ts_us")) - min(col("ts_us")) + lit(1L)).cast("long").as("tw"),
            min(col("uhi") - col("ulo") + 1).as("ud"),
            min(col("thi") - col("tlo") + 1).as("td"))
          .agg(count(lit(1)).as("n_files"),
            r6(sum(col("uw")).cast("double") / (count(lit(1)) * min(col("ud"))))
              .as("avg_user_span"),
            r6(sum(col("tw")).cast("double") / (count(lit(1)) * min(col("td"))))
              .as("avg_time_span"))
          .select(lit(name).as("layout"), col("n_files"),
            col("avg_user_span"), col("avg_time_span"))
      layout("timesort", expr("bt DIV 4"))
        .unionByName(layout("zorder", expr("z DIV 1024")))
        .orderBy("layout")
    }, Some {
      def layoutSql(name: String, fileExpr: String) =
        s"""SELECT '$name' AS layout, COUNT(*) AS n_files,
           |  ROUND(CAST(SUM(uw) AS DOUBLE) / (COUNT(*) * MIN(ud)), 6) AS avg_user_span,
           |  ROUND(CAST(SUM(tw) AS DOUBLE) / (COUNT(*) * MIN(td)), 6) AS avg_time_span
           |FROM (SELECT $fileExpr AS file_id,
           |        MAX(user_id) - MIN(user_id) + 1 AS uw,
           |        MAX(ts_us) - MIN(ts_us) + 1 AS tw,
           |        MIN(uhi - ulo + 1) AS ud, MIN(thi - tlo + 1) AS td
           |      FROM m GROUP BY 1)
           |GROUP BY 1""".stripMargin
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
         |ext AS (SELECT MIN(user_id) AS ulo, MAX(user_id) AS uhi,
         |               MIN(ts_us) AS tlo, MAX(ts_us) AS thi FROM e),
         |b AS (SELECT user_id, ts_us, ulo, uhi, tlo, thi,
         |        ((user_id - ulo) * 256) // (uhi - ulo + 1) AS bu,
         |        ((ts_us - tlo) * 256) // (thi - tlo + 1) AS bt
         |      FROM e CROSS JOIN ext),
         |s1 AS (SELECT *, (bu | (bu << 4)) & 3855 AS u1,
         |                 (bt | (bt << 4)) & 3855 AS t1 FROM b),
         |s2 AS (SELECT *, (u1 | (u1 << 2)) & 13107 AS u2,
         |                 (t1 | (t1 << 2)) & 13107 AS t2 FROM s1),
         |s3 AS (SELECT *, (u2 | (u2 << 1)) & 21845 AS u3,
         |                 (t2 | (t2 << 1)) & 21845 AS t3 FROM s2),
         |m AS (SELECT *, u3 | (t3 << 1) AS z FROM s3)
         |${layoutSql("timesort", "bt // 4")}
         |UNION ALL
         |${layoutSql("zorder", "z // 1024")}
         |ORDER BY layout""".stripMargin
    }),

    // Small-file compaction planning — the lakehouse OPTIMIZE step: a
    // 100 TB table accumulates millions of under-sized files from
    // streaming/incremental writes, and the compactor must group them
    // into ~target-sized rewrite bins per partition WITHOUT reading any
    // data (file METADATA only — this query's input is one row per
    // file, here simulated by documents with n_chars as the file size
    // and source as the table partition). Deterministic cumulative-
    // threshold binning: bin = floor(bytes-before-this-file / target)
    // within each partition in ingest (doc_id) order — the same
    // single-pass plan a range-based bin packer emits; bins close
    // within one file of the target. Scale: a window cumsum over
    // metadata-sized input partitioned by the table partition key, then
    // one hash aggregate; never touches file contents.
    Q("e_compaction_bins", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Io.table(s, d, "documents")
        .select(col("source"), col("doc_id"), col("n_chars").as("sz"))
        .withColumn("cum", coalesce(sum(col("sz")).over(w), lit(0L)))
        .withColumn("bin_id", expr("cum DIV 4096"))
        .groupBy(col("source"), col("bin_id"))
        .agg(count(lit(1)).as("n_files"), sum(col("sz")).as("bin_bytes"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy("source", "bin_id")
    }, Some(
      """WITH f AS (SELECT source, doc_id, n_chars AS sz FROM documents),
        |c AS (SELECT source, doc_id, sz,
        |        CAST(COALESCE(SUM(sz) OVER (PARTITION BY source ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
        |      FROM f)
        |SELECT source, cum // 4096 AS bin_id, COUNT(*) AS n_files,
        |  CAST(SUM(sz) AS BIGINT) AS bin_bytes,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY source, bin_id
        |ORDER BY source, bin_id""".stripMargin))
  )

  /** Append a 16-bit Morton z-value column interleaving two numeric
    * dimensions — the column a z-order write sorts/range-partitions on
    * (`df.repartitionByRange(n, col("z")).sortWithinPartitions("z")
    * .write.parquet(...)`), so parquet/Iceberg/Delta per-file min-max
    * stats prune on BOTH dimensions. Each dimension is bucketed to 8
    * bits against its broadcast corpus extremes (one scan-agg — at
    * 100 TB these are table stats the catalog already holds), then
    * bit-interleaved with the standard shift-or spread; everything is
    * codegen'd BIGINT arithmetic, no UDF. Carries the intermediate
    * `bu`/`bt` buckets and `ulo/uhi/tlo/thi` extremes for consumers
    * that need them (e_zorder_locality's span metrics). Exercised by
    * the checked query and by StorageLayoutSpec's write-path test
    * (z-ordered files measurably tighten per-file stats on both dims).
    */
  def withMortonZ(df: org.apache.spark.sql.DataFrame, cu: String,
      ct: String): org.apache.spark.sql.DataFrame = {
    val ext = df.agg(min(col(cu)).as("ulo"), max(col(cu)).as("uhi"),
      min(col(ct)).as("tlo"), max(col(ct)).as("thi"))
    val b = df.crossJoin(broadcast(ext))
      .withColumn("bu", expr(s"(($cu - ulo) * 256) DIV (uhi - ulo + 1)"))
      .withColumn("bt", expr(s"(($ct - tlo) * 256) DIV (thi - tlo + 1)"))
    def spread(c: String, o: String) = Seq(
      (s"_${o}1", s"($c | shiftleft($c, 4)) & 3855"),
      (s"_${o}2", s"(_${o}1 | shiftleft(_${o}1, 2)) & 13107"),
      (s"_${o}3", s"(_${o}2 | shiftleft(_${o}2, 1)) & 21845"))
    (spread("bu", "u") ++ spread("bt", "t"))
      .foldLeft(b) { case (d2, (n, ex)) => d2.withColumn(n, expr(ex)) }
      .withColumn("z", expr("_u3 | shiftleft(_t3, 1)"))
      .drop("_u1", "_u2", "_u3", "_t1", "_t2", "_t3")
  }

  /** Pipeline observability hook (the production monitoring surface the
    * ETL family plugs into a scheduler): attach a named `observe()` to
    * any query's output — row count plus the exact decimal sum of one
    * numeric column — and read both from the returned Observation after
    * an action. Zero extra pass: CollectMetrics aggregates map-side
    * inside the SAME job, so the metrics are free at 100 TB where a
    * separate `count()` would re-run the query. The exact-decimal sum
    * uses the same accumulation-order-independent form as the checked
    * queries (Q.decSum), so an alerting threshold compares stable
    * values run-to-run. Asserted in ObserveSpec.
    */
  def observedRun(df: org.apache.spark.sql.DataFrame, sumCol: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    (df.observe(obs, count(lit(1)).as("n_rows"),
      Q.decSum(col(sumCol)).as(s"sum_$sumCol")), obs)
  }

  /** Incremental DISTINCT maintenance via mergeable HLL sketches — the
    * approximate twin of e_incremental_agg's exact merge. A 100 TB
    * pipeline cannot re-scan history to refresh a distinct count; it
    * stores one serialized DataSketches HLL per (key, partition) and
    * merges sketches (bytes-sized, associative, commutative) when a new
    * partition lands. `hllPartials` is the per-ingest job (one map-side
    * combined aggregate over only the new partition); `hllMergedCounts`
    * is the read path (union the stored sketches per key, estimate).
    * SketchSpec proves the contract: merged-estimate == single-pass
    * estimate EXACTLY (same deterministic sketch algorithm, so merge
    * associativity is observable as bit-equality), and within 5% of the
    * exact distinct count.
    */
  def hllPartials(df: org.apache.spark.sql.DataFrame, key: String,
      value: String): org.apache.spark.sql.DataFrame =
    df.groupBy(col(key)).agg(hll_sketch_agg(col(value)).as("sketch"))

  def hllMergedCounts(partials: org.apache.spark.sql.DataFrame,
      key: String): org.apache.spark.sql.DataFrame =
    partials.groupBy(col(key))
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("approx_distinct"))
}
