package graft.ops

import graft.io.Io
import org.apache.spark.sql.{DataFrame, SparkSession}

/** TPC-H on the shared SQL surface: each query is ONE ANSI SQL string
  * executed verbatim by `spark.sql` AND by the DuckDB oracle — the
  * strongest possible statement that the engine's SQL dialect, optimizer
  * and execution agree with a reference engine on real analytic shapes
  * (star joins, grouped aggregation, outer-join counting, market-share
  * CASE pivots, HAVING on aggregates, top-k).
  *
  * Adapted where the test schema trims TPC-H (no partsupp table; no
  * l_commitdate / l_receiptdate / l_shipmode / comment columns), with
  * parameters chosen for the data's 1995-2001 date range. Determinism
  * discipline is inside the shared text itself: money aggregates route
  * through DECIMAL(38,6), outputs are rounded and totally ordered —
  * identical bytes on both engines regardless of plan or thread count.
  *
  * Scale notes: every join here keys on the natural star keys (Catalyst
  * broadcasts the dims, shuffles facts once); q13's left-outer count and
  * q18's HAVING both partial-aggregate map-side before their shuffles.
  */
object TpchOps {
  // NOTE: no ROUND() on any money/share output. ROUND(double, n) is
  // engine-DIVERGENT on half-boundary values (Spark rounds the shortest
  // decimal repr half-up; DuckDB multiplies by 10^n and rints — the
  // float multiply can cross the .5 the other way; seen at sf0.1:
  // t_q09 sum_profit -1430016.7815 vs .7814, t_q11 value .4088/.4087).
  // Every aggregate here is an exact DECIMAL(38,6) sum cast to DOUBLE —
  // already bit-identical in both engines — so the raw value is emitted
  // and cosmetic rounding is left to the consumer.

  private def q(name: String, sql: String): Q =
    Q(name, (s: SparkSession, d: String) => { Io.views(s, d); s.sql(sql) }, Some(sql))

  /** Derived supplier-part catalog — the trimmed schema's stand-in for
    * TPC-H partsupp, shared by q02/q09/q11/q20. This text is BOTH the
    * DuckDB oracles' ps CTE body and the Spark-side artifact build, so
    * the shared-text property holds for the derivation itself. MIN and
    * the decimal-routed SUM are order-independent, so the artifact is
    * deterministic under any partial-aggregation schedule. */
  // The unit-price division is zero-quantity-guarded (r12 degenerate
  // sweep): a zero-quantity lineitem would make ANSI Spark raise where
  // DuckDB yields NULL — the CASE makes both engines skip the row in
  // the MIN identically (value-neutral wherever quantities are > 0).
  private val psDerivation =
    """SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |    MIN(CASE WHEN l_quantity <> 0
      |        THEN l_extendedprice / l_quantity END) AS ps_supplycost,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS ps_availqty
      |  FROM lineitem GROUP BY 1, 2""".stripMargin

  /** Memoized + materialized ps catalog, exposed to SQL through a
    * dir-scoped temp view (dir-scoped so a warm-up sweep at sf0.001
    * never collides with the timed pass at sf0.1). Why it exists: q02
    * references ps twice (main block + correlated min-cost subquery)
    * and Catalyst plans two independent lineitem aggregates — no
    * ReusedExchange fires because column pruning gives the branches
    * different schemas (verified in the r5 plan: two separate
    * hashpartitioning(l_partkey, l_suppkey) exchanges). Materializing
    * once and scanning the artifact is the standard warehouse shape: a
    * production deployment maintains the catalog as a table, not a CTE
    * re-derived per query. */
  private def psView(s: SparkSession, d: String): String = {
    val view = s"ps_cat_${Q.dirDigest(d)}"
    Q.memoized(s, d, "tpchPsCat") { // callers register the views first
      val df = Q.materialize(s, d, "tpchPsCat")(s.sql(psDerivation))
      df.createOrReplaceTempView(view)
      df
    }
    view
  }

  /** A TPC-H query over the shared ps catalog: `text` receives the ps
    * CTE body — the raw derivation for the DuckDB oracle, a scan of the
    * materialized artifact view for Spark. */
  private def qPs(name: String, text: String => String): Q =
    Q(name,
      (s, d) => { Io.views(s, d); s.sql(text(s"SELECT * FROM ${psView(s, d)}")) },
      Some(text(psDerivation)))

  private val revenue =
    "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)"

  val all: Seq[Q] = Seq(
    q("t_q01",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= DATE '2001-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // q2 adapted: the trimmed schema has no partsupp, so the
    // supplier-part catalog is DERIVED from observed lineitems —
    // ps_supplycost = min observed unit price per (part, supplier).
    // The shape q2 exists to test survives intact: a multi-dim join
    // fanning out from part, with a correlated min-cost scalar
    // subquery re-traversing the same dims. Scale: ps is the shared
    // materialized catalog artifact (built once per corpus — q2
    // references it TWICE, and without the artifact Spark built the
    // lineitem aggregate once per reference); dims broadcast; the
    // correlated MIN decorrelates to a per-part aggregate joined back
    // (no per-row re-execution).
    qPs("t_q02", ps =>
      s"""WITH ps AS ($ps)
        |SELECT s_acctbal AS s_acctbal, s_name, n_name, p_partkey, p_name,
        |  CAST(CAST(CAST(ps_supplycost AS STRING) AS DECIMAL(38,6)) AS DOUBLE) AS supplycost
        |FROM part
        |  JOIN ps ON p_partkey = ps_partkey
        |  JOIN supplier ON s_suppkey = ps_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE p_size BETWEEN 10 AND 20 AND p_type = 'STANDARD' AND r_name = 'EUROPE'
        |  AND ps_supplycost = (
        |    SELECT MIN(ps2.ps_supplycost)
        |    FROM ps ps2
        |      JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
        |      JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        |      JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |    WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin),

    q("t_q03",
      s"""SELECT l_orderkey,
         |  $revenue AS revenue,
         |  CAST(o_orderdate AS DATE) AS orderdate
         |FROM customer
         |  JOIN orders ON c_custkey = o_custkey
         |  JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < DATE '1997-06-01'
         |  AND l_shipdate > DATE '1997-06-01'
         |GROUP BY l_orderkey, o_orderdate
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 10""".stripMargin),

    // q4 adapted: the schema has no l_commitdate/l_receiptdate, so
    // "late" is l_shipdate more than 30 days after the order date.
    q("t_q04",
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL '30' DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    q("t_q05",
      s"""SELECT n_name, $revenue AS revenue
         |FROM customer
         |  JOIN orders ON c_custkey = o_custkey
         |  JOIN lineitem ON l_orderkey = o_orderkey
         |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin),

    q("t_q06",
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin),

    q("t_q07",
      s"""SELECT supp_nation, cust_nation, l_year,
         |  CAST(SUM(CAST(volume AS DECIMAL(38,6))) AS DOUBLE) AS revenue
         |FROM (
         |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |    CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
         |    l_extendedprice * (1 - l_discount) AS volume
         |  FROM supplier
         |    JOIN lineitem ON s_suppkey = l_suppkey
         |    JOIN orders ON o_orderkey = l_orderkey
         |    JOIN customer ON c_custkey = o_custkey
         |    JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |    JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |  WHERE ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
         |      OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
         |    AND l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31') shipping
         |GROUP BY supp_nation, cust_nation, l_year
         |ORDER BY supp_nation, cust_nation, l_year""".stripMargin),

    q("t_q08",
      """SELECT o_year,
        |  CASE WHEN CAST(SUM(CAST(volume AS DECIMAL(38,6))) AS DOUBLE) <> 0 THEN
        |  CAST(SUM(CAST(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END AS DECIMAL(38,6))) AS DOUBLE)
        |    / CAST(SUM(CAST(volume AS DECIMAL(38,6))) AS DOUBLE) END AS mkt_share
        |FROM (
        |  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
        |    l_extendedprice * (1 - l_discount) AS volume,
        |    n2.n_name AS nation
        |  FROM part
        |    JOIN lineitem ON p_partkey = l_partkey
        |    JOIN supplier ON s_suppkey = l_suppkey
        |    JOIN orders ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |    JOIN region ON n1.n_regionkey = r_regionkey
        |    JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'AMERICA'
        |    AND o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
        |    AND p_type = 'ECONOMY') all_nations
        |GROUP BY o_year
        |ORDER BY o_year""".stripMargin),

    // q9 adapted (STRING hop on the profit term: ps_supplycost is a
    // QUOTIENT double — see q11's value note): profit's ps_supplycost comes from the derived
    // catalog (min observed unit price — see t_q02). Money sums route
    // through DECIMAL(38,6) so the nation×year totals are accumulation-
    // order-independent. Scale: the ps table joins the fact on its own
    // grain (l_partkey, l_suppkey) — co-partitioned shuffle, dims
    // broadcast, one final hash-agg on (nation, year).
    qPs("t_q09", ps =>
      s"""WITH ps AS ($ps)
        |SELECT n_name AS nation, CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
        |  -- the profit term is ~0 with float dust on each (part,supp)'s own
        |  -- min-cost row; the guard zeroes sub-half-ulp magnitudes BEFORE the
        |  -- STRING hop (DuckDB's string->decimal parse half-ups the first
        |  -- significant digit regardless of exponent: '7.2e-12' -> 0.000001)
        |  CAST(SUM(CAST(CAST(CASE WHEN ABS(l_extendedprice * (1 - l_discount) - ps_supplycost * l_quantity) < 5e-7 THEN CAST(0 AS DOUBLE)
        |                          ELSE l_extendedprice * (1 - l_discount) - ps_supplycost * l_quantity END
        |       AS STRING) AS DECIMAL(38,6))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN part ON p_partkey = l_partkey
        |  JOIN ps ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY n_name, o_year
        |ORDER BY nation, o_year DESC""".stripMargin),

    q("t_q10",
      s"""SELECT c_custkey, c_name,
         |  $revenue AS revenue,
         |  c_acctbal AS acctbal, n_name
         |FROM customer
         |  JOIN orders ON c_custkey = o_custkey
         |  JOIN lineitem ON l_orderkey = o_orderkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
         |  AND l_returnflag = 'R'
         |GROUP BY c_custkey, c_name, c_acctbal, n_name
         |ORDER BY revenue DESC, c_custkey
         |LIMIT 20""".stripMargin),

    // q11 adapted: "stock value" over the derived catalog —
    // availqty = total observed quantity, supplycost as in t_q02; the
    // nation group is the EUROPE five (the synthetic n_name domain).
    // The signature shape survives: grouped value vs a scalar-subquery
    // threshold over the whole distribution. TPC-H's fixed fraction
    // (0.0001/SF) is scale-DEPENDENT — at 10× the parts each share
    // shrinks below it and the result empties — so the threshold here
    // is 1.5× the mean part value, which selects the same "important
    // stock" tail at every SF. The mean sums DECIMAL(38,6) (exact,
    // order-independent) so the > cut is engine-identical.
    // Scale: v is one shuffle; the scalar mean is a one-row broadcast.
    // q11: the `v` CTE (per-part inventory value over the chosen
    // nations) is referenced TWICE — main block + global-average scalar
    // subquery — and Catalyst plans two full independent copies of its
    // ps→supplier→nation join+aggregate chain (no ReusedExchange, same
    // pathology q02 had with ps; verified in the r7 ProbeTq plan). So
    // the Spark side materializes `v` once as a dir-scoped artifact
    // (part-sized, bounded at any SF) and both references scan it; the
    // oracle inlines the identical derivation text. The `v` body and
    // the final block remain shared text between the engines.
    {
      val vBody = (ps: String) =>
        s"""SELECT ps_partkey,
          |    -- VARCHAR hop: ps_supplycost is a QUOTIENT double, and the
          |    -- per-row double->decimal cast is engine-divergent on repr
          |    -- boundaries (Spark rounds the shortest repr half-up, DuckDB
          |    -- multiplies and rints — seen 1e-6 off at sf0.1). Both engines
          |    -- print the shortest repr for STRING and round the parsed string
          |    -- half-up at 1e-6, so the hop makes the cast engine-identical.
          |    CAST(SUM(CAST(CAST(ps_supplycost * ps_availqty AS STRING) AS DECIMAL(38,6))) AS DOUBLE) AS value
          |  FROM ($ps) AS ps
          |    JOIN supplier ON s_suppkey = ps_suppkey
          |    JOIN nation ON s_nationkey = n_nationkey
          |  WHERE n_name IN ('NATION_3', 'NATION_8', 'NATION_13', 'NATION_18', 'NATION_23')
          |  GROUP BY ps_partkey""".stripMargin
      val fin = (v: String) =>
        s"""WITH v AS ($v)
          |SELECT ps_partkey, value AS value
          |FROM v
          |WHERE value > (SELECT 1.5 * CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) FROM v)
          |ORDER BY value DESC, ps_partkey""".stripMargin
      Q("t_q11",
        (s, d) => {
          Io.views(s, d)
          val view = s"q11v_${Q.dirDigest(d)}"
          Q.memoized(s, d, "tpchQ11V") {
            val df = Q.materialize(s, d, "tpchQ11V")(
              s.sql(vBody(s"SELECT * FROM ${psView(s, d)}")))
            df.createOrReplaceTempView(view)
            df
          }
          s.sql(fin(s"SELECT * FROM $view"))
        },
        Some(fin(vBody(psDerivation))))
    },

    // q12 adapted: no l_shipmode/l_commitdate/l_receiptdate —
    // l_returnflag stands in for the shipping channel and "late" is
    // shipped >60 days after the order date (q4's convention). The
    // tested shape is intact: fact-fact join + dual CASE-sum pivot on
    // order priority. Scale: one equi-join shuffle on orderkey, then a
    // 3-group hash-agg; both CASE sums partial-aggregate map-side.
    q("t_q12",
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL '60' DAY
        |  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    q("t_q13",
      """SELECT c_count, COUNT(*) AS custdist
        |FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |      GROUP BY c_custkey) c_orders
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),

    q("t_q14",
      """SELECT
        |  CASE WHEN CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) <> 0 THEN
        |  100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
        |                             THEN l_extendedprice * (1 - l_discount)
        |                             ELSE 0 END AS DECIMAL(38,6))) AS DOUBLE)
        |  / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
        |  END AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= DATE '1996-09-01' AND l_shipdate < DATE '1996-10-01'""".stripMargin),

    q("t_q15",
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin),

    // q16 adapted: supplier-part relationships derive from lineitem
    // (no partsupp); the "customer complaints" supplier exclusion
    // becomes negative account balance (the schema has no comment
    // column). Shape intact: NOT IN anti-join + COUNT(DISTINCT) over
    // a three-column group. Scale: the distinct-pair build is one
    // shuffle, part broadcasts, the NOT IN side is a tiny broadcast
    // anti-join, and distinct-count expands then re-aggregates once.
    q("t_q16",
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        |  FROM lineitem)
        |SELECT p_brand, p_type, p_size, COUNT(DISTINCT ps_suppkey) AS supplier_cnt
        |FROM ps JOIN part ON p_partkey = ps_partkey
        |WHERE p_brand <> 'Brand#45' AND p_type <> 'MEDIUM'
        |  AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
        |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    // q17 adapted: no container column; brand + the correlated
    // 20%-of-average-quantity subquery carry the shape.
    q("t_q17",
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7.0 AS avg_yearly,
        |  COUNT(*) AS n
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#13'
        |  AND l_quantity < (SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(38,6))) AS DOUBLE)
        |                                  / COUNT(*))
        |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin),

    q("t_q18",
      """SELECT c_name, c_custkey, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS orderdate,
        |  o_totalprice AS totalprice,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
        |FROM customer
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 300
        |ORDER BY totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin),

    // q19 adapted: no p_container / l_shipmode / l_shipinstruct in the
    // trimmed schema; the disjunctive (brand, size, quantity) join
    // predicate — the shape q19 exists to test (OR-of-ANDs straddling
    // both join sides, still planned as an equi-join on p_partkey with
    // the disjunction as a post-join filter) — survives intact.
    q("t_q19",
      """SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin),

    // q20 adapted: "excess stock" over the derived catalog —
    // availqty = total observed quantity per (part, supplier), and the
    // correlated half-of-year-shipments threshold keeps q20's nested
    // IN + correlated-scalar shape. AMERICA's five nations filter the
    // supplier side. Scale: both subqueries decorrelate to aggregates
    // on the (part, supplier) grain — same key as ps, co-partitioned,
    // no per-row re-execution; the part-name IN list broadcasts.
    qPs("t_q20", ps =>
      s"""WITH ps AS ($ps)
        |SELECT s_suppkey, s_name, s_acctbal AS s_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name IN ('NATION_1', 'NATION_6', 'NATION_11', 'NATION_16', 'NATION_21')
        |  AND s_suppkey IN (
        |    SELECT ps_suppkey FROM ps
        |    WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        |      AND ps_availqty > (
        |        SELECT 0.5 * CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
        |        FROM lineitem
        |        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |          AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'))
        |ORDER BY s_suppkey""".stripMargin),

    // q21 adapted: "kept orders waiting" uses q4's lateness convention
    // (shipped >30 days after order date; the schema has no commit/
    // receipt dates), with the inner l3 scan re-joining orders to keep
    // every correlation an equality (decorrelation-friendly on both
    // engines). The EXISTS/NOT EXISTS pair — the shape q21 exists to
    // test — is intact: another supplier participated, and no other
    // supplier was late. Scale: both rewrite to semi/anti hash joins
    // keyed on l_orderkey, the fact's natural key; ASIA's five nations
    // prune the supplier side before the fan-out.
    q("t_q21",
      """SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM supplier
        |  JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |  JOIN orders ON o_orderkey = l1.l_orderkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL '30' DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL '30' DAY)
        |  AND n_name IN ('NATION_2', 'NATION_7', 'NATION_12', 'NATION_17', 'NATION_22')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin),

    // q22 adapted: no c_phone (cntrycode = c_nationkey mod 10), and this
    // synthetic data gives every customer at least one order, so the
    // anti-join is "no order since 1999" (lapsed customers) instead of
    // "never ordered" — same plan shape: scalar average subquery +
    // NOT EXISTS anti-join + grouped aggregate.
    q("t_q22",
      """SELECT cntrycode, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS totacctbal
        |FROM (SELECT CAST(c_nationkey % 10 AS INT) AS cntrycode, c_acctbal
        |      FROM customer
        |      WHERE c_nationkey % 10 IN (1, 2, 3, 4, 5, 6)
        |        AND c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
        |                         FROM customer
        |                         WHERE c_acctbal > 0.0 AND c_nationkey % 10 IN (1, 2, 3, 4, 5, 6))
        |        AND NOT EXISTS (SELECT 1 FROM orders
        |                        WHERE o_custkey = c_custkey
        |                          AND o_orderdate >= DATE '1999-01-01')) custsale
        |GROUP BY cntrycode
        |ORDER BY cntrycode""".stripMargin)
  )
}
