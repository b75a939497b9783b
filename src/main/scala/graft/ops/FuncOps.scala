package graft.ops

import graft.io.Io
import org.apache.spark.sql.functions._
import Q._

/** SURVEY.md §2-F — sort / limit / set ops / scalar function surface.
  *
  * Dialect notes baked into the oracles (all verified by the parity
  * harness): DuckDB length()/len()/levenshtein()/date_diff() return
  * BIGINT where Spark returns INT (cast on the DuckDB side); DuckDB
  * regexp_replace needs the 'g' flag to match Spark's replace-all;
  * DuckDB dayofweek is 0-based Sunday, Spark's is 1-based Sunday;
  * DuckDB ceil/floor of double return DOUBLE where Spark returns LONG.
  */
object FuncOps {

  val all: Seq[Q] = Seq(
    Q("f_sort_multi", (s, d) => {
      Io.table(s, d, "orders")
        .select(col("o_orderstatus"), col("o_totalprice"), col("o_orderkey"))
        .orderBy(col("o_orderstatus").asc, col("o_totalprice").desc_nulls_last, col("o_orderkey").asc)
    }, Some(
      """SELECT o_orderstatus, o_totalprice, o_orderkey FROM orders
        |ORDER BY o_orderstatus ASC, o_totalprice DESC NULLS LAST, o_orderkey ASC""".stripMargin)),

    Q("f_topk_global", (s, d) => {
      Io.table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(50)
    }, Some(
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 50""".stripMargin)),

    Q("f_set_union", (s, d) => {
      val c = Io.table(s, d, "customer")
      val a = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"), col("c_name"))
      val b = c.filter(col("c_acctbal") > 8000).select(col("c_custkey"), col("c_name"))
      a.unionByName(b).distinct().orderBy("c_custkey")
    }, Some(
      """SELECT DISTINCT * FROM (
        |  SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING'
        |  UNION ALL
        |  SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 8000)
        |ORDER BY c_custkey""".stripMargin)),

    Q("f_set_union_all", (s, d) => {
      val c = Io.table(s, d, "customer")
      val a = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"), col("c_name"))
      val b = c.filter(col("c_acctbal") > 8000).select(col("c_custkey"), col("c_name"))
      a.unionByName(b).orderBy("c_custkey", "c_name")
    }, Some(
      """SELECT c_custkey, c_name FROM (
        |  SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING'
        |  UNION ALL
        |  SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 8000)
        |ORDER BY c_custkey, c_name""".stripMargin)),

    Q("f_set_intersect", (s, d) => {
      Io.table(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .intersect(Io.table(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey")
    }, Some(
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin)),

    Q("f_set_except", (s, d) => {
      Io.table(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .except(Io.table(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey")
    }, Some(
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin)),

    Q("f_set_intersect_all", (s, d) => {
      val a = Io.table(s, d, "orders").filter(col("o_custkey") <= 100)
        .select(col("o_custkey").as("k"))
      val b = Io.table(s, d, "orders").filter(col("o_orderstatus") === "F")
        .filter(col("o_custkey") <= 100).select(col("o_custkey").as("k"))
      a.intersectAll(b).orderBy("k")
    }, Some(
      """SELECT o_custkey AS k FROM orders WHERE o_custkey <= 100
        |INTERSECT ALL
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F' AND o_custkey <= 100
        |ORDER BY k""".stripMargin)),

    Q("f_set_except_all", (s, d) => {
      val a = Io.table(s, d, "orders").filter(col("o_custkey") <= 100)
        .select(col("o_custkey").as("k"))
      val b = Io.table(s, d, "orders").filter(col("o_orderstatus") === "F")
        .filter(col("o_custkey") <= 100).select(col("o_custkey").as("k"))
      a.exceptAll(b).orderBy("k")
    }, Some(
      """SELECT o_custkey AS k FROM orders WHERE o_custkey <= 100
        |EXCEPT ALL
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F' AND o_custkey <= 100
        |ORDER BY k""".stripMargin)),

    Q("f_str_funcs", (s, d) => {
      Io.table(s, d, "part")
        .select(col("p_partkey"),
          concat(col("p_brand"), lit("/"), col("p_type")).as("brand_type"),
          upper(col("p_name")).as("uname"),
          substring(col("p_name"), 1, 5).as("prefix5"),
          length(col("p_name")).as("name_len"),
          lpad(col("p_size").cast("string"), 4, "0").as("size_pad"),
          trim(concat(lit("  "), col("p_brand"), lit("  "))).as("trimmed"),
          element_at(split(col("p_name"), " "), 1).as("first_word"))
        .orderBy("p_partkey")
    }, Some(
      """SELECT p_partkey,
        |  p_brand || '/' || p_type AS brand_type,
        |  UPPER(p_name) AS uname,
        |  SUBSTRING(p_name, 1, 5) AS prefix5,
        |  CAST(LENGTH(p_name) AS INT) AS name_len,
        |  LPAD(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
        |  TRIM('  ' || p_brand || '  ') AS trimmed,
        |  string_split(p_name, ' ')[1] AS first_word
        |FROM part ORDER BY p_partkey""".stripMargin)),

    Q("f_str_regex", (s, d) => {
      Io.table(s, d, "part")
        .select(col("p_partkey"),
          regexp_extract(col("p_brand"), "Brand#(\\d+)", 1).cast("int").as("brand_no"),
          regexp_replace(col("p_type"), "[aeiou]", "_").as("devoweled"))
        .orderBy("p_partkey")
    }, Some(
      """SELECT p_partkey,
        |  CAST(regexp_extract(p_brand, 'Brand#(\d+)', 1) AS INT) AS brand_no,
        |  regexp_replace(p_type, '[aeiou]', '_', 'g') AS devoweled
        |FROM part ORDER BY p_partkey""".stripMargin)),

    Q("f_str_levenshtein", (s, d) => {
      Io.table(s, d, "part")
        .select(col("p_partkey"), col("p_brand"),
          levenshtein(col("p_brand"), lit("Brand#1")).as("lev"))
        .orderBy("p_partkey")
    }, Some(
      """SELECT p_partkey, p_brand, CAST(levenshtein(p_brand, 'Brand#1') AS INT) AS lev
        |FROM part ORDER BY p_partkey""".stripMargin)),

    Q("f_date_funcs", (s, d) => {
      val dt = col("o_orderdate").cast("date")
      Io.table(s, d, "orders")
        .select(col("o_orderkey"),
          dt.as("o_date"),
          year(dt).as("yr"), month(dt).as("mo"), dayofmonth(dt).as("dom"),
          trunc(dt, "month").as("month_start"),
          date_add(dt, 30).as("plus30"),
          datediff(dt, lit("1995-01-01").cast("date")).as("days_since"),
          dayofweek(dt).as("dow"),
          dayofyear(dt).as("doy"),
          last_day(dt).as("month_end"))
        .orderBy("o_orderkey")
    }, Some(
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) AS o_date,
        |  CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS yr,
        |  CAST(month(CAST(o_orderdate AS DATE)) AS INT) AS mo,
        |  CAST(dayofmonth(CAST(o_orderdate AS DATE)) AS INT) AS dom,
        |  CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month_start,
        |  CAST(o_orderdate AS DATE) + 30 AS plus30,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since,
        |  CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INT) AS dow,
        |  CAST(dayofyear(CAST(o_orderdate AS DATE)) AS INT) AS doy,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    Q("f_math_funcs", (s, d) => {
      Io.table(s, d, "part")
        .select(col("p_partkey"),
          round(col("p_retailprice") * 0.1, 2).as("tenth"),
          floor(col("p_retailprice")).as("flr"),
          ceil(col("p_retailprice")).as("cl"),
          abs(col("p_size") - 25).as("abs_off"),
          r6(pow(col("p_size").cast("double"), 2.0)).as("size_sq"),
          r6(sqrt(col("p_retailprice"))).as("price_sqrt"),
          // positivity guard (r12 sweep): Spark's log(0) is NULL where
          // DuckDB's LN(0) RAISES — the mirrored CASE makes ln of a
          // non-positive price NULL on both engines
          r6(when(col("p_retailprice") > 0, log(col("p_retailprice"))))
            .as("price_ln"),
          (col("p_partkey") % 7).as("key_mod7"))
        .orderBy("p_partkey")
    }, Some(
      """SELECT p_partkey,
        |  ROUND(p_retailprice * 0.1, 2) AS tenth,
        |  CAST(FLOOR(p_retailprice) AS BIGINT) AS flr,
        |  CAST(CEIL(p_retailprice) AS BIGINT) AS cl,
        |  CAST(ABS(p_size - 25) AS INT) AS abs_off,
        |  ROUND(POWER(CAST(p_size AS DOUBLE), 2.0), 6) AS size_sq,
        |  ROUND(SQRT(p_retailprice), 6) AS price_sqrt,
        |  ROUND(CASE WHEN p_retailprice > 0 THEN LN(p_retailprice) END, 6)
        |    AS price_ln,
        |  p_partkey % 7 AS key_mod7
        |FROM part ORDER BY p_partkey""".stripMargin)),

    Q("f_array_funcs", (s, d) => {
      Io.table(s, d, "embeddings")
        .select(col("vec_id"),
          size(col("embedding")).as("dim"),
          r6(element_at(col("embedding"), 1).cast("double")).as("first_elem"),
          r6(element_at(col("embedding"), 64).cast("double")).as("last_elem"),
          // Emit arrays joined to strings: the driver's comparator sorts
          // result rows in pandas, and raw array/map cells are unhashable
          // there (round-1 f_array_funcs failure). Same array functions
          // are exercised; only the final rendering is scalar.
          array_join(transform(sort_array(array(col("label"), col("label") * 2, lit(7))),
            x => x.cast("string")), "|").as("arr_sorted"),
          array_join(transform(sort_array(array_distinct(array(col("label"), col("label"), lit(3)))),
            x => x.cast("string")), "|").as("arr_dist"),
          array_join(transform(flatten(array(array(col("label")), array(col("label") + 1))),
            x => x.cast("string")), "|").as("arr_flat"))
        .orderBy("vec_id")
    }, Some(
      """SELECT vec_id,
        |  CAST(len(embedding) AS INT) AS dim,
        |  ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_elem,
        |  ROUND(CAST(embedding[64] AS DOUBLE), 6) AS last_elem,
        |  array_to_string(list_sort([label, label * 2, 7]), '|') AS arr_sorted,
        |  array_to_string(list_sort(list_distinct([label, label, 3])), '|') AS arr_dist,
        |  array_to_string(flatten([[label], [label + 1]]), '|') AS arr_flat
        |FROM embeddings ORDER BY vec_id""".stripMargin)),

    Q("f_array_explode", (s, d) => {
      Io.table(s, d, "documents")
        .filter(col("doc_id") < 10)
        .select(col("doc_id"), posexplode(Q.toks).as(Seq("pos", "token")))
        .orderBy("doc_id", "pos")
    }, Some(
      """SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[i] AS token
        |FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |      FROM documents WHERE doc_id < 10),
        |     LATERAL UNNEST(generate_series(1, len(toks))) AS u(i)
        |ORDER BY doc_id, pos""".stripMargin)),

    // Higher-order functions over the embedding vectors (cast to double
    // first — the column is float32).
    Q("f_array_hof", (s, d) => {
      val dvec = transform(col("embedding"), x => x.cast("double"))
      Io.table(s, d, "embeddings")
        .select(col("vec_id"),
          r6(aggregate(transform(dvec, x => abs(x)), lit(0.0), (acc, x) => acc + x)).as("l1_norm"),
          r6(aggregate(zip_with(dvec, dvec, (a, b) => a * b), lit(0.0), (acc, x) => acc + x)).as("sum_sq"),
          r6(element_at(transform(dvec, x => x * 2.0), 3)).as("third_x2"))
        .orderBy("vec_id")
    }, Some(
      """SELECT vec_id,
        |  ROUND(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))), 6) AS l1_norm,
        |  ROUND(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)), 6) AS sum_sq,
        |  ROUND(CAST(embedding[3] AS DOUBLE) * 2.0, 6) AS third_x2
        |FROM embeddings ORDER BY vec_id""".stripMargin)),

    Q("f_map_funcs", (s, d) => {
      val m = map(lit("lang"), col("lang"), lit("source"), col("source"))
      Io.table(s, d, "documents")
        .select(col("doc_id"),
          element_at(m, "lang").as("m_lang"),
          element_at(m, "source").as("m_source"),
          // Joined to a string for the same unhashable-cell reason as
          // f_array_funcs above (round-1 f_map_funcs failure).
          array_join(sort_array(map_keys(m)), "|").as("m_keys"),
          size(map_values(m)).as("n_vals"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |  lang AS m_lang,
        |  source AS m_source,
        |  'lang|source' AS m_keys,
        |  2 AS n_vals
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("f_json_extract", (s, d) => {
      Io.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type")
    }, Some(
      """SELECT event_type,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |  COUNT(*) AS n,
        |  MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Q("f_json_schema", (s, d) => {
      Io.events(s, d)
        .withColumn("parsed", from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")))
        .select(col("event_id"), col("parsed.k").as("k"))
        .filter(col("k") > 50)
        .orderBy("event_id")
    }, Some(
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events WHERE CAST(json_extract_string(props, '$.k') AS INT) > 50
        |ORDER BY event_id""".stripMargin)),

    // Correlated scalar subquery + correlated EXISTS; same SQL text runs
    // on both engines. Catalyst decorrelates to joins (plan asserted in
    // scalatest) — at scale this is a shuffle-keyed join, not N queries.
    // IN / NOT IN subqueries — the third subquery surface next to
    // EXISTS and scalar (f_cond_subquery). Catalyst turns them into
    // semi/anti joins; same SQL text runs on both engines.
    Q("f_in_subquery", (s, d) => {
      Io.views(s, d)
      s.sql(
        """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
          |FROM lineitem
          |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 2)
          |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
          |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity""".stripMargin)
    }, Some(
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
        |FROM lineitem
        |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 2)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity""".stripMargin)),

    Q("f_cond_subquery", (s, d) => {
      Io.views(s, d)
      s.sql(
        """SELECT o_orderkey, o_custkey, o_totalprice
          |FROM orders o
          |WHERE o_totalprice > (SELECT 1.9 * AVG(CAST(o2.o_totalprice AS DECIMAL(18,2)))
          |                      FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
          |  AND EXISTS (SELECT 1 FROM lineitem l
          |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
          |ORDER BY o_orderkey""".stripMargin)
    }, Some(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice > (SELECT 1.9 * AVG(CAST(o2.o_totalprice AS DECIMAL(18,2)))
        |                      FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
        |ORDER BY o_orderkey""".stripMargin))
  )
}
