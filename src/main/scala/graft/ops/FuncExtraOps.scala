package graft.ops

import graft.io.Io
import org.apache.spark.sql.functions._
import Q._

/** Extended scalar-function surface (second wave) — string, date, math,
  * and bit functions a user of the reference engine would expect to keep
  * working. Per-row maps only; nothing here shuffles.
  */
object FuncExtraOps {

  val all: Seq[Q] = Seq(
    Q("f_str_funcs2", (s, d) => {
      Io.table(s, d, "part")
        .select(col("p_partkey"),
          translate(col("p_brand"), "Brand#", "brandN").as("translated"),
          expr("repeat(p_brand, 2)").as("repeated"),
          reverse(col("p_name")).as("reversed"),
          instr(col("p_name"), "a").as("first_a"),
          expr("left(p_name, 3)").as("l3"),
          expr("right(p_name, 3)").as("r3"),
          regexp_replace(col("p_type"), lit(" "), lit("_")).as("snake_type"),
          expr("replace(p_type, ' ', '+')").as("plus_type"),
          ascii(col("p_name")).as("first_code"),
          expr("chr(65 + CAST(p_partkey % 26 AS INT))").as("letter"),
          col("p_name").startsWith("a").as("starts_a"),
          col("p_name").endsWith("e").as("ends_e"),
          col("p_name").contains("ol").as("has_ol"))
        .orderBy("p_partkey")
    }, Some(
      """SELECT p_partkey,
        |  translate(p_brand, 'Brand#', 'brandN') AS translated,
        |  repeat(p_brand, 2) AS repeated,
        |  reverse(p_name) AS reversed,
        |  CAST(instr(p_name, 'a') AS INT) AS first_a,
        |  left(p_name, 3) AS l3,
        |  right(p_name, 3) AS r3,
        |  regexp_replace(p_type, ' ', '_', 'g') AS snake_type,
        |  replace(p_type, ' ', '+') AS plus_type,
        |  CAST(ascii(p_name) AS INT) AS first_code,
        |  chr(65 + CAST(p_partkey % 26 AS INT)) AS letter,
        |  starts_with(p_name, 'a') AS starts_a,
        |  ends_with(p_name, 'e') AS ends_e,
        |  contains(p_name, 'ol') AS has_ol
        |FROM part ORDER BY p_partkey""".stripMargin)),

    Q("f_date_funcs2", (s, d) => {
      val dt = col("o_orderdate").cast("date")
      Io.table(s, d, "orders")
        .select(col("o_orderkey"),
          quarter(dt).as("qtr"),
          weekofyear(dt).as("iso_week"),
          add_months(dt, 3).as("plus_3mo"),
          ((year(dt) * 12 + month(dt)) -
            (lit(1995) * 12 + lit(1))).as("months_since_1995"),
          date_format(dt, "yyyy-MM").as("ym"),
          make_date(year(dt), month(dt), lit(1)).as("month_first"),
          date_sub(dt, 7).as("minus_week"))
        .orderBy("o_orderkey")
    }, Some(
      """SELECT o_orderkey,
        |  CAST(quarter(CAST(o_orderdate AS DATE)) AS INT) AS qtr,
        |  CAST(weekofyear(CAST(o_orderdate AS DATE)) AS INT) AS iso_week,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus_3mo,
        |  CAST((year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)))
        |       - (1995 * 12 + 1) AS INT) AS months_since_1995,
        |  strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS ym,
        |  make_date(CAST(year(CAST(o_orderdate AS DATE)) AS INT),
        |            CAST(month(CAST(o_orderdate AS DATE)) AS INT), 1) AS month_first,
        |  CAST(o_orderdate AS DATE) - 7 AS minus_week
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // Timezone conversion surface — the ETL corner every multi-region
    // event pipeline hits: render a UTC instant as local wall-clock in
    // named IANA zones (DST-correct), plus the live UTC offset. Spark:
    // from_utc_timestamp (session pinned UTC by every entry point).
    // DuckDB twin is written to be SESSION-TIMEZONE-INDEPENDENT:
    // timezone('UTC', ts) pins the naive ts as a UTC instant, then
    // timezone(zone, instant) yields that zone's naive wall time —
    // verified to give identical results under TimeZone=UTC and
    // TimeZone=Asia/Tokyo, so a driver-side DuckDB with any session
    // setting reproduces it. Offsets emit as integer minutes (exact
    // multiples of 60 s — no float rounding concern) and wall times as
    // epoch-µs BIGINT per house rule G2. Pure per-row projection: at
    // 100 TB this is map-side codegen, no shuffle at all (the ORDER BY
    // is the check harness's, not the operator's).
    Q("f_tz_funcs", (s, d) => {
      val ny = from_utc_timestamp(col("ts_t"), "America/New_York")
      val tk = from_utc_timestamp(col("ts_t"), "Asia/Tokyo")
      Io.events(s, d)
        .select(col("event_id"),
          hour(col("ts_t")).as("hour_utc"),
          unix_micros(ny).as("ny_wall_us"),
          hour(ny).as("hour_ny"),
          ny.cast("date").as("date_ny"),
          ((unix_micros(ny) - col("ts_us")) / lit(60000000L)).cast("long")
            .as("off_ny_min"),
          hour(tk).as("hour_tokyo"),
          ((unix_micros(tk) - col("ts_us")) / lit(60000000L)).cast("long")
            .as("off_tokyo_min"))
        .orderBy("event_id")
    }, Some(
      """SELECT event_id,
        |  CAST(EXTRACT(hour FROM ts) AS INT) AS hour_utc,
        |  epoch_us(timezone('America/New_York', timezone('UTC', ts))) AS ny_wall_us,
        |  CAST(EXTRACT(hour FROM timezone('America/New_York', timezone('UTC', ts))) AS INT) AS hour_ny,
        |  CAST(timezone('America/New_York', timezone('UTC', ts)) AS DATE) AS date_ny,
        |  (epoch_us(timezone('America/New_York', timezone('UTC', ts))) - epoch_us(ts)) // 60000000 AS off_ny_min,
        |  CAST(EXTRACT(hour FROM timezone('Asia/Tokyo', timezone('UTC', ts))) AS INT) AS hour_tokyo,
        |  (epoch_us(timezone('Asia/Tokyo', timezone('UTC', ts))) - epoch_us(ts)) // 60000000 AS off_tokyo_min
        |FROM events ORDER BY event_id""".stripMargin)),

    Q("f_math_funcs2", (s, d) => {
      Io.table(s, d, "part")
        .select(col("p_partkey"),
          r6(sin(col("p_size") / 10.0)).as("sin_x"),
          r6(cos(col("p_size") / 10.0)).as("cos_x"),
          r6(atan2(col("p_size").cast("double"), lit(7.0))).as("atan2_x"),
          r6(exp(col("p_size") / 25.0)).as("exp_x"),
          // positivity guards (r12 sweep): Spark log10/log2(0) → NULL
          // where DuckDB RAISES — mirrored CASEs in the oracle
          r6(when(col("p_retailprice") > 0, log10(col("p_retailprice"))))
            .as("log10_p"),
          r6(when(col("p_retailprice") > 0, log2(col("p_retailprice"))))
            .as("log2_p"),
          r6(cbrt(col("p_retailprice"))).as("cbrt_p"),
          signum(col("p_size") - 25).cast("double").as("sign_off"),
          greatest(col("p_size"), lit(10), lit(25)).as("gmax"),
          least(col("p_size"), lit(10), lit(25)).as("lmin"),
          r6(degrees(col("p_size") / 50.0)).as("deg"),
          r6(radians(col("p_size").cast("double"))).as("rad"),
          factorial(col("p_size") % 10).as("fact"))
        .orderBy("p_partkey")
    }, Some(
      """SELECT p_partkey,
        |  ROUND(sin(p_size / 10.0), 6) AS sin_x,
        |  ROUND(cos(p_size / 10.0), 6) AS cos_x,
        |  ROUND(atan2(CAST(p_size AS DOUBLE), 7.0), 6) AS atan2_x,
        |  ROUND(exp(p_size / 25.0), 6) AS exp_x,
        |  ROUND(CASE WHEN p_retailprice > 0 THEN log10(p_retailprice) END, 6)
        |    AS log10_p,
        |  ROUND(CASE WHEN p_retailprice > 0 THEN log2(p_retailprice) END, 6)
        |    AS log2_p,
        |  ROUND(cbrt(p_retailprice), 6) AS cbrt_p,
        |  CAST(sign(p_size - 25) AS DOUBLE) AS sign_off,
        |  CAST(greatest(p_size, 10, 25) AS INT) AS gmax,
        |  CAST(least(p_size, 10, 25) AS INT) AS lmin,
        |  ROUND(degrees(p_size / 50.0), 6) AS deg,
        |  ROUND(radians(CAST(p_size AS DOUBLE)), 6) AS rad,
        |  CAST(factorial(p_size % 10) AS BIGINT) AS fact
        |FROM part ORDER BY p_partkey""".stripMargin)),

    Q("f_bit_funcs", (s, d) => {
      Io.table(s, d, "part")
        .select(col("p_partkey"),
          expr("p_size & 21").as("b_and"),
          expr("p_size | 21").as("b_or"),
          expr("p_size ^ 21").as("b_xor"),
          shiftleft(col("p_size"), 2).as("b_shl"),
          shiftright(col("p_size"), 1).as("b_shr"),
          bit_count(col("p_size")).as("b_pop"))
        .orderBy("p_partkey")
    }, Some(
      """SELECT p_partkey,
        |  p_size & 21 AS b_and,
        |  p_size | 21 AS b_or,
        |  xor(p_size, 21) AS b_xor,
        |  p_size << 2 AS b_shl,
        |  p_size >> 1 AS b_shr,
        |  CAST(bit_count(p_size) AS INT) AS b_pop
        |FROM part ORDER BY p_partkey""".stripMargin)),

    // Cryptographic digests + base64 — content-addressing primitives
    // (dedup keys, cache keys, stable shard assignment at 100 TB).
    Q("f_hash_funcs", (s, d) => {
      Io.table(s, d, "part")
        .select(col("p_partkey"),
          md5(col("p_name")).as("h_md5"),
          sha2(col("p_name"), 256).as("h_sha256"),
          base64(col("p_name").cast("binary")).as("h_b64"),
          substring(sha2(col("p_name"), 256), 1, 8).as("shard_key"))
        .orderBy("p_partkey")
    }, Some(
      """SELECT p_partkey,
        |  md5(p_name) AS h_md5,
        |  sha256(p_name) AS h_sha256,
        |  base64(CAST(p_name AS BLOB)) AS h_b64,
        |  substr(sha256(p_name), 1, 8) AS shard_key
        |FROM part ORDER BY p_partkey""".stripMargin)),

    // Deterministic ~5% sample via a multiplicative hash of the key —
    // the portable, engine-independent way to sample a fixed cohort out
    // of 100 TB (rand()-based sampling is neither reproducible across
    // runs nor comparable across engines). Knuth multiplier mod 2^32.
    Q("f_sample_hash", (s, d) => {
      Io.table(s, d, "orders")
        .filter(expr(s"${Q.coin("o_orderkey")} < 214748364"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
    }, Some(
      s"""SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE ${Q.coin("o_orderkey")} < 214748364
        |ORDER BY o_orderkey""".stripMargin)),

    // ANSI-safe arithmetic: Spark 4 runs ANSI mode by default, where
    // division by zero, malformed casts and out-of-range element access
    // THROW — the try_* family is the production answer (NULL instead of
    // a failed 100 TB job). DuckDB twins: NULLIF guard, TRY_CAST, and
    // native OOB-list-index-is-NULL.
    Q("f_try_funcs", (s, d) => {
      Io.table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          // Snap the double quotient to DECIMAL(38,6) before the 4-digit
          // round: a quotient landing on a ...5 half-boundary (e.g.
          // 2338.70875) otherwise rounds differently in Spark (HALF_UP on
          // the shortest decimal repr) vs DuckDB (binary nearbyint).
          r4(expr("try_divide(l_extendedprice, l_quantity - 25.0)")
            .cast(org.apache.spark.sql.types.DecimalType(38, 6)))
            .cast("double").as("safe_ratio"),
          expr("""try_cast(CASE WHEN l_linenumber % 2 = 0
                 |        THEN CAST(l_orderkey AS STRING) ELSE l_returnflag END
                 |        AS BIGINT)""".stripMargin).as("maybe_num"),
          expr("try_element_at(sequence(1, CAST(l_linenumber AS INT)), 5)")
            .as("fifth"))
        .orderBy("l_orderkey", "l_linenumber", "safe_ratio", "maybe_num", "fifth")
    }, Some(
      """SELECT l_orderkey, l_linenumber,
        |  CAST(ROUND(CAST(l_extendedprice / NULLIF(l_quantity - 25.0, 0.0)
        |             AS DECIMAL(38,6)), 4) AS DOUBLE) AS safe_ratio,
        |  TRY_CAST(CASE WHEN l_linenumber % 2 = 0
        |           THEN CAST(l_orderkey AS VARCHAR) ELSE l_returnflag END
        |           AS BIGINT) AS maybe_num,
        |  CAST((generate_series(1, CAST(l_linenumber AS BIGINT)))[5] AS INT) AS fifth
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, safe_ratio NULLS FIRST,
        |  maybe_num NULLS FIRST, fifth NULLS FIRST""".stripMargin)),

    // Jaro-Winkler name matching — the record-linkage complement to
    // c_join_fuzzy's edit distance (JW weights shared prefixes, the
    // right bias for entity names). Same blocked-triangle pair layout
    // (per-task fanout 2n/B, equi-join shuffle — no BNLJ, no
    // broadcast of a data-sized side); the similarity itself is the
    // native codegen `jaro_winkler` expression, bit-identical to
    // DuckDB's `jaro_winkler_similarity`, snapped at 1e-6 on both
    // sides before the threshold so the cut cannot knife-edge.
    Q("f_str_jarowinkler", (s, d) => {
      val names = Io.table(s, d, "part")
        .groupBy(col("p_name")).agg(min(col("p_partkey")).as("nid"))
      PairJoins.trianglePairs(names, Nil, "nid", 4)
        .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"))
        .withColumn("jw_sim",
          expr("jaro_winkler(name_a, name_b)")
            .cast(org.apache.spark.sql.types.DecimalType(38, 6)).cast("double"))
        .filter(col("jw_sim") >= 0.9)
        .orderBy("name_a", "name_b")
    }, Some(
      """WITH n AS (SELECT p_name, MIN(p_partkey) AS nid FROM part GROUP BY 1),
        |p AS (
        |  SELECT a.p_name AS name_a, b.p_name AS name_b,
        |    CAST(CAST(jaro_winkler_similarity(a.p_name, b.p_name)
        |         AS DECIMAL(38,6)) AS DOUBLE) AS jw_sim
        |  FROM n a JOIN n b ON a.nid < b.nid)
        |SELECT * FROM p WHERE jw_sim >= 0.9
        |ORDER BY name_a, name_b""".stripMargin))
  )
}
