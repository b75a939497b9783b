package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native codegen expressions added for the hot similarity paths
  * (lsh_bands, sq_dist_dec, simhash32, float-input dot_product) each
  * replace a relational or HOF formulation that the DuckDB oracle still
  * runs — these specs pin the in-Spark equivalence directly, so a drift
  * in the native code shows up here before the cross-engine gate.
  */
class NativeFuncSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val emb = {
    graft.functions.GraftExtensions.install(spark)
    spark.read.parquet(s"$sf/embeddings.parquet")
  }

  test("dot_product on float arrays equals dot_product on cast-to-double arrays") {
    val diff = emb
      .withColumn("dv", transform(col("embedding"), x => x.cast("double")))
      .select((expr("dot_product(embedding, embedding)") -
        expr("dot_product(dv, dv)")).as("delta"))
      .agg(max(abs(col("delta")))).head.getDouble(0)
    assert(diff == 0.0) // float→double widening is exact; bit-identical
  }

  test("lsh_bands equals the relational plane-join + decimal-sum long form") {
    import org.apache.spark.sql.types.DecimalType
    val planes = spark.range(0, 16).select(col("id").cast("int").as("p"))
      .crossJoin(spark.range(1, 65).select(col("id").cast("int").as("pos")))
      .withColumn("w",
        (((col("p") * 64 + col("pos")) * lit(2654435761L)) % 1000003L)
          .cast("double") / 1000003.0 - 0.5)
    val longForm = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos0", "v")))
      .withColumn("pos", col("pos0") + 1)
      .join(broadcast(planes), "pos")
      .groupBy(col("vec_id"), col("p"))
      .agg(sum((col("v").cast("double") * col("w")).cast(DecimalType(38, 12)))
        .cast("double").as("pr"))
      .withColumn("band", expr("p div 4"))
      .groupBy(col("vec_id"), col("band"))
      .agg(expr("sum(CAST(CASE WHEN pr >= 0.0 THEN shiftleft(1, p % 4) ELSE 0 END AS BIGINT))")
        .as("band_val"))
    val native = emb.select(col("vec_id"),
      posexplode(expr("lsh_bands(embedding)")).as(Seq("band", "band_val")))
    assert(native.except(longForm.select(col("vec_id"), col("band").cast("int"), col("band_val"))).isEmpty)
    assert(longForm.count() == native.count())
  }

  test("lsh_bands is dimension-generic: a dim-8 table matches the long form") {
    // the plane family derives from the vector's own length (w(p,i|dim)
    // = hash(p·dim + i)), so a non-64-dim embedding table gets valid
    // signatures with no code change — pinned against the same
    // relational decimal-sum long form the DuckDB oracle runs, on a
    // synthetic deterministic dim-8 table.
    import org.apache.spark.sql.types.DecimalType
    val dim = 8
    val vecs = spark.range(0, 50).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(dim)), i =>
        ((pmod(col("id") * 31 + i.cast("long") * 17, lit(97)).cast("double") / 97.0)
          - 0.5).cast("float")).as("embedding"))
    val planes = spark.range(0, 16).select(col("id").cast("int").as("p"))
      .crossJoin(spark.range(1, dim + 1).select(col("id").cast("int").as("pos")))
      .withColumn("w",
        (((col("p") * dim + col("pos")) * lit(2654435761L)) % 1000003L)
          .cast("double") / 1000003.0 - 0.5)
    val longForm = vecs
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos0", "v")))
      .withColumn("pos", col("pos0") + 1)
      .join(broadcast(planes), "pos")
      .groupBy(col("vec_id"), col("p"))
      .agg(sum((col("v").cast("double") * col("w")).cast(DecimalType(38, 12)))
        .cast("double").as("pr"))
      .withColumn("band", expr("p div 4"))
      .groupBy(col("vec_id"), col("band"))
      .agg(expr("sum(CAST(CASE WHEN pr >= 0.0 THEN shiftleft(1, p % 4) ELSE 0 END AS BIGINT))")
        .as("band_val"))
    graft.functions.GraftExtensions.install(spark)
    val native = vecs.select(col("vec_id"),
      posexplode(expr("lsh_bands(embedding)")).as(Seq("band", "band_val")))
    assert(native.except(
      longForm.select(col("vec_id"), col("band").cast("int"), col("band_val"))).isEmpty)
    assert(longForm.count() == native.count())
  }

  test("sq_dist_dec equals the posexplode + decimal-sum distance") {
    import org.apache.spark.sql.types.DecimalType
    val dec12 = DecimalType(38, 12)
    val cent = emb.select(col("label").as("c_label"),
        posexplode(col("embedding")).as(Seq("pos0", "v")))
      .groupBy(col("c_label"), col("pos0"))
      .agg((sum(col("v").cast("double").cast(dec12)).cast("double") / count(lit(1))).as("c"))
    val longForm = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos0", "v")))
      .join(cent, "pos0")
      .groupBy(col("vec_id"), col("c_label"))
      .agg(sum(((col("v").cast("double") - col("c")) * (col("v").cast("double") - col("c"))).cast(dec12))
        .cast("double").as("d2"))
    val centArr = cent.groupBy(col("c_label"))
      .agg(transform(array_sort(collect_list(struct(col("pos0"), col("c")))),
        x => x.getField("c")).as("carr"))
    val native = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centArr))
      .select(col("vec_id"), col("c_label"),
        expr("sq_dist_dec(embedding, carr)").as("d2"))
    assert(native.except(longForm).isEmpty && longForm.except(native).isEmpty)
  }

  test("simhash32 equals the relational explode-x32 vote form") {
    val polyHashSpark =
      "aggregate(transform(sequence(1, length(token)), i -> CAST(ascii(substring(token, i, 1)) AS BIGINT)), 0L, (a, c) -> (a * 131 + c) % 4294967296)"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val tok = docs
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("token"))
      .withColumn("th", expr(polyHashSpark))
    val bits = tok
      .select(col("doc_id"), col("th"), explode(sequence(lit(0), lit(31))).as("j"))
      .groupBy(col("doc_id"), col("j"))
      .agg(sum(when(expr("(th DIV CAST(power(2, j) AS BIGINT)) % 2") === 1, 1L)
        .otherwise(-1L)).as("s"))
    val longForm = bits.groupBy(col("doc_id"))
      .agg(sum(when(col("s") > 0, expr("CAST(power(2, j) AS BIGINT)")).otherwise(0L))
        .cast("long").as("simhash"))
    val native = docs
      .select(col("doc_id"),
        expr("simhash32(array_distinct(split(text, ' ')))").as("simhash"))
    assert(native.except(longForm).isEmpty && longForm.except(native).isEmpty)
  }

  test("h_embed_dedup output is a consistent keep-min-id contract") {
    val rows = Registry.queries("h_embed_dedup")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val vecId = r.getLong(0)
      val survives = r.getBoolean(3)
      if (survives) assert(r.isNullAt(1) && r.getLong(2) == 0L)
      else {
        assert(r.getLong(1) < vecId) // collapses to a LOWER id
        assert(r.getLong(2) >= 1L)
      }
    }
  }

  test("h_ann_lsh returns at most k=3 ranked neighbors per query") {
    val rows = Registry.queries("h_ann_lsh")(spark, sf)
      .groupBy(col("q_id")).agg(count(lit(1)).as("k"), max(col("rn")).as("maxrn"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("k") <= 3 && r.getAs[Int]("maxrn").toLong == r.getAs[Long]("k"))
    }
  }

  test("bitmask_inter equals the HOF popcount fold and composes to bitmask_jaccard") {
    graft.functions.GraftExtensions.install(spark)
    // bitmask_jaccard comes from GraftExtensions on the test session
    // random-ish but deterministic two-long masks
    val df = spark.range(200).selectExpr(
      "array(CAST(id * 2654435761 % 9223372036854775807 AS BIGINT)," +
        " CAST((id + 7) * 40503 AS BIGINT)) AS a",
      "array(CAST((id + 3) * 2654435761 % 9223372036854775807 AS BIGINT)," +
        " CAST(id * 40503 AS BIGINT)) AS b")
    val bad = df.selectExpr(
      "bitmask_inter(a, b) AS native",
      "aggregate(zip_with(a, b, (x, y) -> bit_count(x & y)), 0, (acc, v) -> acc + v) AS hof",
      "bitmask_inter(a, b) / CAST(aggregate(transform(a, x -> bit_count(x)), 0, (acc, v) -> acc + v)" +
        " + aggregate(transform(b, x -> bit_count(x)), 0, (acc, v) -> acc + v)" +
        " - bitmask_inter(a, b) AS DOUBLE) AS j_from_inter",
      "bitmask_jaccard(a, b) AS j_native")
      .filter("native <> hof OR abs(j_from_inter - j_native) > 0")
      .count()
    assert(bad == 0L)
  }

  test("Jaccard kernels agree on the empty∪empty edge: J(∅,∅) = 0.0, never NULL") {
    // r13 ADVICE: the two docMasks representations (scalar long /
    // array<long>) must return the SAME value for two empty masks, or a
    // consumer comparing raw j across vocab widths sees a
    // representation-dependent discontinuity. Contract: 0.0.
    val r = spark.sql(
      """SELECT
        |  bitmask_jaccard(array(0L, 0L), array(0L, 0L)) AS wide_empty,
        |  CASE WHEN bit_count(0L | 0L) = 0 THEN 0.0D
        |       ELSE bit_count(0L & 0L) / bit_count(0L | 0L) END AS scalar_empty,
        |  bitmask_jaccard(array(5L), array(5L)) AS wide_same,
        |  CASE WHEN bit_count(5L | 5L) = 0 THEN 0.0D
        |       ELSE bit_count(5L & 5L) / bit_count(5L | 5L) END AS scalar_same
        |""".stripMargin).head()
    assert(!r.isNullAt(0) && r.getDouble(0) === 0.0)
    assert(!r.isNullAt(1) && r.getDouble(1) === 0.0)
    assert(r.getDouble(2) === 1.0 && r.getDouble(3) === 1.0)
    // NULL masks stay NULL on both paths (null-intolerant kernels)
    val n = spark.sql(
      """SELECT bitmask_jaccard(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS w,
        |  CASE WHEN bit_count(CAST(NULL AS BIGINT) | 1L) = 0 THEN 0.0D
        |       ELSE bit_count(CAST(NULL AS BIGINT) & 1L)
        |            / bit_count(CAST(NULL AS BIGINT) | 1L) END AS s
        |""".stripMargin).head()
    assert(n.isNullAt(0) && n.isNullAt(1))
  }

  test("VARIANT surface: schema_of_variant, is_variant_null, singleton round-trips") {
    // the checked row (f_variant_json) exercises typed extraction;
    // this pins the introspection half of the Spark 4 variant surface,
    // which has no DuckDB twin (schema strings are engine-specific).
    val r = spark.sql(
      """SELECT
        |  schema_of_variant(parse_json('{"a":1,"nested":{"b":2},"tags":["x","y"]}')) AS sch,
        |  is_variant_null(parse_json('null')) AS isn,
        |  is_variant_null(parse_json('{"a":null}')) AS obj_not_null,
        |  CAST(variant_get(parse_json('3.25'), '$', 'double') AS DOUBLE) AS scalar,
        |  variant_get(parse_json('[10,20,30]'), '$[2]', 'int') AS arr
        |""".stripMargin).head()
    val sch = r.getString(0)
    assert(sch.contains("a") && sch.contains("nested") && sch.contains("tags"),
      s"schema_of_variant lost fields: $sch")
    assert(r.getBoolean(1), "JSON null literal should be a variant null")
    assert(!r.getBoolean(2), "an object containing a null field is not itself null")
    assert(r.getDouble(3) === 3.25 && r.getInt(4) === 30)
  }

  test("f_sample_hash is deterministic across runs") {
    val a = Registry.queries("f_sample_hash")(spark, sf).collect()
    val b = Registry.queries("f_sample_hash")(spark, sf).collect()
    assert(a.sameElements(b) && a.nonEmpty)
  }

  test("EagerAggregation rewrite matches the un-rewritten plan's results") {
    val excl = "spark.sql.optimizer.excludedRules"
    val saved = spark.conf.getOption(excl)
    for (q <- Seq("t_q03", "t_q05", "t_q07", "t_q10", "t_q18", "c_join_dpp",
        "e_incremental_join_view", "g_funnel", "g_stream_static_join", "t_q12", "t_q19")) {
      val withRule = Registry.queries(q)(spark, sf).collect().map(_.toString).sorted
      spark.conf.set(excl, "graft.plans.EagerAggregation")
      try {
        val df = Registry.queries(q)(spark, sf)
        assert(!df.queryExecution.optimizedPlan.toString.contains("_eager_"),
          s"$q: rule not actually excluded")
        val without = df.collect().map(_.toString).sorted
        assert(withRule.sameElements(without), s"$q: rewrite changed the result")
      } finally saved.fold(spark.conf.unset(excl))(spark.conf.set(excl, _))
    }
  }

  test("EagerAggregation preserves low-precision decimal SUM types and empty-join COUNT") {
    // The TPC-H equivalence cases all pre-cast to DECIMAL(38,6) (widening
    // capped at 38) and have non-empty groups; these two cases pin the
    // failure modes that slip past them: (a) SUM over DECIMAL(5,2), where
    // the re-aggregated partial widens across the precision-18 UnsafeRow
    // layout boundary, and (b) a global COUNT/SUM over a join with zero
    // matching rows, where the re-summed count's buffer is NULL.
    val fact = spark.sql(
      """SELECT k, CAST(v AS DECIMAL(5,2)) AS v FROM VALUES
        | (1, '1.02'), (1, '2.05'), (2, '4.07'), (2, '0.00') AS t(k, v)""".stripMargin)
    val dim = spark.sql(
      "SELECT k, g FROM VALUES (1, 'a'), (1, 'a'), (2, 'b') AS t(k, g)")
    fact.createOrReplaceTempView("ea_fact")
    dim.createOrReplaceTempView("ea_dim")
    val grouped =
      "SELECT g, SUM(v) AS s, COUNT(*) AS c FROM ea_fact JOIN ea_dim USING (k) GROUP BY g"
    val globalEmpty =
      "SELECT COUNT(*) AS c, SUM(v) AS s FROM ea_fact JOIN ea_dim ON ea_fact.k = ea_dim.k + 100"
    val excl = "spark.sql.optimizer.excludedRules"
    val saved = spark.conf.getOption(excl)
    for (q <- Seq(grouped, globalEmpty)) {
      val df = spark.sql(q)
      assert(df.queryExecution.optimizedPlan.toString.contains("_eager_"),
        s"rewrite did not fire on: $q")
      val withRule = df.collect().map(_.toString).sorted
      val withSchema = df.schema
      spark.conf.set(excl, "graft.plans.EagerAggregation")
      try {
        val df2 = spark.sql(q)
        assert(!df2.queryExecution.optimizedPlan.toString.contains("_eager_"))
        assert(withRule.sameElements(df2.collect().map(_.toString).sorted),
          s"rewrite changed the result of: $q")
        assert(withSchema == df2.schema, s"rewrite changed the schema of: $q")
      } finally saved.fold(spark.conf.unset(excl))(spark.conf.set(excl, _))
    }
    // direct value pins (independent of the exclusion comparison)
    val r = spark.sql(grouped).collect().map(x => (x.getString(0), x.getDecimal(1).toString, x.getLong(2))).sortBy(_._1)
    assert(r.toSeq == Seq(("a", "6.14", 4L), ("b", "4.07", 2L)))
    val g = spark.sql(globalEmpty).head
    assert(g.getLong(0) == 0L && g.isNullAt(1))
  }

  test("jaro_winkler matches reference values and survives codegen round-trip") {
    graft.functions.GraftExtensions.install(spark)
    import spark.implicits._
    // classic record-linkage pairs with hand-checked JW values (also
    // verified against DuckDB's jaro_winkler_similarity this session),
    // plus the boundary shapes: equal, empty, and a window-0 swap
    // where no character can match.
    val cases = Seq(
      ("martha", "marhta", 0.961111111111),
      ("dixon", "dicksonx", 0.813333333333),
      ("jellyfish", "smellyfish", 0.896296296296),
      ("CRAWFORD", "CRAWFERD", 0.95),
      ("abc", "abc", 1.0),
      ("", "abc", 0.0),
      ("ab", "ba", 0.0))
    val got = cases.toDF("a", "b", "want")
      .withColumn("jw", expr("jaro_winkler(a, b)"))
      .select(max(abs(col("jw") - col("want")))).head.getDouble(0)
    assert(got < 1e-9)
    // interpreted == codegen: evaluate the same expression through a
    // filter (codegen'd) and via direct eval on a literal row
    val one = graft.functions.JaroWinkler(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString("martha")),
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString("marhta")))
      .eval(null).asInstanceOf[Double]
    assert(math.abs(one - 0.9611111111111111) < 1e-12)
  }

  test("ngram_set_mask equals the explode + vocab-join + conditional-sum masks") {
    graft.functions.GraftExtensions.install(spark)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val vocabRow = docs.select(expr("explode_ngrams(text, 2)").as("b"))
      .agg(sort_array(collect_set(col("b"))).as("varr"))
    val native = docs.crossJoin(broadcast(vocabRow))
      .select(col("doc_id"), expr("ngram_set_mask(text, varr, 2, 16)").as("mask"))
    // relational long form: per-doc distinct bigrams joined to the
    // sorted-vocab position, OR'd into the same 16-long layout
    val vocab = vocabRow.select(posexplode(col("varr")).as(Seq("bit0", "b")))
    val wordSums = (0 until 16).map { w =>
      sum(when(expr(s"bit0 DIV 64 = $w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(bit0 % 64 AS INT))")).otherwise(0L)).as(s"m$w")
    }
    val relational = docs
      .select(col("doc_id"), expr("explode_ngrams(text, 2)").as("b")).distinct()
      .join(broadcast(vocab), "b")
      .groupBy(col("doc_id"))
      .agg(wordSums.head, wordSums.tail: _*)
      .select(col("doc_id"), array((0 until 16).map(w => col(s"m$w")): _*).as("mask"))
    val joined = native.as("n").join(relational.as("r"), "doc_id")
      .filter(expr("n.mask <> r.mask"))
    assert(joined.count() === 0)
    // unknown n-gram → loud failure, not a silently wrong mask
    val err = intercept[Exception] {
      docs.limit(1)
        .select(expr("ngram_set_mask('zzz-not-in-vocab zzz2', array('a b'), 2, 1)"))
        .collect()
    }
    assert(err.getMessage.contains("not in vocabulary")
      || Option(err.getCause).exists(_.getMessage.contains("not in vocabulary")))
  }

  test("columnar axpy: the ColumnarBatch-level map fires on a scan and is bit-identical to the row form") {
    // The vectorized extension point: Project[axpy(x,a,b)] directly on
    // the parquet scan must be rewritten to AxpyColumnarExec (the math
    // runs on the scan's column vectors, ColumnarToRow moves ABOVE it),
    // and its output must equal the relational a*x+b projection
    // BIT-FOR-BIT — both paths are the same IEEE expression.
    graft.functions.GraftExtensions.install(spark)
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_extendedprice"))
    val columnar = li.select(expr("axpy(l_extendedprice, 2.5, -3.0)").as("y"))
    columnar.collect() // settle AQE before reading the executed plan
    val plan = columnar.queryExecution.executedPlan.toString
    assert(plan.contains("AxpyColumnar"),
      s"columnar rule did not fire on the scan projection:\n${plan.take(800)}")
    val relational = li.select((lit(2.5) * col("l_extendedprice") - 3.0).as("y"))
    val a = columnar.collect().map(_.getDouble(0)).sorted
    val r = relational.collect().map(_.getDouble(0)).sorted
    assert(a.length === r.length)
    assert(a.indices.forall(i => a(i) == r(i)), "columnar path diverged from row path")
    // a shape the rule must NOT match (projection over an aggregate —
    // no columnar child) still computes correctly through the row-based
    // expression
    val agg = li.agg(sum(col("l_extendedprice")).as("s"))
      .select(expr("axpy(s, 2.5, -3.0)").as("y"))
    val aggPlan = agg.queryExecution.executedPlan.toString
    assert(!aggPlan.contains("AxpyColumnar"))
    val expected = li.agg(sum(col("l_extendedprice"))).head.getDouble(0) * 2.5 - 3.0
    assert(agg.head.getDouble(0) === expected)
  }
}
