package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY.md §4 — assert Catalyst actually produced the plans the engine
  * is designed around (broadcast vs sort-merge join selection, filter
  * pushdown to parquet, column pruning, top-k fusion, whole-stage
  * codegen). These are the properties that make the operators hold at
  * 100 TB, so they are pinned as tests, not assumed.
  */
class PlanShapeSpec extends AnyFunSuite {
  import TestSpark._

  private def executedPlan(df: DataFrame): String = {
    df.collect() // let AQE settle on the final plan
    df.queryExecution.executedPlan.toString
  }

  private def plan(name: String): String =
    executedPlan(Registry.queries(name)(spark, sf))

  test("dim join broadcasts (no shuffle of the fact side)") {
    assert(plan("c_join_bcast").contains("BroadcastHashJoin"))
  }

  test("fact-fact join is sort-merge") {
    // at sf0.001 AQE (correctly) broadcasts the tiny sides; pin the
    // large-scale property by disabling the broadcast thresholds.
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(k => spark.conf.set(k, "-1"))
    try assert(plan("c_join_smj").contains("SortMergeJoin"))
    finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("banded theta join runs as broadcast hash join, not nested loop") {
    val p = plan("c_join_theta_range")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("predicates push down to the parquet scan") {
    val p = plan("b_filter_pred")
    assert(p.contains("PushedFilters: [And(GreaterThanOrEqual(l_quantity,5.0)")
      || p.contains("GreaterThanOrEqual(l_quantity,5.0)"))
  }

  test("column pruning reaches the scan (ReadSchema is the projection)") {
    val p = plan("a_scan_project")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_returnflag"), "scan reads columns the query never uses")
  }

  test("global top-k fuses into TakeOrderedAndProject") {
    assert(plan("f_topk_global").contains("TakeOrderedAndProject"))
  }

  test("aggregation is hash-based under whole-stage codegen") {
    val p = plan("d_agg_groupby")
    assert(p.contains("HashAggregate"))
    assert(p.contains("*("), "no WholeStageCodegen stage in the aggregate plan")
  }

  test("similarity pair loop uses the native codegen dot_product") {
    val p = plan("h_cosine_topk")
    assert(p.contains("dot_product"), "native DotProduct expression missing from plan")
    assert(p.contains("*("), "pair loop fell out of whole-stage codegen")
  }

  test("theta-range join aggregates the fact side BELOW the join") {
    // the pre-join partial aggregation is what keeps the bucket
    // expansion linear at 100 TB: the join must consume grouped rows,
    // never raw lineitem.
    val p = plan("c_join_theta_range")
    val joinAt = p.indexOf("BroadcastHashJoin")
    val aggBelow = p.indexOf("HashAggregate", joinAt)
    assert(joinAt >= 0 && aggBelow > joinAt,
      "no aggregate below the expansion join — fact rows stream through it raw")
  }

  test("LSH signature stage is map-side only (native lsh_bands, no plane join)") {
    val p = plan("h_ann_lsh")
    assert(p.contains("lsh_bands"), "native lsh_bands expression missing")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "plane cross join resurfaced — signatures should be one generated-code pass")
  }

  test("wide docMasks route builds masks map-side: ngram_set_mask, no explode/groupBy") {
    // r13 width-adaptive docMasks: on a >64-token vocabulary the build
    // must be ONE projection of the native ngram_set_mask over a
    // broadcast vocabulary row — no per-token explode → groupBy mask
    // assembly (the fast path's shape, quadratic in tokens×docs rows at
    // crawl scale), and no cartesian.
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_wideplan").toString
    val words = (0 until 80).map(i => f"tok$i%02d")
    Seq((1L, words.mkString(" "), "en", "s0", 1L),
      (2L, words.take(70).mkString(" "), "en", "s0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the production build: vocab checkpoint, width probe, mask
    // checkpoint — each plan as it ran
    val c = BuildPlans.capture(spark)(graft.ops.DedupOps.docMasks(_, dir))
    val p = c.builds.map(_.plan).mkString("\n")
    // the native expression carries the mask build (vocab derivation
    // upstream still explodes+aggregates — that branch is vocabulary-
    // bounded); the single-long kernel (shiftleft sum) must be absent
    assert(p.contains("ngram_set_mask"),
      "wide route did not build masks via the native expression:\n" + p.take(1500))
    assert(!p.contains("shiftleft"),
      "wide route fell into the single-long mask kernel:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct"),
      "unexpected cartesian (scalar vocab attach should broadcast):\n" + p.take(1500))
    // and the masks are array<long> of ceil(80/64) = 2 words
    val row = c.rows.head.getSeq[Long](c.rows.head.fieldIndex("mask"))
    assert(row.length === 2, s"expected 2-long masks, got ${row.length}")
  }

  test("hnsw graph build keys on (band, band_val); search stays keyed") {
    // Graph build, as captured from the production artifact (which
    // truncates consumer lineage): candidates come from the LSH (band,
    // band_val) equi-join — a cartesian or a nested loop here means the
    // band join degenerated. The degree cap is a src-keyed window, not
    // a global sort.
    val bp = BuildPlans.capture(spark)(graft.ops.VectorOps.hnswEdges(_, sf))
      .finalPlans
    assert(!bp.contains("CartesianProduct") &&
      !bp.contains("BroadcastNestedLoopJoin"),
      "hnsw graph build fell off the (band, band_val) equi-join")
    // The checked query on a fresh session: the graph build and every
    // hop's visited-set checkpoint run as captured plans — every hop is
    // a keyed join; no cartesian and, with each hop checkpointed, no
    // nested-loop join at all (the one-row entry attach lives in the
    // consumer plan below).
    val search = BuildPlans.capture(spark)(Registry.queries("h_ann_hnsw")(_, sf))
    val sp = search.finalPlans
    assert(search.checkpoints.size >= 5, "graph + seed + 3 hop checkpoints not captured")
    assert(!sp.contains("CartesianProduct"),
      "a data-sized cartesian appeared in the hnsw search")
    assert(!sp.contains("BroadcastNestedLoopJoin"),
      "a nested-loop join appeared in a checkpointed hnsw hop")
    // Its consumer plan (per-hop checkpoints in place): the only
    // nested-loop joins left are the truth query fan-out and the final
    // counts attach.
    val p = search.consumer.finalPlan
    assert(!p.contains("CartesianProduct"),
      "a data-sized cartesian appeared in the checked hnsw search")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 2,
      s"$bnlj nested-loop joins (> truth + counts attaches)")
  }

  test("minhash candidate join keys on (band, hash), never a cartesian") {
    // the pair table is memoized + localCheckpoint'ed (its lineage is
    // truncated in consumer queries), so pin the production BUILD's
    // captured plans: the docNode and reps scratches and the pair
    // checkpoint (the docMasks artifact is prebuilt — its one-row
    // vocabulary attach is pinned by the wide docMasks test).
    val p = BuildPlans.capture(spark, graft.ops.DedupOps.docMasks(_, sf))(
      graft.ops.DedupOps.minhashNearDupPairs(_, sf, byLang = false))
      .builds.map(_.plan).mkString("\n")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("minhash_sig"), "native one-pass signature expression missing")
  }

  test("eager aggregation pushes the fact-side partial aggregate below the join (q18)") {
    val df = Registry.queries("t_q18")(spark, sf)
    df.collect()
    assert(df.queryExecution.optimizedPlan.toString.contains("_eager_partial"),
      "EagerAggregation rule did not fire on the q18 shape")
  }

  private def eagerPartials(df: DataFrame) = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    df.queryExecution.optimizedPlan.collectWithSubqueries {
      case a: Aggregate if a.aggregateExpressions.exists {
        case al: Alias => al.name == "_eager_partial"
        case _ => false
      } => a
    }
  }

  test("eager aggregation stays off broadcast star chains (q5, q7, q10, 5-way star)") {
    // every join of these chains is a broadcast hash join; a partial
    // aggregate above a join subtree only adds a hash exchange per level
    for (q <- Seq("t_q05", "t_q07", "t_q10", "c_join_5way")) {
      val df = Registry.queries(q)(spark, sf)
      assert(eagerPartials(df).isEmpty,
        s"$q: eager partial aggregate in\n${df.queryExecution.optimizedPlan}")
    }
  }

  test("q5's final plan shuffles at most twice: the group-by and the ORDER BY") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object Aqe extends AdaptiveSparkPlanHelper
    val df = Registry.queries("t_q05")(spark, sf)
    df.collect()
    val shuffles = Aqe.collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.size <= 2,
      s"${shuffles.size} shuffle exchanges:\n${df.queryExecution.executedPlan}")
  }

  test("every TPC-H eager partial aggregate sits on a single-relation input") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val tpch = Registry.queries.keys.filter(_.startsWith("t_q")).toSeq.sorted
    assert(tpch.size == 22)
    for (q <- tpch; a <- eagerPartials(Registry.queries(q)(spark, sf))) {
      assert(!a.child.exists(n => n.isInstanceOf[Join] || n.isInstanceOf[Aggregate]),
        s"$q: eager partial aggregate above a join or aggregate:\n$a")
    }
  }

  test("exact pair enumerations run as equi-joins, never nested-loop/cartesian") {
    // the blocked triangle layout (PairJoins) and the banded-minhash
    // candidate stage must surface as shuffled equi-joins; a
    // BroadcastNestedLoopJoin here is the 100 TB scale-killer the
    // rewrite exists to remove.
    for (q <- Seq("h_cosine_topk", "h_ngram_jaccard", "h_jaccard_pairs")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q: pair stage fell back to an all-pairs join")
    }
  }

  test("AQE splits a skewed join partition (skew=true in the adaptive plan)") {
    // the 100 TB story for skewed fact joins: AQE detects the oversized
    // shuffle partition and splits it across tasks, duplicating the
    // matching build-side partition. Thresholds are shrunk so the test
    // data (99% of rows on one key) crosses them.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions._
      val ev = graft.io.Io.events(spark, sf)
        .select(col("user_id"), col("event_id"))
        .withColumn("rep", explode(sequence(lit(0), lit(49))))
        .withColumn("k",
          when(pmod(col("user_id") * 50 + col("rep"), lit(100)) < 90, lit(0L))
            .otherwise(pmod(col("user_id") * 50 + col("rep"), lit(100))))
        // incompressible per-row payload: shuffle sizes are measured on
        // compressed bytes, so the skewed partition must carry entropy.
        // localCheckpoint materializes it BELOW the join (otherwise
        // Catalyst defers the projection above the shuffle and the
        // skewed partition stays tiny); the repartition(8) gives the
        // shuffle multiple mappers — AQE can only split a skewed reduce
        // partition at mapper boundaries, so a single-mapper stage is
        // unsplittable no matter how skewed.
        .withColumn("payload",
          sha2(concat_ws("-", col("user_id"), col("event_id"), col("rep")), 256))
        .repartition(8)
        .localCheckpoint(true)
      val dim = spark.range(0, 100).select(col("id").as("k"), (col("id") * 7).as("w"))
      // the aggregate references BOTH join sides so the session's own
      // EagerAggregation rule cannot push it below the join (which would
      // pre-reduce the skewed side to one row per key and erase the skew
      // this test exists to observe)
      val df = ev.join(dim, "k")
        .agg(count(lit(1)).as("n"), max(length(col("payload")) + col("w")).as("pl"))
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        "no skew-split in the adaptive plan — AQE skew-join did not engage")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("c_join_5way final plan: every join broadcast, no sort-merge flip") {
    // The row's cross-round bench bimodality (r13 VERDICT item 1) was
    // probed 20x in one JVM (tools/ProbeJoin5): the executed plan read
    // BroadcastHashJoin x4 on EVERY run including the slow ones, with
    // the wall excursions tracking broadcast BUILD time — host
    // contention, not an AQE flip. This pin turns the "plan unchanged"
    // half of that attribution into a machine check: if a future
    // change (or AQE stat drift) flips a dim join to sort-merge at the
    // small SF, this fails before any bench reads red.
    val df = Registry.queries("c_join_5way")(spark, sf).groupBy().count()
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val bhj = "BroadcastHashJoin".r.findAllMatchIn(p).length
    assert(bhj >= 4, s"expected >=4 broadcast joins, got $bhj:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"a dim join left broadcast:\n${p.take(1500)}")
  }

  test("SQL UDF bodies inline at plan time — no per-row function node survives") {
    // f_sql_udf registers graft_net/graft_charge as SQL-defined
    // functions (one calling the other); the 100 TB point of SQL UDFs
    // over JVM UDFs is that Catalyst INLINES the bodies, leaving the
    // same codegen'd arithmetic as the open-coded expression. Pin it.
    val df = Registry.queries("f_sql_udf")(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("ScalaUDF"),
      s"SQL UDF fell back to a per-row UDF node:\n${opt.take(1500)}")
    // bodies appear as arithmetic over parameter aliases projected
    // straight from the scan (p = l_extendedprice, disc = l_discount)
    assert(opt.contains("1.0 - disc") && opt.contains("1.0 + tax"),
      s"inlined body arithmetic not visible:\n${opt.take(1500)}")
    assert(opt.contains("l_extendedprice") && opt.contains("AS p"),
      s"parameter binding not a plain projection:\n${opt.take(1500)}")
  }

  test("correlated LATERAL top-k decorrelates to a windowed filter (no per-row subquery)") {
    val p = plan("f_lateral_join")
    // Catalyst rewrites LIMIT-under-correlation into row_number over a
    // window partitioned by the join key, then a single equi-join — the
    // shape that scales; a surviving nested-loop would mean per-row
    // subquery execution.
    assert(p.contains("row_number") || p.contains("Window"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
  }

  test("semi/anti joins decorrelate from EXISTS subqueries") {
    val p = executedPlan(spark.sql {
      graft.io.Io.views(spark, sf)
      "SELECT c_custkey FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"
    })
    assert(p.contains("SemiJoin") || p.contains("ExistenceJoin") || p.contains("LeftSemi"))
  }

  test("top-k per group pushes the rank filter into the window (WindowGroupLimit)") {
    // rn <= k over a per-key window must not buffer whole partitions:
    // Spark 4's WindowGroupLimit keeps a bounded top-k heap per key on
    // both the partial (pre-shuffle) and final side, so the shuffle
    // carries at most k rows per key per mapper — the difference
    // between "top 3 orders per customer" scaling with k and scaling
    // with the largest customer's order count.
    val p = plan("e_win_topk_group")
    assert(p.contains("WindowGroupLimit"),
      "rank filter not pushed into the window:\n" + p.take(2000))
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // The other half of the 100 TB semi-join-reduction story next to
    // dynamic partition pruning (StorageLayoutSpec): when a shuffle join's
    // build side carries a selective predicate, Catalyst injects a
    // bloom_filter_agg over the build keys and a bloom_filter_might_contain
    // probe into the fact-side scan filter, so non-matching fact rows die
    // before the shuffle instead of crossing the network. Thresholds are
    // shrunk to test scale (the app-side scan must look "big" and the
    // creation side "small"); broadcast is disabled because only shuffle
    // joins get bloom filters (a broadcast join already prunes at probe).
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions._
      val li = graft.io.Io.table(spark, sf, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val ord = graft.io.Io.table(spark, sf, "orders")
        .filter(col("o_totalprice") > 400000.0) // selective build side
        .select(col("o_orderkey"), col("o_custkey"))
      val df = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"))
      df.collect()
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("bloom_filter_might_contain") || opt.contains("might_contain"),
        "no bloom-filter probe injected on the fact side:\n" + opt.take(2000))
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("salted skew join shuffles on (sk, salt), not sk alone") {
    // At test scale AQE would broadcast the tiny salted side and hide
    // the property; disable broadcasts to pin the 100 TB layout — the
    // hot key's rows spread over 16 salt partitions.
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(k => spark.conf.set(k, "-1"))
    try {
      val p = plan("c_join_skew_salted")
      assert("hashpartitioning\\(sk#\\d+L?, salt#".r.findFirstIn(p).isDefined,
        "join shuffle key does not include the salt:\n" + p.take(2000))
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("wide-vocabulary near-dedup: no vocabulary guard, no cartesian") {
    // h_minhash_widevocab is the always-open-vocabulary dedup path: no
    // raise_error guard anywhere in the plan (docMasks itself became
    // width-adaptive in r13 — the guard this pin was written against
    // no longer exists in ANY path; the assertion stays as a
    // regression tripwire) — the plan shingles to arrays and verifies
    // with the bitmask popcount loop — and candidates must come from
    // the (band, hash) equi-join, never an all-pairs join.
    // the checked query serves the memoized pair table (truncated
    // lineage), so pin the production BUILD's captured plans — every
    // checkpoint from shingling → masks → signatures → band join.
    // Expression-level assertions read the OPTIMIZED
    // plan: the physical HashAggregate fuses expressions into its
    // result list and prints only output names, and long projection
    // lists truncate at the 25-field default — raise the limit so
    // nothing hides.
    val saved = spark.conf.getOption("spark.sql.debug.maxToStringFields")
    spark.conf.set("spark.sql.debug.maxToStringFields", "4000")
    try {
      val c = BuildPlans.capture(spark)(graft.ops.DedupOps.widevocabPairs(_, sf))
      val opt = c.builds.map(_.qe.optimizedPlan.toString).mkString("\n")
      val p = c.builds.map(_.plan).mkString("\n")
      assert(!opt.contains("raise_error") && !p.contains("raise_error"),
        "vocabulary-bound mask guard reachable in the wide-vocab plan")
      assert(opt.contains("minhash_sig"), "native signature expression missing")
      assert(opt.contains("ngram_set_mask"), "native wide-mask expression missing")
      assert(!p.contains("CartesianProduct"),
        "candidate stage fell back to a cartesian:\n" + p.take(2000))
      // the only nested-loop joins allowed are Cross broadcasts of the
      // ONE-ROW vocabulary aggregate (a deliberate scalar broadcast;
      // pushed filters may ride on them as conditions). An all-pairs
      // pair-enumeration would surface as an Inner/Outer BNLJ between
      // two data-sized relations.
      val badBnlj = p.linesIterator
        .filter(_.contains("BroadcastNestedLoopJoin"))
        .filterNot(_.contains(", Cross"))
        .toList
      assert(badBnlj.isEmpty,
        "conditioned nested-loop join in the wide-vocab plan:\n" + badBnlj.mkString("\n"))
      // checkpointed, the build holds exactly one such attach: the
      // bigram vocabulary row onto the mask build
      val bnlj = c.builds.map(r =>
        "BroadcastNestedLoopJoin".r.findAllIn(r.finalPlan).size).sum
      assert(bnlj <= 1, s"$bnlj nested-loop joins (> the one vocabulary attach)")
    } finally saved.fold(spark.conf.unset("spark.sql.debug.maxToStringFields"))(
      spark.conf.set("spark.sql.debug.maxToStringFields", _))
  }

  test("exact percentiles run without a holistic aggregation buffer") {
    // d_agg_percentile / g_anomaly_mad / d_agg_approx_pctl's exact side
    // must go through the sketch-bracketed selection
    // (Q.exactPercentiles): no `percentile`/`median` ImperativeAggregate
    // (which buffers every group value in one aggregation buffer) may
    // appear in the executed plan. approx_percentile is allowed — the
    // sketch is mergeable.
    for (q <- Seq("d_agg_percentile", "g_anomaly_mad", "d_agg_approx_pctl",
        "d_agg_kll_quantiles")) {
      val p = plan(q)
      assert("(?<!approx_)percentile\\(".r.findFirstIn(p).isEmpty
        && "\\bmedian\\(".r.findFirstIn(p).isEmpty,
        s"$q: holistic percentile/median aggregate in executed plan:\n" + p.take(2000))
    }
  }

  test("percentile callers: no range exchange but the final ORDER BY, no scratch checkpoint") {
    // Q.exactPercentiles is a sketch pass plus one bracketed hash
    // aggregate: no caller may range-partition its data (the retired
    // rank scratch's repartitionByRange and its sampling job) or pin an
    // input-sized checkpoint. The only range exchange allowed is the
    // one under the final global sort, and the only LogicalRDD a
    // caller's plan holds is the one small scratch its own construction
    // checkpoints (per-customer gaps, conversion times, RFM scores).
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.{LogicalRDD, SortExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object Aqe extends AdaptiveSparkPlanHelper
    val scratches = Map("g_interpurchase_time" -> 1, "g_funnel_time" -> 1,
      "g_rfm_segments" -> 1)
    for (q <- Seq("d_agg_boxplot", "d_agg_percentile", "d_agg_approx_pctl",
        "d_agg_kll_quantiles", "g_anomaly_mad", "g_interpurchase_time",
        "g_rfm_segments", "g_fulfillment_latency", "g_funnel_time")) {
      val s = spark.newSession()
      try {
        val df = Registry.queries(q)(s, sf)
        df.collect()
        val scratch = graft.ops.Q.trackedScratch(s)
        assert(scratch.size === scratches.getOrElse(q, 0), s"$q: scratch checkpoints $scratch")
        val rdds = df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }
        assert(rdds.distinct === scratch, s"$q: LogicalRDDs $rdds")
        val plan = df.queryExecution.executedPlan
        val ranged = Aqe.collect(plan) {
          case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] =>
            e.outputPartitioning.asInstanceOf[RangePartitioning].ordering
        }
        val finalSort = Aqe.find(plan) {
          case so: SortExec => so.global
          case _ => false
        }.map(_.asInstanceOf[SortExec].sortOrder)
        assert(ranged.isEmpty || (ranged.size == 1 && finalSort.contains(ranged.head)),
          s"$q: range exchange beyond the final ORDER BY:\n$plan")
      } finally graft.ops.Q.releaseSession(s)
    }
  }

  test("Datasketches rows: sketch aggregates are partial/merge (mergeable)") {
    // the 100 TB property of the theta/KLL rows: the sketch build is a
    // two-phase aggregate (map-side partial sketches merged on the
    // reduce side — the sketch bytes are what ships through the
    // shuffle), and the only joins are broadcast scalar attaches.
    for (q <- Seq("d_agg_theta_setops", "d_agg_kll_quantiles")) {
      val p = plan(q)
      val agg = if (q.contains("theta")) "theta_sketch_agg" else "kll_sketch_agg"
      assert(p.contains(agg), s"$q: sketch aggregate missing from plan")
      assert(p.contains(s"partial_$agg") || p.contains(s"merge_$agg")
        || "ObjectHashAggregate.*partial".r.findFirstIn(p).isDefined
        || p.contains("Partial"),
        s"$q: no partial/merge phase for $agg — sketch not built map-side:\n"
          + p.take(2000))
      assert(!p.contains("SortMergeJoin"),
        s"$q: data-shuffling join in a scalar-attach plan:\n" + p.take(2000))
    }
  }

  test("stump/SQ8 rows keep their map-side shapes") {
    // h_feature_split_gini: ONE wide conditional aggregate over the
    // scan — no join, no data-sized explode (the only Generate runs
    // over the 1-row aggregate output).
    val g = plan("h_feature_split_gini")
    assert(!g.contains("SortMergeJoin") && !g.contains("BroadcastHashJoin"),
      "gini stump grew a join:\n" + g.take(2000))
    // h_sq8_quant: the trained quantizer attaches by BROADCAST (64-row
    // per-dim stats); the vectors themselves never shuffle through a
    // sort-merge join.
    val q = plan("h_sq8_quant")
    assert(q.contains("BroadcastHashJoin"), "SQ8 stats join not broadcast")
    assert(!q.contains("SortMergeJoin"),
      "SQ8 vectors shuffled through SMJ:\n" + q.take(2000))
  }

  test("global ntile/pct_rank query has no single-partition window over the data") {
    // e_win_ntile_pct's two-pass rewrite: the data-sized window must be
    // partitioned by the range-partition id; the ranking functions
    // themselves (which would force a global Window.orderBy) must be
    // gone from the plan — quartile/pct_rank/cume are arithmetic over
    // (rn, n, tie min/max). The only global window left runs over the
    // per-partition count table (one row per cluster partition).
    val p = plan("e_win_ntile_pct")
    assert(!p.contains("ntile(") && !p.contains("percent_rank(")
      && !p.contains("cume_dist("),
      "global ranking window resurfaced:\n" + p.take(2000))
    assert(p.contains("windowspecdefinition(pid"),
      "local rank window not partitioned by range partition id:\n" + p.take(2000))
  }

  test("distributed-prefix family: data-sized windows are pid-partitioned") {
    // the two-pass prefix/rank pattern's load-bearing property, pinned
    // across all of its users: every window over DATA-sized rows is
    // partitioned by the range-partition id (spillable, parallel), and
    // the only unpartitioned window runs over the per-partition offset
    // table (≤ |partitions| rows). A refactor that reintroduces a
    // global Window.orderBy over the data would still be CORRECT — and
    // a 100 TB single-partition sort. Gini is pinned implicitly (same
    // helper shape); ntile has its own sharper test above.
    for (q <- Seq("g_abc_classification", "g_mannwhitney_u",
        "g_cusum_changepoint", "g_pareto_share", "h_quality_qnorm",
        "g_auc_value")) {
      val p = plan(q)
      assert(p.contains("windowspecdefinition(pid"),
        s"$q: data window not partitioned by range-partition id:\n" + p.take(1500))
    }
  }

  test("bigram LM model join degrades to a shuffle join (no forced broadcast)") {
    // h_ngram_lm_score carries no broadcast hint on the corpus bigram /
    // histogram tables: on an open-vocabulary corpus those are
    // data-sized, and a forced broadcast would hard-fail the build.
    // With broadcast thresholds disabled the model join must plan as a
    // shuffle join — proving the graceful-degradation path exists and
    // only AQE's runtime size estimate ever chooses broadcast.
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(k => spark.conf.set(k, "-1"))
    try {
      val p = plan("h_ngram_lm_score")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        "model join did not degrade to a shuffle join:\n" + p.take(2000))
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("pipeline verdict: broadcast gates, no cartesian, doc_id-keyed joins only") {
    // the end-to-end verdict composes five gates; its scale shape is
    // doc_id equi-joins + broadcast dimensions (eval shingles, quality
    // thresholds) — an accidental cartesian or a shuffled dimension
    // would be the 100 TB regression.
    val p = plan("h_pipeline_verdict")
    assert(!p.contains("CartesianProduct"),
      "cartesian in the verdict plan:\n" + p.take(2000))
    assert(p.contains("BroadcastHashJoin"),
      "no broadcast gate join in the verdict plan:\n" + p.take(2000))
  }

  test("q21's EXISTS/NOT-EXISTS pair settles to semi/anti hash joins, no cartesian") {
    val p = plan("t_q21")
    assert(p.contains("LeftSemi"), "EXISTS did not decorrelate to a semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS did not decorrelate to an anti join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "waiting-supplier correlation planned as a product join")
  }

  test("q02's correlated min-cost subquery decorrelates to an aggregate joined back") {
    // the rewrite computes one MIN per part and equi-joins it to the
    // outer side — the plan must contain a join keyed on the min value
    // (floating-point-normalized supplycost) and NO per-row subquery.
    val p = plan("t_q02")
    assert(p.contains("knownfloatingpointnormalized"),
      "no join on the decorrelated min-supplycost value")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("derived ps catalog is a materialized artifact, not a per-reference rebuild") {
    // q02 references ps twice (main block + correlated subquery) and
    // q11 derives v from it twice (grouped value + scalar mean). With
    // the catalog materialized once per corpus, NEITHER query's
    // executed plan may rebuild it from lineitem — the references scan
    // the artifact (ExistingRDD in local store mode, a parquet artifact
    // scan in cluster mode; both spellings are store-dependent, so the
    // pin is the absence of the lineitem scan).
    for (q <- Seq("t_q02", "t_q11")) {
      val p = plan(q)
      assert(!p.contains("lineitem"), s"$q rebuilt the ps catalog from lineitem")
    }
  }

  test("q11's value CTE is computed once: neither reference replans its join chain") {
    // v (per-part inventory value) is referenced twice — the main block
    // and the global-average threshold subquery. Catalyst planned two
    // full independent ps→supplier→nation join+aggregate chains for it
    // (r7 ProbeTq plan; no ReusedExchange because column pruning gives
    // the branches different schemas). With v materialized once per
    // corpus, the executed plan must contain NO supplier/nation scan at
    // all — both references scan the artifact.
    val p = plan("t_q11")
    assert(!p.contains("supplier") && !p.contains("nation"),
      "t_q11 rebuilt the v CTE's join chain instead of scanning the artifact")
  }

  test("graph family: triangles and pagerank stay on keyed equi-joins") {
    // the co-purchase edge table is data-sized — a fallback to
    // cartesian/nested-loop in the wedge-close join or the rank-mass
    // join is the 100 TB scale-killer. The only legitimate broadcasts
    // are the one-row count frames (pagerank's n, triangles' stats).
    for (q <- Seq("i_graph_triangles", "i_graph_pagerank")) {
      // final-plan section only: AQE's toString appends the initial
      // plan, which would double every BNLJ count.
      val p = plan(q).split("== Initial Plan ==").head
      assert(!p.contains("CartesianProduct"),
        s"$q: a data-sized cartesian appeared")
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
      // crossJoin(broadcast(one-row stats)) legitimately plans as BNLJ;
      // anything beyond those scalar attachments is a regression.
      // pagerank: 1 initial + 5 per-iteration scalar-n attachments
      val crossLimit = if (q == "i_graph_triangles") 1 else 6
      assert(bnlj <= crossLimit,
        s"$q: $bnlj nested-loop joins (> $crossLimit scalar cross joins):\n" +
          p.take(1500))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
        || p.contains("BroadcastHashJoin"),
        s"$q: no keyed join found in the executed plan")
    }
  }

  test("corr matrix is one scan + map-side-combined global aggregate (no expand)") {
    // d_agg_corr_matrix has twice shown driver-bench readings >2× its
    // quiet anchor (r6: 27.5 s, r8: 10.4 s vs 1.7-1.8 s isolated) with
    // no attributed GC. Pin the plan shape so any future inflation is
    // provably host noise, not a plan regression: ONE lineitem scan,
    // a partial+final hash aggregate pair (all 15 power sums map-side
    // combined), no Expand (the pair matrix is scalar arithmetic over
    // one aggregate row, not a grouping-sets explosion), no join of any
    // kind, and the scan stage inside whole-stage codegen.
    val p = plan("d_agg_corr_matrix").split("== Initial Plan ==").head
    val scans = "(FileScan|BatchScan|Scan parquet)".r.findAllIn(p).size
    assert(scans == 1, s"expected one lineitem scan, got $scans:\n" + p.take(2000))
    val aggs = "HashAggregate".r.findAllIn(p).size
    assert(aggs >= 2, "no partial+final aggregate pair (map-side combine missing):\n"
      + p.take(2000))
    assert(!p.contains("Expand"), "grouping-sets expansion in the corr plan:\n" + p.take(2000))
    assert(!p.contains("Join"), "a join appeared in a single-table aggregate plan")
    assert(p.contains("*("), "scan/aggregate fell out of whole-stage codegen")
  }

  test("ANALYZE statistics + CBO reorder a badly-written star join (fact attaches last)") {
    // the statistics story for 100 TB: a production warehouse runs
    // ANALYZE TABLE, and cost-based join reorder then fixes queries
    // whose WRITTEN join order is wrong — here orders⋈lineitem (the
    // biggest pair) is written FIRST and the selective filtered-nation
    // chain last. With column stats but CBO off, Catalyst preserves the
    // written order (outermost join = the nation attach); flipping
    // spark.sql.cbo.{enabled,joinReorder.enabled} with the SAME stats
    // must rebuild the tree so the filtered dim chain joins first and
    // the big fact attaches last (outermost join = the lineitem
    // attach). Probed deterministic on this build (ProbeCbo).
    for (t <- Seq("lineitem", "orders", "customer", "nation"))
      spark.read.parquet(s"$sf/$t.parquet")
        .write.mode("overwrite").saveAsTable(s"cbo_$t")
    for (t <- Seq("lineitem", "orders", "customer", "nation"))
      spark.sql(s"ANALYZE TABLE cbo_$t COMPUTE STATISTICS FOR ALL COLUMNS")
    val q =
      """SELECT count(*) AS n
        |FROM cbo_orders o
        |JOIN cbo_lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN cbo_customer c ON c.c_custkey = o.o_custkey
        |JOIN cbo_nation n ON n.n_nationkey = c.c_nationkey AND n.n_name = 'NATION_7'
        |""".stripMargin
    def outermostJoin(): String =
      spark.sql(q).queryExecution.optimizedPlan.toString
        .linesIterator.find(_.contains("Join")).getOrElse("<no join>")
    val before = outermostJoin()
    assert(before.contains("n_nationkey"),
      s"stats alone should preserve the written join order, got: $before")
    val keys = Seq("spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val after = outermostJoin()
      assert(after.contains("l_orderkey"),
        s"CBO did not move the big fact to the outermost join, got: $after")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("stream-semi batch twin plans as a LeftSemi join, never a cartesian") {
    // semi-ness is the scale property: no row multiplication on
    // multi-purchase users, no match payload — a fallback to inner-
    // join-plus-distinct or a nested loop would break both.
    val p = plan("g_click_purchase_semi").split("== Initial Plan ==").head
    assert(p.contains("LeftSemi"), "no LeftSemi join in the executed plan")
    assert(!p.contains("CartesianProduct"))
  }

  test("BFS frontier expansion stays on keyed equi-joins") {
    // each hop is frontier⋈edges + anti-join visited; all of them must
    // key on node ids — a cartesian or nested-loop fallback here is
    // the 100 TB scale-killer for any iterative graph op. The checked
    // query materializes per hop (truncated lineage), so the pin reads
    // the production build's captured per-hop checkpoint plans.
    val c = BuildPlans.capture(spark)(graft.ops.GraphOps.bfsDist(_, sf))
    assert(c.checkpoints.size >= 5, "per-hop checkpoints not captured")
    val p = c.finalPlans
    assert(!p.contains("CartesianProduct"), "data-sized cartesian in BFS")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "nested-loop join in BFS (no scalar cross joins exist in this build)")
    assert(p.contains("LeftAnti"), "visited-set anti-join missing")
  }

  test("PQ codes BUILD: codebook attaches as a K-row broadcast, no cartesian") {
    // the gathered codebook (K rows of D-dim arrays) attaches via ONE
    // crossJoin(broadcast(...)) — a bounded BNLJ, the IVF house
    // pattern. The checked query serves the memoized artifact (whose
    // truncated lineage would make this pin vacuous), so the pin reads
    // the production BUILD's captured plans — the corpus-sized pass
    // that must never degrade to a data-sized cartesian or lose
    // sq_dist_dec.
    val p = BuildPlans.capture(spark)(graft.ops.VectorOps.pqCodes(_, sf)).finalPlans
    assert(p.contains("sq_dist_dec"), "native sq_dist_dec missing from the build")
    assert(!p.contains("CartesianProduct"))
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1, s"$bnlj nested-loop joins (> 1 codebook attachment)")
  }

  test("RFM scoring: thresholds attach as broadcast scalars, no cartesian") {
    // the max-date frame and the three quintile-threshold frames are
    // one-row tables crossJoined in — they plan as BNLJ scalar
    // attachments (bounded; AQE may split one logical attach into two
    // physical ones), but no true cartesian may appear and the
    // customer-aggregate side must never be nested-loop-joined against
    // anything data-sized.
    val p = plan("g_rfm_segments").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"))
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 8, s"$bnlj nested-loop joins (> 8 scalar cross attachments)")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "threshold frames did not broadcast at all")
  }

  test("ANN family: candidates are the (band,band_val) equi-join, signatures map-side") {
    // h_ann_lsh read 4.73 s in the r9 driver bench vs its ~0.9 s
    // round-5 isolated anchor with zero attributed GC — the same
    // "unexplained >2× reading" pattern d_agg_corr_matrix showed for
    // three rounds. Pin the 100 TB-critical shape for the whole family
    // so any future inflation is provably host noise, not a plan
    // regression: signature computation is the native one-pass
    // lsh_bands expression in the scan's projection (map-side — no
    // plane join, no per-plane aggregate), candidate generation is a
    // KEYED join on (band, band_val), and nothing data-sized ever goes
    // through a nested-loop or cartesian (h_ann_recall's 10-row exact
    // top-k side is the one sanctioned broadcast).
    // per-query BNLJ allowance: mrr/ndcg carries the bounded 20-query
    // exact-ground-truth broadcast + the one-row IDCG attach by design
    for ((q, maxB) <- Seq("h_ann_lsh" -> 0, "h_ann_topk_pairs" -> 0,
        "h_ann_recall" -> 0, "h_ann_mrr_ndcg" -> 2)) {
      val p = plan(q).split("== Initial Plan ==").head
      assert(p.contains("lsh_bands"),
        s"$q: native lsh_bands expression missing — signature path is not map-side")
      assert(!p.contains("CartesianProduct"), s"$q: a data-sized cartesian appeared")
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
      assert(bnlj <= maxB,
        s"$q: $bnlj BroadcastNestedLoopJoins — candidate generation fell off " +
          s"the (band,band_val) equi-join:\n" + p.take(2000))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
        || p.contains("BroadcastHashJoin"),
        s"$q: no keyed join in the executed plan")
    }
  }

  test("nprobe curve: map-side quantizer, keyed candidates, bounded fan-out") {
    // the recall/cost-curve row (r12): the coarse quantizer must be the
    // native map-side sq_dist_dec against broadcast centroids, the
    // candidate census a KEYED (cell) equi-join, and every nested-loop
    // join a BOUNDED-side broadcast — the 10-row centroid array of the
    // shared ranking (×2: home cells, and the 20 queries' probe cells,
    // whose vec_id filter is pushed below the rank window), the
    // 20-query exact-truth side, the 4-row nprobe spine (costs + hits)
    // and the one-row n_truth scalar: ≤6 total. A data-sized cartesian
    // or an unkeyed candidate path would be the 100 TB mistake.
    val p = plan("h_ann_nprobe_curve").split("== Initial Plan ==").head
    assert(p.contains("sq_dist_dec"),
      "native sq_dist_dec missing — quantizer is not map-side")
    assert(!p.contains("CartesianProduct"), "a data-sized cartesian appeared")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 6,
      s"$bnlj BroadcastNestedLoopJoins — more than the sanctioned bounded " +
        "broadcasts:\n" + p.take(2000))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), "no keyed join in the executed plan")
  }

  test("semdedup: native cell distances, within-cell pairs stay a keyed join") {
    // SemDeDup's 100 TB claim is the clustering itself: the only
    // all-pairs work happens WITHIN a cell, as a keyed self-join on the
    // cell id. Pin the three load-bearing facts: cell assignment uses
    // the native map-side sq_dist_dec against broadcast centroids (the
    // one sanctioned BNLJ, plus the tiny-dim centroid gather), the
    // cosine verify runs the native dot_product, and no data-sized
    // cartesian or extra nested-loop appears anywhere.
    val p = plan("h_semdedup").split("== Initial Plan ==").head
    assert(p.contains("sq_dist_dec"), "native sq_dist_dec missing — cell assignment fell back to interpreted HOFs")
    assert(p.contains("dot_product"), "native dot_product missing from the verify stage")
    assert(!p.contains("CartesianProduct"), "a data-sized cartesian appeared")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 2, s"$bnlj BroadcastNestedLoopJoins (> the sanctioned centroid broadcast attaches)")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      "within-cell pair enumeration is not a keyed join")
  }

  test("IVF family: one shared coarse quantizer bounds the embeddings scans") {
    // the cells come from one nearest-centroid ranking over the memoized
    // label centroids (pqCent), so no row re-derives the centroids from
    // the corpus, and the nprobe curve joins the probes onto the cells
    // directly, not onto a corpus scan joined with them. Counted in the
    // pre-AQE physical plan the way ProbeScanCount counts.
    for ((q, maxScans) <- Seq("h_ann_nprobe_curve" -> 10, "h_ann_ivf" -> 4,
        "h_ann_ivf_probe2" -> 4, "h_semdedup" -> 5)) {
      val census = ProbeScanCount.scanCensus(
        Registry.queries(q)(spark, sf).queryExecution.sparkPlan)
      val n = census.getOrElse("embeddings.parquet", 0)
      assert(n >= 1, s"$q: no embeddings scan found in $census")
      assert(n <= maxScans, s"$q: $n embeddings scans (> $maxScans)")
    }
  }

  test("boxplot: the quartile frame is selected once, no final re-join") {
    // the outlier census groups by the flag plus the quartile/fence
    // columns, so no final join re-runs the quartile selection and
    // broadcasts its inputs again: 2 broadcast stages remain (the
    // percentile brackets the selection pass joins, and the fence
    // table the census joins).
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, BroadcastQueryStageExec}
    object Aqe extends AdaptiveSparkPlanHelper
    val df = Registry.queries("d_agg_boxplot")(spark, sf)
    df.collect()
    val stages = Aqe.collect(df.queryExecution.executedPlan) {
      case b: BroadcastQueryStageExec => b
    }
    assert(stages.size <= 2,
      s"${stages.size} broadcast stages:\n${df.queryExecution.executedPlan}")
  }

  test("dsir weights: model tables join keyed, scoring in one doc aggregate") {
    // DSIR's scale story: both LM tables are vocabulary-bounded
    // aggregates joined BY KEY onto the bigram stream (g / tok_a), and
    // the only BNLJ is the one-row vocab-size scalar attach.
    val p = plan("h_dsir_weights").split("== Initial Plan ==").head
    assert(p.contains("explode_ngrams"), "native n-gram generator missing")
    assert(!p.contains("CartesianProduct"), "a data-sized cartesian appeared")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1, s"$bnlj BroadcastNestedLoopJoins (> the vocab scalar attach)")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      "LM model tables are not joined by key")
  }

  test("source cap bounds the exchange via WindowGroupLimit") {
    // the domain-cap op's 100 TB claim is exactly this: each mapper
    // keeps at most K rows per source BEFORE the shuffle.
    val p = plan("h_source_cap")
    assert(p.contains("WindowGroupLimit"),
      "rank filter not pushed into the window — exchange carries the corpus")
  }

  test("containment pairs: native bitmask_inter over a keyed blocked-triangle join") {
    val p = plan("h_containment_pairs").split("== Initial Plan ==").head
    assert(p.contains("bitmask_inter"),
      "native bitmask_inter missing — pair loop fell back to interpreted HOFs")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "pair enumeration fell off the blocked-triangle equi-join")
  }

  test("bloom prefilter: map-side word-table lookups, merge join, no cartesian") {
    // the op's 100 TB claim: the fact scan drops non-matching rows via
    // two broadcast (word_idx → mask) lookups BEFORE the shuffle of the
    // real join, which must stay shuffle-merge (premise: build side too
    // big to broadcast as rows). A regression to BNLJ/cartesian, or the
    // real join silently becoming broadcast, voids the scale story.
    val p = plan("c_join_bloom_prefilter").split("== Initial Plan ==").head
    assert(p.contains("SortMergeJoin"),
      "real join is not shuffle-merge — merge hint lost")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 2, s"expected 2 broadcast word-table lookups, got $bhj")
    assert(p.contains("shiftright"), "bit-test filter missing from the probe side")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("PQ ADC family: code-table probes are broadcast equi-joins, no cartesian") {
    // database side = codes only; the distance table must broadcast and
    // the probe must be keyed. The one sanctioned BNLJ is the K-row
    // codeword-array attach inside the query-side distance pass (two in
    // ivfpq, whose coarse quantizer also probes the codeword arrays).
    for (q <- Seq("h_pq_adc_topk", "h_pq_adc_recall", "h_ann_ivfpq")) {
      val p = plan(q).split("== Initial Plan ==").head
      assert(p.contains("sq_dist_dec"),
        s"$q: native sq_dist_dec missing — distance pass fell back to relational form")
      assert(p.contains("BroadcastHashJoin"),
        s"$q: code probe is not a broadcast equi-join")
      assert(!p.contains("CartesianProduct"))
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
      assert(bnlj <= 2, s"$q: $bnlj BNLJs — something data-sized fell off the equi-join")
    }
    assert(plan("h_pq_adc_topk").contains("WindowGroupLimit"),
      "per-query top-3 not group-limited")
  }

  test("prefix-filter join: token-keyed candidates, no data-sized cartesian") {
    // lossless AllPairs prefix filtering stands or falls on candidate
    // generation staying a KEYED join of the prefix postings; the only
    // sanctioned broadcasts are the vocab-sized df-rank table and the
    // bounded verify-side lookups.
    val p = plan("h_prefix_filter_pairs").split("== Initial Plan ==").head
    assert(p.contains("bitmask_jaccard"),
      "native bitmask verify missing — fell back to interpreted HOFs")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "candidate generation fell off the token-keyed equi-join")
  }

  test("PCA scatter BUILD: vec-keyed self-join + (i,j) hash agg, no cartesian") {
    // the scatter matrix's 100 TB claim: Σxy comes from the vec_id-KEYED
    // self-join of the long form (each vector's dim² products expand
    // inside its own join group) feeding an (i,j) hash aggregate with
    // map-side combine — never a data-sized cartesian. The Σx·Σy /
    // n-count corrections attach as broadcast joins over dim-sized
    // frames. The checked queries serve the memoized artifact, so the
    // pin reads the production BUILD's captured plan.
    val p = BuildPlans.capture(spark)(graft.ops.VectorOps.pcaScatter(_, sf)).finalPlans
    assert(!p.contains("CartesianProduct"), "a data-sized cartesian appeared")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      "Σxy self-join is not keyed")
    assert(p.contains("HashAggregate"), "(i,j) aggregate lost hash-agg form")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1, s"$bnlj nested-loop joins (> the one-row n attach)")
  }

  test("PCA projection: direction broadcasts, one vec-keyed aggregate") {
    // the projection's 100 TB shape: v3 (dim rows) must reach the long
    // form as a BROADCAST join — any shuffle of the corpus keyed on the
    // tiny side's j would be wrong — and the per-vector score is one
    // hash aggregate. The power-iteration frames upstream are dim-sized
    // and may attach as the sanctioned scalar/broadcast joins.
    val p = plan("h_pca_project").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), "a data-sized cartesian appeared")
    assert(p.contains("BroadcastHashJoin"),
      "PC1 direction did not broadcast onto the corpus scan")
    assert(p.contains("HashAggregate"), "per-vector score lost hash-agg form")
  }

  test("BPE training: corpus pass is scan → word-freq hash agg; pair count keyed") {
    // BPE's 100 TB claim: the only corpus-sized work is the word-
    // frequency build (one scan + one hash aggregate with map-side
    // combine); every merge round then runs over the vocab-bounded
    // word table. Pin both stages as production runs them: the words
    // build checkpoint must be a pure scan+agg (no join at all), and
    // the round-1 pair-count argmax over it must stay a hash aggregate
    // with no cartesian.
    val c = BuildPlans.capture(spark)(s =>
      graft.ops.TextOps.bpeBestPair(graft.ops.TextOps.bpeWords(s, sf)))
    val pw = c.finalPlans
    assert(pw.contains("HashAggregate"), "word-frequency agg lost hash form")
    assert(!pw.contains("Join"), "corpus pass grew a join")
    val pp = c.consumer.finalPlan
    assert(pp.contains("HashAggregate"), "pair count lost hash-agg form")
    assert(!pp.contains("CartesianProduct"), "a cartesian appeared")
    assert(pp.contains("TakeOrderedAndProject") || pp.contains("GlobalLimit"),
      "argmax did not fuse into a top-k")
  }

  test("BPE apply: vocab joins as broadcast onto the corpus scan") {
    // the tokenize pass must never shuffle the corpus by word: the
    // post-merge vocabulary is vocab-bounded and must reach the scan
    // as a BroadcastHashJoin, with the per-lang stats one hash agg.
    val p = plan("h_bpe_tokenize").split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      "post-merge vocab did not broadcast onto the corpus scan")
    assert(!p.contains("CartesianProduct"), "a cartesian appeared")
    assert(p.contains("HashAggregate"), "per-lang stats lost hash-agg form")
  }

  test("OHLC bars: both window directions and the aggregate share one shuffle") {
    // AdaptiveSparkPlan.toString prints the final plan followed by the
    // initial plan — count exchanges in the final section only.
    val p = plan("g_ohlc").split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1,
      s"expected a single hash exchange (asc window, desc window and " +
        s"groupBy all partition by (event_type, hour)), got $exchanges:\n" +
        p.take(2000))
  }

  test("gopher filters: one scan + one (doc,gram)-keyed agg, no join blowup") {
    // The char-weighted duplicate-2-gram rule is the only non-map work:
    // it must stay an explode → (doc_id, bg) hash agg → doc_id hash agg
    // joined back on doc_id — never a gram-keyed self-join or
    // cartesian. Everything else is scan-projection arithmetic.
    val p = plan("h_gopher_filters").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), "a cartesian appeared")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 0,
      "a nested-loop join appeared — dup-gram path fell off the keyed agg")
    assert(p.contains("Generate"), "bigram explode missing")
    assert(p.contains("HashAggregate"), "dup-gram count lost hash-agg form")
  }

  test("HITS: iteration joins stay keyed; ranks are a 9-row window") {
    // The corpus-sized work is the hitsEdges artifact (one window pass,
    // materialized); the four iteration joins and the rank windows run
    // over the |types|-bounded score table. Pin: no cartesian, joins
    // keyed (broadcast/SMJ/SHJ over the tiny tables is all fine), and
    // the final plan carries Window operators for the two ranks.
    val p = plan("i_graph_hits").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), "a cartesian appeared")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 0,
      "a nested-loop join appeared in the HITS iteration chain")
    assert(p.contains("Window"), "rank windows missing")
  }

  test("theil: two shuffles of data-sized input, scalars broadcast-attached") {
    // Per-customer spend agg (o_custkey exchange) and the per-nation
    // agg are the only data-sized shuffles; nation and the two scalar
    // frames attach via broadcast. No cartesian beyond the sanctioned
    // one-row scalar attach, no nested loop over data-sized input.
    val p = plan("g_theil_spend").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), "a data-sized cartesian appeared")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 2,
      s"$bnlj nested-loop joins (> 2 sanctioned one-row scalar attaches)")
    assert(p.contains("BroadcastHashJoin"), "nation join did not broadcast")
  }

  test("naive Bayes: scoring joins the resident model by key, no BNLJ") {
    // The model is a memoized per-corpus artifact (r14 VERDICT item 2:
    // the train-inline form paid 5+ broadcast builds per execution).
    // Scoring must join the token stream to the model BY KEY, fold
    // through a hash aggregate, and argmax via a doc-keyed window —
    // with ZERO nested-loop joins left in the consumer plan (the
    // scalar attaches all live in the one-time build now).
    val p = plan("h_nb_lang_confusion").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), "a data-sized cartesian appeared")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj == 0,
      s"$bnlj nested-loop joins in the scoring pass (model attaches " +
        "must live in the memoized build, not per execution)")
    assert(p.contains("HashAggregate"), "scoring lost hash-agg form")
    assert(p.contains("Window"), "argmax window missing")
  }

  test("naive Bayes model build: vocab-bounded attaches, merged scalars") {
    // The production build's captured model checkpoint (the artifact's
    // lineage truncates to Scan ExistingRDD in consumers; nbModel builds
    // the model, then the priors): the vocab spine crosses ONE L-row
    // broadcast (per-lang totals carrying the merged vocab-size column)
    // plus the one-row vocabN attach inside it — ≤2 BNLJs total; the
    // counts join stays keyed.
    val p = BuildPlans.capture(spark)(graft.ops.TextOps.nbModel(_, sf)._1)
      .checkpoints.head.finalPlan
    assert(!p.contains("CartesianProduct"), "a data-sized cartesian appeared")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 2,
      s"$bnlj nested-loop joins (> the merged totals+vocabN attaches)")
  }

  test("eccentricity: squaring joins keyed, one scalar bounds attach") {
    // The min-plus squaring chain runs over memoized |types|²-bounded
    // stages; the only BNLJs allowed in the final plan are the two
    // one-row attaches (the ≤9-node guard and the diameter/radius
    // bounds). (The corpus-sized hitsEdges build is pinned via the
    // i_graph_hits case.)
    val p = plan("i_graph_eccentricity").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), "a cartesian appeared")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 2,
      s"$bnlj nested-loop joins (> the node-guard and bounds attaches)")
  }

  test("betweenness: walk-count powers and pair terms stay keyed equi-joins") {
    // σ(u,v) lookup (dist ⋈ powers on (src,dst)) and the σ(u,w)·σ(w,v)
    // triple must all be hash equi-joins over the |types|²-bounded
    // memoized artifacts; the only nested loop allowed is the one-row
    // bounds attach inherited from the shared dist artifact. A
    // cartesian or extra BNLJ means a pair join lost its keys.
    val p = plan("i_graph_betweenness").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), "a cartesian appeared")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1, s"$bnlj nested-loop joins (> the scalar attach)")
    assert(p.contains("HashAggregate"), "per-center sum lost hash-agg form")
  }

  test("line dedup: digest-keyed joins, no pair stage") {
    // Segments join their doc-frequency table BY sha256 digest — one
    // Generate (the segment explode), hash aggregates, zero nested
    // loops. A BNLJ or cartesian means the rollup lost its key.
    val p = plan("h_line_dedup").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), "a cartesian appeared")
    assert(!p.contains("BroadcastNestedLoopJoin"), "a nested loop appeared")
    assert(p.contains("Generate"), "segment explode missing")
    assert(p.contains("HashAggregate"), "lost hash-agg form")
  }

  test("cohort LTV / edge churn: keyed windows and joins only") {
    // LTV's running total must stay partitioned by cohort; churn's
    // week-shift self-join must be a keyed full-outer — neither may
    // plan a cartesian or an unkeyed nested loop.
    for (q <- Seq("g_cohort_ltv", "i_graph_edge_churn")) {
      val p = plan(q).split("== Initial Plan ==").head
      assert(!p.contains("CartesianProduct"), s"$q: a cartesian appeared")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q: a nested loop appeared")
      assert(p.contains("HashAggregate"), s"$q: lost hash-agg form")
    }
    assert(plan("g_cohort_ltv").split("== Initial Plan ==").head
      .contains("windowspecdefinition(cohort_wk"),
      "LTV running total lost its cohort partition")
  }

  test("HHI: two keyed aggs, top-k fused") {
    val p = plan("g_hhi_concentration").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), "an unkeyed join appeared")
    assert(p.contains("HashAggregate"), "lost hash-agg form")
    assert(p.contains("TakeOrderedAndProject"), "top-20 lost limit fusion")
  }

  test("epoch plan: one corpus agg, bounded waterfilling math") {
    // The corpus work must be ONE source-keyed token aggregate; the
    // sort/prefix/λ-selection runs over the |sources|-bounded census
    // (unpartitioned windows post-aggregation are fine there). Pins:
    // no cartesian, nested loops only for the ≤3 scalar/census attaches.
    val p = plan("h_epoch_plan").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), "a cartesian appeared")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 3, s"$bnlj nested-loop joins (> the λ/total attaches)")
    assert(p.contains("HashAggregate"), "token census lost hash-agg form")
  }

  test("CEM: stratum matching is a keyed join, never pair matching") {
    // The treated⋈control match must be ONE equi-join on the coarsened
    // stratum key — a nested loop or cartesian means it degenerated to
    // pairwise matching (quadratic in users). One scalar attach (the
    // naive contrast) is sanctioned.
    val p = plan("g_cem_att").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), "a cartesian appeared")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1, s"$bnlj nested-loop joins (> the naive attach)")
    assert(p.contains("HashAggregate"), "stratum rollup lost hash-agg form")
  }

  test("rich club: keyed degree joins, 3-row threshold attaches only") {
    // E(>k)/N(>k) come from the pair/degree artifacts via keyed joins;
    // the only nested loops are the two 3-row threshold attaches. A
    // cartesian or a 3rd BNLJ means a degree join lost its key.
    val p = plan("i_graph_rich_club").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), "a cartesian appeared")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 2, s"$bnlj nested-loop joins (> the 2 threshold attaches)")
    assert(p.contains("HashAggregate"), "club counts lost hash-agg form")
  }

  test("zipf/hill: global top-k fused, windows only over the bounded tail") {
    // Both select a bounded head/tail with a fused TakeOrderedAndProject
    // over the corpus agg — a global Sort here would be the 100 TB
    // mistake. (Their unpartitioned rank windows run post-limit over
    // ≤1000 rows by construction.)
    for (q <- Seq("h_zipf_fit", "g_tail_index")) {
      val p = plan(q).split("== Initial Plan ==").head
      assert(!p.contains("CartesianProduct"), s"$q: a cartesian appeared")
      assert(p.contains("TakeOrderedAndProject"), s"$q: top-k lost fusion")
      assert(p.contains("HashAggregate"), s"$q: lost hash-agg form")
    }
  }

  test("grouped OLS (elasticity): one hash agg fits all models, top-k fused") {
    // Millions of per-part regressions must be ONE moment aggregate —
    // no window, no per-group pass, no join at all; the top-20 must
    // fuse into TakeOrderedAndProject, never a global sort.
    val p = plan("g_price_elasticity").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), "a cartesian appeared")
    assert(!p.contains("BroadcastNestedLoopJoin"), "a nested loop appeared")
    assert(p.contains("HashAggregate"), "moment fit lost hash-agg form")
    assert(p.contains("TakeOrderedAndProject"), "top-20 lost limit fusion")
    assert(!p.contains("Window"), "a window crept into the grouped fit")
  }

  test("markov attribution: one corpus window pass, bounded matrix chain") {
    // The matrix chain is memoized/materialized (lineage truncated), so
    // the corpus-sided build shape is pinned on the production m0
    // build's captured plan: journey windows partitioned by user (never
    // global), no CartesianProduct, the variant×base expansion as the
    // only data BNLJ. The checked query itself must stay cartesian-free
    // with only scalar attaches.
    val b = BuildPlans.capture(spark)(graft.ops.AnalyticsOps.markovM0(_, sf))
      .finalPlans
    assert(!b.contains("CartesianProduct"), "m0 build: a cartesian appeared")
    assert(b.contains("windowspecdefinition(user_id"),
      "m0 build: journey window lost its user partition")
    val bb = "BroadcastNestedLoopJoin".r.findAllIn(b).size
    assert(bb <= 1, s"m0 build: $bb nested-loop joins (> variant expansion)")
    val p = plan("g_markov_attribution").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), "a cartesian appeared")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 3,
      s"$bnlj nested-loop joins (> the p_base/Σremoval/variant attaches," +
        " all ≤|variants| rows)")
  }

  test("silhouette: broadcast centroid pass, no pair stage") {
    // a/b come from ONE map-side pass against the K broadcast
    // centroids (the sanctioned BNLJ) + a vec-keyed window/agg — the
    // same plan as the k-means assignment. A CartesianProduct or a
    // second data-sized BNLJ means a vector-pair stage crept in.
    val p = plan("h_silhouette").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), "a cartesian appeared")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1, s"$bnlj nested-loop joins (> the centroid attach)")
    assert(p.contains("HashAggregate"), "per-cluster mean lost hash-agg form")
  }

  test("logistic GD: map-side sigmoid passes, one-row weight attaches only") {
    // Three GD iterations + the scoring pass = four one-row weight
    // broadcasts (sanctioned BNLJs); the per-iteration reduction must
    // be a hash aggregate. A CartesianProduct or a 5th BNLJ means a
    // weight table grew data-sized or a feature join lost its shape.
    val p = plan("g_logistic_gd").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), "a data-sized cartesian appeared")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 4, s"$bnlj nested-loop joins (> the 4 weight attaches)")
    assert(p.contains("HashAggregate"), "gradient reduction lost hash-agg form")
  }

  test("heaps growth: first-occurrence decomposition, one corpus agg") {
    // The cumulative-distinct curve must come from the (token)-keyed
    // first-source agg — never a per-prefix distinct re-scan. One
    // Generate (token explode), hash aggregates, and the only nested
    // loop is the one-row fit attach.
    val p = plan("h_heaps_vocab_growth").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), "a cartesian appeared")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1, s"$bnlj nested-loop joins (> the fit attach)")
    assert(p.contains("Generate"), "token explode missing")
    assert(p.contains("HashAggregate"), "lost hash-agg form")
  }

  test("closeness/katz: artifact consumers stay hash-agg + keyed join") {
    // Both read |types|²-bounded memoized artifacts; closeness attaches
    // the one-row node count (1 sanctioned BNLJ), katz left-joins the
    // node list BY KEY. A cartesian or a second BNLJ means the scalar
    // attach grew data-sized.
    for ((q, maxB) <- Seq("i_graph_closeness" -> 1, "i_graph_katz" -> 1)) {
      val p = plan(q).split("== Initial Plan ==").head
      assert(!p.contains("CartesianProduct"), s"$q: a cartesian appeared")
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
      assert(bnlj <= maxB, s"$q: $bnlj nested-loop joins")
      assert(p.contains("HashAggregate"), s"$q: lost hash-agg form")
    }
  }

  test("bootstrap CI: parallel explode, integer hot loop, no decimal in the xB pass") {
    // The ×100 replica pass must (a) run AFTER a repartition of the
    // base rows (single-row-group scan would serialize 15 M rows onto
    // one task — the corr_matrix lesson) and (b) sum BIGINT micros,
    // never DECIMAL(38,x) — the wide-decimal conditional sum measured
    // ~40 µs/row of BigDecimal work (25 s over the exploded rows).
    val p = plan("g_bootstrap_ci").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), "a data-sized cartesian appeared")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 2, s"$bnlj nested-loop joins (> the two CI scalar attaches)")
    assert(p.contains("REPARTITION_BY_COL"),
      "base-row repartition missing — the xB pass would run on one task")
    assert(p.contains("Generate"), "replica explode missing")
    val gen = p.split("Generate", 2)(1)
    assert(!gen.contains("sum(CASE WHEN keep") ||
      !"""sum\(CASE WHEN keep[^)]*decimal\(38""".r.findFirstIn(gen).isDefined,
      "wide-decimal sum re-entered the xB hot loop")
  }

  test("c_join_dpp: dynamic partition pruning reaches the partitioned scan") {
    // the scan of the month-partitioned orders copy must carry a
    // runtime dynamicpruning predicate on the partition column (fed by
    // the broadcast month-dim subquery) — a static PartitionFilter or
    // a full scan both fail this pin
    val p = plan("c_join_dpp")
    assert(p.contains("dynamicpruning"),
      "partitioned scan lost its dynamic-pruning PartitionFilter")
    assert(p.contains("PartitionFilters"),
      "scan is not a partitioned file scan at all")
  }

  test("h_rrf_fusion: both retrieval arms fuse their top-50 (no global sort of an arm)") {
    // each arm must reach its 50-row list via TakeOrderedAndProject —
    // a corpus-wide Sort before the limit would be the 100 TB mistake;
    // the only Sort allowed is the final ≤100-row fused-output ordering
    val p = plan("h_rrf_fusion")
    assert(p.contains("TakeOrderedAndProject"),
      "retrieval arm top-50 lost its TakeOrderedAndProject fusion")
  }

  test("h_mmr_rerank: candidate build is a fused top-20, pair table broadcasts") {
    // the corpus-facing stage of MMR is the memoized mmrCand artifact;
    // its captured build must show scan + TakeOrderedAndProject
    // (a global Sort before the 20-row cut would be the 100 TB mistake)
    val p = BuildPlans.capture(spark)(graft.ops.VectorOps.mmrCand(_, sf))
      .builds.map(_.plan).mkString("\n")
    assert(p.contains("TakeOrderedAndProject"),
      "mmrCand build lost its fused top-20")
    assert(!p.contains("SortMergeJoin"),
      "mmrCand build grew an unexpected data-sized join")
  }

  test("h_dpo_pairs: one stratum-keyed hash aggregate, no window, no join") {
    // the max-of-struct argmax must stay a single HashAggregate pair —
    // a window or self-join spelling would double the corpus shuffle
    // max(struct) compiles to SortAggregate (struct is not a mutable
    // aggregation-buffer type) — what matters for 100 TB is the
    // partial_max/partial_min pair (map-side combine before the one
    // stratum-keyed shuffle), and the absence of window/join spellings
    val p = plan("h_dpo_pairs")
    assert(p.contains("partial_max(struct") && p.contains("partial_min(struct"),
      "argmax/argmin lost their mergeable partial-aggregate form")
    assert(!p.contains("WindowExec"),
      "preference pairing regressed to a window spelling")
    assert(!p.contains("Join"), "preference pairing grew a join")
  }

  test("no checked query funnels corpus-derived data through a single-partition window") {
    // Regression gate for the class behind the r10 findings
    // (i_graph_rich_club's global cume_dist, the prefix-postings global
    // row_number): a WindowExec with an EMPTY partitionSpec moves its
    // whole input to one task — a scale-killer whenever that input
    // grows with the data. Every checked query's pre-AQE physical plan
    // is swept for empty-partition WindowExec / WindowGroupLimitExec
    // nodes; the survivors below are each individually justified as
    // running over a BOUNDED (post-aggregation, metadata-sized) table,
    // so growth is capped by construction, not by luck. Memoized
    // artifacts truncate lineage, so build-side windows are pinned on
    // the builds' captured plans (BuildPlans) in the dedicated tests.
    // r16 (VERDICT r15 item 7 / ADVICE item 2): each whitelist entry is
    // scoped to the EXACT number of single-partition windows it
    // justifies, not the query name alone — a future unbounded global
    // window added to a whitelisted query now fails this gate instead
    // of hiding behind the name's existing justification. The counts
    // were measured from the current plans (tools ProbeWinCount) and
    // each is tied to a stated construction bound.
    val bounded = Map[String, (Int, String)](
      // |cluster partitions|-row offset tables of the two-pass
      // range-rank pattern (the pattern this gate exists to protect)
      "e_win_ntile_pct" -> (3, "32-row partition-offset tables (rank + ntile + pct)"),
      "g_cusum_changepoint" -> (1, "32-row partition-offset table"),
      "g_mannwhitney_u" -> (1, "32-row partition-offset table"),
      "g_auc_value" -> (1, "32-row partition-offset table"),
      "g_abc_classification" -> (1, "32-row partition-offset table"),
      "g_gini_spend" -> (2, "32-row partition-offset table + customer-rank cumsum census"),
      "g_pareto_share" -> (1, "32-row partition-offset table"),
      "g_pareto_skyline" -> (1, "32-row partition-offset table"),
      "h_quality_qnorm" -> (1, "32-row partition-offset table"),
      // two windows: the 32-row offset table of the range-rank decile
      // assignment + the cumulative gain over the ≤10 decile census
      "g_lift_decile" -> (2, "32-row partition-offset table + 10-row decile census"),
      // post-aggregation histograms/censuses with a construction bound
      "g_survival_km" -> (1, "day-grain duration histogram (≤ data range in days)"),
      "g_ks_drift" -> (1, "100-bin value histogram"),
      "g_bootstrap_ci" -> (1, "B=200 replica-mean rows"),
      "g_tail_index" -> (2, "top-101 spenders after TakeOrdered"),
      "e_drift_psi" -> (2, "width-20 doc-length bucket histogram (rank + cum)"),
      "h_len_histogram" -> (1, "width-10 doc-length bucket histogram"),
      "i_graph_hits" -> (2, "|event types| rows"),
      "h_zipf_fit" -> (2, "top-1000 token rows"),
      "h_heaps_vocab_growth" -> (2, "|sources| rows"),
      // two windows folding the rollup's global (V, N) row onto the
      // per-source rows — the r15 single-broadcast merge of the KL
      // cell table's scalar attaches
      "h_kl_source_shift" -> (2, "|sources|+1 rollup rows"),
      "h_mix_reweight" -> (1, "|languages| rows"),
      "h_epoch_plan" -> (3, "|sources| rows"),
      // each retrieval arm is ranked AFTER its fused global top-50
      // (TakeOrderedAndProject — pinned in the dedicated test), so the
      // window input is capped at 50 rows by construction
      "h_rrf_fusion" -> (2, "two 50-row retrieval lists after TakeOrdered"),
      // Theil-Sen ranks the |days|²-bounded slope-pair table and the
      // |days|-row residual table — TIME-bounded metadata, independent
      // of corpus row count
      "g_theilsen_slope" -> (3, "days²-bounded slope-pair table"),
      // centered 7-observation MA over the day-grain revenue series —
      // calendar-bounded (≤ data range in days), same class as
      // g_survival_km's duration histogram
      "g_stl_decompose" -> (2, "day-grain revenue series (≤ data range in days)"))
    val counts = Registry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.sparkPlan
        name -> plan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w.getClass.getSimpleName
          case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
            if w.partitionSpec.isEmpty => w.getClass.getSimpleName
        }
    }
    val offenders = counts.flatMap { case (name, empties) =>
      bounded.get(name) match {
        case None if empties.nonEmpty => Seq(s"$name -> $empties (unlisted)")
        case Some((n, _)) if empties.nonEmpty && empties.size != n =>
          Seq(s"$name -> ${empties.size} single-partition windows, " +
            s"whitelist justifies exactly $n")
        case _ => Nil
      }
    }
    assert(offenders.isEmpty,
      s"unjustified single-partition window(s): ${offenders.mkString(", ")} — " +
        "either convert to the two-pass range-rank pattern or add/update a " +
        "justified (count, bound) in the whitelist")
    // the whitelist must not rot: every entry still has to exhibit the
    // window it justifies (a stale entry would mask a future regression
    // under the same name)
    val byName = counts.toMap
    val stale = bounded.keys.filter(name => byName.get(name).forall(_.isEmpty))
    assert(stale.isEmpty,
      s"whitelist entries with no single-partition window anymore: " +
        s"${stale.mkString(", ")} — remove them")
  }
}
