package graft.ops

import graft.io.Io
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Graph analytics over a data-derived graph: the co-purchase graph on
  * `part` (two parts are adjacent iff some order contains both). The
  * projection is order-keyed — each order expands to C(items, 2) pairs,
  * bounded by the per-order line count (≤ 7 in TPC-H-shaped data), so
  * the edge build shuffles once on `l_orderkey` and never goes
  * quadratic in parts. Degree distribution runs on the full graph (one
  * agg — cheap at any density); every ITERATIVE query — PageRank,
  * triangle counting, neighbor similarity, k-core, LPA and connected
  * components — runs on the SUPPORTED graph (pairs co-purchased
  * in ≥ 2 distinct orders) — the raw graph is uniformly dense one-off
  * co-occurrence noise (avg degree ~100 at every SF here, 148M wedges
  * at sf0.1), so support pruning is both the semantic filter AND the
  * dial that bounds the wedge joins on denser data. All queries are
  * equi-join + hash-agg shapes over shared, memoized AND materialized
  * artifacts (the pair table builds once per session/corpus, each
  * derived table at most once more) — no broadcast of anything
  * data-sized, no driver-side iteration state beyond the loop counters.
  */
object GraphOps {

  /** Accumulation-order-independent sum for PageRank mass (values are
    * O(1/n) — DECIMAL(38,18) keeps 18 fractional digits exactly, so the
    * merge order of partial aggregates cannot perturb the result). */
  private def decSum18(c: Column): Column =
    sum(c.cast(DecimalType(38, 18))).cast("double")
  /** RAW (un-hopped) scale-18 oracle sum — legal ONLY for results
    * re-snapped at a coarser grain before emission, where DuckDB's
    * in-cast dust capture / out-cast double-rounding (~1e-16 relative)
    * sit orders below the snap. r12 audit of the four consumers:
    * pagerank ×2 (sum feeds dSnap12 — 4 orders of headroom),
    * modularity and adamic-adar (dSnap6-wrapped — 9+ orders). A sum
    * emitted RAW must use dSum18h below (betweenness/closeness do). */
  private def dSum18(x: String) =
    s"CAST(SUM(CAST($x AS DECIMAL(38,18))) AS DOUBLE)"

  /** Two-way VARCHAR-hopped scale-18 oracle sum, for results emitted
    * RAW (closeness, betweenness) rather than re-snapped at a coarser
    * grain: the in-hop makes DuckDB's double→DECIMAL(38,18) capture
    * the repr digits (matching Spark's repr-based cast, not the binary
    * dust below them), and the out-hop parses exact digits back
    * (DuckDB's direct decimal→double double-rounds once the unscaled
    * value passes 2^53 — any sum ≥ ~10 at scale 18). The
    * h_heaps_vocab_growth spelling; see .claude/skills/verify/SKILL.md. */
  private def dSum18h(x: String) =
    s"CAST(CAST(SUM(CAST(CAST($x AS VARCHAR) AS DECIMAL(38,18)))" +
      s" AS VARCHAR) AS DOUBLE)"

  /** Adamic–Adar per-wedge term 1/ln(deg(z)), guarded: wedge centers
    * always have deg ≥ 2 by construction, but Catalyst pushes this
    * projection BELOW the join onto the full degree table — where
    * deg = 1 rows would hit ANSI divide-by-zero on ln(1). The
    * otherwise-less `when` emits SQL NULL there, the EXACT mirror of
    * the oracle's ELSE-less `CASE WHEN d.deg > 1 THEN … END`: if the
    * support-pruning invariant ever breaks, BOTH engines skip the
    * broken term in SUM identically instead of one silently dropping
    * it while the other errors or returns ±Inf. GuardSpec pins this
    * NULL-skip semantic on a constructed deg-1 center. */
  private[graft] def adamicAdarTerm(zdeg: Column): Column =
    snap12(when(zdeg > 1, lit(1.0) / log(zdeg.cast("double"))))

  /** Per-iteration 1e-12 snap: keeps the two engines bit-identical
    * across iterations (HALF_UP from DOUBLE on both). */
  private def snap12(c: Column): Column =
    c.cast(DecimalType(38, 12)).cast("double")
  // VARCHAR hop: see AnalyticsOps.dSnap6 — replicates Spark's repr-based rounding
  private def dSnap12(x: String) =
    s"CAST(CAST(CAST(CASE WHEN ABS($x) < 5e-13 THEN CAST(0 AS DOUBLE) ELSE $x END" +
      s" AS VARCHAR) AS DECIMAL(38,12)) AS DOUBLE)"

  private def snap6(c: Column): Column =
    c.cast(DecimalType(38, 6)).cast("double")
  private def dSnap6(x: String) =
    s"CAST(CAST(CAST(CASE WHEN ABS($x) < 5e-7 THEN CAST(0 AS DOUBLE) ELSE $x END" +
      s" AS VARCHAR) AS DECIMAL(38,6)) AS DOUBLE)"

  /** Undirected co-purchase pairs (pa < pb) WITH their support (number
    * of distinct orders containing both), memoized AND materialized per
    * corpus: one distinct-projection shuffle on `l_orderkey`, one
    * order-keyed self-join (per-key fanout bounded by order size), one
    * pair-keyed count — then checkpointed, so the expensive pair
    * expansion executes exactly once per Verify/Bench session and every
    * downstream consumer (5 graph queries × their iterations) reads the
    * stored table instead of re-running the self-join. */
  private def copurchasePairs(s: SparkSession, d: String): DataFrame =
    Q.memoized(s, d, "copurchasePairs") {
      Q.materialize(s, d, "copurchasePairs") {
        val e0 = Io.table(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")).distinct()
        e0.as("a").join(e0.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
          .agg(count(lit(1)).as("support"))
      }
    }

  /** Full-graph (any support) undirected pairs — a narrow projection of
    * the materialized pair table, cheap to recompute per consumer. */
  private def copurchaseEdges(s: SparkSession, d: String): DataFrame =
    copurchasePairs(s, d).select(col("pa"), col("pb"))

  /** Oracle twin of [[copurchasePairs]] (CTE prefix `pairs`; the
    * `support` column is ignored by consumers of the full graph). */
  private val pairsSql =
    """WITH e0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |pairs AS (
      |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS support
      |  FROM e0 a JOIN e0 b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2)""".stripMargin

  /** Both-direction full-graph edge list (narrow over the materialized
    * pair table) + per-node degree. Since PageRank moved to the
    * supported graph, i_graph_degree's one-shot histogram is the only
    * consumer, so this is memoized (per-session dedupe) but no longer
    * materialized to disk — one hash-agg over the already-materialized
    * pair table is cheaper than a parquet round-trip. */
  private def fullEdges(s: SparkSession, d: String): DataFrame = {
    val p = copurchaseEdges(s, d)
    p.select(col("pa").as("src"), col("pb").as("dst"))
      .union(p.select(col("pb").as("src"), col("pa").as("dst")))
  }

  private def fullDeg(s: SparkSession, d: String): DataFrame =
    Q.memoized(s, d, "gDeg") {
      fullEdges(s, d).groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
    }

  private val degSql =
    s"""$pairsSql,
       |edges AS (SELECT pa AS src, pb AS dst FROM pairs
       |          UNION ALL SELECT pb, pa FROM pairs),
       |deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY 1)""".stripMargin

  /** Supported-graph (support ≥ 2) artifacts shared by triangles,
    * neighbor similarity and connected components: symmetric edge list
    * (materialized — CC joins it every propagation round) and its
    * degree table. */
  private def supPairs(s: SparkSession, d: String): DataFrame =
    copurchasePairs(s, d).filter(col("support") >= 2)
      .select(col("pa"), col("pb"))

  private def supEdges(s: SparkSession, d: String): DataFrame =
    Q.memoized(s, d, "gSupEdges") {
      Q.materialize(s, d, "gSupEdges") {
        val sp = supPairs(s, d)
        sp.union(sp.select(col("pb"), col("pa"))).toDF("src", "dst")
      }
    }

  private def supDeg(s: SparkSession, d: String): DataFrame =
    Q.memoized(s, d, "gSupDeg") {
      Q.materialize(s, d, "gSupDeg") {
        supEdges(s, d).groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg"))
      }
    }

  /** Weighted supported-graph edges: same support-pruned edge set as
    * [[supEdges]] but carrying the co-purchase count as an integer edge
    * weight (used by weighted label propagation — weights stay BIGINT
    * end to end, so weighted votes are exact on both engines). */
  private def supWEdges(s: SparkSession, d: String): DataFrame =
    Q.memoized(s, d, "gSupWEdges") {
      Q.materialize(s, d, "gSupWEdges") {
        val p = copurchasePairs(s, d).filter(col("support") >= 2)
        p.select(col("pa").as("src"), col("pb").as("dst"), col("support").as("w"))
          .union(p.select(col("pb").as("src"), col("pa").as("dst"),
            col("support").as("w")))
      }
    }

  /** Oracle twin of the supported-graph artifacts (CTEs `sup`,
    * `sedges`, `sdeg`). */
  private val supSql =
    s"""$pairsSql,
       |sup AS (SELECT pa, pb FROM pairs WHERE support >= 2),
       |sedges AS (SELECT pa AS src, pb AS dst FROM sup
       |           UNION ALL SELECT pb, pa FROM sup),
       |sdeg AS (SELECT src AS node, COUNT(*) AS deg FROM sedges GROUP BY 1)""".stripMargin

  /** Oracle twin of [[supWEdges]] (CTE `swedges`), layered on $supSql. */
  private val supWSql =
    s"""$supSql,
       |swedges AS (SELECT pa AS src, pb AS dst, support AS w
       |            FROM pairs WHERE support >= 2
       |            UNION ALL SELECT pb, pa, support
       |            FROM pairs WHERE support >= 2)""".stripMargin

  /** Oracle twin of [[typeGraphAdj]]: the dominant-transition type
    * graph (CTEs `trans`/`tot`/`edges`/`nodes`/`sym`) — shared by the
    * closeness and Katz oracles (eccentricity/betweenness predate the
    * factoring and keep their inline copies). */
  private val typeSymSql =
    """trans AS (
      |  SELECT src, dst, COUNT(*) AS n FROM (
      |    SELECT event_type AS src,
      |      LEAD(event_type, 1) OVER (PARTITION BY user_id
      |        ORDER BY epoch_us(ts), event_id) AS dst
      |    FROM events)
      |  WHERE dst IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT src, SUM(n) AS tot FROM trans GROUP BY 1),
      |edges AS (SELECT t.src, t.dst FROM trans t JOIN tot USING (src)
      |          WHERE t.n * 5 >= tot.tot),
      |nodes AS (SELECT DISTINCT event_type AS u FROM events),
      |sym AS (SELECT src, dst FROM edges
      |        UNION SELECT dst, src FROM edges)""".stripMargin

  /** Oracle twin of [[typeGraphDist]] (CTE `d3`), layered on sym. */
  private val typeDistSql =
    """d0 AS (
      |  SELECT src, dst, MIN(dist) AS dist FROM (
      |    SELECT src, dst, CAST(1 AS BIGINT) AS dist FROM sym
      |    UNION ALL
      |    SELECT u, u, CAST(0 AS BIGINT) FROM nodes)
      |  GROUP BY 1, 2),
      |d1 AS (
      |  SELECT src, dst, MIN(dist) AS dist FROM (
      |    SELECT a.src, b.dst, a.dist + b.dist AS dist
      |    FROM d0 a JOIN d0 b ON a.dst = b.src
      |    UNION ALL SELECT src, dst, dist FROM d0)
      |  GROUP BY 1, 2),
      |d2 AS (
      |  SELECT src, dst, MIN(dist) AS dist FROM (
      |    SELECT a.src, b.dst, a.dist + b.dist AS dist
      |    FROM d1 a JOIN d1 b ON a.dst = b.src
      |    UNION ALL SELECT src, dst, dist FROM d1)
      |  GROUP BY 1, 2),
      |d3 AS (
      |  SELECT src, dst, MIN(dist) AS dist FROM (
      |    SELECT a.src, b.dst, a.dist + b.dist AS dist
      |    FROM d2 a JOIN d2 b ON a.dst = b.src
      |    UNION ALL SELECT src, dst, dist FROM d2)
      |  GROUP BY 1, 2)""".stripMargin

  /** Oracle twin of [[typeWalkPowers]] (CTE `powers`), layered on sym. */
  private val typePowersSql =
    """a1 AS (SELECT src, dst, CAST(1 AS BIGINT) AS cnt FROM sym),
      |a2 AS (SELECT a.src, b.dst, CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS cnt
      |       FROM a1 a JOIN a1 b ON a.dst = b.src GROUP BY 1, 2),
      |a3 AS (SELECT a.src, b.dst, CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS cnt
      |       FROM a2 a JOIN a1 b ON a.dst = b.src GROUP BY 1, 2),
      |a4 AS (SELECT a.src, b.dst, CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS cnt
      |       FROM a3 a JOIN a1 b ON a.dst = b.src GROUP BY 1, 2),
      |a5 AS (SELECT a.src, b.dst, CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS cnt
      |       FROM a4 a JOIN a1 b ON a.dst = b.src GROUP BY 1, 2),
      |a6 AS (SELECT a.src, b.dst, CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS cnt
      |       FROM a5 a JOIN a1 b ON a.dst = b.src GROUP BY 1, 2),
      |a7 AS (SELECT a.src, b.dst, CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS cnt
      |       FROM a6 a JOIN a1 b ON a.dst = b.src GROUP BY 1, 2),
      |a8 AS (SELECT a.src, b.dst, CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS cnt
      |       FROM a7 a JOIN a1 b ON a.dst = b.src GROUP BY 1, 2),
      |powers AS (
      |  SELECT src, dst, CAST(1 AS BIGINT) AS k, cnt FROM a1
      |  UNION ALL SELECT src, dst, 2, cnt FROM a2
      |  UNION ALL SELECT src, dst, 3, cnt FROM a3
      |  UNION ALL SELECT src, dst, 4, cnt FROM a4
      |  UNION ALL SELECT src, dst, 5, cnt FROM a5
      |  UNION ALL SELECT src, dst, 6, cnt FROM a6
      |  UNION ALL SELECT src, dst, 7, cnt FROM a7
      |  UNION ALL SELECT src, dst, 8, cnt FROM a8)""".stripMargin

  /** BFS distance table (node, dist) over 4 hops — memoized, and
    * materialized per hop: hop h references hop h−1 TWICE (frontier
    * filter + visited anti-join), so an unmaterialized chain re-evaluates
    * early hops 2^h times (see i_graph_bfs's notes). */
  private[graft] def bfsDist(s: SparkSession, d: String): DataFrame =
    Q.memoized(s, d, "gBfsDist") {
      val edges = supEdges(s, d)
      val nodes = supDeg(s, d).select(col("node"))
      var cur = Q.materialize(s, d, "gBfs_0") {
        nodes.filter(col("node") % 50 === 0).withColumn("dist", lit(0))
      }
      for (h <- 1 to 4) {
        val next = cur.filter(col("dist") === h - 1)
          .join(edges, col("node") === col("src"))
          .select(col("dst").as("node")).distinct()
          .join(cur.select(col("node")), Seq("node"), "left_anti")
          .withColumn("dist", lit(h))
        cur = Q.materialize(s, d, s"gBfs_$h")(cur.union(next))
      }
      cur
    }

  /** Synchronous-LPA labels after 4 fixed iterations over an edge table
    * `(src, dst)` and its BIGINT vote weight `w`: each node adopts the
    * neighbor label of greatest summed weight, ties to the SMALLEST
    * label. Memoized as `memo` and materialized per iteration
    * (`${prefix}_0..4`); shared by the community census, the modularity
    * score (unit weights — see i_graph_community_lpa's determinism
    * notes) and the support-weighted row. */
  private def lpaLabels(s: SparkSession, d: String, memo: String, prefix: String)
      (edges: => DataFrame, w: Column): DataFrame =
    Q.memoized(s, d, memo) {
      val e = edges
      val nodes = supDeg(s, d).select(col("node"))
      var l = Q.materialize(s, d, s"${prefix}_0") {
        nodes.withColumn("lbl", col("node"))
      }
      for (i <- 1 to 4) {
        val cnt = e.join(l, e("dst") === l("node"))
          .groupBy(e("src").as("n2"), col("lbl"))
          .agg(sum(w).as("wt"))
        val wMax = org.apache.spark.sql.expressions.Window.partitionBy(col("n2"))
        val best = cnt.withColumn("mx", max(col("wt")).over(wMax))
          .filter(col("wt") === col("mx"))
          .groupBy(col("n2")).agg(min(col("lbl")).as("nlbl"))
        l = Q.materialize(s, d, s"${prefix}_$i") {
          nodes.join(best, nodes("node") === best("n2"), "left")
            .select(nodes("node"),
              coalesce(col("nlbl"), nodes("node")).as("lbl"))
        }
      }
      l
    }

  /** The unit-weight [[lpaLabels]] over [[supEdges]]. */
  private def lpaLabels(s: SparkSession, d: String): DataFrame =
    lpaLabels(s, d, "gLpaLabels", "glpa")(supEdges(s, d), lit(1L))

  /** Oracle twin of [[lpaLabels]]: the lp0..lp4 CTE chain over the edge
    * CTE `edges` with vote weight `w` (layers on $supSql's `sdeg`; final
    * labels in `lp4(node, lbl)`). */
  private def lpaSql(edges: String, w: String): String = {
    val iter = (i: Int) =>
      s"""lc$i AS (SELECT e.src AS node, l.lbl, SUM($w) AS wt
         |  FROM $edges e JOIN lp${i - 1} l ON e.dst = l.node
         |  GROUP BY 1, 2),
         |lm$i AS (SELECT node, MIN(lbl) AS lbl
         |  FROM (SELECT node, lbl, wt, MAX(wt) OVER (PARTITION BY node) AS mx
         |        FROM lc$i)
         |  WHERE wt = mx GROUP BY node),
         |lp$i AS (SELECT n.node, COALESCE(m.lbl, n.node) AS lbl
         |  FROM (SELECT node FROM sdeg) n LEFT JOIN lm$i m ON m.node = n.node)""".stripMargin
    s"""lp0 AS (SELECT node, node AS lbl FROM sdeg),
       |${(1 to 4).map(iter).mkString(",\n")}""".stripMargin
  }

  /** [[lpaSql]] with unit weights over $supSql's `sedges`. */
  private val unitLpaSql = lpaSql("sedges", "CAST(1 AS BIGINT)")

  val all: Seq[Q] = Seq(

    // Degree distribution of the co-purchase graph: how many parts have
    // each co-purchase degree. Two hash-aggs over the shared degree
    // artifact — at 100 TB this is the standard two-shuffle degree
    // histogram (node key, then degree key), both with map-side combine.
    Q("i_graph_degree", (s, d) => {
      fullDeg(s, d).groupBy(col("deg").as("degree"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("degree")
    }, Some(
      s"""$degSql
         |SELECT deg AS degree, COUNT(*) AS n_nodes FROM deg
         |GROUP BY 1 ORDER BY degree""".stripMargin)),

    // Ordered triangle counting + global clustering coefficient on the
    // SUPPORTED co-purchase graph (repeat co-purchases only — one-off
    // co-occurrence noise is pruned BEFORE the wedge join, which is
    // what bounds it: wedges are Σ C(deg, 2) over support-filtered
    // degrees, and the support threshold is the dial on denser data;
    // the unpruned graph shuffles 148M wedges of noise at sf0.1). The
    // (a<b<c) orientation makes each triangle counted exactly once:
    // wedges join the pair table to itself on the SMALLEST vertex (the
    // classic distributed triangle scheme), then one equi-join against
    // the pair table closes them. Wedge totals come from the degree
    // table alone. Everything is an equi-join on graph keys — shuffle,
    // not broadcast, so it holds when the edge table is data-sized.
    Q("i_graph_triangles", (s, d) => {
      val p = supPairs(s, d)
      val deg = supDeg(s, d)
      val tri = p.as("e1").join(p.as("e2"),
          col("e1.pa") === col("e2.pa") && col("e1.pb") < col("e2.pb"))
        .select(col("e1.pb").as("pa"), col("e2.pb").as("pb"))
        .join(p, Seq("pa", "pb"))
        .agg(count(lit(1)).as("n_triangles"))
      val stats = deg.agg(count(lit(1)).as("n_nodes"),
        (sum(col("deg") * (col("deg") - 1)) / 2).cast("long").as("n_wedges"),
        (sum(col("deg")) / 2).cast("long").as("n_edges"))
      stats.crossJoin(tri)
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
          col("n_triangles"),
          snap6(lit(3.0) * col("n_triangles") / col("n_wedges")).as("global_cc"))
    }, Some(
      s"""$supSql,
         |w AS (SELECT col1.pb AS pa, col2.pb AS pb
         |      FROM sup col1 JOIN sup col2
         |        ON col1.pa = col2.pa AND col1.pb < col2.pb),
         |tri AS (SELECT COUNT(*) AS n_triangles
         |        FROM w JOIN sup USING (pa, pb)),
         |st AS (SELECT COUNT(*) AS n_nodes,
         |         CAST(SUM(deg * (deg - 1)) / 2 AS BIGINT) AS n_wedges,
         |         CAST(SUM(deg) / 2 AS BIGINT) AS n_edges
         |       FROM sdeg)
         |SELECT n_nodes, n_edges, n_wedges, n_triangles,
         |  ${dSnap6("3.0 * n_triangles / n_wedges")} AS global_cc
         |FROM st CROSS JOIN tri""".stripMargin)),

    // PageRank, 5 fixed iterations, damping 0.85, on the (symmetric)
    // SUPPORTED co-purchase graph — top 20 hubs. Support pruning is the
    // same semantic filter the other five iterative rows apply (one-off
    // co-occurrence noise is not signal a hub ranking should reward),
    // and it is what bounds the per-iteration join at scale: the full
    // graph's avg degree ~100 of noise made this the family's dominant
    // cost (8.5 s at sf0.1, 5 iterations × a 2M-row edge join); the
    // supported graph's edge table is ~50× smaller for the same checked
    // shape. The full graph remains available by swapping the two
    // artifact calls below AND the oracle's CTE prefix ($supSql →
    // $degSql with edges/deg/nn/p0 renamed in lockstep) — the two
    // engines must rank the SAME graph, and the iteration itself is
    // support-agnostic. Each
    // iteration is ONE join (rank/deg mass along edges) + ONE hash-agg
    // (sum incoming mass): the canonical distributed PageRank step,
    // shuffling on graph keys only. Determinism across engines: mass
    // sums go through
    // DECIMAL(38,18) (order-independent) and each iteration's rank is
    // snapped at 1e-12, so 5 rounds cannot drift apart; the scalar
    // update (0.15/n + 0.85*s) is written in the same association order
    // in both engines. Every graph node has degree ≥ 1 (it exists
    // because of an edge), so the inner join loses no mass. Accepted
    // risk: the per-edge pr/deg double is cast to DECIMAL(38,18) before
    // summing, and a quotient landing within a double ulp of a 1e-18
    // midpoint could round apart in the two engines — snapping the
    // contribution at a coarser grid was tried and merely MOVED the
    // knife edge (it shifted the sums onto a 1e-12 half-up boundary and
    // broke parity at sf0.01), so the 1e-18 accumulation stands: the
    // per-iteration 1e-12 rank snap re-aligns both engines every round,
    // making a persistent divergence require a midpoint hit in the
    // final iteration specifically.
    Q("i_graph_pagerank", (s, d) => {
      val edges = supEdges(s, d)
      val deg = supDeg(s, d)
      val nDf = deg.agg(count(lit(1)).cast("double").as("n"))
      var pr = deg.crossJoin(broadcast(nDf))
        .select(col("node"), col("deg"), (lit(1.0) / col("n")).as("pr"))
      for (_ <- 1 to 5) {
        val contrib = pr.join(edges, pr("node") === edges("src"))
          .select(col("dst").as("node"), (col("pr") / col("deg")).as("c"))
        pr = contrib.groupBy(col("node")).agg(decSum18(col("c")).as("s"))
          .join(deg, "node").crossJoin(broadcast(nDf))
          .select(col("node"), col("deg"),
            snap12(lit(0.15) / col("n") + lit(0.85) * col("s")).as("pr"))
      }
      pr.orderBy(col("pr").desc, col("node")).limit(20)
        .select(col("node"), col("deg"), col("pr"))
    }, Some {
      val iter = (k: Int) =>
        s"""p$k AS (
           |  SELECT c.node, sdeg.deg,
           |    ${dSnap12(s"0.15 / (SELECT n FROM nn) + 0.85 * c.s")} AS pr
           |  FROM (SELECT e.dst AS node, ${dSum18("p.pr / p.deg")} AS s
           |        FROM p${k - 1} p JOIN sedges e ON p.node = e.src
           |        GROUP BY e.dst) c
           |  JOIN sdeg ON sdeg.node = c.node)""".stripMargin
      s"""$supSql,
         |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM sdeg),
         |p0 AS (SELECT node, deg, 1.0 / (SELECT n FROM nn) AS pr FROM sdeg),
         |${(1 to 5).map(iter).mkString(",\n")}
         |SELECT node, deg, pr FROM p5
         |ORDER BY pr DESC, node LIMIT 20""".stripMargin
    }),

    // Neighbor-set similarity on the SUPPORTED co-purchase graph:
    // Jaccard of repeat-co-purchase neighbor sets, top 20. One keyed
    // wedge equi-join + hash-agg + two degree joins over the shared
    // supported-graph artifacts; the ratio divides exact integers, so
    // the doubles are engine-identical and the DESC order is stable.
    Q("i_graph_neighbor_sim", (s, d) => {
      val se = supEdges(s, d)
      val sdeg = supDeg(s, d)
      val cn = se.as("x").join(se.as("y"),
          col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
        .groupBy(col("x.dst").as("pa"), col("y.dst").as("pb"))
        .agg(count(lit(1)).as("cn"))
      cn.join(sdeg.select(col("node").as("pa"), col("deg").as("deg_a")), "pa")
        .join(sdeg.select(col("node").as("pb"), col("deg").as("deg_b")), "pb")
        .withColumn("jac", col("cn") /
          (col("deg_a") + col("deg_b") - col("cn")).cast("double"))
        .orderBy(col("jac").desc, col("pa"), col("pb")).limit(20)
        .select(col("pa"), col("pb"), col("cn"), col("deg_a"), col("deg_b"),
          snap6(col("jac")).as("jaccard"))
    }, Some(
      s"""$supSql,
         |cn AS (SELECT x.dst AS pa, y.dst AS pb, COUNT(*) AS cn
         |       FROM sedges x JOIN sedges y
         |         ON x.src = y.src AND x.dst < y.dst
         |       GROUP BY 1, 2)
         |SELECT pa, pb, cn, da.deg AS deg_a, db.deg AS deg_b,
         |  ${dSnap6("cn / CAST(da.deg + db.deg - cn AS DOUBLE)")} AS jaccard
         |FROM cn JOIN sdeg da ON da.node = pa JOIN sdeg db ON db.node = pb
         |ORDER BY cn / CAST(da.deg + db.deg - cn AS DOUBLE) DESC, pa, pb
         |LIMIT 20""".stripMargin)),

    // 3-core of the SUPPORTED co-purchase graph: iteratively peel nodes
    // with in-subgraph degree < 3 until fixpoint (the classic k-core
    // decomposition at fixed k). Each peel round is one keyed equi-join
    // pair (edge endpoints against the surviving node set) + one
    // hash-agg — shuffles on graph keys only, nothing broadcast or
    // driver-sized; per-round materialization truncates lineage exactly
    // like CcEngine. Convergence = survivor count unchanged (the set
    // shrinks monotonically, so count equality IS set equality, and the
    // probe is a one-row aggregate). The oracle unrolls 14 peel rounds —
    // peeling is a no-op past its fixpoint, so parity requires only
    // that the graded corpora converge within 14 (ProbeGcc measures
    // fixpoint at 1 / 10 / 2 rounds for sf0.001 / 0.01 / 0.1; the
    // `[kcore]` stderr line makes the bound observable — raise the
    // unroll if a denser corpus ever needs more). Output is the
    // in-core degree histogram — set-determined, label-free.
    Q("i_graph_kcore", (s, d) => {
      val k = 3
      val core = Q.memoized(s, d, "gKcore") {
        val edges = supEdges(s, d)
        var keep = Q.materialize(s, d, "gkc_0") {
          supDeg(s, d).filter(col("deg") >= k)
            .select(col("node"), col("deg").as("cdeg"))
        }
        var n = keep.count()
        var converged = false
        var it = 0
        while (!converged && it < 20) {
          val next = Q.materialize(s, d, s"gkc_${it + 1}") {
            edges
              .join(keep.select(col("node").as("ka")), col("src") === col("ka"))
              .join(keep.select(col("node").as("kb")), col("dst") === col("kb"))
              .groupBy(col("src").as("node")).agg(count(lit(1)).as("cdeg"))
              .filter(col("cdeg") >= k)
          }
          val n2 = next.count()
          converged = n2 == n
          n = n2
          keep = next
          it += 1
        }
        // the oracle unrolls 14 peel rounds — a corpus needing more
        // would silently diverge, so fail LOUDLY instead of returning a
        // result the oracle cannot reproduce (raise both bounds
        // together if a denser corpus ever trips this)
        System.err.println(s"[kcore] fixpoint after $it rounds ($n nodes)")
        require(it <= 14,
          s"k-core needed $it peel rounds but the oracle unrolls only 14 " +
            "— raise the oracle unroll and this bound in lockstep")
        keep
      }
      core.groupBy(col("cdeg").as("core_deg"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("core_deg")
    }, Some {
      // AS MATERIALIZED: each kc is referenced twice by the next round's
      // endpoint joins — DuckDB inlines plain CTEs, so 14 rounds would
      // otherwise expand 2^14 copies of the whole chain ("too many open
      // files" on the lineitem scan). Oracle-only dialect (Spark never
      // executes this text).
      val peel = (i: Int) =>
        s"""kd$i AS MATERIALIZED (SELECT e.src AS node, COUNT(*) AS cdeg
           |  FROM sedges e
           |    JOIN kc${i - 1} a ON e.src = a.node
           |    JOIN kc${i - 1} b ON e.dst = b.node
           |  GROUP BY 1),
           |kc$i AS MATERIALIZED (SELECT node, cdeg FROM kd$i WHERE cdeg >= 3)""".stripMargin
      s"""$supSql,
         |kc0 AS (SELECT node, deg AS cdeg FROM sdeg WHERE deg >= 3),
         |${(1 to 14).map(peel).mkString(",\n")}
         |SELECT cdeg AS core_deg, COUNT(*) AS n_nodes FROM kc14
         |GROUP BY 1 ORDER BY core_deg""".stripMargin
    }),

    // Community detection on the SUPPORTED co-purchase graph:
    // SYNCHRONOUS label propagation, 4 fixed iterations, deterministic
    // tie-break (a node adopts the label most frequent among its
    // neighbors; ties take the SMALLEST label) — synchronous updates +
    // a total tie order make every iteration's labels engine-identical,
    // so unlike stochastic LPA this is a checked quantity, not a
    // heuristic. Each iteration is one edge-label equi-join + one
    // (node, label) hash-agg + one node-keyed max window + one min agg:
    // all shuffles on graph keys, the same 100 TB shape as PageRank
    // (which fixes its iteration count for the same reason). Output is
    // the community-size histogram.
    Q("i_graph_community_lpa", (s, d) => {
      val labels = lpaLabels(s, d)
      labels.groupBy(col("lbl")).agg(count(lit(1)).as("size"))
        .groupBy(col("size")).agg(count(lit(1)).as("n_communities"))
        .orderBy("size")
    }, Some(
      s"""$supSql,
         |$unitLpaSql
         |SELECT size, COUNT(*) AS n_communities
         |FROM (SELECT lbl, COUNT(*) AS size FROM lp4 GROUP BY lbl)
         |GROUP BY size ORDER BY size""".stripMargin)),

    // Modularity of the LPA communities — the quality number every
    // community detection reports: Q = Σ_c (e_c/m − (d_c/2m)²) over the
    // SAME supported graph and the SAME memoized 4-iteration LPA labels
    // the census query checks. Both-direction counts keep everything
    // integer until the final division (e2_c = 2·e_c intra half-edges,
    // m2 = 2·m directed edges, d_c = degree mass), each community's
    // term snaps at 1e-12 and the cross-community total is an exact
    // DECIMAL(38,18) sum — so the one emitted double is engine-
    // identical. Scale shape: two label joins on the edge list + three
    // hash-aggs + a one-row broadcast; communities with no internal
    // edge enter via the LEFT join with e2 = 0.
    Q("i_graph_modularity", (s, d) => {
      val labels = lpaLabels(s, d)
      val edges = supEdges(s, d)
      val deg = supDeg(s, d)
      val la = labels.select(col("node").as("src"), col("lbl").as("la"))
      val lb = labels.select(col("node").as("dst"), col("lbl").as("lb"))
      val intra = edges.join(la, "src").join(lb, "dst")
        .filter(col("la") === col("lb"))
        .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("e2"))
      val dsum = labels.join(deg, "node")
        .groupBy(col("lbl")).agg(sum(col("deg")).as("dsum"))
      val m2df = edges.agg(count(lit(1)).as("m2"))
      val per = dsum.join(intra, Seq("lbl"), "left")
        .select(col("lbl"), coalesce(col("e2"), lit(0L)).as("e2"), col("dsum"))
        .crossJoin(broadcast(m2df))
        .withColumn("term", snap12(col("e2") / col("m2") -
          (col("dsum") / col("m2")) * (col("dsum") / col("m2"))))
      per.agg(count(lit(1)).as("n_communities"),
          max(col("m2")).as("m2x"), sum(col("e2")).as("e2x"),
          snap6(decSum18(col("term"))).as("modularity"))
        .select(col("n_communities"),
          expr("m2x DIV 2").as("m_edges"),
          expr("e2x DIV 2").as("intra_edges"),
          col("modularity"))
    }, Some(
      s"""$supSql,
         |$unitLpaSql,
         |intra AS (
         |  SELECT la.lbl, COUNT(*) AS e2
         |  FROM sedges e JOIN lp4 la ON e.src = la.node
         |                JOIN lp4 lb ON e.dst = lb.node
         |  WHERE la.lbl = lb.lbl GROUP BY 1),
         |ds AS (SELECT l.lbl, SUM(d.deg) AS dsum
         |       FROM lp4 l JOIN sdeg d ON l.node = d.node GROUP BY 1),
         |m2t AS (SELECT COUNT(*) AS m2 FROM sedges),
         |per AS (
         |  SELECT ds.lbl, COALESCE(i.e2, 0) AS e2, ds.dsum, m2
         |  FROM ds LEFT JOIN intra i ON ds.lbl = i.lbl CROSS JOIN m2t)
         |SELECT COUNT(*) AS n_communities,
         |  MAX(m2) // 2 AS m_edges,
         |  CAST(SUM(e2) AS BIGINT) // 2 AS intra_edges,
         |  ${dSnap6(dSum18(dSnap12("e2 / m2 - (dsum / m2) * (dsum / m2)")))}
         |    AS modularity
         |FROM per""".stripMargin)),

    // Connected components of the SUPPORTED co-purchase graph, via the
    // shared CcEngine (the same min-label-propagation + pointer-jumping
    // implementation the near-dup document clustering runs on — see
    // CcEngine.scala for the scale analysis). The oracle recomputes
    // components by recursive-CTE transitive closure over the same
    // (small, supported) edge set. Output is the component-size
    // histogram — stable under any label assignment, so the iterative
    // algorithm's internal nondeterminism cannot leak into the checked
    // result.
    Q("i_graph_cc", (s, d) => {
      val labels = Q.memoized(s, d, "gccLabels") {
        val edges = supEdges(s, d)
        val l0 = Q.materialize(s, d, "gcc_labels_0") {
          edges.select(col("src").as("nid")).distinct()
            .withColumn("rep", col("nid"))
        }
        CcEngine.propagate(s, d, "gcc", edges, l0)
      }
      labels.groupBy(col("rep")).agg(count(lit(1)).as("size"))
        .groupBy(col("size")).agg(count(lit(1)).as("n_components"))
        .orderBy("size")
    }, Some(
      s"""${supSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |reach(a, b) AS (
        |  SELECT src, dst FROM sedges
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN sedges e ON r.b = e.src),
        |rep AS (
        |  SELECT n.nid, LEAST(n.nid, MIN(r.b)) AS rep
        |  FROM (SELECT DISTINCT src AS nid FROM sedges) n
        |  JOIN reach r ON r.a = n.nid
        |  GROUP BY n.nid),
        |comp AS (SELECT rep, COUNT(*) AS size FROM rep GROUP BY rep)
        |SELECT size, COUNT(*) AS n_components FROM comp
        |GROUP BY size ORDER BY size""".stripMargin)),

    // Personalized (seeded) PageRank on the SUPPORTED co-purchase
    // graph: teleport mass restarts only at a deterministic seed set
    // (node % 10 == 0 — non-empty at every graded SF: 20/184/595 seeds
    // at sf0.001/0.01/0.1) instead of uniformly, ranking proximity to
    // the seeds. Same fixed-iteration + decimal-snap discipline as
    // i_graph_pagerank (see its comment for the determinism argument);
    // the only change is the teleport term, a per-row CASE on the node
    // id — plan shape and 100 TB behavior are identical. Nodes beyond
    // 5 hops of every seed hold exactly 0.0 mass in both engines
    // (exact zeros propagate exactly), and the node-id tiebreak totals
    // the order among them.
    Q("i_graph_pagerank_seeded", (s, d) => {
      val edges = supEdges(s, d)
      val deg = supDeg(s, d)
      val isSeed = col("node") % 10 === 0
      val nsDf = deg.filter(isSeed).agg(count(lit(1)).cast("double").as("ns"))
      var pr = deg.crossJoin(broadcast(nsDf))
        .select(col("node"), col("deg"),
          when(isSeed, lit(1.0) / col("ns")).otherwise(lit(0.0)).as("pr"))
      for (_ <- 1 to 5) {
        val contrib = pr.join(edges, pr("node") === edges("src"))
          .select(col("dst").as("node"), (col("pr") / col("deg")).as("c"))
        pr = contrib.groupBy(col("node")).agg(decSum18(col("c")).as("s"))
          .join(deg, "node").crossJoin(broadcast(nsDf))
          .select(col("node"), col("deg"),
            snap12(when(isSeed, lit(0.15) / col("ns")).otherwise(lit(0.0))
              + lit(0.85) * col("s")).as("pr"))
      }
      pr.orderBy(col("pr").desc, col("node")).limit(20)
        .select(col("node"), col("deg"), col("pr"))
    }, Some {
      val tele = "CASE WHEN c.node % 10 = 0" +
        " THEN 0.15 / (SELECT ns FROM nn) ELSE CAST(0 AS DOUBLE) END"
      val iter = (k: Int) =>
        s"""p$k AS (
           |  SELECT c.node, sdeg.deg,
           |    ${dSnap12(s"$tele + 0.85 * c.s")} AS pr
           |  FROM (SELECT e.dst AS node, ${dSum18("p.pr / p.deg")} AS s
           |        FROM p${k - 1} p JOIN sedges e ON p.node = e.src
           |        GROUP BY e.dst) c
           |  JOIN sdeg ON sdeg.node = c.node)""".stripMargin
      s"""$supSql,
         |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ns FROM sdeg WHERE node % 10 = 0),
         |p0 AS (SELECT node, deg,
         |         CASE WHEN node % 10 = 0 THEN 1.0 / (SELECT ns FROM nn)
         |              ELSE CAST(0 AS DOUBLE) END AS pr
         |       FROM sdeg),
         |${(1 to 5).map(iter).mkString(",\n")}
         |SELECT node, deg, pr FROM p5
         |ORDER BY pr DESC, node LIMIT 20""".stripMargin
    }),

    // Support-WEIGHTED label propagation: neighbor votes are weighted
    // by co-purchase support (an edge seen in 5 orders outvotes 4 seen
    // once), which separates strong repeat-purchase communities from
    // the topology-only LPA above. Same synchronous fixed-4-iteration
    // scheme with the (MAX weight, then MIN label) deterministic
    // tie-break; weights are BIGINT counts so every vote sum is exact
    // on both engines, and the per-iteration shapes (edge-label
    // equi-join, (node,label) hash-agg, node-keyed max window, min agg)
    // shuffle only on graph keys — the identical 100 TB story as the
    // unweighted row. Output is the community-size histogram.
    Q("i_graph_community_lpa_weighted", (s, d) => {
      val labels = lpaLabels(s, d, "gLpawLabels", "glpaw")(supWEdges(s, d), col("w"))
      labels.groupBy(col("lbl")).agg(count(lit(1)).as("size"))
        .groupBy(col("size")).agg(count(lit(1)).as("n_communities"))
        .orderBy("size")
    }, Some(
      s"""$supWSql,
         |${lpaSql("swedges", "e.w")}
         |SELECT size, COUNT(*) AS n_communities
         |FROM (SELECT lbl, COUNT(*) AS size FROM lp4 GROUP BY lbl)
         |GROUP BY size ORDER BY size""".stripMargin)),

    // Adamic-Adar link prediction on the SUPPORTED graph: for node
    // pairs NOT yet connected, AA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1/ln(deg z)
    // — common neighbors weighted by their rarity; the top-20 are the
    // co-purchase links most likely to appear next (the classic
    // recommender read off a co-occurrence graph). Same wedge equi-join
    // as neighbor similarity, centered on z; each term snaps at 1e-12
    // (ln's last-ulp libm divergence — the PMI precedent) and the
    // per-pair total is an exact decimal sum, so the DESC ranking is
    // engine-stable (pair-key tiebreak). Existing edges drop via one
    // anti join on the pair artifact. All shuffles key on graph ids.
    Q("i_graph_adamic_adar", (s, d) => {
      val se = supEdges(s, d)
      val deg = supDeg(s, d)
      val wedges = se.as("x").join(se.as("y"),
          col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
        .select(col("x.src").as("z"), col("x.dst").as("pa"), col("y.dst").as("pb"))
      val aa = wedges
        .join(deg.select(col("node").as("z"), col("deg").as("zdeg")), "z")
        .withColumn("term", adamicAdarTerm(col("zdeg")))
        .groupBy(col("pa"), col("pb"))
        .agg(decSum18(col("term")).as("aa"), count(lit(1)).as("n_common"))
        .join(supPairs(s, d), Seq("pa", "pb"), "left_anti")
      aa.select(col("pa"), col("pb"), col("n_common"), snap6(col("aa")).as("aa_score"))
        .orderBy(col("aa_score").desc, col("pa"), col("pb"))
        .limit(20)
    }, Some(
      s"""$supSql,
         |w AS (SELECT x.src AS z, x.dst AS pa, y.dst AS pb
         |      FROM sedges x JOIN sedges y
         |        ON x.src = y.src AND x.dst < y.dst),
         |aa AS (
         |  SELECT w.pa, w.pb,
         |    ${dSum18(dSnap12("CASE WHEN d.deg > 1 THEN 1.0 / LN(CAST(d.deg AS DOUBLE)) END"))} AS aa,
         |    COUNT(*) AS n_common
         |  FROM w JOIN sdeg d ON d.node = w.z
         |  GROUP BY w.pa, w.pb),
         |nw AS (
         |  SELECT aa.* FROM aa
         |  LEFT JOIN sup ON sup.pa = aa.pa AND sup.pb = aa.pb
         |  WHERE sup.pa IS NULL)
         |SELECT pa, pb, n_common, ${dSnap6("aa")} AS aa_score
         |FROM nw ORDER BY ${dSnap6("aa")} DESC, pa, pb LIMIT 20""".stripMargin)),

    // Degree assortativity of the SUPPORTED graph — Pearson correlation
    // of endpoint degrees over the directed edge list (Newman's r):
    // do high-degree products co-purchase with other hubs (r > 0) or
    // with the long tail (r < 0)? One pass: two degree joins on the
    // materialized edge list, five exact DECIMAL power sums (degrees
    // are integers — the sums are exact, so both engines feed the
    // closed-form correlation identical values), then one fixed-
    // association double expression, snapped at 1e-6 (safe: inputs are
    // engine-identical and the value is not a bare quotient of a
    // decimal sum). Scale: edge-keyed equi-joins + one global agg.
    // Reciprocity of the DIRECTED event-type transition graph — the
    // standard digraph health metric (how symmetric is the flow):
    // unweighted edge reciprocity (share of non-loop directed edges
    // whose reverse edge exists) and weighted reciprocity
    // (Σ min(n_ij, n_ji) / Σ n_ij over i≠j, Squartini et al.'s W⁺
    // form). One corpus pass to the type-bounded transition counts,
    // then a self-join of the ≤|types|² edge table on the swapped key.
    // ALL-INTEGER outputs and ratios — zero float-parity surface.
    Q("i_graph_reciprocity", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val c = Io.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type").as("from_type"))
        .withColumn("to_type", lead(col("from_type"), 1).over(w))
        .filter(col("to_type").isNotNull &&
          col("to_type") =!= col("from_type"))
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val rev = c.select(col("from_type").as("to_type"),
        col("to_type").as("from_type"), col("n").as("n_rev"))
      c.join(rev, Seq("from_type", "to_type"), "left")
        .agg(count(lit(1)).as("n_edges"),
          sum(when(col("n_rev").isNotNull, 1L).otherwise(0L))
            .as("n_reciprocated"),
          sum(col("n")).as("w_total"),
          sum(least(col("n"), coalesce(col("n_rev"), lit(0L))))
            .as("w_reciprocated"))
        .select(col("n_edges"), col("n_reciprocated"),
          (col("n_reciprocated").cast("double") / col("n_edges"))
            .as("edge_reciprocity"),
          col("w_total"), col("w_reciprocated"),
          (col("w_reciprocated").cast("double") / col("w_total"))
            .as("weighted_reciprocity"))
    }, Some(
      """WITH seq AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, COUNT(*) AS n
        |  FROM seq
        |  WHERE to_type IS NOT NULL AND to_type <> from_type
        |  GROUP BY 1, 2)
        |SELECT COUNT(*) AS n_edges,
        |  CAST(SUM(CASE WHEN r.n IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_reciprocated,
        |  CAST(SUM(CASE WHEN r.n IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS edge_reciprocity,
        |  CAST(SUM(c.n) AS BIGINT) AS w_total,
        |  CAST(SUM(LEAST(c.n, COALESCE(r.n, 0))) AS BIGINT)
        |    AS w_reciprocated,
        |  CAST(SUM(LEAST(c.n, COALESCE(r.n, 0))) AS DOUBLE)
        |    / CAST(SUM(c.n) AS BIGINT) AS weighted_reciprocity
        |FROM c
        |LEFT JOIN c r ON r.from_type = c.to_type AND r.to_type = c.from_type""".stripMargin)),

    Q("i_graph_assortativity", (s, d) => {
      val se = supEdges(s, d)
      val deg = supDeg(s, d)
      val e = se
        .join(deg.select(col("node").as("src"), col("deg").as("dx")), "src")
        .join(deg.select(col("node").as("dst"), col("deg").as("dy")), "dst")
      val dec0 = org.apache.spark.sql.types.DecimalType(38, 0)
      def dsum(c: org.apache.spark.sql.Column) = sum(c.cast(dec0)).cast("double")
      e.agg(count(lit(1)).as("m2"),
          dsum(col("dx")).as("sx"), dsum(col("dy")).as("sy"),
          dsum(col("dx") * col("dy")).as("sxy"),
          dsum(col("dx") * col("dx")).as("sxx"),
          dsum(col("dy") * col("dy")).as("syy"))
        .select(col("m2"),
          snap6((col("m2") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("m2") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("m2") * col("syy") - col("sy") * col("sy"))))
            .as("assortativity"))
    }, Some(
      s"""$supSql,
         |e AS (
         |  SELECT dx.deg AS dx, dy.deg AS dy
         |  FROM sedges s
         |    JOIN sdeg dx ON dx.node = s.src
         |    JOIN sdeg dy ON dy.node = s.dst),
         |a AS (
         |  SELECT COUNT(*) AS m2,
         |    CAST(SUM(CAST(dx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         |    CAST(SUM(CAST(dy AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         |    CAST(SUM(CAST(dx * dy AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
         |    CAST(SUM(CAST(dx * dx AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         |    CAST(SUM(CAST(dy * dy AS DECIMAL(38,0))) AS DOUBLE) AS syy
         |  FROM e)
         |SELECT m2,
         |  ${dSnap6("(m2 * sxy - sx * sy) / (SQRT(m2 * sxx - sx * sx) * SQRT(m2 * syy - sy * sy))")}
         |    AS assortativity
         |FROM a""".stripMargin)),

    // Per-node clustering coefficient on the SUPPORTED graph —
    // 2·T_v / (deg_v·(deg_v−1)), the local counterpart of
    // i_graph_triangles' global_cc: wedges CENTERED at every node
    // (both-direction edge list self-joined on the center, neighbor
    // pair ordered) close against the undirected pair set, one
    // node-keyed hash-agg, then pure arithmetic against the shared
    // degree table. Same keyed-equi-join discipline as the rest of the
    // family — the wedge fanout is Σ deg² bounded by the support
    // pruning, and nothing broadcasts beyond a plan-shape possibility
    // on the tiny sides. Top 20 by coefficient (exact rational in
    // doubles, snapped, node tiebreak); nodes with deg < 2 have no
    // defined coefficient and are excluded.
    Q("i_graph_clustering_coef", (s, d) => {
      val se = supEdges(s, d)
      val p = supPairs(s, d)
      val deg = supDeg(s, d)
      val triV = se.as("x").join(se.as("y"),
          col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
        .select(col("x.src").as("v"), col("x.dst").as("pa"), col("y.dst").as("pb"))
        .join(p, Seq("pa", "pb"))
        .groupBy(col("v")).agg(count(lit(1)).as("tri"))
      deg.join(triV, deg("node") === triV("v"), "left")
        .filter(col("deg") >= 2)
        .select(col("node"), col("deg"), coalesce(col("tri"), lit(0L)).as("tri"))
        .withColumn("coef", snap6(lit(2.0) * col("tri") /
          (col("deg") * (col("deg") - 1)).cast("double")))
        .orderBy(col("coef").desc, col("node")).limit(20)
    }, Some(
      s"""$supSql,
         |wv AS (SELECT x.src AS v, x.dst AS pa, y.dst AS pb
         |       FROM sedges x JOIN sedges y
         |         ON x.src = y.src AND x.dst < y.dst),
         |tv AS (SELECT v, COUNT(*) AS tri FROM wv JOIN sup USING (pa, pb)
         |       GROUP BY v)
         |SELECT d.node, d.deg, COALESCE(t.tri, 0) AS tri,
         |  ${dSnap6("2.0 * COALESCE(t.tri, 0) / CAST(d.deg * (d.deg - 1) AS DOUBLE)")}
         |    AS coef
         |FROM sdeg d LEFT JOIN tv t ON d.node = t.v
         |WHERE d.deg >= 2
         |ORDER BY coef DESC, d.node LIMIT 20""".stripMargin)),

    // Market-basket association rules over the co-purchase pair table —
    // the classic support/confidence/lift read: for every undirected
    // pair with support ≥ 3, the a→b confidence (P(b|a)) and lift
    // (P(a,b)/(P(a)P(b))), top 20 by lift. All inputs are exact
    // integers off the SAME memoized pair artifact the graph family
    // uses (supp_ab) plus one per-item distinct-order count and a
    // one-row basket total; the ratios divide integers in a fixed
    // association order and snap at 1e-6, so the DESC ranking is
    // engine-stable (ties break on the pair key). Scale shape: the
    // pair expansion is the already-bounded order-keyed self-join (see
    // copurchasePairs); this query adds two broadcast-sized joins and
    // a TakeOrderedAndProject — nothing new shuffles the corpus.
    Q("i_assoc_rules", (s, d) => {
      val pairs = copurchasePairs(s, d).filter(col("support") >= 3)
      val e0 = Io.table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val itemN = e0.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_item"))
      // distinct orders straight off the scan (r15): the old form
      // re-ran e0's full (orderkey, partkey) shuffle-distinct just to
      // count distinct orderkeys — COUNT(DISTINCT l_orderkey) over the
      // base scan is the same value with one narrow distinct-agg
      val totN = Io.table(s, d, "lineitem")
        .agg(countDistinct(col("l_orderkey")).as("n_orders"))
      pairs
        .join(itemN.select(col("l_partkey").as("pa"), col("n_item").as("n_a")), "pa")
        .join(itemN.select(col("l_partkey").as("pb"), col("n_item").as("n_b")), "pb")
        .crossJoin(broadcast(totN))
        .select(col("pa"), col("pb"), col("support"), col("n_a"), col("n_b"),
          snap6(col("support") / col("n_a")).as("conf_a_b"),
          snap6(col("support") / col("n_b")).as("conf_b_a"),
          snap6(col("support") * col("n_orders") /
            (col("n_a") * col("n_b")).cast("double")).as("lift"))
        .orderBy(col("lift").desc, col("pa"), col("pb"))
        .limit(20)
    }, Some(
      s"""$pairsSql,
         |itemn AS (SELECT l_partkey, COUNT(*) AS n_item FROM e0 GROUP BY 1),
         |tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM e0)
         |SELECT p.pa, p.pb, p.support, a.n_item AS n_a, b.n_item AS n_b,
         |  ${dSnap6("p.support / a.n_item")} AS conf_a_b,
         |  ${dSnap6("p.support / b.n_item")} AS conf_b_a,
         |  ${dSnap6("p.support * n_orders / CAST(a.n_item * b.n_item AS DOUBLE)")} AS lift
         |FROM pairs p
         |  JOIN itemn a ON a.l_partkey = p.pa
         |  JOIN itemn b ON b.l_partkey = p.pb
         |  CROSS JOIN tot
         |WHERE p.support >= 3
         |ORDER BY lift DESC, p.pa, p.pb LIMIT 20""".stripMargin)),

    // Sequential-pattern mining (the ordered half of i_assoc_rules,
    // GSP/PrefixSpan's length-2 core): support of a→b = how many users
    // have SOME a-event strictly before SOME b-event — subsequence
    // order with arbitrary gap, NOT the consecutive-step transitions
    // of g_markov_transitions. The reachability test needs only each
    // user's FIRST a and LAST b (∃ a before b ⇔ first(a) < last(b)),
    // so the corpus collapses to one user×type aggregate (≤|types|
    // rows per user) and the pair stage is a user-keyed self-join of
    // that bounded table — O(users·types²), never events². Confidence
    // and lift are int-derived doubles emitted raw (int/int division
    // and int64→double are engine-exact; quotients never snapped).
    Q("i_seq_patterns", (s, d) => {
      val ut = Io.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(col("ts_us")).as("first_us"), max(col("ts_us")).as("last_us"))
      val tn = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
      val tot = ut.select(col("user_id")).distinct().agg(count(lit(1)).as("n_users"))
      ut.as("a").join(ut.as("b"),
          col("a.user_id") === col("b.user_id")
            && col("a.event_type") =!= col("b.event_type")
            && col("a.first_us") < col("b.last_us"))
        .groupBy(col("a.event_type").as("antecedent"),
          col("b.event_type").as("consequent"))
        .agg(count(lit(1)).as("support"))
        .join(broadcast(tn.select(col("event_type").as("antecedent"),
          col("n_t").as("n_a"))), "antecedent")
        .join(broadcast(tn.select(col("event_type").as("consequent"),
          col("n_t").as("n_b"))), "consequent")
        .crossJoin(broadcast(tot))
        .select(col("antecedent"), col("consequent"), col("support"),
          (col("support").cast("double") / col("n_a")).as("confidence"),
          ((col("support") * col("n_users")).cast("double") /
            (col("n_a") * col("n_b")).cast("double")).as("lift"))
        .orderBy(col("support").desc, col("antecedent"), col("consequent"))
        .limit(15)
    }, Some(
      """WITH ut AS (
        |  SELECT user_id, event_type,
        |    MIN(epoch_us(ts)) AS first_us, MAX(epoch_us(ts)) AS last_us
        |  FROM events GROUP BY 1, 2),
        |tn AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t
        |       FROM ut GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |        FROM ut),
        |sp AS (
        |  SELECT a.event_type AS antecedent, b.event_type AS consequent,
        |    CAST(COUNT(*) AS BIGINT) AS support
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |    AND a.event_type <> b.event_type AND a.first_us < b.last_us
        |  GROUP BY 1, 2)
        |SELECT sp.antecedent, sp.consequent, sp.support,
        |  CAST(sp.support AS DOUBLE) / na.n_t AS confidence,
        |  CAST(sp.support * n_users AS DOUBLE)
        |    / CAST(na.n_t * nb.n_t AS DOUBLE) AS lift
        |FROM sp JOIN tn na ON na.event_type = sp.antecedent
        |  JOIN tn nb ON nb.event_type = sp.consequent
        |  CROSS JOIN tot
        |ORDER BY sp.support DESC, sp.antecedent, sp.consequent
        |LIMIT 15""".stripMargin)),

    // Louvain local-moving step (Blondel et al. 2008, first sweep from
    // singletons, parallel variant) on the WEIGHTED supported graph:
    // every node evaluates joining each neighbor's community; from
    // singleton init the modularity gain of i→{j} scaled by 2W² is the
    // INTEGER 2W·w_ij − s_j·s_i (W2 = Σw both directions = 2W, weighted
    // degrees s) — so the argmax is exact BIGINT comparison, no float
    // anywhere. i moves iff the best gain is positive (tie → smallest
    // j); output is the resulting community census. Scale: two keyed
    // degree attaches on the memoized edge artifact + one node-keyed
    // argmax window + one census agg — the per-sweep cost structure of
    // every distributed Louvain.
    Q("i_graph_louvain_step", (s, d) => {
      val e = supWEdges(s, d)
      val swd = e.groupBy(col("src").as("node")).agg(sum(col("w")).as("sw"))
      val wt = e.agg(sum(col("w")).as("w2"))
      val g = e
        .join(swd.select(col("node").as("src"), col("sw").as("si")), "src")
        .join(swd.select(col("node").as("dst"), col("sw").as("sj")), "dst")
        .crossJoin(broadcast(wt))
        .select(col("src").as("i"), col("dst").as("j"),
          (col("w2") * col("w") - col("sj") * col("si")).as("gain"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("i")).orderBy(col("gain").desc, col("j"))
      g.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("i").as("node"),
          when(col("gain") > 0, col("j")).otherwise(col("i")).as("community"))
        .groupBy(col("community"))
        .agg(count(lit(1)).as("size"),
          sum(when(col("community") =!= col("node"), 1L).otherwise(0L))
            .as("n_joined"))
        .orderBy(col("size").desc, col("community"))
        .limit(20)
    }, Some(
      s"""$supWSql,
         |swd AS (SELECT src AS node, CAST(SUM(w) AS BIGINT) AS sw
         |        FROM swedges GROUP BY 1),
         |wt AS (SELECT CAST(SUM(w) AS BIGINT) AS w2 FROM swedges),
         |g AS (SELECT e.src AS i, e.dst AS j,
         |        wt.w2 * e.w - sj.sw * si.sw AS gain
         |      FROM swedges e JOIN swd si ON si.node = e.src
         |        JOIN swd sj ON sj.node = e.dst CROSS JOIN wt),
         |mv AS (SELECT i AS node,
         |         CASE WHEN gain > 0 THEN j ELSE i END AS community
         |       FROM g QUALIFY ROW_NUMBER() OVER
         |         (PARTITION BY i ORDER BY gain DESC, j) = 1)
         |SELECT community, CAST(COUNT(*) AS BIGINT) AS size,
         |  CAST(SUM(CASE WHEN community <> node THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_joined
         |FROM mv GROUP BY 1 ORDER BY size DESC, community LIMIT 20""".stripMargin)),

    // Temporal-motif census (Paranjape, Benson & Leskovec, WSDM'17
    // shape): time-RESPECTING 3-event sequences e1 < e2 < e3 within a
    // δ = 24 h window per user, counted per ordered type triple — the
    // temporal analogue of i_graph_motifs' static 3-node census. The
    // strict event order is the integer composite (ts_us, event_id)
    // (exact in both engines, no float anywhere); both expansion
    // joins key on user_id with the δ band as a pushed filter, so at
    // 100 TB this is two user-keyed shuffles whose fan-out the window
    // bounds (power-user skew is the known hazard — the δ cap plus
    // AQE skew splitting keep any one user's chain work sub-quadratic;
    // a salting pass would shard the hottest users if δ grew).
    Q("i_temporal_motifs", (s, d) => {
      val delta = 86400000000L
      val ev = Io.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts_us"))
      def lt(a: String, b: String) =
        (col(s"$a.ts_us") < col(s"$b.ts_us")) ||
          (col(s"$a.ts_us") === col(s"$b.ts_us") &&
            col(s"$a.event_id") < col(s"$b.event_id"))
      ev.as("e1").join(ev.as("e2"),
          col("e1.user_id") === col("e2.user_id") && lt("e1", "e2") &&
            col("e2.ts_us") - col("e1.ts_us") <= delta)
        .join(ev.as("e3"),
          col("e2.user_id") === col("e3.user_id") && lt("e2", "e3") &&
            col("e3.ts_us") - col("e1.ts_us") <= delta)
        .groupBy(col("e1.event_type").as("t1"), col("e2.event_type").as("t2"),
          col("e3.event_type").as("t3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
        .limit(20)
    }, Some(
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS us FROM events)
        |SELECT e1.event_type AS t1, e2.event_type AS t2,
        |  e3.event_type AS t3, CAST(COUNT(*) AS BIGINT) AS n
        |FROM e e1
        |JOIN e e2 ON e1.user_id = e2.user_id
        |  AND (e1.us < e2.us OR (e1.us = e2.us AND e1.event_id < e2.event_id))
        |  AND e2.us - e1.us <= 86400000000
        |JOIN e e3 ON e2.user_id = e3.user_id
        |  AND (e2.us < e3.us OR (e2.us = e3.us AND e2.event_id < e3.event_id))
        |  AND e3.us - e1.us <= 86400000000
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, t1, t2, t3 LIMIT 20""".stripMargin)),

    // Multi-source BFS on the SUPPORTED co-purchase graph: exact
    // min-hop distance from the seed set {node % 50 = 0} out to 4 hops
    // (-1 = unreached), reported as the distance histogram. This is the
    // frontier-expansion shape every distributed shortest-path engine
    // runs (Pregel supersteps as per-hop equi-joins): each hop joins
    // ONLY the newest frontier against the edge list, dedups, and
    // anti-joins the visited set — work per hop is O(frontier × avg
    // degree), never |V|², and every shuffle keys on node ids. The
    // fixed hop bound is what makes it a checked query (the oracle's
    // recursive CTE unrolls the same 4 levels; UNION dedups (node, d)
    // pairs so the walk is linear in |V|·hops, not degree^hops).
    Q("i_graph_bfs", (s, d) => {
      val nodes = supDeg(s, d).select(col("node"))
      // per-hop materialization (CcEngine discipline) in bfsDist — the
      // measured 4.9 s → ~1 s fix at sf0.1. Memoized: the distance
      // table is a reusable artifact, like every other graph label set.
      val dist = bfsDist(s, d)
      nodes.join(dist, Seq("node"), "left")
        .select(col("node"), coalesce(col("dist"), lit(-1)).as("dist"))
        .groupBy(col("dist"))
        .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"),
          max(col("node")).as("max_node"))
        .orderBy("dist")
    }, Some(
      s"""${supSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |walk(node, d) AS (
         |  SELECT node, 0 FROM sdeg WHERE node % 50 = 0
         |  UNION
         |  SELECT e.dst, w.d + 1
         |  FROM walk w JOIN sedges e ON w.node = e.src
         |  WHERE w.d < 4),
         |mind AS (SELECT node, MIN(d) AS dist FROM walk GROUP BY node)
         |SELECT COALESCE(m.dist, -1) AS dist, COUNT(*) AS n_nodes,
         |  MIN(s.node) AS min_node, MAX(s.node) AS max_node
         |FROM sdeg s LEFT JOIN mind m ON s.node = m.node
         |GROUP BY 1 ORDER BY dist""".stripMargin)),

    // Deterministic random-walk sampling — the node2vec/DeepWalk corpus
    // generator (one fixed-length walk per node over the supported
    // co-purchase graph), with the RNG replaced by the engine's seeded
    // hash coin so the sampled corpus is REPRODUCIBLE at any cluster
    // size: the next hop from node u at step t is the out-neighbor
    // minimizing coin(u·7919 + v·104729 + t·15485863) (exact
    // DECIMAL(38,0) arithmetic, the Q.coin discipline — identical in
    // both engines at any id scale), ties broken by min neighbor id.
    // Each of the 4 unrolled steps is ONE keyed equi-join of the
    // |nodes|-row walk frontier against the edge list plus a
    // two-aggregate argmin (min score, then min dst at that score) —
    // no windows, no per-row state; at 100 TB the frontier join
    // shuffles on node id exactly like one BFS round.
    Q("i_graph_walk_sample", (s, d) => {
      val edges = supEdges(s, d).select(col("src").as("node"), col("dst"))
      // ONE linear chain — each step's frontier is consumed exactly once
      // (no 2^h re-evaluation), and the argmin-with-tiebreak is the
      // min-of-struct idiom (lexicographic (score, dst) min ≡ the
      // oracle's min-score-then-min-dst two-aggregate spelling), so a
      // step is join + ONE mergeable aggregate.
      var acc = supDeg(s, d).select(col("node").as("start"), col("node"))
      (1 to 4).foreach { t =>
        val carried = Seq(col("start")) ++ (1 until t).map(k => col(s"s$k"))
        acc = acc.join(edges, "node")
          .withColumn("score",
            expr(Q.coin(s"(node * 7919 + dst * 104729 + $t * 15485863)")))
          .groupBy(carried: _*)
          .agg(min(struct(col("score"), col("dst"))).as("m"))
          .withColumn(s"s$t", col("m.dst"))
          .withColumn("node", col(s"s$t"))
          .drop("m")
      }
      acc.select(col("start"), col("s1"), col("s2"), col("s3"), col("s4"))
        .orderBy("start")
    }, Some {
      def step(t: Int) =
        s"""c$t AS (SELECT w.start, e.dst,
           |  ${Q.coin(s"(w.node * 7919 + e.dst * 104729 + $t * 15485863)")}
           |    AS score
           |  FROM w${t - 1} w JOIN sedges e ON w.node = e.src),
           |m$t AS (SELECT start, MIN(score) AS ms FROM c$t GROUP BY start),
           |w$t AS (SELECT c$t.start, MIN(c$t.dst) AS node FROM c$t
           |        JOIN m$t ON c$t.start = m$t.start AND c$t.score = m$t.ms
           |        GROUP BY c$t.start)""".stripMargin
      s"""$supSql,
         |w0 AS (SELECT node AS start, node FROM sdeg),
         |${(1 to 4).map(step).mkString(",\n")}
         |SELECT w0.start, w1.node AS s1, w2.node AS s2, w3.node AS s3,
         |  w4.node AS s4
         |FROM w0 JOIN w1 USING (start) JOIN w2 USING (start)
         |  JOIN w3 USING (start) JOIN w4 USING (start)
         |ORDER BY start""".stripMargin
    }),

    // Strongly-connected components of the DIRECTED behavior graph —
    // the one graph op the undirected co-purchase family can't express.
    // Nodes are event types; edges are the dominant observed
    // transitions (5·n(src→dst) ≥ Σn(src→·), an integer comparison, so
    // the pruning is engine-exact). The type graph is METADATA-sized at
    // any corpus scale (|types|² pairs), so SCC runs as transitive
    // closure by 3 unrolled squarings — identity seeding makes
    // R_{k+1} = R_k∘R_k monotone, covering all paths ≤ 8 edges — then
    // u,v share a component iff reach(u,v) ∧ reach(v,u) (set intersect
    // with the reversed closure) and the component id is the min
    // member. The 8-edge bound is asserted fail-loud (≤ 9 nodes): more
    // types must error, not silently under-close. The corpus-sized
    // work is ONE user-keyed window pass building transition counts.
    Q("i_graph_scc", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val trans = Io.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type").as("src"))
        .withColumn("dst", lead(col("src"), 1).over(w))
        .filter(col("dst").isNotNull)
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
      val tot = trans.groupBy(col("src")).agg(sum(col("n")).as("tot"))
      val edges = trans.join(tot, "src")
        .filter(col("n") * 5 >= col("tot"))
        .select(col("src"), col("dst"))
      val nodes0 = Io.events(s, d).select(col("event_type").as("u")).distinct()
      val nodes = nodes0
        .crossJoin(broadcast(nodes0.agg(count(lit(1)).as("nv"))))
        .filter(assert_true(col("nv") <= 9,
          lit("scc: >9 event types — 3 squarings no longer cover the diameter")).isNull)
        .select(col("u"))
      // each squaring reads its input TWICE and the seed carries the
      // corpus-sized window pass — materialize every stage (all are
      // |types|²-bounded) or the chain re-evaluates the corpus scan
      // 2^depth times (the PCA/BFS lesson; measured 3.1 s warm → 0.2 s).
      val r0 = Q.memoized(s, d, "sccR0") {
        Q.materialize(s, d, "sccR0")(
          edges.union(nodes.select(col("u").as("src"), col("u").as("dst")))
            .distinct())
      }
      def sq(n: Int, r: DataFrame): DataFrame = Q.memoized(s, d, s"sccR$n") {
        Q.materialize(s, d, s"sccR$n")(
          r.as("a").join(r.select(col("src").as("mid"), col("dst")).as("b"),
              col("a.dst") === col("b.mid"))
            .select(col("a.src").as("src"), col("b.dst").as("dst")).distinct())
      }
      val reach = sq(3, sq(2, sq(1, r0)))
      val mutual = reach.intersect(
        reach.select(col("dst").as("src"), col("src").as("dst")))
      val scc = mutual.groupBy(col("src").as("event_type"))
        .agg(min(col("dst")).as("scc_id"))
      scc.join(scc.groupBy(col("scc_id")).agg(count(lit(1)).as("scc_size")), "scc_id")
        .select(col("event_type"), col("scc_id"), col("scc_size"))
        .orderBy("event_type")
    }, Some(
      """WITH trans AS (
        |  SELECT src, dst, COUNT(*) AS n FROM (
        |    SELECT event_type AS src,
        |      LEAD(event_type, 1) OVER (PARTITION BY user_id
        |        ORDER BY epoch_us(ts), event_id) AS dst
        |    FROM events)
        |  WHERE dst IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT src, SUM(n) AS tot FROM trans GROUP BY 1),
        |edges AS (SELECT t.src, t.dst FROM trans t JOIN tot USING (src)
        |          WHERE t.n * 5 >= tot.tot),
        |nodes AS (SELECT DISTINCT event_type AS u FROM events),
        |r0 AS (SELECT src, dst FROM edges UNION SELECT u, u FROM nodes),
        |r1 AS (SELECT DISTINCT a.src, b.dst FROM r0 a JOIN r0 b ON a.dst = b.src),
        |r2 AS (SELECT DISTINCT a.src, b.dst FROM r1 a JOIN r1 b ON a.dst = b.src),
        |r3 AS (SELECT DISTINCT a.src, b.dst FROM r2 a JOIN r2 b ON a.dst = b.src),
        |mutual AS (SELECT r.src, r.dst FROM r3 r
        |           JOIN r3 q ON q.src = r.dst AND q.dst = r.src),
        |scc AS (SELECT src AS event_type, MIN(dst) AS scc_id
        |        FROM mutual GROUP BY 1),
        |sizes AS (SELECT scc_id, CAST(COUNT(*) AS BIGINT) AS scc_size
        |          FROM scc GROUP BY 1)
        |SELECT s.event_type, s.scc_id, z.scc_size
        |FROM scc s JOIN sizes z USING (scc_id)
        |ORDER BY s.event_type""".stripMargin)),

    // HITS hubs-and-authorities (Kleinberg 1999) over the same
    // dominant-transition DIRECTED type graph as i_graph_scc. The
    // textbook algorithm normalizes each half-step; normalization is a
    // positive scalar, so the RANKING after k steps is identical
    // without it — and skipping it keeps every value an INTEGER
    // (a₀ = 1; h = A·a and a = Aᵀ·h are integer sums of integers),
    // making the op engine-exact with zero floating point. Two full
    // iterations on a ≤9-node graph bound scores by |E|³ ≤ 81³ ≈ 5e5
    // — far inside BIGINT. The corpus-sized work is the ONE window
    // pass building transition counts (materialized as the hitsEdges
    // artifact — every iteration joins it, and an unmaterialized
    // chain would re-run the corpus scan per half-step); the four
    // iteration joins are |types|²-bounded metadata. Ranks are
    // row_number over (score DESC, type) — a 9-row window, not a
    // data-sized global sort.
    Q("i_graph_hits", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val edges = typeGraphDirEdges(s, d)
      val nodes = Io.events(s, d).select(col("event_type").as("u")).distinct()
      // a0 = 1 ⇒ h1(u) = outdeg(u)
      val h1 = edges.groupBy(col("src").as("u")).agg(count(lit(1)).as("h"))
      val a1 = edges.join(h1, edges("src") === h1("u"))
        .groupBy(col("dst").as("u")).agg(sum(col("h")).as("a"))
      val h2 = edges.join(a1, edges("dst") === a1("u"))
        .groupBy(col("src").as("u")).agg(sum(col("a")).as("h"))
      val a2 = edges.join(h2, edges("src") === h2("u"))
        .groupBy(col("dst").as("u")).agg(sum(col("h")).as("a"))
      val scores = nodes
        .join(h2, Seq("u"), "left").join(a2, Seq("u"), "left")
        .select(col("u").as("event_type"),
          coalesce(col("h"), lit(0L)).as("hub"),
          coalesce(col("a"), lit(0L)).as("auth"))
      scores
        .withColumn("hub_rank", row_number().over(
          Window.orderBy(col("hub").desc, col("event_type"))))
        .withColumn("auth_rank", row_number().over(
          Window.orderBy(col("auth").desc, col("event_type"))))
        .orderBy("event_type")
    }, Some(
      """WITH trans AS (
        |  SELECT src, dst, COUNT(*) AS n FROM (
        |    SELECT event_type AS src,
        |      LEAD(event_type, 1) OVER (PARTITION BY user_id
        |        ORDER BY epoch_us(ts), event_id) AS dst
        |    FROM events)
        |  WHERE dst IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT src, SUM(n) AS tot FROM trans GROUP BY 1),
        |edges AS (SELECT t.src, t.dst FROM trans t JOIN tot USING (src)
        |          WHERE t.n * 5 >= tot.tot),
        |nodes AS (SELECT DISTINCT event_type AS u FROM events),
        |h1 AS (SELECT src AS u, COUNT(*) AS h FROM edges GROUP BY 1),
        |a1 AS (SELECT e.dst AS u, SUM(h1.h) AS a
        |       FROM edges e JOIN h1 ON e.src = h1.u GROUP BY 1),
        |h2 AS (SELECT e.src AS u, SUM(a1.a) AS h
        |       FROM edges e JOIN a1 ON e.dst = a1.u GROUP BY 1),
        |a2 AS (SELECT e.dst AS u, SUM(h2.h) AS a
        |       FROM edges e JOIN h2 ON e.src = h2.u GROUP BY 1),
        |scores AS (
        |  SELECT n.u AS event_type,
        |    CAST(COALESCE(h2.h, 0) AS BIGINT) AS hub,
        |    CAST(COALESCE(a2.a, 0) AS BIGINT) AS auth
        |  FROM nodes n LEFT JOIN h2 ON n.u = h2.u LEFT JOIN a2 ON n.u = a2.u)
        |SELECT event_type, hub, auth,
        |  CAST(ROW_NUMBER() OVER (ORDER BY hub DESC, event_type) AS INT)
        |    AS hub_rank,
        |  CAST(ROW_NUMBER() OVER (ORDER BY auth DESC, event_type) AS INT)
        |    AS auth_rank
        |FROM scores ORDER BY event_type""".stripMargin)),

    // Per-node eccentricity + graph diameter/radius over the UNDIRECTED
    // dominant-transition type graph — all-pairs shortest paths by
    // min-plus matrix squaring: d_{k+1}(u,v) = min(d_k(u,v),
    // min_w d_k(u,w) + d_k(w,v)), three squarings cover distance 8 on a
    // ≤9-node graph (the SCC guard asserts the bound fail-loud).
    // Everything is INTEGER arithmetic — engine-exact, zero FP. The
    // corpus-sized work is the shared hitsEdges artifact (one window
    // pass, already materialized for i_graph_hits); each squaring is a
    // |types|²-bounded keyed join + (src,dst) MIN hash-agg, memoized +
    // materialized per stage (an unmaterialized chain re-runs the
    // corpus scan 2^depth times — the SCC/PCA/BFS lesson). Unreachable
    // pairs simply never appear; an isolated node keeps its self-row
    // (ecc 0, n_reach 1) identically in both engines.
    Q("i_graph_eccentricity", (s, d) => {
      val dist = typeGraphDist(s, d)
      val ecc = dist.groupBy(col("src").as("event_type"))
        .agg(max(col("dist")).as("ecc"), count(lit(1)).as("n_reach"))
      val bounds = ecc.agg(max(col("ecc")).as("diameter"),
        min(col("ecc")).as("radius"))
      ecc.crossJoin(broadcast(bounds))
        .select(col("event_type"), col("ecc"), col("n_reach"),
          col("diameter"), col("radius"))
        .orderBy("event_type")
    }, Some(
      """WITH trans AS (
        |  SELECT src, dst, COUNT(*) AS n FROM (
        |    SELECT event_type AS src,
        |      LEAD(event_type, 1) OVER (PARTITION BY user_id
        |        ORDER BY epoch_us(ts), event_id) AS dst
        |    FROM events)
        |  WHERE dst IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT src, SUM(n) AS tot FROM trans GROUP BY 1),
        |edges AS (SELECT t.src, t.dst FROM trans t JOIN tot USING (src)
        |          WHERE t.n * 5 >= tot.tot),
        |nodes AS (SELECT DISTINCT event_type AS u FROM events),
        |sym AS (SELECT src, dst FROM edges
        |        UNION SELECT dst, src FROM edges),
        |d0 AS (
        |  SELECT src, dst, MIN(dist) AS dist FROM (
        |    SELECT src, dst, CAST(1 AS BIGINT) AS dist FROM sym
        |    UNION ALL
        |    SELECT u, u, CAST(0 AS BIGINT) FROM nodes)
        |  GROUP BY 1, 2),
        |d1 AS (
        |  SELECT src, dst, MIN(dist) AS dist FROM (
        |    SELECT a.src, b.dst, a.dist + b.dist AS dist
        |    FROM d0 a JOIN d0 b ON a.dst = b.src
        |    UNION ALL SELECT src, dst, dist FROM d0)
        |  GROUP BY 1, 2),
        |d2 AS (
        |  SELECT src, dst, MIN(dist) AS dist FROM (
        |    SELECT a.src, b.dst, a.dist + b.dist AS dist
        |    FROM d1 a JOIN d1 b ON a.dst = b.src
        |    UNION ALL SELECT src, dst, dist FROM d1)
        |  GROUP BY 1, 2),
        |d3 AS (
        |  SELECT src, dst, MIN(dist) AS dist FROM (
        |    SELECT a.src, b.dst, a.dist + b.dist AS dist
        |    FROM d2 a JOIN d2 b ON a.dst = b.src
        |    UNION ALL SELECT src, dst, dist FROM d2)
        |  GROUP BY 1, 2),
        |ecc AS (
        |  SELECT src AS event_type, MAX(dist) AS ecc,
        |    COUNT(*) AS n_reach
        |  FROM d3 GROUP BY 1),
        |bounds AS (SELECT MAX(ecc) AS diameter, MIN(ecc) AS radius FROM ecc)
        |SELECT e.event_type, e.ecc, e.n_reach, b.diameter, b.radius
        |FROM ecc e CROSS JOIN bounds b
        |ORDER BY e.event_type""".stripMargin)),

    // Exact betweenness centrality (Freeman 1977) over the same
    // undirected dominant-transition type graph: bw(w) = Σ_{u<v≠w}
    // σ(u,v|w)/σ(u,v). Shortest-path COUNTS come from walk-count
    // matrix powers — [Aᵏ]ᵤᵥ counts length-k walks, and a walk of
    // length exactly d(u,v) is necessarily a simple shortest path, so
    // σ(u,v) = [A^d(u,v)]ᵤᵥ with d from the shared min-plus distance
    // artifact (typeGraphDist). σ(u,v|w) = σ(u,w)·σ(w,v) when
    // d(u,w)+d(w,v) = d(u,v), else 0. Every count is INTEGER (walks of
    // length ≤8 on ≤9 nodes stay < 8⁸ ≈ 1.7e7); each pair term is an
    // int-product / int double division (bit-identical) summed with
    // the dSum18 discipline. All eight powers and the triple pair join
    // are |types|²-bounded metadata; the corpus cost is the shared
    // hitsEdges window pass.
    Q("i_graph_betweenness", (s, d) => {
      val dist = typeGraphDist(s, d)
      val powers = typeWalkPowers(s, d)
      val sigma = dist.filter(col("dist") >= 1)
        .join(powers, Seq("src", "dst"))
        .filter(col("k") === col("dist"))
        .select(col("src"), col("dst"), col("dist"), col("cnt"))
      val pairs = sigma.filter(col("src") < col("dst"))
        .select(col("src").as("u"), col("dst").as("v"),
          col("dist").as("duv"), col("cnt").as("suv"))
      val terms = pairs
        .join(sigma.select(col("src").as("u"), col("dst").as("w"),
          col("dist").as("duw"), col("cnt").as("suw")), Seq("u"))
        .join(sigma.select(col("src").as("w"), col("dst").as("v"),
          col("dist").as("dwv"), col("cnt").as("swv")), Seq("w", "v"))
        .filter(col("w") =!= col("u") && col("w") =!= col("v") &&
          col("duw") + col("dwv") === col("duv"))
        .select(col("w"),
          ((col("suw") * col("swv")).cast("double") / col("suv"))
            .as("term"))
      val bw = terms.groupBy(col("w").as("event_type"))
        .agg(decSum18(col("term")).as("betweenness"))
      val nodes = Io.events(s, d).select(col("event_type")).distinct()
      nodes.join(bw, Seq("event_type"), "left")
        .select(col("event_type"),
          coalesce(col("betweenness"), lit(0.0)).as("betweenness"))
        .orderBy("event_type")
    }, Some(
      s"""WITH trans AS (
         |  SELECT src, dst, COUNT(*) AS n FROM (
         |    SELECT event_type AS src,
         |      LEAD(event_type, 1) OVER (PARTITION BY user_id
         |        ORDER BY epoch_us(ts), event_id) AS dst
         |    FROM events)
         |  WHERE dst IS NOT NULL GROUP BY 1, 2),
         |tot AS (SELECT src, SUM(n) AS tot FROM trans GROUP BY 1),
         |edges AS (SELECT t.src, t.dst FROM trans t JOIN tot USING (src)
         |          WHERE t.n * 5 >= tot.tot),
         |nodes AS (SELECT DISTINCT event_type AS u FROM events),
         |sym AS (SELECT src, dst FROM edges
         |        UNION SELECT dst, src FROM edges),
         |d0 AS (
         |  SELECT src, dst, MIN(dist) AS dist FROM (
         |    SELECT src, dst, CAST(1 AS BIGINT) AS dist FROM sym
         |    UNION ALL
         |    SELECT u, u, CAST(0 AS BIGINT) FROM nodes)
         |  GROUP BY 1, 2),
         |d1 AS (
         |  SELECT src, dst, MIN(dist) AS dist FROM (
         |    SELECT a.src, b.dst, a.dist + b.dist AS dist
         |    FROM d0 a JOIN d0 b ON a.dst = b.src
         |    UNION ALL SELECT src, dst, dist FROM d0)
         |  GROUP BY 1, 2),
         |d2 AS (
         |  SELECT src, dst, MIN(dist) AS dist FROM (
         |    SELECT a.src, b.dst, a.dist + b.dist AS dist
         |    FROM d1 a JOIN d1 b ON a.dst = b.src
         |    UNION ALL SELECT src, dst, dist FROM d1)
         |  GROUP BY 1, 2),
         |d3 AS (
         |  SELECT src, dst, MIN(dist) AS dist FROM (
         |    SELECT a.src, b.dst, a.dist + b.dist AS dist
         |    FROM d2 a JOIN d2 b ON a.dst = b.src
         |    UNION ALL SELECT src, dst, dist FROM d2)
         |  GROUP BY 1, 2),
         |a1 AS (SELECT src, dst, CAST(1 AS BIGINT) AS cnt FROM sym),
         |a2 AS (SELECT a.src, b.dst, CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS cnt
         |       FROM a1 a JOIN a1 b ON a.dst = b.src GROUP BY 1, 2),
         |a3 AS (SELECT a.src, b.dst, CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS cnt
         |       FROM a2 a JOIN a1 b ON a.dst = b.src GROUP BY 1, 2),
         |a4 AS (SELECT a.src, b.dst, CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS cnt
         |       FROM a3 a JOIN a1 b ON a.dst = b.src GROUP BY 1, 2),
         |a5 AS (SELECT a.src, b.dst, CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS cnt
         |       FROM a4 a JOIN a1 b ON a.dst = b.src GROUP BY 1, 2),
         |a6 AS (SELECT a.src, b.dst, CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS cnt
         |       FROM a5 a JOIN a1 b ON a.dst = b.src GROUP BY 1, 2),
         |a7 AS (SELECT a.src, b.dst, CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS cnt
         |       FROM a6 a JOIN a1 b ON a.dst = b.src GROUP BY 1, 2),
         |a8 AS (SELECT a.src, b.dst, CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS cnt
         |       FROM a7 a JOIN a1 b ON a.dst = b.src GROUP BY 1, 2),
         |powers AS (
         |  SELECT src, dst, CAST(1 AS BIGINT) AS k, cnt FROM a1
         |  UNION ALL SELECT src, dst, 2, cnt FROM a2
         |  UNION ALL SELECT src, dst, 3, cnt FROM a3
         |  UNION ALL SELECT src, dst, 4, cnt FROM a4
         |  UNION ALL SELECT src, dst, 5, cnt FROM a5
         |  UNION ALL SELECT src, dst, 6, cnt FROM a6
         |  UNION ALL SELECT src, dst, 7, cnt FROM a7
         |  UNION ALL SELECT src, dst, 8, cnt FROM a8),
         |sigma AS (
         |  SELECT d.src, d.dst, d.dist, p.cnt
         |  FROM d3 d JOIN powers p
         |    ON p.src = d.src AND p.dst = d.dst AND p.k = d.dist
         |  WHERE d.dist >= 1),
         |pairs AS (
         |  SELECT src AS u, dst AS v, dist AS duv, cnt AS suv
         |  FROM sigma WHERE src < dst),
         |terms AS (
         |  SELECT sw.dst AS w,
         |    CAST(sw.cnt * sv.cnt AS DOUBLE) / p.suv AS term
         |  FROM pairs p
         |  JOIN sigma sw ON sw.src = p.u
         |  JOIN sigma sv ON sv.src = sw.dst AND sv.dst = p.v
         |  WHERE sw.dst <> p.u AND sw.dst <> p.v
         |    AND sw.dist + sv.dist = p.duv),
         |bw AS (SELECT w AS event_type, ${dSum18h("term")} AS betweenness
         |       FROM terms GROUP BY 1)
         |SELECT n.u AS event_type,
         |  COALESCE(b.betweenness, CAST(0.0 AS DOUBLE)) AS betweenness
         |FROM nodes n LEFT JOIN bw b ON b.event_type = n.u
         |ORDER BY n.u""".stripMargin)),

    // Network motif census (Milo et al.): feed-forward loops (a→b→c
    // with shortcut a→c) and 3-cycles (a→b→c→a) in the DIRECTED
    // dominant-transition type graph — the over-represented wiring
    // patterns that distinguish a funnel-like event flow from a cyclic
    // one. Three keyed self-joins over the |types|²-bounded hitsEdges
    // artifact (the corpus pays only the shared window pass); loops
    // (a=b etc.) excluded; cycles deduplicated by their rotation-
    // minimal representative so each cycle counts once. All integer.
    Q("i_graph_motifs", (s, d) => {
      val e = typeGraphDirEdges(s, d)
      val ab = e.select(col("src").as("a"), col("dst").as("b"))
        .filter(col("a") =!= col("b"))
      val bc = e.select(col("src").as("b"), col("dst").as("c"))
      val ac = e.select(col("src").as("a"), col("dst").as("c"))
      val paths = ab.join(bc, "b")
        .filter(col("c") =!= col("a") && col("c") =!= col("b"))
      val ffl = paths.join(ac.withColumn("_sc", lit(1)), Seq("a", "c"), "left")
        .agg(count(lit(1)).as("n_paths2"),
          sum(coalesce(col("_sc"), lit(0))).as("n_ffl"))
      val cyc = paths.join(
          e.select(col("dst").as("a"), col("src").as("c")), Seq("a", "c"))
        .filter(col("a") < col("b") && col("a") < col("c"))
        .agg(count(lit(1)).as("n_cycles3"))
      ffl.crossJoin(broadcast(cyc))
        .select(col("n_paths2"), col("n_ffl"), col("n_cycles3"),
          (col("n_ffl").cast("double") / col("n_paths2"))
            .as("ffl_closure_rate"))
    }, Some(
      """WITH trans AS (
        |  SELECT src, dst, COUNT(*) AS n FROM (
        |    SELECT event_type AS src,
        |      LEAD(event_type, 1) OVER (PARTITION BY user_id
        |        ORDER BY epoch_us(ts), event_id) AS dst
        |    FROM events)
        |  WHERE dst IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT src, SUM(n) AS tot FROM trans GROUP BY 1),
        |e AS (SELECT t.src, t.dst FROM trans t JOIN tot USING (src)
        |      WHERE t.n * 5 >= tot.tot),
        |paths AS (
        |  SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
        |  FROM (SELECT src, dst FROM e WHERE src <> dst) ab
        |  JOIN e bc ON bc.src = ab.dst
        |  WHERE bc.dst <> ab.src AND bc.dst <> ab.dst),
        |ffl AS (
        |  SELECT COUNT(*) AS n_paths2,
        |    CAST(SUM(CASE WHEN sc.src IS NOT NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_ffl
        |  FROM paths p
        |  LEFT JOIN e sc ON sc.src = p.a AND sc.dst = p.c),
        |cyc AS (
        |  SELECT COUNT(*) AS n_cycles3
        |  FROM paths p JOIN e cl ON cl.src = p.c AND cl.dst = p.a
        |  WHERE p.a < p.b AND p.a < p.c)
        |SELECT f.n_paths2, f.n_ffl, c.n_cycles3,
        |  CAST(f.n_ffl AS DOUBLE) / f.n_paths2 AS ffl_closure_rate
        |FROM ffl f CROSS JOIN cyc c""".stripMargin)),

    // Rich-club coefficient (Zhou & Mondragón): among nodes of degree
    // > k, what fraction of possible edges exist — the "do the hubs
    // form a club" read that degree distribution alone can't answer.
    // Evaluated at the discrete degree p50/p75/p90 thresholds (member
    // values, the h_quality_quantile discipline — an interpolated
    // percentile can land between integer degrees). The thresholds are
    // CUME_DIST cuts computed WITHOUT ranking the node table: group the
    // degree census per distinct degree, two-pass range-partitioned
    // prefix-sum it (local running sum per range partition + a
    // |partitions|-row broadcast offset table — the e_win_ntile_pct
    // pattern), and cum(k)/N ≥ p picks min k. No corpus-derived table
    // ever crosses a single-partition WindowExec; the only global
    // window left runs over the |partitions|-row offset table. All
    // counts integer over the shared supported-graph artifacts: N(>k)
    // from the degree table, E(>k) from one pair-table pass keyed on
    // min(deg_a, deg_b); φ = 2E/(N(N−1)) is one int/int division. The
    // three thresholds attach as a 3-row broadcast.
    Q("i_graph_rich_club", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val deg = supDeg(s, d)
      val pairs = supPairs(s, d)
      // per-degree census, range-cumulated: cum = #nodes with deg ≤ k.
      // Scratch because three threshold branches consume it (a
      // range repartition samples fresh bounds per execution — the
      // g_cusum_changepoint lesson). The cross-partition offsets come
      // from a |partitions|²-cell self-join over the 32-row per-
      // partition count table instead of a prefix window — same
      // metadata-sized work, and this query's plan carries NO
      // unpartitioned WindowExec at all, bounded or otherwise.
      val cum = Q.scratch("richclub_cumdeg") {
        val census = deg.groupBy(col("deg")).agg(count(lit(1)).as("cnt"))
          .repartitionByRange(s.sparkContext.defaultParallelism, col("deg"))
          .withColumn("pid", spark_partition_id())
          .withColumn("lcum", sum(col("cnt")).over(
            Window.partitionBy(col("pid")).orderBy(col("deg"))))
        val pcnts = census.groupBy(col("pid")).agg(sum(col("cnt")).as("pcnt"))
        val tot = pcnts.agg(sum(col("pcnt")).as("n_total"))
        val offs = pcnts.select(col("pid"), col("pcnt"))
          .join(pcnts.select(col("pid").as("pid2"), col("pcnt").as("pcnt2")),
            col("pid2") < col("pid"), "left")
          .groupBy(col("pid"))
          .agg(coalesce(sum(col("pcnt2")), lit(0L)).as("off"))
          .crossJoin(broadcast(tot))
          .select(col("pid"), col("off"), col("n_total"))
        census.join(broadcast(offs), "pid")
          .select(col("deg"), (col("lcum") + col("off")).as("cum"),
            col("n_total"))
      }
      val thr = Seq(0.5 -> "p50", 0.75 -> "p75", 0.9 -> "p90").map {
        case (p, nm) => cum
          .filter(col("cum").cast("double") / col("n_total") >= p)
          .agg(min(col("deg")).as("k")).select(lit(nm).as("q"), col("k"))
      }.reduce(_.union(_))
      val edgeDeg = pairs
        .join(deg.select(col("node").as("pa"), col("deg").as("da")), "pa")
        .join(deg.select(col("node").as("pb"), col("deg").as("db")), "pb")
        .select(least(col("da"), col("db")).as("mind"))
      val eCnt = edgeDeg.crossJoin(broadcast(thr))
        .groupBy(col("q"), col("k"))
        .agg(sum(when(col("mind") > col("k"), 1L).otherwise(0L)).as("e_club"))
      val nCnt = deg.crossJoin(broadcast(thr))
        .groupBy(col("q").as("q2"), col("k").as("k2"))
        .agg(sum(when(col("deg") > col("k"), 1L).otherwise(0L)).as("n_club"))
      eCnt.join(nCnt, col("q") === col("q2"))
        .select(col("q").as("quantile"), col("k").as("deg_threshold"),
          col("n_club"), col("e_club"),
          when(col("n_club") >= 2,
            (lit(2L) * col("e_club")).cast("double") /
              (col("n_club") * (col("n_club") - 1)))
            .otherwise(lit(0.0)).as("rich_club_phi"))
        .orderBy("quantile")
    }, Some(
      s"""$supSql,
         |cd AS (SELECT node, deg,
         |         CUME_DIST() OVER (ORDER BY deg) AS cd FROM sdeg),
         |thr AS (
         |  SELECT 'p50' AS q, MIN(deg) AS k FROM cd WHERE cd >= 0.5
         |  UNION ALL
         |  SELECT 'p75', MIN(deg) FROM cd WHERE cd >= 0.75
         |  UNION ALL
         |  SELECT 'p90', MIN(deg) FROM cd WHERE cd >= 0.9),
         |ed AS (
         |  SELECT LEAST(da.deg, db.deg) AS mind
         |  FROM sup
         |  JOIN sdeg da ON da.node = sup.pa
         |  JOIN sdeg db ON db.node = sup.pb),
         |ec AS (
         |  SELECT t.q, t.k,
         |    CAST(SUM(CASE WHEN ed.mind > t.k THEN 1 ELSE 0 END) AS BIGINT)
         |      AS e_club
         |  FROM thr t CROSS JOIN ed GROUP BY 1, 2),
         |nc AS (
         |  SELECT t.q, t.k,
         |    CAST(SUM(CASE WHEN s.deg > t.k THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_club
         |  FROM thr t CROSS JOIN sdeg s GROUP BY 1, 2)
         |SELECT ec.q AS quantile, ec.k AS deg_threshold, nc.n_club,
         |  ec.e_club,
         |  CASE WHEN nc.n_club >= 2 THEN
         |    CAST(2 * ec.e_club AS DOUBLE) / (nc.n_club * (nc.n_club - 1))
         |  ELSE CAST(0.0 AS DOUBLE) END AS rich_club_phi
         |FROM ec JOIN nc ON nc.q = ec.q
         |ORDER BY quantile""".stripMargin)),

    // Temporal graph stability: week-over-week churn of the dominant-
    // transition edge set (the hitsEdges rule applied PER WEEK). For
    // each consecutive week pair: edges kept / removed / added and the
    // edge-set Jaccard — the drift monitor that says whether a trained
    // type-graph model is stale. One user-keyed window pass over the
    // corpus (transition assigned to its source event's epoch week),
    // then (wk, src)-keyed aggs and one full-outer self-join of the
    // |weeks|·|types|²-bounded edge table against itself shifted one
    // week — all keyed, all counts integer, jaccard an int/int double.
    Q("i_graph_edge_churn", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      // scratch (r15): the downstream fan-out (per-week totals,
      // the supported-edge filter consumed by the week spine and both
      // join arms) re-executed the events scan + user-keyed LEAD window
      // ~6 times. The table is |weeks|×|types|² rows.
      val trans = Q.scratch("edge_churn_trans")(
        Io.events(s, d)
          .select(col("user_id"), col("ts_us"), col("event_id"),
            col("event_type").as("src"))
          .withColumn("dst", lead(col("src"), 1).over(w))
          .filter(col("dst").isNotNull)
          .select(expr("CAST(ts_us DIV 604800000000 AS BIGINT)").as("wk"),
            col("src"), col("dst"))
          .groupBy(col("wk"), col("src"), col("dst"))
          .agg(count(lit(1)).as("n")))
      val tot = trans.groupBy(col("wk"), col("src"))
        .agg(sum(col("n")).as("tot"))
      val edges = trans.join(tot, Seq("wk", "src"))
        .filter(col("n") * 5 >= col("tot"))
        .select(col("wk"), col("src"), col("dst"))
      val wks = edges.select(col("wk")).distinct()
      val bounds = wks.as("w1").join(
        wks.select((col("wk") - 1).as("wk")).as("w2"), Seq("wk"))
      val a = edges.withColumn("ina", lit(1L))
      val b = edges.select((col("wk") - 1).as("wk"), col("src"),
        col("dst"), lit(1L).as("inb"))
      val stats = a.join(b, Seq("wk", "src", "dst"), "full_outer")
        .join(bounds, Seq("wk"))
        .groupBy(col("wk"))
        .agg(sum(when(col("ina").isNotNull && col("inb").isNotNull, 1L)
            .otherwise(0L)).as("n_kept"),
          sum(when(col("ina").isNotNull && col("inb").isNull, 1L)
            .otherwise(0L)).as("n_removed"),
          sum(when(col("ina").isNull && col("inb").isNotNull, 1L)
            .otherwise(0L)).as("n_added"))
      stats.select(col("wk").as("week"), col("n_kept"), col("n_removed"),
          col("n_added"),
          (col("n_kept").cast("double") /
            (col("n_kept") + col("n_removed") + col("n_added")))
            .as("edge_jaccard"))
        .orderBy("week")
    }, Some(
      """WITH trans AS (
        |  SELECT wk, src, dst, COUNT(*) AS n FROM (
        |    SELECT epoch_us(ts) // 604800000000 AS wk,
        |      event_type AS src,
        |      LEAD(event_type, 1) OVER (PARTITION BY user_id
        |        ORDER BY epoch_us(ts), event_id) AS dst
        |    FROM events)
        |  WHERE dst IS NOT NULL GROUP BY 1, 2, 3),
        |tot AS (SELECT wk, src, SUM(n) AS tot FROM trans GROUP BY 1, 2),
        |edges AS (SELECT t.wk, t.src, t.dst
        |          FROM trans t JOIN tot USING (wk, src)
        |          WHERE t.n * 5 >= tot.tot),
        |wks AS (SELECT DISTINCT wk FROM edges),
        |bounds AS (SELECT w1.wk FROM wks w1
        |           JOIN (SELECT wk - 1 AS wk FROM wks) w2 USING (wk)),
        |ab AS (
        |  SELECT wk, ina, inb
        |  FROM (SELECT wk, src, dst, 1 AS ina FROM edges) a
        |  FULL JOIN (SELECT wk - 1 AS wk, src, dst, 1 AS inb FROM edges) b
        |    USING (wk, src, dst)),
        |st AS (
        |  SELECT ab.wk,
        |    CAST(SUM(CASE WHEN ina IS NOT NULL AND inb IS NOT NULL
        |         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    CAST(SUM(CASE WHEN ina IS NOT NULL AND inb IS NULL
        |         THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |    CAST(SUM(CASE WHEN ina IS NULL AND inb IS NOT NULL
        |         THEN 1 ELSE 0 END) AS BIGINT) AS n_added
        |  FROM ab JOIN bounds USING (wk) GROUP BY 1)
        |SELECT wk AS week, n_kept, n_removed, n_added,
        |  CAST(n_kept AS DOUBLE) / (n_kept + n_removed + n_added)
        |    AS edge_jaccard
        |FROM st ORDER BY week""".stripMargin)),

    // Closeness centrality, both classical variants, from the shared
    // all-pairs distance artifact: harmonic centrality Σ_{v≠u} 1/d(u,v)
    // (Marchiori–Latora; each term an int/int IEEE division —
    // bit-identical across engines — folded with the decSum18
    // discipline) and Wasserman–Faust closeness (r−1)²/((n−1)·Σd)
    // (disconnected-safe normalization; one int-product/int double
    // division, zero snaps). All work beyond the shared hitsEdges
    // corpus pass is |types|²-bounded metadata; n attaches as a one-row
    // broadcast scalar.
    Q("i_graph_closeness", (s, d) => {
      val dist = typeGraphDist(s, d)
      val per = dist.groupBy(col("src").as("event_type"))
        .agg(count(lit(1)).as("n_reach"),
          decSum18(when(col("dist") >= 1,
            lit(1.0) / col("dist").cast("double"))).as("harmonic"),
          sum(col("dist")).as("totd"))
      val n = Io.events(s, d).select(col("event_type")).distinct()
        .agg(count(lit(1)).as("n"))
      per.crossJoin(broadcast(n))
        .select(col("event_type"), col("n_reach"),
          coalesce(col("harmonic"), lit(0.0)).as("harmonic"),
          when(col("totd") > 0,
            ((col("n_reach") - 1) * (col("n_reach") - 1)).cast("double") /
              ((col("n") - 1) * col("totd")))
            .otherwise(lit(0.0)).as("closeness_wf"))
        .orderBy("event_type")
    }, Some(
      s"""WITH $typeSymSql,
         |$typeDistSql,
         |per AS (
         |  SELECT src AS event_type, COUNT(*) AS n_reach,
         |    ${dSum18h("CASE WHEN dist >= 1 THEN CAST(1 AS DOUBLE) / CAST(dist AS DOUBLE) END")}
         |      AS harmonic,
         |    CAST(SUM(dist) AS BIGINT) AS totd
         |  FROM d3 GROUP BY 1),
         |nv AS (SELECT COUNT(*) AS n FROM nodes)
         |SELECT p.event_type, p.n_reach,
         |  COALESCE(p.harmonic, CAST(0.0 AS DOUBLE)) AS harmonic,
         |  CASE WHEN p.totd > 0 THEN
         |    CAST((p.n_reach - 1) * (p.n_reach - 1) AS DOUBLE) /
         |      ((nv.n - 1) * p.totd)
         |  ELSE CAST(0.0 AS DOUBLE) END AS closeness_wf
         |FROM per p CROSS JOIN nv
         |ORDER BY p.event_type""".stripMargin)),

    // Katz centrality (Katz 1953) with attenuation β = 1/8 = 2⁻³ over
    // K = 8 walk lengths: katz(u) = Σ_{k=1..8} βᵏ · (walks of length k
    // ending at u). Spelled to be engine-exact with ZERO float snaps:
    // Σ cnt·8⁻ᵏ = (Σ cnt·8^(8−k)) / 8⁸ — the weighted sum stays in
    // BIGINT (cnt < 1.7e7, weights ≤ 8⁷ → terms < 3.6e13, far inside
    // int64), and the single final division by 2²⁴ is exact in IEEE
    // double. β < 1/λ_max is guaranteed (degree ≤ 8 ⇒ λ_max ≤ 8).
    // Reuses the memoized bwA1..8 powers; all joins keyed,
    // |types|²-bounded.
    Q("i_graph_katz", (s, d) => {
      val powers = typeWalkPowers(s, d)
      val w = (1 to 8).foldLeft(lit(0L)) { (acc, k) =>
        when(col("k") === k, lit(math.pow(8.0, 8 - k).toLong)).otherwise(acc)
      }
      val katz = powers
        .groupBy(col("dst").as("event_type"))
        .agg(sum(col("cnt") * w).as("scaled"))
        .select(col("event_type"),
          (col("scaled").cast("double") / lit(16777216.0)).as("katz"))
      val nodes = Io.events(s, d).select(col("event_type")).distinct()
      nodes.join(katz, Seq("event_type"), "left")
        .select(col("event_type"),
          coalesce(col("katz"), lit(0.0)).as("katz"))
        .orderBy("event_type")
    }, Some(
      s"""WITH $typeSymSql,
         |$typePowersSql,
         |kz AS (
         |  SELECT dst AS event_type,
         |    CAST(SUM(cnt * (CASE k WHEN 1 THEN 2097152 WHEN 2 THEN 262144
         |      WHEN 3 THEN 32768 WHEN 4 THEN 4096 WHEN 5 THEN 512
         |      WHEN 6 THEN 64 WHEN 7 THEN 8 ELSE 1 END)) AS BIGINT) AS scaled
         |  FROM powers GROUP BY 1)
         |SELECT n.u AS event_type,
         |  COALESCE(CAST(k.scaled AS DOUBLE) / 16777216, CAST(0.0 AS DOUBLE))
         |    AS katz
         |FROM nodes n LEFT JOIN kz k ON k.event_type = n.u
         |ORDER BY n.u""".stripMargin))
  )

  /** The DIRECTED dominant-transition edges (the shared hitsEdges
    * artifact — one corpus window pass, consumed by HITS, the motif
    * census, and the undirected adjacency below). */
  private def typeGraphDirEdges(s: SparkSession, d: String): DataFrame =
    Q.memoized(s, d, "hitsEdges") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val trans = Io.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type").as("src"))
        .withColumn("dst", lead(col("src"), 1).over(w))
        .filter(col("dst").isNotNull)
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
      val tot = trans.groupBy(col("src")).agg(sum(col("n")).as("tot"))
      Q.materialize(s, d, "hitsEdges")(
        trans.join(tot, "src").filter(col("n") * 5 >= col("tot"))
          .select(col("src"), col("dst")))
    }

  /** Symmetrized dominant-transition type-graph adjacency — shared by
    * eccentricity and betweenness; built on the hitsEdges artifact
    * (the one corpus-sized window pass, shared with i_graph_hits). */
  private def typeGraphAdj(s: SparkSession, d: String): DataFrame =
    Q.memoized(s, d, "typeAdj") {
      val dirEdges = typeGraphDirEdges(s, d)
      Q.materialize(s, d, "typeAdj")(
        dirEdges.union(
          dirEdges.select(col("dst").as("src"), col("src").as("dst")))
          .distinct())
    }

  /** Walk-count matrix powers [Aᵏ] for k = 1..8 over the undirected
    * type graph, as one (src, dst, k, cnt) table — memoized per power
    * (bwA1..bwA8; all |types|²-bounded). Counts are exact BIGINTs
    * (≤ 8⁸ ≈ 1.7e7 on ≤9 nodes of degree ≤8). Shared by betweenness
    * (σ(u,v) = [A^d(u,v)]ᵤᵥ) and Katz centrality (Σ βᵏ·walk counts). */
  private def typeWalkPowers(s: SparkSession, d: String): DataFrame = {
    val adj = typeGraphAdj(s, d)
    val a1 = Q.memoized(s, d, "bwA1") {
      Q.materialize(s, d, "bwA1")(
        adj.select(col("src"), col("dst"), lit(1L).as("cnt")))
    }
    def mul(k: Int, a: DataFrame): DataFrame = Q.memoized(s, d, s"bwA$k") {
      Q.materialize(s, d, s"bwA$k")(
        a.as("a").join(a1.select(col("src").as("mid"), col("dst"),
            col("cnt").as("cb")).as("b"),
            col("a.dst") === col("b.mid"))
          .groupBy(col("a.src").as("src"), col("b.dst").as("dst"))
          .agg(sum(col("a.cnt") * col("cb")).as("cnt")))
    }
    var pows = Vector(a1)
    for (k <- 2 to 8) pows = pows :+ mul(k, pows.last)
    pows.zipWithIndex.map { case (p, i) =>
      p.withColumn("k", lit((i + 1).toLong))
    }.reduce(_.union(_))
  }

  /** All-pairs shortest distances over the undirected type graph by
    * three memoized min-plus squarings (covers diameter 8 on ≤9 nodes;
    * the node-count guard asserts the bound fail-loud). */
  private def typeGraphDist(s: SparkSession, d: String): DataFrame = {
    val adj = typeGraphAdj(s, d)
    val nodes0 = Io.events(s, d).select(col("event_type").as("u")).distinct()
    val nodes = nodes0
      .crossJoin(broadcast(nodes0.agg(count(lit(1)).as("nv"))))
      .filter(assert_true(col("nv") <= 9,
        lit("ecc: >9 event types — 3 squarings no longer cover the diameter"))
        .isNull)
      .select(col("u"))
    val d0 = Q.memoized(s, d, "eccD0") {
      Q.materialize(s, d, "eccD0")(
        adj.select(col("src"), col("dst"), lit(1L).as("dist"))
          .union(nodes.select(col("u").as("src"), col("u").as("dst"),
            lit(0L).as("dist")))
          .groupBy(col("src"), col("dst")).agg(min(col("dist")).as("dist")))
    }
    def sq(n: Int, r: DataFrame): DataFrame = Q.memoized(s, d, s"eccD$n") {
      Q.materialize(s, d, s"eccD$n")(
        r.as("a").join(r.select(col("src").as("mid"), col("dst"),
            col("dist").as("dist_b")).as("b"),
            col("a.dst") === col("b.mid"))
          .select(col("a.src").as("src"), col("b.dst").as("dst"),
            (col("a.dist") + col("dist_b")).as("dist"))
          .union(r)
          .groupBy(col("src"), col("dst")).agg(min(col("dist")).as("dist")))
    }
    sq(3, sq(2, sq(1, d0)))
  }
}
