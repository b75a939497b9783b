package graft.ops

import graft.io.Io
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Q._

/** SURVEY.md §2-H (vector rows) — similarity search over the 64-dim
  * float32 `embeddings.embedding` column.
  *
  * Vectors stay `ArrayType` and all math runs through codegen'd
  * higher-order functions (`zip_with`/`aggregate`/`transform`) — no UDF,
  * no UDT. Cross-engine float discipline (G4/R5): cast float32 → double
  * before any arithmetic, round similarity at 1e-6, break ranking ties
  * by vector id.
  *
  * Scale path: `h_cosine_topk` is the brute-force O(n²) baseline, kept
  * correct at any sf by the blocked join + top-k; `h_ann_ivf` is the
  * 100 TB design — a coarse quantizer (label centroids) turns the O(n²)
  * into per-cell searches, the classic IVF layout: at 1000 executors
  * each cell's candidate list is a shuffle partition, never a cartesian.
  *
  * One coarse quantizer: [[centroidRanks]] is the only nearest-centroid
  * ranking. k-means and silhouette rank against [[kmCent1]]; the IVF
  * rows rank against the PQ codebook's label centroids ([[ivfRanks]]
  * over [[pqCent]]), never re-deriving them from the corpus.
  */
object VectorOps {

  private val dec12 = DecimalType(38, 12)
  private val dec6 = DecimalType(38, 6)

  /** exact order-independent sum at 1e-12 — for averaging raw embedding
    * values (magnitude ~0.1; DECIMAL(38,6) would be too coarse). */
  private def decSum12(c: Column): Column = sum(c.cast(dec12)).cast("double")
  private val dSum12 = (x: String) => s"CAST(SUM(CAST($x AS DECIMAL(38,12))) AS DOUBLE)"

  /** VARCHAR-hop variants for COMPUTED doubles (products, squares): see
    * AnalyticsOps.dSnap6 — DuckDB's direct double→decimal cast rounds
    * the binary value while Spark rounds the shortest repr; parse-
    * through-VARCHAR makes DuckDB take Spark's path on every boundary.
    * The guard zeroes below-half-ulp magnitudes (DuckDB's string parse
    * half-ups the first significant digit regardless of exponent).
    * The trip BACK to DOUBLE hops through VARCHAR as well: DuckDB's
    * direct decimal→double converts double(int128)·10⁻ˢᶜ — TWO
    * roundings — which goes 1 ulp off Java's correctly-rounded
    * BigDecimal.doubleValue once the unscaled value passes 2⁵³ (at
    * scale 12 that's any |v| > ~9e3 — the PCA scatter diagonal was the
    * first row to hit it; decimal→VARCHAR→double parses the exact
    * digits, correctly rounded). dSum12 above stays direct-cast for
    * float-widened inputs with small sums only. */
  private def dHopGuard12(x: String): String =
    s"CAST(CASE WHEN ABS($x) < 5e-13 THEN CAST(0 AS DOUBLE) ELSE $x END AS VARCHAR)"
  private def dSnap12(x: String): String =
    s"CAST(CAST(CAST(${dHopGuard12(x)} AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE)"
  private def dSumHop12(x: String): String =
    s"CAST(CAST(SUM(CAST(${dHopGuard12(x)} AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"

  private def dvec(c: Column): Column = transform(c, x => x.cast("double"))

  /** codegen'd native dot product (graft.functions.DotProduct) — same
    * accumulation order as the HOF fold, ~10× faster on the pair loops. */
  private def dot(a: Column, b: Column): Column =
    expr(s"dot_product(${a.toString}, ${b.toString})")

  /** dv is the raw float32 vector: dot_product widens float→double
    * per element (exact), so results are bit-identical to casting the
    * array first — without the interpreted transform() lambda that used
    * to dominate broadcast-build time, and at half the broadcast bytes.
    */
  private def withDoubles(s: SparkSession, d: String): DataFrame = {
    Io.table(s, d, "embeddings").withColumn("dv", col("embedding"))
  }

  /** The one nearest-centroid ranking of the vector family: every row of
    * `vecs` (vec_id, embedding, …) against every broadcast centroid row
    * of `cent` (key, carr), giving (…, key, d2, rn) — d2 the exact-
    * decimal native sq_dist_dec, rn the rank per vec_id by (d2, key).
    * rn = 1 is the Lloyd assignment / IVF home cell; rn ≤ k are the k
    * probe cells. */
  private def centroidRanks(vecs: DataFrame, cent: DataFrame, key: String): DataFrame = {
    vecs.crossJoin(broadcast(cent))
      .withColumn("d2", expr("sq_dist_dec(embedding, carr)")).drop("carr")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("d2"), col(key))))
  }

  private def embeddingVecs(s: SparkSession, d: String): DataFrame =
    Io.table(s, d, "embeddings").select(col("vec_id"), col("embedding"))

  /** One Lloyd assignment pass: nearest of the broadcast centroids by
    * exact-decimal squared distance, ties to the smaller cid. */
  private def kmAssign(s: SparkSession, d: String, cent: DataFrame): DataFrame =
    centroidRanks(embeddingVecs(s, d), cent, "cid").filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cid"), col("d2"))

  /** The round-1 Lloyd centroids (seed = vecs 0..3, one assign + one
    * exact-decimal mean update), memoized + materialized — built once
    * per corpus and consumed by the k-means and silhouette rows, the
    * way a production pipeline scores against one trained model. */
  private def kmCent1(s: SparkSession, d: String): DataFrame =
    Q.memoized(s, d, "kmC1") {
      val cent0 = embeddingVecs(s, d).filter(col("vec_id") < 4)
        .select(col("vec_id").cast("int").as("cid"), dvec(col("embedding")).as("carr"))
      Q.materialize(s, d, "kmC1")(
        kmAssign(s, d, cent0)
          .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy(col("cid"), col("pos"))
          .agg((decSum12(col("v").cast("double")) / count(lit(1))).as("c"))
          .groupBy(col("cid"))
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
            x => x.getField("c")).as("carr")))
    }

  /** Oracle twin of [[kmCent1]] + the all-centroid distance table
    * (CTEs `dims`/`c0`/`d1`/`a1`/`c1`/`d2t`) — shared by the k-means
    * and silhouette oracles. */
  private val kmSqlCtes =
    """dims AS (SELECT UNNEST(generate_series(1,
      |  (SELECT MAX(len(embedding)) FROM embeddings))) AS pos),
      |c0 AS (
      |  SELECT CAST(vec_id AS INT) AS cid, pos,
      |    CAST(embedding[pos] AS DOUBLE) AS c
      |  FROM embeddings, dims WHERE vec_id < 4),
      |d1 AS (
      |  SELECT e.vec_id, c0.cid,
      |    CAST(SUM(CAST((CAST(e.embedding[c0.pos] AS DOUBLE) - c0.c)
      |                  * (CAST(e.embedding[c0.pos] AS DOUBLE) - c0.c)
      |             AS DECIMAL(38,12))) AS DOUBLE) AS d2
      |  FROM embeddings e, c0 GROUP BY e.vec_id, c0.cid),
      |a1 AS (
      |  SELECT vec_id, cid FROM d1
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1),
      |c1 AS (
      |  SELECT a1.cid, dims.pos,
      |    CAST(SUM(CAST(CAST(e.embedding[dims.pos] AS DOUBLE)
      |             AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS c
      |  FROM embeddings e JOIN a1 USING (vec_id), dims
      |  GROUP BY a1.cid, dims.pos),
      |d2t AS (
      |  SELECT e.vec_id, c1.cid,
      |    CAST(SUM(CAST((CAST(e.embedding[c1.pos] AS DOUBLE) - c1.c)
      |                  * (CAST(e.embedding[c1.pos] AS DOUBLE) - c1.c)
      |             AS DECIMAL(38,12))) AS DOUBLE) AS d2
      |  FROM embeddings e, c1 GROUP BY e.vec_id, c1.cid)""".stripMargin

  /** Random-hyperplane LSH signatures, banded: (vec_id, band, band_val).
    *
    * 16 hyperplanes, 4 bands × 4 bits, computed by the native one-pass
    * [[graft.functions.LshBands]] expression (exact integer plane
    * weights + scaled-decimal accumulation, so every sign bit is
    * engine-reproducible; see its scaladoc). The relational long form
    * (posexplode → plane join → decimal sums) is what the DuckDB oracle
    * runs — proving the native path equal every round.
    *
    * 100 TB shape: signatures are pure map-side scan parallelism; the
    * only shuffle in the pipeline is candidate generation, an equi-join
    * on (band, band_val) — never a cartesian.
    */
  private def lshSigs(s: SparkSession, d: String): DataFrame = {
    Io.table(s, d, "embeddings")
      .select(col("vec_id"),
        posexplode(expr("lsh_bands(embedding)")).as(Seq("band", "band_val")))
  }

  /** DuckDB twin of [[lshSigs]] (CTE prefix `dim`/`planes`/`proj`/`sig`).
    * The dimension is derived from the data (`max(len(embedding))`), the
    * same way the native expression reads it off each vector — no
    * hardcoded 64 anywhere in the vector family. The raw multiplier in
    * `planes` is the bounded-index PRNG twin of LshBands.weightsFor
    * ((p*d+i) ≤ ~1024 — cannot overflow; id coins use Q.coin). */
  private val duckSig =
    """dim AS (SELECT MAX(len(embedding)) AS d FROM embeddings),
      |planes AS (
      |  SELECT p, i, ((p * d + i) * 2654435761 % 1000003) / 1000003.0 - 0.5 AS w
      |  FROM dim, (SELECT UNNEST(generate_series(0, 15)) AS p),
      |       (SELECT UNNEST(generate_series(1, (SELECT d FROM dim))) AS i)),
      |proj AS (
      |  SELECT e.vec_id, pl.p,
      |    CAST(SUM(CAST(CAST(e.embedding[pl.i] AS DOUBLE) * pl.w AS DECIMAL(38,12))) AS DOUBLE) AS pr
      |  FROM embeddings e, planes pl GROUP BY e.vec_id, pl.p),
      |sig AS (
      |  SELECT vec_id, p // 4 AS band,
      |    CAST(SUM(CASE WHEN pr >= 0 THEN (1 << (p % 4)) ELSE 0 END) AS BIGINT) AS band_val
      |  FROM proj GROUP BY 1, 2)""".stripMargin

  /** cosine between two pre-cast double vectors. ZERO-NORM CONVENTION
    * (r12 degenerate sweep): cosine with a zero vector is DEFINED as
    * 0.0 on both engines — unguarded, ANSI Spark raises DIVIDE_BY_ZERO
    * while DuckDB's list_cosine_similarity returns a −1.0 sentinel, a
    * cross-engine divergence AND an ordering hazard. 0.0 ("no
    * similarity") is concrete, orders deterministically, and never
    * enters a top-k ahead of a real similarity. */
  private def cosine(a: Column, b: Column): Column = {
    val den = sqrt(dot(a, a)) * sqrt(dot(b, b))
    when(den =!= 0.0, dot(a, b) / den).otherwise(lit(0.0))
  }

  /** guarded pre-normed similarity: dot/den with the same zero-norm
    * convention as `cosine` (den is the precomputed norm product). */
  private def cosPre(d: Column, den: Column): Column =
    when(den =!= 0.0, d / den).otherwise(lit(0.0))

  /** zero-norm-guarded DuckDB cosine over two table aliases (the
    * oracle twin of `cosine`): 0.0 when either vector has zero norm. */
  private def duckCosOf(a: String, b: String): String =
    s"CASE WHEN list_inner_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[]))" +
      s" * list_inner_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[])) > 0" +
      s" THEN list_cosine_similarity(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))" +
      s" ELSE CAST(0 AS DOUBLE) END"

  private val duckCos = duckCosOf("a.embedding", "b.embedding")

  /** HNSW-lite navigable graph parameters: out-degree cap M, beam width
    * B, fixed hop count H. Small constants: the graph is the LSH
    * candidate set pruned to its M best cosines per node, and the
    * search touches ≤ queries × B × M rows per hop — metadata-sized
    * next to the corpus at any SF. */
  private val hnswM = 6
  private val hnswB = 8
  private val hnswH = 3

  /** Bounded-degree neighbor graph (HNSW-style base layer), built ONCE
    * per corpus and memoized+materialized like every index artifact:
    * LSH candidate pairs (the h_ann_topk_pairs equi-join — never a
    * cartesian) scored by snapped cosine, symmetrized, then pruned to
    * the top-[[hnswM]] out-edges per node (sim DESC, dst tiebreak).
    * 100 TB shape: one (band, band_val) shuffle + one src-keyed window
    * — both key-partitioned; the stored graph is n×M rows. */
  private[graft] def hnswEdges(s: SparkSession, d: String): DataFrame =
    Q.memoized(s, d, "hnswEdges") {
      Q.materialize(s, d, "hnswEdges")(hnswEdgesBuild(s, d))
    }

  /** The beam search over [[hnswEdges]]. Each query's visited set is
    * SEEDED with its full scored LSH bucket (every candidate sharing ≥1 band — exactly
    * h_ann_lsh's candidate scan), then the graph expands the top-B
    * beam H hops to recover what the bucket missed. Two cheaper seeds
    * were measured and rejected: a single global entry point strands
    * the search inside one near-dup component (sf1: 10 nodes scanned
    * per query, recall 0.045), and id-ordered bucket members seed from
    * hash-collision junk on a clustered corpus (sf1 recall 0.0 — the
    * graph's top-6-cosine edges never cross clusters, so greedy
    * search cannot escape a bad seed). Per-query seeding with the
    * bucket's own scores is exactly the job HNSW's upper layers do in
    * the full algorithm; the checked numbers then show what the graph
    * hops ADD over the pure-bucket path. Each hop's visited set is
    * a scratch checkpoint (the i_graph_bfs lesson: a step referenced twice, by
    * the beam window AND the next union, re-evaluates 2^H times without
    * it). The per-hop deltas are queries × B×M rows — metadata-sized at
    * any SF. */
  /** Core of the beam search: the per-hop visited sets (index 0 =
    * scored seeds) plus the query and node vector frames, so both the
    * headline row (final recall) and the hop curve consume ONE
    * machinery. `prefix` keeps the two rows' scratch labels
    * distinct. */
  private def hnswVisitedByHop(s: SparkSession, d: String,
      prefix: String): (Seq[DataFrame], DataFrame, DataFrame) = {
    val edges = hnswEdges(s, d)
    val e = withDoubles(s, d)
      .select(col("vec_id"), col("dv"), sqrt(dot(col("dv"), col("dv"))).as("nrm"))
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("dv").as("qv"), col("nrm").as("qn"))
    val en = e.select(col("vec_id").as("node"), col("dv").as("nv"),
      col("nrm").as("nn"))
    // Every hop is checkpointed. Measured and rejected (r16): a
    // `matEvery = 2` knob that checkpointed every SECOND hop (plus hop 0
    // and the final hop) to save one eager materialization job per
    // skipped hop probed 2.10-2.33 s steady vs 2.06-2.09 s with all four
    // checkpoints — the skipped hop's subtree (distinct shuffle + score
    // join) re-evaluates twice inside the next hop's build (beam window
    // + union — the BFS lesson) and costs more than the saved job.
    // examined r15, left planner-chosen: forcing broadcast(candidates)
    // per hop measured SLOWER (2.26 → 3.01 s) — AQE already broadcasts
    // the vector frame once and REUSES that exchange across hops, while
    // an explicit per-hop candidate broadcast builds a fresh relation
    // every hop.
    def score(candidates: DataFrame): DataFrame =
      candidates.join(en, "node").join(q, "q_id")
        .select(col("q_id"), col("node"),
          r6(cosPre(dot(col("qv"), col("nv")), col("qn") * col("nn"))).as("sim"))
    val wBeam = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("node"))
    val sig = lshSigs(s, d)
    val seeds = sig.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("band"), col("band_val"))
      .join(sig.select(col("vec_id").as("node"), col("band"), col("band_val")),
        Seq("band", "band_val"))
      .filter(col("q_id") =!= col("node"))
      .select("q_id", "node").distinct()
    val visited0 = Q.scratch(s"${prefix}0")(score(seeds))
    val visiteds = (1 to hnswH).scanLeft(visited0) { (vis, h) =>
      val beam = vis.withColumn("rn", row_number().over(wBeam))
        .filter(col("rn") <= hnswB).select(col("q_id"), col("node"))
      val cand = beam.join(edges.withColumnRenamed("src", "node"), "node")
        .select(col("q_id"), col("dst").as("node")).distinct()
      Q.scratch(s"$prefix$h")(vis.unionByName(score(cand))
        .select("q_id", "node", "sim").distinct())
    }
    (visiteds, q, en)
  }

  /** Exact per-query cosine top-10 ground truth (20 queries × corpus —
    * linear, never all-pairs), shared by the hnsw rows. */
  private def hnswTruth(q: DataFrame, en: DataFrame): DataFrame = {
    val wBeam = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("node"))
    en.crossJoin(broadcast(q))
      .filter(col("node") =!= col("q_id"))
      .withColumn("sim",
        r6(cosPre(dot(col("qv"), col("nv")), col("qn") * col("nn"))))
      .withColumn("trn", row_number().over(wBeam))
      .filter(col("trn") <= 10)
      .select(col("q_id"), col("node"))
  }

  private def hnswSearch(s: SparkSession, d: String): DataFrame = {
    val (visiteds, q, en) = hnswVisitedByHop(s, d, "hnswVis")
    val visited = visiteds.last
    val wBeam = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("node"))
    val top10 = visited.filter(col("node") =!= col("q_id"))
      .withColumn("rn", row_number().over(wBeam)).filter(col("rn") <= 10)
      .select(col("q_id"), col("node"))
    val truth = hnswTruth(q, en)
    val counts = visited.select(lit(1).as("_s"))
      .unionByName(hnswEdges(s, d).select(lit(0).as("_s")))
      .agg(count(when(col("_s") === 1, lit(1))).as("n_scanned"),
        count(when(col("_s") === 0, lit(1))).as("n_edges"))
    truth.join(top10.withColumn("_h", lit(1)), Seq("q_id", "node"), "left")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("_h"), lit(0))).as("n_hits"))
      .crossJoin(broadcast(counts))
      .select(col("n_truth"), col("n_hits"),
        when(col("n_truth") > 0,
          (col("n_hits").cast("double") / col("n_truth").cast("double"))
            .cast(dec6).cast("double")).as("recall_at_10"),
        col("n_scanned"), col("n_edges"))
  }

  private def hnswEdgesBuild(s: SparkSession, d: String): DataFrame = {
    val sig = lshSigs(s, d)
    val cand = sig.select(col("vec_id").as("id_a"), col("band"), col("band_val"))
      .join(sig.select(col("vec_id").as("id_b"), col("band"), col("band_val")),
        Seq("band", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val e = withDoubles(s, d)
      .select(col("vec_id"), col("dv"), sqrt(dot(col("dv"), col("dv"))).as("nrm"))
    val ea = e.select(col("vec_id").as("id_a"), col("dv").as("va"), col("nrm").as("na"))
    val eb = e.select(col("vec_id").as("id_b"), col("dv").as("vb"), col("nrm").as("nb"))
    val sym = cand.join(ea, "id_a").join(eb, "id_b")
      .select(col("id_a"), col("id_b"),
        r6(cosPre(dot(col("va"), col("vb")), col("na") * col("nb"))).as("sim"))
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst"), col("sim")),
        struct(col("id_b").as("src"), col("id_a").as("dst"), col("sim")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.sim").as("sim"))
    val wDeg = Window.partitionBy(col("src")).orderBy(col("sim").desc, col("dst"))
    sym.withColumn("rn", row_number().over(wDeg)).filter(col("rn") <= hnswM)
      .select(col("src"), col("dst"))
  }

  /** Embedding dimension (one-row metadata read) and the derived PQ
    * subspace count — width-8 subspaces, count derived from the data so
    * a dim change tracks instead of silently truncating. Cached per
    * (session, corpus): five PQ/ADC consumers would otherwise each
    * launch the same blocking one-row driver job. */
  private val dimCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), (Int, Int)]
  private def pqDims(s: SparkSession, d: String): (Int, Int) =
    dimCache.computeIfAbsent((System.identityHashCode(s), d), _ => {
      import s.implicits._
      val dim = Io.table(s, d, "embeddings").limit(1)
        .select(size(col("embedding"))).as[Int].head()
      (dim, (dim + 7) / 8)
    })

  /** PQ codebook (label, pos, c): per-label exact-decimal centroid
    * coordinates — K = |labels| codewords per subspace (see h_pq_encode's
    * scaladoc for why a deterministic codebook stands in for trained
    * k-means here). The same label centroids, gathered whole by
    * [[pqCentArr]], are the IVF rows' coarse quantizer ([[ivfRanks]]).
    * Memoized + materialized per corpus: the encode pass, the ADC search
    * and the IVF cells consume one artifact, exactly as a production
    * index build writes its codebook once. */
  private def pqCent(s: SparkSession, d: String): DataFrame =
    Q.memoized(s, d, "pqCent") {
      Q.materialize(s, d, "pqCent") {
        Io.table(s, d, "embeddings")
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "f")))
          .groupBy(col("label"), (col("pos0") + 1).as("pos"))
          .agg((decSum12(col("f").cast("double")) / count(lit(1))).as("c"))
      }
    }

  /** Codebook gathered to pos-ordered double arrays (K rows) — the
    * broadcast-ready form every PQ distance pass and the IVF coarse
    * quantizer probe. */
  private def pqCentArr(s: SparkSession, d: String): DataFrame =
    pqCent(s, d).groupBy(col("label").as("c_label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("carr"))

  /** IVF cell ranks (vec_id, embedding, c_label, d2, rn) of every
    * vector: the label centroids as coarse quantizer, ties to the lower
    * label. A vec_id filter pushes below the window to the scan. */
  private def ivfRanks(s: SparkSession, d: String): DataFrame =
    centroidRanks(embeddingVecs(s, d), pqCentArr(s, d), "c_label")

  /** Every vector's IVF home cell (vec_id, cell) — the inverted file. */
  private def ivfCells(ranks: DataFrame): DataFrame =
    ranks.filter(col("rn") === 1).select(col("vec_id"), col("c_label").as("cell"))

  /** Per-subspace squared distances of `in`'s raw vectors against the
    * broadcast codebook: (vec_id, c_label, sub, d2), map-side — one
    * native sq_dist_dec per (vector, codeword, subspace) on array
    * slices, same exact-decimal value as the oracle's relational
    * (vec, sub, label) aggregate. */
  private def pqSubDist(s: SparkSession, d: String, in: DataFrame,
      nSubs: Int): DataFrame = {
    in.crossJoin(broadcast(pqCentArr(s, d)))
      .select(col("vec_id"), col("c_label"),
        posexplode(array((0 until nSubs).map(m =>
          expr(s"sq_dist_dec(slice(embedding, ${m * 8 + 1}, 8), " +
            s"slice(carr, ${m * 8 + 1}, 8))")): _*)).as(Seq("sub", "d2")))
  }

  /** PQ codes (vec_id, sub, code) — the compressed database
    * representation (M small codes per vector vs 4·D float bytes = 32×)
    * that encode, ADC search, and any real IVF-PQ index share. argmin is
    * min(struct(d2, label)) per (vec, sub) — struct ordering IS
    * "ORDER BY d2, label", so the tie-break matches the oracle's
    * row_number exactly. The assert_true filter makes a ragged embedding
    * column fail LOUDLY in Spark (the DuckDB generate_series side would
    * diverge, not error). */
  private[graft] def pqCodes(s: SparkSession, d: String): DataFrame =
    Q.memoized(s, d, "pqCodes") {
      Q.materialize(s, d, "pqCodes")(pqCodesBuild(s, d))
    }

  private def pqCodesBuild(s: SparkSession, d: String): DataFrame = {
    val (dim, nSubs) = pqDims(s, d)
    val e = Io.table(s, d, "embeddings")
      .filter(assert_true(size(col("embedding")) === dim,
        lit(s"pq: ragged embedding dim (expected $dim)")).isNull)
    pqSubDist(s, d, e, nSubs)
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("d2"), col("c_label"))).getField("c_label")
        .as("code"))
  }

  /** ADC candidate scores (q_id, nn_id, adc_d2) for the vec_id < 20
    * query set: per-query distance table (broadcast) probed by the
    * memoized code table, per-candidate sum in DECIMAL(38,12), snapped
    * at 1e-6. Shared by the top-k search and its recall audit. */
  private def adcScores(s: SparkSession, d: String): DataFrame = {
    val (_, nSubs) = pqDims(s, d)
    val dt = pqSubDist(s, d,
        Io.table(s, d, "embeddings").filter(col("vec_id") < 20), nSubs)
      .select(col("vec_id").as("q_id"), col("c_label").as("code"),
        col("sub"), col("d2"))
    pqCodes(s, d).withColumnRenamed("vec_id", "nn_id")
      .join(broadcast(dt), Seq("sub", "code"))
      .filter(col("nn_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("nn_id"))
      .agg(r6(sum(col("d2").cast(dec12)).cast("double")).as("adc_d2"))
  }

  /** DuckDB twin of the PQ build — CTE prefix `dims`/`lng`/`cent`/
    * `dist`/`codes`, the relational long form both PQ oracles share. */
  private val duckPqCodes =
    s"""WITH dims AS (SELECT UNNEST(generate_series(1,
       |  (SELECT MAX(len(embedding)) FROM embeddings))) AS pos),
       |lng AS (
       |  SELECT vec_id, pos, CAST((pos - 1) // 8 AS INT) AS sub,
       |    CAST(embedding[pos] AS DOUBLE) AS v
       |  FROM embeddings, dims),
       |cent AS (
       |  SELECT label, pos, ${dSum12("CAST(embedding[pos] AS DOUBLE)")} / COUNT(*) AS c
       |  FROM embeddings, dims GROUP BY label, pos),
       |dist AS (
       |  SELECT l.vec_id, l.sub, cent.label,
       |    CAST(SUM(CAST((l.v - cent.c) * (l.v - cent.c) AS DECIMAL(38,12)))
       |         AS DOUBLE) AS d2
       |  FROM lng l JOIN cent ON l.pos = cent.pos
       |  GROUP BY 1, 2, 3),
       |codes AS (
       |  SELECT vec_id, sub, label AS code FROM dist
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub
       |                             ORDER BY d2, label) = 1)""".stripMargin

  /** DuckDB twin of [[ivfRanks]] — CTEs `cdist`/`ranked`/`cells` over
    * [[duckPqCodes]]' `lng`/`cent` (the label centroids are the IVF
    * coarse quantizer in both engines). Shared by the five IVF oracles. */
  private val duckIvfCells =
    """cdist AS (
      |  SELECT l.vec_id, c.label AS c_label,
      |    CAST(SUM(CAST((l.v - c.c) * (l.v - c.c) AS DECIMAL(38,12)))
      |         AS DOUBLE) AS d2
      |  FROM lng l JOIN cent c ON l.pos = c.pos GROUP BY 1, 2),
      |ranked AS (
      |  SELECT vec_id, c_label,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn
      |  FROM cdist),
      |cells AS (SELECT vec_id, c_label AS cell FROM ranked WHERE rn = 1)""".stripMargin

  /** DuckDB twin of the per-query ADC distance table (CTE `dt`) —
    * `dist` restricted to the vec_id < 20 query set. */
  private val duckAdcDt =
    """dt AS (SELECT vec_id AS q_id, sub, label AS code, d2
      |       FROM dist WHERE vec_id < 20)""".stripMargin

  /** DuckDB twin of [[adcScores]] (CTEs `dt`/`adc`) — shared by the
    * top-k search and its recall audit, so the two oracles cannot
    * drift apart. */
  private val duckAdcScores =
    s"""$duckAdcDt,
       |adc AS (
       |  SELECT dt.q_id, c.vec_id AS nn_id,
       |    ROUND(CAST(SUM(CAST(dt.d2 AS DECIMAL(38,12))) AS DOUBLE), 6) AS adc_d2
       |  FROM codes c JOIN dt ON dt.sub = c.sub AND dt.code = c.code
       |  WHERE c.vec_id <> dt.q_id
       |  GROUP BY 1, 2)""".stripMargin

  val all: Seq[Q] = Seq(
    // Unit-L2 normalization; emit the norm and first components.
    Q("h_vector_norm", (s, d) => {
      // zero-vector guard (r12 degenerate sweep): the unit direction of
      // a zero vector is undefined — NULL on both engines (unguarded,
      // ANSI Spark raises while DuckDB's x/0 yields NULL)
      withDoubles(s, d)
        .withColumn("l2", sqrt(dot(col("dv"), col("dv"))))
        .select(col("vec_id"),
          r6(col("l2")).as("l2_norm"),
          r6(when(col("l2") =!= 0.0, element_at(col("dv"), 1) / col("l2")))
            .as("u1"),
          r6(when(col("l2") =!= 0.0, element_at(col("dv"), 2) / col("l2")))
            .as("u2"))
        .orderBy("vec_id")
    }, Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
        |n AS (SELECT vec_id, dv, SQRT(list_sum(list_transform(dv, x -> x * x))) AS l2 FROM e)
        |SELECT vec_id, ROUND(l2, 6) AS l2_norm,
        |  ROUND(CASE WHEN l2 <> 0 THEN dv[1] / l2 END, 6) AS u1,
        |  ROUND(CASE WHEN l2 <> 0 THEN dv[2] / l2 END, 6) AS u2
        |FROM n ORDER BY vec_id""".stripMargin)),

    // Exact global top-10 most-similar pairs (the correctness baseline
    // every ANN variant is measured against). Exactness is O(n²) here —
    // this corpus has no similarity gap (top pair ~0.51 cosine vs ~0.5
    // random-pair LSH collision rate, measured: 4×4-bit banding recalls
    // only 3/10 of the true top-10), so LSH candidates cannot replace
    // the full enumeration without breaking the brute-force oracle. The
    // quadratic is instead laid out scale-correctly: a blocked triangle
    // equi-join (PairJoins) — no BroadcastNestedLoopJoin, per-task
    // memory 2n/B, top-k fused via TakeOrderedAndProject. At 100 TB the
    // ANN variants (h_ann_ivf / h_ann_lsh) are the intended path; this
    // op is their exact yardstick.
    Q("h_cosine_topk", (s, d) => {
      // norms precomputed per vector (O(n)), the pair loop pays one dot.
      val e = withDoubles(s, d)
        .select(col("vec_id"), col("dv"), sqrt(dot(col("dv"), col("dv"))).as("nrm"))
      PairJoins.trianglePairs(e, Nil, "vec_id", 8)
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
          r6(cosPre(dot(col("a.dv"), col("b.dv")), col("a.nrm") * col("b.nrm"))).as("sim"))
        .orderBy(col("sim").desc, col("id_a"), col("id_b"))
        .limit(10)
    }, Some(
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, ROUND($duckCos, 6) AS sim
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |ORDER BY sim DESC, id_a, id_b LIMIT 10""".stripMargin)),

    // k-NN: top-3 same-label neighbors for each query vector (vec_id<20).
    Q("h_knn_per_label", (s, d) => {
      val e = withDoubles(s, d).select(col("vec_id"), col("label"), col("dv"))
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"), col("dv").as("qv"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
      q.join(e, col("q_label") === col("label") && col("q_id") =!= col("vec_id"))
        .withColumn("sim", r6(cosine(col("qv"), col("dv"))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("q_id"), col("rn"), col("vec_id").as("nn_id"), col("label"), col("sim"))
        .orderBy("q_id", "rn")
    }, Some(
      s"""SELECT a.vec_id AS q_id,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY a.vec_id
         |                          ORDER BY ROUND($duckCos, 6) DESC, b.vec_id) AS INT) AS rn,
         |  b.vec_id AS nn_id, b.label, ROUND($duckCos, 6) AS sim
         |FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id <> b.vec_id
         |WHERE a.vec_id < 20
         |QUALIFY rn <= 3 ORDER BY q_id, rn""".stripMargin)),

    // Per-label centroids in long form (label, pos, mean) — pure
    // relational, portable, and the cross-check target for the typed
    // Aggregator UDAF (u_udaf_aggregator).
    Q("h_centroids", (s, d) => {
      Io.table(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "v")))
        .groupBy(col("label"), (col("pos0") + 1).as("pos"))
        .agg(count(lit(1)).as("n"),
          r6(decSum12(col("v").cast("double")) / count(lit(1))).as("centroid"))
        .orderBy("label", "pos")
    }, Some(
      s"""SELECT label, CAST(i AS INT) AS pos, COUNT(*) AS n,
         |  ROUND(${dSum12("CAST(embedding[i] AS DOUBLE)")} / COUNT(*), 6) AS centroid
         |FROM embeddings,
         |  (SELECT UNNEST(generate_series(1,
         |     (SELECT MAX(len(embedding)) FROM embeddings))) AS i)
         |GROUP BY label, i ORDER BY label, pos""".stripMargin)),

    // Embedding-distribution drift monitor — the check an embedding
    // pipeline runs between two corpus snapshots (here the deterministic
    // even/odd vec_id halves) before trusting an index or a trained
    // probe: per label, the cosine between the two halves' centroids
    // and the L2 centroid shift. Shape: ONE posexploded pass to
    // (label, half, dim) exact-decimal means (the h_centroids plan),
    // then a |labels|×dims self-join — metadata-sized at any corpus
    // scale. Parity: means are decimal-sum/int-count raw quotients
    // (engine-identical); the cross-dim reductions (dot, norms,
    // squared diff) are 64-term floor(x·1e12+0.5) BIGINT sums — no
    // order-dependent double accumulation; cosine divides through
    // identically-rounded sqrt/product chains with zero-norm guards
    // (NULL on both engines).
    Q("h_embed_drift", (s, d) => {
      // scratch: the even/odd branches below would otherwise each
      // re-run the posexploded corpus pass
      val cent = Q.scratch("embedDriftCent")(
        Io.table(s, d, "embeddings")
          .select(col("label"), (col("vec_id") % 2).cast("int").as("half"),
            posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy(col("label"), col("half"), col("pos"))
          .agg(count(lit(1)).as("n"),
            (decSum12(col("v").cast("double")) / count(lit(1))).as("c")))
      val a = cent.filter(col("half") === 0)
        .select(col("label"), col("pos"), col("c").as("ca"), col("n").as("na"))
      val b = cent.filter(col("half") === 1)
        .select(col("label"), col("pos"), col("c").as("cb"), col("n").as("nb"))
      def t12(c: Column) = floor(c * 1e12 + 0.5).cast("long")
      val dotD = col("dot12").cast("double") / 1e12
      val naaD = col("naa12").cast("double") / 1e12
      val nbbD = col("nbb12").cast("double") / 1e12
      a.join(b, Seq("label", "pos"))
        .groupBy(col("label"))
        .agg(max(col("na")).as("n_even"), max(col("nb")).as("n_odd"),
          sum(t12(col("ca") * col("cb"))).as("dot12"),
          sum(t12(col("ca") * col("ca"))).as("naa12"),
          sum(t12(col("cb") * col("cb"))).as("nbb12"),
          sum(t12((col("ca") - col("cb")) * (col("ca") - col("cb"))))
            .as("dd12"))
        .select(col("label"), col("n_even"), col("n_odd"),
          when(col("naa12") > 0 && col("nbb12") > 0,
            dotD / sqrt(naaD * nbbD)).as("centroid_cos"),
          sqrt(col("dd12").cast("double") / 1e12).as("centroid_l2"))
        .orderBy("label")
    }, Some(
      s"""WITH cent AS (
         |  SELECT label, CAST(vec_id % 2 AS INT) AS half, i AS pos,
         |    COUNT(*) AS n,
         |    ${dSum12("CAST(embedding[i] AS DOUBLE)")} / COUNT(*) AS c
         |  FROM embeddings,
         |    (SELECT UNNEST(generate_series(1,
         |       (SELECT MAX(len(embedding)) FROM embeddings))) AS i)
         |  GROUP BY 1, 2, 3),
         |j AS (
         |  SELECT a.label, a.n AS na, b.n AS nb, a.c AS ca, b.c AS cb
         |  FROM cent a JOIN cent b
         |    ON a.label = b.label AND a.pos = b.pos
         |   AND a.half = 0 AND b.half = 1),
         |g AS (
         |  SELECT label,
         |    CAST(MAX(na) AS BIGINT) AS n_even,
         |    CAST(MAX(nb) AS BIGINT) AS n_odd,
         |    CAST(SUM(CAST(FLOOR(ca * cb * 1e12 + 0.5) AS BIGINT))
         |         AS BIGINT) AS dot12,
         |    CAST(SUM(CAST(FLOOR(ca * ca * 1e12 + 0.5) AS BIGINT))
         |         AS BIGINT) AS naa12,
         |    CAST(SUM(CAST(FLOOR(cb * cb * 1e12 + 0.5) AS BIGINT))
         |         AS BIGINT) AS nbb12,
         |    CAST(SUM(CAST(FLOOR((ca - cb) * (ca - cb) * 1e12 + 0.5)
         |         AS BIGINT)) AS BIGINT) AS dd12
         |  FROM j GROUP BY 1)
         |SELECT label, n_even, n_odd,
         |  CASE WHEN naa12 > 0 AND nbb12 > 0 THEN
         |    (CAST(dot12 AS DOUBLE) / 1e12)
         |      / SQRT((CAST(naa12 AS DOUBLE) / 1e12)
         |             * (CAST(nbb12 AS DOUBLE) / 1e12))
         |  END AS centroid_cos,
         |  SQRT(CAST(dd12 AS DOUBLE) / 1e12) AS centroid_l2
         |FROM g ORDER BY label""".stripMargin)),

    // IVF-style ANN: coarse-quantize every vector to its nearest label
    // centroid (the inverted-file cell), then run top-3 search only
    // within the probe cell. The 100 TB shape: centroids broadcast,
    // vectors shuffle once by cell id, per-cell search is local.
    Q("h_ann_ivf", (s, d) => {
      val cells = ivfCells(ivfRanks(s, d))
      // top-3 cosine within the query's cell.
      val ev = withDoubles(s, d).select(col("vec_id"), col("dv"))
        .join(cells, "vec_id")
      val q = ev.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("cell").as("q_cell"), col("dv").as("qv"))
      val wK = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
      q.join(ev, col("q_cell") === col("cell") && col("q_id") =!= col("vec_id"))
        .withColumn("sim", r6(cosine(col("qv"), col("dv"))))
        .withColumn("rn", row_number().over(wK))
        .filter(col("rn") <= 3)
        .select(col("q_id"), col("rn"), col("vec_id").as("nn_id"), col("cell"), col("sim"))
        .orderBy("q_id", "rn")
    }, Some(
      s"""$duckPqCodes,
         |$duckIvfCells,
         |ev AS (
         |  SELECT e.vec_id, e.embedding, cells.cell
         |  FROM embeddings e JOIN cells USING (vec_id))
         |SELECT a.vec_id AS q_id,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY a.vec_id
         |                          ORDER BY ROUND($duckCos, 6) DESC, b.vec_id) AS INT) AS rn,
         |  b.vec_id AS nn_id, b.cell, ROUND($duckCos, 6) AS sim
         |FROM ev a JOIN ev b ON a.cell = b.cell AND a.vec_id <> b.vec_id
         |WHERE a.vec_id < 20
         |QUALIFY rn <= 3 ORDER BY q_id, rn""".stripMargin)),

    // Multi-probe IVF — THE recall knob of an IVF index: single-probe
    // search misses any true neighbor whose home cell differs from the
    // query's (the boundary-vector problem); probing the query's 2
    // nearest cells recovers most of that loss for ~2× the candidate
    // cost, tunable without touching the index. Database vectors keep
    // their single home cell (the inverted file is unchanged); only the
    // QUERY fans out — so at 100 TB the extra cost is one more posting
    // list per query, not a bigger index. Same exact-decimal coarse
    // quantizer as h_ann_ivf, so the probe-cell choice (ties → lower
    // label) is engine-identical and the oracle replicates the whole
    // approximation, recall included.
    Q("h_ann_ivf_probe2", (s, d) => {
      val ranked = ivfRanks(s, d)
      val cells = ivfCells(ranked)
      val probes = ranked.filter(col("rn") <= 2 && col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("c_label").as("probe_cell"))
      val ev = withDoubles(s, d).select(col("vec_id"), col("dv")).join(cells, "vec_id")
      val q = withDoubles(s, d).filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("dv").as("qv"))
        .join(probes, "q_id")
      val wK = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
      q.join(ev, col("probe_cell") === col("cell") && col("q_id") =!= col("vec_id"))
        .withColumn("sim", r6(cosine(col("qv"), col("dv"))))
        .withColumn("rn", row_number().over(wK))
        .filter(col("rn") <= 3)
        .select(col("q_id"), col("rn"), col("vec_id").as("nn_id"), col("cell"), col("sim"))
        .orderBy("q_id", "rn")
    }, Some(
      s"""$duckPqCodes,
         |$duckIvfCells,
         |probes AS (
         |  SELECT vec_id AS q_id, c_label AS probe_cell FROM ranked
         |  WHERE rn <= 2 AND vec_id < 20),
         |ev AS (
         |  SELECT e.vec_id, e.embedding, cells.cell
         |  FROM embeddings e JOIN cells USING (vec_id))
         |SELECT p.q_id,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY p.q_id
         |                          ORDER BY ROUND($duckCos, 6) DESC, b.vec_id) AS INT) AS rn,
         |  b.vec_id AS nn_id, b.cell, ROUND($duckCos, 6) AS sim
         |FROM probes p JOIN embeddings a ON a.vec_id = p.q_id
         |  JOIN ev b ON b.cell = p.probe_cell AND b.vec_id <> p.q_id
         |QUALIFY rn <= 3 ORDER BY q_id, rn""".stripMargin)),

    // The IVF recall/cost CURVE — the knob itself as a checked row
    // (r11 VERDICT stretch): for nprobe = 1..4, recall@3 of the probed
    // candidate set against the exact per-query cosine top-3, next to
    // the candidate count that is the knob's price. This is the table
    // an index operator actually reads to pick nprobe. Shape at
    // 100 TB: the quantizer is the shared exact-decimal coarse
    // assignment (centroids broadcast, one cell shuffle), the
    // candidate census is ONE probe-rank-keyed equi-join counted
    // cumulatively over the 4-row nprobe spine, and the ground truth
    // is per-QUERY exact cosine (20 queries × n — linear, not the
    // all-pairs yardstick). Everything emitted is an integer or an
    // int/int division (engine-exact, no snaps).
    Q("h_ann_nprobe_curve", (s, d) => {
      val ranked = ivfRanks(s, d)
      val cells = ivfCells(ranked)
      val qprobes = ranked.filter(col("rn") <= 4 && col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("c_label").as("probe_cell"),
          col("rn").as("prn"))
      // candidate census per (query, probe rank): home cells are
      // unique, so each (q, v) candidate appears at exactly one prn
      val cand = qprobes.join(cells,
          col("probe_cell") === col("cell") && col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id"), col("prn"))
      val spine = s.range(1, 5).select(col("id").cast("int").as("nprobe"))
      // census by probe rank FIRST (≤4 rows), then the cumulative sum
      // over the 4×4 spine join — the nprobe fan-out never touches
      // data-sized rows
      val prnCounts = cand.groupBy(col("prn")).agg(count(lit(1)).as("c"))
      val costs = spine.join(prnCounts, col("prn") <= col("nprobe"))
        .groupBy(col("nprobe")).agg(sum(col("c")).as("n_candidates"))
      // exact per-query ground truth: top-3 by cosine over ALL vectors
      val ed = withDoubles(s, d).select(col("vec_id"), col("dv"))
      val qv = ed.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("dv").as("qv"))
      val wK = Window.partitionBy(col("q_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      val truth = qv.join(ed, col("q_id") =!= col("vec_id"))
        .withColumn("sim", r6(cosine(col("qv"), col("dv"))))
        .withColumn("trn", row_number().over(wK))
        .filter(col("trn") <= 3)
        .select(col("q_id"), col("vec_id"))
      // minimal probe rank that reaches each true neighbor
      val reach = truth.join(cand, Seq("q_id", "vec_id"), "left")
      spine.join(costs, Seq("nprobe"), "left")
        .crossJoin(broadcast(reach.agg(count(lit(1)).as("n_truth"))
          .select(col("n_truth"))))
        .join(reach.crossJoin(spine.select(col("nprobe").as("k")))
          .filter(col("prn") <= col("k"))
          .groupBy(col("k").as("nprobe")).agg(count(lit(1)).as("n_hits")),
          Seq("nprobe"), "left")
        .select(col("nprobe"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          col("n_truth"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          when(col("n_truth") > 0,
            coalesce(col("n_hits"), lit(0L)).cast("double") /
              col("n_truth").cast("double")).as("recall_at_3"))
        .orderBy("nprobe")
    }, Some(
      s"""$duckPqCodes,
         |$duckIvfCells,
         |qprobes AS (
         |  SELECT vec_id AS q_id, c_label AS probe_cell, rn AS prn
         |  FROM ranked WHERE rn <= 4 AND vec_id < 20),
         |cand AS (
         |  SELECT p.q_id, c.vec_id, p.prn
         |  FROM qprobes p JOIN cells c
         |    ON c.cell = p.probe_cell AND c.vec_id <> p.q_id),
         |spine AS (SELECT CAST(UNNEST(generate_series(1, 4)) AS INT)
         |          AS nprobe),
         |prnc AS (SELECT prn, COUNT(*) AS c FROM cand GROUP BY prn),
         |costs AS (
         |  SELECT s.nprobe, CAST(SUM(c) AS BIGINT) AS n_candidates
         |  FROM spine s JOIN prnc ON prnc.prn <= s.nprobe
         |  GROUP BY s.nprobe),
         |truth AS (
         |  SELECT a.vec_id AS q_id, b.vec_id
         |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         |  WHERE a.vec_id < 20
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY a.vec_id
         |    ORDER BY ROUND($duckCos, 6) DESC, b.vec_id) <= 3),
         |reach AS (
         |  SELECT t.q_id, t.vec_id, cand.prn
         |  FROM truth t LEFT JOIN cand
         |    ON cand.q_id = t.q_id AND cand.vec_id = t.vec_id),
         |nt AS (SELECT COUNT(*) AS n_truth FROM reach),
         |hits AS (
         |  SELECT s.nprobe, COUNT(*) AS n_hits
         |  FROM spine s JOIN reach r ON r.prn <= s.nprobe
         |  GROUP BY s.nprobe)
         |SELECT s.nprobe,
         |  CAST(COALESCE(c.n_candidates, 0) AS BIGINT) AS n_candidates,
         |  nt.n_truth,
         |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  CASE WHEN nt.n_truth > 0 THEN
         |    CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
         |      / CAST(nt.n_truth AS DOUBLE) END AS recall_at_3
         |FROM spine s
         |  LEFT JOIN costs c USING (nprobe)
         |  LEFT JOIN hits h ON h.nprobe = s.nprobe
         |  CROSS JOIN nt
         |ORDER BY s.nprobe""".stripMargin)),

    // Lloyd's k-means, the IVF index BUILD step made explicit: K=4
    // centroids seeded from vec_id < 4 (deterministic init — rand()
    // init is unreproducible across engines and retries), one full
    // assign→update round, then the final assignment. Every stage is
    // the 100 TB shape: centroids broadcast (K·dim values), distance
    // is the map-side native sq_dist_dec, the update is one shuffle of
    // (cid, pos, value) partial sums. Centroid means are exact decimal
    // sums and distances accumulate in DECIMAL(38,12), so the argmin
    // (tie-break cid) is engine-identical — the oracle re-derives both
    // iterations relationally.
    Q("h_kmeans_lloyd", (s, d) => {
      kmAssign(s, d, kmCent1(s, d))
        .select(col("vec_id"), col("cid").as("cluster"),
          col("d2").cast(dec6).cast("double").as("d2"))
        .orderBy("vec_id")
    }, Some(
      s"""WITH $kmSqlCtes,
         |a2 AS (
         |  SELECT vec_id, cid, d2 FROM d2t
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1)
         |SELECT vec_id, cid AS cluster,
         |  CAST(CAST(d2 AS DECIMAL(38,6)) AS DOUBLE) AS d2
         |FROM a2 ORDER BY vec_id""".stripMargin)),

    // Simplified silhouette (Hruschka et al.'s centroid form) over the
    // shared round-1 Lloyd model: a = squared distance to the assigned
    // (nearest) centroid, b = to the second-nearest, s = (b−a)/max(a,b)
    // per vector, reported as per-cluster means. Centroid distances are
    // the exact-decimal sq_dist_dec values (cast to engine-identical
    // doubles — unscaled far below 2^53), s is one division of
    // identical operands, and the per-cluster mean is an exact decimal
    // sum (two-way-hopped in the oracle) over an integer count. Scale:
    // K broadcast centroids × one map-side pass — the same plan as the
    // k-means assignment itself; no pair stage.
    Q("h_silhouette", (s, d) => {
      val ranked = centroidRanks(embeddingVecs(s, d), kmCent1(s, d), "cid")
        .filter(col("rn") <= 2).withColumn("d2d", col("d2").cast("double"))
      val ab = ranked.groupBy(col("vec_id"))
        .agg(min(when(col("rn") === 1, col("cid"))).as("cluster"),
          min(when(col("rn") === 1, col("d2d"))).as("a"),
          min(when(col("rn") === 2, col("d2d"))).as("b"))
      val sil = ab.withColumn("sil",
        when(greatest(col("a"), col("b")) > 0,
          (col("b") - col("a")) / greatest(col("a"), col("b")))
          .otherwise(lit(0.0)))
      sil.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_vecs"),
          (sum(col("sil").cast(dec12)).cast("double") / count(lit(1)))
            .as("mean_silhouette"))
        .orderBy("cluster")
    }, Some(
      s"""WITH $kmSqlCtes,
         |rk AS (
         |  SELECT vec_id, cid, d2,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         |  FROM d2t),
         |ab AS (
         |  SELECT vec_id,
         |    MIN(CASE WHEN rn = 1 THEN cid END) AS cluster,
         |    MIN(CASE WHEN rn = 1 THEN d2 END) AS a,
         |    MIN(CASE WHEN rn = 2 THEN d2 END) AS b
         |  FROM rk WHERE rn <= 2 GROUP BY vec_id),
         |sil AS (
         |  SELECT cluster,
         |    CASE WHEN GREATEST(a, b) > 0 THEN (b - a) / GREATEST(a, b)
         |    ELSE CAST(0.0 AS DOUBLE) END AS sil
         |  FROM ab)
         |SELECT cluster, COUNT(*) AS n_vecs,
         |  CAST(CAST(SUM(CAST(CAST(sil AS VARCHAR) AS DECIMAL(38,12)))
         |       AS VARCHAR) AS DOUBLE) / COUNT(*) AS mean_silhouette
         |FROM sil GROUP BY cluster ORDER BY cluster""".stripMargin)),

    // LSH-bucketed ANN (the second scale path next to IVF): top-3
    // neighbors per query among vectors sharing >= 1 signature band.
    // Candidate recall is a function of the band layout only, and the
    // oracle replicates the layout exactly — so the approximation itself
    // is verified, not just the final arithmetic.
    Q("h_ann_lsh", (s, d) => {
      val sig = lshSigs(s, d)
      val qsig = sig.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("band"), col("band_val"))
      val cand = qsig.join(sig, Seq("band", "band_val"))
        .filter(col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id").as("nn_id")).distinct()
      val e = withDoubles(s, d)
        .select(col("vec_id"), col("dv"), sqrt(dot(col("dv"), col("dv"))).as("nrm"))
      val qe = e.select(col("vec_id").as("q_id"), col("dv").as("qv"), col("nrm").as("qn"))
      val ne = e.select(col("vec_id").as("nn_id"), col("dv").as("nv"), col("nrm").as("nn"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("nn_id"))
      cand.join(qe, "q_id").join(ne, "nn_id")
        .withColumn("sim", r6(cosPre(dot(col("qv"), col("nv")), col("qn") * col("nn"))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("q_id"), col("rn"), col("nn_id"), col("sim"))
        .orderBy("q_id", "rn")
    }, Some(
      s"""WITH $duckSig,
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS q_id, n.vec_id AS nn_id
         |  FROM sig q JOIN sig n
         |    ON q.band = n.band AND q.band_val = n.band_val AND q.vec_id <> n.vec_id
         |  WHERE q.vec_id < 20)
         |SELECT c.q_id,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY c.q_id
         |    ORDER BY ROUND($duckCos, 6) DESC, c.nn_id) AS INT) AS rn,
         |  c.nn_id, ROUND($duckCos, 6) AS sim
         |FROM cand c JOIN embeddings a ON a.vec_id = c.q_id
         |            JOIN embeddings b ON b.vec_id = c.nn_id
         |QUALIFY rn <= 3 ORDER BY q_id, rn""".stripMargin)),

    // Scale-safe APPROXIMATE global top-k similar pairs — completes the
    // family: h_cosine_topk is the exact O(n²) yardstick (blocked
    // triangle), this is the sub-quadratic 100 TB form. Candidates =
    // pairs sharing >= 1 LSH band (equi-join on (band, band_val), the
    // only shuffle), cosine-verified, global top-10 via
    // TakeOrderedAndProject. The oracle replicates the banding, so the
    // approximation — candidate recall included — is itself
    // parity-checked, exactly like h_ann_lsh.
    Q("h_ann_topk_pairs", (s, d) => {
      val sig = lshSigs(s, d)
      val a = sig.select(col("vec_id").as("id_a"), col("band"), col("band_val"))
      val b = sig.select(col("vec_id").as("id_b"), col("band"), col("band_val"))
      val cand = a.join(b, Seq("band", "band_val"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      val e = withDoubles(s, d)
        .select(col("vec_id"), col("dv"), sqrt(dot(col("dv"), col("dv"))).as("nrm"))
      val ea = e.select(col("vec_id").as("id_a"), col("dv").as("va"), col("nrm").as("na"))
      val eb = e.select(col("vec_id").as("id_b"), col("dv").as("vb"), col("nrm").as("nb"))
      cand.join(ea, "id_a").join(eb, "id_b")
        .select(col("id_a"), col("id_b"),
          r6(cosPre(dot(col("va"), col("vb")), col("na") * col("nb"))).as("sim"))
        .orderBy(col("sim").desc, col("id_a"), col("id_b"))
        .limit(10)
    }, Some(
      s"""WITH $duckSig,
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM sig x JOIN sig y
         |    ON x.band = y.band AND x.band_val = y.band_val AND x.vec_id < y.vec_id)
         |SELECT c.id_a, c.id_b, ROUND($duckCos, 6) AS sim
         |FROM cand c JOIN embeddings a ON a.vec_id = c.id_a
         |            JOIN embeddings b ON b.vec_id = c.id_b
         |ORDER BY sim DESC, id_a, id_b LIMIT 10""".stripMargin)),

    // ANN recall report — "measure, don't guess" as a first-class
    // query: recall@10 of the banded-LSH candidate path against the
    // exact blocked-triangle top-10. Both paths are themselves
    // oracle-replicated (duckSig re-derives every signature bit), so
    // the recall NUMBER is parity-checked, not just asserted in a
    // test. On this gap-less corpus 4×4-bit banding recalls ~3/10 —
    // exactly why the exact op stays in the inventory; at 100 TB this
    // query is the cheap canary run before trusting an ANN index.
    Q("h_ann_recall", (s, d) => {
      val e = withDoubles(s, d)
        .select(col("vec_id"), col("dv"), sqrt(dot(col("dv"), col("dv"))).as("nrm"))
      val exact = PairJoins.trianglePairs(e, Nil, "vec_id", 8)
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
          r6(cosPre(dot(col("a.dv"), col("b.dv")), col("a.nrm") * col("b.nrm"))).as("sim"))
        .orderBy(col("sim").desc, col("id_a"), col("id_b")).limit(10)
      val sig = lshSigs(s, d)
      val cand = sig.select(col("vec_id").as("id_a"), col("band"), col("band_val"))
        .join(sig.select(col("vec_id").as("id_b"), col("band"), col("band_val")),
          Seq("band", "band_val"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      exact.join(cand.withColumn("_hit", lit(1)), Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("_hit"), lit(0))).as("n_hits"))
        .select(col("n_exact"), col("n_hits"),
          (col("n_hits") / col("n_exact"))
            .cast(DecimalType(38, 6)).cast("double").as("recall_at_10"))
    }, Some(
      s"""WITH $duckSig,
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM sig x JOIN sig y
         |    ON x.band = y.band AND x.band_val = y.band_val AND x.vec_id < y.vec_id),
         |exact AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, ROUND($duckCos, 6) AS sim
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |  ORDER BY sim DESC, id_a, id_b LIMIT 10)
         |SELECT COUNT(*) AS n_exact,
         |  CAST(SUM(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hits,
         |  CAST(CAST(SUM(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END)
         |       / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(38,6)) AS DOUBLE)
         |    AS recall_at_10
         |FROM exact e LEFT JOIN cand c ON e.id_a = c.id_a AND e.id_b = c.id_b"""
        .stripMargin)),

    // IR-grade ANN index evaluation: MRR and nDCG@10 of the LSH index
    // against exact per-query ground truth — recall@k (h_ann_recall)
    // says WHETHER true neighbors surface; these say WHERE they rank.
    // Ground truth: exact cosine top-10 per query (20 queries broadcast
    // against one corpus scan — the eval set is small by construction,
    // so "brute force" here is a bounded map-side pass, not a pair
    // blowup). Relevance = 11 − exact_rank (graded), gain/log₂(pos+1)
    // with each log₂ 1e-12-snapped (hop twin; ten distinct values),
    // IDCG from the same snapped spelling over ranks 1..10, per-query
    // nDCG/MRR snapped then exactly summed; the two means are raw
    // quotients. Queries whose LSH buckets surface nothing score 0 —
    // absence is a grade, not a dropped row.
    Q("h_ann_mrr_ndcg", (s, d) => {
      def snap12(c: Column): Column = c.cast(dec12).cast("double")
      def decSum18(c: Column): Column =
        sum(c.cast(DecimalType(38, 18))).cast("double")
      val e = withDoubles(s, d)
        .select(col("vec_id"), col("dv"), sqrt(dot(col("dv"), col("dv"))).as("nrm"))
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("dv").as("qv"), col("nrm").as("qn"))
      val wq = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("nn_id"))
      val exact = e.select(col("vec_id").as("nn_id"), col("dv").as("nv"),
          col("nrm").as("nn"))
        .crossJoin(broadcast(q))
        .filter(col("nn_id") =!= col("q_id"))
        .withColumn("sim", r6(cosPre(dot(col("qv"), col("nv")), col("qn") * col("nn"))))
        .withColumn("erk", row_number().over(wq))
        .filter(col("erk") <= 10)
        .select(col("q_id"), col("nn_id"), col("erk"))
      val sig = lshSigs(s, d)
      val cand = sig.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("band"), col("band_val"))
        .join(sig.select(col("vec_id").as("nn_id"), col("band"), col("band_val")),
          Seq("band", "band_val"))
        .filter(col("q_id") =!= col("nn_id"))
        .select("q_id", "nn_id").distinct()
      val ann = cand
        .join(q, "q_id")
        .join(e.select(col("vec_id").as("nn_id"), col("dv").as("nv"),
          col("nrm").as("nn")), "nn_id")
        .withColumn("sim", r6(cosPre(dot(col("qv"), col("nv")), col("qn") * col("nn"))))
        .withColumn("pos", row_number().over(wq))
        .filter(col("pos") <= 10)
        .select(col("q_id"), col("nn_id"), col("pos"))
      val terms = ann.join(exact, Seq("q_id", "nn_id"), "left")
        .select(col("q_id"), col("pos"),
          coalesce(lit(11L) - col("erk"), lit(0L)).as("gain"),
          col("erk"))
      val perQ = terms.groupBy(col("q_id"))
        .agg(decSum18(snap12(col("gain").cast("double") /
            snap12(log2(col("pos").cast("double") + 1.0)))).as("dcg"),
          min(when(col("erk") === 1, col("pos"))).as("best_pos"))
      val idcg = s.range(1, 11).select(
          snap12(lit(11.0) - col("id")).as("g"),
          snap12(log2(col("id").cast("double") + 1.0)).as("lg"))
        .agg(decSum18(snap12(col("g") / col("lg"))).as("idcg"))
      val scored = q.select(col("q_id"))
        .join(perQ, Seq("q_id"), "left")
        .crossJoin(broadcast(idcg))
        .select(
          snap12(coalesce(col("dcg") / col("idcg"), lit(0.0))).as("ndcg"),
          snap12(coalesce(lit(1.0) / col("best_pos"), lit(0.0))).as("rr"))
      scored.agg(count(lit(1)).as("n_queries"),
          decSum18(col("ndcg")).as("sn"), decSum18(col("rr")).as("sr"))
        .select(col("n_queries"),
          (col("sr") / col("n_queries")).as("mrr"),
          (col("sn") / col("n_queries")).as("ndcg_at_10"))
    }, Some({
      def hop(x: String) =
        s"CAST(CAST(CAST(CAST(CASE WHEN ABS($x) < 5e-13 THEN CAST(0 AS DOUBLE)" +
          s" ELSE $x END AS VARCHAR) AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE)"
      def s18(x: String) =
        s"CAST(CAST(SUM(CAST(CAST($x AS VARCHAR) AS DECIMAL(38,18)))" +
          s" AS VARCHAR) AS DOUBLE)"
      s"""WITH $duckSig,
         |exact AS (
         |  SELECT q_id, nn_id, erk FROM (
         |    SELECT a.vec_id AS q_id, b.vec_id AS nn_id,
         |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
         |        ORDER BY ROUND($duckCos, 6) DESC, b.vec_id) AS erk
         |    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         |    WHERE a.vec_id < 20)
         |  WHERE erk <= 10),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS q_id, y.vec_id AS nn_id
         |  FROM sig x JOIN sig y
         |    ON x.band = y.band AND x.band_val = y.band_val
         |      AND x.vec_id <> y.vec_id
         |  WHERE x.vec_id < 20),
         |ann AS (
         |  SELECT q_id, nn_id, pos FROM (
         |    SELECT c.q_id, c.nn_id,
         |      ROW_NUMBER() OVER (PARTITION BY c.q_id
         |        ORDER BY ROUND($duckCos, 6) DESC, c.nn_id) AS pos
         |    FROM cand c
         |    JOIN embeddings a ON a.vec_id = c.q_id
         |    JOIN embeddings b ON b.vec_id = c.nn_id)
         |  WHERE pos <= 10),
         |terms AS (
         |  SELECT an.q_id, an.pos,
         |    COALESCE(11 - ex.erk, 0) AS gain, ex.erk
         |  FROM ann an LEFT JOIN exact ex USING (q_id, nn_id)),
         |perq AS (
         |  SELECT q_id,
         |    ${s18(hop(s"CAST(gain AS DOUBLE) / ${hop("LOG2(CAST(pos AS DOUBLE) + 1.0)")}"))}
         |      AS dcg,
         |    MIN(CASE WHEN erk = 1 THEN pos END) AS best_pos
         |  FROM terms GROUP BY q_id),
         |idcg AS (
         |  SELECT ${s18(hop(s"${hop("11.0 - i")} / ${hop("LOG2(CAST(i AS DOUBLE) + 1.0)")}"))}
         |    AS idcg
         |  FROM (SELECT UNNEST(generate_series(1, 10)) AS i)),
         |scored AS (
         |  SELECT
         |    ${hop("COALESCE(p.dcg / idcg.idcg, CAST(0 AS DOUBLE))")} AS ndcg,
         |    ${hop("COALESCE(CAST(1 AS DOUBLE) / p.best_pos, CAST(0 AS DOUBLE))")}
         |      AS rr
         |  FROM (SELECT DISTINCT vec_id AS q_id FROM embeddings
         |        WHERE vec_id < 20) ql
         |  LEFT JOIN perq p USING (q_id) CROSS JOIN idcg)
         |SELECT COUNT(*) AS n_queries,
         |  ${s18("rr")} / COUNT(*) AS mrr,
         |  ${s18("ndcg")} / COUNT(*) AS ndcg_at_10
         |FROM scored""".stripMargin
    })),

    // Graph-based ANN (HNSW-lite) — the fourth index family next to
    // IVF (h_ann_ivf*/h_ann_nprobe_curve), LSH buckets (h_ann_lsh) and
    // IVF-PQ (h_ann_ivfpq): a bounded-degree navigable neighbor graph
    // (hnswEdges — per-node top-M LSH candidates by snapped cosine,
    // memoized+materialized once per corpus like every index artifact)
    // searched by fixed-hop beam expansion from per-query LSH-bucket
    // seeds (the job HNSW's upper layers do — see hnswSearch's
    // scaladoc for why a single global entry is useless on a
    // clustered graph): each hop joins the beam to its out-edges,
    // exact-scores the new candidates against the query, and re-ranks
    // the visited set down to beam width B — HNSW's greedy best-first
    // base-layer search, unrolled to H hops so the whole search is H
    // keyed joins + bounded per-query windows (no iteration state, no
    // cartesian). Emitted: recall@10 of the search's final top-10
    // against the exact per-query top-10 (the h_ann_recall discipline
    // — the approximation itself is the checked number) next to the
    // candidates-scanned and graph-size cost columns (the
    // h_ann_nprobe_curve discipline). The oracle re-derives every
    // signature bit, the graph pruning, and all three unrolled hops.
    // Shape at 100 TB: the build is one (band, band_val) equi-join +
    // one src-keyed top-M window; each search hop touches ≤ queries ×
    // B×M rows; ground truth is per-QUERY linear, not all-pairs.
    Q("h_ann_hnsw", (s, d) => hnswSearch(s, d), Some(
      s"""WITH $duckSig,
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM sig x JOIN sig y
         |    ON x.band = y.band AND x.band_val = y.band_val AND x.vec_id < y.vec_id),
         |pairsim AS (
         |  SELECT c.id_a, c.id_b, ROUND($duckCos, 6) AS sim
         |  FROM cand c JOIN embeddings a ON a.vec_id = c.id_a
         |              JOIN embeddings b ON b.vec_id = c.id_b),
         |sym AS (
         |  SELECT id_a AS src, id_b AS dst, sim FROM pairsim
         |  UNION ALL
         |  SELECT id_b, id_a, sim FROM pairsim),
         |edges AS (
         |  SELECT src, dst FROM sym
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY src
         |    ORDER BY sim DESC, dst) <= 6),
         |seeds AS (
         |  SELECT DISTINCT x.vec_id AS q_id, y.vec_id AS node
         |  FROM sig x JOIN sig y
         |    ON x.band = y.band AND x.band_val = y.band_val
         |      AND x.vec_id <> y.vec_id
         |  WHERE x.vec_id < 20),
         |s0 AS (
         |  SELECT sd.q_id, sd.node, ROUND($duckCos, 6) AS sim
         |  FROM seeds sd JOIN embeddings a ON a.vec_id = sd.q_id
         |                JOIN embeddings b ON b.vec_id = sd.node),
         |b0 AS (SELECT q_id, node FROM s0
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY sim DESC, node) <= 8),
         |c1 AS (SELECT DISTINCT f.q_id, e.dst AS node
         |       FROM b0 f JOIN edges e ON e.src = f.node),
         |s1 AS (
         |  SELECT q_id, node, sim FROM s0
         |  UNION
         |  SELECT c.q_id, c.node, ROUND($duckCos, 6)
         |  FROM c1 c JOIN embeddings a ON a.vec_id = c.q_id
         |            JOIN embeddings b ON b.vec_id = c.node),
         |b1 AS (SELECT q_id, node FROM s1
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY sim DESC, node) <= 8),
         |c2 AS (SELECT DISTINCT f.q_id, e.dst AS node
         |       FROM b1 f JOIN edges e ON e.src = f.node),
         |s2 AS (
         |  SELECT q_id, node, sim FROM s1
         |  UNION
         |  SELECT c.q_id, c.node, ROUND($duckCos, 6)
         |  FROM c2 c JOIN embeddings a ON a.vec_id = c.q_id
         |            JOIN embeddings b ON b.vec_id = c.node),
         |b2 AS (SELECT q_id, node FROM s2
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY sim DESC, node) <= 8),
         |c3 AS (SELECT DISTINCT f.q_id, e.dst AS node
         |       FROM b2 f JOIN edges e ON e.src = f.node),
         |s3 AS (
         |  SELECT q_id, node, sim FROM s2
         |  UNION
         |  SELECT c.q_id, c.node, ROUND($duckCos, 6)
         |  FROM c3 c JOIN embeddings a ON a.vec_id = c.q_id
         |            JOIN embeddings b ON b.vec_id = c.node),
         |top10 AS (
         |  SELECT q_id, node FROM s3 WHERE node <> q_id
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY sim DESC, node) <= 10),
         |truth AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS node
         |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         |  WHERE a.vec_id < 20
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY a.vec_id
         |    ORDER BY ROUND($duckCos, 6) DESC, b.vec_id) <= 10),
         |counts AS (
         |  SELECT COUNT(CASE WHEN s = 1 THEN 1 END) AS n_scanned,
         |         COUNT(CASE WHEN s = 0 THEN 1 END) AS n_edges
         |  FROM (SELECT 1 AS s FROM s3 UNION ALL SELECT 0 FROM edges))
         |SELECT t.n_truth, t.n_hits,
         |  CASE WHEN t.n_truth > 0 THEN
         |    CAST(CAST(CAST(t.n_hits AS DOUBLE) / CAST(t.n_truth AS DOUBLE)
         |         AS DECIMAL(38,6)) AS DOUBLE) END AS recall_at_10,
         |  c.n_scanned, c.n_edges
         |FROM (
         |  SELECT COUNT(*) AS n_truth,
         |    CAST(SUM(CASE WHEN tt.node IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_hits
         |  FROM truth tr LEFT JOIN top10 tt USING (q_id, node)) t
         |CROSS JOIN counts c""".stripMargin)),

    // The graph-ANN HOP curve — the knob itself as a checked row, the
    // h_ann_nprobe_curve discipline applied to the graph family: for
    // hops = 0..3, recall@10 of the beam search's top-10 next to the
    // cumulative candidates-scanned cost, so the table shows exactly
    // what each graph hop BUYS over the pure LSH-bucket seeds (hop 0
    // IS the bucket path). One tall first-discovery-hop table (each
    // (query, node) tagged with the min hop that scored it — the
    // per-hop visited sets are nested, so min-tag + a 4-row spine
    // fan-out reconstructs every prefix) feeds one (hops, query)-keyed
    // window for the per-hop top-10 and one keyed aggregate for the
    // census; ground truth is the shared per-query linear scan. All
    // emitted values are integers or int/int divisions.
    Q("h_ann_hnsw_hops", (s, d) => {
      val (visiteds, q, en) = hnswVisitedByHop(s, d, "hnswHop")
      val fh = visiteds.zipWithIndex.map { case (v, h) =>
        v.select(col("q_id"), col("node"), col("sim"), lit(h).as("fh"))
      }.reduce(_.unionByName(_))
        .groupBy(col("q_id"), col("node"), col("sim"))
        .agg(min(col("fh")).as("first_hop"))
      val spine = s.range(0, hnswH + 1)
        .select(col("id").cast("int").as("hops"))
      val fan = fh.crossJoin(broadcast(spine))
        .filter(col("first_hop") <= col("hops"))
      val wH = Window.partitionBy(col("hops"), col("q_id"))
        .orderBy(col("sim").desc, col("node"))
      val top10 = fan.filter(col("node") =!= col("q_id"))
        .withColumn("rn", row_number().over(wH)).filter(col("rn") <= 10)
        .select(col("hops"), col("q_id"), col("node"))
      val scanned = fan.groupBy(col("hops")).agg(count(lit(1)).as("n_scanned"))
      val truth = Q.scratch("hnswHopTruth")(hnswTruth(q, en))
      val hits = top10.join(truth.withColumn("_t", lit(1)),
          Seq("q_id", "node"), "left")
        .groupBy(col("hops")).agg(sum(coalesce(col("_t"), lit(0))).as("n_hits"))
      val nTruth = truth.agg(count(lit(1)).as("n_truth"))
      spine.join(scanned, Seq("hops"), "left")
        .join(hits, Seq("hops"), "left")
        .crossJoin(broadcast(nTruth))
        .select(col("hops"),
          coalesce(col("n_scanned"), lit(0L)).as("n_scanned"),
          col("n_truth"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          when(col("n_truth") > 0,
            (coalesce(col("n_hits"), lit(0L)).cast("double") /
              col("n_truth").cast("double"))
              .cast(dec6).cast("double")).as("recall_at_10"))
        .orderBy("hops")
    }, Some(
      s"""WITH $duckSig,
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM sig x JOIN sig y
         |    ON x.band = y.band AND x.band_val = y.band_val AND x.vec_id < y.vec_id),
         |pairsim AS (
         |  SELECT c.id_a, c.id_b, ROUND($duckCos, 6) AS sim
         |  FROM cand c JOIN embeddings a ON a.vec_id = c.id_a
         |              JOIN embeddings b ON b.vec_id = c.id_b),
         |sym AS (
         |  SELECT id_a AS src, id_b AS dst, sim FROM pairsim
         |  UNION ALL
         |  SELECT id_b, id_a, sim FROM pairsim),
         |edges AS (
         |  SELECT src, dst FROM sym
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY src
         |    ORDER BY sim DESC, dst) <= 6),
         |seeds AS (
         |  SELECT DISTINCT x.vec_id AS q_id, y.vec_id AS node
         |  FROM sig x JOIN sig y
         |    ON x.band = y.band AND x.band_val = y.band_val
         |      AND x.vec_id <> y.vec_id
         |  WHERE x.vec_id < 20),
         |s0 AS (
         |  SELECT sd.q_id, sd.node, ROUND($duckCos, 6) AS sim
         |  FROM seeds sd JOIN embeddings a ON a.vec_id = sd.q_id
         |                JOIN embeddings b ON b.vec_id = sd.node),
         |b0 AS (SELECT q_id, node FROM s0
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY sim DESC, node) <= 8),
         |c1 AS (SELECT DISTINCT f.q_id, e.dst AS node
         |       FROM b0 f JOIN edges e ON e.src = f.node),
         |s1 AS (
         |  SELECT q_id, node, sim FROM s0
         |  UNION
         |  SELECT c.q_id, c.node, ROUND($duckCos, 6)
         |  FROM c1 c JOIN embeddings a ON a.vec_id = c.q_id
         |            JOIN embeddings b ON b.vec_id = c.node),
         |b1 AS (SELECT q_id, node FROM s1
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY sim DESC, node) <= 8),
         |c2 AS (SELECT DISTINCT f.q_id, e.dst AS node
         |       FROM b1 f JOIN edges e ON e.src = f.node),
         |s2 AS (
         |  SELECT q_id, node, sim FROM s1
         |  UNION
         |  SELECT c.q_id, c.node, ROUND($duckCos, 6)
         |  FROM c2 c JOIN embeddings a ON a.vec_id = c.q_id
         |            JOIN embeddings b ON b.vec_id = c.node),
         |b2 AS (SELECT q_id, node FROM s2
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY sim DESC, node) <= 8),
         |c3 AS (SELECT DISTINCT f.q_id, e.dst AS node
         |       FROM b2 f JOIN edges e ON e.src = f.node),
         |s3 AS (
         |  SELECT q_id, node, sim FROM s2
         |  UNION
         |  SELECT c.q_id, c.node, ROUND($duckCos, 6)
         |  FROM c3 c JOIN embeddings a ON a.vec_id = c.q_id
         |            JOIN embeddings b ON b.vec_id = c.node),
         |allv AS (
         |  SELECT q_id, node, sim, 0 AS fh FROM s0
         |  UNION ALL SELECT q_id, node, sim, 1 FROM s1
         |  UNION ALL SELECT q_id, node, sim, 2 FROM s2
         |  UNION ALL SELECT q_id, node, sim, 3 FROM s3),
         |fht AS (
         |  SELECT q_id, node, sim, MIN(fh) AS first_hop
         |  FROM allv GROUP BY 1, 2, 3),
         |spine AS (SELECT CAST(UNNEST(generate_series(0, 3)) AS INT) AS hops),
         |fan AS (
         |  SELECT s.hops, f.q_id, f.node, f.sim
         |  FROM fht f JOIN spine s ON f.first_hop <= s.hops),
         |top10h AS (
         |  SELECT hops, q_id, node FROM fan WHERE node <> q_id
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY hops, q_id
         |    ORDER BY sim DESC, node) <= 10),
         |sc AS (SELECT hops, COUNT(*) AS n_scanned FROM fan GROUP BY hops),
         |truth AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS node
         |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         |  WHERE a.vec_id < 20
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY a.vec_id
         |    ORDER BY ROUND($duckCos, 6) DESC, b.vec_id) <= 10),
         |nt AS (SELECT COUNT(*) AS n_truth FROM truth),
         |ht AS (
         |  SELECT t1.hops, COUNT(*) AS n_hits
         |  FROM top10h t1 JOIN truth USING (q_id, node) GROUP BY t1.hops)
         |SELECT s.hops, COALESCE(sc.n_scanned, 0) AS n_scanned, nt.n_truth,
         |  COALESCE(ht.n_hits, 0) AS n_hits,
         |  CASE WHEN nt.n_truth > 0 THEN
         |    CAST(CAST(CAST(COALESCE(ht.n_hits, 0) AS DOUBLE)
         |         / CAST(nt.n_truth AS DOUBLE) AS DECIMAL(38,6)) AS DOUBLE)
         |  END AS recall_at_10
         |FROM spine s LEFT JOIN sc USING (hops) LEFT JOIN ht USING (hops)
         |CROSS JOIN nt ORDER BY hops""".stripMargin)),

    // Embedding-cosine near-dedup: LSH-candidate pairs verified at
    // cosine >= 0.4 (this corpus's vectors are near-orthogonal — max
    // pair cosine ~0.51 — so the threshold sits where near-dups exist).
    // Each vector reports the lowest-id near-duplicate it collapses
    // into (dup_of), the count of such edges, and a survivor flag —
    // the keep-min-id dedup contract, same as h_exact_dedup.
    Q("h_embed_dedup", (s, d) => {
      val sig = lshSigs(s, d)
      val a = sig.select(col("vec_id").as("id_a"), col("band"), col("band_val"))
      val b = sig.select(col("vec_id").as("id_b"), col("band"), col("band_val"))
      val cand = a.join(b, Seq("band", "band_val"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      val e = withDoubles(s, d)
        .select(col("vec_id"), col("dv"), sqrt(dot(col("dv"), col("dv"))).as("nrm"))
      val ea = e.select(col("vec_id").as("id_a"), col("dv").as("va"), col("nrm").as("na"))
      val eb = e.select(col("vec_id").as("id_b"), col("dv").as("vb"), col("nrm").as("nb"))
      val edges = cand.join(ea, "id_a").join(eb, "id_b")
        .withColumn("sim",
          r6(cosPre(dot(col("va"), col("vb")), col("na") * col("nb"))))
        .filter(col("sim") >= 0.4)
        .groupBy(col("id_b"))
        .agg(min(col("id_a")).as("dup_of"), count(lit(1)).as("n_dup_lower"))
      Io.table(s, d, "embeddings").select(col("vec_id"))
        .join(edges, col("vec_id") === col("id_b"), "left")
        .select(col("vec_id"), col("dup_of"),
          coalesce(col("n_dup_lower"), lit(0L)).as("n_dup_lower"),
          col("dup_of").isNull.as("survives"))
        .orderBy("vec_id")
    }, Some(
      s"""WITH $duckSig,
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM sig x JOIN sig y
         |    ON x.band = y.band AND x.band_val = y.band_val AND x.vec_id < y.vec_id),
         |edges AS (
         |  SELECT c.id_b, MIN(c.id_a) AS dup_of, COUNT(*) AS n_dup_lower
         |  FROM cand c JOIN embeddings a ON a.vec_id = c.id_a
         |              JOIN embeddings b ON b.vec_id = c.id_b
         |  WHERE ROUND($duckCos, 6) >= 0.4
         |  GROUP BY c.id_b)
         |SELECT e.vec_id, edges.dup_of,
         |  CAST(COALESCE(edges.n_dup_lower, 0) AS BIGINT) AS n_dup_lower,
         |  edges.dup_of IS NULL AS survives
         |FROM embeddings e LEFT JOIN edges ON e.vec_id = edges.id_b
         |ORDER BY e.vec_id""".stripMargin)),

    // Scalar int8 quantization of the embedding column + reconstruction-
    // error report — the storage decision every 100 TB vector corpus
    // makes (float32 → int8 is 4× smaller; is the recall cost
    // acceptable?). Per-dim min/max (dim-sized → broadcast) define the
    // affine code q = floor((v−mn)/(mx−mn)·255 + 0.5) (floor(x+0.5)
    // instead of round(): floor is IEEE-exact on both engines, round's
    // half-rule is not); the report is per-label max / mean absolute
    // reconstruction error with identical double arithmetic on both
    // engines (operand order matches the oracle text, error terms
    // decimal-snapped before the mean). Shape: one posexplode scan +
    // one broadcast join + one hash aggregate — map-side at any scale.
    // Constant-dimension guard: mx = mn dequantizes to mn exactly.
    Q("h_embed_quantize", (s, d) => {
      val e = Io.table(s, d, "embeddings")
      val long = e.select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "f")))
        .select(col("label"), (col("pos0") + 1).as("pos"), col("f").cast("double").as("v"))
      val mm = long.groupBy(col("pos"))
        .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      val qcode = floor((col("v") - col("mn")) / (col("mx") - col("mn")) * 255.0 + 0.5)
      val vq = when(col("mx") > col("mn"),
        col("mn") + qcode / 255.0 * (col("mx") - col("mn"))).otherwise(col("mn"))
      long.join(broadcast(mm), "pos")
        .withColumn("err", abs(col("v") - vq))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_values"),
          r6(max(col("err"))).as("max_abs_err"),
          (sum(col("err").cast(dec12)).cast("double") / count(lit(1)))
            .cast(dec6).cast("double").as("mean_abs_err"))
        .orderBy("label")
    }, Some(
      """WITH mm AS (
        |  SELECT i AS pos, MIN(CAST(embedding[i] AS DOUBLE)) AS mn,
        |         MAX(CAST(embedding[i] AS DOUBLE)) AS mx
        |  FROM embeddings,
        |    (SELECT UNNEST(generate_series(1,
        |       (SELECT MAX(len(embedding)) FROM embeddings))) AS i)
        |  GROUP BY i),
        |t AS (
        |  SELECT e.label, CAST(e.embedding[mm.pos] AS DOUBLE) AS v, mm.mn, mm.mx
        |  FROM embeddings e, mm),
        |qt AS (
        |  SELECT label, v,
        |    CASE WHEN mx > mn
        |      THEN mn + FLOOR((v - mn) / (mx - mn) * 255.0 + 0.5) / 255.0 * (mx - mn)
        |      ELSE mn END AS vq
        |  FROM t)
        |SELECT label, COUNT(*) AS n_values,
        |  ROUND(MAX(ABS(v - vq)), 6) AS max_abs_err,
        |  CAST(CAST(CAST(SUM(CAST(ABS(v - vq) AS DECIMAL(38,12))) AS DOUBLE)
        |       / COUNT(*) AS DECIMAL(38,6)) AS DOUBLE) AS mean_abs_err
        |FROM qt GROUP BY label ORDER BY label""".stripMargin)),

    // Cross-modal cluster-cohesion probe: does the embedding space
    // organize by the documents' LANGUAGE? Embeddings join the doc
    // table on id, per-language centroids (exact decimal means) and
    // the global centroid broadcast back, and each vector reports its
    // cosine to its own-language centroid vs the global one; the
    // per-language gap between the two averages IS the cohesion
    // signal (≈0 ⇒ language carries no embedding structure). The
    // embedding-quality read run before trusting any lang-conditional
    // ANN index. Scale: centroids are (|langs|·D)-sized broadcasts;
    // the cosine pass is map-side native dot_product; one final
    // lang-keyed agg. Raw-double averages (quotient-snap rule).
    Q("h_embed_lang_cohesion", (s, d) => {
      val lang = Io.table(s, d, "documents")
        .select(col("doc_id").as("vec_id"), col("lang"))
      val e = Io.table(s, d, "embeddings").join(lang, "vec_id")
      val long = e.select(col("lang"), posexplode(col("embedding")).as(Seq("pos0", "f")))
        .select(col("lang"), (col("pos0") + 1).as("pos"), col("f").cast("double").as("v"))
      def gather(df: DataFrame, keys: Seq[Column], out: String) =
        df.groupBy(keys: _*)
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
            x => x.getField("c")).as(out))
      val cent = long.groupBy(col("lang"), col("pos"))
        .agg((decSum12(col("v")) / count(lit(1))).as("c"))
      val centArr = gather(cent, Seq(col("lang")), "carr")
      val gcent = long.groupBy(col("pos"))
        .agg((decSum12(col("v")) / count(lit(1))).as("c"))
      val gArr = gather(gcent, Nil, "gcarr")
      e.join(broadcast(centArr), "lang").crossJoin(broadcast(gArr))
        .select(col("lang"),
          r6(cosine(col("embedding"), col("carr"))).as("cos_own"),
          r6(cosine(col("embedding"), col("gcarr"))).as("cos_glob"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          decAvg(col("cos_own")).as("avg_cos_own"),
          decAvg(col("cos_glob")).as("avg_cos_global"))
        .withColumn("cohesion_gap", col("avg_cos_own") - col("avg_cos_global"))
        .orderBy("lang")
    }, Some(
      s"""WITH e AS (
         |  SELECT em.vec_id, em.embedding, dc.lang
         |  FROM embeddings em JOIN documents dc ON em.vec_id = dc.doc_id),
         |dims AS (SELECT UNNEST(generate_series(1,
         |  (SELECT MAX(len(embedding)) FROM embeddings))) AS pos),
         |cent AS (
         |  SELECT lang, pos,
         |    ${dSum12("CAST(embedding[pos] AS DOUBLE)")} / COUNT(*) AS c
         |  FROM e, dims GROUP BY lang, pos),
         |ca AS (SELECT lang, list(c ORDER BY pos) AS carr FROM cent GROUP BY lang),
         |g AS (
         |  SELECT pos, ${dSum12("CAST(embedding[pos] AS DOUBLE)")} / COUNT(*) AS c
         |  FROM e, dims GROUP BY pos),
         |ga AS (SELECT list(c ORDER BY pos) AS gcarr FROM g),
         |per AS (
         |  SELECT e.lang,
         |    ROUND(${duckCosOf("e.embedding", "ca.carr")}, 6) AS cos_own,
         |    ROUND(${duckCosOf("e.embedding", "ga.gcarr")}, 6) AS cos_glob
         |  FROM e JOIN ca USING (lang) CROSS JOIN ga)
         |SELECT lang, COUNT(*) AS n_docs,
         |  ${dSum("cos_own")} / COUNT(*) AS avg_cos_own,
         |  ${dSum("cos_glob")} / COUNT(*) AS avg_cos_global,
         |  ${dSum("cos_own")} / COUNT(*) - ${dSum("cos_glob")} / COUNT(*)
         |    AS cohesion_gap
         |FROM per GROUP BY lang ORDER BY lang""".stripMargin))

    ,
    // Product-quantization encode — the memory-compression half of a
    // PQ/IVF-PQ vector index (Jégou et al.'s layout): split each D-dim
    // vector into M = 8 contiguous subspaces (sub = (pos−1) DIV 8,
    // dims derived from the data), encode each subspace as the id of
    // its nearest codeword, and report the code plus reconstruction
    // error. Codebook here = per-label exact-decimal centroid slices
    // (K = |labels| codewords per subspace) — real PQ trains per-
    // subspace k-means, but a deterministic codebook is what makes the
    // ENCODE pipeline a checked query (k-means training itself is
    // covered by h_kmeans_lloyd); the assignment/lookup/ADC layout is
    // identical either way. Storage story: M small codes per vector
    // (8 bytes here) vs 4·D float bytes = 32× compression. Scale
    // shape: codebook is (K·D)-sized → broadcast; the distance pass is
    // one map-side join + (vec, sub, label)-keyed partial agg; argmin
    // is a (vec, sub)-windowed row_number; every distance accumulates
    // in DECIMAL(38,12) so the argmin tie-break (smallest label) is
    // engine-identical.
    // Scalar quantization to int8 (SQ8) — the OTHER standard vector
    // compression next to PQ: per-dimension min/max train pass, then
    // code = ⌊(v−mn)·256/(mx−mn)⌋ clamped to [0,255], 4 bytes→1 byte
    // per dim. The 100 TB shape: the trained quantizer is a 64-row
    // broadcast (one tiny all-reduce), encoding is map-side, and the
    // per-vector audit is one keyed aggregate — no shuffle of the
    // vectors themselves. Engine-exactness: the code arithmetic is
    // sub / ×256 (a power of two — exact) / one correctly-rounded
    // division / floor — bit-identical cross-engine, so the codes and
    // the integer census (code_sum, saturation counts) hash-check
    // exactly; the midpoint-dequantization MSE snaps its one
    // multiply-add seam and each squared term at 1e-12 (the
    // g_price_elasticity floor-snap), summing exact BIGINT picounits.
    Q("h_sq8_quant", (s, d) => {
      val long = Io.table(s, d, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos0", "f")))
        .select(col("vec_id"), (col("pos0") + 1).as("pos"),
          col("f").cast("double").as("v"))
      val stats = long.groupBy(col("pos"))
        .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      val coded = long.join(broadcast(stats), "pos")
        .select(col("vec_id"), col("v"), col("mn"), col("mx"),
          when(col("mx") === col("mn"), 0L).otherwise(
            least(floor((col("v") - col("mn")) * 256.0 /
              (col("mx") - col("mn"))), lit(255L))).as("code"))
      // dequantize at the bucket midpoint; snap the (code+0.5)·step
      // product before adding mn so a fused multiply-add cannot diverge
      val m = floor((col("code").cast("double") + 0.5) *
        ((col("mx") - col("mn")) / 256.0) * 1e12 + 0.5).cast("long")
      val deq = col("mn") + m.cast("double") / 1e12
      val e = col("v") - deq
      coded.groupBy(col("vec_id"))
        .agg(sum(col("code")).as("code_sum"),
          sum(when(col("code") === 0L, 1L).otherwise(0L)).as("n_lo"),
          sum(when(col("code") === 255L, 1L).otherwise(0L)).as("n_hi"),
          (sum(floor(e * e * 1e12 + 0.5).cast("long")).cast("double") /
            count(lit(1)) / 1e12).as("mse"))
        .orderBy("vec_id")
    }, Some(
      """WITH lg AS (SELECT vec_id, CAST(i AS INT) AS pos,
        |              CAST(embedding[i] AS DOUBLE) AS v
        |            FROM embeddings,
        |              (SELECT UNNEST(generate_series(1,
        |                 (SELECT MAX(len(embedding)) FROM embeddings))) AS i)
        |            WHERE i <= len(embedding)),
        |st AS (SELECT pos, MIN(v) AS mn, MAX(v) AS mx FROM lg GROUP BY pos),
        |cd AS (SELECT vec_id, v, mn, mx,
        |         CASE WHEN mx = mn THEN 0 ELSE
        |           CAST(LEAST(FLOOR((v - mn) * 256.0 / (mx - mn)), 255.0)
        |             AS BIGINT) END AS code
        |       FROM lg JOIN st USING (pos)),
        |dq AS (SELECT vec_id, code, v,
        |         mn + CAST(FLOOR((code + 0.5) * ((mx - mn) / 256.0) * 1e12
        |                         + 0.5) AS BIGINT) / 1e12 AS deq
        |       FROM cd)
        |SELECT vec_id, CAST(SUM(code) AS BIGINT) AS code_sum,
        |  COUNT(*) FILTER (WHERE code = 0) AS n_lo,
        |  COUNT(*) FILTER (WHERE code = 255) AS n_hi,
        |  CAST(CAST(SUM(CAST(FLOOR((v - deq) * (v - deq) * 1e12 + 0.5)
        |    AS BIGINT)) AS BIGINT) AS DOUBLE) / COUNT(*) / 1e12 AS mse
        |FROM dq GROUP BY vec_id ORDER BY vec_id""".stripMargin)),

    Q("h_pq_encode", (s, d) => {
      // Subspace count derived from the data (pqDims) matching the
      // oracle's (pos-1)//8 width-8 layout at any D; codebook and codes
      // come from the shared memoized artifacts (pqCent/pqCodes) the ADC
      // search also consumes — built once per corpus, as a production
      // index build would. Ragged-dim inputs fail loudly inside pqCodes.
      val (_, nSubs) = pqDims(s, d)
      val cent = pqCent(s, d)
      val codes = pqCodes(s, d)
      val long = Io.table(s, d, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos0", "f")))
        .select(col("vec_id"), (col("pos0") + 1).as("pos"),
          (col("pos0") / 8).cast("int").as("sub"), col("f").cast("double").as("v"))
      val codeAggs = (0 until nSubs).map(m =>
        max(when(col("sub") === m, col("code"))).as(s"c$m"))
      val codeStr = codes.groupBy(col("vec_id"))
        .agg(codeAggs.head, codeAggs.tail: _*)
        .select(col("vec_id"),
          concat_ws("-", (0 until nSubs).map(m => col(s"c$m").cast("string")): _*)
            .as("pq_code"))
      val err = long.join(codes, Seq("vec_id", "sub"))
        .join(broadcast(cent.select(col("label").as("code"), col("pos"), col("c"))),
          Seq("code", "pos"))
        .groupBy(col("vec_id"))
        .agg((sum(abs(col("v") - col("c")).cast(dec12)).cast("double") /
          count(lit(1))).cast(dec6).cast("double").as("mean_abs_err"),
          r6(max(abs(col("v") - col("c")))).as("max_abs_err"))
      codeStr.join(err, "vec_id")
        .select(col("vec_id"), col("pq_code"), col("mean_abs_err"), col("max_abs_err"))
        .orderBy("vec_id")
    }, Some(
      s"""$duckPqCodes,
         |cs AS (
         |  SELECT vec_id,
         |    string_agg(CAST(code AS VARCHAR), '-' ORDER BY sub) AS pq_code
         |  FROM codes GROUP BY vec_id),
         |err AS (
         |  SELECT l.vec_id,
         |    CAST(CAST(${dSum12("ABS(l.v - c.c)")} / COUNT(*) AS DECIMAL(38,6))
         |         AS DOUBLE) AS mean_abs_err,
         |    ROUND(MAX(ABS(l.v - c.c)), 6) AS max_abs_err
         |  FROM lng l
         |    JOIN codes ON l.vec_id = codes.vec_id AND l.sub = codes.sub
         |    JOIN cent c ON c.label = codes.code AND c.pos = l.pos
         |  GROUP BY l.vec_id)
         |SELECT cs.vec_id, cs.pq_code, err.mean_abs_err, err.max_abs_err
         |FROM cs JOIN err ON cs.vec_id = err.vec_id
         |ORDER BY cs.vec_id""".stripMargin))

    ,
    // PQ asymmetric-distance search — the ADC scan of Jégou et al.
    // (TPAMI'11), the lookup half of an IVF-PQ index: the database side
    // is ONLY its PQ codes (M small codes per vector, the 32×-compressed
    // representation from h_pq_encode's shared artifact); each query
    // vector computes a distance TABLE — d²(query, codeword) restricted
    // to each width-8 subspace, K·M cells — and a candidate's
    // approximate distance is the sum of M table lookups keyed by its
    // codes. 100 TB shape: the distance table is (Q·K·M)-sized →
    // broadcast; the scan of the code table is one map-side broadcast
    // equi-join on (sub, code) + a (q, nn)-keyed partial agg; no raw
    // vector is touched after the one-time encode, and per-query top-3
    // is a WindowGroupLimit, never a global sort. Exactness discipline:
    // every d² is the native sq_dist_dec (decimal-accumulated,
    // engine-reproducible), the per-candidate sum runs in
    // DECIMAL(38,12), and ranking snaps at 1e-6 with nn_id tie-break.
    Q("h_pq_adc_topk", (s, d) => {
      adcScores(s, d).withColumn("rn", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("adc_d2"), col("nn_id"))))
        .filter(col("rn") <= 3)
        .select(col("q_id"), col("rn"), col("nn_id"), col("adc_d2"))
        .orderBy("q_id", "rn")
    }, Some(
      s"""$duckPqCodes,
         |$duckAdcScores,
         |r AS (SELECT q_id, nn_id, adc_d2,
         |        ROW_NUMBER() OVER (PARTITION BY q_id
         |                           ORDER BY adc_d2, nn_id) AS rn
         |      FROM adc)
         |SELECT q_id, rn, nn_id, adc_d2 FROM r WHERE rn <= 3
         |ORDER BY q_id, rn""".stripMargin))

    ,
    // ADC quality audit — recall@3 of the compressed-code search
    // against the EXACT squared-L2 top-3 per query, making the PQ
    // approximation a checked number every round (the h_ann_recall
    // treatment: the approximation itself is replicated in the oracle,
    // so both the candidate mechanics and the recall arithmetic are
    // parity-checked). The exact side broadcasts the 20 query vectors
    // against one corpus scan (Q·n map-side native sq_dist_dec, never
    // a pair cartesian); recall is an integer ratio — bit-identical
    // division in both engines.
    Q("h_pq_adc_recall", (s, d) => {
      val e = Io.table(s, d, "embeddings")
      val qs = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), dvec(col("embedding")).as("qv"))
      val ex = e.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("nn_id"),
          expr("sq_dist_dec(embedding, qv)").as("d2"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("d2"), col("nn_id"))))
        .filter(col("rn") <= 3)
        .select("q_id", "nn_id")
      val adc3 = adcScores(s, d).withColumn("rn", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("adc_d2"), col("nn_id"))))
        .filter(col("rn") <= 3)
        .select(col("q_id"), col("nn_id"), lit(1).as("_hit"))
      ex.join(adc3, Seq("q_id", "nn_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("_hit"), lit(0))).cast("long").as("n_hits"))
        .select(col("n_exact"), col("n_hits"),
          (col("n_hits") / col("n_exact"))
            .cast(DecimalType(38, 6)).cast("double").as("recall_at_3"))
    }, Some(
      s"""$duckPqCodes,
         |$duckAdcScores,
         |adc3 AS (SELECT q_id, nn_id FROM adc
         |         QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
         |                                    ORDER BY adc_d2, nn_id) <= 3),
         |exd AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS nn_id,
         |    CAST(SUM(CAST((a.v - b.v) * (a.v - b.v) AS DECIMAL(38,12)))
         |         AS DOUBLE) AS d2
         |  FROM lng a JOIN lng b ON a.pos = b.pos
         |    AND a.vec_id < 20 AND b.vec_id <> a.vec_id
         |  GROUP BY 1, 2),
         |ex AS (SELECT q_id, nn_id FROM exd
         |       QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
         |                                  ORDER BY d2, nn_id) <= 3)
         |SELECT COUNT(*) AS n_exact,
         |  CAST(SUM(CASE WHEN a.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hits,
         |  CAST(CAST(SUM(CASE WHEN a.q_id IS NOT NULL THEN 1 ELSE 0 END)
         |       / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(38,6)) AS DOUBLE)
         |    AS recall_at_3
         |FROM ex LEFT JOIN adc3 a ON ex.q_id = a.q_id AND ex.nn_id = a.nn_id"""
        .stripMargin))

    ,
    // Composite IVF-PQ search — the two-level production ANN index
    // (FAISS's IVF-PQ layout, minus residual encoding: codes here
    // quantize raw vectors, which keeps the encode a checked query;
    // the lookup mechanics are identical): a coarse quantizer (the
    // label-centroid cells h_ann_ivf uses) restricts each query to its
    // 2 nearest cells' inverted lists, and ONLY those candidates are
    // scored — by ADC code lookups, never raw vectors. The coarse
    // distance is one full-array native sq_dist_dec against the
    // broadcast centroids (single decimal accumulation, matching the
    // oracle's one relational SUM). 100 TB shape: cells bound the
    // scored fraction to nprobe/K of the corpus, the scoring input is
    // codes ⋈ broadcast(cells + distance table) — both query-sized —
    // and the per-query top-3 is windowed on the (q, nn) aggregate.
    Q("h_ann_ivfpq", (s, d) => {
      val (_, nSubs) = pqDims(s, d)
      val e = Io.table(s, d, "embeddings")
      val qs = e.filter(col("vec_id") < 20)
      val cells = ivfRanks(s, d).filter(col("rn") <= 2 && col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("c_label").as("cell"))
      val cand = e.select(col("vec_id").as("nn_id"), col("label").as("cell"))
        .join(broadcast(cells), "cell")
        .filter(col("nn_id") =!= col("q_id"))
        .select("q_id", "nn_id")
      val dt = pqSubDist(s, d, qs, nSubs)
        .select(col("vec_id").as("q_id"), col("c_label").as("code"),
          col("sub"), col("d2"))
      val adc = pqCodes(s, d).withColumnRenamed("vec_id", "nn_id")
        .join(broadcast(cand), "nn_id")
        .join(broadcast(dt), Seq("q_id", "sub", "code"))
        .groupBy(col("q_id"), col("nn_id"))
        .agg(r6(sum(col("d2").cast(dec12)).cast("double")).as("adc_d2"))
      adc.withColumn("rn", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("adc_d2"), col("nn_id"))))
        .filter(col("rn") <= 3)
        .select(col("q_id"), col("rn"), col("nn_id"), col("adc_d2"))
        .orderBy("q_id", "rn")
    }, Some(
      s"""$duckPqCodes,
         |$duckIvfCells,
         |probes AS (SELECT vec_id AS q_id, c_label AS cell FROM ranked
         |           WHERE rn <= 2 AND vec_id < 20),
         |cand AS (
         |  SELECT probes.q_id, e.vec_id AS nn_id
         |  FROM embeddings e JOIN probes ON e.label = probes.cell
         |  WHERE e.vec_id <> probes.q_id),
         |$duckAdcDt,
         |adc AS (
         |  SELECT cand.q_id, cand.nn_id,
         |    ROUND(CAST(SUM(CAST(dt.d2 AS DECIMAL(38,12))) AS DOUBLE), 6) AS adc_d2
         |  FROM cand
         |  JOIN codes c ON c.vec_id = cand.nn_id
         |  JOIN dt ON dt.q_id = cand.q_id AND dt.sub = c.sub AND dt.code = c.code
         |  GROUP BY 1, 2),
         |r AS (SELECT q_id, nn_id, adc_d2,
         |        ROW_NUMBER() OVER (PARTITION BY q_id
         |                           ORDER BY adc_d2, nn_id) AS rn
         |      FROM adc)
         |SELECT q_id, rn, nn_id, adc_d2 FROM r WHERE rn <= 3
         |ORDER BY q_id, rn""".stripMargin)),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup =
    // cluster the embedding space FIRST, then look for near-duplicates
    // only WITHIN each cluster — the clustering is what makes embedding
    // dedup tractable at corpus scale, turning the O(n²) cosine sweep
    // into per-cell quadratics over cells that shrink as K grows.
    // Cells come from the same coarse quantizer as the IVF index (exact
    // decimal label centroids, broadcast; map-side native sq_dist_dec;
    // argmin tie on c_label), candidate pairs are a keyed self-join on
    // the cell id (one shuffle, never a cartesian), and the drop rule
    // is the deterministic keep-min-id contract shared with
    // h_exact_dedup/h_embed_dedup: b is dropped iff some a < b in the
    // same cell has r6(cosine) >= 0.4 (this corpus's vectors are
    // near-orthogonal; 0.4 sits where near-dups exist). Output is the
    // per-cell census a pipeline reports before committing the delete:
    // items, near-dup pairs, dropped, kept. At 100 TB: centroids are
    // K·dim broadcast values, vectors shuffle once by cell, and the
    // per-cell pair join is bounded by the largest cell — the paper's
    // own K knob controls that bound.
    Q("h_semdedup", (s, d) => {
      val cells = ivfCells(ivfRanks(s, d))
      val ev = withDoubles(s, d).select(col("vec_id"), col("dv")).join(cells, "vec_id")
      val a = ev.select(col("cell"), col("vec_id").as("id_a"), col("dv").as("va"))
      val b = ev.select(col("cell"), col("vec_id").as("id_b"), col("dv").as("vb"))
      val pairs = a.join(b, "cell").filter(col("id_a") < col("id_b"))
        .withColumn("sim", r6(cosine(col("va"), col("vb"))))
        .filter(col("sim") >= 0.4)
      val drp = pairs.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_pairs"), countDistinct(col("id_b")).as("n_dropped"))
      cells.groupBy(col("cell")).agg(count(lit(1)).as("n_items"))
        .join(drp, Seq("cell"), "left")
        .select(col("cell"), col("n_items"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
          (col("n_items") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
        .orderBy("cell")
    }, Some(
      s"""$duckPqCodes,
         |$duckIvfCells,
         |pairs AS (
         |  SELECT ca.cell, a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM embeddings a JOIN cells ca ON ca.vec_id = a.vec_id
         |    JOIN cells cb ON cb.cell = ca.cell
         |    JOIN embeddings b ON b.vec_id = cb.vec_id AND a.vec_id < b.vec_id
         |  WHERE ROUND($duckCos, 6) >= 0.4),
         |drp AS (
         |  SELECT cell, COUNT(*) AS n_pairs, COUNT(DISTINCT id_b) AS n_dropped
         |  FROM pairs GROUP BY cell),
         |items AS (SELECT cell, COUNT(*) AS n_items FROM cells GROUP BY cell)
         |SELECT items.cell, items.n_items,
         |  CAST(COALESCE(drp.n_pairs, 0) AS BIGINT) AS n_pairs,
         |  CAST(COALESCE(drp.n_dropped, 0) AS BIGINT) AS n_dropped,
         |  items.n_items - CAST(COALESCE(drp.n_dropped, 0) AS BIGINT) AS n_kept
         |FROM items LEFT JOIN drp USING (cell)
         |ORDER BY items.cell""".stripMargin)),

    // Top principal component by power iteration — the embedding
    // whitening/projection step a vector pipeline runs before indexing.
    // One corpus scan builds the SCATTER matrix S = n·Σxy − Σx·Σy
    // (= n²·Cov; same eigenvectors, and integer-free of the mean
    // quotient): Σxy comes from the vec_id-keyed self-join of the long
    // form with each product snapped at 1e-12 before the exact decimal
    // sum, so S is engine-identical. S is dim² values (a broadcast-sized
    // artifact at any corpus size — THE point: the data-sized work is
    // one scan + one (i,j)-keyed aggregate with map-side combine), and
    // the 3 unrolled power-iteration rounds (v₀ = 1⃗; w = S·v snapped
    // per term; v = w/‖w‖ raw double — exact-identical, per the
    // never-snap-quotients rule) run over that tiny matrix. FMA-seam
    // discipline: n·Σxy and Σx·Σy each snap to 1e-12 BEFORE the
    // subtraction so neither engine can contract the multiply-add.
    // Output: per-dimension loading of PC1 plus the final ‖w‖ (the
    // eigenvalue of S, raw double). Every COMPUTED-double snap in the
    // oracle takes the VARCHAR hop (see AnalyticsOps.dSnap6): the
    // per-term products here are arbitrary doubles, and one repr-vs-
    // binary boundary flip in 20M+ terms shifts a loading by ~1e-12/‖w‖
    // (seen at sf0.001 on the first cut of this query) — and even the
    // float-WIDENED per-value snaps in sx hit a boundary at 32k values
    // (i=38 at sf0.01: direct −0.796898287078 vs repr …077), so sx
    // hops too. Only raw un-snapped doubles skip the hop.
    Q("h_pca_power", (s, d) => {
      val w3 = pcaW3(s, d)
      val eig = w3.agg(sqrt(sum((col("w") * col("w")).cast(dec12)).cast("double")).as("s_eigval"))
      pcaNormalize(w3).crossJoin(broadcast(eig))
        .select(col("j").as("pos"), col("v").as("loading"), col("s_eigval"))
        .orderBy("pos")
    }, Some(
      s"""$pcaCtes
        |SELECT w3.i AS pos,
        |  CASE WHEN n3.nrm <> 0 THEN w3.w / n3.nrm END AS loading,
        |  n3.nrm AS s_eigval
        |FROM w3, n3 ORDER BY pos""".stripMargin)),

    // PC1 projection — the per-vector half of the whitening step: score
    // every embedding by its component along the corpus PC1 (the
    // direction from h_pca_power's shared pcaScatter artifact + power
    // iteration). At 100 TB this is the textbook broadcast-projection
    // shape: the direction is dim values broadcast to every task, the
    // projection is ONE scan of the corpus + one vec-keyed hash
    // aggregate (map-side combine — each vector's terms are colocated
    // in its own row's explode), no shuffle of anything data-sized
    // beyond the vec_id-keyed agg itself. Per-term products snap at
    // 1e-12 before the exact decimal sum (same discipline as the
    // scatter build), so scores are engine-identical; quotients
    // (v = w/‖w‖) stay raw doubles per the never-snap-quotients rule.
    Q("h_pca_project", (s, d) => {
      val v3 = pcaNormalize(pcaW3(s, d))
      pcaLong(s, d)
        .join(broadcast(v3), col("i") === col("j"))
        .groupBy(col("vec_id"))
        .agg(sum((col("x") * col("v")).cast(dec12)).cast("double").as("pc1_score"))
        .orderBy("vec_id")
    }, Some(
      s"""$pcaCtes,
        |v3 AS (SELECT i AS j, CASE WHEN nrm <> 0 THEN w / nrm END AS v FROM w3, n3)
        |SELECT long.vec_id, ${dSumHop12("long.x * v3.v")} AS pc1_score
        |FROM long JOIN v3 ON v3.j = long.i
        |GROUP BY long.vec_id ORDER BY long.vec_id""".stripMargin)),

    // Reciprocal-rank fusion (Cormack et al., SIGIR'09) of a lexical and
    // a dense retriever — the standard hybrid-search combiner a RAG
    // pipeline runs in front of an LLM. Arm 1 (lexical): all-integer
    // term-frequency score over the fixed query terms, fused global
    // top-50 (TakeOrderedAndProject — never a full sort). Arm 2 (dense):
    // cosine of every embedding to the broadcast query vector (vec_id 0),
    // rounded at 1e-6 before ranking (R5), fused top-50. Each 50-row arm
    // is ranked by a window over its own BOUNDED output (whitelisted in
    // the single-partition sweep — input capped at 50 by construction),
    // then one doc-keyed full outer join fuses: rrf = Σ 1/(60+rank),
    // absent arm contributes 0. Every term is an int/int IEEE division —
    // bit-identical in both engines; the 2-term sum has one fixed
    // association. Scale: both arms are scan + fused top-k (the classic
    // distributed retrieval shape); fusion touches 100 rows.
    Q("h_rrf_fusion", (s, d) => {
      val terms = Seq("spark", "join", "stream")
      val toks = split(col("text"), " ")
      val lexTop = Io.table(s, d, "documents")
        .select(col("doc_id"),
          terms.map(t => size(filter(toks, x => x === t)).cast("long"))
            .reduce(_ + _).as("lex_score"))
        .filter(col("lex_score") > 0)
        .orderBy(col("lex_score").desc, col("doc_id")).limit(50)
      val lexRank = lexTop.withColumn("rank_lex", row_number()
        .over(Window.orderBy(col("lex_score").desc, col("doc_id"))))
      val e = Io.table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qemb"))
      val denseTop = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          r6(cosine(col("embedding"), col("qemb"))).as("sim"))
        .orderBy(col("sim").desc, col("doc_id")).limit(50)
      val denseRank = denseTop.withColumn("rank_dense", row_number()
        .over(Window.orderBy(col("sim").desc, col("doc_id"))))
      lexRank.select(col("doc_id"), col("rank_lex"))
        .join(denseRank.select(col("doc_id"), col("rank_dense")),
          Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("rank_lex"), col("rank_dense"),
          (coalesce(lit(1.0) / (lit(60) + col("rank_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rank_dense")), lit(0.0)))
            .as("rrf_score"))
        .orderBy(col("rrf_score").desc, col("doc_id"))
        .limit(20)
    }, Some(
      s"""WITH lexTop AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(toks, x -> x = 'spark'))
         |       + len(list_filter(toks, x -> x = 'join'))
         |       + len(list_filter(toks, x -> x = 'stream')) AS BIGINT) AS lex_score
         |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
         |  WHERE len(list_filter(toks, x -> x = 'spark'))
         |      + len(list_filter(toks, x -> x = 'join'))
         |      + len(list_filter(toks, x -> x = 'stream')) > 0
         |  ORDER BY lex_score DESC, doc_id LIMIT 50),
         |lr AS (
         |  SELECT doc_id, CAST(ROW_NUMBER() OVER
         |    (ORDER BY lex_score DESC, doc_id) AS INT) AS rank_lex
         |  FROM lexTop),
         |q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
         |denseTop AS (
         |  SELECT e.vec_id AS doc_id,
         |    ROUND(${duckCosOf("e.embedding", "q.embedding")}, 6) AS sim
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
         |  ORDER BY sim DESC, doc_id LIMIT 50),
         |dr AS (
         |  SELECT doc_id, CAST(ROW_NUMBER() OVER
         |    (ORDER BY sim DESC, doc_id) AS INT) AS rank_dense
         |  FROM denseTop)
         |SELECT COALESCE(lr.doc_id, dr.doc_id) AS doc_id, rank_lex, rank_dense,
         |  COALESCE(CAST(1 AS DOUBLE) / (60 + rank_lex), CAST(0 AS DOUBLE))
         |    + COALESCE(CAST(1 AS DOUBLE) / (60 + rank_dense), CAST(0 AS DOUBLE))
         |    AS rrf_score
         |FROM lr FULL JOIN dr ON lr.doc_id = dr.doc_id
         |ORDER BY rrf_score DESC, doc_id LIMIT 20""".stripMargin)),

    // Maximal-marginal-relevance re-ranking (Carbonell & Goldstein,
    // SIGIR'98) — the diversification pass a RAG retriever runs on its
    // top-k before prompting: greedily pick argmax λ·rel(d) −
    // (1−λ)·max_{s∈S} sim(d,s), λ = 0.7, 5 picks from the top-20
    // candidates of the dense arm. Scale split: the corpus-facing work
    // is ONE scan + fused top-20 (memoized mmrCand artifact; build
    // shape pinned on its captured build) and a 20×20
    // broadcast pair table (mmrPairs); the greedy loop is 5 unrolled
    // relational steps over those two bounded file-backed tables —
    // per-query cost is independent of corpus size. Float discipline:
    // relevance and pair sims floor-snap to integer micros at 1e-6
    // (the sanctioned floor(v·1e6+0.5) spelling), so every MMR score
    // is exact BIGINT arithmetic (score×10 = 7·rel_u − 3·pen_u) —
    // zero float seams after the snap.
    Q("h_mmr_rerank", (s, d) => {
      val cand = mmrCand(s, d).select(col("doc_id"), col("rel_u"))
      val pairs = mmrPairs(s, d)
      def pick(selected: Vector[DataFrame], k: Int): DataFrame =
        if (selected.isEmpty)
          cand.select(lit(k).as("step"), col("doc_id"),
              (lit(7L) * col("rel_u")).as("score_u10"))
            .orderBy(col("score_u10").desc, col("doc_id")).limit(1)
        else {
          val sel = selected.map(_.select(col("doc_id"))).reduce(_ unionByName _)
          val pen = pairs
            .join(sel.select(col("doc_id").as("sb")), col("b") === col("sb"))
            .groupBy(col("a")).agg(max(col("sim_u")).as("pen_u"))
          cand
            .join(sel.select(col("doc_id").as("sd")),
              col("doc_id") === col("sd"), "left_anti")
            .join(pen, col("doc_id") === col("a"))
            .select(lit(k).as("step"), col("doc_id"),
              (lit(7L) * col("rel_u") - lit(3L) * col("pen_u")).as("score_u10"))
            .orderBy(col("score_u10").desc, col("doc_id")).limit(1)
        }
      // each pick is a scratch (r15 — the i_graph_bfs lesson): step k
      // references EVERY earlier pick (anti-join + penalty union), so
      // without per-step checkpoints pick 1's subtree re-evaluates
      // 2^4 times through pick 5 and the final union — dozens of tiny
      // stages over 1-row frames. Each checkpoint is a single row.
      var picks = Vector.empty[DataFrame]
      for (k <- 1 to 5)
        picks = picks :+ Q.scratch(s"mmrPick$k")(pick(picks, k))
      picks.reduce(_ unionByName _).orderBy("step")
    }, Some {
      def sk(k: Int): String =
        (1 to k).map(j => s"SELECT doc_id FROM p$j").mkString(" UNION ALL ")
      def stepK(k: Int): String =
        s"""r$k AS (SELECT c.doc_id, 7 * c.rel_u - 3 * MAX(p.sim_u) AS score_u10
           |  FROM cd c JOIN pr p ON p.a = c.doc_id
           |    AND p.b IN (${sk(k - 1)})
           |  WHERE c.doc_id NOT IN (${sk(k - 1)})
           |  GROUP BY c.doc_id, c.rel_u),
           |p$k AS (SELECT CAST($k AS INT) AS step, doc_id, score_u10 FROM r$k
           |  ORDER BY score_u10 DESC, doc_id LIMIT 1)""".stripMargin
      s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
         |cd AS (
         |  SELECT e.vec_id AS doc_id,
         |    CAST(FLOOR(${duckCosOf("e.embedding", "q.embedding")}
         |      * 1e6 + 0.5) AS BIGINT) AS rel_u
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
         |  ORDER BY rel_u DESC, doc_id LIMIT 20),
         |pr AS (
         |  SELECT ca.doc_id AS a, cb.doc_id AS b,
         |    CAST(FLOOR(${duckCosOf("ea.embedding", "eb.embedding")}
         |      * 1e6 + 0.5) AS BIGINT) AS sim_u
         |  FROM cd ca JOIN embeddings ea ON ea.vec_id = ca.doc_id
         |    JOIN cd cb ON cb.doc_id <> ca.doc_id
         |    JOIN embeddings eb ON eb.vec_id = cb.doc_id),
         |p1 AS (SELECT CAST(1 AS INT) AS step, doc_id, 7 * rel_u AS score_u10
         |  FROM cd ORDER BY score_u10 DESC, doc_id LIMIT 1),
         |${stepK(2)},
         |${stepK(3)},
         |${stepK(4)},
         |${stepK(5)}
         |SELECT step, doc_id, score_u10 FROM p1
         |UNION ALL SELECT step, doc_id, score_u10 FROM p2
         |UNION ALL SELECT step, doc_id, score_u10 FROM p3
         |UNION ALL SELECT step, doc_id, score_u10 FROM p4
         |UNION ALL SELECT step, doc_id, score_u10 FROM p5
         |ORDER BY step""".stripMargin
    })
  )

  /** Top-20 dense candidates for the MMR row: one corpus scan + fused
    * top-k vs the broadcast query vector, relevance floor-snapped to
    * integer micros. Memoized + materialized (the retrieval "model"). */
  private[graft] def mmrCand(s: SparkSession, d: String): DataFrame =
    Q.memoized(s, d, "mmrCand") {
      Q.materialize(s, d, "mmrCand")(mmrCandBuild(s, d))
    }

  private def mmrCandBuild(s: SparkSession, d: String): DataFrame = {
    val e = Io.table(s, d, "embeddings")
    val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qemb"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"), col("embedding"),
        floor(cosine(col("embedding"), col("qemb")) * lit(1e6) + lit(0.5))
          .as("rel_u"))
      .orderBy(col("rel_u").desc, col("doc_id")).limit(20)
  }

  /** 20×20 candidate pair similarities in integer micros — the
    * bounded broadcast self-join the greedy penalty terms read. */
  private def mmrPairs(s: SparkSession, d: String): DataFrame =
    Q.memoized(s, d, "mmrPairs") {
      Q.materialize(s, d, "mmrPairs") {
        val c = mmrCand(s, d)
        val a = c.select(col("doc_id").as("a"), col("embedding").as("ea"))
        val b = c.select(col("doc_id").as("b"), col("embedding").as("eb"))
        a.join(broadcast(b), col("a") =!= col("b"))
          .select(col("a"), col("b"),
            floor(cosine(col("ea"), col("eb")) * lit(1e6) + lit(0.5))
              .as("sim_u"))
      }
    }

  /** Long form of the embeddings table: (vec_id, i, x) with 1-based
    * dimension index and float→double widened values — the shared scan
    * under the PCA family. */
  private def pcaLong(s: SparkSession, d: String): DataFrame =
    Io.table(s, d, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos0", "f")))
      .select(col("vec_id"), (col("pos0") + 1).as("i"),
        col("f").cast("double").as("x"))

  /** The scatter matrix S = n·Σxy − Σx·Σy as (i, j, sij), memoized and
    * materialized once per corpus (dim² values — broadcast-sized at any
    * corpus size; the data-sized work is one scan + one (i,j)-keyed
    * aggregate with map-side combine). */
  private[graft] def pcaScatter(s: SparkSession, d: String): DataFrame =
    Q.memoized(s, d, "pcaScatter") {
      Q.materialize(s, d, "pcaScatter")(pcaScatterBuild(s, d))
    }

  private def pcaScatterBuild(s: SparkSession, d: String): DataFrame = {
    val long = pcaLong(s, d)
    val n = Io.table(s, d, "embeddings").agg(count(lit(1)).as("n"))
    // The two corpus-sized sums ride the integer-picounit spine
    // (⌊v·1e12+0.5⌋ → BIGINT sums; g_price_elasticity lesson): the
    // per-term DECIMAL(38,12) cast in the dim² pair aggregate was the
    // whole cost of the scatter rebuild (14.5 s → the 8.2M-row pair agg
    // in codegen longs). floor(v+0.5) is the same exact IEEE expression
    // in both engines; Σ and the int64→double back-conversion are
    // correctly rounded in both. The dim²-sized seams below keep the
    // decimal-snap discipline unchanged.
    val sx = long.groupBy(col("i"))
      .agg((sum(floor(col("x") * lit(1e12) + lit(0.5))).cast("double") /
        lit(1e12)).as("sx"))
    val sxy = long.as("a")
      .join(long.select(col("vec_id"), col("i").as("j"), col("x").as("y")), "vec_id")
      .groupBy(col("i"), col("j"))
      .agg((sum(floor(col("x") * col("y") * lit(1e12) + lit(0.5)))
        .cast("double") / lit(1e12)).as("sxy"))
    sxy.join(broadcast(sx.select(col("i"), col("sx").as("sxi"))), "i")
      .join(broadcast(sx.select(col("i").as("j"), col("sx").as("sxj"))), "j")
      .crossJoin(broadcast(n))
      .select(col("i"), col("j"),
        ((col("n") * col("sxy")).cast(dec12).cast("double") -
          (col("sxi") * col("sxj")).cast(dec12).cast("double")).as("sij"))
  }

  /** w = S·v for a (j, v) direction — dim-sized join over the scatter
    * artifact, every product snapped at 1e-12 before the exact sum. */
  private def pcaMv(s: SparkSession, d: String, v: DataFrame): DataFrame =
    pcaScatter(s, d).join(broadcast(v), "j")
      .groupBy(col("i"))
      .agg(sum((col("sij") * col("v")).cast(dec12)).cast("double").as("w"))

  /** v = w/‖w‖ as (j, v); the quotient stays a raw double. Zero-image
    * guard (r12 degenerate sweep): ‖w‖ = 0 (all-zero scatter — e.g. a
    * constant corpus) has no direction — NULL, mirrored by the CASE in
    * the oracle's v CTEs, and NULL then propagates identically through
    * the remaining iterations on both engines. */
  private def pcaNormalize(w: DataFrame): DataFrame =
    w.crossJoin(broadcast(
        w.agg(sqrt(sum((col("w") * col("w")).cast(dec12)).cast("double")).as("nrm"))))
      .select(col("i").as("j"),
        when(col("nrm") =!= 0.0, col("w") / col("nrm")).as("v"))

  /** Third power-iteration image w₃ = S·v₂ (v₀ = 1⃗) — the un-normalized
    * PC1 both checked queries derive from. Memoized AND stage-wise
    * materialized: normalize(w) references w twice and mv(normalize(…))
    * nests, so an un-checkpointed chain re-evaluates the whole subtree
    * exponentially (measured 7 s warm for dim²=4096 values of matrix
    * math — pure job-scheduling blowup). Each stage is dim-sized, so
    * the materializes are O(dim) rows each. */
  private def pcaW3(s: SparkSession, d: String): DataFrame =
    Q.memoized(s, d, "pcaW3") {
      Q.materialize(s, d, "pcaW3") {
        val smat = pcaScatter(s, d)
        val w1 = Q.materialize(s, d, "pcaW1")(pcaMv(s, d,
          smat.select(col("j")).distinct().select(col("j"), lit(1.0).as("v"))))
        val v2 = Q.materialize(s, d, "pcaV2")(
          pcaNormalize(Q.materialize(s, d, "pcaW2")(
            pcaMv(s, d, pcaNormalize(w1)))))
        pcaMv(s, d, v2)
      }
    }

  /** Shared oracle CTE chain for the PCA family (through w3/n3); every
    * computed-double snap takes the two-way VARCHAR hop. */
  private def pcaCtes: String =
    s"""WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
       |long AS (
       |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
       |  FROM embeddings,
       |    (SELECT UNNEST(generate_series(1,
       |       (SELECT MAX(len(embedding)) FROM embeddings))) AS i)),
       |sx AS (SELECT i,
       |         CAST(SUM(CAST(FLOOR(x * 1e12 + 0.5) AS BIGINT)) AS DOUBLE)
       |           / 1e12 AS sx
       |       FROM long GROUP BY i),
       |sxy AS (
       |  SELECT a.i AS i, b.i AS j,
       |    CAST(SUM(CAST(FLOOR(a.x * b.x * 1e12 + 0.5) AS BIGINT)) AS DOUBLE)
       |      / 1e12 AS sxy
       |  FROM long a JOIN long b USING (vec_id) GROUP BY a.i, b.i),
       |smat AS (
       |  SELECT sxy.i, sxy.j,
       |    ${dSnap12("nn.n * sxy.sxy")} - ${dSnap12("sxi.sx * sxj.sx")} AS sij
       |  FROM sxy JOIN sx sxi ON sxi.i = sxy.i
       |    JOIN sx sxj ON sxj.i = sxy.j CROSS JOIN nn),
       |w1 AS (SELECT i, ${dSumHop12("sij * 1.0")} AS w
       |       FROM smat GROUP BY i),
       |n1 AS (SELECT sqrt(${dSumHop12("w * w")}) AS nrm FROM w1),
       |v1 AS (SELECT i AS j, CASE WHEN nrm <> 0 THEN w / nrm END AS v FROM w1, n1),
       |w2 AS (SELECT smat.i, ${dSumHop12("sij * v1.v")} AS w
       |       FROM smat JOIN v1 USING (j) GROUP BY smat.i),
       |n2 AS (SELECT sqrt(${dSumHop12("w * w")}) AS nrm FROM w2),
       |v2 AS (SELECT i AS j, CASE WHEN nrm <> 0 THEN w / nrm END AS v FROM w2, n2),
       |w3 AS (SELECT smat.i, ${dSumHop12("sij * v2.v")} AS w
       |       FROM smat JOIN v2 USING (j) GROUP BY smat.i),
       |n3 AS (SELECT sqrt(${dSumHop12("w * w")}) AS nrm FROM w3)""".stripMargin
}
