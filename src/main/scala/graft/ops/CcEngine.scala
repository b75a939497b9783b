package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared distributed connected-components engine: min-label propagation
  * with pointer jumping, one keyed shuffle + one equi-join per round,
  * per-round materialization truncating the iterative lineage. This is
  * the ONE implementation behind both the near-dup document clustering
  * (DedupOps: h_dedup_clusters / h_dedup_best / h_cluster_size_hist)
  * and the co-purchase graph components (GraphOps: i_graph_cc) — the
  * two families differ only in how they build their node/edge tables.
  *
  * Scale notes (the 100 TB story):
  *  - Each round is a neighbor-min hash-aggregate (map-side combine
  *    applies: min is associative) plus two keyed equi-joins — all
  *    shuffles on graph keys, nothing data-sized on the driver or
  *    broadcast.
  *  - Pointer jumping (rep := rep's rep) doubles label-propagation
  *    distance per round → O(log diameter) materialized rounds.
  *  - The loop — per-round checkpoint, convergence probe, stop rule —
  *    lives in the one fixpoint loop, `Q.rounds`. Its per-round
  *    checkpoint bounds lineage; in parquet artifact-store mode a lost
  *    executor replays at most one propagation round from shared
  *    storage.
  *  - Each materialized round applies TWO relax+jump steps (the fixed
  *    per-round cost — checkpoint write, scheduling, probe — dominates
  *    on support-pruned graphs with small label tables), and the
  *    convergence probe (sum of labels) runs after every round: rep
  *    values are per-node monotone nonincreasing under min-label
  *    relaxation, so the sum is monotone nonincreasing and an unchanged
  *    sum across consecutive rounds proves the fixpoint. The probe is a
  *    one-row aggregate of the just-checkpointed table — an order of
  *    magnitude cheaper than the extra 6-join round a lagged detection
  *    would cost.
  *
  * The relax step is written as aggregate + LEFT JOIN, NOT as the
  * self-union + groupBy textbook form: the union form trips Spark's
  * Union constraint-propagation rewrite when the labels table comes
  * back from a checkpoint still carrying its (rep = nid) alias
  * constraint while the union's second child has projected `nid` away
  * ("key not found: nid#..." at analysis). The join form is
  * constraint-safe with the same shuffle count, so no session-conf
  * workaround is needed (round 5 toggled
  * spark.sql.constraintPropagation.enabled session-globally here, which
  * could race concurrent warm-up queries — gone).
  */
object CcEngine {

  /** Run min-label propagation to convergence on the one fixpoint
    * loop, [[Q.rounds]]: `labels0` is round 0, each round is two
    * relax+jump steps, the probe is the label sum, and the rounds are
    * named `<prefix>_<i>` (the prefix keeps the rounds of independent
    * graphs from colliding in parquet mode). Labels still changing
    * after `maxIter` rounds fail with [[Q.FixpointNotReached]].
    *
    * @param edges  symmetric edge list (src, dst) — caller materializes
    * @param labels0 initial labels (nid, rep) with rep = nid
    * @return converged (nid, rep), materialized
    */
  def propagate(prefix: String, edges: DataFrame, labels0: DataFrame,
      maxIter: Int = 30): DataFrame = {
    // coalesce: the graph may be empty at tiny SFs — sum over zero rows
    // is NULL, not 0
    def sumRep(df: DataFrame): Long =
      df.agg(coalesce(sum(col("rep")), lit(0L))).head.getLong(0)
    // One relax + pointer-jump step, built lazily on top of `cur`.
    def step(cur: DataFrame): DataFrame = {
      // relax: rep := min(rep, min over neighbors' reps)
      val nbrMin = edges.join(cur, edges("dst") === cur("nid"))
        .groupBy(edges("src").as("n2")).agg(min(col("rep")).as("nrep"))
      val relaxed = cur.join(nbrMin, cur("nid") === nbrMin("n2"), "left")
        .select(cur("nid"),
          least(col("rep"), coalesce(col("nrep"), col("rep"))).as("rep"))
      // pointer jump: rep := rep's rep (label distance doubles per step;
      // a double jump was tried on the near-dup graph and did not reduce
      // the round count — min-label relaxation over edges, not rep-chain
      // depth, is what binds convergence there)
      relaxed.as("x")
        .join(relaxed.select(col("nid").as("rn"), col("rep").as("rr")),
          col("rep") === col("rn"), "left")
        .select(col("nid"), coalesce(col("rr"), col("rep")).as("rep"))
    }
    // TWO relax+jump steps per materialized round (see the object
    // notes): at sf0.1 the co-purchase graph needed 8 single-step rounds;
    // past the fixpoint an extra step is a no-op. Lineage stays bounded:
    // 2 steps (= 6 joins) between checkpoints.
    Q.rounds(prefix, labels0, maxIter, Some(sumRep))((l, _) => step(step(l))).last
  }
}
