package graft

import graft.ops.Q
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The one scratch lifecycle in `Q`: every eager checkpoint is recorded
  * for its session, scratch checkpoints share one per-session cap, and
  * `releaseSession` frees exactly the released session's blocks. */
class ScratchSpec extends AnyFunSuite {
  import TestSpark._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("releaseSession frees only the released session's checkpoints") {
    val a = spark.newSession()
    val b = spark.newSession()
    try {
      val q = Registry.queries("i_graph_bfs")
      val expected = q(a, sf).collect().toSeq
      val beforeB = persisted
      assert(q(b, sf).collect().toSeq === expected)
      val ofB = persisted -- beforeB
      assert(ofB.nonEmpty, "session B built no checkpoints")
      Q.releaseSession(b)
      assert((persisted & ofB).isEmpty, "B's checkpoints survived its release")
      // A's memo still serves its checkpointed artifacts — their blocks
      // must still be there
      assert(q(a, sf).collect().toSeq === expected)
    } finally {
      Q.releaseSession(a)
      Q.releaseSession(b)
    }
  }

  test("100 g_markov_steady_state builds keep at most 32 scratch checkpoints") {
    val s = spark.newSession()
    try {
      val q = Registry.queries("g_markov_steady_state")
      val expected = q(s, sf).collect().toSeq
      var seen = Q.trackedScratch(s).toSet
      assert(seen.size === 3, "one build makes 3 scratch checkpoints")
      for (i <- 2 to 100) {
        assert(q(s, sf).collect().toSeq === expected, s"rows changed on build $i")
        val tracked = Q.trackedScratch(s)
        assert(tracked.size <= 32, s"${tracked.size} scratch checkpoints tracked")
        seen ++= tracked
      }
      assert(seen.size === 300)
      // every evicted scratch is unpersisted, not just untracked
      val evicted = seen -- Q.trackedScratch(s)
      assert((persisted & evicted).isEmpty)
    } finally Q.releaseSession(s)
  }

  test("scratch evicts its oldest checkpoint beyond 32") {
    val s = spark.newSession()
    try {
      val df = s.range(0, 200).select((col("id") % 3).as("k"), col("id").as("v"))
      val frames = (1 to 33).map(_ => Q.scratch("spec_scratch")(df))
      val ids = Q.trackedScratch(s)
      assert(ids.size === 32)
      val live = persisted
      assert(ids.forall(live.contains), "a tracked scratch is not persisted")
      // the first frame's checkpoint was the one evicted
      val firstId = frames.head.queryExecution.logical.collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }.get
      assert(!ids.contains(firstId) && !live.contains(firstId))
      assert(frames.last.count() === 200)
      Q.releaseSession(s)
      assert(Q.trackedScratch(s).isEmpty)
      assert((persisted & ids.toSet).isEmpty)
    } finally Q.releaseSession(s)
  }
}
