package graft

import graft.ops.Q
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The one scratch lifecycle in `Q`: every eager checkpoint is recorded
  * for its session, `materialize` runs only inside a memoized build,
  * scratch checkpoints are capped per (session, thread), and
  * `releaseSession` frees exactly the released session's blocks. */
class ScratchSpec extends AnyFunSuite {
  import TestSpark._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddId(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.logical.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.get

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
      assert(seen.size === 4, "one build makes 4 scratch checkpoints")
      for (i <- 2 to 100) {
        assert(q(s, sf).collect().toSeq === expected, s"rows changed on build $i")
        val tracked = Q.trackedScratch(s)
        assert(tracked.size <= 32, s"${tracked.size} scratch checkpoints tracked")
        seen ++= tracked
      }
      assert(seen.size === 400)
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
      val firstId = rddId(frames.head)
      assert(!ids.contains(firstId) && !live.contains(firstId))
      assert(frames.last.count() === 200)
      Q.releaseSession(s)
      assert(Q.trackedScratch(s).isEmpty)
      assert((persisted & ids.toSet).isEmpty)
    } finally Q.releaseSession(s)
  }

  test("another thread's 33 scratches do not evict this thread's scratch") {
    val s = spark.newSession()
    try {
      val df = s.range(0, 200).select((col("id") % 3).as("k"), col("id").as("v"))
      val mine = Q.scratch("spec_scratch_a")(df)
      val other = new Thread(() => (1 to 33).foreach(_ => Q.scratch("spec_scratch_b")(df)))
      other.start()
      other.join()
      assert(persisted.contains(rddId(mine)), "A's scratch was evicted by B")
      assert(mine.collect().toSeq.sortBy(_.getLong(1)) === df.collect().toSeq)
      assert(Q.trackedScratch(s).size === 33, "one of A's + 32 of B's")
    } finally Q.releaseSession(s)
  }

  test("materialize outside a memoized build fails with the named error") {
    val s = spark.newSession()
    try {
      val e = intercept[IllegalStateException](
        Q.materialize(s, sf, "spec_outside")(s.range(0, 10).toDF()))
      assert(e.getMessage.startsWith(Q.OutsideBuild), e.getMessage)
      assert(Q.trackedArtifacts(s).isEmpty)
      // the same call inside a build is the memoized artifact
      val art = Q.memoized(s, sf, "spec_inside")(
        Q.materialize(s, sf, "spec_inside")(s.range(0, 10).toDF()))
      assert(art.count() === 10)
      assert(Q.trackedArtifacts(s) === Seq(rddId(art)))
    } finally Q.releaseSession(s)
  }

  test("40 g_cuped builds track no artifact and at most 32 scratch checkpoints") {
    val s = spark.newSession()
    try {
      val q = Registry.queries("g_cuped")
      val expected = q(s, sf).collect().toSeq
      for (i <- 2 to 40)
        assert(q(s, sf).collect().toSeq === expected, s"rows changed on build $i")
      assert(Q.trackedArtifacts(s).isEmpty)
      assert(Q.trackedScratch(s).size === 32)
    } finally Q.releaseSession(s)
  }

  test("after a one-session sweep no memoized frame reads a scratch checkpoint") {
    // per-thread eviction is safe only while scratch stays inside one
    // construction: a memoized frame reading a scratch would outlive it
    val s = spark.newSession()
    // derived copies (dppOrders, the e_ round-trip files) go to this
    // session's own root: rewriting the shared one would pull the files
    // from under other sessions' memoized frames
    s.conf.set("spark.graft.artifactDir",
      java.nio.file.Files.createTempDirectory("graft_sweep").toString)
    try {
      var seen = Set.empty[Int]
      for (q <- Registry.queries.keys.toSeq.sorted) {
        Registry.queries(q)(s, sf)
        seen ++= Q.trackedScratch(s)
      }
      assert(seen.size > 32, "the sweep built fewer scratch checkpoints than one cap")
      val memo = Q.memoFrames(s)
      assert(memo.nonEmpty)
      val read = memo.flatMap(_.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }).toSet
      assert((read & seen).isEmpty, s"memoized frames read scratch ${read & seen}")
    } finally Q.releaseSession(s)
  }
}
