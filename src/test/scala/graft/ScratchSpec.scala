package graft

import graft.ops.Q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The one scratch lifecycle in `Q`: every eager checkpoint is recorded
  * for its session, `materialize` runs only inside a `Q.artifact` build,
  * an artifact is stored once (a build's own last round is not stored
  * again),
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
      // an artifact is checkpointed once; a second call with the same
      // name is the same frame and tracks no new id
      val art = Q.artifact(s, sf, "spec_inside")(s.range(0, 10).toDF())
      assert(art.count() === 10)
      assert(Q.trackedArtifacts(s) === Seq(rddId(art)))
      assert(Q.artifact(s, sf, "spec_inside")(s.range(0, 99).toDF()) eq art)
      assert(Q.trackedArtifacts(s) === Seq(rddId(art)))
      // a build that ends on its own materialize round hands that round
      // over: it tracks exactly its rounds, not a second checkpoint —
      // by hand, or as the last round of Q.rounds
      def byHand = {
        var r = Q.materialize(s, sf, "spec_round_0")(s.range(0, 10).toDF())
        for (i <- 1 to 2)
          r = Q.materialize(s, sf, s"spec_round_$i")(r.filter(col("id") >= i))
        r
      }
      def driven = Q.rounds("spec_driven", s.range(0, 10).toDF(), 2)(
        (r, i) => r.filter(col("id") >= i)).last
      for ((name, build) <- Seq[(String, () => DataFrame)](
          "spec_rounds" -> (() => byHand), "spec_rounds_driven" -> (() => driven))) {
        val before = Q.trackedArtifacts(s)
        val looped = Q.artifact(s, sf, name)(build())
        val rounds = Q.trackedArtifacts(s).drop(before.size)
        assert(rounds.size === 3, s"$name tracked ${rounds.size} checkpoints for 3 rounds")
        assert(rounds.last === rddId(looped))
        assert(looped.count() === 8)
      }
      // outside a build the same rounds are scratch
      val (arts, scr) = (Q.trackedArtifacts(s), Q.trackedScratch(s))
      assert(driven.count() === 8)
      assert(Q.trackedArtifacts(s) === arts)
      assert(Q.trackedScratch(s).size === scr.size + 3)
    } finally Q.releaseSession(s)
  }

  test("fixed-round driver returns max + 1 rounds, round 0 first") {
    val s = spark.newSession()
    try {
      val rs = Q.rounds("spec_fixed", s.range(0, 10).toDF(), 3)(
        (r, i) => r.filter(col("id") >= i))
      assert(rs.map(_.count()) === Seq(10, 9, 8, 7))
      assert(Q.trackedScratch(s).size === 4)
    } finally Q.releaseSession(s)
  }

  /** A symmetric edge table (src, dst) over the given undirected pairs. */
  private def undirected(s: SparkSession, pairs: (Long, Long)*): DataFrame = {
    import s.implicits._
    (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
  }

  test("CC that has not converged within max rounds fails with the named error") {
    val s = spark.newSession()
    try {
      // an 8-node path needs 3 rounds (two relax+jump steps each) to
      // label every node 0 and one more to see the label sum hold
      val edges = undirected(s, (0 until 7).map(i => (i.toLong, i + 1L)): _*)
      val labels0 = s.range(0, 8).select(col("id").as("nid"), col("id").as("rep"))
      val e = intercept[IllegalStateException](
        graft.ops.CcEngine.propagate("spec_cc", edges, labels0, maxIter = 1))
      assert(e.getMessage.startsWith(Q.FixpointNotReached), e.getMessage)
      assert(e.getMessage.contains("'spec_cc'") && e.getMessage.contains("28 -> 1"),
        e.getMessage)
      val done = graft.ops.CcEngine.propagate("spec_cc", edges, labels0)
      assert(done.collect().map(_.getLong(1)).toSet === Set(0L))
    } finally Q.releaseSession(s)
  }

  test("k-core that needs more peels than max fails with the named error") {
    val s = spark.newSession()
    try {
      // a 4-clique with a tail 1-5, 2-5, 5-6, 3-6, 6-7: node 7 is cut
      // before the peel, node 6 on peel 1, node 5 on peel 2, and peel 3
      // sees the clique hold
      val edges = undirected(s, (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
        (3L, 4L), (1L, 5L), (2L, 5L), (5L, 6L), (3L, 6L), (6L, 7L))
      val keep0 = edges.groupBy(col("src").as("node")).count()
        .filter(col("count") >= 3).select(col("node"), col("count").as("cdeg"))
      val e = intercept[IllegalStateException](
        graft.ops.GraphOps.kcorePeel(edges, keep0, 2))
      assert(e.getMessage.startsWith(Q.FixpointNotReached), e.getMessage)
      assert(e.getMessage.contains("5 -> 4"), e.getMessage)
      val core = graft.ops.GraphOps.kcorePeel(edges, keep0, 3)
      assert(core.collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L))
    } finally Q.releaseSession(s)
  }

  test("one fixpoint loop: no hand-named round checkpoint outside Q.scala") {
    // an iterative build names its rounds through Q.rounds; a
    // materialize or scratch call with an interpolated name is a
    // hand-rolled round loop
    import scala.jdk.CollectionConverters._
    val hand = "Q\\.(materialize\\([^,]*,[^,]*, *|scratch\\()s\"".r
    val found = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && f.getFileName.toString != "Q.scala")
      .flatMap { f =>
        val ls = java.nio.file.Files.readAllLines(f).asScala
        ls.indices.filter(i => hand.findFirstIn(ls(i)).nonEmpty)
          .map(i => s"${f.getFileName}:${i + 1}")
      }.toSeq
    assert(found.isEmpty, s"hand-named round checkpoints: ${found.mkString(", ")}")
  }

  test("one artifact call: outside Q.scala no hand-paired memo, artifact log or timed write") {
    // every pipeline artifact goes through Q.artifact / Q.fileArtifact,
    // which name, memoize, store, time and log it; a hand-rolled memo,
    // [artifact] line or stopwatch around an artifact write fails here
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && f.getFileName.toString != "Q.scala")
      .map(f => f.getFileName.toString ->
        java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq).toSeq
    def sites(hit: (IndexedSeq[String], Int) => Boolean) = files.flatMap { case (n, ls) =>
      ls.indices.filter(hit(ls, _)).map(i => s"$n:${i + 1}")
    }
    for (pat <- Seq("Q.memoized(", "Q.logArtifact(")) {
      val found = sites((ls, i) => ls(i).contains(pat))
      assert(found.isEmpty, s"$pat call sites: ${found.mkString(", ")}")
    }
    val timedWrites = sites((ls, i) => ls(i).contains("System.nanoTime()") &&
      ls.slice(math.max(i - 10, 0), i + 11).exists(l =>
        l.contains("Q.artifactPath(") || l.contains(".write")))
    assert(timedWrites.isEmpty, s"stopwatches next to a write: ${timedWrites.mkString(", ")}")
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
      TestSpark.tempDir("graft_sweep"))
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
      // the memo holds only built artifacts: a checkpoint, or a scan of
      // files written under this session's artifact root — never a lazy
      // plan that re-executes on every read
      val root = new java.io.File(s.conf.get("spark.graft.artifactDir")).toURI.getPath
      val loose = memo.map(_.queryExecution.analyzed).filterNot {
        case _: org.apache.spark.sql.execution.LogicalRDD => true
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.forall(_.toUri.getPath.startsWith(root))
            case _ => false
          }
        case _ => false
      }
      assert(loose.isEmpty, s"memoized frames that are no stored artifact:\n" +
        loose.map(_.treeString.take(300)).mkString("\n"))
    } finally Q.releaseSession(s)
  }
}
