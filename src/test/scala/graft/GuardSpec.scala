package graft

import org.scalatest.funsuite.AnyFunSuite

/** The engine's fail-LOUD guards, actually exercised: corrupt inputs
  * must throw, never produce silently-wrong results. At 100 TB a silent
  * mask/dimension corruption poisons every downstream consumer — the
  * guards' scaladocs make that argument; this spec proves the guards
  * fire.
  */
class GuardSpec extends AnyFunSuite {
  import TestSpark._

  private def rootMessages(t: Throwable): String = {
    val sb = new StringBuilder
    var cur: Throwable = t
    while (cur != null) {
      sb.append(String.valueOf(cur.getMessage)).append(" | ")
      cur = cur.getCause
    }
    sb.toString
  }

  test("ragged embedding dimensions fail the PQ build loudly") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_ragged")
    Seq((1L, Seq(1f, 2f, 3f, 4f, 5f, 6f, 7f, 8f), 0),
      (2L, Seq(1f, 2f, 3f), 1)) // ragged: 3 dims vs 8
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e = intercept[Throwable] {
      Registry.queries("h_pq_encode")(spark, dir).collect()
    }
    assert(rootMessages(e).contains("ragged"),
      s"expected the ragged-dim assert, got: ${rootMessages(e).take(300)}")
  }

  test("a >64-token vocabulary routes to width-adaptive wide masks, stays correct") {
    // r12's fail-loud 64-token guard (silently-wrapping shiftleft would
    // corrupt single-long masks) is replaced by a width probe: a >64
    // vocabulary routes to the array<long> representation and the whole
    // docMasks dedup family keeps serving — scale continuity for the
    // sf1 corpus (89-token vocab) where the guard used to refuse.
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_widevocab")
    val words = (0 until 70).map(i => f"tok$i%02d")
    // doc1 ~ doc2 at j = 69/70 ≈ 0.9857 (the one ≥0.9 pair); doc3 at
    // j = 0.5 from doc1 must NOT pair
    Seq(
      (1L, words.mkString(" "), "en", "src0", 100L),
      (2L, words.take(69).mkString(" "), "en", "src0", 100L),
      (3L, words.take(35).mkString(" "), "en", "src0", 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = Registry.queries("h_jaccard_pairs")(spark, dir).collect()
    assert(pairs.length === 1, s"expected exactly (1,2), got ${pairs.toSeq}")
    assert(pairs.head.getLong(0) === 1L && pairs.head.getLong(1) === 2L)
    assert(math.abs(pairs.head.getDouble(3) - 69.0 / 70.0) < 1e-6,
      s"jaccard ${pairs.head.getDouble(3)} != 69/70")
    // the CC cluster family rides the same wide masks: {1,2} one
    // cluster (rep=1, 2 members), {3} a singleton
    val clusters = Registry.queries("h_dedup_clusters")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(clusters === Set((1L, 1L, 2L), (2L, 1L, 2L), (3L, 3L, 1L)),
      s"wide-mask clusters wrong: $clusters")
  }

  test("adamic-adar deg-1 wedge center yields NULL on both engines, not 1/ln(1)") {
    // The support-pruned wedge construction guarantees deg(z) >= 2, but
    // the 1/ln(deg) projection is pushed below the join onto the FULL
    // degree table. If that invariant ever breaks, the Spark spelling
    // (otherwise-less `when`) and the oracle spelling (ELSE-less CASE)
    // must fail IDENTICALLY: a SQL NULL that SUM skips — never an ANSI
    // divide-by-zero, an Infinity, or a silent 0 that only one engine
    // contributes. Pin the Spark side on constructed deg-1/2/3 rows;
    // the oracle side is NULL by the same ELSE-less CASE semantics of
    // the SQL standard.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sum}
    val rows = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("z", "zdeg")
      .withColumn("term", graft.ops.GraphOps.adamicAdarTerm(col("zdeg")))
    val collected = rows.orderBy("z").collect()
    assert(collected(0).isNullAt(2),
      "deg=1 must give NULL (mirrors the oracle's ELSE-less CASE), " +
        s"got ${collected(0).get(2)}")
    assert(!collected(1).isNullAt(2) && !collected(2).isNullAt(2))
    // SUM skips the NULL — the aggregate equals the deg>=2 contribution
    val total = rows.agg(sum(col("term"))).collect()(0).getDouble(0)
    val expected = 1.0 / math.log(2.0) + 1.0 / math.log(3.0)
    assert(math.abs(total - expected) < 1e-9,
      s"NULL term must be skipped by SUM: $total vs $expected")
  }
}
