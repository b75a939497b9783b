package graft

import graft.ops.ExtOps
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants (SURVEY.md §5.3) — ScalaCheck generators
  * driven from a fixed seed (only scalatest + scalacheck are resolvable
  * offline, so the properties are looped by hand instead of via the
  * scalatestplus bridge).
  */
class PropertySpec extends AnyFunSuite {

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
  private val sentence = Gen.nonEmptyListOf(word).map(_.mkString(" "))

  private def samples[A](g: Gen[A], n: Int = 100): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  /** `sel` against Spark's holistic `percentile` at every fraction of
    * `ps`: both directions of EXCEPT (null-safe), one row per key. */
  private def assertHolistic(df: org.apache.spark.sql.DataFrame, ps: Seq[Double],
      sel: Seq[(Double, String)] => org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    val named = ps.zipWithIndex.map { case (p, i) => (p, s"p$i") }
    val got = sel(named)
    val holistic = df.groupBy(col("k")).agg(
      percentile(col("v"), lit(ps.head)).as("p0"),
      named.tail.map { case (p, n) => percentile(col("v"), lit(p)).as(n) }: _*)
    val diff = got.except(holistic).union(holistic.except(got))
    assert(diff.isEmpty, s"differs from the holistic percentile:\n" +
      diff.collect().mkString("\n"))
    assert(got.count() == df.select("k").distinct().count())
  }

  /** Groups the bracketed selection must get exactly right: one group
    * holding most of the rows (past the sketch-bracket threshold) with
    * nulls, heavy ties, n = 1, n = 2, the 20-rows-5-nulls case, and an
    * all-null group. Values are multiples of 1/8, so at dyadic
    * fractions both interpolation formulas are exact. */
  private def edgeGroups = {
    import TestSpark._
    import org.apache.spark.sql.functions._
    val id = col("id")
    spark.range(0, 30000).select(lit(0L).as("k"),
        when(id % 10 === 3, lit(null))
          .otherwise(pmod(id * 2654435761L, lit(997)).cast("double") / 8.0).as("v"))
      .union(spark.range(0, 500).select(lit(1L), (id % 3).cast("double")))
      .union(spark.range(0, 1).select(lit(2L), lit(4.5)))
      .union(spark.range(0, 2).select(lit(3L), id.cast("double") * 3.0))
      .union(spark.range(1, 21).select(lit(4L),
        when(id % 4 === 0, lit(null)).otherwise(id.cast("double"))))
      .union(spark.range(0, 3).select(lit(5L), lit(null).cast("double")))
  }

  test("Q.exactPercentiles equals the holistic percentile aggregate") {
    // the sketch-bracketed selection (what the checked queries run —
    // no single aggregation buffer) must be VALUE-identical to Spark's
    // holistic percentile at every requested fraction, on data with
    // ties, uneven groups, non-integral values, nulls (ignored, as in
    // quantile_cont), groups of one and two rows, one dominant group,
    // and the end fractions p = 0 and p = 1.
    import TestSpark._
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 2000).select(
      (col("id") % 7).as("k"),
      (pmod(col("id") * 2654435761L, lit(997)).cast("double") / 8.0).as("v"))
    assertHolistic(df, Seq(0.25, 0.5, 0.75, 0.9),
      graft.ops.Q.exactPercentiles(df, "k", "v", _))
    val edge = edgeGroups
    assertHolistic(edge, Seq(0.0, 0.25, 0.5, 0.75, 1.0),
      graft.ops.Q.exactPercentiles(edge, "k", "v", _))
    // integer values and a null key: the selection compares in the
    // value type's own ordering and the interpolation keeps its typing
    val longs = spark.range(0, 3000).select(
      when(col("id") % 5 === 0, lit(null)).otherwise(col("id") % 3).as("k"),
      pmod(col("id") * 7919L, lit(101L)).as("v"))
    assertHolistic(longs, Seq(0.1, 0.5, 0.95),
      graft.ops.Q.exactPercentiles(longs, "k", "v", _))
    // nulls are ignored: the 15 values of 1..20 (5 nulls) give
    // p25 = 5.5 and p50 = 10.0, as the holistic percentile does
    val r = graft.ops.Q.exactPercentiles(edge.filter(col("k") === 4), "k", "v",
      Seq((0.25, "p25"), (0.5, "p50"))).head()
    assert((r.getDouble(1), r.getDouble(2)) === ((5.5, 10.0)))
  }

  test("bracketed selection: narrowing rounds stay exact under a small cap") {
    // a 16-value cap forces every group past it through eager narrowing
    // rounds (grid sketch of the inside values, re-bracket) before the
    // final pass — the 100 TB branch, driven at test scale
    val edge = edgeGroups
    assertHolistic(edge, Seq(0.0, 0.25, 0.5, 0.75, 1.0),
      graft.ops.Q.bracketed(edge, "k", "v", _, 5e-4, 16))
  }

  test("bracketed selection: a bracket miss fails by name, never a wrong value") {
    // adversarial ties: 10000 × 1.0 then 10000 × 2.0, so the median's
    // two ranks (10000, 10001) straddle the tie boundary. With a zero
    // margin the sketch brackets a single tie value — [1, 1] or
    // [2, 2] — and one rank falls outside; the counts must catch it.
    import TestSpark._
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 20000).select(lit("t").as("k"),
      when(col("id") < 10000, 1.0).otherwise(2.0).as("v"))
    val ps = Seq((0.5, "med"))
    val e = intercept[Exception](graft.ops.Q.bracketed(df, "k", "v", ps, 0.0, 1L << 17).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage))
    assert(msgs.exists(_.contains(graft.ops.Q.BracketMiss)), e.toString)
    // the production margin brackets both tie values and gets the
    // interpolated median
    assert(graft.ops.Q.exactPercentiles(df, "k", "v", ps).head().getDouble(1) === 1.5)
  }

  test("prefix filtering is lossless: every J>=0.9 pair collides in both prefixes") {
    // the AllPairs lemma h_prefix_filter_pairs stands on, checked on
    // generated corpora salted with true near-duplicates (a random
    // corpus almost never has J >= 0.9 pairs): for ANY document
    // frequency ordering, a pair with J >= τ must share a token in
    // both p = n − ⌈τn⌉ + 1 prefixes — the same integer-arithmetic p
    // the checked query computes.
    val tokenSet = Gen.chooseNum(10, 40)
      .flatMap(n => Gen.listOfN(n, Gen.choose(0, 60)).map(_.toSet))
      .suchThat(_.size >= 10)
    (0 until 40).foreach { i =>
      val bases = samples(tokenSet, 12).map(_.toSet[Int])
      // near-dup salts: drop one element (J = (n-1)/n >= 0.9 at n >= 10)
      val corpus = (bases ++ bases.map(s => s - s.min) ++
        bases.map(s => s - s.max)).zipWithIndex.map(_.swap).toMap
      val df = corpus.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
      def prefix(s: Set[Int]): Set[Int] = {
        val n = s.size
        val p = n - (9 * n + 9) / 10 + 1
        s.toSeq.sortBy(t => (df(t), t)).take(p).toSet
      }
      for ((ia, sa) <- corpus; (ib, sb) <- corpus if ia < ib) {
        val j = (sa & sb).size.toDouble / (sa | sb).size
        if (j >= 0.9)
          assert((prefix(sa) & prefix(sb)).nonEmpty,
            s"round $i: qualifying pair ($ia,$ib) j=$j missed by prefix filter")
      }
    }
  }

  test("count-min estimate never underestimates the true frequency") {
    // the CMS guarantee d_agg_cms_freq's overcount column relies on,
    // under a deliberately tiny width (64) so collisions are dense and
    // the est >= exact property is non-trivially exercised with the
    // production hash ((k + r·1000003) · knuth mod 2^32 mod w).
    val keys = Gen.listOfN(500, Gen.choose(0L, 50L))
    (0 until 20).foreach { i =>
      val data = samples(keys, 1).head
      val w = 64
      def cell(k: Long, r: Int): Int =
        ((BigInt(k + r * 1000003L) * BigInt(2654435761L))
          .mod(BigInt(4294967296L)).mod(BigInt(w))).toInt
      val cms = Array.ofDim[Long](4, w)
      data.foreach { k => (0 until 4).foreach { r => cms(r)(cell(k, r)) += 1 } }
      data.groupBy(identity).view.mapValues(_.size.toLong).foreach { case (k, n) =>
        val est = (0 until 4).map(r => cms(r)(cell(k, r))).min
        assert(est >= n, s"round $i: CMS underestimated key $k: $est < $n")
      }
    }
  }

  test("jaccard is symmetric, in [0,1], and 1 on self") {
    samples(Gen.zip(sentence, sentence)).foreach { case (a, b) =>
      val j = ExtOps.jaccardStr(a, b)
      assert(j >= 0.0 && j <= 1.0)
      assert(j === ExtOps.jaccardStr(b, a))
      assert(ExtOps.jaccardStr(a, a) === 1.0)
    }
  }

  test("VecMean is accumulation-order independent") {
    val vecGen = Gen.listOfN(64, Gen.chooseNum(-1.0f, 1.0f)).map(_.toSeq)
    samples(Gen.nonEmptyListOf(vecGen), n = 30).foreach { vecs =>
      val embs = vecs.zipWithIndex.map { case (v, i) => ExtOps.Emb(i.toLong, v, 0) }
      val forward = embs.foldLeft(ExtOps.VecMean.zero)(ExtOps.VecMean.reduce)
      val (l, r) = embs.reverse.splitAt(embs.size / 2)
      val merged = ExtOps.VecMean.merge(
        l.foldLeft(ExtOps.VecMean.zero)(ExtOps.VecMean.reduce),
        r.foldLeft(ExtOps.VecMean.zero)(ExtOps.VecMean.reduce))
      assert(ExtOps.VecMean.finish(forward) === ExtOps.VecMean.finish(merged))
    }
  }

  test("polynomial fingerprint matches a BigInt reference") {
    samples(sentence).foreach { t =>
      val ref = t.getBytes("UTF-8").foldLeft(BigInt(0))((a, c) => (a * 31 + (c & 0xff)) % 1000000007)
      val fast = t.getBytes("UTF-8").foldLeft(0L)((a, c) => (a * 31 + (c & 0xff)) % 1000000007)
      assert(BigInt(fast) === ref)
    }
  }
}
