package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The pluggable artifact store behind Q.materialize (SURVEY §2-H dedup
  * chain): `local` (default) materializes via localCheckpoint — right
  * for a single JVM, but truncated lineage dies with an executor;
  * `parquet` writes each artifact (pair table, CC labels, masks) to a
  * shared directory and re-reads it — the fault-tolerant cluster mode.
  * These specs pin that (a) both modes produce identical checked-query
  * results, and (b) parquet-mode artifacts are real files a FRESH
  * session can consume without recomputing the chain.
  */
class ArtifactStoreSpec extends AnyFunSuite {
  import TestSpark._

  private def withParquetStore[A](dir: String)(body: => A): A = {
    spark.conf.set("spark.graft.artifactStore", "parquet")
    spark.conf.set("spark.graft.artifactDir", dir)
    try body
    finally {
      spark.conf.unset("spark.graft.artifactStore")
      spark.conf.unset("spark.graft.artifactDir")
    }
  }

  test("dedup chain is store-agnostic and artifacts survive into a fresh session") {
    val tmp = TestSpark.tempDir("graft_artifacts")
    // local-mode reference (the default store)
    val expected = Registry.queries("h_dedup_clusters")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val (viaParquet, pairRows) = withParquetStore(tmp) {
      (Registry.queries("h_dedup_clusters")(spark, sf).collect().map(_.toSeq).toSeq,
        Registry.queries("h_minhash_lsh_dedup")(spark, sf).count())
    }
    assert(viaParquet == expected,
      "parquet-store dedup clusters diverge from the localCheckpoint store")
    assert(pairRows > 0)
    // the artifacts are durable files, named per (corpus, artifact)
    val files = new java.io.File(tmp).listFiles()
    assert(files != null && files.exists(_.getName.endsWith("minhashPairsAll")),
      s"pair-table artifact missing under $tmp: ${Option(files).fold("")(_.mkString(","))}")
    assert(files.exists(_.getName.endsWith("ccDocLabels")))
    // a FRESH session (new session state, shared context — the in-JVM
    // stand-in for "another job after this one died") reads the pair
    // table straight from the store: no memo, no recompute.
    val s2 = spark.newSession()
    val reread = s2.read.parquet(
      files.filter(_.getName.endsWith("minhashPairsAll")).head.getPath)
    assert(reread.count() == pairRows)
    assert(reread.columns.toSet == Set("doc_a", "doc_b", "jaccard"))
    // and the labels artifact joins against the docs table like any
    // downstream consumer would
    val labels = s2.read.parquet(
      files.filter(_.getName.endsWith("ccDocLabels")).head.getPath)
    val docs = s2.read.parquet(s"$sf/documents.parquet").select(col("doc_id"))
    assert(labels.join(docs, "doc_id").count() == labels.count())
  }

  test("parquet store: a second construction leaves the first frame's rows intact") {
    val tmp = TestSpark.tempDir("graft_artifacts")
    // every file under the store root with its modification time
    def stamps(): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(f => f.toString -> java.nio.file.Files.getLastModifiedTime(f).toMillis).toMap
    }
    // c_join_dpp reads a Q.fileArtifact copy (dppOrders): its second
    // construction in the same session rewrites no file
    for (q <- Seq("h_embed_drift", "g_cuped", "c_join_dpp")) {
      val expected = Registry.queries(q)(spark, sf).collect().map(_.toSeq).toSeq
      val (first, before, after) = withParquetStore(tmp) {
        val first = Registry.queries(q)(spark, sf)
        val before = stamps()
        Registry.queries(q)(spark, sf)
        val after = stamps()
        (first.collect().map(_.toSeq).toSeq, before, after)
      }
      assert(first == expected, s"$q: first parquet-store frame diverges from the local store")
      assert(after == before, s"$q: a second construction rewrote files under the store")
      if (q == "c_join_dpp")
        assert(before.keys.exists(_.contains("dppOrders")), s"no dppOrders copy under $tmp")
    }
  }

  test("two sessions building the same derived copy both keep reading it") {
    // c_join_dpp's month-partitioned orders copy is memoized per session,
    // so a second session rebuilds it; the rebuild must not overwrite the
    // files the first session's frame lists
    val (a, b) = (spark.newSession(), spark.newSession())
    try {
      val first = Registry.queries("c_join_dpp")(a, sf)
      val second = Registry.queries("c_join_dpp")(b, sf)
      val rows = first.collect().map(_.toSeq).toSeq
      assert(rows.nonEmpty)
      assert(second.collect().map(_.toSeq).toSeq == rows)
      assert(graft.ops.Q.artifactPath(a, sf, "dppOrders") !=
        graft.ops.Q.artifactPath(b, sf, "dppOrders"))
    } finally {
      graft.ops.Q.releaseSession(a)
      graft.ops.Q.releaseSession(b)
    }
  }
}
