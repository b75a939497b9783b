package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Storage-layout scale mechanics (SURVEY §2 scale notes): bucketing and
  * partitioned layout are the two levers that delete shuffles and scans
  * at 100 TB — a fact-fact join between tables bucketed on the join key
  * reads co-located buckets with NO exchange, and a filter on a dim
  * table prunes fact partitions at runtime via dynamic partition
  * pruning. Both are pinned here as executed-plan properties, not
  * assumed.
  */
class StorageLayoutSpec extends AnyFunSuite {
  import TestSpark._

  private def withConfs(confs: Seq[(String, String)])(body: => Unit): Unit = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("bucketed fact-fact join runs shuffle-free (co-located buckets, no Exchange)") {
    spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_bucketed")
    spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_totalprice")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_bucketed")
    // broadcast disabled so shuffle-freeness is attributable to the
    // bucket layout, not to a broadcast of the small test data
    withConfs(Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")) {
      val df = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"), max(col("o_totalprice") + col("l_quantity")).as("m"))
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"))
      assert(!p.contains("Exchange hashpartitioning"),
        "bucketed join still shuffles — bucket pruning/co-location not engaged")
    }
  }

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime") {
    spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_extendedprice", "l_returnflag")
      .write.partitionBy("l_returnflag")
      .mode("overwrite").saveAsTable("li_partitioned")
    import spark.implicits._
    // the dim must be a file-backed table: a LocalRelation dim defeats
    // the broadcast-reuse check and DPP silently declines
    Seq(("R", "returned"), ("N", "none"), ("A", "ack"))
      .toDF("flag", "flag_name")
      .write.mode("overwrite").saveAsTable("flag_dim")
    val df = spark.table("li_partitioned")
      .join(spark.table("flag_dim"), col("l_returnflag") === col("flag"))
      .filter(col("flag_name") === "returned")
      .agg(sum(col("l_extendedprice")).as("s"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      "no dynamic partition pruning filter reached the partitioned scan")
  }

  test("identical shuffle subtrees are computed once (ReusedExchange in self-join)") {
    // h_source_overlap's a/b branches scan+digest the same corpus and
    // shuffle on the same key: Catalyst must plan ONE exchange and reuse
    // it, or every self-join pattern doubles its scan + shuffle cost.
    // At test scale AQE would broadcast one side (no exchange to reuse),
    // so pin the at-scale shape by disabling broadcast.
    withConfs(Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")) {
      val df = Registry.queries("h_source_overlap")(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
        "self-join branches each recomputed the digest shuffle:\n" + p.take(2000))
    }
  }

  test("dynamic partition overwrite replaces only the touched partitions") {
    // the incremental-backfill write mode: re-running one day/language
    // of a partitioned table must replace exactly that partition — in
    // STATIC mode (the default) the same insert wipes every partition
    // first, which at 100 TB silently deletes the rest of the dataset.
    val dir = TestSpark.tempDir("graft_dpo")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "n_chars")
    docs.write.partitionBy("lang").mode("overwrite").parquet(dir)
    val before = spark.read.parquet(dir)
    val nTotal = before.count()
    val nEs = before.filter(col("lang") === "es").count()
    withConfs(Seq("spark.sql.sources.partitionOverwriteMode" -> "dynamic")) {
      // rewrite ONLY lang=es, with a marker change (n_chars negated)
      docs.filter(col("lang") === "es")
        .withColumn("n_chars", -col("n_chars"))
        .write.partitionBy("lang").mode("overwrite").parquet(dir)
    }
    val after = spark.read.parquet(dir)
    assert(after.count() === nTotal, "dynamic overwrite dropped untouched partitions")
    assert(after.filter(col("lang") === "es" && col("n_chars") < 0).count() === nEs,
      "the touched partition was not replaced")
    assert(after.filter(col("lang") =!= "es" && col("n_chars") < 0).count() === 0L)
  }

  test("write-audit-publish: staged write, DQ gate, atomic publish") {
    // The lakehouse ingestion flow a 100 TB pipeline relies on: new
    // data lands in a STAGING path, a DQ audit runs against the staged
    // files, and only a passing audit publishes — via one atomic
    // directory rename, so readers of the live path never observe a
    // partial or failing batch. A failing audit leaves the live path
    // byte-identical.
    val base = java.nio.file.Paths.get(TestSpark.tempDir("graft_wap"))
    val live = base.resolve("live"); val stage = base.resolve("_stage")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "n_chars")
    docs.write.parquet(live.toString)
    val liveCount = spark.read.parquet(live.toString).count()

    def audit(path: String): Boolean = {
      val d = spark.read.parquet(path)
      val bad = d.filter(col("doc_id").isNull || col("n_chars") <= 0).count()
      bad == 0L && d.count() > 0L
    }
    def publish(): Unit = {
      // atomic swap: stage → live (rename is atomic on one filesystem;
      // object stores swap a manifest/table pointer instead — same
      // contract, one mutation point)
      val tmp = base.resolve("_retired")
      java.nio.file.Files.move(live, tmp)
      java.nio.file.Files.move(stage, live)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }

    // batch 1: fails the audit (negative n_chars) → must NOT publish
    docs.withColumn("n_chars", -col("n_chars"))
      .write.parquet(stage.toString)
    assert(!audit(stage.toString), "bad batch passed the audit")
    org.apache.commons.io.FileUtils.deleteDirectory(stage.toFile)
    assert(spark.read.parquet(live.toString).count() === liveCount,
      "failed audit mutated the live path")
    assert(spark.read.parquet(live.toString)
      .filter(col("n_chars") < 0).count() === 0L)

    // batch 2: passes → publish swaps atomically
    docs.withColumn("n_chars", col("n_chars") + 1)
      .write.parquet(stage.toString)
    assert(audit(stage.toString))
    publish()
    val after = spark.read.parquet(live.toString)
    assert(after.count() === liveCount)
    assert(after.filter(col("n_chars") <= 1).count() === 0L,
      "published batch not visible after the swap")
  }

  test("writes respect maxRecordsPerFile (bounded output file size)") {
    // the sink-side 100 TB lever: without a per-file record bound a
    // 32-partition write of a huge table produces 32 unsplittable giant
    // files; with it, output file count scales with data volume.
    val dir = TestSpark.tempDir("graft_maxrec")
    withConfs(Seq("spark.sql.files.maxRecordsPerFile" -> "1000")) {
      spark.read.parquet(s"$sf/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
        .coalesce(1)
        .write.mode("overwrite").parquet(dir)
    }
    val n = spark.read.parquet(s"$sf/lineitem.parquet").count()
    val files = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    val expected = Math.ceil(n / 1000.0).toInt
    assert(files === expected,
      s"$n rows at 1000 rows/file should yield $expected files, got $files")
  }

  test("z-ordered write tightens per-file stats on BOTH dimensions") {
    // the write-path twin of e_zorder_locality's metric: actually write
    // the events z-ordered (repartitionByRange on the Morton column +
    // sortWithinPartitions — the exact layout recipe the helper's
    // scaladoc prescribes) vs time-sorted, then measure each OUTPUT
    // FILE's user_id min/max span. Time-sorted files each cover ~the
    // whole user domain (a user predicate prunes nothing); z-ordered
    // files must cover a small fraction of it on average — that span
    // is precisely what parquet row-group / Iceberg file stats prune on.
    val e = graft.io.Io.events(spark, sf).select(col("user_id"), col("ts_us"))
    val z = graft.ops.EtlOps.withMortonZ(e, "user_id", "ts_us")
      .select("user_id", "ts_us", "z")
    def write(sortCol: String): String = {
      val dir = TestSpark.tempDir(s"graft_z_$sortCol")
      z.repartitionByRange(16, col(sortCol)).sortWithinPartitions(sortCol)
        .write.mode("overwrite").parquet(dir)
      dir
    }
    def avgUserSpan(dir: String): Double = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath)
      assert(files.nonEmpty)
      val spans = files.map { f =>
        val r = spark.read.parquet(f)
          .agg(min(col("user_id")), max(col("user_id"))).head
        (r.getLong(1) - r.getLong(0) + 1).toDouble
      }
      spans.sum / spans.length
    }
    val spanZ = avgUserSpan(write("z"))
    val spanT = avgUserSpan(write("ts_us"))
    // 16 z-range files = 4 leading Morton bits = 2 bits per dimension:
    // each file covers ~1/4 of the user domain; time-sorted files cover
    // ~all of it. Assert the order-of-magnitude relationship, not the
    // exact grid (range-partition boundaries land mid-bucket).
    assert(spanZ < 0.5 * spanT,
      f"z-ordered avg user span $spanZ%.1f not materially tighter than time-sorted $spanT%.1f")
  }

  test("snapshot store: versioned merge, snapshot isolation, time travel, atomic pointer") {
    // The table-format contract on bare parquet: versions are immutable
    // directories, MERGE lands as a NEW version, the current pointer
    // swaps atomically, and any retained version stays readable —
    // byte-identical — after later versions publish. This is the
    // machinery behind the checked row e_snapshot_merge; here it runs
    // on constructed rows where every expected image is enumerable.
    import graft.io.SnapshotStore
    import spark.implicits._
    val root = TestSpark.tempDir("graft_snap")
    val v0 = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "price")
    SnapshotStore.writeVersion(v0, root, 0)
    assert(SnapshotStore.currentVersion(root) === 0)
    // MERGE: update k=2, insert k=4, leave k=1/k=3; k=3 absent from the
    // source must CARRY OVER (delete-free upsert)
    val src = Seq((1L, 10.0), (2L, 25.0), (4L, 40.0)).toDF("k", "price")
    val merged = SnapshotStore.merge(
      SnapshotStore.readVersion(spark, root, 0), src, "k", Seq("price"))
    SnapshotStore.writeVersion(merged, root, 1)
    // pointer swapped atomically to the new version
    assert(SnapshotStore.currentVersion(root) === 1)
    val cur = SnapshotStore.readCurrent(spark, root)
      .as[(Long, Double)].collect().sortBy(_._1)
    assert(cur.toSeq === Seq((1L, 10.0), (2L, 25.0), (3L, 30.0), (4L, 40.0)),
      s"merge image wrong: ${cur.toSeq}")
    // snapshot isolation: version 0 is untouched by the v1 publish
    val old = SnapshotStore.readVersion(spark, root, 0)
      .as[(Long, Double)].collect().sortBy(_._1)
    assert(old.toSeq === Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)),
      "publishing v1 mutated v0 — snapshot isolation broken")
    // time-travel diff recovers the CDC delta
    val delta = SnapshotStore.readCurrent(spark, root).as("c")
      .join(SnapshotStore.readVersion(spark, root, 0).as("p"),
        col("c.k") === col("p.k"), "left")
      .filter(col("p.k").isNull || col("c.price") =!= col("p.price"))
      .select(col("c.k")).as[Long].collect().sorted
    assert(delta.toSeq === Seq(2L, 4L), s"version diff wrong: ${delta.toSeq}")
  }

  test("snapshot store: vacuum retires old versions, keeps current, is idempotent") {
    import graft.io.SnapshotStore
    import spark.implicits._
    val root = TestSpark.tempDir("graft_vac")
    (0 to 3).foreach { v =>
      SnapshotStore.writeVersion(
        Seq((1L, v.toDouble)).toDF("k", "price"), root, v)
    }
    assert(SnapshotStore.listVersions(root) === Seq(0, 1, 2, 3))
    // keep the newest 2 → v0/v1 retired, v2/v3 retained
    val (removed, retained) = SnapshotStore.vacuum(root, keepLast = 2)
    assert(removed === Seq(0, 1) && retained === Seq(2, 3),
      s"vacuum removed=$removed retained=$retained")
    assert(SnapshotStore.listVersions(root) === Seq(2, 3))
    // the current pointer still resolves and reads the newest image
    assert(SnapshotStore.currentVersion(root) === 3)
    assert(SnapshotStore.readCurrent(spark, root)
      .as[(Long, Double)].collect().toSeq === Seq((1L, 3.0)))
    // retained time travel works; expired time travel fails loudly
    assert(SnapshotStore.readVersion(spark, root, 2)
      .as[(Long, Double)].collect().toSeq === Seq((1L, 2.0)))
    intercept[Exception] {
      SnapshotStore.readVersion(spark, root, 0).collect()
    }
    // idempotent: a second vacuum removes nothing
    val (removed2, retained2) = SnapshotStore.vacuum(root, keepLast = 2)
    assert(removed2.isEmpty && retained2 === Seq(2, 3))
    // the current version survives even a keepLast that would drop it
    SnapshotStore.vacuum(root, keepLast = 1)
    assert(SnapshotStore.listVersions(root) === Seq(3))
    intercept[IllegalArgumentException] {
      SnapshotStore.vacuum(root, keepLast = 0)
    }
  }

  test("snapshot store: vacuum is failure-atomic and tolerates foreign dirs") {
    import graft.io.SnapshotStore
    import spark.implicits._
    val root = TestSpark.tempDir("graft_vac2")
    (0 to 2).foreach { v =>
      SnapshotStore.writeVersion(
        Seq((1L, v.toDouble)).toDF("k", "price"), root, v)
    }
    // a stray non-numeric v= entry (writer scratch) must not break
    // listing or vacuum for the whole table root
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(root).resolve("v=tmp"))
    assert(SnapshotStore.listVersions(root) === Seq(0, 1, 2))
    // simulate a crash mid-expiry: the version dir renamed to its
    // tombstone but not yet reclaimed — the version must be INVISIBLE
    // (never readable with missing rows), not half-present
    java.nio.file.Files.move(
      java.nio.file.Paths.get(SnapshotStore.versionPath(root, 0)),
      java.nio.file.Paths.get(root).resolve("_vacuum_v=0"))
    assert(SnapshotStore.listVersions(root) === Seq(1, 2),
      "tombstoned version leaked into listVersions")
    intercept[Exception] { // expired read fails loudly, never partial
      SnapshotStore.readVersion(spark, root, 0).collect()
    }
    // the next vacuum reclaims the leftover tombstone and proceeds
    val (removed, retained) = SnapshotStore.vacuum(root, keepLast = 2)
    assert(removed === Seq.empty && retained === Seq(1, 2))
    val names = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      .iterator()
    var leftovers = List.empty[String]
    while (names.hasNext) {
      val n = names.next().getFileName.toString
      if (n.startsWith("_vacuum_")) leftovers ::= n
    }
    assert(leftovers.isEmpty, s"tombstones not reclaimed: $leftovers")
    // the stray dir survives untouched and reads still work
    assert(SnapshotStore.readVersion(spark, root, 2)
      .as[(Long, Double)].collect().toSeq === Seq((1L, 2.0)))
  }
}
