package graft

import graft.io.Io
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Catalog / DDL surface (r12 VERDICT item 6) — the one engine surface
  * the checked queries never exercise, because Verify/Bench read from
  * paths. A real deployment's SECOND session starts from a catalog:
  * managed tables under the warehouse dir, external tables over
  * existing parquet, views as stored query text, and spark.catalog
  * metadata as the discovery API. At 100 TB the catalog also carries
  * the partition layout — exercised below with partitioned saveAsTable
  * + a partition-pruned read through the table name.
  */
class CatalogSpec extends AnyFunSuite {
  import TestSpark._

  test("saveAsTable publishes a managed table; catalog lists and reads it back") {
    spark.sql("DROP TABLE IF EXISTS cat_nation")
    Io.table(spark, sf, "nation").write.saveAsTable("cat_nation")
    // catalog metadata: listed, typed MANAGED, columns match
    val t = spark.catalog.listTables().collect()
      .filter(_.name == "cat_nation")
    assert(t.length === 1 && t.head.tableType === "MANAGED")
    assert(spark.catalog.tableExists("cat_nation"))
    val cols = spark.catalog.listColumns("cat_nation")
      .collect().map(_.name).toSet
    assert(cols === Io.table(spark, sf, "nation").columns.toSet)
    // data round-trips by NAME, not path
    assert(spark.table("cat_nation").count() ===
      Io.table(spark, sf, "nation").count())
    // a managed table is GLOBAL session state: a fresh session on the
    // same context starts from the catalog and sees it (the
    // second-session contract a path-based read can't offer)
    assert(spark.newSession().catalog.tableExists("cat_nation"))
  }

  test("partitioned saveAsTable: catalog carries the layout, reads prune by name") {
    spark.sql("DROP TABLE IF EXISTS cat_orders_part")
    Io.table(spark, sf, "orders")
      .withColumn("o_month", month(col("o_orderdate")))
      .write.partitionBy("o_month").saveAsTable("cat_orders_part")
    // partition columns are catalog metadata
    val parts = spark.catalog.listColumns("cat_orders_part")
      .collect().filter(_.isPartition).map(_.name).toSeq
    assert(parts === Seq("o_month"))
    // a month-filtered read through the TABLE NAME prunes partitions:
    // the scan's partition count drops to the selected month's dirs
    val pruned = spark.table("cat_orders_part").filter(col("o_month") === 3)
    val expected = Io.table(spark, sf, "orders")
      .filter(month(col("o_orderdate")) === 3).count()
    assert(pruned.count() === expected && expected > 0)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.contains("o_month"),
      s"no partition filter in the named-table scan:\n${scan.take(1500)}")
  }

  test("SQL DDL: CREATE TABLE / INSERT / CREATE VIEW round-trip; views are stored query text") {
    spark.sql("DROP VIEW IF EXISTS cat_big_orders")
    spark.sql("DROP TABLE IF EXISTS cat_ddl")
    spark.sql("CREATE TABLE cat_ddl (k BIGINT, v STRING) USING parquet")
    spark.sql("INSERT INTO cat_ddl VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    assert(spark.sql("SELECT count(*) FROM cat_ddl").head().getLong(0) === 3L)
    // a persistent view stores QUERY TEXT, not data: rows inserted
    // after view creation are visible through it
    spark.sql("CREATE VIEW cat_big_orders AS SELECT k, v FROM cat_ddl WHERE k >= 2")
    assert(spark.sql("SELECT count(*) FROM cat_big_orders").head().getLong(0) === 2L)
    spark.sql("INSERT INTO cat_ddl VALUES (9, 'z')")
    assert(spark.sql("SELECT count(*) FROM cat_big_orders").head().getLong(0) === 3L,
      "view did not reflect post-creation inserts — it materialized data")
    val v = spark.catalog.listTables().collect()
      .filter(_.name == "cat_big_orders")
    assert(v.length === 1 && v.head.tableType === "VIEW")
    spark.sql("DROP VIEW cat_big_orders")
    assert(!spark.catalog.tableExists("cat_big_orders"))
  }

  test("external table over existing parquet; temp views stay session-local") {
    val dir = TestSpark.tempDir("graft_ext")
    Io.table(spark, sf, "region").write.mode("overwrite").parquet(dir)
    spark.sql("DROP TABLE IF EXISTS cat_region_ext")
    spark.sql(s"CREATE TABLE cat_region_ext USING parquet LOCATION '$dir'")
    val t = spark.catalog.listTables().collect()
      .filter(_.name == "cat_region_ext")
    assert(t.length === 1 && t.head.tableType === "EXTERNAL")
    assert(spark.table("cat_region_ext").count() === 5)
    // dropping an EXTERNAL table removes metadata, never the data files
    spark.sql("DROP TABLE cat_region_ext")
    assert(spark.read.parquet(dir).count() === 5,
      "dropping an external table deleted the underlying files")
    // temp views are SESSION state, not catalog state
    spark.table("cat_nation").createOrReplaceTempView("cat_tmp_nation")
    assert(spark.catalog.tableExists("cat_tmp_nation"))
    assert(!spark.newSession().catalog.tableExists("cat_tmp_nation"),
      "temp view leaked across sessions")
  }

  test("catalog recovery: empty catalog + surviving partitioned location → CREATE TABLE ... LOCATION + MSCK") {
    // The cross-JVM survivor scenario (r13 VERDICT item 4): the
    // in-memory catalog dies with its JVM, the warehouse directory does
    // not. Simulated faithfully here by laying out a partitioned table
    // directory this catalog has NEVER had an entry for — the recovery
    // session's first contact with the data is the surviving files.
    // (The true two-JVM version of this — publish in one JVM, recover
    // the f_catalog_ddl table in a second — is driven by
    // tools/CatalogBoot; this spec pins the recovery DDL itself.)
    val dir = TestSpark.tempDir("graft_survivor")
    val src = Io.table(spark, sf, "orders")
      .withColumn("o_month", month(col("o_orderdate")))
    src.write.mode("overwrite").partitionBy("o_month").parquet(dir)
    val expected = src.count()
    spark.sql("DROP TABLE IF EXISTS cat_recovered")
    spark.sql(s"CREATE TABLE cat_recovered USING parquet LOCATION '$dir'")
    // partition COLUMNS are inferred from the layout at creation, but
    // the catalog's partition LIST starts empty — MSCK repairs it from
    // the surviving directories (ALTER TABLE ... RECOVER PARTITIONS is
    // the same code path)
    spark.sql("MSCK REPAIR TABLE cat_recovered")
    assert(spark.table("cat_recovered").count() === expected && expected > 0)
    val parts = spark.catalog.listColumns("cat_recovered")
      .collect().filter(_.isPartition).map(_.name).toSeq
    assert(parts === Seq("o_month"),
      "recovered table lost its partition column")
    // the recovered table prunes by name, like the original would
    val pruned = spark.table("cat_recovered").filter(col("o_month") === 3)
    assert(pruned.count() ===
      Io.table(spark, sf, "orders")
        .filter(month(col("o_orderdate")) === 3).count())
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("o_month"),
      s"recovered table scan did not prune:\n${scan.take(1200)}")
    // recovery must register EXTERNAL: dropping the recovered entry can
    // never delete the survivor data it was rebuilt from
    val t = spark.catalog.listTables().collect()
      .filter(_.name == "cat_recovered")
    assert(t.length === 1 && t.head.tableType === "EXTERNAL")
    spark.sql("DROP TABLE cat_recovered")
    assert(spark.read.parquet(dir).count() === expected,
      "dropping the recovered table deleted the surviving files")
  }

  test("database DDL: create, use, qualify, drop") {
    spark.sql("DROP DATABASE IF EXISTS cat_db CASCADE")
    spark.sql("CREATE DATABASE cat_db")
    assert(spark.catalog.databaseExists("cat_db"))
    spark.sql("CREATE TABLE cat_db.t1 USING parquet AS SELECT 1 AS one")
    // qualified reads work from any current database
    assert(spark.table("cat_db.t1").head().getInt(0) === 1)
    // listTables(db) also returns SESSION temp views — keep only rows
    // actually owned by the database being asserted
    assert(spark.catalog.listTables("cat_db").collect()
      .filter(t => Option(t.namespace).exists(_.sameElements(Array("cat_db"))))
      .map(_.name).toSeq === Seq("t1"))
    spark.sql("DROP DATABASE cat_db CASCADE")
    assert(!spark.catalog.databaseExists("cat_db"))
  }
}
