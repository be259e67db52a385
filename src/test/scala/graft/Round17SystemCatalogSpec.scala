package graft

/** Round 17 second pass: the system.* views move from a parse-time
  * VALUES rewrite (catalog snapshot frozen into the statement text)
  * to a DataSourceV2 catalog of driver-local scans computed at
  * execution — the SHOW CREATE / DESCRIBE / EXISTS staleness
  * discipline, now for the relations.
  */
class Round17SystemCatalogSpec extends SparkSpec {

  test("system.* resolves through the V2 catalog — fresh per statement") {
    spark.sql("DROP TABLE IF EXISTS sysv2_probe")
    try {
      // not present yet
      val before = spark.sql(
        "SELECT count(*) AS c FROM system.tables WHERE name = 'sysv2_probe'")
        .head.getLong(0)
      assert(before == 0L)
      spark.sql("CREATE TABLE sysv2_probe (id UInt64) ENGINE = MergeTree ORDER BY id")
      // the same statement text re-issued sees the new table — no
      // snapshot baked anywhere
      val after = spark.sql(
        "SELECT count(*) AS c FROM system.tables WHERE name = 'sysv2_probe'")
        .head.getLong(0)
      assert(after == 1L)
    } finally spark.sql("DROP TABLE IF EXISTS sysv2_probe")
  }

  test("system views compose as ordinary relations: join, subquery, alias") {
    val joined = spark.sql(
      """SELECT c.name, t.engine FROM system.columns c
        |JOIN system.tables t ON t.name = c.table AND t.database = c.database
        |WHERE c.table IN (SELECT name FROM system.tables WHERE engine = 'MergeTree')
        |LIMIT 1""".stripMargin)
    joined.collect() // resolves and runs — no regex special-casing anywhere
    assert(joined.schema.fieldNames.toSeq == Seq("name", "engine"))
  }

  test("the plan is a driver-local scan, not a shuffle-bearing relation") {
    val df = spark.sql("SELECT name FROM system.functions WHERE is_aggregate = 1")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), plan)
    assert(!plan.contains("Exchange"), plan)
    assert(df.count() > 50) // the live registry is large
  }

  test("the system catalog is read-only") {
    val e = intercept[Exception](
      spark.sql("DROP TABLE system.tables"))
    assert(e.getMessage.toLowerCase.contains("read-only") ||
      e.getMessage.toLowerCase.contains("not found") ||
      e.getMessage.toLowerCase.contains("unsupported"))
    val c = intercept[Exception](
      spark.sql("CREATE TABLE system.mine (x INT)"))
    assert(c != null)
  }

  test("unknown system table fails loudly as NoSuchTable") {
    val e = intercept[Exception](
      spark.sql("SELECT * FROM system.mutations").collect())
    assert(e.getMessage.contains("mutations"))
  }

  test("SHOW TABLES IN system lists the views (CH tooling habit)") {
    val names = spark.sql("SHOW TABLES IN system").collect()
      .map(_.getString(1)).toSet
    assert(names == Set("databases", "tables", "functions", "dictionaries", "parts", "columns",
      "data_skipping_indices", "events", "query_log")) // data_skipping_indices joined in round 19
  }

  test("EqualTo(table) pushdown prunes the metadata walk (residual-safe)") {
    spark.sql("DROP TABLE IF EXISTS sysv2_p1")
    spark.sql("DROP TABLE IF EXISTS sysv2_p2")
    try {
      spark.sql("CREATE TABLE sysv2_p1 (id UInt64) ENGINE = MergeTree ORDER BY id")
      spark.sql("CREATE TABLE sysv2_p2 (id UInt64) ENGINE = MergeTree ORDER BY id")
      import org.apache.spark.sql.connector.catalog.Identifier
      import org.apache.spark.sql.connector.read.SupportsPushDownFilters
      import org.apache.spark.sql.util.CaseInsensitiveStringMap
      val cat = new graft.plans.GraftSystemCatalog
      cat.initialize("system", new CaseInsensitiveStringMap(java.util.Collections.emptyMap()))
      val sb = cat.loadTable(Identifier.of(Array.empty, "columns"))
        .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
        .newScanBuilder(new CaseInsensitiveStringMap(java.util.Collections.emptyMap()))
      val residual = sb.asInstanceOf[SupportsPushDownFilters]
        .pushFilters(Array(org.apache.spark.sql.sources.EqualTo("table", "sysv2_p1")))
      assert(residual.length == 1) // everything residual — Spark re-applies
      val rows = sb.build().asInstanceOf[org.apache.spark.sql.connector.read.LocalScan].rows()
      // the walk only visited the filtered table
      assert(rows.nonEmpty && rows.forall(_.getUTF8String(1).toString == "sysv2_p1"))
      // and SQL over the same filter still answers correctly end to end
      val n = spark.sql(
        "SELECT count(*) AS c FROM system.columns WHERE table = 'sysv2_p2'").head.getLong(0)
      assert(n == 1L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS sysv2_p1")
      spark.sql("DROP TABLE IF EXISTS sysv2_p2")
    }
  }

  test("catalog listTables exposes exactly the system views") {
    import org.apache.spark.sql.connector.catalog.Identifier
    val cat = new graft.plans.GraftSystemCatalog
    cat.initialize("system", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Collections.emptyMap()))
    val names = cat.listTables(Array.empty).map(_.name).toSet
    assert(names == Set("databases", "tables", "functions", "dictionaries", "parts", "columns",
      "data_skipping_indices", "events", "query_log")) // data_skipping_indices joined in round 19
    assert(cat.loadTable(Identifier.of(Array.empty, "parts")).schema().fieldNames.toSeq ==
      Seq("database", "table", "partition", "part_count", "bytes_on_disk", "rows"))
  }
}
