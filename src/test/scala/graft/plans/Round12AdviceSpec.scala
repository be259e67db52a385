package graft.plans

/** Round-12 advisor items: TTL rule fields must survive
  * newline-bearing clause text (triple-quoted DDL is the repo's own
  * house style), and a RENAME TABLE chain must reject source-reuse
  * and target collisions UPFRONT — the documented "a typo aborts
  * with nothing moved" contract covers mid-chain states too. */
class Round12AdviceSpec extends graft.SparkSpec {

  test("TTL rule round-trips newline-bearing fields through the table record") {
    val dir = s"/tmp/graft_r12_record_${System.nanoTime()}"
    new java.io.File(dir).mkdirs()
    try {
      val ttl = "d +\n  INTERVAL 30 DAY"
      val where = "kind IN (\n  'tmp',\n  'scratch'\n)"
      val sets = Seq("v" -> "sum(\n  v\n)")
      TableRecord.update(spark, dir)(_ ++ ChCommands.ttlEntries(ttl, Some(where), Seq("k"), sets))
      // the record escapes newlines, so every field comes back exactly
      assert(ChCommands.ttlRule(TableRecord.read(spark, dir)) ==
        Some((ttl, Some(where), Seq("k"), sets)))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("MODIFY TTL with multi-line WHERE survives to MATERIALIZE") {
    val spark2 = spark
    spark2.sql("DROP TABLE IF EXISTS ttl_nl_t")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark2.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"${spark2.conf.get("spark.sql.warehouse.dir")}/ttl_nl_t"), true)
    spark2.sql("""CREATE TABLE ttl_nl_t (id UInt64, kind String, d DateTime)
                  ENGINE = MergeTree ORDER BY id""")
    spark2.sql("""INSERT INTO ttl_nl_t VALUES
                  (1, 'tmp',  toDateTime('2020-01-01 00:00:00')),
                  (2, 'keep', toDateTime('2020-01-01 00:00:00'))""")
    // the WHERE clause text spans lines exactly as triple-quoted DDL
    // produces it; before the fix the continuation lines corrupted
    // the stored TTL expression
    spark2.sql("""ALTER TABLE ttl_nl_t MODIFY TTL d + INTERVAL 30 DAY DELETE
                  WHERE kind IN (
                    'tmp'
                  )""")
    spark2.sql("ALTER TABLE ttl_nl_t MATERIALIZE TTL")
    assert(spark2.table("ttl_nl_t").collect().map(_.getLong(0)).toSeq == Seq(2L))
    spark2.sql("DROP TABLE ttl_nl_t")
  }

  test("RENAME TABLE chain validates source-reuse and target collisions upfront") {
    val s = spark
    for (t <- Seq("rv_a", "rv_b", "rv_c", "rv_d")) {
      s.sql(s"DROP TABLE IF EXISTS $t")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(
        s"${s.conf.get("spark.sql.warehouse.dir")}/$t"), true)
    }
    s.sql("CREATE TABLE rv_a (x UInt32) ENGINE = Memory")
    s.sql("CREATE TABLE rv_d (x UInt32) ENGINE = Memory")
    // source reused after being renamed away: aborts with NOTHING moved
    val e1 = intercept[Exception](s.sql("RENAME TABLE rv_a TO rv_b, rv_a TO rv_c"))
    assert(e1.getMessage.contains("does not exist"))
    assert(s.catalog.tableExists("rv_a") && !s.catalog.tableExists("rv_b"))
    // target occupied at its point in the chain: aborts upfront too
    val e2 = intercept[Exception](s.sql("RENAME TABLE rv_a TO rv_b, rv_b TO rv_d"))
    assert(e2.getMessage.contains("already exists"))
    assert(s.catalog.tableExists("rv_a") && !s.catalog.tableExists("rv_b"))
    // the swap chain still passes validation (consumed targets free up)
    s.sql("CREATE TABLE rv_b (x UInt32) ENGINE = Memory")
    s.sql("INSERT INTO rv_a VALUES (1)"); s.sql("INSERT INTO rv_b VALUES (2)")
    s.sql("RENAME TABLE rv_a TO rv_c, rv_b TO rv_a, rv_c TO rv_b")
    assert(s.table("rv_a").head().getLong(0) == 2L)
    assert(s.table("rv_b").head().getLong(0) == 1L)
    for (t <- Seq("rv_a", "rv_b", "rv_d")) s.sql(s"DROP TABLE $t")
  }
}
