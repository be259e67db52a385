package graft

/** Round-15: `SHOW CREATE TABLE` reconstructs the ClickHouse DDL of a
  * migrated table — engine, partition key, ORDER BY (persisted by the
  * CREATE front-end in the table record `_graft_table.txt`), the LIVE
  * TTL rule, the declared projections and vector indexes — CH's
  * one-row `statement` shape. Every whole-table rewrite carries the
  * record. Plain Spark tables keep Spark's native SHOW CREATE TABLE. */
class ShowCreateTableSpec extends SparkSpec {

  private def showCreate(t: String): String =
    spark.sql(s"SHOW CREATE TABLE $t").head().getString(0)


  test("MergeTree table with TTL + projections: full CH DDL reconstruction") {
    dropWithLocation("sct_t")
    spark.sql("""CREATE TABLE sct_t (d Date, k String, v Float64, n UInt64)
                 ENGINE = MergeTree
                 PARTITION BY k
                 ORDER BY (d, k)
                 SETTINGS index_granularity = 8192""")
    spark.sql("ALTER TABLE sct_t MODIFY TTL d + INTERVAL 90 DAY")
    spark.sql("ALTER TABLE sct_t ADD PROJECTION p_agg (SELECT k, count(), sum(v) GROUP BY k)")
    spark.sql("ALTER TABLE sct_t ADD PROJECTION p_srt (SELECT d, n ORDER BY n)")
    val ddl = showCreate("sct_t")
    val expected =
      """CREATE TABLE sct_t
        |(
        |    `d` Date,
        |    `k` String,
        |    `v` Float64,
        |    `n` Int64,
        |    PROJECTION p_agg (SELECT k, count(), sum(v) GROUP BY k),
        |    PROJECTION p_srt (SELECT `d`, `n` ORDER BY n)
        |)
        |ENGINE = MergeTree
        |PARTITION BY k
        |ORDER BY (d, k)
        |TTL d + INTERVAL 90 DAY
        |SETTINGS index_granularity = 8192""".stripMargin
    assert(ddl == expected, s"got:\n$ddl")
    // the statement column is named like CH's
    assert(spark.sql("SHOW CREATE TABLE sct_t").columns.toSeq == Seq("statement"))
    // TTL tracks the LIVE rule, not the creation text
    spark.sql("ALTER TABLE sct_t MODIFY TTL d + INTERVAL 30 DAY WHERE v < 0")
    assert(showCreate("sct_t").contains("TTL d + INTERVAL 30 DAY WHERE v < 0"))
    spark.sql("ALTER TABLE sct_t REMOVE TTL")
    assert(!showCreate("sct_t").contains("TTL"))
    // dropping a projection drops its line
    spark.sql("ALTER TABLE sct_t DROP PROJECTION p_agg")
    assert(!showCreate("sct_t").contains("p_agg"))
    spark.sql("DROP TABLE sct_t")
  }

  test("CREATE-declared TTL is live (not stripped) and survives a mutation swap") {
    dropWithLocation("sct_ttl")
    spark.sql("""CREATE TABLE sct_ttl (d DateTime, v Int64, k String, emb Array(Float64),
                   INDEX vi emb TYPE vector_similarity('hnsw', 'cosineDistance'),
                   PROJECTION pk (SELECT k, count(), sum(v) GROUP BY k))
                 ENGINE = MergeTree ORDER BY d
                 TTL d + INTERVAL 1 DAY""")
    // every whole-table rewrite swaps the table directory: the TTL,
    // the projection and the index must all come through each one
    def assertDeclared(after: String, ttl: String = "TTL d + INTERVAL 1 DAY"): Unit = {
      val ddl = showCreate("sct_ttl")
      for (part <- Seq("ORDER BY d", ttl,
          "PROJECTION pk (SELECT k, count(), sum(v) GROUP BY k)",
          "INDEX vi emb TYPE vector_similarity('hnsw', 'cosineDistance')"))
        assert(ddl.contains(part), s"after $after, SHOW CREATE lost '$part':\n$ddl")
    }
    spark.sql("""INSERT INTO sct_ttl VALUES
                 (now() - INTERVAL 10 DAY, 1, 'a', array(1.0, 0.0)),
                 (now() + INTERVAL 1 DAY, 2, 'a', array(0.0, 1.0)),
                 (now() + INTERVAL 1 DAY, 99, 'b', array(1.0, 1.0)),
                 (now() + INTERVAL 2 DAY, 3, 'b', array(0.5, 0.5))""")
    // the TTL landed in the live record: MATERIALIZE TTL finds it
    spark.sql("ALTER TABLE sct_ttl MATERIALIZE TTL")
    assert(spark.table("sct_ttl").count() == 3)
    assertDeclared("MATERIALIZE TTL")
    spark.sql("OPTIMIZE TABLE sct_ttl FINAL")
    assertDeclared("OPTIMIZE FINAL")
    spark.sql("ALTER TABLE sct_ttl ADD COLUMN x Int64")
    assertDeclared("ADD COLUMN")
    spark.sql("ALTER TABLE sct_ttl MODIFY COLUMN x String")
    assertDeclared("MODIFY COLUMN")
    spark.sql("ALTER TABLE sct_ttl DROP COLUMN x")
    assertDeclared("DROP COLUMN")
    spark.sql("ALTER TABLE sct_ttl DELETE WHERE v = 99")
    assertDeclared("ALTER DELETE")
    spark.sql("ALTER TABLE sct_ttl UPDATE v = v * 10 WHERE k = 'b'")
    assertDeclared("ALTER UPDATE")
    spark.sql("ALTER TABLE sct_ttl MODIFY TTL d + INTERVAL 1 DAY GROUP BY k SET v = sum(v)")
    spark.sql("""INSERT INTO sct_ttl VALUES
                 (now() - INTERVAL 5 DAY, 4, 'a', array(1.0, 0.0)),
                 (now() - INTERVAL 6 DAY, 5, 'a', array(0.0, 1.0))""")
    spark.sql("ALTER TABLE sct_ttl MATERIALIZE TTL")
    assertDeclared("TTL GROUP BY", "TTL d + INTERVAL 1 DAY GROUP BY k SET v = sum(v)")
    // still declared, so MATERIALIZE rebuilds it and auto-use serves it
    spark.sql("ALTER TABLE sct_ttl MATERIALIZE PROJECTION pk")
    val agg = spark.sql("SELECT k, count(*) AS c, sum(v) AS s FROM sct_ttl GROUP BY k ORDER BY k")
    assert(agg.queryExecution.executedPlan.toString.contains("_graft_proj_pk"),
      agg.queryExecution.executedPlan.toString)
    assert(agg.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("a", 2L, 11L), ("b", 1L, 30L)))
    spark.sql("DROP TABLE sct_ttl")
  }

  test("OPTIMIZE FINAL keeps a ReplacingMergeTree's projection and index declared") {
    dropWithLocation("mp_t")
    spark.sql("""CREATE TABLE mp_t (id UInt64, ver UInt64, k String, emb Array(Float64), d DateTime)
                 ENGINE = ReplacingMergeTree(ver) ORDER BY id
                 TTL d + INTERVAL 30 DAY""")
    spark.sql("""INSERT INTO mp_t VALUES
                 (1, 1, 'a', array(1.0, 0.0), now()), (1, 2, 'a', array(0.0, 1.0), now()),
                 (2, 1, 'b', array(0.5, 0.5), now())""")
    spark.sql("ALTER TABLE mp_t ADD PROJECTION pk (SELECT k, count() GROUP BY k)")
    spark.sql("ALTER TABLE mp_t MATERIALIZE PROJECTION pk")
    spark.sql("ALTER TABLE mp_t ADD INDEX vi emb TYPE vector_similarity('hnsw', 'cosineDistance')")
    spark.sql("OPTIMIZE TABLE mp_t FINAL")
    val ddl = showCreate("mp_t")
    assert(ddl.contains("PROJECTION pk") && ddl.contains("INDEX vi") &&
      ddl.contains("TTL d + INTERVAL 30 DAY"), ddl)
    spark.sql("ALTER TABLE mp_t MATERIALIZE PROJECTION pk")
    // the only sibling directory is the declared projection's layout
    val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("mp_t")).location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sibs = fs.globStatus(new org.apache.hadoop.fs.Path(loc.getParent, loc.getName + "__graft_*"))
      .map(_.getPath.getName).toSeq
    assert(sibs == Seq("mp_t__graft_proj_pk"), s"siblings: $sibs")
    spark.sql("DROP TABLE mp_t")
  }

  test("CTAS form records its clauses; plain Spark tables keep native output") {
    dropWithLocation("sct_ctas")
    spark.sql("""CREATE TABLE sct_ctas ENGINE = ReplacingMergeTree(v) ORDER BY k AS
                 SELECT id AS k, id * 2 AS v FROM range(10)""")
    val ddl = showCreate("sct_ctas")
    assert(ddl.contains("ENGINE = ReplacingMergeTree(v)") && ddl.contains("ORDER BY k"), ddl)
    assert(spark.table("sct_ctas").count() == 10)
    spark.sql("DROP TABLE sct_ctas")
    // a table created through PLAIN Spark DDL has no graft metadata:
    // Spark's native SHOW CREATE TABLE answers (createtab_stmt)
    dropWithLocation("sct_plain")
    spark.sql("CREATE TABLE sct_plain (a INT, b STRING) USING parquet")
    val native = spark.sql("SHOW CREATE TABLE sct_plain")
    assert(native.columns.toSeq == Seq("createtab_stmt"))
    assert(native.head().getString(0).contains("USING parquet"))
    spark.sql("DROP TABLE sct_plain")
  }

  test("SHOW CREATE DICTIONARY returns the recorded DDL; unknown/API dictionaries refuse") {
    val dir = s"/tmp/graft_sct_dict_${System.nanoTime()}"
    spark.range(5).selectExpr("id AS k", "concat('v', id) AS v")
      .write.mode("overwrite").parquet(dir)
    val ddl = s"""CREATE DICTIONARY sct_dict (k UInt64, v String) PRIMARY KEY k
                  SOURCE(FILE(PATH '$dir' FORMAT 'Parquet')) LAYOUT(FLAT())"""
    spark.sql(ddl)
    try {
      val shown = spark.sql("SHOW CREATE DICTIONARY sct_dict")
      assert(shown.columns.toSeq == Seq("statement"))
      assert(shown.head().getString(0) == ddl.trim)
      // DROP forgets the DDL; a later SHOW refuses loudly
      spark.sql("DROP DICTIONARY sct_dict")
      val e = intercept[Exception](spark.sql("SHOW CREATE DICTIONARY sct_dict"))
      assert(e.getMessage.contains("does not exist"))
      // a Scala-API registration has no DDL to show — guidance, not a blank
      graft.operators.Dictionaries.register("sct_api_dict", "k",
        () => spark.range(3).selectExpr("id AS k", "id AS v"))
      val e2 = intercept[Exception](spark.sql("SHOW CREATE DICTIONARY sct_api_dict"))
      assert(e2.getMessage.contains("Scala API"))
    } finally {
      graft.operators.Dictionaries.unregister("sct_api_dict")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("splitEngineTail: paren/quote-aware top-level clause split") {
    import graft.plans.ChSqlParser.splitEngineTail
    val m = splitEngineTail(
      "PARTITION BY toYYYYMM(d) ORDER BY (a, cityHash64(b), c) SAMPLE BY cityHash64(b) " +
        "TTL d + INTERVAL 1 DAY SETTINGS index_granularity = 8192, ttl_only_drop_parts = 1")
    assert(m("PARTITION BY") == "toYYYYMM(d)")
    assert(m("ORDER BY") == "(a, cityHash64(b), c)")
    assert(m("SAMPLE BY") == "cityHash64(b)")
    assert(m("TTL") == "d + INTERVAL 1 DAY")
    assert(m("SETTINGS") == "index_granularity = 8192, ttl_only_drop_parts = 1")
    // keywords inside parens or strings do not split
    val m2 = splitEngineTail("ORDER BY (a, concat('TTL ', b)) TTL d")
    assert(m2("ORDER BY") == "(a, concat('TTL ', b))" && m2("TTL") == "d")
  }
}
