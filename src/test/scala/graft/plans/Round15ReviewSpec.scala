package graft.plans

import graft.SparkSpec

/** Round-15 self-review fixes, pinned:
  *  - table-record escaping decodes left-to-right (a literal
  *    backslash-n in a clause survives the round trip);
  *  - INTERPOLATE guards: the fill axis itself, an empty list, and
  *    duplicate entries all fail loudly instead of rewriting;
  *  - SHOW CREATE accepts per-part backtick quoting;
  *  - a Scala-API re-registration clears a recorded dictionary DDL. */
class Round15ReviewSpec extends SparkSpec {

  test("table record round-trips values containing literal backslash-n") {
    val dir = s"/tmp/graft_r15_manifest_${System.nanoTime()}"
    new java.io.File(dir).mkdirs()
    try {
      // '\','n' as two characters, plus a lone backslash and a real
      // newline — the full escape alphabet
      val tricky = Seq(
        "order_by" -> """extractAll(s, '\n')[1]""",
        "settings" -> "a\\b",
        "partition_by" -> "x\ny")
      TableRecord.update(spark, dir)(_ ++ tricky)
      val back = TableRecord.read(spark, dir)
      assert(back.toSeq == tricky, s"got $back")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("INTERPOLATE guards: fill axis, empty list, duplicates fail loudly") {
    spark.sql("SELECT * FROM VALUES (1, 10.0D), (4, 40.0D) t(x, v)")
      .createOrReplaceTempView("wfi_guard")
    // interpolating the ORDER BY axis itself would silently corrupt it
    intercept[Exception](spark.sql(
      "SELECT x, v FROM wfi_guard ORDER BY x WITH FILL FROM 0 TO 6 INTERPOLATE (x AS x + 1)"))
    // present-but-empty clause is malformed, not 0-fill
    intercept[Exception](spark.sql(
      "SELECT x, v FROM wfi_guard ORDER BY x WITH FILL FROM 0 TO 6 INTERPOLATE ()"))
    // duplicate entries must not silently keep the last spelling
    intercept[Exception](spark.sql(
      "SELECT x, v FROM wfi_guard ORDER BY x WITH FILL FROM 0 TO 6 " +
        "INTERPOLATE (v AS v + 1, v AS v - 1)"))
    // the valid forms still execute
    assert(spark.sql(
      """SELECT x, v FROM wfi_guard
         ORDER BY x WITH FILL FROM 0 TO 6 INTERPOLATE (v AS v + 1)""").count() == 6)
  }

  test("SHOW CREATE TABLE accepts per-part backtick quoting") {
    dropWithLocation("r15_bt")
    spark.sql("CREATE TABLE r15_bt (k Int64) ENGINE = MergeTree ORDER BY k")
    try {
      for (spelling <- Seq("`r15_bt`", "`default`.`r15_bt`", "default.r15_bt")) {
        val ddl = spark.sql(s"SHOW CREATE TABLE $spelling")
        assert(ddl.columns.toSeq == Seq("statement"), spelling)
        assert(ddl.head().getString(0).contains("ENGINE = MergeTree"), spelling)
      }
    } finally spark.sql("DROP TABLE r15_bt")
  }

  test("MODIFY ORDER BY / MODIFY SETTING / RESET SETTING update the engine record") {
    dropWithLocation("r15_alt")
    spark.sql("""CREATE TABLE r15_alt (a Int64, b String, c Float64)
                 ENGINE = MergeTree ORDER BY a SETTINGS index_granularity = 8192""")
    def shown(): String = spark.sql("SHOW CREATE TABLE r15_alt").head().getString(0)
    try {
      // MODIFY ORDER BY: metadata-only, reflected in SHOW CREATE
      spark.sql("ALTER TABLE r15_alt MODIFY ORDER BY (a, b)")
      assert(shown().contains("ORDER BY (a, b)"), shown())
      // expression keys validate bare columns but allow function calls
      spark.sql("ALTER TABLE r15_alt MODIFY ORDER BY (a, cityHash64(b))")
      assert(shown().contains("ORDER BY (a, cityHash64(b))"))
      val e = intercept[Exception](
        spark.sql("ALTER TABLE r15_alt MODIFY ORDER BY (a, nope)"))
      assert(e.getMessage.contains("missing column"), e.getMessage)
      // MODIFY SETTING upserts; RESET SETTING removes
      spark.sql("ALTER TABLE r15_alt MODIFY SETTING ttl_only_drop_parts = 1")
      assert(shown().contains("index_granularity = 8192, ttl_only_drop_parts = 1"))
      spark.sql("ALTER TABLE r15_alt MODIFY SETTING index_granularity = 4096")
      assert(shown().contains("ttl_only_drop_parts = 1, index_granularity = 4096"))
      spark.sql("ALTER TABLE r15_alt RESET SETTING ttl_only_drop_parts")
      assert(shown().contains("SETTINGS index_granularity = 4096") &&
        !shown().contains("ttl_only_drop_parts"))
      spark.sql("ALTER TABLE r15_alt RESET SETTING index_granularity")
      assert(!shown().contains("SETTINGS"))
    } finally spark.sql("DROP TABLE r15_alt")
    // a CREATE-declared COMMENT survives into SHOW CREATE
    dropWithLocation("r15_cmt")
    spark.sql("""CREATE TABLE r15_cmt (a Int64) ENGINE = MergeTree ORDER BY a
                 COMMENT 'orders landed from pg'""")
    try assert(spark.sql("SHOW CREATE TABLE r15_cmt").head().getString(0)
      .endsWith("COMMENT 'orders landed from pg'"))
    finally spark.sql("DROP TABLE r15_cmt")
  }

  test("third-review pins: escaped quotes, multi-action ALTER, duplicate settings") {
    // a COMMENT payload containing an escaped quote AND keyword-like
    // text must survive verbatim — the clause scanner is
    // backslash-escape-aware, so 'don\'t ORDER BY x' is one string
    dropWithLocation("r15_esc")
    spark.sql("""CREATE TABLE r15_esc (a Int64) ENGINE = MergeTree ORDER BY a
                 COMMENT 'don\'t ORDER BY x'""")
    try {
      val ddl = spark.sql("SHOW CREATE TABLE r15_esc").head().getString(0)
      assert(ddl.contains("ORDER BY a"), ddl)          // the REAL key survived
      assert(ddl.contains("""COMMENT 'don\'t ORDER BY x'"""), ddl)
      // comma-combined multi-action ALTER refuses loudly (each branch)
      val e1 = intercept[Exception](spark.sql(
        "ALTER TABLE r15_esc MODIFY ORDER BY (a), MODIFY SETTING x = 1"))
      assert(e1.getMessage.contains("multi-action"), e1.getMessage)
      val e2 = intercept[Exception](spark.sql(
        "ALTER TABLE r15_esc MODIFY SETTING a1 = 1, RESET SETTING a1"))
      assert(e2.getMessage.contains("multi-action"), e2.getMessage)
      // a quoted comma in a setting value stays whole, and duplicate
      // names in one statement collapse last-wins
      spark.sql("ALTER TABLE r15_esc MODIFY SETTING storage_policy = 'hot,cold'")
      spark.sql("ALTER TABLE r15_esc MODIFY SETTING g = 1, g = 2")
      val shown = spark.sql("SHOW CREATE TABLE r15_esc").head().getString(0)
      assert(shown.contains("SETTINGS storage_policy = 'hot,cold', g = 2"), shown)
      // metadata ALTERs refuse on tables without an engine record
      dropWithLocation("r15_plainp")
      spark.sql("CREATE TABLE r15_plainp (a INT) USING parquet")
      val e3 = intercept[Exception](spark.sql(
        "ALTER TABLE r15_plainp MODIFY SETTING x = 1"))
      assert(e3.getMessage.contains("engine record"), e3.getMessage)
      spark.sql("DROP TABLE r15_plainp")
    } finally spark.sql("DROP TABLE r15_esc")
  }

  test("Scala-API re-registration clears a recorded dictionary DDL") {
    val dir = s"/tmp/graft_r15_dictdll_${System.nanoTime()}"
    spark.range(3).selectExpr("id AS k", "id AS v").write.mode("overwrite").parquet(dir)
    spark.sql(s"""CREATE DICTIONARY r15_redict (k UInt64, v Int64) PRIMARY KEY k
                  SOURCE(FILE(PATH '$dir' FORMAT 'Parquet')) LAYOUT(FLAT())""")
    try {
      assert(spark.sql("SHOW CREATE DICTIONARY r15_redict").count() == 1)
      // re-register the SAME name through the Scala API: the stored
      // CREATE text no longer describes the dictionary → refuse
      graft.operators.Dictionaries.register("r15_redict", "k",
        () => spark.range(5).selectExpr("id AS k", "id * 2 AS v"))
      val e = intercept[Exception](spark.sql("SHOW CREATE DICTIONARY r15_redict"))
      assert(e.getMessage.contains("Scala API"), e.getMessage)
    } finally graft.operators.Dictionaries.unregister("r15_redict")
  }
}
