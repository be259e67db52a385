package graft

import graft.plans.ChSqlParser.rewriteParametric

/** Dialect syntax written where it is not code — inside a string, a
  * quoted name or a comment — must reach Spark byte for byte. One
  * trigger per rewrite pass is embedded in each carrier below, and the
  * oracle is the input text itself: `rewriteParametric` must return it
  * unchanged, and the literal carriers must run and return the trigger.
  * Each trigger is also checked in code position, so a lexer that hid
  * too much fails here as well.
  */
class ChLexerSpec extends SparkSpec {

  /** A dialect trigger, a statement using it as code, and a check on
    * that statement's rewrite (None: the rewrite must refuse it). */
  private case class Trigger(text: String, code: String, rewritten: Option[String => Boolean])

  private def rewrites(text: String, code: String)(ok: String => Boolean) =
    Trigger(text, code, Some(ok))

  private val triggers = Seq(
    rewrites("quantile(0.5)(x)", "SELECT quantile(0.5)(x) FROM t")(_.contains("quantile(0.5, x)")),
    rewrites("topK(5)(v)", "SELECT topK(5)(v) FROM t")(_.contains("topK(5, v)")),
    rewrites("x::Int32", "SELECT x::Int32 FROM t")(_.contains("x::INT ")),
    rewrites("CAST(y AS UInt8)", "SELECT CAST(y AS UInt8) FROM t")(_.contains("AS SMALLINT)")),
    rewrites("CAST(y AS Nullable(Int32))", "SELECT CAST(y AS Nullable(Int32)) FROM t")(
      _.contains("CAST(y AS INT)")),
    rewrites("CAST(y AS Enum8('a' = 1, 'b' = 2))",
      "SELECT CAST(y AS Enum8('a' = 1, 'b' = 2)) FROM t")(_.contains("CAST(y AS STRING)")),
    rewrites("a FROM t PREWHERE a > 1", "SELECT a FROM t PREWHERE a > 1")(
      r => r.contains("WHERE a > 1") && !r.contains("PREWHERE")),
    rewrites("count()", "SELECT count() FROM t")(_.contains("count(*)")),
    rewrites("a FROM t FINAL", "SELECT a FROM t FINAL")(_.contains("FROM t_final")),
    rewrites("FROM numbers(3)", "SELECT number FROM numbers(3)")(_.contains("range(3)")),
    rewrites("FROM zeros(2)", "SELECT zero FROM zeros(2)")(_.contains("0 AS zero FROM range(2)")),
    rewrites("FROM generate_series(1, 3)", "SELECT * FROM generate_series(1, 3)")(
      _.contains("range(1, 4, 1)")),
    rewrites("FROM system.numbers LIMIT 3", "SELECT number FROM system.numbers LIMIT 3")(
      _.contains("range(3)")),
    rewrites("FROM system.one", "SELECT dummy FROM system.one")(_.contains("SELECT 0 AS dummy")),
    rewrites("FROM t SAMPLE 0.5", "SELECT a FROM t SAMPLE 0.5")(
      _.contains("TABLESAMPLE (50.0 PERCENT)")),
    rewrites("dateDiff('day', a, b)", "SELECT dateDiff('day', a, b) FROM t")(
      _.contains("graft_dateDiff('day'")),
    rewrites("untuple(t)", "SELECT untuple(t) FROM s")(_.contains("SELECT t.* FROM")),
    rewrites("{p:UInt8}", "SELECT a FROM t WHERE a = {p:UInt8}")(_.endsWith("a = :p")),
    rewrites("a GLOBAL IN (1)", "SELECT a FROM t WHERE a GLOBAL IN (1)")(
      _.endsWith("WHERE a IN (1)")),
    rewrites("GROUP BY a WITH TOTALS", "SELECT a, count(*) FROM t GROUP BY a WITH TOTALS")(
      _.contains("GROUPING SETS ((a), ())")),
    rewrites("ORDER BY a LIMIT 1 BY x", "SELECT a, x FROM t ORDER BY a LIMIT 1 BY x")(
      _.contains("row_number() OVER (PARTITION BY")),
    rewrites("FROM t ARRAY JOIN arr AS e", "SELECT e FROM t ARRAY JOIN arr AS e")(
      _.contains("explode(arr)")),
    rewrites("* EXCEPT c", "SELECT * EXCEPT c FROM t")(_.contains("* EXCEPT (c)")),
    rewrites("{'a': 1}", "SELECT {'a': 1} AS m")(_.contains("map('a', 1)")),
    rewrites("[1, 2]", "SELECT [1, 2] AS a")(_.contains("array(1, 2)")),
    rewrites("t.1", "SELECT t.1 FROM s")(_.contains("t.col1")),
    rewrites("FORMAT JSON", "SELECT 1 FORMAT JSON")(_ == "SELECT 1"),
    rewrites("SETTINGS x = 1", "SELECT 1 SETTINGS x = 1")(_ == "SELECT 1"),
    rewrites("OFFSET 1 ROWS FETCH FIRST 2 ROWS ONLY",
      "SELECT a FROM t ORDER BY a OFFSET 1 ROWS FETCH FIRST 2 ROWS ONLY")(
      _.endsWith("LIMIT 2 OFFSET 1")),
    Trigger("FROM remote('h', db, t)", "SELECT * FROM remote('h', db, t)", None),
    Trigger("FROM file('a','b','c')", "SELECT * FROM file('a','b','c')", None))

  /** Every trigger whose carrier statement does not come back as is. */
  private def changed(carrier: String => String): Seq[String] =
    triggers.map(t => carrier(t.text)).filter(sql => rewriteParametric(sql) != sql)

  test("a '…' literal with '' and \\' escapes: text unchanged, value returned") {
    def carrier(t: String) = s"SELECT 'it''s \\'${t.replace("'", "\\'")}\\'' AS s"
    assert(changed(carrier).isEmpty)
    for (t <- triggers)
      assert(spark.sql(carrier(t.text)).head().getString(0) == s"it's '${t.text}'")
  }

  test("a \"…\" string: text unchanged, value returned") {
    def carrier(t: String) = "SELECT \"" + t + "\" AS s"
    assert(changed(carrier).isEmpty)
    for (t <- triggers) assert(spark.sql(carrier(t.text)).head().getString(0) == t.text)
  }

  test("a backtick alias: text unchanged, the alias names the column") {
    def carrier(t: String) = s"SELECT 1 AS `$t`"
    assert(changed(carrier).isEmpty)
    for (t <- triggers) assert(spark.sql(carrier(t.text)).columns.toSeq == Seq(t.text))
  }

  test("a -- comment: text unchanged") {
    def carrier(t: String) = s"SELECT 1 AS one -- $t"
    assert(changed(carrier).isEmpty)
    assert(changed(t => s"SELECT 1 AS one -- $t\nFROM range(1)").isEmpty)
    assert(spark.sql(carrier(triggers.head.text)).head().getInt(0) == 1)
  }

  test("a /* */ comment: text unchanged") {
    def carrier(t: String) = s"SELECT 1 AS one /* $t */"
    assert(changed(carrier).isEmpty)
    assert(spark.sql(carrier(triggers.head.text)).head().getInt(0) == 1)
  }

  test("every trigger still rewrites in code position") {
    for (t <- triggers) t.rewritten match {
      case Some(ok) =>
        val out = rewriteParametric(t.code)
        assert(ok(out), s"`${t.code}` → `$out`")
      case None =>
        intercept[UnsupportedOperationException](rewriteParametric(t.code))
    }
  }

  test("SELECT 'it\\'s' AS s FORMAT JSON loses its FORMAT clause") {
    val sql = "SELECT 'it\\'s' AS s FORMAT JSON"
    assert(rewriteParametric(sql) == "SELECT 'it\\'s' AS s")
    assert(spark.sql(sql).head().getString(0) == "it's")
  }

  test("'' is the empty literal, and the code after it is still code") {
    val sql = "SELECT '' AS e, count() AS n FROM range(3) WHERE '' = '' AND id < 2"
    assert(rewriteParametric(sql) ==
      "SELECT '' AS e, count(*) AS n FROM range(3) WHERE '' = '' AND id < 2")
    val r = spark.sql(sql).head()
    assert(r.getString(0) == "" && r.getLong(1) == 2L)
  }

  test("INTO OUTFILE inside a comment or a literal exports nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lex_outfile")
    val p = dir.resolve("out").toString
    assert(spark.sql(s"SELECT 1 AS x -- INTO OUTFILE '$p'").head().getInt(0) == 1)
    assert(spark.sql(s"SELECT 1 AS x -- INTO OUTFILE '$p' FORMAT CSV").columns.toSeq == Seq("x"))
    assert(spark.sql(s"SELECT 'a INTO OUTFILE ''$p''' AS s").head().getString(0) ==
      s"a INTO OUTFILE '$p'")
    assert(!new java.io.File(p).exists(), "a commented-out export wrote files")
    // in code position the clause still exports; the path and the
    // codec are read through the lexer
    val q = dir.resolve("a--b").toString
    assert(spark.sql(s"SELECT 1 AS x INTO OUTFILE '$q' COMPRESSION 'gzip' FORMAT CSV")
      .head().getLong(0) == 1L)
    val gz = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(q))
    assert(gz(0) == 0x1f.toByte && gz(1) == 0x8b.toByte, "the export is not gzip")
  }

  test("FROM INFILE inside a comment or a literal reads no file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lex_infile")
    val p = dir.resolve("missing.csv").toString
    spark.sql("DROP TABLE IF EXISTS lex_inf")
    spark.sql("DROP TABLE IF EXISTS lex_inf2")
    spark.sql("CREATE TABLE lex_inf (s STRING) USING parquet")
    try {
      spark.sql(s"INSERT INTO lex_inf SELECT 'a' -- FROM INFILE '$p'")
      spark.sql(s"INSERT INTO lex_inf SELECT 'FROM INFILE ''$p'''")
      spark.sql(s"INSERT INTO lex_inf /* FROM INFILE '$p' */ SELECT 'b'")
      // an inline payload is data: an unpaired quote in it is kept
      spark.sql("INSERT INTO lex_inf FORMAT TSV\nO'Brien  \n")
      assert(spark.table("lex_inf").collect().map(_.getString(0)).sorted.toSeq ==
        Seq(s"FROM INFILE '$p'", "O'Brien", "a", "b"))
      // in code position: a quoted column name holding a paren is one
      // name, not the end of the column list
      val csv = dir.resolve("in.csv")
      java.nio.file.Files.writeString(csv, "a)\n7\n")
      spark.sql("CREATE TABLE lex_inf2 (`a)` STRING) USING parquet")
      spark.sql(s"INSERT INTO lex_inf2 (`a)`) FROM INFILE '$csv' FORMAT CSVWithNames")
      assert(spark.table("lex_inf2").head().getString(0) == "7")
    } finally {
      spark.sql("DROP TABLE IF EXISTS lex_inf")
      spark.sql("DROP TABLE IF EXISTS lex_inf2")
    }
  }
}
