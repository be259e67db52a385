package graft

/** The dialect front end's clause passes — LIMIT BY, LIMIT … WITH
  * TIES, GROUP BY … WITH TOTALS, QUALIFY, DISTINCT ON, PREWHERE, the
  * trailing LIMIT/OFFSET/FETCH spellings and the window-call rewrites —
  * run once per query block on the block's own clause ranges. Each
  * clause runs here with nested calls in its expression lists, behind a
  * CTE and inside a subquery, through `spark.sql` over the sf0.001
  * orders and events tables, and is compared with a hand-written Spark
  * equivalent: an explicit window, GROUPING SETS or a subquery filter.
  */
class ClauseRewriteSpec extends SparkSpec {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    // the sf0.001 directory: the one SparkEntry's flagship query reads
    val sf = new org.apache.hadoop.fs.Path(SparkEntry.entry(spark).inputFiles.head).getParent
    val t = graft.sources.Tables(spark, sf.toString)
    t.orders.createOrReplaceTempView("cr_orders")
    t.events.createOrReplaceTempView("cr_events")
  }

  private def rows(sql: String): Seq[String] =
    spark.sql(sql).collect().toSeq.map(_.toSeq.mkString("|"))

  /** The dialect text and the Spark text return the same rows, in any
    * order, and at least one. */
  private def same(dialect: String, expected: String): Unit = {
    val got = rows(dialect)
    assert(got.nonEmpty, dialect)
    assert(got.sorted == rows(expected).sorted, dialect)
  }

  private val orderCols =
    "SELECT o_orderpriority AS p, o_orderkey AS k, o_totalprice AS t FROM cr_orders"

  test("LIMIT BY: nested calls in ORDER BY and BY, behind a CTE, inside a subquery") {
    val ranked =
      s"""SELECT p, k, t FROM (SELECT *, row_number() OVER (PARTITION BY lower(p)
         |  ORDER BY round(t, 0) DESC, k) AS rn FROM ($orderCols)) WHERE rn <= 2""".stripMargin
    same(s"$orderCols ORDER BY lower(p), round(t, 0) DESC, k LIMIT 2 BY lower(p)", ranked)
    same(s"WITH o AS ($orderCols) SELECT p, k, t FROM o ORDER BY t DESC, k LIMIT 1 BY p",
      s"""SELECT p, k, t FROM (SELECT *, row_number() OVER (PARTITION BY p ORDER BY t DESC, k)
         |  AS rn FROM ($orderCols)) WHERE rn = 1""".stripMargin)
    same(s"SELECT p, count(*) AS c FROM ($orderCols ORDER BY abs(k) LIMIT 1, 3 BY p) GROUP BY p",
      s"""SELECT p, count(*) AS c FROM (SELECT p, row_number() OVER (PARTITION BY p ORDER BY k)
         |  AS rn FROM ($orderCols)) WHERE rn BETWEEN 2 AND 4 GROUP BY p""".stripMargin)
  }

  test("LIMIT n WITH TIES: a nested ORDER BY call, behind a CTE, inside a subquery") {
    val banded = "SELECT o_orderkey AS k, round(o_totalprice / 50000, 0) AS b FROM cr_orders"
    def ranked(ord: String, n: Int) =
      s"SELECT k, b FROM (SELECT *, rank() OVER (ORDER BY $ord) AS r FROM ($banded)) WHERE r <= $n"
    same(s"$banded ORDER BY abs(b - 3) LIMIT 2 WITH TIES", ranked("abs(b - 3)", 2))
    same(s"WITH o AS ($banded) SELECT k, b FROM o ORDER BY b DESC LIMIT 3 WITH TIES",
      ranked("b DESC", 3))
    same(s"SELECT count(*) FROM ($banded ORDER BY abs(b - 3) LIMIT 2 WITH TIES)",
      s"SELECT count(*) FROM (${ranked("abs(b - 3)", 2)})")
  }

  test("GROUP BY … WITH TOTALS: call keys, behind a CTE, inside a subquery") {
    same(
      """SELECT toStartOfMonth(o_orderdate) AS m, count() AS c FROM cr_orders
        |GROUP BY toStartOfMonth(o_orderdate) WITH TOTALS""".stripMargin,
      """SELECT toStartOfMonth(o_orderdate) AS m, count(*) AS c FROM cr_orders
        |GROUP BY GROUPING SETS ((toStartOfMonth(o_orderdate)), ())""".stripMargin)
    same(
      s"""WITH o AS ($orderCols) SELECT lower(p) AS lp, round(sum(t), 2) AS s FROM o
         |GROUP BY lower(p) WITH TOTALS HAVING count(*) > 1""".stripMargin,
      s"""SELECT lower(p) AS lp, round(sum(t), 2) AS s FROM ($orderCols)
         |GROUP BY GROUPING SETS ((lower(p)), ()) HAVING count(*) > 1""".stripMargin)
    val n = rows(
      """SELECT count(*) FROM (SELECT lower(o_orderpriority) AS lp, count() AS c FROM cr_orders
        |GROUP BY lower(o_orderpriority) WITH TOTALS) s""".stripMargin)
    assert(n == rows("SELECT count(DISTINCT o_orderpriority) + 1 FROM cr_orders"))
  }

  test("QUALIFY: a nested ORDER BY after the predicate, behind a CTE, inside a subquery") {
    val numbered =
      """SELECT o_orderpriority AS p, o_orderkey AS k, row_number() OVER (
        |  PARTITION BY lower(o_orderpriority) ORDER BY abs(o_totalprice) DESC, o_orderkey) AS r
        |FROM cr_orders""".stripMargin
    val dialect = s"$numbered QUALIFY r <= 2 ORDER BY lower(p), abs(k)"
    same(dialect, s"SELECT * FROM ($numbered) WHERE r <= 2")
    // the ORDER BY after the predicate orders the result
    assert(rows(dialect) == rows(s"SELECT * FROM ($numbered) WHERE r <= 2 ORDER BY lower(p), abs(k)"))
    same(
      s"""WITH o AS ($orderCols) SELECT p, k, row_number() OVER (PARTITION BY p ORDER BY k) AS r
         |FROM o QUALIFY r = 1""".stripMargin,
      s"""SELECT * FROM (SELECT p, k, row_number() OVER (PARTITION BY p ORDER BY k) AS r
         |FROM ($orderCols)) WHERE r = 1""".stripMargin)
    same(s"SELECT p, count(*) FROM ($numbered QUALIFY r <= 3) GROUP BY p",
      s"SELECT p, count(*) FROM ($numbered) WHERE r <= 3 GROUP BY p")
  }

  test("DISTINCT ON: a call key, behind a CTE, inside a subquery") {
    def first(key: String, ord: String, src: String) =
      s"""SELECT p, k FROM (SELECT p, k, row_number() OVER (PARTITION BY $key ORDER BY $ord)
         |  AS rn FROM ($src)) WHERE rn = 1""".stripMargin
    same(s"SELECT DISTINCT ON (lower(p)) p, k FROM ($orderCols) ORDER BY lower(p), abs(k)",
      first("lower(p)", "abs(k)", orderCols))
    same(s"WITH o AS ($orderCols) SELECT DISTINCT ON (p) p, k FROM o ORDER BY p, k DESC",
      first("p", "k DESC", orderCols))
    assert(rows(s"SELECT count(*) FROM (SELECT DISTINCT ON (lower(p)) p, k FROM ($orderCols) " +
      "ORDER BY lower(p), k)") == rows("SELECT count(DISTINCT o_orderpriority) FROM cr_orders"))
    intercept[UnsupportedOperationException](
      spark.sql(s"SELECT DISTINCT ON (lower(p)) p, k FROM ($orderCols)"))
  }

  test("ORDER BY a column the query does not select: LIMIT BY, WITH TIES, QUALIFY, DISTINCT ON") {
    same("SELECT o_orderkey AS k FROM cr_orders ORDER BY o_totalprice LIMIT 1 BY o_orderpriority",
      """SELECT k FROM (SELECT o_orderkey AS k, row_number() OVER (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice) AS rn FROM cr_orders) WHERE rn = 1""".stripMargin)
    same("SELECT o_orderkey AS k FROM cr_orders ORDER BY abs(o_totalprice) DESC, k LIMIT 2 BY o_orderpriority",
      """SELECT k FROM (SELECT o_orderkey AS k, row_number() OVER (PARTITION BY o_orderpriority
        |  ORDER BY abs(o_totalprice) DESC, o_orderkey) AS rn FROM cr_orders) WHERE rn <= 2""".stripMargin)
    val ties = "SELECT o_orderkey AS k FROM cr_orders ORDER BY o_totalprice LIMIT 2 WITH TIES"
    val ranked = """SELECT k FROM (SELECT o_orderkey AS k, o_totalprice AS t, rank() OVER (
                   |  ORDER BY o_totalprice) AS r FROM cr_orders) WHERE r <= 2 ORDER BY t""".stripMargin
    same(ties, ranked)
    assert(rows(ties) == rows(ranked))
    val numbered = """SELECT o_orderkey AS k, row_number() OVER (PARTITION BY o_orderpriority
                     |  ORDER BY o_orderkey) AS r FROM cr_orders""".stripMargin
    val qualified = s"$numbered QUALIFY r <= 2 ORDER BY o_totalprice"
    val filtered = """SELECT k, r FROM (SELECT o_orderkey AS k, o_totalprice AS t, row_number() OVER (
                     |  PARTITION BY o_orderpriority ORDER BY o_orderkey) AS r FROM cr_orders)
                     |WHERE r <= 2 ORDER BY t""".stripMargin
    same(qualified, filtered)
    assert(rows(qualified) == rows(filtered))
    same("SELECT DISTINCT ON (o_orderpriority) o_orderkey FROM cr_orders ORDER BY o_orderpriority, o_totalprice",
      """SELECT o_orderkey FROM (SELECT o_orderkey, row_number() OVER (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice) AS rn FROM cr_orders) WHERE rn = 1""".stripMargin)
  }

  test("PREWHERE: a nested predicate before WHERE, behind a CTE, inside a subquery") {
    same(
      """SELECT count(*) FROM cr_orders
        |PREWHERE (o_orderpriority = '1-URGENT' AND (o_orderkey < 3000 OR abs(o_totalprice) > 200000))
        |WHERE o_orderstatus = 'F'""".stripMargin,
      """SELECT count(*) FROM cr_orders
        |WHERE (o_orderpriority = '1-URGENT' AND (o_orderkey < 3000 OR abs(o_totalprice) > 200000))
        |AND o_orderstatus = 'F'""".stripMargin)
    same(
      """WITH o AS (SELECT o_orderkey FROM cr_orders PREWHERE lower(o_orderpriority) = '1-urgent')
        |SELECT count(*) FROM o""".stripMargin,
      "SELECT count(*) FROM cr_orders WHERE lower(o_orderpriority) = '1-urgent'")
    same(
      """SELECT count(*) FROM (SELECT o_orderkey FROM cr_orders
        |PREWHERE length(o_orderpriority) > 8 WHERE o_orderkey % 2 = 0) s""".stripMargin,
      "SELECT count(*) FROM cr_orders WHERE length(o_orderpriority) > 8 AND o_orderkey % 2 = 0")
  }

  test("LIMIT off, n and OFFSET … FETCH: nested ORDER BY calls, behind a CTE, inside a subquery") {
    val byKey = "SELECT o_orderkey AS k FROM cr_orders ORDER BY abs(o_totalprice - 100000), o_orderkey"
    same(s"$byKey LIMIT 1, 3", s"$byKey LIMIT 3 OFFSET 1")
    same(s"WITH o AS ($byKey LIMIT 3, 2) SELECT k FROM o", s"$byKey LIMIT 2 OFFSET 3")
    same(s"SELECT * FROM ($byKey OFFSET 1 ROWS FETCH FIRST 2 ROWS ONLY) s", s"$byKey LIMIT 2 OFFSET 1")
    same(s"SELECT * FROM ($byKey FETCH NEXT ROW ONLY) s", s"$byKey LIMIT 1")
  }

  test("nonNegativeDerivative over a nested call argument") {
    same(
      """SELECT event_id, round(nonNegativeDerivative(abs(value), ts) OVER (
        |  PARTITION BY user_id ORDER BY ts, event_id), 6) AS d FROM cr_events""".stripMargin,
      """SELECT event_id, round(greatest(CAST(0 AS DOUBLE), (abs(value) - lag(abs(value)) OVER w)
        |  / nullif((unix_micros(CAST(ts AS TIMESTAMP)) - lag(unix_micros(CAST(ts AS TIMESTAMP))) OVER w) / 1000000.0D, 0)), 6) AS d
        |FROM cr_events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin)
  }

  test("nonNegativeDerivative over a window partitioned by a call") {
    same(
      """SELECT event_id, round(nonNegativeDerivative(value, ts) OVER (
        |  PARTITION BY lower(event_type) ORDER BY ts, event_id), 6) AS d FROM cr_events""".stripMargin,
      """SELECT event_id, round(greatest(CAST(0 AS DOUBLE), (value - lag(value) OVER w)
        |  / nullif((unix_micros(CAST(ts AS TIMESTAMP)) - lag(unix_micros(CAST(ts AS TIMESTAMP))) OVER w) / 1000000.0D, 0)), 6) AS d
        |FROM cr_events WINDOW w AS (PARTITION BY lower(event_type) ORDER BY ts, event_id)""".stripMargin)
  }

  test("leadInFrame with the whole-partition frame over a window partitioned by a call") {
    same(
      """SELECT event_id, leadInFrame(value) OVER (PARTITION BY lower(event_type) ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS n FROM cr_events""".stripMargin,
      """SELECT event_id, lead(value) OVER (PARTITION BY lower(event_type) ORDER BY ts, event_id) AS n
        |FROM cr_events""".stripMargin)
  }

  test("a trailing clause after a set operation covers every branch") {
    val union = "SELECT k FROM (SELECT o_orderkey AS k FROM cr_orders) a " +
      "UNION ALL SELECT o_custkey FROM cr_orders ORDER BY k"
    same(s"$union LIMIT 2, 3", s"$union LIMIT 3 OFFSET 2")
  }

  private def mkView(): Unit =
    (1 to 20).map(i => (i.toLong, s"r$i")).toDF("n", "tag")
      .createOrReplaceTempView("page_src")

  test("OFFSET n ROWS FETCH NEXT m ROWS ONLY pages deterministically") {
    mkView()
    val rows = spark.sql(
      """SELECT n, tag FROM page_src ORDER BY n
        |OFFSET 5 ROWS FETCH NEXT 3 ROWS ONLY""".stripMargin)
      .collect().map(_.getLong(0))
    assert(rows.toSeq == Seq(6L, 7L, 8L))
    // FIRST spelling and the singular ROW noise word
    val first = spark.sql(
      """SELECT n FROM page_src ORDER BY n
        |OFFSET 1 ROW FETCH FIRST 2 ROWS ONLY""".stripMargin)
      .collect().map(_.getLong(0))
    assert(first.toSeq == Seq(2L, 3L))
  }

  test("FETCH FIRST without OFFSET, and the omitted count defaults to 1 row") {
    mkView()
    val three = spark.sql("SELECT n FROM page_src ORDER BY n FETCH FIRST 3 ROWS ONLY")
      .collect().map(_.getLong(0))
    assert(three.toSeq == Seq(1L, 2L, 3L))
    val one = spark.sql("SELECT n FROM page_src ORDER BY n FETCH FIRST ROW ONLY")
      .collect().map(_.getLong(0))
    assert(one.toSeq == Seq(1L))
    // bare OFFSET n ROWS with no FETCH
    val tail = spark.sql("SELECT n FROM page_src ORDER BY n OFFSET 18 ROWS")
      .collect().map(_.getLong(0))
    assert(tail.toSeq == Seq(19L, 20L))
  }

  test("FETCH ... WITH TIES keeps rows tying with the last fetched sort key") {
    Seq((1L, "a"), (2L, "b"), (2L, "c"), (3L, "d")).toDF("k", "tag")
      .createOrReplaceTempView("ties_src")
    val rows = spark.sql(
      "SELECT k FROM ties_src ORDER BY k FETCH FIRST 2 ROWS WITH TIES")
      .collect().map(_.getLong(0))
    assert(rows.toSeq == Seq(1L, 2L, 2L))
  }

  test("OFFSET combined with WITH TIES stays untouched and fails loudly") {
    mkView()
    intercept[Exception](spark.sql(
      """SELECT n FROM page_src ORDER BY n
        |OFFSET 2 ROWS FETCH FIRST 3 ROWS WITH TIES""".stripMargin).collect())
  }
}
