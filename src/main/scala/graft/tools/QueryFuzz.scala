package graft.tools

import graft.GraftSession
import graft.sources.Tables

/** Round 19 — composed-query differential fuzz (verdict task 2).
  *
  * Round 18's dialect fuzz covered SCALAR families against Scala
  * models; the q95c divergence (DuckDB's double→bigint CAST rounds
  * where Spark/CH truncate) sat dormant for rounds because nothing
  * fuzzed WHOLE-QUERY compositions across the two engines. This
  * generator emits seeded agg × join × window × WITH FILL × set-op ×
  * LIMIT BY × scalar compositions over the gate tables as PAIRS:
  * the ClickHouse-dialect text this engine executes, and the ANSI
  * text DuckDB replays — the exact surface the driver's oracle walks.
  *
  * Determinism contract per shape (same as the registry's §5
  * conventions): total ORDER BY over the output, doubles rounded,
  * window ranks only over unique-per-partition sort keys.
  *
  * Two consumers:
  *  - `scripts/query_fuzz.sh` runs the main against an SF dir and
  *    replays every duck text through scripts/compare.py — the
  *    cross-engine audit (committed per round as
  *    docs/AUDIT_queryfuzz_r19.md);
  *  - Round19QueryFuzzSpec executes every Spark text in-suite (all
  *    must run, overwhelmingly non-empty) and pins TopKRewrite
  *    row-parity across the whole window family.
  */
object QueryFuzz {

  final case class Shape(name: String, spark: String, duck: String)

  /** Deterministic: same (seed, n) → same shapes. */
  def shapes(seed: Long, n: Int): Seq[Shape] = (0 until n).map { i =>
    val r = new scala.util.Random(seed * 1000003L + i)
    i % 13 match {
      case 0 => aggHaving(i, r)
      case 1 => condAgg(i, r)
      case 2 => joinAgg(i, r)
      case 3 => windowTop(i, r)
      case 4 => withFill(i, r)
      case 5 => setOp(i, r)
      case 6 => limitBy(i, r)
      case 7 => scalarDate(i, r)
      case 8 => castEdge(i, r)
      case 9 => dateArith(i, r)
      case 10 => decimalAgg(i, r)
      case 11 => fillInterpolate(i, r)
      case 12 => fillStaleness(i, r)
    }
  }

  /** The window family's `rn = 1` companions: one `window_first` shape
    * per window slot among the first n, drawn from that slot's seed.
    * Kept apart from [[shapes]] so the k > 1 window shapes stay as
    * they are. */
  def firstShapes(seed: Long, n: Int): Seq[Shape] = (0 until n).collect {
    case i if i % 13 == 3 => windowFirst(i, new scala.util.Random(seed * 1000003L + i))
  }

  /** The clause passes of the dialect front end — LIMIT BY, WITH TIES,
    * WITH TOTALS, QUALIFY, DISTINCT ON, PREWHERE, OFFSET … FETCH /
    * `LIMIT off, n` and the window-call rewrites — each with nested
    * calls in its expression lists and inside a subquery or behind a
    * CTE; the duck text spells the same query in ANSI SQL. Kept apart
    * from [[shapes]], whose seeded set stays as it is. */
  def clauseShapes(seed: Long, n: Int): Seq[Shape] = (0 until n).map { i =>
    val r = new scala.util.Random(seed * 1000003L + i + 500009L)
    val x = 300 + r.nextInt(4000)
    val w = 10000 * (1 + r.nextInt(5))
    val m = 1 + r.nextInt(3)
    val src = s"SELECT lower(o_orderpriority) AS p, o_orderkey AS k, o_totalprice AS t FROM orders WHERE o_orderkey <= $x"
    def shape(family: String, spark: String, duck: String) = Shape(f"fz$i%03d_clause_$family", spark, duck)
    def ranked(fn: String, part: String, ord: String) = s"$fn() OVER (${part}ORDER BY $ord)"
    i % 8 match {
      case 0 =>
        val ord = s"floor(t / $w) DESC, abs(k)"
        shape("limit_by", s"SELECT p, k, t FROM ($src ORDER BY p, $ord LIMIT $m BY p) s ORDER BY p, k",
          s"SELECT p, k, t FROM (SELECT *, ${ranked("row_number", "PARTITION BY p ", ord)} AS rn " +
            s"FROM ($src) s0) s WHERE rn <= $m ORDER BY p, k")
      case 1 =>
        val ord = s"abs(floor(t / $w) - ${r.nextInt(5)})"
        shape("with_ties", s"WITH b AS ($src) SELECT p, k FROM (SELECT p, k, t FROM b ORDER BY $ord " +
          s"LIMIT $m WITH TIES) s ORDER BY p, k",
          s"WITH b AS ($src) SELECT p, k FROM (SELECT *, ${ranked("rank", "", ord)} AS r FROM b) s " +
            s"WHERE r <= $m ORDER BY p, k")
      case 2 =>
        def q(month: String, totals: String) =
          s"SELECT m, c, s FROM (SELECT CAST($month AS DATE) AS m, count(*) AS c, round(sum(o_totalprice), 2) AS s " +
            s"FROM orders WHERE o_orderkey <= $x GROUP BY $totals) g ORDER BY m NULLS FIRST"
        shape("with_totals", q("toStartOfMonth(o_orderdate)", "CAST(toStartOfMonth(o_orderdate) AS DATE) WITH TOTALS"),
          q("date_trunc('month', o_orderdate)",
            "GROUPING SETS ((CAST(date_trunc('month', o_orderdate) AS DATE)), ())"))
      case 3 =>
        def q(ord: String) = s"SELECT p, k, ${ranked("row_number", "PARTITION BY lower(p) ", s"abs(t - $w), k")} AS r " +
          s"FROM ($src) s QUALIFY r <= $m ORDER BY $ord"
        shape("qualify", q("lower(p), abs(k)"), q("p, k"))
      case 4 =>
        val q = s"SELECT p, k, t FROM (SELECT DISTINCT ON (lower(p)) p, k, t FROM ($src) s " +
          s"ORDER BY lower(p), abs(t - $w), k) d ORDER BY p"
        shape("distinct_on", q, q)
      case 5 =>
        def q(pre: String) = s"SELECT o_orderpriority AS p, count(*) AS c FROM orders $pre (o_orderkey <= $x AND " +
          s"(abs(o_totalprice - $w) < 20000 OR o_orderstatus = 'F'))"
        shape("prewhere", q("PREWHERE") + s" WHERE o_custkey % 3 = $m - 1 GROUP BY o_orderpriority ORDER BY p",
          q("WHERE") + s" AND o_custkey % 3 = $m - 1 GROUP BY o_orderpriority ORDER BY p")
      case 6 =>
        val (off, cnt) = (r.nextInt(20), 1 + r.nextInt(10))
        val page = s"SELECT k FROM ($src) s ORDER BY abs(t - $w), k"
        shape("offset_fetch", s"WITH f AS ($page OFFSET $off ROWS FETCH NEXT $cnt ROWS ONLY) " +
          s"SELECT k FROM ($page LIMIT $off, $cnt) l UNION ALL SELECT k FROM f ORDER BY k",
          s"WITH f AS ($page LIMIT $cnt OFFSET $off) " +
            s"SELECT k FROM ($page LIMIT $cnt OFFSET $off) l UNION ALL SELECT k FROM f ORDER BY k")
      case _ =>
        val win = "PARTITION BY lower(event_type) ORDER BY ts, event_id"
        def rate(micros: String) =
          s"(abs(value) - lag(abs(value)) OVER ($win)) * 1 / nullif(($micros - lag($micros) OVER ($win)) / CAST(1000000 AS DOUBLE), 0)"
        val e = 200 + r.nextInt(800)
        shape("window_calls",
          s"SELECT event_id, round(nonNegativeDerivative(abs(value), ts) OVER ($win), 6) AS d, " +
            s"leadInFrame(event_id) OVER ($win ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS nx " +
            s"FROM events WHERE event_id <= $e ORDER BY event_id",
          s"SELECT event_id, round(CASE WHEN ${rate("epoch_us(ts)")} > 0 THEN ${rate("epoch_us(ts)")} ELSE 0 END, 6) " +
            s"AS d, lead(event_id) OVER ($win) AS nx FROM events WHERE event_id <= $e ORDER BY event_id")
    }
  }

  /** WITH FILL … INTERPOLATE (v) — the carry semantics: each fill row
    * takes the previous OUTPUT row's value; before the first source
    * row the typed default (0) applies. The duck model replays the
    * carry with last_value IGNORE NULLS over the filled spine. */
  private def fillInterpolate(i: Int, r: scala.util.Random): Shape = {
    val w = 20 + r.nextInt(60)
    val e = 3000 + r.nextInt(20000)
    val a = r.nextInt(3)
    val b = a + 4 + r.nextInt(7)
    val s =
      s"""SELECT bucket, v FROM (
         |  SELECT bucket, round(max(value), 2) AS v FROM (
         |    SELECT CAST(floor(value / $w) AS INT) AS bucket, value
         |    FROM events WHERE event_id <= $e) t0 GROUP BY bucket) t1
         |ORDER BY bucket WITH FILL FROM $a TO $b STEP 1 INTERPOLATE (v)""".stripMargin
    val d =
      s"""WITH d AS (SELECT CAST(floor(value / $w) AS INT) AS bucket,
         |                  round(max(value), 2) AS v
         |           FROM events WHERE event_id <= $e GROUP BY 1),
         |     spine AS (SELECT unnest(generate_series($a, $b - 1, 1)) AS bucket
         |               UNION SELECT bucket FROM d),
         |     j AS (SELECT spine.bucket, d.v AS sv FROM spine LEFT JOIN d USING (bucket))
         |SELECT bucket,
         |       coalesce(last_value(sv IGNORE NULLS)
         |                OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |                0) AS v
         |FROM j ORDER BY bucket""".stripMargin
    Shape(f"fz$i%03d_fill_interp", s, d)
  }

  /** WITH FILL … STALENESS k — per-source-row bounded runs: each
    * source value v fills v+s, v+2s, … while < min(v+k, next source
    * value). The duck model replays the run arithmetic with lead() +
    * generate_series, mirroring the engine's union-of-runs shape. */
  private def fillStaleness(i: Int, r: scala.util.Random): Shape = {
    val w = 20 + r.nextInt(60)
    val e = 3000 + r.nextInt(20000)
    val k = 2 + r.nextInt(4)
    val st = 1 + r.nextInt(2)
    val s =
      s"""SELECT bucket, cnt FROM (
         |  SELECT bucket, count() AS cnt FROM (
         |    SELECT CAST(floor(value / $w) AS INT) AS bucket
         |    FROM events WHERE event_id <= $e) t0 GROUP BY bucket) t1
         |ORDER BY bucket WITH FILL STEP $st STALENESS $k""".stripMargin
    val d =
      s"""WITH d AS (SELECT CAST(floor(value / $w) AS INT) AS bucket, count(*) AS cnt
         |           FROM events WHERE event_id <= $e GROUP BY 1),
         |     runs AS (SELECT bucket AS v0,
         |                     least(bucket + $k,
         |                           coalesce(lead(bucket) OVER (ORDER BY bucket), bucket + $k)) - 1 AS vend
         |              FROM d),
         |     f AS (SELECT DISTINCT unnest(generate_series(v0 + $st, vend, $st)) AS bucket
         |           FROM runs WHERE v0 + $st <= vend)
         |SELECT bucket, cnt FROM d
         |UNION ALL
         |SELECT bucket, 0 AS cnt FROM f
         |ORDER BY bucket""".stripMargin
    Shape(f"fz$i%03d_fill_staleness", s, d)
  }

  /** The q95c divergence class, pinned EXECUTABLY: Spark (and CH)
    * TRUNCATE on double→integral CAST where DuckDB ROUNDS half-away —
    * the duck text must spell trunc() explicitly, exactly the
    * documented oracle convention every registry gate follows. */
  private def castEdge(i: Int, r: scala.util.Random): Shape = {
    val f = (5 + r.nextInt(20)) / 10.0
    val e = 3000 + r.nextInt(20000)
    val s =
      s"""SELECT CAST(value * $f AS BIGINT) AS b, count() AS c
         |FROM events WHERE event_id <= $e GROUP BY b ORDER BY b""".stripMargin
    val d =
      s"""SELECT CAST(trunc(value * $f) AS BIGINT) AS b, count(*) AS c
         |FROM events WHERE event_id <= $e GROUP BY b ORDER BY b""".stripMargin
    Shape(f"fz$i%03d_cast_edge", s, d)
  }

  /** Interval arithmetic + week bucketing: CH toMonday == DuckDB
    * date_trunc('week') (both Monday); the shifted date rides an
    * INTERVAL add through both engines. */
  private def dateArith(i: Int, r: scala.util.Random): Shape = {
    val x = 2000 + r.nextInt(8000)
    val nd = 1 + r.nextInt(40)
    val s =
      s"""SELECT CAST(toMonday(o_orderdate + INTERVAL $nd DAY) AS DATE) AS wk,
         |count() AS c FROM orders WHERE o_orderkey <= $x GROUP BY wk ORDER BY wk""".stripMargin
    val d =
      s"""SELECT CAST(date_trunc('week', o_orderdate + INTERVAL $nd DAY) AS DATE) AS wk,
         |count(*) AS c FROM orders WHERE o_orderkey <= $x GROUP BY wk ORDER BY wk""".stripMargin
    Shape(f"fz$i%03d_date_arith", s, d)
  }

  /** Exact decimal aggregation path: cast to DECIMAL(18,2), sum
    * exactly, surface as rounded double — any drift in the decimal
    * arithmetic (not double summation order) shows. */
  private def decimalAgg(i: Int, r: scala.util.Random): Shape = {
    val x = 2000 + r.nextInt(8000)
    def t(cnt: String) =
      s"""SELECT o_orderpriority AS k,
         |round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS s,
         |$cnt AS c FROM orders WHERE o_orderkey <= $x
         |GROUP BY o_orderpriority ORDER BY k""".stripMargin
    Shape(f"fz$i%03d_decimal_agg", t("count()"), t("count(*)"))
  }

  private def aggHaving(i: Int, r: scala.util.Random): Shape = {
    val x = 1000 + r.nextInt(9000)
    val h = 1 + r.nextInt(5)
    def t(cnt: String) =
      s"""SELECT o_orderpriority AS k, $cnt AS cnt,
         |round(sum(o_totalprice), 2) AS s, round(avg(o_totalprice), 2) AS a,
         |CAST(min(o_orderkey) AS BIGINT) AS mn
         |FROM orders WHERE o_orderkey <= $x
         |GROUP BY o_orderpriority HAVING $cnt >= $h ORDER BY k""".stripMargin
    Shape(f"fz$i%03d_agg_having", t("count()"), t("count(*)"))
  }

  private def condAgg(i: Int, r: scala.util.Random): Shape = {
    val v = 10 + r.nextInt(100)
    val e = 3000 + r.nextInt(20000)
    val s =
      s"""SELECT event_type AS k, countIf(value > $v) AS c1,
         |round(sumIf(value, value > $v), 2) AS s1,
         |round(maxIf(value, value <= $v), 2) AS m1
         |FROM events WHERE event_id <= $e GROUP BY event_type ORDER BY k""".stripMargin
    // CH's -If aggregates return the type default on an empty match
    // set (0, not NULL) — the duck text mirrors with coalesce
    val d =
      s"""SELECT event_type AS k,
         |count(*) FILTER (WHERE value > $v) AS c1,
         |round(coalesce(sum(value) FILTER (WHERE value > $v), 0), 2) AS s1,
         |round(coalesce(max(value) FILTER (WHERE value <= $v), 0), 2) AS m1
         |FROM events WHERE event_id <= $e GROUP BY event_type ORDER BY k""".stripMargin
    Shape(f"fz$i%03d_cond_agg", s, d)
  }

  private def joinAgg(i: Int, r: scala.util.Random): Shape = {
    val x = 2000 + r.nextInt(8000)
    val inner = r.nextBoolean()
    val t =
      if (inner)
        s"""SELECT c_nationkey AS k, count(*) AS cnt, round(sum(o_totalprice), 2) AS s
           |FROM customer JOIN orders ON o_custkey = c_custkey
           |WHERE o_orderkey <= $x GROUP BY c_nationkey ORDER BY k""".stripMargin
      else
        s"""SELECT c_nationkey AS k, count(o_orderkey) AS cnt, round(sum(o_totalprice), 2) AS s
           |FROM customer LEFT JOIN orders ON o_custkey = c_custkey AND o_orderkey <= $x
           |GROUP BY c_nationkey ORDER BY k""".stripMargin
    Shape(f"fz$i%03d_join_agg", t, t)
  }

  private def windowTop(i: Int, r: scala.util.Random): Shape = {
    val w = 20 + r.nextInt(60)
    val e = 3000 + r.nextInt(20000)
    val k = 2 + r.nextInt(4)
    val fn = Seq("row_number", "rank", "dense_rank")(r.nextInt(3))
    val dir = if (r.nextBoolean()) "DESC" else "ASC"
    // b is a GROUP key → unique per partition, so every rank flavor
    // is deterministic; rank()/dense_rank() exercise the round-19
    // tie-admitting TopKRewrite against DuckDB's window engine
    val t =
      s"""SELECT k1, b, cnt, rn FROM (
         |  SELECT k1, b, cnt, $fn() OVER (PARTITION BY k1 ORDER BY b $dir) AS rn FROM (
         |    SELECT event_type AS k1, CAST(floor(value / $w) AS INT) AS b, count(*) AS cnt
         |    FROM events WHERE event_id <= $e GROUP BY 1, 2) t0
         |) t1 WHERE rn <= $k ORDER BY k1, b, rn""".stripMargin
    Shape(f"fz$i%03d_window_$fn", t, t)
  }

  /** The dedup spelling `rn = 1` over numeric-only payloads, which
    * TopKRewrite plans as the flat hash aggregate
    * ([[graft.plans.GraftRowFirst]]): a leading key that is NULL on
    * some rows, in either direction and null order, then mixed
    * directions closed by b, unique per partition, so the order is
    * total. The partition key is a string or a number. */
  private def windowFirst(i: Int, r: scala.util.Random): Shape = {
    val w = 20 + r.nextInt(60)
    val e = 3000 + r.nextInt(20000)
    val k1 = if (r.nextBoolean()) "event_type" else s"user_id % ${2 + r.nextInt(4)}"
    val nm = 2 + r.nextInt(3)
    def dir() = if (r.nextBoolean()) "DESC" else "ASC"
    val nulls = if (r.nextBoolean()) "NULLS FIRST" else "NULLS LAST"
    val order = s"nk ${dir()} $nulls, cnt ${dir()}, b ${dir()}"
    val t =
      s"""SELECT k1, b, cnt, mx, nk, rn FROM (
         |  SELECT k1, b, cnt, mx, nk, row_number() OVER (PARTITION BY k1 ORDER BY $order) AS rn FROM (
         |    SELECT $k1 AS k1, CAST(floor(value / $w) AS INT) AS b, count(*) AS cnt,
         |           round(max(value), 2) AS mx,
         |           CASE WHEN count(*) % $nm = 0 THEN NULL ELSE min(event_id) % 7 END AS nk
         |    FROM events WHERE event_id <= $e GROUP BY 1, 2) t0
         |) t1 WHERE rn = 1 ORDER BY k1""".stripMargin
    Shape(f"fz$i%03d_window_first", t, t)
  }

  private def withFill(i: Int, r: scala.util.Random): Shape = {
    val w = 20 + r.nextInt(60)
    val e = 3000 + r.nextInt(20000)
    val a = r.nextInt(3)
    val b = a + 3 + r.nextInt(8)
    val st = 1 + r.nextInt(2)
    val s =
      s"""SELECT bucket, cnt FROM (
         |  SELECT bucket, count() AS cnt FROM (
         |    SELECT CAST(floor(value / $w) AS INT) AS bucket
         |    FROM events WHERE event_id <= $e) t0 GROUP BY bucket) t1
         |ORDER BY bucket WITH FILL FROM $a TO $b STEP $st""".stripMargin
    // CH fill: grid a, a+st, … strictly below b, PLUS every original
    // row (off-grid and outside the range survive); fill rows take 0
    val d =
      s"""WITH d AS (SELECT CAST(floor(value / $w) AS INT) AS bucket, count(*) AS cnt
         |           FROM events WHERE event_id <= $e GROUP BY 1),
         |     spine AS (SELECT unnest(generate_series($a, $b - 1, $st)) AS bucket
         |               UNION SELECT bucket FROM d)
         |SELECT spine.bucket, coalesce(d.cnt, 0) AS cnt
         |FROM spine LEFT JOIN d USING (bucket) ORDER BY bucket""".stripMargin
    Shape(f"fz$i%03d_with_fill", s, d)
  }

  private def setOp(i: Int, r: scala.util.Random): Shape = {
    val x = 1000 + r.nextInt(9000)
    val y = 50000 + r.nextInt(200000)
    val op = Seq("UNION ALL", "INTERSECT", "EXCEPT")(r.nextInt(3))
    val t =
      s"""SELECT o_orderpriority AS k FROM orders WHERE o_orderkey <= $x
         |$op
         |SELECT o_orderpriority AS k FROM orders WHERE o_totalprice > $y
         |ORDER BY k""".stripMargin
    Shape(f"fz$i%03d_setop", t, t)
  }

  private def limitBy(i: Int, r: scala.util.Random): Shape = {
    val x = 1000 + r.nextInt(9000)
    val n = 1 + r.nextInt(4)
    val s =
      s"""SELECT o_orderpriority AS k, o_orderkey AS id FROM orders
         |WHERE o_orderkey <= $x ORDER BY k, id LIMIT $n BY k""".stripMargin
    val d =
      s"""SELECT k, id FROM (
         |  SELECT o_orderpriority AS k, o_orderkey AS id,
         |         row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey) AS rn
         |  FROM orders WHERE o_orderkey <= $x) t
         |WHERE rn <= $n ORDER BY k, id""".stripMargin
    Shape(f"fz$i%03d_limit_by", s, d)
  }

  private def scalarDate(i: Int, r: scala.util.Random): Shape = {
    val x = 2000 + r.nextInt(8000)
    val dv = 100 + r.nextInt(900)
    val s =
      s"""SELECT CAST(toStartOfMonth(o_orderdate) AS DATE) AS m,
         |intDiv(o_orderkey, $dv) AS g, count() AS c
         |FROM orders WHERE o_orderkey <= $x GROUP BY m, g ORDER BY m, g""".stripMargin
    val d =
      s"""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
         |CAST(floor(o_orderkey / $dv) AS BIGINT) AS g, count(*) AS c
         |FROM orders WHERE o_orderkey <= $x GROUP BY m, g ORDER BY m, g""".stripMargin
    Shape(f"fz$i%03d_scalar_date", s, d)
  }

  // --------------------------------------------------------- main

  private def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** args: sfDir outDir [n] [seed] — writes outDir/<name>/ parquet per
    * shape plus oracle_sql.json; scripts/compare.py replays the duck
    * side. */
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val n = if (args.length > 2) args(2).toInt else 128
    val seed = if (args.length > 3) args(3).toLong else 19L
    val spark = GraftSession.local("graft-queryfuzz")
    val t = Tables(spark, sfDir)
    t.orders.createOrReplaceTempView("orders")
    t.events.createOrReplaceTempView("events")
    t.customer.createOrReplaceTempView("customer")
    t.lineitem.createOrReplaceTempView("lineitem")
    new java.io.File(outDir).mkdirs()
    val all = shapes(seed, n) ++ firstShapes(seed, n) ++ clauseShapes(seed, n)
    all.foreach { sh =>
      try sh.name.synchronized {
        spark.sql(sh.spark).coalesce(1).write.mode("overwrite").parquet(s"$outDir/${sh.name}")
      } catch { case e: Throwable =>
        System.err.println(s"[fuzz] ${sh.name} failed: ${e.getMessage}")
      }
    }
    val json = all.map(sh => s"${jq(sh.name)}: ${jq(sh.duck)}").mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
