package graft

import graft.tools.QueryFuzz

/** Round 19 — composed-query differential fuzz (the whole-query
  * extension of Round18DialectFuzzSpec's scalar families).
  *
  * The CROSS-ENGINE half runs through `scripts/query_fuzz.sh`:
  * [[graft.tools.QueryFuzz]] emits seeded agg × join × window ×
  * WITH FILL × set-op × LIMIT BY × scalar/cast/date/decimal
  * compositions as (CH-dialect Spark text, ANSI DuckDB text) pairs,
  * and scripts/compare.py hash-compares both executions —
  * committed per round as docs/AUDIT_queryfuzz_r19.md (round 19:
  * 176 + 176 + 121 shapes across three seeds/SFs, zero divergences;
  * the double→bigint CAST truncate-vs-round convention the q95c
  * re-seed exposed is pinned EXECUTABLY by the cast_edge family).
  *
  * This spec keeps the Spark half locked in-suite: the generator is
  * deterministic, every generated text must parse and execute
  * non-vacuously, and the whole window family must be row-identical
  * with TopKRewrite disabled — the rank/dense_rank rewrite and the
  * flat `rn = 1` aggregate cannot hide behind the fuzz passing only
  * one plan.
  */
class Round19QueryFuzzSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val views: Unit = {
    val t = graft.sources.Tables(spark, dir)
    t.orders.createOrReplaceTempView("orders")
    t.events.createOrReplaceTempView("events")
    t.customer.createOrReplaceTempView("customer")
    t.lineitem.createOrReplaceTempView("lineitem")
  }

  test("generator is deterministic: same seed, same shapes") {
    val a = QueryFuzz.shapes(19L, 44)
    val b = QueryFuzz.shapes(19L, 44)
    assert(a == b)
    assert(a.map(_.name).distinct.length == 44)
  }

  test("all 121 seeded shapes execute; results are overwhelmingly non-empty") {
    views
    val all = QueryFuzz.shapes(42L, 121)
    var empty = 0
    all.foreach { sh =>
      val rows =
        try spark.sql(sh.spark).collect()
        catch { case e: Throwable => fail(s"${sh.name} failed: ${e.getMessage}\n${sh.spark}") }
      if (rows.isEmpty) empty += 1
    }
    assert(empty <= all.length / 10, s"$empty of ${all.length} shapes returned zero rows")
  }

  test("the window family is row-identical with TopKRewrite off (rewrite parity under fuzz)") {
    views
    val tops = QueryFuzz.shapes(7L, 132).filter(_.name.contains("_window_"))
    assert(tops.length == 10)
    Seq("row_number", "rank", "dense_rank").foreach { fn =>
      assert(tops.exists(_.name.endsWith(s"_window_$fn")), s"no k > 1 $fn shape")
    }
    // the rn = 1 shapes must reach the flat k = 1 aggregate, not the heap
    val firsts = QueryFuzz.firstShapes(7L, 132)
    assert(firsts.length == 10 && firsts.forall(_.name.endsWith("_window_first")))
    firsts.foreach { sh =>
      val plan = spark.sql(sh.spark).queryExecution.executedPlan.toString
      assert(plan.contains("graft_row_first"), s"${sh.name} missed the flat aggregate:\n$plan")
    }
    (tops ++ firsts).foreach { sh =>
      val on = spark.sql(sh.spark).collect().map(_.toString).toSeq
      spark.conf.set("spark.graft.topk.rewrite", "false")
      val off = try spark.sql(sh.spark).collect().map(_.toString).toSeq
                finally spark.conf.set("spark.graft.topk.rewrite", "true")
      assert(on == off, s"${sh.name}: rewrite changed rows\n${sh.spark}")
    }
  }

  test("fill shapes produce both real and filled rows (never vacuous)") {
    views
    val fills = QueryFuzz.shapes(42L, 121).filter(_.name.contains("_with_fill"))
    assert(fills.nonEmpty)
    val anyBoth = fills.exists { sh =>
      val rows = spark.sql(sh.spark).collect()
      val cnts = rows.map(r => r.getLong(r.fieldIndex("cnt")))
      cnts.contains(0L) && cnts.exists(_ > 0L)
    }
    assert(anyBoth, "no fill shape exercised both the filled and the real branch")
  }
}
