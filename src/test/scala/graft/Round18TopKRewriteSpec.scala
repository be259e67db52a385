package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.operators.Replicate
import graft.plans.GraftRowFirst

/** Round 18: [[graft.plans.TopKRewrite]] makes the ENGINE plan the
  * bounded-heap top-k automatically from the spelling users actually
  * write — `Filter(rn <= k, Window(row_number))` — instead of only
  * when they ask for groupArraySorted by name (q16b). The window plan
  * full-sorts every map task's input even under WindowGroupLimit
  * (docs/AUDIT_q16_wgl_r17.md); the rewritten plan shuffles groups × k
  * rows. `rn = 1` with fixed-width columns plans the flat
  * [[graft.plans.GraftRowFirst]] hash aggregate instead of the heap;
  * the k = 1 tests below check it against the window row for row. */
class Round18TopKRewriteSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** Collect with the rewrite disabled — the reference semantics. */
  private def withRuleOff[T](body: => T): T = {
    spark.conf.set("spark.graft.topk.rewrite", "false")
    try body finally spark.conf.set("spark.graft.topk.rewrite", "true")
  }

  private def base = Seq(
    ("a", 9.0, 1L, "x"), ("a", 9.0, 2L, "y"), ("a", 7.0, 3L, "z"), ("a", 5.0, 4L, "w"),
    ("b", 3.0, 5L, "p"), ("b", 8.0, 6L, "q"),
    ("c", 1.0, 7L, "r")
  ).toDF("g", "price", "key", "tag").repartition(5)

  private def topn(df: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("g").orderBy(col("price").desc, col("key"))
    df.select(col("g"), col("price"), col("key"), col("tag"),
        row_number().over(w).as("rn"))
      .where(col("rn") <= k)
      .orderBy("g", "rn")
  }

  test("rn <= k over row_number rewrites: no Window, graft_row_topk aggregate, rows unchanged") {
    val df = topn(base, 2)
    val plan = planOf(df)
    assert(!plan.contains("Window"), s"expected the Window gone:\n$plan")
    assert(plan.contains("graft_row_topk"), s"expected the bounded-heap aggregate:\n$plan")
    val got = df.collect().toSeq.map(_.toString)
    val want = withRuleOff(topn(base, 2).collect().toSeq.map(_.toString))
    assert(got == want)
  }

  test("q16's registered query (unchanged text) now plans wgl=0 with identical rows") {
    val dir = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("q16_topn_per_group")(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("WindowGroupLimit") && !plan.contains("Window "),
      s"q16 must plan through TopKRewrite:\n$plan")
    assert(plan.contains("graft_row_topk"))
    val got = df.collect().toSeq.map(_.toString)
    val want = withRuleOff(
      SparkEntry.queries("q16_topn_per_group")(spark, dir).collect().toSeq.map(_.toString))
    assert(got == want)
  }

  test("string sort keys, DESC and NULLS ordering match the window semantics exactly") {
    val df = Seq(
      ("g1", Some("pear"), 1L), ("g1", None, 2L), ("g1", Some("apple"), 3L),
      ("g1", Some("fig"), 4L), ("g2", None, 5L), ("g2", Some("date"), 6L)
    ).toDF("g", "s", "id").repartition(3)
    def q(d: DataFrame) = {
      val w = Window.partitionBy("g").orderBy(col("s").desc_nulls_last, col("id"))
      d.select(col("g"), col("s"), col("id"), row_number().over(w).as("rn"))
        .where(col("rn") <= 2).orderBy("g", "rn")
    }
    val got = q(df)
    assert(planOf(got).contains("graft_row_topk"))
    assert(got.collect().toSeq.map(_.toString) ==
      withRuleOff(q(df).collect().toSeq.map(_.toString)))
  }

  test("rn = 1 (the dedup spelling) rewrites with k=1") {
    val w = Window.partitionBy("g").orderBy(col("key"))
    def q(d: DataFrame) = d.select(col("g"), col("key"), row_number().over(w).as("rn"))
      .where(col("rn") === 1).orderBy("g")
    val plan = planOf(q(base))
    assert(plan.contains("graft_row_first") && !plan.contains("graft_row_topk"), plan)
    assert(q(base).select("g", "key").as[(String, Long)].collect().toSet ==
      Set(("a", 1L), ("b", 5L), ("c", 7L)))
    assert(q(base).collect().toSeq.map(_.toString) ==
      withRuleOff(q(base).collect().toSeq.map(_.toString)))
  }

  // ---- k = 1: the flat GraftRowFirst aggregate vs the window --------

  /** 240 seeded rows: partition key g; sort-key candidates c (double
    * with -0.0, 0.0 and NaN), a (int, 3 values, so ties) and b (long),
    * all nullable; a unique id; and one nullable payload column per
    * fixed-width type. */
  private lazy val wide: DataFrame = {
    val r = new scala.util.Random(18)
    def opt[T](v: => T): Option[T] = if (r.nextInt(6) == 0) None else Some(v)
    val cs = Array(-0.0, 0.0, 1.5, -2.0, Double.NaN)
    (0 until 240).map { id =>
      (opt(r.nextInt(6)), opt(cs(r.nextInt(cs.length))), opt(r.nextInt(3)), opt(r.nextLong() % 4),
        id.toLong, opt(r.nextInt(1000)), opt(r.nextDouble()), opt(BigDecimal(r.nextInt(100000), 2)),
        opt(java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(r.nextInt(900)))),
        opt(new java.sql.Timestamp(1600000000000L + r.nextInt(1000000) * 1000L)), opt(r.nextBoolean()))
    }.toDF("g", "c", "a", "b", "id", "pi", "pd", "pdec", "pdate", "pts", "pbool")
      .withColumn("pdec", col("pdec").cast("decimal(12,2)"))
      .repartition(3)
  }

  private def firstRows(w: WindowSpec, residual: Column = lit(true))(d: DataFrame): DataFrame =
    d.withColumn("rn", row_number().over(w)).where(col("rn") === 1 && residual)

  /** Renders values with -0.0 as 0.0: the sort order ties them. */
  private def tieKey(vs: Seq[Any]): String =
    vs.map {
      case d: Double if d == 0.0 => "0.0"
      case v => String.valueOf(v)
    }.mkString("[", ",", "]")

  /** Rule on (which must plan graft_row_first) vs rule off (the window).
    * A total order gives the same rows. Otherwise each output row must
    * be one whole input row of the window's winning tie group: the same
    * `tieCols` values and present in the input. */
  private def assertFirstParity(input: DataFrame, q: DataFrame => DataFrame,
                                tieCols: Seq[String], total: Boolean): Unit = {
    val on = q(input)
    assert(planOf(on).contains("graft_row_first"), planOf(on))
    val got = on.drop("rn").collect().toSeq
    val want = withRuleOff(q(input).drop("rn").collect().toSeq)
    if (total) assert(got.map(_.toString).sorted == want.map(_.toString).sorted)
    else {
      val cols = on.drop("rn").columns.toSeq
      def ties(rows: Seq[Row]) = rows.map(r => tieKey(tieCols.map(c => r.get(cols.indexOf(c))))).sorted
      assert(ties(got) == ties(want))
      val inputRows = input.select(cols.map(col): _*).collect().map(_.toString).toSet
      got.foreach(r => assert(inputRows.contains(r.toString), s"$r is not an input row"))
    }
  }

  test("rn = 1 parity: ASC/DESC x NULLS FIRST/LAST on 1-3 keys, -0.0/0.0/NaN keys, null payloads") {
    val combos = Seq[String => Column](
      col(_).asc_nulls_first, col(_).asc_nulls_last, col(_).desc_nulls_first, col(_).desc_nulls_last)
    val keys = Seq("c", "a", "b")
    // key j of a case takes the combo after key j-1's, so multi-key
    // orders mix directions
    for (n <- 1 to 3; c0 <- combos.indices; total <- Seq(true, false)) {
      val orders = keys.take(n).zipWithIndex.map { case (k, j) => combos((c0 + j) % combos.length)(k) }
      val w = Window.partitionBy("g").orderBy((if (total) orders :+ col("id") else orders): _*)
      assertFirstParity(wide, firstRows(w), "g" +: keys.take(n), total)
    }
  }

  test("rn = 1 parity: residual conjuncts, on the payload and on the partition key") {
    val w = Window.partitionBy("g").orderBy(col("a").desc_nulls_last, col("id"))
    assertFirstParity(wide, firstRows(w, col("pi") > 300), Nil, total = true)
    assertFirstParity(wide, firstRows(w, col("g") =!= 2 && col("pbool")), Nil, total = true)
  }

  test("global rn = 1 (empty PARTITION BY) plans the flat aggregate; empty input yields no row") {
    val w = Window.orderBy(col("b").desc_nulls_first, col("id"))
    assertFirstParity(wide, firstRows(w), Nil, total = true)
    assert(firstRows(w)(wide).count() == 1)
    // a range under a filter nothing passes: the optimizer cannot fold
    // it away, so the empty input reaches the aggregate at run time
    val empty = spark.range(50).select(col("id"), (col("id") % 4).as("b")).where(col("id") % 7 === 100)
    assert(planOf(firstRows(w)(empty)).contains("graft_row_first"))
    assert(firstRows(w)(empty).collect().isEmpty)
  }

  test("floating-point partition keys come from the winning row, not the normalized grouping key") {
    val df = Seq((-0.0, 2L, 10), (0.0, 1L, 20), (Double.NaN, 3L, 30), (Double.NaN, 4L, 40), (1.0, 5L, 50))
      .toDF("d", "id", "v").repartition(3)
    val q = firstRows(Window.partitionBy("d").orderBy(col("id").desc)) _
    assertFirstParity(df, q, Nil, total = true)
    assert(q(df).collect().map(_.getDouble(0).toString).toSet == Set("-0.0", "NaN", "1.0"))
  }

  test("fixed-width rn = 1 plans a HashAggregate of graft_row_first: no ObjectHashAggregate, Window, Sort or heap") {
    val plan = planOf(firstRows(Window.partitionBy("g").orderBy(col("c").desc, col("id")))(wide))
    assert(plan.contains("HashAggregate") && plan.contains("graft_row_first"), plan)
    Seq("ObjectHashAggregate", "Window", "Sort", "graft_row_topk").foreach { node =>
      assert(!plan.contains(node), s"unexpected $node:\n$plan")
    }
  }

  test("a string payload keeps rn = 1 on the graft_row_topk heap") {
    val w = Window.partitionBy("g").orderBy(col("key"))
    def q(d: DataFrame) = d.select(col("g"), col("key"), col("tag"), row_number().over(w).as("rn"))
      .where(col("rn") === 1).orderBy("g")
    val plan = planOf(q(base))
    assert(plan.contains("graft_row_topk") && !plan.contains("graft_row_first"), plan)
    assert(q(base).collect().toSeq.map(_.toString) ==
      withRuleOff(q(base).collect().toSeq.map(_.toString)))
  }

  test("FROM t FINAL over a numeric ReplacingMergeTree is one hash aggregate keyed on the sorting key") {
    dropWithLocation("topk_rmt")
    try {
      spark.sql("""CREATE TABLE topk_rmt (id UInt64, version UInt64, is_deleted UInt8, v Float64, p UInt32)
                   ENGINE = ReplacingMergeTree(version, is_deleted) PARTITION BY p ORDER BY id""")
      (0 until 400).map(i => (i % 97, i, if (i % 11 == 0) 1 else 0, i * 0.5, i % 3))
        .toDF("id", "version", "is_deleted", "v", "p").createOrReplaceTempView("topk_rmt_batch")
      spark.sql("INSERT INTO topk_rmt SELECT id, version, is_deleted, v, p FROM topk_rmt_batch")
      Replicate.registerWithFinal(spark.table("topk_rmt"), "topk_rmt", Seq("p", "id"), Seq(col("version")))
      def q = spark.sql("SELECT p, id, version, v FROM topk_rmt FINAL WHERE is_deleted = 0")
      val aggs = collect(q.queryExecution.executedPlan) { case h: HashAggregateExec => h }
      assert(aggs.nonEmpty && aggs.forall(_.groupingExpressions.map(_.name) == Seq("p", "id")),
        planOf(q))
      assert(aggs.forall(_.aggregateExpressions.exists(_.aggregateFunction.isInstanceOf[GraftRowFirst])))
      val got = q.collect().map(_.toString).sorted.toSeq
      assert(got.length > 100)
      assert(got == withRuleOff(q.collect().map(_.toString).sorted.toSeq))
    } finally dropWithLocation("topk_rmt")
  }

  test("rn < k and reversed literal-comparison spellings rewrite") {
    val w = Window.partitionBy("g").orderBy(col("key"))
    val lt = base.select(col("g"), col("key"), row_number().over(w).as("rn"))
      .where(col("rn") < 3)
    assert(planOf(lt).contains("graft_row_topk"))
    assert(lt.count() == withRuleOff(lt.count()))
    val rev = base.select(col("g"), col("key"), row_number().over(w).as("rn"))
      .where(lit(2) >= col("rn"))
    assert(planOf(rev).contains("graft_row_topk"))
  }

  test("residual conjuncts survive above the rewrite") {
    val w = Window.partitionBy("g").orderBy(col("price").desc, col("key"))
    def q = base.select(col("g"), col("price"), col("key"), row_number().over(w).as("rn"))
      .where(col("rn") <= 3 && col("price") > 6.0)
      .orderBy("g", "rn")
    assert(planOf(q).contains("graft_row_topk"))
    assert(q.collect().toSeq.map(_.toString) ==
      withRuleOff(q.collect().toSeq.map(_.toString)))
  }

  test("global top-k (empty PARTITION BY) rewrites — no global sort of the input") {
    val w = Window.orderBy(col("price").desc, col("key"))
    val df = base.select(col("key"), col("price"), row_number().over(w).as("rn"))
      .where(col("rn") <= 3).orderBy("rn")
    val plan = planOf(df)
    assert(plan.contains("graft_row_topk"), plan)
    assert(df.select("key").as[Long].collect().toSeq == Seq(1L, 2L, 6L))
  }

  test("rank/dense_rank route to the tie-admitting kernel, never the row heap (round 19)") {
    // round 18 refused these outright (a k-bounded row heap would
    // silently drop boundary ties); round 19 rewrites them onto
    // graft_rank_topk instead — Round19RankTopKSpec owns the semantics
    val w = Window.partitionBy("g").orderBy(col("key"))
    val r = base.select(col("g"), rank().over(w).as("rn")).where(col("rn") <= 2)
    assert(!planOf(r).contains("graft_row_topk"))
    assert(planOf(r).contains("graft_rank_topk"))
    val d = base.select(col("g"), dense_rank().over(w).as("rn")).where(col("rn") <= 2)
    assert(!planOf(d).contains("graft_row_topk"))
    assert(planOf(d).contains("graft_rank_topk"))
  }

  test("a second surviving window output blocks the rewrite") {
    val w = Window.partitionBy("g").orderBy(col("key"))
    val df = base.select(col("g"), col("key"),
        row_number().over(w).as("rn"), sum("price").over(w).as("cum"))
      .where(col("rn") <= 2)
    assert(!planOf(df).contains("graft_row_topk"))
  }

  test("k above spark.graft.topk.rewrite.maxK falls through to the window plan") {
    val w = Window.partitionBy("g").orderBy(col("key"))
    val df = base.select(col("g"), row_number().over(w).as("rn"))
      .where(col("rn") <= 100000)
    assert(!planOf(df).contains("graft_row_topk"))
  }

  test("opt-out conf restores the window plan") {
    withRuleOff {
      val plan = planOf(topn(base, 2))
      assert(!plan.contains("graft_row_topk"))
      assert(plan.contains("Window"))
    }
  }
}
