package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PartitionGroupedScanExec
import org.apache.spark.sql.types.IntegerType

import graft.operators.{Dedup, Replicate, Similarity, TextAnalysis}
import graft.plans.{ParamLiteral, ParamLiterals}

/** Generated classes compile once per plan shape: `system.events`
  * counts the compiles, a repeated pipeline pass and a dashboard
  * statement with new constants compile none, nor does a FINAL read
  * after an insert, and [[ParamLiterals]] plans return the rows their
  * literal plans return. */
class CodegenReuseSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def event(name: String): Long =
    spark.sql(s"SELECT value FROM system.events WHERE event = '$name'").head().getLong(0)

  /** Classes compiled while `body` runs, read through system.events. */
  private def compiles(body: => Unit): Long = {
    event("CompileFunction") // the read's own classes are cached from here on
    val before = event("CompileFunction")
    body
    event("CompileFunction") - before
  }

  private lazy val typed: String = {
    val dir = Files.createTempDirectory("graft_codegen_reuse").toString
    spark.range(0, 400).selectExpr(
        "CAST(id % 100 AS INT) AS i", "id * 3 AS l", "CAST(id % 7 AS SMALLINT) AS sh",
        "CAST(id % 5 AS TINYINT) AS b", "CAST(id % 40 AS FLOAT) / 4 AS f", "(id % 40) / 4.0D AS d",
        "DATE'2020-01-01' + CAST(id % 60 AS INT) AS dt",
        "TIMESTAMP'2020-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, CAST(id % 48 AS INT)) AS ts",
        "CAST(TIMESTAMP'2020-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, CAST(id % 48 AS INT))" +
          " AS TIMESTAMP_NTZ) AS tn",
        "CAST(id % 3 AS STRING) AS k")
      .repartition(4).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("cgr_t")
    "cgr_t"
  }

  test("system.events counts the classes a statement compiles") {
    val shape = s"SELECT sum(id * ${System.nanoTime() % 100000 + 7}) AS s FROM range(100)"
    val time0 = event("CompileExpressionsMicroseconds")
    assert(compiles(spark.sql(shape).collect()) > 0)
    assert(event("CompileExpressionsMicroseconds") > time0)
    assert(compiles(spark.sql(shape).collect()) == 0)
    val names = spark.sql("SELECT event FROM system.events").collect().map(_.getString(0)).toSet
    assert(names == Set("CompileFunction", "CompileExpressionsMicroseconds"))
  }

  test("a dashboard statement with new int, long, double, date and timestamp bounds compiles nothing") {
    def stmt(i: Int, l: Long, d: Double, day: String, ts: String): String =
      s"SELECT k, countIf(d >= $d) AS c, sumIf(l, i < $i) AS s, count() AS n FROM $typed " +
        s"WHERE dt >= '$day' AND ts < '$ts' AND l > $l GROUP BY k ORDER BY k"
    def expect(i: Int, l: Long, d: Double, day: String, ts: String): Seq[(String, Long, Long, Long)] = {
      val rows = (0L until 400L).map { id =>
        (id % 3, (id % 100).toInt, id * 3, (id % 40) / 4.0,
          java.time.LocalDate.parse("2020-01-01").plusDays(id % 60),
          java.time.LocalDateTime.parse("2020-01-01T00:00:00").plusMinutes(id % 48))
      }.filter { case (_, _, lv, _, dt, t) =>
        !dt.isBefore(java.time.LocalDate.parse(day)) &&
          t.isBefore(java.time.LocalDateTime.parse(ts.replace(' ', 'T'))) && lv > l
      }
      rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, g) =>
        (k.toString, g.count(_._4 >= d).toLong, g.filter(_._2 < i).map(_._3).sum, g.size.toLong)
      }
    }
    def run(args: (Int, Long, Double, String, String)): Seq[(String, Long, Long, Long)] =
      spark.sql((stmt _).tupled(args)).collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2), r.getLong(3)))
    val first = (50, 30L, 5.0, "2020-01-10", "2020-01-01 00:30:00")
    assert(run(first) == (expect _).tupled(first))
    for (next <- Seq((20, 300L, 2.5, "2020-02-01", "2020-01-01 00:10:00"),
                     (99, 0L, 9.75, "2020-01-01", "2020-01-01 00:47:00"))) {
      var got: Seq[(String, Long, Long, Long)] = Nil
      assert(compiles { got = run(next) } == 0, s"bounds $next")
      assert(got == (expect _).tupled(next), s"bounds $next")
    }
  }

  test("a second identical pipeline pass compiles nothing") {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 300).map(i => s"w$i")
    val texts = (0 until 300).map(_ => Seq.fill(40 + rnd.nextInt(40))(vocab(rnd.nextInt(300))).mkString(" "))
    val docs = (texts ++ texts.take(20).map(t => "  " + t.toUpperCase + " ") ++
        texts.slice(20, 40).map(_ + " extra")).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val vecs = (0 until 300).map(i => (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    def pass(): Seq[Any] = {
      val base = docs.withColumn("norm", TextAnalysis.normalize(col("text")))
      Seq(
        Dedup.exact(base.withColumn("fp", md5(col("norm").cast("binary"))), "doc_id", "fp")
          .agg(sum(col("group_size") - 1)).head().getLong(0),
        Dedup.minHashLshPairs(base, "doc_id", "norm", numHashes = 32, bands = 8, minEstJaccard = 0.7)
          .select("id_a", "id_b").collect().toSet,
        Dedup.simHashPairsAuto(base, "doc_id", "norm", maxHamming = 3).select("id_a", "id_b")
          .collect().toSet,
        Similarity.lshAnnPairsAuto(vecs, "vec_id", "embedding", numTables = 4, minCos = 0.5, dim = 16)
          .collect().toSet,
        TextAnalysis.curateChunks(docs, "doc_id", "text", minQuality = 0.5, chunkLen = 8, overlap = 2)
          .groupBy("shard").agg(count(lit(1)), sum("n_tokens")).orderBy("shard").collect().toSeq)
    }
    val first = pass()
    assert(first.head == 20L)
    var second: Seq[Any] = Nil
    assert(compiles { second = pass() } == 0)
    assert(second == first)
  }

  test("a FINAL read after an insert into a ReplacingMergeTree table compiles nothing") {
    dropWithLocation("cgr_rmt")
    spark.sql("""CREATE TABLE cgr_rmt (id UInt64, version UInt64, is_deleted UInt8, v Float64, p UInt32)
      ENGINE = ReplacingMergeTree(version, is_deleted) PARTITION BY p ORDER BY id""")
    def insert(from: Long): Unit = {
      spark.range(from, from + 3000).selectExpr("id % 700 AS id", "id AS version",
        "CAST(id % 11 = 0 AS TINYINT) AS is_deleted", "(id % 50) * 0.5D AS v", "CAST(id % 5 AS INT) AS p")
        .createOrReplaceTempView("cgr_batch")
      spark.sql("INSERT INTO cgr_rmt SELECT id, version, is_deleted, v, p FROM cgr_batch")
      // registerWithFinal over the table as it is now, as a CDC reader does
      Replicate.registerWithFinal(spark.table("cgr_rmt"), "cgr_cdc", Seq("p", "id"), Seq(col("version")))
    }
    val read = "SELECT count() AS n, sum(v) AS sv, sum(version) AS sver FROM cgr_cdc FINAL WHERE is_deleted = 0"
    try {
      insert(0)
      spark.sql(read).collect()
      insert(3000)
      val df = spark.sql(read)
      assert(compiles(df.collect()) == 0)
      assert(collect(df.queryExecution.executedPlan) { case g: PartitionGroupedScanExec => g }.nonEmpty,
        df.queryExecution.executedPlan)
    } finally dropWithLocation("cgr_rmt")
  }

  test("ParamLiterals plans return the rows of their literal plans, bounds included") {
    val t = typed
    val queries = Seq(
      s"SELECT count(*) FROM $t WHERE i >= 50 AND i <= 60 AND i <> 55",
      s"SELECT count(*) FROM $t WHERE i = 50 OR i <=> 99 OR i < 1",
      s"SELECT count(*) FROM $t WHERE l > 300 AND l <= 900 AND sh = 3 AND b >= 4",
      s"SELECT count(*) FROM $t WHERE f >= 2.5 AND f < 7.25 AND d = 9.75",
      s"SELECT count(*) FROM $t WHERE dt >= DATE'2020-01-10' AND dt < DATE'2020-02-01'",
      s"SELECT count(*) FROM $t WHERE ts >= TIMESTAMP'2020-01-01 00:10:00' AND ts <= TIMESTAMP'2020-01-01 00:30:00'",
      s"SELECT count(*) FROM $t WHERE tn > TIMESTAMP_NTZ'2020-01-01 00:10:00'",
      s"SELECT k, count_if(i >= 50) AS c, sum(IF(d <= 5.0, l, 0)) AS s, max(dt = DATE'2020-01-05') AS m " +
        s"FROM $t GROUP BY k",
      s"SELECT k, count(*) > 133 AS big FROM $t GROUP BY k HAVING sum(i) >= 6600",
      s"SELECT i, i > 50 AS gt, ts = TIMESTAMP'2020-01-01 00:10:00' AS eq FROM $t WHERE l < 90")
    withConf("spark.sql.adaptive.enabled" -> "false") {
      for (q <- queries) {
        val plan = spark.sql(q).queryExecution.executedPlan
        val param = ParamLiterals(plan)
        assert(param.collect { case p => p.expressions.flatMap(_.collect { case x: ParamLiteral => x }) }
          .flatten.nonEmpty, s"no parameter in\n$param")
        // prints as the literal plan (an exchange's plan_id is per instance)
        def shown(p: SparkPlan) = p.treeString.replaceAll("plan_id=\\d+", "")
        assert(shown(param) == shown(plan), q)
        val rows = plan.executeCollectPublic().map(_.toString).sorted.toSeq
        assert(param.executeCollectPublic().map(_.toString).sorted.toSeq == rows, q)
        assert(rows.nonEmpty)
      }
    }
  }

  test("ParamLiteral: foldable, evaluates to its value, equal only for equal values") {
    val p = ParamLiteral(5, IntegerType)
    assert(p.foldable && !p.nullable && p.eval() == 5)
    assert(p.toString == Literal(5).toString && p.sql == Literal(5).sql)
    assert(p == ParamLiteral(5, IntegerType) && p.hashCode == ParamLiteral(5, IntegerType).hashCode)
    assert(p != ParamLiteral(6, IntegerType) && p != Literal(5))
    // plans that differ in a constant stay apart for exchange reuse
    def exchanged(bound: Int): SparkPlan = withConf("spark.sql.adaptive.enabled" -> "false") {
      ParamLiterals(spark.sql(s"SELECT k, count(*) FROM $typed WHERE i < $bound GROUP BY k")
        .queryExecution.executedPlan)
    }
    assert(exchanged(10).canonicalized != exchanged(11).canonicalized)
    assert(exchanged(10).canonicalized == exchanged(10).canonicalized)
  }

  test("scans keep real literals for their data filters") {
    val df = spark.sql(s"SELECT count(*) FROM $typed WHERE i >= 50")
    df.collect()
    val plan = df.queryExecution.executedPlan
    val dataFilters = collect(plan) { case s: FileSourceScanExec => s.dataFilters }.flatten
    assert(dataFilters.nonEmpty)
    assert(dataFilters.forall(_.collect { case x: ParamLiteral => x }.isEmpty), dataFilters)
    assert(dataFilters.exists(_.collect { case Literal(50, IntegerType) => true }.nonEmpty), dataFilters)
    val conditions = collect(plan) { case f: FilterExec => f.condition }
    assert(conditions.exists(_.collect { case x: ParamLiteral => x }.nonEmpty), plan)
  }
}
