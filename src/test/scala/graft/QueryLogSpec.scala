package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

/** The statement recorder ([[QueryLog]]) and the `system.query_log`
  * view it serves. */
class QueryLogSpec extends SparkSpec {

  private def logRows(marker: String): Seq[Row] =
    spark.sql("SELECT type, query, exception, read_rows, read_bytes, jobs, tasks, " +
        "planning_ms, query_duration_ms FROM system.query_log")
      .collect().toSeq.filter(_.getString(1).contains(marker))

  test("a finished and a failed statement are both logged, the failure with its exception") {
    val ok = "SELECT quantile(0.5)(id) AS p, 'ql_ok_marker' AS m FROM range(100)"
    val bad = "SELECT assert_true(id < 0, 'ql_bad_marker') FROM range(3)"
    spark.sql(ok).collect()
    intercept[Exception](spark.sql(bad).collect())
    // count() runs a new aggregate over the statement's analyzed plan
    val counted = "WITH t AS (SELECT id FROM range(10)) SELECT id, 'ql_count_marker' AS m FROM t"
    spark.sql(counted).count()
    assert(logRows("ql_count_marker").map(_.getString(1)) == Seq(counted))
    val okRows = logRows("ql_ok_marker")
    assert(okRows.map(_.getString(1)) == Seq(ok), "query is the dialect text as written")
    assert(okRows.head.getString(0) == "QueryFinish")
    assert(okRows.head.getString(2) == "")
    assert(okRows.head.getLong(5) >= 1, "the aggregate ran at least one job")
    val badRows = logRows("ql_bad_marker").filter(_.getString(1) == bad)
    assert(badRows.size == 1)
    assert(badRows.head.getString(0) == "ExceptionWhileProcessing")
    assert(badRows.head.getString(2).contains("ql_bad_marker"), badRows.head.getString(2))
  }

  test("read_bytes of a full parquet scan is the summed size of its files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_querylog_scan")
    spark.range(5000).selectExpr("id", "id * 3 AS v").repartition(3)
      .write.mode("overwrite").parquet(dir.toString)
    val files = dir.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == 3)
    val q = s"SELECT sum(v) AS s, 'ql_scan_marker' AS m FROM parquet.`$dir`"
    spark.sql(q).collect()
    val row = logRows("ql_scan_marker").filter(_.getString(1) == q).last
    assert(row.getLong(3) == 5000L, "read_rows")
    assert(row.getLong(4) == files.map(_.length).sum, "read_bytes")
  }

  test("a job group's job count equals a plain job-start listener's count") {
    val sc = spark.sparkContext
    val group = s"ql-jobs-${System.nanoTime()}"
    @volatile var reference = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          reference += 1
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try {
        spark.range(2000).groupBy(col("id") % 7).count().orderBy("count").collect()
        spark.sql("SELECT uniqExact(id % 13) FROM range(500)").collect()
        sc.parallelize(1 to 10, 2).count() // a job outside any SQL execution
      } finally sc.clearJobGroup()
      val recorded = QueryLog.group(sc, group)
      assert(reference >= 3)
      assert(recorded.jobs == reference)
      assert(recorded.statements == 2)
      assert(recorded.tasks >= recorded.jobs)
    } finally sc.removeSparkListener(listener)
  }

  test("after 10,000 statements the recorder keeps at most its capacity") {
    (1 to 10000).foreach(i => spark.sql(s"SET spark.graft.querylog.probe=$i"))
    spark.conf.unset("spark.graft.querylog.probe")
    val entries = QueryLog.entries(spark.sparkContext)
    assert(entries.size <= QueryLog.Capacity)
    assert(entries.size == QueryLog.Capacity, "10,000 statements fill the ring")
    assert(entries.last.query == "SET spark.graft.querylog.probe=10000", "the newest is kept")
  }
}
