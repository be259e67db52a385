package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** [[graft.plans.SmallSortCoalesce]]: a small `GROUP BY … ORDER BY`
  * sorts in its final task instead of behind a range exchange, with
  * the same rows in the same order; and the parquet reader settings
  * of [[GraftSession]] still prune row groups by min/max. */
class SmallSortCoalesceSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val MinPartitionSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** Runs `sql` with the rule on (the default bound) and off (a
    * one-byte bound, under which no non-empty stage fits). */
  private def onAndOff(sql: String): ((Seq[Row], SparkPlan), (Seq[Row], SparkPlan)) = {
    def run(): (Seq[Row], SparkPlan) = {
      val df = spark.sql(sql)
      (df.collect().toSeq, df.queryExecution.executedPlan)
    }
    (run(), withConf(MinPartitionSize -> "1b")(run()))
  }

  private def rangeExchanges(plan: SparkPlan): Seq[SparkPlan] = collect(plan) {
    case s: ShuffleExchangeExec if s.outputPartitioning.isInstanceOf[RangePartitioning] => s
  }
  private def coalesces(plan: SparkPlan): Seq[SparkPlan] = collect(plan) { case c: CoalesceExec => c }

  private lazy val table: String = {
    val dir = Files.createTempDirectory("graft_small_sort").toString
    spark.range(0, 2000).selectExpr("id",
        "IF(id % 7 = 0, NULL, CAST(id % 13 AS INT)) AS k1",
        "CAST(id % 3 AS STRING) AS k2",
        "id * 1.5 AS v",
        "TIMESTAMP'1995-01-01 00:00:00' + make_interval(0, 0, 0, CAST(id % 400 AS INT)) AS d")
      .repartition(4).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("sso_t")
    "sso_t"
  }

  test("GROUP BY … ORDER BY: same rows in the same order with the rule on and off") {
    val queries = Seq(
      s"SELECT k1, count(*) AS n, sum(v) AS s FROM $table GROUP BY k1 ORDER BY k1 ASC NULLS FIRST",
      s"SELECT k1, count(*) AS n FROM $table GROUP BY k1 ORDER BY k1 DESC NULLS LAST",
      s"SELECT k1, count(*) AS n FROM $table GROUP BY k1 ORDER BY k1 DESC NULLS FIRST",
      s"SELECT k2, k1, sum(v) AS s FROM $table GROUP BY k2, k1 ORDER BY k2 DESC, k1 ASC NULLS LAST",
      // an ORDER BY column that is not selected: Project over the Sort
      s"SELECT k2, count(*) AS n FROM $table GROUP BY k2 ORDER BY sum(v) DESC",
      // two aggregation levels (uniq): the rule waits for the second stage
      s"SELECT k2, count(DISTINCT k1) AS u FROM $table GROUP BY k2 ORDER BY k2",
      s"SELECT toStartOfMonth(d) AS m, count() AS n, sum(v) AS s FROM $table GROUP BY m ORDER BY m",
      s"SELECT k1, count(*) AS n FROM $table WHERE id < 0 GROUP BY k1 ORDER BY k1")
    for (q <- queries) {
      val ((on, onPlan), (off, offPlan)) = onAndOff(q)
      assert(on == off, s"rows differ for $q")
      assert(rangeExchanges(onPlan).isEmpty, s"range exchange kept for $q:\n$onPlan")
      if (off.nonEmpty) {
        assert(on.length > 1, q)
        assert(coalesces(onPlan).nonEmpty, s"$q:\n$onPlan")
        assert(rangeExchanges(offPlan).nonEmpty, s"off, $q should keep its range exchange:\n$offPlan")
      }
    }
  }

  test("a small ordered aggregate runs in two jobs, with no range exchange") {
    val q = s"SELECT k2, count(*) AS n, sum(v) AS s FROM $table GROUP BY k2 ORDER BY k2"
    var plan: SparkPlan = null
    assert(jobsOf { val df = spark.sql(q); df.collect(); plan = df.queryExecution.executedPlan } == 2)
    assert(rangeExchanges(plan).isEmpty && coalesces(plan).nonEmpty, plan.toString)
    // the range exchange costs a sampling job and a map stage of its own
    assert(withConf(MinPartitionSize -> "1b")(jobsOf(spark.sql(q).collect())) == 4)
  }

  test("an aggregate over the bound keeps its range exchange") {
    // ~1000 groups per map task: the partial aggregates outweigh 1 KB
    val q = s"SELECT id % 1000 AS g, sum(v) AS s FROM $table GROUP BY g ORDER BY g"
    def plan(): (Seq[Row], SparkPlan) = {
      val df = spark.sql(q)
      (df.collect().toSeq, df.queryExecution.executedPlan)
    }
    val (over, overPlan) = withConf(MinPartitionSize -> "1k")(plan())
    assert(rangeExchanges(overPlan).nonEmpty && coalesces(overPlan).isEmpty, overPlan.toString)
    val (under, underPlan) = plan()
    assert(rangeExchanges(underPlan).isEmpty, underPlan.toString)
    assert(over == under && over.length == 1000)
  }

  test("an ordered join keeps its range exchange") {
    val q = s"SELECT a.id, b.k2 FROM $table a JOIN $table b ON a.id = b.id ORDER BY a.id"
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(q)
      assert(df.collect().map(_.getLong(0)).toSeq == (0L until 2000L))
      assert(rangeExchanges(df.queryExecution.executedPlan).nonEmpty)
      assert(coalesces(df.queryExecution.executedPlan).isEmpty)
    }
  }

  test("a MergeTree landing of a small ordered aggregate writes the files it wrote before") {
    dropWithLocation("sso_mt")
    spark.sql("CREATE TABLE sso_mt (k2 String, k1 Int32, n UInt64, s Float64) " +
      "ENGINE = MergeTree PARTITION BY k2 ORDER BY k1")
    try {
      spark.sql("INSERT INTO sso_mt (k2, k1, n, s) " +
        s"SELECT k2, ifNull(k1, -1) AS k1, count() AS n, sum(v) AS s FROM $table " +
        "GROUP BY k2, k1 ORDER BY k2, k1")
      val loc = new java.io.File(new java.net.URI(
        spark.sql("DESCRIBE FORMATTED sso_mt").where("col_name = 'Location'").head().getString(1)))
      def files(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
      val parquet = files(loc).filter(_.getName.endsWith(".parquet"))
      // one file per partition directory, as before the rule
      assert(parquet.length == 3, parquet.mkString("\n"))
      assert(spark.table("sso_mt").count() == 3 * 14)
    } finally dropWithLocation("sso_mt")
  }

  test("row groups prune by min/max with the dictionary filter off") {
    assert(GraftSession.parquetReadConf("parquet.filter.dictionary.enabled") == "false")
    val dir = Files.createTempDirectory("graft_rowgroups").toString
    // one file, two row groups of 100 rows with disjoint l_shipdate ranges
    withConf("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      spark.range(0, 200).selectExpr("id",
          "TIMESTAMP'1994-01-01 00:00:00' + make_interval(0, 0, 0, CAST(id AS INT)) AS l_shipdate")
        .coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", "1")
        .option("parquet.block.size.row.check.min", "100")
        .option("parquet.block.size.row.check.max", "100")
        .parquet(dir)
    }
    val file = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getPath), spark.sparkContext.hadoopConfiguration))
    val groups = try reader.getFooter.getBlocks.toArray.map(
      _.asInstanceOf[org.apache.parquet.hadoop.metadata.BlockMetaData].getRowCount).toSeq
      finally reader.close()
    assert(groups == Seq(100L, 100L))

    def scanRows(df: DataFrame): Long = collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics("numOutputRows").value
    }.sum
    val read = spark.read.options(GraftSession.parquetReadConf).parquet(dir)
    for ((lo, hi, want) <- Seq(("1994-01-05", "1994-02-01", 27L), ("1994-05-01", "1994-06-01", 31L))) {
      val df = read.where(s"l_shipdate >= '$lo' AND l_shipdate < '$hi'")
      assert(df.count() == want)
      val rows = df.select("id")
      rows.collect()
      assert(scanRows(rows) == 100L, s"[$lo, $hi) read ${scanRows(rows)} rows")
    }
  }
}
