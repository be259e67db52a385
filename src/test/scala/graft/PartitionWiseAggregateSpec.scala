package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.graftbridge.PartitionGroupedScanExec

import graft.operators.Replicate

/** [[graft.plans.PartitionWiseAggregate]]: an aggregate grouped on every
  * partition column reads whole directories per task and needs no
  * exchange, with the rows an unpartitioned read of the same files
  * gives. */
class PartitionWiseAggregateSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Schema = "id BIGINT, version BIGINT, is_deleted INT, v DOUBLE, p INT"

  /** Change rows: ids repeat across versions; `v` sums exactly in any order. */
  private def changes(rows: Int, partition: String): DataFrame =
    spark.range(rows).selectExpr("id % 700 AS id", "id AS version",
      "CAST(id % 9 = 0 AS INT) AS is_deleted", "(id % 100) * 0.5D AS v", s"CAST($partition AS INT) AS p")

  /** Writes `df` partitioned on p, several files a directory, and
    * registers the partitioned read as `name` and an unpartitioned read
    * of the same files, p taken from each file's path, as `name_ref`. */
  private def table(name: String, df: DataFrame): String = {
    val dir = Files.createTempDirectory(s"graft_pwa_$name").toString
    df.repartition(3).write.mode("overwrite").partitionBy("p").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView(name)
    spark.read.schema(Schema).option("recursiveFileLookup", "true").parquet(dir)
      .withColumn("p", expr("CAST(nullif(regexp_extract(_metadata.file_path, 'p=([^/]*)', 1), " +
        "'__HIVE_DEFAULT_PARTITION__') AS INT)"))
      .createOrReplaceTempView(s"${name}_ref")
    name
  }

  // six partitions and a NULL one
  private lazy val wide = table("pwa_t", changes(6000, "IF(id % 13 = 0, NULL, id % 6)"))
  private lazy val single = table("pwa_one", changes(900, "7"))

  private def grouped(plan: SparkPlan): Seq[PartitionGroupedScanExec] =
    collect(plan) { case g: PartitionGroupedScanExec => g }
  private def hashExchanges(plan: SparkPlan): Seq[SparkPlan] = collect(plan) {
    case s: ShuffleExchangeExec if s.outputPartitioning.isInstanceOf[HashPartitioning] => s
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Runs `q` over table `t` and over its reference; returns the plan. */
  private def sameRows(q: String, t: String): SparkPlan = {
    val df = spark.sql(q.replace("$T", t))
    val got = rows(df)
    assert(got == rows(spark.sql(q.replace("$T", s"${t}_ref"))), s"rows differ for $q over $t")
    df.queryExecution.executedPlan
  }

  private val Queries = Seq(
    "SELECT p, id, max(version) AS mv, sum(v) AS sv, count(*) AS n FROM $T GROUP BY p, id",
    "SELECT p, count(*) AS n, sum(v) AS sv FROM $T GROUP BY p",
    // partition pruning, and a data filter
    "SELECT p, id, max(version) AS mv FROM $T WHERE p IN (1, 2) GROUP BY p, id",
    "SELECT id, p, min(v) AS mn FROM $T WHERE v > 10 GROUP BY id, p",
    "SELECT p, count(*) AS n FROM $T WHERE p IS NULL GROUP BY p",
    // the aggregate under a global one
    "SELECT count(*) AS g, sum(mv) AS s FROM (SELECT p, id, max(version) AS mv FROM $T GROUP BY p, id)")

  test("GROUP BY over the partition column: reference rows, no hash exchange, whole directories per task") {
    for (t <- Seq(wide, single); q <- Queries) {
      val plan = sameRows(q, t)
      val scans = grouped(plan)
      assert(scans.nonEmpty, s"$q over $t:\n$plan")
      assert(hashExchanges(plan).isEmpty, s"$q over $t:\n$plan")
      val values = scans.flatMap(_.tasks.map(_.files.map(_.partitionValues).distinct.toSeq))
      assert(values.flatten.distinct.size == values.flatten.size, s"a directory split across tasks: $q")
    }
    assert(grouped(sameRows(Queries.head, single)).head.tasks.length == 1)
    // six directories and the NULL one pack into fewer tasks than files
    val wideScan = grouped(sameRows(Queries.head, wide)).head
    assert(wideScan.tasks.map(_.files.length).sum == 21 && wideScan.tasks.length < 21)
  }

  test("FROM t FINAL over registerWithFinal returns the reference rows with no hash exchange") {
    val reads = Seq("SELECT * FROM $T FINAL",
      "SELECT count() AS n, sum(v) AS sv, sum(version) AS sver FROM $T FINAL WHERE is_deleted = 0")
    for (t <- Seq(wide, single)) {
      Replicate.registerWithFinal(spark.table(t), s"${t}_r", Seq("p", "id"), Seq(col("version")))
      Replicate.registerWithFinal(spark.table(s"${t}_ref"), s"${t}_r_ref", Seq("p", "id"), Seq(col("version")))
      for (q <- reads) {
        val plan = sameRows(q, s"${t}_r")
        assert(grouped(plan).nonEmpty && hashExchanges(plan).isEmpty, s"$q over $t:\n$plan")
      }
    }
  }

  test("an empty partitioned table returns the reference rows") {
    dropWithLocation("pwa_empty")
    spark.sql(s"CREATE TABLE pwa_empty ($Schema) USING parquet PARTITIONED BY (p)")
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
      org.apache.spark.sql.types.StructType.fromDDL(Schema)).createOrReplaceTempView("pwa_empty_ref")
    try for (q <- Queries) {
      val plan = sameRows(q, "pwa_empty")
      assert(hashExchanges(plan).isEmpty, s"$q:\n$plan")
    } finally dropWithLocation("pwa_empty")
  }

  test("a join on (p, id) or on p above partition-wise aggregates shuffles both sides") {
    val joins = Seq(
      // on p alone every partition column is a join key, so each side's
      // partitioning satisfies its distribution; the sides still differ
      // in which directories share a task
      """SELECT a.p, a.id, a.mv, b.n FROM (SELECT p, id, max(version) AS mv FROM $T GROUP BY p, id) a
        |JOIN (SELECT p, count(*) AS n FROM $T WHERE p <> 1 GROUP BY p) b ON a.p = b.p""".stripMargin,
      """SELECT a.p, a.id, a.mv, b.n FROM (SELECT p, id, max(version) AS mv FROM $T GROUP BY p, id) a
        |JOIN (SELECT p, id, count(*) AS n FROM $T WHERE p <> 1 AND id % 3 = 0 GROUP BY p, id) b
        |ON a.p = b.p AND a.id = b.id""".stripMargin,
      """SELECT a.p, a.id, a.mv, b.version FROM (SELECT p, id, max(version) AS mv FROM $T GROUP BY p, id) a
        |JOIN $T b ON a.p = b.p AND a.id = b.id AND a.mv = b.version""".stripMargin)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      for (q <- joins) {
        val plan = sameRows(q, wide)
        assert(grouped(plan).nonEmpty, s"$q:\n$plan")
        assert(hashExchanges(plan).nonEmpty, s"$q:\n$plan")
      }
    }
  }

  test("a directory over spark.sql.files.maxPartitionBytes keeps the exchange") {
    withConf("spark.sql.files.maxPartitionBytes" -> "1k") {
      val plan = sameRows(Queries.head, wide)
      assert(grouped(plan).isEmpty && hashExchanges(plan).nonEmpty, plan.toString)
    }
  }

  test("system.query_log read_rows and read_bytes equal those of the plain scan") {
    val q = s"SELECT p, id, max(version) AS mv FROM $wide WHERE p <> 3 GROUP BY p, id"
    val df = spark.sql(q)
    df.collect()
    assert(grouped(df.queryExecution.executedPlan).nonEmpty)
    withConf("spark.sql.files.maxPartitionBytes" -> "1k")(spark.sql(q).collect())
    val Seq(partitionWise, plain) = QueryLog.entries(spark.sparkContext).filter(_.query == q).takeRight(2)
    assert(partitionWise.work.readRows == plain.work.readRows && plain.work.readRows > 0)
    assert(partitionWise.work.readBytes == plain.work.readBytes && plain.work.readBytes > 0)
  }
}
