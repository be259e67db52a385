package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session —
  * getOrCreate — so suites don't pay repeated startup): local[4] with
  * 4 shuffle partitions, and `GraftSession`'s parquet, codegen cache
  * and statement recorder settings. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Runs `body` with the session confs `kv` set, then restores them. */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Jobs started by `body`: the statement recorder's count for a job
    * group of its own. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime()}"
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    QueryLog.group(sc, group).jobs.toInt
  }

  /** DROP TABLE plus managed-location (and sibling-dir) cleanup: a
    * killed prior run can leave the warehouse directory behind a
    * no-op DROP, failing the next CREATE with LOCATION_ALREADY_EXISTS.
    * Globs `name*` so projection/backup sibling dirs go too. */
  def dropWithLocation(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val wh = new org.apache.hadoop.fs.Path(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // exact location + the engine's __graft_* sibling dirs ONLY — a
    // bare name* glob would delete other tables extending the name
    // (dropWithLocation("sct_t") must not touch sct_ttl)
    fs.delete(new org.apache.hadoop.fs.Path(wh, name), true)
    val sibs = fs.globStatus(new org.apache.hadoop.fs.Path(wh, name + "__graft_*"))
    if (sibs != null) sibs.foreach(st => fs.delete(st.getPath, true))
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // see GraftSession.builder: Arrow IPC needs this set before netty loads
    System.setProperty("io.netty.tryReflectiveSetAccessible", "true")
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.catalog.system", "graft.plans.GraftSystemCatalog")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the engine's parquet reader, codegen cache and statement
      // recorder; all are static, so this first session fixes them per JVM
      .config(GraftSession.engineConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
