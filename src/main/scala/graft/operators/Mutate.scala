package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._

/** Copy-on-write mutations — ClickHouse `ALTER TABLE … DELETE/UPDATE`
  * (lightweight-mutation semantics) over a directory-partitioned
  * parquet layout (the [[graft.sources.MergeTreeWrite]] shape).
  *
  * ClickHouse executes mutations by rewriting affected data parts in
  * the background; the Spark-first analog is a partition-pruned
  * rewrite through DYNAMIC partition overwrite: only partitions that
  * can contain matching rows are read and rewritten, everything else
  * is untouched on disk (asserted byte-for-byte in MutateSpec). At
  * 100 TB a GDPR delete touching one month rewrites one month.
  *
  * The affected-partition discovery is itself pruned: the predicate
  * pushes down to the scan, and only the partition column is read.
  */
object Mutate {

  /** `partitionsEmptied` counts affected partitions whose directory
    * was removed because the mutation deleted every row — the signal
    * the catalog re-sync uses to skip MSCK when the partition SET is
    * unchanged (a mutation can never add partitions). */
  final case class Report(partitionsTotal: Long, partitionsRewritten: Long, rowsChanged: Long,
                          partitionsEmptied: Long = 0L)

  /** The string Spark's partitioned writer embeds in a directory name
    * for this partition value. `v.toString` is NOT it for every type:
    * `java.sql.Timestamp.toString` yields `… 00:00:00.0` where the
    * writer's `Cast(v, String)` yields `… 00:00:00` — building the
    * path from toString would miss the directory and (for a deletion)
    * silently resurrect deleted rows. Evaluate the same cast the
    * writer uses, under the session timezone, driver-side. */
  private def partitionPathValue(spark: SparkSession, v: Any): String =
    if (v == null) null
    else {
      val cast = org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.catalyst.expressions.Literal(v),
        org.apache.spark.sql.types.StringType,
        Option(spark.sessionState.conf.sessionLocalTimeZone))
      Option(cast.eval(null)).map(_.toString).orNull
    }

  private def withDynamicOverwrite[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Rewrite the partitions containing `pred` matches with
    * `transform` applied to their rows; everything else stays on disk
    * untouched. Core of delete/update.
    *
    * A mutation is two passes, stats + write (guide §1.2: remove
    * passes before tuning anything else), three Spark jobs: one for
    * the stats and two for the write. One narrow aggregate over
    * (partition column, predicate) yields per-partition match/keep
    * counts, from which affected, changed and emptied all follow; it
    * reads only the partition column and the predicate's input
    * columns, and, grouped on the partition column, runs in one stage
    * with no shuffle ([[graft.plans.PartitionWiseAggregate]]). Only
    * partitions with a TRUE match reach the driver, so
    * the collect is bounded by the AFFECTED partitions on every table,
    * however many partitions it has. `partitionsTotal` is the
    * partition count the scan's file index already lists — driver
    * metadata, zero jobs.
    *
    * NULL-predicate semantics: a partition is affected only by
    * pred = TRUE rows; `changed` counts TRUE rows only; and within an
    * affected partition, emptiness after a delete means no row keeps
    * (`NOT pred` not TRUE — `where(!pred)` drops NULLs too), which
    * `keeps == 0` captures. A NULL partition value never matches
    * isInCollection below, so its rows are NEVER rewritten
    * (documented); it is excluded from affected/changed so the report
    * never counts work that won't happen. */
  private[graft] def rewriteAffected(spark: SparkSession, path: String, partitionCol: String,
                              pred: Column, transform: DataFrame => DataFrame,
                              removesNonKeepers: Boolean,
                              schema: Option[org.apache.spark.sql.types.StructType]): Report = {
    // an explicit schema (the catalog's, when the caller has one)
    // skips the per-mutation footer-inference pass
    val table = schema.fold(spark.read)(spark.read.schema(_)).parquet(path)
    val total = table.queryExecution.analyzed.collectFirst { case lr: LogicalRelation => lr.relation }
      .collect { case fs: HadoopFsRelation => fs.location }
      .collect { case p: PartitioningAwareFileIndex => p.partitionSpec().partitions.size.toLong }
      .getOrElse(0L)
    val affectedStats = table.groupBy(col(partitionCol)).agg(
      sum(when(pred, 1L).otherwise(0L)).as("gr_matches"),
      sum(when(!pred, 1L).otherwise(0L)).as("gr_keeps"))
      .where(col("gr_matches") > 0 && col(partitionCol).isNotNull)
      .collect()
    if (affectedStats.isEmpty) return Report(total, 0, 0)
    val changed = affectedStats.map(_.getLong(1)).sum
    val slice = table.where(col(partitionCol).isInCollection(affectedStats.map(_.get(0)).toSeq))
    withDynamicOverwrite(spark) {
      transform(slice).write.mode("overwrite").partitionBy(partitionCol).parquet(path)
    }
    // Dynamic overwrite only replaces partitions PRESENT in the output:
    // a partition whose every row is deleted produces no output rows and
    // would otherwise survive on disk untouched. An update never drops
    // rows (nothing can empty); a delete keeps exactly the `!pred`-TRUE
    // rows, so a partition empties iff it has none.
    val emptied: Array[Any] =
      if (!removesNonKeepers) Array.empty
      else affectedStats.filter(_.getLong(2) == 0L).map(_.get(0))
    if (emptied.nonEmpty) {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
      emptied.foreach { v =>
        val dirName = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .getPartitionPathString(partitionCol, partitionPathValue(spark, v))
        fs.delete(new org.apache.hadoop.fs.Path(path, dirName), true)
      }
    }
    Report(total, affectedStats.length.toLong, changed, emptied.length.toLong)
  }

  /** ALTER TABLE … DELETE WHERE pred. */
  def delete(spark: SparkSession, path: String, partitionCol: String, pred: Column,
             schema: Option[org.apache.spark.sql.types.StructType] = None): Report =
    rewriteAffected(spark, path, partitionCol, pred, _.where(!pred),
      removesNonKeepers = true, schema = schema)

  final case class TtlReport(partitionsDropped: Long, partitionsRewritten: Long, rowsDeleted: Long)

  /** MergeTree `TTL expr` semantics, the way ClickHouse actually
    * executes it: parts whose entire range is expired are DROPPED as
    * units — a directory delete, no data read or rewritten — and only
    * the boundary part containing both live and expired rows pays a
    * row-level rewrite. At 100 TB with month partitions, expiring a
    * 90-day retention window is a handful of directory removals plus
    * one month's rewrite, never a full-table scan.
    *
    * `partitionWhollyExpired` is a predicate over the PARTITION COLUMN
    * ONLY (e.g. `col("month") < "2026-05"`), decidable from the
    * directory name; `rowExpired` is the row-level TTL predicate
    * applied to whatever partitions survive. The caller owns their
    * consistency (every row in a wholly-expired partition should
    * satisfy rowExpired) — the same contract ClickHouse's
    * partition-level TTL drop has. `rowsDeleted` counts only
    * row-level deletions: dropped parts are never read, so their rows
    * are (deliberately) never counted. */
  def ttl(spark: SparkSession, path: String, partitionCol: String,
          rowExpired: Column, partitionWhollyExpired: Column): TtlReport = {
    val dropped = spark.read.parquet(path)
      .select(col(partitionCol)).distinct().where(partitionWhollyExpired)
      .collect().map(_.get(0))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    dropped.foreach { v =>
      // Directory names use Spark's Hive-style partition-path escaping
      // (spaces/colons percent-encoded, null → __HIVE_DEFAULT_PARTITION__);
      // raw interpolation would silently miss such partitions, so build
      // the name the same way the writer did and fail loudly on a miss.
      val dirName = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .getPartitionPathString(partitionCol, partitionPathValue(spark, v))
      val p = new org.apache.hadoop.fs.Path(path, dirName)
      require(fs.delete(p, true), s"TTL drop failed: partition directory $p not found")
    }
    val rep = delete(spark, path, partitionCol, rowExpired)
    TtlReport(dropped.length.toLong, rep.partitionsRewritten, rep.rowsChanged)
  }

  /** ALTER TABLE … DROP PARTITION 'v': the whole part vanishes as a
    * directory unit — zero rows read, the operation ClickHouse ops
    * run constantly for retention and bad-load rollback. Hive-escaped
    * directory naming like [[ttl]]; a missing partition fails loudly
    * (dropping what isn't there is an operator error, not a no-op). */
  def dropPartition(spark: SparkSession, path: String, partitionCol: String, value: Any): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val dirName = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .getPartitionPathString(partitionCol, partitionPathValue(spark, value))
    val p = new org.apache.hadoop.fs.Path(path, dirName)
    require(fs.delete(p, true), s"DROP PARTITION failed: directory $p not found")
  }

  /** DETACH / ATTACH PARTITION: move the partition directory between
    * the live table root and the `__graft_detached` SIBLING directory
    * (ClickHouse's `detached/` area, kept outside the table root so
    * the base read never lists it). Metadata-only — one directory
    * rename, no data read or rewritten, which is the whole point of
    * the CH workflow (park a partition for surgery/backfill, attach
    * it back untouched). */
  def detachPartition(spark: SparkSession, path: String, partitionCol: String, value: Any): Unit =
    movePartition(spark, path, partitionCol, value, toDetached = true)

  def attachPartition(spark: SparkSession, path: String, partitionCol: String, value: Any): Unit =
    movePartition(spark, path, partitionCol, value, toDetached = false)

  /** Where a table's detached partitions live. */
  def detachedRoot(path: String): String = path.stripSuffix("/") + "__graft_detached"

  private def movePartition(spark: SparkSession, path: String, partitionCol: String,
                            value: Any, toDetached: Boolean): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val dirName = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .getPartitionPathString(partitionCol, partitionPathValue(spark, value))
    val live = new org.apache.hadoop.fs.Path(path, dirName)
    val det = new org.apache.hadoop.fs.Path(detachedRoot(path), dirName)
    val (src, dst, verb) = if (toDetached) (live, det, "DETACH") else (det, live, "ATTACH")
    require(fs.exists(src), s"$verb PARTITION failed: directory $src not found")
    require(!fs.exists(dst), s"$verb PARTITION failed: target $dst already exists")
    fs.mkdirs(dst.getParent)
    require(fs.rename(src, dst), s"$verb PARTITION failed moving $src -> $dst")
  }

  /** ALTER TABLE … UPDATE col = expr, … WHERE pred. Assignments apply
    * only to matching rows; other rows in rewritten partitions are
    * copied through bit-identically. The match flag is computed ONCE
    * before any assignment, so a predicate over a column being updated
    * sees pre-update values for every assignment (SQL UPDATE
    * semantics, not sequential reassignment). */
  def update(spark: SparkSession, path: String, partitionCol: String, pred: Column,
             set: Seq[(String, Column)],
             schema: Option[org.apache.spark.sql.types.StructType] = None): Report = {
    // ClickHouse forbids mutating key columns; here the partition column
    // is the physical key — updating it would move rows between
    // directories while dynamic overwrite leaves the stale copies behind.
    require(!set.exists(_._1.equalsIgnoreCase(partitionCol)),
      s"cannot UPDATE partition column '$partitionCol'")
    rewriteAffected(spark, path, partitionCol, pred, transform = df => {
      val flagged = df.withColumn("__graft_match", pred)
      // evaluate every RHS against the PRE-update row first…
      val staged = set.zipWithIndex.foldLeft(flagged) { case (d, ((_, value), i)) =>
        d.withColumn(s"__graft_new_$i", value)
      }
      // …then swap them in
      val applied = set.zipWithIndex.foldLeft(staged) { case (d, ((name, _), i)) =>
        d.withColumn(name, when(col("__graft_match"), col(s"__graft_new_$i")).otherwise(col(name)))
      }
      applied.drop("__graft_match" +: set.indices.map(i => s"__graft_new_$i"): _*)
    }, removesNonKeepers = false, schema = schema)
  }
}
