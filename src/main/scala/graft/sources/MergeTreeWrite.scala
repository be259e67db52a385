package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Parquet sink with ClickHouse-MergeTree-shaped layout — the target
  * side of the replication story (the reference's ClickPipes land rows
  * in MergeTree tables whose `PARTITION BY`/`ORDER BY` drive all later
  * query pruning; see /root/reference/src/tools/data_migrator.py).
  *
  * The Spark-native mapping:
  *  - `PARTITION BY expr`  → directory partitioning (`partitionBy`),
  *    giving coarse partition pruning on the filter column;
  *  - `ORDER BY key`       → `sortWithinPartitions`, clustering rows so
  *    parquet row-group min/max statistics act as the sparse primary
  *    index (scans skip row groups exactly like MergeTree skips
  *    granules);
  *  - merges               → none needed; files are immutable and a
  *    periodic compaction rewrite plays the OPTIMIZE role.
  *
  * Scale notes: rows are `repartition`-ed on the partition expression
  * first so each output directory is written by as few tasks as hold
  * its data — without this, every one of the N shuffle partitions
  * writes a sliver into every directory (N × dirs small files, the
  * classic 100 TB lake killer). Skewed partition values are AQE's
  * problem at write time and the compactor's afterwards.
  */
object MergeTreeWrite {

  /** Write `df` as parquet at `path`, partitioned by `partitionExprs`
    * (name → expression; materialized as columns) and sorted within
    * partitions by `orderBy` (the MergeTree ORDER BY analog).
    *
    * Clustering is RANGE partitioning on (partition cols ++ ORDER BY),
    * with the task count sized from the input bytes — NOT a hash
    * repartition on the partition expression alone. Hashing on the
    * partition value caps write parallelism at the number of DISTINCT
    * partition values and hands each task a whole directory's rows:
    * the sf100 rehearsal measured the one-month events landing (q96)
    * at 275 s because the entire 2 GB source hashed into ONE sort+
    * write task (guide §2.5 — a partitioning key with too few
    * distinct values). Range partitioning keeps each directory's rows
    * contiguous (a directory is written by ~its-bytes/128 MB adjacent
    * tasks, never sliver-written by every task) and bounds the
    * per-task sort slice at any scale; rows inside every file are
    * still sorted by (partCols ++ orderBy), so row-group min/max
    * pruning is unchanged. */
  def write(df: DataFrame, path: String,
            partitionExprs: Seq[(String, Column)],
            orderBy: Seq[String],
            mode: SaveMode = SaveMode.Overwrite): Unit = {
    val withParts = partitionExprs.foldLeft(df) { case (d, (name, e)) => d.withColumn(name, e) }
    val partCols = partitionExprs.map(_._1)
    val sortCols = (partCols ++ orderBy).map(col)
    val clustered = withParts
      .repartitionByRange(writeTasks(withParts), sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    clustered.write.mode(mode).option("compression", "zstd")
      .partitionBy(partCols: _*).parquet(path)
  }

  /** The write-sizing rule every sorted landing shares: (source
    * bytes, task target). The target puts ~128 MB of source bytes in
    * each sort task (bounded per-task memory at any scale, guide §5),
    * capped so a huge table cannot explode into millions of files.
    * Bytes come from plan statistics — a metadata read for parquet
    * scans, no job — bounded by the leaf-scan bytes: without CBO the
    * planner's estimate above a join or aggregate can overrun by
    * orders of magnitude (an equi-join estimates as the product of
    * its sides), which would hit the cap and emit tens of thousands of
    * tiny files. A column-subset Project estimates below its leaf, and
    * min keeps that tighter figure. */
  private[graft] def sourceBytesAndTasks(in: DataFrame): (BigInt, Int) = {
    val plan = in.queryExecution.optimizedPlan
    val est = plan.stats.sizeInBytes
    val leaf = plan.collectLeaves().map(_.stats.sizeInBytes).sum
    val bytes = if (leaf > 0) est.min(leaf) else est
    (bytes, (bytes / (128L << 20)).min(BigInt(32768)).toInt)
  }

  /** Task count for a clustered landing: [[sourceBytesAndTasks]]'
    * target, floored at the session parallelism only while that keeps
    * files ≥ ~16 MB (guide §6 — no small-file storm at small SF). */
  private def writeTasks(in: DataFrame): Int = {
    val (bytes, target) = sourceBytesAndTasks(in)
    val par = in.sparkSession.sparkContext.defaultParallelism
    val floor = math.min(par, (bytes / (16L << 20)).max(BigInt(1)).min(BigInt(par)).toInt)
    math.max(floor, target)
  }

  /** Bucketed write — the co-located-join layout MergeTree gets from
    * a shared ORDER BY prefix. Both sides of a recurring fact⋈fact
    * join are landed pre-hashed into the SAME bucket scheme
    * (`numBuckets` × hash(bucketCol)), so the join needs no Exchange
    * at read time: each task zips bucket i with bucket i. `sortBy`
    * additionally pre-sorts inside each bucket file, letting
    * sort-merge joins skip their Sort too.
    *
    * Spark persists bucketing metadata in the table catalog, not the
    * files, so this goes through `saveAsTable` with an explicit
    * external `path`. Bucket count is the at-scale knob: it fixes the
    * join parallelism for every downstream co-located join (1024 is a
    * sane 100 TB default; tests use 8).
    */
  def writeBucketed(df: DataFrame, tableName: String, path: String,
                    bucketCol: String, numBuckets: Int,
                    sortCols: Seq[String] = Nil,
                    mode: SaveMode = SaveMode.Overwrite): Unit = {
    // Append would land a SECOND file in every bucket, and Spark only
    // honors per-bucket sort order for single-file buckets — one
    // append silently degrades every later join on the table. Rewrite
    // (or compact) instead.
    require(mode != SaveMode.Append,
      "writeBucketed: Append breaks the one-file-per-bucket invariant the " +
      "sort-order policy depends on; rewrite the layout instead")
    // ONE file per bucket: repartition on the bucket column with the
    // bucket count — HashPartitioning here is the same
    // murmur3-pmod-numBuckets formula the bucket-id assignment uses,
    // so each task holds exactly one bucket. Without this, every
    // input task writes a sliver into every bucket (the sf100
    // rehearsal landed 140 files/bucket) and Spark's bucketed READ
    // drops the sort-order guarantee (it only holds for single-file
    // buckets), silently re-sorting both join sides per query — the
    // exact Exchange+Sort this layout exists to eliminate.
    val oneFilePerBucket = df.repartition(numBuckets, col(bucketCol))
    // zstd over the default snappy (guide §6): the layout build is
    // disk-bound (the isolated sf100 rebuild ran 257 s with zero spill
    // and ~100 GB of disk traffic), so smaller files are faster to
    // write AND faster for every later bucketed join to read.
    val w = oneFilePerBucket.write.mode(mode).option("path", path)
      .option("compression", "zstd")
      .bucketBy(numBuckets, bucketCol)
    val sorted = sortCols match {
      case Nil          => w
      case head +: tail => w.sortBy(head, tail: _*)
    }
    sorted.format("parquet").saveAsTable(tableName)
    // Persist the bucket count beside the data: the catalog spec dies
    // with the session, and re-declaring a DIFFERENT count over a
    // landed layout silently mis-buckets every later join. Readers use
    // [[landedBucketCount]] and refuse to guess. The marker also
    // carries a layout-FORMAT version: v2 = one file per bucket (the
    // shape the sort-order session flag is sound for). A count-only
    // or missing marker means a pre-v2 multi-file layout — readers
    // return None and callers rewrite, because reusing it would
    // silently re-sort every join while the policy claims zero-Sort.
    // The marker goes through the SAME Hadoop FileSystem the data
    // write resolved (not java.nio local paths): on hdfs:// or s3a://
    // a local-path marker would land beside nothing — every session
    // would silently rewrite the layout, or a post-commit local write
    // failure would orphan a valid layout readers refuse to reuse.
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val marker = new org.apache.hadoop.fs.Path(path, BucketMarker)
    val fs = marker.getFileSystem(conf)
    val out = fs.create(marker, true)
    try out.write(s"$LayoutVersion:$numBuckets".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private val BucketMarker = "_GRAFT_BUCKETS"
  private val LayoutVersion = 2 // v2: one file per bucket

  /** The bucket count a [[writeBucketed]] layout at `path` was written
    * with, if the marker is present AND the layout format is current
    * (older formats — no marker, or a pre-v2 count-only marker whose
    * buckets may span many files — return None: rewrite, don't
    * guess). Resolved through the Hadoop FileSystem for `path` (same
    * resolution as the data write), so non-local layouts work; `conf`
    * defaults to the active session's Hadoop conf. */
  def landedBucketCount(path: String,
                        conf: Option[org.apache.hadoop.conf.Configuration] = None): Option[Int] = {
    // no-session callers (tool mains, pre-session probes) still get a
    // filesystem answer: fall back to a stock Hadoop conf, which
    // resolves local and any fs whose scheme is on the classpath
    val hconf = conf
      .orElse(org.apache.spark.sql.SparkSession.getActiveSession
        .map(_.sessionState.newHadoopConf()))
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val marker = new org.apache.hadoop.fs.Path(path, BucketMarker)
    val fs = marker.getFileSystem(hconf)
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      val text = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
      text.trim.split(":") match {
        case Array(v, n) if v == LayoutVersion.toString =>
          scala.util.Try(n.toInt).toOption
        case _ => None
      }
    }
  }

  /** Scale-safe bucket-count dial: one bucket per ~`targetBytes` of
    * on-disk input (plan statistics — a metadata read for parquet
    * scans, no job), rounded up to a power of two and clamped to
    * [8, 4096]. Dial from the LARGER side of an intended co-located
    * join and write both sides with the same count — equal counts are
    * what lets Spark elide both exchanges. At sf0.1 (~10 MB facts)
    * this floors at 8 (the historical constant); at a 100 TB fact it
    * caps at 4096 buckets of ~25 GB — above that, bucket-pruned scans
    * and AQE coalescing matter more than further splitting. */
  def autoBucketCount(dfs: DataFrame*): Int = {
    require(dfs.nonEmpty, "autoBucketCount needs at least one input")
    val bytes = dfs.map(_.queryExecution.optimizedPlan.stats.sizeInBytes).max
    val targetBytes = BigInt(256L << 20)
    val raw = ((bytes + targetBytes - 1) / targetBytes).max(1)
    val capped = raw.min(BigInt(4096)).toInt
    math.max(8, Integer.highestOneBit(math.max(1, capped - 1)) * 2)
  }

  /** Register an ALREADY-written bucketed layout in the catalog
    * without rewriting it (bucket ids live in the file names, the
    * bucket SPEC lives in the catalog — a fresh session must re-declare
    * it). The spec passed here must match the one used at write time;
    * mismatched declarations would silently mis-bucket joins, so only
    * point this at directories produced by [[writeBucketed]]. */
  def registerBucketed(spark: org.apache.spark.sql.SparkSession,
                       tableName: String, path: String,
                       bucketCol: String, numBuckets: Int,
                       sortCols: Seq[String] = Nil): Unit = {
    val sorted = if (sortCols.nonEmpty) s"SORTED BY (${sortCols.mkString(", ")}) " else ""
    // bucketed CREATE TABLE requires an explicit column list — derive
    // it from the parquet footer (a metadata read, not a scan)
    val schemaDdl = spark.read.parquet(path).schema.toDDL
    spark.sql(
      s"""CREATE TABLE $tableName ($schemaDdl) USING parquet
         |CLUSTERED BY ($bucketCol) ${sorted}INTO $numBuckets BUCKETS
         |LOCATION '$path'""".stripMargin)
  }

  /** Compaction pass (the OPTIMIZE FINAL analog): rewrite one
    * partition directory into `numFiles` sorted files. */
  def compact(dfForPartition: DataFrame, path: String,
              orderBy: Seq[String], numFiles: Int = 1): Unit =
    dfForPartition
      .repartition(numFiles)
      .sortWithinPartitions(orderBy.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
}
