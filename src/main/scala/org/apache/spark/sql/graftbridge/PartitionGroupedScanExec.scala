package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, FileSourceConstantMetadataAttribute,
  UnsafeProjection, Unevaluable}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning,
  RangeShuffleSpec, ShuffleSpec}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.{FileSourceScanExec, LeafExecNode, PartitionedFileUtil, SQLExecution,
  SparkPlan}
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, DataSourceUtils, FileFormat,
  FilePartition, FileScanRDD, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch

/** A file scan whose every task reads whole partition directories, the
  * leaf of `graft.plans.PartitionWiseAggregate`'s plans.
  *
  * It replaces `scan` and builds its own `FileScanRDD` over the scan's
  * listing, with the reader the scan builds
  * (`buildReaderWithPartitionValues` with the same schemas, pushed
  * filters and options, the vectorized path included). It reports
  * through the scan's SQL metrics, so `system.query_log` counts the rows
  * and bytes the plain scan would. Directories with equal partition
  * values (`p=1` and `p=01`) are one group. Groups are packed, largest
  * first, into tasks of at most `FilePartition.maxSplitBytes`, each file
  * also costing `spark.sql.files.openCostInBytes`, as Spark packs files;
  * a group is never split.
  */
case class PartitionGroupedScanExec(scan: FileSourceScanExec) extends LeafExecNode {

  override def output: Seq[Attribute] = scan.output
  override lazy val metrics = scan.metrics
  override def supportsColumnar: Boolean = scan.supportsColumnar
  override def vectorTypes: Option[Seq[String]] = scan.vectorTypes
  override def nodeName: String = "PartitionGroupedScan"
  override def simpleString(maxFields: Int): String =
    s"$nodeName ${tasks.length} tasks, ${scan.simpleString(maxFields)}"

  private def relation = scan.relation

  /** The selected files, one entry per distinct partition value. */
  @transient private lazy val directories: Seq[(InternalRow, Seq[PartitionedFile])] =
    scan.selectedPartitions.filePartitionIterator.toSeq
      .map(d => d.values.copy() -> d.files.map(f =>
        PartitionedFileUtil.getPartitionedFile(f, f.getPath, d.values, 0, f.getLen)).toSeq)
      .groupMapReduce(_._1)(_._2)(_ ++ _).toSeq

  /** Bytes of the largest directory group. */
  def largestDirectoryBytes: Long = directories.map(_._2.map(_.length).sum).maxOption.getOrElse(0L)

  @transient lazy val tasks: Seq[FilePartition] = {
    val session = relation.sparkSession
    val openCost = session.sessionState.conf.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(session, scan.selectedPartitions)
    def cost(files: Seq[PartitionedFile]) = files.map(_.length + openCost).sum
    val packed = Seq.newBuilder[Seq[PartitionedFile]]
    var open = Vector.empty[PartitionedFile]
    for ((_, files) <- directories.sortBy(d => -cost(d._2))) {
      if (open.nonEmpty && cost(open) + cost(files) > maxSplit) { packed += open; open = Vector.empty }
      open ++= files
    }
    if (open.nonEmpty) packed += open
    packed.result().zipWithIndex.map { case (files, i) => FilePartition(i, files.toArray) }
  }

  override lazy val outputPartitioning: Partitioning = PartitionDirectories(
    scan.output.filter(a => relation.partitionSchema.exists(f => conf.resolver(f.name, a.name))),
    tasks.map(_.files.map(_.partitionValues).distinct.toSeq))

  @transient private lazy val inputRDD: RDD[InternalRow] = {
    val session = relation.sparkSession
    // the filters FileSourceScanLike.pushedDownFilters pushes; the scan
    // holds no subquery here, so there is no scalar subquery to fold
    val pushed = scan.dataFilters.filterNot(_.references.exists {
      case FileSourceConstantMetadataAttribute(_) => true
      case _ => false
    }).flatMap(DataSourceStrategy.translateFilter(_,
      DataSourceUtils.supportNestedPredicatePushdown(relation)))
    val readFile = relation.fileFormat.buildReaderWithPartitionValues(session,
      relation.dataSchema, relation.partitionSchema, scan.requiredSchema, pushed,
      relation.options + (FileFormat.OPTION_RETURNING_BATCH -> supportsColumnar.toString),
      scan.getHadoopConf(session, relation.options))
    val rdd = new FileScanRDD(session, readFile, tasks,
      new StructType(scan.requiredSchema.fields ++ relation.partitionSchema.fields),
      scan.fileConstantMetadataColumns, relation.fileFormat.fileConstantMetadataExtractors,
      new FileSourceOptions(CaseInsensitiveMap(relation.options)))
    // The scan listed its files at planning, and the reset before
    // execution zeroed what the listing recorded: record it again.
    val listing = scan.selectedPartitions
    val listed = Map("numFiles" -> listing.totalNumberOfFiles, "filesSize" -> listing.totalFileSize,
      "numPartitions" -> listing.partitionCount.toLong)
    for ((k, v) <- listed; m <- scan.driverMetrics.get(k)) m.set(v)
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), scan.driverMetrics.values.toSeq)
    rdd
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    // the vectorized parquet reader hands out rows that are not unsafe
    val toUnsafe = relation.fileFormat.isInstanceOf[ParquetFileFormat] &&
      conf.parquetVectorizedReaderEnabled
    val outSchema = schema
    inputRDD.mapPartitionsWithIndexInternal { (index, rows) =>
      val proj = if (!toUnsafe) None else {
        val p = UnsafeProjection.create(outSchema)
        p.initialize(index)
        Some(p)
      }
      rows.map { r => numOutputRows += 1; proj.fold(r)(_(r)) }
    }
  }

  override protected def doExecuteColumnar(): RDD[ColumnarBatch] = {
    val numOutputRows = longMetric("numOutputRows")
    val scanTime = longMetric("scanTime")
    inputRDD.asInstanceOf[RDD[ColumnarBatch]].mapPartitionsInternal { batches =>
      new Iterator[ColumnarBatch] {
        // the reader reads the file during hasNext
        override def hasNext: Boolean = {
          val t0 = System.nanoTime()
          val more = batches.hasNext
          scanTime += (System.nanoTime() - t0) / 1000000
          more
        }
        override def next(): ColumnarBatch = {
          val b = batches.next()
          numOutputRows += b.numRows()
          b
        }
      }
    }
  }

  override def doCanonicalize(): SparkPlan =
    PartitionGroupedScanExec(scan.canonicalized.asInstanceOf[FileSourceScanExec])
}

/** The partitioning of a [[PartitionGroupedScanExec]]: rows with equal
  * values of `expressions` (the partition columns) are in one task, and
  * `tasks` lists the partition values each task holds.
  *
  * It satisfies a `ClusteredDistribution` whose keys include every
  * partition column, as `HashPartitioning` would. Its shuffle spec is
  * compatible with no other partitioning and creates none, so
  * `EnsureRequirements` still shuffles both sides of a join above it.
  * Two are equal only when they put the same values in the same tasks,
  * which is when a union may keep the partitioning.
  */
case class PartitionDirectories(expressions: Seq[Expression], tasks: Seq[Seq[InternalRow]])
    extends Expression with Partitioning with Unevaluable {

  override val numPartitions: Int = tasks.length
  override def children: Seq[Expression] = expressions
  override def nullable: Boolean = false
  override def dataType: DataType = IntegerType
  override def stringArgs: Iterator[Any] = Iterator(expressions, numPartitions)

  override protected def satisfies0(required: Distribution): Boolean =
    super.satisfies0(required) || (required match {
      case c @ ClusteredDistribution(keys, requireAllClusterKeys, _) =>
        if (requireAllClusterKeys) c.areAllClusterKeysMatched(expressions)
        else expressions.forall(e => keys.exists(_.semanticEquals(e)))
      case _ => false
    })

  override def createShuffleSpec(distribution: ClusteredDistribution): ShuffleSpec =
    RangeShuffleSpec(numPartitions, distribution)

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): PartitionDirectories =
    copy(expressions = c)
}
