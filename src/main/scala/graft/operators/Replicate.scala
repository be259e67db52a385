package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch replication / CDC-apply operators — the Spark-first analog of
  * the reference's ClickPipe modes (SNAPSHOT / CDC / CDC_ONLY, see
  * /root/reference/src/tools/data_migrator.py:14-27) and of the
  * ClickHouse table engines their targets use:
  *
  *  - snapshot        ≈ one-shot table copy with column mapping
  *  - latestByKey     ≈ ReplacingMergeTree FINAL (latest version wins)
  *  - applyCdc        ≈ ReplacingMergeTree + delete tombstones
  *  - scd2            ≈ slowly-changing-dimension materialization
  *
  * Scale notes: latestByKey/applyCdc are spelled as a `row_number() = 1`
  * window, which [[graft.plans.TopKRewrite]] plans as an aggregate on
  * the key: a flat codegen'd hash aggregate when every column is
  * fixed-width (map-side partial aggregation, at most one row per key
  * per task shuffled, nothing sorted), else the bounded-heap
  * ObjectHashAggregate. Either way it is one shuffle on the key, where
  * a self-join on max(version) needs two; AQE handles key skew. When
  * the key holds every partition column of a partitioned file table
  * (ReplacingMergeTree never merges across partitions, so a FINAL key
  * does), [[graft.plans.PartitionWiseAggregate]] reads whole partition
  * directories per task and there is no shuffle at all. With
  * the rewrite off it is a key-partitioned window that sorts its
  * input. scd2 reuses the same partitioning for both windows, so
  * Catalyst plans a single Exchange.
  */
object Replicate {

  /** Snapshot replication: projection/rename/cast mapping, the moral
    * equivalent of ClickPipe tableMappings. */
  def snapshot(df: DataFrame, mapping: Seq[(String, Column)]): DataFrame =
    df.select(mapping.map { case (name, c) => c.as(name) }: _*)

  /** Incremental batch pull (the CDC_ONLY mode run on a schedule
    * instead of a stream): rows strictly newer than the last high
    * watermark, plus the new watermark to persist for the next pull.
    * The predicate pushes down to the source scan (parquet row-group
    * stats or JDBC WHERE), so each pull reads O(new data). */
  def incrementalPull(df: DataFrame, watermarkCol: String,
                      lastWatermark: Option[Column]): (DataFrame, Column) = {
    val pulled = lastWatermark.fold(df)(w => df.where(col(watermarkCol) > w))
    (pulled, max(col(watermarkCol)))
  }

  /** Re-materialize an imported materialized view by replaying its
    * defining SELECT against the (already-imported) RAW table and
    * atomically overwriting the MV target — the executable form of
    * the q35b migration guidance. ClickHouse's binary
    * AggregateFunction(uniq, …) states are an engine-internal format
    * with no published stability contract, so foreign blobs copied
    * from a live CH AggregatingMergeTree CANNOT be merged here (they
    * fail loudly); after one rematerialize, every state in the target
    * was written by THIS engine's uniqState and all merges work.
    * count/sum/min/max/avg states are plain values/structs and never
    * need this. `mvSelect` is the MV's defining SELECT (CH dialect
    * accepted — `SELECT …, uniqState(x) FROM imported_raw GROUP BY …`);
    * the rebuild is one aggregation over the raw table, the same cost
    * a CH `POPULATE` pays on creation. Columns map by NAME (CH
    * TO-table MVs map by name, so a defining SELECT whose column
    * order differs from the target is realistic and must not write
    * values into the wrong columns); the rebuild runs fully before
    * the overwrite commits, but the swap itself is only as atomic as
    * the table's committer — rebuild into a staging table first if
    * the target must stay readable throughout. */
  def rematerializeMv(spark: org.apache.spark.sql.SparkSession,
                      mvTarget: String, mvSelect: String): Unit = {
    val rebuilt = spark.sql(mvSelect)
    val targetCols = spark.table(mvTarget).columns.toSeq
    val missing = targetCols.filterNot(rebuilt.columns.contains)
    require(missing.isEmpty,
      s"MV SELECT is missing target column(s) of $mvTarget: ${missing.mkString(", ")}")
    rebuilt.select(targetCols.map(col): _*)
      .write.mode("overwrite").insertInto(mvTarget)
  }

  /** Latest row per key by a total version ordering (ReplacingMergeTree
    * FINAL semantics). `orderCols` must be a deterministic total order
    * within each key (include a unique id as tiebreak). Plans as the
    * per-key aggregate described in the header. */
  def latestByKey(df: DataFrame, keyCols: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** CDC apply with tombstones: latest row wins, and a key whose latest
    * operation is a delete disappears from the materialized state. */
  def applyCdc(df: DataFrame, keyCols: Seq[String], orderCols: Seq[Column], isDelete: Column): DataFrame =
    latestByKey(df.withColumn("__del", isDelete), keyCols, orderCols)
      .where(!col("__del")).drop("__del")

  /** Register a ReplacingMergeTree-style table as TWO temp views: the
    * raw versioned rows under `name`, and the latest-row-per-key
    * collapse under `name_final` — the convention
    * [[graft.plans.ChSqlParser]]'s `FROM table FINAL` rewrite targets,
    * so migrated ClickHouse SQL that reads `FINAL` runs verbatim. */
  def registerWithFinal(df: DataFrame, name: String,
                        keyCols: Seq[String], orderCols: Seq[Column]): Unit = {
    df.createOrReplaceTempView(name)
    latestByKey(df, keyCols, orderCols).createOrReplaceTempView(s"${name}_final")
  }

  /** CollapsingMergeTree(sign) FINAL: +1 (state) and -1 (cancel) rows
    * cancel out per key; a key survives only while its net sign is
    * positive, and its surviving row is the latest +1 row by
    * `orderCols`. One shuffle with full partial aggregation: the net
    * and the survivor are computed in a single groupBy (`max_by` whose
    * ordering key is nulled on cancel rows, so only +1 rows compete) —
    * the window + self-join spelling would cost two shuffles. */
  def collapse(df: DataFrame, keyCols: Seq[String], sign: Column, orderCols: Seq[Column]): DataFrame = {
    val payloadCols = df.columns.filterNot(keyCols.contains).toSeq
    val payload = struct(payloadCols.map(col): _*)
    df.groupBy(keyCols.map(col): _*)
      .agg(sum(sign).cast("long").as("net"),
           max_by(payload, when(sign > 0, struct(orderCols: _*))).as("__last"))
      .where(col("net") > 0)
      .select(keyCols.map(col) ++ payloadCols.map(c => col(s"__last.`$c`").as(c)) :+ col("net"): _*)
  }

  /** VersionedCollapsingMergeTree FINAL: rows carry (version, sign);
    * a state (+1) is cancelled by a −1 with the SAME version, and the
    * surviving state with the HIGHEST version wins per key. TWO
    * partial-aggregated shuffles — (key, version) net+survivor, then
    * key-level argmax — both map-side combined; no window sort, no
    * self-join. Returns the winning state row per key (keys with
    * every version cancelled disappear, like FINAL). */
  def collapseVersioned(df: DataFrame, keyCols: Seq[String], version: Column, sign: Column): DataFrame = {
    val payloadCols = df.columns.filterNot(keyCols.contains).toSeq
    val payload = struct(payloadCols.map(col): _*)
    val perVersion = df.groupBy(keyCols.map(col) :+ version.as("__v"): _*)
      .agg(sum(sign).cast("long").as("__net"),
           max_by(payload, when(sign > 0, lit(1))).as("__state"))
      .where(col("__net") > 0)
    perVersion.groupBy(keyCols.map(col): _*)
      .agg(max_by(col("__state"), col("__v")).as("__last"), max(col("__v")).as("__last_v"))
      .select(keyCols.map(col) ++ payloadCols.map(c => col(s"__last.`$c`").as(c)): _*)
  }

  /** SummingMergeTree FINAL: one row per sorting key with the numeric
    * `sumCols` summed and every remaining payload column taking the
    * group MINIMUM — ClickHouse keeps "any of the rows'" value there;
    * min makes it deterministic (the same choice anyLeft makes). One
    * partial-aggregated shuffle, map-side combined; original column
    * order preserved so the collapsed frame is a drop-in for the raw
    * table. */
  def collapseSumming(df: DataFrame, keyCols: Seq[String], sumCols: Seq[String]): DataFrame = {
    val otherCols = df.columns.filterNot(c => keyCols.contains(c) || sumCols.contains(c)).toSeq
      .filterNot(keyCols.contains)
    val aggs = sumCols.map(c => sum(col(c)).as(c)) ++ otherCols.map(c => min(col(c)).as(c))
    df.groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(df.columns.toSeq.map(col): _*)
  }

  /** SCD-2 materialization: collapse consecutive identical values of
    * `attr` per key into validity intervals [valid_from, valid_to). */
  def scd2(df: DataFrame, keyCols: Seq[String], tsCol: Column, tiebreak: Column, attr: Column): DataFrame = {
    val part = keyCols.map(col)
    val wOrd = Window.partitionBy(part: _*).orderBy(tsCol, tiebreak)
    val changes = df
      .withColumn("__attr", attr)
      .withColumn("__prev", lag(attr, 1).over(wOrd))
      .where(col("__prev").isNull || col("__prev") =!= col("__attr"))
    changes
      .withColumn("valid_from", tsCol)
      .withColumn("valid_to", lead(tsCol, 1).over(wOrd))
      .select((part :+ col("__attr").as("attr_value") :+ col("valid_from") :+ col("valid_to")): _*)
  }
}
