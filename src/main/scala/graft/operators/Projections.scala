package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ClickHouse (MergeTree) projections: alternate physical layouts of
  * the same table — a different ORDER BY, or a pre-aggregation —
  * maintained next to the base data, with queries routed to whichever
  * layout serves them cheapest.
  *
  * Spark-first mapping: each layout is a parquet directory under the
  * table root. A sort projection is the same rows range-partitioned +
  * sorted on its own keys, so parquet row-group min/max stats prune
  * decode work for selective predicates on those keys (the same
  * mechanism MergeTree's sparse primary index exploits). An aggregate
  * projection stores PARTIAL states (count/sum/min/max — all
  * re-aggregable), so a matching GROUP BY reads rows proportional to
  * group count, not fact count. A `_projections.txt` manifest makes
  * the root self-describing; [[route]] picks the layout from the
  * query's filter/groupBy shape — ClickHouse's optimizer choice,
  * surfaced as an explicit, auditable call.
  *
  * At 100 TB: projections multiply storage, not shuffle — each layout
  * is written once with one range-exchange (or one map-side-combined
  * aggregation), and every routed query afterwards saves the full
  * scan it would otherwise pay. Bucket/file counts are the
  * parallelism knob, as in MergeTreeWrite.
  */
object Projections {

  // Manifest IO goes through the Hadoop FileSystem resolved from the
  // path URI (as Mutate.ttl does), so non-local roots (hdfs://, s3a://)
  // work — java.nio would silently assume the local filesystem.
  private def fsFor(spark: SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  private def manifestPath(path: String) = new org.apache.hadoop.fs.Path(path, "_projections.txt")

  sealed trait Spec { def name: String; def keys: Seq[String] }
  /** Same rows, alternate ORDER BY. `cols` non-empty stores only that
    * COLUMN SUBSET (keys must be included) — at 100 TB the subset is
    * what makes a second sort order affordable: a few hot columns
    * instead of a full table copy. [[route]] then serves a query from
    * it only when the query's needed columns fit the subset. */
  final case class Sort(name: String, keys: Seq[String], cols: Seq[String] = Nil) extends Spec {
    require(cols.isEmpty || keys.forall(cols.contains),
      s"sort projection '$name': ORDER BY keys must be among the stored columns")
  }
  /** Pre-aggregation: `states` are (stateCol, func, srcCol) with func
    * one of count|sum|min|max (count ignores srcCol). */
  final case class Agg(name: String, keys: Seq[String], states: Seq[(String, String, String)]) extends Spec

  private def stateCol(func: String, src: String) = func match {
    case "count" => count(lit(1))
    case "sum"   => sum(col(src))
    case "min"   => min(col(src))
    case "max"   => max(col(src))
    case other   => throw new IllegalArgumentException(s"unsupported projection state: $other")
  }

  /** How a partial state merges on read: counts add, sums add,
    * min/max idempotently recombine. */
  private def mergeCol(func: String, c: String) = func match {
    case "count" | "sum" => sum(col(c))
    case "min"           => min(col(c))
    case "max"           => max(col(c))
    case other           => throw new IllegalArgumentException(s"unsupported projection state: $other")
  }

  /** Land every projection layout and the manifest. `externalBase`
    * set (the 100 TB shape, and ClickHouse's actual semantics —
    * projections live BESIDE the table inside its parts; the base is
    * never copied) records the source directory as the base layout:
    * [[route]]'s fallback then reads the table itself and only the
    * projections cost storage (the round-13 sf100 disk crash was
    * exactly the base copy: 18 GB re-landed for zero routing value —
    * nothing prunes on the fallback layout). `externalBase` empty
    * lands a self-contained base copy range-sorted on `baseOrder`.
    * One range-exchange per sort layout; one aggregation per agg
    * layout. `filesPerLayout` bounds file count (≈ row-group count),
    * i.e. the pruning granularity. */
  def write(df: DataFrame, path: String, baseOrder: Seq[String],
            projections: Seq[Spec], filesPerLayout: Int = 8,
            externalBase: Option[String] = None): Unit = {
    // Partition count per sort layout: `filesPerLayout` is the FLOOR
    // (pruning granularity / cluster parallelism), but the build must
    // also bound the per-task sort slice — a fixed count is a hidden
    // scale dial (guide §5): at the sf100 rehearsal 32 range
    // partitions over an 18 GB-source layout put ~0.5-1 GB of
    // deserialized rows in each sort task and the build spilled 29 GB.
    // The shared sizing rule scales the count with the source bytes.
    def layoutPartitions(in: DataFrame): Int =
      math.max(filesPerLayout, graft.sources.MergeTreeWrite.sourceBytesAndTasks(in)._2)
    def sorted(in: DataFrame, keys: Seq[String]) =
      in.repartitionByRange(layoutPartitions(in), keys.map(col): _*)
        .sortWithinPartitions(keys.map(col): _*)
    // zstd layouts (guide §6): the build is write-I/O-bound and every
    // routed query afterwards reads these files — smaller both ways.
    if (externalBase.isEmpty)
      sorted(df, baseOrder).write.mode("overwrite").option("compression", "zstd")
        .parquet(s"$path/base")
    projections.foreach {
      case Sort(name, keys, cols) =>
        val stored = if (cols.isEmpty) df else df.select(cols.map(col): _*)
        sorted(stored, keys).write.mode("overwrite").option("compression", "zstd")
          .parquet(s"$path/$name")
      case Agg(name, keys, states) =>
        val aggs = states.map { case (c, f, src) => stateCol(f, src).as(c) }
        df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
          .write.mode("overwrite").option("compression", "zstd")
          .parquet(s"$path/$name")
    }
    // 5th field (when present) = a sort layout's stored column subset;
    // 6th = an external data path (base-as-the-table, never copied)
    val baseLine = s"base|sort|${baseOrder.mkString(",")}|" +
      externalBase.map(src => s"||$src").getOrElse("")
    val manifest = (Seq(baseLine) ++ projections.map {
      case Sort(name, keys, cols) =>
        s"$name|sort|${keys.mkString(",")}|" + (if (cols.nonEmpty) s"|${cols.mkString(",")}" else "")
      case Agg(name, keys, states) =>
        s"$name|agg|${keys.mkString(",")}|${states.map { case (c, f, s) => s"$c:$f:$s" }.mkString(",")}"
    }).mkString("\n")
    val out = fsFor(df.sparkSession, path).create(manifestPath(path), true)
    try out.write(manifest.getBytes("UTF-8")) finally out.close()
  }

  /** Modification time of the layout's manifest, if it exists — lets a
    * caller invalidate a cached layout when the source data is newer
    * (see the q99 registry entry). */
  def manifestMTime(spark: SparkSession, path: String): Option[Long] = {
    val fs = fsFor(spark, path)
    val p  = manifestPath(path)
    if (fs.exists(p)) Some(fs.getFileStatus(p).getModificationTime) else None
  }

  /** One manifest line: name, kind, keys, agg states, a sort layout's
    * stored column subset (empty = full row), and the layout's data
    * directory (the external base path when present, else a child of
    * the layout root). */
  private final case class Layout(name: String, kind: String, keys: Seq[String],
      states: Seq[(String, String, String)], cols: Seq[String], dataPath: String)

  private def manifest(spark: SparkSession, path: String): Seq[Layout] = {
    val in = fsFor(spark, path).open(manifestPath(path))
    val text = try {
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 4096, false)
      new String(bos.toByteArray, "UTF-8")
    } finally in.close()
    text
      .split("\n").toSeq.filter(_.nonEmpty).map { line =>
        // 4 fields = full-row layout; a 5th lists a sort layout's
        // stored column subset; a 6th points at external data
        val parts = line.split("\\|", -1)
        val Array(name, kind, keys, states) = parts.take(4)
        val cols = if (parts.length >= 5) parts(4).split(",").toSeq.filter(_.nonEmpty) else Nil
        val external = if (parts.length >= 6) parts(5).trim else ""
        val st = states.split(",").toSeq.filter(_.nonEmpty).map { s =>
          val Array(c, f, src) = s.split(":", -1); (c, f, src)
        }
        Layout(name, kind, keys.split(",").toSeq.filter(_.nonEmpty), st, cols,
          if (external.nonEmpty) external else s"$path/$name")
      }
  }

  /** Pick the cheapest layout for a query shape: an aggregate
    * projection whose keys equal the GROUP BY set wins (rows ∝
    * groups), else a sort layout whose leading key carries a
    * selective filter (row-group pruning) — smallest covering
    * column-subset layout first, full-row next — else base.
    * `neededCols` is every column the query reads; leave it empty to
    * mean "all of them" (subset layouts are then skipped). Returns
    * the layout's DataFrame and its name (for plan audits). */
  def route(spark: SparkSession, path: String,
            filterCols: Set[String] = Set.empty,
            groupByCols: Seq[String] = Nil,
            neededCols: Set[String] = Set.empty): (DataFrame, String) = {
    val specs = manifest(spark, path)
    val aggHit = specs.find(sp =>
      sp.kind == "agg" && groupByCols.nonEmpty && sp.keys.toSet == groupByCols.toSet)
    val sortHits = specs.filter(sp =>
      sp.kind == "sort" && sp.name != "base" && sp.keys.headOption.exists(filterCols.contains) &&
        (sp.cols.isEmpty || (neededCols.nonEmpty && neededCols.subsetOf(sp.cols.toSet))))
    val sortHit = sortHits.sortBy(sp =>
      if (sp.cols.isEmpty) Int.MaxValue else sp.cols.size // fewest stored columns first
    ).headOption
    val hit = aggHit.orElse(sortHit)
      .orElse(specs.find(_.name == "base"))
      .getOrElse(throw new IllegalStateException(s"no base layout in $path"))
    (spark.read.parquet(hit.dataPath), hit.name)
  }

  /** Finish an aggregate-projection read: merge the partial states
    * down to final values (counts/sums add across state rows, min/max
    * recombine). The manifest supplies the merge functions. */
  def mergeAgg(spark: SparkSession, path: String, name: String): DataFrame = {
    val sp = manifest(spark, path).find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"unknown projection $name"))
    val df = spark.read.parquet(sp.dataPath)
    val aggs = sp.states.map { case (c, f, _) => mergeCol(f, c).as(c) }
    df.groupBy(sp.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}
