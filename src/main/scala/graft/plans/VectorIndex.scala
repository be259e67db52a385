package graft.plans

import scala.util.Try

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.LongType

/** ClickHouse 24.8+ `INDEX … TYPE vector_similarity('hnsw',
  * '<distance>')` — the modern CH ANN surface a migrating user pastes
  * — mapped onto this engine's stored-IVF layout
  * (`graft.operators.Similarity.ivfWrite` / `ivfTopKStored`):
  *
  *  - the DDL (in a CREATE TABLE body or `ALTER TABLE … ADD INDEX`)
  *    DECLARES the index: name, vector column, distance, recorded as
  *    an `index.<name>` entry of the table's [[TableRecord]];
  *  - `ALTER TABLE t MATERIALIZE INDEX n` BUILDS it: kmeans-fit
  *    centroids (nlist = autoNlist(count) ≈ √N, driver-side Lloyd on
  *    a bounded sample), the table landed cell-partitioned in a
  *    sibling directory `<table>__graft_vecidx_<n>/data` (the
  *    inverted file IS the storage layout), centers persisted, and a
  *    content fingerprint of the base data pinned — CH builds on
  *    merges; a recompute engine's explicit MATERIALIZE is the
  *    deterministic equivalent, and a stale fingerprint silently
  *    falls back to the exact scan (never stale/partial results);
  *  - the CH ANN probe shape `SELECT … FROM t ORDER BY
  *    cosineDistance(col, [q…]) LIMIT k` rewrites AT PARSE TIME onto
  *    the layout: nearest `nprobe` cells chosen driver-side from the
  *    persisted centers (O(nlist·dim), trivial), emitted as a
  *    `cell IN (…)` PARTITION filter over the sibling dir — pruning
  *    happens at the file index before a byte is read, and the
  *    original distance ORDER BY re-scores candidates exactly.
  *
  * Same approximation contract as ClickHouse's vector index: recall
  * is bought with the probe width (`spark.graft.vector.nprobe`,
  * default nlist/8) — rows whose cells are not probed are missed,
  * exactly as HNSW's ef dial misses. Non-mappable settings refuse at
  * DDL time: quantizations other than f32/f64 (use the q59
  * quantization operators and index the quantized column), and the
  * HNSW graph parameters (max_connections / candidate-list sizes)
  * which have no IVF analog — the recall dial here is nprobe.
  */
object VectorIndex {

  final case class Spec(name: String, column: String, distance: String,
                        nlist: Int, fingerprint: String) {
    def built: Boolean = nlist > 0
  }

  private val Distances = Set("cosineDistance", "L2Distance")

  /** `INDEX n col TYPE vector_similarity(args) [GRANULARITY g]` →
    * Some(name, column, distance); None when the entry is not a
    * vector_similarity index at all. Throws on non-mappable args —
    * at DDL time, not first probe. */
  def parseIndexEntry(entry: String): Option[(String, String, String)] = {
    val m = """(?is)^\s*INDEX\s+(`[^`]+`|[A-Za-z_]\w*)\s+(`[^`]+`|[A-Za-z_]\w*)\s+TYPE\s+vector_similarity\s*\(([^)]*)\)\s*(?:GRANULARITY\s+\d+)?\s*$""".r
      .findFirstMatchIn(entry).getOrElse(return None)
    val name = m.group(1).stripPrefix("`").stripSuffix("`")
    val col  = m.group(2).stripPrefix("`").stripSuffix("`")
    val args = m.group(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    def unq(s: String) = s.stripPrefix("'").stripSuffix("'")
    if (args.size < 2) throw new IllegalArgumentException(
      s"INDEX $name TYPE vector_similarity needs at least ('hnsw', '<distance>')")
    val method = unq(args(0))
    if (!method.equalsIgnoreCase("hnsw")) throw new UnsupportedOperationException(
      s"vector_similarity method '$method': ClickHouse defines 'hnsw'; this engine maps the " +
        "index onto a cell-partitioned IVF layout (same approximate-probe contract)")
    val distance = unq(args(1))
    if (!Distances.contains(distance)) throw new UnsupportedOperationException(
      s"vector_similarity distance '$distance': supported are ${Distances.mkString(", ")}")
    if (args.size >= 3) {
      val q = unq(args(2))
      if (!(q.equalsIgnoreCase("f32") || q.equalsIgnoreCase("f64") || q.equalsIgnoreCase("bf32")))
        throw new UnsupportedOperationException(
          s"vector_similarity quantization '$q' does not map to the IVF layout — store the " +
            "full-precision vectors here (f32/f64), or quantize explicitly with the " +
            "embedding-quantization operators (q59) and index that column")
    }
    if (args.size >= 4) throw new UnsupportedOperationException(
      "vector_similarity HNSW graph parameters (hnsw_max_connections / " +
        "hnsw_candidate_list_size_*) have no analog in the IVF layout — drop them; the " +
        "recall dial here is spark.graft.vector.nprobe")
    Some((name, col, distance))
  }

  // ------------------------------------------------------- record

  private[plans] def siblingPath(path: String, name: String): String =
    s"${path.stripSuffix("/")}__graft_vecidx_$name"

  /** An index's record entry: `index.<name>` → column, distance,
    * nlist (0 until built) and the base fingerprint it was built on. */
  private def entry(s: Spec): (String, String) =
    s"index.${s.name}" -> TableRecord.fields(Seq(s.column, s.distance, s.nlist.toString, s.fingerprint))

  def indexes(spark: SparkSession, path: String): Seq[Spec] =
    TableRecord.read(spark, path).toSeq.collect {
      case (k, v) if k.startsWith("index.") =>
        val Seq(column, distance, nlist, fp) = TableRecord.unfields(v)
        Spec(k.stripPrefix("index."), column, distance, nlist.toInt, fp)
    }

  def declare(spark: SparkSession, table: String, name: String, column: String,
              distance: String, ifNotExists: Boolean): Unit = {
    val info = ChCommands.resolve(spark, table)
    val existing = indexes(spark, info.path)
    if (existing.exists(_.name == name)) {
      if (ifNotExists) return
      throw new IllegalArgumentException(s"vector index '$name' already exists on $table")
    }
    val schema = spark.table(table).schema
    val f = schema.fields.find(_.name == column).getOrElse(
      throw new IllegalArgumentException(
        s"vector index '$name': column '$column' does not exist on $table"))
    f.dataType match {
      case org.apache.spark.sql.types.ArrayType(et, _)
        if et == org.apache.spark.sql.types.FloatType ||
           et == org.apache.spark.sql.types.DoubleType => ()
      case other => throw new IllegalArgumentException(
        s"vector index '$name': column '$column' must be Array(Float32/Float64), got ${other.sql}")
    }
    TableRecord.update(spark, info.path)(_ + entry(Spec(name, column, distance, 0, "")))
  }

  // ------------------------------------------------------ build

  private def centersPath(sib: String) = new org.apache.hadoop.fs.Path(sib, "_centers.txt")

  private[plans] def readCenters(spark: SparkSession, sib: String): Array[Array[Double]] = {
    val fs = ChCommands.fsOf(spark, sib)
    val is = fs.open(centersPath(sib))
    val text = try new String(is.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
               finally is.close()
    text.linesIterator.filter(_.nonEmpty)
      .map(_.split(",").map(_.toDouble)).toArray
  }

  def materialize(spark: SparkSession, table: String): Seq[(String, Long)] = {
    val info = ChCommands.resolve(spark, table)
    indexes(spark, info.path).map { s => (s.name, materializeOne(spark, table, s.name)) }
  }

  /** Build (or rebuild) one declared index; returns the row count. */
  def materializeOne(spark: SparkSession, table: String, name: String): Long = {
    import graft.operators.Similarity
    val info = ChCommands.resolve(spark, table)
    val spec = indexes(spark, info.path).find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"vector index '$name' does not exist on $table"))
    val df = ChCommands.readData(spark, table, info.path)
    val n = df.count()
    if (n == 0) throw new IllegalStateException(
      s"MATERIALIZE INDEX $name: $table is empty — insert rows first")
    val nlist = Similarity.autoNlist(n)
    val centers = Similarity.ivfFit(df, spec.column, nlist)
    val sib = siblingPath(info.path, name)
    Similarity.ivfWrite(df, spec.column, centers, s"$sib/data")
    val fs = ChCommands.fsOf(spark, sib)
    val os = fs.create(centersPath(sib), true)
    try os.write(centers.map(_.mkString(",")).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    val fp = ChCommands.contentFingerprint(spark, info.path)
    TableRecord.update(spark, info.path)(_ + entry(spec.copy(nlist = centers.length, fingerprint = fp)))
    n
  }

  def drop(spark: SparkSession, table: String, name: String, ifExists: Boolean): Unit = {
    val info = ChCommands.resolve(spark, table)
    if (!indexes(spark, info.path).exists(_.name == name)) {
      if (ifExists) return
      throw new IllegalArgumentException(s"vector index '$name' does not exist on $table")
    }
    val fs = ChCommands.fsOf(spark, info.path)
    fs.delete(new org.apache.hadoop.fs.Path(siblingPath(info.path, name)), true)
    TableRecord.update(spark, info.path)(_ - s"index.$name")
  }

  // ------------------------------------------------------ probe rewrite

  /** The CH ANN probe shape. The SELECT list must be explicit columns
    * (a bare `*` would surface the layout's `cell` column — such
    * queries fall through to the exact scan, which is always
    * correct). */
  private val ProbeShape =
    """(?is)^\s*SELECT\s+([^*]*?)\s+FROM\s+([A-Za-z_][\w.]*)\s+ORDER\s+BY\s+(cosineDistance|L2Distance)\s*\(\s*(`[^`]+`|[A-Za-z_]\w*)\s*,\s*(\[[^\[\]]+\])\s*\)\s*(?:ASC\s*)?LIMIT\s+(\d+)\s*;?\s*$""".r

  /** Rewrite `SELECT … FROM t ORDER BY <dist>(col, [q…]) LIMIT k`
    * onto the cell-pruned IVF layout when `t` carries a BUILT,
    * fingerprint-current vector index on `col` declared for that
    * distance. Anything else returns None — untouched SQL, exact
    * scan. Parse-time cell choice is planning (partition pruning),
    * not data: centers are static between MATERIALIZE INDEX runs. */
  def probeRewrite(sql: String): Option[String] = {
    val m = ProbeShape.findFirstMatchIn(sql).getOrElse(return None)
    val (sel, table, dist, col0, vecLit, k) =
      (m.group(1).trim, m.group(2), m.group(3), m.group(4), m.group(5), m.group(6))
    val col = col0.stripPrefix("`").stripSuffix("`")
    Try {
      val spark = org.apache.spark.sql.SparkSession.active
      val info = ChCommands.resolve(spark, table)
      val spec = indexes(spark, info.path)
        .find(s => s.column == col && s.distance == dist && s.built)
        .getOrElse(return None)
      // stale index (inserts/mutations since MATERIALIZE) → exact scan
      if (spec.fingerprint != ChCommands.contentFingerprint(spark, info.path)) return None
      val probe = vecLit.stripPrefix("[").stripSuffix("]")
        .split(",").map(_.trim.toDouble)
      val sib = siblingPath(info.path, spec.name)
      val centers = readCenters(spark, sib)
      if (centers.headOption.exists(_.length != probe.length)) return None
      val nprobe = Try(spark.conf.get("spark.graft.vector.nprobe").toInt)
        .getOrElse(math.max(1, math.round(centers.length / 8.0).toInt))
      val cells = graft.operators.Similarity.nearestCells(probe, centers,
        math.min(nprobe, centers.length))
      // the cell IN (…) conjunct is a PARTITION filter on the layout:
      // pruning happens at the file index; the original distance
      // ORDER BY then re-scores candidates exactly
      s"""SELECT $sel FROM (SELECT * FROM parquet.`$sib/data`
         |WHERE cell IN (${cells.mkString(", ")})) gr_vec_probe__
         |ORDER BY $dist($col0, $vecLit) LIMIT $k""".stripMargin
    }.toOption
  }
}

/** `ALTER TABLE t ADD INDEX [IF NOT EXISTS] n col TYPE
  * vector_similarity(…) [GRANULARITY g]` — declare (build on
  * MATERIALIZE INDEX). Skip-index types (minmax/set/bloom_filter)
  * refuse with the parquet-stats story. */
case class ChAddVectorIndexCommand(table: String, entry: String,
                                   ifNotExists: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    VectorIndex.parseIndexEntry(entry) match {
      case Some((name, col, dist)) =>
        VectorIndex.declare(spark, table, name, col, dist, ifNotExists)
      case None => throw new UnsupportedOperationException(
        "ALTER TABLE … ADD INDEX: only TYPE vector_similarity executes here — skip indexes " +
          "(minmax/set/bloom_filter) have no analog because parquet row-group statistics " +
          "already serve that role on every scan")
    }
    Seq.empty
  }
}

/** `ALTER TABLE t MATERIALIZE INDEX n` — build/rebuild the IVF layout
  * and re-pin the base fingerprint. */
case class ChMaterializeVectorIndexCommand(table: String, name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("rows_indexed", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(VectorIndex.materializeOne(spark, table, name)))
}

/** `ALTER TABLE t DROP INDEX [IF EXISTS] n`. */
case class ChDropVectorIndexCommand(table: String, name: String,
                                    ifExists: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    VectorIndex.drop(spark, table, name, ifExists)
    Seq.empty
  }
}

/** `DROP TABLE [IF EXISTS] t` for a table that carries sibling
  * layout directories (`__graft_proj_*` projections,
  * `__graft_vecidx_*` vector indexes) — round 19: the native drop
  * removes the table location but would ORPHAN the siblings on disk.
  * The parser only routes here when a parse-time probe saw siblings;
  * everything else (temp views, plain tables, missing names) keeps
  * Spark's native DROP TABLE untouched. */
case class ChDropTableWithSiblingsCommand(table: String,
                                          ifExists: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    // resolve BEFORE the drop erases the catalog entry; a table
    // dropped between parse and execution degrades to the native
    // contract (IF EXISTS no-op / loud error)
    val loc = try Some(ChCommands.resolve(spark, table).path)
              catch { case _: Exception => None }
    if (!(try spark.catalog.tableExists(table) catch { case _: Exception => false })) {
      if (ifExists) return Seq.empty
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "TABLE_OR_VIEW_NOT_FOUND",
        messageParameters = Map("relationName" -> s"`$table`"))
    }
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    spark.sessionState.catalog.dropTable(ident, ignoreIfNotExists = ifExists, purge = false)
    loc.foreach { lp =>
      val p = new org.apache.hadoop.fs.Path(lp)
      val fs = ChCommands.fsOf(spark, lp)
      val sibs = fs.globStatus(
        new org.apache.hadoop.fs.Path(p.getParent, p.getName + "__graft_*"))
      if (sibs != null) sibs.foreach(st => fs.delete(st.getPath, true))
      ChCommands.invalidateProjectionCache(lp)
    }
    Seq.empty
  }
}
