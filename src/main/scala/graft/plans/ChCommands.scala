package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{coalesce, col, expr, lit, sum, when}
import org.apache.spark.sql.types.LongType

/** Executable ClickHouse maintenance DDL — the statements a migrated
  * application issues verbatim after a ClickPipe cutover (reference
  * context: /root/reference/src/prompts/scanner.py models exactly this
  * post-migration SQL surface):
  *
  *   ALTER TABLE t DELETE WHERE …          → [[graft.operators.Mutate.delete]]
  *   ALTER TABLE t UPDATE c = e, … WHERE … → [[graft.operators.Mutate.update]]
  *   OPTIMIZE TABLE t [FINAL] [DEDUPLICATE [BY c, …]] → compaction pass
  *
  * Each is a [[LeafRunnableCommand]]: `spark.sql(…)` executes it
  * eagerly (Spark's command semantics, same as ClickHouse mutations
  * with `mutations_sync = 2`) and returns a small report relation.
  * The storage work is the partition-pruned copy-on-write path —
  * untouched partitions stay byte-identical on disk, so at 100 TB a
  * one-month GDPR delete rewrites one month.
  *
  * Tables resolve through the session catalog (the CH `CREATE TABLE …
  * ENGINE = MergeTree` front-end lands there as parquet tables); the
  * catalog's partition registry is re-synced after the rewrite so
  * dropped/changed partitions are visible to subsequent reads.
  */
object ChCommands {

  private[plans] case class TableInfo(path: String, partCols: Seq[String], isCatalogTable: Boolean)

  private[plans] def resolve(spark: SparkSession, table: String): TableInfo = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    TableInfo(meta.location.toString, meta.partitionColumnNames, isCatalogTable = true)
  }

  /** A catalog table's rows for a data rewrite: the raw path read
    * with the CATALOG's schema passed explicitly — the catalog is
    * authoritative for the shape (every ALTER maintains it), the raw
    * path is authoritative for the bytes (these commands also run
    * against just-swapped directories the catalog data cache may not
    * reflect yet), and an explicit schema skips the per-command
    * footer-inference job AND makes a freshly-created EMPTY table
    * read as zero rows instead of throwing (CREATE → ALTER → INSERT
    * is the mainline migrated-DDL sequence). */
  private[plans] def readData(spark: SparkSession, table: String, path: String): org.apache.spark.sql.DataFrame =
    try spark.read.schema(spark.table(table).schema).parquet(path)
    catch { case _: org.apache.spark.sql.AnalysisException => spark.table(table) }

  private[plans] def ttlPredicateSql(ttl: String, whereCond: Option[String]): String =
    whereCond match {
      case Some(c) => s"(($ttl) <= current_timestamp()) AND ($c)"
      case None    => s"($ttl) <= current_timestamp()"
    }

  /** The TTL rule's keys in the [[TableRecord]]: the expiry
    * expression, its WHERE scope, and a GROUP BY rollup's keys and
    * SET (column, aggregate) pairs. */
  private[plans] val TtlKeys = Seq("ttl", "ttl_where", "ttl_group_by", "ttl_set")

  private[plans] def ttlEntries(ttl: String, whereCond: Option[String],
      keys: Seq[String], sets: Seq[(String, String)]): Seq[(String, String)] =
    Seq("ttl" -> ttl) ++ whereCond.map("ttl_where" -> _) ++
      Seq("ttl_group_by" -> TableRecord.fields(keys),
        "ttl_set" -> TableRecord.fields(sets.flatMap { case (c, e) => Seq(c, e) }))
        .filter(_._2.nonEmpty)

  private[plans] def ttlRule(record: TableRecord.Record)
      : Option[(String, Option[String], Seq[String], Seq[(String, String)])] =
    record.get("ttl").map { ttl =>
      val sets = TableRecord.unfields(record.getOrElse("ttl_set", "")).grouped(2)
        .map { case Seq(c, e) => (c, e) }.toSeq
      (ttl, record.get("ttl_where"), TableRecord.unfields(record.getOrElse("ttl_group_by", "")), sets)
    }

  /** The TTL GROUP BY rollup of `expired`: one row per group — SET
    * columns by their declared aggregates, every other non-key column
    * by `min` (the deterministic stand-in for ClickHouse's implicit
    * `any`). Partition columns auto-join the grouping so a collapse
    * never crosses partitions — the same boundary ClickHouse's
    * per-part TTL GROUP BY application has. */
  private[plans] def ttlRollup(expired: org.apache.spark.sql.DataFrame, keys: Seq[String],
      sets: Seq[(String, String)], partCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    val gk = (partCols ++ keys).distinct
    val setCols = sets.map(_._1)
    for (c <- setCols if gk.contains(c))
      throw new IllegalArgumentException(s"TTL SET column '$c' is a grouping key")
    val others = expired.columns.filterNot(c => gk.contains(c) || setCols.contains(c))
    val aggs = sets.map { case (c, e) => expr(e).as(c) } ++
      others.map(c => org.apache.spark.sql.functions.min(col(c)).as(c))
    if (aggs.isEmpty) throw new IllegalArgumentException(
      "TTL GROUP BY needs at least one non-key column to aggregate")
    expired.groupBy(gk.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Resolve a `<verb> PARTITION <literal>` target: the table's single
    * partition column + the literal cast to its type (external form). */
  private[plans] def partitionTarget(spark: SparkSession, table: String, info: TableInfo,
      valueSql: String, verb: String): (String, Any) = {
    val p = info.partCols match {
      case Seq(one) => one
      case Seq() => throw new UnsupportedOperationException(
        s"$table is unpartitioned — $verb PARTITION needs a partitioned layout")
      case many => throw new UnsupportedOperationException(
        s"$verb PARTITION on a ${many.size}-level partitioned table: use graft.operators.Mutate")
    }
    val dt = spark.table(table).schema(p).dataType
    val lit = spark.sessionState.sqlParser.parseExpression(valueSql)
    if (!lit.foldable) throw new IllegalArgumentException(
      s"$verb PARTITION takes a literal partition value, got: $valueSql")
    val cast = org.apache.spark.sql.catalyst.expressions.Cast(
      lit, dt, Option(spark.sessionState.conf.sessionLocalTimeZone))
    val external = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .convertToScala(cast.eval(null), dt)
    (p, external)
  }

  /** Partition registry + data cache re-sync after files changed
    * underneath a catalog table. */
  private[plans] def resync(spark: SparkSession, table: String, partitioned: Boolean): Unit = {
    if (partitioned) spark.sql(s"MSCK REPAIR TABLE $table SYNC PARTITIONS")
    spark.catalog.refreshTable(table)
  }

  private[plans] val reportSchema: Seq[Attribute] = Seq(
    AttributeReference("partitions_total", LongType, nullable = false)(),
    AttributeReference("partitions_rewritten", LongType, nullable = false)(),
    AttributeReference("rows_changed", LongType, nullable = false)())

  /** Swap a fully-written side directory into the table location.
    *
    * NOT delete-then-rename: a crash between those two steps leaves
    * the table location missing entirely (data only in the side dir)
    * and a subsequent read or CREATE sees no table. Instead the old
    * data is renamed to a `__graft_backup` sibling first, so at every
    * instant the complete table bytes exist under a well-known name:
    * either `dst` (normal), or `dst__graft_backup` (crash between the
    * two renames — recovery is renaming the backup back, which the
    * next swap attempt also does implicitly by clearing it only after
    * its own rename succeeds).
    */
  private[plans] def swapInPlace(spark: SparkSession, tmp: String, dstPath: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dstPath), spark.sparkContext.hadoopConfiguration)
    val src = new org.apache.hadoop.fs.Path(tmp)
    val dst = new org.apache.hadoop.fs.Path(dstPath)
    val backup = new org.apache.hadoop.fs.Path(dstPath.stripSuffix("/") + "__graft_backup")
    // stale backup from a previous crashed swap: the current dst (if
    // present) is newer — clear the backup; if dst is MISSING we are
    // the recovery path and the backup is the live data.
    if (fs.exists(backup)) {
      if (fs.exists(dst)) require(fs.delete(backup, true), s"swap failed clearing stale $backup")
      else require(fs.rename(backup, dst), s"swap recovery failed renaming $backup -> $dst")
    }
    // the table's definition lives inside the table dir — a data
    // rewrite must carry it, whatever it declares
    TableRecord.carry(spark, dstPath, tmp)
    require(fs.rename(dst, backup), s"swap failed renaming $dst -> $backup")
    if (!fs.rename(src, dst)) {
      fs.rename(backup, dst) // restore so the table location always exists
      throw new IllegalStateException(s"swap failed renaming $src -> $dst; original restored")
    }
    fs.delete(backup, true) // best-effort: a leftover backup is inert (dst exists and wins)
  }

  // ------------------------------------------------------------------
  // Aggregate-projection DDL support (ChAddProjectionCommand & co. +
  // the ProjectionAutoUse optimizer rule)

  /** One declared projection: keys, (stateCol, func, srcCol) states,
    * and whether its recorded base fingerprint still matches. For
    * SORT projections (empty states), `cols` non-empty means a
    * COLUMN-SUBSET layout (only those columns are stored — CH
    * projections can store subsets); empty `cols` is the full row. */
  private[plans] case class ProjSpec(name: String, keys: Seq[String],
      states: Seq[(String, String, String)], dataPath: String,
      fingerprint: String, fingerprintOk: Boolean,
      cols: Seq[String] = Nil)

  /** Projection data lives in a SIBLING of the table directory (like
    * swapInPlace's backup), not inside it: a leading-underscore child
    * is invisible to the base read but some read paths also refuse an
    * underscore ROOT, while a sibling is a perfectly ordinary
    * directory for the projection scan AND outside the base walk. */
  private[plans] def projDataPath(path: String, name: String): String =
    path.stripSuffix("/") + s"__graft_proj_$name"

  private[plans] def fsOf(spark: SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  /** ClickHouse allows comma-combined multi-action ALTERs
    * (`MODIFY ORDER BY (a), MODIFY SETTING x = 1`); the metadata
    * commands here take one action per statement — a second action
    * swallowed into the first's captured text must refuse loudly,
    * never persist as garbage. */
  private[plans] def refuseMultiAction(text: String, stmt: String): Unit = {
    val actionHead =
      """(?is)^(MODIFY|RESET|ADD|DROP|CLEAR|MATERIALIZE|RENAME|COMMENT|DELETE|UPDATE)\b""".r
    if (ChSqlParser.topLevelSplit(text).map(_.trim).exists(e => actionHead.findFirstIn(e).isDefined))
      throw new UnsupportedOperationException(
        s"$stmt: comma-combined multi-action ALTER is not supported here — " +
          "issue each action as its own ALTER TABLE statement")
  }

  /** Content fingerprint of the BASE data under `path`: every visible
    * (non-hidden) file's (relative path, length, mtime), sorted,
    * md5'd. Any insert/mutation/compaction changes it, which is
    * exactly the staleness signal auto-use needs. Cost is a metadata
    * walk — no data read. */
  // Content fingerprints cached per path, keyed by a SHALLOW root
  // signature (ONE listStatus): in the one-level layouts this engine
  // writes (files at the root, or one partition-directory level), any
  // data change creates/renames an entry directly under the root or
  // inside a partition directory — either way a root-level entry's
  // (name, len, mtime) triple changes and the signature sees it. The
  // full recursive walk then runs only when something actually
  // changed, instead of on every optimizer invocation of every
  // candidate aggregate (a 50k-file table paid an O(files) driver
  // walk per query compile). Deeper nesting (depth ≥ 2) is detected
  // during the walk and NOT cached — a leaf-dir change there would
  // not bump any root-level mtime.
  //
  // ENGINE-WRITERS-ONLY assumption: the shallow signature detects
  // every change this engine's own writers make (Spark writers
  // create/rename part files, mutations swap directories — all bump
  // a root-level entry). What it can NOT see is an EXTERNAL writer
  // overwriting a file in place under the same name inside a
  // depth-1 partition directory: the parent dir's (name, len,
  // mtime) root entry does not change, so auto-use would serve a
  // stale fingerprint. The escape hatches for externally-written
  // data: `SYSTEM DROP FILESYSTEM CACHE` (clears this cache) or any
  // command that resyncs the table (invalidateProjectionCache drops
  // the path's entry).
  private val fpCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private[plans] def invalidateFingerprintCache(): Unit = fpCache.clear()

  private[plans] def contentFingerprint(spark: SparkSession, path: String): String = {
    val fs = fsOf(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    def entrySig(st: org.apache.hadoop.fs.FileStatus): String =
      s"${st.getPath.getName}|${st.getLen}|${st.getModificationTime}"
    val shallow =
      try fs.listStatus(root).filterNot(st => st.getPath.getName.startsWith("_") ||
          st.getPath.getName.startsWith(".")).map(entrySig).sorted.mkString("\n")
      catch { case _: Exception => null }
    if (shallow != null) {
      val hit = fpCache.get(path)
      if (hit != null && hit._1 == shallow) return hit._2
    }
    val acc = scala.collection.mutable.ArrayBuffer[String]()
    var maxDepth = 0
    def walk(p: org.apache.hadoop.fs.Path, depth: Int): Unit =
      fs.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) {
          if (st.isDirectory) { maxDepth = math.max(maxDepth, depth + 1); walk(st.getPath, depth + 1) }
          else acc += s"${st.getPath.toString.stripPrefix(root.toString)}|${st.getLen}|${st.getModificationTime}"
        }
      }
    walk(root, 0)
    val md = java.security.MessageDigest.getInstance("MD5")
    val fp = org.apache.commons.codec.binary.Hex.encodeHexString(
      md.digest(acc.sorted.mkString("\n").getBytes("UTF-8")))
    if (shallow != null && maxDepth <= 1) fpCache.put(path, (shallow, fp))
    else fpCache.remove(path)
    fp
  }

  private[plans] def invalidateProjectionCache(path: String): Unit = {
    TableRecord.invalidate(path)
    fpCache.remove(path) // external writes may be invisible to the shallow signature
  }

  /** A projection's [[TableRecord]] entry: `projection.<name>` → its
    * keys, flattened (stateCol, func, srcCol) states, base fingerprint
    * and stored column subset. */
  private def projEntry(sp: ProjSpec): (String, String) =
    s"projection.${sp.name}" -> TableRecord.fields(Seq(TableRecord.fields(sp.keys),
      TableRecord.fields(sp.states.flatMap { case (c, f, src) => Seq(c, f, src) }),
      sp.fingerprint, TableRecord.fields(sp.cols)))

  /** The declared projections of the table at `path` (empty when none).
    * `fingerprintOk` is evaluated fresh on every call — it's the
    * correctness gate; only the record read is cached. */
  private[plans] def tableProjections(spark: SparkSession, path: String): Seq[ProjSpec] = {
    val declared = TableRecord.read(spark, path).toSeq.collect {
      case (k, v) if k.startsWith("projection.") =>
        val Seq(keys, states, fp, cols) = TableRecord.unfields(v)
        val name = k.stripPrefix("projection.")
        ProjSpec(name, TableRecord.unfields(keys),
          TableRecord.unfields(states).grouped(3).map { case Seq(c, f, src) => (c, f, src) }.toSeq,
          projDataPath(path, name), fp, fingerprintOk = false, cols = TableRecord.unfields(cols))
    }
    if (declared.isEmpty) return Nil
    val fs = fsOf(spark, path)
    lazy val currentFp = contentFingerprint(spark, path)
    declared.map { sp =>
      val dataOk = try fs.exists(new org.apache.hadoop.fs.Path(sp.dataPath)) catch {
        case _: Exception => false
      }
      sp.copy(fingerprintOk = dataOk && sp.fingerprint == currentFp)
    }
  }

  /** Materialize one projection's data + upsert its record entry with
    * the fingerprint of the base it was built from. Empty `states`
    * marks a SORT projection: the same rows range-partitioned +
    * sorted on `keys` (row-group min/max pruning layout) — storing
    * only `cols` when non-empty (a column-subset layout: at 100 TB
    * the subset is what makes a second sort order affordable, a few
    * hot columns instead of a full table copy); non-empty states are
    * the aggregate form. */
  private[plans] def writeProjection(spark: SparkSession, table: String, path: String, name: String,
      keys: Seq[String], states: Seq[(String, String, String)],
      cols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.{count => cnt, lit, max => mx, min => mn, sum => sm}
    val base = readData(spark, table, path)
    val missing = (keys ++ cols ++ states.map(_._3).filter(_.nonEmpty))
      .filterNot(base.schema.fieldNames.contains)
    if (missing.nonEmpty) throw new IllegalArgumentException(
      s"projection '$name' references missing columns: ${missing.mkString(", ")}")
    require(cols.isEmpty || states.isEmpty,
      "column subsets apply to SORT projections; aggregate projections already store only states")
    require(cols.isEmpty || keys.forall(cols.contains),
      s"projection '$name': ORDER BY keys must be among the stored columns")
    val fp = contentFingerprint(spark, path) // sibling data dirs are outside the walk
    val tmp = projDataPath(path, name) + "__building"
    if (states.isEmpty) {
      // sort layout: file count is the pruning granularity (≈ one
      // row-group per file), floored at 8 and scaled with the source
      // bytes by the shared sizing rule (as operators.Projections does)
      val stored = if (cols.isEmpty) base else base.select(cols.map(col): _*)
      val files = math.max(8, graft.sources.MergeTreeWrite.sourceBytesAndTasks(stored)._2)
      stored.repartitionByRange(files, keys.map(col): _*)
        .sortWithinPartitions(keys.map(col): _*)
        .write.mode("overwrite").parquet(tmp)
    } else {
      val aggCols = states.map {
        case (c, "count", _) => cnt(lit(1)).as(c)
        case (c, "sum", src) => sm(col(src)).as(c)
        case (c, "min", src) => mn(col(src)).as(c)
        case (c, "max", src) => mx(col(src)).as(c)
        case (_, f, _) => throw new IllegalArgumentException(s"unsupported projection state $f")
      }
      base.groupBy(keys.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
        .write.mode("overwrite").parquet(tmp)
    }
    val fs = fsOf(spark, path)
    val dst = new org.apache.hadoop.fs.Path(projDataPath(path, name))
    fs.delete(dst, true)
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), dst), s"projection build rename failed: $dst")
    TableRecord.update(spark, path)(
      _ + projEntry(ProjSpec(name, keys, states, dst.toString, fp, fingerprintOk = true, cols = cols)))
  }

  // ------------------------------------------------------------------
  // SHOW CREATE TABLE (round 15): the ClickHouse DDL record. The
  // CREATE front-end strips ORDER BY / SAMPLE BY / SETTINGS toward
  // physical layout; the table's [[TableRecord]] (written by
  // ChCreateChTableCommand and kept current by every ALTER) preserves
  // the declared text so the first thing a migrating user types —
  // SHOW CREATE TABLE t — answers with the table's CH shape: engine,
  // partition key, ORDER BY, live TTL rule, projections and indexes.

  /** Identifier-shaped elements of a PARTITION BY / ORDER BY clause —
    * the columns system.columns/DESCRIBE mark as key members.
    * Expression elements (cityHash64(x)) resolve at relayout time and
    * are not attributed to columns. Shared by ChDescribeTableCommand
    * and the system.columns view (round 17). */
  private[plans] def keyIdents(expr: String): Set[String] =
    ChSqlParser.topLevelSplit(expr.trim.stripPrefix("(").stripSuffix(")"))
      .map(_.trim).filter(_.matches("`[^`]+`|[A-Za-z_]\\w*"))
      .map(_.stripPrefix("`").stripSuffix("`")).toSet

  /** Spark type → ClickHouse type text (the SHOW CREATE direction;
    * the inverse of the parser's chDdlType, lossy where the mapping
    * in was — Nullable/LowCardinality wrappers and enum/fixed-string
    * flavors don't survive the round trip). */
  private[plans] def chTypeName(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => "Int64"
      case IntegerType => "Int32"
      case ShortType => "Int16"
      case ByteType => "Int8"
      case DoubleType => "Float64"
      case FloatType => "Float32"
      case _: StringType => "String"
      case BooleanType => "Bool"
      case DateType => "Date"
      case TimestampType | TimestampNTZType => "DateTime64(6)"
      case BinaryType => "String"
      case d: DecimalType => s"Decimal(${d.precision}, ${d.scale})"
      case ArrayType(e, _) => s"Array(${chTypeName(e)})"
      case MapType(k, v, _) => s"Map(${chTypeName(k)}, ${chTypeName(v)})"
      case s: StructType =>
        "Tuple(" + s.fields.map(f => s"${f.name} ${chTypeName(f.dataType)}").mkString(", ") + ")"
      case other => other.sql
    }
  }

  /** Parse-time fallthrough probe for SHOW CREATE TABLE: does the
    * table carry a [[TableRecord]]? Only this check runs at parse — the DDL
    * itself is composed at execution by [[ChShowCreateTableCommand]],
    * so a plan parsed before a later ALTER answers the table's
    * CURRENT state (ClickHouse resolves at execution too) and parsing
    * stays side-effect-light. */
  private[plans] def hasChTableMetadata(spark: SparkSession, table: String): Boolean = {
    if (!(try spark.catalog.tableExists(table) catch { case _: Exception => false })) return false
    val info = try resolve(spark, table) catch { case _: Exception => return false }
    TableRecord.read(spark, info.path).nonEmpty
  }

  /** The table's catalog fields in DECLARED order: the record's
    * `columns` entry restores the CH declaration order (Spark floats
    * partition columns to the end; columns added later append). */
  private[plans] def declaredOrderedFields(spark: SparkSession, table: String,
      meta: Map[String, String]): Seq[org.apache.spark.sql.types.StructField] = {
    val fields = spark.table(table).schema.fields.toSeq
    val declared = meta.get("columns").map(_.split(",").toSeq).getOrElse(Nil)
    if (declared.isEmpty) fields else {
      val byName = fields.map(f => f.name -> f).toMap
      declared.flatMap(byName.get) ++ fields.filterNot(f => declared.contains(f.name))
    }
  }

  /** The reconstructed CH CREATE statement of `table`, or None when
    * the table carries no [[TableRecord]] (plain Spark tables fall
    * through to Spark's native SHOW CREATE TABLE). Composes the
    * record's engine clauses (engine, ORDER BY, PARTITION BY, PRIMARY
    * KEY, SAMPLE BY, SETTINGS), the catalog schema (types
    * reverse-mapped), the LIVE TTL rule (which ALTER MODIFY/REMOVE TTL
    * keeps current, so the answer tracks the table, not its creation
    * text), the declared vector indexes and the declared projections. */
  private[plans] def showCreateChTable(spark: SparkSession, table: String): Option[String] = {
    if (!(try spark.catalog.tableExists(table) catch { case _: Exception => false })) return None
    val info = try resolve(spark, table) catch { case _: Exception => return None }
    val meta = TableRecord.read(spark, info.path)
    if (meta.isEmpty) return None
    val projs = tableProjections(spark, info.path)
    val vecIdx = VectorIndex.indexes(spark, info.path)
    val ordered = declaredOrderedFields(spark, table, meta)
    val colLines = ordered.map(f => s"`${f.name}` ${chTypeName(f.dataType)}")
    // vector indexes re-emit in the CREATE body (CH's own SHOW CREATE
    // does the same), so the output is re-executable DDL — re-running
    // it re-DECLARES the index; MATERIALIZE INDEX rebuilds the layout
    val idxLines = vecIdx.map(s =>
      s"INDEX ${s.name} ${s.column} TYPE vector_similarity('hnsw', '${s.distance}')")
    val projLines = projs.map { sp =>
      if (sp.states.isEmpty) {
        val sel = if (sp.cols.isEmpty) "*" else sp.cols.map(c => s"`$c`").mkString(", ")
        s"PROJECTION ${sp.name} (SELECT $sel ORDER BY ${sp.keys.mkString(", ")})"
      } else {
        val aggs = sp.states.map {
          case (_, "count", _) => "count()"
          case (_, f, src) => s"$f($src)"
        }
        s"PROJECTION ${sp.name} (SELECT ${(sp.keys ++ aggs).mkString(", ")} " +
          s"GROUP BY ${sp.keys.mkString(", ")})"
      }
    }
    val body = (colLines ++ idxLines ++ projLines).map("    " + _).mkString(",\n")
    val sb = new StringBuilder
    sb.append(s"CREATE TABLE $table\n(\n$body\n)\n")
    sb.append(s"ENGINE = ${meta.getOrElse("engine", "MergeTree")}")
    meta.get("partition_by")
      .orElse(if (info.partCols.nonEmpty) Some(info.partCols.mkString(", ")) else None)
      .foreach(p => sb.append(s"\nPARTITION BY $p"))
    sb.append(s"\nORDER BY ${meta.getOrElse("order_by", "tuple()")}")
    meta.get("primary_key").foreach(p => sb.append(s"\nPRIMARY KEY $p"))
    meta.get("sample_by").foreach(p => sb.append(s"\nSAMPLE BY $p"))
    ttlRule(meta).foreach { case (ttl, whereCond, groupKeys, sets) =>
      val tail =
        if (groupKeys.nonEmpty)
          s" GROUP BY ${groupKeys.mkString(", ")} SET ${sets.map { case (c, e) => s"$c = $e" }.mkString(", ")}"
        else whereCond.map(c => s" WHERE $c").getOrElse("")
      sb.append(s"\nTTL $ttl$tail")
    }
    meta.get("settings").foreach(p => sb.append(s"\nSETTINGS $p"))
    meta.get("comment").foreach(p => sb.append(s"\nCOMMENT $p"))
    Some(sb.toString)
  }
}

/** ClickHouse schema-evolution DDL: `ALTER TABLE t ADD | DROP |
  * RENAME | MODIFY COLUMN …`. ClickHouse applies these as instant
  * metadata changes and materializes lazily on merge; here the data
  * is rewritten eagerly through the crash-safe side-directory swap
  * ([[ChCommands.swapInPlace]]), which keeps read semantics exact —
  * in particular ADD COLUMN without DEFAULT backfills the CH type
  * default (0 / '' / epoch; NULL only for Nullable(…)), matching
  * what a ClickHouse read would synthesize, where Spark's
  * metadata-only schema evolution would surface nulls. The catalog's
  * stored schema is updated in the same command
  * (`alterTableDataSchema`), so subsequent reads resolve the new
  * shape. Partition columns refuse to be dropped/renamed/retyped
  * (they are the physical layout). */
sealed trait ChColumnOp
object ChColumnOp {
  final case class Add(name: String, chType: String, default: Option[String],
                       first: Boolean, after: Option[String], ifNotExists: Boolean) extends ChColumnOp
  final case class Drop(name: String, ifExists: Boolean) extends ChColumnOp
  final case class Rename(from: String, to: String, ifExists: Boolean) extends ChColumnOp
  final case class Modify(name: String, chType: String, ifExists: Boolean) extends ChColumnOp
}

case class ChAlterColumnCommand(table: String, op: ChColumnOp) extends LeafRunnableCommand {
  import org.apache.spark.sql.types.{LongType => LT}
  override val output: Seq[Attribute] =
    Seq(AttributeReference("columns", LT, nullable = false)())

  private def chDefault(spark: SparkSession, chType: String, sparkType: String) = {
    import org.apache.spark.sql.functions.{expr, lit}
    val lower = chType.trim.toLowerCase
    if (lower.startsWith("nullable(")) lit(null).cast(sparkType)
    else {
      val st = sparkType.toLowerCase
      if (st == "string") lit("")
      else if (st == "boolean") lit(false)
      else if (st == "date") lit(java.sql.Date.valueOf("1970-01-01"))
      else if (st.startsWith("timestamp")) lit(java.sql.Timestamp.valueOf("1970-01-01 00:00:00"))
      else if (st.startsWith("array")) expr("array()").cast(sparkType)
      else if (st.startsWith("map") || st.startsWith("struct"))
        throw new UnsupportedOperationException(
          s"ADD COLUMN of $chType needs an explicit DEFAULT or Nullable(…) here")
      else lit(0).cast(sparkType) // the numeric family
    }
  }

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{col, expr}
    val info = ChCommands.resolve(spark, table)
    val partCols = info.partCols.toSet
    def refusePartition(c: String): Unit =
      if (partCols.contains(c)) throw new UnsupportedOperationException(
        s"column '$c' is the partition key — recreate the table to change the physical layout")
    val df = ChCommands.readData(spark, table, info.path)
    val has = df.schema.fieldNames.toSet
    val newDf: Option[org.apache.spark.sql.DataFrame] = op match {
      case ChColumnOp.Add(name, chType, default, first, after, ifNotExists) =>
        if (has.contains(name)) {
          if (ifNotExists) None
          else throw new IllegalArgumentException(s"column '$name' already exists in $table")
        } else {
          val sparkType = ChSqlParser.chDdlTypeOf(chType)
          val value = default.map(d => expr(d).cast(sparkType))
            .getOrElse(chDefault(spark, chType, sparkType))
          val added = df.withColumn(name, value)
          val order0 = df.schema.fieldNames.toSeq
          val order =
            if (first) name +: order0
            else after match {
              case Some(a) =>
                if (!has.contains(a)) throw new IllegalArgumentException(
                  s"AFTER $a: no such column in $table")
                order0.flatMap(c => if (c == a) Seq(c, name) else Seq(c))
              case None => order0 :+ name
            }
          Some(added.select(order.map(col): _*))
        }
      case ChColumnOp.Drop(name, ifExists) =>
        refusePartition(name)
        if (!has.contains(name)) {
          if (ifExists) None
          else throw new IllegalArgumentException(s"no column '$name' in $table")
        } else Some(df.drop(name))
      case ChColumnOp.Rename(from, to, ifExists) =>
        refusePartition(from)
        if (!has.contains(from)) {
          if (ifExists) None
          else throw new IllegalArgumentException(s"no column '$from' in $table")
        } else if (has.contains(to))
          throw new IllegalArgumentException(s"column '$to' already exists in $table")
        else Some(df.withColumnRenamed(from, to))
      case ChColumnOp.Modify(name, chType, ifExists) =>
        refusePartition(name)
        if (!has.contains(name)) {
          if (ifExists) None
          else throw new IllegalArgumentException(s"no column '$name' in $table")
        } else Some(df.withColumn(name, col(name).cast(ChSqlParser.chDdlTypeOf(chType))))
    }
    newDf match {
      case None => Seq(Row(df.schema.length.toLong)) // IF [NOT] EXISTS no-op
      case Some(out) =>
        val tmp = info.path.stripSuffix("/") + "__graft_altering"
        if (info.partCols.nonEmpty)
          out.write.mode("overwrite").partitionBy(info.partCols: _*).parquet(tmp)
        else out.write.mode("overwrite").parquet(tmp)
        ChCommands.swapInPlace(spark, tmp, info.path)
        val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
        val dataSchema = org.apache.spark.sql.types.StructType(
          out.schema.fields.filterNot(f => partCols.contains(f.name)))
        // the external catalog applies the new shape directly —
        // SessionCatalog's wrapper refuses drops/renames, which are
        // exactly what this command just materialized on disk
        val db = ident.database.getOrElse(spark.sessionState.catalog.getCurrentDatabase)
        spark.sharedState.externalCatalog.alterTableDataSchema(db, ident.table, dataSchema)
        // a column ALTER rewrites rows in place (swap preserves the
        // table root; the partition column itself is refused above),
        // so the partition set cannot change — cache refresh only
        ChCommands.resync(spark, table, partitioned = false)
        Seq(Row(out.schema.length.toLong))
    }
  }
}

/** `EXCHANGE TABLES a AND b` — the MV-repoint / blue-green swap. Three
  * catalog renames; a crash mid-sequence leaves a well-named
  * `__graft_exchange_tmp` table rather than data loss (ClickHouse's
  * own EXCHANGE is atomic only on the Atomic database engine). */
case class ChExchangeTablesCommand(a: String, b: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    for (t <- Seq(a, b)) if (!spark.catalog.tableExists(t))
      throw new IllegalArgumentException(s"EXCHANGE TABLES: no table '$t'")
    // a == b would pass both checks, rename a away, then fail the
    // second rename — stranding the table under the internal name
    if (a.equalsIgnoreCase(b)) return Nil // CH semantics: self-exchange is a no-op
    val tmp = "__graft_exchange_tmp"
    spark.sql(s"ALTER TABLE $a RENAME TO $tmp")
    spark.sql(s"ALTER TABLE $b RENAME TO $a")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $b")
    Nil
  }
}

/** `ALTER TABLE t DROP PARTITION 'v'` — the retention/rollback
  * workhorse: the partition vanishes as a directory unit through
  * [[graft.operators.Mutate.dropPartition]] (zero rows read). The
  * literal is evaluated and cast to the partition column's type so
  * `DROP PARTITION '1995'` and `DROP PARTITION 1995` both name the
  * same directory. */
case class ChDropPartitionCommand(table: String, valueSql: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("partitions_dropped", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val info = ChCommands.resolve(spark, table)
    val (p, external) = ChCommands.partitionTarget(spark, table, info, valueSql, "DROP")
    graft.operators.Mutate.dropPartition(spark, info.path, p, external)
    ChCommands.resync(spark, table, partitioned = true)
    Seq(Row(1L))
  }
}

/** `ALTER TABLE t DETACH|ATTACH PARTITION 'v'` (round 11): the
  * partition directory moves between the live table root and the
  * `__graft_detached` sibling — ClickHouse's park-a-partition
  * workflow (detach for surgery/backfill, attach back untouched) as
  * one metadata-only directory rename. `ATTACH PARTITION FROM src`
  * (cross-table copy) still refuses toward copy + ATTACH. */
case class ChDetachAttachPartitionCommand(table: String, valueSql: String,
                                          attach: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("partitions_moved", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val verb = if (attach) "ATTACH" else "DETACH"
    val info = ChCommands.resolve(spark, table)
    val (p, external) = ChCommands.partitionTarget(spark, table, info, valueSql, verb)
    if (attach) graft.operators.Mutate.attachPartition(spark, info.path, p, external)
    else graft.operators.Mutate.detachPartition(spark, info.path, p, external)
    ChCommands.resync(spark, table, partitioned = true)
    Seq(Row(1L))
  }
}

/** `ALTER TABLE t DELETE WHERE pred` / `ALTER TABLE t UPDATE a = e, …
  * WHERE pred`. Predicate and assignment RHS are SQL text resolved at
  * run time against the table (so the full registered CH function
  * surface is available inside them). */
case class ChAlterMutateCommand(table: String, predSql: String,
                                assignments: Seq[(String, String)]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = ChCommands.reportSchema

  override def run(spark: SparkSession): Seq[Row] = {
    val info = ChCommands.resolve(spark, table)
    val pred = expr(predSql)
    val rep = info.partCols match {
      case Seq(p) =>
        val catSchema = Some(spark.table(table).schema)
        if (assignments.isEmpty)
          graft.operators.Mutate.delete(spark, info.path, p, pred, catSchema)
        else graft.operators.Mutate.update(spark, info.path, p, pred,
          assignments.map { case (n, e) => n -> expr(e) }, catSchema)
      case Seq() =>
        // unpartitioned: a mutation is inherently a full rewrite (same
        // as ClickHouse rewriting every part). Two-phase via a side
        // directory because Spark refuses to overwrite a path it is
        // reading; streaming both phases, nothing driver-side.
        fullRewrite(spark, table, info.path, pred)
      case many => throw new UnsupportedOperationException(
        s"ALTER TABLE mutation on a ${many.size}-level partitioned table: " +
          "use graft.operators.Mutate with an explicit partition column")
    }
    // A mutation can never ADD a partition, so the MSCK walk is needed
    // only when the rewrite emptied (removed) one; otherwise the
    // partition set is unchanged and the cache refresh suffices.
    ChCommands.resync(spark, table, info.partCols.nonEmpty && rep.partitionsEmptied > 0)
    Seq(Row(rep.partitionsTotal, rep.partitionsRewritten, rep.rowsChanged))
  }

  private def fullRewrite(spark: SparkSession, table: String, path: String,
                          pred: org.apache.spark.sql.Column): graft.operators.Mutate.Report = {
    val t = ChCommands.readData(spark, table, path)
    val changed = t.where(pred).count()
    if (changed == 0) return graft.operators.Mutate.Report(1, 0, 0)
    val out =
      if (assignments.isEmpty) t.where(!pred)
      else {
        val flagged = t.withColumn("__graft_match", pred)
        val staged = assignments.zipWithIndex.foldLeft(flagged) { case (d, ((_, e), i)) =>
          d.withColumn(s"__graft_new_$i", expr(e))
        }
        val applied = assignments.zipWithIndex.foldLeft(staged) { case (d, ((n, _), i)) =>
          d.withColumn(n, org.apache.spark.sql.functions.when(
            col("__graft_match"), col(s"__graft_new_$i")).otherwise(col(n)))
        }
        applied.drop("__graft_match" +: assignments.indices.map(i => s"__graft_new_$i"): _*)
      }
    val tmp = path.stripSuffix("/") + "__graft_mutating"
    out.write.mode("overwrite").parquet(tmp)
    ChCommands.swapInPlace(spark, tmp, path)
    graft.operators.Mutate.Report(1, 1, changed)
  }
}

/** `OPTIMIZE TABLE t [FINAL] [DEDUPLICATE [BY c, …]]` — the MergeTree
  * merge/compaction pass: rewrite each partition's many small parts
  * into one file (read-invariant; file count drops). DEDUPLICATE
  * additionally drops exact-duplicate rows (optionally BY a column
  * subset, keeping an arbitrary survivor — ClickHouse semantics). */
case class ChOptimizeCommand(table: String, dedupBy: Option[Seq[String]],
                             partition: Option[String] = None) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_before", LongType, nullable = false)(),
    AttributeReference("files_after", LongType, nullable = false)())

  private def countFiles(spark: SparkSession, path: String): Long = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(path), true)
    var n = 0L
    while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
    n
  }

  override def run(spark: SparkSession): Seq[Row] = {
    val info = ChCommands.resolve(spark, table)
    val before = countFiles(spark, info.path)
    val t00 = ChCommands.readData(spark, table, info.path)
    // OPTIMIZE … PARTITION 'v': scope BEFORE dedup, so only that
    // partition's rows read/shuffle/rewrite — at 100 TB the routine
    // "compact yesterday" touches one directory, not the table. The
    // value compares through the same Cast(v, String) the partitioned
    // writer uses for directory names (see Mutate's timestamp fix).
    val t0 = partition match {
      case None => t00
      case Some(v) =>
        info.partCols match {
          case Seq(p) => t00.where(col(p).cast("string") === lit(v))
          case _ => throw new UnsupportedOperationException(
            "OPTIMIZE … PARTITION needs a single-column partitioned table here")
        }
    }
    val t = dedupBy match {
      case None           => t0
      case Some(Nil)      => t0.dropDuplicates()
      case Some(cols)     => t0.dropDuplicates(cols)
    }
    info.partCols match {
      case Seq(p) =>
        // one hash-shuffle on the partition key → each directory lands
        // as a single file; dynamic overwrite touches every written
        // partition (all of them without PARTITION, exactly one with)
        // but streams, never collects
        val key = "spark.sql.sources.partitionOverwriteMode"
        val prev = spark.conf.getOption(key)
        spark.conf.set(key, "dynamic")
        try t.repartition(col(p)).write.mode("overwrite").partitionBy(p).parquet(info.path)
        finally prev match {
          case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key)
        }
      case Seq() =>
        val tmp = info.path.stripSuffix("/") + "__graft_optimizing"
        t.coalesce(1).write.mode("overwrite").parquet(tmp)
        ChCommands.swapInPlace(spark, tmp, info.path)
      case many => throw new UnsupportedOperationException(
        s"OPTIMIZE on a ${many.size}-level partitioned table: use " +
          "graft.sources.MergeTreeWrite.compact per partition directory")
    }
    ChCommands.resync(spark, table, info.partCols.nonEmpty)
    Seq(Row(before, countFiles(spark, info.path)))
  }
}

/** `CREATE DICTIONARY … SOURCE(…) LAYOUT(…)` executed: registers the
  * dictionary over its source in [[graft.operators.Dictionaries]], so
  * every later `dictGet('name', 'attr', key)` becomes the
  * broadcast-join rewrite. All in-process LAYOUTs (FLAT/HASHED/
  * CACHE/DIRECT/…) map to the same broadcast-hash-join physical
  * shape — ClickHouse's layout choice tunes ITS in-memory container,
  * which Catalyst owns here; COMPLEX_KEY layouts register a
  * composite-key dictionary (lookups pass `tuple(k1, k2, …)`, the
  * join keys on every column).
  * Declared attribute types are enforced by casting the projected
  * source columns, and the source schema is validated AT DDL TIME
  * (fail here, not at the first dictGet). */
case class ChCreateDictionaryCommand(
    name: String, keyCols: Seq[String], cols: Seq[(String, String)],
    hierarchicalCol: Option[String], sourceKind: String,
    sourceProps: Map[String, String], ifNotExists: Boolean,
    ddlText: String = "") extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(sparkSession: SparkSession): Seq[Row] = {
    import graft.operators.Dictionaries
    if (ifNotExists && Dictionaries.exists(name)) return Seq.empty
    def project(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(cols.map { case (n, t) => col(n).cast(t).as(n) }: _*)
    val thunk: () => org.apache.spark.sql.DataFrame = sourceKind match {
      case "CLICKHOUSE" =>
        val tbl = sourceProps.getOrElse("TABLE", throw new IllegalArgumentException(
          "SOURCE(CLICKHOUSE(…)) needs TABLE 'name'"))
        sourceProps.get("DB").orElse(sourceProps.get("DATABASE")).foreach { d =>
          if (!(d.isEmpty || d.equalsIgnoreCase("default")))
            throw new UnsupportedOperationException(
              s"dictionary source database '$d' is not this session's catalog; " +
                "land the table locally first")
        }
        () => project(sparkSession.table(tbl))
      case "FILE" =>
        val path = sourceProps.getOrElse("PATH", throw new IllegalArgumentException(
          "SOURCE(FILE(…)) needs PATH 'path'"))
        val fmt = sourceProps.getOrElse("FORMAT", "Parquet")
        () => project(fmt.toUpperCase match {
          case "PARQUET" => sparkSession.read.parquet(path)
          case "CSVWITHNAMES" =>
            sparkSession.read.option("header", "true").csv(path)
          case "JSONEACHROW" | "NDJSON" | "JSONLINES" => sparkSession.read.json(path)
          case other => throw new IllegalArgumentException(
            s"dictionary FILE format '$other' has no reader here; use Parquet/" +
              "CSVWithNames/JSONEachRow")
        })
      case other => throw new UnsupportedOperationException(
        s"dictionary SOURCE($other) would need a live external system; land the data " +
          "as a table and use SOURCE(CLICKHOUSE(TABLE '…'))")
    }
    thunk().schema // source must resolve and carry the declared columns NOW
    hierarchicalCol match {
      case Some(p) => Dictionaries.registerHierarchical(name, keyCols.head, p, thunk)
      case None    => Dictionaries.registerComplex(name, keyCols, thunk)
    }
    if (ddlText.nonEmpty) Dictionaries.recordDdl(name, ddlText)
    Seq.empty
  }
}

/** `CREATE TABLE … ENGINE = Join(strictness, kind, k1[, k2 …])`
  * executed: creates the backing parquet table (empty column-list
  * form or AS SELECT form — `innerSql` carries the already-translated
  * Spark DDL) and registers it for `joinGet`/`joinGetOrNull` through
  * the dictionary broadcast-join rewrite
  * ([[graft.operators.Dictionaries.registerJoinTable]]).
  *
  * ClickHouse's Join(ANY, …) keeps the FIRST row inserted per key —
  * an insertion-order contract a distributed parquet table cannot
  * replay. The registered lookup source instead keeps, per key, the
  * row that sorts first over the non-key columns (one window pass at
  * lookup-plan time) — deterministic for any insert order, hence
  * oracle-able; documented deviation. Non-ANY strictness creates the
  * table and records metadata so joinGet refuses with the precise
  * ClickHouse contract (`joinGet works with ANY LEFT JOIN tables`)
  * instead of "unknown table". DROPping the backing table makes a
  * later joinGet fail at analysis with TABLE_OR_VIEW_NOT_FOUND —
  * loud, and a re-CREATE re-registers. */
/** A ClickHouse `CREATE TABLE … ENGINE = …` (column-list or CTAS
  * form): executes the rewritten Spark DDL, then records the declared
  * physical-layout clauses — which the rewrite strips from the Spark
  * statement — in the table's [[TableRecord]] beside the data so
  * `SHOW CREATE TABLE` can answer with the table's CH shape after any
  * session restart. A declared table TTL routes through
  * `ALTER TABLE … MODIFY TTL` (full validation + the live TTL rule in
  * the same record), making CREATE-declared TTLs first-class rather
  * than silently stripped. `IF NOT EXISTS` on an existing table leaves
  * the existing record untouched.
  *
  * Atomicity (round 16): if a post-create sub-statement throws (an
  * invalid TTL expression, a bad projection body), the just-created
  * table, its record and any projection sibling dirs are dropped
  * before rethrowing — a failed CREATE leaves no partial table, like
  * ClickHouse's atomic CREATE (only when the table did not already
  * exist; an IF NOT EXISTS hit on an existing table is untouched).
  *
  * CTAS column order (round 16): the CTAS form carries its SELECT
  * (`ctasSelect`) and records the analyzed output field order as the
  * record's `columns` — without it a partitioned CTAS's SHOW CREATE
  * emitted Spark's partition-columns-floated order instead of the
  * declared SELECT order the column-list path restores. Analysis is
  * lazy (schema only, no execution). */
case class ChCreateChTableCommand(name: String, innerSql: String, engine: String,
    clauses: Map[String, String], declaredCols: Seq[String],
    projections: Seq[(String, String)] = Nil,
    ctasSelect: Option[String] = None,
    vectorIndexes: Seq[(String, String, String)] = Nil) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val existed = spark.catalog.tableExists(name)
    // CTAS declares its column order via the SELECT; analyze before
    // creating so the record keeps the declared order
    val cols =
      if (declaredCols.nonEmpty || ctasSelect.isEmpty) declaredCols
      else spark.sql(ctasSelect.get).schema.fieldNames.toSeq
    spark.sql(innerSql)
    if (!existed) {
      try {
        val info = ChCommands.resolve(spark, name)
        val fields = Seq("engine" -> engine) ++
          (if (cols.nonEmpty) Seq("columns" -> cols.mkString(",")) else Nil) ++
          clauses.get("ORDER BY").map("order_by" -> _) ++
          clauses.get("PARTITION BY").map("partition_by" -> _) ++
          clauses.get("PRIMARY KEY").map("primary_key" -> _) ++
          clauses.get("SAMPLE BY").map("sample_by" -> _) ++
          clauses.get("SETTINGS").map("settings" -> _) ++
          clauses.get("COMMENT").map("comment" -> _)
        TableRecord.update(spark, info.path)(_ => scala.collection.immutable.VectorMap.from(fields))
        clauses.get("TTL").foreach(t => spark.sql(s"ALTER TABLE $name MODIFY TTL $t"))
        // CREATE-declared projections (CH allows them in the body, and
        // SHOW CREATE emits them there) — same path as ALTER ADD
        for ((pn, body) <- projections)
          spark.sql(s"ALTER TABLE $name ADD PROJECTION $pn ($body)")
        // CREATE-declared vector_similarity indexes (round 19):
        // declared now, built on ALTER … MATERIALIZE INDEX
        for ((vn, vcol, vdist) <- vectorIndexes)
          VectorIndex.declare(spark, name, vn, vcol, vdist, ifNotExists = false)
      } catch {
        case e: Throwable =>
          // atomic CREATE: never leave a half-created table behind.
          // resolve() itself may be what threw — recover the location
          // best-effort before the DROP erases the catalog entry
          try {
            val loc =
              try Some(ChCommands.resolve(spark, name).path)
              catch { case _: Exception => None }
            spark.sql(s"DROP TABLE IF EXISTS $name")
            loc.foreach { lp =>
              val p = new org.apache.hadoop.fs.Path(lp)
              val fs = ChCommands.fsOf(spark, lp)
              fs.delete(p, true)
              val sibs = fs.globStatus(
                new org.apache.hadoop.fs.Path(p.getParent, p.getName + "__graft_*"))
              if (sibs != null) sibs.foreach(st => fs.delete(st.getPath, true))
            }
          } catch { case _: Exception => () }
          throw e
      }
    }
    Seq.empty
  }
}

/** `ALTER TABLE t MODIFY ORDER BY expr` — updates the table's
  * declared sort key in the table's [[TableRecord]], the
  * clause SHOW CREATE TABLE answers with. ClickHouse's own MODIFY
  * ORDER BY is metadata too (existing parts keep their order) — here
  * it is metadata-only as well: no data rewrite, and a relayout that
  * honors the new key is an explicit MergeTreeWrite/OPTIMIZE pass.
  * Identifier-shaped key elements are validated against the live
  * schema so a typo fails now; expression elements resolve at
  * relayout time. */
case class ChModifyEngineClauseCommand(table: String, field: String,
    value: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val info = ChCommands.resolve(spark, table)
    val meta = TableRecord.read(spark, info.path)
    // no engine record = the table was not created through CH DDL;
    // fabricating one would flip SHOW CREATE from Spark-native output
    // to invented MergeTree DDL (ClickHouse rejects the ALTER too)
    if (!meta.contains("engine")) throw new IllegalArgumentException(
      s"table '$table' has no ClickHouse engine record (not created through CH DDL); " +
        "re-create it with CREATE TABLE … ENGINE = MergeTree … first")
    if (field == "order_by") value.foreach { v =>
      ChCommands.refuseMultiAction(v, "MODIFY ORDER BY")
      // typo protection, PER ELEMENT (paren-aware split): each
      // identifier-shaped key is validated against the live schema;
      // expression elements (function calls, arithmetic) pass
      // through — they resolve at relayout time
      val inner = v.trim.stripPrefix("(").stripSuffix(")").trim
      val elems = ChSqlParser.topLevelSplit(inner).map(_.trim)
      val idents = elems.filter(_.matches("`[^`]+`|[A-Za-z_]\\w*"))
      if (idents.nonEmpty) {
        val names = ChCommands.readData(spark, table, info.path).schema.fieldNames.toSet
        val missing = idents.map(_.stripPrefix("`").stripSuffix("`")).filterNot(names.contains)
        if (missing.nonEmpty) throw new IllegalArgumentException(
          s"MODIFY ORDER BY references missing column(s): ${missing.mkString(", ")}")
      }
    }
    TableRecord.update(spark, info.path)(m => (m - field) ++ value.map(field -> _))
    Seq.empty
  }
}

/** `ALTER TABLE t MODIFY SETTING a = 1, b = 2` / `RESET SETTING a, b`
  * — upserts/removes entries in the engine record's SETTINGS clause
  * (CH table settings are engine metadata; none drives execution
  * here, but the record must track what the user declared — it is
  * what SHOW CREATE answers). */
case class ChModifySettingsCommand(table: String, text: String,
    reset: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val info = ChCommands.resolve(spark, table)
    val meta = TableRecord.read(spark, info.path)
    if (!meta.contains("engine")) throw new IllegalArgumentException(
      s"table '$table' has no ClickHouse engine record (not created through CH DDL); " +
        "re-create it with CREATE TABLE … ENGINE = MergeTree … first")
    ChCommands.refuseMultiAction(text, if (reset) "RESET SETTING" else "MODIFY SETTING")
    // quote-aware splits: setting values may contain commas inside
    // quotes (storage_policy = 'hot,cold')
    val current: Seq[(String, String)] = meta.get("settings").toSeq
      .flatMap(v => ChSqlParser.topLevelSplit(v).map(_.trim)).map { e =>
        val i = e.indexOf('=')
        if (i < 0) (e, "") else (e.substring(0, i).trim, e.substring(i + 1).trim)
      }
    val next: Seq[(String, String)] =
      if (reset) {
        val names = text.split(",").map(_.trim.stripPrefix("`").stripSuffix("`"))
          .filter(_.nonEmpty).toSet
        current.filterNot { case (k, _) => names.contains(k) }
      } else {
        val sets0 = ChSqlParser.topLevelSplit(text).map(_.trim).map { a =>
          val m = """(?s)^(`[^`]+`|\w+)\s*=\s*(.+)$""".r.findFirstMatchIn(a).getOrElse(
            throw new IllegalArgumentException(
              s"MODIFY SETTING entry '$a' must be name = value"))
          (m.group(1).stripPrefix("`").stripSuffix("`"), m.group(2).trim)
        }
        // last-wins within one statement (duplicate entries would
        // persist a SETTINGS clause ClickHouse rejects on re-CREATE)
        val sets = sets0.map(_._1).distinct.map(k => k -> sets0.reverse.find(_._1 == k).get._2)
        val bySet = sets.toMap
        current.filterNot { case (k, _) => bySet.contains(k) } ++ sets
      }
    val settingsText = next.map { case (k, v) => if (v.isEmpty) k else s"$k = $v" }
      .mkString(", ")
    TableRecord.update(spark, info.path)(m =>
      (m - "settings") ++ (if (settingsText.nonEmpty) Seq("settings" -> settingsText) else Nil))
    Seq.empty
  }
}

/** `SHOW CREATE TABLE` / `SHOW CREATE DICTIONARY` answer. For tables
  * (`ddl = None`) the DDL is composed AT EXECUTION from the live
  * table record, so a plan parsed before a later ALTER answers the
  * table's current state — ClickHouse's own resolution point — and
  * EXPLAIN does not bake a stale statement into the plan; parse time
  * only probed metadata existence ([[ChCommands.hasChTableMetadata]]).
  * Dictionaries pass their recorded CREATE text (`Some(ddl)` — an
  * in-memory registry lookup with no filesystem side effects). */
case class ChShowCreateTableCommand(table: String, ddl: Option[String] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "statement", org.apache.spark.sql.types.StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val text = ddl.orElse(ChCommands.showCreateChTable(spark, table)).getOrElse(
      throw new IllegalStateException(
        s"table '$table' lost its engine metadata between parse and execution; " +
          "re-run SHOW CREATE TABLE (plain Spark tables answer through the native command)"))
    Seq(Row(text))
  }
}

/** `DESCRIBE TABLE t` for engine-recorded tables (round 16 — the
  * second thing a migrating user types after SHOW CREATE): CH's
  * column shape (name, type, default_type, default_expression,
  * comment) with the types reverse-mapped to ClickHouse names and, as
  * system.columns does, the partition/sorting-key membership flags.
  * Resolved AT EXECUTION like SHOW CREATE (parse only probes
  * metadata existence; plain Spark tables fall through to the native
  * DESCRIBE). default_type/default_expression/comment render empty —
  * the CREATE front-end does not persist per-column DEFAULT/COMMENT
  * attributes (they strip toward storage), and empty is exactly what
  * CH prints for columns without them. Sorting-key membership marks
  * identifier-shaped key elements; expression elements (cityHash64(x))
  * resolve at relayout time and are not attributed to columns. */
case class ChDescribeTableCommand(table: String) extends LeafRunnableCommand {
  import org.apache.spark.sql.types.{IntegerType, StringType}
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("type", StringType, nullable = false)(),
    AttributeReference("default_type", StringType, nullable = false)(),
    AttributeReference("default_expression", StringType, nullable = false)(),
    AttributeReference("comment", StringType, nullable = false)(),
    AttributeReference("is_in_partition_key", IntegerType, nullable = false)(),
    AttributeReference("is_in_sorting_key", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val info = ChCommands.resolve(spark, table)
    val meta = TableRecord.read(spark, info.path)
    val partKeys = meta.get("partition_by").map(ChCommands.keyIdents)
      .getOrElse(info.partCols.toSet)
    val sortKeys = meta.get("order_by").map(ChCommands.keyIdents).getOrElse(Set.empty)
    ChCommands.declaredOrderedFields(spark, table, meta).map { f =>
      Row(f.name, ChCommands.chTypeName(f.dataType), "", "", "",
        if (partKeys.contains(f.name)) 1 else 0,
        if (sortKeys.contains(f.name)) 1 else 0)
    }
  }
}

/** `EXISTS [TABLE] t` / `EXISTS DICTIONARY d` / `EXISTS DATABASE db`
  * — CH's existence probe: one `result` row, 1 or 0 (TINYINT, the
  * CHECK TABLE shape). Resolved AT EXECUTION (the SHOW CREATE
  * discipline): a DROP or CREATE between parse and run answers the
  * truth at run time. Tables cover catalog tables AND temp views,
  * exactly what a migration script's `EXISTS t` guard wants. */
case class ChExistsCommand(name: String, kind: String) extends LeafRunnableCommand {
  import org.apache.spark.sql.types.ByteType
  override val output: Seq[Attribute] =
    Seq(AttributeReference("result", ByteType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    // a name the catalog API itself rejects (unknown catalog prefix,
    // reserved word) is an answerable "no", not an error — EXISTS is
    // CH's probe-without-failing spelling
    val exists = try {
      kind match {
        case "dictionary" => graft.operators.Dictionaries.exists(name)
        case "database"   => spark.catalog.databaseExists(name)
        case "temptable"  => // CH's TEMPORARY form sees ONLY temporary tables
          spark.catalog.tableExists(name) && spark.catalog.getTable(name).isTemporary
        case _            => spark.catalog.tableExists(name)
      }
    } catch { case _: Exception => false }
    Seq(Row(if (exists) 1.toByte else 0.toByte))
  }
}

/** `CHECK TABLE t` — one `result` row, 1/0: the table resolves
  * through the catalog at execution time (CH's CHECK verifies part
  * checksums; parquet footers play that role here and unreadable
  * files surface at scan — this validates the catalog layout without
  * a full data read). A MISSING table throws (CH raises
  * UNKNOWN_TABLE — `EXISTS t` is the probe that never fails), so a
  * health check never conflates "missing" with "broken". Execution-
  * time like EXISTS: the same statement text answers the truth at
  * each run. */
case class ChCheckTableCommand(table: String) extends LeafRunnableCommand {
  import org.apache.spark.sql.types.ByteType
  override val output: Seq[Attribute] =
    Seq(AttributeReference("result", ByteType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val exists = try spark.catalog.tableExists(table) catch { case _: Exception => false }
    if (!exists) throw new IllegalArgumentException(
      s"table '$table' does not exist — ClickHouse CHECK TABLE raises UNKNOWN_TABLE; " +
        s"use EXISTS $table to probe without failing")
    val ok = try { spark.table(table).schema; true } catch { case _: Exception => false }
    Seq(Row(if (ok) 1.toByte else 0.toByte))
  }
}

case class ChCreateJoinTableCommand(
    name: String, strictness: String, kind: String, keyCols: Seq[String],
    innerSql: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    spark.sql(innerSql)
    val schema = spark.table(name).schema
    val missing = keyCols.filterNot(k => schema.fieldNames.contains(k))
    require(missing.isEmpty,
      s"ENGINE = Join key column(s) ${missing.mkString(", ")} not in ${name}'s schema " +
        s"[${schema.fieldNames.mkString(", ")}]")
    val thunk: () => org.apache.spark.sql.DataFrame = () => {
      val df = spark.table(name)
      val others = df.columns.filterNot(keyCols.contains).sorted
      if (others.isEmpty) df.dropDuplicates(keyCols)
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols.map(col): _*)
          .orderBy(others.map(c => col(c).asc_nulls_first): _*)
        df.withColumn("__gr_any", org.apache.spark.sql.functions.row_number().over(w))
          .where(col("__gr_any") === 1).drop("__gr_any")
      }
    }
    graft.operators.Dictionaries.registerJoinTable(name, strictness, kind, keyCols, thunk)
    Seq.empty
  }
}

/** Multi-pair `RENAME TABLE a TO b, c TO d` (round 11): sequential
  * catalog renames, left to right — CH's common swap chains
  * (`a TO tmp, b TO a, tmp TO b`) work. The WHOLE chain is validated
  * BEFORE the first rename so a typo aborts with nothing moved: the
  * simulation tracks which names each pair consumes and produces, so
  * a later pair reusing an already-renamed-away source (`a TO b,
  * a TO c`) or colliding with a still-occupied target fails upfront
  * too — not mid-chain with half the renames applied. */
case class ChRenameTablesCommand(pairs: Seq[(String, String)]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    // simulate the chain over name availability: a source is valid if
    // an earlier pair produced it, or it exists in the catalog and no
    // earlier pair consumed it; a target must not be occupied at its
    // point in the chain (catalog names are case-insensitive)
    val produced = scala.collection.mutable.Set[String]()
    val consumed = scala.collection.mutable.Set[String]()
    for ((a0, b0) <- pairs) {
      val (a, b) = (a0.toLowerCase, b0.toLowerCase)
      val srcOk = produced.contains(a) ||
        (!consumed.contains(a) && spark.catalog.tableExists(a0))
      if (!srcOk) throw new IllegalArgumentException(
        s"RENAME TABLE: source '$a0' does not exist at its point in the chain")
      val tgtTaken = produced.contains(b) ||
        (!consumed.contains(b) && spark.catalog.tableExists(b0))
      if (tgtTaken) throw new IllegalArgumentException(
        s"RENAME TABLE: target '$b0' already exists at its point in the chain")
      produced -= a; consumed += a
      consumed -= b; produced += b
    }
    for ((a, b) <- pairs) spark.sql(s"ALTER TABLE $a RENAME TO $b")
    Seq.empty
  }
}

/** `TRUNCATE TABLE IF EXISTS t` — Spark's TRUNCATE has no IF EXISTS;
  * a missing table is a no-op here (CH semantics). */
case class ChTruncateIfExistsCommand(table: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    if (spark.catalog.tableExists(table)) spark.sql(s"TRUNCATE TABLE $table")
    Seq.empty
  }
}

/** `DROP DICTIONARY [IF EXISTS] name`. */
case class ChDropDictionaryCommand(name: String, ifExists: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(sparkSession: SparkSession): Seq[Row] = {
    val removed = graft.operators.Dictionaries.unregister(name)
    if (!removed && !ifExists)
      throw new IllegalArgumentException(s"dictionary '$name' does not exist")
    Seq.empty
  }
}

/** `ALTER TABLE t MODIFY TTL <expr> [DELETE]` — sets the table's
  * row-expiry rule (ClickHouse metadata semantics: rows where
  * `expr <= now()` are eligible for removal). The expression is
  * validated against the table NOW (fail at DDL time), persisted in
  * the table's [[TableRecord]], and applied by
  * `ALTER TABLE t MATERIALIZE TTL` — which delegates to the same
  * partition-pruned mutate path as ALTER DELETE, so wholly-expired
  * partitions rewrite as units and untouched ones stay byte-identical.
  * (ClickHouse applies TTL lazily on merges; MATERIALIZE is its
  * explicit-apply spelling, and the only deterministic one.) */
case class ChModifyTtlCommand(table: String, ttlExpr: String,
                              whereCond: Option[String] = None,
                              groupKeys: Seq[String] = Nil,
                              sets: Seq[(String, String)] = Nil) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(sparkSession: SparkSession): Seq[Row] = {
    val info = ChCommands.resolve(sparkSession, table)
    // the expiry predicate (and WHERE scope) must resolve against the
    // current schema NOW — fail at DDL time, not first MATERIALIZE
    val data = ChCommands.readData(sparkSession, table, info.path)
    data.where(expr(ChCommands.ttlPredicateSql(ttlExpr, whereCond)))
      .queryExecution.analyzed
    if (groupKeys.nonEmpty) // the rollup must build too
      ChCommands.ttlRollup(data, groupKeys, sets, info.partCols).queryExecution.analyzed
    TableRecord.update(sparkSession, info.path)(
      _ -- ChCommands.TtlKeys ++ ChCommands.ttlEntries(ttlExpr, whereCond, groupKeys, sets))
    Seq.empty
  }
}

/** `ALTER TABLE t REMOVE TTL` — clears the expiry rule (no-op when none). */
case class ChRemoveTtlCommand(table: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(sparkSession: SparkSession): Seq[Row] = {
    val info = ChCommands.resolve(sparkSession, table)
    TableRecord.update(sparkSession, info.path)(_ -- ChCommands.TtlKeys)
    Seq.empty
  }
}

/** `ALTER TABLE t MATERIALIZE TTL` — applies the stored rule now.
  * DELETE rules (with or without a WHERE scope) route to the
  * partition-pruned mutate path; GROUP BY rules collapse the expired
  * rows into one row per group (SET columns by their declared
  * aggregates, other non-key columns by `min` — the deterministic
  * stand-in for ClickHouse's `any`) via a whole-table rewrite
  * preserving the partition layout. */
case class ChMaterializeTtlCommand(table: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = ChCommands.reportSchema
  override def run(sparkSession: SparkSession): Seq[Row] = {
    val info = ChCommands.resolve(sparkSession, table)
    val (ttl, whereCond, groupKeys, sets) =
      ChCommands.ttlRule(TableRecord.read(sparkSession, info.path)).getOrElse(
        throw new IllegalArgumentException(
          s"table '$table' has no TTL; set one with ALTER TABLE $table MODIFY TTL <expr>"))
    val predSql = ChCommands.ttlPredicateSql(ttl, whereCond)
    if (groupKeys.isEmpty)
      ChAlterMutateCommand(table, predSql, Nil).run(sparkSession)
    else {
      val data = ChCommands.readData(sparkSession, table, info.path)
      val pred = expr(predSql)
      // one stats pass instead of a count job: `changed` (pred TRUE)
      // decides the rewrite, `nullPred` guards the MSCK skip below —
      // rows whose TTL predicate evaluates to NULL are dropped by
      // BOTH where(pred) and where(!pred), so a partition holding
      // only NULL-pred rows vanishes from the rewritten root while
      // its catalog entry would survive a cache-only resync
      val st = data.agg(
        coalesce(sum(when(pred, 1L).otherwise(0L)), lit(0L)),
        coalesce(sum(when(pred.isNull, 1L).otherwise(0L)), lit(0L))).head()
      val (changed, nullPred) = (st.getLong(0), st.getLong(1))
      if (changed == 0) Seq(Row(1L, 0L, 0L))
      else {
        val rolled = ChCommands.ttlRollup(data.where(pred), groupKeys, sets, info.partCols)
        val out = data.where(!pred).unionByName(
          rolled.select(data.columns.toIndexedSeq.map(col): _*))
        val tmp = info.path.stripSuffix("/") + "__graft_mutating"
        val w = out.write.mode("overwrite")
        (if (info.partCols.nonEmpty) w.partitionBy(info.partCols: _*) else w).parquet(tmp)
        ChCommands.swapInPlace(sparkSession, tmp, info.path)
        // the rollup emits one row per (partition cols ++ keys) group,
        // so with no NULL-pred rows every affected partition re-lands
        // and the set is unchanged — cache refresh only. NULL-pred
        // rows CAN empty a partition (dropped by both branches), so
        // only then pay the MSCK walk.
        ChCommands.resync(sparkSession, table,
          partitioned = info.partCols.nonEmpty && nullPred > 0)
        Seq(Row(1L, 1L, changed))
      }
    }
  }
}

/** `ALTER TABLE t ADD PROJECTION p (SELECT k…, agg(x)… GROUP BY k…)`
  * — an AGGREGATE projection, built EAGERLY from the current data
  * (ClickHouse builds for future parts and backfills on MATERIALIZE;
  * a recompute engine's eager build is the deterministic equivalent).
  * The projection lands in a SIBLING directory
  * `<table>__graft_proj_<name>/` (outside the base table's own
  * parquet walk) with a record entry binding (name, keys, states) to a
  * CONTENT FINGERPRINT of the base data; [[ProjectionAutoUse]] swaps
  * matching aggregates onto the projection only while the
  * fingerprint holds, so later inserts/mutations silently fall back
  * to base until re-MATERIALIZEd — never stale reads.
  * Sort-order projections (no GROUP BY) refuse toward
  * [[graft.operators.Projections]], whose root layout owns that
  * shape. */
case class ChAddProjectionCommand(table: String, name: String, body: String,
                                  ifNotExists: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(sparkSession: SparkSession): Seq[Row] = {
    val info = ChCommands.resolve(sparkSession, table)
    if (ChCommands.tableProjections(sparkSession, info.path).exists(_.name == name)) {
      if (ifNotExists) return Seq.empty
      throw new IllegalArgumentException(s"projection '$name' already exists on $table")
    }
    // sort-order projection (round 11): `SELECT * ORDER BY k1, k2` —
    // the same rows in an alternate sort layout (a sibling dir,
    // range-partitioned + sorted), so parquet row-group min/max stats
    // prune decode work for leading-key predicates; SortProjectionUse
    // swaps the scan transparently while the fingerprint holds.
    // ClickHouse's sparse-primary-index projection, Spark-shaped.
    // Round 14: `SELECT a, b ORDER BY b` stores a COLUMN SUBSET (CH
    // projections can store subsets) — the layout holds only the
    // listed columns and auto-use engages only when every column the
    // query touches is in the subset, so at 100 TB a second sort
    // order costs a few hot columns, not a full table copy.
    """(?is)^\s*SELECT\s+(.*?)\s+ORDER\s+BY\s+(.*?)\s*$""".r.findFirstMatchIn(body) match {
      case Some(sm) if !"""(?i)\bGROUP\s+BY\b""".r.findFirstIn(body).isDefined =>
        val keys = sm.group(2).split(",")
          .map(_.trim.stripPrefix("`").stripSuffix("`")).toSeq
        val sel = sm.group(1).trim
        val cols =
          if (sel == "*") Nil
          else {
            val cs = sel.split(",").map(_.trim.stripPrefix("`").stripSuffix("`")).toSeq
            require(cs.nonEmpty && cs.forall(c => c.nonEmpty && !c.contains("(")),
              s"sort-order projection columns must be bare column names, got: $sel")
            val missingKeys = keys.filterNot(cs.contains)
            if (missingKeys.nonEmpty) throw new IllegalArgumentException(
              s"sort-order projection '$name': ORDER BY column(s) ${missingKeys.mkString(", ")} " +
                "must appear in the SELECT list (they are part of the stored subset)")
            cs
          }
        ChCommands.writeProjection(sparkSession, table, info.path, name, keys, Nil, cols)
        return Seq.empty
      case _ =>
    }
    val m = """(?is)^\s*SELECT\s+(.*?)\s+GROUP\s+BY\s+(.*?)\s*$""".r.findFirstMatchIn(body)
      .getOrElse(throw new UnsupportedOperationException(
        "projections execute as AGGREGATE (SELECT … GROUP BY …) or SORT " +
          "(SELECT * ORDER BY …) forms"))
    val keys = m.group(2).split(",").map(_.trim.stripPrefix("`").stripSuffix("`")).toSeq
    val items = m.group(1).split(",").map(_.trim).toSeq
    val states: Seq[(String, String, String)] = items.flatMap { it =>
      val fm = """(?i)^(count|sum|min|max)\s*\(\s*(\*|`?[\w]*`?)\s*\)$""".r.findFirstMatchIn(it)
      fm match {
        case Some(f) =>
          val func = f.group(1).toLowerCase
          val src = f.group(2).stripPrefix("`").stripSuffix("`") match {
            case "*" | "" => ""
            case c => c
          }
          if (func != "count" && src.isEmpty)
            throw new IllegalArgumentException(s"projection state '$it' needs a column")
          Some((if (func == "count") "__cnt" else s"__${func}_$src", func, src))
        case None =>
          val bare = it.stripPrefix("`").stripSuffix("`")
          if (!keys.contains(bare)) throw new UnsupportedOperationException(
            s"projection item '$it': only grouping keys and count/sum/min/max states " +
              "are modeled (ClickHouse's own projection restrictions are similar)")
          None
      }
    }
    if (states.isEmpty) throw new IllegalArgumentException(
      "an aggregate projection needs at least one aggregate state")
    ChCommands.writeProjection(sparkSession, table, info.path, name, keys, states)
    Seq.empty
  }
}

/** `ALTER TABLE t MATERIALIZE PROJECTION p` — rebuild from current
  * data and re-pin the fingerprint (the explicit refresh after
  * inserts/mutations). */
case class ChMaterializeProjectionCommand(table: String, name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(sparkSession: SparkSession): Seq[Row] = {
    val info = ChCommands.resolve(sparkSession, table)
    val sp = ChCommands.tableProjections(sparkSession, info.path).find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"projection '$name' does not exist on $table"))
    ChCommands.writeProjection(sparkSession, table, info.path, sp.name, sp.keys, sp.states, sp.cols)
    Seq.empty
  }
}

/** `ALTER TABLE t DROP PROJECTION [IF EXISTS] p` / `CLEAR PROJECTION p`
  * — DROP removes data + record entry; CLEAR removes only the data
  * (the declaration stays; auto-use skips until re-MATERIALIZE). */
case class ChDropProjectionCommand(table: String, name: String, ifExists: Boolean,
                                   clearOnly: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(sparkSession: SparkSession): Seq[Row] = {
    val info = ChCommands.resolve(sparkSession, table)
    val specs = ChCommands.tableProjections(sparkSession, info.path)
    if (!specs.exists(_.name == name)) {
      if (ifExists) return Seq.empty
      throw new IllegalArgumentException(s"projection '$name' does not exist on $table")
    }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(info.path), sparkSession.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(ChCommands.projDataPath(info.path, name)), true)
    if (!clearOnly) TableRecord.update(sparkSession, info.path)(_ - s"projection.$name")
    ChCommands.invalidateProjectionCache(info.path)
    Seq.empty
  }
}

/** The SYSTEM statements with a real single-engine action:
  * `SYSTEM RELOAD DICTIONARY [name] / DICTIONARIES` drops cached
  * dictionary closure rows (sources are thunks, so data freshness is
  * already per-plan — this clears the hierarchy-walk caches), and
  * `SYSTEM DROP MARK|UNCOMPRESSED|FILESYSTEM|QUERY CACHE` clears
  * Spark's cached relations — the closest in-engine analogs of CH's
  * cache administration. Every other SYSTEM form refuses at parse. */
case class ChSystemCommand(reloadDict: Option[Option[String]] = None,
                           dropCache: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(sparkSession: SparkSession): Seq[Row] = {
    reloadDict.foreach(graft.operators.Dictionaries.reload)
    if (dropCache) {
      sparkSession.catalog.clearCache()
      // also the projection-auto-use fingerprint cache: in-place
      // external overwrites are invisible to its shallow signature
      ChCommands.invalidateFingerprintCache()
    }
    Seq.empty
  }
}

/** `SELECT … INTO OUTFILE 'path' [FORMAT f]` — the console/script
  * export statement, EXECUTED: the inner query re-enters the full
  * dialect, the result persists once (one compute serves both the
  * row count and the write), and lands as ONE regular file at exactly
  * `path` — the reference's contract, which a migrated script then
  * opens as a plain CSV/JSON/parquet file. The write funnels through
  * a single task (coalesce(1) into a temp dir, rename the part file)
  * ON PURPOSE: INTO OUTFILE is the console export of a result small
  * enough to hand to one consumer; bulk landings go through the
  * partitioned writers, not this statement. Format names resolve
  * through [[ChInsertIngest.canonicalFormat]] — ONE map shared with
  * the INSERT-ingestion commands (Parquet default, CSV[WithNames],
  * TSV/TabSeparated[WithNames], JSONEachRow, ORC, Native→Parquet;
  * others refuse loudly with the supported list), so the q29u
  * OUTFILE → INFILE round trip holds by construction. Existing
  * output is overwritten — re-running an export script must
  * converge, not fail. */
case class ChIntoOutfileCommand(innerSql: String, path: String,
                                format: Option[String],
                                compression: Option[String] = None,
                                level: Option[Int] = None) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("rows_written", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    // one shared name map with the INSERT-ingestion commands —
    // export and import stay symmetric by construction (the q29u
    // OUTFILE → INFILE round trip depends on it)
    val fmt = format.map(ChInsertIngest.canonicalFormat(_, "INTO OUTFILE"))
      .getOrElse("Parquet")
    val codec = compression.map(_.toLowerCase).filterNot(_ == "none")
    // COMPRESSION applies to the TEXT formats (round 19): the
    // binary formats carry their own internal codecs, and a
    // double-compressed parquet is a trap, not a feature
    codec.foreach { c =>
      if (!(fmt.startsWith("CSV") || fmt.startsWith("TSV") ||
            fmt == "TabSeparated" || fmt == "TabSeparatedWithNames" ||
            fmt == "JSONEachRow"))
        throw new UnsupportedOperationException(
          s"INTO OUTFILE COMPRESSION '$c' FORMAT $fmt: compression applies to the text " +
            s"formats; $fmt is internally compressed — use its own codec options")
    }
    if (codec.isEmpty && level.isDefined) throw new IllegalArgumentException(
      "INTO OUTFILE LEVEL needs a COMPRESSION type to apply to")
    // Row count observed IN the export pass (`Dataset.observe`) — one
    // compute serves both the count and the write; the previous shape
    // paid persist + count + write. The Arrow formats are the
    // exception: their writer executes at RDD level
    // (ArrowIpc.writeDir's queryExecution.toRdd), which never fires
    // the QueryExecutionListener an Observation waits on — they keep
    // the persist + count shape rather than hang on obs.get.
    val inner = spark.sql(innerSql).coalesce(1)
    val arrowFmt = fmt == "Arrow" || fmt == "ArrowStream"
    val obs = new org.apache.spark.sql.Observation()
    val df =
      if (arrowFmt) inner.persist()
      else inner.observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("rows"))
    try {
      val arrowCount = if (arrowFmt) df.count() else 0L
      val out = new org.apache.hadoop.fs.Path(path)
      val fs = out.getFileSystem(spark.sessionState.newHadoopConf())
      val tmp = new org.apache.hadoop.fs.Path(path + "__graft_outfile_tmp")
      fs.delete(tmp, true)
      try {
        graft.sources.Formats.write(df, tmp.toString, fmt)
        val part = fs.listStatus(tmp).map(_.getPath)
          .find(_.getName.startsWith("part-"))
        fs.delete(out, true)
        (part, codec) match {
          case (Some(p), None) => fs.rename(p, out)
          case (Some(p), Some(c)) =>
            val is = fs.open(p)
            val raw = fs.create(out, true)
            val os = ChOutfileCompression.wrap(raw, c, level, "INTO OUTFILE")
            try {
              val buf = new Array[Byte](64 * 1024)
              var r = is.read(buf)
              while (r >= 0) { if (r > 0) os.write(buf, 0, r); r = is.read(buf) }
            } finally { os.close(); is.close() }
          case (None, _) => fs.create(out, true).close() // empty result, no part file
        }
      } finally fs.delete(tmp, true)
      Seq(Row(if (arrowFmt) arrowCount else obs.get("rows").asInstanceOf[Long]))
    } finally if (arrowFmt) { df.unpersist(); () }
  }
}

/** Compression codecs for `INTO OUTFILE … COMPRESSION 'c' [LEVEL n]`
  * and `FROM INFILE … COMPRESSION 'c'` (round 19) — the stock-JVM +
  * Spark-classpath set: gzip / deflate (java.util.zip, levels 1-9),
  * zstd (zstd-jni, levels 1-22), lz4 frame (lz4-java, no level
  * dial — LEVEL with lz4 refuses rather than silently ignoring).
  * br / xz / bz2 have no codec on this classpath and refuse naming
  * the supported set. */
private[plans] object ChOutfileCompression {
  private def badLevel(c: String, n: Int, range: String, ctx: String): Nothing =
    throw new IllegalArgumentException(s"$ctx COMPRESSION '$c' LEVEL $n: valid levels are $range")

  def wrap(os: java.io.OutputStream, codec: String, level: Option[Int],
           ctx: String): java.io.OutputStream = codec match {
    case "gzip" =>
      val lv = level.getOrElse(java.util.zip.Deflater.DEFAULT_COMPRESSION)
      if (level.exists(l => l < 1 || l > 9)) badLevel(codec, level.get, "1-9", ctx)
      new java.util.zip.GZIPOutputStream(os) { `def`.setLevel(lv) }
    case "deflate" =>
      if (level.exists(l => l < 1 || l > 9)) badLevel(codec, level.get, "1-9", ctx)
      new java.util.zip.DeflaterOutputStream(os,
        new java.util.zip.Deflater(level.getOrElse(java.util.zip.Deflater.DEFAULT_COMPRESSION)))
    case "zstd" =>
      if (level.exists(l => l < 1 || l > 22)) badLevel(codec, level.get, "1-22", ctx)
      val z = new com.github.luben.zstd.ZstdOutputStream(os)
      level.foreach(z.setLevel)
      z
    case "lz4" =>
      if (level.isDefined) throw new UnsupportedOperationException(
        s"$ctx COMPRESSION 'lz4' has no LEVEL dial in the lz4 frame codec here — drop LEVEL " +
          "or pick gzip/zstd")
      new net.jpountz.lz4.LZ4FrameOutputStream(os)
    case other => throw new UnsupportedOperationException(
      s"$ctx COMPRESSION '$other': supported here are none, gzip, deflate, zstd, lz4")
  }

  def unwrap(is: java.io.InputStream, codec: String, ctx: String): java.io.InputStream =
    codec match {
      case "gzip"    => new java.util.zip.GZIPInputStream(is)
      case "deflate" => new java.util.zip.InflaterInputStream(is)
      case "zstd"    => new com.github.luben.zstd.ZstdInputStream(is)
      case "lz4"     => new net.jpountz.lz4.LZ4FrameInputStream(is)
      case other => throw new UnsupportedOperationException(
        s"$ctx COMPRESSION '$other': supported here are none, auto, gzip, deflate, zstd, lz4")
    }
}

/** Shared assembly for the INSERT-ingestion commands (round 16). */
private[plans] object ChInsertIngest {
  import org.apache.spark.sql.types._

  /** FORMAT name (any case) → the canonical [[graft.sources.Formats]]
    * name, refusing loudly with the supported list — the same
    * contract as INTO OUTFILE's writer map. */
  def canonicalFormat(name: String, context: String): String =
    name.toLowerCase match {
      case "csv"                             => "CSV"
      case "csvwithnames"                    => "CSVWithNames"
      case "tsv" | "tabseparated"            => "TSV"
      case "tsvwithnames" | "tabseparatedwithnames" => "TSVWithNames"
      case "jsoneachrow" | "ndjson"          => "JSONEachRow"
      case "parquet" | "native"              => "Parquet"
      case "orc"                             => "ORC"
      case "arrow"                           => "Arrow"
      case "arrowstream"                     => "ArrowStream"
      case other => throw new UnsupportedOperationException(
        s"$context FORMAT $other: supported here are Parquet, CSV[WithNames], " +
          "TSV/TabSeparated[WithNames], JSONEachRow, ORC, Arrow, ArrowStream")
    }

  /** FORMAT omitted → infer from the file extension (CH's own rule);
    * unrecognized extensions refuse toward an explicit FORMAT. */
  def inferFormat(path: String): String = {
    val ext = path.substring(path.lastIndexOf('.') + 1).toLowerCase
    ext match {
      case "csv"                      => "CSV"
      case "tsv"                      => "TSV"
      case "json" | "ndjson" | "jsonl" => "JSONEachRow"
      case "parquet"                  => "Parquet"
      case "orc"                      => "ORC"
      case "arrow"                    => "Arrow"
      case "arrows"                   => "ArrowStream"
      case _ => throw new IllegalArgumentException(
        s"INSERT FROM INFILE: cannot infer a format from '$path' — add FORMAT <f> " +
          "(Parquet, CSV[WithNames], TSV/TabSeparated[WithNames], JSONEachRow, ORC, " +
          "Arrow, ArrowStream)")
    }
  }

  /** Split an inline CSV payload into records, honoring quoting: a
    * newline INSIDE a quoted field belongs to the field, not the
    * record boundary (the naive line split would cut it into two
    * malformed rows). The `""` escape toggles the quote state twice —
    * a no-op, which is exactly right. */
  def splitCsvRecords(body: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQ = false
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (c == '"') { inQ = !inQ; cur += c }
      else if (!inQ && (c == '\n' || c == '\r')) {
        if (c == '\r' && i + 1 < body.length && body.charAt(i + 1) == '\n') i += 1
        out += cur.result(); cur.clear()
      } else cur += c
      i += 1
    }
    out += cur.result()
    out.result()
  }

  /** The CH type default for a column the INSERT did not list (CH
    * fills 0 / '' / epoch; the catalog does not retain Nullable, so
    * the non-null type default applies — the ADD COLUMN convention). */
  private def defaultLit(f: StructField): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.lit
    f.dataType match {
      case _: StringType => lit("")
      case BooleanType   => lit(false)
      case DateType | TimestampType | TimestampNTZType =>
        lit("1970-01-01 00:00:00").cast(f.dataType)
      case dt => lit(0).cast(dt)
    }
  }

  /** The file/payload's schema: the listed columns' target types in
    * the LISTED order (positional formats read by position, JSON by
    * name — both served by the same StructType). */
  def fileSchema(spark: SparkSession, table: String, cols: Seq[String]): StructType = {
    val tschema = spark.table(table).schema
    val listed = if (cols.isEmpty) tschema.fieldNames.toSeq else cols
    val missing = listed.filterNot(n => tschema.fieldNames.contains(n))
    if (missing.nonEmpty) throw new IllegalArgumentException(
      s"INSERT INTO $table: column(s) ${missing.mkString(", ")} not in the table's " +
        s"schema [${tschema.fieldNames.mkString(", ")}]")
    StructType(listed.map(n => tschema(n)))
  }

  /** Append `df` (carrying the listed columns) into `table`: unlisted
    * columns fill with CH type defaults, everything casts to the
    * target type, the write goes positionally in catalog order (the
    * order insertInto expects — partition columns last). Returns the
    * inserted row count, observed IN the write pass
    * (`Dataset.observe`) — the previous persist → count → write shape
    * paid a whole extra job plus cache residency per INSERT just for
    * the count. */
  def appendInto(spark: SparkSession, table: String, cols: Seq[String],
                 df: org.apache.spark.sql.DataFrame): Long = {
    val tschema = spark.table(table).schema
    val listed = if (cols.isEmpty) tschema.fieldNames.toSeq else cols
    val full = tschema.fields.toSeq.map { f =>
      if (listed.contains(f.name)) org.apache.spark.sql.functions.col(f.name).cast(f.dataType).as(f.name)
      else defaultLit(f).as(f.name)
    }
    val obs = new org.apache.spark.sql.Observation()
    df.select(full: _*)
      .observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("rows"))
      .write.mode("append").insertInto(table)
    obs.get("rows").asInstanceOf[Long]
  }
}

/** `INSERT INTO t [(cols)] FROM INFILE 'path' [COMPRESSION 'c']
  * [FORMAT f]` EXECUTED — the import twin of INTO OUTFILE: the file
  * reads through [[graft.sources.Formats]] with the TARGET table's
  * column types (no schema inference drift), unlisted columns fill
  * with CH type defaults, and the rows append to the table. FORMAT
  * omitted infers from the extension (CH's rule). COMPRESSION beyond
  * 'none' refuses (no codecs wired here); 'auto' and 'none' pass. */
case class ChInsertFromInfileCommand(table: String, cols: Seq[String], path: String,
    format: Option[String], compression: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("rows_inserted", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val codec = compression.map(_.toLowerCase)
      .filterNot(c => c == "none" || c == "auto")
    // strip a compression extension before inferring the format:
    // CH spells the round trip `INTO OUTFILE 'x.csv.gz' COMPRESSION
    // 'gzip'` / `FROM INFILE 'x.csv.gz' COMPRESSION 'gzip'`
    val inferPath = codec.fold(path)(_ =>
      path.replaceAll("""(?i)\.(gz|zst|lz4|deflate)$""", ""))
    val fmt = format.map(ChInsertIngest.canonicalFormat(_, "INSERT FROM INFILE"))
      .getOrElse(ChInsertIngest.inferFormat(inferPath))
    val schema = ChInsertIngest.fileSchema(spark, table, cols)
    val df = codec match {
      case None =>
        // strict read: malformed rows / failed conversions refuse (CH
        // rejects bad input rows); *WithNames map by HEADER NAME.
        // 'auto' rides the native reader: Spark's text sources
        // decompress by extension (.gz etc.) on their own
        graft.sources.Formats.readIngest(spark, path, fmt, schema, "INSERT FROM INFILE")
      case Some(c) =>
        // explicit codec (round 19, the OUTFILE COMPRESSION twin):
        // text formats only — decompress the single console-scale
        // file, split records, and parse through the same strict
        // reader as the inline-payload path
        if (fmt == "Parquet" || fmt == "ORC" || fmt.startsWith("Arrow"))
          throw new UnsupportedOperationException(
            s"INSERT FROM INFILE COMPRESSION '$c' FORMAT $fmt: explicit compression applies " +
              s"to the text formats; $fmt is internally compressed")
        val in = new org.apache.hadoop.fs.Path(path)
        val fs = in.getFileSystem(spark.sessionState.newHadoopConf())
        val is = ChOutfileCompression.unwrap(fs.open(in), c, "INSERT FROM INFILE")
        val body = try new String(is.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
                   finally is.close()
        val lines = (if (fmt.startsWith("CSV")) ChInsertIngest.splitCsvRecords(body)
                     else body.split("\r?\n").toSeq).filter(_.trim.nonEmpty)
        import spark.implicits._
        graft.sources.Formats.parseIngest(spark, spark.createDataset(lines), fmt, schema,
          "INSERT FROM INFILE")
    }
    Seq(Row(ChInsertIngest.appendInto(spark, table, cols, df)))
  }
}

/** `INSERT INTO t [(cols)] FORMAT f⏎rows…` EXECUTED for the text
  * formats: the inline payload parses DISTRIBUTED (Dataset[String]
  * through the same reader options as INFILE — no driver temp file,
  * so the statement works identically on a cluster). Binary formats
  * (Parquet/ORC) can't ride SQL text and refuse toward FROM INFILE;
  * a missing payload (the native-protocol shape, where rows arrive
  * out-of-band) refuses with the same route. */
case class ChInsertInlineFormatCommand(table: String, cols: Seq[String],
    format: String, payload: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("rows_inserted", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val fmt = ChInsertIngest.canonicalFormat(format, "INSERT INTO … FORMAT")
    if (fmt == "Parquet" || fmt == "ORC" || fmt.startsWith("Arrow"))
      throw new UnsupportedOperationException(
        s"INSERT INTO … FORMAT $fmt carries binary rows that cannot ride SQL text — " +
          s"land the file and use INSERT INTO $table FROM INFILE '<path>' FORMAT $fmt")
    val body = payload.getOrElse(throw new UnsupportedOperationException(
      s"INSERT INTO $table FORMAT $fmt has no inline rows: the native/HTTP protocols " +
        "carry the payload out-of-band — append the rows after the statement " +
        s"(client-script shape), or land them as a file and use INSERT INTO $table " +
        s"FROM INFILE '<path>' FORMAT $fmt"))
    val schema = ChInsertIngest.fileSchema(spark, table, cols)
    // CSV records split quote-aware (a quoted field may embed a
    // newline — a naive line split would cut it into two malformed
    // rows); TSV has no quoting and JSONEachRow escapes newlines
    // inside strings, so the plain split is exact there
    val lines = (if (fmt.startsWith("CSV")) ChInsertIngest.splitCsvRecords(body)
                 else body.split("\r?\n").toSeq).filter(_.trim.nonEmpty)
    import spark.implicits._
    val ds = spark.createDataset(lines)
    val df = graft.sources.Formats.parseIngest(spark, ds, fmt, schema, "INSERT INTO …")
    Seq(Row(ChInsertIngest.appendInto(spark, table, cols, df)))
  }
}
