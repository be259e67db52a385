package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Row computation for the ClickHouse `system.*` introspection tables
  * — shared by [[GraftSystemCatalog]] (the DataSourceV2 catalog that
  * serves `FROM system.tables` & co.) and resolved AT EXECUTION, the
  * same staleness discipline SHOW CREATE / DESCRIBE / EXISTS follow:
  * a DROP or CREATE between parse and run answers the truth at run
  * time (rounds 15-16 moved the command surfaces there; round 17
  * moves the relations — they were parse-time VALUES inlining
  * before, which froze the catalog snapshot into the plan text).
  *
  * Values are plain JVM types matching each schema below; the
  * V2 LocalScan converts them to InternalRows on the driver.
  */
object SystemViews {

  val schemas: Map[String, StructType] = Map(
    "databases" -> StructType(Seq(StructField("name", StringType))),
    "tables" -> StructType(Seq(
      StructField("database", StringType), StructField("name", StringType),
      StructField("engine", StringType))),
    "functions" -> StructType(Seq(
      StructField("name", StringType), StructField("is_aggregate", IntegerType),
      StructField("origin", StringType))),
    "dictionaries" -> StructType(Seq(
      StructField("name", StringType), StructField("key", StringType),
      StructField("hierarchical", IntegerType))),
    "parts" -> StructType(Seq(
      StructField("database", StringType), StructField("table", StringType),
      StructField("partition", StringType), StructField("part_count", LongType),
      StructField("bytes_on_disk", LongType), StructField("rows", LongType))),
    "columns" -> StructType(Seq(
      StructField("database", StringType), StructField("table", StringType),
      StructField("name", StringType), StructField("type", StringType),
      StructField("position", IntegerType),
      StructField("is_in_partition_key", IntegerType),
      StructField("is_in_sorting_key", IntegerType))),
    // CH's index-introspection table, restricted to what this engine
    // models: vector_similarity indexes (skip indexes have no analog —
    // parquet row-group stats serve that role on every scan).
    // data_compressed_bytes = the IVF sibling layout's on-disk size,
    // 0 while declared-unbuilt.
    "data_skipping_indices" -> StructType(Seq(
      StructField("database", StringType), StructField("table", StringType),
      StructField("name", StringType), StructField("type", StringType),
      StructField("expr", StringType),
      StructField("data_compressed_bytes", LongType))),
    // CH's cumulative ProfileEvents counters, for what graft counts
    // (see `events`)
    "events" -> StructType(Seq(
      StructField("event", StringType), StructField("value", LongType),
      StructField("description", StringType))),
    // one row per finished SQL execution, from the statement recorder
    // (graft.QueryLog); ClickHouse's column names where one maps
    "query_log" -> StructType(
      Seq(StructField("type", StringType), StructField("event_time", TimestampType),
        StructField("query_duration_ms", LongType)) ++
      Seq("query_id", "query", "exception", "job_group").map(StructField(_, StringType)) ++
      Seq("parsing_ms", "analysis_ms", "optimization_ms", "planning_ms", "read_rows",
        "read_bytes", "jobs", "stages", "tasks", "executor_cpu_ms", "shuffle_read_bytes",
        "shuffle_write_bytes", "memory_bytes_spilled", "disk_bytes_spilled")
        .map(StructField(_, LongType))))

  /** Optional pruning hints from pushed-down EqualTo filters on the
    * (database, table) columns — Spark re-applies every filter above
    * the scan regardless (the scan reports them as residual), so the
    * restriction is purely a work-saver: `system.parts WHERE table =
    * 'x'` walks ONE table's directories and footers instead of every
    * MergeTree table's. */
  final case class Restrict(database: Option[String] = None, table: Option[String] = None) {
    def keeps(d: String, n: String): Boolean =
      database.forall(_ == d) && table.forall(_ == n)
  }

  def rows(view: String, spark: SparkSession, r: Restrict = Restrict()): Seq[Seq[Any]] = view match {
    case "databases"    => databases(spark)
    case "tables"       => tables(spark)
    case "functions"    => functions()
    case "dictionaries" => dictionaries()
    case "parts"        => parts(spark, r)
    case "columns"      => columns(spark, r)
    case "data_skipping_indices" => dataSkippingIndices(spark, r)
    case "events"       => events()
    case "query_log"    => queryLog(spark)
    case other => throw new IllegalArgumentException(s"unknown system view '$other'")
  }

  /** system.data_skipping_indices — one row per declared vector index
    * (round 19): read from each MergeTree table's record
    * ([[TableRecord]]); bytes from the sibling IVF layout when built.
    * The (database, table) Restrict prunes the record walk like
    * parts/columns. */
  private def dataSkippingIndices(spark: SparkSession, r: Restrict): Seq[Seq[Any]] =
    catalogTables(spark)
      .filter { case (d, n, e) => e == "MergeTree" && r.keeps(d, n) }
      .flatMap { case (d, n, _) =>
        try {
          val path = ChCommands.resolve(spark, n).path
          VectorIndex.indexes(spark, path).map { s =>
            val bytes =
              if (!s.built) 0L
              else try {
                val sib = new org.apache.hadoop.fs.Path(VectorIndex.siblingPath(path, s.name))
                sib.getFileSystem(spark.sparkContext.hadoopConfiguration)
                  .getContentSummary(sib).getLength
              } catch { case _: Exception => 0L }
            Seq[Any](d, n, s.name, "vector_similarity", s.column, bytes)
          }
        } catch { case _: Exception => Nil }
      }

  private def databases(spark: SparkSession): Seq[Seq[Any]] =
    spark.catalog.listDatabases().collect().toSeq.map(db => Seq(db.name))

  /** (database, name, engine) for every catalog table and temp view —
    * temp views report engine View with an empty database, catalog
    * tables MergeTree (the engine every landed table gets here). */
  private[plans] def catalogTables(spark: SparkSession): Seq[(String, String, String)] =
    spark.catalog.listDatabases().collect().toSeq.flatMap { db =>
      spark.catalog.listTables(db.name).collect().toSeq.map { t =>
        val database =
          if (t.isTemporary) "" else Option(t.namespace).map(_.mkString(".")).getOrElse(db.name)
        val engine = if (t.isTemporary || t.tableType == "VIEW") "View" else "MergeTree"
        (database, t.name, engine)
      }
    }.distinct

  private def tables(spark: SparkSession): Seq[Seq[Any]] =
    catalogTables(spark).map { case (d, n, e) => Seq(d, n, e) }

  /** Which registered CH functions are aggregates — probed ONCE per
    * JVM by building each registry entry against dummy literal args
    * and checking for an aggregate node in the tree (the registry
    * stores only name → builder, so the tag is derived, not stored).
    * Builders that reject every probe arity default to scalar. */
  private lazy val aggregateFnNames: Set[String] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction}
    ChDialect.functions.iterator.collect { case (n, b)
      if (0 to 3).exists { k =>
        try b(Seq.fill(k)(Literal(1L))).exists {
          case _: AggregateExpression => true
          case _: AggregateFunction => true
          case _ => false
        } catch { case _: Throwable => false }
      } => n
    }.toSet
  }

  /** system.functions: the live ChDialect registry — the surface BI
    * tools and migration scanners enumerate. Every row is a name the
    * session will actually resolve, so the doc can't drift from the
    * code (same discipline as docs/FUNCTIONS.md). */
  private def functions(): Seq[Seq[Any]] =
    ChDialect.functions.map(_._1).distinct.sorted.map { n =>
      Seq(n, if (aggregateFnNames.contains(n)) 1 else 0, "graft")
    }

  /** system.events — cumulative counters since the JVM started, under
    * ClickHouse's ProfileEvents names. Janino compiles of generated
    * classes (Spark's codegen cache misses) stand for CH's compiled
    * expressions: the count from `CodegenMetrics`, the time from
    * `CodeGenerator.compileTime`. */
  private def events(): Seq[Seq[Any]] = Seq(
    Seq("CompileFunction", compiles,
      "Number of generated classes compiled (codegen cache misses)."),
    Seq("CompileExpressionsMicroseconds",
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1000,
      "Total time spent compiling generated classes, in microseconds."))

  /** The `CompileFunction` event: generated classes compiled so far. */
  private[graft] def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** system.query_log — the recorder's entries, oldest first. `type`
    * is ClickHouse's QueryFinish or ExceptionWhileProcessing, and
    * `exception` is empty for a statement that finished.
    * `query_duration_ms` runs from execution start, after physical
    * planning; the planning phases have their own columns. */
  private def queryLog(spark: SparkSession): Seq[Seq[Any]] =
    graft.QueryLog.entries(spark.sparkContext).map { e =>
      val w = e.work
      def phase(p: String): Long = e.phasesMs.getOrElse(p, 0L)
      Seq[Any](if (e.exception.isDefined) "ExceptionWhileProcessing" else "QueryFinish",
        new java.sql.Timestamp(e.eventTimeMs), w.execMs, e.executionId.toString, e.query,
        e.exception.getOrElse(""), e.jobGroup.orNull,
        phase("parsing"), phase("analysis"), phase("optimization"), phase("planning"),
        w.readRows, w.readBytes, w.jobs, w.stages, w.tasks, w.cpuNs / 1000000,
        w.shuffleReadBytes, w.shuffleWriteBytes, w.memoryBytesSpilled, w.diskBytesSpilled)
    }

  private def dictionaries(): Seq[Seq[Any]] =
    graft.operators.Dictionaries.list.map { case (n, k, h) =>
      Seq(n, k, if (h) 1 else 0)
    }

  /** Parquet footer row counts keyed by (path, mtime, length) — a
    * rewritten file misses and re-reads. The view walks EVERY
    * MergeTree table's parts per query, so without the cache a
    * session that has landed big fixture tables pays a footer open
    * per file per system.parts read.
    *
    * Round 18: LRU-bounded (access-ordered LinkedHashMap evicting the
    * eldest past the cap) — the old bound cleared the WHOLE cache at
    * 65536 entries, dumping it exactly when it was most valuable.
    * Cap is package-visible so the eviction spec can exercise it. */
  private[graft] var footerRowCacheMax = 65536
  private[graft] val footerReads = new java.util.concurrent.atomic.AtomicLong()
  private[graft] def footerCacheReset(): Unit = footerRowCache.clear()
  private val footerRowCache: java.util.Map[(String, Long, Long), java.lang.Long] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long, Long), java.lang.Long](1024, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long, Long), java.lang.Long]): Boolean =
          size() > footerRowCacheMax
      })

  /** Bounded-parallel map on the DRIVER. The parts walk is
    * metadata-only by design (CH's own system.parts promise), but one
    * thread × one footer open per uncached file stalls minutes at
    * real part counts — a 100 TB table is 10⁵-10⁶ files. The work is
    * IO-bound (listStatus RPCs, footer reads), so a small fixed pool
    * gets near-linear speedup; the pool is per-call, so no threads
    * leak and nested waves can't deadlock each other. */
  // env-overridable so the rehearsal can measure the serial baseline
  private val footerPoolSize =
    sys.env.get("GRAFT_PARTS_POOL").map(_.toInt).filter(_ > 0).getOrElse(16)
  private def driverPar[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.lengthCompare(1) <= 0) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(footerPoolSize, items.size))
      try {
        val futures = items.map(a => pool.submit(new java.util.concurrent.Callable[B] {
          override def call(): B = f(a)
        }))
        futures.map(_.get())
      } finally pool.shutdown()
    }

  /** system.parts: one row per partition directory (the engine's
    * "part" unit — directories drop/rewrite as units) with file
    * count + bytes from a metadata walk and rows from parquet
    * FOOTERS — metadata reads, the same promise CH's system.parts
    * makes (part row counts come from part metadata, never a scan). */
  private def parts(spark: SparkSession, r: Restrict): Seq[Seq[Any]] =
    catalogTables(spark).filter(_._3 == "MergeTree")
      .filter { case (d, n, _) => r.keeps(if (d.isEmpty) "default" else d, n) }
      .flatMap { case (d, n, _) =>
      try {
        val qualified = if (d.isEmpty) n else s"$d.$n"
        val meta = spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(qualified))
        val hconf = spark.sparkContext.hadoopConfiguration
        val fs = org.apache.hadoop.fs.FileSystem.get(meta.location, hconf)
        val root = new org.apache.hadoop.fs.Path(meta.location)
        def footerRows(st: org.apache.hadoop.fs.FileStatus): Long = {
          val key = (st.getPath.toString, st.getModificationTime, st.getLen)
          val cached = footerRowCache.get(key)
          if (cached != null) cached
          else {
            footerReads.incrementAndGet()
            val n = try {
              val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, hconf)
              val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
              try r.getRecordCount finally r.close()
            } catch { case _: Exception => 0L }
            footerRowCache.put(key, n)
            n
          }
        }
        def listFiles(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] = {
          val (dirs, files) = fs.listStatus(p).toSeq
            .filterNot { st =>
              val nm = st.getPath.getName
              nm.startsWith("_") || nm.startsWith(".")
            }.partition(_.isDirectory)
          files ++ dirs.flatMap(st => listFiles(st.getPath))
        }
        val partDirs: Seq[(String, org.apache.hadoop.fs.Path)] =
          if (meta.partitionColumnNames.nonEmpty)
            fs.listStatus(root).toSeq
              .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_") &&
                !st.getPath.getName.startsWith("."))
              .map(st => (st.getPath.getName, st.getPath))
          else Seq(("all", root))
        // wave 1: enumerate each part's files in parallel (listStatus
        // RPCs); wave 2: open every UNCACHED parquet footer in
        // parallel. The summation below then reads the warm cache.
        val listed = driverPar(partDirs) { case (nm, p) => (nm, listFiles(p)) }
        val uncached = listed.flatMap(_._2).filter { st =>
          st.getPath.getName.endsWith(".parquet") &&
            !footerRowCache.containsKey(
              (st.getPath.toString, st.getModificationTime, st.getLen))
        }
        driverPar(uncached)(footerRows)
        listed.map { case (nm, files) =>
          val bytes = files.map(_.getLen).sum
          val rws = files.filter(_.getPath.getName.endsWith(".parquet")).map(footerRows).sum
          Seq[Any](if (d.isEmpty) "default" else d, n, nm, files.size.toLong, bytes, rws)
        }
      } catch { case _: Exception => Nil }
    }

  /** system.columns with CH's key-membership flags, resolved from the
    * same table record DESCRIBE TABLE reads; engine tables report
    * their columns in DECLARED order (the record's `columns` entry
    * — Spark floats partition columns to the end; DESCRIBE and
    * system.columns agree). Plain tables and views carry 0 flags. */
  private def columns(spark: SparkSession, r: Restrict): Seq[Seq[Any]] =
    catalogTables(spark)
      .filter { case (d, n, _) => r.keeps(d, n) }
      .flatMap { case (d, n, engine) =>
      val qualified = if (d.isEmpty) n else s"$d.$n"
      val (partKeys, sortKeys, declared) =
        if (engine != "MergeTree")
          (Set.empty[String], Set.empty[String], Seq.empty[(String, String)])
        else try {
          val info = ChCommands.resolve(spark, qualified)
          val meta = TableRecord.read(spark, info.path)
          val fields = ChCommands.declaredOrderedFields(spark, qualified, meta)
            .map(f => f.name -> f.dataType.simpleString)
          (meta.get("partition_by").map(ChCommands.keyIdents).getOrElse(info.partCols.toSet),
            meta.get("order_by").map(ChCommands.keyIdents).getOrElse(Set.empty[String]),
            fields)
        } catch { case _: Exception =>
          (Set.empty[String], Set.empty[String], Seq.empty[(String, String)])
        }
      try {
        val cols =
          if (declared.nonEmpty) declared
          else spark.catalog.listColumns(qualified).collect().toSeq
            .map(c => c.name -> c.dataType)
        cols.zipWithIndex.map { case ((cn, ct), i) =>
          Seq[Any](d, n, cn, ChSqlParser.chTypeNameOf(ct), i + 1,
            if (partKeys.contains(cn)) 1 else 0,
            if (sortKeys.contains(cn)) 1 else 0)
        }
      } catch { case _: Exception => Nil }
    }
}
