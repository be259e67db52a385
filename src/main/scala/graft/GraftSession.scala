package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory for the engine.
  *
  * Local defaults mirror the driver harness (local[N], shuffle
  * partitions = cores); the cluster-relevant settings are the point:
  * AQE with skew-join handling and partition coalescing on, a real
  * broadcast threshold, UTC session time. On a 1000-executor cluster
  * only `master` and `shuffle.partitions` change (set partitions ≈
  * 2-3× total cores; AQE coalesces the excess).
  */
object GraftSession {
  /** Broadcast-join threshold — POLICY, not a pinned constant.
    *
    * The round-12 sf10 rehearsal measured the failure of a fixed
    * 64 MB: dim-like join sides (orders at the rehearsal's scale)
    * outgrow it and the star joins silently tip to sort-merge +
    * shuffle, turning 2× queries into 9–15× ones — while the host
    * had gigabytes of unused heap that could have kept them
    * broadcast. So the default derives from the memory actually
    * available: heap/16 (a hashed relation deserializes at ~3-4× its
    * parquet bytes, and driver + one executor copy must coexist with
    * query working memory), floored at the historical 64 MB, capped
    * at 512 MB (past that, shipping the relation to every executor
    * costs more than the shuffle it avoids — at 1000 executors a
    * 512 MB broadcast is half a terabyte of aggregate network; the
    * at-scale answer for bigger dims is the bucketed layout, q15b).
    *
    * The relation is BUILT on executors, so the budget follows the
    * SMALLER of driver heap and configured executor heap: on a
    * cluster with a big driver and 4 GB executors, driver-heap/16
    * would pick a threshold whose hashed relation OOMs every
    * executor task. `spark.executor.memory` comes from the submitted
    * conf (system properties); local mode has none and driver heap
    * IS executor heap. SPARK_GRAFT_BROADCAST_MB overrides the policy
    * outright. */
  private[graft] def broadcastBytes: Long =
    sys.env.get("SPARK_GRAFT_BROADCAST_MB").map(_.toLong * 1024 * 1024).getOrElse {
      val driverHeap = Runtime.getRuntime.maxMemory()
      val executorHeap = scala.util.Try(
        new org.apache.spark.SparkConf(true).getSizeAsBytes("spark.executor.memory")
      ).toOption
      val heap = executorHeap.fold(driverHeap)(math.min(_, driverHeap))
      math.min(math.max(heap / 16, 64L << 20), 512L << 20)
    }

  /** Parquet reader settings, passed to Hadoop as `spark.hadoop.*`.
    *
    * Row groups are pruned by min/max statistics only: the sparse
    * primary index graft's sorted layouts are written for
    * (`MergeTreeWrite`). Parquet's dictionary-level filter is off. It
    * decodes and boxes every dictionary entry of a predicate column
    * into a `HashSet` (`DictionaryFilter.expandDictionary`), per task
    * and per predicate, to prove a value absent — a proof that min/max
    * already gives for the range predicates of the scanner family. In
    * a JFR profile of one benchmark `dashboard` run (date-range scans
    * of a 600k-row lineitem, 4 cores), 39% of the executor threads'
    * samples were in that call, for `l_shipdate`. */
  private[graft] val parquetReadConf: Map[String, String] =
    Map("parquet.filter.dictionary.enabled" -> "false")

  /** Entries in Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`; static, so the first
    * session of a JVM fixes it) — POLICY: well above graft's measured
    * working set.
    *
    * Spark caches a compiled class under its Java source, 100 entries
    * by default (evicted per hash segment, so it thrashes before it is
    * full). Measured on the benchmark inputs, 4 cores: one `pipeline`
    * pass (exact, minhash, simhash, LSH ANN, curate over 4.5k docs and
    * 2.2k vectors) compiles 112 classes when cold, and at 100 entries
    * every later pass recompiled 63–77 of them (about 1 s of Janino
    * per pass, plus C2 warming the new classes); the ten `dashboard`
    * templates compile 71. At 1000 a steady-state pipeline pass
    * compiles none. A cached entry is about 5–6 K chars of source and
    * 2.3 KB of bytecode per class on average (12 KB at most), so a
    * full cache is on the order of 10–15 MB. */
  private[graft] val codegenCacheEntries: Int = 1000

  /** The parquet reader and codegen cache settings and the statement
    * recorder ([[QueryLog]], behind `system.query_log`) as session
    * config; the test session applies the same map. */
  private[graft] def engineConf: Map[String, String] =
    parquetReadConf.map { case (k, v) => s"spark.hadoop.$k" -> v } +
      ("spark.sql.codegen.cache.maxEntries" -> codegenCacheEntries.toString) +
      ("spark.extraListeners" -> classOf[QueryLog].getName)

  def builder(appName: String = "graft",
              master: Option[String] = None,
              shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    // Arrow IPC (FORMAT Arrow/ArrowStream) allocates through
    // arrow-memory-netty; on JDK 9+ netty grants the reflective
    // access Arrow needs only when this is set BEFORE netty's
    // PlatformDependent0 loads. spark-submit injects it
    // (JavaModuleOptions); the driver's bare `java -cp` Verify/Bench
    // invocations do not — so set it here, ahead of the SparkContext
    // (whose RPC layer is what first loads netty in this JVM).
    System.setProperty("io.netty.tryReflectiveSetAccessible", "true")
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // the ClickHouse `system` database as a V2 catalog — resolves
      // system.tables/columns/parts/databases/functions/dictionaries
      // to driver-local scans computed at execution (round 17; was a
      // parse-time VALUES rewrite, which froze the catalog snapshot
      // into the statement text)
      .config("spark.sql.catalog.system", "graft.plans.GraftSystemCatalog")
      .config("spark.sql.shuffle.partitions",
        shufflePartitions.map(_.toString).getOrElse(cores))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Shuffle-partition SCALE policy: shuffles START wide (8× the
      // session's shuffle-partition base — the explicit builder pin
      // when given, else the core count) and AQE coalesces what the
      // data doesn't need. A fixed partition count is a hidden scale
      // dial — the sf100 rehearsal measured big windowed sorts at 32
      // partitions spilling ~0.5 GB/task (the window family ran
      // 16-38× its sf10 time for 10× data), while small SFs coalesce
      // back to the same handful of post-AQE partitions either way.
      // Batch-only by construction: streaming state partitioning
      // reads spark.sql.shuffle.partitions, which stays at the base.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INITIAL_PARTITIONS",
          (shufflePartitions.getOrElse(cores.toInt) * 8).toString))
      .config("spark.sql.autoBroadcastJoinThreshold", broadcastBytes.toString)
      // Honor the per-bucket sort order of bucketed layouts at scan
      // time (off by default since Spark 3.0 because multi-file
      // buckets would need a merge): writeBucketed lands EXACTLY one
      // file per bucket, the single shape the flag is sound for, and
      // without it every bucketed join re-sorts both sides — at the
      // sf100 rehearsal that re-sort was 5× the join itself.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // Building a broadcast relation COLLECTS the side to the
      // driver, and that collect is bounded by maxResultSize — a
      // raised broadcast threshold with the default 1g result cap
      // kills exactly the joins the threshold was raised to keep
      // broadcast (sf100 rehearsal: a ~1.1 GB collect under the
      // 512 MB-threshold policy). Serialized task results run
      // several × the planner's size estimate, so budget 8× the
      // threshold, floored at the 1g default.
      .config("spark.driver.maxResultSize",
        math.max(8L * broadcastBytes, 1L << 30).toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // Shuffle/spill/broadcast block codec — MEASURED both ways at
      // sf100 (guide §2.3: "no universal answer"): zstd shrinks the
      // disk-bound one-time layout builds (q15b bucket landing
      // 218.8 → 152.7 s, shuffle write 30.6 → 20.9 GB) but costs the
      // CPU-bound query-path shuffles up to 2.4× (text family
      // isolated total 157 → 235 s; q46 43 → 103 s). Query paths are
      // the product, so the local default stays lz4; on a cluster
      // whose shuffles are NETWORK-bound the byte ratio wins and
      // SPARK_GRAFT_IO_CODEC=zstd is the deploy-time dial.
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "lz4"))
      .config(engineConf)
    master.orElse(Some(s"local[$cores]")).foldLeft(b)(_ master _)
  }

  def local(appName: String = "graft"): SparkSession = {
    val s = builder(appName).config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
