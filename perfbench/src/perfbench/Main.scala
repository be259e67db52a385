package perfbench

import java.io.{FileInputStream, PrintWriter}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.{Dedup, Replicate, Similarity, TextAnalysis}
import graft.plans.ChSqlParser

/** The benchmark's JVM side. run.py writes the inputs and a properties
  * file, this process sets up graft, drives one workload for the given
  * seconds and writes raw records (operations, results, spans and
  * executor counters) as JSON lines; run.py checks and summarizes them.
  *
  * Usage: perfbench.Main <run.properties>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val p = new java.util.Properties()
    val in = new FileInputStream(args(0))
    try p.load(in) finally in.close()
    val conf = p.asScala.toMap
    val out = new Out(Paths.get(conf("out")))
    val tracer = new Tracer(conf("trace") == "1")
    val work = Paths.get(conf("work"))
    val wl: Workload = conf("workload") match {
      case "dashboard" => new Scan(conf, openLoop = true)
      case "rollup"    => new Scan(conf, openLoop = false)
      case "ingest"    => new Ingest(conf)
      case "pipeline"  => new Pipeline(conf)
      case other       => sys.error(s"unknown workload $other")
    }

    var spark: SparkSession = null
    for (rep <- 1 to conf("setup_reps").toInt) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = GraftSession.builder("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", work.resolve(s"warehouse-$rep").toString)
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = System.nanoTime()
      wl.register(new Ctx(spark, tracer, out, 0L))
      out.line("setup", "rep" -> rep, "start_s" -> (t1 - t0) / 1e9,
        "register_s" -> (System.nanoTime() - t1) / 1e9)
    }
    // Warm-up runs once, in the session the run uses: it is the costliest
    // part of set-up and repeating it would not fit the run's time.
    val w0 = System.nanoTime()
    wl.warmup(new Ctx(spark, tracer, out, 0L))
    out.line("warmup", "warmup_s" -> (System.nanoTime() - w0) / 1e9)

    val counters = new ExecCounters
    if (tracer.enabled) spark.sparkContext.addSparkListener(counters)
    val gc0 = gcMs
    val t0 = System.nanoTime()
    val ctx = new Ctx(spark, tracer, out, t0)
    wl.run(ctx, t0 + (conf("seconds").toDouble * 1e9).toLong)
    val wall = (System.nanoTime() - t0) / 1e9
    out.line("jvm", "wall_s" -> wall, "gc_s" -> (gcMs - gc0) / 1e3, "heap_after_gc_mb" -> heapAfterGcMb,
      "cores" -> spark.sparkContext.defaultParallelism)
    if (tracer.enabled) {
      counters.drain()
      counters.snapshot.foreach { case (id, o) =>
        out.line("exec", "id" -> id, "jobs" -> o.jobs, "stages" -> o.stages, "tasks" -> o.tasks,
          "cpu_s" -> o.cpuNs / 1e9, "run_s" -> o.runMs / 1e3, "sched_wait_ms" -> o.schedWaitMs,
          "input_bytes" -> o.inputBytes, "shuffle_read_bytes" -> o.shuffleRead,
          "shuffle_write_bytes" -> o.shuffleWrite, "spill_bytes" -> o.spill, "output_bytes" -> o.outBytes)
      }
      tracer.all.foreach { s =>
        out.line("span", "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "stmt" -> s.stmt,
          "start_ms" -> ctx.ms(s.startNs), "end_ms" -> ctx.ms(s.endNs))
      }
    }
    out.close()
    spark.stop()
  }

  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def heapAfterGcMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(b => Option(b.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
}

/** JSON-lines writer for the raw run record. */
final class Out(path: Path) {
  private val w = new PrintWriter(Files.newBufferedWriter(path))
  def line(kind: String, fields: (String, Any)*): Unit = {
    val s = Json.obj(("t" -> kind) +: fields)
    synchronized(w.println(s))
  }
  def close(): Unit = w.close()
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case f: Float => value(f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: Byte | _: Boolean) => n.toString
    case d: java.math.BigDecimal => d.toPlainString
    case t: java.sql.Timestamp => str(t.toLocalDateTime.toString.replace('T', ' '))
    case t: java.time.Instant => str(t.toString.stripSuffix("Z").replace('T', ' '))
    case t: java.time.LocalDateTime => str(t.toString.replace('T', ' '))
    case d: java.sql.Date => str(d.toString)
    case d: java.time.LocalDate => str(d.toString)
    case r: Row => r.toSeq.map(value).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => value(a.toSeq)
    case other => str(other.toString)
  }
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

/** What a workload needs while it runs. `ms` converts a nanoTime to
  * milliseconds since the measured window opened. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val out: Out, val t0: Long) {
  def ms(ns: Long): Double = (ns - t0) / 1e6

  /** One CH-dialect statement through graft's public path. Traced, the
    * calls into each layer are timed separately: the dialect rewrite,
    * `spark.sql` (parse and analysis; commands execute here), physical
    * planning, and execution. The rewrite is timed by one extra call;
    * `spark.sql` repeats it while parsing, which is part of the tracing
    * overhead. */
  def sql(op: String, text: String): Array[Row] = {
    spark.sparkContext.setLocalProperty(ExecCounters.Prop, op)
    if (!tracer.enabled) spark.sql(text).collect()
    else {
      tracer.span("plans.ChSqlParser.rewrite", op)(ChSqlParser.rewriteParametric(text))
      val df = tracer.span("spark.sql", op)(spark.sql(text))
      collect(op, df)
    }
  }

  /** Collects `df`; traced, plans it first and records Catalyst's phases. */
  def collect(op: String, df: DataFrame): Array[Row] = {
    spark.sparkContext.setLocalProperty(ExecCounters.Prop, op)
    if (!tracer.enabled) df.collect()
    else {
      tracer.span("catalyst.plan", op) { df.queryExecution.optimizedPlan; df.queryExecution.executedPlan }
      val rows = tracer.span("exec.collect", op)(df.collect())
      val ph = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
      out.line("phase", ("id" -> op) +: ph.toSeq: _*)
      rows
    }
  }

  /** Runs `body` as operation `id` and records its times and outcome. */
  def op(id: String, kind: String, dueNs: Long)(body: => Any): Unit = {
    val start = System.nanoTime()
    val (ok, err, result) =
      try {
        val r = tracer.span(kind, id)(body)
        (true, null, r)
      } catch { case e: Throwable => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500), null) }
    val end = System.nanoTime()
    out.line("op", "id" -> id, "kind" -> kind, "due_ms" -> ms(dueNs), "start_ms" -> ms(start),
      "end_ms" -> ms(end), "ok" -> ok, "err" -> err, "result" -> result)
  }
}

trait Workload {
  def register(ctx: Ctx): Unit
  def warmup(ctx: Ctx): Unit
  def run(ctx: Ctx, deadlineNs: Long): Unit
}

/** Tab-separated statement list written by run.py: id, template, sql. */
object Stmts {
  def load(path: String): Vector[(String, String)] =
    Files.readAllLines(Paths.get(path)).asScala.toVector.filter(_.nonEmpty).map { l =>
      val Array(id, _, sql) = l.split("\t", 3)
      (id, sql)
    }
}

/** `dashboard` (open loop at a fixed rate, up to `cpus` statements in
  * flight) and `rollup` (one closed-loop client) over the same scanner
  * templates on two table sizes. */
final class Scan(conf: Map[String, String], openLoop: Boolean) extends Workload {
  private val stmts = Stmts.load(conf("stmts"))
  private val warm = Stmts.load(conf("warm_stmts"))

  def register(ctx: Ctx): Unit =
    Seq("lineitem", "orders").foreach { t =>
      ctx.spark.read.parquet(s"${conf("data")}/$t").createOrReplaceTempView(t)
    }

  /** The warm-up statements, `cpus` at a time. */
  def warmup(ctx: Ctx): Unit = {
    val pool = Executors.newFixedThreadPool(conf("cpus").toInt)
    warm.map { case (id, sql) => pool.submit(new Runnable { def run(): Unit = ctx.sql(id, sql) }) }.foreach(_.get())
    pool.shutdown()
  }

  def run(ctx: Ctx, deadlineNs: Long): Unit = {
    def exec(i: Int, due: Long): Unit = {
      val (id, sql) = stmts(i)
      ctx.op(id, "stmt", due)(ctx.sql(id, sql).toSeq)
    }
    if (!openLoop) {
      var i = 0
      while (System.nanoTime() < deadlineNs && i < stmts.size) { exec(i, System.nanoTime()); i += 1 }
      require(System.nanoTime() >= deadlineNs, "statement list ran out before the deadline")
    } else {
      val cpus = conf("cpus").toInt
      val pool = Executors.newFixedThreadPool(cpus)
      val inFlight = new AtomicInteger(0)
      val maxInFlight = new AtomicInteger(0)
      val periodNs = (1e9 / conf("rate").toDouble).toLong
      var i = 0
      var due = ctx.t0
      while (due < deadlineNs) {
        require(i < stmts.size, "statement list ran out before the deadline")
        val wait = due - System.nanoTime()
        if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
        val (n, d, sent) = (i, due, System.nanoTime())
        ctx.out.line("sent", "id" -> stmts(n)._1, "late_ms" -> (sent - d) / 1e6)
        pool.submit(new Runnable {
          def run(): Unit = {
            maxInFlight.accumulateAndGet(inFlight.incrementAndGet(), math.max)
            try exec(n, d) finally inFlight.decrementAndGet()
          }
        })
        i += 1
        due += periodNs
      }
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.MINUTES)
      ctx.out.line("loadgen", "in_flight_max" -> maxInFlight.get)
    }
  }
}

/** `ingest`: one writer sending change batches into a
  * ReplacingMergeTree(version, is_deleted) table created through CH DDL
  * (INSERTs, a periodic ALTER TABLE … DELETE, one closing OPTIMIZE …
  * FINAL) while one reader runs FINAL aggregates. */
final class Ingest(conf: Map[String, String]) extends Workload {
  private val ops = Files.readAllLines(Paths.get(conf("ingest_ops"))).asScala.toVector.filter(_.nonEmpty)
  private val Read = "SELECT count() AS n, sum(v) AS sv, sum(version) AS sver FROM cdc FINAL WHERE is_deleted = 0"

  private def create(ctx: Ctx, table: String): Unit = {
    ctx.spark.sql(s"DROP TABLE IF EXISTS $table")
    ctx.spark.sql(s"""CREATE TABLE $table (id UInt64, version UInt64, is_deleted UInt8, v Float64, p UInt32)
             ENGINE = ReplacingMergeTree(version, is_deleted) PARTITION BY p ORDER BY id""")
  }

  private def insertBatch(ctx: Ctx, op: String, table: String, path: String): Unit = {
    ctx.spark.read.parquet(path).createOrReplaceTempView("cdc_batch")
    ctx.sql(op, s"INSERT INTO $table SELECT id, version, is_deleted, v, p FROM cdc_batch")
  }

  def register(ctx: Ctx): Unit = {
    create(ctx, "cdc_t")
    insertBatch(ctx, "setup", "cdc_t", conf("ingest_initial"))
    publish(ctx, "setup")
  }

  /** (Re-)registers `cdc` and its `cdc_final` view over the table as it
    * is now; a view made before a mutation keeps reading the files the
    * mutation replaced. */
  private def publish(ctx: Ctx, op: String): Unit =
    ctx.tracer.span("operators.Replicate.registerWithFinal", op) {
      // ReplacingMergeTree collapses rows per partition and sorting key
      Replicate.registerWithFinal(ctx.spark.table("cdc_t"), "cdc", Seq("p", "id"), Seq(col("version")))
    }

  /** Reads, and the write path on a scratch table of the same engine. */
  def warmup(ctx: Ctx): Unit = {
    create(ctx, "cdc_warm")
    (1 to 3).foreach(i => insertBatch(ctx, s"warm-insert$i", "cdc_warm", conf("ingest_initial")))
    ctx.sql("warm-delete", "ALTER TABLE cdc_warm DELETE WHERE p = 0 AND id % 97 = 1")
    ctx.spark.sql("DROP TABLE cdc_warm")
    (1 to 8).foreach(i => ctx.sql(s"warm-read$i", Read))
  }

  def run(ctx: Ctx, deadlineNs: Long): Unit = {
    val loc = Paths.get(new java.net.URI(ctx.spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("cdc_t")).location.toString))
    def dataFiles: Long =
      Files.walk(loc).iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")).toLong
    // Reads and writes take turns on a fair lock. graft gives a reader no
    // isolation from a write in flight: a FINAL read that overlaps an
    // INSERT can see part of the batch (a state no commit produced), and
    // one that overlaps ALTER TABLE … DELETE or OPTIMIZE fails with
    // FILE_NOT_EXIST on files the mutation replaced.
    val turns = new java.util.concurrent.locks.ReentrantReadWriteLock(true)
    def exclusive[T](body: => T): T = { turns.writeLock.lock(); try body finally turns.writeLock.unlock() }
    @volatile var writing = true
    val writer = new Thread(() => {
      try {
        var k = 0
        while (System.nanoTime() < deadlineNs && k < ops.size) {
          val f = ops(k).split("\t")
          val id = s"w$k"
          f(0) match {
            case "insert" =>
              val before = if (ctx.tracer.enabled) dataFiles else 0L
              exclusive(ctx.op(id, "insert", System.nanoTime()) {
                insertBatch(ctx, id, "cdc_t", f(1))
                publish(ctx, id)
              })
              if (ctx.tracer.enabled) ctx.out.line("files", "id" -> id, "new_files" -> (dataFiles - before))
            case "delete" =>
              exclusive(ctx.op(id, "delete", System.nanoTime()) {
                val r = ctx.sql(id, s"ALTER TABLE cdc_t DELETE WHERE p = ${f(1)} AND id % ${f(2)} = ${f(3)}").toSeq
                publish(ctx, id)
                r
              })
          }
          k += 1
        }
        require(System.nanoTime() >= deadlineNs, "change batches ran out before the deadline")
        exclusive(ctx.op("optimize", "optimize", System.nanoTime()) {
          val r = ctx.sql("optimize", "OPTIMIZE TABLE cdc_t FINAL").toSeq
          publish(ctx, "optimize")
          r
        })
      } finally writing = false
    })
    writer.start()
    var r = 0
    while (writing) {
      val id = s"r$r"
      turns.readLock.lock()
      try ctx.op(id, "read", System.nanoTime())(ctx.sql(id, Read).toSeq)
      finally turns.readLock.unlock()
      r += 1
    }
    writer.join()
    ctx.op("final-read", "read", System.nanoTime())(ctx.sql("final-read", Read).toSeq)
    val files = Files.walk(loc).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    ctx.out.line("table", "bytes_on_disk" -> files.map(Files.size).sum,
      "data_files" -> files.count(_.getFileName.toString.endsWith(".parquet")))
  }
}

/** `pipeline`: closed-loop passes of the LLM-data operators over a
  * seeded corpus with planted exact and near duplicates. */
final class Pipeline(conf: Map[String, String]) extends Workload {
  private def pairs(path: String): Set[(Long, Long)] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty).map { l =>
      val Array(a, b) = l.split("\t"); (a.toLong, b.toLong)
    }.toSet
  private val nearDocs = pairs(conf("near_docs"))
  private val nearVecs = pairs(conf("near_vecs"))

  def register(ctx: Ctx): Unit = {
    ctx.spark.read.parquet(conf("docs")).createOrReplaceTempView("corpus_docs")
    ctx.spark.read.parquet(conf("vecs")).createOrReplaceTempView("corpus_vecs")
  }

  def warmup(ctx: Ctx): Unit = pass(ctx, "warm")

  def run(ctx: Ctx, deadlineNs: Long): Unit = {
    var i = 0
    while (System.nanoTime() < deadlineNs) {
      val id = s"p$i"
      ctx.op(id, "pass", System.nanoTime())(pass(ctx, id))
      i += 1
    }
  }

  private def found(rows: Array[Row], planted: Set[(Long, Long)]): Long =
    rows.count(r => planted.contains((r.getLong(0), r.getLong(1))) || planted.contains((r.getLong(1), r.getLong(0))))

  /** One pass; returns per-stage results the run checks. */
  private def pass(ctx: Ctx, id: String): Map[String, Any] = {
    def stage[T](name: String)(body: String => T): T = {
      val sid = s"$id.$name"
      ctx.spark.sparkContext.setLocalProperty(ExecCounters.Prop, sid)
      ctx.tracer.span(name, sid)(body(sid))
    }
    val docs = stage("input")(sid => ctx.sql(sid, "SELECT count() FROM corpus_docs WHERE notEmpty(text)"))
    val base = ctx.spark.table("corpus_docs").withColumn("norm", TextAnalysis.normalize(col("text")))
    val exact = stage("operators.Dedup.exact") { sid =>
      ctx.collect(sid, Dedup.exact(base.withColumn("fp", md5(col("norm").cast("binary"))), "doc_id", "fp")
        .agg(sum(col("group_size") - 1).as("dups"))).head.getLong(0)
    }
    val minhash = stage("operators.Dedup.minhash") { sid =>
      ctx.collect(sid, Dedup.minHashLshPairs(base, "doc_id", "norm", numHashes = 64, bands = 8,
        minEstJaccard = 0.7).select("id_a", "id_b"))
    }
    val simhash = stage("operators.Dedup.simhash") { sid =>
      ctx.collect(sid, Dedup.simHashPairsAuto(base, "doc_id", "norm", maxHamming = 3).select("id_a", "id_b"))
    }
    val ann = stage("operators.Similarity.ann_lsh") { sid =>
      ctx.collect(sid, Similarity.lshAnnPairsAuto(ctx.spark.table("corpus_vecs"), "vec_id", "embedding",
        numTables = 4, minCos = 0.9, dim = 64).select("id_a", "id_b"))
    }
    val curate = stage("operators.TextAnalysis.curate") { sid =>
      ctx.collect(sid, TextAnalysis.curateChunks(ctx.spark.table("corpus_docs"), "doc_id", "text",
          minQuality = 0.5, chunkLen = 8, overlap = 2)
        .groupBy("shard").agg(count(lit(1)).as("n"), sum("n_tokens").as("tokens")).orderBy("shard"))
    }
    Map("docs" -> docs.head.getLong(0), "exact_dups" -> exact,
      "minhash_pairs" -> minhash.length, "minhash_found" -> found(minhash, nearDocs),
      "simhash_pairs" -> simhash.length, "simhash_found" -> found(simhash, nearDocs),
      "ann_pairs" -> ann.length, "ann_found" -> found(ann, nearVecs),
      "curate" -> curate.toSeq)
  }
}
