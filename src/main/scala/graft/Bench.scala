package graft

import java.nio.file.{Files, Paths}

/** Benchmark main. Two outputs, by design:
  *
  *  1. A FULL machine-readable artifact — every query's seconds plus any
  *     error — written by this process itself to a repo file
  *     (`SPARK_GRAFT_BENCH_OUT`, default `/root/repo/BENCH_local.json`)
  *     and committed per round. Earlier rounds tried to squeeze all 159
  *     per-query times into the one stdout line and the driver's bounded
  *     log tail truncated it (`BENCH_r08/r09 "parsed": null`); a file the
  *     benchmark writes directly can't be truncated by log capture.
  *  2. ONE compact stdout JSON line for the driver: total, count, the
  *     top-10 slowest queries, error count, and a pointer to the full
  *     artifact. Stays well under the driver's 2000-char tail.
  *
  * A query that throws is NOT timed as if it ran (the old
  * `catch { case _ => () }` benched crashes at near-zero): its wall time
  * is still recorded but it is excluded from the total and listed under
  * `"errors"` with the exception summary.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional comma-separated allowlist for targeted scale rehearsals
    // (e.g. the sf100 heavy-family subset) — absent means the full
    // registry. A typo'd name would silently bench nothing, so every
    // name must exist; and a subset run must not overwrite the
    // committed full-registry artifact, so its default output moves
    // to /tmp.
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not in the registry: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    // SPARK_GRAFT_BENCH_MATERIALIZE=1: time full-result computation
    // (hash-reduce every column) instead of count() — see the
    // execution site below. Subset-style default-out guard applies:
    // a materialize run must not overwrite the committed artifact.
    val materialize = sys.env.get("SPARK_GRAFT_BENCH_MATERIALIZE").contains("1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined || materialize) "/tmp/graft_bench_subset.json"
      else "/root/repo/BENCH_local.json")
    val spark = GraftSession.local("graft-bench")
    // Warm the JVM/codegen/parquet-reader paths so startup cost isn't
    // attributed to whichever query happens to run first.
    spark.range(0, 1000000).selectExpr("sum(id)").collect()
    // …including the full spark.sql path (ANTLR + the injected dialect
    // parser + aggregate codegen): without this, the first SQL-heavy
    // registry query absorbs several seconds of one-time parser and
    // whole-stage-codegen warmup and its number stops meaning anything.
    spark.range(0, 1000).createOrReplaceTempView("graft_warmup")
    spark.sql("""SELECT id % 3 AS g, count(*) AS c, quantile(0.5)(id) AS p50,
                        max(toString(id)) AS s
                 FROM graft_warmup GROUP BY 1 ORDER BY g""").collect()
    try spark.read.parquet(s"$sfDir/region.parquet")
      .selectExpr("count(*)", "max(r_regionkey)").collect()
    catch { case _: Throwable => () }
    // The host this runs on shows multi-x run-to-run variance (shared
    // VM); a second pass with min-of-two removes most of that noise.
    // EVERY query retries — under host contention the first pass of
    // every query is inflated, so a "skip retry if slow" rule skips
    // exactly the queries that need the retry most. A 20 s cap still
    // bounds total bench time on a pathological host.
    // Run-condition markers: the r10 judgment lost an hour attributing
    // a 96 s driver rerun vs a 58 s committed artifact (first-parse JIT
    // + host contention, not plan changes). The artifact now carries the
    // host load average at start/end and EVERY run's seconds per query,
    // so warm-vs-cold and contended-vs-idle are self-describing.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = osBean.getSystemLoadAverage
    val retryCutoff = 20.0 // seconds
    // `setup` is the fixture-build time the DDL/streaming chain
    // queries self-report through FixtureClock (landing writes, CH
    // table loads) — work that exists only because the gate rebuilds
    // its inputs every run. `sec - setup` is the plan-dominated time a
    // regression would actually show up in; by round 13 the artifact's
    // whole top-10 was fixture-dominated and a 1.62× "regression" on
    // code-unchanged q103 turned out to be landing-write noise.
    // `work`: the run's job-group counters from the statement recorder
    // (QueryLog, behind system.query_log); `compiles`: its system.events
    // CompileFunction delta, the run's own since Bench runs serially.
    final case class R(sec: Double, setup: Double, err: Option[String],
                       work: QueryLog.Work, compiles: Long) {
      def workSec: Double = math.max(0.0, sec - setup)
    }
    val sc = spark.sparkContext
    // Plan fingerprint (round 16): #shuffle Exchanges, #BroadcastExchanges,
    // #Sorts, #scans parsed once per query from the executed-plan string
    // (the AQE INITIAL plan — deterministic, and exactly where a rule
    // regression shows up). The audit below diffs it against the previous
    // artifact so a PLAN regression is caught even when wall time hides
    // it (q15b's ex=0 promise was previously asserted only in its gate).
    // `wgl` (round 17): #WindowGroupLimit nodes — Spark 4.1's rank-limit
    // pushdown. The q16 class of regressions (a top-k-per-group window
    // silently losing its pushdown and full-sorting the fact table) is
    // only artifact-visible if this count is pinned per round.
    final case class FP(ex: Int, bex: Int, sort: Int, scan: Int, wgl: Int) {
      def json: String = s"""{"ex":$ex,"bex":$bex,"sort":$sort,"scan":$scan,"wgl":$wgl}"""
    }
    def fingerprint(plan: org.apache.spark.sql.execution.SparkPlan): Option[FP] =
      try {
        val s = plan.toString
        def cnt(re: scala.util.matching.Regex) = re.findAllMatchIn(s).size
        Some(FP(
          cnt("""(?m)(?:^|\s|\+- |:- )Exchange """.r),
          cnt("""BroadcastExchange""".r),
          cnt("""(?m)(?:^|\s|\+- |:- )Sort \[""".r),
          cnt("""FileScan|BatchScan""".r),
          cnt("""WindowGroupLimit""".r)))
      } catch { case _: Throwable => None }
    final case class Q(best: R, runs: Seq[Double], fp: Option[FP])
    // One run of a registry query, under a job group of its own;
    // `takeFp` also reads its plan fingerprint.
    var runCount = 0
    def once(name: String, takeFp: Boolean): (R, Option[FP]) = {
      runCount += 1
      val group = s"bench-$runCount-$name"
      val compiles0 = plans.SystemViews.compiles
      var err: Option[String] = None
      var fp: Option[FP] = None
      FixtureClock.reset()
      val t0 = System.nanoTime()
      sc.setJobGroup(group, name)
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        // fingerprint must read the plan BEFORE execution (the
        // AQE initial plan is the deterministic one), so it
        // cannot leave the timed window — but its stringify +
        // regex cost is fixture-class, not plan cost, and run 2
        // does not carry it: bracket JUST that so work-time
        // (sec − setup, what the audit compares) stays
        // symmetric. Plan MATERIALIZATION stays unbracketed —
        // run 2 pays optimizer+planning inside count() too, so
        // bracketing it would skew run 1's work-time low.
        if (takeFp) {
          val plan = df.queryExecution.executedPlan
          FixtureClock.time { fp = fingerprint(plan) }
        }
        // Default df.count(): comparable across rounds, but a
        // map-only query benches as scan cost — Spark prunes
        // every column a count doesn't need, so a codegen'd
        // kernel regression in e.g. the BPE encode path never
        // moves the cell. The opt-in forces every output column
        // to be COMPUTED and reduced (one xxhash64 over the
        // row, min-aggregated — no collect, no extra shuffle)
        // for kernel-cost profiling; committed artifacts keep
        // the count() path for comparability.
        if (materialize)
          df.selectExpr("min(xxhash64(struct(*)))").collect()
        else df.count()
      } catch { case e: Throwable =>
        err = Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}")
      } finally sc.clearJobGroup()
      val sec = (System.nanoTime() - t0) / 1e9
      (R(sec, FixtureClock.nanos / 1e9, err, QueryLog.group(sc, group),
        plans.SystemViews.compiles - compiles0), fp)
    }
    val results: Seq[(String, Q)] =
      SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_.contains(n))).map { name =>
        val (r1, fp) = once(name, takeFp = true)
        if (r1.err.isDefined) name -> Q(r1, Seq(r1.sec), fp) // don't re-run a crash just to time it
        else if (r1.sec < retryCutoff) {
          val r2 = once(name, takeFp = false)._1
          name -> Q(if (r2.err.isEmpty && r2.sec < r1.sec) r2 else r1, Seq(r1.sec, r2.sec), fp)
        }
        else name -> Q(r1, Seq(r1.sec), fp)
      }
    val loadEnd = osBean.getSystemLoadAverage

    // ----------------------------------------------------------------
    // Mechanical noise audit (round 15): a serial full-registry pass
    // self-contends (load >10 at sf100), and single-run cells above
    // the 20 s retry cutoff keep whatever moment they got — in rounds
    // 13/14 every hand-checked "regression" (q57 4.7×, q74 50×,
    // q03 2×) vanished when re-run alone. The manual "re-run what
    // looks regressed" discipline missed q03_monthly in r14, so it is
    // now the harness's job: point SPARK_GRAFT_BENCH_PREV at the
    // previous committed artifact and every ok cell that (a) ran once
    // (>20 s, no retry), and (b) moved >1.5× vs that artifact, is
    // re-run ISOLATED after the serial pass (host load is this
    // process alone by then) and the three numbers land in the
    // artifact's "audit" table with a noise/regression verdict.
    final case class Audit(serial: Double, prev: Double, isolated: Double, setup: Double,
                           loadAtRerun: Double, serialSpillDisk: Long, isolatedSpillDisk: Long) {
      // WORK-time vs WORK-time: `prev` already has the prior run's
      // fixture seconds subtracted (below), so the comparison can't
      // be gamed either way by fixture noise. A crashed re-run is its
      // own verdict — never "noise".
      def verdict: String =
        if (isolated < 0) "rerun_error"
        else if (math.max(0.0, isolated - setup) <= 1.5 * prev) "noise"
        else "regression"
    }
    // The previous artifact: Bench's own, or a per-round
    // BENCH_r{N}.json wrapper, which holds it under "parsed" — a
    // wrapper input must not silently disable the audit or plan diff.
    import org.json4s._
    val prev: JValue = sys.env.get("SPARK_GRAFT_BENCH_PREV").map { p =>
      val root = org.json4s.jackson.JsonMethods.parse(Files.readString(Paths.get(p)))
      if (root \ "queries" == JNothing) root \ "parsed" else root
    }.getOrElse(JNothing)
    def fields(v: JValue): Map[String, JValue] = v match {
      case JObject(fs) => fs.toMap
      case _ => Map.empty
    }
    def num(v: JValue): Option[Double] = v match {
      case JDouble(x) => Some(x)
      case JInt(x) => Some(x.toDouble)
      case _ => None
    }
    // Previous per-query WORK seconds (total minus the artifact's
    // recorded fixture setup, when present).
    val prevTimes: Map[String, Double] = fields(prev \ "queries").flatMap { case (k, v) =>
      num(v).map(x => k -> math.max(0.0, x - num(prev \ "setup" \ k).getOrElse(0.0)))
    }
    // Previous plan fingerprints (absent in pre-round-16 artifacts →
    // empty diff; from round 16 on, any count change is reported).
    // wgl reads -1 from pre-round-17 artifacts (field absent) → the
    // diff below skips the wgl comparison for those, so adding the
    // column doesn't flag all 208 queries as "changed" once.
    val prevPlans: Map[String, (Int, Int, Int, Int, Int)] = fields(prev \ "plan").collect {
      case (k, o: JObject) =>
        def i(f: String) = num(o \ f).fold(-1)(_.toInt)
        k -> (i("ex"), i("bex"), i("sort"), i("scan"), i("wgl"))
    }
    val planDiffs: Seq[(String, String)] = results.collect {
      case (name, q) if q.fp.isDefined && prevPlans.contains(name) && {
          val f = q.fp.get; val (pe, pb, ps, pc, pw) = prevPlans(name)
          (f.ex, f.bex, f.sort, f.scan) != ((pe, pb, ps, pc)) ||
            (pw >= 0 && f.wgl != pw)
        } =>
        val (pe, pb, ps, pc, pw) = prevPlans(name)
        val prevWgl = if (pw >= 0) s""","wgl":$pw""" else ""
        name -> (s"""{"prev":{"ex":$pe,"bex":$pb,"sort":$ps,"scan":$pc$prevWgl},""" +
          s""""now":${q.fp.get.json}}""")
    }
    val auditCandidates: Seq[(String, R)] =
      if (prevTimes.isEmpty) Nil
      else results.collect {
        case (name, Q(best, runs, _)) if best.err.isEmpty && runs.size == 1 && best.sec > retryCutoff &&
            prevTimes.get(name).exists(p => p > 0 && best.workSec > 1.5 * p) =>
          name -> best
      }
    val audits: Seq[(String, Audit)] = auditCandidates.map { case (name, best) =>
      // "isolated" has to MEAN isolated: the serial pass just ended, so
      // the host load is still draining and the JVM carries 200 queries
      // of garbage — re-running immediately re-measures the contention
      // the audit exists to rule out (r15 dry-run: q36b read 49 s in
      // the audit, 12.7 s on an idle host). Settle first, and escalate
      // to a second run before calling anything a regression.
      def settle(): Unit = {
        System.gc()
        var waited = 0
        while (osBean.getSystemLoadAverage > 4.0 && waited < 90) {
          Thread.sleep(5000); waited += 5
        }
      }
      settle()
      val load = osBean.getSystemLoadAverage
      val prev = prevTimes(name)
      var iso = once(name, takeFp = false)._1
      if (iso.err.isEmpty && iso.workSec > 1.5 * prev) {
        settle() // looks regressed — confirm on a second settled run
        val iso2 = once(name, takeFp = false)._1
        // keep the better WORK time (the verdict's unit) — comparing
        // totals would let slow fixture rebuilds discard a confirm
        // run that proved the plan time is fine
        if (iso2.err.isEmpty && iso2.workSec < iso.workSec) iso = iso2
      }
      val (isoSec, isoSetup, isoSpill) =
        if (iso.err.isEmpty) (iso.sec, iso.setup, iso.work.diskBytesSpilled) else (-1.0, 0.0, 0L)
      name -> Audit(best.sec, prev, isoSec, isoSetup, load, best.work.diskBytesSpilled, isoSpill)
    }

    def ms(v: Double): String = (math.rint(v * 1000) / 1000).toString
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

    def obj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")

    val ok = results.filter(_._2.best.err.isEmpty)
    val errs = results.collect { case (n, Q(R(_, _, Some(e), _, _), _, _)) => n -> e }
    val total = ok.map(_._2.best.sec).sum
    val workTotal = ok.map(q => q._2.best.workSec).sum
    val allQs = obj(results.map { case (k, v) => k -> ms(v.best.sec) })
    // fixture-build seconds self-reported by the chain queries (only
    // entries that actually reported setup) — query_s = queries - setup
    val setupJson =
      obj(results.collect { case (k, v) if v.best.setup > 0.0005 => k -> ms(v.best.setup) })
    // every run's seconds: a 1-element array marks a cold single run
    // (error or >20 s), a 2-element array is min-of-two
    val runsJson = obj(results.map { case (k, v) => k -> v.runs.map(ms).mkString("[", ",", "]") })
    val errJson = obj(errs.map { case (k, e) => k -> jstr(e) })
    val planJson = obj(results.collect { case (k, q) if q.fp.isDefined => k -> q.fp.get.json })
    val planDiffJson = obj(planDiffs)
    // the harness-generated audit table (empty when no PREV artifact
    // was supplied or nothing tripped the 20 s + 1.5× gate)
    val auditJson = obj(audits.map { case (k, a) => k -> obj(Seq("serial" -> ms(a.serial),
      "prev_work" -> ms(a.prev), "isolated" -> ms(a.isolated), "isolated_setup" -> ms(a.setup),
      "load_at_rerun" -> ms(a.loadAtRerun), "serial_spill_disk" -> a.serialSpillDisk.toString,
      "isolated_spill_disk" -> a.isolatedSpillDisk.toString, "verdict" -> jstr(a.verdict)))
    })
    // the kept run's layer split (see R); `spill` is bytes spilled to
    // disk, `shuffle_bytes` bytes written to shuffle
    val layersJson = obj(results.map { case (k, q) =>
      val w = q.best.work
      k -> obj(Seq("rewrite_s" -> ms(w.rewriteNs / 1e9), "plan_s" -> ms(w.planMs / 1e3),
        "exec_s" -> ms(w.execMs / 1e3), "jobs" -> w.jobs.toString, "tasks" -> w.tasks.toString,
        "cpu_s" -> ms(w.cpuNs / 1e9), "shuffle_bytes" -> w.shuffleWriteBytes.toString,
        "spill" -> w.diskBytesSpilled.toString, "compiles" -> q.best.compiles.toString))
    })
    // "cpus" is the core count the session's local[N] master was built
    // with (GraftSession reads SPARK_GRAFT_CPUS), witnessed by the
    // engine's defaultParallelism — not availableProcessors, which a
    // low-core scaling run on a bigger host would misreport.
    val cpus = sc.defaultParallelism
    val cond = s""""load_avg_start":${ms(loadStart)},"load_avg_end":${ms(loadEnd)},""" +
      s""""cpus":$cpus,"parallelism":$cpus,""" +
      s""""timing":"min_of_two_unless_cold""""
    val common =
      s""""metric":"total","value":${ms(total)},"unit":"sec","count":${results.size},"ok":${ok.size},"sf":${jstr(sfDir)}"""
    // Full artifact: every query, every error — the committed evidence.
    Files.writeString(Paths.get(outPath),
      s"""{$common,$cond,"work_total":${ms(workTotal)},"queries":$allQs,"setup":$setupJson,"runs":$runsJson,"errors":$errJson,"audit":$auditJson,"plan":$planJson,"plan_diff":$planDiffJson,"layers":$layersJson}\n""")
    // Stdout: driver-parseable summary that fits a bounded log tail.
    // Top-10 ranks on PLAN-dominated seconds (total minus reported
    // fixture time) so a plan regression can't hide in fixture noise.
    val top10 = obj(ok.sortBy(q => -q._2.best.workSec).take(10)
      .map { case (k, v) => k -> ms(v.best.workSec) })
    val auditSummary =
      if (audits.isEmpty) "0"
      else s"${audits.size}(${audits.count(_._2.verdict == "regression")} regression)"
    val spilledCount = results.count(_._2.best.work.diskBytesSpilled > 0)
    println(s"""{$common,$cond,"work_total":${ms(workTotal)},"queries":$top10,"errors":${errs.size},"audited":${jstr(auditSummary)},"plan_diffs":${planDiffs.size},"spilled":$spilledCount,"detail":${jstr(outPath)}}""")
    spark.stop()
  }
}
