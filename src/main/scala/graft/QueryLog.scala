package graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbridge.{GraftSparkBridge, PartitionGroupedScanExec}

/** The statement recorder behind `system.query_log`: what each SQL
  * execution did and where its time went. One listener per SparkContext
  * (`spark.extraListeners` in [[GraftSession.engineConf]]) reads events
  * Spark posts anyway, on the listener bus, so statements do no extra
  * work. From the execution-end event's `QueryExecution` it reads the
  * `QueryPlanningTracker` phases and the scan nodes' SQL metrics, and
  * keeps only numbers and strings, never a plan.
  *
  * Counters are keyed by SQL execution id — one [[Entry]] per finished
  * statement, in a ring of [[Capacity]] — and by job group ([[group]],
  * the [[Capacity]] most recently used), which also counts jobs outside
  * any SQL execution and the dialect rewrite time [[plans.ChSqlParser]]
  * charges to its caller's group. Readers drain the bus first, so every
  * statement that finished before the read is in what they get.
  */
class QueryLog extends SparkListener with AdaptiveSparkPlanHelper {
  import QueryLog._

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      QueryLog.synchronized(open(s.executionId) = Open(s.time, s.jobGroupId, s.description))
    case s: SparkListenerSQLExecutionEnd => ended(s)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    QueryLog.synchronized(add(owner(e.properties), Work(jobs = 1)))

  // a stage's tasks end between its submission and its completion
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    QueryLog.synchronized(stageOwner(e.stageInfo.stageId) = owner(e.properties))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    QueryLog.synchronized(stageOwner.remove(e.stageInfo.stageId).foreach(add(_, Work(stages = 1))))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = Option(e.taskMetrics).fold(Work(tasks = 1))(m => Work(tasks = 1,
      cpuNs = m.executorCpuTime, shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      memoryBytesSpilled = m.memoryBytesSpilled, diskBytesSpilled = m.diskBytesSpilled))
    QueryLog.synchronized(stageOwner.get(e.stageId).foreach(add(_, w)))
  }

  private def ended(s: SparkListenerSQLExecutionEnd): Unit = {
    val (qe, failure) = GraftSparkBridge.executionOf(s)
    val phases = Option(qe).fold(Map.empty[String, Long])(
      _.tracker.phases.map(p => p._1 -> p._2.durationMs))
    // a failed statement's physical plan may never have been built, and
    // reading it here would build it on the bus thread
    val (rows, bytes) = if (qe == null || failure.isDefined) (0L, 0L) else scanned(qe)
    val text = Option(qe).flatMap(_.logical.collectFirst {
      case p if p.getTagValue(QueryText).isDefined => p.getTagValue(QueryText).get
    })
    QueryLog.synchronized(open.remove(s.executionId).foreach { o =>
      val stmt = Work(statements = 1, execMs = math.max(0L, s.time - o.startMs),
        planMs = PlanPhases.map(phases.getOrElse(_, 0L)).sum, readRows = rows, readBytes = bytes)
      ring.enqueue(Entry(s.executionId, o.group, text.getOrElse(o.description).take(TextChars),
        s.time, phases, failure.map(t => s"${t.getClass.getName}: ${t.getMessage}".take(TextChars)),
        o.work + stmt))
      if (ring.size > Capacity) ring.dequeue()
      add((None, o.group), stmt)
    })
  }

  /** Rows the file and V2 scans output, and bytes of the files they opened. */
  private def scanned(qe: QueryExecution): (Long, Long) = {
    def v(m: Map[String, org.apache.spark.sql.execution.metric.SQLMetric], k: String) =
      m.get(k).fold(0L)(_.value)
    val scans = collectWithSubqueries(qe.executedPlan) {
      case f: FileSourceScanExec => (v(f.metrics, "numOutputRows"), v(f.metrics, "filesSize"))
      case g: PartitionGroupedScanExec => (v(g.metrics, "numOutputRows"), v(g.metrics, "filesSize"))
      case b: BatchScanExec => (v(b.metrics, "numOutputRows"), 0L)
    }
    (scans.map(_._1).sum, scans.map(_._2).sum)
  }
}

object QueryLog {
  /** Entries kept in the ring, and job groups kept. */
  val Capacity = 1000
  /** Longest statement or exception text an entry keeps. */
  private val TextChars = 4000
  private val GroupKey = "spark.jobGroup.id"
  private val PlanPhases = Seq("analysis", "optimization", "planning")

  /** Counters summed over a statement or a job group. `planMs` is the
    * statements' analysis, optimization and planning time; `execMs`
    * runs from execution start, after physical planning, to its end. */
  final case class Work(statements: Long = 0, rewriteNs: Long = 0, planMs: Long = 0,
      execMs: Long = 0, readRows: Long = 0, readBytes: Long = 0, jobs: Long = 0,
      stages: Long = 0, tasks: Long = 0, cpuNs: Long = 0, shuffleReadBytes: Long = 0,
      shuffleWriteBytes: Long = 0, memoryBytesSpilled: Long = 0, diskBytesSpilled: Long = 0) {
    def +(o: Work): Work = Work(statements + o.statements, rewriteNs + o.rewriteNs,
      planMs + o.planMs, execMs + o.execMs, readRows + o.readRows, readBytes + o.readBytes,
      jobs + o.jobs, stages + o.stages, tasks + o.tasks, cpuNs + o.cpuNs,
      shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes,
      memoryBytesSpilled + o.memoryBytesSpilled, diskBytesSpilled + o.diskBytesSpilled)
  }

  /** One finished statement; `query` is its dialect text, or Spark's
    * call-site description for a DataFrame statement. */
  final case class Entry(executionId: Long, jobGroup: Option[String], query: String,
      eventTimeMs: Long, phasesMs: Map[String, Long], exception: Option[String], work: Work)

  private final case class Open(startMs: Long, group: Option[String], description: String) {
    var work = Work()
  }

  private val open = mutable.Map[Long, Open]()
  private val stageOwner = mutable.Map[Int, (Option[Long], Option[String])]()
  private val ring = mutable.Queue[Entry]()
  private val groups = new java.util.LinkedHashMap[String, Work](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Work]): Boolean =
      size() > Capacity
  }

  private def groupWork(g: String): Work = Option(groups.get(g)).getOrElse(Work())

  /** The SQL execution and job group a job or stage runs under. */
  private def owner(p: java.util.Properties): (Option[Long], Option[String]) =
    (Option(p).flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong),
      Option(p).flatMap(x => Option(x.getProperty(GroupKey))))

  // adds `w` to the owning execution and group; callers hold the lock
  private def add(owner: (Option[Long], Option[String]), w: Work): Unit = {
    owner._1.flatMap(open.get).foreach(o => o.work = o.work + w)
    owner._2.foreach(g => groups.put(g, groupWork(g) + w))
  }

  /** The dialect text a parsed statement came from, on its plan root. */
  private val QueryText = TreeNodeTag[String]("graft.query")

  private[graft] def tagQuery(plan: LogicalPlan, text: String): LogicalPlan = {
    plan.setTagValue(QueryText, text)
    plan
  }

  /** Runs the dialect rewrite `f`, charging its time to the caller
    * thread's job group when it has one. */
  private[graft] def rewrite[T](f: => T): T =
    SparkSession.getActiveSession.flatMap(s => Option(s.sparkContext.getLocalProperty(GroupKey))) match {
      case None => f
      case g =>
        val t0 = System.nanoTime()
        try f finally {
          val w = Work(rewriteNs = System.nanoTime() - t0)
          synchronized(add((None, g), w))
        }
    }

  /** Every kept entry, oldest first. */
  def entries(sc: SparkContext): Seq[Entry] = {
    GraftSparkBridge.drainListenerBus(sc)
    synchronized(ring.toList)
  }

  /** The counters of every job and statement that ran under job group
    * `id`; zero for a group never seen or already evicted. */
  def group(sc: SparkContext, id: String): Work = {
    GraftSparkBridge.drainListenerBus(sc)
    synchronized(groupWork(id))
  }
}
