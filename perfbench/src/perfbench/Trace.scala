package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed call into a layer. `stmt` is the operation (statement,
  * write, read or pipeline stage) the span belongs to. */
final case class Span(id: Long, parent: Long, name: String, stmt: String, startNs: Long, endNs: Long)

/** Spans kept in memory and written out when the run ends. Disabled
  * (the e2e run), `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def span[T](name: String, stmt: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, stmt, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
}

/** Executor-side work per operation, from a listener the benchmark
  * registers. Jobs carry the operation id as a local property, so every
  * stage and task is charged to the operation that caused it. */
final class ExecCounters extends SparkListener {
  final class Op {
    var jobs, stages, tasks = 0L
    var cpuNs, runMs, inputBytes, shuffleRead, shuffleWrite, spill, outBytes = 0L
    var schedWaitMs = 0L
    val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  }
  private val ops = mutable.Map[String, Op]()
  private val stageOp = mutable.Map[Int, String]()
  private val stageSubmit = mutable.Map[Int, Long]()
  private val stageFirstLaunch = mutable.Map[Int, Long]()
  private val jobOp = mutable.Map[Int, (String, Long)]()
  @volatile private var lastEventNs = System.nanoTime()

  private def op(id: String): Op = ops.getOrElseUpdate(id, new Op)
  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch()
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(ExecCounters.Prop))).getOrElse("-")
    jobOp(e.jobId) = (id, e.time)
    op(id).jobs += 1
    e.stageIds.foreach(s => stageOp(s) = id)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch()
    jobOp.remove(e.jobId).foreach { case (id, t0) => op(id).jobSpans += ((t0, e.time)) }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    touch()
    stageSubmit(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    touch()
    if (!stageFirstLaunch.contains(e.stageId)) stageFirstLaunch(e.stageId) = e.taskInfo.launchTime
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    touch()
    val s = e.stageInfo.stageId
    val o = op(stageOp.getOrElse(s, "-"))
    o.stages += 1
    for (sub <- stageSubmit.remove(s); first <- stageFirstLaunch.remove(s))
      o.schedWaitMs += math.max(0L, first - sub)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    val o = op(stageOp.getOrElse(e.stageId, "-"))
    o.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      o.cpuNs += m.executorCpuTime
      o.runMs += m.executorRunTime
      o.inputBytes += m.inputMetrics.bytesRead
      o.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      o.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      o.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      o.outBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Waits until the listener bus has been quiet for 300 ms. */
  def drain(): Unit = {
    val limit = System.nanoTime() + 10_000_000_000L
    while (System.nanoTime() - lastEventNs < 300_000_000L && System.nanoTime() < limit) Thread.sleep(50)
  }

  def snapshot: Map[String, Op] = synchronized {
    ops.foreach { case (_, o) =>
      // gaps between consecutive jobs of one operation
      val js = o.jobSpans.sortBy(_._1)
      js.zip(js.drop(1)).foreach { case ((_, e0), (s1, _)) => o.schedWaitMs += math.max(0L, s1 - e0) }
      o.jobSpans.clear()
    }
    ops.toMap
  }
}

object ExecCounters {
  /** The local property that carries the operation id to the jobs it runs. */
  val Prop = "perfbench.op"
}
