package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch nanoseconds, read through `nanoTime` so spans keep
  * its resolution while staying comparable with the millisecond
  * timestamps Spark's listener bus reports. */
object Clock {
  private val baseNs = System.currentTimeMillis() * 1000000L
  private val n0 = System.nanoTime()
  def now(): Long = baseNs + (System.nanoTime() - n0)
}

/** One traced interval. `layer` is the module the span belongs to: the
  * name up to its first dot (`sources.read` → `sources`). */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, depth: Int, job: Int) {
  def layer: String = name.takeWhile(_ != '.')
  def dur: Long = end - start
}

/** Spans recorded by the benchmark around its own calls into the engine.
  * Kept in memory and written out when the run ends. A disabled tracer
  * runs the bodies and records nothing. */
final class Tracer {
  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  var enabled = false

  def root[T](name: String, job: Int)(body: => T): T = {
    require(stack.isEmpty, "root spans do not nest")
    open(name, job)(body)
  }

  def span[T](name: String)(body: => T): T =
    stack.headOption match {
      case Some(parent) => open(name, parent.job)(body)
      case None => body
    }

  private def open[T](name: String, job: Int)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val placeholder = Span(spans.size, name, Clock.now(), 0L, parent.map(_.id).getOrElse(-1),
        parent.map(_.depth + 1).getOrElse(0), job)
      spans += placeholder
      stack = placeholder :: stack
      try body
      finally {
        stack = stack.tail
        spans(placeholder.id) = placeholder.copy(end = Clock.now())
      }
    }

  def add(s: Span): Span = { val t = s.copy(id = spans.size); spans += t; t }
}

object Trace {
  /** Attaches an interval observed by a listener (a Spark job, a planning
    * phase) under the deepest span of `job` that contains its start,
    * clipped to that parent. Returns None when it falls outside. */
  def attach(tr: Tracer, jobSpans: Seq[Span], name: String, startNs: Long, endNs: Long): Option[Span] = {
    val root = jobSpans.find(_.parent < 0).get
    val s = math.max(startNs, root.start)
    val e = math.min(endNs, root.end)
    if (e <= s) None
    else {
      val parent = jobSpans.filter(p => p.start <= s && s < p.end).maxBy(p => (p.depth, p.start))
      val cs = math.max(s, parent.start)
      val ce = math.min(e, parent.end)
      if (ce <= cs) None
      else Some(tr.add(Span(-1, name, cs, ce, parent.id, parent.depth + 1, root.job)))
    }
  }

  /** Self time per layer for the spans of one job: every instant of the
    * root span is charged to the deepest span open at that instant (the
    * later-started one when two of equal depth overlap), so the self
    * times add up to the root span's duration exactly. With properly
    * nested spans this is each span's duration minus its children's. */
  def selfTimes(jobSpans: Seq[Span]): Map[String, Long] = {
    val points = jobSpans.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val out = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    points.sliding(2).foreach {
      case Seq(a, b) =>
        val open = jobSpans.filter(s => s.start <= a && s.end >= b)
        if (open.nonEmpty) out(open.maxBy(s => (s.depth, s.start)).layer) += b - a
      case _ =>
    }
    out.toMap
  }

  /** Measure of the union of intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

// -------------------------------------------------------------- listeners

/** `pins`: the job materializes a persisted RDD no earlier job held, as
  * the engine's eager lineage pins (`localCheckpoint`) do. */
final case class JobRec(id: Int, start: Long, end: Long, pins: Boolean)
final case class StageRec(id: Int, numTasks: Int, submit: Long, complete: Long)
final case class TaskRec(stage: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                         shuffleWrite: Long, shuffleRead: Long, shuffleRecords: Long, spill: Long,
                         bytesRead: Long, bytesWritten: Long)

/** Spark's scheduler events, recorded as they arrive on the listener bus.
  * Read only after the session has stopped (which drains the bus). */
final class ExecListener extends SparkListener {
  private val jobStarts = ArrayBuffer[(Int, Long, Boolean)]()
  private val persisted = scala.collection.mutable.Set[Int]()
  private val jobEnds = scala.collection.mutable.Map[Int, Long]()
  val stages = ArrayBuffer[StageRec]()
  val tasks = ArrayBuffer[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val fresh = e.stageInfos.flatMap(_.rddInfos).filter(_.storageLevel.isValid).map(_.id)
      .filterNot(persisted).distinct
    persisted ++= fresh
    jobStarts += ((e.jobId, e.time, fresh.nonEmpty))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobEnds(e.jobId) = e.time }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stages += StageRec(i.stageId, i.numTasks, s, c)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.recordsWritten, m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
  }
  def jobs: Seq[JobRec] = synchronized {
    jobStarts.toSeq.map { case (id, t, pins) => JobRec(id, t, jobEnds.getOrElse(id, t), pins) }
  }
}

/** Planning phases and plan shape of every query the session executed. */
final case class PlanRec(start: Long, end: Long, exchanges: Int, broadcasts: Int, codegen: Int)

final class PlanListener extends QueryExecutionListener {
  val plans = ArrayBuffer[PlanRec]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    for (o <- phases.get("optimization"); p <- phases.get("planning")) {
      val nodes = PlanWalk.nodes(qe.executedPlan)
      val rec = PlanRec(o.startTimeMs, p.endTimeMs,
        nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
        nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
        nodes.count(_.isInstanceOf[WholeStageCodegenExec]))
      synchronized { plans += rec }
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def all: Seq[PlanRec] = synchronized(plans.toSeq)
}

object PlanWalk {
  /** Every physical node, through adaptive wrappers (their final plan),
    * query stages and command results (plans hanging off `innerChildren`). */
  def nodes(root: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    val out = ArrayBuffer[SparkPlan]()
    def go(p: SparkPlan): Unit = if (seen.add(p)) {
      out += p
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.innerChildren.collect { case c: SparkPlan => c }
      }
      (p.children ++ inner).foreach(go)
    }
    go(root)
    out.toSeq
  }
}

/** One micro-batch as the streaming engine reports it. */
final case class TriggerRec(batchId: Long, start: Long, durations: Map[String, Long], inputRows: Long) {
  def d(k: String): Long = durations.getOrElse(k, 0L)
  def end: Long = start + d("triggerExecution")
}

final class StreamListener extends StreamingQueryListener {
  private val buf = ArrayBuffer[TriggerRec]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.durationMs.containsKey("addBatch")) {
      val rec = TriggerRec(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows)
      synchronized { buf += rec }
    }
  }
  def triggers: Seq[TriggerRec] = synchronized(buf.toSeq)
}

/** The heap a unit of work leaves behind: a full collection runs after
  * every unit, outside its timing, and the heap in use after it comes
  * from the JVM's GC notification. `peak` is the highest such reading
  * since the last reset. Readings after collections the JVM starts by
  * itself are left out: they land at arbitrary points inside a job and
  * vary from run to run. */
object HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.openmbean.CompositeData

  @volatile private var peakBytes = 0L
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter =>
      em.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: AnyRef): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            if (info.getGcCause == "System.gc()") {
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
              if (used > peakBytes) peakBytes = used
            }
          }
      }, null, null)
    case _ =>
  }

  /** Runs a unit of work, then a full collection. */
  def settled[T](unit: => T): T = {
    val out = unit
    System.gc()
    out
  }
  def reset(): Unit = peakBytes = 0L
  def peak: Long = peakBytes
}
