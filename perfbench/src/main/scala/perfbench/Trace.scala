package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, SortMergeJoinExec}

/** One timed interval at a layer boundary. Times are System.nanoTime for
  * spans the harness opens and epoch milliseconds * 1e6 for Spark jobs;
  * both are written as nanoseconds. */
final case class Span(id: Int, name: String, opId: Int, parent: Int, start: Long, end: Long)

/** In-memory span recorder. Disabled, `span` only runs its body. */
final class Tracer {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var opId = -1
  private var stack = List(-1)

  def beginOp(id: Int): Unit = { opId = id; stack = List(-1) }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      spans += null // reserve the id so children get higher ones
      val parent = stack.head
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, name, opId, parent, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Record an interval measured elsewhere (a Spark job) under `parent`. */
  def add(name: String, parent: Int, start: Long, end: Long): Unit =
    if (enabled) spans += Span(spans.size, name, opId, parent, start, end)

  /** Total duration of the named spans of one operation, in seconds. */
  def seconds(op: Int, name: String): Double =
    spans.iterator.filter(s => s.opId == op && s.name == name)
      .map(s => (s.end - s.start) / 1e9).sum
}

/** What the Spark scheduler did for one operation. */
final class OpCounters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var executorRunMs = 0L
  var executorCpuNs = 0L
  var shuffleWriteRecords = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var rddBlockBytes = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private[perfbench] val jobStart = mutable.Map.empty[Int, Long]
}

/** Listener registered by the harness for traced passes only. Operations
  * run one at a time and the harness drains the listener bus before it
  * reads an operation's counters, so every event belongs to the current
  * operation. */
final class OpListener extends SparkListener {
  @volatile private var cur = new OpCounters

  def begin(): Unit = cur = new OpCounters
  def current: OpCounters = cur

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    cur.jobs += 1
    cur.jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    cur.jobStart.remove(e.jobId).foreach(s => cur.jobIntervals += ((s, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    cur.stages += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = cur
    c.tasks += 1
    c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      c.executorRunMs += m.executorRunTime
      c.executorCpuNs += m.executorCpuTime
      c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) cur.rddBlockBytes += b.memSize + b.diskSize
  }
}

/** JVM-wide GC time and the peak heap occupancy seen right after a GC. */
final class HeapMonitor extends NotificationListener {
  @volatile var peakAfterGcBytes = 0L
  @volatile var active = false
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  gcs.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ => ()
  }

  def gcMillis: Long = gcs.map(_.getCollectionTime).filter(_ > 0).sum

  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (active && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      if (used > peakAfterGcBytes) peakAfterGcBytes = used
    }
}

/** Node and expression counts of an executed physical plan. */
final case class PlanCounts(aggExprs: Int = 0, codegenFallbackNodes: Int = 0,
                            exchanges: Int = 0, smj: Int = 0, bnlj: Int = 0,
                            nativeExprs: Int = 0, fallbackExprs: Int = 0) {
  def +(o: PlanCounts): PlanCounts = PlanCounts(aggExprs + o.aggExprs,
    codegenFallbackNodes + o.codegenFallbackNodes, exchanges + o.exchanges,
    smj + o.smj, bnlj + o.bnlj, nativeExprs + o.nativeExprs,
    fallbackExprs + o.fallbackExprs)
}

object PlanWalk {
  /** Walk a plan after execution, through adaptive query stages and
    * subqueries. A node counts as outside whole-stage codegen when no
    * WholeStageCodegenExec encloses it below an InputAdapter boundary. */
  def apply(plan: SparkPlan): PlanCounts = walk(plan, inCodegen = false)

  private def walk(p: SparkPlan, inCodegen: Boolean): PlanCounts = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen = false)
    case s: QueryStageExec => walk(s.plan, inCodegen = false)
    case _: ReusedExchangeExec => PlanCounts() // counted where it was built
    case w: WholeStageCodegenExec => walk(w.child, inCodegen = true)
    case i: InputAdapter => walk(i.child, inCodegen = false)
    case _ =>
      val own = node(p, inCodegen)
      val below = p.children.map(walk(_, inCodegen)) ++
        p.subqueries.map(walk(_, inCodegen = false))
      below.foldLeft(own)(_ + _)
  }

  private def node(p: SparkPlan, inCodegen: Boolean): PlanCounts = {
    val aggExprs = p match {
      case a: BaseAggregateExec
          if a.aggregateExpressions.exists(e => e.mode == Final || e.mode == Complete) =>
        a.aggregateExpressions.size
      case _ => 0
    }
    val fallbackNode = p match {
      case _: BaseAggregateExec | _: ProjectExec if !inCodegen => 1
      case _ => 0
    }
    var native = 0
    var fallback = 0
    p.expressions.foreach(_.foreach { e =>
      if (e.getClass.getName.startsWith("graft.functions.")) native += 1
      if (e.isInstanceOf[CodegenFallback]) fallback += 1
    })
    PlanCounts(
      aggExprs = aggExprs,
      codegenFallbackNodes = fallbackNode,
      exchanges = p match {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => 1
        case _ => 0
      },
      smj = if (p.isInstanceOf[SortMergeJoinExec]) 1 else 0,
      bnlj = if (p.isInstanceOf[BroadcastNestedLoopJoinExec]) 1 else 0,
      nativeExprs = native,
      fallbackExprs = fallback)
  }
}
