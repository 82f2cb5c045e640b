package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same base as the millisecond timestamps of Spark's listener events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

object Jvm {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum
}

final class JobSpan(val id: Int, val start: Double) { var end: Double = start }

/** Everything the traced run attributes to one facade operation. */
final class OpTrace(val id: String, val kind: String, val cls: String) {
  val start: Double = Clock.nowMs
  var callEnd: Double = start
  var end: Double = start
  var resultRows = 0L
  var jvmGcMs = 0L
  val jobs = ArrayBuffer.empty[JobSpan]
  /** (phase, start, end) of every Catalyst phase of every action. */
  val phases = ArrayBuffer.empty[(String, Double, Double)]
  var viewScan = false
  var tasks, runMs, cpuNs, gcMs, bytesRead, recordsRead, shuffleBytes, spillBytes = 0L
}

/** Span recorder for the traced run. A SparkListener attributes jobs,
  * tasks and task metrics to the operation whose job group issued them; a
  * QueryExecutionListener collects each action's Catalyst phase times and
  * executed plan. The client is a single closed-loop thread, so the
  * operation in flight is also the owner of any job that arrives without
  * the group property (jobs started from engine-owned thread pools).
  * Spans stay in memory until [[writeSpans]].
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val byGroup = new ConcurrentHashMap[String, OpTrace]()
  private val byStage = new ConcurrentHashMap[Int, OpTrace]()
  private val byJob = new ConcurrentHashMap[Int, JobSpan]()
  @volatile private var current: OpTrace = null
  private var seq = 0L
  private var gc0 = 0L
  val done = ArrayBuffer.empty[OpTrace]

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def begin(kind: String, cls: String): OpTrace = {
    seq += 1
    val op = new OpTrace(s"perfbench-$seq", kind, cls)
    byGroup.put(op.id, op)
    current = op
    gc0 = Jvm.gcMs
    sc.setJobGroup(op.id, kind, interruptOnCancel = false)
    op
  }

  def callReturned(op: OpTrace): Unit = op.callEnd = Clock.nowMs

  /** Close the op after its result reached the driver: wait until every
    * listener event it caused has been delivered, then detach it. */
  def end(op: OpTrace, rows: Long, ok: Boolean): Unit = {
    op.end = Clock.nowMs
    op.resultRows = rows
    op.jvmGcMs = Jvm.gcMs - gc0
    sc.clearJobGroup()
    PerfbenchBus.drain(sc)
    current = null
    byGroup.remove(op.id)
    if (ok) done += op
  }

  private def owner(props: java.util.Properties): OpTrace =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(g => Option(byGroup.get(g))).getOrElse(current)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = owner(e.properties)
    if (op != null) {
      val j = new JobSpan(e.jobId, e.time.toDouble)
      op.synchronized(op.jobs += j)
      byJob.put(e.jobId, j)
      e.stageIds.foreach(s => byStage.put(s, op))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(byJob.remove(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = byStage.get(e.stageId)
    val m = e.taskMetrics
    if (op != null && m != null) op.synchronized {
      op.tasks += 1
      op.runMs += m.executorRunTime
      op.cpuNs += m.executorCpuTime
      op.gcMs += m.jvmGCTime
      op.bytesRead += m.inputMetrics.bytesRead
      op.recordsRead += m.inputMetrics.recordsRead
      op.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      op.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private def onAction(qe: QueryExecution): Unit = {
    val op = current
    if (op != null) {
      val ph = qe.tracker.phases.toSeq.map { case (name, p) =>
        (name, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
      val scan = qe.executedPlan.treeString.contains("InMemoryTableScan")
      op.synchronized {
        op.phases ++= ph
        op.viewScan ||= scan
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    onAction(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onAction(qe)

  // ---- spans and self time -------------------------------------------

  /** One span: `parent` is the enclosing span's name within the op. */
  final case class Span(op: String, kind: String, name: String, parent: String,
      start: Double, end: Double, self: Double)

  private def covered(lo: Double, hi: Double, kids: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var reach = lo
    kids.map { case (s, e) => (s max lo, e min hi) }.filter { case (s, e) => e > s }
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - (s max reach); reach = e }
      }
    total
  }

  /** The span tree of one op: op ⊃ {collection.call, collect}; Catalyst
    * phases and Spark jobs hang off whichever of the two they started in. */
  def spans(op: OpTrace): Seq[Span] = {
    val leaves: Seq[(String, Double, Double)] =
      op.phases.toSeq.map { case (n, s, e) => ("catalyst." + n, s, e max s) } ++
        op.jobs.toSeq.map(j => (s"job.${j.id}", j.start, j.end max j.start))
    val (inCall, inCollect) = leaves.partition(_._2 < op.callEnd)
    def kids(xs: Seq[(String, Double, Double)]) = xs.map(x => (x._2, x._3))
    val callSelf = (op.callEnd - op.start) - covered(op.start, op.callEnd, kids(inCall))
    val collSelf = (op.end - op.callEnd) - covered(op.callEnd, op.end, kids(inCollect))
    val opSelf = (op.end - op.start) -
      covered(op.start, op.end, Seq((op.start, op.callEnd), (op.callEnd, op.end)))
    Seq(
      Span(op.id, op.kind, "op", "", op.start, op.end, opSelf),
      Span(op.id, op.kind, "collection.call", "op", op.start, op.callEnd, callSelf),
      Span(op.id, op.kind, "collect", "op", op.callEnd, op.end, collSelf)) ++
      inCall.map { case (n, s, e) => Span(op.id, op.kind, n, "collection.call", s, e, e - s) } ++
      inCollect.map { case (n, s, e) => Span(op.id, op.kind, n, "collect", s, e, e - s) }
  }

  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try done.foreach(op => spans(op).foreach { s =>
      w.println(Json.render(Map(
        "op" -> s.op, "kind" -> s.kind, "span" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> s.self)))
    })
    finally w.close()
  }
}
