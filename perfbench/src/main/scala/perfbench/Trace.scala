package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `layer` names the engine layer the span is
  * charged to; `attrs` carries the counts measured at that boundary.
  * Times are epoch seconds, so bench spans and Spark listener events
  * share one clock.
  */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, t0: Double, t1: Double,
    attrs: Map[String, Double] = Map.empty)

/** Spans recorded from outside the engine: the bench opens an op span
  * and a span around each public call; Spark's listener APIs supply
  * Catalyst phases, jobs and stages. Everything stays in memory until
  * [[spans]] is read at the end of the run. With `enabled = false`
  * only op boundaries are kept and no listener is registered.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val ids = new AtomicLong(0)
  private val own = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Long]
  private val pending = mutable.ArrayBuffer.empty[() => Unit]
  private var currentOp = -1L

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[PhaseRec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val parent = p.flatMap(x => Option(x.getProperty(SpanProp))).map(_.toLong)
      val op = p.flatMap(x => Option(x.getProperty(OpProp))).map(_.toLong)
      jobs.put(e.jobId, JobRec(e.jobId, parent.getOrElse(-1L),
        op.getOrElse(-1L), e.time / 1e3, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.t1 = e.time / 1e3)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val r = stages.computeIfAbsent((i.stageId, i.attemptNumber()),
        _ => new StageRec(i.stageId))
      r.t0 = i.submissionTime.map(_ / 1e3).getOrElse(Double.NaN)
      r.t1 = i.completionTime.map(_ / 1e3).getOrElse(Double.NaN)
      r.tasks = i.numTasks
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val r = stages.computeIfAbsent((e.stageId, e.stageAttemptId),
          _ => new StageRec(e.stageId))
        r.synchronized {
          r.runS += m.executorRunTime / 1e3
          r.cpuS += m.executorCpuTime / 1e9
          r.gcS += m.jvmGCTime / 1e3
          r.inBytes += m.inputMetrics.bytesRead
          r.inRecords += m.inputMetrics.recordsRead
          r.shRead += m.shuffleReadMetrics.totalBytesRead
          r.shWrite += m.shuffleWriteMetrics.bytesWritten
          r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add(PhaseRec(name, p.startTimeMs / 1e3, p.endTimeMs / 1e3))
      }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  private val epoch0 = System.currentTimeMillis() / 1e3
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e9

  /** Run one op of the workload as the root span of its own tree. */
  def op[T](opId: Long, name: String)(f: => T): T = {
    currentOp = opId
    val sid = ids.incrementAndGet()
    if (enabled) {
      spark.sparkContext.setLocalProperty(OpProp, opId.toString)
      spark.sparkContext.setLocalProperty(SpanProp, sid.toString)
    }
    stack.push(sid)
    val t0 = now()
    try {
      val r = f
      val t1 = now()
      if (enabled) own += Span(sid, -1L, opId, "op", name, t0, t1)
      r
    } finally {
      stack.pop()
      if (enabled) {
        spark.sparkContext.setLocalProperty(SpanProp, null)
        spark.sparkContext.setLocalProperty(OpProp, null)
      }
    }
  }

  /** Span around one public call into a layer. `attrs` collects the
    * counts the call produced; it runs at the next [[settle]], outside
    * the op (traced runs only).
    */
  def call[T](layer: String, name: String)(f: => T)
      (attrs: T => Map[String, Double] = (_: T) => Map.empty[String, Double]): T = {
    if (!enabled) return f
    val sid = ids.incrementAndGet()
    val parent = stack.headOption.getOrElse(-1L)
    spark.sparkContext.setLocalProperty(SpanProp, sid.toString)
    stack.push(sid)
    val t0 = now()
    try {
      val r = f
      val t1 = now()
      val at = own.size
      own += Span(sid, parent, currentOp, layer, name, t0, t1)
      pending += (() => own(at) = own(at).copy(attrs = attrs(r)))
      r
    } finally {
      stack.pop()
      spark.sparkContext.setLocalProperty(SpanProp,
        stack.headOption.map(_.toString).orNull)
    }
  }

  /** Collect the counts of the calls made since the last settle, in
    * call order. The caller runs it between ops, outside the timed
    * region.
    */
  def settle(): Unit = {
    pending.foreach(_())
    pending.clear()
  }

  /** Every recorded span: the bench's own, then jobs and stages with
    * their task metrics, then Catalyst phases (attributed to the
    * innermost bench span whose interval holds the phase start; one
    * client thread runs at a time, so time attribution is exact).
    */
  def spans(): Seq[Span] = {
    if (!enabled) return Seq.empty
    drain()
    val byId = own.map(s => s.id -> s).toMap
    val out = mutable.ArrayBuffer.empty[Span] ++= own
    val byStage = stages.asScala.toSeq.groupMap(_._1._1)(_._2)
    jobs.values.asScala.toSeq.sortBy(_.jobId).foreach { j =>
      val sid = ids.incrementAndGet()
      val parent = if (byId.contains(j.parent)) j.parent
        else innermost(j.t0).getOrElse(-1L)
      val op = byId.get(parent).map(_.op).getOrElse(j.op)
      val st = j.stageIds.flatMap(s => byStage.getOrElse(s, Nil))
      val t1 = if (j.t1.isNaN) j.t0 else j.t1
      out += Span(sid, parent, op, "exec", "job", j.t0, t1, Map(
        "stages" -> st.size.toDouble,
        "tasks" -> st.map(_.tasks).sum.toDouble,
        "task_run_s" -> st.map(_.runS).sum,
        "task_cpu_s" -> st.map(_.cpuS).sum,
        "gc_s" -> st.map(_.gcS).sum,
        "input_bytes" -> st.map(_.inBytes).sum.toDouble,
        "input_records" -> st.map(_.inRecords).sum.toDouble,
        "shuffle_read_bytes" -> st.map(_.shRead).sum.toDouble,
        "shuffle_write_bytes" -> st.map(_.shWrite).sum.toDouble,
        "spill_bytes" -> st.map(_.spill).sum.toDouble))
      st.filterNot(_.t0.isNaN).foreach { s =>
        out += Span(ids.incrementAndGet(), sid, op, "exec", "stage",
          s.t0, s.t1, Map("tasks" -> s.tasks.toDouble, "task_cpu_s" -> s.cpuS))
      }
    }
    phases.asScala.foreach { p =>
      val parent = innermost(p.t0).getOrElse(-1L)
      val op = byId.get(parent).map(_.op).getOrElse(-1L)
      out += Span(ids.incrementAndGet(), parent, op, "plans", p.name,
        p.t0, math.max(p.t0, p.t1))
    }
    out.toSeq
  }

  private def innermost(t: Double): Option[Long] =
    own.filter(s => s.t0 <= t && t <= s.t1).sortBy(s => s.t1 - s.t0)
      .headOption.map(_.id)

  /** Listener events arrive asynchronously. A marker job's end is
    * delivered after every event posted before it on the same queue.
    */
  private def drain(): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(SpanProp, null)
    sc.setLocalProperty(OpProp, MarkerOp.toString)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(OpProp, null)
    def done = jobs.values.asScala.exists(j => j.op == MarkerOp && !j.t1.isNaN)
    val deadline = System.nanoTime() + 30000000000L
    while (!done && System.nanoTime() < deadline) Thread.sleep(10)
    jobs.values.removeIf(_.op == MarkerOp)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  val OpProp = "perfbench.op"
  val SpanProp = "perfbench.span"
  private val MarkerOp = -2L

  final case class JobRec(jobId: Int, parent: Long, op: Long, t0: Double,
      stageIds: Seq[Int]) {
    @volatile var t1: Double = Double.NaN
  }
  final class StageRec(val stageId: Int) {
    @volatile var t0: Double = Double.NaN
    @volatile var t1: Double = Double.NaN
    @volatile var tasks: Int = 0
    var runS, cpuS, gcS = 0.0
    var inBytes, inRecords, shRead, shWrite, spill = 0L
  }
  final case class PhaseRec(name: String, t0: Double, t1: Double)
}
