package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

import graft.config.GraftConfig

/** What one op produced: result rows, the outcome of its inline output
  * check (None = checked after the run), and the CSV input it carried.
  */
final case class OpOut(rows: Long = 0L, check: Option[Boolean] = None,
    csvRows: Long = 0L, csvBytes: Long = 0L)

/** One op of a workload's closed loop. `kind` is `write` or `read`.
  * `after` is the bench's own bookkeeping for the op (its model of the
  * table, the version it made); it runs outside the timed region, and
  * only when the op succeeded.
  */
final case class Op(kind: String, name: String, run: () => OpOut,
    after: () => Unit = () => ())

/** One output check: what was compared and whether it held. */
final case class Check(name: String, ok: Boolean, detail: String = "")

/** Shared state a workload sees: the session, its private work
  * directory, the seed, and the tracer (disabled during setup).
  */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long) {
  var tracer: Tracer = new Tracer(spark, enabled = false)
}

abstract class Workload(val ctx: Ctx) {
  /** How many times setup runs; setup_s is the median. */
  def setupReps: Int
  /** Build inputs, tables and fixtures, then warm up. Rep `r` of
    * `setupReps`; the last rep's state serves the timed phase.
    */
  def setup(rep: Int): Unit
  /** Runs, untimed, once the run's tracer is in place. */
  def beforeTimed(): Unit = ()
  def next(i: Int): Op
  /** Whether op kind `name` enters op_latency_s: true for the kinds the
    * schedule repeats often enough that each has a median per run.
    */
  def latencyKind(name: String): Boolean = true
  /** Output checks that run once, after the timed phase. */
  def verify(): Seq[Check]
  /** Layer state at the end of the run (counts from table metadata). */
  def state(): Map[String, Double]
}

/** Runs one workload for a fixed time and writes everything measured
  * to a JSON file; `run.py` turns that file into the metrics.
  *
  * The timed phase counts only time spent inside ops: the bench's work
  * between ops (making the next op's input, its post-op bookkeeping,
  * settling trace spans) is left out of `busy_s` and `cpu_s`.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <out.json>
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length == 5,
      "usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <out.json>")
    val Array(name, seedS, secondsS, traceS, outS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors()

    val s0 = System.nanoTime()
    val spark = GraftConfig("", cores, "perfbench").newSession()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - s0) / 1e9

    val work = Paths.get(System.getProperty("java.io.tmpdir"), s"wl-$name")
    val ctx = new Ctx(spark, work, seed)
    val wl: Workload = name match {
      case "ingest_drift"  => new IngestDrift(ctx)
      case "serve_evolved" => new ServeEvolved(ctx)
      case "mixed_dml"     => new MixedDml(ctx)
      case "curate_corpus" => new CurateCorpus(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val setupS = (0 until wl.setupReps).map { r =>
      val t = System.nanoTime()
      wl.setup(r)
      (System.nanoTime() - t) / 1e9
    }

    // timed phase
    val tracer = new Tracer(spark, traced)
    ctx.tracer = tracer
    wl.beforeTimed()
    val heap = new HeapAfterGc
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum
    val gc0 = gcMs
    val steal0 = HostSteal.seconds()
    val start = tracer.now()
    val ops = mutable.ArrayBuffer.empty[JValue]
    val errors = mutable.ArrayBuffer.empty[String]
    var i = 0
    var busy = 0.0
    var cpu = 0.0
    while (busy < seconds) {
      val op = wl.next(i)
      val c0 = os.getProcessCpuTime
      val t0 = tracer.now()
      val (out, ok) =
        try {
          (tracer.op(i.toLong, op.name)(op.run()), true)
        } catch {
          case e: Throwable =>
            if (errors.size < 5) errors += s"${op.name}: ${e.toString.take(300)}"
            (OpOut(), false)
        }
      val t1 = tracer.now()
      cpu += (os.getProcessCpuTime - c0) / 1e9
      busy += t1 - t0
      if (ok) op.after()
      tracer.settle()
      ops += ("i" -> i) ~ ("kind" -> op.kind) ~ ("name" -> op.name) ~
        ("latency_kind" -> wl.latencyKind(op.name)) ~
        ("t0" -> (t0 - start)) ~ ("t1" -> (t1 - start)) ~ ("ok" -> ok) ~
        ("check" -> out.check) ~ ("rows" -> out.rows) ~
        ("csv_rows" -> out.csvRows) ~ ("csv_bytes" -> out.csvBytes)
      i += 1
    }
    val gcS = (gcMs - gc0) / 1e3
    val stealS = HostSteal.seconds() - steal0
    System.gc()
    val heapLive = heap.sampleNow()
    val heapPeak = heap.stop()
    val spans = tracer.spans()

    val checks = try wl.verify() catch {
      case e: Throwable => Seq(Check("verify", ok = false, e.toString.take(300)))
    }
    val state = try wl.state() catch { case _: Throwable => Map.empty[String, Double] }

    val json: JValue =
      ("workload" -> name) ~ ("seed" -> seed) ~ ("seconds" -> seconds) ~
      ("trace" -> traced) ~ ("cores" -> cores) ~
      ("session_s" -> sessionS) ~ ("setup_s" -> setupS) ~ ("busy_s" -> busy) ~
      ("cpu_s" -> cpu) ~ ("gc_s" -> gcS) ~ ("host_steal_s" -> stealS) ~
      ("heap_peak_mb" -> heapPeak) ~ ("heap_live_mb" -> heapLive) ~
      ("errors" -> errors.toList) ~
      ("checks" -> checks.toList.map(c =>
        ("name" -> c.name) ~ ("ok" -> c.ok) ~ ("detail" -> c.detail))) ~
      ("state" -> state) ~
      ("ops" -> JArray(ops.toList)) ~
      ("spans" -> spans.toList.map(s => ("id" -> s.id) ~ ("parent" -> s.parent) ~
        ("op" -> s.op) ~ ("layer" -> s.layer) ~ ("name" -> s.name) ~
        ("t0" -> (s.t0 - start)) ~ ("t1" -> (s.t1 - start)) ~ ("attrs" -> s.attrs)))
    Files.write(Paths.get(outS),
      JsonMethods.compact(JsonMethods.render(json)).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Peak heap after GC: the heap in use after each collection, read from
  * the GC notifications, maximum over the timed phase.
  */
final class HeapAfterGc {
  @volatile private var peak = 0.0
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (k, v) if heapPools(k) => v.getUsed }.sum
        record(used)
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  private def record(bytes: Long): Unit = synchronized {
    peak = math.max(peak, bytes / 1048576.0)
  }
  /** Heap in use now, in MB; also counted towards the peak. */
  def sampleNow(): Double = {
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    record(used)
    used / 1048576.0
  }
  def stop(): Double = {
    emitters.foreach(e => scala.util.Try(e.removeNotificationListener(listener)))
    peak
  }
}

/** CPU time the hypervisor gave to other guests, summed over all CPUs
  * (the `steal` column of /proc/stat; 0 where there is none). It does
  * not enter any metric: the report prints it so that a run slowed by a
  * busy host can be told from a slower engine.
  */
object HostSteal {
  def seconds(): Double = scala.util.Try {
    val cpu = scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+")
    cpu(8).toDouble / 100.0
  }.getOrElse(0.0)
}
