package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** A call into a layer, made by the client (times in ms since run start);
  * `rows` is the number of rows it returned, or -1. */
final case class SpanRec(op: Int, layer: String, name: String, t0: Double, t1: Double,
    rows: Long)

/** One closed-loop operation. `rows_out` counts rows returned to the client;
  * `rows_changed` counts rows the operation inserted, deleted or updated. */
final case class OpRec(i: Int, kind: String, t0: Double, t1: Double,
    ok: Boolean, rows_out: Long, rows_changed: Long, error: String)

/** One Spark job, tied to its operation through the job group. */
final case class JobRec(op: Int, job: Int, t0: Double, var t1: Double,
    var stages: Int = 0, var tasks: Int = 0, var in_bytes: Long = 0,
    var in_rows: Long = 0, var out_bytes: Long = 0, var out_rows: Long = 0,
    var shuffle_read: Long = 0, var shuffle_write: Long = 0,
    var spill: Long = 0, var gc_ms: Long = 0, group: String = "")

/** A lake table scan found in an executed plan. */
final case class ScanRec(table: String, snapshot: Long, native: Boolean,
    files_read: Int, files_live: Int, delete_files_live: Int)

/** One Dataset action (collect, count, write, ...): its Catalyst phases as
  * (start, end) pairs and the lake scans of its executed plan. */
final case class ActionRec(op: Int, func: String,
    phases: Map[String, Seq[Double]], scans: Seq[ScanRec])

/** Per-op layer counters read from the commit log. */
final case class CommitRec(op: Int, snapshots: Int, files_added: Int,
    delete_files_added: Int, bytes_added: Long, state_ms: Double,
    kinds: Seq[String])

/** Wall clock shared by every record: ms since the run started. */
class Clock {
  private val base = System.nanoTime()
  private val epochBase = System.currentTimeMillis()
  def now: Double = (System.nanoTime() - base) / 1e6
  def fromEpoch(ms: Long): Double = (ms - epochBase).toDouble
}

/** Records operations and the client's calls into layers. Untraced runs
  * keep only these timings; a traced run also registers [[Tracer]]. */
class Recorder(clock: Clock, tracer: Option[Tracer]) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var cur = -1
  private var rowsOut = 0L
  private var rowsChanged = 0L

  /** Run one operation. The body's exception is caught and recorded as a
    * failed operation; correctness checks call [[fail]] afterwards. */
  def op(i: Int, kind: String)(body: => Unit): Unit = {
    tracer.foreach(_.beforeOp(i))
    cur = i; rowsOut = 0; rowsChanged = 0
    val t0 = clock.now
    val err = try { body; "" } catch {
      case e: Exception => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
    }
    val t1 = clock.now
    tracer.foreach(_.afterOp(i))
    ops += OpRec(i, kind, t0, t1, err.isEmpty, rowsOut, rowsChanged, err)
    cur = -1
  }

  /** Time one call into `layer` inside the current operation. */
  def call[T](layer: String, name: String)(body: => T): T = {
    val t0 = clock.now
    val r = body
    spans += SpanRec(cur, layer, name, t0, clock.now, r match {
      case a: Array[_] => a.length.toLong
      case _ => -1L
    })
    r
  }

  def out(n: Long): Unit = rowsOut += n
  def changed(n: Long): Unit = rowsChanged += n

  def fail(i: Int, msg: String): Unit = {
    val k = ops.lastIndexWhere(_.i == i)
    if (k >= 0 && ops(k).ok) ops(k) = ops(k).copy(ok = false, error = msg.take(300))
  }
}

/** Spark listener for the traced run: jobs with their stage and task
  * metrics, and every action's Catalyst phases and lake scans. Events are
  * delivered asynchronously; [[Recorder.op]] drains the bus around every
  * operation, so actions are attributed by order and jobs by job group. */
class Tracer(spark: SparkSession, clock: Clock) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  import Tracer._
  private val sc = spark.sparkContext
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val actions = mutable.ArrayBuffer.empty[ActionRec]
  private val openJobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private val pending = mutable.ArrayBuffer.empty[ActionRec]

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def beforeOp(i: Int): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized(pending.clear()) // actions of the client's checks
    sc.setJobGroup(group(i), s"op $i", interruptOnCancel = false)
  }

  def afterOp(i: Int): Unit = {
    sc.clearJobGroup()
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized {
      actions ++= pending.map(_.copy(op = i))
      pending.clear()
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey))).getOrElse("")
    val j = JobRec(opOf(g), e.jobId, clock.fromEpoch(e.time), -1, group = g)
    openJobs(e.jobId) = j
    e.stageInfos.foreach(s => stageJob(s.stageId) = j)
    if (j.op >= 0) jobs += j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach(_.t1 = clock.fromEpoch(e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    stageJob.remove(s.stageId).foreach { j =>
      j.stages += 1
      j.tasks += s.numTasks
      Option(s.taskMetrics).foreach { m =>
        j.in_bytes += m.inputMetrics.bytesRead
        j.in_rows += m.inputMetrics.recordsRead
        j.out_bytes += m.outputMetrics.bytesWritten
        j.out_rows += m.outputMetrics.recordsWritten
        j.shuffle_read += m.shuffleReadMetrics.totalBytesRead
        j.shuffle_write += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.gc_ms += m.jvmGCTime
      }
    }
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> Seq(clock.fromEpoch(p.startTimeMs), clock.fromEpoch(p.endTimeMs))
    }
    val scans = collectWithSubqueries(qe.executedPlan) {
      case p if p.children.isEmpty => p.simpleString(10000)
    }.flatMap(parseScan)
    synchronized(pending += ActionRec(-1, func, phases, scans))
  }

  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Tracer {
  val GroupKey = "spark.jobGroup.id"
  def group(i: Int): String = s"perfbench-op-$i"
  def opOf(g: String): Int =
    if (g.startsWith("perfbench-op-")) g.stripPrefix("perfbench-op-").toInt else -1

  private val Native = """graft-lake native scan (\S+)@(\d+) \((\d+) files, (\d+) with deletes\)""".r
  /** the composed tier plans as a V1 scan whose node names only the
    * relation's class, so its table and files are unknown */
  private val Composed = """graft\.lake\.LakeScan\b""".r

  /** lake scans named in a plan leaf's description; file counts other
    * than `files_read` are filled in from the catalog by the workload */
  def parseScan(s: String): Option[ScanRec] =
    Native.findFirstMatchIn(s).map(m =>
      ScanRec(m.group(1), m.group(2).toLong, native = true, m.group(3).toInt, 0, 0))
      .orElse(Composed.findFirstMatchIn(s).map(_ => ScanRec("", -1, native = false, -1, 0, 0)))
}
