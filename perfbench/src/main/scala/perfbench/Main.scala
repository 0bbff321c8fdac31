package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

final case class Result(workload: String, seed: Long, cores: Int, traced: Boolean,
    warmup: Int, cycle: Int, setup_s: Seq[Double], loop_ms: Double, ops: Seq[OpRec],
    spans: Seq[SpanRec], jobs: Seq[JobRec], actions: Seq[ActionRec],
    commits: Seq[CommitRec], snapshots: Long, storage: Seq[StorageRec],
    heap_mb: Seq[Double], failures: Seq[String], phases_s: Map[String, Double],
    probe_ms: Seq[Double])

/** Runs one workload and writes its raw observations as JSON; `run.py`
  * generates the operations, derives the metrics and prints the result.
  *
  * The measured loop always completes its first cycle of operations, even
  * past the time limit, so every run times every kind of operation. The
  * storage and the retained heap are read at the end of each completed
  * cycle, so the first reading comes from the same history in every run.
  *
  * Usage: perfbench.Main <workload> <ops.json> <seconds> <trace 0|1>
  *   <cores> <setups> <work dir> <cache dir> <result.json> */
object Main {
  private implicit val formats: Formats = DefaultFormats
  /** iterations of each of the probe's 4 tasks */
  val ProbeIters = 12000000L

  /** the probe's task: arithmetic that allocates nothing */
  def spin(task: Int): Long = {
    var s = 0L
    var k = 0L
    while (k < ProbeIters) { s += (k ^ task) % 7; k += 1 }
    s
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, opsPath, seconds, trace, cores, setups, workDir, cacheDir, out) = args
    val spec = JsonMethods.parse(new String(
      java.nio.file.Files.readAllBytes(new File(opsPath).toPath), StandardCharsets.UTF_8))
    val seed = (spec \ "seed").extract[Long]
    val warmup = (spec \ "warmup").extract[Int]
    val initial = (spec \ "initial").extract[Long]
    val cycle = (spec \ "cycle").extract[Int]
    val ops = (spec \ "ops").extract[Seq[Map[String, JValue]]].map { m =>
      Op(m("t").extract[String], (m - "t").map { case (k, v) => k -> v.extract[Long] })
    }.toVector
    val work = new File(workDir)
    val cache = new File(cacheDir)

    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      // Spark's own status store keeps every execution it is allowed to;
      // a short history keeps the retained heap a measure of the library
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
    graft.queries.Tables.sessionConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val clock = new Clock
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(body: => T): T = {
      val t0 = clock.now
      val r = body
      phases(name) = (clock.now - t0) / 1000
      println(f"[perfbench] ${clock.now / 1000}%.1f s: $name took ${phases(name)}%.1f s")
      r
    }
    val tracer = if (trace == "1") Some(new Tracer(spark, clock)) else None
    val rec = new Recorder(clock, tracer)
    val wl: Workload = workload match {
      case "scan" => new Scan(spark, seed, initial, work, cache, rec)
      case "dml" => new Dml(spark, seed, initial, work, cache, rec)
      case "mv_cdc" => new MvCdc(spark, seed, initial, work, cache, rec)
    }
    val commits = mutable.ArrayBuffer.empty[CommitRec]
    var lastSid = -1L

    /** traced run: the commit log's view of one operation */
    def inspect(i: Int): Unit = {
      val t0 = clock.now
      val st = wl.lake.store.state()
      val stateMs = clock.now - t0
      val sid = st.currentSnapshotId
      val ds = (lastSid + 1 to sid).map(wl.lake.store.delta)
      lastSid = sid
      val delBytes = ds.flatMap(_.newDeleteFiles).flatMap(d => d.path +: d.parts)
        .distinct.flatMap(p => Files.walk(new File(Files.localPath(p))))
        .distinct.map(_.length).sum
      commits += CommitRec(i, ds.size, ds.map(_.newFiles.size).sum,
        ds.map(_.newDeleteFiles.size).sum,
        ds.flatMap(_.newFiles).map(_.fileSizeBytes).sum + delBytes, stateMs,
        ds.flatMap(_.snapshot.changes).map(_.takeWhile(_ != ':')).distinct)
      tracer.foreach { t =>
        val k = t.actions.indexWhere(_.op == i)
        if (k >= 0) (k until t.actions.size).foreach { j =>
          val a = t.actions(j)
          t.actions(j) = a.copy(scans = a.scans.map {
            case s if !s.native => s
            case s =>
              val (sn, tn) = wl.lake.schemaOf(s.table)
              st.tableAt(sn, tn, s.snapshot).orElse(st.tableAt(sn, tn, sid)) match {
                case Some(e) => s.copy(files_live = st.filesAt(e.tableId, s.snapshot).size,
                  delete_files_live = st.deleteFilesAt(e.tableId, s.snapshot).size)
                case None => s
              }
          })
        }
      }
    }

    def step(i: Int): Unit = {
      wl.run(i, ops(i))
      if (tracer.isDefined) inspect(i)
    }

    phase("prepare")(wl.prepare())
    val setupS = (0 until setups.toInt).map { rep =>
      phase(s"setup$rep") {
        wl.build(rep)
        lastSid = wl.lake.store.state().currentSnapshotId
        // one op of each kind warms the JVM; later fixtures start warm
        if (rep == 0) (0 until warmup).foreach(step)
      }
      phases(s"setup$rep")
    }
    // the probe: a fixed Spark job timed after every operation. As an RDD
    // job it skips the SQL parser, Catalyst and the session's extensions,
    // so no lake code runs in it; it shares only the JVM and Spark's
    // scheduler with the operations, and allocates nothing, so a garbage
    // collection does not land in it. Lake latencies are also reported in
    // multiples of it, which cancels the machine's speed of the moment
    val probes = mutable.ArrayBuffer.empty[Double]
    def probe(): Double = {
      val t0 = clock.now
      spark.sparkContext.parallelize(0 until 4, 4).map(spin).reduce(_ + _)
      clock.now - t0
    }
    val storage = mutable.ArrayBuffer.empty[StorageRec]
    val heap = mutable.ArrayBuffer.empty[Double]
    def reading(): Unit = {
      val mem = java.lang.management.ManagementFactory.getMemoryMXBean
      System.gc(); Thread.sleep(200); System.gc()
      heap += mem.getHeapMemoryUsage.getUsed / 1e6
      storage += wl.storage()
    }
    (1 to 3).foreach(_ => probe())
    val loop0 = clock.now
    val deadline = loop0 + seconds.toDouble * 1000
    // time spent on readings, which the loop does not count
    var paused = 0.0
    var i = warmup
    while (i < ops.size && (clock.now - paused < deadline || i < warmup + cycle)) {
      step(i)
      probes += probe()
      i += 1
      if ((i - warmup) % cycle == 0) {
        val t0 = clock.now
        reading()
        paused += clock.now - t0
      }
    }
    val loopMs = clock.now - loop0 - paused
    val snapshots = wl.lake.store.state().currentSnapshotId

    phases("loop") = loopMs / 1000
    val failures = phase("finish")(wl.finish())
    val result = Result(workload, seed, cores.toInt, tracer.isDefined, warmup, cycle, setupS,
      loopMs, rec.ops.toSeq, rec.spans.toSeq, tracer.map(_.jobs.toSeq).getOrElse(Nil),
      tracer.map(_.actions.toSeq).getOrElse(Nil), commits.toSeq, snapshots,
      storage.toSeq, heap.toSeq, failures, phases.toMap, probes.toSeq)
    spark.stop()
    java.nio.file.Files.write(new File(out).toPath,
      Serialization.write(result).getBytes(StandardCharsets.UTF_8))
  }
}
