package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark main: runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Protocol (BASELINE.md "Measurement protocol to adopt", mirroring the
  * reference's warmup+iterations harness at
  * /root/reference/test/benchmark/bench_direct_insert.sh:17-19): 1 warmup
  * run + 3 timed runs per query, report the MEDIAN. The warmup isolates
  * steady-state plan execution from one-time janino/codegen compilation,
  * which at sf0.1 otherwise dominates small queries. Cached stages are
  * cleared between queries so no query reuses another's persisted data.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // Scan-split sizing: Spark packs small files into splits of
    // maxPartitionBytes (default 128 MB), so a ~100 MB table scans on 1-2
    // tasks while 30 cores idle — DuckDB splits by row group automatically.
    // For the large-sf bench we split to ~total/cores like a real cluster
    // job would (the tuning knob BASELINE.md's protocol documents).
    sys.env.get("SPARK_GRAFT_MAXPART_MB").foreach(mb =>
      builder.config("spark.sql.files.maxPartitionBytes", s"${mb}MB")
        .config("spark.sql.files.openCostInBytes", s"${256 * 1024}"))
    // free-form conf overrides for A/B runs: "k=v;k=v"
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.contains("=")).foreach { kv =>
      val Array(k, v) = kv.split("=", 2); builder.config(k, v)
    })
    graft.queries.Tables.sessionConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case e: Throwable =>
          // LOUD failure marker: a -1.0 in the runs triple is the artifact
          // signal (an sf100 ENOSPC once hid inside a median until the
          // triple was read); the stderr line makes it greppable live.
          System.err.println(s"[bench] RUN FAILED: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(200))
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    // Fixed-cost machine sentinel (VERDICT r6 #7): a constant workload with
    // no data dependency, timed at suite start and end. If the reported
    // values drift >1.5x from the committed reference (BASELINE.md), the
    // whole run was taken on a loaded machine and its absolute numbers are
    // untrustworthy — compare ratios to the sentinel instead. Median of 3
    // after 1 warmup, same protocol as the queries.
    def sentinel(): Double = {
      import org.apache.spark.sql.functions._
      def one(): Double = {
        val t0 = System.nanoTime()
        spark.range(10000000L).select(
            sum(hash(col("id"), lit(42)).cast("long")).as("h"))
          .collect()
        (System.nanoTime() - t0) / 1e9
      }
      one()
      Seq.fill(3)(one()).sorted.apply(1)
    }
    // Disk sentinel (VERDICT r10 #4): free bytes on the tmp filesystem at
    // sweep start/end, recorded in the artifact so round-over-round
    // comparability of disk-state-dependent entries is checkable.
    def diskFreeGb(): Double =
      new java.io.File(sys.props("java.io.tmpdir")).getUsableSpace / 1e9
    // I/O-regime sentinel (r17, VERDICT r16 #6): a FIXED-size parquet scan
    // timed beside the CPU sentinel. The r16 driver sweep inflated entries
    // a median 23% while the CPU sentinel read clean (1.5%) — the ambient
    // elevation lived in the I/O/syscall path the compute sentinel cannot
    // sense. The file is written fresh each run (deterministic content,
    // ~60 MB, OUTSIDE any timed window); reads run against a warm page
    // cache, exactly the regime the per-entry medians run in, so a shift
    // here stamps an I/O-regime change without per-entry forensics.
    val ioSentinelDir = java.nio.file.Files.createTempDirectory("graft_iosent")
    val ioSentinelPath = ioSentinelDir.resolve("t.parquet").toString
    spark.range(8000000L)
      .selectExpr("id", "cast(id % 97 as string) AS s",
        "id * 2654435761 % 1000003 AS v")
      .write.mode("overwrite").parquet(ioSentinelPath)
    def ioSentinel(): Double = {
      def one(): Double = {
        val t0 = System.nanoTime()
        spark.read.parquet(ioSentinelPath)
          .selectExpr("sum(v) AS sv", "count(s) AS cs").collect()
        (System.nanoTime() - t0) / 1e9
      }
      one()
      Seq.fill(3)(one()).sorted.apply(1)
    }
    val sentinelStart = sentinel()
    val ioSentinelStart = ioSentinel()
    // Sentinel-band gate (r14, VERDICT r13 #6): compare against the
    // PREVIOUS committed artifact at the same path, so a round-over-round
    // total that moved on ambient machine state (r13: +8% suite-wide with
    // sentinels 35-55% high) carries its own explanation. Drift > 25%
    // re-measures the sentinel once (transient spikes settle) and keeps
    // the better reading; the band (prev, drift%) is recorded either way.
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json"))
    val prevSentinel: Option[Double] =
      if (!java.nio.file.Files.exists(outPath)) None
      else "\"sentinel_start\":([0-9.Ee+-]+)".r
        .findFirstMatchIn(new String(
          java.nio.file.Files.readAllBytes(outPath), "UTF-8"))
        .map(_.group(1).toDouble).filter(_ > 0)
    // ADVICE r14: keep BOTH readings and keep the note whenever the FIRST
    // reading breached the band — the old min(first, again) could stamp a
    // clean artifact when +30% settled to +22%, and for negative drift the
    // min amplified rather than settled the reading.
    val (sentinelReadings, sentinelDriftPct, sentinelBreached) = prevSentinel match {
      case Some(prev) =>
        val drift1 = (sentinelStart - prev) / prev * 100
        if (math.abs(drift1) > 25) {
          val again = sentinel()
          (Seq(sentinelStart, again), (again - prev) / prev * 100, true)
        } else (Seq(sentinelStart), drift1, false)
      case None => (Seq(sentinelStart), 0.0, false)
    }
    val sentinelStart2 = sentinelReadings.head
    // previous I/O sentinel from the committed artifact → drift stamp
    val prevIoSentinel: Option[Double] =
      if (!java.nio.file.Files.exists(outPath)) None
      else "\"io_sentinel_start\":([0-9.Ee+-]+)".r
        .findFirstMatchIn(new String(
          java.nio.file.Files.readAllBytes(outPath), "UTF-8"))
        .map(_.group(1).toDouble).filter(_ > 0)
    val ioBand = prevIoSentinel.map { prev =>
      val drift = (ioSentinelStart - prev) / prev * 100
      s""","io_sentinel_prev":$prev,"io_sentinel_drift_pct":${
        String.format(java.util.Locale.ROOT, "%.1f", Double.box(drift))}""" +
        (if (math.abs(drift) > 25)
          ""","io_sentinel_note":"I/O-regime drift >25% vs previous artifact; I/O-bound entries this sweep are not comparable round-over-round" """.trim
        else "")
    }.getOrElse("")
    val sentinelBand = prevSentinel.map(prev =>
      s""""sentinel_prev":$prev,"sentinel_readings":[${sentinelReadings.mkString(",")}],""" +
      s""""sentinel_drift_pct":${String.format(java.util.Locale.ROOT, "%.1f", Double.box(sentinelDriftPct))}""" +
        (if (sentinelBreached || math.abs(sentinelDriftPct) > 25)
          ""","sentinel_note":"ambient drift >25% vs previous artifact; absolute timings this sweep are not comparable round-over-round" """.trim
        else "")).getOrElse("")
    // Per-entry medians from the previous committed artifact (VERDICT r14
    // #1b): the CPU sentinel is blind to I/O/shuffle ambient state, so the
    // gate also compares this sweep's medians against last sweep's.
    val prevQueries: Map[String, Double] =
      if (!java.nio.file.Files.exists(outPath)) Map.empty
      else {
        val t = new String(java.nio.file.Files.readAllBytes(outPath), "UTF-8")
        "\"queries\":\\{([^}]*)\\}".r.findFirstMatchIn(t).map(_.group(1))
          .map(body => "\"([A-Za-z0-9_]+)\":([0-9.Ee+-]+)".r.findAllMatchIn(body)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap)
          .getOrElse(Map.empty)
      }
    // SPARK_GRAFT_ONLY=q01_pricing_summary,q03_... restricts the suite —
    // used for the large-sf job-floor bench where the lakehouse op
    // sequences (create/DML per invocation) are not the object of study
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    // Fixture prep OUTSIDE the timed sweep (VERDICT r10 #4): the bucketed
    // fixture build mid-sweep filled /tmp from 53% to 78% and shifted every
    // later disk-bound entry (l38 +0.9 s) — build it before any timing so
    // the sweep runs against stable disk state. Stamped: an already-built
    // fixture is a no-op check under the cross-process lock. Guarded so an
    // SPARK_GRAFT_ONLY run without bucketed entries never pays the build.
    if (selected.keys.exists(_.contains("b_bucketed")))
      graft.queries.BucketedFacts.catalog(spark, sfDir)
    val diskStart = diskFreeGb()
    // cold protocol (r15): SPARK_GRAFT_COLD=1 skips the warmup and times a
    // SINGLE run — the caller dropped the OS page cache and wants first-read
    // I/O included, which a warmup would destroy
    val cold = sys.env.get("SPARK_GRAFT_COLD").contains("1")
    val allRuns = selected.map { case (name, fn) =>
      if (!cold) once(fn) // warmup (also materializes any persisted stages)
      val timed = Seq.fill(if (cold) 1 else 3) {
        spark.sharedState.cacheManager.clearCache()
        once(fn)
      }.sorted
      spark.sharedState.cacheManager.clearCache()
      name -> timed
    }
    val results = allRuns.map { case (name, timed) => name -> timed(timed.length / 2) }
    val sentinelEnd = sentinel()
    val ioSentinelEnd = ioSentinel()
    val diskEnd = diskFreeGb()
    // Entry-drift gate (VERDICT r14 #1b): median-of-3 vs the previous
    // artifact's median-of-3, per entry. Fires when >20% of comparable
    // entries moved >40% in one direction — the r14 ambient pattern the
    // compute sentinel could not see.
    val (dN, dUp, dDown, dMedPct, driftNote) =
      BenchGate.entryDrift(prevQueries, results.toMap)
    val driftField = if (dN == 0) "" else {
      val med = String.format(java.util.Locale.ROOT, "%.1f", Double.box(dMedPct))
      s""","entry_drift":{"n":$dN,"up40":$dUp,"down40":$dDown,"median_drift_pct":$med}""" +
        driftNote.map(n => s""","drift_note":"$n"""").getOrElse("")
    }
    // Self-describing artifact (VERDICT r14 #1c): the effective env knobs
    // and fixture layout ride in the JSON so a leaked override is visible
    // forensically rather than invisible in a bare timings map.
    val envField = {
      def j(o: Option[String]) = o.map(v =>
        "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\"").getOrElse("null")
      s""","env":{"graft_conf":${j(sys.env.get("SPARK_GRAFT_CONF"))},""" +
        s""""maxpart_mb":${j(sys.env.get("SPARK_GRAFT_MAXPART_MB"))},""" +
        s""""runs":${j(sys.env.get("SPARK_GRAFT_RUNS"))},""" +
        s""""cold":$cold,""" +
        s""""only":${j(sys.env.get("SPARK_GRAFT_ONLY"))},""" +
        s""""fixture_layout":"${graft.queries.BucketedFacts.Layout}"}"""
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // First-class JSON artifact (VERDICT r7 #7): the complete per-entry
    // medians AND the raw sorted run triples go to a file in the repo root
    // so round-over-round comparison covers every entry. Written BEFORE the
    // stdout tail (VERDICT r9 #8) so a truncated console never loses data.
    // Overwritten per run; committed with the round.
    val runsJson = allRuns.map { case (k, ts) =>
      s"\"" + k + "\":[" + ts.mkString(",") + "]"
    }.mkString("{", ",", "}")
    val bandField = (if (sentinelBand.isEmpty) "" else s",$sentinelBand") +
      ioBand + driftField
    val full = s"""{"metric":"total","value":$total,"unit":"sec","cpus":$cpus,""" +
      s""""queries":$qs,"runs":$runsJson,"sentinel_start":$sentinelStart2,""" +
      s""""sentinel_end":$sentinelEnd,""" +
      s""""io_sentinel_start":$ioSentinelStart,"io_sentinel_end":$ioSentinelEnd""" +
      s"""$bandField$envField,"disk_free_gb_start":$diskStart,""" +
      s""""disk_free_gb_end":$diskEnd,"sf":"$sfDir","epoch_ms":${System.currentTimeMillis}}"""
    val out = outPath
    java.nio.file.Files.write(out, full.getBytes("UTF-8"))
    // Stdout tail LAST, and bounded: the driver's BENCH_r{N}.json keeps only
    // a ~2000-char stdout tail, so a 124-entry full-precision map gets its
    // head cut off and the driver records "parsed": null (r9 artifact). Emit
    // millisecond-rounded values, and if the line still can't fit the tail
    // window, fall back to the headline q* subset plus a pointer at the full
    // artifact — the driver's parse then always succeeds standalone.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def lineFor(m: Map[String, Double], extra: String): String = {
      val body = m.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$body,""" +
        s""""sentinel_start":${fmt(sentinelStart2)},"sentinel_end":${fmt(sentinelEnd)},""" +
        s""""io_sentinel_start":${fmt(ioSentinelStart)},"io_sentinel_end":${fmt(ioSentinelEnd)}$bandField,""" +
        s""""disk_free_gb_start":${fmt(diskStart)},"disk_free_gb_end":${fmt(diskEnd)}""" +
        extra + s""","sf":"$sfDir"}"""
    }
    val allLine = lineFor(results, "")
    val line =
      if (allLine.length <= 1900) allLine
      else lineFor(results.filter(_._1.startsWith("q")),
        s""","queries_full":"${out.getFileName}"""")
    println(line)
    spark.stop()
  }
}

/** Entry-drift gate (VERDICT r14 #1b), factored out so the firing
  * condition is unit-testable against a synthetic slowdown without a
  * Spark session.
  */
object BenchGate {
  /** Compare per-entry medians against the previous artifact's.
    *
    * Entries whose PREVIOUS median is under `minSec` are skipped — sub-50 ms
    * entries are planning-floor noise where a 40% band means ±20 ms.
    * Fires (returns a note) when more than `frac` of the comparable entries
    * moved more than `band` in ONE direction: the r14 pattern was a
    * suite-wide +20–170% smear with a flat CPU sentinel, i.e. ambient
    * I/O/page-cache state no compute sentinel can observe.
    *
    * @return (comparable entries, n moved > +band, n moved < -band,
    *          median drift %, note if fired)
    */
  def entryDrift(prev: Map[String, Double], cur: Map[String, Double],
                 band: Double = 0.40, frac: Double = 0.20,
                 minSec: Double = 0.05, minEntries: Int = 10)
      : (Int, Int, Int, Double, Option[String]) = {
    val common = cur.keys.toSeq.filter(k => prev.get(k).exists(_ >= minSec))
    val drifts = common.map(k => (cur(k) - prev(k)) / prev(k))
    val nUp = drifts.count(_ > band)
    val nDown = drifts.count(_ < -band)
    val med =
      if (drifts.isEmpty) 0.0 else drifts.sorted.apply(drifts.size / 2) * 100
    val note =
      if (common.size >= minEntries && math.max(nUp, nDown) > common.size * frac)
        Some(s"entry drift: ${math.max(nUp, nDown)}/${common.size} entries moved >" +
          s"${(band * 100).toInt}% ${if (nUp >= nDown) "slower" else "faster"} vs previous " +
          "artifact; ambient I/O state likely shifted - totals not comparable round-over-round")
      else None
    (common.size, nUp, nDown, med, note)
  }
}
