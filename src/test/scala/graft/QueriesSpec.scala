package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lag, lit, max, min, sum, when}
import org.scalatest.funsuite.AnyFunSuite

object TestSession {
  lazy val spark: SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    graft.queries.Tables.sessionConf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

class QueriesSpec extends AnyFunSuite {
  import TestSession._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle-declared query key exists in queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql keys without queries: $missing")
  }

  test("all queries execute at sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, sf).count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(200)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("graft_session one-pass sessionize matches the lag+sum shape exactly") {
    // r14 (VERDICT r13 #5): the fused running-frame window aggregate must
    // reproduce the two-window rows byte-for-byte, and its plan must
    // carry exactly ONE Window operator (the lag pass is gone)
    val cur = SparkEntry.queries("q27_sessionize")(spark, sf)
    // reference: the classic shape — lag() marks session starts, a running
    // sum of the marks numbers them (two Window operators over one sort)
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val twoWin = graft.queries.Tables.load(spark, sf, "events")
      .filter(col("user_id") < 50)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > 1800L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(byUser
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"))
      .orderBy(col("user_id"), col("session_id"))
    val want = twoWin.collect().map(_.toString).toSeq
    assert(want.nonEmpty, "reference produced no sessions — not a real check")
    assert(cur.collect().map(_.toString).toSeq == want)
    // AQE echoes the initial plan below the final one — count Windows in
    // the FINAL section only
    val plan = cur.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("Window \\[".r.findAllIn(plan).size == 1,
      s"one-pass sessionize must plan exactly one Window:\n$plan")
    assert(plan.contains("graft_session"),
      s"fused session function missing from plan:\n$plan")
    // boundary semantics: a gap of EXACTLY the threshold stays in-session
    import spark.implicits._
    val probe = Seq((1L, 0L), (1L, 1800L), (1L, 3601L))
      .toDF("u", "tss")
    val got = probe.withColumn("sid",
      org.apache.spark.sql.functions.expr("graft_session(tss, 1800)").over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("u")).orderBy(col("tss"))))
      .orderBy(col("tss")).collect().map(_.getLong(2)).toSeq
    assert(got == Seq(1L, 1L, 2L), s"boundary semantics off: $got")
  }

  test("t19 stratified sample is a bounded top-k aggregate (no window, no table sort)") {
    // r13: the heap aggregate (graft_topk → CollectTopK) must plan as an
    // ObjectHashAggregate with a map-side partial — no Window operator and
    // no per-task sort of the full table; the only exchanges are the tiny
    // post-heap lang aggregation and the presentation ORDER BY.
    val plan = SparkEntry.queries("t19_stratified_sample")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"no ObjectHashAggregate in:\n$plan")
    assert(plan.contains("partial_"), s"no map-side partial aggregate in:\n$plan")
    assert(!plan.contains("Window"), s"window survived in:\n$plan")
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected <=2 exchanges (agg + order), got $exchanges:\n$plan")
  }

  test("t22 chunking is map-only: the one exchange is the presentation sort") {
    // the chunking itself (split → windows → posexplode → md5) must not
    // shuffle — at 100 TB a pipeline writes the exploded frame straight
    // out, and any exchange before the final ORDER BY would be data-sized.
    val plan = SparkEntry.queries("t22_chunking")(spark, sf)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected only the rangepartitioning sort exchange, got $exchanges:\n$plan")
    assert(plan.contains("rangepartitioning"), s"the single exchange is not the sort:\n$plan")
  }

  test("q24 binned range join never plans a nested-loop or cartesian join") {
    // the whole point of the bucket decomposition: a pure range predicate
    // alone would force BroadcastNestedLoopJoin (quadratic at scale).
    val plan = SparkEntry.queries("q24_range_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"range join fell back to a quadratic join:\n$plan")
  }

  test("t20 edit-distance candidates come from an equi-join, not a cross join") {
    val plan = SparkEntry.queries("t20_editdist_neardup")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"candidate generation fell back to all-pairs:\n$plan")
  }

  test("minhash LSH finds a planted near-duplicate pair") {
    import spark.implicits._
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val rnd = new scala.util.Random(7)
    def doc(n: Int): String =
      (0 until n).map(_ => words(rnd.nextInt(words.length))).mkString(" ")
    val base = doc(60)
    val nearDup = base.split(" ").updated(5, "CHANGED").mkString(" ")
    val docs = (0L until 28L).map(i => (i, doc(50), "en", s"src$i", 50)) ++
      Seq((100L, base, "en", "srcA", 60), (101L, nearDup, "en", "srcB", 60))
    val dir = java.nio.file.Files.createTempDirectory("lsh_test").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = SparkEntry.queries("t11_minhash_lsh_pairs")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists { case (a, b, j) => a == 100L && b == 101L && j > 0.8 },
      s"planted pair not found; got ${pairs.take(5).mkString(",")}")
  }

  test("exact dedup counts duplicates") {
    import spark.implicits._
    val docs = Seq((1L, "same text", "en", "s", 9), (2L, "same text", "en", "s", 9),
      (3L, "other", "en", "s", 5)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("dedup_test").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val row = SparkEntry.queries("t04_exact_dedup")(spark, dir).collect().head
    assert(row.getLong(0) == 3 && row.getLong(1) == 2 && row.getLong(2) == 2)
    val keepers = SparkEntry.queries("t05_dedup_keepers")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(keepers.contains((1L, 2L)), "keeper (1, n_copies=2) expected")
  }

  test("knn brute vs lsh: lsh results are a subset ranking with decent recall") {
    val brute = SparkEntry.queries("v01_knn_brute")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = SparkEntry.queries("v03_knn_lsh")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.8, s"LSH recall vs brute too low: $recall")
    // IVF probes 4 of 16 seeded clusters; on the NEAR-RANDOM test corpus
    // cluster structure is weak by construction, so the floor is modest —
    // the oracle equality (same assignment both engines) is the real gate
    val ivf = SparkEntry.queries("v05_knn_ivf")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivfRecall = (brute intersect ivf).size.toDouble / brute.size
    assert(ivfRecall >= 0.25, s"IVF recall vs brute too low: $ivfRecall")
    // two-stage int8 prefilter keeps 50 of ~60 candidates per query here,
    // and int8 quantization barely perturbs cosine ordering — near-full
    // recall is the expectation, not a tuned floor
    val rr = SparkEntry.queries("v08_quantized_rerank")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val rrRecall = (brute intersect rr).size.toDouble / brute.size
    assert(rrRecall >= 0.9, s"quantized-rerank recall vs brute too low: $rrRecall")
  }

  // The ANN scale argument, asserted deterministically. LSH pays
  // O(corpus × planes) once for signatures, then scores only bucket-mates;
  // brute force scores O(corpus × queries) always. What survives a 100×
  // scale-up is the CANDIDATE count — the rows that get shuffled, joined,
  // and dot-producted — so that is what the test pins: at equal recall
  // (≥ 0.8 vs exact brute top-5), LSH must select ≤ 5% of the pairs brute
  // force scores. A wall-clock A/B at unit-test scale flaps on JIT/GC
  // noise and was removed in favor of this work-count bound.
  test("knn lsh: >= 0.8 recall while scoring <= 5% of brute-force pairs at 30k") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val centers = Array.fill(100, 64)(rnd.nextGaussian().toFloat)
    val n = 30000L
    val vecs = (0L until n).map { i =>
      val c = centers(rnd.nextInt(100))
      val v = c.map(x => x + 0.25f * rnd.nextGaussian().toFloat)
      (i, v.toSeq, (i % 10).toInt)
    }
    val dir = java.nio.file.Files.createTempDirectory("lsh_scale").toString
    vecs.toDF("vec_id", "embedding", "label")
      .repartition(8).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val nq = 100
    val brute = graft.queries.VectorOps.knnBrute(emb, nQueries = nq).collect()
    val lsh = graft.queries.VectorOps.knnLsh(emb, nTables = 12, bitsPerTable = 8,
      nQueries = nq, carryPayload = false).collect()
    val bruteSet = brute.map(r => (r.getLong(0), r.getLong(2))).toSet
    val lshSet = lsh.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (bruteSet intersect lshSet).size.toDouble / bruteSet.size
    assert(recall >= 0.8, s"scale LSH recall too low: $recall")
    val candidates = graft.queries.VectorOps.lshCandidates(emb, nTables = 12,
      bitsPerTable = 8, nQueries = nq).count()
    val brutePairs = nq * (n - 1)
    val frac = candidates.toDouble / brutePairs
    assert(frac <= 0.05,
      f"LSH scored $candidates pairs = ${frac * 100}%.1f%% of brute's $brutePairs (cap 5%%)")
  }

  test("lsh bucket caps emit observed drop metrics on a deliberate hot bucket") {
    import spark.implicits._
    // 500 IDENTICAL vectors → every table hashes them into one bucket of
    // 500 members, far over the v03 cap (2048 here would pass; default 512)
    val vec = Seq.fill(64)(1.0f)
    val emb = (0L until 500L).map(i => (i, vec, 0)).toDF("vec_id", "embedding", "label")
    // QueryExecution.observedMetrics doesn't see through AQE's re-planned
    // tree — pin AQE off for the observation reads (production monitoring
    // reads the same metrics via a QueryExecutionListener, AQE or not)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
    val df = graft.queries.VectorOps.knnLsh(emb, nTables = 4, bitsPerTable = 4,
      nQueries = 5, bucketCap = 100, carryPayload = false)
    df.collect()
    val metrics = df.queryExecution.observedMetrics
      .get(graft.queries.VectorOps.LshCapMetrics)
    assert(metrics.isDefined, s"expected observation, got ${df.queryExecution.observedMetrics.keys}")
    val m = metrics.get
    assert(m.getAs[Long]("capped_buckets") == 4L,
      s"all 4 tables put the hot bucket over the cap: $m")
    assert(m.getAs[Long]("dropped_members") == 4L * 500,
      s"each capped bucket held all 500 members: $m")
    // and with no hot bucket the metric reads zero
    val rnd = new scala.util.Random(7)
    val spread = (0L until 200L)
      .map(i => (i, Seq.fill(64)(rnd.nextGaussian().toFloat), 0))
      .toDF("vec_id", "embedding", "label")
    val df2 = graft.queries.VectorOps.knnLsh(spread, nTables = 4, bitsPerTable = 8,
      nQueries = 5, bucketCap = 512, carryPayload = false)
    df2.collect()
    val m2 = df2.queryExecution.observedMetrics(graft.queries.VectorOps.LshCapMetrics)
    assert(m2.getAs[Long]("capped_buckets") == 0L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("v07 partitioned-lake IVF returns exactly v05's results") {
    val v05 = SparkEntry.queries("v05_knn_ivf")(spark, sf).collect().toSeq
    val v07 = SparkEntry.queries("v07_ivf_partitioned")(spark, sf).collect().toSeq
    assert(v07 == v05, "cluster-partitioned index probe must not change results")
  }

  test("v04 id-only banding path returns exactly the payload path's results") {
    // the 100 TB shape (ids through the shuffle, vectors re-joined per
    // candidate) must be result-identical to the small-corpus shape
    val emb = graft.queries.Tables.load(spark, sf, "embeddings")
    val withPayload = graft.queries.VectorOps
      .embeddingNearDup(emb, carryPayload = true).collect().toSeq
    val idOnly = graft.queries.VectorOps
      .embeddingNearDup(emb, carryPayload = false).collect().toSeq
    assert(idOnly == withPayload, "id-only near-dup path must not change results")
  }

  test("lsh cap accumulators count drops WITH AQE ON (observe() cannot)") {
    import spark.implicits._
    import graft.functions.CapMetrics
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val name = graft.queries.VectorOps.LshCapMetrics
    CapMetrics.reset(name)
    // 500 identical vectors hash into one 500-member bucket per table —
    // over the cap in all 4 tables
    val vec = Seq.fill(64)(1.0f)
    val emb = (0L until 500L).map(i => (i, vec, 0)).toDF("vec_id", "embedding", "label")
    graft.queries.VectorOps.knnLsh(emb, nTables = 4, bitsPerTable = 4,
      nQueries = 5, bucketCap = 100, carryPayload = false).collect()
    val (capped, dropped) = CapMetrics.value(name)
    assert(capped == 4L, s"4 capped buckets expected, got $capped")
    assert(dropped == 4L * 500, s"2000 dropped members expected, got $dropped")
    // no hot bucket → counters stay where they were
    CapMetrics.reset(name)
    val rnd = new scala.util.Random(7)
    val spread = (0L until 200L)
      .map(i => (i, Seq.fill(64)(rnd.nextGaussian().toFloat), 0))
      .toDF("vec_id", "embedding", "label")
    graft.queries.VectorOps.knnLsh(spread, nTables = 4, bitsPerTable = 8,
      nQueries = 5, bucketCap = 512, carryPayload = false).collect()
    assert(CapMetrics.value(name) == ((0L, 0L)))
  }

  test("t11 repartition width derives from corpus size, not a constant") {
    import graft.queries.TextOps.lshWidth
    // small corpus: spread across cores at ~64 KB/task, floor 2
    assert(lshWidth(BigInt(600 * 1024), parallelism = 32) == 10)
    assert(lshWidth(BigInt(10 * 1024), parallelism = 32) == 2)
    // large corpus: ~64 MB/task bound dominates the core count
    assert(lshWidth(BigInt(100L * 1024 * 1024 * 1024), parallelism = 32) == 1601)
    // mid corpus on a big machine: capped by parallelism until data grows
    assert(lshWidth(BigInt(10L * 1024 * 1024), parallelism = 64) == 64)
  }
}

class MultimodalSpec extends AnyFunSuite {
  import TestSession._
  import graft.ops.Multimodal

  test("decodeStub is deterministic and in range") {
    val p = "hello world".getBytes("UTF-8")
    val a = Multimodal.decodeStub(p)
    val b = Multimodal.decodeStub(p)
    assert(a == b)
    assert(a._1 >= 64 && a._1 < 64 + 8 * 48)
    assert(Seq("jpeg", "png", "webp").contains(a._3))
    assert(a._4 >= 1 && a._4 <= 30)
  }

  test("sampleFrames emits ceil(n_frames/stride) rows per doc") {
    import spark.implicits._
    val media = Seq((1L, "abc".getBytes("UTF-8")), (2L, "defgh".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val frames = Multimodal.sampleFrames(spark, media, stride = 4).collect()
    val byDoc = frames.groupBy(_.doc_id)
    Seq(1L -> "abc", 2L -> "defgh").foreach { case (id, txt) =>
      val n = Multimodal.decodeStub(txt.getBytes("UTF-8"))._4
      val expected = (n + 3) / 4
      assert(byDoc(id).length == expected, s"doc $id: ${byDoc(id).length} != $expected")
      assert(byDoc(id).map(_.frame_sig).distinct.length == expected)
    }
  }

  test("decodeMeta preserves byte length") {
    import spark.implicits._
    val media = Seq((7L, Array.fill[Byte](123)(1))).toDF("doc_id", "payload")
    val meta = Multimodal.decodeMeta(spark, media).collect().head
    assert(meta.byte_len == 123 && meta.doc_id == 7L)
  }
}
