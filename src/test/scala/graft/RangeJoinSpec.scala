package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft.ops.RangeJoin property check: the binned decomposition must equal
  * the naive range join on seeded random data whose intervals span MANY
  * bins (q24 only exercises 1-hour windows → ≤ 2 bins;
  * here lengths run 0 s to 10 h, covering zero-length, sub-bin,
  * bin-aligned and 11-bin fan-outs), including points exactly on bin and
  * interval boundaries. */
class RangeJoinSpec extends AnyFunSuite {
  import TestSession.spark

  test("binned containment join equals the naive range join on multi-bin intervals") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val base = 1700000000000L // fixed epoch ms
    val hour = 3600L * 1000
    val points = (1 to 2000).map { i =>
      // cluster points into 48 hours; 1 in 10 lands exactly on an hour edge
      val t = base + (rnd.nextLong().abs % (48 * hour)) / 1000 * 1000
      val aligned = if (i % 10 == 0) t / hour * hour else t
      (i.toLong, new Timestamp(aligned))
    }.toDF("pid", "pt")
    val intervals = (1 to 80).map { j =>
      val s = base + (rnd.nextLong().abs % (48 * hour))
      val lenMs = (rnd.nextLong().abs % (10 * hour + 1)) / 1000 * 1000
      (j.toLong, new Timestamp(s), new Timestamp(s + lenMs))
    }.toDF("iid", "istart", "iend")

    val binnedDf = graft.ops.RangeJoin
      .contains(points, intervals, "pt", "istart", "iend")
    val naiveDf = intervals.join(points,
      col("pt") >= col("istart") && col("pt") < col("iend"))
    // the decomposition is the point: with no equi key the naive join can
    // only plan a nested-loop (or cartesian) join, the binned one never does
    val nPlan = naiveDf.queryExecution.executedPlan.toString
    assert(nPlan.contains("BroadcastNestedLoop") || nPlan.contains("CartesianProduct"),
      s"naive join unexpectedly avoided the quadratic plan:\n$nPlan")
    val bPlan = binnedDf.queryExecution.executedPlan.toString
    assert(!bPlan.contains("BroadcastNestedLoop") && !bPlan.contains("CartesianProduct"),
      s"binned join fell back to a quadratic plan:\n$bPlan")
    val binned = binnedDf.select("iid", "pid").as[(Long, Long)].collect().sorted.toSeq
    val naive = naiveDf.select("iid", "pid").as[(Long, Long)].collect().sorted.toSeq

    assert(naive.nonEmpty, "test data produced no matches — not a real check")
    assert(binned == naive,
      s"binned=${binned.size} rows, naive=${naive.size}; " +
        s"missing=${(naive.toSet -- binned.toSet).take(3)} " +
        s"extra=${(binned.toSet -- naive.toSet).take(3)}")
  }

  test("malformed intervals (end < start) yield zero matches, not a crash (ADVICE r7)") {
    import spark.implicits._
    val base = 1700000000000L
    val hour = 3600L * 1000
    val points = Seq((1L, new Timestamp(base + hour / 2)),
      (2L, new Timestamp(base + 3 * hour))).toDF("pid", "pt")
    val intervals = Seq(
      (10L, new Timestamp(base), new Timestamp(base + hour)),          // valid: catches pid 1
      (11L, new Timestamp(base + 5 * hour), new Timestamp(base)),      // end < start: no matches
      (12L, new Timestamp(base + 2 * hour), new Timestamp(base + 2 * hour)) // zero-length: no matches
    ).toDF("iid", "istart", "iend")
    val got = graft.ops.RangeJoin.contains(points, intervals, "pt", "istart", "iend")
      .select("iid", "pid").as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((10L, 1L)))
  }

  test("binWidth/truncUnit disagreement is rejected up front (ADVICE r7)") {
    import spark.implicits._
    val p = Seq((1L, new Timestamp(0L))).toDF("pid", "pt")
    val iv = Seq((1L, new Timestamp(0L), new Timestamp(1000L))).toDF("iid", "s", "e")
    val ex = intercept[IllegalArgumentException] {
      graft.ops.RangeJoin.contains(p, iv, "pt", "s", "e", "INTERVAL 2 HOUR", "hour")
    }
    assert(ex.getMessage.contains("does not agree"))
    val ex2 = intercept[IllegalArgumentException] {
      graft.ops.RangeJoin.contains(p, iv, "pt", "s", "e", "INTERVAL 1 HOUR", "fortnight")
    }
    assert(ex2.getMessage.contains("unsupported"))
    // the agreeing pair still plans fine
    graft.ops.RangeJoin.contains(p, iv, "pt", "s", "e", "interval 1 minute", "minute").count()
  }
}
