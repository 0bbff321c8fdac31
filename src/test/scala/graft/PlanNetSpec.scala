package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide plan-assertion net (r14, VERDICT r13 #10; sharpened r15,
  * VERDICT r14 #3): pins the per-entry counts of EXACT node types —
  * shuffle exchanges, broadcast exchanges, reused exchanges, and SortExec
  * nodes — of every pure-read q-entry's pre-execution physical plan, so a
  * silent plan regression fails CI even when it hides inside the timing
  * noise band, and so the three regression classes the r14 substring
  * count conflated are separable:
  *   - a broadcast degrading to a shuffle (same "Exchange" total),
  *   - ReusedExchange inflation (stable but uninterpretable totals),
  *   - a LOST ORDERING REPORT re-inserting SortExec under an SMJ — the
  *     one class exchange counts cannot see at all (the exact regression
  *     r14 worked hardest to prevent).
  * Counts are from the AQE INITIAL plan string (deterministic at fixed
  * testdata + TestSession confs). A legitimate plan change updates the
  * pinned tuple IN THE SAME commit, with the reason in the commit message.
  */
class PlanNetSpec extends AnyFunSuite {
  import TestSession.{spark, sf}

  /** (shuffle exchanges, broadcast exchanges, reused exchanges, sorts) */
  private type Counts = (Int, Int, Int, Int)

  // q-entry -> pinned (shuffle, broadcast, reused, sort) counts
  private val pinned: Map[String, Counts] = Map(
    "q01_pricing_summary" -> (2, 0, 0, 1),
    "q02_filter_topk" -> (0, 0, 0, 0),
    "q03_top_revenue_orders" -> (2, 1, 0, 0),
    "q03b_bucketed_spj" -> (0, 3, 0, 0),
    "q04_priority_semi" -> (4, 1, 0, 1),
    "q04b_bucketed_spj" -> (2, 1, 0, 1),
    "q05_nation_revenue" -> (4, 6, 0, 1),
    "q05b_bucketed_spj" -> (4, 14, 0, 1),
    "q06_forecast_revenue" -> (1, 0, 0, 0),
    "q07_volume_shipping" -> (3, 4, 0, 2),
    "q07b_bucketed_spj" -> (1, 7, 0, 0),
    "q08_window_rank" -> (1, 0, 0, 2),
    "q09_running_sum" -> (1, 0, 0, 1),
    "q10_rollup" -> (3, 0, 0, 1),
    "q11_cust_distribution" -> (3, 0, 0, 1),
    "q11b_bucketed_spj" -> (2, 1, 0, 1),
    "q12_case_counts" -> (4, 0, 0, 1),
    "q13_big_orders" -> (0, 1, 0, 0),
    "q14_anti_join" -> (4, 0, 0, 1),
    "q14b_bucketed_spj" -> (2, 1, 0, 1),
    "q15_above_avg" -> (2, 1, 0, 0),
    "q16_semi_top_suppliers" -> (0, 0, 0, 0),
    "q17_set_ops" -> (2, 0, 0, 0),
    "q18_json_extract" -> (3, 0, 0, 1),
    "q19_date_trunc" -> (2, 0, 0, 1),
    "q20_having" -> (2, 0, 0, 1),
    "q21_unnest_zip" -> (0, 0, 0, 0),
    "q22_generate_series" -> (0, 0, 0, 0),
    "q23_asof_join" -> (1, 0, 0, 1),
    "q24_range_join" -> (2, 1, 0, 1),
    "q25_cube_grouping" -> (3, 0, 0, 1),
    "q26_pivot" -> (3, 0, 0, 1),
    "q27_sessionize" -> (2, 0, 0, 2))

  // Allowed nested-loop joins — each has a BOUNDED broadcast side, so the
  // shape is linear in the big side, not quadratic:
  //   q15: ONE aggregated row (the scalar-subquery idiom)
  //   v01/v05/v07/v08: the tiny fixed QUERY set (|queries| rows) crossed
  //   against the (IVF/quantization-restricted) corpus — the documented
  //   kNN scoring shape; candidate restriction happened before the cross
  private val nljAllowed = Set("q15_above_avg", "v01_knn_brute",
    "v05_knn_ivf", "v07_ivf_partitioned", "v08_quantized_rerank")

  private def countsOf(plan: String): Counts = {
    def n(tok: String) = tok.r.findAllIn(plan).size
    val broadcast = n("BroadcastExchange")
    val reused = n("ReusedExchange")
    // every exchange node name contains "Exchange" exactly once, so the
    // shuffle count is the remainder
    val shuffle = n("Exchange") - broadcast - reused
    (shuffle, broadcast, reused, n("""Sort \["""))
  }

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def observe(): Map[String, Counts] =
    SparkEntry.queries.keys.filter(_.startsWith("q")).toSeq.sorted
      .map(name => name -> countsOf(planOf(name))).toMap

  test("no q/t/v/m entry plans a cartesian or nested-loop join") {
    // t/v/m (dedup, ANN, multimodal) are exactly where an accidental
    // all-pairs shape would be a 100 TB catastrophe — the candidate
    // generation must stay equi-join/bucketed
    val bad =
      try SparkEntry.queries.keys
        .filter(n => n.startsWith("q") || n.startsWith("t") ||
          n.startsWith("v") || n.startsWith("m"))
        .filterNot(nljAllowed).toSeq.sorted.flatMap { name =>
          val plan = planOf(name)
          if (plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoop"))
            Some(name)
          else None
        }
      // building t/v plans WITHOUT running them leaves CacheScope-tracked
      // persists waiting for an action that never comes — release them so
      // this plan-only spec doesn't poison cache-hygiene checks downstream
      finally graft.queries.CacheScope.release(spark)
    assert(bad.isEmpty, s"quadratic joins in: $bad")
  }

  test("per-node-type plan counts match the pinned net") {
    val got = observe()
    val diffs = (pinned.keySet ++ got.keySet).toSeq.sorted.flatMap { k =>
      (pinned.get(k), got.get(k)) match {
        case (Some(p), Some(g)) if p == g => None
        case (p, g) => Some(s"$k: pinned=${p.getOrElse("-")} got=${g.getOrElse("-")}")
      }
    }
    assert(diffs.isEmpty,
      s"plan-count drift (shuffle, broadcast, reused, sort):\n${diffs.mkString("\n")}\n\n" +
        "full observed map:\n" +
        got.toSeq.sorted.map { case (k, v) => s"""    "$k" -> $v,""" }.mkString("\n"))
  }

  test("the net catches a lost ordering report (deliberate break)") {
    // flip the report off: the six bucketed twins' SMJs must re-grow their
    // per-bucket sorts, i.e. at least one pinned SORT count is violated —
    // proof the net sees the regression class exchange counts cannot
    spark.conf.set("spark.graft.lake.reportOrdering", "false")
    try {
      val broken = Seq("q05b_bucketed_spj", "q07b_bucketed_spj")
        .map(n => n -> countsOf(planOf(n)))
      val drifted = broken.filter { case (n, c) =>
        pinned.get(n).exists(p => c._4 > p._4)
      }
      assert(drifted.nonEmpty,
        s"reportOrdering=false did not add sorts over the pinned counts: $broken " +
          s"vs pinned ${broken.map(b => pinned.get(b._1))} - the net is blind to a lost ordering report")
    } finally spark.conf.unset("spark.graft.lake.reportOrdering")
  }
}
