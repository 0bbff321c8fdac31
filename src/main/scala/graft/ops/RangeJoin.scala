package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Interval-containment (range) join, decomposed into an equi-join.
  *
  * A pure range predicate (`point >= start AND point < end`) gives
  * Catalyst no equi key, so the only available plans are
  * BroadcastNestedLoopJoin / CartesianProduct — O(|points| × |intervals|)
  * predicate evaluations, which stops being a plan and starts being a
  * wall at cluster scale (3.3× at 10M × 71 on one machine, BASELINE.md
  * round 7, linear in the interval count). The standard decomposition —
  * the same one DuckDB's IEJoin and Databricks' range-join optimization
  * perform internally — quantizes the axis into fixed-width bins: each interval
  * explodes into the bins it covers (bounded by ceil(len/bin) + 1), each
  * point computes its single bin, and the join becomes a plain shuffled
  * (or broadcast) equi-join on the bin followed by the exact range
  * refine. A point matches an interval through exactly one bin — its
  * own — so the decomposition introduces no duplicates and needs no
  * post-dedup.
  *
  * Used by the q24_range_join query entry; `RangeJoinSpec` checks the
  * result against the naive join and that only the naive one plans a
  * nested-loop join.
  */
object RangeJoin {

  /** Join `points` to every interval of `intervals` containing its time:
    * `points.pointCol ∈ [intervals.startCol, intervals.endCol)`.
    *
    * Both frames pass through unchanged except for an internal bin
    * column; output = matched rows with the columns of both inputs.
    *
    * @param binWidth SQL interval literal (e.g. "INTERVAL 1 HOUR") — the
    *   quantization step. Choose it near the typical interval length:
    *   wider bins fan intervals out less but make the refine filter do
    *   more work per bin; the product of the two is minimized around
    *   bin ≈ interval length.
    * @param truncUnit `date_trunc` unit matching `binWidth` (e.g.
    *   "hour"). The two must agree or bins and points misalign; the pair
    *   is validated against the supported units and an
    *   IllegalArgumentException names the mismatch rather than silently
    *   dropping matches.
    */
  def contains(
      points: DataFrame,
      intervals: DataFrame,
      pointCol: String,
      startCol: String,
      endCol: String,
      binWidth: String = "INTERVAL 1 HOUR",
      truncUnit: String = "hour"): DataFrame = {
    // Bins are generated by stepping `binWidth` from the `truncUnit`-floored
    // interval start while points are floored to `truncUnit` directly, so
    // any width other than exactly one trunc unit emits bins the points can
    // never land on (e.g. "INTERVAL 2 HOUR" + "hour": odd-hour points miss
    // every bin) — silently missing matches. Validate the pair up front.
    val unit = truncUnit.trim.toLowerCase
    val allowedUnits = Set("second", "minute", "hour", "day", "week")
    require(allowedUnits(unit),
      s"truncUnit '$truncUnit' unsupported; use one of ${allowedUnits.toSeq.sorted.mkString(", ")}")
    require(binWidth.trim.toLowerCase == s"interval 1 $unit",
      s"binWidth '$binWidth' does not agree with truncUnit '$truncUnit'; " +
        s"bins must step exactly one trunc unit (expected 'INTERVAL 1 ${unit.toUpperCase}')")
    val bin = "__graft_bin"
    // Malformed intervals (end before start) would make sequence() throw
    // (stop < start with a positive step); the naive range join simply
    // returns no matches for them, so filter them out rather than fail.
    // end == start is kept — the single emitted bin survives the sequence
    // and the exact `point < end` refine below still yields zero matches.
    val binned = intervals.filter(col(endCol) >= col(startCol)).withColumn(bin,
      explode(sequence(date_trunc(truncUnit, col(startCol)),
        date_trunc(truncUnit, col(endCol)), expr(binWidth))))
    val p = points.withColumn(bin, date_trunc(truncUnit, col(pointCol)))
    binned.join(p, Seq(bin))
      .filter(col(pointCol) >= col(startCol) && col(pointCol) < col(endCol))
      .drop(bin)
  }
}
