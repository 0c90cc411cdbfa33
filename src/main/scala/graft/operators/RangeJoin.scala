package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Binned (bucketed) range join: `left.ts ∈ [right.start, right.end]` with
  * NO equi key.
  *
  * Spark plans a keyless interval predicate as a nested-loop join
  * (BroadcastNestedLoopJoin if one side fits, else a cartesian) — O(|L|·|R|)
  * comparisons, hopeless at 100 TB. The standard fix is to manufacture the
  * equi key: chop time into fixed-width bins, tag each left row with its
  * bin, explode each right interval into the bins it overlaps, and
  * equi-join on the bin before applying the exact range predicate.
  *
  * Cost: |L| + |R|·(intervalLen/binWidth + 1) rows through ONE hash
  * shuffle; each comparison is confined to a bin. Pick `binWidth` ≈ the
  * typical interval length, so intervals explode into ~2 bins. Clustered
  * timestamps make a hot bin — AQE skew-join splits it.
  */
object RangeJoin {

  /** Join `left` to `right` on `leftTs` between `rightStart` and `rightEnd`
    * (inclusive), all three DateType/TimestampType columns; `binWidth` in
    * days. Returns left columns + right columns (caller projects). */
  def binned(left: DataFrame, right: DataFrame, leftTs: String,
             rightStart: String, rightEnd: String, binWidthDays: Int): DataFrame = {
    val l = left.withColumn("_bin",
      floor(unix_date(col(leftTs).cast("date")) / binWidthDays))
    // bins covered by the interval: floor(start/w) .. floor(end/w)
    val r = right.withColumn("_bin",
      explode(sequence(
        floor(unix_date(col(rightStart).cast("date")) / binWidthDays),
        floor(unix_date(col(rightEnd).cast("date")) / binWidthDays))))
    l.join(r, Seq("_bin"))
      .filter(col(leftTs) >= col(rightStart) && col(leftTs) <= col(rightEnd))
      .drop("_bin")
  }
}
