package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering for multi-dimensional data skipping.
  *
  * A 100 TB table is only as fast as what its scans can SKIP. Parquet
  * min/max stats prune files/row-groups on the sort key — but a plain sort
  * clusters one dimension and scatters the rest. Interleaving the bits of
  * two (or more) dimensions gives every file a narrow range in BOTH, so
  * predicates on either dimension prune.
  *
  * `zValue` is pure long arithmetic with constant shifts — fully
  * codegen'd, no UDF; `zOrderBy` is one range shuffle + per-partition sort
  * (exactly what a sorted write costs anyway).
  */
object ZOrder {

  /** Interleave the low `bits` bits of two non-negative int columns:
    * bit i of `a` lands at position 2i, bit i of `b` at 2i+1. */
  def zValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits * 2 <= 62, "z-value must fit a long")
    (0 until bits).map { i =>
      (shiftright(a.cast("long"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
        (shiftright(b.cast("long"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)
  }

  /** Scale an arbitrary numeric column into [0, 2^bits) using its global
    * min/max, carried as a broadcast 1-row join (no driver collect). */
  private def scaled(c: String, bits: Int): Column = {
    val lo = col(s"_min_$c")
    val hi = col(s"_max_$c")
    least(lit((1 << bits) - 1),
      floor((col(c) - lo) / greatest(hi - lo, lit(1e-12)) * (1 << bits)).cast("long"))
  }

  /** Repartition + sort `df` by the z-value of (`colA`, `colB`) so the
    * written files carry narrow min/max ranges in BOTH columns. The range
    * exchange samples z-values (Spark's RangePartitioner), giving
    * contiguous, balanced z-runs per output partition/file. */
  def zOrderBy(df: DataFrame, colA: String, colB: String,
               bits: Int = 16, numPartitions: Int = 0): DataFrame = {
    val stats = df.agg(
      min(col(colA)).as(s"_min_$colA"), max(col(colA)).as(s"_max_$colA"),
      min(col(colB)).as(s"_min_$colB"), max(col(colB)).as(s"_max_$colB"))
    val withZ = df.crossJoin(broadcast(stats))
      .withColumn("_z", zValue(scaled(colA, bits), scaled(colB, bits), bits))
    val parts = if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    withZ.repartitionByRange(parts, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z", s"_min_$colA", s"_max_$colA", s"_min_$colB", s"_max_$colB")
  }
}
