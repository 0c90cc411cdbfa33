package graft.sources

import org.apache.spark.sql.{Column, DataFrame}

/** Output-file sizing — the small-files control every 100 TB table needs.
  *
  * A shuffle with N partitions writes N files per partition-dir; left at
  * the shuffle default, a daily job writes thousands of KB-sized files
  * and the NameNode/object-store listing becomes the bottleneck, while
  * one giant file serializes downstream scans. This writer repartitions
  * to `ceil(rows / rowsPerFile)` before the write — the row count comes
  * from the sampled estimate when provided, else one counting pass
  * (cheap: count() reads only parquet footers on a parquet-backed frame).
  */
object SizedWriter {

  /** Repartition so each output file carries ~`rowsPerFile` rows.
    * `knownRows` skips the counting job when the caller already knows
    * (e.g. from an upstream aggregate or a metadata estimate). */
  def sized(df: DataFrame, rowsPerFile: Long, knownRows: Option[Long] = None): DataFrame = {
    val rows = knownRows.getOrElse(df.count())
    val files = math.max(1L, (rows + rowsPerFile - 1) / rowsPerFile).toInt
    df.repartition(files)
  }

  /** Same, but keep rows of equal `key` values together (range-clustered
    * files: co-locates keys AND bounds file count). */
  def sizedByRange(df: DataFrame, rowsPerFile: Long, key: Column,
                   knownRows: Option[Long] = None): DataFrame = {
    val rows = knownRows.getOrElse(df.count())
    val files = math.max(1L, (rows + rowsPerFile - 1) / rowsPerFile).toInt
    df.repartitionByRange(files, key)
  }

  /** SIZE-ESTIMATED adaptive layout (guide §6): repartition so each output
    * file targets ~`targetBytes`, deriving the file count from Catalyst's
    * plan-level size estimate — zero extra actions, zero data passes. A
    * frame whose partitioning exists for COMPUTE parallelism (e.g. a
    * `spread` shuffle feeding a per-row transform) otherwise writes one
    * near-empty file per partition: pure metadata overhead at small
    * deltas, while at 100 TB the same estimate yields many ≥target files
    * and the layout is untouched (`files >= current shuffle partitions`
    * leaves the frame alone — this is scale-adaptive, not a local-mode
    * coalesce). Catalyst's in-memory estimate over-states on-disk parquet
    * bytes, so the file count only ever errs toward MORE files — never
    * a single pathological giant. Unknown estimates (the optimizer's
    * Long.MaxValue sentinel) naturally leave the layout alone. */
  def sizeEstimated(df: DataFrame, targetBytes: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    val target: Long =
      if (targetBytes > 0) targetBytes
      else spark.conf.getOption("spark.graft.write.targetFileBytes")
        .map(_.toLong).getOrElse(128L << 20)
    val est: BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= 0) df
    else {
      val files = (est + target - 1) / target
      val cur = spark.conf.get("spark.sql.shuffle.partitions").toInt
      if (files >= cur) df else df.repartition(files.toInt)
    }
  }
}
