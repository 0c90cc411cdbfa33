package graft.sources.v2

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, Scan, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.ManifestTable

/** A catalog table scan whose FILE SET can shrink after planning —
  * the runtime half of manifest-stats pruning:
  *
  *  - at BUILD time the file list is already pruned against the pushed
  *    WHERE conjuncts (static, [[GraftScanBuilder.prunedDataEntries]]);
  *  - at RUN time, Spark's dynamic-partition-pruning machinery hands the
  *    scan `IN (v1..vn)` predicates computed from the OTHER side of a
  *    join (the DPP subquery over a filtered dimension, or the
  *    matched-rows subquery of a group-based UPDATE/MERGE), and
  *    [[GraftTrackedScan.filter]] re-prunes the manifest entries against
  *    those values — files whose [min,max] excludes every value are
  *    dropped before any footer is opened.
  *
  * This is the DSv2 `SupportsRuntimeV2Filtering` contract (what makes
  * Iceberg's scans DPP-able): `filterAttributes` declares which columns
  * runtime predicates may arrive on (our stats-bearing numeric columns),
  * `filter` applies them conservatively (a file without stats for the
  * column, or any untranslatable predicate, never prunes), and
  * `toBatch` — re-invoked by `BatchScanExec.filteredPartitions` after
  * filtering — replans over the surviving files. At 100 TB a star-join's
  * fact scan then reads only the files the dimension filter selects,
  * with zero changes to the query.
  *
  * The scan also carries the table's streaming face (the q344
  * version-offset micro-batch stream) when built from a readable catalog
  * table, replacing the former GraftStreamableScan wrapper. */
class GraftTrackedScan(ident: String, spark: SparkSession,
                       options: CaseInsensitiveStringMap,
                       conjuncts: Seq[Expression],
                       required: StructType, fullSchema: StructType,
                       initial: Seq[ManifestTable.SqlEntry],
                       filterAttrs: Seq[String],
                       streamDir: Option[String],
                       startVersion: Int,
                       renames: Map[String, String] = Map.empty) extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  // `required`/`fullSchema`/`conjuncts` arrive in PHYSICAL names (the
  // scan builder translated); `renames` (logical -> physical) exists
  // only to (a) report the LOGICAL names back in readSchema and
  // (b) translate runtime-filter predicates, which Spark resolves
  // against the relation's logical output
  private val reverseNames: Map[String, String] = renames.map(_.swap)

  @volatile private var entries: Seq[ManifestTable.SqlEntry] = initial
  @volatile private var inner: Scan = buildInner()

  /** The files this scan will actually read (post static + runtime
    * pruning) — the group copy-on-write commit's replaced set and the
    * pruning tests' assertion surface. */
  def currentPaths: Seq[String] = entries.map(_.path)
  /** The delegate parquet scan (for `scannedFiles` and plan assertions). */
  def batchScan: Scan = inner

  private def buildInner(): Scan = {
    val t = ParquetTable(ident, spark,
      new CaseInsensitiveStringMap(Map("mergeSchema" -> "true").asJava),
      entries.map(_.path).toIndexedSeq, Some(fullSchema),
      classOf[ParquetFileFormat])
    val sb = t.newScanBuilder(options)
    sb.pushFilters(conjuncts): Unit
    sb.pruneColumns(required)
    sb.build()
  }

  override def readSchema(): StructType = {
    val s = inner.readSchema()
    if (renames.isEmpty) s
    else StructType(s.fields.map(f =>
      reverseNames.get(f.name).map(l => f.copy(name = l)).getOrElse(f)))
  }
  override def description(): String =
    inner.description() + s" GraftRuntimeFilterable(${filterAttrs.mkString(",")})"
  override def toBatch: Batch = inner.toBatch

  // without this delegation the wrapped relation reports the default
  // Long.MaxValue size, every join plans as sort-merge, and DPP degrades
  // to `true` (onlyInBroadcast subqueries need a broadcast to reuse) —
  // at 100 TB the broadcast decision IS the star-join plan. Row counts
  // come from the manifest's `__rows` footer counts over the PRUNED
  // entry set — exact with zero IO (the countStar machinery feeding the
  // planner), where the parquet scan alone would estimate rows from
  // bytes.
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val innerStats = inner match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        Some(s.estimateStatistics())
      case _ => None
    }
    val exactRows: Option[Long] = {
      val counts = entries.map(_.stats.get("__rows"))
      if (counts.nonEmpty && counts.forall(_.isDefined))
        Some(counts.flatten.map(_._1.toLong).sum)
      else None
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        innerStats.map(_.sizeInBytes()).getOrElse(java.util.OptionalLong.empty())
      override def numRows(): java.util.OptionalLong =
        exactRows.map(java.util.OptionalLong.of).getOrElse(
          innerStats.map(_.numRows()).getOrElse(java.util.OptionalLong.empty()))
    }
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val d = streamDir.getOrElse(
      throw new UnsupportedOperationException(
        s"GraftCatalog: $ident is not streamable in this context"))
    val bad = required.fields.filterNot(f => f.dataType match {
      case _: org.apache.spark.sql.types.LongType |
           _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.DoubleType |
           _: org.apache.spark.sql.types.BooleanType |
           _: org.apache.spark.sql.types.StringType => true
      case _ => false
    })
    require(bad.isEmpty,
      s"GraftCatalog streaming read: unsupported column types " +
        s"${bad.map(f => s"${f.name}: ${f.dataType}").mkString(", ")} " +
        "(the streaming reader carries long/int/double/boolean/string)")
    new ManifestMicroBatchStream(d, required, startVersion,
      Option(options.get("maxVersionsPerTrigger")).map(_.toInt).getOrElse(1))
  }

  protected def applyRuntimePredicates(predicates: Array[Predicate]): Unit = {
    if (sys.env.contains("GRAFT_DEBUG_RT"))
      println(s"RT-FILTER $ident preds=" + predicates.map(p =>
        p.name() + "(" + p.children().map(_.toString).take(5).mkString(",") +
          s" n=${p.children().length})").mkString(" | "))
    val before = entries.length
    val keep = entries.filter(e => predicates.forall(p => mayMatch(e, p)))
    GraftTrackedScan.runtimeLog.put(ident, (before, keep.length))
    if (keep.length < before) {
      entries = keep
      inner = buildInner()
    }
  }

  /** Conservative per-file test of one runtime predicate: only
    * `IN`/`=` over a single stats-bearing numeric column prune; anything
    * else (unknown shapes, string columns, files without stats) keeps
    * the file. */
  private def mayMatch(e: ManifestTable.SqlEntry, p: Predicate): Boolean = {
    def litDouble(x: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Double] = x match {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        l.value() match {
          case n: java.lang.Number => Some(n.doubleValue())
          case _ => None
        }
      case _ => None
    }
    val children = p.children()
    val colOpt = children.headOption.collect {
      case f: NamedReference if f.fieldNames().length == 1 => f.fieldNames()(0)
    }
    val values: Option[Seq[Double]] = p.name() match {
      case "IN" if children.length == 1 && colOpt.isDefined =>
        // an empty IN-list (the join matched NOTHING) vacuously excludes
        // every file
        Some(Seq.empty)
      case "IN" | "=" =>
        val vs = children.drop(1).map(litDouble)
        if (vs.nonEmpty && vs.forall(_.isDefined)) Some(vs.map(_.get).toSeq)
        else None
      case _ => None
    }
    (colOpt, values) match {
      case (Some(_), Some(vs)) if vs.isEmpty => false
      case (Some(c), Some(vs)) =>
        e.stats.get(renames.getOrElse(c, c)) match {
          case Some((mn, mx)) => vs.exists(v => v >= mn && v <= mx)
          case None           => true
        }
      case _ => true
    }
  }
}

object GraftTrackedScan {
  /** ident -> (files planned before runtime filtering, after) — the
    * assertion surface for DPP/group-filter pins (runtime pruning happens
    * at execution, after `scannedFiles` reads the optimized plan). */
  val runtimeLog = new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()
}

/** The runtime-filterable flavor — split from [[GraftTrackedScan]] so a
  * scan with NO stats-bearing columns does not advertise the interface
  * (Spark's group-filter rule builds degenerate zero-key subqueries
  * otherwise). */
class GraftAdaptiveScan(ident: String, spark: SparkSession,
                        options: CaseInsensitiveStringMap,
                        conjuncts: Seq[Expression],
                        required: StructType, fullSchema: StructType,
                        initial: Seq[ManifestTable.SqlEntry],
                        filterAttrs: Seq[String],
                        streamDir: Option[String],
                        startVersion: Int,
                        renames: Map[String, String] = Map.empty)
    extends GraftTrackedScan(ident, spark, options, conjuncts, required,
      fullSchema, initial, filterAttrs, streamDir, startVersion, renames)
    with SupportsRuntimeV2Filtering {
  override def filterAttributes(): Array[NamedReference] =
    filterAttrs.map(Expressions.column).toArray
  override def filter(predicates: Array[Predicate]): Unit =
    applyRuntimePredicates(predicates)
}

/** GROUP copy-on-write batch write: publishes a replace-set commit —
  * replace exactly the files the row-level scan read, keep everything
  * else (data lines with stats, delete entries) verbatim. `scannedF`
  * resolves at COMMIT time, after runtime group filtering has shrunk the
  * scan's file set. */
class GroupCowBatchWrite(dir: String, schema: StructType,
                         scannedF: () => Option[Seq[String]],
                         branch: Option[String] = None)
    extends BatchWrite {
  private val stagingDir = s"$dir/_staging/${java.util.UUID.randomUUID()}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ManifestWriterFactory(stagingDir, schema, rowLevel = true)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.flatMap {
      case StagedFileMessage(p)   => Seq(p)
      case StagedFilesMessage(ps) => ps
      case _ => Seq.empty
    }
    val replaced = scannedF().getOrElse(sys.error(
      "GroupCowBatchWrite: row-level write committed without a scan — " +
        "cannot determine the replaced group set")).toSet
    // WAP staging (unkeyed tables): the rewrite replaces files WITHIN
    // the audit branch's snapshot; main is untouched until fast_forward
    val ref = ManifestTable.Ref.of(branch)
    val (v, dataDir) = ManifestTable.nextCommit(dir, ref)
    // a group DELETE matching every row of its scanned files rewrites to
    // zero rows — keep empty outputs out of the manifest (same rule as
    // overwriteWhere)
    val files = ManifestTable.nonEmptyFiles(
      StagedFiles.move(staged.toSeq, dataDir).map(_.path))
    ManifestTable.publish(dir, ref, v, ManifestTable.CommitPlan(
      replaced = replaced, added = files.map(ManifestTable.DataFile(_))))
    cleanupStaging()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = cleanupStaging()

  private def cleanupStaging(): Unit = ManifestTable.rmTree(new java.io.File(stagingDir))
}
