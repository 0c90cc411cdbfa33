package graft.sources.v2

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.ManifestTable

/** STORAGE-PARTITIONED JOINS for catalog tables — the shuffle-free
  * co-bucketed join (Iceberg SPJ, re-expressed over the manifest table):
  *
  * {{{
  *   CREATE TABLE graft.db.f (k BIGINT, v BIGINT) PARTITIONED BY (bucket(8, k))
  *   CREATE TABLE graft.db.d (k BIGINT, w BIGINT) PARTITIONED BY (bucket(8, k))
  *   SET spark.sql.sources.v2.bucketing.enabled=true
  *   SELECT ... FROM graft.db.f JOIN graft.db.d USING (k)   -- ZERO exchanges
  * }}}
  *
  * Three cooperating pieces:
  *
  *  - **the bucket function** ([[GraftBucketFunction]], served from the
  *    catalog's FunctionCatalog face): `bucket(n, x) = ((x % n) + n) % n`
  *    — BOTH the write distribution and the scan-reported partitioning
  *    name this one function, and two scans are join-compatible exactly
  *    when their `TransformExpression`s bind to the same canonical
  *    function with the same bucket count;
  *  - **the clustered write** ([[BucketedBatchWrite]]): INSERTs require a
  *    distribution clustered on `bucket(n, k)` (one hash exchange at
  *    write time — the LAST shuffle these rows ever take), and each task
  *    splits its output per bucket id, so every staged file holds exactly
  *    one bucket, recorded in the manifest as a `_ptn_bucket_<col>`
  *    stats entry (metadata only — no physical column);
  *  - **the key-grouped scan** ([[GraftBucketedScan]]): reports
  *    `KeyGroupedPartitioning(bucket(n, k), |buckets|)` and plans ONE
  *    input partition per bucket (all its files concatenated, each
  *    partition carrying its key via [[HasPartitionKey]]), so Spark
  *    aligns the two sides partition-by-partition and the join runs with
  *    no exchange on either side.
  *
  * At 100 TB this is the difference between re-shuffling two fact tables
  * on every join and never shuffling them again after ingest. */
object GraftBucketFunction extends UnboundFunction {
  /** The ONE bucket formula — write routing, the scalar function, and
    * (by canonical name) join compatibility all share it. */
  def bucketOf(x: Long, n: Int): Int = (((x % n) + n) % n).toInt

  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, x): ((x % n) + n) % n — the storage partition transform"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"graft bucket(n, x) takes two arguments, got ${inputType.catalogString}")
    BoundBucket
  }
}

object BoundBucket extends ScalarFunction[Int] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, LongType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.bucket"
  override def isDeterministic: Boolean = true
  override def produceResult(input: InternalRow): Int =
    GraftBucketFunction.bucketOf(input.getLong(1), input.getInt(0))
}

// ------------------------------------------------------------------ write

final case class StagedBucketFilesMessage(files: Seq[(Int, String)])
    extends WriterCommitMessage

/** Clustered write into a bucketed table: requires the bucket(n, col)
  * distribution, splits each task's rows per bucket id, publishes every
  * file tagged with its bucket. */
class BucketedWriteBuilder(dir: String, schema: StructType,
                           col: String, n: Int,
                           tableSchema: Option[StructType] = None,
                           renames: Map[String, String] = Map.empty)
    extends WriteBuilder with SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsOverwrite {
  private var append = true
  // DYNAMIC OVERWRITE on a bucketed table (r11; previously a capability
  // refusal): the delete side re-splits survivors per bucket and
  // republishes them TAGGED (ManifestTable.overwriteWhere with a bucket
  // spec), the insert side is this builder's own bucket-split staged
  // files — so storage-partitioned joins survive the nightly partition
  // replace
  private var overwritePred: Option[org.apache.spark.sql.Column] = None
  override def truncate(): WriteBuilder = { append = false; this }
  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter])
      : WriteBuilder = {
    if (filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue))
      return truncate()
    val cols = filters.toSeq.map(f => V2Filters.toColumn(f).getOrElse(
      sys.error(s"graft bucketed overwrite: untranslatable filter $f")))
    overwritePred = Some(cols.reduce(_ && _))
    this
  }
  override def build(): Write =
    new Write with RequiresDistributionAndOrdering {
      import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
      override def requiredDistribution(): Distribution =
        Distributions.clustered(Array(Expressions.bucket(n, col)))
      override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
        Array.empty
      override def toBatch: BatchWrite =
        new BucketedBatchWrite(dir, schema, append, col, n,
          overwrite = overwritePred, tableSchema = tableSchema,
          renames = renames)
      // streamed epochs keep the bucket layout too: the micro-batch
      // planner applies this Write's clustered distribution, the epoch
      // writer splits per bucket, and the commit publishes tagged lines
      // — so SPJ survives a streaming ingest with no compaction pass
      override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
        new ManifestStreamingWrite(dir, schema, bucketSpec = Some((col, n)))
    }
}

class BucketedBatchWrite(dir: String, schema: StructType, append: Boolean,
                         col: String, n: Int,
                         cowScanned: Option[() => Option[Seq[String]]] = None,
                         overwrite: Option[org.apache.spark.sql.Column] = None,
                         tableSchema: Option[StructType] = None,
                         renames: Map[String, String] = Map.empty,
                         branch: Option[String] = None)
    extends BatchWrite {
  require(branch.isEmpty || cowScanned.isDefined,
    "BucketedBatchWrite: branch routing is a row-level (CoW) contract — " +
      "plain branch appends go through the branch write path")
  private val stagingDir = s"$dir/_staging/bucketed-${java.util.UUID.randomUUID()}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    BucketedWriterFactory(stagingDir, schema, schema.fieldIndex(col), n,
      rowLevel = cowScanned.isDefined)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.collect { case StagedBucketFilesMessage(fs) => fs }.flatten
    // WAP staging (r12): a branch-routed CoW lands under the branch's
    // nonce commit dir at the BRANCH head's next version
    val ref = ManifestTable.Ref.of(branch)
    val (v, dataDir) = ManifestTable.nextCommit(dir, ref)
    val tagged = StagedFiles.moveTagged(
      staged.toSeq.map { case (b, p) => (Some(b), p) }, dataDir, Some(col))
    (cowScanned, overwrite) match {
      // group copy-on-write UPDATE/MERGE: replace exactly the scanned
      // files, re-entering every replacement WITH its bucket tag so
      // storage-partitioned joins survive the mutation
      case (Some(f), _) =>
        val replaced = f().getOrElse(sys.error(
          "BucketedBatchWrite: row-level write committed without a scan — " +
            "cannot determine the replaced group set")).toSet
        ManifestTable.publish(dir, ref, v,
          ManifestTable.CommitPlan(replaced = replaced, added = tagged)): Unit
      // dynamic overwrite: delete-matching + append-new, one atomic
      // commit, every file (kept / rewritten / new) bucket-tagged
      case (None, Some(pred)) =>
        ManifestTable.overwriteWhere(SparkSession.active, dir, pred, tagged,
          tableSchema = tableSchema, renames = renames, bucket = Some((col, n))): Unit
      case (None, None) =>
        ManifestTable.publish(dir, ref, v, ManifestTable.CommitPlan(
          ManifestTable.Base.of(append), added = tagged)): Unit
    }
    cleanupStaging()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = cleanupStaging()

  private def cleanupStaging(): Unit = ManifestTable.rmTree(new java.io.File(stagingDir))
}

final case class BucketedWriterFactory(stagingDir: String, schema: StructType,
                                       keyIdx: Int, n: Int,
                                       rowLevel: Boolean = false)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new BucketedDataWriter(stagingDir, schema, keyIdx, n, partitionId, taskId,
      rowLevel)
}

/** Routes each row to its bucket's file (the clustered distribution means
  * a task usually holds one bucket, but hash collisions can bring more).
  * NULL bucket keys refuse loudly — a bucketed-by-k table's partitioning
  * contract has nowhere correct to put them. */
class BucketedDataWriter(stagingDir: String, schema: StructType,
                         keyIdx: Int, n: Int,
                         partitionId: Int, taskId: Long,
                         rowLevel: Boolean = false)
    extends DataWriter[InternalRow] {

  private val writers = scala.collection.mutable.Map.empty[Int, ManifestDataWriter]
  // row-level rewrites prepend exactly one __row_operation marker (the
  // inner writer strips it under its pinned one-column contract); the
  // bucket key shifts right with every other column
  private val off = if (rowLevel) 1 else 0

  override def write(row: InternalRow): Unit = {
    require(!row.isNullAt(keyIdx + off),
      s"graft bucketed write: NULL bucket key (column #$keyIdx) — a " +
        "bucket-partitioned table cannot place NULL keys")
    val b = GraftBucketFunction.bucketOf(row.getLong(keyIdx + off), n)
    writers.getOrElseUpdate(b,
      new ManifestDataWriter(s"$stagingDir/b$b", schema, partitionId, taskId,
        rowLevel))
      .write(row)
  }

  override def commit(): WriterCommitMessage =
    // a rolled inner writer stages MULTIPLE files for one bucket — every
    // one must propagate with its bucket id (taking only the head would
    // silently drop committed rows if write.target-file-size is ever
    // wired into bucketed writes; ADVICE r10)
    StagedBucketFilesMessage(writers.toSeq.flatMap { case (b, w) =>
      w.commit() match {
        case StagedFileMessage(p)   => Seq(b -> p)
        case StagedFilesMessage(ps) => ps.map(b -> _)
        case other => sys.error(s"unexpected $other")
      }
    })

  override def abort(): Unit = writers.values.foreach(_.abort())
  override def close(): Unit = ()
}

// ------------------------------------------------------------------- scan

/** One [[InputPartition]] per bucket: all the bucket's files in a single
  * [[FilePartition]], keyed for Spark's partition alignment. */
final case class KeyedBucketPartition(bucket: Int, inner: FilePartition)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

private[v2] final class KeyedReaderFactory(inner: PartitionReaderFactory)
    extends PartitionReaderFactory {
  private def unwrap(p: InputPartition): InputPartition =
    p.asInstanceOf[KeyedBucketPartition].inner
  override def supportColumnarReads(partition: InputPartition): Boolean =
    inner.supportColumnarReads(unwrap(partition))
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    inner.createReader(unwrap(partition))
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    inner.createColumnarReader(unwrap(partition))
}

private[v2] final class GraftBucketedScan(ident: String, spark: SparkSession,
                                          options: CaseInsensitiveStringMap,
                                          conjuncts: Seq[Expression],
                                          required: StructType,
                                          fullSchema: StructType,
                                          entries: Seq[ManifestTable.SqlEntry],
                                          col: String, n: Int,
                                          renames: Map[String, String] = Map.empty)
    extends Scan with SupportsReportPartitioning with SupportsReportStatistics {

  private val ptnCol = s"_ptn_bucket_$col"
  private val bucketOfPath: Map[String, Int] =
    entries.map(e => e.path -> e.stats(ptnCol)._1.toInt).toMap
  private val buckets: Seq[Int] =
    entries.map(e => e.stats(ptnCol)._1.toInt).distinct.sorted

  private val inner: Scan = {
    val t = ParquetTable(ident, spark,
      new CaseInsensitiveStringMap(Map("mergeSchema" -> "true").asJava),
      entries.map(_.path).toIndexedSeq, Some(fullSchema),
      classOf[ParquetFileFormat])
    val sb = t.newScanBuilder(options)
    sb.pushFilters(conjuncts): Unit
    sb.pruneColumns(required)
    sb.build()
  }

  // inner schemas are PHYSICAL (renamed tables); report LOGICAL names —
  // rows are positional, the bucket column itself is guarded un-renamed
  override def readSchema(): StructType = {
    val s = inner.readSchema()
    if (renames.isEmpty) s
    else {
      val rev = renames.map(_.swap)
      StructType(s.fields.map(f =>
        rev.get(f.name).map(l => f.copy(name = l)).getOrElse(f)))
    }
  }
  override def description(): String =
    inner.description() + s" GraftKeyGrouped(bucket($n, $col), ${buckets.size} buckets)"

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(Array(Expressions.bucket(n, col)), buckets.size)

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    inner match {
      case s: SupportsReportStatistics => s.estimateStatistics()
      case _ => new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes() = java.util.OptionalLong.empty()
        override def numRows() = java.util.OptionalLong.empty()
      }
    }

  override def toBatch: Batch = new Batch {
    private val innerBatch = inner.toBatch
    override def planInputPartitions(): Array[InputPartition] = {
      // regroup the parquet scan's planned files per bucket: one keyed
      // partition per bucket, in key order (Spark aligns both join sides
      // by sorted partition key)
      val files = innerBatch.planInputPartitions().flatMap {
        case fp: FilePartition => fp.files
        case other => sys.error(s"graft bucketed scan: unexpected partition $other")
      }
      def bucketOf(f: org.apache.spark.sql.execution.datasources.PartitionedFile): Int = {
        val p = f.filePath.toPath.toUri.getPath
        bucketOfPath.getOrElse(p, sys.error(
          s"graft bucketed scan: file $p missing from the bucket map"))
      }
      files.groupBy(bucketOf).toSeq.sortBy(_._1).zipWithIndex.map {
        case ((b, fs), i) => KeyedBucketPartition(b, FilePartition(i, fs))
          : InputPartition
      }.toArray
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new KeyedReaderFactory(innerBatch.createReaderFactory())
  }
}
