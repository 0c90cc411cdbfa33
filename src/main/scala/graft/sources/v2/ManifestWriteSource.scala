package graft.sources.v2

import java.util
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{MessageType, PrimitiveType, Type, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.ManifestTable

/** DataSource V2 BATCH WRITE into a [[graft.sources.ManifestTable]] — the
  * write half of the engine's DSv2 surface (the read half is
  * [[HttpApiSource]]). The interesting part is the COMMIT PROTOCOL, which
  * maps one-to-one onto the manifest table's:
  *
  *  - every task's [[DataWriter]] streams its partition into its OWN
  *    parquet file under `<table>/_staging/<uuid>/` — invisible to every
  *    reader, because readers resolve manifests, never directory listings;
  *  - `commit()` on the task returns the staged path as the
  *    [[WriterCommitMessage]] — Spark guarantees exactly one task
  *    attempt's message per partition reaches the driver (speculative /
  *    retried attempts either never commit or are dropped);
  *  - [[BatchWrite!.commit]] on the DRIVER moves the acknowledged files
  *    into `data/commit-<v>/` and publishes the manifest with
  *    write-then-rename — the table flips to the new version atomically,
  *    or (on any failure before that point) not at all;
  *  - `abort()` deletes the staging directory: a failed job leaves the
  *    table bit-for-bit untouched.
  *
  * This is exactly how a 100 TB lake writer must behave: no output
  * committer renames per task into the live directory, no reader ever
  * observes a half-written job, and the commit cost is O(files), not
  * O(bytes). `SaveMode.Append` maps to an append commit;
  * `.mode("overwrite")` arrives as [[SupportsTruncate]] and maps to an
  * overwrite commit (old files stay for time travel until expiry).
  *
  * Supported column types: long/int/double/boolean/string — the
  * example-Group parquet writer bundled with parquet-hadoop carries
  * these faithfully; richer types route through `ManifestTable.commit`
  * (Spark's own parquet writer) instead.
  *
  * Usage: `df.write.format("graft.sources.v2.ManifestWriteSource")
  *   .option("path", dir).mode("append"|"overwrite").save()`
  */
class ManifestWriteSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true
  // reads go through ManifestTable.read; schema inference only serves the
  // rare describe-before-write path
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = Option(options.get("path")).getOrElse(
      sys.error("graft-manifest: 'path' option is required"))
    ManifestTable.read(SparkSession.active, dir).schema
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ManifestWriteTable(schema, properties.asScala.toMap)
}

class ManifestWriteTable(writeSchema: StructType, props: Map[String, String])
    extends Table with SupportsWrite {
  override def name(): String = s"graft_manifest(${props.getOrElse("path", "?")})"
  override def schema(): StructType = writeSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE).asJava
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new ManifestWriteBuilder(
      props.getOrElse("path", sys.error("graft-manifest: 'path' option is required")),
      info.schema())
}

class ManifestWriteBuilder(dir: String, schema: StructType,
                           orderCol: Option[String] = None,
                           orderPartitions: Int = 0,
                           rowLevel: Boolean = false,
                           targetFileSize: Long = 0,
                           tableSchema: Option[StructType] = None,
                           renames: Map[String, String] = Map.empty)
    extends WriteBuilder with SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsOverwrite {
  private var append = true
  // DYNAMIC OVERWRITE (`df.writeTo(t).overwrite(cond)`): delete-matching
  // + append-new as ONE atomic commit (ManifestTable.overwriteWhere) —
  // the nightly partition-replace pattern with no missing-day window
  private var overwritePred: Option[org.apache.spark.sql.Column] = None
  override def truncate(): WriteBuilder = { append = false; this }
  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter])
      : WriteBuilder = {
    if (filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue))
      return truncate()
    val cols = filters.toSeq.map(f => V2Filters.toColumn(f).getOrElse(
      sys.error(s"graft-manifest overwrite: untranslatable filter $f")))
    overwritePred = Some(cols.reduce(_ && _))
    this
  }
  override def build(): Write = orderCol match {
    // `write.target-file-size` WITHOUT a declared ordering: Spark
    // refuses an advisory size on an unspecified distribution, so the
    // split happens at the WRITER — each task ROLLS to a new parquet
    // file when the in-progress file reaches the target (the Iceberg
    // write.target-file-size-bytes contract: rolling bounds the maximum,
    // the exchange bounds the minimum only when an ordering is declared).
    case None => new Write {
      override def toBatch: BatchWrite =
        new ManifestBatchWrite(dir, schema, append, rowLevel, targetFileSize,
          overwritePred, tableSchema, renames)
      override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
        new ManifestStreamingWrite(dir, schema)
    }
    // Declarative clustered writes (`write.order` table property): the
    // write REQUIRES a range distribution + sort on the declared column,
    // so Spark plans one range exchange and every task's file covers a
    // DISJOINT value range — the per-file min/max stats the manifest
    // stores then prune range queries on every INSERT's output with no
    // separate compaction pass (q331's clustering discipline, enforced
    // at write time by the table itself; Iceberg's SortOrder contract).
    case Some(c) => new Write with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
      import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
      private val order = Array[SortOrder](
        Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
      override def requiredDistribution(): Distribution = Distributions.ordered(order)
      override def requiredOrdering(): Array[SortOrder] = order
      // 0 = let Spark/AQE size the exchange (the 100 TB default);
      // a pinned count serves small tables and tests, where AQE would
      // otherwise coalesce to one file and no file-level range layout
      // exists. An advisory target-file-size sizes the range exchange
      // instead (the two knobs are mutually exclusive per the DSv2
      // contract: numPartitions must be 0 when the advisory size is set).
      override def requiredNumPartitions(): Int =
        if (targetFileSize > 0) 0 else orderPartitions
      override def advisoryPartitionSizeInBytes(): Long =
        if (targetFileSize > 0) targetFileSize
        else super.advisoryPartitionSizeInBytes()
      override def toBatch: BatchWrite =
        new ManifestBatchWrite(dir, schema, append, overwrite = overwritePred,
          tableSchema = tableSchema, renames = renames)
      // streaming epochs honor the same declared clustering: the
      // micro-batch planner applies this Write's distribution+ordering,
      // so freshly-streamed commits carry the same disjoint per-file
      // ranges — and the same stats-prune story — as batch INSERTs
      // (r10; previously a writeStream.toTable on a write.order table
      // threw on the missing toStreaming)
      override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
        new ManifestStreamingWrite(dir, schema)
    }
  }
}

/** V1 `Filter` → `Column` translation for write-side predicates (the
  * overwrite condition). Conservative: anything untranslatable returns
  * None and the caller refuses loudly — an overwrite whose delete scope
  * were silently narrowed would destroy data. */
private[v2] object V2Filters {
  def toColumn(f: org.apache.spark.sql.sources.Filter)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v)            => Some(col(a) === lit(v))
      case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
      case GreaterThan(a, v)        => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v)           => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
      case IsNull(a)                => Some(col(a).isNull)
      case IsNotNull(a)             => Some(col(a).isNotNull)
      case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
      case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
      case And(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a && b
      case Or(l, r)  => for (a <- toColumn(l); b <- toColumn(r)) yield a || b
      case Not(c)    => toColumn(c).map(!_)
      case AlwaysTrue  => Some(lit(true))
      case AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }
}

final case class StagedFileMessage(path: String) extends WriterCommitMessage
/** A task that ROLLED files at `write.target-file-size` stages several. */
final case class StagedFilesMessage(paths: Seq[String]) extends WriterCommitMessage

/** Batch write onto a BRANCH — `df.writeTo("graft.db.t")
  * .option("branch", "exp").append()`: task-staged files land as the
  * branch's next version via [[ManifestTable.publish]], main
  * never sees them (the WAP surface through the public writer API).
  * Append-only, like every branch commit; INSERT OVERWRITE refuses at
  * the builder (no SupportsTruncate).
  *
  * A clustered table's branch appends keep its layout discipline (r10
  * session 3 — previously branch writes staged plain unclustered files,
  * so one fast-forwarded WAP cycle silently degraded SPJ and transform
  * pruning on main): `ptnSpecs` routes rows through the per-cell
  * splitting writer (physical `_ptn_*` columns → footer stats), and
  * `bucketSpec` through the bucket splitter with the id published as a
  * manifest tag — fastForward replays manifest lines verbatim, so both
  * survive onto main. */
class BranchBatchWrite(dir: String, branch: String, schema: StructType,
                       ptnSpecs: Seq[PtnColSpec] = Nil,
                       bucketSpec: Option[(String, Int)] = None,
                       targetFileSize: Long = 0)
    extends BatchWrite {
  private val stagingDir = s"$dir/_staging/branch-${UUID.randomUUID()}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    (bucketSpec, ptnSpecs) match {
      case (Some((c, n)), _) =>
        BucketedWriterFactory(stagingDir, schema, schema.fieldIndex(c), n)
      case (None, ps) if ps.nonEmpty => TransformedWriterFactory(stagingDir, schema, ps)
      case _ => new ManifestWriterFactory(stagingDir, schema,
        targetFileSize = targetFileSize)
    }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // (bucket id, path) pairs — None for unbucketed writers
    val staged: Seq[(Option[Int], String)] = messages.toSeq.flatMap {
      case StagedFileMessage(p)        => Seq((None: Option[Int], p))
      case StagedFilesMessage(ps)      => ps.map((None: Option[Int], _))
      case StagedBucketFilesMessage(fs) => fs.map { case (b, p) => (Some(b), p) }
      case _ => Seq.empty
    }
    val ref = ManifestTable.Ref.Branch(branch)
    val (v, dataDir) = ManifestTable.nextCommit(dir, ref)
    ManifestTable.publish(dir, ref, v, ManifestTable.CommitPlan(
      added = StagedFiles.moveTagged(staged, dataDir, bucketSpec.map(_._1))))
    cleanupStaging()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = cleanupStaging()

  private def cleanupStaging(): Unit = ManifestTable.rmTree(new java.io.File(stagingDir))
}

class ManifestBatchWrite(dir: String, schema: StructType, append: Boolean,
                         rowLevel: Boolean = false, targetFileSize: Long = 0,
                         overwrite: Option[org.apache.spark.sql.Column] = None,
                         tableSchema: Option[StructType] = None,
                         renames: Map[String, String] = Map.empty)
    extends BatchWrite {
  private val stagingDir = s"$dir/_staging/${UUID.randomUUID()}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ManifestWriterFactory(stagingDir, schema, rowLevel, targetFileSize)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.flatMap {
      case StagedFileMessage(p)   => Seq(p)
      case StagedFilesMessage(ps) => ps
      case _ => Seq.empty
    }
    // Claim the version ONCE, move staged files under it, then publish at
    // exactly that version. The publish's no-replace manifest claim is
    // the atomic create: if a concurrent writer claimed v first, the
    // publish throws and the moved files remain unreferenced — readers
    // resolve manifests, never listings, so nothing half-committed is ever
    // visible (the old shape published first and detected the race only
    // after the wrong manifest was already live).
    val (v, dataDir) = ManifestTable.nextCommit(dir, ManifestTable.Ref.Main)
    val files = StagedFiles.move(staged.toSeq, dataDir)
    overwrite match {
      // dynamic overwrite: delete-matching + append-new in ONE commit
      case Some(pred) =>
        ManifestTable.overwriteWhere(SparkSession.active, dir, pred, files,
          tableSchema = tableSchema, renames = renames): Unit
      case None =>
        ManifestTable.publish(dir, ManifestTable.Ref.Main, v,
          ManifestTable.CommitPlan(ManifestTable.Base.of(append), added = files)): Unit
    }
    cleanupStaging()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = cleanupStaging()

  private def cleanupStaging(): Unit = ManifestTable.rmTree(new java.io.File(stagingDir))
}

class ManifestWriterFactory(stagingDir: String, schema: StructType,
                            rowLevel: Boolean = false,
                            targetFileSize: Long = 0)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ManifestDataWriter(stagingDir, schema, partitionId, taskId, rowLevel,
      targetFileSize)
}

/** Exactly-once STREAMING write into the manifest table — the native
  * `df.writeStream.toTable("graft.db.t")` path, carrying
  * [[graft.streaming.EventStreams.manifestAppendSink]]'s idempotence
  * contract into the DSv2 streaming protocol: every epoch appends as one
  * table version whose provenance is recorded in the `v<N>.src` ledger
  * (claimed no-replace BEFORE the manifest CAS), so a retried or
  * replayed epoch — same checkpoint or a fresh one re-delivering the
  * same epoch ids — finds its own ledger entry and commits NOTHING,
  * while a version taken by a foreign writer fails loudly instead of
  * silently dropping the batch. One logical stream per table (the
  * sink's single-writer contract); each committed epoch is a
  * time-travelable snapshot feeding the change feed and any
  * `readStream.table` consumer downstream. */
class ManifestStreamingWrite(dir: String, schema: StructType,
                             ptnSpecs: Seq[PtnColSpec] = Nil,
                             bucketSpec: Option[(String, Int)] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private val nonce = UUID.randomUUID().toString.take(8)
  private def stagingDir(epochId: Long) = s"$dir/_staging/epoch-$epochId-$nonce"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    ManifestStreamingWriterFactory(dir, nonce, schema, ptnSpecs, bucketSpec)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val tag = s"stream-epoch:$epochId"
    val cur = ManifestTable.currentVersion(dir)
    // dedup fast path: the durable ledger (survives expire(), O(1));
    // fallback: the per-version .src scan, which covers the crash window
    // between a publish and its ledger append
    if (ManifestTable.streamEpochLedger(dir).contains(tag) ||
        (1 to cur).exists(v => ManifestTable.sourceTag(dir, v).contains(tag))) {
      cleanup(epochId) // epoch already committed (task retry / replay)
      return
    }
    val v = cur + 1
    ManifestTable.claimSourceTag(dir, v, tag)
    val owned = ManifestTable.sourceTag(dir, v)
    if (!owned.contains(tag)) throw new IllegalStateException(
      s"graft streaming write: version $v of $dir is claimed by " +
        s"${owned.map(t => s"'$t'").getOrElse("an untagged writer")} — a " +
        s"foreign commit broke the epoch ledger; failing loudly instead of " +
        s"dropping epoch $epochId")
    val staged: Seq[(Option[Int], String)] = messages.toSeq.flatMap {
      case StagedFileMessage(p)         => Seq((None: Option[Int], p))
      case StagedFilesMessage(ps)       => ps.map((None: Option[Int], _))
      case StagedBucketFilesMessage(fs) => fs.map { case (b, p) => (Some(b), p) }
      case _ => Seq.empty
    }
    // bucketed epochs publish their bucket ids as manifest tags — the
    // key-grouped scan needs EVERY file tagged, so a streamed commit must
    // not break the SPJ contract
    val files = StagedFiles.moveTagged(staged, s"$dir/data/commit-$v",
      bucketSpec.map(_._1))
    try ManifestTable.publish(dir, ManifestTable.Ref.Main, v,
      ManifestTable.CommitPlan(added = files)): Unit
    catch {
      case e: ManifestTable.CommitConflictException =>
        throw new IllegalStateException(
          s"graft streaming write: lost the v$v manifest CAS to a foreign " +
            s"writer after claiming its ledger — single-writer contract " +
            s"violated for epoch $epochId", e)
    }
    ManifestTable.recordStreamEpochs(dir, Seq(tag))
    cleanup(epochId)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    cleanup(epochId)

  private def cleanup(epochId: Long): Unit =
    ManifestTable.rmTree(new java.io.File(stagingDir(epochId)))
}

/** Moves task-staged files into a commit's data directory — the last
  * step before one driver-side [[ManifestTable.publish]] makes them
  * visible. */
private[v2] object StagedFiles {
  /** `staged` (bucket id when the writer split by bucket, path) moved
    * under `dataDir`. Bucket files are renamed `b<id>-<name>` (one task
    * stages same-named parts for different buckets under per-bucket
    * staging subdirs) and, when `bucketCol` is given, carry their
    * `_ptn_bucket_<col>` manifest tag. */
  def moveTagged(staged: Seq[(Option[Int], String)], dataDir: String,
                 bucketCol: Option[String]): Seq[ManifestTable.DataFile] = {
    val target = java.nio.file.Paths.get(dataDir)
    java.nio.file.Files.createDirectories(target)
    staged.sortBy(_._2).map { case (b, p) =>
      val src = java.nio.file.Paths.get(p)
      val dst = target.resolve(b.map(i => s"b$i-").getOrElse("") + src.getFileName)
      java.nio.file.Files.move(src, dst)
      val tag = for (c <- bucketCol; i <- b)
        yield s"_ptn_bucket_$c" -> (i.toDouble, i.toDouble)
      ManifestTable.DataFile(dst.toAbsolutePath.toString, tag.toMap)
    }
  }

  def move(staged: Seq[String], dataDir: String): Seq[ManifestTable.DataFile] =
    moveTagged(staged.map(None -> _), dataDir, None)
}

/** Serializable factory shipped to executors (the enclosing
  * StreamingWrite stays driver-side). */
final case class ManifestStreamingWriterFactory(dir: String, nonce: String,
                                                schema: StructType,
                                                ptnSpecs: Seq[PtnColSpec] = Nil,
                                                bucketSpec: Option[(String, Int)] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] = {
    val staging = s"$dir/_staging/epoch-$epochId-$nonce"
    // a clustered table's epochs keep its layout, exactly like batch
    // INSERTs: transform cells split with materialized _ptn_* columns,
    // bucket ids split per bucket (tagged at the commit) — streamed
    // data then carries the same pruning/SPJ story as batch data
    (bucketSpec, ptnSpecs) match {
      case (Some((c, n)), _) =>
        new BucketedDataWriter(staging, schema, schema.fieldIndex(c), n,
          partitionId, taskId)
      case (None, ps) if ps.nonEmpty =>
        new TransformedDataWriter(staging, schema, ps, partitionId, taskId)
      case _ => new ManifestDataWriter(staging, schema, partitionId, taskId)
    }
  }
}

/** Per-task parquet writer over the example Group API (the only parquet
  * write path available without Spark's private classes). Streams rows —
  * memory is one parquet row group, independent of partition size. */
class ManifestDataWriter(stagingDir: String, schema: StructType,
                         partitionId: Int, taskId: Long,
                         rowLevel: Boolean = false,
                         targetFileSize: Long = 0,
                         namePrefix: String = "")
    extends DataWriter[InternalRow] {

  private val parquetSchema: MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val rep = if (f.nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED
      val t: Type = f.dataType match {
        case LongType    => new PrimitiveType(rep, PrimitiveTypeName.INT64, f.name)
        case IntegerType => new PrimitiveType(rep, PrimitiveTypeName.INT32, f.name)
        case DoubleType  => new PrimitiveType(rep, PrimitiveTypeName.DOUBLE, f.name)
        case BooleanType => new PrimitiveType(rep, PrimitiveTypeName.BOOLEAN, f.name)
        case StringType => Types.primitive(PrimitiveTypeName.BINARY, rep)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
        // timestamps ride as INT64 micros (UTC-adjusted — Spark's own
        // parquet convention), dates as INT32 epoch days; footer stats
        // then carry them and time-ranged manifest pruning works on
        // SQL-inserted files (r10 session 3 — previously refused)
        case TimestampType => Types.primitive(PrimitiveTypeName.INT64, rep)
          .as(LogicalTypeAnnotation.timestampType(true,
            LogicalTypeAnnotation.TimeUnit.MICROS)).named(f.name)
        case TimestampNTZType => Types.primitive(PrimitiveTypeName.INT64, rep)
          .as(LogicalTypeAnnotation.timestampType(false,
            LogicalTypeAnnotation.TimeUnit.MICROS)).named(f.name)
        case DateType => Types.primitive(PrimitiveTypeName.INT32, rep)
          .as(LogicalTypeAnnotation.dateType()).named(f.name)
        case other => sys.error(
          s"graft-manifest DSv2 writer: unsupported type $other for column ${f.name}")
      }
      b.addField(t)
    }
    b.named("graft_manifest_row")
  }

  // file ROLLING (`write.target-file-size`): when the in-progress file's
  // buffered+flushed size reaches the target, it closes and a new part
  // opens — bounding the MAXIMUM file size at any input shape (the
  // minimum is the exchange's job, and only when an ordering is declared)
  private var fileSeq = 0
  private var donePaths: List[String] = Nil
  private def newPath(): String = {
    val suffix = if (fileSeq == 0) "" else s"-r$fileSeq"
    s"$stagingDir/${namePrefix}part-$partitionId-$taskId$suffix.parquet"
  }
  private var path = newPath()
  private def openWriter(): ParquetWriter[Group] = {
    new java.io.File(stagingDir).mkdirs()
    ExampleParquetWriter.builder(new HPath(path))
      .withConf(new Configuration(false))
      .withType(parquetSchema)
      .build()
  }
  // LAZY-created on the first row: an empty partition must stage NOTHING.
  // Eager creation staged one empty parquet file per empty input
  // partition (a 10-row delta over 32 partitions staged 32 files, 22 of
  // them row-less) — pure manifest/listing overhead on every later read.
  private var writer: ParquetWriter[Group] = null
  private def maybeRoll(): Unit =
    if (targetFileSize > 0 && writer != null && writer.getDataSize >= targetFileSize) {
      writer.close()
      donePaths = path :: donePaths
      fileSeq += 1
      path = newPath()
      writer = openWriter()
    }
  private val factory = new SimpleGroupFactory(parquetSchema)

  // Spark's group-based row-level rewrite (UPDATE / MERGE INTO →
  // ReplaceData) PREPENDS exactly one operation-marker column to the
  // query while the declared write schema excludes it (verified against
  // Spark 4.1: LogicalWriteInfo.rowIdSchema/metadataSchema are both
  // empty for group-based ops, so the marker is NOT name-derivable from
  // the write info — the builder flags row-level writes explicitly
  // instead). The contract is pinned, not inferred: a plain write with
  // ANY width mismatch, or a row-level write whose delta is not exactly
  // one leading column, fails loudly rather than risking silent
  // positional misalignment of same-typed columns.
  private val off = if (rowLevel) 1 else 0

  override def write(row: InternalRow): Unit = {
    require(row.numFields == schema.length + off,
      s"graft-manifest writer: row has ${row.numFields} fields for a " +
        s"${schema.length}-column schema (rowLevel=$rowLevel expects " +
        s"exactly ${schema.length + off}) — Spark's write projection " +
        s"changed shape; refusing to guess column positions")
    if (writer == null) writer = openWriter()
    val g = factory.newGroup()
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i + off)) schema.fields(i).dataType match {
        case LongType    => g.add(i, row.getLong(i + off))
        case IntegerType => g.add(i, row.getInt(i + off))
        case DoubleType  => g.add(i, row.getDouble(i + off))
        case BooleanType => g.add(i, row.getBoolean(i + off))
        case StringType  => g.add(i, row.getUTF8String(i + off).toString)
        case TimestampType | TimestampNTZType => g.add(i, row.getLong(i + off))
        case DateType    => g.add(i, row.getInt(i + off))
        case other => sys.error(s"unsupported $other")
      }
      i += 1
    }
    writer.write(g)
    maybeRoll()
  }

  override def commit(): WriterCommitMessage = {
    if (writer == null) return StagedFilesMessage(Nil) // empty partition: nothing staged
    writer.close()
    donePaths match {
      case Nil => StagedFileMessage(path)
      case ps  => StagedFilesMessage((path :: ps).reverse)
    }
  }

  override def abort(): Unit = {
    if (writer != null) {
      writer.close()
      (path :: donePaths).foreach(p => new java.io.File(p).delete(): Unit)
    }
  }

  override def close(): Unit = ()
}
