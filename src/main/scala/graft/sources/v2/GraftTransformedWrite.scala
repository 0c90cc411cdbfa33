package graft.sources.v2

import java.util.UUID

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

import graft.sources.ManifestTable

/** SQL INSERT into a HIDDEN-PARTITION table — the write half of the q371
  * surface (reads landed first; writes previously refused with a pointer
  * at `ManifestTable.commitPartitioned`). The contract mirrors the
  * library verb exactly:
  *
  *  - the INSERT requires a distribution CLUSTERED on the declared
  *    transforms (`days(ts)`, `md5bucket(n, k)`), resolved through the
  *    catalog's FunctionCatalog face the same way the SPJ bucket is —
  *    one hash exchange at write time groups each task's rows by
  *    partition cell;
  *  - the writer computes the `_ptn_*` value per row FROM THE SOURCE
  *    column (the transform is derived metadata, never user input),
  *    splits its output so every staged file holds exactly one cell,
  *    and materializes the value as a physical trailing column — the
  *    same file shape `commitPartitioned` writes, so footer stats pick
  *    the transform up and the manifest line prunes on it with no new
  *    metadata;
  *  - the driver publishes through the ordinary `ManifestTable.publish` CAS.
  *
  * At 100 TB this closes the last seam in the hidden-partitioning loop:
  * CREATE TABLE ... PARTITIONED BY (days(ts)), INSERT INTO, and a
  * time-ranged SELECT are all pure SQL, and every INSERT's files carry
  * single-day stats the scan prunes on — no library imports anywhere.
  *
  * Day arithmetic is UTC (`floorDiv(micros, 86.4e9)`), matching the
  * scan-side predicate mapping in [[GraftScanBuilder]]; the repo's
  * sessions run UTC (the same assumption `commitPartitioned`'s
  * `datediff(cast(ts as date))` makes). Clustering quality depends on
  * the V2 function agreeing with the written value — correctness never
  * does, because pruning compares query intervals against stats of the
  * ACTUAL written values. */
object GraftDaysFunction extends UnboundFunction {
  /** Epoch micros → UTC epoch day; the one day formula shared by the
    * write distribution, the writer, and the scan's predicate mapping. */
  def dayOfMicros(micros: Long): Long = Math.floorDiv(micros, 86400000000L)

  override def name(): String = "days"
  override def description(): String =
    "days(ts): UTC epoch day of a timestamp/date — the hidden-partition transform"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 1,
      s"graft days(ts) takes one argument, got ${inputType.catalogString}")
    inputType.fields(0).dataType match {
      case _: TimestampType | _: TimestampNTZType => BoundDaysOfTimestamp
      case _: DateType                            => BoundDaysOfDate
      case other => throw new UnsupportedOperationException(
        s"graft days(ts): expected a timestamp or date argument, got $other")
    }
  }
}

object BoundDaysOfTimestamp extends ScalarFunction[Long] {
  override def inputTypes(): Array[DataType] = Array(TimestampType)
  override def resultType(): DataType = LongType
  override def name(): String = "days"
  override def canonicalName(): String = "graft.days"
  override def isDeterministic: Boolean = true
  override def produceResult(input: InternalRow): Long =
    GraftDaysFunction.dayOfMicros(input.getLong(0))
}

object BoundDaysOfDate extends ScalarFunction[Long] {
  override def inputTypes(): Array[DataType] = Array(DateType)
  override def resultType(): DataType = LongType
  override def name(): String = "days"
  override def canonicalName(): String = "graft.days"
  override def isDeterministic: Boolean = true
  override def produceResult(input: InternalRow): Long = input.getInt(0).toLong
}

/** The library's md5 bucket transform as a V2 function, so an INSERT
  * into a `bucket(n, k)`-transformed table can declare its clustered
  * distribution. DISTINCT from the SPJ `bucket` function (`x mod n`):
  * the hidden-partition bucket hashes the STRING form through md5
  * (engine-independent, computable driver-side for point-read planning),
  * and the two must not collide on one name — join compatibility binds
  * to canonical names. */
object GraftMd5BucketFunction extends UnboundFunction {
  override def name(): String = "md5bucket"
  override def description(): String =
    "md5bucket(n, x): first 24 bits of md5('b:'+string(x)) mod n — the hidden-partition bucket"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"graft md5bucket(n, x) takes two arguments, got ${inputType.catalogString}")
    inputType.fields(1).dataType match {
      case _: LongType | _: IntegerType | _: StringType =>
        BoundMd5Bucket(inputType.fields(1).dataType)
      case other => throw new UnsupportedOperationException(
        s"graft md5bucket(n, x): unsupported key type $other")
    }
  }
}

final case class BoundMd5Bucket(keyType: DataType) extends ScalarFunction[Long] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, keyType)
  override def resultType(): DataType = LongType
  override def name(): String = "md5bucket"
  override def canonicalName(): String = s"graft.md5bucket.${keyType.simpleString}"
  override def isDeterministic: Boolean = true
  override def produceResult(input: InternalRow): Long = {
    val n = input.getInt(0)
    val s = keyType match {
      case _: LongType    => input.getLong(1).toString
      case _: IntegerType => input.getInt(1).toString
      case _              => input.getUTF8String(1).toString
    }
    ManifestTable.BucketTransform(n, "x").bucketOf(s)
  }
}

/** Serializable per-column transform recipe shipped to write tasks. */
final case class PtnColSpec(kind: String, n: Int, srcIdx: Int,
                            srcType: String, ptnCol: String) {
  /** The transform value for `row`, or None on a NULL source (the
    * transform of NULL is NULL — the file lands in a null cell and its
    * stats simply omit the column, which reads conservatively). */
  def valueOf(row: InternalRow): Option[Long] =
    if (row.isNullAt(srcIdx)) None
    else Some(kind match {
      case "days" => srcType match {
        case "date" => row.getInt(srcIdx).toLong
        case _      => GraftDaysFunction.dayOfMicros(row.getLong(srcIdx))
      }
      case "bucket" =>
        val s = srcType match {
          case "long"   => row.getLong(srcIdx).toString
          case "int"    => row.getInt(srcIdx).toString
          case "string" => row.getUTF8String(srcIdx).toString
          case other => sys.error(s"graft transformed write: bad key type $other")
        }
        ManifestTable.BucketTransform(n, "x").bucketOf(s)
      case other => sys.error(s"graft transformed write: unknown transform $other")
    })
}

object PtnColSpec {
  private def typeTag(dt: DataType, col: String): String = dt match {
    case _: TimestampType | _: TimestampNTZType => "ts"
    case _: DateType    => "date"
    case _: LongType    => "long"
    case _: IntegerType => "int"
    case _: StringType  => "string"
    case other => sys.error(
      s"graft transformed write: transform source '$col' has unsupported type $other")
  }

  def of(transforms: Seq[ManifestTable.Transform], schema: StructType): Seq[PtnColSpec] =
    transforms.map { t =>
      val idx = schema.fieldNames.indexOf(t.source)
      require(idx >= 0,
        s"graft transformed write: transform source '${t.source}' is not in the " +
          s"write schema ${schema.fieldNames.mkString("(", ", ", ")")}")
      val tag = typeTag(schema.fields(idx).dataType, t.source)
      t match {
        case d: ManifestTable.DaysTransform =>
          require(tag == "ts" || tag == "date",
            s"graft transformed write: days(${t.source}) needs a timestamp/date " +
              s"column, got ${schema.fields(idx).dataType}")
          PtnColSpec("days", 0, idx, tag, d.ptnCol)
        case b: ManifestTable.BucketTransform =>
          require(tag == "long" || tag == "int" || tag == "string",
            s"graft transformed write: bucket(${b.n}, ${t.source}) needs a " +
              s"long/int/string column, got ${schema.fields(idx).dataType}")
          PtnColSpec("bucket", b.n, idx, tag, b.ptnCol)
      }
    }
}

object TransformedWriteBuilder {
  /** The declared transforms as V2 clustering expressions — shared by
    * main-line INSERTs and branch appends so both land cell-clustered. */
  def clusteringOf(transforms: Seq[ManifestTable.Transform])
      : Array[org.apache.spark.sql.connector.expressions.Expression] =
    transforms.map {
      case ManifestTable.DaysTransform(src) => Expressions.days(src)
      case ManifestTable.BucketTransform(n, src) =>
        Expressions.apply("md5bucket", Expressions.literal(n),
          Expressions.column(src))
    }.toArray
}

/** Clustered write into a transform-partitioned table: one exchange on
  * the declared transforms, per-cell file splits, `_ptn_*` columns
  * materialized, ordinary CAS publish. */
class TransformedWriteBuilder(dir: String, schema: StructType,
                              transforms: Seq[ManifestTable.Transform],
                              tableSchema: Option[StructType] = None,
                              renames: Map[String, String] = Map.empty)
    extends WriteBuilder with SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsOverwrite {
  private var append = true
  override def truncate(): WriteBuilder = { append = false; this }
  // dynamic overwrite on a transform table — THE partition-replace use
  // case ("re-ingest this day"): the condition's source-column bounds
  // select the day's cells, the rewrite keeps the physical _ptn_*
  // columns so surviving rows' cell stats ride into replacement footers,
  // and the cell-split staged INSERT lands alongside in one commit
  private var overwritePred: Option[org.apache.spark.sql.Column] = None
  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter])
      : WriteBuilder = {
    if (filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue))
      return truncate()
    val cols = filters.toSeq.map(f => V2Filters.toColumn(f).getOrElse(
      sys.error(s"graft transformed overwrite: untranslatable filter $f")))
    overwritePred = Some(cols.reduce(_ && _))
    this
  }

  // validate eagerly — a bad source column must fail at analysis, not in
  // a task
  private val specs = PtnColSpec.of(transforms, schema)

  override def build(): Write =
    new Write with RequiresDistributionAndOrdering {
      import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
      override def requiredDistribution(): Distribution =
        Distributions.clustered(TransformedWriteBuilder.clusteringOf(transforms))
      override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
        Array.empty
      override def toBatch: BatchWrite =
        new TransformedBatchWrite(dir, schema, append, specs,
          overwrite = overwritePred, tableSchema = tableSchema,
          renames = renames)
      // writeStream.toTable epochs inherit the clustering: the
      // micro-batch planner applies this Write's distribution, and the
      // per-cell splitting writer gives every streamed commit the same
      // single-day/single-bucket file stats as a batch INSERT
      override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
        new ManifestStreamingWrite(dir, schema, specs)
    }
}

class TransformedBatchWrite(dir: String, schema: StructType, append: Boolean,
                            specs: Seq[PtnColSpec],
                            cowScanned: Option[() => Option[Seq[String]]] = None,
                            overwrite: Option[org.apache.spark.sql.Column] = None,
                            tableSchema: Option[StructType] = None,
                            renames: Map[String, String] = Map.empty,
                            branch: Option[String] = None)
    extends BatchWrite {
  require(branch.isEmpty || cowScanned.isDefined,
    "TransformedBatchWrite: branch routing is a row-level (CoW) contract — " +
      "plain branch appends go through the branch write path")
  private val stagingDir = s"$dir/_staging/transformed-${UUID.randomUUID()}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    TransformedWriterFactory(stagingDir, schema, specs,
      rowLevel = cowScanned.isDefined)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.flatMap {
      case StagedFileMessage(p)   => Seq(p)
      case StagedFilesMessage(ps) => ps
      case _ => Seq.empty
    }
    // WAP staging (r12): a branch-routed CoW lands under the branch's
    // nonce commit dir at the BRANCH head's next version
    val ref = ManifestTable.Ref.of(branch)
    val (v, dataDir) = ManifestTable.nextCommit(dir, ref)
    // cell-prefixed names are unique across a task's cells (the writer's
    // namePrefix), so a bare-name move never collides
    val files = StagedFiles.move(staged.toSeq, dataDir)
    // footer stats carry the physical _ptn_* columns — the manifest line
    // prunes on them exactly as it does for commitPartitioned's output
    (cowScanned, overwrite) match {
      // group copy-on-write UPDATE/MERGE: replace exactly the scanned
      // files; the replacements re-enter cell-split with their _ptn_*
      // footer stats, so hidden-partition pruning survives the mutation
      case (Some(f), _) =>
        val replaced = f().getOrElse(sys.error(
          "TransformedBatchWrite: row-level write committed without a scan — " +
            "cannot determine the replaced group set")).toSet
        ManifestTable.publish(dir, ref, v,
          ManifestTable.CommitPlan(replaced = replaced, added = files)): Unit
      // dynamic overwrite: delete-matching + append-new, one commit; the
      // rewrite keeps _ptn_* so untouched rows' cell stats survive
      case (None, Some(pred)) =>
        ManifestTable.overwriteWhere(org.apache.spark.sql.SparkSession.active,
          dir, pred, files, keepHidden = true, tableSchema = tableSchema,
          renames = renames): Unit
      case (None, None) =>
        ManifestTable.publish(dir, ref, v, ManifestTable.CommitPlan(
          ManifestTable.Base.of(append), added = files)): Unit
    }
    cleanupStaging()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = cleanupStaging()

  private def cleanupStaging(): Unit = ManifestTable.rmTree(new java.io.File(stagingDir))
}

final case class TransformedWriterFactory(stagingDir: String,
                                          schema: StructType,
                                          specs: Seq[PtnColSpec],
                                          rowLevel: Boolean = false)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new TransformedDataWriter(stagingDir, schema, specs, partitionId, taskId,
      rowLevel)
}

/** Routes each row to its partition cell's file (the clustered
  * distribution means a task usually holds one cell; multi-day inserts
  * and hash collisions bring more). Each cell's writer carries the base
  * schema WIDENED by the `_ptn_*` long columns, whose values are
  * constant per cell — computed once, joined onto every row. */
class TransformedDataWriter(stagingDir: String, schema: StructType,
                            specs: Seq[PtnColSpec],
                            partitionId: Int, taskId: Long,
                            rowLevel: Boolean = false)
    extends DataWriter[InternalRow] {

  private val widened = StructType(schema.fields ++
    specs.map(s => StructField(s.ptnCol, LongType, nullable = true)))

  // row-level rewrites prepend exactly one __row_operation marker: the
  // transform source indexes shift right with it, and the inner writer
  // strips it under its pinned one-column contract (the JoinedRow keeps
  // the marker leading, so [marker, base..., ptn...] minus the marker is
  // exactly the widened schema)
  private val effSpecs =
    if (rowLevel) specs.map(s => s.copy(srcIdx = s.srcIdx + 1)) else specs

  private final class CellWriter(idx: Int, cell: Seq[Option[Long]]) {
    // per-cell staging subdir AND a per-cell file name prefix: the
    // driver-side commit moves staged files by bare file name, so two
    // cells of one task must never stage same-named parts
    val inner = new ManifestDataWriter(s"$stagingDir/g$idx", widened,
      partitionId, taskId, rowLevel, namePrefix = s"c$idx-")
    private val suffix = new GenericInternalRow(
      cell.map(_.map(Long.box).orNull: Any).toArray)
    private val joined = new JoinedRow
    def write(row: InternalRow): Unit = inner.write(joined(row, suffix))
  }

  private val writers =
    scala.collection.mutable.LinkedHashMap.empty[Seq[Option[Long]], CellWriter]

  override def write(row: InternalRow): Unit = {
    val cell = effSpecs.map(_.valueOf(row))
    writers.getOrElseUpdate(cell, new CellWriter(writers.size, cell)).write(row)
  }

  override def commit(): WriterCommitMessage =
    StagedFilesMessage(writers.values.toSeq.flatMap(_.inner.commit() match {
      case StagedFileMessage(p)   => Seq(p)
      case StagedFilesMessage(ps) => ps
      case other => sys.error(s"unexpected $other")
    }))

  override def abort(): Unit = writers.values.foreach(_.inner.abort())
  override def close(): Unit = ()
}
