package graft.sources.v2

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

import graft.sources.ManifestTable

/** MERGE-ON-READ through the SQL face (Iceberg's equality-delete read
  * path, re-expressed over Spark's own DSv2 parquet machinery): a
  * snapshot carrying equality-delete entries is served by grouping its
  * data files by WHICH delete commits apply (a delete at sequence d
  * erases matching keys only from data with seq < d, so the groups are
  * contiguous in sequence and there are at most |delete commits|+1 of
  * them), planning one stock parquet batch per group — file pruning,
  * pushed filters, column pruning all intact — and filtering each
  * group's rows against ITS applicable delete-key sets in the partition
  * reader. The key sets are loaded once on the driver (delete files are
  * key-only and orders of magnitude smaller than data; a loud cap
  * refuses pathological sets with a pointer to compact()) and shipped to
  * executors via a torrent broadcast, so a 1000-executor scan fetches
  * each set once, not once per task.
  *
  * Null semantics match the library read path ([[ManifestTable.read]]'s
  * left-anti join): a NULL key value never matches a delete — the row
  * survives — and NULL delete keys erase nothing.
  */
/** One delete specification applicable to a group: the (possibly
  * composite) key columns' positions/kinds in the group's read schema and
  * the deleted keys in the probe domain (a boxed value per scalar key, a
  * Vector per composite key; NULL-bearing keys never enter). */
private[v2] final case class MoRDeleteSet(
    keyIdxs: Array[Int],
    keyKinds: Array[Int],          // 0=long 1=int 2=double 3=string 4=boolean
    keys: Array[Any],
    // the OVER-CEILING path (r16): when the footer-estimated key count
    // exceeds the driver ceiling, the driver ships the delete FILES
    // (content identities + key column names + a serializable hadoop
    // conf) instead of loaded keys, and executors load them once per JVM
    // through [[MoRDeleteKeyLoader]] — the Iceberg posture: delete-set
    // size is bounded by executor memory, never by the driver
    keyFiles: Array[ManifestTable.FileId] = Array.empty,
    keyNames: Array[String] = Array.empty,
    conf: SerializableHadoopConf = null)

/** Minimal serializable Hadoop Configuration carrier (Spark's own
  * wrapper is private[spark]): writes the conf's XML-backed key/value
  * state through Java serialization. */
private[v2] final class SerializableHadoopConf(
    @transient var value: org.apache.hadoop.conf.Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}

/** The single reader of merge-on-read delete state: equality-delete keys
  * (driver-side for the eager path, executor-side for the over-ceiling
  * sets), position-delete ordinals and the row-group layout of
  * position-touched files. Each result is memoized per
  * [[ManifestTable.FileId]] in a per-entry LRU, so re-planning an
  * unchanged snapshot reads nothing, a new delete commit reads only its
  * own files once, and no read is a Spark job. Keys land in the exact
  * domain the row probe extracts (boxed Long/Int/Double/String/Boolean;
  * composite keys as Vector), so eager and executor-side sets are
  * interchangeable. */
private[graft] object MoRDeleteKeyLoader {
  import org.apache.hadoop.conf.Configuration
  import ManifestTable.{FileId, LruMemo}

  /** Delete files read from storage, equality and position alike. */
  private[graft] val fileLoads = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Executor-side key sets assembled: once per distinct (files, key
    * columns) set per JVM, however many partitions probe it. */
  private[graft] val loads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Ceiling on the delete keys one scan holds on the driver (equality
    * keys and position ordinals, each). Delete files are key-only, orders
    * of magnitude smaller than the data they mask; below the ceiling
    * their keys load on the driver and ship inside the broadcast specs.
    * Above it equality deletes ship as FILES and each executor JVM loads
    * the key set once ([[set]]) — the Iceberg posture, bounded by
    * executor memory instead of a driver cliff — while position deletes
    * refuse with a pointer to compact() (their per-file ordinal maps
    * drive row-group planning on the driver). Test override:
    * -Dgraft.mor.maxDeleteKeys. */
  private[graft] def maxDeleteKeys: Long =
    sys.props.get("graft.mor.maxDeleteKeys").map(_.toLong).getOrElse(5000000L)

  // The driver-side memos are bounded, in keys, by the same ceiling: any
  // one scan the ceiling admits fits whole, so its re-plans read nothing.
  // Measured with Spark's SizeEstimator over 1 M-key delete files, a
  // memoized key costs 28 bytes as a BIGINT and 60 bytes as a 10-char
  // string, so a full key memo at the default ceiling holds ~140 MB of
  // BIGINT keys; an executor-side set costs 60 bytes per BIGINT key.
  private val fileKeys = new LruMemo[(FileId, Seq[String], Seq[Int]), Array[Any]](
    () => maxDeleteKeys, ks => math.max(1L, ks.length.toLong))
  private val positionMemo = new LruMemo[FileId, Map[String, Array[Long]]](
    () => maxDeleteKeys, m => math.max(1L, m.valuesIterator.map(_.length.toLong).sum))
  private val rowGroupMemo = new LruMemo[FileId, Array[(Long, Long)]](65536)
  // executor-side sets exceed the ceiling by construction, so they are
  // bounded by count: a set is never refused for its size, and every
  // partition of a scan probes the one set its JVM assembled
  private val sets =
    new LruMemo[(Seq[FileId], Seq[String], Seq[Int]), java.util.HashSet[Any]](64)

  /** The keys of one equality-delete file, memoized. */
  def keys(f: FileId, names: Array[String], kinds: Array[Int],
           conf: => Configuration): Array[Any] =
    fileKeys.getOrLoad((f, names.toSeq, kinds.toSeq)) {
      val out = Array.newBuilder[Any]
      eachKey(f, names, kinds, conf)(out += _)
      out.result()
    }

  /** The executor-side probe set of an over-ceiling delete spec, read
    * straight from its files (not through the driver-side key memo). */
  def set(ds: MoRDeleteSet): java.util.HashSet[Any] =
    sets.getOrLoad((ds.keyFiles.toSeq, ds.keyNames.toSeq, ds.keyKinds.toSeq)) {
      loads.incrementAndGet(): Unit
      val conf =
        if (ds.conf == null) new Configuration() else ds.conf.value
      val s = new java.util.HashSet[Any]()
      ds.keyFiles.foreach(f => eachKey(f, ds.keyNames, ds.keyKinds, conf)(k => s.add(k): Unit))
      s
    }

  /** Every key of one equality-delete file. NULL delete keys erase
    * nothing (the left-anti contract), so they never surface. */
  private def eachKey(f: FileId, names: Array[String], kinds: Array[Int],
                      conf: Configuration)(each: Any => Unit): Unit =
    records(f.path, conf) { g =>
      if (names.forall(g.getFieldRepetitionCount(_) > 0))
        each(if (names.length == 1) value(g, names(0), kinds(0))
             else Vector.tabulate(names.length)(i => value(g, names(i), kinds(i))))
    }

  /** One position-delete file's deleted ordinals, by data file path
    * (`file:` URIs normalized to plain paths). */
  def positions(f: FileId, conf: => Configuration): Map[String, Array[Long]] =
    positionMemo.getOrLoad(f) {
      val byFile = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuilder.ofLong]
      records(f.path, conf) { g =>
        if (g.getFieldRepetitionCount("file_path") > 0 && g.getFieldRepetitionCount("pos") > 0)
          byFile.getOrElseUpdate(normPath(g.getString("file_path", 0)),
            new scala.collection.mutable.ArrayBuilder.ofLong) += g.getLong("pos", 0)
      }
      byFile.map { case (p, b) => p -> b.result() }.toMap
    }

  /** (starting byte, row count) of each row group of a data file, from
    * its parquet footer. */
  def rowGroups(f: FileId, conf: => Configuration): Array[(Long, Long)] =
    rowGroupMemo.getOrLoad(f) {
      import scala.jdk.CollectionConverters._
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.path), conf))
      try r.getFooter.getBlocks.asScala.toArray.map(b => (b.getStartingPos, b.getRowCount))
      finally r.close()
    }

  def normPath(p: String): String =
    if (p.startsWith("file:")) java.net.URI.create(p).getPath else p

  private def value(g: org.apache.parquet.example.data.Group, nm: String, kind: Int): Any =
    kind match {
      case 0 =>
        // an INT32 key column (a library delete of int keys) widens to
        // the table's long domain, as the library read's join does
        if (g.getType.getType(nm).asPrimitiveType.getPrimitiveTypeName ==
            org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32)
          g.getInteger(nm, 0).toLong
        else g.getLong(nm, 0)
      case 1 => g.getInteger(nm, 0)
      case 2 => g.getDouble(nm, 0)
      case 3 => g.getString(nm, 0)
      case 4 => g.getBoolean(nm, 0)
    }

  private def records(path: String, conf: Configuration)(
      each: org.apache.parquet.example.data.Group => Unit): Unit = {
    fileLoads.incrementAndGet(): Unit
    val rdr = org.apache.parquet.hadoop.ParquetReader.builder(
      new org.apache.parquet.hadoop.example.GroupReadSupport(),
      new org.apache.hadoop.fs.Path(path)).withConf(conf).build()
    try {
      var g = rdr.read()
      while (g != null) { each(g); g = rdr.read() }
    } finally rdr.close()
  }
}

private[v2] final case class MoRGroupSpec(
    deleteSets: Array[MoRDeleteSet],
    projection: Array[Int],       // read-schema position of each OUTPUT column
    readTypes: Array[DataType],
    readNullable: Array[Boolean]) {
  def identityProjection: Boolean =
    projection.length == readTypes.length &&
      projection.zipWithIndex.forall { case (p, i) => p == i }
  def hasKeys: Boolean = deleteSets.nonEmpty

  /** Executor-side probe sets, one per delete spec: scalar keys probe a
    * HashSet[Any] directly (no per-row allocation); composite keys probe
    * a HashSet of value vectors. NULL delete keys erase nothing (the
    * left-anti contract), so they never enter a set. */
  def buildSets(): Array[java.util.HashSet[Any]] = deleteSets.map { ds =>
    if (ds.keyFiles.nonEmpty) MoRDeleteKeyLoader.set(ds)
    else {
      val s = new java.util.HashSet[Any](math.max(16, ds.keys.length * 2))
      ds.keys.foreach(k => s.add(k): Unit)
      s
    }
  }
}

/** `posPath`: set when this partition covers (part of) ONE
  * position-deleted file — since r16, exactly one ROW GROUP of it, with
  * `posBase` = the sum of all PRECEDING row groups' row counts from the
  * parquet footer. The reader counts ordinals from that base against
  * the file's deleted positions before any key filtering, so a pushed
  * filter that eliminates a whole row group (whose partition then
  * yields nothing) never shifts another partition's ordinals. */
private[v2] final case class MoRInputPartition(group: Int,
                                               inner: InputPartition,
                                               posPath: Option[String] = None,
                                               posBase: Long = 0L)
    extends InputPartition

/** Per-group inner factories; `None` where the group has no files of
  * that kind (no partition ever asks for one). */
private[v2] final class MoRReaderFactory(
    innerFactories: Array[Option[PartitionReaderFactory]],
    touchedFactories: Array[Option[PartitionReaderFactory]],
    specs: Broadcast[Array[MoRGroupSpec]],
    posDeletes: Broadcast[Map[String, Array[Long]]],
    columnar: Boolean)
    extends PartitionReaderFactory {

  // Spark forbids mixing columnar and row-based partitions within one
  // scan, so the decision is GLOBAL: when every planned partition's
  // inner parquet reader can vectorize, the whole scan stays columnar
  // and the delete filters apply as a selection-vector row-id mapping
  // over each ColumnarBatch ([[MoRColumnarReader]] — the Iceberg
  // ColumnVectorWithFilter shape); otherwise everything falls back to
  // the row path below (inner parquet pages still decode vectorized).
  override def supportColumnarReads(partition: InputPartition): Boolean = columnar

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[MoRInputPartition]
    val base = p.posPath match {
      case None => innerFactories(p.group).get.createReader(p.inner)
      // ordinal filter FIRST (it must see every physical row of the
      // file), key filter on whatever survives
      case Some(path) => new PosFilteringReader(
        touchedFactories(p.group).get.createReader(p.inner),
        posDeletes.value(path), p.posBase)
    }
    val spec = specs.value(p.group)
    if (!spec.hasKeys && spec.identityProjection) base
    else new MoRFilteringReader(base, spec)
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[MoRInputPartition]
    val spec = specs.value(p.group)
    p.posPath match {
      case None =>
        val base = innerFactories(p.group).get.createColumnarReader(p.inner)
        // delete-free group with identity projection: zero-cost pass-through
        if (!spec.hasKeys && spec.identityProjection) base
        else new MoRColumnarReader(base, spec, null)
      case Some(path) =>
        val dels = posDeletes.value(path)
        val set = new java.util.HashSet[java.lang.Long](math.max(16, dels.length * 2))
        dels.foreach(d => set.add(d): Unit)
        new MoRColumnarReader(
          touchedFactories(p.group).get.createColumnarReader(p.inner), spec, set,
          p.posBase)
    }
  }
}

/** Drops rows whose key value is in an applicable delete set, then
  * projects the group's (possibly widened) read schema down to the scan's
  * declared output. */
private[v2] final class MoRFilteringReader(inner: PartitionReader[InternalRow],
                                           spec: MoRGroupSpec)
    extends PartitionReader[InternalRow] {

  private val sets: Array[java.util.HashSet[Any]] = spec.buildSets()

  private val project: InternalRow => InternalRow =
    if (spec.identityProjection) identity
    else {
      val proj = UnsafeProjection.create(spec.projection.toIndexedSeq.map(i =>
        BoundReference(i, spec.readTypes(i), spec.readNullable(i))))
      row => proj(row)
    }

  private var current: InternalRow = _

  private def extract(row: InternalRow, i: Int, kind: Int): Any =
    kind match {
      case 0 => row.getLong(i)
      case 1 => row.getInt(i)
      case 2 => row.getDouble(i)
      case 3 => row.getUTF8String(i).toString
      case 4 => row.getBoolean(i)
    }

  private def deleted(row: InternalRow): Boolean = {
    var j = 0
    while (j < spec.deleteSets.length) {
      val ds = spec.deleteSets(j)
      // a NULL in any key column never matches a delete (the left-anti
      // null-rejecting contract) — skip this set
      var i = 0
      var anyNull = false
      while (i < ds.keyIdxs.length && !anyNull) {
        if (row.isNullAt(ds.keyIdxs(i))) anyNull = true
        i += 1
      }
      if (!anyNull) {
        val key: Any =
          if (ds.keyIdxs.length == 1) extract(row, ds.keyIdxs(0), ds.keyKinds(0))
          else Vector.tabulate(ds.keyIdxs.length)(k =>
            extract(row, ds.keyIdxs(k), ds.keyKinds(k)))
        if (sets(j).contains(key)) return true
      }
      j += 1
    }
    false
  }

  override def next(): Boolean = {
    while (inner.next()) {
      val row = inner.get()
      if (!deleted(row)) { current = project(row); return true }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = inner.close()
}

// -------------------------------------------------------- position deletes

/** Drops rows whose ORDINAL within the file is position-deleted. Sound
  * because the partition covers exactly one row group whose starting
  * ordinal (`base`) comes from the parquet footer, and the inner scan
  * filters at whole-row-group granularity only (column-index and
  * record-level filtering are disabled for touched batches — anything
  * finer would shift ordinals inside a surviving group). */
private[v2] final class PosFilteringReader(inner: PartitionReader[InternalRow],
                                           deleted: Array[Long],
                                           base: Long = 0L)
    extends PartitionReader[InternalRow] {
  private val dels = new java.util.HashSet[Long](math.max(16, deleted.length * 2))
  deleted.foreach(d => dels.add(d): Unit)
  private var ordinal: Long = base - 1
  private var current: InternalRow = _
  override def next(): Boolean = {
    while (inner.next()) {
      ordinal += 1
      if (!dels.contains(ordinal)) { current = inner.get(); return true }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = inner.close()
}

// ------------------------------------------------------- columnar delete path

/** A read-only view of one column vector through a row-id mapping
  * (selection vector): logical row `i` of the filtered batch reads
  * physical row `mapping(i)` of the wrapped vector. Nothing is copied —
  * a merge-on-read batch that drops k of n rows costs one int[] and k
  * index indirections, and the surviving (n−k) values stay in the
  * vectorized reader's own memory. Struct children wrap with the SAME
  * mapping (ColumnarRow resolves fields via getChild at the parent's
  * row id); arrays/maps delegate whole — their offsets index the child
  * DATA vector, which the mapping never touches. */
private[v2] final class MappedColumnVector(
    inner: org.apache.spark.sql.vectorized.ColumnVector,
    mapping: Array[Int])
    extends org.apache.spark.sql.vectorized.ColumnVector(inner.dataType) {

  // the inner parquet reader owns (and reuses) its vectors; closing the
  // view must not free them twice
  override def close(): Unit = ()
  override def hasNull: Boolean = inner.hasNull            // conservative
  override def numNulls: Int = inner.numNulls
  override def isNullAt(i: Int): Boolean = inner.isNullAt(mapping(i))
  override def getBoolean(i: Int): Boolean = inner.getBoolean(mapping(i))
  override def getByte(i: Int): Byte = inner.getByte(mapping(i))
  override def getShort(i: Int): Short = inner.getShort(mapping(i))
  override def getInt(i: Int): Int = inner.getInt(mapping(i))
  override def getLong(i: Int): Long = inner.getLong(mapping(i))
  override def getFloat(i: Int): Float = inner.getFloat(mapping(i))
  override def getDouble(i: Int): Double = inner.getDouble(mapping(i))
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    inner.getArray(mapping(i))
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    inner.getMap(mapping(i))
  override def getDecimal(i: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal =
    inner.getDecimal(mapping(i), precision, scale)
  override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String =
    inner.getUTF8String(mapping(i))
  override def getBinary(i: Int): Array[Byte] = inner.getBinary(mapping(i))
  private val children =
    new java.util.concurrent.ConcurrentHashMap[Integer, MappedColumnVector]()
  override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector =
    children.computeIfAbsent(ordinal,
      o => new MappedColumnVector(inner.getChild(o), mapping))
}

/** Columnar merge-on-read: applies the group's position + equality
  * delete filters to each inner ColumnarBatch as a row-id mapping, then
  * serves the scan's output columns as [[MappedColumnVector]] views —
  * the whole delete-carrying read stays vectorized (the r10 handoff's
  * "uniformly row-based" cost, removed). `posDeleted == null` for
  * ordinary data files; for a position-deleted file the partition covers
  * the WHOLE file in range order and `ordinal` counts every physical row
  * across batches. */
private[v2] final class MoRColumnarReader(
    inner: PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch],
    spec: MoRGroupSpec,
    posDeleted: java.util.HashSet[java.lang.Long],
    posBase: Long = 0L)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  private val sets: Array[java.util.HashSet[Any]] = spec.buildSets()
  private var ordinal: Long = posBase - 1L
  private var current: org.apache.spark.sql.vectorized.ColumnarBatch = _

  private def extract(v: org.apache.spark.sql.vectorized.ColumnVector,
                      r: Int, kind: Int): Any = kind match {
    case 0 => v.getLong(r)
    case 1 => v.getInt(r)
    case 2 => v.getDouble(r)
    case 3 => v.getUTF8String(r).toString
    case 4 => v.getBoolean(r)
  }

  private def keyDeleted(b: org.apache.spark.sql.vectorized.ColumnarBatch,
                         r: Int): Boolean = {
    var j = 0
    while (j < spec.deleteSets.length) {
      val ds = spec.deleteSets(j)
      var i = 0
      var anyNull = false
      while (i < ds.keyIdxs.length && !anyNull) {
        if (b.column(ds.keyIdxs(i)).isNullAt(r)) anyNull = true
        i += 1
      }
      // a NULL in any key column never matches a delete
      if (!anyNull) {
        val key: Any =
          if (ds.keyIdxs.length == 1)
            extract(b.column(ds.keyIdxs(0)), r, ds.keyKinds(0))
          else Vector.tabulate(ds.keyIdxs.length)(k =>
            extract(b.column(ds.keyIdxs(k)), r, ds.keyKinds(k)))
        if (sets(j).contains(key)) return true
      }
      j += 1
    }
    false
  }

  override def next(): Boolean = {
    while (inner.next()) {
      val b = inner.get()
      val n = b.numRows()
      val mapping = new Array[Int](n)
      var kept = 0
      var r = 0
      while (r < n) {
        var alive = true
        if (posDeleted != null) { ordinal += 1; alive = !posDeleted.contains(ordinal) }
        if (alive && !keyDeleted(b, r)) { mapping(kept) = r; kept += 1 }
        r += 1
      }
      if (kept > 0) {
        current =
          if (kept == n && spec.identityProjection) b    // untouched batch
          else {
            val m = if (kept == n) null else java.util.Arrays.copyOf(mapping, kept)
            val cols = spec.projection.map { i =>
              val v = b.column(i)
              if (m == null) v
              else new MappedColumnVector(v, m)
                : org.apache.spark.sql.vectorized.ColumnVector
            }
            new org.apache.spark.sql.vectorized.ColumnarBatch(cols, kept)
          }
        return true
      }
    }
    false
  }
  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = current
  override def close(): Unit = inner.close()
}

/** The composite scan serving EVERY delete shape through SQL: one inner
  * parquet batch per equality-delete-scope group (filters pushed, files
  * pruned), plus — for position-deleted files — a per-group UNPUSHED
  * batch whose partitions each cover one whole file in range order, so
  * the ordinal counter sees every physical row (any pushed filter or
  * row-group skip would shift ordinals; the catalog declares every
  * filter residual, so Spark re-applies them above the scan and
  * exactness never depends on the pushdown). A mixed chain — equality
  * deletes AND position deletes on one snapshot, the shape the r10
  * session-2 face still refused — composes as drop-if-either: ordinals
  * are physical file positions (untouched by logical equality deletes),
  * and equality deletes scope by commit sequence exactly as in the
  * delete-free-file case, matching `ManifestTable.assemble`'s library
  * semantics row for row. A group without plain (or without
  * position-touched) files has no batch of that kind — no inner table,
  * no reader factory. `dataPaths` backs [[GraftCatalog.scannedFiles]]
  * pruning assertions. */
private[v2] final class GraftMoRScan(spark: SparkSession,
                                     output: StructType,
                                     groupBatches: Seq[Option[Batch]],
                                     touchedBatches: Seq[Option[Batch]],
                                     groupSpecs: Seq[MoRGroupSpec],
                                     posDeletes: Map[String, Array[Long]],
                                     val dataPaths: Seq[String],
                                     rowGroups: Map[String, Array[(Long, Long)]] = Map.empty,
                                     pushedToTouched: Int = 0,
                                     scanIdent: String = "") extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  override def readSchema(): StructType = output

  // byte-size estimate from the data files themselves: without it the
  // relation reports the default Long.MaxValue and every join over a
  // merge-on-read snapshot plans sort-merge (no broadcast). Row count is
  // deliberately absent — deletes make it unknowable without IO.
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(dataPaths.map { p =>
          try java.nio.file.Files.size(java.nio.file.Paths.get(p))
          catch { case _: java.io.IOException => 0L }
        }.sum)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  override def description(): String =
    s"GraftMoRScan(${groupSpecs.length} delete-scope groups, " +
      s"${posDeletes.size} position-deleted files" +
      (if (posDeletes.nonEmpty)
        s", $pushedToTouched filters pushed to row-group-aligned " +
          "pos-touched partitions"
      else "") + ")"
  override def toBatch: Batch = new Batch {
    private lazy val innerFactories =
      groupBatches.map(_.map(_.createReaderFactory())).toArray
    private lazy val touchedFactories =
      touchedBatches.map(_.map(_.createReaderFactory())).toArray

    private lazy val parts: Array[InputPartition] = {
      import org.apache.spark.sql.execution.datasources.FilePartition
      val out = Array.newBuilder[InputPartition]
      var idx = 0
      groupSpecs.indices.foreach { gi =>
        groupBatches(gi).foreach(_.planInputPartitions().foreach { p =>
          out += MoRInputPartition(gi, p); idx += 1
        })
        // re-slice the group's pos-touched files along their ROW GROUP
        // boundaries (footer offsets): one partition per row group, each
        // carrying its starting ordinal. A byte range [start_g, start_g+1)
        // contains exactly row group g's midpoint, so the parquet reader
        // assigns each group to exactly one partition; pushed filters may
        // then skip whole groups (their partitions read nothing) while
        // every surviving partition counts ordinals from its own base.
        val byFile = touchedBatches(gi).fold(Array.empty[InputPartition])(
            _.planInputPartitions()).flatMap {
          case fp: FilePartition => fp.files
          case other => sys.error(s"GraftMoRScan: unexpected partition $other")
        }.groupBy(f => f.filePath.toPath.toUri.getPath)
        var touchedParts = 0
        byFile.toSeq.sortBy(_._1).foreach { case (path, ranges) =>
          rowGroups.get(path) match {
            case Some(rgs) if rgs.nonEmpty =>
              val rep = ranges.minBy(_.start)
              var base = 0L
              rgs.indices.foreach { g =>
                val (st, nrows) = rgs(g)
                val end = if (g + 1 < rgs.length) rgs(g + 1)._1 else rep.fileSize
                out += MoRInputPartition(gi,
                  FilePartition(idx, Array(rep.copy(start = st, length = end - st))),
                  Some(path), posBase = base)
                idx += 1; touchedParts += 1
                base += nrows
              }
            case _ =>
              // no footer info (defensive): whole file in range order,
              // base 0 — the pre-r16 shape, still exact
              out += MoRInputPartition(gi,
                FilePartition(idx, ranges.sortBy(_.start)), Some(path))
              idx += 1; touchedParts += 1
          }
        }
        if (scanIdent.nonEmpty && byFile.nonEmpty)
          GraftMoRScan.touchedPlanLog.put(scanIdent,
            (touchedParts, pushedToTouched)): Unit
      }
      out.result()
    }

    // columnar iff EVERY planned partition's inner parquet reader can
    // vectorize (Spark forbids mixing within one scan) — then the delete
    // filters ride a selection-vector mapping and the whole
    // delete-carrying read keeps the batch path's decode throughput
    private lazy val columnar: Boolean = parts.forall {
      case p: MoRInputPartition => p.posPath match {
        case None    => innerFactories(p.group).get.supportColumnarReads(p.inner)
        case Some(_) => touchedFactories(p.group).get.supportColumnarReads(p.inner)
      }
      case _ => false
    }

    override def planInputPartitions(): Array[InputPartition] = parts
    override def createReaderFactory(): PartitionReaderFactory =
      new MoRReaderFactory(
        innerFactories,
        touchedFactories,
        spark.sparkContext.broadcast(groupSpecs.toArray),
        spark.sparkContext.broadcast(posDeletes),
        columnar)
  }
}

private[graft] object GraftMoRScan {
  /** Planning observability for specs: ident → (pos-touched partitions
    * planned — one per row group since r16 — and pushed-filter count on
    * the touched batches). */
  val touchedPlanLog =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()
}

// ---------------------------------------------------------------- delta write

/** SupportsDelta landing path for SQL UPDATE / MERGE INTO / DELETE on a
  * keyed table (TBLPROPERTIES 'write.key'): Spark hands the operation as
  * per-row deltas — delete(rowId) / insert(row) — and the whole mutation
  * commits as ONE manifest version pairing an equality-delete of the
  * touched keys with an append of the replacement rows
  * ([[ManifestTable.publish]] with equality deletes). Cost is O(|touched rows|)
  * with ZERO target-file rewrites — the asymptotic fix over the
  * group-based ReplaceData path, which rewrites the whole table. Readers
  * serve the result merge-on-read ([[GraftMoRScan]]); compact()
  * materializes it physically when the delete chain grows. */
final case class DeltaStagedMessage(delPath: Option[String],
                                    rowPath: Option[String])
    extends WriterCommitMessage

class GraftDeltaBatchWrite(dir: String, keyCol: String,
                           rowSchema: StructType, idSchema: StructType,
                           branch: Option[String] = None)
    extends DeltaBatchWrite {
  private val stagingDir = s"$dir/_staging/delta-${java.util.UUID.randomUUID()}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    GraftDeltaWriterFactory(stagingDir, rowSchema, idSchema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: DeltaStagedMessage => m }
    val dels = msgs.flatMap(_.delPath).toSeq
    val rows = msgs.flatMap(_.rowPath).toSeq
    if (dels.isEmpty && rows.isEmpty) { cleanupStaging(); return } // no-op delta
    // same claim-then-move-then-CAS shape as ManifestBatchWrite.commit;
    // WAP-staged mutations land on the audit branch's head instead
    // (per-branch-nonce commit dirs keep sequence scoping correct both
    // before and after fast-forward)
    val ref = ManifestTable.Ref.of(branch)
    val (v, commitDir) = ManifestTable.nextCommit(dir, ref)
    val delFinal = StagedFiles.move(dels, s"$commitDir/del").map(_.path)
    val rowFinal = StagedFiles.move(rows, s"$commitDir/rows")
    ManifestTable.publish(dir, ref, v, ManifestTable.CommitPlan(
      added = rowFinal, eqDeletes = Some(keyCol -> delFinal)))
    cleanupStaging()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = cleanupStaging()

  private def cleanupStaging(): Unit = ManifestTable.rmTree(new java.io.File(stagingDir))
}

final case class GraftDeltaWriterFactory(stagingDir: String,
                                         rowSchema: StructType,
                                         idSchema: StructType)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaWriter(stagingDir, rowSchema, idSchema, partitionId, taskId)
}

/** Per-task delta writer: touched-row ids stream into a key-only parquet
  * file, replacement/new rows into a data parquet file — both lazily, so
  * a task that only deletes stages no row file and vice versa. UPDATE
  * arrives as delete+insert (`representUpdateAsDeleteAndInsert`), so
  * `update` only exists for API completeness. */
class GraftDeltaWriter(stagingDir: String, rowSchema: StructType,
                       idSchema: StructType, partitionId: Int, taskId: Long)
    extends DeltaWriter[InternalRow] {

  private var delWriter: ManifestDataWriter = _
  private var rowWriter: ManifestDataWriter = _
  private def del(): ManifestDataWriter = {
    if (delWriter == null)
      delWriter = new ManifestDataWriter(s"$stagingDir/del", idSchema,
        partitionId, taskId)
    delWriter
  }
  private def rows(): ManifestDataWriter = {
    if (rowWriter == null)
      rowWriter = new ManifestDataWriter(s"$stagingDir/rows", rowSchema,
        partitionId, taskId)
    rowWriter
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    del().write(id)
  override def insert(row: InternalRow): Unit = rows().write(row)
  override def update(metadata: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = {
    delete(metadata, id); insert(row)
  }

  override def commit(): WriterCommitMessage = DeltaStagedMessage(
    Option(delWriter).map(_.commit()).map {
      case StagedFileMessage(p) => p
    },
    Option(rowWriter).map(_.commit()).map {
      case StagedFileMessage(p) => p
    })

  override def abort(): Unit = {
    Option(delWriter).foreach(_.abort())
    Option(rowWriter).foreach(_.abort())
  }
  override def close(): Unit = ()
}
