package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.ManifestTable

/** A DataSource V2 `TableCatalog` over [[graft.sources.ManifestTable]]
  * warehouses — the SQL face of the lakehouse stack. Register once:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", "graft.sources.v2.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/lake")
  * }}}
  *
  * and every verb is plain SQL, no library imports in query code:
  *
  * {{{
  *   CREATE TABLE graft.db.t (k BIGINT, v STRING)
  *   INSERT INTO graft.db.t SELECT ...          -- manifest commit vN
  *   INSERT OVERWRITE graft.db.t SELECT ...     -- overwrite commit
  *   SELECT * FROM graft.db.t                   -- snapshot-at-analysis read
  *   SELECT * FROM graft.db.t VERSION AS OF 2   -- time travel
  * }}}
  *
  * Reads resolve the manifest ONCE at table-load time (snapshot isolation:
  * a running query never sees a concurrent commit), hand the live file
  * list to Spark's own `ParquetTable`, and keep ALL of its machinery —
  * columnar batch reads, row-group skipping, column pruning, even DSv2
  * aggregate pushdown — by delegating the scan build. On top of that,
  * [[GraftScanBuilder]] intercepts the pushed-down conjuncts and prunes
  * whole FILES against the manifest's per-column min/max stats before the
  * parquet reader ever opens a footer: the q315 file-skipping contract,
  * now reachable from `WHERE` clauses in SQL. At 100 TB this ordering is
  * the whole game — manifest pruning is O(|manifest|) string work on the
  * driver, footer pruning is a round-trip per file.
  *
  * Writes delegate to [[ManifestWriteBuilder]] — the staged-write /
  * atomic-publish commit protocol (and its type envelope:
  * long/int/double/boolean/string) is shared with the batch writer.
  *
  * Every snapshot shape serves: delete-carrying snapshots (equality,
  * position, or mixed chains) assemble merge-on-read ([[GraftMoRScan]]),
  * hidden-partition tables map source predicates through their declared
  * transforms, and the remaining honest refusals are loud ceilings
  * (driver-resident delete keys) and contracts (footer aggregates under
  * deletes), each with a compact pointer. Compaction purges deletes and
  * restores the fully-vectorized delete-free read path.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with FunctionCatalog with ViewCatalog
    with StagingTableCatalog {

  // CREATE/DROP/ALTER VIEW + SHOW VIEWS — definitions stored next to the
  // tables they derive from (see [[GraftViews]]); a referenced view
  // re-parses inline, so file pruning/pushdown apply to the expansion
  override def listViews(namespace: String*): Array[Identifier] =
    GraftViews.list((warehouse +: namespace).mkString("/"), namespace.toArray)
  override def loadView(ident: Identifier): View =
    GraftViews.load(tableDir(ident), ident)
  override def viewExists(ident: Identifier): Boolean =
    GraftViews.isView(tableDir(ident))
  override def createView(info: ViewInfo): View = {
    require(!isTable(tableDir(info.ident())),
      s"GraftCatalog: ${info.ident()} is a TABLE — pick another view name")
    GraftViews.create(tableDir(info.ident()), info)
  }
  override def dropView(ident: Identifier): Boolean =
    GraftViews.drop(tableDir(ident))
  override def renameView(from: Identifier, to: Identifier): Unit =
    GraftViews.rename(tableDir(from), tableDir(to), from,
      GraftViews.isView(tableDir(to)) || isTable(tableDir(to)), to)
  override def alterView(ident: Identifier, changes: ViewChange*): View =
    GraftViews.alter(tableDir(ident), ident, changes.toSeq.map {
      case s: ViewChange.SetProperty    => s.property() -> Some(s.value())
      case r: ViewChange.RemoveProperty => r.property() -> None
    })

  // the storage-partition transform — resolvable as `bucket` so write
  // distributions and scan-reported partitionings bind to ONE canonical
  // function (the SPJ compatibility requirement; see GraftBucketed.scala)
  private val functions = Map[String,
      org.apache.spark.sql.connector.catalog.functions.UnboundFunction](
    "bucket"    -> GraftBucketFunction,     // SPJ: x mod n
    "days"      -> GraftDaysFunction,       // hidden partitioning: UTC day
    "md5bucket" -> GraftMd5BucketFunction)  // hidden partitioning: md5 hash
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().isEmpty || ident.namespace().sameElements(Array("system")))
      functions.getOrElse(ident.name(), throw new org.apache.spark.sql
        .catalyst.analysis.NoSuchFunctionException(ident))
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      functions.keys.toArray.sorted.map(Identifier.of(Array("system"), _))
    else Array.empty
  override def functionExists(ident: Identifier): Boolean =
    functions.contains(ident.name())
  private var catalogName: String = _
  private var warehouse: String = _

  // CALL graft.system.compact/expire/vacuum/zorder — see [[GraftProcedures]]
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(warehouse, ident, catalogName)
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftProcedures.names
    else Array.empty

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      sys.error(s"GraftCatalog '$name': set spark.sql.catalog.$name.warehouse"))
    // durable MV registry: re-arm every view a prior session persisted
    // under this warehouse's `_mv/` sidecar (fingerprints re-derive
    // lazily at first match attempt in this session)
    GraftMaterializedViews.loadFrom(s"$warehouse/_mv")
  }
  override def name(): String = catalogName

  private def tableDir(ident: Identifier): String =
    (warehouse +: (ident.namespace() :+ ident.name()).toSeq).mkString("/")
  private def isTable(dir: String): Boolean =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir, "_manifests")) ||
      java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_schema.ddl"))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = java.nio.file.Paths.get((warehouse +: namespace.toSeq).mkString("/"))
    if (!java.nio.file.Files.isDirectory(ns)) Array.empty
    else {
      val s = java.nio.file.Files.list(ns)
      try s.iterator().asScala
        .filter(p => isTable(p.toString))
        .map(p => Identifier.of(namespace, p.getFileName.toString))
        .toArray
      finally s.close()
    }
  }

  override def loadTable(ident: Identifier): Table =
    loadAt(ident, -1)
  /** VERSION AS OF accepts a commit number or a TAG name — tag names
    * must contain a non-digit, so the namespaces never collide. */
  override def loadTable(ident: Identifier, version: String): Table =
    loadAt(ident, try version.toInt catch {
      case _: NumberFormatException =>
        val dir = tableDir(ident)
        if (!isTable(dir)) throw new NoSuchTableException(ident)
        ManifestTable.tags(dir).getOrElse(version,
          throw new IllegalArgumentException(
            s"GraftCatalog: VERSION AS OF expects an integer commit or a " +
              s"tag name, and $ident has no tag '$version'"))
    })
  /** TIMESTAMP AS OF: the newest version published at or before the
    * instant (micros since epoch, per the TableCatalog contract) — the
    * publish instant is the manifest's atomically-set mtime, so no extra
    * metadata exists to drift from it. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val at = ManifestTable.versionTimestamps(dir)
      .filter(_._2 * 1000L <= timestamp)
    if (at.isEmpty) throw new IllegalArgumentException(
      s"GraftCatalog: $ident has no version at or before timestamp $timestamp")
    loadAt(ident, at.map(_._1).max)
  }

  private def loadAt(ident: Identifier, version: Int): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) {
      // metadata tables: `graft.db.t.files` arrives as namespace
      // ["db","t"], name "files" — serve when the namespace IS a table
      if (ident.namespace().length >= 2 &&
          GraftMetadataTable.Kinds.contains(ident.name())) {
        val parentDir = (warehouse +: ident.namespace().toSeq).mkString("/")
        if (isTable(parentDir))
          return new GraftMetadataTable(parentDir, ident.toString, ident.name())
      }
      throw new NoSuchTableException(ident)
    }
    new GraftSqlTable(ident.toString, dir, version)
  }

  override def tableExists(ident: Identifier): Boolean = isTable(tableDir(ident))

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val dir = tableDir(ident)
    if (isTable(dir)) throw new TableAlreadyExistsException(ident)
    require(!GraftViews.isView(dir),
      s"GraftCatalog: $ident is a VIEW — pick another table name")
    writeTableMeta(dir, schema, partitions, properties)
    new GraftSqlTable(ident.toString, dir, -1)
  }

  // CREATE TABLE ... CHECK(...) — the TableInfo entry point carries the
  // parsed constraints; enforcement is Spark's (ResolveTableConstraints
  // compiles enforced checks into the write query), storage is ours
  override def capabilities(): util.Set[TableCatalogCapability] =
    Set(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE).asJava
  override def createTable(ident: Identifier, info: TableInfo): Table = {
    val t = createTable(ident, info.schema(), info.partitions(), info.properties())
    if (info.constraints().nonEmpty)
      GraftConstraints.store(tableDir(ident),
        info.constraints().toSeq.map(GraftConstraints.asCheck))
    t
  }

  /** Validate the declared layout and write the table-metadata files into
    * `dir` — shared by [[createTable]] (writing in place) and the staged
    * CTAS/RTAS path (writing into a stage directory that later moves or
    * merges into place). */
  private[v2] def writeTableMeta(dir: String, schema: StructType,
                                 partitions: Array[Transform],
                                 properties: util.Map[String, String]): Unit = {
    // PARTITIONED BY (bucket(n, col)): the storage-partitioned-join
    // declaration — INSERTs cluster by bucket and scans report
    // KeyGroupedPartitioning. PARTITIONED BY (days(col) | md5bucket(n,
    // col), ...): the hidden-partitioning declaration — INSERTs cluster
    // by transform cell and SELECTs prune on the transform stats
    // (q371/q372). The md5 hash transform is spelled `md5bucket` in DDL
    // precisely so it can NEVER collide with the SPJ `bucket` name —
    // Spark's parser admits arbitrary transform names (ApplyTransform),
    // and join compatibility binds to canonical function names, so the
    // two hash semantics stay distinct end to end. Identity/range
    // layouts keep the r9 refusal — they are write.order's job.
    def colArg(t: Transform, what: String): String = t.arguments().collectFirst {
      case r: org.apache.spark.sql.connector.expressions.NamedReference =>
        r.fieldNames().mkString(".")
    }.getOrElse(sys.error(s"GraftCatalog: $what needs a column"))
    def intArg(t: Transform, what: String): Int = t.arguments().collectFirst {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        l.value().toString.toInt
    }.getOrElse(sys.error(s"GraftCatalog: $what needs a literal count"))
    val hiddenNames = Set("days", "md5bucket")
    val hiddenSpec: Seq[ManifestTable.Transform] =
      if (partitions.nonEmpty && partitions.forall(t => hiddenNames(t.name()))) {
        partitions.toSeq.map { t =>
          t.name() match {
            case "days" =>
              val c = colArg(t, "days(col)")
              val ok = schema.fields.exists(f => f.name == c && (f.dataType match {
                case _: TimestampType | _: TimestampNTZType | _: DateType => true
                case _ => false
              }))
              require(ok, s"GraftCatalog: days column '$c' must be a " +
                "TIMESTAMP or DATE column of the schema")
              ManifestTable.DaysTransform(c)
            case "md5bucket" =>
              val c = colArg(t, "md5bucket(n, col)")
              val n = intArg(t, "md5bucket(n, col)")
              val ok = schema.fields.exists(f => f.name == c && (f.dataType match {
                case _: LongType | _: IntegerType | _: StringType => true
                case _ => false
              }))
              require(ok, s"GraftCatalog: md5bucket column '$c' must be a " +
                "BIGINT, INT, or STRING column of the schema")
              ManifestTable.BucketTransform(n, c)
          }
        }
      } else Seq.empty
    val bucketSpec: Option[(String, Int)] = partitions.toSeq match {
      case _ if hiddenSpec.nonEmpty => None
      case Seq() => None
      case Seq(t) if t.name() == "bucket" =>
        val args = t.arguments()
        val n = args.collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value().toString.toInt
        }.getOrElse(sys.error("GraftCatalog: bucket(n, col) needs a literal count"))
        val c = args.collectFirst {
          case r: org.apache.spark.sql.connector.expressions.NamedReference =>
            r.fieldNames().mkString(".")
        }.getOrElse(sys.error("GraftCatalog: bucket(n, col) needs a column"))
        require(n > 0, s"GraftCatalog: bucket count must be positive, got $n")
        require(schema.fields.exists(f => f.name == c && f.dataType == LongType),
          s"GraftCatalog: bucket column '$c' must be a BIGINT column of the schema")
        Some((c, n))
      case other => sys.error(
        s"GraftCatalog: unsupported PARTITIONED BY ${other.mkString(", ")} — " +
          "only bucket(n, col) (storage-partitioned joins); range layouts " +
          "are the write.order table property")
    }
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(p)
    bucketSpec.foreach { case (c, n) =>
      java.nio.file.Files.write(p.resolve("_partition.bucket"),
        (c + "\n" + n).getBytes("UTF-8")): Unit
    }
    if (hiddenSpec.nonEmpty) ManifestTable.declareTransforms(dir, hiddenSpec)
    // schema-on-read everywhere else; the DDL file only serves loads of a
    // table that has no commits yet. The JSON twin carries what DDL text
    // cannot: per-field METADATA — column DEFAULT declarations
    // (CURRENT_DEFAULT/EXISTS_DEFAULT) ride there, and the reported
    // schema overlays it back so the analyzer can compile defaults into
    // INSERTs. Both files stay in sync at every write site.
    java.nio.file.Files.write(p.resolve("_schema.ddl"),
      schema.toDDL.getBytes("UTF-8"))
    java.nio.file.Files.write(p.resolve("_schema.json"),
      schema.json.getBytes("UTF-8"))
    // TBLPROPERTIES('write.order'='col'): every INSERT range-clusters on
    // the column (see ManifestWriteBuilder) — persist the declaration
    Option(properties.get("write.order")).foreach { c =>
      require(schema.fieldNames.contains(c),
        s"GraftCatalog: write.order column '$c' is not in the schema")
      val parts = Option(properties.get("write.order.partitions"))
        .map(_.trim).getOrElse("0")
      java.nio.file.Files.write(p.resolve("_write.order"),
        s"$c\n$parts".getBytes("UTF-8")): Unit
    }
    // TBLPROPERTIES('write.target-file-size'='<bytes>'): writes aim
    // files at this size via Spark's advisory partition sizing (AQE
    // rebalance for plain inserts, exchange sizing for ordered ones)
    Option(properties.get("write.target-file-size")).foreach { sz =>
      val bytes = try sz.trim.toLong catch {
        case _: NumberFormatException => sys.error(
          s"GraftCatalog: write.target-file-size must be a byte count, got '$sz'")
      }
      require(bytes > 0, "GraftCatalog: write.target-file-size must be positive")
      java.nio.file.Files.write(p.resolve("_write.size"),
        bytes.toString.getBytes("UTF-8")): Unit
    }
    // TBLPROPERTIES('write.key'='k'): declares k as the row identifier —
    // SQL UPDATE/MERGE/DELETE then land as O(delta) merge-on-read commits
    // (SupportsDelta) instead of full-table copy-on-write rewrites. The
    // declaration is the user's uniqueness contract, like Iceberg's
    // identifier-field-ids.
    Option(properties.get("write.key")).foreach { k =>
      val cols = ManifestTable.delKeyCols(k)
      require(cols.nonEmpty && cols.forall(schema.fieldNames.contains),
        s"GraftCatalog: write.key columns '$k' are not all in the schema")
      java.nio.file.Files.write(p.resolve("_write.key"),
        cols.mkString(",").getBytes("UTF-8")): Unit
    }
  }

  // ---- atomic CTAS / RTAS (StagingTableCatalog) -------------------------
  // CREATE TABLE AS SELECT, [CREATE OR] REPLACE TABLE [AS SELECT] become
  // all-or-nothing: the query writes into an invisible stage directory and
  // ONE rename (create) or ONE manifest CAS (replace) makes it visible. A
  // failing query leaves no half-created table and no clobbered old table
  // — without this, Spark's fallback is create-then-write-then-drop, which
  // at 100 TB means hours of a live-but-wrong table on any mid-write
  // failure. Replace commits land ON the existing manifest chain, so the
  // pre-replace history stays time-travelable (Iceberg RTAS semantics).
  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties,
      allowCreate = true, allowReplace = false)
  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: util.Map[String, String]): StagedTable = {
    if (!isTable(tableDir(ident))) throw new NoSuchTableException(ident)
    stage(ident, schema, partitions, properties,
      allowCreate = false, allowReplace = true)
  }
  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties,
      allowCreate = true, allowReplace = true)

  // the TableInfo variants additionally carry CHECK constraints into the
  // stage — enforced DURING the CTAS/RTAS write (the staged table reports
  // them, so a violating source row aborts before anything is visible)
  private def stageWithConstraints(st: StagedTable,
                                   info: TableInfo): StagedTable = {
    if (info.constraints().nonEmpty)
      GraftConstraints.store(st.asInstanceOf[GraftStagedTable].stageDirPath,
        info.constraints().toSeq.map(GraftConstraints.asCheck))
    st
  }
  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable =
    stageWithConstraints(stageCreate(ident, info.schema(), info.partitions(),
      info.properties()), info)
  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable =
    stageWithConstraints(stageReplace(ident, info.schema(), info.partitions(),
      info.properties()), info)
  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable =
    stageWithConstraints(stageCreateOrReplace(ident, info.schema(),
      info.partitions(), info.properties()), info)

  private def stage(ident: Identifier, schema: StructType,
                    partitions: Array[Transform],
                    properties: util.Map[String, String],
                    allowCreate: Boolean, allowReplace: Boolean): StagedTable = {
    val finalDir = tableDir(ident)
    if (!allowReplace && isTable(finalDir))
      throw new TableAlreadyExistsException(ident)
    require(!GraftViews.isView(finalDir),
      s"GraftCatalog: $ident is a VIEW — pick another table name")
    val root = s"$warehouse/.staging"
    GraftStagedTable.sweepStale(root)
    val stageDir = s"$root/${java.util.UUID.randomUUID()}/${ident.name()}"
    writeTableMeta(stageDir, schema, partitions, properties)
    new GraftStagedTable(ident, stageDir, finalDir, allowCreate, allowReplace)
  }

  /** ALTER TABLE ADD COLUMNS — the catalog face of the manifest table's
    * add-column evolution (q329): the widened schema lands in
    * `_schema.ddl`, existing files read the new columns as NULL (the
    * scan's user-specified schema back-fills), no data is rewritten, and
    * time travel still serves whatever each version's files carry. Drops,
    * renames, and type changes stay out of scope — same as the manifest
    * line format's contract. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    // ALTER TABLE ADD/DROP CONSTRAINT — adding VALIDATES the existing
    // data first (one distributed existence probe: any surviving
    // violation refuses the declaration — an unchecked promise on old
    // data would make the constraint a lie from day one)
    val (constraintOps, nonConstraint) = changes.partition {
      case _: TableChange.AddConstraint | _: TableChange.DropConstraint => true
      case _ => false
    }
    val (propOps, rest) = nonConstraint.partition {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => true
      case _ => false
    }
    if (propOps.nonEmpty) alterProperties(ident, dir, propOps)
    constraintOps.foreach {
      case a: TableChange.AddConstraint =>
        val ck = GraftConstraints.asCheck(a.constraint())
        val have = GraftConstraints.load(dir)
        require(!have.exists(_.name() == ck.name()),
          s"GraftCatalog: constraint '${ck.name()}' already exists on $ident")
        if (ck.enforced() && ManifestTable.currentVersion(dir) > 0) {
          import org.apache.spark.sql.functions.{expr, not, coalesce, lit}
          val bad = catalogRead(ident, dir)
            .where(coalesce(not(expr(ck.predicateSql())), lit(false)))
            .limit(1).count()
          require(bad == 0, s"GraftCatalog: cannot add constraint " +
            s"'${ck.name()}' — existing rows of $ident violate " +
            s"(${ck.predicateSql()})")
        }
        GraftConstraints.store(dir, have :+ ck)
      case d: TableChange.DropConstraint =>
        val have = GraftConstraints.load(dir)
        require(d.ifExists() || have.exists(_.name() == d.name()),
          s"GraftCatalog: no constraint '${d.name()}' on $ident")
        GraftConstraints.store(dir, have.filterNot(_.name() == d.name()))
    }
    val cur = new GraftSqlTable(ident.toString, dir, -1).schema()
    val renameMap0 = GraftSqlTable.renameMap(dir)
    // tombstones store the PHYSICAL name — that is what pre-drop files
    // carry and what the schema filter must hide; the logical rename
    // entry (if any) dies with the column
    val dropped = rest.collect { case d: TableChange.DeleteColumn =>
      require(d.fieldNames().length == 1,
        "GraftCatalog: nested DROP COLUMN is not supported")
      val name = d.fieldNames()(0)
      if (!cur.fieldNames.contains(name)) {
        require(d.ifExists(),
          s"GraftCatalog: no column '$name' on $ident")
        None
      } else {
        dropGuards(ident, dir, name)
        Some(name)
      }
    }.flatten
    rest.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          "GraftCatalog: nested ADD COLUMN is not supported")
        val name = a.fieldNames()(0)
        require(!cur.fieldNames.contains(name),
          s"GraftCatalog: column '$name' already exists on $ident")
        // a tombstoned name can never come back: columns map by NAME, so
        // re-adding 'x' would resurface the dropped x's values from every
        // pre-drop file — the one evolution a name-mapped format must
        // refuse (Iceberg re-adds safely only because of field ids)
        require(!GraftSqlTable.droppedColumns(dir).contains(name),
          s"GraftCatalog: column '$name' was previously dropped from " +
            s"$ident — old files still carry its values, so re-adding the " +
            "name would resurface them; pick a fresh name")
        // same hazard through the rename map: a new column's PHYSICAL
        // name is its declared name, which must not collide with the
        // storage name of a renamed column (old files carry those bytes)
        require(!renameMap0.values.toSet.contains(name),
          s"GraftCatalog: '$name' is the storage name of a renamed " +
            s"column of $ident — adding it would collide with that " +
            "column's committed values; pick a fresh name")
        require(a.isNullable || a.defaultValue() != null ||
          ManifestTable.currentVersion(dir) == 0,
          s"GraftCatalog: cannot add NOT NULL column '$name' without a " +
            s"DEFAULT to non-empty $ident — existing rows have no value for it")
      case _: TableChange.DeleteColumn => ()
      case r: TableChange.RenameColumn =>
        // RENAME COLUMN over committed data is pure metadata (r10): the
        // column's STORAGE identity stays the name it was born with
        // (every file — past and future — carries it), and a table-level
        // logical->physical map (`_schema.names`) translates at the scan
        // and write boundaries. Load-bearing names are guarded in both
        // directions (can't rename them; can't later declare a renamed
        // column load-bearing), so the table machinery below the
        // translation layer only ever sees physical==logical names.
        require(r.fieldNames().length == 1,
          "GraftCatalog: nested RENAME COLUMN is not supported")
        val old = r.fieldNames()(0)
        val nn = r.newName()
        require(cur.fieldNames.contains(old),
          s"GraftCatalog: no column '$old' on $ident")
        dropGuards(ident, dir, old, verb = "rename")
        require(!cur.fieldNames.contains(nn),
          s"GraftCatalog: cannot rename '$old' to '$nn' — $ident already " +
            "has a column with that name")
        require(!nn.contains('|') && !nn.contains('\n') &&
          !nn.startsWith("_ptn_") && nn != "__rows",
          s"GraftCatalog: illegal column name '$nn'")
        require(!GraftSqlTable.droppedColumns(dir).contains(nn),
          s"GraftCatalog: cannot rename '$old' to '$nn' — that name was " +
            s"previously dropped from $ident and old files still carry " +
            "its values; pick a fresh name")
        // the new LOGICAL name must not shadow another column's PHYSICAL
        // name: translation maps would stay sound, but simultaneous-
        // rename semantics get subtle — keep logical and foreign
        // physical namespaces disjoint (renaming BACK to the column's
        // own storage name is the one exception: it erases the entry)
        val ownPhys = renameMap0.getOrElse(old, old)
        val otherPhys = cur.fieldNames.filterNot(_ == old)
          .map(n => renameMap0.getOrElse(n, n)).toSet
        require(!otherPhys.contains(nn),
          s"GraftCatalog: cannot rename '$old' to '$nn' — another column " +
            s"of $ident is stored under that name in committed files")
        val m = renameMap0 - old
        GraftSqlTable.storeRenames(dir,
          if (ownPhys == nn) m else m + (nn -> ownPhys))
      case other => throw new UnsupportedOperationException(
        s"GraftCatalog: unsupported ALTER TABLE change $other — ADD/DROP/" +
          "RENAME (pre-data) COLUMNS, ADD/DROP CONSTRAINT and SET/UNSET " +
          "TBLPROPERTIES are supported")
    }
    if (rest.nonEmpty) {
      // Spark's own change application: positions, comments, and column
      // DEFAULT declarations (CURRENT_DEFAULT/EXISTS_DEFAULT metadata)
      // all land in the new StructType exactly as the analyzer expects
      // to read them back
      val next = org.apache.spark.sql.graftbridge.Bridge
        .applySchemaChanges(cur, rest.toSeq)
      require(next.fields.nonEmpty,
        s"GraftCatalog: cannot drop every column of $ident")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "_schema.ddl"),
        next.toDDL.getBytes("UTF-8")): Unit
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "_schema.json"),
        next.json.getBytes("UTF-8")): Unit
      if (dropped.nonEmpty) {
        GraftSqlTable.tombstone(dir,
          dropped.map(n => renameMap0.getOrElse(n, n)))
        GraftSqlTable.storeRenames(dir,
          GraftSqlTable.renameMap(dir) -- dropped)
      }
    }
    new GraftSqlTable(ident.toString, dir, -1)
  }

  /** The table as the CATALOG reports it, for validation probes (ADD
    * CONSTRAINT, write.key declaration): the library read only knows the
    * committed files' physical columns, so ALTER-added columns back-fill
    * here — with their EXISTS_DEFAULT when declared (a probe that saw
    * NULL where every scan will see the default would validate the wrong
    * table), NULL otherwise. */
  private def catalogRead(ident: Identifier, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{expr, lit}
    val tblSchema = new GraftSqlTable(ident.toString, dir, -1).schema()
    // committed files carry PHYSICAL names — rename to logical before
    // the backfill, or a renamed column would read as a NULL twin
    val rev = GraftSqlTable.renameMap(dir).map(_.swap)
    var df = ManifestTable.read(SparkSession.active, dir)
      .withColumnsRenamed(rev)
    tblSchema.fields.filterNot(f => df.columns.contains(f.name)).foreach { f =>
      val fill =
        if (f.metadata.contains("EXISTS_DEFAULT"))
          expr(f.metadata.getString("EXISTS_DEFAULT")).cast(f.dataType)
        else lit(null).cast(f.dataType)
      df = df.withColumn(f.name, fill)
    }
    df.select(tblSchema.fieldNames.map(org.apache.spark.sql.functions.col(_))
      .toIndexedSeq: _*)
  }

  /** DROP COLUMN is metadata-only (no file is rewritten — at 100 TB a
    * physical purge is a compaction job, not a DDL statement), so the
    * column must not be load-bearing anywhere in the table's machinery:
    * not the row identifier, not the declared clustering, not a
    * partition-transform source, not referenced by a CHECK constraint. */
  private def dropGuards(ident: Identifier, dir: String, name: String,
                         verb: String = "drop"): Unit = {
    val p = java.nio.file.Paths.get(dir)
    def fileHeadIs(f: String): Boolean =
      java.nio.file.Files.exists(p.resolve(f)) &&
        new String(java.nio.file.Files.readAllBytes(p.resolve(f)), "UTF-8")
          .split('\n').head.trim.split(',').map(_.trim).contains(name)
    require(!fileHeadIs("_write.key"),
      s"GraftCatalog: cannot $verb '$name' — it is the write.key of $ident")
    require(!fileHeadIs("_write.order"),
      s"GraftCatalog: cannot $verb '$name' — it is the write.order of $ident")
    require(!fileHeadIs("_partition.bucket"),
      s"GraftCatalog: cannot $verb '$name' — $ident is bucket-partitioned on it")
    require(!ManifestTable.partitionTransforms(dir).exists(_.source == name),
      s"GraftCatalog: cannot $verb '$name' — it is a partition-transform " +
        s"source of $ident")
    val ref = GraftConstraints.load(dir).find(ck =>
      s"\\b${java.util.regex.Pattern.quote(name)}\\b".r
        .findFirstIn(ck.predicateSql()).isDefined)
    require(ref.isEmpty, s"GraftCatalog: cannot $verb '$name' — constraint " +
      s"'${ref.get.name()}' references it; DROP CONSTRAINT first")
  }

  /** ALTER TABLE SET/UNSET TBLPROPERTIES — the write-layout declarations
    * (`write.order`, `write.order.partitions`, `write.target-file-size`,
    * `write.key`) become mutable post-creation. Layout changes govern
    * FUTURE writes only (existing files are what they are — `CALL
    * compact` re-clusters them), which is exactly the Iceberg contract;
    * `write.key` additionally re-validates the declaration it implies:
    * declaring a row identifier over existing data probes for NULL keys
    * (the delta path's equality deletes can never match a NULL, so a
    * nullable key would make UPDATE silently skip rows), and changing or
    * dropping the key while equality/position deletes are outstanding
    * refuses — the unkeyed copy-on-write path cannot safely replace
    * files underneath live delete lines, so the honest order is compact
    * first. Unknown keys refuse loudly: a property the engine would
    * silently ignore is a config lie. */
  private def alterProperties(ident: Identifier, dir: String,
                              ops: Seq[TableChange]): Unit = {
    val schema = new GraftSqlTable(ident.toString, dir, -1).schema()
    val p = java.nio.file.Paths.get(dir)
    def hasDeletes: Boolean = {
      val v = ManifestTable.currentVersion(dir)
      v > 0 && ManifestTable.sqlEntriesAt(dir, v).exists(!_.isData)
    }
    def clustered: Boolean =
      java.nio.file.Files.exists(p.resolve("_partition.bucket")) ||
        ManifestTable.partitionTransforms(dir).nonEmpty
    def writeOrderCol: Option[String] = {
      val f = p.resolve("_write.order")
      if (!java.nio.file.Files.exists(f)) None
      else Some(new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        .split('\n').head.trim)
    }
    ops.foreach {
      case s: TableChange.SetProperty => (s.property(), s.value()) match {
        case ("write.order", c) =>
          require(schema.fieldNames.contains(c),
            s"GraftCatalog: write.order column '$c' is not in the schema of $ident")
          // keep load-bearing names physical==logical (the rename guard
          // matrix's other direction): the machinery below the scan/write
          // translation layer matches this name against footer stats and
          // manifest metadata directly
          require(!GraftSqlTable.renameMap(dir).contains(c),
            s"GraftCatalog: write.order column '$c' of $ident is renamed " +
              "(stored under a different physical name) — rename it back " +
              "or rebuild via CTAS before declaring it load-bearing")
          require(!clustered, s"GraftCatalog: $ident is bucket/transform-" +
            "partitioned — its layout is the partitioning's, not write.order's")
          val parts = {
            val f = p.resolve("_write.order")
            if (java.nio.file.Files.exists(f)) {
              val ls = new String(java.nio.file.Files.readAllBytes(f), "UTF-8").split('\n')
              if (ls.length > 1) ls(1).trim else "0"
            } else "0"
          }
          java.nio.file.Files.write(p.resolve("_write.order"),
            s"$c\n$parts".getBytes("UTF-8")): Unit
        case ("write.order.partitions", n) =>
          val c = writeOrderCol.getOrElse(sys.error(
            s"GraftCatalog: write.order.partitions on $ident needs write.order set"))
          require(n.trim.toInt >= 0,
            "GraftCatalog: write.order.partitions must be non-negative")
          java.nio.file.Files.write(p.resolve("_write.order"),
            s"$c\n${n.trim}".getBytes("UTF-8")): Unit
        case ("write.target-file-size", sz) =>
          val bytes = try sz.trim.toLong catch {
            case _: NumberFormatException => sys.error(
              s"GraftCatalog: write.target-file-size must be a byte count, got '$sz'")
          }
          require(bytes > 0, "GraftCatalog: write.target-file-size must be positive")
          java.nio.file.Files.write(p.resolve("_write.size"),
            bytes.toString.getBytes("UTF-8")): Unit
        case ("write.key", k) =>
          val cols = ManifestTable.delKeyCols(k)
          require(cols.nonEmpty && cols.forall(schema.fieldNames.contains),
            s"GraftCatalog: write.key columns '$k' are not all in the schema of $ident")
          require(!cols.exists(GraftSqlTable.renameMap(dir).contains),
            s"GraftCatalog: write.key columns '$k' of $ident include a " +
              "renamed column (stored under a different physical name) — " +
              "rename it back or rebuild via CTAS before declaring it " +
              "load-bearing")
          val existing = p.resolve("_write.key")
          val changing = java.nio.file.Files.exists(existing) &&
            new String(java.nio.file.Files.readAllBytes(existing), "UTF-8").trim !=
              cols.mkString(",")
          require(!(changing && hasDeletes),
            s"GraftCatalog: cannot change write.key of $ident while delete " +
              "entries are outstanding — CALL graft.system.compact first")
          if (ManifestTable.currentVersion(dir) > 0) {
            import org.apache.spark.sql.functions.col
            val nulls = catalogRead(ident, dir)
              .where(cols.map(col(_).isNull).reduce(_ || _)).limit(1).count()
            require(nulls == 0, s"GraftCatalog: cannot declare write.key " +
              s"'$k' on $ident — existing rows carry NULL keys, which " +
              "equality deletes can never match")
          }
          java.nio.file.Files.write(existing,
            cols.mkString(",").getBytes("UTF-8")): Unit
        case (other, _) => throw new UnsupportedOperationException(
          s"GraftCatalog: unsupported table property '$other' — supported: " +
            "write.order, write.order.partitions, write.target-file-size, " +
            "write.key")
      }
      case r: TableChange.RemoveProperty =>
        val file = r.property() match {
          case "write.order"            => Some("_write.order")
          case "write.order.partitions" => None // folded into _write.order
          case "write.target-file-size" => Some("_write.size")
          case "write.key" =>
            require(!hasDeletes,
              s"GraftCatalog: cannot unset write.key of $ident while delete " +
                "entries are outstanding — CALL graft.system.compact first")
            Some("_write.key")
          case other => throw new UnsupportedOperationException(
            s"GraftCatalog: unsupported table property '$other'")
        }
        file match {
          case Some(f) => java.nio.file.Files.deleteIfExists(p.resolve(f)): Unit
          case None => writeOrderCol.foreach { c =>
            java.nio.file.Files.write(p.resolve("_write.order"),
              s"$c\n0".getBytes("UTF-8")): Unit
          }
        }
      case _ => ()
    }
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!isTable(dir)) false
    else {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(): Unit }
      rm(new java.io.File(dir)); true
    }
  }

  /** ALTER TABLE ... RENAME TO — a metadata operation: move the
    * directory and rewrite the manifests' absolute paths
    * ([[ManifestTable.renameDir]]); zero data bytes move. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tableDir(oldIdent)
    val to = tableDir(newIdent)
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    if (isTable(to)) throw new TableAlreadyExistsException(newIdent)
    ManifestTable.renameDir(from, to)
  }

  // Namespaces are implicit directories (the JDBC-catalog convention):
  // any single level exists on demand, created physically by the first
  // CREATE TABLE beneath it.
  override def listNamespaces(): Array[Array[String]] = {
    val root = java.nio.file.Paths.get(warehouse)
    if (!java.nio.file.Files.isDirectory(root)) Array.empty
    else {
      val s = java.nio.file.Files.list(root)
      try s.iterator().asScala.filter(java.nio.file.Files.isDirectory(_))
        .filterNot(p => isTable(p.toString))
        // dot-dirs are catalog machinery (`.staging` holds in-flight
        // atomic CTAS/RTAS stages), never user namespaces
        .filterNot(p => p.getFileName.toString.startsWith("."))
        .map(p => Array(p.getFileName.toString)).toArray
      finally s.close()
    }
  }
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else throw new NoSuchNamespaceException(namespace)
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || (namespace.length == 1 &&
      !namespace.head.startsWith(".") &&
      java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(warehouse, namespace.head)))
  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)
  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get((warehouse +: namespace.toSeq).mkString("/"))): Unit
  }
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("GraftCatalog: ALTER NAMESPACE unsupported")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = java.nio.file.Paths.get((warehouse +: namespace.toSeq).mkString("/"))
    if (!java.nio.file.Files.isDirectory(p)) false
    else if (cascade) {
      // DROP NAMESPACE ... CASCADE: recursive delete of every table under
      // the namespace (ADVICE r9 — a plain Files.delete threw
      // DirectoryNotEmptyException on any non-empty namespace)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(): Unit
      }
      rm(p.toFile); true
    } else {
      val empty = {
        val s = java.nio.file.Files.list(p)
        try !s.iterator().hasNext finally s.close()
      }
      if (!empty)
        throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(
          namespace, s"namespace ${namespace.mkString(".")} contains tables; " +
            "use DROP NAMESPACE ... CASCADE")
      java.nio.file.Files.delete(p); true
    }
  }
}

object GraftCatalog {
  /** The files the query's optimized plan will actually open — read from
    * the v2 scan's own FileIndex. (`Dataset.inputFiles` only reports
    * `FileTable`-backed v2 relations, which a catalog table wrapping its
    * scan is not — this is the assertion surface for pruning tests.) */
  def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        (r.scan match {
          case s: GraftTrackedScan => s.batchScan
          case s => s
        }) match {
          case fs: org.apache.spark.sql.execution.datasources.v2.FileScan =>
            fs.fileIndex.inputFiles.toSeq
          case mor: GraftMoRScan => mor.dataPaths
          case _ => Seq.empty
        }
    }.flatten
}

/** One catalog table = one manifest directory, pinned at `version`
  * (-1 = current at load time — snapshot-at-analysis).
  *
  * DELETE FROM routes to [[ManifestTable.deleteWhereCow]] — copy-on-write
  * with the predicate's stats bounds limiting the rewrite to overlapping
  * files — so the post-delete snapshot stays delete-entry-free and every
  * SQL verb keeps working on it (the merge-on-read delete shapes remain
  * the library path's choice). TRUNCATE TABLE publishes an empty
  * overwrite commit: zero files, history intact. */
object GraftSqlTable {
  /** Under `spark.graft.wap.branch` only plain appends route to the
    * audit branch; every other mutation refuses LOUDLY — a row-level
    * UPDATE silently landing on MAIN while the session believes it is
    * staging would defeat the whole write-audit-publish contract. */
  private[v2] def wapGuard(spark: SparkSession, verb: String): Unit =
    require(spark.conf.get("spark.graft.wap.branch", "").isEmpty,
      s"GraftCatalog: $verb does not route to a branch — unset " +
        "spark.graft.wap.branch (audit appends only) or use the library verbs")

  /** Names DROP COLUMNed from the table — kept as a tombstone list
    * (`_schema.drop`, one name per line) because pre-drop files still
    * carry the bytes: the schema filter hides them, ADD COLUMN refuses
    * re-use (name-mapped resurrection), and nothing is rewritten. */
  def droppedColumns(dir: String): Set[String] = {
    val p = java.nio.file.Paths.get(dir, "_schema.drop")
    if (!java.nio.file.Files.exists(p)) Set.empty
    else new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      .split('\n').map(_.trim).filter(_.nonEmpty).toSet
  }
  def tombstone(dir: String, names: Seq[String]): Unit = {
    val all = droppedColumns(dir) ++ names
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_schema.drop"),
      all.toSeq.sorted.mkString("\n").getBytes("UTF-8")): Unit
  }

  /** logical -> PHYSICAL column-name map (`_schema.names`, one
    * `logical|physical` line per RENAMED column). The storage identity
    * of a column is the name it was BORN with: every committed file —
    * past and future — carries the physical name, so one table-level
    * map serves every snapshot (no per-file name-mapping sidecars), and
    * ALTER TABLE RENAME COLUMN over committed data is pure metadata.
    * Readers translate logical -> physical at the scan boundary, writers
    * at the file boundary; rows are positional, so nothing else moves. */
  def renameMap(dir: String): Map[String, String] = {
    val p = java.nio.file.Paths.get(dir, "_schema.names")
    if (!java.nio.file.Files.exists(p)) Map.empty
    else new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      .split('\n').map(_.trim).filter(_.nonEmpty).map { l =>
        val i = l.indexOf('|')
        require(i > 0, s"corrupt _schema.names line: $l")
        l.substring(0, i) -> l.substring(i + 1)
      }.toMap
  }
  def storeRenames(dir: String, m: Map[String, String]): Unit = {
    val p = java.nio.file.Paths.get(dir, "_schema.names")
    if (m.isEmpty) { java.nio.file.Files.deleteIfExists(p): Unit }
    else java.nio.file.Files.write(p,
      m.toSeq.sorted.map { case (l, ph) => s"$l|$ph" }
        .mkString("\n").getBytes("UTF-8")): Unit
  }
}

class GraftSqlTable(ident: String, dir: String, version: Int)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** The pinned snapshot version (-1 = current head) — part of a
    * relation's IDENTITY for the materialized-view fingerprint: a
    * `VERSION AS OF` read must never match a current-version definition. */
  private[v2] def snapshotVersion: Int = version

  private def spark: SparkSession = SparkSession.active

  /** The pinned snapshot's manifest entries; empty table → no entries.
    * Delete entries of every kind — equality, position, and mixed
    * chains — are SERVED (merge-on-read, [[GraftMoRScan]]). */
  private lazy val entries: Seq[ManifestTable.SqlEntry] = {
    val v = if (version > 0) version else ManifestTable.currentVersion(dir)
    if (v == 0) Seq.empty
    else {
      ManifestTable.sqlEntriesAt(dir, v)
    }
  }

  private lazy val innerTable: Option[ParquetTable] = {
    val dataPaths = entries.filter(_.isData).map(_.path)
    if (dataPaths.isEmpty) None
    // the schema is supplied from the JVM-wide memo instead of None:
    // every table RESOLUTION (one per SQL statement) otherwise re-ran a
    // distributed mergeSchema footer-inference job over the snapshot's
    // files at `.schema` — the memoized type is exactly what inference
    // produces (same key discipline as the library read path)
    else Some(ParquetTable(ident, spark,
      new CaseInsensitiveStringMap(Map("mergeSchema" -> "true").asJava),
      dataPaths.toIndexedSeq,
      Some(ManifestTable.mergedParquetSchema(spark, dataPaths)),
      classOf[ParquetFileFormat]))
  }

  override def name(): String = ident

  /** logical -> physical column names (RENAME COLUMN map); empty on
    * never-renamed tables, where every path below is the identity. */
  private[v2] lazy val renames: Map[String, String] = GraftSqlTable.renameMap(dir)
  /** Rename a logical-name struct to its physical twin — field order,
    * types, nullability, and metadata (CURRENT/EXISTS_DEFAULT) all
    * survive; only names change, because rows are positional and the
    * files only ever know physical names. */
  private[v2] def physSchema(s: StructType): StructType =
    if (renames.isEmpty) s
    else StructType(s.fields.map(f =>
      renames.get(f.name).map(p => f.copy(name = p)).getOrElse(f)))

  override def schema(): StructType = {
    // prefer the JSON twin (it carries per-field metadata — column
    // DEFAULTs live there); the DDL file serves pre-JSON tables
    val jsonPath = java.nio.file.Paths.get(dir, "_schema.json")
    val ddlPath = java.nio.file.Paths.get(dir, "_schema.ddl")
    val ddl: Option[StructType] =
      if (java.nio.file.Files.exists(jsonPath))
        Some(org.apache.spark.sql.types.DataType.fromJson(
          new String(java.nio.file.Files.readAllBytes(jsonPath), "UTF-8"))
          .asInstanceOf[StructType])
      else if (java.nio.file.Files.exists(ddlPath))
        Some(StructType.fromDDL(
          new String(java.nio.file.Files.readAllBytes(ddlPath), "UTF-8")))
      else None
    // parquet-derived fields re-attach their declared metadata by name —
    // the file footer cannot carry a DEFAULT declaration
    def overlay(f: StructField): StructField =
      ddl.flatMap(_.fields.find(_.name == f.name)) match {
        case Some(sf) => f.copy(metadata = sf.metadata)
        case None     => f
      }
    val dead = GraftSqlTable.droppedColumns(dir)
    val base = innerTable match {
      case Some(t) =>
        // hidden-partition transform columns are commit-time planning
        // metadata, never user data — drop them from the reported schema
        // (r10: the r9 face refused these tables outright; the scan now
        // maps source-column predicates through the declared transforms).
        // Tombstoned (DROP COLUMNed) names vanish the same way: the bytes
        // stay in pre-drop files, the schema stops admitting them, and
        // column pruning means no scan ever decodes them again.
        // physical -> logical before the overlay: tombstones and `_ptn_*`
        // filtering speak physical (the files' names), declared metadata
        // speaks logical
        val rev = renames.map(_.swap)
        val s = StructType(t.schema.fields
          .filterNot(f => f.name.startsWith("_ptn_") || dead.contains(f.name))
          .map(f => rev.get(f.name).map(l => f.copy(name = l)).getOrElse(f))
          .map(overlay))
        // ALTER-added columns not yet present in any file read as NULL
        val missing = ddl.map(_.fields.filterNot(f => s.fieldNames.contains(f.name)))
          .getOrElse(Array.empty[StructField])
        StructType(s.fields ++ missing)
      case None => ddl.getOrElse(new StructType())
    }
    // the declared row identifier is non-nullable BY DECLARATION (Spark
    // refuses nullable row-id attributes for delta ops; a NULL key insert
    // fails loudly at write time instead)
    writeKey match {
      case Some(ks) => StructType(base.fields.map(f =>
        if (ks.contains(f.name)) f.copy(nullable = false) else f))
      case None => base
    }
  }
  override def capabilities(): util.Set[TableCapability] = {
    val base = Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)
    // dynamic overwrite (`writeTo.overwrite(cond)`): every layout
    // delivers it — plain/ordered, transform (the day-partition replace
    // is THE use case), and since r11 bucketed too: the rewrite
    // re-splits survivors per bucket and republishes them tagged
    // (overwriteWhere with the bucket spec), so SPJ survives the replace
    (base + TableCapability.OVERWRITE_BY_FILTER).asJava
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // `.option("branch", "exp")` reads the branch head instead of main —
    // the q349 surface reachable from the reader API (branch manifests
    // are full snapshot listings, so everything downstream — pruning,
    // aggregate pushdown, merge-on-read over WAP-staged delta mutations
    // — works exactly as on main).
    val branchEntries = Option(options.get("branch")).map { b =>
      // `.option("branchVersion", "3" | "tagname")` pins a branch
      // version (numeric or a branch tag, r11) instead of the head —
      // branch-side time travel for the audit loop
      val v = Option(options.get("branchVersion"))
        .map(ManifestTable.resolveBranchVersion(dir, b, _))
        .getOrElse(ManifestTable.branchVersion(dir, b))
      ManifestTable.sqlEntriesAt(dir, v, ManifestTable.Ref.Branch(b))
    }
    // DataFrame-reader time travel (`.option("versionAsOf", "3" |
    // "tagname")` / `.option("timestampAsOf", "2026-01-01 00:00:00")`)
    // needs NO handling here: Spark's analyzer (TimeTravelSpec) lifts
    // those options into catalog.loadTable(ident, version/timestamp),
    // where the tag-aware VERSION AS OF resolution above serves them —
    // spec-pinned in TimeTravelWapSpec.
    new GraftScanBuilder(ident, spark,
      branchEntries.getOrElse(entries),
      schema(), options, streamDir = Some(dir), bucketSpec = bucketSpec,
      hiddenTransforms = ManifestTable.partitionTransforms(dir),
      renames = renames)
  }

  private def writeOrder: Option[(String, Int)] = {
    val p = java.nio.file.Paths.get(dir, "_write.order")
    if (!java.nio.file.Files.exists(p)) None
    else {
      val ls = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .split('\n').map(_.trim)
      Some((ls(0), if (ls.length > 1 && ls(1).nonEmpty) ls(1).toInt else 0))
    }
  }

  /** PARTITIONED BY (bucket(n, col)) declaration, if any. */
  private def bucketSpec: Option[(String, Int)] = {
    val p = java.nio.file.Paths.get(dir, "_partition.bucket")
    if (!java.nio.file.Files.exists(p)) None
    else {
      val ls = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .split('\n').map(_.trim)
      Some((ls(0), ls(1).toInt))
    }
  }

  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val spj = bucketSpec.map { case (c, n) => Expressions.bucket(n, c): Transform }
    // hidden transforms surface in DESCRIBE/SHOW output under the same
    // names createTable accepts, so the declared layout round-trips
    val hidden = ManifestTable.partitionTransforms(dir).map {
      case ManifestTable.DaysTransform(src) => Expressions.days(src): Transform
      case ManifestTable.BucketTransform(n, src) =>
        Expressions.apply("md5bucket", Expressions.literal(n),
          Expressions.column(src)): Transform
    }
    (spj.toSeq ++ hidden).toArray
  }

  private def targetFileSize: Long = {
    val p = java.nio.file.Paths.get(dir, "_write.size")
    if (!java.nio.file.Files.exists(p)) 0L
    else new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim.toLong
  }

  /** TBLPROPERTIES('write.key'): the table's declared row identifier —
    * one or more comma-separated columns (composite keys, e.g.
    * 'l_orderkey,l_linenumber') — opting row-level SQL (UPDATE / MERGE /
    * DELETE) into the delta path. */
  private def writeKey: Option[Seq[String]] = {
    val p = java.nio.file.Paths.get(dir, "_write.key")
    if (!java.nio.file.Files.exists(p)) None
    else Some(ManifestTable.delKeyCols(
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim))
  }

  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    writeOrder.foreach { case (c, _) => m.put("write.order", c): Unit }
    writeKey.foreach(ks => m.put("write.key", ks.mkString(",")): Unit)
    if (targetFileSize > 0)
      m.put("write.target-file-size", targetFileSize.toString): Unit
    m
  }

  /** Stored CHECK constraints — Spark's analyzer reads these and injects
    * the enforcement into every batch write against this table. */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    GraftConstraints.load(dir).toArray

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(version <= 0,
      s"GraftCatalog: cannot write to $ident VERSION AS OF $version — " +
        "writes go to the table head")
    // hidden-partition tables route to the transformed writer below —
    // r10 session 3: previously refused with a pointer at
    // commitPartitioned; the DSv2 write now clusters and materializes
    // the transform values itself
    val hiddenTransforms = ManifestTable.partitionTransforms(dir)
    // the DECLARED write schema is logical; files carry PHYSICAL names
    // (rename map) — translate once here so every writer below stages
    // physical-named parquet. Distribution/ordering requirements keep
    // LOGICAL names (they resolve against the input query), which is
    // safe because load-bearing columns (key/order/bucket/transform)
    // are guarded un-renameable in both directions.
    val wSchema = physSchema(info.schema())
    // `.option("branch", "exp")` on the writer appends to the branch head
    // instead of main — the write half of the q349/q364 branch surface,
    // now reachable from df.writeTo(...).append() with zero library
    // imports. Append-only (no SupportsTruncate): INSERT OVERWRITE of a
    // branch refuses at analysis. The SESSION conf
    // `spark.graft.wap.branch` routes every un-optioned append the same
    // way (Iceberg's write-audit-publish idiom): the ETL job's INSERTs
    // need zero changes to land on the audit branch — set the conf,
    // run the job, audit the branch, fast_forward. Writes that are not
    // plain appends (INSERT OVERWRITE, row-level ops, streaming) ignore
    // the conf or refuse loudly downstream rather than silently
    // mutating main.
    Option(info.options().get("branch"))
      .orElse(Option(spark.conf.get("spark.graft.wap.branch", ""))
        .filter(_.nonEmpty)) match {
      case Some(b) =>
        require(ManifestTable.branchExists(dir, b),
          s"GraftCatalog: no branch '$b' on $ident — create it with " +
            "ManifestTable.createBranch first")
        new WriteBuilder {
          override def build(): org.apache.spark.sql.connector.write.Write = {
            // a clustered table's branch appends keep its layout: same
            // required distribution as a main-line INSERT, specs routed
            // to the cell/bucket-splitting writers (see BranchBatchWrite)
            import org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering
            import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
            (bucketSpec, hiddenTransforms) match {
              case (Some((c, n)), _) =>
                new org.apache.spark.sql.connector.write.Write
                    with RequiresDistributionAndOrdering {
                  override def requiredDistribution(): Distribution =
                    Distributions.clustered(Array(
                      org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)))
                  override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
                    Array.empty
                  override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
                    new BranchBatchWrite(dir, b, wSchema,
                      bucketSpec = Some((c, n)))
                }
              case (None, ts) if ts.nonEmpty =>
                new org.apache.spark.sql.connector.write.Write
                    with RequiresDistributionAndOrdering {
                  override def requiredDistribution(): Distribution =
                    Distributions.clustered(TransformedWriteBuilder.clusteringOf(ts))
                  override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
                    Array.empty
                  override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
                    new BranchBatchWrite(dir, b, wSchema,
                      ptnSpecs = PtnColSpec.of(ts, wSchema))
                }
              // a write.order table's branch appends stay range-clustered
              // too (r10 session 4 — previously only bucket/transform
              // layouts survived a branch write; an ordered table's WAP
              // cycle landed unclustered files on main at fast-forward,
              // degrading stats pruning until a compact)
              case _ if writeOrder.isDefined =>
                val (c, parts) = writeOrder.get
                new org.apache.spark.sql.connector.write.Write
                    with RequiresDistributionAndOrdering {
                  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
                  private val order = Array[SortOrder](
                    Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
                  override def requiredDistribution(): Distribution =
                    Distributions.ordered(order)
                  override def requiredOrdering(): Array[SortOrder] = order
                  override def requiredNumPartitions(): Int =
                    if (targetFileSize > 0) 0 else parts
                  override def advisoryPartitionSizeInBytes(): Long =
                    if (targetFileSize > 0) targetFileSize
                    else super.advisoryPartitionSizeInBytes()
                  override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
                    new BranchBatchWrite(dir, b, wSchema,
                      targetFileSize = targetFileSize)
                }
              case _ =>
                new org.apache.spark.sql.connector.write.Write {
                  override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
                    new BranchBatchWrite(dir, b, wSchema,
                      targetFileSize = targetFileSize)
                }
            }
          }
        }
      case None if hiddenTransforms.nonEmpty =>
        new TransformedWriteBuilder(dir, wSchema, hiddenTransforms,
          tableSchema = Some(physSchema(schema())), renames = renames)
      case None => (bucketSpec, writeOrder) match {
        case (Some((c, n)), _) => new BucketedWriteBuilder(dir, wSchema, c, n,
          tableSchema = Some(physSchema(schema())), renames = renames)
        case (None, Some((c, n))) => new ManifestWriteBuilder(dir, wSchema, Some(c), n,
          targetFileSize = targetFileSize, tableSchema = Some(physSchema(schema())),
          renames = renames)
        case (None, None) => new ManifestWriteBuilder(dir, wSchema,
          targetFileSize = targetFileSize, tableSchema = Some(physSchema(schema())),
          renames = renames)
      }
    }
  }

  private def filterToColumn(f: org.apache.spark.sql.sources.Filter)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v)            => Some(col(a) === lit(v))
      case GreaterThan(a, v)        => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v)           => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
      case IsNull(a)                => Some(col(a).isNull)
      case IsNotNull(a)             => Some(col(a).isNotNull)
      case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
      case And(l, r) => for (a <- filterToColumn(l); b <- filterToColumn(r)) yield a && b
      case Or(l, r)  => for (a <- filterToColumn(l); b <- filterToColumn(r)) yield a || b
      case Not(c)    => filterToColumn(c).map(!_)
      case _ => None
    }
  }

  // a keyed table routes DELETE through the delta row-level path (an
  // O(matched-keys) equality-delete commit) instead of the stats-bounded
  // copy-on-write — so refuse the metadata-delete fast path there
  // a renamed-column reference also refuses: the fast path would probe
  // physical stats/files under the logical name — Spark then falls back
  // to the row-level operation, whose scan translates properly
  // a delete-carrying snapshot also refuses (ADVICE r10, medium): the
  // fast path lands on deleteWhereCow, whose "compact first" require
  // would fail the statement — whereas the group row-level plan Spark
  // falls back to reads merge-on-read and commits a pos-delete-safe CoW
  // the WAP conf also refuses the fast path (r11): the metadata delete
  // would land on MAIN while the session believes it is staging — the
  // row-level fallback routes to the audit branch instead
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    version <= 0 && writeKey.isEmpty && entries.forall(_.isData) &&
      spark.conf.get("spark.graft.wap.branch", "").isEmpty &&
      filters.forall(filterToColumn(_).isDefined) &&
      !filters.exists(_.references.exists(renames.contains))

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.functions.lit
    GraftSqlTable.wapGuard(spark, "DELETE")
    val pred = filters.flatMap(filterToColumn(_))
      .reduceOption(_ && _).getOrElse(lit(true))
    // deleting from a table with no commits is a no-op, not an error
    if (ManifestTable.currentVersion(dir) == 0) return
    // the rewrite reads against the table schema so ALTER-added columns
    // fill their EXISTS_DEFAULT per file (canDeleteWhere already refused
    // renamed references, so physical==logical for everything the
    // predicate names)
    ManifestTable.deleteWhereCow(spark, dir, pred,
      tableSchema = Some(physSchema(schema()))): Unit
  }

  override def truncateTable(): Boolean = {
    GraftSqlTable.wapGuard(spark, "TRUNCATE")
    ManifestTable.publish(dir, ManifestTable.Ref.Main, ManifestTable.currentVersion(dir) + 1,
      ManifestTable.CommitPlan(ManifestTable.Base.Empty))
    true
  }

  /** UPDATE and MERGE INTO via Spark's group-based row-level rewrite:
    * the operation's scan reads the WHOLE current snapshot (deliberately
    * no file pruning and no filter forwarding — the group-based contract
    * is "the write replaces exactly what the scan produced", so any scan-
    * side row loss would silently drop rows), Spark applies the
    * UPDATE/MERGE logic, and the write lands as ONE overwrite commit
    * through the same staged-write protocol as INSERT OVERWRITE — time
    * travel across the mutation for free. This is the always-correct
    * full-table copy-on-write; the stats-bounded variants are the
    * library verbs (updateWhere / deleteWhereCow / merge). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(version <= 0,
      s"GraftCatalog: cannot mutate $ident at a pinned version")
    import org.apache.spark.sql.connector.write.{DeltaWrite, DeltaWriteBuilder, LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, SupportsDelta, WriteBuilder}
    // WAP-staged mutations (r11): with `spark.graft.wap.branch` set, a
    // KEYED table's UPDATE / MERGE / DELETE stages on the audit branch —
    // the op scan reads the BRANCH head (so sequential staged mutations
    // compose) and the delta commits there; main stays pinned until
    // fast_forward. Unkeyed tables still refuse loudly below: their
    // group copy-on-write REPLACES files, and a branch-side replace has
    // no commit verb (nor an audit story for half-rewritten snapshots).
    val wapBranch = Option(spark.conf.get("spark.graft.wap.branch", ""))
      .filter(_.nonEmpty)
    wapBranch.filter(_ => writeKey.isDefined).foreach { b =>
      require(ManifestTable.branchExists(dir, b),
        s"GraftCatalog: no branch '$b' on $ident — create it with " +
          "CALL system.create_branch first")
    }
    writeKey match {
      case Some(k) => return new RowLevelOperationBuilder {
        // DELTA row-level ops (the keyed-table path): Spark rewrites
        // UPDATE/MERGE/DELETE into per-row delete(id)/insert(row) deltas,
        // the scan reads only what the operation needs (file pruning and
        // filter pushdown stay ON — untouched rows are never rewritten,
        // so scan-side pruning can't lose them), and the write lands as
        // one O(|delta|) equality-delete + append commit. The full-table
        // ReplaceData rewrite below remains the unkeyed fallback.
        override def build(): RowLevelOperation = new RowLevelOperation with SupportsDelta {
          override def command(): RowLevelOperation.Command = info.command()
          override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
            k.map(org.apache.spark.sql.connector.expressions.Expressions.column).toArray
          override def representUpdateAsDeleteAndInsert(): Boolean = true
          override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
            val scanEntries = wapBranch match {
              case Some(b) => ManifestTable.sqlEntriesAt(dir,
                ManifestTable.branchVersion(dir, b), ManifestTable.Ref.Branch(b))
              case None => entries
            }
            new GraftScanBuilder(ident, spark, scanEntries,
              GraftSqlTable.this.schema(), options, renames = renames)
          }
          override def newWriteBuilder(wInfo: LogicalWriteInfo): DeltaWriteBuilder =
            new DeltaWriteBuilder {
              override def build(): DeltaWrite = new DeltaWrite {
                override def toBatch: org.apache.spark.sql.connector.write.DeltaBatchWrite = {
                  val idSchema = wInfo.rowIdSchema().orElseThrow(() =>
                    new IllegalStateException(
                      s"GraftCatalog: delta write on $ident without a rowIdSchema"))
                  new GraftDeltaBatchWrite(dir, k.mkString(","),
                    physSchema(wInfo.schema()), idSchema, branch = wapBranch)
                }
              }
            }
        }
      }
      case None =>
        // unkeyed WAP staging covers EVERY layout (r12): plain and
        // write.order through a branch CoW publish (r11), bucketed through
        // a tagged branch CoW publish (replacements re-enter with their SPJ
        // tags), transform through the cell-split rewrite + branch CoW
        // (hidden-partition stats ride the files' own _ptn_* footers)
        wapBranch.foreach { b =>
          require(ManifestTable.branchExists(dir, b),
            s"GraftCatalog: no branch '$b' on $ident — create it with " +
              "CALL system.create_branch first")
        }
    }
    val cowScanEntries = wapBranch match {
      case Some(b) => ManifestTable.sqlEntriesAt(dir,
        ManifestTable.branchVersion(dir, b), ManifestTable.Ref.Branch(b))
      case None => entries
    }
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation = new RowLevelOperation {
        override def command(): RowLevelOperation.Command = info.command()
        // The commit replaces EXACTLY the files the scan read (Iceberg's
        // bounded copy-on-write), which is what makes scan-side pruning
        // SAFE here: a file whose stats exclude the command's condition
        // provably holds no matching rows, is never scanned, and carries
        // forward verbatim — so Spark's GroupBasedRowLevelOperationScan-
        // Planning pushes the condition, the manifest prunes statically,
        // and RowLevelOperationRuntimeGroupFiltering shrinks the set
        // again at runtime from the matched-rows subquery. The r9 shape
        // (never prune + truncate-the-table) survives as the degenerate
        // case of an unprunable condition.
        @volatile private var activeFiles: Option[() => Seq[String]] = None
        override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
          // pushToFiles = false: the GROUP contract replaces whole files
          // with the scan's output, so in-file filtering loses rows (see
          // GraftScanBuilder.fileConjuncts) — the condition still prunes
          // FILES statically and via the runtime group filter
          new GraftScanBuilder(ident, spark, cowScanEntries, GraftSqlTable.this.schema(),
            options, renames = renames, pushToFiles = false) {
            // single runtime attribute: the group-filter rule keys its
            // subquery on ALL advertised attrs, and only single-key
            // dynamic predicates translate to v2 runtime filters.
            // Under WAP staging, advertise NONE: Spark's group-filter
            // subquery reads the TABLE's normal scan — which serves
            // MAIN while the op scans the BRANCH — so its IN-list would
            // prune against the wrong snapshot (observed: an empty
            // match on main pruned the whole branch scan and the
            // staged UPDATE became a silent no-op). Static stats
            // pruning still bounds the rewrite.
            override protected def runtimeAttrs(statCols: Seq[String]): Seq[String] =
              if (wapBranch.isDefined) Nil
              else (writeOrder.map(_._1).filter(statCols.contains) orElse
                statCols.headOption).toSeq
            override def build(): Scan = {
              val s = super.build()
              activeFiles = Some(s match {
                case t: GraftTrackedScan => () => t.currentPaths
                case m: GraftMoRScan     => () => m.dataPaths
                case _ => () => cowScanEntries.filter(_.isData).map(_.path)
              })
              s
            }
          }
        override def newWriteBuilder(wInfo: LogicalWriteInfo): WriteBuilder = {
          if (sys.env.contains("GRAFT_DEBUG_RL"))
            println("RL-WRITE-SCHEMA=" + wInfo.schema().toDDL +
              " ROWID=" + wInfo.rowIdSchema() + " META=" + wInfo.metadataSchema())
          new WriteBuilder {
            import org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering
            import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
            override def build(): org.apache.spark.sql.connector.write.Write =
              (bucketSpec, ManifestTable.partitionTransforms(dir)) match {
                // clustered layouts survive row-level SQL too: a bucketed
                // table's CoW rewrite re-clusters on bucket(n, k) and
                // republishes every replacement WITH its tag (SPJ
                // eligibility is all-files-tagged — one untagged UPDATE
                // would put two exchanges back under every downstream
                // join); a transform table's rewrite re-splits per cell
                // so hidden-partition pruning keeps cutting
                case (Some((c, n)), _) =>
                  new org.apache.spark.sql.connector.write.Write
                      with RequiresDistributionAndOrdering {
                    override def requiredDistribution(): Distribution =
                      Distributions.clustered(Array(
                        org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)))
                    override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
                      Array.empty
                    override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
                      new BucketedBatchWrite(dir, physSchema(wInfo.schema()),
                        append = false,
                        c, n, cowScanned = Some(() => activeFiles.map(_.apply())),
                        branch = wapBranch)
                  }
                case (None, ts) if ts.nonEmpty =>
                  new org.apache.spark.sql.connector.write.Write
                      with RequiresDistributionAndOrdering {
                    override def requiredDistribution(): Distribution =
                      Distributions.clustered(TransformedWriteBuilder.clusteringOf(ts))
                    override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
                      Array.empty
                    override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
                      new TransformedBatchWrite(dir, physSchema(wInfo.schema()),
                        append = false,
                        PtnColSpec.of(ts, physSchema(wInfo.schema())),
                        cowScanned = Some(() => activeFiles.map(_.apply())),
                        branch = wapBranch)
                  }
                case _ => buildPlain()
              }
            private def buildPlain(): org.apache.spark.sql.connector.write.Write =
              writeOrder match {
                // a write.order table's CoW rewrites stay range-clustered
                // (r10 session 4): without this, every SQL UPDATE/MERGE
                // replaced its touched files with UNCLUSTERED ones, so
                // mutations silently degraded the stats-prune layout
                // until a compact. The distribution binds to the order
                // column BY NAME, which the row-level write's projection
                // carries alongside the prepended __row_operation marker.
                case Some((c, parts)) =>
                  new org.apache.spark.sql.connector.write.Write
                      with RequiresDistributionAndOrdering {
                    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
                    private val order = Array[SortOrder](
                      Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
                    override def requiredDistribution(): Distribution =
                      Distributions.ordered(order)
                    override def requiredOrdering(): Array[SortOrder] = order
                    override def requiredNumPartitions(): Int =
                      if (targetFileSize > 0) 0 else parts
                    override def advisoryPartitionSizeInBytes(): Long =
                      if (targetFileSize > 0) targetFileSize
                      else super.advisoryPartitionSizeInBytes()
                    override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
                      new GroupCowBatchWrite(dir, physSchema(wInfo.schema()),
                        () => activeFiles.map(_.apply()), branch = wapBranch)
                  }
                case None =>
                  new org.apache.spark.sql.connector.write.Write {
                    override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
                      new GroupCowBatchWrite(dir, physSchema(wInfo.schema()),
                        () => activeFiles.map(_.apply()), branch = wapBranch)
                  }
              }
          }
        }
      }
    }
  }
}

/** Records the pushed conjuncts, prunes the FILE LIST against the
  * manifest's per-column min/max before any footer is opened, then builds
  * Spark's own ParquetScanBuilder over the surviving files and forwards
  * the same filters + column pruning to it. Every filter is declared
  * residual (returned back to Spark), so correctness never depends on the
  * stats — pruning is a strict superset by the same argument as
  * `ManifestTable.readWhere`. */
class GraftScanBuilder(ident: String, spark: SparkSession,
                       entries: Seq[ManifestTable.SqlEntry],
                       fullSchema: StructType,
                       options: CaseInsensitiveStringMap,
                       streamDir: Option[String] = None,
                       bucketSpec: Option[(String, Int)] = None,
                       hiddenTransforms: Seq[ManifestTable.Transform] = Nil,
                       renames: Map[String, String] = Map.empty,
                       pushToFiles: Boolean = true)
    extends ScanBuilder with SupportsPushDownCatalystFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  // RENAME COLUMN translation boundary: everything Spark hands in
  // (filters, required columns, aggregations) speaks LOGICAL names;
  // everything below — footer stats, manifest entries, the inner parquet
  // scans — speaks PHYSICAL (the name each column was born with, which
  // every committed file carries). Translate once on entry; the built
  // scans translate back only in their reported readSchema (rows are
  // positional). Empty map (the common case) = identity everywhere.
  private def phys(n: String): String = renames.getOrElse(n, n)
  private def physStruct(s: StructType): StructType =
    if (renames.isEmpty) s
    else StructType(s.fields.map(f =>
      renames.get(f.name).map(p => f.copy(name = p)).getOrElse(f)))
  private def physExpr(e: Expression): Expression =
    if (renames.isEmpty) e
    else e.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          if renames.contains(a.name) => a.withName(renames(a.name))
    }
  private val physFull = physStruct(fullSchema)

  private var conjuncts: Seq[Expression] = Nil
  private var logicalRequired: StructType = fullSchema
  private var required: StructType = physFull

  private def hasDeletes: Boolean =
    entries.exists(e => e.deleteKey.isDefined || e.posDelete)

  /** What the INNER file scans may filter by. A GROUP-based row-level
    * operation scan (`pushToFiles = false`) must hand pushed conditions
    * to the manifest FILE prune only — never into the parquet readers:
    * the group contract is "the write replaces exactly what the scan
    * produced", so a row dropped INSIDE a scanned file (row-group skip,
    * page filter — e.g. `b >= 423` skipping all-NULL pages) would be
    * silently ERASED by the rewrite. Found as real data loss by the
    * evolution property test (seed 1337): a DELETE whose condition
    * matched nothing rewrote every scanned file EMPTY. Ordinary reads
    * keep full pushdown — there the dropped rows provably fail the
    * query's own filter. */
  private def fileConjuncts: Seq[Expression] =
    if (pushToFiles) conjuncts else Nil

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    conjuncts = filters.map(physExpr)
    filters // all residual — stats pruning must stay a superset
  }
  override def pushedFilters(): Array[Predicate] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit = {
    logicalRequired = requiredSchema
    required = physStruct(requiredSchema)
    innerOpt.foreach(_.pruneColumns(required))
  }

  // Aggregate pushdown (COUNT/MIN/MAX from parquet footers, zero row
  // reads — needs spark.sql.parquet.aggregatePushdown=true) forwards to
  // the inner ParquetScanBuilder, which must therefore exist before
  // build(): Spark pushes filters first, so the pruned path set is
  // already stable here. A delete-carrying snapshot refuses — footer
  // aggregates would count merged-out rows.
  private var innerOpt: Option[org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder] = None
  private def inner(): org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder =
    innerOpt.getOrElse {
      val t = ParquetTable(ident, spark,
        new CaseInsensitiveStringMap(Map("mergeSchema" -> "true").asJava),
        prunedDataEntries.map(_.path).toIndexedSeq, Some(physFull),
        classOf[ParquetFileFormat])
      val sb = t.newScanBuilder(options)
      sb.pushFilters(if (pushToFiles) conjuncts else Nil): Unit
      innerOpt = Some(sb)
      sb
    }
  // a footer aggregate over a RENAMED column forwards with its
  // references rebuilt on PHYSICAL names (r11; previously refused): the
  // parquet footers only know the storage name, so the inner builder
  // would fail to resolve the logical one and the aggregate lost its
  // IO-free path for the rest of the table's life after one RENAME.
  // Spark matches the pushed-aggregate output to the plan POSITIONALLY
  // (V2ScanRelationPushDown builds its own aliases over readSchema), so
  // no rename-back is needed. An aggregate kind we can't rebuild
  // (anything beyond MIN/MAX/COUNT/COUNT(*) — parquet footers serve
  // nothing else) refuses only when a rename actually applies.
  private def physAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[org.apache.spark.sql.connector.expressions.aggregate.Aggregation] = {
    if (renames.isEmpty) return Some(agg)
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Expression => V2Expr}
    def touched(e: V2Expr): Boolean =
      e.references().exists(r => renames.contains(r.fieldNames().mkString(".")))
    if (!(agg.aggregateExpressions() ++ agg.groupByExpressions()).exists(touched))
      return Some(agg)
    def tr(e: V2Expr): V2Expr = e match {
      case r: NamedReference if r.fieldNames().length == 1 &&
          renames.contains(r.fieldNames()(0)) =>
        Expressions.column(renames(r.fieldNames()(0)))
      case other => other
    }
    val aggs = agg.aggregateExpressions().map {
      case f: CountStar => Some(f): Option[AggregateFunc]
      case f: Min   => Some(new Min(tr(f.column)))
      case f: Max   => Some(new Max(tr(f.column)))
      case f: Count => Some(new Count(tr(f.column), f.isDistinct))
      case _        => None
    }
    if (aggs.exists(_.isEmpty)) None
    else Some(new Aggregation(aggs.flatten, agg.groupByExpressions().map(tr)))
  }
  // NOTE Spark 4.1: ParquetScanBuilder no longer claims COMPLETE
  // pushdown (the interface default `false` stands) — footer aggregates
  // ride the PARTIAL contract: pushAggregation succeeds, the scan emits
  // per-file partials from footers, Spark's final aggregate folds them.
  // The session conf key is `spark.sql.parquet.aggregatePushdown`
  // (lowercase 'down' — set via SQLConf.PARQUET_AGGREGATE_PUSHDOWN_ENABLED.key).
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    !hasDeletes &&
      physAggregation(agg).exists(inner().supportCompletePushDown)
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val ok = !hasDeletes &&
      physAggregation(agg).exists(inner().pushAggregation)
    if (ok) aggPushed = true
    ok
  }
  private var aggPushed = false

  private[v2] def prunedDataEntries: Seq[ManifestTable.SqlEntry] = {
    // interval extraction is shared with ManifestTable.updateWhere — the
    // same metadata bounds reads and writes
    val direct = conjuncts.flatMap(ManifestTable.splitConjuncts)
      .flatMap(ManifestTable.intervalOf)
    // HIDDEN PARTITIONING: a source-column interval also bounds the
    // declared transform's reserved stats column — `WHERE ts >= X` prunes
    // on `_ptn_days_ts` day grains, `WHERE k = v` on the bucket value —
    // without the query ever naming the transform (Iceberg's contract)
    val mapped = direct.flatMap { case (c, lo, hi) =>
      hiddenTransforms.filter(_.source == c).flatMap {
        case t: ManifestTable.DaysTransform =>
          val dt = physFull.fields.find(_.name == c).map(_.dataType)
          dt match {
            case Some(_: TimestampType) | Some(_: TimestampNTZType) =>
              // catalyst timestamp literals are micros since epoch
              def day(v: Double, up: Boolean): Double =
                if (v.isInfinite) v
                else math.floor(v / 86400000000.0) + (if (up) 1 else 0)
              Some((t.ptnCol, day(lo, up = false), day(hi, up = false)))
            case Some(_: DateType) => Some((t.ptnCol, lo, hi))
            case _ => None
          }
        case t: ManifestTable.BucketTransform
            if lo == hi && lo.isFinite && lo == math.floor(lo) =>
          val b = t.bucketOf(lo.toLong.toString).toDouble
          Some((t.ptnCol, b, b))
        case _ => None
      }
    }
    // string point lookups (`k = 'v'`) live outside the number line, but
    // a bucket transform on a STRING source still prunes: the literal's
    // bucket is computed driver-side, exactly like the library's
    // readSourceBucket (r10 session 3 — previously library-only)
    val mappedStr = conjuncts.flatMap(ManifestTable.splitConjuncts)
      .flatMap(ManifestTable.stringEqOf).flatMap { case (c, s0) =>
        hiddenTransforms.collect {
          case t: ManifestTable.BucketTransform if t.source == c =>
            val b = t.bucketOf(s0).toDouble
            (t.ptnCol, b, b)
        }
      }
    val bounds = (direct ++ mapped ++ mappedStr)
      .groupBy(_._1).map { case (c, ivs) =>
        c -> (ivs.map(_._2).max, ivs.map(_._3).min) }
    entries.filter(_.isData).filter { e =>
      bounds.forall { case (c, (lo, hi)) =>
        e.stats.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi }
      }
    }
  }

  /** Which columns the built scan advertises for RUNTIME filtering
    * (DPP / group-filter `IN` predicates). Default: every stats-bearing
    * column. The group copy-on-write op narrows this to ONE column —
    * Spark's row-level group-filter rule keys its matched-rows subquery
    * on ALL advertised attributes, and multi-key dynamic predicates do
    * not translate to v2 runtime filters. */
  protected def runtimeAttrs(statCols: Seq[String]): Seq[String] = statCols

  override def build(): Scan = {
    if (hasDeletes) return buildMoR()
    // a bucket-partitioned table reports KeyGroupedPartitioning so joins
    // between co-bucketed tables skip both exchanges (SPJ). Requires
    // every (pruned) data file to carry its bucket tag — a library-side
    // commit without tags falls back to the plain scan, losing only the
    // partitioning report, never correctness.
    bucketSpec match {
      case Some((c, n)) if !aggPushed =>
        val data = prunedDataEntries
        val tag = s"_ptn_bucket_$c"
        if (data.nonEmpty && data.forall(_.stats.contains(tag)))
          return new GraftBucketedScan(ident, spark, options, fileConjuncts,
            required, physFull, data, c, n, renames = renames)
      case _ =>
    }
    if (aggPushed) {
      // the aggregation is baked into the inner parquet scan (footer
      // reads); its result set is tiny — no runtime pruning layer
      val sb = inner()
      sb.pruneColumns(required)
      return sb.build()
    }
    // An empty table (or a fully pruned one) still builds: Spark's
    // InMemoryFileIndex handles an empty path list (zero partitions
    // planned) and `fullSchema` is supplied, so nothing is inferred.
    val data = prunedDataEntries
    // runtime-filterable columns must be part of the scan OUTPUT — Spark
    // resolves filterAttributes against the pruned relation (LOGICAL
    // names) and fails loudly on a column the projection dropped; the
    // stats lookup, as always, speaks physical
    val statCols = logicalRequired.fieldNames.toSeq
      .filter(c => data.exists(_.stats.contains(phys(c))))
    val attrs = runtimeAttrs(statCols)
    // `.option("startVersion", "3")` tails the table from a chosen
    // commit instead of the beginning (historical versions may
    // already be expired — the CDC consumer's catch-up knob)
    val sv = Option(options.get("startVersion")).map(_.toInt).getOrElse(0)
    if (attrs.nonEmpty)
      new GraftAdaptiveScan(ident, spark, options, fileConjuncts, required,
        physFull, data, attrs, streamDir, sv, renames = renames)
    else
      new GraftTrackedScan(ident, spark, options, fileConjuncts, required,
        physFull, data, Nil, streamDir, sv, renames = renames)
  }

  /** Merge-on-read scan over a snapshot carrying delete entries of
    * EITHER kind (or both — the mixed chain, which until r10 session 3
    * refused with a compact pointer) — see [[GraftMoRScan]] for the
    * group/filter design. All delete state comes from
    * [[MoRDeleteKeyLoader]]'s per-file memos: Spark calls build() once
    * per statement, and re-planning an unchanged snapshot must neither
    * start a job nor reopen a delete file. */
  private def buildMoR(): Scan = {
    val delEntries = entries.filter(_.deleteKey.isDefined)
    val delSeqs = delEntries.map(_.seq).distinct.sorted
    val data = prunedDataEntries
    val ceiling = MoRDeleteKeyLoader.maxDeleteKeys
    // built only when some memo misses
    lazy val hc = spark.sessionState.newHadoopConf()
    def norm(p: String): String = MoRDeleteKeyLoader.normPath(p)

    // position deletes: (file -> deleted physical ordinals), under the
    // same loud ceiling as equality keys
    val posFiles = entries.filter(_.posDelete).map(_.path)
    val posDeletes: Map[String, Array[Long]] =
      if (posFiles.isEmpty) Map.empty
      else {
        val perFile = posFiles.map(p => MoRDeleteKeyLoader.positions(ManifestTable.FileId.of(p), hc))
        val n = perFile.iterator.flatMap(_.valuesIterator).map(_.length.toLong).sum
        require(n <= ceiling,
          s"GraftCatalog: $ident carries $n position deletes — " +
            s"over the merge-on-read ceiling ($ceiling); compact the table")
        perFile.flatten.groupBy(_._1)
          .map { case (f, ps) => f -> ps.flatMap(_._2).toArray }
      }

    // row-group layout of every position-touched file, read ONCE from
    // its parquet footer (offsets and row counts are free metadata):
    // the MoR scan plans one partition PER ROW GROUP, each carrying its
    // ordinal BASE (= Σ row counts of preceding groups), so pushed
    // filters may eliminate whole row groups without shifting any
    // surviving row's ordinal — the r10 "read whole, push nothing"
    // design restored to full pushdown (VERDICT r15 #4). Footer opens
    // are bounded by the number of pos-touched files (rewrite_deletes
    // compacts them away).
    val rowGroups: Map[String, Array[(Long, Long)]] =
      data.map(e => norm(e.path)).filter(posDeletes.contains).distinct
        .map(p => p -> MoRDeleteKeyLoader.rowGroups(ManifestTable.FileId.of(p), hc)).toMap

    def kindOf(col: String): Int = {
      val f = physFull.fields.find(_.name == col).getOrElse(sys.error(
        s"GraftCatalog: delete key column '$col' of $ident is not in the schema"))
      f.dataType match {
        case LongType    => 0
        case IntegerType => 1
        case DoubleType  => 2
        case StringType  => 3
        case BooleanType => 4
        case other => sys.error(
          s"GraftCatalog: merge-on-read SQL serves long/int/double/string/" +
            s"boolean delete keys; '$col' is $other — read via ManifestTable.read")
      }
    }

    // footer row counts of every equality-delete file (the `__rows` of
    // the memoized footer stats) decide eager vs executor-side loading
    // BEFORE any driver load can OOM
    val eqDeleteRows: Long = delEntries.map(_.path).distinct.map { p =>
      ManifestTable.fileStats(p).get("__rows").map(_._1.toLong).getOrElse(sys.error(
        s"GraftCatalog: cannot read the footer of delete file $p of $ident"))
    }.sum
    val lazyEqKeys = eqDeleteRows > ceiling
    val delFiles = delEntries.map(e => e.path -> ManifestTable.FileId.of(e.path)).toMap
    val lazyConf =
      if (lazyEqKeys) new SerializableHadoopConf(spark.sessionState.newHadoopConf())
      else null

    // group data files by how many delete commits apply: a delete at seq
    // d covers data with seq < d, so "applicable deletes" is a suffix of
    // delSeqs and the groups are contiguous — at most |delSeqs|+1 of them
    val groups = data.groupBy(e => delSeqs.count(_ > e.seq)).toSeq.sortBy(_._1)

    // eager keys loaded per delete file (memoized across scans), counted
    // once each against the ceiling however many groups share them
    val loaded = scala.collection.mutable.Map.empty[String, Array[Any]]
    val built = groups.map { case (nApplicable, es) =>
      val applicable = delSeqs.takeRight(nApplicable)
      // one delete set per key spec (one or more comma-separated columns
      // — composite row ids): eager keys or, over the ceiling, the files
      val bySpec = delEntries.filter(e => applicable.contains(e.seq))
        .groupBy(_.deleteKey.get).toSeq.sortBy(_._1)
        .map { case (spec, ds) =>
          val cols = ManifestTable.delKeyCols(spec).toArray
          val files = ds.map(_.path).distinct.map(delFiles).toArray
          val kinds = cols.map(kindOf)
          if (lazyEqKeys) (cols, kinds, Array.empty[Any], files)
          else (cols, kinds, files.flatMap(f => loaded.getOrElseUpdate(f.path,
            MoRDeleteKeyLoader.keys(f, cols, kinds, hc))), Array.empty[ManifestTable.FileId])
        }
      val keyCols = bySpec.flatMap(_._1).distinct
      val internal = StructType(required.fields ++
        keyCols.filterNot(c => required.fieldNames.contains(c))
          .map(c => physFull.fields.find(_.name == c).get))
      // no files of a kind, no batch: no inner table, no reader factory
      def batchOver(paths: Seq[String], extraOpts: Map[String, String] = Map.empty)
          : Option[org.apache.spark.sql.connector.read.Batch] = Option.when(paths.nonEmpty) {
        val t = ParquetTable(ident, spark,
          new CaseInsensitiveStringMap(Map("mergeSchema" -> "true").asJava),
          paths.toIndexedSeq, Some(physFull), classOf[ParquetFileFormat])
        val sbOpts =
          if (extraOpts.isEmpty) options
          else new CaseInsensitiveStringMap(
            (options.asScala.toMap ++ extraOpts).asJava)
        val sb = t.newScanBuilder(sbOpts)
        sb.pushFilters(fileConjuncts): Unit
        sb.pruneColumns(internal)
        sb.build().toBatch
      }
      // position-deleted files get their OWN pushed batch (r16): filters
      // push down, but anything finer than whole-row-group elimination
      // would shift ordinals, so page-level (column index) and
      // record-level filtering are disabled for these readers — the
      // per-row-group partitions in GraftMoRScan carry footer-derived
      // ordinal bases, making group-level skipping ordinal-exact
      val (posTouched, plain) = es.partition(e => posDeletes.contains(norm(e.path)))
      val spec = MoRGroupSpec(
        deleteSets = bySpec.map { case (cols, kinds, keys, files) =>
          MoRDeleteSet(
            keyIdxs = cols.map(c => internal.fieldIndex(c)),
            keyKinds = kinds,
            keys = keys,
            keyFiles = files,
            keyNames = cols,
            conf = lazyConf)
        }.toArray,
        projection = required.fields.map(f => internal.fieldIndex(f.name)),
        readTypes = internal.fields.map(_.dataType),
        readNullable = internal.fields.map(_.nullable))
      (batchOver(plain.map(_.path)),
        batchOver(posTouched.map(_.path), extraOpts = Map(
          "parquet.filter.columnindex.enabled" -> "false",
          "parquet.filter.record-level.enabled" -> "false")), spec)
    }
    val totalKeys = loaded.values.map(_.length.toLong).sum
    require(totalKeys <= ceiling,
      s"GraftCatalog: $ident carries $totalKeys equality-delete keys — " +
        s"over the merge-on-read ceiling ($ceiling); compact the table")
    // the reported read schema speaks LOGICAL names (rows are
    // positional; only Spark's attribute matching sees the names)
    new GraftMoRScan(spark, logicalRequired, built.map(_._1), built.map(_._2),
      built.map(_._3), posDeletes, data.map(_.path), rowGroups,
      pushedToTouched = fileConjuncts.length, scanIdent = ident.toString)
  }
}
