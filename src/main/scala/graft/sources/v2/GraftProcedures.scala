package graft.sources.v2

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._

import graft.sources.ManifestTable

/** Maintenance verbs of the lakehouse as SQL stored procedures — the
  * last library-only surface moved behind the catalog (Spark 4's
  * ProcedureCatalog API; the Iceberg `CALL catalog.system.x` idiom):
  *
  * {{{
  *   CALL graft.system.compact('db.t', 4)      -- materialize merge-on-read, n files
  *   CALL graft.system.expire('db.t', 3)       -- keep last 3 versions, reclaim
  *   CALL graft.system.vacuum('db.t', 0)       -- sweep unreferenced files (grace ms)
  *   CALL graft.system.zorder('db.t', 4, 'a,b')-- z-order compact on columns
  * }}}
  *
  * Each returns one summary row (a [[LocalScan]]) so pipelines can
  * assert on the effect — e.g. compact returning the delete-free
  * version restores footer-aggregate pushdown and streaming reads after
  * a chain of delta mutations (the q365 path's maintenance half). */
private[v2] object GraftProcedures {

  def load(warehouse: String, ident: Identifier,
           catalogName: String = "graft"): UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"GraftCatalog: procedures live in the 'system' namespace, got $ident")
    def tableDir(t: String): String = {
      val dir = (warehouse +: t.split('.').toSeq).mkString("/")
      require(java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(dir, "_manifests")),
        s"GraftCatalog: no committed table at '$t' under $warehouse")
      dir
    }
    ident.name() match {
      case "compact" => proc("compact", "materialize merge-on-read state into n files",
        Seq(in("table", StringType), in("num_files", IntegerType)),
        StructType(Seq(StructField("version", LongType, nullable = false))),
        { args =>
          val tName = args.getUTF8String(0).toString
          val dir = tableDir(tName)
          val bucketFile = java.nio.file.Paths.get(dir, "_partition.bucket")
          val v =
            if (java.nio.file.Files.exists(bucketFile)) {
              // a bucket-partitioned table compacts PER BUCKET and
              // re-tags, so storage-partitioned joins survive compaction
              // (a plain compact would strip the tags and silently
              // degrade SPJ to shuffling)
              val ls = new String(java.nio.file.Files.readAllBytes(bucketFile),
                "UTF-8").split('\n').map(_.trim)
              compactBucketed(SparkSession.active, dir, ls(0), ls(1).toInt,
                tableSchema = Some(physicalSchemaOf(tName, dir)))
            } else ManifestTable.compact(SparkSession.active, dir, args.getInt(1),
              tableSchema = Some(physicalSchemaOf(tName, dir)))
          Seq(row(v.toLong))
        })
      case "expire" => proc("expire", "drop manifests older than keep, reclaim orphans",
        Seq(in("table", StringType), in("keep", IntegerType)),
        StructType(Seq(
          StructField("versions_removed", LongType, nullable = false),
          StructField("files_removed", LongType, nullable = false))),
        { args =>
          val (nv, nf) = ManifestTable.expire(
            tableDir(args.getUTF8String(0).toString), args.getInt(1))
          Seq(row(nv.toLong, nf.toLong))
        })
      case "vacuum" => proc("vacuum", "delete unreferenced files older than grace_ms",
        Seq(in("table", StringType), in("grace_ms", LongType)),
        StructType(Seq(
          StructField("files_removed", LongType, nullable = false),
          StructField("bytes_removed", LongType, nullable = false))),
        { args =>
          val (n, b) = ManifestTable.vacuum(
            tableDir(args.getUTF8String(0).toString), args.getLong(1))
          Seq(row(n.toLong, b))
        })
      case "zorder" => proc("zorder", "z-order compact on the given columns",
        Seq(in("table", StringType), in("num_files", IntegerType),
          in("columns", StringType)),
        StructType(Seq(StructField("version", LongType, nullable = false))),
        { args =>
          val cols = args.getUTF8String(2).toString.split(',').map(_.trim).toSeq
          require(cols.length == 2,
            "GraftCatalog: zorder takes exactly two columns, e.g. 'a,b'")
          // users name LOGICAL columns; the files carry physical names
          val zdir = tableDir(args.getUTF8String(0).toString)
          val rm = GraftSqlTable.renameMap(zdir)
          val v = ManifestTable.compactZOrder(SparkSession.active,
            zdir, args.getInt(1),
            rm.getOrElse(cols(0), cols(0)), rm.getOrElse(cols(1), cols(1)),
            tableSchema = Some(physicalSchemaOf(args.getUTF8String(0).toString, zdir)))
          Seq(row(v.toLong))
        })
      case "rewrite_deletes" => proc("rewrite_deletes",
        "merge the snapshot's position-delete files into one (no data IO)",
        Seq(in("table", StringType)),
        StructType(Seq(
          StructField("delete_files_before", LongType, nullable = false),
          StructField("delete_files_after", LongType, nullable = false))),
        { args =>
          val (before, after) = ManifestTable.rewriteDeletes(
            SparkSession.active, tableDir(args.getUTF8String(0).toString))
          Seq(row(before.toLong, after.toLong))
        })
      case "create_branch" => proc("create_branch",
        "fork a branch at the table's current version",
        Seq(in("table", StringType), in("name", StringType)),
        StructType(Seq(StructField("fork_version", LongType, nullable = false))),
        { args =>
          val v = ManifestTable.createBranch(
            tableDir(args.getUTF8String(0).toString),
            args.getUTF8String(1).toString)
          Seq(row(v.toLong))
        })
      case "fast_forward" => proc("fast_forward",
        "replay a branch's commits onto main (fails if main diverged)",
        Seq(in("table", StringType), in("name", StringType)),
        StructType(Seq(StructField("head_version", LongType, nullable = false))),
        { args =>
          val v = ManifestTable.fastForward(
            tableDir(args.getUTF8String(0).toString),
            args.getUTF8String(1).toString)
          Seq(row(v.toLong))
        })
      case "rollback" => proc("rollback",
        "restore an earlier version's state as a new head commit",
        Seq(in("table", StringType), in("to_version", IntegerType)),
        StructType(Seq(StructField("head_version", LongType, nullable = false))),
        { args =>
          val v = ManifestTable.rollback(
            tableDir(args.getUTF8String(0).toString), args.getInt(1))
          Seq(row(v.toLong))
        })
      case "drop_branch" => proc("drop_branch",
        "delete a branch, reclaiming files only it references",
        Seq(in("table", StringType), in("name", StringType)),
        StructType(Seq(StructField("files_reclaimed", LongType, nullable = false))),
        { args =>
          val n = ManifestTable.dropBranch(
            tableDir(args.getUTF8String(0).toString),
            args.getUTF8String(1).toString)
          Seq(row(n.toLong))
        })
      case "create_tag" => proc("create_tag",
        "pin the table's current version under a name (expire keeps it)",
        Seq(in("table", StringType), in("name", StringType)),
        StructType(Seq(StructField("tagged_version", LongType, nullable = false))),
        { args =>
          val v = ManifestTable.createTag(
            tableDir(args.getUTF8String(0).toString),
            args.getUTF8String(1).toString)
          Seq(row(v.toLong))
        })
      case "drop_tag" => proc("drop_tag",
        "drop a tag; the next expire may reclaim its version",
        Seq(in("table", StringType), in("name", StringType)),
        StructType(Seq(StructField("untagged_version", LongType, nullable = false))),
        { args =>
          val v = ManifestTable.dropTag(
            tableDir(args.getUTF8String(0).toString),
            args.getUTF8String(1).toString)
          Seq(row(v.toLong))
        })
      case "create_branch_tag" => proc("create_branch_tag",
        "pin the branch's current version under a name",
        Seq(in("table", StringType), in("branch", StringType),
          in("name", StringType)),
        StructType(Seq(StructField("tagged_version", LongType, nullable = false))),
        { args =>
          val v = ManifestTable.createBranchTag(
            tableDir(args.getUTF8String(0).toString),
            args.getUTF8String(1).toString,
            args.getUTF8String(2).toString)
          Seq(row(v.toLong))
        })
      case "drop_branch_tag" => proc("drop_branch_tag",
        "drop a branch tag",
        Seq(in("table", StringType), in("branch", StringType),
          in("name", StringType)),
        StructType(Seq(StructField("untagged_version", LongType, nullable = false))),
        { args =>
          val v = ManifestTable.dropBranchTag(
            tableDir(args.getUTF8String(0).toString),
            args.getUTF8String(1).toString,
            args.getUTF8String(2).toString)
          Seq(row(v.toLong))
        })
      case "add_partition_field" => proc("add_partition_field",
        "evolve the partition spec: new commits cluster by the added " +
          "transform, old files prune conservatively (no rewrite)",
        Seq(in("table", StringType), in("transform", StringType)),
        StructType(Seq(StructField("spec_size", LongType, nullable = false))),
        { args =>
          val dir = tableDir(args.getUTF8String(0).toString)
          val t = parseTransform(args.getUTF8String(1).toString)
          evolutionGuards(dir, t, adding = true)
          ManifestTable.addTransform(dir, t)
          Seq(row(ManifestTable.partitionTransforms(dir).size.toLong))
        })
      case "drop_partition_field" => proc("drop_partition_field",
        "remove a transform from the partition spec (future commits stop " +
          "clustering by it; existing files keep serving)",
        Seq(in("table", StringType), in("source_column", StringType)),
        StructType(Seq(StructField("spec_size", LongType, nullable = false))),
        { args =>
          val dir = tableDir(args.getUTF8String(0).toString)
          ManifestTable.dropTransform(dir, args.getUTF8String(1).toString)
          Seq(row(ManifestTable.partitionTransforms(dir).size.toLong))
        })
      case "binpack" => proc("binpack",
        "merge only sub-threshold files; large files carry verbatim",
        Seq(in("table", StringType), in("small_bytes", LongType)),
        StructType(Seq(StructField("version", LongType, nullable = false))),
        { args =>
          // the merge must read against the catalog's PHYSICAL schema so
          // ALTER-added DEFAULT columns fill per file, exactly like
          // compact/zorder — a raw mergeSchema merge would freeze NULL
          // into the rewritten rows (ADVICE r12 high)
          val tName = args.getUTF8String(0).toString
          val dir = tableDir(tName)
          val sch = Some(physicalSchemaOf(tName, dir))
          val bucketFile = java.nio.file.Paths.get(dir, "_partition.bucket")
          val v =
            if (java.nio.file.Files.exists(bucketFile)) {
              // bucket-partitioned tables bin-pack PER BUCKET and re-tag
              // every merged file, so storage-partitioned joins survive
              // (the library-level verb refuses the cross-bucket merge)
              val ls = new String(java.nio.file.Files.readAllBytes(bucketFile),
                "UTF-8").split('\n').map(_.trim)
              ManifestTable.compactSmallBucketed(SparkSession.active, dir,
                ls(0), ls(1).toInt, args.getLong(1), tableSchema = sch)
            } else ManifestTable.compactSmall(SparkSession.active,
              dir, args.getLong(1), tableSchema = sch)
          Seq(row(v.toLong))
        })
      case "cherry_pick" => proc("cherry_pick",
        "re-land one append branch commit on main's current head (zero copy)",
        Seq(in("table", StringType), in("branch", StringType),
          in("branch_version", IntegerType)),
        StructType(Seq(StructField("head_version", LongType, nullable = false))),
        { args =>
          val v = ManifestTable.cherryPick(
            tableDir(args.getUTF8String(0).toString),
            args.getUTF8String(1).toString, args.getInt(2))
          Seq(row(v.toLong))
        })
      case "clone" => proc("clone",
        "zero-copy clone of the table's current snapshot into a new table",
        Seq(in("table", StringType), in("target_table", StringType)),
        StructType(Seq(StructField("head_version", LongType, nullable = false))),
        { args =>
          val dstName = args.getUTF8String(1).toString
          val dst = (warehouse +: dstName.split('.').toSeq).mkString("/")
          val v = ManifestTable.cloneTable(SparkSession.active,
            tableDir(args.getUTF8String(0).toString), dst)
          Seq(row(v.toLong))
        })
      case "sync_clone" => proc("sync_clone",
        "catch a tracked clone up with its source via the change feed",
        Seq(in("table", StringType), in("key_col", StringType)),
        StructType(Seq(StructField("head_version", LongType, nullable = false))),
        { args =>
          val v = ManifestTable.syncCloneTracked(SparkSession.active,
            tableDir(args.getUTF8String(0).toString),
            args.getUTF8String(1).toString)
          Seq(row(v.toLong))
        })
      case "expire_before" => proc("expire_before",
        "age-based retention: expire versions published before cutoff_ms",
        Seq(in("table", StringType), in("cutoff_ms", LongType)),
        StructType(Seq(
          StructField("versions_removed", LongType, nullable = false),
          StructField("files_removed", LongType, nullable = false))),
        { args =>
          val (nv, nf) = ManifestTable.expireBefore(
            tableDir(args.getUTF8String(0).toString), args.getLong(1))
          Seq(row(nv.toLong, nf.toLong))
        })
      case "create_agg_mv" => proc("create_agg_mv",
        "register + materialize an incremental aggregate view over a table",
        Seq(in("name", StringType), in("table", StringType),
          in("group_cols", StringType), in("sum_cols", StringType)),
        StructType(Seq(StructField("def_sql", StringType, nullable = false))),
        { args =>
          val mvName = args.getUTF8String(0).toString
          val tName = args.getUTF8String(1).toString
          val dir = tableDir(tName)
          val defSql = GraftMaterializedViews.registerAgg(
            SparkSession.active, mvName,
            s"$catalogName.$tName", dir,
            args.getUTF8String(2).toString.split(',').map(_.trim).toSeq,
            args.getUTF8String(3).toString.split(',').map(_.trim).toSeq
              .filter(_.nonEmpty),
            s"$dir/_mv_$mvName",
            // catalog-created views are always DURABLE: a restarted
            // session over this warehouse re-arms them from `_mv/`
            persistDir = Some(s"$warehouse/_mv"))
          Seq(row(org.apache.spark.unsafe.types.UTF8String.fromString(defSql)))
        })
      case "create_filtered_mv" => proc("create_filtered_mv",
        "register + materialize an incremental aggregate view over a " +
          "predicate-scoped slice of a table (the hot-window dashboard MV)",
        Seq(in("name", StringType), in("table", StringType),
          in("group_cols", StringType), in("sum_cols", StringType),
          in("where", StringType)),
        StructType(Seq(StructField("def_sql", StringType, nullable = false))),
        { args =>
          val mvName = args.getUTF8String(0).toString
          val tName = args.getUTF8String(1).toString
          val dir = tableDir(tName)
          val defSql = GraftMaterializedViews.registerAgg(
            SparkSession.active, mvName, s"$catalogName.$tName", dir,
            args.getUTF8String(2).toString.split(',').map(_.trim).toSeq,
            args.getUTF8String(3).toString.split(',').map(_.trim).toSeq
              .filter(_.nonEmpty),
            s"$dir/_mv_$mvName", persistDir = Some(s"$warehouse/_mv"),
            where = Some(args.getUTF8String(4).toString))
          Seq(row(org.apache.spark.unsafe.types.UTF8String.fromString(defSql)))
        })
      case "create_minmax_mv" => proc("create_minmax_mv",
        "register + materialize an aggregate view with min/max columns",
        Seq(in("name", StringType), in("table", StringType),
          in("group_cols", StringType), in("sum_cols", StringType),
          in("min_cols", StringType), in("max_cols", StringType)),
        StructType(Seq(StructField("def_sql", StringType, nullable = false))),
        { args =>
          def cols(i: Int): Seq[String] = args.getUTF8String(i).toString
            .split(',').map(_.trim).toSeq.filter(_.nonEmpty)
          val mvName = args.getUTF8String(0).toString
          val tName = args.getUTF8String(1).toString
          val dir = tableDir(tName)
          val defSql = GraftMaterializedViews.registerAgg(
            SparkSession.active, mvName, s"$catalogName.$tName", dir,
            cols(2), cols(3), s"$dir/_mv_$mvName",
            persistDir = Some(s"$warehouse/_mv"),
            minCols = cols(4), maxCols = cols(5))
          Seq(row(org.apache.spark.unsafe.types.UTF8String.fromString(defSql)))
        })
      case "create_join_mv" => proc("create_join_mv",
        "register + materialize an incremental star (fact JOIN dim) view",
        Seq(in("name", StringType), in("fact_table", StringType),
          in("dim_table", StringType), in("join_key", StringType),
          in("group_cols", StringType), in("sum_cols", StringType)),
        StructType(Seq(StructField("def_sql", StringType, nullable = false))),
        { args =>
          def cols(i: Int): Seq[String] = args.getUTF8String(i).toString
            .split(',').map(_.trim).toSeq.filter(_.nonEmpty)
          val mvName = args.getUTF8String(0).toString
          val fact = args.getUTF8String(1).toString
          val dim = args.getUTF8String(2).toString
          val fDir = tableDir(fact)
          val defSql = GraftMaterializedViews.registerJoinAgg(
            SparkSession.active, mvName,
            s"$catalogName.$fact", fDir,
            s"$catalogName.$dim", tableDir(dim),
            args.getUTF8String(3).toString, cols(4), cols(5),
            s"$fDir/_mv_$mvName", persistDir = Some(s"$warehouse/_mv"))
          Seq(row(org.apache.spark.unsafe.types.UTF8String.fromString(defSql)))
        })
      case "create_distinct_mv" => proc("create_distinct_mv",
        "register + materialize an aggregate view with HLL distinct partials",
        Seq(in("name", StringType), in("table", StringType),
          in("group_cols", StringType), in("sum_cols", StringType),
          in("distinct_cols", StringType)),
        StructType(Seq(StructField("def_sql", StringType, nullable = false))),
        { args =>
          def cols(i: Int): Seq[String] = args.getUTF8String(i).toString
            .split(',').map(_.trim).toSeq.filter(_.nonEmpty)
          val mvName = args.getUTF8String(0).toString
          val tName = args.getUTF8String(1).toString
          val dir = tableDir(tName)
          val defSql = GraftMaterializedViews.registerAgg(
            SparkSession.active, mvName, s"$catalogName.$tName", dir,
            cols(2), cols(3), s"$dir/_mv_$mvName",
            persistDir = Some(s"$warehouse/_mv"), distinctCols = cols(4))
          Seq(row(org.apache.spark.unsafe.types.UTF8String.fromString(defSql)))
        })
      case "create_snowflake_mv" => proc("create_snowflake_mv",
        "register + materialize a k-table snowflake (chain-join) view",
        Seq(in("name", StringType), in("tables", StringType),
          in("join_keys", StringType), in("group_cols", StringType),
          in("sum_cols", StringType)),
        StructType(Seq(StructField("def_sql", StringType, nullable = false))),
        { args =>
          def cols(i: Int): Seq[String] = args.getUTF8String(i).toString
            .split(',').map(_.trim).toSeq.filter(_.nonEmpty)
          val mvName = args.getUTF8String(0).toString
          val tables = cols(1)
          val firstDir = tableDir(tables.head)
          val defSql = GraftMaterializedViews.registerSnowflakeAgg(
            SparkSession.active, mvName,
            tables.map(t => s"$catalogName.$t" -> tableDir(t)),
            cols(2), cols(3), cols(4),
            s"$firstDir/_mv_$mvName", persistDir = Some(s"$warehouse/_mv"))
          Seq(row(org.apache.spark.unsafe.types.UTF8String.fromString(defSql)))
        })
      case "uniques" => proc("uniques",
        "distinct-count dashboard over a distinct-MV's sketch table at " +
          "any calendar grain — the q426 idiom as one CALL",
        Seq(in("name", StringType), in("grain", StringType)),
        StructType(Seq(
          StructField("bucket", StringType, nullable = true),
          StructField("groups", StringType, nullable = true),
          StructField("column", StringType, nullable = false),
          StructField("uniques", LongType, nullable = false))),
        { args =>
          // re-grain the view's FIRST group column (the date grain of a
          // (day, type, …) sketch view): 'DAY' passes it through, 'WEEK'
          // / 'MM' / 'QUARTER' / 'YEAR' truncate, 'GLOBAL' collapses it.
          // The maintained sketch TABLE is the serving surface — HLL
          // union is register-lossless and order-independent, so the
          // estimate at any grain is a well-defined number (unlike the
          // withdrawn estimate-serving rewrite, which depended on merge
          // structure relative to a direct query). Serves the LAST
          // MAINTAINED state; freshness is the maintainer's contract
          // (list_mvs reports it), not this read's.
          import org.apache.spark.sql.functions._
          val spark = SparkSession.active
          val mvName = args.getUTF8String(0).toString
          val grain = args.getUTF8String(1).toString.trim.toUpperCase
          val v = GraftMaterializedViews.lookup(mvName).getOrElse(
            throw new IllegalArgumentException(
              s"uniques: no registered view '$mvName'"))
          val sh = v.aggShape.filter(_.distinctCols.nonEmpty).getOrElse(
            throw new IllegalArgumentException(
              s"uniques: view '$mvName' stores no distinct (hll) " +
                "partials — register it with distinct_cols"))
          val mv = GraftMaterializedViews.suppressRewrite(
            ManifestTable.read(spark, v.mvDir))
          val first = sh.groupCols.head
          val bucket = grain match {
            case "GLOBAL"      => lit(null).cast("string")
            case "DAY" | ""    => col(first).cast("string")
            case g             => trunc(col(first), g).cast("string")
          }
          val rest = sh.groupCols.tail
          val grp =
            if (rest.isEmpty) lit(null).cast("string")
            else concat_ws("|", rest.map(c => col(c).cast("string")): _*)
          val out = sh.distinctCols.map { c =>
            mv.groupBy(bucket.as("bucket"), grp.as("groups"))
              .agg(hll_sketch_estimate(hll_union_agg(col(s"hll_$c")))
                .as("uniques"))
              .select(col("bucket"), col("groups"),
                lit(c).as("column"), col("uniques"))
          }.reduce(_ unionByName _)
          out.collect().toSeq.map(r => row(
            if (r.isNullAt(0)) null
            else org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)),
            if (r.isNullAt(1)) null
            else org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(1)),
            org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(2)),
            r.getLong(3)))
        })
      case "refresh_mv" => proc("refresh_mv",
        "full re-materialization of a registered view",
        Seq(in("name", StringType)),
        StructType(Seq(StructField("refreshed", LongType, nullable = false))),
        { args =>
          GraftMaterializedViews.refresh(SparkSession.active,
            args.getUTF8String(0).toString)
          Seq(row(1L))
        })
      case "refresh_mv_incremental" => proc("refresh_mv_incremental",
        "fold the base's change feed into a registerAgg view's groups",
        Seq(in("name", StringType)),
        StructType(Seq(StructField("refreshed", LongType, nullable = false))),
        { args =>
          GraftMaterializedViews.refreshIncremental(SparkSession.active,
            args.getUTF8String(0).toString)
          Seq(row(1L))
        })
      case "list_mvs" => proc("list_mvs",
        "registered materialized views: freshness, shape, hits",
        Seq(),
        StructType(Seq(
          StructField("name", StringType, nullable = false),
          StructField("fresh", BooleanType, nullable = false),
          StructField("shape", StringType, nullable = false),
          StructField("hits", LongType, nullable = false),
          StructField("mv_dir", StringType, nullable = false))),
        { _ =>
          GraftMaterializedViews.describeAll().map { d =>
            row(org.apache.spark.unsafe.types.UTF8String.fromString(d._1),
              d._2,
              org.apache.spark.unsafe.types.UTF8String.fromString(d._3),
              d._4,
              org.apache.spark.unsafe.types.UTF8String.fromString(d._5))
          }
        })
      case "drop_mv" => proc("drop_mv", "unregister a materialized view",
        Seq(in("name", StringType)),
        StructType(Seq(StructField("dropped", LongType, nullable = false))),
        { args =>
          GraftMaterializedViews.drop(args.getUTF8String(0).toString)
          Seq(row(1L))
        })
      case other => throw new UnsupportedOperationException(
        s"GraftCatalog: unknown procedure 'system.$other' — have " +
          "compact, binpack, rewrite_deletes, expire, expire_before, " +
          "vacuum, zorder, create_branch, fast_forward, cherry_pick, " +
          "drop_branch, rollback, clone, sync_clone, create_tag, drop_tag, " +
          "create_branch_tag, drop_branch_tag, add_partition_field, " +
          "drop_partition_field, create_agg_mv, create_filtered_mv, " +
          "create_minmax_mv, " +
          "create_join_mv, create_snowflake_mv, create_distinct_mv, " +
          "refresh_mv, " +
          "refresh_mv_incremental, " +
          "uniques, list_mvs, drop_mv")
    }
  }

  val names: Array[Identifier] =
    Array("compact", "binpack", "rewrite_deletes", "expire", "expire_before",
      "vacuum", "zorder", "create_branch", "fast_forward", "cherry_pick",
      "drop_branch", "rollback", "clone", "sync_clone",
      "create_tag", "drop_tag", "create_branch_tag", "drop_branch_tag",
      "add_partition_field", "drop_partition_field",
      "create_agg_mv", "create_filtered_mv", "create_minmax_mv",
      "create_join_mv", "create_snowflake_mv", "create_distinct_mv",
      "refresh_mv", "refresh_mv_incremental", "uniques", "list_mvs",
      "drop_mv")
      .map(Identifier.of(Array("system"), _))

  /** `days(col)` / `md5bucket(n, col)` — the same transform grammar
    * CREATE TABLE ... PARTITIONED BY accepts. */
  private def parseTransform(text: String): ManifestTable.Transform = {
    val DaysRe = raw"days\s*\(\s*([A-Za-z0-9_]+)\s*\)".r
    val BucketRe = raw"md5bucket\s*\(\s*(\d+)\s*,\s*([A-Za-z0-9_]+)\s*\)".r
    text.trim match {
      case DaysRe(src)      => ManifestTable.DaysTransform(src)
      case BucketRe(n, src) => ManifestTable.BucketTransform(n.toInt, src)
      case other => throw new IllegalArgumentException(
        s"GraftCatalog: unreadable transform '$other' — expected " +
          "days(col) or md5bucket(n, col)")
    }
  }

  /** Partition evolution keeps the load-bearing-name invariant: the
    * source must exist under its PHYSICAL==logical name (renamed
    * columns refuse), and a table whose layout is already owned by an
    * SPJ bucket or a declared write.order refuses an ADD (two cluster
    * owners would silently fight over every write's distribution). */
  private def evolutionGuards(dir: String, t: ManifestTable.Transform,
                              adding: Boolean): Unit = {
    val source = t.source
    val schema = new GraftSqlTable(dir, dir, -1).schema()
    require(schema.fieldNames.contains(source),
      s"GraftCatalog: partition-transform source '$source' is not in the schema")
    require(!GraftSqlTable.renameMap(dir).contains(source),
      s"GraftCatalog: '$source' is renamed (stored under a different " +
        "physical name) — rename it back before making it load-bearing")
    if (adding) {
      require(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "_partition.bucket")),
        "GraftCatalog: the table is bucket-partitioned (SPJ) — its layout " +
          "belongs to the bucket spec")
      require(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "_write.order")),
        "GraftCatalog: the table declares write.order — UNSET it before " +
          "adding a partition transform (one clustering owner per table)")
      t match {
        case _: ManifestTable.DaysTransform =>
          schema.fields.find(_.name == source).map(_.dataType).foreach {
            case _: TimestampType | _: TimestampNTZType | _: DateType => ()
            case other => throw new IllegalArgumentException(
              s"GraftCatalog: days('$source') needs a timestamp/date " +
                s"source, got $other")
          }
        case _ => ()
      }
    }
  }

  /** The catalog's PHYSICAL view of the table: reported schema (with
    * per-field metadata — DEFAULTs live there) translated to storage
    * names. Maintenance rewrites must read against THIS, never the raw
    * files: an ALTER-added DEFAULT column is missing from pre-ALTER
    * files and a mergeSchema read materializes NULL where every catalog
    * reader sees the EXISTS_DEFAULT — a compact would then lose the
    * default forever (same class as the overwriteWhere r10 fix). */
  private def physicalSchemaOf(tableName: String, dir: String): StructType = {
    val t = new GraftSqlTable(tableName, dir, -1)
    t.physSchema(t.schema())
  }

  /** Bucket-preserving compaction: the merged snapshot rewrites as ONE
    * file per bucket (the bucket function routes rows exactly as the
    * clustered write did), published as an overwrite commit with every
    * file re-tagged — merge-on-read state materializes AND the
    * key-grouped scan keeps reporting its partitioning. */
  private def compactBucketed(spark: SparkSession, dir: String,
                              col: String, n: Int,
                              tableSchema: Option[StructType]): Int = {
    val snap = ManifestTable.read(spark, dir, tableSchema = tableSchema)
    val (v, dataDir) = ManifestTable.nextCommit(dir, ManifestTable.Ref.Main)
    ManifestTable.publish(dir, ManifestTable.Ref.Main, v, ManifestTable.CommitPlan(
      ManifestTable.Base.Empty,
      added = ManifestTable.stageBuckets(snap, col, n, dataDir, s"$dataDir/staged", "b")))
  }

  private def in(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()

  private def row(vs: Any*): InternalRow =
    new GenericInternalRow(vs.toArray)

  private def proc(pname: String, desc: String,
                   params: Seq[ProcedureParameter], outSchema: StructType,
                   body: InternalRow => Seq[InternalRow]): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = pname
      override def description(): String = desc
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = pname
        override def description(): String = desc
        override def parameters(): Array[ProcedureParameter] = params.toArray
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val out = body(input).toArray
          util.List.of[Scan](new LocalScan {
            override def rows(): Array[InternalRow] = out
            override def readSchema(): StructType = outSchema
            override def description(): String = s"graft.system.$pname result"
          }).iterator()
        }
      }
    }
}
