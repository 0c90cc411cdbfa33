package graft.sources.v2

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, StagedTable, SupportsWrite, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.types.StructType

import graft.sources.ManifestTable

/** The staged table behind [[GraftCatalog]]'s atomic CTAS / RTAS
  * (`StagingTableCatalog`). The whole trick is that a manifest table is
  * location-relocatable metadata: the CTAS query writes into an invisible
  * stage directory under `<warehouse>/.staging/<nonce>/` — a COMPLETE
  * table, including its committed `v1` manifest with footer stats and
  * bucket tags — and visibility is then a single arbiter:
  *
  *  - '''create''' — rewrite the stage manifest's absolute paths to the
  *    final location (nobody can read the stage, so the torn state never
  *    exists) and `rename(2)` the directory into place. The rename is the
  *    same EEXIST-arbitered single syscall the manifest CAS builds on: of
  *    any number of concurrent `CREATE TABLE AS SELECT t`, exactly one
  *    wins and the losers abort with their bytes unreferenced.
  *  - '''replace''' — move the staged data directory under the EXISTING
  *    table, rewrite the staged lines' path prefix, and claim the next
  *    version with the snapshot (the ordinary manifest CAS, blind-retried:
  *    a replacement depends on no prior state, so losing a race just means
  *    claiming the next slot). The pre-replace history stays on the chain
  *    — `VERSION AS OF` serves every old snapshot — and the staged layout
  *    declarations (schema, write.order, write.key, bucket/transform
  *    specs) swap in after the commit point.
  *
  * Failure atomicity is the 100 TB argument: Spark's non-staging fallback
  * for CTAS is create-then-write-then-drop and for RTAS drop-then-create
  * — a crash mid-write leaves a visible half-table, or no table at all
  * where one existed. Here the query can run for hours and die at 99%:
  * readers never saw anything, and `abortStagedChanges` (or the stale-
  * stage sweep, for a crashed driver) reclaims the orphan bytes. */
class GraftStagedTable(ident: Identifier, stageDir: String, finalDir: String,
                       allowCreate: Boolean, allowReplace: Boolean)
    extends StagedTable with SupportsWrite {

  // the stage IS a table — writes (ordered, bucketed, transformed,
  // file-size-rolled: every declared layout) run against it unchanged
  private val inner = new GraftSqlTable(ident.toString, stageDir, -1)
  private[v2] def stageDirPath: String = stageDir

  override def name(): String = ident.toString
  override def schema(): StructType = inner.schema()
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def properties(): java.util.Map[String, String] = inner.properties()
  override def capabilities(): java.util.Set[TableCapability] = inner.capabilities()
  // the staged write enforces the staged CHECKs (Spark injects them from
  // this report), so a CTAS can never materialize a violating snapshot
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    inner.constraints()
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    inner.newWriteBuilder(info)

  private def tableExistsAt(dir: String): Boolean =
    Files.isDirectory(Paths.get(dir, "_manifests")) ||
      Files.exists(Paths.get(dir, "_schema.ddl"))

  override def commitStagedChanges(): Unit = {
    // create-vs-replace resolves at COMMIT time (stageCreateOrReplace may
    // race a concurrent create; the arbiters below settle it either way)
    if (tableExistsAt(finalDir)) {
      if (!allowReplace) { abortStagedChanges()
        throw new TableAlreadyExistsException(ident) }
      commitReplace()
    } else {
      if (!allowCreate) { abortStagedChanges()
        throw new NoSuchTableException(ident) }
      commitCreate()
    }
  }

  private def stageAbs = Paths.get(stageDir).toAbsolutePath.normalize.toString
  private def finalAbs = Paths.get(finalDir).toAbsolutePath.normalize.toString

  private def commitCreate(): Unit = {
    // make the stage self-consistent at its FINAL address first — the
    // stage is unreadable, so the dangling-path state is unobservable
    val md = Paths.get(stageDir, "_manifests")
    if (Files.isDirectory(md)) {
      Option(md.toFile.listFiles()).toSeq.flatten
        .filter(f => f.isFile && f.getName.matches("v\\d+\\.list"))
        .foreach { f =>
          val lines = Files.readAllLines(f.toPath).asScala
            .map(_.replace(stageAbs, finalAbs))
          Files.write(f.toPath, lines.asJava): Unit
        }
    }
    Option(Paths.get(finalDir).getParent)
      .foreach(p => Files.createDirectories(p): Unit)
    try Files.move(Paths.get(stageDir), Paths.get(finalDir),
      StandardCopyOption.ATOMIC_MOVE): Unit
    catch {
      case e @ (_: java.nio.file.FileAlreadyExistsException |
                _: java.nio.file.DirectoryNotEmptyException) =>
        abortStagedChanges()
        throw new TableAlreadyExistsException(ident).initCause(e)
    }
    cleanupNonceDir()
  }

  private def commitReplace(): Unit = {
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val v1 = Paths.get(stageDir, "_manifests", "v1.list")
    // plain `REPLACE TABLE t` (no AS SELECT) stages no write at all —
    // the replacement snapshot is legitimately empty
    val lines: Seq[String] =
      if (!Files.exists(v1)) Seq.empty
      else {
        val dataSrc = Paths.get(stageDir, "data")
        val dataDst = Paths.get(finalDir, "data", s"rtas-$nonce")
        val moved =
          if (Files.isDirectory(dataSrc)) {
            Files.createDirectories(dataDst.getParent)
            Files.move(dataSrc, dataDst)
            true
          } else false
        val dstAbs = dataDst.toAbsolutePath.normalize.toString
        Files.readAllLines(v1).asScala.toSeq
          .map(l => if (moved) l.replace(s"$stageAbs/data", dstAbs) else l)
      }
    var published = false
    while (!published) {
      val v = ManifestTable.currentVersion(finalDir) + 1
      try {
        ManifestTable.publish(finalDir, ManifestTable.Ref.Main, v,
          ManifestTable.CommitPlan(ManifestTable.Base.Lines(lines.sorted)))
        published = true
      }
      catch { case _: ManifestTable.CommitConflictException => () }
    }
    // the staged layout declarations replace the old table's — written
    // after the commit point, so a losing CAS never clobbers them; the
    // crash window between commit and swap is the same mtime-fallback
    // class as the v<N>.ts sidecar (readers see new data through the old
    // declarations until the swap lands — conservative, never wrong:
    // untagged/unstatted files only DISABLE pruning and SPJ, both of
    // which degrade gracefully)
    // `_schema.drop` / `_schema.names` carry (or CLEAR — the usual case:
    // a fresh stage has neither) the tombstone and rename sidecars: an
    // RTAS must not leave the OLD table's dropped-name tombstones or
    // rename map active against the staged schema — a stale tombstone
    // would silently hide a legitimately re-declared column of the new
    // table, and a stale rename map would mistranslate its scans
    Seq("_schema.ddl", "_schema.json", "_schema.drop", "_schema.names",
        "_partition.bucket", "_write.order",
        "_write.size", "_write.key", "_constraints").foreach { n =>
      val s = Paths.get(stageDir, n)
      val d = Paths.get(finalDir, n)
      if (Files.exists(s)) Files.move(s, d, StandardCopyOption.REPLACE_EXISTING): Unit
      else Files.deleteIfExists(d): Unit
    }
    val sp = Paths.get(stageDir, "_manifests", "ptn")
    val dp = Paths.get(finalDir, "_manifests", "ptn")
    if (Files.exists(sp)) Files.move(sp, dp, StandardCopyOption.REPLACE_EXISTING): Unit
    else Files.deleteIfExists(dp): Unit
    abortStagedChanges()
  }

  override def abortStagedChanges(): Unit = {
    ManifestTable.rmTree(new java.io.File(stageDir))
    cleanupNonceDir()
  }

  private def cleanupNonceDir(): Unit =
    Paths.get(stageDir).getParent.toFile.delete(): Unit
}

object GraftStagedTable {
  /** Reclaim crash-orphaned stage directories. A live stage is updated by
    * exactly one writer, so a nonce dir whose tree has been quiet for the
    * grace window belongs to a dead driver. 7-day grace: generous against
    * the longest plausible CTAS, and orphans cost only disk. */
  def sweepStale(root: String, graceMs: Long = 7L * 24 * 3600 * 1000): Unit = {
    val p = Paths.get(root)
    if (!Files.isDirectory(p)) return
    val cutoff = System.currentTimeMillis() - graceMs
    def newestMtime(f: java.io.File): Long =
      (f.lastModified() +: Option(f.listFiles()).toSeq.flatten.map(newestMtime)).max
    Option(p.toFile.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && newestMtime(f) < cutoff)
      .foreach(ManifestTable.rmTree)
  }
}
